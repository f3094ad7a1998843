package graft.pipebench

import java.nio.file.{Files, Path}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.analytics.AnalyticsRunner
import graft.ingest.{Backfill, Incremental, Parse}
import graft.model.Schemas
import graft.operators.MergeTable
import graft.streaming.StreamAnalytics

/** One measured operation. `steps` are the durations (ms) of its unit
  * steps: backfill calls or analytics refreshes. */
final case class OpResult(wallS: Double, blocks: Long, events: Long,
    steps: Seq[Double], attempted: Long)

/** Sink shape after an operation. */
final case class Shape(bytesPerEvent: Double, files: Long)

/** A drop directory of micro-batch files, one JSON line per raw block
  * row, plus the slots each file delivers and the bytes of all files. */
final case class DropDir(dir: Path, files: Seq[Seq[Long]], bytes: Long)

/** A named layer metric: (name, value, unit). */
final case class Metric(name: String, value: Double, unit: String)

abstract class Workload(val ctx: Ctx) {
  protected def spark: SparkSession = ctx.spark
  def name: String
  def params: String
  /** Operations a measured run makes at least, whatever `--seconds` is. */
  def minOps: Int = 2
  /** Staging, history and warm-up: run once per process. */
  def setupOnce(): Unit
  /** Fresh roots and checkpoints for the next operation. */
  def restore(): Unit
  def op(tr: Option[Tracer]): OpResult
  /** Correctness checks of the last operation's outputs: (name, ok). */
  def verify(): Seq[(String, Boolean)]
  def shape(): Shape
  /** Removes the last operation's outputs. */
  def discard(): Unit
  /** Traced-run measurements of single calls into the layers. */
  def probes(tr: Tracer): (Seq[Metric], Seq[(String, Boolean)]) = (Nil, Nil)
  /** Layer metrics of the traced operations (their root spans). */
  def layer(tr: Tracer, ops: Seq[Span]): Seq[Metric]

  protected def timed[T](body: => T): (T, Double) = {
    val t = System.nanoTime(); val r = body; (r, (System.nanoTime() - t) / 1e9)
  }
  protected def maybeSpan[T](tr: Option[Tracer], n: String, stream: Boolean = false)(body: => T): T =
    tr.fold(body)(_.span(n, stream)(body))
  protected def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Generated blocks by slot: JSON and bookkeeping. */
  protected val blocks = scala.collection.mutable.HashMap.empty[Long, (String, BlockStats)]
  protected lazy val store = s"$name-${ctx.seed}"

  /** Generate a slot range into `blocks` and the fetch store; returns the
    * slots that have a block. */
  protected def stage(gen: BlockGen, lo: Long, hi: Long): Seq[Long] =
    (lo until hi).flatMap(s => gen.block(s).map { b =>
      blocks(s) = b; BlockStore.put(store, s, b._1); s })

  /** Sink row count and distinct event ids in one pass. */
  protected def countAndDistinct(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), countDistinct(col("event_id"))).head()
    (r.getLong(0), r.getLong(1))
  }

  protected def eventCounts(df: DataFrame): Map[String, Long] =
    df.groupBy(col("event_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  protected def sinkChecks(df: DataFrame, expect: Totals): Seq[(String, Boolean)] = {
    val (n, d) = countAndDistinct(df)
    Seq("sink_rows" -> (n == expect.events), "no_duplicate_event_id" -> (n == d))
  }

  protected def writeDropDir(dir: Path, files: Seq[Seq[Long]]): DropDir = {
    Files.createDirectories(dir)
    var bytes = 0L
    val t0 = System.currentTimeMillis() - 1000000L
    files.zipWithIndex.foreach { case (slots, i) =>
      val sb = new StringBuilder
      slots.foreach { s =>
        sb.append("{\"slot\":").append(s).append(",\"block_json\":\"")
          .append(blocks(s)._1.replace("\\", "\\\\").replace("\"", "\\\"")).append("\"}\n")
      }
      val f = dir.resolve(f"batch-$i%04d.json")
      Files.write(f, sb.toString.getBytes(UTF_8))
      f.toFile.setLastModified(t0 + i * 1000L) // the file source reads oldest first
      bytes += Files.size(f)
    }
    DropDir(dir, files, bytes)
  }

  /** Files of `batch` new consecutive blocks each, every file followed by
    * `redeliver` blocks drawn from `earlier` and from the previous files:
    * a source that replays blocks the sink already holds. */
  protected def plan(newSlots: Seq[Long], batch: Int, redeliver: Int,
      earlier: Seq[Long], salt: Long): (Seq[Seq[Long]], Seq[Long]) = {
    val r = new java.util.SplittableRandom(BlockGen.mix(ctx.seed ^ salt))
    var seen = earlier.toVector
    val redelivered = Seq.newBuilder[Long]
    val files = newSlots.grouped(batch).map { fresh =>
      val again = if (seen.isEmpty) Nil else Seq.fill(redeliver)(seen(r.nextInt(seen.size)))
      redelivered ++= again
      seen = seen ++ fresh
      fresh ++ again
    }.toSeq
    (files, redelivered.result())
  }

  /** A drop directory read as a stream, one file per trigger. */
  protected def rawStream(dir: Path): DataFrame = Workloads.rawStream(spark, dir)

  protected def drain(q: StreamingQuery): StreamingQuery = Workloads.drain(q)

  protected def sparkMetrics(layer: String, tr: Tracer, spans: Seq[Span], perOp: Int): Seq[Metric] = {
    val c = spans.map(tr.counters).foldLeft(SparkCounters.Zero)(_ + _)
    val n = math.max(1, perOp).toDouble
    c.fields.map { case (k, v, u) =>
      Metric(s"$layer.spark.$k", if (k == "task_skew") v else v / n, u)
    }
  }

  protected def childrenOf(tr: Tracer, ops: Seq[Span], n: String): Seq[Span] = {
    val ids = ops.map(_.id).toSet
    tr.named(n).filter(s => ids(s.parent))
  }
}

object Workloads {
  val Names: Seq[String] = Seq("backfill", "analytics")

  /** Fat blocks: per-event parse and write work dominates. */
  val Fat = GenParams(txPerBlock = 48, insPerTx = 3.0, balPerTx = 1.5, zipfS = 1.1,
    nPrograms = 400, nWallets = 20000, nMints = 2000, failShare = 0.08,
    pubkeyShare = 0.5, missingShare = 0.03, secondsPerSlot = 9000)
  /** Thin blocks: per-trigger fixed costs dominate. */
  val Thin = GenParams(txPerBlock = 5, insPerTx = 2.0, balPerTx = 1.0, zipfS = 1.2,
    nPrograms = 200, nWallets = 5000, nMints = 500, failShare = 0.15,
    pubkeyShare = 0.3, missingShare = 0.05, secondsPerSlot = 3600)
  /** The analytics fact's history: one block per 8 h, so 96 slots span
    * 32 days and the 30-day window is a proper subset. */
  val History = GenParams(txPerBlock = 40, insPerTx = 2.5, balPerTx = 1.2, zipfS = 1.1,
    nPrograms = 300, nWallets = 10000, nMints = 1000, failShare = 0.1,
    pubkeyShare = 0.5, missingShare = 0.03, secondsPerSlot = 28800)

  def rawStream(spark: SparkSession, dir: Path): DataFrame =
    spark.readStream.schema(Schemas.rawBlockSchema)
      .option("maxFilesPerTrigger", 1).json(dir.toAbsolutePath.toString)

  /** Waits for an AvailableNow query to drain; rethrows its failure. */
  def drain(q: StreamingQuery): StreamingQuery = {
    q.awaitTermination()
    q.exception.foreach(e => throw e)
    q
  }

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "backfill" => new BackfillWorkload(ctx)
    case "analytics" => new AnalyticsWorkload(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${Names.mkString(", ")})")
  }
}

/** Bulk load of fat blocks into an empty parquet FileSink, then a re-run
  * over a half-overlapping range, as a resumed crashed run does. */
final class BackfillWorkload(c: Ctx) extends Workload(c) {
  val name = "backfill"
  // an operation takes about 3 s; five of them average the host's
  // speed over a longer stretch than --seconds 10 alone would
  override val minOps = 5
  private val gen = new BlockGen(ctx.seed, Workloads.Fat)
  private val N = 64L
  private val (lo, warmLo) = (10000L, 1000000L)
  private var sink: Path = _
  def params = s"${Workloads.Fat.describe}; range=$N slots, replay=[+${N / 2}, +${N + N / 2})"

  private def expect(a: Long, b: Long) =
    Totals.of(blocks.values.map(_._2).filter(s => s.slot >= a && s.slot < b))

  def setupOnce(): Unit = {
    stage(gen, lo, lo + N + N / 2); stage(gen, warmLo, warmLo + N + N / 2)
    ctx.note("staging")
    // two passes over a disjoint range: the second runs compiled code
    for (_ <- 1 to 2) {
      val warm = ctx.fresh("warm")
      runBoth(ctx.path(warm), warmLo, None)
      Fs.rm(warm)
    }
    ctx.note("warm-up")
  }

  def restore(): Unit = sink = ctx.fresh("sink")

  private def runBoth(path: String, from: Long, tr: Option[Tracer]): Seq[Double] = {
    val fs = Backfill.FileSink(path)
    val f = BlockStore.fetcher(store)
    val (_, a) = timed(maybeSpan(tr, "ingest.backfill")(
      Backfill.runTo(spark, from, from + N, ctx.nproc, fs, f)))
    val (_, b) = timed(maybeSpan(tr, "ingest.replay")(
      Backfill.runTo(spark, from + N / 2, from + N + N / 2, ctx.nproc, fs, f)))
    Seq(a * 1e3, b * 1e3)
  }

  def op(tr: Option[Tracer]): OpResult = {
    val (steps, wall) = timed(maybeSpan(tr, "backfill.op")(runBoth(ctx.path(sink), lo, tr)))
    val (first, replay) = (expect(lo, lo + N), expect(lo + N / 2, lo + N + N / 2))
    OpResult(wall, first.blocks + replay.blocks, first.events + replay.events, steps, 2)
  }

  def verify(): Seq[(String, Boolean)] = {
    val df = spark.read.parquet(ctx.path(sink))
    val want = expect(lo, lo + N + N / 2)
    sinkChecks(df, want) :+ ("events_per_type" -> (eventCounts(df) == want.byType.filter(_._2 > 0)))
  }

  def shape(): Shape = {
    val (files, bytes) = Fs.parquet(sink)
    Shape(bytes.toDouble / expect(lo, lo + N + N / 2).events, files)
  }

  def discard(): Unit = Fs.rm(sink)

  override def probes(tr: Tracer): (Seq[Metric], Seq[(String, Boolean)]) = {
    val f = BlockStore.fetcher(store)
    val (hi, w) = (lo + N, ctx.nproc)
    val raw = Backfill.fetchRange(spark, lo, hi, w, f).persist()
    raw.count()
    val events = Parse.parse(raw).withColumn("block_date", to_date(col("block_time"))).persist()
    events.count()
    // three rounds, medians: a single call is too short to time alone
    for (_ <- 1 to 3) {
      tr.span("ingest.fetch")(noop(Backfill.fetchRange(spark, lo, hi, w, f)))
      tr.span("ingest.parse")(noop(Parse.parse(raw, dedup = false)))
      tr.span("ingest.parse_dedup")(noop(Parse.parse(raw)))
      val out = ctx.fresh("append")
      tr.span("ingest.append")(Backfill.FileSink(ctx.path(out)).append(events))
      Fs.rm(out)
    }
    events.unpersist(); raw.unpersist()
    def med(n: String) = Stats.median(tr.named(n).map(_.durS))
    val parse = med("ingest.parse")
    // rows each traced call committed, as the writes reported them, against
    // the bookkeeping: the first call appends its whole range, the replay
    // only the events past the first range
    def wrote(n: String, want: Long) = tr.named(n).nonEmpty &&
      tr.named(n).forall(s => tr.counters(s).outputRows == want)
    (Seq(Metric("ingest.fetch_s", med("ingest.fetch"), "s"),
      Metric("ingest.parse_s", parse, "s"),
      Metric("ingest.dedup_s", med("ingest.parse_dedup") - parse, "s"),
      Metric("ingest.append_s", med("ingest.append"), "s")),
      Seq("backfill_rows_written" -> wrote("ingest.backfill", expect(lo, lo + N).events),
        "replay_rows_written" -> wrote("ingest.replay", expect(lo + N, lo + N + N / 2).events)))
  }

  def layer(tr: Tracer, ops: Seq[Span]): Seq[Metric] = {
    val spans = childrenOf(tr, ops, "ingest.backfill") ++ childrenOf(tr, ops, "ingest.replay")
    val replays = childrenOf(tr, ops, "ingest.replay")
    // rows the replay appended ÷ rows it parsed (every event of its range)
    val parsed = expect(lo + N / 2, lo + N + N / 2).events.toDouble
    sparkMetrics("ingest", tr, spans, ops.size) ++ Seq(
      Metric("ingest.replay_s", Stats.median(replays.map(_.durS)), "s"),
      Metric("ingest.replay_input_bytes",
        Stats.median(replays.map(s => tr.counters(s).inputBytes.toDouble)), "B"),
      Metric("ingest.replay_useful_ratio",
        Stats.median(replays.map(s => tr.counters(s).outputRows / parsed)), "ratio"))
  }
}

/** The streaming layers, measured in the analytics workload's traced run
  * on top of its fact table (the backfilled and drained history):
  *  - ingest: Incremental.startFromRaw drains the next thin micro-batches,
  *    one file per trigger, some blocks redelivered, into a copy of the
  *    fact;
  *  - operators: StreamAnalytics.cdcApply lands the same micro-batches on
  *    a MergeTable seeded with the fact's events (key event_id, version
  *    slot).
  * Returns the metrics and the correctness checks of both outputs. */
final class StreamProbe(ctx: Ctx, fact: Path, factSlots: Set[Long], factTotals: Totals,
    blocks: Long => (String, BlockStats), drop: DropDir, redelivered: Seq[Long]) {
  private def spark = ctx.spark
  private val delivered = drop.files.flatten
  private val newRows = Totals.of((delivered.toSet -- factSlots).toSeq.sorted.map(blocks(_)._2)).events
  private val allRows = factTotals.events + newRows
  private def eventsOf(slots: Seq[Long]): Long = slots.map(s => blocks(s)._2.events).sum

  private def raw(dir: Path) = Workloads.rawStream(spark, dir)
  private def rawBatch(slots: Seq[Long]): DataFrame = {
    val ss = spark
    import ss.implicits._
    slots.map(s => (s, blocks(s)._1)).toDF("slot", "block_json")
  }
  private def drain(q: StreamingQuery) = Workloads.drain(q)
  private def checks(df: DataFrame): Seq[(String, Boolean)] = {
    val r = df.agg(count(lit(1)), countDistinct(col("event_id"))).head()
    Seq("sink_rows" -> (r.getLong(0) == allRows), "no_duplicate_event_id" -> (r.getLong(0) == r.getLong(1)))
  }
  private def phases(trig: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress], prefix: String) =
    Seq("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset", "getBatch").map { ph =>
      Metric(s"$prefix.${ph}_ms", Stats.median(trig.map(p =>
        Option(p.durationMs.get(ph)).map(_.doubleValue).getOrElse(0.0))), "ms")
    }

  def incremental(tr: Tracer): (Seq[Metric], Seq[(String, Boolean)]) = {
    val (sink, ck) = (ctx.fresh("incsink"), ctx.fresh("ckpt"))
    Fs.copy(fact, sink)
    val (files0, bytes0) = Fs.parquet(sink)
    val rows0 = spark.read.parquet(ctx.path(sink)).count()
    val span = tr.span("ingest.incremental", stream = true) {
      drain(Incremental.startFromRaw(raw(drop.dir), ctx.path(sink), ctx.path(ck)))
      tr.named("ingest.incremental").last
    }
    tr.drain()
    val trig = tr.triggers(span)
    val n = math.max(1, trig.size).toDouble
    val c = tr.counters(span)
    val (files1, bytes1) = Fs.parquet(sink)
    val bpe = bytes1.toDouble / allRows
    val df = spark.read.parquet(ctx.path(sink))
    // events delivered minus the rows the sink gained: what the guard dropped
    val dropped = eventsOf(delivered) - (df.count() - rows0)
    val ok = checks(df) :+ ("incremental_redelivered_dropped" -> (dropped == eventsOf(redelivered)))
    Fs.rm(sink); Fs.rm(ck)
    (c.fields.map { case (k, v, u) => Metric(s"stream.spark.$k", v, u) } ++ phases(trig, "stream") ++ Seq(
      Metric("stream.triggers", trig.size, "count"),
      Metric("stream.trigger_p50_ms", Stats.median(trig.map(_.durationMs.get("triggerExecution").doubleValue)), "ms"),
      Metric("stream.jobs_per_trigger", c.jobs / n, "count"),
      Metric("stream.driver_ms_per_trigger", c.driverS * 1e3 / n, "ms"),
      Metric("stream.guard_input_bytes_per_trigger", math.max(0.0, c.inputBytes - drop.bytes) / n, "B"),
      Metric("stream.files_per_trigger", (files1 - files0) / n, "count"),
      Metric("stream.write_amp", (bytes1 - bytes0) / (newRows * bpe), "ratio"),
      Metric("stream.redelivered_drop_ratio", dropped.toDouble / eventsOf(redelivered), "ratio")), ok)
  }

  def lake(tr: Tracer): (Seq[Metric], Seq[(String, Boolean)]) = {
    val history = spark.read.parquet(ctx.path(fact)).drop("block_date")
    val (root, ck) = (ctx.fresh("table"), ctx.fresh("ckpt"))
    MergeTable.append(spark, ctx.path(root), history, "event_id")
    val v0 = MergeTable.versions(spark, ctx.path(root)).size
    val b0 = Fs.parquet(root)._2
    val span = tr.span("operators.cdcApply", stream = true) {
      drain(StreamAnalytics.cdcApply(Parse.parse(raw(drop.dir), dedup = false),
        ctx.path(root), "event_id", "slot", checkpointDir = Some(ctx.path(ck))))
      tr.named("operators.cdcApply").last
    }
    Fs.rm(ck)
    tr.drain()
    val trig = tr.triggers(span)
    val c = tr.counters(span)
    val versions = MergeTable.versions(spark, ctx.path(root)).size
    val commits = math.max(1, versions - v0).toDouble
    val live = MergeTable.liveFiles(spark, ctx.path(root)).collect().map(_.getString(0))
    val bpe = live.map(f => Fs.size(root.resolve(f))).sum.toDouble / allRows
    val added = (Fs.parquet(root)._2 - b0).toDouble
    val snap = MergeTable.snapshot(spark, ctx.path(root))
    // last-write-wins over everything delivered: the seeded history plus
    // every delivered line, newest slot per event_id (redeliveries are
    // byte-identical, so the fold keeps one copy of each)
    val lww = graft.operators.Upsert.lastWriteWins(
      history.unionByName(Parse.parse(rawBatch(delivered), dedup = false)), "event_id", "slot")
      .select(snap.columns.map(col).toIndexedSeq: _*)
    val ok = checks(snap) :+
      ("lake_snapshot_equals_last_write_wins" -> (snap.exceptAll(lww).isEmpty && lww.exceptAll(snap).isEmpty))
    Fs.rm(root)
    (c.fields.map { case (k, v, u) => Metric(s"operators.spark.$k", v, u) } ++ Seq(
      Metric("operators.addBatch_ms", Stats.median(trig.map(_.durationMs.get("addBatch").doubleValue)), "ms"),
      Metric("operators.trigger_p50_ms",
        Stats.median(trig.map(_.durationMs.get("triggerExecution").doubleValue)), "ms"),
      Metric("operators.commits", commits, "count"),
      Metric("operators.bytes_written_per_commit", added / commits, "B"),
      Metric("operators.jobs_per_commit", c.jobs / commits, "count"),
      Metric("operators.write_amp", added / (newRows * bpe), "ratio"),
      Metric("operators.live_files", live.length, "files"),
      Metric("operators.versions", versions, "count")), ok)
  }
}

/** Repeated AnalyticsRunner.runAll refreshes over a fact table that the
  * engine's own backfill and incremental path built in set-up. */
final class AnalyticsWorkload(c: Ctx) extends Workload(c) {
  val name = "analytics"
  // one refresh (12-15 s) outlasts --seconds 10; a second costs 13 s a run
  // and left the spread between runs, which follows the host's speed, as is
  override val minOps = 1
  private val hist = new BlockGen(ctx.seed, Workloads.History)
  private val thin = new BlockGen(ctx.seed,
    Workloads.Thin.copy(secondsPerSlot = Workloads.History.secondsPerSlot))
  private val H = 96L
  private val (nFiles, batch) = (1, 8)
  private var fact: Path = _
  private var out: Path = _
  private var anchor: java.sql.Timestamp = _
  private var totals: Totals = _
  private var windows: BlockGen.Windows = _
  private var scans = 0L
  private var factSlots: Set[Long] = Set.empty
  /** The next micro-batches, for the traced run's streaming probes. */
  private val (probeFiles, probeBatch, redeliver) = (3, 6, 2)
  private var probeDrop: DropDir = _
  private var probeRedelivered: Seq[Long] = Nil
  def params = s"history: ${Workloads.History.describe}, $H slots by backfill; " +
    s"then $nFiles x $batch thin blocks by incremental (${Workloads.Thin.describe}); " +
    s"traced-run stream probes: $probeFiles files x ($probeBatch new + $redeliver redelivered) thin blocks"

  private def buildFact(path: Path, lo: Long, n: Long, files: Int): Seq[Long] = {
    val hs = stage(hist, lo, lo + n)
    Backfill.run(spark, lo, lo + n, ctx.nproc, ctx.path(path), fetcher = BlockStore.fetcher(store))
    if (files == 0) return hs
    val fresh = stage(thin, lo + n, lo + n + files * batch * 2).take(files * batch)
    val (plan_, _) = plan(fresh, batch, 1, hs, 17L)
    val dd = writeDropDir(ctx.fresh("drop"), plan_)
    val ck = ctx.fresh("ckpt")
    drain(Incremental.startFromRaw(rawStream(dd.dir), ctx.path(path), ctx.path(ck)))
    Fs.rm(ck); Fs.rm(dd.dir)
    hs ++ fresh
  }

  def setupOnce(): Unit = {
    fact = ctx.fresh("fact")
    val slots = buildFact(fact, 0L, H, nFiles)
    val stats = slots.map(s => blocks(s)._2)
    totals = Totals.of(stats)
    anchor = new java.sql.Timestamp((stats.map(_.blockTime).max + 1800) * 1000L)
    windows = BlockGen.windows(stats, anchor.getTime / 1000)
    factSlots = slots.toSet
    val next = slots.max + 1
    val fresh = stage(thin, next, next + probeFiles * probeBatch * 2).take(probeFiles * probeBatch)
    val (files, again) = plan(fresh, probeBatch, redeliver, slots, 19L)
    probeDrop = writeDropDir(ctx.fresh("probedrop"), files)
    probeRedelivered = again
    ctx.note("history")
    val warm = ctx.fresh("warmfact")
    buildFact(warm, 1000000L, 12L, 0)
    val wo = ctx.fresh("warmout")
    AnalyticsRunner.runAll(spark, spark.read.parquet(ctx.path(warm)), anchor, ctx.path(wo))
    Fs.rm(wo); Fs.rm(warm)
    ctx.note("warm-up")
  }

  def restore(): Unit = out = ctx.fresh("out")

  private def refresh(): Unit =
    AnalyticsRunner.runAll(spark, spark.read.parquet(ctx.path(fact)), anchor, ctx.path(out))

  def op(tr: Option[Tracer]): OpResult = {
    val (_, wall) = timed(tr match {
      case None => refresh()
      case Some(t) =>
        scans = t.countingScans(ctx.path(fact))(t.span("analytics.op")(t.span("analytics.runAll")(refresh())))._2
    })
    OpResult(wall, totals.blocks, totals.events, Seq(wall * 1e3), 14)
  }

  def verify(): Seq[(String, Boolean)] = {
    def t(n: String) = spark.read.parquet(ctx.path(out.resolve(n))).collect()
    val vol = t("analytics_transaction_volume").head
    val failed = t("analytics_failed_transactions").head
    val tt = t("analytics_token_transfers").head
    val top = t("analytics_active_programs").map(_.getAs[Long]("transaction_count"))
    val errs = t("analytics_top_errors").map(_.getAs[Long]("error_count")).sum
    val hourly = t("analytics_hourly_volume").map(_.getAs[Long]("transaction_count")).sum
    val rate = BigDecimal(totals.failures * 100.0 / totals.txs).setScale(2, BigDecimal.RoundingMode.HALF_UP)
    val fdf = spark.read.parquet(ctx.path(fact))
    sinkChecks(fdf, totals) ++ Seq(
      "transactions" -> (vol.getAs[Long]("total_transactions") == totals.txs),
      "transactions_today" -> (vol.getAs[Long]("transactions_today") == windows.today),
      "transactions_week" -> (vol.getAs[Long]("transactions_week") == windows.week),
      "transactions_month" -> (vol.getAs[Long]("transactions_month") == windows.month),
      "transactions_24h" -> (hourly == windows.day24h),
      "failures" -> (failed.getAs[Long]("failed_transactions") == totals.failures),
      "failure_rate" -> (BigDecimal(failed.getAs[java.math.BigDecimal]("failure_rate")) == rate),
      "error_counts" -> (errs == totals.failures),
      "transfers" -> (tt.getAs[Long]("total_transfers") == totals.transfers),
      "unique_tokens" -> (tt.getAs[Long]("unique_tokens") == totals.mints.size),
      "unique_receivers" -> (tt.getAs[Long]("unique_receivers") == totals.receivers.size),
      "top_program_count" -> (top.headOption.contains(totals.topProgramCount)))
  }

  def shape(): Shape = {
    val (files, bytes) = Fs.parquet(fact)
    Shape(bytes.toDouble / totals.events, files)
  }

  def discard(): Unit = Fs.rm(out)

  private val fns: Seq[(String, DataFrame => DataFrame)] = Seq(
    "transactionVolume" -> (f => AnalyticsRunner.transactionVolume(f, anchor)),
    "hourlyVolume" -> (f => AnalyticsRunner.hourlyVolume(f, anchor)),
    "activePrograms" -> AnalyticsRunner.activePrograms,
    "tokenTransfers" -> AnalyticsRunner.tokenTransfers,
    "topTokens" -> AnalyticsRunner.topTokens,
    "failedTransactions" -> AnalyticsRunner.failedTransactions,
    "topErrors" -> AnalyticsRunner.topErrors,
    "walletActivity" -> (f => AnalyticsRunner.walletActivity(f, anchor)),
    "topWallets" -> AnalyticsRunner.topWallets,
    "programTrends" -> (f => AnalyticsRunner.programTrends(f, anchor)),
    "dimWallets" -> AnalyticsRunner.dimWallets,
    "dimPrograms" -> AnalyticsRunner.dimPrograms,
    "dimTokens" -> AnalyticsRunner.dimTokens,
    "factTelemetry" -> AnalyticsRunner.factTelemetry)

  override def probes(tr: Tracer): (Seq[Metric], Seq[(String, Boolean)]) = {
    val per = fns.map { case (n, f) =>
      tr.span(s"analytics.$n")(noop(f(spark.read.parquet(ctx.path(fact)))))
      Metric(s"analytics.${n}_s", tr.named(s"analytics.$n").last.durS, "s")
    }
    val probe = new StreamProbe(ctx, fact, factSlots, totals, blocks, probeDrop, probeRedelivered)
    val (inc, incOk) = probe.incremental(tr)
    val (lake, lakeOk) = probe.lake(tr)
    (per ++ inc ++ lake, incOk ++ lakeOk)
  }

  def layer(tr: Tracer, ops: Seq[Span]): Seq[Metric] = {
    val runs = childrenOf(tr, ops, "analytics.runAll")
    val sumFns = fns.map { case (n, _) => tr.named(s"analytics.$n").map(_.durS).lastOption.getOrElse(0.0) }.sum
    val c = runs.map(tr.counters)
    sparkMetrics("analytics", tr, runs, ops.size) ++ Seq(
      Metric("analytics.materialize_s", Stats.median(runs.map(_.durS)) - sumFns, "s"),
      Metric("analytics.fact_input_bytes", Stats.median(c.map(_.inputBytes.toDouble)), "B"),
      Metric("analytics.jobs_per_refresh", Stats.median(c.map(_.jobs.toDouble)), "count"),
      Metric("analytics.fact_scans", scans, "count"))
  }
}
