package graft.ingest

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.execution.{QueryExecution, RangeExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import java.nio.file.Files

/** Backfill + incremental pipelines end-to-end on the synthetic RPC
  * stand-in (backfill.rs / incremental.rs semantics). */
class IngestSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** Drops synthetic blocks for `slots` into `src` as one JSON-lines
    * file, the incremental verb's drop-directory shape. */
  private def dropBlocks(src: String, name: String, slots: Range): Unit = {
    val lines = slots.flatMap { s =>
      Backfill.syntheticBlock(s).map { j =>
        val esc = j.replace("\\", "\\\\").replace("\"", "\\\"")
        s"""{"slot":$s,"block_json":"$esc"}"""
      }
    }
    Files.write(java.nio.file.Paths.get(s"$src/$name.json"),
      lines.mkString("\n").getBytes("UTF-8"))
  }

  test("backfill writes date-partitioned events; replay is idempotent") {
    val out = Files.createTempDirectory("graft_backfill").toString + "/events"
    Backfill.run(spark, 1L, 101L, workers = 4, out)
    val first = spark.read.parquet(out)
    val n1 = first.count()
    assert(n1 > 0)
    assert(first.columns.contains("block_date"))
    // missing slots (every 97th) skipped, not failed
    assert(first.select("slot").distinct().count() < 100)
    // distinct event ids == rows (upsert key holds)
    assert(first.select("event_id").distinct().count() == n1)
    // replay the same range → same content (dynamic partition overwrite);
    // fresh read — the old DF's file listing is stale after overwrite
    Backfill.run(spark, 1L, 101L, workers = 4, out)
    assert(spark.read.parquet(out).count() == n1)
  }

  test("ETL_BACKFILL_CHUNK_SIZE bounds per-task slots (backfill.rs:22): " +
      "partitions = max(workers, ceil(range/chunk))") {
    // 1000 slots / chunk 100 → 10 partitions even with 4 workers
    assert(Backfill.fetchRange(spark, 0L, 1000L, workers = 4,
      chunkSize = Some(100L)).rdd.getNumPartitions == 10)
    // small range: workers stays the parallelism floor (chunk is an
    // UPPER bound on task size, never a reason to idle executors)
    assert(Backfill.fetchRange(spark, 0L, 50L, workers = 4,
      chunkSize = Some(100L)).rdd.getNumPartitions == 4)
    // no chunk → the previous workers-partition behavior
    assert(Backfill.fetchRange(spark, 0L, 1000L, workers = 4)
      .rdd.getNumPartitions == 4)
  }

  test("backfill fetches each slot exactly once per call") {
    val out = Files.createTempDirectory("graft_fetch_once").toString + "/events"
    val calls = spark.sparkContext.longAccumulator("fetches")
    val counting: Backfill.BlockFetcher = s => { calls.add(1); Backfill.syntheticBlock(s) }
    Backfill.run(spark, 1L, 101L, workers = 4, out, counting)
    assert(calls.value == 100L)
    // a replay into the now existing sink: the guard reads the sink, and
    // the fetch still runs once per slot
    Backfill.run(spark, 1L, 101L, workers = 4, out, counting)
    assert(calls.value == 200L)
  }

  test("a backfill plans no shuffle: the slot chunks cluster the dedup, " +
      "and a replay's guard broadcasts the sink side") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    def shuffles(p: SparkPlan) = collectWithSubqueries(p) { case s: ShuffleExchangeLike => s }
    val parsed = Parse.parse(Backfill.fetchRange(spark, 1L, 201L, workers = 4))
    parsed.collect()
    val parsePlan = parsed.queryExecution.executedPlan
    assert(shuffles(parsePlan).isEmpty, parsePlan)

    val out = Files.createTempDirectory("graft_one_stage").toString + "/events"
    Backfill.run(spark, 1L, 201L, workers = 4, out)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Backfill.run(spark, 101L, 301L, workers = 4, out)
      org.apache.spark.TestListenerBus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    val writes = plans.asScala.toSeq.filter(p => find(p) {
      case DataWritingCommandExec(w: InsertIntoHadoopFsRelationCommand, _) =>
        w.outputPath.toString.contains(out)
      case _ => false
    }.isDefined)
    assert(writes.size == 1)
    assert(shuffles(writes.head).isEmpty, writes.head)
    assert(collectWithSubqueries(writes.head) {
      case j: BroadcastHashJoinExec if j.joinType == LeftAnti => j
    }.size == 1, writes.head)
  }

  test("each block is parsed once per plan branch: one from_json per source scan") {
    // (from_json calls, slot-range scans) of a frame's executed plan; a
    // Filter on the parsed block would be pushed under the parse and add
    // two more from_json calls per scan
    def parsesPerScan(df: DataFrame): (Int, Int) = {
      df.collect()
      val p = df.queryExecution.executedPlan
      val parses = collectWithSubqueries(p) { case n =>
        n.expressions.map(_.collect { case j: JsonToStructs => j }.size).sum
      }.sum
      (parses, collectWithSubqueries(p) { case r: RangeExec => r }.size)
    }
    def raw = Backfill.fetchRange(spark, 1L, 201L, workers = 4)
    assert(parsesPerScan(Parse.parse(raw)) == (1, 1))
    assert(parsesPerScan(Parse.parseErrors(raw)) == (1, 1))
    assert(parsesPerScan(Parse.factProgramEvents(Parse.parseBlocks(raw))) == (1, 1))
    // the joins scan the range once per branch (AQE drops a branch it
    // finds empty, as the synthetic chain's sender side is)
    for (df <- Seq(Parse.factTokenTransfers(Parse.parseBlocks(raw)),
        Parse.netTokenTransfers(Parse.parseBlocks(raw)))) {
      val (parses, scans) = parsesPerScan(df)
      assert(parses == scans, (parses, scans))
    }
  }

  test("each backfill task writes one file per date its slot chunk covers") {
    // the synthetic chain at 4 minutes a slot: [1, 4001) spans 12 dates,
    // and block_time rises with slot
    val fourMinuteSlots: Backfill.BlockFetcher = s => Backfill.syntheticBlock(4 * s)
    val out = Files.createTempDirectory("graft_layout").toString + "/events"
    val workers = 8
    Backfill.run(spark, 1L, 4001L, workers, out, fourMinuteSlots)
    val sink = spark.read.parquet(out)
    val dates = sink.select("block_date").distinct().count()
    assert(dates == 12L)
    // contiguous chunks: a chunk crosses a date boundary at most once per
    // boundary, so workers + dates - 1 files bound the write
    val files = sink.inputFiles.length
    assert(files <= workers + dates - 1, s"$files files")
    // one row per generated event: 6 per synthetic block
    val blocks = (1L until 4001L).count(fourMinuteSlots(_).isDefined)
    assert(sink.count() == 6L * blocks)
    assert(sink.select("event_id").distinct().count() == 6L * blocks)
  }

  test("a sink read-back and the parse of the same range compare with " +
      "exceptAll, both ways") {
    // under exceptAll, a dropDuplicates dedup fails at execution with
    // INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND; Parse.dedupEvents' explicit
    // aggregate binds
    val out = Files.createTempDirectory("graft_except_all").toString + "/events"
    Backfill.run(spark, 1L, 101L, workers = 4, out)
    val back = spark.read.parquet(out).drop("block_date")
    val parsed = Parse.parse(Backfill.fetchRange(spark, 1L, 101L, workers = 4))
    assert(back.count() > 0)
    assert(parsed.exceptAll(back).isEmpty)
    assert(back.exceptAll(parsed).isEmpty)
  }

  test("overlapping backfill re-run adds only missing slots, deletes nothing") {
    val out = Files.createTempDirectory("graft_overlap").toString + "/events"
    Backfill.run(spark, 1L, 201L, workers = 4, out)
    val full = spark.read.parquet(out).count()
    // re-run an inner sub-range sharing the same date partitions: must be
    // a no-op, not a partition truncation
    Backfill.run(spark, 50L, 80L, workers = 2, out)
    assert(spark.read.parquet(out).count() == full)
    // extend past the old range: only the new slots' events are added
    Backfill.run(spark, 150L, 251L, workers = 4, out)
    val extended = spark.read.parquet(out)
    assert(extended.count() > full)
    assert(extended.select("event_id").distinct().count() == extended.count())
    import spark.implicits._
    assert(extended.select(org.apache.spark.sql.functions.max($"slot"))
      .as[Long].head() == 250L)
  }

  test("warehouse dispatch axis: orc sink round-trips identically to parquet") {
    val base = Files.createTempDirectory("graft_fmt").toString
    Backfill.run(spark, 1L, 101L, workers = 4, s"$base/parquet_events")
    Backfill.run(spark, 1L, 101L, workers = 4, s"$base/orc_events", format = "orc")
    val viaParquet = spark.read.parquet(s"$base/parquet_events")
    val viaOrc = spark.read.orc(s"$base/orc_events")
    assert(viaOrc.count() == viaParquet.count())
    val a = viaParquet.select("event_id").collect().map(_.getString(0)).sorted
    val b = viaOrc.select("event_id").collect().map(_.getString(0)).sorted
    assert(a.sameElements(b))
    // replay idempotence holds through the format axis too (the
    // anti-join guard reads the sink back in its own format)
    Backfill.run(spark, 1L, 101L, workers = 4, s"$base/orc_events", format = "orc")
    assert(spark.read.orc(s"$base/orc_events").count() == viaParquet.count())
  }

  test("warehouse dispatch axis: schema-inferring json sink stays idempotent") {
    // json round-trips through TEXT + schema inference — the harshest
    // backend for the replay guard, which only needs `slot` to survive
    // as a comparable integer
    val base = Files.createTempDirectory("graft_fmt_json").toString
    Backfill.run(spark, 1L, 101L, workers = 4, s"$base/json_events", format = "json")
    val viaJson = spark.read.json(s"$base/json_events")
    val n = viaJson.count()
    assert(n > 0)
    assert(viaJson.select("event_id").distinct().count() == n)
    Backfill.run(spark, 1L, 101L, workers = 4, s"$base/json_events", format = "json")
    assert(spark.read.json(s"$base/json_events").count() == n, "replay must no-op")
  }

  test("date-partitioned sink: a block_date predicate prunes at the file index") {
    val base = Files.createTempDirectory("graft_prune").toString
    // synthetic slots are 60 s apart → ~1440 per day; 2001 spans 2 dates
    Backfill.run(spark, 1L, 2001L, workers = 8, s"$base/events")
    val all = spark.read.parquet(s"$base/events")
    val dates = all.select("block_date").distinct().collect().map(_.getDate(0))
    assert(dates.length > 1, "need multiple date partitions to prove pruning")
    val one = all.filter(col("block_date") === lit(dates.min))
    one.collect()
    val p = one.queryExecution.executedPlan.toString
    // the predicate must land in PartitionFilters (directory pruning),
    // NOT PushedFilters (row-group skipping after listing everything)
    assert(p.contains("PartitionFilters: [isnotnull(block_date"), p)
    assert(one.count() > 0 && one.count() < all.count())
  }

  test("a partially committed slot heals on backfill replay (event-level guard)") {
    val out = Files.createTempDirectory("graft_partial").toString + "/events"
    Backfill.run(spark, 1L, 101L, workers = 4, out)
    val full = spark.read.parquet(out)
    val n = full.count()
    // simulate a crashed job commit: a slot left PARTIALLY visible (the
    // plain parquet append is not atomic). Drop 2 of one slot's events
    // and rewrite the sink to that torn state.
    val victimSlot = full.groupBy(col("slot")).count()
      .filter(col("count") >= 3).select(col("slot")).head().getLong(0)
    val lostIds = full.filter(col("slot") === victimSlot)
      .select(col("event_id")).limit(2).collect().map(_.get(0))
    val torn = full.filter(!col("event_id").isin(lostIds.toIndexedSeq: _*))
      .localCheckpoint(true)
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(out))
    torn.write.partitionBy("block_date").parquet(out)
    assert(spark.read.parquet(out).count() == n - 2)
    // replaying the range must RESTORE the missing events (a slot-level
    // guard would see the slot present and skip them forever) without
    // duplicating the events that did land
    Backfill.run(spark, 1L, 101L, workers = 4, out)
    val healed = spark.read.parquet(out)
    assert(healed.count() == n)
    assert(healed.select("event_id").distinct().count() == n)
  }

  test("tipSlot is -1 on an absent or empty sink, not a crash; orc reads back") {
    // sink tip -1 (full lag distance): the probe matters most at startup
    assert(Backfill.FileSink(s"/tmp/graft-no-such-sink-${System.nanoTime()}")
      .tipSlot(spark) == -1L)
    val base = Files.createTempDirectory("graft_tip").toString
    spark.range(0).select(col("id").as("slot")).write.parquet(s"$base/empty")
    assert(Backfill.FileSink(s"$base/empty").tipSlot(spark) == -1L)
    // the probe reads the sink in its own format (slot 100 is not a
    // skipped multiple of 97)
    Backfill.run(spark, 1L, 101L, workers = 4, s"$base/orc", format = "orc")
    assert(Backfill.FileSink(s"$base/orc", "orc").tipSlot(spark) == 100L)
  }

  test("incremental: AvailableNow drains files; restart picks up new slots only") {
    val base = Files.createTempDirectory("graft_inc").toString
    val src = s"$base/src"; val sink = s"$base/sink"; val ckpt = s"$base/ckpt"
    new java.io.File(src).mkdirs()

    dropBlocks(src, "batch1", 1 to 50)
    val q1 = Incremental.start(spark, src, Backfill.FileSink(sink), ckpt)
    q1.awaitTermination()
    val n1 = spark.read.parquet(sink).count()
    assert(n1 > 0)

    // second trigger with new + REPLAYED blocks: only new events land
    dropBlocks(src, "batch2", 40 to 80)
    val q2 = Incremental.start(spark, src, Backfill.FileSink(sink), ckpt)
    q2.awaitTermination()
    val after = spark.read.parquet(sink)
    assert(after.count() == after.select("event_id").distinct().count())
    assert(after.agg(max(col("slot"))).collect()(0).getLong(0) == 80L)

    assert(Backfill.FileSink(sink).tipSlot(spark) == 80L)
  }

  test("incremental honors a non-parquet sink format: orc writes are orc, " +
      "and the replay guard reads them back (WAREHOUSE_TYPE=orc end-to-end)") {
    val base = Files.createTempDirectory("graft_inc_orc").toString
    val src = s"$base/src"; val sink = s"$base/sink"; val ckpt = s"$base/ckpt"
    new java.io.File(src).mkdirs()
    dropBlocks(src, "batch1", 1 to 20)
    Incremental.start(spark, src, Backfill.FileSink(sink, "orc"), ckpt)
      .awaitTermination()
    val n1 = spark.read.orc(sink).count()
    assert(n1 > 0)
    // fresh checkpoint = full replay PLUS new slots: the guard must read
    // the ORC sink (a parquet-formatted guard read would crash here) and
    // admit only the new events
    dropBlocks(src, "batch2", 15 to 30)
    Incremental.start(spark, src, Backfill.FileSink(sink, "orc"),
      s"$base/ckpt2").awaitTermination()
    val after = spark.read.orc(sink)
    assert(after.count() == after.select("event_id").distinct().count())
    assert(after.agg(max(col("slot"))).collect()(0).getLong(0) == 30L)
  }

  test("incremental into a JDBC warehouse: micro-batch upserts converge " +
      "on replay (incremental.rs:55-96 + warehouse ON CONFLICT shape)") {
    val base = Files.createTempDirectory("graft_inc_jdbc").toString
    val src = s"$base/src"
    new java.io.File(src).mkdirs()
    val wh = graft.sources.JdbcWarehouse(
      s"jdbc:derby:$base/db;create=true", "events")
    val sink = Backfill.JdbcSink(wh)

    dropBlocks(src, "batch1", 1 to 30)
    Incremental.start(spark, src, sink, s"$base/ckpt").awaitTermination()
    val n1 = wh.readIfAny(spark).get.count()
    assert(n1 > 0)

    // a FRESH checkpoint forces full reprocessing of the same files —
    // the sink's guarded write, not the checkpoint, is what converges
    Incremental.start(spark, src, sink, s"$base/ckpt2").awaitTermination()
    assert(wh.readIfAny(spark).get.count() == n1)

    // new slots through the ORIGINAL checkpoint: only new events land
    dropBlocks(src, "batch2", 25 to 45)
    Incremental.start(spark, src, sink, s"$base/ckpt").awaitTermination()
    val after = wh.readIfAny(spark).get
    assert(after.count() > n1)
    assert(after.count() == after.select("event_id").distinct().count())
    import spark.implicits._
    assert(after.agg(max(col("slot"))).as[Long].head() == 45L)
  }

  test("cross-verb: backfill, then an overlapping drain, equals one backfill") {
    // the verbs guard with different spans (slot range vs batch dates);
    // sharing one sink, each event must still land exactly once
    val base = Files.createTempDirectory("graft_cross").toString
    val src = s"$base/src"
    new java.io.File(src).mkdirs()
    dropBlocks(src, "drain", 50 until 150)
    def derby(db: String) = Backfill.JdbcSink(graft.sources.JdbcWarehouse(
      s"jdbc:derby:$base/$db;create=true", "events"))
    for ((kind, shared, once) <- Seq(
        ("parquet", Backfill.FileSink(s"$base/shared"), Backfill.FileSink(s"$base/once")),
        ("derby", derby("db_shared"), derby("db_once")))) {
      Backfill.runTo(spark, 1L, 101L, workers = 4, shared)
      Incremental.start(spark, src, shared, s"$base/ckpt_$kind").awaitTermination()
      Backfill.runTo(spark, 1L, 150L, workers = 4, once)
      val got = shared.readIfAny(spark).get
      val want = once.readIfAny(spark).get
      assert(got.count() == got.select("event_id").distinct().count(), kind)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty, kind)
    }
  }
}
