package graft.streaming

import graft.{Q, QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The streaming+storage stack on the hard oracle signal: a REAL
  * multi-batch Structured Streaming run — file source, watermark,
  * `dropDuplicatesWithinWatermark`, `foreachBatch` CDC MERGE into the
  * copy-on-write [[graft.operators.MergeTable]] — whose FINAL TABLE
  * SNAPSHOT is the declared result, replayed relationally by the DuckDB
  * oracle. This is the reference's incremental entry point
  * (src/incremental.rs:10-31: poll → parse → upsert) end-to-end on the
  * differential check instead of spec-only.
  *
  * Harness shape (bounded test-SF scaffolding; the operators under test
  * are the stream pipeline + the table, not the staging):
  *  - events are staged as 4 single-file chunks in event-time quartile
  *    order, written with strictly increasing modification times, so the
  *    file source's oldest-first ordering delivers 4 deterministic
  *    micro-batches (`maxFilesPerTrigger = 1` + `Trigger.AvailableNow`).
  *    The base chunks are staged once per (sfDir, corpus) and HARDLINKED
  *    into each query's private staging dir; per-query poison/sentinel
  *    rows are separate mtime-positioned files delivered as their own
  *    micro-batches (see [[stagedCache]] / [[stageExtras]]).
  *  - every 10th event is REPLAYED after its original's chunk with a
  *    poisoned value and the same `event_id`/`ts`: a correct watermarked
  *    dedup drops the replay (its key is still inside the watermark
  *    horizon — the delay exceeds one chunk span, the maximum replay lag
  *    here); a broken one lets the poison through, where the
  *    unconditional matched-replace MERGE would regress that user's row
  *    to an older event — turning the oracle row red. The dedup is
  *    load-bearing for correctness, not decorative.
  *  - each micro-batch folds last-write-wins on a version string that
  *    totally orders (ts, event_id), then lands as ONE MERGE commit.
  *    Chunks are ts-range-partitioned, so any later batch's version for
  *    a colliding key is strictly higher — unconditional replace IS
  *    global last-write-wins, which is exactly what the oracle replays:
  *    per user, the row of max (ts, event_id).
  *
  * At scale nothing here changes shape: the file chunks stand in for
  * arriving micro-batches, dedup state is bounded by the watermark
  * horizon, each MERGE rewrites only files its batch's key span touches,
  * and the snapshot read is manifest-planned.
  */
object StreamQueries extends QueryModule {

  private val Chunks = 4

  /** Unique sink directory names so repeated runs (Verify executes every
    * query in one session) never collide. */
  private val sinkCounter = new java.util.concurrent.atomic.AtomicInteger()

  /** Harness scratch base: a RAM-backed filesystem when one is mounted
    * (/dev/shm on Linux), else java.io.tmpdir. The end-to-end reruns are
    * METADATA-heavy — per-batch state-store delta files, checkpoint
    * rename-commits, staged chunk files — and none of it needs to
    * survive the run, so paying spinning/virtual-disk metadata latency
    * for it is pure harness cost. Checkpointing stays fully real (the
    * files exist, restart-from-checkpoint works); only the medium
    * changes. Both the per-run temp dirs and the corpus cache live here
    * so the hardlink fast path stays same-device. */
  private lazy val scratchBase: java.nio.file.Path = graft.Scratch.base

  /** JVM-lifetime scratch root for materialized query results and the
    * staged-corpus cache. The per-run temp dir (staging files,
    * checkpoints, table roots) is deleted as each query finishes, but
    * the query's RESULT parquet must outlive that cleanup — the
    * returned DataFrame reads it lazily — so results live here and are
    * reclaimed once, at JVM exit. */
  private lazy val resultsRoot: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory(scratchBase, "graft-stream-results")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      org.apache.hadoop.fs.FileUtil.fullyDelete(p.toFile); ()
    }))
    p
  }

  /** Build the staged chunk files + checkpoint + table root under one
    * temp dir, run `body`, land its bounded result as parquet under
    * [[resultsRoot]] (an EXECUTOR-side write — no result row ever
    * crosses the driver, at any SF), return a lazy read of that
    * parquet, clean the run's temp dir up.
    *
    * Runs under `StreamShufflePartitions` (state stores are created at
    * the stream's FIRST batch from the session's shuffle-partition
    * count, and every stateful operator then commits that many store
    * instances per micro-batch): at the declared SFs a 32-partition
    * session spends more wall-clock on store commit/snapshot overhead
    * than on data — the stream-stream join carries 4 store families, so
    * 32 partitions × 6 batches is ~750 store commits for a few hundred
    * output rows. 8 partitions cut that 4× with zero skew risk at these
    * volumes; a real deployment sizes this to its per-batch volume, not
    * its cluster width. The session's setting is restored afterwards.
    * NOTE: the mutation is session-global for the run's duration — the
    * declared queries execute strictly sequentially (Verify and Bench
    * run one query at a time in one session); a concurrent-query
    * harness would need to scope this per-stream instead. */
  private def withStreamRun(s: SparkSession, dir: String)(
      body: (String, String, String) => DataFrame): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory(scratchBase, "graft-stream")
    val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", StreamShufflePartitions.toString)
    try {
      val staging = tmp.resolve("staging").toString
      val ckpt = tmp.resolve("ckpt").toString
      val root = tmp.resolve("events_tbl").toString
      val res = body(staging, ckpt, root)
      val out = resultsRoot
        .resolve(s"res-${sinkCounter.incrementAndGet()}").toString
      res.write.parquet(out)
      s.read.parquet(out)
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      val fs = new org.apache.hadoop.fs.Path(tmp.toString)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(tmp.toString), true)
    }
  }

  /** See [[withStreamRun]]: state-store instances per stateful op.
    * Dropped 8 → 4 in round 10: per-batch volume at the declared SFs is
    * ≤150k rows, so 4 partitions still carry ~40k rows each with zero
    * skew risk, and every stateful operator's store-commit round (the
    * dominant cost of these end-to-end reruns) halves again. All
    * declared outputs are partition-count-invariant (aggs, joins, and
    * the order-canonicalized band handler), so this is pure harness
    * cost — a deployment sizes it to ITS per-batch volume. */
  private val StreamShufflePartitions = 4

  /** Chunk index 0..Chunks−1 for `idCol` over the CLOSED span [mn, mx]
    * — the one home for the staging range-partition arithmetic. The
    * division is exact integer `div`, not `/`: Spark's `/` on longs is
    * double division, and past ~2^52 numerator magnitudes (an event-
    * time span of mere months in nanos) the rounding error can push
    * the max-id rows to quotient Chunks, which no staged file carries
    * — rows would silently vanish from the harness.
    *
    * The span is guarded at plan-build: `Chunks · (id − mn)` overflows
    * Long once the span exceeds Long.MaxValue / Chunks (~73 YEARS of
    * nanos — unreachable with any current corpus), and the `span + 1`
    * divisor overflows at a full-Long span. Both would mis-chunk
    * SILENTLY (wrong indices, not an error), so a future wider-ranged
    * key must fail loudly here instead. */
  private[streaming] def chunkOf(idCol: String, mn: Long, mx: Long): Column = {
    require(mx >= mn, s"chunkOf span is inverted: [$mn, $mx]")
    require(mx - mn < Long.MaxValue / Chunks,
      s"chunkOf span $mn..$mx exceeds Long.MaxValue/$Chunks — the " +
        "Chunks*(id-mn) staging arithmetic would overflow and mis-chunk " +
        "silently; re-base the key or widen the math to BigInt first")
    expr(s"(${Chunks}L * ($idCol - ${mn}L)) div ${mx - mn + 1}L")
  }

  /** Span scan + chunk assignment for any frame keyed by `idCol`:
    * returns the frame with its `chunk` column plus (mn, mx). */
  private def withChunks(df: DataFrame, idCol: String): (DataFrame, Long, Long) = {
    val span = df.agg(min(col(idCol)).as("mn"), max(col(idCol)).as("mx")).head()
    val (mn, mx) = (span.getLong(0), span.getLong(1))
    (df.withColumn("chunk", chunkOf(idCol, mn, mx)), mn, mx)
  }

  /** One corpus' cached base staging: the chunk-file directory, the key
    * span [mn, mx], and the mtime base the chunk files were stamped
    * with (extras position themselves relative to it). */
  private case class StagedCorpus(dir: String, mn: Long, mx: Long, baseMs: Long)

  /** JVM-lifetime cache of staged BASE-corpus chunk directories, keyed
    * by (sfDir, corpus). Six of the nine declared streaming queries
    * stage the same derived events corpus (and two more share the
    * embeddings corpus), so re-deriving and re-writing it per query was
    * ~35 s of pure harness replay in a full bench sweep. The base
    * chunks are staged ONCE per key and hardlinked into each query's
    * private staging dir ([[linkChunks]]); per-query poison/sentinel
    * rows stay per-query as separate positioned files
    * ([[stageExtras]]), and checkpoints/table roots remain per-query
    * temp dirs — isolation is untouched, only the shared immutable
    * input is amortized. Cached dirs live under [[resultsRoot]], so the
    * JVM-exit hook reclaims them. */
  private val stagedCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), StagedCorpus]()

  private def cachedCorpus(s: SparkSession, dir: String, corpus: String,
      idCol: String)(frame: => DataFrame): StagedCorpus =
    cachedPrechunked(s, dir, corpus)(withChunks(frame, idCol))

  /** [[cachedCorpus]] for frames that carry their OWN `chunk` column
    * (replay/era staging whose chunk is not a pure idCol derivation):
    * `build` returns (frame-with-chunk, mn, mx) plus the chunk range to
    * stage. Same input-staging cache, same hardlink delivery. */
  private def cachedPrechunked(s: SparkSession, dir: String, corpus: String,
      n: Int = Chunks, from: Int = 0)(
      build: => (DataFrame, Long, Long)): StagedCorpus =
    stagedCache.computeIfAbsent((dir, corpus), _ => {
      val base = java.nio.file.Files
        .createTempDirectory(resultsRoot, s"staged-$corpus-").toString
      val (df, mn, mx) = build
      val baseMs = System.currentTimeMillis() - 3600L * 1000
      stageChunks(s, df, base, n, baseMs, from)
      StagedCorpus(base, mn, mx, baseMs)
    })

  /** The derived events frame every event-shaped streaming query
    * stages: +`ver`, the (ts, event_id) total-order version string;
    * +`tsw`, the TimestampType watermark column. */
  private def eventsFrame(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      // EXPLICIT event-time contract: a streaming pipeline cannot
      // watermark, order, or chunk-stage a timeless row. Without this
      // filter a NULL ts is dropped SILENTLY at staging (chunkOf(NULL)
      // matches no chunk file) while every oracle's batch replay keeps
      // it — the declared quarantine keeps both sides honest (each
      // event-shaped stream oracle mirrors `ts IS NOT NULL`).
      .filter(col("ts").isNotNull)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("ts"))
      .withColumn("ver", concat(
        lpad(col("ts").cast("string"), 20, "0"),
        lpad(col("event_id").cast("string"), 12, "0")))
      .withColumn("tsw", Tables.tsTimestamp())

  /** [[eventsFrame]], ts-chunked and staged once per sfDir. */
  private def eventsCorpus(s: SparkSession, dir: String): StagedCorpus =
    cachedCorpus(s, dir, "events", "ts")(eventsFrame(s, dir))

  /** The embeddings corpus the two ANN-maintenance streams stage:
    * (vec_id, v: array<double>), vec_id-chunked. */
  private def embeddingsCorpus(s: SparkSession, dir: String): StagedCorpus =
    cachedCorpus(s, dir, "embeddings", "vec_id") {
      Tables.embeddings(s, dir).select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("v"))
    }

  /** Hardlink every cached base chunk file into this query's private
    * staging dir — mtimes ride along on the shared inode, so the file
    * source's oldest-first ordering is preserved byte-for-byte; falls
    * back to an attribute-preserving copy where links are unsupported.
    * The cached files are never mutated and per-query cleanup only
    * unlinks. */
  private def linkChunks(cached: String, staging: String,
      prefix: String = "chunk-"): Unit = {
    val dst = java.nio.file.Paths.get(staging)
    java.nio.file.Files.createDirectories(dst)
    val files = java.nio.file.Files.list(java.nio.file.Paths.get(cached))
    try files.iterator().forEachRemaining { f =>
      if (f.getFileName.toString.startsWith(prefix)) {
        val t = dst.resolve(f.getFileName.toString)
        // fallback covers links-unsupported AND cross-device targets
        // (EXDEV surfaces as FileSystemException, an IOException)
        try java.nio.file.Files.createLink(t, f)
        catch { case _: UnsupportedOperationException | _: java.io.IOException =>
          java.nio.file.Files.copy(f, t,
            java.nio.file.StandardCopyOption.COPY_ATTRIBUTES); ()
        }
      }
    } finally files.close()
  }

  /** The cached corpus read back WITH its chunk column re-derived —
    * the cheap source for per-query extra rows (replays, poison,
    * sentinels): a scan of the already-staged files instead of a fresh
    * pass over the source table. `chunkOf` is a pure function of the
    * key, so the re-derived assignment is exactly the staged one. */
  private def readStaged(s: SparkSession, sc: StagedCorpus, idCol: String): DataFrame =
    s.read.parquet(sc.dir).withColumn("chunk", chunkOf(idCol, sc.mn, sc.mx))

  /** Stage this query's extra rows around the linked base chunks: rows
    * whose `chunk` column is c land as ONE file mtime-ordered after
    * base chunk c−1 and before base chunk c — they are DELIVERED as
    * their own micro-batch just before chunk c (c = Chunks ⇒ after the
    * final base chunk). Versus the pre-cache harness, which unioned
    * extras INTO a chunk's file, an extra now arrives one batch
    * boundary earlier/later — every consumer's semantics are
    * indifferent to that (replays still follow their originals by ≥1
    * batch, late poison still trails the SPARK-24634 two-batch filter
    * cutoff by the same two chunk spans, sentinels still close every
    * real window, map-only paths are stateless), and the differential
    * oracle holds the outputs identical. */
  private def stageExtras(s: SparkSession, extras: DataFrame, staging: String,
      baseMs: Long): Unit = {
    // metadata-plane collect: ≤ Chunks+1 distinct positions by construction
    val positions = extras.select(col("chunk")).distinct()
      .collect().map(_.getLong(0)).sorted
    positions.foreach { c =>
      writeFileAt(s, extras.filter(col("chunk") === c).drop("chunk"),
        staging, f"extra-$c%04d.parquet", baseMs + (c - 1) * 60000L + 30000L)
    }
  }

  /** [[stageExtras]] through the input-staging cache: a query's extra
    * rows (replays, poison, sentinels) are DETERMINISTIC derivations,
    * so their positioned file(s) stage once per (sfDir, key) and
    * hardlink into each run's staging dir exactly like the base chunks
    * — removing the per-run positions job, the extras derivation scan
    * and the coalesce-write. `baseMs` must be the consuming corpus's
    * cached base (it is: callers pass `sc.baseMs`, stable per JVM), so
    * mtime order is identical to the per-run write. Queries whose
    * extras frame is the same expression share a key (the three
    * sentinel-only consumers; the two dual-sentinel joins). */
  private def stageExtrasCached(s: SparkSession, dir: String, key: String,
      staging: String, baseMs: Long)(extras: => DataFrame): Unit = {
    val cached = stagedCache.computeIfAbsent((dir, key), _ => {
      val base = java.nio.file.Files
        .createTempDirectory(resultsRoot, s"extras-$key-").toString
      stageExtras(s, extras, base, baseMs)
      StagedCorpus(base, 0L, 0L, baseMs)
    })
    linkChunks(cached.dir, staging, prefix = "extra-")
  }

  /** One far-future row (chunk index = `chunk`): delivered as the LAST
    * micro-batch, it pushes the final watermark past every real
    * window/session end so append-mode event-time state flushes before
    * `Trigger.AvailableNow` terminates. Its own window never closes, so
    * it is withheld from the output by construction — the oracle never
    * sees it and never needs to exclude it. */
  private def sentinel(s: SparkSession, maxTsNs: Long, chunk: Int,
      eventType: String = "zz_sentinel", eventId: Long = -1L): DataFrame = {
    import s.implicits._
    Seq((eventId, -1L, eventType, 0.0d, maxTsNs + 100L * 86400L * 1000000000L))
      .toDF("event_id", "user_id", "event_type", "value", "ts")
      .withColumn("chunk", lit(chunk.toLong))
      .withColumn("ver", concat(
        lpad(col("ts").cast("string"), 20, "0"),
        lpad(col("event_id").cast("string"), 12, "0")))
      .withColumn("tsw", Tables.tsTimestamp())
  }

  /** Stage every chunk of `staged` (chunk ids 0 until `n`) as ordered
    * single files; the file source then delivers them as `n`
    * deterministic micro-batches.
    *
    * ONE `partitionBy("chunk")` write instead of the previous persist +
    * n single-file filtered writes (guide §1.2: remove passes): the
    * source scan + derivation runs exactly once, with no cache
    * round-trip, and the n writes collapse into one job.
    * `repartition(n, col("chunk"))` routes every row of one chunk value
    * to exactly ONE task (equal values share a hash — collisions can
    * only merge two chunks into a task, never split one), and the
    * per-task parquet writer opens one file per partition value, so
    * each `chunk=c` dir holds exactly one part file (required loudly
    * below — maxRecordsPerFile-style splitting would break the
    * 1-file-per-micro-batch delivery contract). The files then move to
    * their mtime-ordered staging names exactly as before. An EMPTY
    * chunk (possible on degenerate fixtures — dirty-data runs) writes
    * no dir; it is staged as an empty file of the frame's schema, with
    * no second scan, so the staged file set, and therefore the batch
    * cadence, is unchanged.
    * A chunk value outside [from, n) — NULL included — would be written
    * to scratch and then deleted with it, so the rows would never reach
    * a micro-batch: the staging fails instead, naming the values. */
  private[streaming] def stageChunks(s: SparkSession, staged: DataFrame, staging: String,
      n: Int, baseMs: Long, from: Int = 0): Unit = {
    val fs = new org.apache.hadoop.fs.Path(staging)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val scratch = s"$staging/.write-chunks-$from"
    staged.repartition(n - from, col("chunk"))
      .write.partitionBy("chunk").parquet(scratch)
    val outside = fs.listStatus(new org.apache.hadoop.fs.Path(scratch))
      .map(_.getPath.getName).filter(_.startsWith("chunk="))
      .map(_.stripPrefix("chunk="))
      .filterNot(v => v.toIntOption.exists(c => c >= from && c < n))
    require(outside.isEmpty,
      s"staged chunk values ${outside.sorted.mkString(", ")} fall outside " +
        s"[$from, $n); their rows would never be delivered")
    (from until n).foreach { c =>
      val dir = new org.apache.hadoop.fs.Path(scratch, s"chunk=$c")
      val name = f"chunk-$c%04d.parquet"
      if (fs.exists(dir)) {
        val parts = fs.listStatus(dir)
          .map(_.getPath).filter(_.getName.startsWith("part-"))
        require(parts.length == 1,
          s"chunk $c staged as ${parts.length} files — one-file-per-" +
            "micro-batch delivery needs exactly one; check writer confs " +
            "(maxRecordsPerFile) that split partition-value files")
        val dest = new org.apache.hadoop.fs.Path(staging, name)
        require(fs.rename(parts.head, dest), s"staging rename failed for $name")
        fs.setTimes(dest, baseMs + c * 60000L, -1L)
      } else {
        // empty chunk: stage an empty single file so delivery cadence
        // (one micro-batch per chunk) survives degenerate corpora. It is
        // built from the schema alone: re-reading `staged` would rescan
        // it, and a nondeterministic frame could then disagree with the
        // partitioned write above
        writeFileAt(s, s.createDataFrame(
            java.util.Collections.emptyList[org.apache.spark.sql.Row](),
            staged.drop("chunk").schema),
          staging, name, baseMs + c * 60000L)
      }
    }
    fs.delete(new org.apache.hadoop.fs.Path(scratch), true)
    ()
  }

  /** Open the staged chunk directory as a 1-file-per-trigger stream. */
  private def chunkStream(s: SparkSession, staging: String): DataFrame = {
    val schema = s.read.parquet(staging).schema
    s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staging)
  }

  /** Run `agg` (append mode) into a parquet file sink next to `ckpt`
    * until AvailableNow drains, return a batch read of the sink. The
    * drain is entirely executor-side (the production sink shape — see
    * [[StreamAnalytics.startToParquet]]); the read-back honors the
    * sink's `_spark_metadata` commit log, and carries the agg's schema
    * explicitly so a legitimately-empty drain still binds. Callers'
    * post-processing (ordering, reshaping) then feeds
    * [[withStreamRun]]'s final executor-side result write. */
  private def drainToParquet(s: SparkSession, agg: DataFrame, ckpt: String): DataFrame = {
    val sink = new org.apache.hadoop.fs.Path(ckpt).getParent
      .suffix(s"/sink-${sinkCounter.incrementAndGet()}").toString
    StreamAnalytics.startToParquet(agg, sink, Some(ckpt)).awaitTermination()
    s.read.schema(agg.schema).parquet(sink)
  }

  /** Write `df` as the single file `staging/<name>` with modification
    * time `mtimeMs` — the file source's oldest-first ordering then
    * replays staged files in the intended delivery order. */
  private def writeFileAt(s: SparkSession, df: DataFrame, staging: String,
      name: String, mtimeMs: Long): Unit = {
    val fs = new org.apache.hadoop.fs.Path(staging)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val scratch = s"$staging/.write-$name"
    df.coalesce(1).write.parquet(scratch)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(scratch))
      .map(_.getPath).filter(_.getName.startsWith("part-")).head
    val dest = new org.apache.hadoop.fs.Path(staging, name)
    require(fs.rename(part, dest), s"staging rename failed for $name")
    fs.delete(new org.apache.hadoop.fs.Path(scratch), true)
    fs.setTimes(dest, mtimeMs, -1L)
  }

  override def defs: Seq[(String, Q)] = Seq(
    "stream_cdc_snapshot" -> Q(
      (s, dir) => withStreamRun(s, dir) { (staging, ckpt, root) =>
        // replay every 10th event into the NEXT chunk, value poisoned:
        // visible in the result iff the streaming dedup fails. The
        // replays INTERLEAVE into every chunk, so this query cannot use
        // the SHARED events corpus (linking + positioned extra files
        // would add 3 micro-batches, each costing a full MERGE commit +
        // a state-store commit round) — instead its PRIVATE replay-
        // interleaved corpus goes through the same input-staging cache:
        // still exactly 4 chunk files / 4 micro-batches, and the
        // derivation + 4-file write run once per JVM instead of once
        // per run (the bench's warmup + measure re-staged it twice).
        val sc = cachedPrechunked(s, dir, "events_cdc") {
          val (ev, mn, mx) = withChunks(eventsFrame(s, dir), "ts")
          val replays = ev.filter(col("event_id") % 10 === 3 &&
              col("chunk") < Chunks - 1)
            .withColumn("value", col("value") + lit(1.0e6d))
            .withColumn("chunk", col("chunk") + 1)
          (ev.unionByName(replays), mn, mx)
        }
        linkChunks(sc.dir, staging)
        val (mn, mx) = (sc.mn, sc.mx)

        // ---- the system under test: stream → dedup → CDC MERGE ----
        // the watermark delay must exceed the maximum replay lag (one
        // chunk span of event time) or replayed keys may be evicted
        // from dedup state before their duplicate arrives — so it is
        // DERIVED from the corpus span (+12h margin) instead of
        // hardcoding a number a larger fixture window would outgrow,
        // while still evicting state a bit more than one chunk behind
        // the frontier
        val delayMs = (mx - mn) / Chunks / 1000000L + 12L * 3600 * 1000
        // upsert contract: the MERGE key must be non-null — a NULL key
        // never matches ON t.user_id = s.user_id, so every batch would
        // re-INSERT the row instead of upserting it
        val stream = StreamAnalytics.dedupedStream(chunkStream(s, staging),
            watermark = s"$delayMs milliseconds", tsCol = "tsw")
          .filter(col("user_id").isNotNull)
          .drop("tsw")
        // compactEvery = 2: the declared stream runs inline small-file
        // maintenance and must STILL match the relational oracle — a
        // fold that dropped or duplicated a row reds this row, which is
        // what keeps the cadence honest on the hard signal
        val q = StreamAnalytics.cdcApply(stream, root, key = "user_id",
          versionCol = "ver", checkpointDir = Some(ckpt), compactEvery = 2)
        q.awaitTermination()

        val versions = graft.operators.MergeTable.versions(s, root)
        // 4 chunk files × maxFilesPerTrigger=1 → 4 MERGE commits; the
        // compactEvery=2 cadence folds after batches 2 and 4 WHEN a
        // fold has work (≥2 small files — today every MERGE commit
        // writes multiple shuffle partitions, so both folds fire and
        // versions ≥ 6). Gate on the OBSERVABLE, not the mechanism: at
        // least the 4 commits, and either the folds fired or the live
        // file count is already at the folded bound — so a future
        // writer that coalesces each commit to one file (AQE, config)
        // reads as "compaction not needed", not a red row, while a
        // cadence that silently stops firing against a fragmented
        // table still fails loudly.
        require(versions.length >= 4,
          s"expected 4 MERGE commits (4 chunks × maxFilesPerTrigger=1), " +
            s"got ${versions.length} versions")
        val folds = versions.length - 4
        val live = graft.operators.MergeTable.liveFiles(s, root).count()
        require(folds >= 2 || live <= 4,
          s"compaction cadence dead: $folds folds fired yet $live live " +
            s"files remain (single-file commits would leave ≤4)")
        graft.operators.MergeTable.snapshot(s, root)
          .groupBy(col("event_type").as("last_event_type"))
          .agg(count(lit(1)).as("n_users"),
            sum(col("event_id")).as("eid_sum"),
            // epoch SECONDS: a nanos sum overflows int64 past ~5 rows
            sum(expr("ts div 1000000000")).as("ts_sum"),
            min(col("value")).as("min_value"),
            max(col("value")).as("max_value"))
          .orderBy(col("last_event_type"))
      },
      Some("""WITH ranked AS (
             |  SELECT user_id, event_id, event_type, value, epoch_ns(ts) AS tsn,
             |         row_number() OVER (PARTITION BY user_id
             |             ORDER BY epoch_ns(ts) DESC, event_id DESC) AS rn
             |  -- mirrors the stream's declared quarantines: event time
             |  -- required, upsert key non-null
             |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL)
             |SELECT event_type AS last_event_type, count(*) AS n_users,
             |  CAST(sum(event_id) AS BIGINT) AS eid_sum,
             |  CAST(sum(tsn // 1000000000) AS BIGINT) AS ts_sum,
             |  min(value) AS min_value, max(value) AS max_value
             |FROM ranked WHERE rn = 1 GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = "multi-batch AvailableNow stream -> watermarked dedup -> foreachBatch CDC MERGE; final table snapshot vs relational replay"),

    /** Streaming WINDOWED AGGREGATION on the hard signal, with the
      * watermark's late-data drop load-bearing: poisoned copies of
      * first-chunk rows are delivered in the LAST micro-batch, ≈3 chunk
      * spans (weeks of event time) later than the 1-hour watermark
      * allows — a correct engine drops every one before it can corrupt
      * an already-finalized window; the oracle replays the agg over the
      * ORIGINAL rows only. A failure to drop inflates counts/sums or
      * re-emits a duplicate window row — either turns the row red.
      *
      * Delivery margin matters because Spark filters late rows against
      * the PREVIOUS batch's watermark while evicting against the
      * current one (the two-watermark split of SPARK-24634; pinned
      * empirically by WatermarkProbe): a poison delivered in batch b is
      * dropped iff its window end ≤ maxEventTime(batches ≤ b−2) − delay.
      * Delivered with the sentinel, the cutoff is maxTs(chunks 0..2)−1h
      * — about two chunk spans past any first-chunk window end — so the
      * drop is guaranteed at every SF, not just when no event falls in
      * the last hour of a chunk (a 2-chunk delivery leaked exactly one
      * such row at sf0.001). The sentinel chunk also pushes the final
      * watermark past every real window end so append mode flushes all
      * of them before AvailableNow terminates. */
    "stream_windowed_volume" -> Q(
      (s, dir) => withStreamRun(s, dir) { (staging, ckpt, _) =>
        val sc = eventsCorpus(s, dir)
        linkChunks(sc.dir, staging)
        val ev = readStaged(s, sc, "ts")
        val late = ev.filter(col("event_id") % 7 === 2 && col("chunk") === 0)
          .withColumn("value", col("value") + lit(1.0e6d))
          .withColumn("chunk", lit(Chunks.toLong))
        // late poison + sentinel share one extra file after the last
        // base chunk — the same final-batch delivery as before caching
        stageExtrasCached(s, dir, "events_wv_extras", staging, sc.baseMs)(
          late.unionByName(sentinel(s, sc.mx, Chunks)))

        val stream = chunkStream(s, staging).drop("ts")
          .withColumnRenamed("tsw", "ts")
        val agg = StreamAnalytics.windowedVolume(stream,
          width = "1 hour", watermark = "1 hour")
        drainToParquet(s, agg, ckpt)
          .select(unix_micros(col("window_start")).as("ws_us"),
            col("event_type"), col("cnt"), col("total_value"))
          .orderBy(col("ws_us"), col("event_type"))
      },
      Some("""SELECT ((epoch_ns(ts) // 1000) // 3600000000) * 3600000000 AS ws_us,
             |  event_type, CAST(count(*) AS BIGINT) AS cnt,
             |  sum(value) AS total_value
             |-- ts IS NOT NULL mirrors the stream's event-time quarantine
             |FROM events WHERE ts IS NOT NULL GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      doc = "streaming tumbling-window agg, append mode; late poison rows must be watermark-dropped; emitted windows vs batch replay"),

    /** HOPPING (sliding) windows on the hard signal — the third window
      * family next to tumbling and session: width 2 h, slide 1 h, so
      * every event belongs to exactly TWO overlapping windows (starts
      * at hourFloor(t) and hourFloor(t) − 1 h). The oracle replays the
      * multi-window assignment with a 2-row unnest per event — an
      * engine that assigned events to one window, mis-aligned the
      * hop, or double-flushed an overlapping window diverges on
      * counts, sums, or window starts. The far-future sentinel pushes
      * the final watermark past every real window end so append mode
      * flushes all of them (both hops) before AvailableNow stops. */
    "stream_hopping_volume" -> Q(
      (s, dir) => withStreamRun(s, dir) { (staging, ckpt, _) =>
        val sc = eventsCorpus(s, dir)
        linkChunks(sc.dir, staging)
        stageExtrasCached(s, dir, "events_sentinel", staging, sc.baseMs)(
          sentinel(s, sc.mx, Chunks))
        val stream = chunkStream(s, staging).drop("ts")
          .withColumnRenamed("tsw", "ts")
        val agg = StreamAnalytics.windowedVolume(stream,
          width = "2 hours", slide = Some("1 hour"), watermark = "1 hour")
        drainToParquet(s, agg, ckpt)
          .select(unix_micros(col("window_start")).as("ws_us"),
            col("event_type"), col("cnt"), col("total_value"))
          .orderBy(col("ws_us"), col("event_type"))
      },
      Some("""WITH e AS (
             |  SELECT event_type, value, epoch_ns(ts) // 1000 AS tus
             |  -- ts IS NOT NULL mirrors the stream's event-time quarantine
             |  FROM events WHERE ts IS NOT NULL),
             |hopped AS (
             |  SELECT ((tus // 3600000000) - i) * 3600000000 AS ws_us,
             |    event_type, value
             |  FROM e, UNNEST([0, 1]) AS u(i))
             |SELECT ws_us, event_type, CAST(count(*) AS BIGINT) AS cnt,
             |  sum(value) AS total_value
             |FROM hopped GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      doc = "hopping windows (width 2h, slide 1h): every event in exactly two overlapping windows vs a 2-row unnest replay"),

    /** Streaming SESSION WINDOWS on the hard signal: 6-hour-gap
      * sessions per user, built incrementally across 4 ts-ordered
      * micro-batches — sessions spanning a chunk boundary exercise the
      * cross-batch session-merge state path. The oracle replays
      * gaps-and-islands sessionization relationally with the probed
      * boundary convention (events exactly `gap` apart MERGE; session
      * end = last event + gap — SessionGapProbe pinned both). */
    "stream_sessionize" -> Q(
      (s, dir) => withStreamRun(s, dir) { (staging, ckpt, _) =>
        val sc = eventsCorpus(s, dir)
        linkChunks(sc.dir, staging)
        stageExtrasCached(s, dir, "events_sentinel", staging, sc.baseMs)(
          sentinel(s, sc.mx, Chunks))

        val stream = chunkStream(s, staging).drop("ts")
          .withColumnRenamed("tsw", "ts")
        val agg = StreamAnalytics.sessionActivity(stream,
          keyCol = "user_id", gap = "6 hours", watermark = "1 hour")
        drainToParquet(s, agg, ckpt)
          .select(col("user_id"),
            unix_micros(col("session_start")).as("session_start_us"),
            unix_micros(col("session_end")).as("session_end_us"),
            col("n_events"), col("session_value"))
          .orderBy(col("user_id"), col("session_start_us"))
      },
      Some(s"""WITH e AS (
             |  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS tus, value
             |  -- ts IS NOT NULL mirrors the stream's event-time quarantine
             |  FROM events WHERE ts IS NOT NULL),
             |flagged AS (
             |  SELECT user_id, event_id, tus, value,
             |    CASE WHEN lag(tus) OVER w IS NULL
             |              OR tus - lag(tus) OVER w > ${6L * 3600L * 1000000L}
             |         THEN 1 ELSE 0 END AS new_sess
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
             |sess AS (
             |  SELECT user_id, tus, value,
             |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY tus, event_id
             |      ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM flagged)
             |SELECT user_id, min(tus) AS session_start_us,
             |  max(tus) + ${6L * 3600L * 1000000L} AS session_end_us,
             |  CAST(count(*) AS BIGINT) AS n_events,
             |  sum(value) AS session_value
             |FROM sess GROUP BY user_id, sid
             |ORDER BY user_id, session_start_us""".stripMargin),
      doc = "streaming session_window (6h gap) across 4 micro-batches; cross-batch session merge vs gaps-and-islands replay"),

    /** CUSTOM KEYED STATE (`flatMapGroupsWithState`) on the hard
      * signal: per-user running (count, value) totals accumulated
      * across all 4 micro-batches. The declared result keeps each
      * key's FINAL emission (total_events is strictly increasing per
      * emission, so max_by is unambiguous); any state loss between
      * batches — the failure mode checkpointed keyed state exists to
      * prevent — leaves a key's final total at a partial value and
      * turns the row red against the batch replay. */
    "stream_running_totals" -> Q(
      (s, dir) => withStreamRun(s, dir) { (staging, ckpt, _) =>
        linkChunks(eventsCorpus(s, dir).dir, staging)

        import s.implicits._
        // coalesce BEFORE the typed boundary: KeyedEvent.value is a
        // primitive Double, so one NULL value would throw
        // NOT_NULL_ASSERT_VIOLATION and kill the stream. Folding NULL
        // to +0.0 equals the oracle's sum(value) (which skips NULLs)
        // while the row still counts toward total_events on both sides.
        val keyed = chunkStream(s, staging)
          .select(col("user_id").cast("string").as("key"),
            coalesce(col("value"), lit(0.0)).as("value"))
          .as[KeyedEvent]
        val totals = StreamAnalytics.runningTotals(keyed).toDF()
        drainToParquet(s, totals, ckpt)
          .groupBy(col("key"))
          .agg(max(col("total_events")).as("total_events"),
            max_by(col("total_value"), col("total_events")).as("total_value"))
          .orderBy(col("key"))
      },
      Some("""SELECT CAST(user_id AS VARCHAR) AS key,
             |  CAST(count(*) AS BIGINT) AS total_events,
             |  coalesce(sum(value), 0.0) AS total_value
             |-- ts IS NOT NULL mirrors the stream's event-time quarantine
             |FROM events WHERE ts IS NOT NULL GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = "flatMapGroupsWithState running totals across micro-batches; final per-key state vs batch groupBy replay"),

    /** STREAM-STREAM INTERVAL JOIN on the hard signal: clicks in the
      * hour before each purchase, both sides watermarked so join state
      * is bounded (the requirement for an unbounded deployment).
      * Cross-chunk matches (a click late in chunk k matching a purchase
      * early in chunk k+1) exercise the buffered-state path: the 2-hour
      * watermark exceeds the 1-hour join reach, so no buffered click is
      * evicted before its last possible partner arrives. Poisoned
      * copies of first-chunk clicks delivered weeks later must produce
      * NO extra pairs: the late filter drops them, and even a broken
      * late filter finds their partners' state evicted — only both
      * mechanisms failing together turns the row red. The join compares
      * TimestampType (micros), so the oracle replays the condition in
      * micros, not nanos. */
    "stream_interval_join" -> Q(
      (s, dir) => withStreamRun(s, dir) { (staging, ckpt, _) =>
        val sc = eventsCorpus(s, dir)
        linkChunks(sc.dir, staging)
        val poison = readStaged(s, sc, "ts")
          .filter(col("event_id") % 5 === 1 &&
            col("chunk") === 0 && col("event_type") === "click")
          .withColumn("chunk", lit(Chunks.toLong))
        stageExtrasCached(s, dir, "events_ij_poison", staging, sc.baseMs)(
          poison)

        val stream = chunkStream(s, staging).drop("ts")
          .withColumnRenamed("tsw", "ts")
        val joined = StreamAnalytics.purchaseClickJoin(stream, watermark = "2 hours")
          .select(col("purchase_id"), col("click_id"),
            unix_micros(col("pts")).as("p_us"), unix_micros(col("cts")).as("c_us"))
        drainToParquet(s, joined, ckpt)
          .orderBy(col("purchase_id"), col("click_id"))
      },
      Some("""WITH p AS (
             |  SELECT event_id AS purchase_id, user_id, epoch_ns(ts) // 1000 AS p_us
             |  FROM events WHERE event_type = 'purchase'),
             |c AS (
             |  SELECT event_id AS click_id, user_id, epoch_ns(ts) // 1000 AS c_us
             |  FROM events WHERE event_type = 'click')
             |SELECT p.purchase_id, c.click_id, p.p_us, c.c_us
             |FROM p JOIN c ON p.user_id = c.user_id
             |  AND c.c_us >= p.p_us - 3600000000 AND c.c_us < p.p_us
             |ORDER BY p.purchase_id, c.click_id""".stripMargin),
      doc = "watermarked stream-stream interval join (clicks in the hour before each purchase); bounded state, poisoned late clicks must not re-match"),

    /** STREAM-STREAM LEFT OUTER INTERVAL JOIN on the hard signal: the
      * inner join above plus the semantics that make outer joins the
      * subtle streaming operator — an unmatched purchase emits ONCE,
      * null-padded, at WATERMARK EXPIRY (when the click watermark
      * passes its pts, proving no partner can still arrive), not on any
      * input event. Two far-future sentinels ride the final
      * micro-batch: a sentinel CLICK advances the click-side node so
      * every real unmatched purchase flushes before AvailableNow
      * terminates, and a sentinel PURCHASE advances the purchase-side
      * node (the global watermark is the MIN of the two — one sentinel
      * alone pins it at the real corpus frontier and the tail of
      * unmatched purchases would be withheld forever). Neither sentinel
      * reaches the output: the sentinel click is an unmatched RIGHT row
      * (left-outer emits no unmatched rights), and the sentinel
      * purchase's own expiry point lies past the final watermark by
      * construction. The differential teeth cut both ways: a flush
      * failure (missing no-data batch, one-sided sentinel, eager state
      * eviction) LOSES null rows or matched pairs, and a double-emit
      * (an outer row for a purchase that also matched) ADDS rows — the
      * LEFT JOIN replay reds either. */
    "stream_interval_join_outer" -> Q(
      (s, dir) => withStreamRun(s, dir) { (staging, ckpt, _) =>
        val sc = eventsCorpus(s, dir)
        linkChunks(sc.dir, staging)
        stageExtrasCached(s, dir, "events_sentinel2", staging, sc.baseMs)(
          sentinel(s, sc.mx, Chunks, eventType = "purchase", eventId = -1L)
            .unionByName(sentinel(s, sc.mx, Chunks, eventType = "click",
              eventId = -2L)))

        val stream = chunkStream(s, staging).drop("ts")
          .withColumnRenamed("tsw", "ts")
        val joined = StreamAnalytics.purchaseClickJoin(stream,
            watermark = "2 hours", joinType = "left_outer")
          .select(col("purchase_id"), col("click_id"),
            unix_micros(col("pts")).as("p_us"), unix_micros(col("cts")).as("c_us"))
        drainToParquet(s, joined, ckpt)
          .orderBy(col("purchase_id"), col("click_id"))
      },
      Some("""WITH p AS (
             |  SELECT event_id AS purchase_id, user_id, epoch_ns(ts) // 1000 AS p_us
             |  FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL),
             |c AS (
             |  SELECT event_id AS click_id, user_id, epoch_ns(ts) // 1000 AS c_us
             |  FROM events WHERE event_type = 'click' AND ts IS NOT NULL)
             |SELECT p.purchase_id, c.click_id, p.p_us, c.c_us
             |FROM p LEFT JOIN c ON p.user_id = c.user_id
             |  AND c.c_us >= p.p_us - 3600000000 AND c.c_us < p.p_us
             |ORDER BY p.purchase_id, c.click_id""".stripMargin),
      doc = "left-outer stream-stream interval join: unmatched purchases emit null-padded at watermark expiry; dual sentinels advance the min-of-both global watermark"),

    /** FULL OUTER completion of the interval-join family: unmatched
      * PURCHASES emit null-padded when the click watermark passes their
      * pts (as in the left-outer twin), and unmatched CLICKS emit
      * null-padded when the purchase watermark passes cts + 1h — the
      * latest pts that could still match them (the condition is
      * cts < pts ≤ cts + 1h, so a right row's expiry point trails its
      * event time by the full join reach). The SAME dual sentinels
      * drain both sides; both stay withheld — each sentinel's own
      * expiry point lies past the final watermark by construction. */
    "stream_interval_join_full" -> Q(
      (s, dir) => withStreamRun(s, dir) { (staging, ckpt, _) =>
        val sc = eventsCorpus(s, dir)
        linkChunks(sc.dir, staging)
        stageExtrasCached(s, dir, "events_sentinel2", staging, sc.baseMs)(
          sentinel(s, sc.mx, Chunks, eventType = "purchase", eventId = -1L)
            .unionByName(sentinel(s, sc.mx, Chunks, eventType = "click",
              eventId = -2L)))
        val stream = chunkStream(s, staging).drop("ts")
          .withColumnRenamed("tsw", "ts")
        val joined = StreamAnalytics.purchaseClickJoin(stream,
            watermark = "2 hours", joinType = "full_outer")
          .select(col("purchase_id"), col("click_id"),
            unix_micros(col("pts")).as("p_us"), unix_micros(col("cts")).as("c_us"))
        drainToParquet(s, joined, ckpt)
          .orderBy(col("purchase_id"), col("click_id"))
      },
      Some("""WITH p AS (
             |  SELECT event_id AS purchase_id, user_id, epoch_ns(ts) // 1000 AS p_us
             |  FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL),
             |c AS (
             |  SELECT event_id AS click_id, user_id, epoch_ns(ts) // 1000 AS c_us
             |  FROM events WHERE event_type = 'click' AND ts IS NOT NULL)
             |SELECT p.purchase_id, c.click_id, p.p_us, c.c_us
             |FROM p FULL OUTER JOIN c ON p.user_id = c.user_id
             |  AND c.c_us >= p.p_us - 3600000000 AND c.c_us < p.p_us
             |ORDER BY p.purchase_id, c.click_id""".stripMargin),
      doc = "full-outer stream-stream interval join: both sides' unmatched rows emit null-padded at their own expiry points"),

    /** STREAM-STATIC ENRICHMENT on the hard signal: each micro-batch
      * left-joins a BROADCAST static dim (per-user activity cohort,
      * derived once from the batch table with integer thresholds), then
      * feeds the one allowed streaming aggregation — daily tumbling
      * counts per cohort. The canonical production shape: a stateless
      * dim join (no watermark requirement, no join state) composed
      * under a stateful windowed agg. NULL-user events stay NULL-cohort
      * on BOTH engines (a join on a null key matches nothing even
      * though the dim carries a null-user row — the oracle's LEFT JOIN
      * has identical semantics), and the far-future sentinel flushes
      * every real day window while its own never closes. An enrichment
      * that drops unmatched events, double-counts under the broadcast,
      * or re-derives the dim per-batch differently reds the counts. */
    "stream_static_enrich" -> Q(
      (s, dir) => withStreamRun(s, dir) { (staging, ckpt, _) =>
        val sc = eventsCorpus(s, dir)
        linkChunks(sc.dir, staging)
        stageExtrasCached(s, dir, "events_sentinel", staging, sc.baseMs)(
          sentinel(s, sc.mx, Chunks))
        val dim = graft.Tables.events(s, dir).filter(col("ts").isNotNull)
          .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
          .select(col("user_id"),
            when(col("n") >= 20L, lit("heavy"))
              .when(col("n") >= 5L, lit("mid"))
              .otherwise(lit("light")).as("cohort"))
        val stream = chunkStream(s, staging).drop("ts")
          .withColumnRenamed("tsw", "ts")
        val agg = StreamAnalytics.enrichWithDim(stream, dim, "user_id")
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 day").as("w"), col("cohort"))
          .agg(count(lit(1)).as("cnt"), sum(col("event_id")).as("eid_sum"))
          .select(unix_micros(col("w.start")).as("day_us"), col("cohort"),
            col("cnt"), col("eid_sum"))
        drainToParquet(s, agg, ckpt).orderBy(col("day_us"), col("cohort"))
      },
      Some("""WITH dim AS (
             |  SELECT user_id,
             |    CASE WHEN count(*) >= 20 THEN 'heavy'
             |         WHEN count(*) >= 5 THEN 'mid' ELSE 'light' END AS cohort
             |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
             |e AS (
             |  SELECT user_id, event_id, epoch_ns(ts) AS tsn
             |  FROM events WHERE ts IS NOT NULL)
             |SELECT ((e.tsn // 1000) // 86400000000) * 86400000000 AS day_us,
             |  d.cohort, CAST(count(*) AS BIGINT) AS cnt,
             |  CAST(sum(e.event_id) AS BIGINT) AS eid_sum
             |FROM e LEFT JOIN dim d ON e.user_id = d.user_id
             |GROUP BY 1, 2 ORDER BY 1, 2 NULLS FIRST""".stripMargin),
      doc = "stream-static broadcast dim enrichment under a daily windowed agg; null-key events keep a null cohort on both engines"),

    /** STREAMING INCREMENTAL DEDUP on the hard signal: documents arrive
      * in 4 doc_id-ordered micro-batches; each document's MinHash band
      * keys (JVM twin of the batch band pipeline — parity spec'd in
      * ExtSpec) probe per-band-key state capped at 8 postings, emitting
      * candidate pairs on arrival. Because arrival order (batch, then
      * sorted within batch) IS global doc_id order here, the oracle
      * replays the cap relationally: per band key, rank docs by doc_id,
      * admit the first 8, pair each admitted doc with every
      * earlier-admitted one. A cap that leaks (boilerplate bucket not
      * silenced), state lost between batches, or banding drift all
      * change the pair set → red. */
    "stream_band_dedup" -> Q(
      (s, dir) => withStreamRun(s, dir) { (staging, ckpt, _) =>
        import s.implicits._
        linkChunks(cachedCorpus(s, dir, "documents", "doc_id") {
          Tables.documents(s, dir).select(col("doc_id"), col("text"))
        }.dir, staging)

        // each chunk is ONE parquet file = one input partition, so the
        // per-doc MinHash (4 MD5s per shingle) would run single-core per
        // batch; repartition fans the map work out before the banding —
        // per-band-key state processing is order-canonicalized inside
        // the group handler, so partitioning cannot change the output
        // (10× rehearsal: 104 s single-core → 25 s fanned, identical output)
        val stream = chunkStream(s, staging)
          .repartition(StreamShufflePartitions).as[DocText]
        val cands = StreamAnalytics.streamingBandDedup(stream, maxPostings = 8)
          .toDF()
        drainToParquet(s, cands, ckpt)
          .select(col("partner_doc").as("d1"), col("doc_id").as("d2"))
          .distinct()
          .orderBy(col("d1"), col("d2"))
      },
      Some(s"""WITH sh AS (${graft.ext.Dedup.dShingleRowsSql}),
             |${graft.ext.Dedup.dBandCtes("sh")},
             |ranked AS (
             |  SELECT doc_id, band_idx, band_key,
             |    row_number() OVER (PARTITION BY band_idx, band_key
             |      ORDER BY doc_id) AS rn
             |  FROM bands),
             |adm AS (SELECT * FROM ranked WHERE rn <= 8)
             |SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
             |FROM adm a JOIN adm b
             |  ON a.band_idx = b.band_idx AND a.band_key = b.band_key
             |  AND a.rn < b.rn
             |ORDER BY d1, d2""".stripMargin),
      doc = "streaming MinHash band dedup across micro-batches; capped per-key state vs rank-capped relational replay"),

    /** STREAMING MODEL-APPLY QUALITY SCORING — the production shape of
      * `prep_classifier_score`: the vocab-bounded model (4096 integer
      * bucket weights) is a stored artifact trained batch-side, and the
      * stream scores each arriving document as PURE MAP work — one
      * literal-map fold per row (the literal-centroid pattern of
      * `stream_ivf_assign`), no join, no aggregation, no state. The
      * per-doc score is the SAME integer Σ tf·w as the batch query:
      * folding w[bucket(t)] over every token occurrence IS the
      * tf-weighted dot product, so the differential pins stream ≡ batch
      * bit-for-bit.
      *
      * Differential teeth: a NULL-text and an empty-text document ride
      * the final micro-batch — both token-less, both must be dropped by
      * the stream's explicit guard exactly as the batch pipeline's
      * explode (and the oracle's UNNEST) drops them; any engine that
      * scored them 0 instead would add rows → red. */
    "stream_classifier_score" -> Q(
      (s, dir) => withStreamRun(s, dir) { (staging, ckpt, _) =>
        import s.implicits._
        val model = graft.ext.TrainPrep
          .classifierModel(Tables.documents(s, dir))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        linkChunks(cachedCorpus(s, dir, "documents_scored", "doc_id") {
          Tables.documents(s, dir)
            .select(col("doc_id"), col("source"), col("text"))
        }.dir, staging)
        val dirty = Seq((-1L, "planted", null.asInstanceOf[String]),
            (-2L, "planted", ""))
          .toDF("doc_id", "source", "text")
          .withColumn("chunk", lit(Chunks.toLong))
        stageExtrasCached(s, dir, "docs_scored_dirty", staging,
          stagedCache.get((dir, "documents_scored")).baseMs)(dirty)
        val wmap = typedlit(model)
        val toks = expr(graft.ext.TextAnalytics.tokExpr)
        val scored = chunkStream(s, staging)
          // token-less docs (null/empty text) leave the population here,
          // mirroring the batch explode / oracle UNNEST drop
          .filter(size(toks) >= 1)
          .select(col("doc_id"), col("source"),
            aggregate(toks, lit(0L), (acc, t) =>
              acc + coalesce(element_at(wmap,
                graft.ext.Dedup.h60(t) % graft.ext.TrainPrep.ClassifierBuckets),
                lit(0L))).as("score"))
          .withColumn("kept", col("score") >= 0L)
        drainToParquet(s, scored, ckpt).orderBy(col("doc_id"))
      },
      Some(s"""WITH ${graft.ext.TrainPrep.dClassifierCtes}
             |SELECT doc_id, source, CAST(score AS BIGINT) AS score,
             |  score >= 0 AS kept
             |FROM sc ORDER BY doc_id""".stripMargin),
      doc = "streaming model-apply scoring: batch-trained 4096-bucket linear model folded as a literal map, map-only per-row integer dot; token-less planted docs dropped identically on both engines"),

    /** STREAMING IVF INDEX MAINTENANCE on the hard signal: embeddings
      * arrive in 4 vec_id-ordered micro-batches and are assigned to
      * their max-cosine corpus-label centroid as PURE MAP work (the
      * literal-centroid fold of `assignToCells` — no join, no
      * aggregation, the shape that lets a production ingest chain the
      * one streaming aggregation Spark allows on top). The oracle
      * replays the argmax with the exact batch SQL formulas (Q24
      * centroids, list_dot_product cosine, ties to the smaller cell). A
      * planted zero-norm row rides the final micro-batch: its cosine
      * folds to NaN, which Spark comparisons rank ABOVE every value, so
      * only the explicit NaN quarantine keeps it out of a real cell —
      * the oracle pins it to the sentinel cell −1, making the
      * quarantine load-bearing rather than decorative. */
    "stream_ivf_assign" -> Q(
      (s, dir) => withStreamRun(s, dir) { (staging, ckpt, _) =>
        graft.plans.GraftExtensions.register(s) // vector_cosine in the fold
        val cents = graft.ext.Similarity.labelCentroids(s, dir)
        val sc = embeddingsCorpus(s, dir)
        linkChunks(sc.dir, staging)
        import s.implicits._
        val dirty = Seq((-1L, Array.fill(cents.head._2.length)(0.0d)))
          .toDF("vec_id", "v")
          .withColumn("chunk", lit(Chunks.toLong))
        stageExtrasCached(s, dir, "emb_ivf_dirty", staging, sc.baseMs)(dirty)

        val assigned = StreamAnalytics
          .assignToCells(chunkStream(s, staging), cents)
          .select(col("vec_id"), col("cell"))
        drainToParquet(s, assigned, ckpt).orderBy(col("vec_id"))
      },
      Some(s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
             |cents AS (
             |  ${graft.ext.Similarity.dCentroidsSql("e", "label", "cell")}),
             |scored AS (
             |  SELECT e.vec_id, c.cell,
             |    ${graft.ext.Similarity.dCosSql("e.v", "c.centroid")} AS cos
             |  FROM e CROSS JOIN cents c),
             |asg AS (
             |  SELECT vec_id, CAST(cell AS BIGINT) AS cell FROM (
             |    SELECT vec_id, cell,
             |      ROW_NUMBER() OVER (PARTITION BY vec_id
             |        ORDER BY cos DESC, cell NULLS FIRST) AS rk
             |    -- the engine's per-candidate NaN quarantine, mirrored: a
             |    -- degenerate (zero-norm) centroid's NaN/NULL cosine must
             |    -- cost that CANDIDATE, never rank first. LOAD-BEARING:
             |    -- DuckDB orders NaN GREATER than every value, so under
             |    -- ORDER BY cos DESC an unfiltered NaN would rank FIRST
             |    -- and win every vec_id — do not drop this as redundant
             |    FROM scored WHERE cos IS NOT NULL AND NOT isnan(cos))
             |  WHERE rk = 1)
             |SELECT vec_id, cell FROM asg
             |UNION ALL SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT)
             |ORDER BY vec_id""".stripMargin),
      doc = "streaming IVF cell assignment (map-only literal-centroid argmax) vs SQL argmax replay; planted zero-norm row must quarantine to cell -1"),

    /** STREAMING PQ ENCODING on the hard signal: embeddings arrive in 4
      * vec_id-ordered micro-batches and are encoded to M=8 PQ code ids
      * against the one-Lloyd-step codebook (a literal — M·K tiny rows),
      * as PURE MAP work per row. The oracle re-derives the SAME
      * codebook with the batch SQL CTEs (seed codes → assignment → Q24
      * centroid step) and replays the per-subspace argmin (ties to the
      * smaller code id). A planted all-NaN row rides the final
      * micro-batch: NaN ranks above +Infinity in Spark comparisons, so
      * it never wins the strict `<` argmin and must keep the −1
      * sentinel in EVERY subspace — the oracle pins those 8 rows. */
    "stream_pq_encode" -> Q(
      (s, dir) => withStreamRun(s, dir) { (staging, ckpt, _) =>
        graft.plans.GraftExtensions.register(s) // vector_dot in the fold
        val cb = graft.ext.Similarity.trainedPqCodebookOf(s, dir)
        val dims = graft.ext.Similarity.PqSubspaces * graft.ext.Similarity.PqSubDim
        val sc = embeddingsCorpus(s, dir)
        linkChunks(sc.dir, staging)
        import s.implicits._
        val dirty = Seq((-1L, Array.fill(dims)(Double.NaN)))
          .toDF("vec_id", "v")
          .withColumn("chunk", lit(Chunks.toLong))
        stageExtrasCached(s, dir, "emb_pq_dirty", staging, sc.baseMs)(dirty)

        val encoded = StreamAnalytics.encodePq(chunkStream(s, staging), cb,
          graft.ext.Similarity.PqSubDim)
          .select(col("vec_id"), col("codes"))
        drainToParquet(s, encoded, ckpt)
          .select(col("vec_id"), posexplode(col("codes")))
          .select(col("vec_id"), col("pos").cast("long").as("m"),
            col("col").as("code"))
          .orderBy(col("vec_id"), col("m"))
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
             |${graft.ext.Similarity.dPqSubSql},
             |${graft.ext.Similarity.dPqCb0Sql},
             |${graft.ext.Similarity.dPqAssignSql("asg", "cb0")},
             |${graft.ext.Similarity.dPqCentsSql},
             |cb AS (SELECT m, code_id, centroid AS cv FROM cents),
             |${graft.ext.Similarity.dPqAssignSql("enc", "cb")}
             |SELECT vec_id, m, code_id AS code FROM enc
             |UNION ALL
             |SELECT CAST(-1 AS BIGINT), gs.m, CAST(-1 AS INTEGER)
             |FROM generate_series(0, ${graft.ext.Similarity.PqSubspaces - 1}) AS gs(m)
             |ORDER BY vec_id, m""".stripMargin),
      doc = "streaming PQ encode (map-only literal-codebook argmin) vs batch codebook SQL replay; planted NaN row must keep -1 codes"),

    /** The NATIVE DSv2 BLOCK SOURCE on the hard signal — the reference's
      * actual incremental loop (src/incremental.rs:34-105: poll tip →
      * fetch slot batch → parse → upsert) with Spark's own machinery at
      * every stage: `BlockMicroBatchStream` manages SLOT OFFSETS as the
      * streaming offsets (S2/ST2), `maxSlotsPerTrigger` admission packs
      * the 200-slot range into exactly 4 micro-batches (S7/ST5), each
      * batch runs the single-pass block→event fan-out
      * ([[graft.ingest.Parse.toEvents]]) and lands as one CDC MERGE
      * commit on the lake table (S8), and the declared result is the
      * final table snapshot.
      *
      * Differential teeth: the oracle re-parses the SAME blocks (the
      * deterministic synthetic RPC stand-in, materialized to parquet for
      * DuckDB) with an independent JSON SQL implementation of all three
      * event families — so a broken offset range (missing/overlapping
      * slots), a dropped parse branch, or a lost MERGE commit all turn
      * the row red — and `n_batches` pins the ADMISSION CADENCE itself:
      * it is the table's version-log length, so a source that ignores
      * `maxSlotsPerTrigger` (1 giant batch) or over-fragments (1 batch
      * per slot) diverges from the oracle's literal 4 even when the
      * final rows are right. */
    "stream_block_ingest" -> Q(
      (s, dir) => withStreamRun(s, dir) { (_, ckpt, root) =>
        import graft.ingest.IngestQueries
        // materialize the identical slot range for the oracle's re-parse
        // (the stream itself reads the native source, never this parquet)
        IngestQueries.materializedBlocks(s)

        // The oracle pins n_batches to the LITERAL Chunks; floor division
        // here would silently admit an extra remainder batch if the slot
        // range ever stopped dividing evenly — fail at plan-build instead.
        require((IngestQueries.TipSlot - IngestQueries.FirstSlot) % Chunks == 0,
          s"slot range ${IngestQueries.FirstSlot}..${IngestQueries.TipSlot} must divide " +
            s"evenly into $Chunks admission batches to match the oracle's n_batches pin")
        val perTrigger = (IngestQueries.TipSlot - IngestQueries.FirstSlot) / Chunks
        val raw = s.readStream.format("graft.sources.BlockSource")
          .option("startSlot", IngestQueries.FirstSlot)
          .option("tipSlot", IngestQueries.TipSlot)
          .option("workers", 8)
          .option("maxSlotsPerTrigger", perTrigger)
          .load()
        // dedup=false: event ids are unique per slot by construction and
        // slots never repeat across offset ranges, so batch-scoped
        // last-write-wins inside cdcApply is the full replay-absorption
        // story — an unbounded stateful dropDuplicates would grow state
        // with every event ever seen (see Parse.toEvents)
        val events = graft.ingest.Parse.parse(raw, dedup = false)
        StreamAnalytics.cdcApply(events, root, key = "event_id",
          versionCol = "slot", checkpointDir = Some(ckpt))
          .awaitTermination()

        val versions = graft.operators.MergeTable.versions(s, root)
        graft.operators.MergeTable.snapshot(s, root)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            countDistinct(col("tx_signature")).as("n_txs"),
            countDistinct(col("slot")).as("n_slots"),
            min(col("slot")).as("min_slot"),
            max(col("slot")).as("max_slot"))
          .withColumn("n_batches", lit(versions.length))
          .orderBy(col("event_type"))
      },
      Some(s"""WITH ${graft.ingest.IngestQueries.dTxs},
             |valid AS (SELECT * FROM sigtxs WHERE sig IS NOT NULL),
             |tx_events AS (
             |  SELECT slot, sig, 'transaction' AS event_type FROM valid),
             |ins AS (
             |  SELECT slot, sig,
             |    unnest(CAST(json_extract(tx, '$$.transaction.message.instructions') AS JSON[])) AS i
             |  FROM valid),
             |ins_events AS (
             |  SELECT slot, sig,
             |    CASE WHEN json_extract_string(i, '$$.programId') IN (${graft.ingest.IngestQueries.tokenList})
             |      THEN '${graft.model.Schemas.EvTokenInstruction}'
             |      ELSE '${graft.model.Schemas.EvProgramInstruction}' END AS event_type
             |  FROM ins WHERE json_extract_string(i, '$$.programId') IS NOT NULL),
             |bal AS (
             |  SELECT slot, sig,
             |    unnest(CAST(json_extract(tx, '$$.meta.postTokenBalances') AS JSON[])) AS b
             |  FROM valid),
             |transfer_events AS (
             |  SELECT slot, sig, '${graft.model.Schemas.EvTokenTransfer}' AS event_type
             |  FROM bal WHERE json_extract_string(b, '$$.mint') IS NOT NULL),
             |events AS (
             |  SELECT * FROM tx_events
             |  UNION ALL SELECT * FROM ins_events
             |  UNION ALL SELECT * FROM transfer_events)
             |SELECT event_type, count(*) AS n_events,
             |  count(DISTINCT sig) AS n_txs, count(DISTINCT slot) AS n_slots,
             |  min(slot) AS min_slot, max(slot) AS max_slot,
             |  ${Chunks} AS n_batches
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = "native DSv2 slot-offset source -> admission-controlled micro-batches -> parse fan-out -> CDC MERGE; snapshot + commit cadence vs JSON re-parse"),

    /** The telemetry surface under CONTINUOUS ingest — how product
      * telemetry actually arrives (webhook/API-log stream), closing the
      * fact_telemetry path's streaming half the way stream_block_ingest
      * closes the block path's: the deterministic feed staged as
      * [[Chunks]] mtime-ordered JSONL files → file-source micro-batches
      * → [[graft.ingest.Parse.parseTelemetry]] (dedup = false: the
      * stream must not grow every-id-ever state; replay absorption is
      * the MERGE's job) → CDC MERGE on event_id → snapshot rollup.
      *
      * Differential teeth: the planted exact-duplicate record (index
      * 494, duplicating index 3) lands in the LAST chunk while its
      * original is in chunk 0 — a CROSS-BATCH replay that the
      * idempotent MERGE must absorb (an append-shaped sink would
      * double-count n_events → red); the planted malformed/untyped
      * records must be dropped by the stream-side parse exactly as the
      * batch oracle drops them; and n_batches pins the version-log
      * length to the staged chunk count (a lost or split batch turns
      * the row red). */
    "stream_telemetry_ingest" -> Q(
      (s, _) => withStreamRun(s, "telemetry") { (staging, ckpt, root) =>
        import graft.ingest.IngestQueries
        // the oracle reads the batch-materialized parquet of the SAME
        // generator; the stream reads its own staged JSONL
        IngestQueries.materializedTelemetry(s)
        val recs = (0L until 495L).map(IngestQueries.syntheticTelemetry)
        val per = (recs.size + Chunks - 1) / Chunks
        val baseMs = System.currentTimeMillis() - 600000L
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(staging))
        recs.grouped(per).zipWithIndex.foreach { case (chunk, i) =>
          val p = java.nio.file.Paths.get(staging, f"chunk-$i%02d.jsonl")
          java.nio.file.Files.write(p, chunk.mkString("\n").getBytes("UTF-8"))
          p.toFile.setLastModified(baseMs + i * 1000L); ()
        }
        val raw = s.readStream.format("text")
          .option("maxFilesPerTrigger", 1)
          .load(staging)
          .withColumnRenamed("value", "telemetry_json")
        val ev = graft.ingest.Parse.parseTelemetry(raw, dedup = false)
        StreamAnalytics.cdcApply(ev, root, key = "event_id",
          versionCol = "block_time", checkpointDir = Some(ckpt))
          .awaitTermination()
        val versions = graft.operators.MergeTable.versions(s, root)
        graft.analytics.AnalyticsRunner.factTelemetry(
            graft.operators.MergeTable.snapshot(s, root))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            countDistinct(col("user_id")).as("n_users"),
            sum(col("latency_ms")).as("total_latency_ms"),
            count(when(col("response_code") >= 400, 1)).as("n_errors"),
            countDistinct(col("slot")).as("n_linked_slots"))
          .withColumn("n_batches", lit(versions.length))
          .orderBy(col("event_type"))
      },
      Some(s"""WITH raw AS (
              |  SELECT telemetry_json FROM read_parquet('${graft.ingest.IngestQueries.TelemetryPath}/*.parquet')),
              |recs AS (
              |  SELECT CAST(json_extract(j, '$$.ts') AS BIGINT) AS ts,
              |    CAST(json_extract(j, '$$.slot') AS BIGINT) AS slot,
              |    json_extract_string(j, '$$.tx_signature') AS tx_signature,
              |    json_extract_string(j, '$$.user_id') AS user_id,
              |    json_extract_string(j, '$$.api_endpoint') AS api_endpoint,
              |    json_extract_string(j, '$$.feature_name') AS feature_name,
              |    json_extract_string(j, '$$.request_id') AS request_id,
              |    CAST(json_extract(j, '$$.response_code') AS BIGINT) AS response_code,
              |    CAST(json_extract(j, '$$.latency_ms') AS BIGINT) AS latency_ms
              |  FROM (SELECT CASE WHEN json_valid(telemetry_json)
              |                 THEN telemetry_json END AS j FROM raw)
              |  WHERE j IS NOT NULL),
              |typed AS (
              |  SELECT *,
              |    CASE WHEN api_endpoint IS NOT NULL THEN '${graft.model.Schemas.EvTelemetryApiCall}'
              |         WHEN feature_name IS NOT NULL THEN '${graft.model.Schemas.EvTelemetryFeature}'
              |    END AS event_type
              |  FROM recs WHERE ts IS NOT NULL AND request_id IS NOT NULL),
              |dedup AS (
              |  SELECT * FROM (
              |    SELECT *, row_number() OVER (
              |      PARTITION BY coalesce(slot, 0),
              |        coalesce(tx_signature, request_id), event_type
              |      ORDER BY request_id) AS rn
              |    FROM typed WHERE event_type IS NOT NULL) WHERE rn = 1)
              |SELECT event_type, count(*) AS n_events,
              |  count(DISTINCT user_id) AS n_users,
              |  CAST(sum(latency_ms) AS BIGINT) AS total_latency_ms,
              |  count(CASE WHEN response_code >= 400 THEN 1 END) AS n_errors,
              |  count(DISTINCT slot) AS n_linked_slots,
              |  $Chunks AS n_batches
              |FROM dedup GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = "fact_telemetry under continuous ingest: JSONL micro-batches -> parseTelemetry -> CDC MERGE absorbing a cross-batch duplicate; snapshot rollup + commit cadence vs the batch oracle"),

    /** MID-STREAM SCHEMA EVOLUTION on the hard signal — the S12
      * retro-migration under continuous ingest, previously spec-only
      * (StreamSpec's ADD-COLUMN test): era 1 streams chunks 0–1 with
      * the narrow schema into the CDC MERGE lake table; the reader then
      * RESTARTS FROM THE SAME CHECKPOINT with a widened schema and
      * streams chunks 2–3, which carry an added `tier` column. The
      * MERGE's ADD-COLUMN evolution widens the table mid-stream; offsets
      * survive the restart (era-1 files are not reprocessed — pinned by
      * `n_batches` = the version-log length = 4, two non-empty MERGE
      * commits per era); pre-evolution rows read back with a NULL tier
      * and coexist with post-evolution rows in one snapshot.
      *
      * Differential teeth: the oracle replays last-write-wins per user
      * over the quarantined events, re-derives each winner's CHUNK with
      * the exact staging arithmetic ([[chunkOf]]'s formula inline), and
      * pins tier = parity(event_id) for era-2 winners, NULL for era-1
      * winners — so a restart that reprocesses era-1 files (extra
      * batches), an evolution that rewrites instead of null-filling old
      * rows (era-1 winners gaining a tier), or a widened read that
      * drops pre-evolution rows all turn the row red. Tier derives from
      * event_id PARITY (integer, both engines truncate % identically)
      * rather than a float threshold, so a planted NaN value could
      * never rank the two engines differently. */
    "stream_schema_evolution" -> Q(
      (s, dir) => withStreamRun(s, dir) { (staging, ckpt, root) =>
        import org.apache.spark.sql.types.{StructField, StructType, StringType}
        // upsert contract: non-null key (see stream_cdc_snapshot); the
        // ts quarantine is already in eventsFrame. The key quarantine
        // must land BEFORE the chunk bounds are derived: tier/era
        // attribution depends on chunk, and the oracle's bounds CTE
        // reads events already filtered by user_id IS NOT NULL — a
        // null-key row holding the corpus min/max event time would
        // otherwise shift every boundary on this side only.
        // the two era file sets are deterministic derivations of the
        // same frame, so each goes through the input-staging cache
        // (derivation + era write once per JVM, not once per run; the
        // former per-run persist disappears with the re-derivation).
        // Era 2 is LINKED only after era 1's run drains — the
        // mid-stream arrival the query exists to exercise.
        def evFrame = {
          val (ev0, mn, mx) = withChunks(
            eventsFrame(s, dir).drop("tsw").filter(col("user_id").isNotNull), "ts")
          (ev0.withColumn("tier",
            when(col("event_id") % 2 === 0, lit("even")).otherwise(lit("odd"))),
            mn, mx)
        }
        // era 1: narrow files (no tier column in the parquet schema)
        val era1 = cachedPrechunked(s, dir, "events_evo1", n = 2) {
          val (ev, mn, mx) = evFrame
          (ev.filter(col("chunk") <= 1).drop("tier"), mn, mx)
        }
        val era2 = cachedPrechunked(s, dir, "events_evo2", n = 4, from = 2) {
          val (ev, mn, mx) = evFrame
          (ev.filter(col("chunk") >= 2), mn, mx)
        }
        linkChunks(era1.dir, staging)
        val narrow = s.read.parquet(staging).schema
        def run(schema: StructType): Unit =
          StreamAnalytics.cdcApply(
            s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
              .parquet(staging),
            root, key = "user_id", versionCol = "ver",
            checkpointDir = Some(ckpt), evolveSchema = true)
            .awaitTermination()
        run(narrow)
        // era 2: the added column arrives mid-stream; same checkpoint
        linkChunks(era2.dir, staging)
        run(StructType(narrow.fields :+ StructField("tier", StringType)))

        val versions = graft.operators.MergeTable.versions(s, root)
        graft.operators.MergeTable.snapshot(s, root)
          .groupBy(col("event_type"), col("tier"))
          .agg(count(lit(1)).as("n_users"),
            sum(col("event_id")).as("eid_sum"))
          .withColumn("n_batches", lit(versions.length))
          .orderBy(col("event_type"), col("tier"))
      },
      Some("""WITH e AS (
             |  SELECT user_id, event_id, event_type, epoch_ns(ts) AS tsn
             |  -- mirrors the stream's declared quarantines: event time
             |  -- required, upsert key non-null
             |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
             |b AS (SELECT min(tsn) AS mn, max(tsn) AS mx FROM e),
             |ranked AS (
             |  SELECT e.user_id, e.event_id, e.event_type,
             |    (4 * (e.tsn - b.mn)) // (b.mx - b.mn + 1) AS chunk,
             |    row_number() OVER (PARTITION BY e.user_id
             |      ORDER BY e.tsn DESC, e.event_id DESC) AS rn
             |  FROM e, b),
             |last AS (SELECT * FROM ranked WHERE rn = 1)
             |SELECT event_type,
             |  -- era-2 winners carry the added column; era-1 winners are
             |  -- pre-evolution rows the widened table must null-fill
             |  CASE WHEN chunk >= 2 THEN
             |    CASE WHEN event_id % 2 = 0 THEN 'even' ELSE 'odd' END
             |  END AS tier,
             |  count(*) AS n_users,
             |  CAST(sum(event_id) AS BIGINT) AS eid_sum,
             |  4 AS n_batches
             |FROM last GROUP BY 1, 2
             |ORDER BY 1 NULLS FIRST, 2 NULLS FIRST""".stripMargin),
      doc = "mid-stream ADD-COLUMN evolution through the CDC MERGE path: checkpointed restart with a wider schema, eras coexist in one snapshot vs relational replay"),
  )
}
