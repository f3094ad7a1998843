package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files

/** Event-time streaming semantics: windowed aggregation under a
  * watermark, and watermarked dedup — driven by file sources with
  * AvailableNow so the tests are synchronous and deterministic. */
class StreamSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  private def writeEvents(dir: String, name: String, rows: Seq[(Long, String, String, Double)]): Unit = {
    val lines = rows.map { case (id, ts, et, v) =>
      s"""{"event_id":$id,"ts":"$ts","event_type":"$et","value":$v}"""
    }
    Files.write(java.nio.file.Paths.get(s"$dir/$name.json"),
      lines.mkString("\n").getBytes("UTF-8"))
  }

  test("tumbling window counts complete when the watermark passes") {
    val src = Files.createTempDirectory("graft_stream").toString
    writeEvents(src, "b1", Seq(
      (1L, "2024-01-01T10:05:00Z", "purchase", 10.0),
      (2L, "2024-01-01T10:40:00Z", "purchase", 5.0),
      (3L, "2024-01-01T11:10:00Z", "view", 1.0),
      // late straggler within watermark for the 10:00 window
      (4L, "2024-01-01T10:55:00Z", "purchase", 2.0),
      // watermark pusher: advances event time far past 11:00
      (5L, "2024-01-01T14:00:00Z", "view", 1.0)))

    val stream = spark.readStream.schema(schema).json(src)
    val q = StreamAnalytics.startToMemory(
      StreamAnalytics.windowedVolume(stream, watermark = "1 hour"), "win_out")
    q.awaitTermination()

    val out = spark.table("win_out").collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(2), r.getLong(3), r.getDouble(4)))
      .toSet
    // windows sealed once watermark (14:00 - 1h = 13:00) passed their end
    assert(out.contains(("2024-01-01 10:00:00.0", "purchase", 3L, 17.0)), out)
    assert(out.contains(("2024-01-01 11:00:00.0", "view", 1L, 1.0)), out)
  }

  test("session windows close after the gap and aggregate per key") {
    val src = Files.createTempDirectory("graft_sess").toString
    writeEvents(src, "b1", Seq(
      // session 1 for 'view': 3 events within 30min gaps
      (1L, "2024-01-01T10:00:00Z", "view", 1.0),
      (2L, "2024-01-01T10:20:00Z", "view", 2.0),
      (3L, "2024-01-01T10:45:00Z", "view", 3.0),
      // >30min silence → session 2
      (4L, "2024-01-01T12:00:00Z", "view", 4.0),
      // watermark pusher
      (5L, "2024-01-01T16:00:00Z", "purchase", 0.0)))

    val stream = spark.readStream.schema(schema).json(src)
    val q = StreamAnalytics.startToMemory(
      StreamAnalytics.sessionActivity(stream, keyCol = "event_type",
        gap = "30 minutes", watermark = "1 hour"), "sess_out")
    q.awaitTermination()

    val out = spark.table("sess_out").collect()
      .map(r => (r.getString(2), r.getLong(3), r.getDouble(4))).toSet
    assert(out.contains(("view", 3L, 6.0)), out)   // the merged 10:00-11:15 session
    assert(out.contains(("view", 1L, 4.0)), out)   // the isolated 12:00 session
  }

  test("flatMapGroupsWithState carries running totals across micro-batches") {
    import spark.implicits._
    val src = Files.createTempDirectory("graft_state").toString
    writeEvents(src, "b1", Seq(
      (1L, "2024-01-01T10:00:00Z", "view", 1.0),
      (2L, "2024-01-01T10:01:00Z", "view", 2.0),
      (3L, "2024-01-01T10:02:00Z", "purchase", 10.0)))
    writeEvents(src, "b2", Seq(
      (4L, "2024-01-01T10:05:00Z", "view", 4.0)))

    // one file per micro-batch → state must carry across batches
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(src)
      .select(col("event_type").as("key"), col("value"))
      .as[KeyedEvent]
    val q = StreamAnalytics.runningTotals(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("state_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()

    val byKey = spark.table("state_out").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).map { case (k, rows) => k -> rows.maxBy(_._2) }
    assert(byKey("view") == ("view", 3L, 7.0), byKey)       // 1+2 then +4
    assert(byKey("purchase") == ("purchase", 1L, 10.0), byKey)
  }

  test("RocksDB state store provider: the 100TB-state posture runs the same pipelines identically") {
    // The default HDFSBackedStateStoreProvider keeps every store's
    // working set on the executor HEAP — fine at harness state sizes,
    // the wrong posture once keyed state outgrows memory (lifetime-keyed
    // dedup, wide session maps). The deployment answer is the bundled
    // RocksDB provider (spilling, incremental snapshots); this pins that
    // our stateful operators are provider-agnostic: same multi-batch
    // running-totals output, with RocksDB OBSERVED engaged via its
    // provider-specific progress metrics, not assumed from the conf.
    import spark.implicits._
    val src = Files.createTempDirectory("graft_rocks").toString
    writeEvents(src, "b1", Seq(
      (1L, "2024-01-01T10:00:00Z", "view", 1.0),
      (2L, "2024-01-01T10:01:00Z", "view", 2.0),
      (3L, "2024-01-01T10:02:00Z", "purchase", 10.0)))
    writeEvents(src, "b2", Seq(
      (4L, "2024-01-01T10:05:00Z", "view", 4.0)))
    val ProviderConf = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(ProviderConf)
    spark.conf.set(ProviderConf,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(src)
        .select(col("event_type").as("key"), col("value"))
        .as[KeyedEvent]
      val q = StreamAnalytics.runningTotals(stream)
        .writeStream.outputMode("append").format("memory")
        .queryName("rocks_out")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      val byKey = spark.table("rocks_out").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1).map { case (k, rows) => k -> rows.maxBy(_._2) }
      assert(byKey("view") == ("view", 3L, 7.0), byKey)
      assert(byKey("purchase") == ("purchase", 1L, 10.0), byKey)
      val custom = q.recentProgress.filter(_.stateOperators.nonEmpty)
        .flatMap(_.stateOperators(0).customMetrics.keySet.toArray(Array.empty[String]))
      assert(custom.exists(_.startsWith("rocksdb")),
        s"RocksDB provider not engaged; custom metrics: ${custom.distinct.toSeq}")
    } finally {
      prev match {
        case Some(v) => spark.conf.set(ProviderConf, v)
        case None => spark.conf.unset(ProviderConf)
      }
    }
  }

  test("dropDuplicatesWithinWatermark absorbs replayed event ids") {
    val src = Files.createTempDirectory("graft_dedup").toString
    writeEvents(src, "b1", Seq(
      (1L, "2024-01-01T10:00:00Z", "purchase", 1.0),
      (1L, "2024-01-01T10:00:30Z", "purchase", 1.0),  // replay, same id
      (2L, "2024-01-01T10:01:00Z", "view", 2.0),
      (1L, "2024-01-01T10:02:00Z", "purchase", 1.0))) // replay again

    val stream = spark.readStream.schema(schema).json(src)
    val q = StreamAnalytics.startToMemory(
      StreamAnalytics.dedupedStream(stream), "dedup_out")
    q.awaitTermination()

    val ids = spark.table("dedup_out").select("event_id")
      .collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(1L, 2L))
  }

  test("stream-stream interval join matches clicks in the preceding hour only") {
    val src = Files.createTempDirectory("graft_ssjoin").toString
    val uschema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", TimestampType),
      StructField("user_id", LongType),
      StructField("event_type", StringType)))
    def writeRows(name: String, rows: Seq[(Long, String, Long, String)]): Unit = {
      val lines = rows.map { case (id, ts, u, et) =>
        s"""{"event_id":$id,"ts":"$ts","user_id":$u,"event_type":"$et"}"""
      }
      Files.write(java.nio.file.Paths.get(s"$src/$name.json"),
        lines.mkString("\n").getBytes("UTF-8"))
    }
    writeRows("b1", Seq(
      (100L, "2024-01-01T12:00:00Z", 1L, "purchase"),
      (2L, "2024-01-01T11:10:00Z", 1L, "click"),   // in window
      (3L, "2024-01-01T11:59:00Z", 1L, "click"),   // in window
      (4L, "2024-01-01T12:00:00Z", 1L, "click"),   // = purchase instant → out
      (5L, "2024-01-01T10:30:00Z", 1L, "click"),   // too old
      (6L, "2024-01-01T11:30:00Z", 2L, "click")))  // other user

    val stream = spark.readStream.schema(uschema).json(src)
    val q = StreamAnalytics.startToMemory(
      StreamAnalytics.purchaseClickJoin(stream), "ssjoin_out")
    q.awaitTermination()

    val pairs = spark.table("ssjoin_out")
      .select("purchase_id", "click_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((100L, 2L), (100L, 3L)))
  }

  test("streaming IVF assignment: map-only argmax, one occupancy aggregation") {
    // the streaming twin of sim_ivf_upsert: incoming embeddings assign
    // to a fixed centroid set as PURE MAP work (literal centroid fold,
    // no join, no agg), so the per-cell occupancy rollup is the single
    // streaming aggregation Spark allows
    graft.plans.GraftExtensions.register(spark) // vector_cosine in SQL
    val src = Files.createTempDirectory("graft_stream_ivf").toString
    val rows = Seq(
      // vectors hugging axis 0 → cell 0; axis 2 → cell 7
      (1L, Seq(1.0, 0.1, 0.0, 0.0)),
      (2L, Seq(0.9, 0.0, 0.1, 0.0)),
      (3L, Seq(0.0, 0.0, 1.0, 0.1)),
      (4L, Seq(0.0, 0.1, 0.8, 0.0)),
      (5L, Seq(1.0, 0.0, 0.0, 0.2)))
    val lines = rows.map { case (id, v) =>
      s"""{"vec_id":$id,"v":[${v.mkString(",")}]}"""
    }
    Files.write(java.nio.file.Paths.get(s"$src/b1.json"),
      lines.mkString("\n").getBytes("UTF-8"))
    val vSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("v", ArrayType(DoubleType))))
    val cents = Seq(
      0L -> Array(1.0, 0.0, 0.0, 0.0),
      7L -> Array(0.0, 0.0, 1.0, 0.0))
    val stream = spark.readStream.schema(vSchema).json(src)
    val assigned = StreamAnalytics.assignToCells(stream, cents)
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))
    val q = assigned.writeStream
      .outputMode("complete").format("memory").queryName("ivf_occ")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val out = spark.table("ivf_occ").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(0L -> 3L, 7L -> 2L), out.toString)
    // and the assignment matches the batch argmax rule on the same rows
    import spark.implicits._
    val batch = rows.toDF("vec_id", "v")
    val batchAsg = StreamAnalytics.assignToCells(batch, cents)
      .select("vec_id", "cell").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(batchAsg == Map(1L -> 0L, 2L -> 0L, 3L -> 7L, 4L -> 7L, 5L -> 0L))
    // zero-norm (NaN-cosine) rows land in the -1 quarantine cell, never
    // a silent arbitrary assignment
    val dirty = Seq((9L, Seq(0.0, 0.0, 0.0, 0.0))).toDF("vec_id", "v")
    val q9 = StreamAnalytics.assignToCells(dirty, cents)
      .select("cell").collect()(0).getLong(0)
    assert(q9 == -1L)
  }

  test("streaming PQ encode: map-only codes, batch tie-break parity, NaN quarantine") {
    import spark.implicits._
    // 4-dim vectors, M=2 subspaces of 2 dims, K=2 codes per subspace
    val cb = Seq(
      (0, 0, Array(1.0, 0.0)), (0, 1, Array(0.0, 1.0)),
      (1, 0, Array(1.0, 0.0)), (1, 1, Array(0.0, 1.0)))
    val src = java.nio.file.Files.createTempDirectory("graft_pqenc").toString
    val rows = Seq(
      (1L, Seq(0.9, 0.1, 0.1, 0.9)),  // sub0 → code 0, sub1 → code 1
      (2L, Seq(0.0, 1.0, 1.0, 0.0)),  // sub0 → code 1, sub1 → code 0
      (3L, Seq(0.5, 0.5, 0.5, 0.5)))  // equidistant: ties → code 0 both
    val lines = rows.map { case (id, v) =>
      s"""{"vec_id":$id,"v":[${v.mkString(",")}]}""" }
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$src/b1.json"),
      lines.mkString("\n").getBytes("UTF-8"))
    val vSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("v", ArrayType(DoubleType))))
    val stream = spark.readStream.schema(vSchema).json(src)
    // per-code occupancy of subspace 0 — the one streaming agg still works
    val occ = StreamAnalytics.encodePq(stream, cb, subDim = 2)
      .select(col("vec_id"), element_at(col("codes"), 1).as("c0"))
      .groupBy(col("c0")).agg(count(lit(1)).as("n"))
    val q = occ.writeStream
      .outputMode("complete").format("memory").queryName("pq_occ")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val out = spark.table("pq_occ").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(out == Map(0 -> 2, 1 -> 1), out.toString)
    // batch run of the same encode: exact codes, tie to the smaller id
    val batch = rows.toDF("vec_id", "v")
    val got = StreamAnalytics.encodePq(batch, cb, subDim = 2)
      .select(col("vec_id"), col("codes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(got == Map(1L -> Seq(0, 1), 2L -> Seq(1, 0), 3L -> Seq(0, 0)), got.toString)
    // a NaN-distance row (NaN coordinates) quarantines to code −1
    val dirty = Seq((9L, Seq(Double.NaN, 0.0, 0.0, 0.0))).toDF("vec_id", "v")
    val q9 = StreamAnalytics.encodePq(dirty, cb, subDim = 2)
      .select(col("codes")).collect()(0).getSeq[Int](0)
    assert(q9 == Seq(-1, 0), q9.toString)
  }

  test("streaming band dedup: cross-batch candidates, capped state") {
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("graft_banddedup").toString
    def writeDocs(name: String, rows: Seq[(Long, String)]): Unit = {
      val lines = rows.map { case (id, t) => s"""{"doc_id":$id,"text":"$t"}""" }
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$src/$name.json"),
        lines.mkString("\n").getBytes("UTF-8"))
    }
    val dup = "alpha beta gamma delta epsilon zeta eta theta"
    writeDocs("b1", Seq(
      (1L, dup),                                     // original
      (2L, dup),                                     // same-batch duplicate
      (3L, "wholly different words nothing shared here at all")))
    writeDocs("b2", Seq(
      (4L, dup),                                     // cross-batch duplicate
      (5L, "another unrelated document with fresh vocabulary only")))
    // FileStreamSource orders batches by mtime (ms granularity): pin the
    // order explicitly so same-millisecond writes can't flip b2 first
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(s"$src/b1.json"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 10000))
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(s"$src/b2.json"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))

    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(src)
      .as[DocText]
    val q = StreamAnalytics.streamingBandDedup(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("band_dedup_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()

    val pairs = spark.table("band_dedup_out").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // same-batch pair in b1; b2's doc 4 pairs with BOTH earlier copies —
    // proof the band state carried across micro-batches
    assert(pairs == Set((2L, 1L), (4L, 1L), (4L, 2L)), pairs.toString)

    // identical docs collide in all 4 bands → each pair appears 4x
    val counts = spark.table("band_dedup_out").collect()
      .groupBy(r => (r.getLong(0), r.getLong(1))).map { case (k, v) => k -> v.length }
    assert(counts.values.forall(_ == 4), counts.toString)
  }

  test("streaming band dedup: the posting cap silences boilerplate buckets") {
    import spark.implicits._
    val docs = (1L to 5L).map(i => DocText(i, "same same same text in every doc"))
    val out = StreamAnalytics.streamingBandDedup(docs.toDS(), maxPostings = 2)
    // batch Dataset drive (flatMapGroupsWithState in batch mode runs the
    // same code path once): docs 1,2 admitted; 3..5 exceed the cap
    val pairs = out.collect().map(c => (c.doc_id, c.partner_doc)).toSet
    assert(pairs == Set((2L, 1L)), pairs.toString)
  }

  test("cdcApply lands each micro-batch as one MergeTable commit, resumable") {
    import graft.operators.MergeTable
    val src = Files.createTempDirectory("graft_cdc_src").toString
    val tbl = Files.createTempDirectory("graft_cdc_tbl").resolve("t").toString
    val ckpt = Files.createTempDirectory("graft_cdc_ck").toString
    val cdcSchema = StructType(Seq(
      StructField("k", LongType), StructField("v", StringType),
      StructField("ver", LongType), StructField("deleted", BooleanType)))
    def writeBatch(name: String, mtime: Long, rows: Seq[(Long, String, Long, Boolean)]): Unit = {
      val f = java.nio.file.Paths.get(s"$src/$name.json")
      Files.write(f, rows.map { case (k, v, ver, d) =>
        s"""{"k":$k,"v":"$v","ver":$ver,"deleted":$d}"""
      }.mkString("\n").getBytes("UTF-8"))
      f.toFile.setLastModified(mtime) // pin source file order
    }
    val t0 = System.currentTimeMillis() - 60000L
    writeBatch("b1", t0, Seq((1L, "a", 1L, false), (2L, "b", 1L, false)))
    writeBatch("b2", t0 + 5000L, Seq(
      (2L, "B", 2L, false), (2L, "B2", 3L, false), // two versions, one key
      (3L, "c", 1L, false), (1L, "x", 2L, true)))  // insert + delete

    def run(): Unit = {
      val stream = spark.readStream.schema(cdcSchema)
        .option("maxFilesPerTrigger", 1).json(src)
      val q = StreamAnalytics.cdcApply(stream, tbl, "k", "ver",
        deleteCol = Some("deleted"), checkpointDir = Some(ckpt))
      q.awaitTermination()
    }
    run()
    def state(): Map[Long, String] = MergeTable.snapshot(spark, tbl)
      .select("k", "v").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // b1 then b2: key 2 resolved last-write-wins inside b2, key 1 deleted
    assert(state() == Map(2L -> "B2", 3L -> "c"))
    assert(MergeTable.versions(spark, tbl).size == 2) // one commit per batch

    // restart from the checkpoint: only the new file is processed
    writeBatch("b3", t0 + 10000L, Seq((4L, "d", 1L, false)))
    run()
    assert(state() == Map(2L -> "B2", 3L -> "c", 4L -> "d"))
    assert(MergeTable.versions(spark, tbl).size == 3)
  }

  test("cdcApply compactEvery folds small files inline: state and change feed unchanged") {
    import graft.operators.MergeTable
    val src = Files.createTempDirectory("graft_cdcc_src").toString
    val cdcSchema = StructType(Seq(
      StructField("k", LongType), StructField("v", StringType),
      StructField("ver", LongType)))
    val t0 = System.currentTimeMillis() - 60000L
    // 6 single-file batches with disjoint ascending key ranges: every
    // merge is a pure-insert commit (adds one small file, rewrites
    // none) — the trickle-CDC shape that makes live files grow with
    // commit COUNT until a compaction cadence bins them
    (0 until 6).foreach { i =>
      val f = java.nio.file.Paths.get(f"$src/b$i%02d.json")
      Files.write(f, Seq(2 * i + 1, 2 * i + 2).map(k =>
        s"""{"k":$k,"v":"v$k","ver":1}""").mkString("\n").getBytes("UTF-8"))
      f.toFile.setLastModified(t0 + i * 1000L); ()
    }
    def run(compactEvery: Int): String = {
      val tbl = Files.createTempDirectory("graft_cdcc_tbl").resolve("t").toString
      val ckpt = Files.createTempDirectory("graft_cdcc_ck").toString
      val stream = spark.readStream.schema(cdcSchema)
        .option("maxFilesPerTrigger", 1).json(src)
      StreamAnalytics.cdcApply(stream, tbl, "k", "ver",
        checkpointDir = Some(ckpt), compactEvery = compactEvery)
        .awaitTermination()
      tbl
    }
    val plain = run(compactEvery = 0)
    val compacted = run(compactEvery = 3)

    def state(tbl: String): Map[Long, String] =
      MergeTable.snapshot(spark, tbl).select("k", "v").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    // maintenance is invisible to the logical table
    assert(state(compacted) == state(plain))
    assert(state(plain).size == 12)

    // 6 merge commits each; the cadence adds one compaction commit
    // after batches 2 and 5 (batchId is 0-based)
    val vsP = MergeTable.versions(spark, plain)
    val vsC = MergeTable.versions(spark, compacted)
    assert(vsP.size == 6, vsP.toString)
    assert(vsC.size == 8, vsC.toString)

    // live-file count is bounded by the cadence, not by commit history
    val filesP = MergeTable.liveFiles(spark, plain).count()
    val filesC = MergeTable.liveFiles(spark, compacted).count()
    // each insert commit adds ≥1 file (2-row batches may split across
    // writer partitions) — the point is growth WITH commit count
    assert(filesP >= 6L, s"expected ≥1 live file per insert commit, got $filesP")
    assert(filesC == 1L, s"expected the final cadence fold to one file, got $filesC")

    // a compaction-only window emits ZERO change events: the rewrite's
    // rows are no-ops under the feed's null-safe full-row compare
    val feed = MergeTable.changeFeed(spark, compacted, "k",
      fromV = vsC(2), toV = vsC(3))
    assert(feed.count() == 0L, "compaction must be invisible to the change feed")
  }

  test("staging chunk assignment is exact at event-time spans where double division rounds") {
    import spark.implicits._
    // a ~115-day span in nanos: 4*(mx-mn) ≈ 4e16 > 2^53, where the old
    // double-division formula rounds the max row's quotient to 4.0 —
    // a chunk index no staged file carries, silently dropping the row
    val mn = 1704067200000000000L
    val mx = mn + 9999999999999999L
    val ids = Seq(mn, mn + 1L, (mn + mx) / 2, mx - 1L, mx)
    val chunks = ids.toDF("ts")
      .select(StreamQueries.chunkOf("ts", mn, mx).as("chunk"))
      .as[Long].collect().toSeq
    assert(chunks.head == 0L && chunks.last == 3L,
      s"span endpoints must land in chunks 0 and Chunks-1, got $chunks")
    assert(chunks.forall(c => c >= 0L && c <= 3L),
      s"every chunk index must be stageable, got $chunks")
    assert(chunks == chunks.sorted, "chunk assignment must be monotone in ts")
  }

  test("declared streaming queries match their batch replay in-JVM (late drop, session merge, keyed state)") {
    import graft.{SparkEntry, Tables}
    // stream_windowed_volume: the emitted windows must equal the batch
    // tumbling-window agg over ORIGINAL events only — i.e., every
    // poisoned late replica was watermark-dropped and every real window
    // was flushed before AvailableNow terminated
    val batchWin = Tables.events(spark, Sf)
      .groupBy((expr("ts div 1000") divide lit(3600000000L)).cast("bigint")
          .multiply(lit(3600000000L)).cast("bigint").as("ws_us"),
        col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("total_value"))
    val streamWin = SparkEntry.queries("stream_windowed_volume")(spark, Sf)
    assert(streamWin.count() == batchWin.count())
    assert(streamWin.join(batchWin, Seq("ws_us", "event_type"))
      .filter(streamWin("cnt") =!= batchWin("cnt") ||
        abs(streamWin("total_value") - batchWin("total_value")) > 1e-6)
      .isEmpty, "a late poison leaked or a window went unflushed")

    // stream_sessionize: streaming session_window must equal the batch
    // session_window over the same rows (cross-batch session merge)
    val gap = "6 hours"
    val batchSess = Tables.events(spark, Sf)
      .withColumn("tsw", Tables.tsTimestamp())
      .groupBy(session_window(col("tsw"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("session_value"))
      .select(col("user_id"), unix_micros(col("w.start")).as("session_start_us"),
        unix_micros(col("w.end")).as("session_end_us"), col("n_events"))
    val streamSess = SparkEntry.queries("stream_sessionize")(spark, Sf)
      .drop("session_value")
    assert(streamSess.count() == batchSess.count())
    assert(streamSess.exceptAll(batchSess.select(streamSess.columns.map(col): _*))
      .isEmpty, "streaming session windows diverge from batch session_window")

    // stream_running_totals: final keyed state must equal the batch
    // groupBy — any cross-batch state loss shows as a partial total
    val batchTot = Tables.events(spark, Sf)
      .groupBy(col("user_id").cast("string").as("key"))
      .agg(count(lit(1)).as("total_events"))
    val streamTot = SparkEntry.queries("stream_running_totals")(spark, Sf)
    assert(streamTot.join(batchTot, "key")
      .filter(streamTot("total_events") =!= batchTot("total_events"))
      .isEmpty && streamTot.count() == batchTot.count(),
      "keyed state lost events across micro-batches")
  }

  test("mid-stream ADD-COLUMN evolution: a restarted reader with a wider schema evolves the lake table under continuous ingest") {
    import graft.operators.MergeTable
    val src = Files.createTempDirectory("graft_evo_src").toString
    val tbl = Files.createTempDirectory("graft_evo_tbl").resolve("t").toString
    val ckpt = Files.createTempDirectory("graft_evo_ck").toString
    val narrow = StructType(Seq(
      StructField("k", LongType), StructField("v", StringType),
      StructField("ver", LongType)))
    val wide = narrow.add(StructField("tier", StringType))

    val t0 = System.currentTimeMillis() - 60000L
    def writeFile(name: String, mtime: Long, lines: Seq[String]): Unit = {
      val f = java.nio.file.Paths.get(s"$src/$name.json")
      Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
      f.toFile.setLastModified(mtime)
    }
    // era 1: the reader knows only (k, v, ver)
    writeFile("b1", t0, Seq(
      """{"k":1,"v":"a","ver":1}""", """{"k":2,"v":"b","ver":2}"""))
    def run(schema: StructType): Unit = {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(src)
      StreamAnalytics.cdcApply(stream, tbl, "k", "ver",
        checkpointDir = Some(ckpt), evolveSchema = true).awaitTermination()
    }
    run(narrow)
    assert(!MergeTable.snapshot(spark, tbl).columns.contains("tier"))

    // era 2: a later chunk carries the ADDED column; the reader restarts
    // from the SAME checkpoint with the wider schema (the S12
    // retro-migration under continuous ingest: offsets survive, the
    // MERGE's ADD-COLUMN evolution widens the table, and the two eras'
    // rows coexist — old rows read back with a null tier)
    writeFile("b2", t0 + 5000L, Seq(
      """{"k":2,"v":"B","ver":3,"tier":"gold"}""",
      """{"k":3,"v":"c","ver":4,"tier":"basic"}"""))
    run(wide)
    val snap = MergeTable.snapshot(spark, tbl)
      .select("k", "v", "tier").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), Option(r.getString(2))))).toMap
    assert(snap == Map(
      1L -> (("a", None)),          // pre-evolution row: null tier
      2L -> (("B", Some("gold"))),  // updated across the evolution
      3L -> (("c", Some("basic")))), snap.toString)
    // and only b2 was processed by the restart (offsets survived)
    assert(MergeTable.versions(spark, tbl).size == 2)
  }

  test("state-store metrics: watermark eviction observed, not inferred (dedup and interval join)") {
    // dedup: 3 one-file batches a day apart, unique keys per batch, 1h
    // watermark — state for a batch's keys must be EVICTED once the
    // next day's batch moves the watermark past them
    val src = Files.createTempDirectory("graft_metrics").toString
    writeEvents(src, "b1", (1L to 40L).map(i =>
      (i, "2024-01-01T10:00:00Z", "view", 1.0)))
    writeEvents(src, "b2", (101L to 140L).map(i =>
      (i, "2024-01-02T10:00:00Z", "view", 1.0)))
    writeEvents(src, "b3", (201L to 240L).map(i =>
      (i, "2024-01-03T10:00:00Z", "view", 1.0)))
    val t0 = System.currentTimeMillis() - 60000L
    Seq("b1", "b2", "b3").zipWithIndex.foreach { case (n, i) =>
      java.nio.file.Paths.get(s"$src/$n.json").toFile.setLastModified(t0 + i * 5000L)
    }
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(src)
    val q = StreamAnalytics.startToMemory(
      StreamAnalytics.dedupedStream(stream, watermark = "1 hour"), "metrics_dedup")
    q.awaitTermination()
    val progress = q.recentProgress.filter(_.stateOperators.nonEmpty)
    assert(progress.length >= 3, "expected one progress row per micro-batch")
    val totals = progress.map(_.stateOperators(0).numRowsTotal)
    val removed = progress.map(_.stateOperators(0).numRowsRemoved).sum
    // eviction OBSERVED: rows left the store, and no batch ever held
    // anywhere near the 120 keys ingested — state is bounded by the
    // watermark horizon, not the corpus
    assert(removed > 0, s"no state rows evicted: totals=${totals.toSeq}")
    assert(totals.max <= 80L,
      s"state grew past the watermark horizon: totals=${totals.toSeq}")
    assert(totals.last < 120L, "final state holds the whole corpus")
  }

  test("left-outer interval join: null rows emit at watermark expiry, frontier row withheld, state evicted") {
    val src = Files.createTempDirectory("graft_oj").toString
    val ojSchema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("ts", TimestampType), StructField("event_type", StringType)))
    def write(name: String, mtime: Long,
        rows: Seq[(Long, Long, String, String)]): Unit = {
      val f = java.nio.file.Paths.get(s"$src/$name.json")
      Files.write(f, rows.map { case (id, u, ts, et) =>
        s"""{"event_id":$id,"user_id":$u,"ts":"$ts","event_type":"$et"}"""
      }.mkString("\n").getBytes("UTF-8"))
      f.toFile.setLastModified(mtime); ()
    }
    val t0 = System.currentTimeMillis() - 60000L
    // b1: one matched purchase (user 1), one unmatched (user 2)
    write("b1", t0, Seq(
      (10L, 1L, "2024-01-01T10:00:00Z", "purchase"),
      (11L, 1L, "2024-01-01T09:30:00Z", "click"),
      (12L, 2L, "2024-01-01T10:00:00Z", "purchase")))
    // b2/b3: each a day later, BOTH types present so both watermark
    // nodes advance (the global watermark is their min)
    write("b2", t0 + 5000L, Seq(
      (20L, 3L, "2024-01-02T10:00:00Z", "purchase"),
      (21L, 9L, "2024-01-02T10:00:00Z", "click")))
    write("b3", t0 + 10000L, Seq(
      (30L, 8L, "2024-01-03T10:00:00Z", "purchase"),
      (31L, 9L, "2024-01-03T10:00:00Z", "click")))
    val stream = spark.readStream.schema(ojSchema)
      .option("maxFilesPerTrigger", 1).json(src)
    val q = StreamAnalytics.startToMemory(
      StreamAnalytics.purchaseClickJoin(stream, watermark = "1 hour",
        joinType = "left_outer"), "oj_out")
    q.awaitTermination()
    val out = spark.table("oj_out")
      .select(col("purchase_id"), col("click_id")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    // 10 matched on arrival; 12 and 20 emitted null-padded once the
    // click watermark passed their pts (batch 3 and the trailing
    // no-data batch respectively — expiry events, not input events);
    // 30 sits at the stream frontier, its expiry point NEVER passed, so
    // it is withheld — exactly why the declared drain needs sentinels.
    assert(out == Set((10L, 11L), (12L, -1L), (20L, -1L)), out.toString)
    // eviction observed: matched/expired state left the join stores
    val removed = q.recentProgress.filter(_.stateOperators.nonEmpty)
      .map(_.stateOperators(0).numRowsRemoved).sum
    assert(removed > 0, "no join state evicted across the 2-day span")
  }

  test("outer interval joins: state-row high-water mark bounded by the " +
      "watermark horizon across a 10-day drain (left_outer and full_outer)") {
    // 100×-rehearsal companion gate (PLANS.md has wall/rows for these;
    // this pins the STATE peak): 10 day-spaced micro-batches × 80 rows,
    // 1h watermark — the join stores must hold ~the in-horizon batches,
    // never the corpus, and must evict as the watermark advances.
    // Otherwise an outer join that silently stopped evicting (e.g. a
    // watermark node lost in a refactor) scales its state with input —
    // the exact failure mode that OOMs a 100× run.
    val ojSchema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("ts", TimestampType), StructField("event_type", StringType)))
    val perBatch = 80 // 40 purchases + 40 clicks
    for (joinType <- Seq("left_outer", "full_outer")) {
      val src = Files.createTempDirectory(s"graft_ojs_$joinType").toString
      val t0 = System.currentTimeMillis() - 120000L
      (0 until 10).foreach { d =>
        val day = f"2024-01-${d + 1}%02d"
        val rows = (0 until 40).flatMap { i =>
          val u = d * 1000L + i
          // half the purchases get an in-window click partner, half not
          val click =
            if (i % 2 == 0)
              Seq(s"""{"event_id":${u * 10 + 1},"user_id":$u,"ts":"${day}T09:30:00Z","event_type":"click"}""")
            else
              Seq(s"""{"event_id":${u * 10 + 2},"user_id":${u + 500},"ts":"${day}T09:30:00Z","event_type":"click"}""")
          s"""{"event_id":${u * 10},"user_id":$u,"ts":"${day}T10:00:00Z","event_type":"purchase"}""" +: click
        }
        val f = java.nio.file.Paths.get(s"$src/d$d.json")
        Files.write(f, rows.mkString("\n").getBytes("UTF-8"))
        f.toFile.setLastModified(t0 + d * 3000L); ()
      }
      val stream = spark.readStream.schema(ojSchema)
        .option("maxFilesPerTrigger", 1).json(src)
      val q = StreamAnalytics.startToMemory(
        StreamAnalytics.purchaseClickJoin(stream, watermark = "1 hour",
          joinType = joinType), s"ojs_$joinType")
      q.awaitTermination()
      val progress = q.recentProgress.filter(_.stateOperators.nonEmpty)
      val totals = progress.map(_.stateOperators(0).numRowsTotal)
      val removed = progress.map(_.stateOperators(0).numRowsRemoved).sum
      // numRowsRemoved only ticks on the inner-eviction path; full-outer
      // eviction drains through the outer-emission iterator and reports
      // 0 (observed: totals flat at 2 batches while 80 rows/batch
      // arrive). Eviction is therefore asserted by CONSERVATION — the
      // peak bound below — and the metric only where it's wired.
      if (joinType == "left_outer")
        assert(removed > 0, s"$joinType: no join state evicted across 10 days")
      // peak ≤ ~3 day-batches of rows (in-flight + horizon + frontier);
      // the corpus is 800 — an unbounded store would sit near it
      assert(totals.max <= 3L * perBatch,
        s"$joinType: state peak ${totals.max} exceeds the watermark " +
          s"horizon bound (totals=${totals.toSeq})")
      assert(totals.last < 10L * perBatch / 2,
        s"$joinType: final state ${totals.last} holds most of the corpus")
    }
  }

  test("ProcessingTime trigger tails a growing staging dir with live batch cadence") {
    import graft.operators.MergeTable
    val src = Files.createTempDirectory("graft_pt_src").toString
    val tbl = Files.createTempDirectory("graft_pt_tbl").resolve("t").toString
    val ckpt = Files.createTempDirectory("graft_pt_ck").toString
    val cdcSchema = StructType(Seq(
      StructField("k", LongType), StructField("v", StringType),
      StructField("ver", LongType)))
    def writeBatch(name: String, rows: Seq[(Long, String, Long)]): Unit =
      Files.write(java.nio.file.Paths.get(s"$src/$name.json"),
        rows.map { case (k, v, ver) => s"""{"k":$k,"v":"$v","ver":$ver}""" }
          .mkString("\n").getBytes("UTF-8"))

    writeBatch("b1", Seq((1L, "a", 1L), (2L, "b", 2L)))
    val stream = spark.readStream.schema(cdcSchema).json(src)
    // the continuous form cdcApply was built for: a live trigger
    // tailing the dir — processAllAvailable() gives a deterministic
    // barrier per arrival instead of sleeping on wall-clock cadence
    val q = StreamAnalytics.cdcApply(stream, tbl, "k", "ver",
      checkpointDir = Some(ckpt),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("200 milliseconds"))
    try {
      q.processAllAvailable()
      def state(): Map[Long, String] = MergeTable.snapshot(spark, tbl)
        .select("k", "v").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(state() == Map(1L -> "a", 2L -> "b"))

      writeBatch("b2", Seq((2L, "B", 3L), (3L, "c", 4L)))
      q.processAllAvailable()
      assert(state() == Map(1L -> "a", 2L -> "B", 3L -> "c"))
      assert(q.isActive, "a ProcessingTime query must keep tailing between arrivals")
      // two non-empty micro-batches fired at the live cadence
      assert(q.recentProgress.count(_.numInputRows > 0) >= 2)
      assert(MergeTable.versions(spark, tbl).size == 2)
    } finally q.stop()
  }

  test("streaming band dedup: idleTtl evicts idle band keys (bounded state for open-ended streams)") {
    // Driven through TestGroupState, NOT an end-to-end run: with
    // ProcessingTimeTimeout the operator reports shouldRunAnotherBatch
    // on every trigger, so processAllAvailable() NEVER returns (the
    // no-new-data quiescent point it waits for is unreachable) — the
    // live schedule is Spark's wall-clock contract; OUR contract is the
    // handler's TTL behavior, pinned here deterministically.
    import org.apache.spark.sql.streaming.TestGroupState
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.GroupStateTimeout
    val noWm = Optional.empty[Long]()
    val ttl = Some(java.time.Duration.ofMillis(100))
    def run(posts: Seq[Long], state: TestGroupState[List[Long]]) =
      StreamAnalytics.bandDedupHandler(8, ttl)(
        "b:k", posts.map(("b:k", _)).iterator, state).toList

    // batch 1: doc 1 arrives — postings recorded, idle clock armed
    val s1 = TestGroupState.create[List[Long]](
      Optional.empty(), GroupStateTimeout.ProcessingTimeTimeout(),
      batchProcessingTimeMs = 1000L, noWm, hasTimedOut = false)
    assert(run(Seq(1L), s1).isEmpty) // first posting: nothing to pair with
    assert(s1.get == List(1L))
    assert(s1.getTimeoutTimestampMs.get() == 1100L) // armed at +TTL
    // batch 2 (before the horizon): a duplicate PAIRS, clock re-arms
    val s2 = TestGroupState.create[List[Long]](
      Optional.of(List(1L)), GroupStateTimeout.ProcessingTimeTimeout(),
      batchProcessingTimeMs = 1050L, noWm, hasTimedOut = false)
    assert(run(Seq(2L), s2).map(c => (c.doc_id, c.partner_doc)) == List((2L, 1L)))
    assert(s2.getTimeoutTimestampMs.get() == 1150L)
    // the horizon passes idle: Spark hands the group back timed-out —
    // the handler must evict every posting and emit nothing
    val s3 = TestGroupState.create[List[Long]](
      Optional.of(List(2L, 1L)), GroupStateTimeout.ProcessingTimeTimeout(),
      batchProcessingTimeMs = 2000L, noWm, hasTimedOut = true)
    assert(run(Seq.empty, s3).isEmpty)
    assert(s3.isRemoved)
    // a late duplicate after eviction starts a FRESH key: no pair with
    // the evicted postings — the declared trade of a bounded-state dedup
    val s4 = TestGroupState.create[List[Long]](
      Optional.empty(), GroupStateTimeout.ProcessingTimeTimeout(),
      batchProcessingTimeMs = 3000L, noWm, hasTimedOut = false)
    assert(run(Seq(4L), s4).isEmpty)
    assert(s4.get == List(4L))
    // and with NO ttl the handler must never touch the timeout clock
    // (NoTimeout streams reject setTimeoutDuration with an error)
    val s5 = TestGroupState.create[List[Long]](
      Optional.empty(), GroupStateTimeout.NoTimeout(),
      batchProcessingTimeMs = 1000L, noWm, hasTimedOut = false)
    assert(StreamAnalytics.bandDedupHandler(8, None)(
      "b:k", Iterator(("b:k", 7L)), s5).toList.isEmpty)
    assert(s5.get == List(7L))
  }

  test("crash between MERGE commit and checkpoint commit absorbs the replayed batch idempotently") {
    import graft.operators.{MergeTable, Upsert}
    val src = Files.createTempDirectory("graft_cr_src").toString
    val tbl = Files.createTempDirectory("graft_cr_tbl").resolve("t").toString
    val ckpt = Files.createTempDirectory("graft_cr_ck").toString
    val cdcSchema = StructType(Seq(
      StructField("k", LongType), StructField("v", StringType),
      StructField("ver", LongType)))
    def writeBatch(name: String, mtime: Long, rows: Seq[(Long, String, Long)]): Unit = {
      val f = java.nio.file.Paths.get(s"$src/$name.json")
      Files.write(f, rows.map { case (k, v, ver) =>
        s"""{"k":$k,"v":"$v","ver":$ver}"""
      }.mkString("\n").getBytes("UTF-8"))
      f.toFile.setLastModified(mtime)
    }
    val t0 = System.currentTimeMillis() - 60000L
    writeBatch("b1", t0, Seq((1L, "a", 1L), (2L, "b", 1L)))
    writeBatch("b2", t0 + 5000L, Seq((2L, "B", 2L), (3L, "c", 1L)))

    // The one failure window the plain restart test can't reach: the
    // MERGE lands its table commit, then the process dies BEFORE the
    // streaming checkpoint acknowledges the batch. On restart Spark
    // re-delivers that batch; re-merging the identical batch must be
    // STATE-idempotent (same final rows — matched keys replace with
    // the same values), with the retry visible only in the version log.
    @volatile var crashAfterMerge = true
    def run(): Unit = {
      val stream = spark.readStream.schema(cdcSchema)
        .option("maxFilesPerTrigger", 1).json(src)
      val q = stream.writeStream
        .outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          if (!batch.isEmpty) {
            val hasK3 = batch.filter(col("k") === 3L).limit(1).count() > 0
            MergeTable.merge(batch.sparkSession, tbl,
              Upsert.lastWriteWins(batch, "k", "ver"), "k")
            // table commit is durable; die before the checkpoint commit
            if (hasK3 && crashAfterMerge)
              throw new RuntimeException("simulated crash after table commit")
          }
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val crash = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run()
    }
    assert(crash.getMessage.contains("simulated crash"))
    // the table already holds b2's merge — the commit the checkpoint
    // never acknowledged
    assert(MergeTable.versions(spark, tbl).size == 2)

    crashAfterMerge = false
    run() // restart: Spark re-delivers b2, the merge re-applies it
    def state(): Map[Long, String] = MergeTable.snapshot(spark, tbl)
      .select("k", "v").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(state() == Map(1L -> "a", 2L -> "B", 3L -> "c"))
    // the replay is RECORDED, not hidden: 3 commits for 2 logical batches
    assert(MergeTable.versions(spark, tbl).size == 3)
    // and the replayed commit changed nothing: the pre- and post-replay
    // snapshots are identical row sets
    val preReplay = MergeTable.snapshot(spark, tbl, asOf = Some(2L))
      .select("k", "v").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(preReplay == state().map(identity).toSet)
  }

  test("stageChunks stages one file per chunk and fails on chunk values outside [from, n)") {
    def frame(chunk: org.apache.spark.sql.Column) =
      spark.range(0, 30).select(col("id").as("event_id"), chunk.as("chunk"))
    val ok = Files.createTempDirectory("graft_stage_ok").toString
    StreamQueries.stageChunks(spark, frame(col("id") % 3), ok, n = 3, baseMs = 0L)
    val staged = new java.io.File(ok).list().filter(_.endsWith(".parquet")).sorted.toSeq
    assert(staged == Seq("chunk-0000.parquet", "chunk-0001.parquet", "chunk-0002.parquet"))
    assert(spark.read.parquet(ok).count() == 30)

    val bad = frame(when(col("id") === 29, 5L).when(col("id") === 28, lit(null))
      .otherwise(col("id") % 3))
    val e = intercept[IllegalArgumentException](StreamQueries.stageChunks(spark, bad,
      Files.createTempDirectory("graft_stage_bad").toString, n = 3, baseMs = 0L))
    assert(e.getMessage.contains("5, __HIVE_DEFAULT_PARTITION__ fall outside [0, 3)"),
      e.getMessage)
    val below = intercept[IllegalArgumentException](StreamQueries.stageChunks(spark,
      frame(col("id") % 3), Files.createTempDirectory("graft_stage_from").toString,
      n = 3, baseMs = 0L, from = 1))
    assert(below.getMessage.contains("values 0 fall outside [1, 3)"), below.getMessage)

    // an empty chunk (1 here) still stages one file, empty and of the
    // frame's schema, without evaluating the frame a second time
    val evals = spark.sparkContext.longAccumulator("stage-evals")
    val counted = udf { (c: Long) => evals.add(1); c }
    val gap = Files.createTempDirectory("graft_stage_gap").toString
    StreamQueries.stageChunks(spark, frame(counted(col("id") % 2 * 2)), gap, n = 3, baseMs = 0L)
    assert(new java.io.File(gap).list().filter(_.endsWith(".parquet")).sorted.toSeq == staged)
    val empty = spark.read.parquet(s"$gap/chunk-0001.parquet")
    assert(empty.count() == 0 && empty.columns.toSeq == Seq("event_id"))
    assert(spark.read.parquet(gap).count() == 30)
    assert(evals.value == 30L, s"frame evaluated ${evals.value} times for 30 rows")
  }
}
