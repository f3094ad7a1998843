package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev-only scale rehearsal (Test scope) for the NATIVE streaming ingest
  * path the `stream_block_ingest` oracle row declares at 200 slots:
  * `BlockMicroBatchStream` (slot offsets, `maxSlotsPerTrigger` admission)
  * → `Parse.parse` fan-out → per-batch CDC MERGE commits — the
  * reference's incremental loop (incremental.rs:34-105) end-to-end, at
  * 100× the declared range. What this pins that the batch-parse timings
  * of the pipeline benchmark (`pipebench backfill --trace 1`:
  * `ingest.parse_s`, `ingest.dedup_s`) cannot:
  *
  *  - admission cadence holds at depth: N batches of exactly
  *    `maxSlotsPerTrigger` slots, version log length == ceil(slots/cap);
  *  - offset coverage: every slot in [start, tip) lands exactly once in
  *    the final snapshot (no seam loss/overlap between micro-batches);
  *  - MERGE-per-batch cost stays bounded as the table grows — each
  *    batch's key span is disjoint from the table's existing spans
  *    (slots are monotone), so the span-pruned MERGE must behave as an
  *    append, not a full-table rewrite. The per-batch wall times are
  *    printed so super-linear growth is visible, not inferred.
  *
  * Run: sbt 'Test/runMain graft.sources.ProfileBlockStream 20001 2000'
  */
object ProfileBlockStream {
  def main(args: Array[String]): Unit = {
    val tip = args.headOption.map(_.toLong).getOrElse(20001L) // slots [1, tip)
    val perTrigger = args.lift(1).map(_.toLong).getOrElse(2000L)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val tmp = java.nio.file.Files.createTempDirectory("graft-blockstream")
    val root = tmp.resolve("events_tbl").toString
    val ckpt = tmp.resolve("ckpt").toString
    val nSlots = tip - 1
    // the synthetic chain skips every 97th slot (Backfill.syntheticBlock
    // — ST8 missing-slot tolerance), so coverage is over PRESENT slots
    val presentSlots = nSlots - nSlots / 97
    val expectBatches = ((nSlots + perTrigger - 1) / perTrigger).toInt
    println(s"[blockstream] $nSlots slots ($presentSlots present), " +
      s"$perTrigger/trigger -> expect $expectBatches batches")

    val raw = spark.readStream.format("graft.sources.BlockSource")
      .option("startSlot", 1L)
      .option("tipSlot", tip)
      .option("workers", 32)
      .option("maxSlotsPerTrigger", perTrigger)
      .load()
    val events = graft.ingest.Parse.parse(raw, dedup = false)

    // per-batch wall time via the progress listener: super-linear MERGE
    // growth (a full-table rewrite per commit) shows up as a rising tail
    val batchSecs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0)
          batchSecs.add(e.progress.batchDuration / 1e3)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    })

    val t0 = System.nanoTime()
    graft.streaming.StreamAnalytics.cdcApply(events, root,
      key = "event_id", versionCol = "slot", checkpointDir = Some(ckpt))
      .awaitTermination()
    val dt = (System.nanoTime() - t0) / 1e9

    val versions = graft.operators.MergeTable.versions(spark, root)
    val snap = graft.operators.MergeTable.snapshot(spark, root)
    val stats = snap.agg(
      count(lit(1)).as("n_events"),
      countDistinct(col("slot")).as("n_slots"),
      min(col("slot")).as("min_slot"),
      max(col("slot")).as("max_slot")).head()
    val (nEvents, gotSlots) = (stats.getLong(0), stats.getLong(1))

    println(f"[blockstream] drained $dt%7.2f s  ${nSlots / dt}%8.0f slots/s  ${nEvents / dt}%9.0f events/s")
    println(s"[blockstream] versions=${versions.length} (expect $expectBatches)  " +
      s"events=$nEvents  slots=$gotSlots/$presentSlots span=[${stats.getLong(2)},${stats.getLong(3)}]")
    val secs = batchSecs.toArray(Array.empty[java.lang.Double]).map(_.doubleValue())
    println(f"[blockstream] batch secs: ${secs.map(s => f"$s%.1f").mkString(" ")}  " +
      f"first-half avg ${secs.take(secs.length / 2).sum / math.max(1, secs.length / 2)}%.2f  " +
      f"second-half avg ${secs.drop(secs.length / 2).sum / math.max(1, secs.length - secs.length / 2)}%.2f")

    require(versions.length == expectBatches,
      s"admission cadence broke: ${versions.length} batches != $expectBatches")
    // span endpoints are over PRESENT slots too: slot 1 is never a
    // multiple of 97 so min is always 1, but the last slot (nSlots) is
    // missing whenever 97 | nSlots — demand the last present slot, not
    // the raw range end, or healthy runs at e.g. tip=9701 fail here
    val maxPresent = if (nSlots % 97 == 0) nSlots - 1 else nSlots
    require(gotSlots == presentSlots && stats.getLong(2) == 1L && stats.getLong(3) == maxPresent,
      s"offset coverage broke: $gotSlots distinct slots (expect $presentSlots), " +
        s"span [${stats.getLong(2)},${stats.getLong(3)}] (expect [1,$maxPresent])")

    val fs = new org.apache.hadoop.fs.Path(tmp.toString)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(tmp.toString), true)
    spark.stop()
  }
}
