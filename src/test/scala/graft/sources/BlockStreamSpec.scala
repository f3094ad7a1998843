package graft.sources

import graft.SparkSpec
import graft.ingest.Parse
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

/** Streaming form of the block source: slots as engine-managed offsets,
  * admission-controlled micro-batches, checkpointed restart. */
class BlockStreamSpec extends SparkSpec {

  private def stream(startSlot: Long, tip: Long, maxPerTrigger: Long) =
    spark.readStream.format("graft.sources.BlockSource")
      .option("startSlot", startSlot).option("tipSlot", tip)
      .option("workers", 4).option("maxSlotsPerTrigger", maxPerTrigger)
      .load()

  private def nonEmptyBatches(q: org.apache.spark.sql.streaming.StreamingQuery): Int =
    q.recentProgress.count(_.numInputRows > 0)

  private def slotsIn(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select("slot").distinct().collect().map(_.getLong(0)).sorted.toSeq

  private def presentSlots(start: Long, tip: Long): Seq[Long] =
    (start until tip).filter(graft.ingest.Backfill.syntheticBlock(_).isDefined)

  test("AvailableNow drains to the tip in rate-capped batches; restart resumes from the checkpoint") {
    val base = Files.createTempDirectory("graft_bstream").toString
    val sink = s"$base/sink"; val ckpt = s"$base/ckpt"

    // parse directly on the streaming DF: the same transform runs batch
    // and streaming (the Spark contract the reference's loop can't offer)
    val q1 = Parse.parse(stream(1, 51, maxPerTrigger = 10))
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .format("parquet").option("path", sink).start()
    q1.awaitTermination()

    val got = spark.read.parquet(sink)
    val batchEquivalent = Parse.parse(
      graft.ingest.Backfill.fetchRange(spark, 1, 51, workers = 4))
    assert(got.count() == batchEquivalent.count())
    assert(got.agg(max(col("slot"))).collect()(0).getLong(0) == 50L)
    // admission: ceil(50 slots / 10 per trigger) non-empty micro-batches,
    // and every present slot (the synthetic chain skips every 97th) lands
    assert(nonEmptyBatches(q1) == 5)
    assert(slotsIn(got) == presentSlots(1, 51))

    // restart with a higher tip: only the new slots are read
    val q2 = Parse.parse(stream(1, 81, maxPerTrigger = 10))
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .format("parquet").option("path", sink).start()
    q2.awaitTermination()

    val after = spark.read.parquet(sink)
    assert(after.agg(max(col("slot"))).collect()(0).getLong(0) == 80L)
    // only the 30 new slots are admitted: ceil(30 / 10) more batches, and
    // no seam between micro-batches or runs loses a slot
    assert(nonEmptyBatches(q2) == 3)
    assert(slotsIn(after) == presentSlots(1, 81))
    // no duplicated events despite the shared event-id space
    assert(after.count() == after.select("event_id").distinct().count())
  }
}
