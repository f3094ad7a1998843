package graft.ingest

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** etl_checkpoints semantics (SCHEMA.md:283-300): status transitions,
  * crash surfacing, and the resume worklist. */
class CheckpointsSpec extends SparkSpec {

  test("tracked backfill transitions in_progress → completed") {
    val base = Files.createTempDirectory("graft_ckpt").toString
    val ckpt = s"$base/ckpt"; val out = s"$base/events"
    Checkpoints.runTracked(spark, ckpt, "bf_1_101", 1L, 101L, workers = 4,
      Backfill.FileSink(out))
    val snap = Checkpoints.snapshot(spark, ckpt).collect()
    assert(snap.length == 1)
    val row = snap.head
    assert(row.getAs[String]("status") == Checkpoints.Completed)
    assert(row.getAs[Long]("last_processed_slot") == 100L)
    assert(Checkpoints.incomplete(spark, ckpt).count() == 0)
    // the underlying log keeps BOTH rows (append-only audit trail)
    assert(spark.read.parquet(ckpt).count() == 2)
    assert(spark.read.parquet(out).count() > 0)
  }

  test("failing fetch surfaces as failed and stays on the resume worklist") {
    val base = Files.createTempDirectory("graft_ckpt_fail").toString
    val ckpt = s"$base/ckpt"; val out = s"$base/events"
    val boom: Backfill.BlockFetcher =
      s => if (s >= 150) throw new RuntimeException("rpc down") else Backfill.syntheticBlock(s)
    intercept[Exception] {
      Checkpoints.runTracked(spark, ckpt, "bf_100_201", 100L, 201L, workers = 4,
        Backfill.FileSink(out), fetcher = boom)
    }
    val bad = Checkpoints.incomplete(spark, ckpt).collect()
    assert(bad.length == 1)
    assert(bad.head.getAs[String]("status") == Checkpoints.Failed)
    assert(bad.head.getAs[Long]("start_slot") == 100L)
    // a successful re-run of the same checkpoint id clears the worklist
    Checkpoints.runTracked(spark, ckpt, "bf_100_201", 100L, 201L, workers = 4,
      Backfill.FileSink(out))
    assert(Checkpoints.incomplete(spark, ckpt).count() == 0)
  }

  test("ETL_CHECKPOINT_INTERVAL segments: progress rows per segment, " +
      "crash resumes from the high-water mark (backfill.rs:119)") {
    val base = Files.createTempDirectory("graft_ckpt_seg").toString
    val ckpt = s"$base/ckpt"; val out = s"$base/events"
    val boom: Backfill.BlockFetcher =
      s => if (s >= 170) throw new RuntimeException("rpc down")
           else Backfill.syntheticBlock(s)
    intercept[Exception] {
      Checkpoints.runTracked(spark, ckpt, "bf_seg", 100L, 201L, workers = 4,
        Backfill.FileSink(out), fetcher = boom, checkpointInterval = Some(25L))
    }
    // segments [100,125) and [125,150) landed and were recorded before
    // the [150,175) segment hit the failing slot: the failed row's
    // last_processed_slot is 149, NOT start-1 — the resume point
    val row = Checkpoints.incomplete(spark, ckpt).collect()
    assert(row.length == 1)
    assert(row.head.getAs[String]("status") == Checkpoints.Failed)
    assert(row.head.getAs[Long]("last_processed_slot") == 149L)
    // the two completed segments' events are IN the sink (resume
    // does not refetch them; the event anti-join heals the torn third)
    val slots = spark.read.parquet(out).select("slot").distinct().count()
    assert(slots == (100L until 150L).count(_ % 97 != 0))
    // resume from the recorded mark with a healthy fetcher: converges,
    // full audit trail keeps every segment row
    Checkpoints.runTracked(spark, ckpt, "bf_seg", 150L, 201L, workers = 4,
      Backfill.FileSink(out), checkpointInterval = Some(25L))
    assert(Checkpoints.incomplete(spark, ckpt)
      .filter(col("checkpoint_id") === "bf_seg").count() == 0)
    assert(spark.read.parquet(out).select("slot").distinct().count() ==
      (100L until 201L).count(_ % 97 != 0))
    // segment cadence is observable in the log: first run = initial
    // in_progress + 2 completed-segment rows + the failed row; resume
    // = initial + rows for [150,175) [175,200) [200,201), the last
    // doubling as the completed row. 4 + 4 = 8 total.
    assert(spark.read.parquet(ckpt).count() == 8)
  }

  test("zero-length tracked range still lands a completed row") {
    val base = Files.createTempDirectory("graft_ckpt_zero").toString
    val ckpt = s"$base/ckpt"
    Checkpoints.runTracked(spark, ckpt, "bf_empty", 50L, 50L, workers = 2,
      Backfill.FileSink(s"$base/events"), checkpointInterval = Some(10L))
    val snap = Checkpoints.snapshot(spark, ckpt).collect()
    assert(snap.length == 1 &&
      snap.head.getAs[String]("status") == Checkpoints.Completed)
  }

  test("tracked backfill into a JDBC sink completes; a replay converges") {
    val base = Files.createTempDirectory("graft_ckpt_jdbc").toString
    val ckpt = s"$base/ckpt"
    val wh = graft.sources.JdbcWarehouse(s"jdbc:derby:$base/db;create=true", "events")
    Checkpoints.runTracked(spark, ckpt, "bf_jdbc", 1L, 101L, workers = 4,
      Backfill.JdbcSink(wh), checkpointInterval = Some(40L))
    val snap = Checkpoints.snapshot(spark, ckpt).collect()
    assert(snap.length == 1 &&
      snap.head.getAs[String]("status") == Checkpoints.Completed)
    assert(snap.head.getAs[Long]("last_processed_slot") == 100L)
    val n = wh.readIfAny(spark).get.count()
    assert(n > 0)
    // replaying the whole range lands nothing new
    Checkpoints.runTracked(spark, ckpt, "bf_jdbc", 1L, 101L, workers = 4,
      Backfill.JdbcSink(wh), checkpointInterval = Some(40L))
    val after = wh.readIfAny(spark).get
    assert(after.count() == n)
    assert(after.select("event_id").distinct().count() == n)
    assert(Checkpoints.incomplete(spark, ckpt).count() == 0)
  }
}
