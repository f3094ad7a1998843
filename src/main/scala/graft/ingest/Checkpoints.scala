package graft.ingest

import graft.operators.Upsert
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's `etl_checkpoints` backfill-progress table
  * (/root/reference/docs/SCHEMA.md:283-300: checkpoint_id, slot range,
  * last_processed_slot, status in_progress/completed/failed) as an
  * append-only parquet log resolved last-write-wins per checkpoint_id —
  * same storage discipline as [[graft.operators.MetadataStore]]: a
  * crashed writer can never corrupt prior state, and the snapshot view
  * is one window pass.
  */
object Checkpoints {

  val InProgress = "in_progress"
  val Completed = "completed"
  val Failed = "failed"

  /** Append one status row for `checkpointId`. Versions are strictly
    * monotonic (max(now, stored-max + 1)) so rapid transitions resolve
    * in write order. */
  def record(spark: SparkSession, path: String, checkpointId: String,
      startSlot: Long, endSlot: Long, lastProcessedSlot: Long,
      status: String): Unit = {
    import spark.implicits._
    val version = graft.operators.StoreOps.nextVersion(spark, path, "updated_at")
    Seq((checkpointId, startSlot, endSlot, lastProcessedSlot, status, version))
      .toDF("checkpoint_id", "start_slot", "end_slot",
        "last_processed_slot", "status", "updated_at")
      .write.mode(SaveMode.Append).parquet(path)
  }

  /** Current state per checkpoint (latest row wins). */
  def snapshot(spark: SparkSession, path: String): DataFrame =
    try Upsert.lastWriteWins(spark.read.parquet(path), "checkpoint_id", "updated_at")
    catch {
      case _: org.apache.spark.sql.AnalysisException =>
        import spark.implicits._
        Seq.empty[(String, Long, Long, Long, String, Long)]
          .toDF("checkpoint_id", "start_slot", "end_slot",
            "last_processed_slot", "status", "updated_at")
    }

  /** Checkpoints that never reached `completed` — the resume worklist
    * (SCHEMA.md's status axis is exactly for crash recovery). */
  def incomplete(spark: SparkSession, path: String): DataFrame =
    snapshot(spark, path).filter(col("status") =!= Completed)

  /** Backfill a range under checkpoint tracking: in_progress before the
    * run, completed after, failed (with the range left resumable) when
    * the fetch/parse/write pipeline throws.
    *
    * `checkpointInterval` (ETL_CHECKPOINT_INTERVAL, backfill.rs:119:
    * record `last_processed_slot` every N slots) segments the range:
    * each N-slot segment lands fully before its progress row commits,
    * so a crash resumes from `last_processed_slot + 1` instead of
    * re-running the whole range — the failed row carries the true
    * high-water mark, and the sink's event-level guarded write makes
    * the re-run of the crashed segment itself converge, on files and
    * JDBC databases alike. None keeps the single-segment behavior (one
    * in_progress → one terminal row).
    *
    * Size the interval for RESUME GRANULARITY, not row-update parity:
    * each segment is a full pipeline run (fetch + parse + sink-pruned
    * anti-join + append) plus two checkpoint-log passes, where the
    * reference's interval=100 priced a single-row DB UPDATE
    * (backfill.rs:119). A useful interval is ≥ chunkSize × workers —
    * work you are willing to refetch after a crash — so a 1M-slot
    * range stays tens of segments, never ten thousand. */
  def runTracked(spark: SparkSession, ckptPath: String, checkpointId: String,
      startSlot: Long, endSlot: Long, workers: Int, sink: Backfill.EventSink,
      fetcher: Backfill.BlockFetcher = Backfill.syntheticBlock,
      checkpointInterval: Option[Long] = None,
      chunkSize: Option[Long] = None): Unit = {
    record(spark, ckptPath, checkpointId, startSlot, endSlot, startSlot - 1, InProgress)
    val step = checkpointInterval.filter(_ > 0).getOrElse(endSlot - startSlot)
    var done = startSlot // next slot to process
    try {
      while (done < endSlot) {
        val segEnd = math.min(done + step, endSlot)
        Backfill.runTo(spark, done, segEnd, workers, sink, fetcher, chunkSize)
        done = segEnd
        val status = if (done >= endSlot) Completed else InProgress
        record(spark, ckptPath, checkpointId, startSlot, endSlot, done - 1, status)
      }
      // zero-length range: no segment loop ran, still mark completed
      if (startSlot >= endSlot)
        record(spark, ckptPath, checkpointId, startSlot, endSlot, endSlot - 1, Completed)
    } catch {
      case e: Throwable =>
        record(spark, ckptPath, checkpointId, startSlot, endSlot, done - 1, Failed)
        throw e
    }
  }
}
