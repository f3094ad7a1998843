package graft.ingest

import graft.model.Schemas
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Continuous micro-batch ingest — the reference's `incremental`
  * (/root/reference/src/incremental.rs:10-105) as Structured Streaming.
  *
  * Mapping (SURVEY.md §2.9): the poll-sleep loop is the processing-time
  * trigger; the `last_confirmed_slot` KV row is the streaming checkpoint;
  * the no-new-data guard is the source's offset comparison; replay safety
  * is the deterministic event_id dedup inside foreachBatch. The
  * reference's strict in-order slot scan (incremental.rs:58-59) is
  * deliberately relaxed — its own idempotent upsert makes order
  * irrelevant, which this sink exploits for parallelism (§7.5).
  *
  * The source here is a drop-directory of block JSON files (slot = file
  * content); a live deployment swaps in a DataSource V2 wrapping the RPC
  * with slots as offsets — the transform/sink pipeline is identical.
  */
object Incremental {

  /** Start the incremental pipeline reading block JSON lines from
    * `srcDir` (one raw block row per line: `{"slot":…,"block_json":…}`).
    *
    * @param trigger  `Trigger.AvailableNow()` drains the backlog and
    *                 stops (testable batch mode); processing-time mirrors
    *                 the reference's 30 s poll loop (config.rs:76-79).
    */
  def start(spark: SparkSession, srcDir: String, sink: Backfill.EventSink,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    startFromRaw(spark.readStream.schema(Schemas.rawBlockSchema).json(srcDir),
      sink, checkpointDir, trigger)

  /** [[startFromRaw]] into a parquet [[Backfill.FileSink]] at `sinkPath`. */
  def startFromRaw(raw: DataFrame, sinkPath: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    startFromRaw(raw, Backfill.FileSink(sinkPath), checkpointDir, trigger)

  /** The shared pipeline tail for ANY raw block stream (file drop-dir or
    * the DataSource V2 block source) into ANY sink (file formats or a
    * JDBC database): streaming-safe parse (no unbounded dedup state —
    * idempotency is enforced per epoch in foreachBatch), checkpointed,
    * and landed through the same guarded [[Backfill.EventSink.write]]
    * as a backfill — the reference's poll loop likewise hands every
    * batch to the one `insert_events` (incremental.rs:55-96), so a
    * replayed epoch (checkpoint rollback, restart mid-commit) converges
    * instead of duplicating. */
  def startFromRaw(raw: DataFrame, sink: Backfill.EventSink,
      checkpointDir: String, trigger: Trigger): StreamingQuery =
    Parse.parse(raw.select(col("slot"), col("block_json")), dedup = false)
      .withColumn("block_date", to_date(col("block_time")))
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // per-epoch idempotent landing: dedup inside the batch, then the
        // sink's guarded write (warehouse.rs:227-229 semantics — first
        // write wins per event_id; replays converge).
        // three consumers below (date probe, anti-join, write): pin so
        // the batch's parse work runs once per trigger
        val deduped = batch.dropDuplicates("event_id")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // the guard read is PRUNED to the batch's own date span: the
          // sink is date-partitioned and a replayed batch re-lands on
          // its own dates, so the anti-join scans only partitions the
          // batch can collide with. An unpruned read was a full-sink
          // scan per trigger — a 30 s cadence is eventually outrun by
          // its own lifetime data. (The date probe is metadata-plane:
          // one tiny distinct over the already-pinned batch.)
          val dates = deduped.select(col("block_date")).distinct()
            .collect().map(_.getDate(0))
          // Parse guarantees non-null block_time today, but the prune
          // must not DEGRADE SILENTLY if that contract ever slips: a
          // null Date in an isin list never matches the sink's
          // null-date partition, so such rows would bypass the
          // anti-join and duplicate on replay. Extend the prune to the
          // null partition exactly when the batch carries null dates.
          val (nullDates, realDates) = dates.partition(_ == null)
          val prune =
            if (realDates.isEmpty) col("block_date").isNull
            else {
              val in = col("block_date").isin(realDates.toIndexedSeq: _*)
              if (nullDates.nonEmpty) in || col("block_date").isNull else in
            }
          sink.write(deduped, prune)
        } finally deduped.unpersist()
        ()
      }
      .start()
}
