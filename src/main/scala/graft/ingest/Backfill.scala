package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Parallel historical range loader — the reference's `backfill`
  * (/root/reference/src/backfill.rs:11-138) Spark-first.
  *
  * The reference chunks the slot range, caps concurrency with a tokio
  * semaphore, and upserts per-chunk batches. Here the whole shape is
  * `spark.range(start, end, 1, n)` (contiguous slot chunks, one per
  * task) → fetch in a projection → parse → dedup on (slot, event_id) →
  * date-partitioned write (SURVEY.md §3.2): chunking/concurrency =
  * partitioning, semaphore = executor cores, per-chunk connections =
  * per-task writers, and the per-event upsert becomes the dedup +
  * [[EventSink.write]]'s event-level anti-join against the sink's slot
  * span before an append (the reference's is_slot_processed guard,
  * S11/J3, as one distributed pass).
  *
  * The range's slot-ordered partitioning survives the fetch, the parse
  * and the explode, and it already clusters the dedup's (slot,
  * event_id) key (event_id is a function of the slot), so a backfill
  * call is one stage with no shuffle. Each task holds one contiguous
  * slot run, so it writes one file per date its run covers.
  *
  * At cluster scale the fetcher partition count bounds concurrent RPC
  * load exactly like the reference's `--workers` (rate limiting is a
  * source property, S7); replays and overlapping re-runs converge
  * because [[EventSink.write]] drops every event the sink already holds
  * before the append.
  */
object Backfill {

  /** Pluggable block fetcher: slot → block JSON (None ⇒ missing slot,
    * warn-and-skip semantics, backfill.rs:111-113). The live RPC client
    * implements it as [[graft.sources.RpcClient.fetcher]]; tests use
    * [[syntheticBlock]]. */
  type BlockFetcher = Long => Option[String]

  /** Deterministic synthetic block standing in for the RPC source at
    * test scale: 2 transactions per slot, one with a token instruction +
    * post balance, one failed — exercising every parse branch. */
  def syntheticBlock(slot: Long): Option[String] = {
    if (slot % 97 == 0) return None // simulate missing slots
    val t = 1704067200L + slot * 60
    def sig(i: Int) = s"sig_${slot}_$i"
    Some(
      s"""{"blockTime":$t,"blockhash":"bh_$slot","parentSlot":${slot - 1},"transactions":[
         |{"transaction":{"signatures":["${sig(0)}"],"message":{
         |  "accountKeys":["wallet_${slot % 50}","TokenkegQfeZyiNwAJbNbGKPFXCWuBvf9Ss623VQ5DA"],
         |  "instructions":[{"programId":"TokenkegQfeZyiNwAJbNbGKPFXCWuBvf9Ss623VQ5DA","accounts":["a1"],"data":"d1"},
         |                  {"programId":"prog_${slot % 7}","accounts":["a2"],"data":"d2"}]}},
         | "meta":{"err":null,"fee":5000,
         |  "preTokenBalances":[{"accountIndex":1,"mint":"mint_${slot % 11}","owner":"wallet_${slot % 50}","uiTokenAmount":{"amount":"100","decimals":6,"uiAmountString":"0.0001"}}],
         |  "postTokenBalances":[{"accountIndex":1,"mint":"mint_${slot % 11}","owner":"wallet_${slot % 50}","uiTokenAmount":{"amount":"250","decimals":6,"uiAmountString":"0.00025"}}],
         |  "logMessages":["Program log: Transfer","ok"]}},
         |{"transaction":{"signatures":["${sig(1)}"],"message":{
         |  "accountKeys":[{"pubkey":"wallet_${(slot + 1) % 50}"}],
         |  "instructions":[{"programId":"prog_${slot % 5}","accounts":[],"data":"d3"}]}},
         | "meta":{"err":"{\\"InstructionError\\":[0,\\"Custom\\"]}","fee":5000,
         |  "preTokenBalances":[],"postTokenBalances":[],"logMessages":["fail"]}}
         |]}""".stripMargin.replace("\n", ""))
  }

  /** Fetch a slot range as raw (slot, block_json) rows, `workers`-way
    * parallel over contiguous slot chunks (backfill.rs:22-60).
    * `chunkSize` (ETL_BACKFILL_CHUNK_SIZE, backfill.rs:22) caps the slots
    * per task: partitions = max(workers, ceil(range / chunk)), so
    * per-task work — and the refetch blast radius of a lost task — is
    * bounded by the chunk while small ranges still fan out to every
    * worker. At 100 TB the chunk is what keeps one straggling partition
    * from owning range/workers ≫ memory-and-retry-sized work.
    *
    * The fetch is a projection over the range, not a typed
    * `mapPartitions`, so the result keeps the range's partitioning on
    * `slot`. The fetch UDF is nondeterministic: the optimizer then never
    * copies it into a pushed-down filter, and each slot is fetched once. */
  def fetchRange(spark: SparkSession, startSlot: Long, endSlot: Long,
      workers: Int, fetcher: BlockFetcher = syntheticBlock,
      chunkSize: Option[Long] = None): DataFrame = {
    val total = math.max(0L, endSlot - startSlot)
    val n = chunkSize.filter(_ > 0) match {
      case Some(c) => math.max(workers.toLong, (total + c - 1) / c)
        .min(Int.MaxValue.toLong).toInt.max(1)
      case None => workers
    }
    val fetch = udf((slot: Long) => fetcher(slot).orNull).asNondeterministic()
    spark.range(startSlot, endSlot, 1, n)
      .select(col("id").as("slot"), fetch(col("id")).as("block_json"))
      .filter(col("block_json").isNotNull)
  }

  /** The warehouse-dispatch axis (S13, warehouse.rs:30-39's backend
    * factory): the ingest pipelines are sink-agnostic — a sink supplies
    * the replay-guard probe and the append, and [[write]] is the one
    * idempotent landing both verbs share (the reference's
    * `insert_events`, warehouse.rs:201-249). File formats (parquet,
    * orc, …) and JDBC databases plug in as values. */
  sealed trait EventSink extends Serializable {
    /** Current sink rows, or None when the sink does not exist yet. */
    def readIfAny(spark: SparkSession): Option[DataFrame]
    def append(events: DataFrame): Unit

    /** Guarded APPEND: drop every event whose `event_id` the sink
      * already holds within `span`, then append the rest. The guard is
      * EVENT-level, not slot-level, and that is what makes a crashed
      * run heal: a plain parquet append is NOT atomic, so a kill mid
      * job-commit can leave a slot PARTIALLY visible in the sink — a
      * slot-level guard would then skip that slot's missing events on
      * every replay, forever. `span` prunes the sink read to what the
      * incoming events can collide with (a backfill's slot range, an
      * incremental batch's dates), pushed to parquet row-group stats,
      * the partition index or a database's WHERE, so the guard's cost
      * is batch-sized, not sink-sized, at any table size. Identical
      * replays are no-ops; overlapping or partial re-runs add exactly
      * the missing events — first write wins per `event_id`, and
      * colliding ids are byte-equal replays (the id is a pure function
      * of slot, signature, index and type). (A partition-overwrite
      * write would delete previously loaded slots sharing a date
      * partition with the re-run range.) */
    def write(events: DataFrame, span: Column): Unit =
      append(readIfAny(events.sparkSession).fold(events)(existing =>
        events.join(existing.filter(span).select("event_id"),
          Seq("event_id"), "left_anti")))

    /** Highest slot landed, -1 when the sink is absent or empty — the
      * sink side of the chain-tip lag (ST11, health.rs:51-54). The lag
      * probe matters most in the startup window where the sink may not
      * exist yet, so that must read as a big lag, never a stack trace. */
    def tipSlot(spark: SparkSession): Long =
      readIfAny(spark).map(_.agg(max(col("slot"))).head())
        .filterNot(_.isNullAt(0)).fold(-1L)(_.getLong(0))
  }

  /** Date-partitioned file sink (parquet, orc, …). A directory holding
    * only `_SUCCESS` reads as absent: the load would throw. */
  case class FileSink(path: String, format: String = "parquet")
      extends EventSink {
    def readIfAny(spark: SparkSession): Option[DataFrame] =
      try Some(spark.read.format(format).load(path))
      catch { case _: org.apache.spark.sql.AnalysisException => None }
    def append(events: DataFrame): Unit =
      events.write.mode(SaveMode.Append).partitionBy("block_date")
        .format(format).save(path)
  }

  /** SQL-database sink — the reference's REAL warehouse (Postgres,
    * warehouse.rs:41-139) via [[graft.sources.JdbcWarehouse]]. The
    * guard's span predicate pushes down to the database's WHERE;
    * `block_date` rides as a plain column (databases index, files
    * partition). */
  case class JdbcSink(warehouse: graft.sources.JdbcWarehouse)
      extends EventSink {
    def readIfAny(spark: SparkSession): Option[DataFrame] =
      warehouse.readIfAny(spark)
    def append(events: DataFrame): Unit = warehouse.append(events)
  }

  /** `format` is the file-format leg of the S13 axis; see [[runTo]] for
    * the sink-generic pipeline (JDBC included). */
  def run(spark: SparkSession, startSlot: Long, endSlot: Long, workers: Int,
      outPath: String, fetcher: BlockFetcher = syntheticBlock,
      format: String = "parquet", chunkSize: Option[Long] = None): Unit =
    runTo(spark, startSlot, endSlot, workers, FileSink(outPath, format),
      fetcher, chunkSize)

  def runTo(spark: SparkSession, startSlot: Long, endSlot: Long, workers: Int,
      sink: EventSink, fetcher: BlockFetcher = syntheticBlock,
      chunkSize: Option[Long] = None): Unit = {
    val events = Parse.parse(
      fetchRange(spark, startSlot, endSlot, workers, fetcher, chunkSize))
      .withColumn("block_date", to_date(col("block_time")))
    sink.write(events, col("slot").between(startSlot, endSlot - 1))
  }
}
