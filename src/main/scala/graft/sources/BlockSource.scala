package graft.sources

import java.util
import graft.ingest.Backfill
import graft.model.Schemas
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 streaming block source — S1's cluster-scale form
  * (SURVEY.md §2.1: "at scale a custom DataSource V2 `TableProvider`
  * wrapping the RPC").
  *
  * Slots are the streaming offsets, and each micro-batch's slot range
  * is the partitioning axis: `workers` input partitions each own a
  * contiguous slot sub-range (the reference's chunk×semaphore scheme,
  * backfill.rs:22-60, expressed as Spark partition planning).
  *
  * The per-partition reader fetches through the same
  * [[graft.ingest.Backfill.BlockFetcher]] seam backfill uses: with an
  * `endpoint` option, [[RpcClient.fetcher]] over the options'
  * [[RpcConfig]] (one client per partition, so its pacing and retry are
  * per partition, the reference's connection-per-worker); without one,
  * the deterministic synthetic stand-in.
  *
  * Usage:
  * {{{
  *   spark.readStream.format("graft.sources.BlockSource")
  *     .option("startSlot", 1).option("tipSlot", 1001)
  *     .option("workers", 8).option("maxSlotsPerTrigger", 250)
  *     .options(RpcConfig.toOptions(cfg))  // omit for synthetic blocks
  *     .load()                       // → (slot BIGINT, block_json STRING)
  * }}}
  */
class BlockSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    Schemas.rawBlockSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new BlockTable
  override def supportsExternalMetadata(): Boolean = false
}

/** All option resolution happens at scan-build time from the
  * CaseInsensitiveStringMap Spark passes per read — the table holds no
  * option state (a constructor copy of the table properties would be
  * dead weight that a future reader could mistake for an honored
  * configuration channel). */
private[sources] class BlockTable extends Table with SupportsRead {
  override def name(): String = "graft_blocks"
  override def schema(): StructType = Schemas.rawBlockSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val scan = new BlockScan(
      options.getLong("startSlot", 0L),
      options.getInt("workers", 4),
      options.getLong("tipSlot", 0L),
      options.getLong("maxSlotsPerTrigger", 1000L),
      RpcConfig.fromOptions(options))
    () => scan
  }
}

private[sources] class BlockScan(start: Long, workers: Int, tip: Long,
    maxSlotsPerTrigger: Long, rpc: Option[RpcConfig]) extends Scan {
  override def readSchema(): StructType = Schemas.rawBlockSchema
  override def description(): String =
    s"graft_blocks slots=[$start,$tip) workers=$workers"

  /** OFFSETS ARE SLOTS (SURVEY §2.9 ST2 — the `last_confirmed_slot`
    * checkpoint row becomes the engine-managed streaming offset).
    * `tipSlot` plays the chain tip (S2); a live source would call
    * get_slot() here. `maxSlotsPerTrigger` is the reference's
    * batch-size throttle (S7/ST5) as a source option. */
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new BlockMicroBatchStream(start, tip, workers, maxSlotsPerTrigger, rpc)
}

private[sources] case class SlotRangePartition(lo: Long, hi: Long) extends InputPartition

/** Offset = next slot to read (exclusive end of what's committed). */
private[sources] case class SlotOffset(slot: Long) extends Offset {
  override def json(): String = s"""{"slot":$slot}"""
}

private[sources] class BlockMicroBatchStream(start: Long, tip: Long, workers: Int,
    maxSlotsPerTrigger: Long, rpc: Option[RpcConfig])
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  override def initialOffset(): Offset = SlotOffset(start)

  /** The per-trigger throttle (the reference's batch-size/rate caps,
    * S7/ST5) via admission control: each micro-batch admits at most
    * `maxSlotsPerTrigger` slots toward the chain tip. ST3's no-new-data
    * guard is Spark comparing latest == committed. */
  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(maxSlotsPerTrigger)

  override def latestOffset(startOff: Offset, limit: ReadLimit): Offset = {
    val s = startOff.asInstanceOf[SlotOffset].slot
    val cap = limit match {
      case mr: ReadMaxRows => mr.maxRows()
      case _ => maxSlotsPerTrigger
    }
    SlotOffset(math.min(tip, s + cap))
  }

  override def reportLatestOffset(): Offset = SlotOffset(tip)

  /** A live source would snapshot get_slot() here so AvailableNow drains
    * exactly to the tip observed at query start. */
  override def prepareForTriggerAvailableNow(): Unit = ()

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("admission-control latestOffset is used")

  override def deserializeOffset(json: String): Offset = {
    val m = """\{"slot":(\d+)\}""".r
    json.trim match {
      case m(s) => SlotOffset(s.toLong)
      case other => throw new IllegalArgumentException(s"bad offset: $other")
    }
  }

  /** The micro-batch planner: [lo, hi) split into at most `workers`
    * contiguous slot ranges of equal size (the last one shorter). */
  override def planInputPartitions(startOff: Offset, endOff: Offset): Array[InputPartition] = {
    val lo = startOff.asInstanceOf[SlotOffset].slot
    val hi = endOff.asInstanceOf[SlotOffset].slot
    val total = math.max(0L, hi - lo)
    if (total == 0) return Array.empty
    val n = math.min(workers.toLong, total).toInt
    val step = (total + n - 1) / n
    (0 until n).map { i =>
      val from = lo + i * step
      SlotRangePartition(from, math.min(from + step, hi)): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new BlockReaderFactory(rpc)
  override def commit(end: Offset): Unit = ()  // checkpoint log owns durability
  override def stop(): Unit = ()
}

private[sources] class BlockReaderFactory(rpc: Option[RpcConfig])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val SlotRangePartition(lo, hi) = p.asInstanceOf[SlotRangePartition]
    // a fetcher per reader, as backfill's is per task: the live client
    // (built on first fetch) paces and retries for this partition only
    val fetch: Backfill.BlockFetcher =
      rpc.fold[Backfill.BlockFetcher](Backfill.syntheticBlock)(RpcClient.fetcher)
    new PartitionReader[InternalRow] {
      private val slots = Iterator.range(lo, hi).flatMap(s => fetch(s).map(j => (s, j)))
      private var current: (Long, String) = _
      override def next(): Boolean =
        if (slots.hasNext) { current = slots.next(); true } else false
      override def get(): InternalRow =
        InternalRow(current._1, UTF8String.fromString(current._2))
      override def close(): Unit = ()
    }
  }
}
