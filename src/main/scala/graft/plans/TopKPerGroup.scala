package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode, UnsafeExternalRowSorter}
import org.apache.spark.sql.types.IntegerType

/** Whole-operator top-k-per-group (SURVEY §7.3 preference (c): custom
  * `LogicalPlan` + `SparkStrategy` + `SparkPlan`, the strategy
  * registered via `SparkSessionExtensions`). Callers build the node
  * explicitly through [[TopK.perGroup]]; no optimizer rule rewrites
  * window plans into it.
  *
  * The idiomatic Spark form — `row_number() OVER (PARTITION BY g ORDER
  * BY o) <= k` — SORTS every partition's full row set before discarding
  * all but k rows per group. This operator keeps a bounded k-row heap
  * per group instead: a map-side partial pass cuts each partition to
  * ≤ k rows per group BEFORE the shuffle (the combiner analog), the
  * post-shuffle final pass merges heaps and emits ranks. No sort of the
  * input ever happens, shuffle volume is ≤ k·|groups per partition|
  * rows, and memory is k rows per live group — the partial-aggregation
  * footprint class, not the sort-buffer class.
  *
  * The `order` must be a TOTAL order (append a unique tie-break key,
  * as every top-k query in this repo already does) — with ties at the
  * k boundary the kept representative is otherwise arrival-dependent,
  * exactly as it is for `row_number` itself. */
case class TopKPerGroup(
    k: Int,
    partitionExprs: Seq[Expression],
    order: Seq[SortOrder],
    rankAttr: Attribute,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr)
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroup =
    copy(child = newChild)
}

/** Plans [[TopKPerGroup]] as a partial/final [[TopKPerGroupExec]] pair;
  * EnsureRequirements inserts the group-keyed exchange between them. */
object TopKPerGroupStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroup(k, part, ord, rankAttr, child) =>
      val partial = TopKPerGroupExec(k, part, ord, None, planLater(child))
      TopKPerGroupExec(k, part, ord, Some(rankAttr), partial) :: Nil
    case _ => Nil
  }
}

/** Bounded-heap top-k per group. `rankAttr = None` is the map-side
  * partial (no required distribution, emits surviving rows unranked);
  * `Some(attr)` is the final pass (requires clustering on the group
  * keys, emits ranks 1..k per group). */
case class TopKPerGroupExec(
    k: Int,
    partitionExprs: Seq[Expression],
    order: Seq[SortOrder],
    rankAttr: Option[Attribute],
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output ++ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr.toSeq)
  override def requiredChildDistribution: Seq[Distribution] =
    if (rankAttr.isDefined) ClusteredDistribution(partitionExprs) :: Nil
    else UnspecifiedDistribution :: Nil
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupExec =
    copy(child = newChild)

  override lazy val metrics = Map(
    "numOutputRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of output rows"),
    "numGroups" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of groups"),
    "numSortFallbacks" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "final passes spilled to external sort"))

  protected override def doExecute(): RDD[InternalRow] = {
    // locals only — the closure must not capture the SparkPlan itself
    val numOutputRows = longMetric("numOutputRows")
    val numGroups = longMetric("numGroups")
    val numSortFallbacks = longMetric("numSortFallbacks")
    val kLocal = k
    // group keys must canonicalize -0.0/NaN like every built-in keyed
    // operator (NormalizeFloatingNumbers doesn't visit custom nodes)
    val part = partitionExprs.map(org.apache.spark.sql.graft.GraftSqlBridge.normalizeFloats)
    val ord = order
    val childOutput = child.output
    val outAttrs = output
    val ranked = rankAttr.isDefined
    val maxGroups = TopKPerGroupExec.MaxPartialGroups
    val maxBuffered = session.sessionState.conf.getConfString(
      TopKPerGroupExec.MaxBufferedRowsKey,
      TopKPerGroupExec.DefaultMaxBufferedRows.toString).toLong
    child.execute().mapPartitions { iter =>
      val grpProj = UnsafeProjection.create(part, childOutput)
      val rowOrd = new LazilyGeneratedOrdering(ord, childOutput)
      // max-first heap per group: head = worst kept row
      val heaps = mutable.HashMap.empty[UnsafeRow, mutable.PriorityQueue[InternalRow]]
      if (!ranked) {
        // PARTIAL: streaming. The heap map is bounded BOTH at maxGroups
        // live groups AND at maxBuffered total buffered rows (k is
        // unbounded, so a group bound alone still permits groups·k
        // rows on-heap) — past either cap, rows pass through to the
        // shuffle un-limited (a superset is always correct; the final
        // pass enforces k). Replacements never grow the footprint, so
        // already-full heaps keep cutting even after the caps hit. This
        // keeps the partial a pure optimization instead of an OOM risk
        // on near-unique group keys, where map-side limiting can't help
        // anyway.
        var buffered = 0L
        val streamed = iter.flatMap { row =>
          val key = grpProj(row)
          heaps.get(key) match {
            case Some(heap) =>
              if (heap.size < kLocal) {
                if (buffered < maxBuffered) {
                  heap.enqueue(row.copy()); buffered += 1
                  Iterator.empty
                } else Iterator.single(row)
              } else if (rowOrd.compare(row, heap.head) < 0) {
                heap.dequeue(); heap.enqueue(row.copy())
                Iterator.empty
              } else Iterator.empty
            case None if heaps.size < maxGroups && buffered < maxBuffered =>
              val heap = new mutable.PriorityQueue[InternalRow]()(rowOrd)
              heap.enqueue(row.copy())
              heaps.put(key.copy(), heap)
              buffered += 1
              Iterator.empty
            case None =>
              Iterator.single(row)
          }
        }
        // ++ is by-name: heaps flush only after the input is drained
        (streamed ++ heaps.valuesIterator.flatMap(_.iterator))
          .map { r => numOutputRows += 1; r }
      } else {
        // FINAL: post-shuffle, clustered on the group keys — every row
        // of a group is in this partition, so the map holds the
        // partition's own groups only (k rows each). That footprint is
        // O(groups·k): the partial-aggregation class for the bounded-
        // group case the operator targets, but with high-cardinality
        // keys (exactly where the partial's MaxPartialGroups cap
        // deliberately passes rows through uncapped) it approaches the
        // whole partition on-heap — where the sort-based Window this
        // operator replaces would have SPILLED. So past `maxBuffered`
        // buffered rows the pass falls back: the heaps' survivors and
        // the rest of the input drain into a spillable external sort on
        // (group keys, order), and ranks stream off the sorted run one
        // group at a time — O(1) heap, disk-backed, never OOM. Rows a
        // heap already evicted are provably outside their group's top-k
        // (k better rows were in-heap), so dropping them pre-fallback
        // is sound.
        val outProj = UnsafeProjection.create(outAttrs, outAttrs)
        val joined = new JoinedRow
        val rankRow = new GenericInternalRow(1)
        var buffered = 0L
        var fellBack = false
        while (iter.hasNext && !fellBack) {
          val row = iter.next()
          val key = grpProj(row)
          heaps.get(key) match {
            case Some(heap) =>
              if (heap.size < kLocal) { heap.enqueue(row.copy()); buffered += 1 }
              else if (rowOrd.compare(row, heap.head) < 0) {
                heap.dequeue(); heap.enqueue(row.copy())
              }
            case None =>
              val heap = new mutable.PriorityQueue[InternalRow]()(rowOrd)
              heap.enqueue(row.copy())
              heaps.put(key.copy(), heap)
              buffered += 1
          }
          if (buffered > maxBuffered) fellBack = true
        }
        if (!fellBack) {
          numGroups += heaps.size
          heaps.valuesIterator.flatMap { heap =>
            // dequeueAll is max-first; reversed = rank order
            val sorted = heap.dequeueAll.reverse
            sorted.iterator.zipWithIndex.map { case (r, i) =>
              rankRow.update(0, i + 1)
              numOutputRows += 1
              outProj(joined(r, rankRow))
            }
          }
        } else {
          numSortFallbacks += 1
          val schema = org.apache.spark.sql.catalyst.types.DataTypeUtils
            .fromAttributes(childOutput)
          val fullOrd = new LazilyGeneratedOrdering(
            part.map(SortOrder(_, Ascending)) ++ ord, childOutput)
          // no usable sort prefix (leading key is an arbitrary grouping
          // expression): every comparison goes through the full
          // ordering, which only costs the fallback path
          val prefixComparator =
            new org.apache.spark.util.collection.unsafe.sort.PrefixComparator {
              override def compare(a: Long, b: Long): Int = 0
            }
          val prefixComputer = new UnsafeExternalRowSorter.PrefixComputer {
            private val zero = new UnsafeExternalRowSorter.PrefixComputer.Prefix
            override def computePrefix(row: InternalRow)
                : UnsafeExternalRowSorter.PrefixComputer.Prefix = zero
          }
          val sorter = UnsafeExternalRowSorter.create(
            schema, fullOrd, prefixComparator, prefixComputer,
            org.apache.spark.SparkEnv.get.memoryManager.pageSizeBytes, false)
          val toUnsafe = UnsafeProjection.create(childOutput, childOutput)
          def unsafe(r: InternalRow): UnsafeRow = r match {
            case u: UnsafeRow => u
            case other => toUnsafe(other)
          }
          heaps.valuesIterator.foreach(_.foreach(r => sorter.insertRow(unsafe(r))))
          heaps.clear()
          iter.foreach(r => sorter.insertRow(unsafe(r)))
          // streaming group limit over the sorted run
          var curKey: UnsafeRow = null
          var curRank = 0
          sorter.sort().flatMap { row =>
            val key = grpProj(row)
            if (curKey == null || key != curKey) {
              curKey = key.copy(); curRank = 1; numGroups += 1
            } else curRank += 1
            if (curRank <= kLocal) {
              rankRow.update(0, curRank)
              numOutputRows += 1
              Some(outProj(joined(row, rankRow)))
            } else None
          }
        }
      }
    }
  }
}

object TopKPerGroupExec {
  /** Live-group cap for the map-side partial pass: past this many
    * groups in one input partition, new groups' rows flow to the
    * shuffle un-limited instead of growing the heap map — near-unique
    * keys get no benefit from map-side limiting, so the cap converts an
    * OOM risk into a no-op. */
  val MaxPartialGroups: Int = 1 << 17

  /** Session conf bounding EITHER pass's in-memory heap footprint
    * (rows buffered across all of a partition's group heaps). Past it
    * the PARTIAL pass lets excess rows flow to the shuffle un-limited
    * (a superset is always correct) and the FINAL pass falls back to a
    * spillable external sort + streaming group limit. Row count is a
    * proxy for bytes — the default (~1M rows) keeps typical rows
    * within a few hundred MB of heap, the same class as a hash
    * aggregate's buffer before IT spills. */
  val MaxBufferedRowsKey = "spark.graft.topk.maxBufferedRows"
  val DefaultMaxBufferedRows: Long = 1L << 20
}

/** User-facing API + per-session registration. */
object TopK {

  /** Idempotently add the planner strategy for [[TopKPerGroup]] to a
    * live session (it matches only this node, so it cannot affect any
    * other plan). */
  def ensureStrategy(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(TopKPerGroupStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ TopKPerGroupStrategy

  /** Top-k rows per group, ranked 1..k, via the bounded-heap operator.
    * `orderBy` is (column, ascending) pairs and MUST form a total order
    * (append a unique key). The rank column is appended as `rankName`. */
  def perGroup(df: DataFrame, k: Int, groupCols: Seq[String],
      orderBy: Seq[(String, Boolean)], rankName: String = "rank"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val spark = df.sparkSession
    ensureStrategy(spark)
    val analyzed = df.queryExecution.analyzed
    // resolve with the session resolver so lookup semantics follow
    // spark.sql.caseSensitive (default case-insensitive), matching how
    // df("name") and SQL text bind — a hand-rolled exact-name map would
    // reject valid names differing only in case
    val resolver = spark.sessionState.analyzer.resolver
    def attr(n: String): Attribute =
      (try analyzed.resolve(Seq(n), resolver)
       catch {
         case e: org.apache.spark.sql.AnalysisException =>
           throw new IllegalArgumentException(
             s"ambiguous column '$n' — disambiguate before TopK.perGroup", e)
       }) match {
        case Some(a: Attribute) => a
        case Some(other) => throw new IllegalArgumentException(
          s"'$n' resolves to ${other.getClass.getSimpleName}; TopK.perGroup needs a top-level column")
        case None => throw new IllegalArgumentException(
          s"no column '$n' in ${analyzed.output.map(_.name).mkString(",")}")
      }
    val sortOrders = orderBy.map { case (n, asc) =>
      SortOrder(attr(n), if (asc) Ascending else Descending)
    }
    val rankAttr = AttributeReference(rankName, IntegerType, nullable = false)()
    org.apache.spark.sql.graft.GraftSqlBridge.ofRows(spark,
      TopKPerGroup(k, groupCols.map(attr), sortOrders, rankAttr, analyzed))
  }
}
