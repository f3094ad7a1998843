package graft.pipebench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Times are wall-clock nanoseconds. */
final class Span(val id: Int, val name: String, val parent: Int,
    val start: Long) {
  @volatile var end: Long = -1L
  def group: String = s"pipebench-span-$id"
  def durS: Double = (end - start) / 1e9
}

/** Spark counters summed over the jobs of one span (children included).
  * `outputRows`, the rows the span's writes committed, feeds correctness
  * checks and ratios; it is not a layer metric of its own. */
final case class SparkCounters(
    jobs: Long, stages: Long, tasks: Long,
    executorRunS: Double, executorCpuS: Double, gcS: Double,
    shuffleWriteBytes: Long, shuffleReadBytes: Long, spillBytes: Long,
    inputBytes: Long, outputBytes: Long, driverS: Double, taskSkew: Double,
    outputRows: Long = 0L) {
  def +(o: SparkCounters): SparkCounters = SparkCounters(
    jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    executorRunS + o.executorRunS, executorCpuS + o.executorCpuS, gcS + o.gcS,
    shuffleWriteBytes + o.shuffleWriteBytes, shuffleReadBytes + o.shuffleReadBytes,
    spillBytes + o.spillBytes, inputBytes + o.inputBytes,
    outputBytes + o.outputBytes, driverS + o.driverS, math.max(taskSkew, o.taskSkew),
    outputRows + o.outputRows)
  def fields: Seq[(String, Double, String)] = Seq(
    ("jobs", jobs.toDouble, "count"), ("stages", stages.toDouble, "count"),
    ("tasks", tasks.toDouble, "count"),
    ("executor_run_s", executorRunS, "s"), ("executor_cpu_s", executorCpuS, "s"),
    ("gc_s", gcS, "s"),
    ("shuffle_write_bytes", shuffleWriteBytes.toDouble, "B"),
    ("shuffle_read_bytes", shuffleReadBytes.toDouble, "B"),
    ("spill_bytes", spillBytes.toDouble, "B"),
    ("input_bytes", inputBytes.toDouble, "B"),
    ("output_bytes", outputBytes.toDouble, "B"),
    ("driver_s", driverS, "s"), ("task_skew", taskSkew, "ratio"))
}

object SparkCounters {
  val Zero = SparkCounters(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
  val Names: Seq[(String, String)] = Zero.fields.map(f => f._1 -> f._3)
}

/** The traced run's recorder: spans opened around calls into the
  * pipeline's public entry points, plus the listeners that attribute
  * Spark jobs, stages, tasks and stream triggers to them. Jobs are
  * attributed by job group: a span sets its own group on the calling
  * thread, and a streaming query's jobs (which run under the query's run
  * id) are mapped to the span that started the query. Everything stays
  * in memory until [[write]]. */
final class Tracer(spark: SparkSession, val runId: String) {
  private val sc = spark.sparkContext
  private val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  private final case class Job(id: Int, group: String, start: Long, var end: Long)
  private final class StageAgg(val group: String) {
    var submitted, completed = 0L
    var tasks = 0L
    var runMs, gcMs, cpuNs, shW, shR, spill, in, out, outRows = 0L
    val durations = new ConcurrentLinkedQueue[java.lang.Long]()
  }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentHashMap[Int, StageAgg]()
  /** streaming run id → span group of the span that started the query */
  private val streamGroups = new ConcurrentHashMap[String, String]()
  @volatile private var openStreamGroup: String = null
  /** (span group, trigger progress) for every stream trigger seen */
  val progress = new ConcurrentLinkedQueue[(String, org.apache.spark.sql.streaming.StreamingQueryProgress)]()
  /** Fact scans counted by the execution listener, per root path. */
  private val scans = new ConcurrentHashMap[String, java.lang.Long]()
  @volatile private var scanRoot: String = null

  private def groupOf(p: java.util.Properties): String = {
    val g = if (p == null) null else p.getProperty("spark.jobGroup.id")
    if (g == null) "" else streamGroups.getOrDefault(g, g)
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.put(e.jobId, Job(e.jobId, groupOf(e.properties), e.time * 1000000L, -1L))
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = jobs.get(e.jobId)
      if (j != null) j.end = e.time * 1000000L
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val a = stages.computeIfAbsent(e.stageInfo.stageId, _ => new StageAgg(groupOf(e.properties)))
      a.submitted = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val a = stages.get(e.stageInfo.stageId)
      if (a != null) a.completed = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = stages.get(e.stageId)
      val m = e.taskMetrics
      if (a != null && m != null) a.synchronized {
        a.tasks += 1
        a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime; a.gcMs += m.jvmGCTime
        a.shW += m.shuffleWriteMetrics.bytesWritten
        a.shR += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        a.spill += m.diskBytesSpilled
        a.in += m.inputMetrics.bytesRead; a.out += m.outputMetrics.bytesWritten
        a.outRows += m.outputMetrics.recordsWritten
        a.durations.add(e.taskInfo.duration)
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      val g = openStreamGroup
      if (g != null) streamGroups.put(e.runId.toString, g)
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(streamGroups.getOrDefault(e.progress.runId.toString, "") -> e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  }

  private val execListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val root = scanRoot
      if (root != null) {
        val n = countScans(qe.executedPlan, root)
        if (n > 0) scans.merge(root, n.toLong, (a, b) => a + b)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** File scans over `root` in an executed plan, through adaptive plans,
    * query stages and subqueries; a reused exchange is not a new scan. */
  private def countScans(p: SparkPlan, root: String): Int = p match {
    case a: AdaptiveSparkPlanExec => countScans(a.executedPlan, root)
    case q: QueryStageExec => countScans(q.plan, root)
    case f: FileSourceScanExec =>
      if (f.relation.location.rootPaths.exists(_.toString.contains(root))) 1 else 0
    case other =>
      other.children.map(countScans(_, root)).sum +
        other.subqueries.map(countScans(_, root)).sum
  }

  def attach(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    spark.listenerManager.register(execListener)
  }

  def detach(): Unit = {
    drain()
    sc.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(execListener)
  }

  def drain(): Unit = org.apache.spark.BenchBus.drain(sc)

  /** Time `body` as a span named `name`, a child of the open span. Set
    * `stream` when the body starts a streaming query, so the query's jobs
    * and triggers are attributed to this span. */
  def span[T](name: String, stream: Boolean = false)(body: => T): T = {
    val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), System.nanoTime())
    spans += s
    stack = s :: stack
    sc.setJobGroup(s.group, name)
    if (stream) openStreamGroup = s.group
    try body
    finally {
      s.end = System.nanoTime()
      if (stream) openStreamGroup = null
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(p.group, p.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Count file scans of `root` made while `body` runs. */
  def countingScans[T](root: String)(body: => T): (T, Long) = {
    drain(); scans.remove(root); scanRoot = root
    try { val r = body; drain(); (r, Option(scans.get(root)).map(_.longValue).getOrElse(0L)) }
    finally scanRoot = null
  }

  def all: Seq[Span] = spans.toSeq
  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  private def descendants(s: Span): Seq[Span] = {
    val kids = spans.filter(_.parent == s.id).toSeq
    kids ++ kids.flatMap(descendants)
  }

  /** Wall nanoseconds of `[lo, hi]` covered by the union of `ivs`. */
  private def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var tot, curA, curB = 0L
    var open = false
    clipped.foreach { case (a, b) =>
      if (!open) { curA = a; curB = b; open = true }
      else if (a <= curB) curB = math.max(curB, b)
      else { tot += curB - curA; curA = a; curB = b }
    }
    if (open) tot += curB - curA
    tot
  }

  /** Span duration minus the part of it its child spans cover. */
  def selfS(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.start, k.end)).toSeq
    (s.end - s.start - covered(kids, s.start, s.end)) / 1e9
  }

  /** Inclusive Spark counters of a span (its own jobs and its children's).
    * Wall-clock job times come from millisecond event stamps, so they are
    * aligned to the span through the offset between the two clocks. */
  def counters(s: Span): SparkCounters = {
    val groups = (s +: descendants(s)).map(_.group).toSet
    val js = jobs.values.asScala.filter(j => groups(j.group)).toSeq
    val sts = stages.values.asScala.filter(a => groups(a.group)).toSeq
    val offset = System.currentTimeMillis() * 1000000L - System.nanoTime()
    val (lo, hi) = (s.start + offset, s.end + offset)
    val jobIvs = js.map(j => (j.start, if (j.end < 0) hi else j.end))
    val driver = (hi - lo - covered(jobIvs, lo, hi)) / 1e9
    val longest = sts.filter(_.completed > 0).sortBy(a => -(a.completed - a.submitted)).headOption
    val skew = longest.map { a =>
      val d = a.durations.asScala.map(_.longValue).toSeq.sorted
      if (d.isEmpty) 0.0 else d.last.toDouble / math.max(1L, d(d.size / 2))
    }.getOrElse(0.0)
    def sum(f: StageAgg => Long) = sts.map(a => a.synchronized(f(a))).sum
    SparkCounters(js.size, sts.size, sum(_.tasks),
      sum(_.runMs) / 1e3, sum(_.cpuNs) / 1e9, sum(_.gcMs) / 1e3,
      sum(_.shW), sum(_.shR), sum(_.spill), sum(_.in), sum(_.out),
      math.max(0.0, driver), skew, sum(_.outRows))
  }

  /** Trigger progress reports of the streaming queries a span started. */
  def triggers(s: Span): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    progress.asScala.filter(_._1 == s.group).map(_._2)
      .filter(_.durationMs.containsKey("addBatch")).toSeq

  /** Spans as JSON lines: name, start, end, parent, run id, self time and
    * the span's Spark counters. */
  def write(path: java.nio.file.Path): Unit = {
    drain()
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.foreach { s =>
      val c = counters(s).fields.map { case (k, v, _) => s""""spark.$k":${Json.num(v)}""" }
      w.write(s"""{"run_id":${Json.str(runId)},"span":${s.id},"name":${Json.str(s.name)},""" +
        s""""parent":${s.parent},"start_ns":${s.start},"end_ns":${s.end},""" +
        s""""dur_s":${Json.num(s.durS)},"self_s":${Json.num(selfS(s))},${c.mkString(",")}}""")
      w.newLine()
    } finally w.close()
  }
}

/** Minimal JSON rendering for the result line and the span file. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)
}
