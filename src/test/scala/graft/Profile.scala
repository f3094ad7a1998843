package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Dev-only profiler: run registered queries one after another in one
  * [[LocalSession]] and print one JSON line of counters per query (the
  * fields are listed in the README, "Profiling a query"). Each query is
  * written once into the `noop` sink through [[Bench.execOne]] under its
  * own job group, and the micro-batch jobs of the streams it starts
  * (which run under the stream's run id) count towards that group. Only
  * this main attaches the listeners: Bench, Verify and the CLI verbs run
  * without them.
  *
  * Run: sbt 'Test/runMain graft.Profile <sfDir> stream_sessionize,graph_labelprop'
  * (one JVM per query gives each its cold-cache jobs).
  */
object Profile {

  /** One query's counters. */
  final case class Counters(query: String, wallS: Double,
      jobs: Int, stages: Int, tasks: Long,
      executorRunS: Double, executorCpuS: Double,
      shuffleWriteBytes: Long, shuffleReadBytes: Long, spillBytes: Long,
      inputBytes: Long, outputBytes: Long, driverS: Double,
      phases: Map[String, Int], triggers: Seq[Map[String, Long]]) {
    def json: String = {
      def obj(m: Iterable[(String, Any)]) =
        m.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      obj(Seq("query" -> s""""$query"""", "wall_s" -> wallS,
        "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
        "executor_run_s" -> executorRunS, "executor_cpu_s" -> executorCpuS,
        "shuffle_write_bytes" -> shuffleWriteBytes,
        "shuffle_read_bytes" -> shuffleReadBytes, "spill_bytes" -> spillBytes,
        "input_bytes" -> inputBytes, "output_bytes" -> outputBytes,
        "driver_s" -> driverS,
        "phases" -> obj(phases.toSeq.sorted),
        "triggers" -> triggers.map(t => obj(t.toSeq.sorted)).mkString("[", ",", "]")))
    }
  }

  /** The first `graft.*` method on a long call site, as `Object.method`
    * with its closure wrappers stripped (`StreamQueries$.$anonfun$stage$1`
    * → `StreamQueries.stage`). */
  private def phaseOf(longSite: String): String =
    longSite.split("\n").iterator.map(_.trim).find(_.startsWith("graft."))
      .map { frame =>
        val qualified = frame.takeWhile(_ != '(')
        val (cls, method) = qualified.splitAt(qualified.lastIndexOf('.'))
        val obj = cls.split('.').last.stripSuffix("$")
        val name = method.drop(1).split("\\$")
          .filter(p => p.nonEmpty && p != "anonfun" && !p.forall(_.isDigit))
          .headOption.getOrElse("?")
        s"$obj.$name"
      }
      .getOrElse("other")

  /** Spark and stream listeners that attribute jobs, stages, tasks and
    * trigger progress to job groups; a stream started inside
    * [[profile]] counts towards the profiled group. */
  final class Collector(spark: SparkSession) {
    private final class Job(val group: String, val phase: String, val start: Long) {
      @volatile var end = -1L
    }
    private final class Stage(val group: String) {
      var tasks, runMs, cpuNs, shW, shR, spill, in, out = 0L
    }
    private val jobs = new ConcurrentHashMap[Int, Job]()
    private val stages = new ConcurrentHashMap[Int, Stage]()
    private val sqlSites = new ConcurrentHashMap[Long, String]()
    /** streaming run id → group open when the stream started */
    private val streamGroups = new ConcurrentHashMap[String, String]()
    private val progress = new ConcurrentLinkedQueue[(String, StreamingQueryProgress)]()
    @volatile private var openGroup: String = null

    private def groupOf(p: java.util.Properties): String = {
      val g = Option(p).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      streamGroups.getOrDefault(g, g)
    }

    private val sparkListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        // a SQL job takes its execution's call site (AQE submits stages
        // from a pool thread that has none); any other job its result
        // stage's
        val site = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(id => Option(sqlSites.get(id.toLong)))
          .getOrElse(e.stageInfos.maxBy(_.stageId).details)
        jobs.put(e.jobId, new Job(groupOf(e.properties), phaseOf(site), e.time)); ()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(_.end = e.time)
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
        stages.computeIfAbsent(e.stageInfo.stageId, _ => new Stage(groupOf(e.properties))); ()
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val s = stages.get(e.stageId)
        val m = e.taskMetrics
        if (s != null && m != null) s.synchronized {
          s.tasks += 1
          s.runMs += m.executorRunTime; s.cpuNs += m.executorCpuTime
          s.shW += m.shuffleWriteMetrics.bytesWritten
          s.shR += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
          s.spill += m.diskBytesSpilled
          s.in += m.inputMetrics.bytesRead; s.out += m.outputMetrics.bytesWritten
        }
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => sqlSites.put(x.executionId, x.details); ()
        case _ =>
      }
    }

    private val streamListener = new StreamingQueryListener {
      import StreamingQueryListener._
      // delivered synchronously on the stream's thread before its first job
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        Option(openGroup).foreach(streamGroups.put(e.runId.toString, _))
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        progress.add(streamGroups.getOrDefault(e.progress.runId.toString, "") -> e.progress); ()
      }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }

    def attach(): Unit = {
      spark.sparkContext.addSparkListener(sparkListener)
      spark.streams.addListener(streamListener)
    }

    def detach(): Unit = {
      spark.sparkContext.removeSparkListener(sparkListener)
      spark.streams.removeListener(streamListener)
    }

    /** Run registered query `name` once into the `noop` sink (as the
      * bench does) under job group `group`, the streams it starts
      * included, and return its counters; `wallS` is the bench's time
      * (-1 for a failing query). */
    def profile(sfDir: String, name: String, group: String): Counters = {
      val t0 = System.currentTimeMillis()
      spark.sparkContext.setJobGroup(group, name)
      openGroup = group
      val wall =
        try Bench.execOne(spark, sfDir, name, SparkEntry.queries(name))
        finally { openGroup = null; spark.sparkContext.clearJobGroup() }
      val t1 = System.currentTimeMillis()
      org.apache.spark.TestListenerBus.drain(spark.sparkContext)
      val js = jobs.values.asScala.filter(_.group == group).toSeq
      val ss = stages.values.asScala.filter(_.group == group).toSeq
      def sum(f: Stage => Long) = ss.map(s => s.synchronized(f(s))).sum
      // driver time: the run's wall clock minus the union of its jobs'
      var covered, curA, curB = 0L
      js.map(j => (math.max(j.start, t0), if (j.end < 0) t1 else math.min(j.end, t1)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foreach { case (a, b) =>
          if (a > curB) { covered += curB - curA; curA = a; curB = b }
          else curB = math.max(curB, b)
        }
      covered += curB - curA
      Counters(name, wall, js.size, ss.size, sum(_.tasks),
        sum(_.runMs) / 1e3, sum(_.cpuNs) / 1e9,
        sum(_.shW), sum(_.shR), sum(_.spill), sum(_.in), sum(_.out),
        math.max(0L, t1 - t0 - covered) / 1e3,
        js.groupBy(_.phase).map { case (p, g) => p -> g.size },
        progress.asScala.filter(_._1 == group).map(_._2)
          .filter(_.durationMs.containsKey("addBatch")).toSeq
          .map(_.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: graft.Profile <sfDir> <q1,q2,...>")
    val names = args(1).split(",").toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unregistered queries: ${unknown.mkString(", ")}")
    val spark = LocalSession.build("profile")
    val c = new Collector(spark)
    c.attach()
    try names.foreach(n => println(c.profile(args(0), n, s"graft-profile-$n").json))
    finally { c.detach(); spark.stop() }
  }
}
