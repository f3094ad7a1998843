package graft.streaming

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Dev-only: run declared streaming queries one after another in one
  * session and print, per query, its wall time and rows, every Spark
  * job's wall time + call site, and the job count per harness phase —
  * the first `StreamQueries` method on the job's call stack (staging
  * writes, micro-batches, result write). Gaps between jobs are
  * driver-side work (planning, commit protocol, checkpoint I/O). The
  * session is [[graft.LocalSession.build]]'s (`SPARK_GRAFT_CPUS` cores).
  * Run: sbt 'Test/runMain graft.streaming.ProfileStreamPhases <sfDir> stream_cdc_snapshot,stream_sessionize'
  * (one JVM per query gives each its cold-cache staging jobs).
  */
object ProfileStreamPhases {
  private case class J(id: Int, t0: Long, site: String, phase: String, var t1: Long = 0L)

  /** The first `StreamQueries` method on a long call site, its closure
    * wrappers stripped (`$anonfun$stage$1` → `stage`). */
  private def phaseOf(longSite: String): String =
    longSite.split("\n").iterator
      .map(_.trim).find(_.contains("graft.streaming.StreamQueries$."))
      .map(_.split("StreamQueries\\$\\.")(1).takeWhile(_ != '(')
        .split("\\$").filter(p => p.nonEmpty && p != "anonfun" && !p.forall(_.isDigit))
        .headOption.getOrElse("?"))
      .getOrElse("other")

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args.lift(1).getOrElse("stream_cdc_snapshot").split(",").toSeq
    val spark = graft.LocalSession.build("profile-stream-phases")

    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[J]()
    val sqlSites = new java.util.concurrent.ConcurrentHashMap[Long, (String, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        // a SQL job takes its query's call site (AQE submits stages from
        // a pool thread that has none); any other job its result stage's
        val last = e.stageInfos.maxBy(_.stageId)
        val site = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(id => Option(sqlSites.get(id.toLong)))
          .getOrElse((last.name, last.details))
        jobs.add(J(e.jobId, e.time, site._1.replace('\n', ' ').trim,
          phaseOf(site._2))); ()
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          sqlSites.put(x.executionId, (x.description, x.details)); ()
        case _ =>
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.forEach(j => if (j.id == e.jobId) j.t1 = e.time)
    })

    names.foreach { name =>
      jobs.clear()
      val runT0 = System.nanoTime()
      val n = graft.SparkEntry.queries(name)(spark, dir).count()
      val wall = (System.nanoTime() - runT0) / 1e9
      Thread.sleep(500) // let the listener drain
      val ran = jobs.toArray(Array.empty[J]).toSeq.sortBy(_.id)
      println(f"[phases] $name total $wall%.2f s rows=$n jobs=${ran.size}")
      var prevEnd = 0L
      ran.foreach { j =>
        val gap = if (prevEnd == 0) 0L else math.max(0L, j.t0 - prevEnd)
        println(f"[phases] job ${j.id}%3d ${(j.t1 - j.t0) / 1000.0}%6.2fs " +
          f"gap ${gap / 1000.0}%6.2fs  ${j.phase}%-16s ${j.site}")
        prevEnd = math.max(prevEnd, j.t1)
      }
      println(f"[phases] $name sum-of-jobs ${ran.map(j => j.t1 - j.t0).sum / 1000.0}%.2f s (rest = driver gaps)")
      println(s"[phases] $name jobs by phase: " + ran.groupBy(_.phase).toSeq
        .sortBy(_._1).map { case (p, js) => s"$p=${js.size}" }.mkString(" "))
    }
    spark.stop()
  }
}
