package graft


/** Dev tool: print, per named query (all queries when no names given),
  * its `explain("formatted")` plan (the pre-execution plan with
  * PushedFilters/ReadSchema per scan) and then its AQE-final executed
  * plan, against a testdata dir — the source of the plan evidence in
  * PLANS.md and plans/.
  *
  * Usage: runMain graft.PlanDump <sfDir> [queryName...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    // the shared builder, so the dumped plans carry the SAME
    // parallelism/AQE posture Bench and Verify actually execute under
    val spark = LocalSession.build("graft-plandump", logLevel = "ERROR")
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      println(s"\n===== $n : explain(formatted) =====")
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      // materialize df's OWN QueryExecution so AQE finalizes join
      // strategies (a noop-sink write would execute a separate
      // QueryExecution and leave this one's plan pre-AQE)
      df.collect()
      println(s"===== $n : AQE-final executed plan =====")
      println(df.queryExecution.executedPlan.toString)
    }
    spark.stop()
  }
}
