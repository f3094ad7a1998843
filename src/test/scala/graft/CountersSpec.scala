package graft

/** [[Profile.Collector]] observes and adds nothing: a query run with it
  * attached launches the jobs the same run launches without it, and its
  * counts are stable from run to run. */
class CountersSpec extends SparkSpec {

  private val Query = "graph_labelprop"

  private def trackedJobs(group: String): Int = {
    org.apache.spark.TestListenerBus.drain(spark.sparkContext)
    spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
  }

  test("the collector adds no job, counts every job of its group, and repeats its counts") {
    val fn = SparkEntry.queries(Query)
    Bench.execOne(spark, Sf, Query, fn) // warm: cold-JVM jobs are not the query's own
    val c = new Profile.Collector(spark)
    c.attach()
    val (on1, on2) =
      try (c.profile(Sf, Query, "counters-on-1"), c.profile(Sf, Query, "counters-on-2"))
      finally c.detach()
    spark.sparkContext.setJobGroup("counters-off", "counters-off")
    try assert(Bench.execOne(spark, Sf, Query, fn) >= 0)
    finally spark.sparkContext.clearJobGroup()

    assert(on1.wallS >= 0 && on1.jobs > 0, on1)
    assert(trackedJobs("counters-on-1") == trackedJobs("counters-off"))
    assert(on1.jobs == trackedJobs("counters-on-1"), on1)
    assert((on1.jobs, on1.stages) == (on2.jobs, on2.stages), (on1, on2))
    // jobs are attributed to the first graft method on their call site
    assert(on1.phases.get("Graph.labelPropagation").exists(_ > 0), on1.phases)
  }
}
