package graft

import org.apache.spark.sql.SparkSession

/** The ONE local-session builder every main (Main, Verify, Bench,
  * PlanDump) shares. Before this existed there were four hand-rolled
  * builders, and they drift: PlanDump had hardcoded local[8] /
  * shuffle.partitions=8 while Bench/Verify ran SPARK_GRAFT_CPUS
  * (default 4) — so the committed "executed plan" evidence was produced
  * under a different AQE/parallelism posture than the plans the bench
  * and the correctness gate actually execute, and any must-have conf
  * (as `nanosAsLong` once was) had to be remembered in four places.
  *
  * Knobs: `SPARK_GRAFT_CPUS` sizes both the local master and the
  * shuffle width (a local run wants them equal — more shuffle
  * partitions than cores is pure task-scheduling overhead at these
  * volumes); `SPARK_MASTER` overrides the master for a real cluster,
  * where shuffle width stays SPARK_GRAFT_CPUS — deliberately a
  * TEST-HARNESS default; deployments size it to data volume.
  */
private[graft] object LocalSession {
  def build(appName: String, logLevel: String = "WARN"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      // analyzer-phase surface (the lake catalog's read/MERGE rewrites)
      // can only be injected at build time; the function registry and
      // planner/optimizer additions the extension also carries are the
      // same ones GraftExtensions.register, TopK.ensureStrategy and
      // NanosFilter.register add post-hoc (all idempotent)
      .withExtensions(new graft.plans.GraftExtensions)
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts is parquet TIMESTAMP(NANOS) in some testdata
      // generations: read as bigint epoch-nanos (FIXTURES.md §1)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
