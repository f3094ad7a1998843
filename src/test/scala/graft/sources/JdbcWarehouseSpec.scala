package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import graft.ingest.Backfill
import org.apache.spark.sql.functions._

/** The S13 warehouse axis over a REAL SQL database (embedded Derby):
  * the reference's actual sink is Postgres (warehouse.rs:41-139), so
  * the axis must be proven beyond file formats — same pipeline, same
  * replay-guard semantics, a database as the sink value. */
class JdbcWarehouseSpec extends SparkSpec {

  private def derbyUrl(): String = {
    val dir = Files.createTempDirectory("graft_derby").toString
    s"jdbc:derby:$dir/db;create=true"
  }

  test("backfill replay guard holds over a JDBC sink (S13 beyond files)") {
    val wh = JdbcWarehouse(derbyUrl(), "events")
    val sink = Backfill.JdbcSink(wh)
    Backfill.runTo(spark, 1L, 101L, workers = 4, sink)
    val first = wh.readIfAny(spark).get
    val n1 = first.count()
    assert(n1 > 0)
    // distinct event ids == rows (the upsert key holds in the DB too)
    assert(first.select("event_id").distinct().count() == n1)
    // identical replay → no-op (event-level anti-join against the DB,
    // slot predicate pushed to the database's WHERE)
    Backfill.runTo(spark, 1L, 101L, workers = 4, sink)
    assert(wh.readIfAny(spark).get.count() == n1)
    // overlapping extension adds exactly the new slots' events
    Backfill.runTo(spark, 50L, 151L, workers = 4, sink)
    val ext = wh.readIfAny(spark).get
    assert(ext.count() > n1)
    assert(ext.select("event_id").distinct().count() == ext.count())
    import spark.implicits._
    assert(ext.agg(max($"slot")).as[Long].head() == 150L)
  }

  test("readIfAny is None for a missing table (first-run probe)") {
    assert(JdbcWarehouse(derbyUrl(), "nope").readIfAny(spark).isEmpty)
  }

  test("the replay guard's slot predicate pushes down to the database " +
      "(the probe stays range-sized server-side at any table size)") {
    import spark.implicits._
    val wh = JdbcWarehouse(derbyUrl(), "pushed")
    wh.append(Seq((1L, "a"), (50L, "b"), (900L, "c")).toDF("slot", "event_id"))
    val probe = wh.readIfAny(spark).get
      .filter(col("slot").between(1L, 100L))
    val physical = probe.queryExecution.executedPlan.toString
    // the JDBC scan itself must carry the range — not a Spark-side
    // post-filter over a full-table read
    assert(physical.contains("PushedFilters"), physical)
    assert(physical.toLowerCase.contains("slot"), physical)
    assert(physical.contains("GreaterThanOrEqual") ||
      physical.contains(">="), physical)
    assert(probe.count() == 2)
  }

  test("append caps its connection fan-out at maxConnections") {
    import spark.implicits._
    val wh = JdbcWarehouse(derbyUrl(), "wide", maxConnections = 2)
    // 32 input partitions = the storm shape (partitions = source
    // parallelism); one connection per partition would open 32
    val batch = (1 to 64).map(i => (s"e$i", 1L, s"v$i"))
      .toDF("event_id", "slot", "payload").repartition(32)
    val group = s"append-cap-${System.nanoTime()}"
    spark.sparkContext.setJobGroup(group, "append connection-cap probe")
    try wh.append(batch)
    finally spark.sparkContext.clearJobGroup()
    assert(wh.readIfAny(spark).get.count() == 64)
    // the write job is the LAST job of the append; its result stage's
    // task count IS the connection count — the cap must hold it at
    // maxConnections
    val tracker = spark.sparkContext.statusTracker
    val writeJob = tracker.getJobIdsForGroup(group).max
    val resultStage = tracker.getJobInfo(writeJob).get.stageIds().max
    val tasks = tracker.getStageInfo(resultStage).get.numTasks()
    assert(tasks <= 2, s"write stage ran $tasks tasks (connections) > cap 2")
    // a replay through the sink's guarded write converges on the same
    // capped path
    Backfill.JdbcSink(wh).write(batch, col("slot") === 1L)
    assert(wh.readIfAny(spark).get.count() == 64)
  }
}
