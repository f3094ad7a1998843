package graft.sources

import graft.SparkSpec

/** JDBC-dialect portability: the non-Derby branch of
  * `TableMissingStates` (Postgres `42P01`) and the parallel append run
  * against [[MockPg]] — an in-memory engine speaking Postgres SQLStates
  * — through Spark's REAL jdbc read/write paths (schema probe, CREATE
  * TABLE, executor batches), not a unit stub of the classification
  * helper. */
class MockPgWarehouseSpec extends SparkSpec {

  private def freshWh(table: String): JdbcWarehouse = {
    MockPgDriver.ensureRegistered()
    JdbcWarehouse(s"${MockPg.UrlPrefix}mem", table)
  }

  test("readIfAny maps Postgres 42P01 (undefined_table) to None — the " +
      "non-Derby branch of TableMissingStates, end-to-end through spark.read.jdbc") {
    MockPg.reset()
    assert(freshWh("absent").readIfAny(spark).isEmpty)
  }

  test("isTableMissing classifies the three dialect SQLStates, nested or not") {
    import java.sql.SQLException
    for (state <- Seq("42X05", "42P01", "42S02")) {
      assert(JdbcWarehouse.isTableMissing(new SQLException("gone", state)), state)
      // wrapped two levels deep, as Spark's connection plumbing does
      assert(JdbcWarehouse.isTableMissing(
        new RuntimeException(new RuntimeException(new SQLException("gone", state)))))
    }
    // a transient error must NOT classify as missing (it would silently
    // disable the replay guard): lock timeout, permission, null state
    assert(!JdbcWarehouse.isTableMissing(new SQLException("lock timeout", "40001")))
    assert(!JdbcWarehouse.isTableMissing(new SQLException("denied", "42501")))
    assert(!JdbcWarehouse.isTableMissing(new SQLException("no state", null: String)))
    // a non-SQL exception with no cause chain is simply not-missing
    assert(!JdbcWarehouse.isTableMissing(new RuntimeException("a")))
  }

  test("append + count run through Spark's parallel JDBC writer and the " +
      "SELECT-1 count shape against the mock engine") {
    import spark.implicits._
    MockPg.reset()
    val wh = freshWh("appended")
    wh.append(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("slot", "event_id"))
    val back = wh.readIfAny(spark).get
    assert(back.count() == 3) // SELECT 1 FROM … shape
    assert(back.orderBy("slot").collect().map(_.getString(1)).toSeq ==
      Seq("a", "b", "c"))
  }

  test("guarded backfill against Postgres semantics: an overlapping replay " +
      "lands each event_id once, equal to one backfill of the union") {
    import graft.ingest.Backfill
    MockPg.reset()
    val sink = Backfill.JdbcSink(freshWh("events"))
    Backfill.runTo(spark, 1L, 61L, 2, sink)
    Backfill.runTo(spark, 31L, 91L, 2, sink)
    // the replay's guard read pushed its slot span to the engine
    assert(MockPg.pushedWheres.exists(w => w.contains("slot") && w.contains("31")),
      MockPg.pushedWheres)
    val got = sink.readIfAny(spark).get
    assert(got.count() == got.select("event_id").distinct().count())
    val once = Backfill.JdbcSink(freshWh("events_once"))
    Backfill.runTo(spark, 1L, 91L, 2, once)
    val want = once.readIfAny(spark).get
    assert(got.count() == want.count() && want.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // any other WHERE shape still fails loudly, naming the gap
    val e = intercept[Exception](
      got.filter(org.apache.spark.sql.functions.col("event_type") === "x").count())
    assert(mentions(e, "unsupported WHERE"), e)
  }

  test("an unbindable column fails the append naming the setter, storing no row") {
    import spark.implicits._
    MockPg.reset()
    for ((df, setter) <- Seq(
        Seq((1L, 1.5f)).toDF("slot", "x") -> "setFloat",
        Seq((1L, BigDecimal("1.25"))).toDF("slot", "x") -> "setBigDecimal")) {
      val table = s"typed_$setter"
      val e = intercept[Exception](freshWh(table).append(df))
      assert(mentions(e, s"PreparedStatement.$setter"), e)
      assert(MockPg.rowCount(table) == 0)
    }
  }

  private def mentions(e: Throwable, text: String): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains(text))
}
