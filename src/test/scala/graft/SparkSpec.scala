package graft

import org.apache.spark.sql.{SparkSession, TestCacheManager}
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one per suite (lazy), UTC, nanos-as-long for the
  * testdata's TIMESTAMP(NANOS) events table. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    // same extension surface as LocalSession (lake catalog SQL rules
    // are build-time-only injections)
    .withExtensions(new graft.plans.GraftExtensions)
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val Sf = "/root/testdata/sf0.001"

  /** The session's pins: persistent RDD ids and cached plans. The session
    * is shared across suites, so a call is judged against a snapshot
    * taken before it, not against an empty cache. */
  def pins: (Set[Int], Int) =
    (spark.sparkContext.getPersistentRDDs.keySet.toSet, TestCacheManager.entries(spark))

  /** The session holds no pin that it did not hold at `before`. */
  def assertNoNewPins(before: (Set[Int], Int)): Unit = {
    val (rdds, entries) = pins
    assert(rdds.subsetOf(before._1), s"persistent RDDs left behind: ${rdds -- before._1}")
    assert(entries <= before._2, s"cached plans: $entries, before: ${before._2}")
  }
}
