package graft.analytics

import graft.{SparkSpec, SparkEntry, Tables}
import org.apache.spark.sql.functions._

/** Star-schema dims (SCHEMA.md:190-262) built from the event stream:
  * dim invariants plus the J1 broadcast shape of the enrichment join. */
class StarSpec extends SparkSpec {

  private def events = Tables.events(spark, Sf)

  test("dimWallets: one row per wallet, seen-range ordered, counts add up") {
    val dim = Star.dimWallets(events)
    val n = dim.count()
    assert(n == events.select("user_id").distinct().count())
    assert(dim.filter(col("first_seen_ns") > col("last_seen_ns")).count() == 0)
    assert(dim.filter(col("total_purchases") > col("total_transactions")).count() == 0)
    import spark.implicits._
    val total = dim.agg(sum("total_transactions")).as[Long].head()
    assert(total == events.count())
  }

  test("dimTokens covers exactly the mint-bearing events") {
    import spark.implicits._
    val dim = Star.dimTokens(events)
    val fromDim = dim.agg(sum("transfer_count")).as[Long].head()
    val direct = events.filter(Tables.propK().isNotNull).count()
    assert(fromDim == direct)
  }

  test("wallet-cohort enrichment broadcasts the dim against one fact scan") {
    val df = SparkEntry.queries("star_wallet_cohorts")(spark, Sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"dim join must broadcast:\n$p")
    assert(df.count() > 0)
  }

  /** Build events rows: `cnt` rows of `program` on 2024-01-`day`. */
  private def daysOf(program: String, dayCounts: (Int, Int)*) = {
    import spark.implicits._
    dayCounts.flatMap { case (day, cnt) =>
      val dayNs = (1704067200L + (day - 1) * 86400L) * 1000000000L // 2024-01-01 + d
      (0 until cnt).map(i => (dayNs + i * 1000L, program, i.toLong))
    }.toDF("ts", "event_type", "user_id")
  }

  test("SCD2: planted tier shift yields two versioned ranges, exact bounds") {
    // 3 low days (cnt 10) then 3 high days (cnt 30): avg=20, so
    // 10 ≤ 0.75·avg → low and 30 ≥ 1.25·avg → high, one transition
    val hist = Star.scd2Programs(daysOf("p", (1, 10), (2, 10), (3, 10), (4, 30), (5, 30), (6, 30)))
      .collect().map(r => (r.getLong(1), r.getString(2), r.getString(3),
        r.getString(4), r.getLong(5), r.getLong(6), r.getInt(7)))
    assert(hist.length == 2, hist.mkString(";"))
    assert(hist(0) == ((1L, "low", "2024-01-01", "2024-01-03", 3L, 30L, 0)))
    assert(hist(1) == ((2L, "high", "2024-01-04", "2024-01-06", 3L, 90L, 1)))
  }

  test("SCD2: a flat program stays one always-current version") {
    val hist = Star.scd2Programs(daysOf("q", (1, 5), (2, 5), (3, 5))).collect()
    assert(hist.length == 1)
    assert(hist(0).getString(2) == "mid")
    assert(hist(0).getInt(7) == 1) // current
  }

  test("dim diff classifies added / changed / unchanged") {
    import spark.implicits._
    val before = graft.Tables.AnchorNs - 1000L
    val after = graft.Tables.AnchorNs + 1000L
    val ev = Seq(
      (before, "stable", 1L), (before, "grower", 1L),
      (after, "stable_post", 2L), // same rows pre+post for 'stable'? no — see below
      (after, "grower", 2L), (after, "fresh", 3L))
      .toDF("ts", "event_type", "user_id")
      .union(Seq((before, "stable", 1L)).toDF("ts", "event_type", "user_id"))
    val out = Star.dimProgramsDiff(ev).collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out("fresh") == (("added", 0L, 1L)))
    assert(out("stable_post") == (("added", 0L, 1L)))
    assert(out("grower") == (("changed", 1L, 2L)))
    assert(out("stable") == (("unchanged", 2L, 2L)))
  }
}
