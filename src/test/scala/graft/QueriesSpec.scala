package graft

import org.apache.spark.sql.functions._

/** Cross-query invariants on sf0.001 (SURVEY.md §5.2: property-style
  * checks complementing the DuckDB differential gate). */
class QueriesSpec extends SparkSpec {

  private def run(name: String) = SparkEntry.queries(name)(spark, Sf)

  test("entry smoke: flagship query returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("seasonal backtest: hand-computed cross-multiplied MAE/bias") {
    import spark.implicits._
    val hr = 3600L * 1000000000L
    val day = 24L * hr
    // type A: train day0 h0 x2, day1 h0 x4; test day2 h0 x3, h1 x1.
    // n_train = 2; profile h0 = 6. errors x n: h0 |3*2-6| = 0,
    // h1 |1*2-0| = 2, other 22 hours 0 → mae = bias = 2/48 = 0.0417
    val ev = Seq(
      (1L, 0L, "A"), (2L, 1L, "A"),
      (3L, day, "A"), (4L, day + 1, "A"), (5L, day + 2, "A"), (6L, day + 3, "A"),
      (7L, 2 * day, "A"), (8L, 2 * day + 1, "A"), (9L, 2 * day + 2, "A"),
      (10L, 2 * day + hr, "A"))
      .toDF("event_id", "ts", "event_type")
    val out = analytics.EventAnalytics.seasonalBacktest(spark, ev).collect()
    assert(out.length == 1)
    val r = out(0)
    assert((r.getString(0), r.getLong(1), r.getLong(2),
      r.getDouble(3), r.getDouble(4)) == ("A", 2L, 4L, 0.0417, 0.0417), r)
    // a single-day corpus has no training window — empty result, not a
    // 0/0 NaN row with engine-specific encodings
    val oneDay = Seq((1L, 0L, "A"), (2L, 1L, "A"))
      .toDF("event_id", "ts", "event_type")
    assert(analytics.EventAnalytics.seasonalBacktest(spark, oneDay).isEmpty)
  }

  test("transition matrix: session gap bounds transitions, rows distribute") {
    import spark.implicits._
    val h = 3600L * 1000000000L // ns
    // user 1: A→B (1m), B –7h gap– C (broken), C→A (1m): A→B, C→A
    // user 2: A→B then B→... nothing (single pair), plus A→C so the A
    // row distributes 0.5 / 0.5 with user 1's A→B making it 2/3 : 1/3
    val ev = Seq(
      (1L, 0L, 1L, "A"), (2L, h / 60, 1L, "B"), (3L, 8L * h, 1L, "C"),
      (4L, 8L * h + h / 60, 1L, "A"),
      (5L, 0L, 2L, "A"), (6L, h / 60, 2L, "B"),
      (7L, 2L * h, 2L, "A"), (8L, 2L * h + h / 60, 2L, "C"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val out = analytics.EventAnalytics.transitionMatrix(ev).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq(
      ("A", "B", 2L, 0.6667), ("A", "C", 1L, 0.3333),
      ("B", "A", 1L, 1.0), ("C", "A", 1L, 1.0)))
  }

  test("every declared query runs and every oracle key exists") {
    val qs = SparkEntry.queries
    assert(qs.nonEmpty)
    SparkEntry.oracleSql.keys.foreach(k => assert(qs.contains(k), s"oracle without query: $k"))
  }

  test("queries over scoped pins leave no pin behind") {
    Seq("lake_maintenance", "stream_cdc_snapshot", "sim_mmr_rerank").foreach { q =>
      val before = pins
      assert(run(q).collect().nonEmpty, q)
      assertNoNewPins(before)
    }
  }

  test("period counts are monotone: today ≤ week ≤ month ≤ total") {
    val r = run("evt_volume_summary").collect()(0)
    val (total, today, week, month) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(today <= week && week <= month && month <= total)
  }

  test("failure_rate ∈ [0,100]") {
    val rate = run("evt_failed_summary").select("failure_rate").collect()(0).getDouble(0)
    assert(rate >= 0.0 && rate <= 100.0)
  }

  test("wallet activity distincts are monotone") {
    val r = run("evt_wallet_activity").collect()(0)
    assert(r.getLong(1) <= r.getLong(2) && r.getLong(2) <= r.getLong(0))
  }

  test("mix weights are a probability vector over sources") {
    val ws = run("prep_mix_weights").select("weight").collect().map(_.getDouble(0))
    assert(ws.forall(w => w > 0.0 && w < 1.0))
    assert(math.abs(ws.sum - 1.0) < 1e-4, s"weights sum to 1: ${ws.sum}")
  }

  test("length quantiles are ordered p50 <= p90 <= p99 per lang") {
    run("text_length_quantiles").collect().foreach { r =>
      val (p50, p90, p99) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(p50 <= p90 && p90 <= p99, s"$r")
    }
  }

  test("churn partitions the prior week's users: retained + churned = prev") {
    val r = run("evt_churn").collect()(0)
    val (retained, churned) = (r.getLong(0), r.getLong(1))
    val prev = graft.Tables.events(spark, Sf)
      .filter(col("ts") >= (graft.Tables.WeekAgoNs - 7L * 86400L * 1000000000L) &&
        col("ts") < graft.Tables.WeekAgoNs)
      .select("user_id").distinct().count()
    assert(retained + churned == prev, s"$retained + $churned != $prev")
  }

  test("salted join result equals the plain join result") {
    import org.apache.spark.sql.functions.broadcast
    val plain = graft.Tables.lineitem(spark, Sf)
      .join(broadcast(graft.Tables.part(spark, Sf)),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand")).agg(count(lit(1)).as("n_items"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = run("rel_skew_salted_volume")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == plain)
  }

  test("top-k outputs respect their limits and orderings") {
    val tw = run("evt_top_wallets").select("tx_count").collect().map(_.getLong(0))
    assert(tw.length <= 20 && tw.sameElements(tw.sortBy(-_)))
    val tt = run("evt_top_tokens").select("transfer_count").collect().map(_.getLong(0))
    assert(tt.length <= 20 && tt.sameElements(tt.sortBy(-_)))
  }

  test("canonical event ids are unique (idempotency key)") {
    val df = run("evt_canonical_events")
    assert(df.count() == df.select("event_hash").distinct().count())
  }

  test("sliding WAU: a user counts for the 7 window days; DAU only on the day") {
    import spark.implicits._
    val dayNs = 86400L * 1000000000L
    // u1 active day 1; u2 active day 4; observed spine = {1, 4}
    val ev = Seq((1L * dayNs + 5L, 1L), (4L * dayNs + 5L, 2L))
      .toDF("ts", "user_id")
    val out = graft.analytics.EventAnalytics.slidingWau(ev).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out.size == 2) // phantom days past the spine are absent
    assert(out("1970-01-02") == ((1L, 1L))) // day 1: u1 only
    assert(out("1970-01-05") == ((2L, 1L))) // day 4: u1 still in window, u2 active
  }

  test("SCD2 temporal join: every event lands in exactly one version") {
    val enriched = run("star_scd2_enrich").collect()
    val total = graft.Tables.events(spark, Sf).count()
    assert(enriched.map(_.getLong(3)).sum == total,
      "validity windows must partition the event stream")
  }

  test("interval join: boundary-exact 1h window, zero-click purchases kept") {
    import spark.implicits._
    val H = 3600L * 1000000000L
    val ev = Seq(
      (100L, 10L * H, 1L, "purchase"),       // probe
      (2L, 9L * H + 60L * 1000000000L, 1L, "click"),  // 9:01 — in window
      (3L, 9L * H, 1L, "click"),             // exactly pts−1h — inclusive
      (4L, 10L * H, 1L, "click"),            // exactly pts — exclusive
      (5L, 8L * H, 1L, "click"),             // too old
      (6L, 9L * H + 30L * 1000000000L, 2L, "click"), // other user
      (200L, 20L * H, 2L, "purchase"))       // no clicks in window
      .toDF("event_id", "ts", "user_id", "event_type")
    val out = graft.analytics.EventAnalytics.intervalJoin(ev).collect()
      .map(r => r.getLong(0) -> ((r.getLong(3), if (r.isNullAt(4)) -1L else r.getLong(4)))).toMap
    assert(out(100L) == ((2L, (9L * H + 60L * 1000000000L) / 1000L)))
    assert(out(200L) == ((0L, -1L)))
  }

  test("sliding WAU matches a brute-force window recount on real data") {
    val ud = graft.Tables.events(spark, Sf)
      .select(col("user_id"), expr("ts div 86400000000000").as("dayn"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    // key the expectation by the SAME day string the query emits, so a
    // day-label off-by-one cannot hide in an aggregate compare
    def dayStr(d: Long): String =
      java.time.LocalDate.ofEpochDay(d).toString
    val expect = ud.map(_._2).distinct.sorted.map { d =>
      dayStr(d) -> ud.filter(t => t._2 >= d - 6 && t._2 <= d).map(_._1).distinct.length.toLong
    }.toMap
    val got = graft.analytics.EventAnalytics
      .slidingWau(graft.Tables.events(spark, Sf)).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expect)
  }
}
