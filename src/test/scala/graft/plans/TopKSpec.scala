package graft.plans

import graft.{SparkSpec, SparkEntry}
import org.apache.spark.sql.functions._

/** The custom bounded-heap top-k operator: result parity with the
  * window form, the partial/final plan shape, the memory bounds and
  * their sort fallback. */
class TopKSpec extends SparkSpec {

  import spark.implicits._

  test("custom operator result equals the window form exactly") {
    val window = SparkEntry.queries("rel_top_orders_per_cust")(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val native = SparkEntry.queries("rel_topk_native")(spark, Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(native.sameElements(window))
  }

  test("plan: partial + final heap pair around one exchange, no sort") {
    val df = SparkEntry.queries("rel_topk_native")(spark, Sf)
    df.collect()
    // AQE prints the final AND initial plans; gate on the final section
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    // the exec node prints as "TopKPerGroup" (TreeNode strips "Exec"):
    // one partial (below the exchange) + one final (above it)
    assert("TopKPerGroup \\d".r.findAllIn(p).size == 2, p)
    assert(p.contains("Exchange hashpartitioning(o_custkey"), p)
    // the input is never sorted — the final orderBy sorts only 3·|groups|
    // ranked rows, so exactly one Sort (the output presentation) appears
    assert("Sort \\[".r.findAllIn(p).size <= 1, p)
    assert(!p.contains("Window"), p)
  }

  test("k larger than every group ranks all rows") {
    val df = Seq((1L, 10.0), (1L, 5.0), (2L, 7.0))
      .toDF("g", "v")
    val out = TopK.perGroup(df, 10, Seq("g"), Seq(("v", false)))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSet
    assert(out == Set((1L, 10.0, 1), (1L, 5.0, 2), (2L, 7.0, 1)))
  }

  test("heap keeps the k best under the total order, ranks 1..k") {
    val df = (1 to 100).map(i => ((i % 4).toLong, i.toLong)).toDF("g", "v")
    val out = TopK.perGroup(df, 2, Seq("g"), Seq(("v", false)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // per residue class, the two largest values descending
    assert(out == Set(
      (0L, 100L, 1), (0L, 96L, 2), (1L, 97L, 1), (1L, 93L, 2),
      (2L, 98L, 1), (2L, 94L, 2), (3L, 99L, 1), (3L, 95L, 2)))
  }

  test("float group keys: -0.0 and 0.0 (and NaN bit patterns) are one group") {
    val df = Seq((0.0, 1L), (-0.0, 2L), (Double.NaN, 3L), (Double.NaN, 4L))
      .toDF("g", "v")
    val out = TopK.perGroup(df, 10, Seq("g"), Seq(("v", true)))
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getInt(2)))
    // two groups only: {0.0, -0.0} and {NaN, NaN}
    assert(out.length == 4)
    assert(out.map(_._3).count(_ == 1) == 2, out.mkString(";"))
    assert(out.map(_._3).count(_ == 2) == 2, out.mkString(";"))
  }

  test("ambiguous column names are rejected, not silently bound") {
    val a = Seq((1L, 2.0)).toDF("id", "v")
    val b = Seq((1L, 3.0)).toDF("id2", "v")
    val joined = a.join(b, a("id") === b("id2"))
    val e = intercept[IllegalArgumentException] {
      TopK.perGroup(joined, 1, Seq("id"), Seq(("v", false)))
    }
    assert(e.getMessage.contains("ambiguous"))
  }

  test("near-unique group keys: the partial cap passes overflow through correctly") {
    // more distinct groups than MaxPartialGroups in one partition —
    // map-side limiting is useless here and must degrade to a no-op,
    // never to wrong results
    val n = TopKPerGroupExec.MaxPartialGroups + 50000
    val df = spark.range(n.toLong).toDF("g").withColumn("v", col("g") * 2)
      .coalesce(1)
    val out = TopK.perGroup(df, 1, Seq("g"), Seq(("v", true)))
    assert(out.count() == n.toLong)
    assert(out.filter(col("rank") =!= 1).count() == 0)
  }

  test("partial pass row bound: large k over many groups passes through correctly") {
    // the group cap alone admits groups*k buffered rows at large k; the
    // row bound must convert that into pass-through without changing
    // results (the final pass enforces k — here via its own fallback)
    val saved = spark.conf.getOption(TopKPerGroupExec.MaxBufferedRowsKey)
    spark.conf.set(TopKPerGroupExec.MaxBufferedRowsKey, "64")
    try {
      val df = spark.range(4000L).toDF("i")
        .withColumn("g", col("i") % 100).withColumn("v", col("i"))
        .coalesce(1)
      val k = 50
      val out = TopK.perGroup(df, k, Seq("g"), Seq(("v", false)))
        .collect().map(r => (r.getLong(1), r.getLong(2))) // (g, v)
      // per group g: 40 rows (i ≡ g mod 100); k=50 > 40 keeps all 40
      assert(out.length == 4000)
      val byG = out.groupBy(_._1)
      assert(byG.size == 100 && byG.values.forall(_.length == 40))
    } finally saved match {
      case Some(v) => spark.conf.set(TopKPerGroupExec.MaxBufferedRowsKey, v)
      case None => spark.conf.unset(TopKPerGroupExec.MaxBufferedRowsKey)
    }
  }

  private def collectTopK(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[TopKPerGroupExec] = {
    val here = p match { case t: TopKPerGroupExec => Seq(t); case _ => Nil }
    val kids = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        Seq(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    here ++ kids.flatMap(collectTopK)
  }

  test("adversarial skew: partial pass cuts shuffle rows to ≤ k·groups·partitions") {
    // one group holds 90% of all rows — the distribution where the
    // operator's pre-shuffle cutting claim has to earn its keep: the
    // mega-group must contribute k rows per input partition to the
    // shuffle, not 90% of the dataset
    val nRows = 40000L
    val k = 3
    val df = spark.range(nRows).toDF("i")
      .withColumn("g",
        when(col("i") % 10 =!= 0, lit(999L)).otherwise(col("i") % 200))
      .withColumn("v", col("i"))
      .repartition(4, col("i"))
    val out = TopK.perGroup(df, k, Seq("g"), Seq(("v", false), ("i", true)))
    out.collect()
    val partials = collectTopK(out.queryExecution.executedPlan)
      .filter(_.rankAttr.isEmpty)
    assert(partials.nonEmpty, out.queryExecution.executedPlan.toString)
    val shuffled = partials.map(_.longMetric("numOutputRows").value).sum
    val nGroups = 21L // 999 + the 20 residues {0,10,…,190}
    val nInputPartitions = 4L
    assert(shuffled <= k * nGroups * nInputPartitions,
      s"partial pass leaked $shuffled rows to the shuffle (40k input)")
    // and the results still match the window form exactly
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("v").desc, col("i"))
    val expect = df.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k).select("g", "v", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val got = out.select("g", "v", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == expect)
  }

  test("final pass spills to external sort past the buffer bound, same results") {
    // high-cardinality groups: the partial's group cap passes rows
    // through, so the final pass would buffer ~|partition| rows in its
    // heap map — past the conf bound it must fall back to the
    // spillable sort + streaming group limit, not OOM
    val saved = spark.conf.getOption(TopKPerGroupExec.MaxBufferedRowsKey)
    spark.conf.set(TopKPerGroupExec.MaxBufferedRowsKey, "64")
    try {
      val df = spark.range(10000L).toDF("i")
        .withColumn("g", col("i") % 5000).withColumn("v", col("i"))
      val out = TopK.perGroup(df, 1, Seq("g"), Seq(("v", false)))
      val rows = out.collect().map(r => (r.getLong(1), r.getLong(2))) // (g, v)
      // per group g: rows v=g and v=g+5000 → the max is g+5000
      assert(rows.length == 5000)
      assert(rows.forall { case (g, v) => v == g + 5000 })
      val finals = collectTopK(out.queryExecution.executedPlan)
        .filter(_.rankAttr.isDefined)
      assert(finals.map(_.longMetric("numSortFallbacks").value).sum >= 1,
        "expected the external-sort fallback to trigger")
    } finally saved match {
      case Some(v) => spark.conf.set(TopKPerGroupExec.MaxBufferedRowsKey, v)
      case None => spark.conf.unset(TopKPerGroupExec.MaxBufferedRowsKey)
    }
  }

  test("column names resolve with the session resolver (case-insensitive default)") {
    val df = Seq((1L, 2.0), (1L, 3.0)).toDF("gKey", "vAl")
    val out = TopK.perGroup(df, 1, Seq("GKEY"), Seq(("val", false)))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    assert(out.toSet == Set((1L, 3.0, 1)))
  }

  test("property: random data parity with the window form, heap and fallback paths") {
    val rnd = new scala.util.Random(7)
    // trial 3 forces the external-sort fallback via the tiny row bound
    val trials = Seq((3, 1, None), (50, 4, None), (1500, 7, Some("32")))
    for (((nGroups, k, bound), trial) <- trials.zipWithIndex) {
      val saved = spark.conf.getOption(TopKPerGroupExec.MaxBufferedRowsKey)
      bound.foreach(spark.conf.set(TopKPerGroupExec.MaxBufferedRowsKey, _))
      try {
        val n = 2000 + rnd.nextInt(2000)
        // deliberately collision-heavy values: ties resolved by id
        val data = (0 until n).map(i =>
          (rnd.nextInt(nGroups).toLong, rnd.nextInt(50).toLong, i.toLong))
        val df = data.toDF("g", "v", "id")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("g")).orderBy(col("v").desc, col("id"))
        val expect = df.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= k).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
        val got = TopK.perGroup(df, k, Seq("g"), Seq(("v", false), ("id", true)))
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
        assert(got == expect, s"trial $trial diverged from the window form")
      } finally saved match {
        case Some(v) => spark.conf.set(TopKPerGroupExec.MaxBufferedRowsKey, v)
        case None => spark.conf.unset(TopKPerGroupExec.MaxBufferedRowsKey)
      }
    }
  }
}
