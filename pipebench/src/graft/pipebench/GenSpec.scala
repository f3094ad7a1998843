package graft.pipebench

import org.apache.spark.sql.functions._

/** The block generator's own checks: its bookkeeping matches what the
  * engine's parser makes of its blocks, a seed fixes the blocks, and two
  * seeds differ. Prints one line per check; exits non-zero on a failure.
  *
  * Run with `python3 pipebench/run.py --spec`. */
object GenSpec {
  def main(args: Array[String]): Unit = {
    val spark = graft.LocalSession.build("pipebench-spec", "ERROR")
    import spark.implicits._
    var failed = 0
    def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
      println(s"${if (ok) "ok  " else "FAIL"} $name${if (ok) "" else s": $detail"}")
      if (!ok) failed += 1
    }

    for ((pname, p) <- Seq("fat" -> Workloads.Fat, "thin" -> Workloads.Thin,
        "history" -> Workloads.History); seed <- Seq(1L, 7L)) {
      val gen = new BlockGen(seed, p)
      val n = if (pname == "fat") 120L else 500L
      val blocks = (0L until n).flatMap(s => gen.block(s).map(b => (s, b)))
      val totals = Totals.of(blocks.map(_._2._2))
      val raw = blocks.map { case (s, (j, _)) => (s, j) }.toDF("slot", "block_json")
      val got = graft.ingest.Parse.parse(raw).groupBy("event_type").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val want = totals.byType.filter(_._2 > 0)
      check(s"$pname seed=$seed: Parse.parse event counts per event_type equal the generator's",
        got == want, s"parser $got vs generator $want")
      check(s"$pname seed=$seed: every event type occurs", want.size == 4, want.toString)
      check(s"$pname seed=$seed: some slots are missing", blocks.size < n, s"${blocks.size} of $n")
      val keys = blocks.map(_._2._1)
      check(s"$pname seed=$seed: both accountKeys shapes occur",
        keys.exists(_.contains("\"accountKeys\":[{\"pubkey\"")) &&
          keys.exists(_.contains("\"accountKeys\":[\"")))
      val wallets = graft.ingest.Parse.parse(raw).filter(col("event_type") === "transaction")
        .select(get_json_object(col("raw_payload"), "$.wallet").as("w"))
        .filter(col("w").isNull || col("w").startsWith("{")).count()
      check(s"$pname seed=$seed: the parser resolves every signer wallet", wallets == 0L,
        s"$wallets unresolved")
    }

    val gen = new BlockGen(3L, Workloads.History)
    val again = new BlockGen(3L, Workloads.History)
    val other = new BlockGen(4L, Workloads.History)
    val slots = 0L until 200L
    check("the same seed gives identical blocks",
      slots.forall(s => gen.block(s).map(_._1) == again.block(s).map(_._1)))
    check("two seeds give different blocks",
      slots.count(s => gen.block(s).map(_._1) != other.block(s).map(_._1)) > 190)

    val stats = (0L until 1200L).flatMap(s => gen.block(s).map(_._2))
    val anchor = stats.map(_.blockTime).max + 1800
    val w = BlockGen.windows(stats, anchor)
    val total = stats.map(_.txs.toLong).sum
    check("today < 24 h < 7 d < 30 d < all: each window selects a proper subset",
      0 < w.today && w.today < w.week && w.day24h < w.week && w.week < w.month && w.month < total,
      w.toString + s" total=$total")
    val t = Totals.of(stats)
    check("failures and several error types occur", t.failures > 0 && t.errTypes.size >= 3,
      t.errTypes.toString)
    val top = t.programCounts.values.toSeq.sorted.reverse
    check("program use is skewed", top.head > 5 * top(top.size / 2), top.take(5).toString)

    spark.stop()
    println(if (failed == 0) "generator spec: all checks passed" else s"generator spec: $failed failed")
    sys.exit(if (failed == 0) 0 else 1)
  }
}
