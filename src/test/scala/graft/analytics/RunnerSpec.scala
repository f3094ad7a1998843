package graft.analytics

import graft.SparkSpec
import graft.ingest.{Backfill, Parse}
import java.nio.file.Files
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerStageSubmitted}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

/** End-to-end reference-parity pipeline: backfill → fact table → the ten
  * analytics result tables (the `analytics` subcommand). */
class RunnerSpec extends SparkSpec {

  test("runAll materializes all ten reference result tables") {
    val base = Files.createTempDirectory("graft_runner").toString
    Backfill.run(spark, 1L, 101L, workers = 4, s"$base/fact")
    val fact = spark.read.parquet(s"$base/fact")
    // anchor inside the synthetic block time range (slots → minutes past
    // 2024-01-01)
    val anchor = java.sql.Timestamp.valueOf("2024-01-01 01:00:00")
    val counts = AnalyticsRunner.runAll(spark, fact, anchor, s"$base/analytics")

    assert(counts.size == 14)
    // fact_telemetry (SCHEMA.md:161-188) materializes schema-only when
    // the fact stream carries no telemetry events — the exact state of
    // the reference's declared table (its parser never emits rows)
    assert(counts("fact_telemetry") == 0L)
    assert(spark.read.parquet(s"$base/analytics/fact_telemetry")
      .columns.toSet.contains("latency_ms"))
    // star dims (SCHEMA.md:190-262) materialize alongside the summaries
    assert(counts("dim_wallets") > 0)
    assert(counts("dim_programs") > 0)
    assert(counts("dim_tokens") > 0)
    assert(counts("analytics_transaction_volume") == 1L)
    assert(counts("analytics_active_programs") > 0)
    assert(counts("analytics_top_tokens") > 0)
    assert(counts("analytics_failed_transactions") == 1L)
    assert(counts("analytics_top_errors") > 0)     // every slot has 1 failed tx
    assert(counts("analytics_wallet_activity") == 1L)
    assert(counts("analytics_top_wallets") > 0)
    assert(counts("analytics_program_trends") > 0)

    // failure-rate semantics: synthetic blocks have 1 failed of 2 txs
    val fr = spark.read.parquet(s"$base/analytics/analytics_failed_transactions")
      .collect()(0)
    assert(fr.getDecimal(1).doubleValue() == 50.0)

    // trends are bounded by the top-10 semi-join
    val trends = spark.read.parquet(s"$base/analytics/analytics_program_trends")
    assert(trends.select("program_id").distinct().count() <= 10)
  }

  test("runAll with blocks also materializes the typed fact tables") {
    val base = Files.createTempDirectory("graft_runner_typed").toString
    Backfill.run(spark, 1L, 51L, workers = 4, s"$base/fact")
    val fact = spark.read.parquet(s"$base/fact")
    val blocks = graft.ingest.Parse.parseBlocks(
      Backfill.fetchRange(spark, 1L, 51L, workers = 4))
    val anchor = java.sql.Timestamp.valueOf("2024-01-01 01:00:00")
    val counts = AnalyticsRunner.runAll(spark, fact, anchor,
      s"$base/analytics", blocks = Some(blocks))

    assert(counts.size == 16)
    assert(counts("fact_program_events") > 0)
    assert(counts("fact_token_transfers") > 0)
    // the typed columns survive the warehouse write with their declared
    // types (SCHEMA.md:85-154): ARRAY<STRING> accounts/log_messages,
    // NUMERIC(38,9) token_amount
    import org.apache.spark.sql.types._
    val pe = spark.read.parquet(s"$base/analytics/fact_program_events")
    assert(pe.schema("accounts").dataType.isInstanceOf[ArrayType])
    assert(pe.schema("log_messages").dataType.isInstanceOf[ArrayType])
    assert(pe.schema("data_hex").dataType == StringType)
    val tt = spark.read.parquet(s"$base/analytics/fact_token_transfers")
    assert(tt.schema("token_amount").dataType == DecimalType(38, 9))
    // typed rows link 1:1 into the canonical event stream by event_id
    val linked = tt.join(fact, Seq("event_id")).count()
    assert(linked == counts("fact_token_transfers"))
  }

  private val anchor = java.sql.Timestamp.valueOf("2024-01-01 01:00:00")

  /** Every table runAll writes, computed by its own function. */
  private def tableFns(fact: DataFrame, blocks: Option[DataFrame]): Seq[(String, DataFrame)] =
    blocks.toSeq.flatMap { b =>
      Seq("fact_program_events" -> Parse.factProgramEvents(b),
        "fact_token_transfers" -> Parse.factTokenTransfers(b))
    } ++ Seq(
      "analytics_transaction_volume" -> AnalyticsRunner.transactionVolume(fact, anchor),
      "analytics_hourly_volume" -> AnalyticsRunner.hourlyVolume(fact, anchor),
      "analytics_active_programs" -> AnalyticsRunner.activePrograms(fact),
      "analytics_token_transfers" -> AnalyticsRunner.tokenTransfers(fact),
      "analytics_top_tokens" -> AnalyticsRunner.topTokens(fact),
      "analytics_failed_transactions" -> AnalyticsRunner.failedTransactions(fact),
      "analytics_top_errors" -> AnalyticsRunner.topErrors(fact),
      "analytics_wallet_activity" -> AnalyticsRunner.walletActivity(fact, anchor),
      "analytics_top_wallets" -> AnalyticsRunner.topWallets(fact),
      "analytics_program_trends" -> AnalyticsRunner.programTrends(fact, anchor),
      "dim_wallets" -> AnalyticsRunner.dimWallets(fact),
      "dim_programs" -> AnalyticsRunner.dimPrograms(fact),
      "dim_tokens" -> AnalyticsRunner.dimTokens(fact),
      "fact_telemetry" -> AnalyticsRunner.factTelemetry(fact))

  private def multiset(rows: Array[Row]): Map[Row, Int] =
    rows.groupBy(identity).map { case (r, rs) => r -> rs.length }

  /** runAll's pool threads still alive after a short grace period: a
    * terminated pool's workers exit within it, a leaked pool's never do. */
  private def refreshThreads: Seq[Thread] = {
    val pool = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread]).toSeq
      .filter(_.getName.startsWith("analytics-refresh-"))
    pool.foreach(_.join(10000L))
    pool.filter(_.isAlive)
  }

  /** Each table runAll wrote under `out` equals its own function's result. */
  private def assertTablesMatch(fact: DataFrame, out: String, counts: Map[String, Long]): Unit = {
    val fns = tableFns(fact, None)
    assert(counts.keySet == fns.map(_._1).toSet)
    fns.foreach { case (name, df) =>
      val written = spark.read.parquet(s"$out/$name").collect()
      assert(multiset(written) == multiset(df.collect()), name)
      assert(counts(name) == written.length.toLong, name)
    }
  }

  /** runAll under a deadline: a refresh that blocks fails the test. */
  private def runAllWithin(fact: DataFrame, out: String): Map[String, Long] =
    Await.result(Future(AnalyticsRunner.runAll(spark, fact, anchor, out)), 3.minutes)

  test("concurrent runAll writes what each table function computes alone") {
    val base = Files.createTempDirectory("graft_runner_seq").toString
    Backfill.run(spark, 1L, 61L, workers = 4, s"$base/fact")
    val fact = spark.read.parquet(s"$base/fact")
    val blocks = Parse.parseBlocks(Backfill.fetchRange(spark, 1L, 61L, workers = 4))
    for ((b, out, n) <- Seq((None, s"$base/plain", 14), (Some(blocks), s"$base/typed", 16))) {
      val counts = AnalyticsRunner.runAll(spark, fact, anchor, out, blocks = b)
      val fns = tableFns(fact, b)
      assert(fns.size == n)
      assert(counts.keySet == fns.map(_._1).toSet)
      fns.foreach { case (name, df) =>
        val written = spark.read.parquet(s"$out/$name").collect()
        assert(multiset(written) == multiset(df.collect()), name)
        assert(counts(name) == written.length.toLong, name)
      }
    }
    assert(refreshThreads.isEmpty)
  }

  test("a failing table fails runAll by name, without hanging or leaking threads") {
    val base = Files.createTempDirectory("graft_runner_fail").toString
    Backfill.run(spark, 1L, 41L, workers = 4, s"$base/fact")
    // a non-numeric `decimals` payload: under the ANSI cast it breaks the
    // one table that reads that field, dim_tokens, and no other
    val fact = spark.read.parquet(s"$base/fact").withColumn("raw_payload",
      when(col("event_type") === "token_transfer",
        regexp_replace(col("raw_payload"), "\"decimals\":[0-9]+", "\"decimals\":\"six\""))
        .otherwise(col("raw_payload")))
    val failing = tableFns(fact, None).filter { case (_, df) =>
      scala.util.Try(df.collect()).isFailure
    }.map(_._1)
    assert(failing == Seq("dim_tokens"))

    val before = pins
    val e = intercept[Exception](runAllWithin(fact, s"$base/out"))
    assert(e.getMessage.contains("dim_tokens"), e.getMessage)
    assert(refreshThreads.isEmpty)
    assertNoNewPins(before)

    // a fact the caller pinned keeps its pin, at the caller's level,
    // through a failed refresh
    fact.persist(StorageLevel.DISK_ONLY)
    try {
      val again = intercept[Exception](runAllWithin(fact, s"$base/again"))
      assert(again.getMessage.contains("dim_tokens"), again.getMessage)
      assert(fact.storageLevel == StorageLevel.DISK_ONLY)
    } finally fact.unpersist(blocking = true)
    assertNoNewPins(before)
  }

  test("runAll over an empty fact counts 0 rows per table, 1 per global aggregate") {
    val base = Files.createTempDirectory("graft_runner_empty").toString
    Backfill.run(spark, 1L, 11L, workers = 2, s"$base/seed")
    spark.read.parquet(s"$base/seed").filter(lit(false)).write.parquet(s"$base/fact")
    val before = pins
    val counts = runAllWithin(spark.read.parquet(s"$base/fact"), s"$base/out")
    assertNoNewPins(before)
    val global = Set("analytics_transaction_volume", "analytics_token_transfers",
      "analytics_failed_transactions", "analytics_wallet_activity")
    assert(counts.size == 14)
    counts.foreach { case (name, n) =>
      assert(n == (if (global(name)) 1L else 0L), name)
      assert(spark.read.parquet(s"$base/out/$name").count() == n, name)
    }
  }

  test("runAll reads back nothing it wrote: no scan under the output directory") {
    val base = Files.createTempDirectory("graft_runner_scans").toString
    Backfill.run(spark, 1L, 21L, workers = 2, s"$base/fact")
    val fact = spark.read.parquet(s"$base/fact")
    val out = s"$base/out"
    // every operator of an executed plan, through adaptive plans, query
    // stages, subqueries and the plans that cached relations were built by
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case m: InMemoryTableScanExec => nodes(m.relation.cachedPlan)
      case other => (other.children ++ other.subqueries).flatMap(nodes)
    })
    val (writes, outScans) = (new java.util.concurrent.atomic.AtomicInteger,
      new java.util.concurrent.atomic.AtomicInteger)
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        nodes(qe.executedPlan).foreach {
          case DataWritingCommandExec(w: InsertIntoHadoopFsRelationCommand, _)
              if w.outputPath.toString.contains(out) => writes.incrementAndGet()
          case scan: FileSourceScanExec
              if scan.relation.location.rootPaths.exists(_.toString.contains(out)) =>
            outScans.incrementAndGet()
          case _ =>
        }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // the stages that read files. A stage that reads a pin still lists
    // the pin's own file scan among its RDDs, so a stage counts only if no
    // persisted RDD it lists was already built by a completed stage.
    val built = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val fileStages = new java.util.concurrent.atomic.AtomicInteger
    val stages = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
        val rdds = e.stageInfo.rddInfos
        if (rdds.exists(_.name == "FileScanRDD") && !rdds.exists(r => built.contains(r.id)))
          fileStages.incrementAndGet()
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        e.stageInfo.rddInfos.filter(_.storageLevel.isValid).foreach(r => built.add(r.id))
    }
    val before = pins
    spark.listenerManager.register(listener)
    spark.sparkContext.addSparkListener(stages)
    try {
      AnalyticsRunner.runAll(spark, fact, anchor, out)
      org.apache.spark.TestListenerBus.drain(spark.sparkContext)
    } finally {
      spark.listenerManager.unregister(listener)
      spark.sparkContext.removeSparkListener(stages)
    }
    assert(writes.get == 14)
    assert(outScans.get == 0)
    // one read of the fact per refresh, by one stage
    assert(fileStages.get == 1)
    assertNoNewPins(before)
  }

  test("concurrent refreshes of one fact pin apart, and no pin outlives its refresh") {
    val base = Files.createTempDirectory("graft_runner_pins").toString
    val sink = Backfill.FileSink(s"$base/fact")
    Backfill.runTo(spark, 1L, 41L, workers = 2, sink)
    def read = spark.read.parquet(s"$base/fact")
    val before = pins
    val outs = Seq(s"$base/a", s"$base/b")
    val running = Future.sequence(outs.map(o =>
      Future(AnalyticsRunner.runAll(spark, read, anchor, o))))
    // while they run, no other plan over the fact matches either pin
    val seen = Iterator.continually { val l = read.storageLevel; Thread.sleep(20); l }
      .takeWhile(_ => !running.isCompleted).toSet
    val counts = Await.result(running, 3.minutes)
    assert(seen == Set(StorageLevel.NONE))
    assertNoNewPins(before)
    outs.zip(counts).foreach { case (o, c) => assertTablesMatch(read, o, c) }

    // a further slot range lands in the fact; a refresh over a fresh read
    // counts it, so no pin of the earlier refreshes is read in its place
    def transactions(out: String) = spark.read
      .parquet(s"$out/analytics_transaction_volume").head().getAs[Long]("total_transactions")
    Backfill.runTo(spark, 41L, 61L, workers = 2, sink)
    val appended = read.filter(col("slot") >= 41L && col("event_type") === "transaction").count()
    assert(appended > 0)
    AnalyticsRunner.runAll(spark, read, anchor, s"$base/c")
    assert(transactions(s"$base/c") == transactions(s"$base/a") + appended)
    assertNoNewPins(before)

    // a fact the caller pinned is read through the caller's pin, which
    // runAll neither re-pins nor releases
    val mine = read.persist(StorageLevel.MEMORY_ONLY)
    try {
      val c = AnalyticsRunner.runAll(spark, mine, anchor, s"$base/d")
      assert(mine.storageLevel == StorageLevel.MEMORY_ONLY)
      assertTablesMatch(mine, s"$base/d", c)
    } finally mine.unpersist(blocking = true)
    assertNoNewPins(before)
    assert(refreshThreads.isEmpty)
  }
}
