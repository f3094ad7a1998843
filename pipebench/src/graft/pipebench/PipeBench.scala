package graft.pipebench

import java.nio.file.{Path, Paths}

/** The pipeline benchmark: one workload per process, a closed loop of one
  * caller, each operation starting when the previous one returned.
  *
  * {{{
  * PipeBench --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *           --work <dir> --traces <dir>
  * }}}
  *
  * `--trace 0` times the operations with no listener attached (for
  * `--seconds` and at least the workload's `minOps`) and prints the
  * end-to-end metrics. `--trace 1` runs operations without listeners
  * for half of `--seconds`, then with the benchmark's listeners and spans
  * for the other half, then the workload's layer probes, and prints the
  * per-layer metrics. The last stdout line is the result object; the exit
  * code is 1 when a correctness check fails and 2 when the run fails.
  */
object PipeBench {

  /** Every end-to-end metric: (name, unit). */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "wall_s" -> "s", "blocks_per_s" -> "blocks/s",
    "events_per_s" -> "events/s", "step_p50_ms" -> "ms",
    "stored_bytes_per_event" -> "B", "sink_files" -> "files", "heap_live_mb" -> "MB")

  private val analyticsFns = Seq("transactionVolume", "hourlyVolume", "activePrograms",
    "tokenTransfers", "topTokens", "failedTransactions", "topErrors", "walletActivity",
    "topWallets", "programTrends", "dimWallets", "dimPrograms", "dimTokens", "factTelemetry")

  /** Every per-layer metric: (name, unit). A workload that does not
    * exercise a layer reports 0 for it. */
  val Layer: Seq[(String, String)] =
    Seq("ingest", "stream", "analytics", "operators").flatMap(l =>
      SparkCounters.Names.map { case (k, u) => s"$l.spark.$k" -> u }) ++
    Seq("ingest.fetch_s" -> "s", "ingest.parse_s" -> "s", "ingest.dedup_s" -> "s",
      "ingest.append_s" -> "s", "ingest.replay_s" -> "s", "ingest.replay_input_bytes" -> "B",
      "ingest.replay_useful_ratio" -> "ratio") ++
    Seq("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset", "getBatch")
      .map(p => s"stream.${p}_ms" -> "ms") ++
    Seq("stream.triggers" -> "count", "stream.trigger_p50_ms" -> "ms",
      "stream.jobs_per_trigger" -> "count",
      "stream.driver_ms_per_trigger" -> "ms", "stream.guard_input_bytes_per_trigger" -> "B",
      "stream.files_per_trigger" -> "count", "stream.write_amp" -> "ratio",
      "stream.redelivered_drop_ratio" -> "ratio") ++
    analyticsFns.map(f => s"analytics.${f}_s" -> "s") ++
    Seq("analytics.materialize_s" -> "s", "analytics.fact_input_bytes" -> "B",
      "analytics.fact_scans" -> "count", "analytics.jobs_per_refresh" -> "count") ++
    Seq("operators.addBatch_ms" -> "ms", "operators.trigger_p50_ms" -> "ms",
      "operators.write_amp" -> "ratio", "operators.commits" -> "count",
      "operators.bytes_written_per_commit" -> "B", "operators.jobs_per_commit" -> "count",
      "operators.live_files" -> "files", "operators.versions" -> "count") ++
    Seq("trace.overhead_s" -> "s", "trace.root_self_s" -> "s",
      "trace.layer_cover_ratio" -> "ratio", "trace.spans" -> "count", "jvm.heap_peak_mb" -> "MB")

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: Path, traces: Path)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")), Paths.get(m.getOrElse("traces", need("work"))))
  }

  /** Tallies operations (backfill calls, triggers, table writes,
    * correctness checks) and the ones that failed. */
  final class Tally {
    var attempted, failed = 0L
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    def checks(cs: Seq[(String, Boolean)]): Unit = cs.foreach { case (n, ok) =>
      attempted += 1
      if (!ok) { failed += 1; failures += n }
    }
  }

  /** Runs operations until `seconds` have passed and at least `min` ran.
    * Each starts from a restored state; the previous operation's outputs
    * are removed first, the last one's are kept for the caller. */
  private def loop(wl: Workload, seconds: Double, min: Int, tr: Option[Tracer],
      tally: Tally, restores: scala.collection.mutable.ArrayBuffer[Double],
      ran: scala.collection.mutable.ArrayBuffer[(OpResult, Shape)], first: Boolean): Unit = {
    val start = System.nanoTime()
    var n = 0
    while (n < min || (System.nanoTime() - start) / 1e9 < seconds) {
      if (n > 0 || !first) wl.discard()
      val t = System.nanoTime()
      wl.restore()
      restores += (System.nanoTime() - t) / 1e9
      val r = wl.op(tr)
      tally.attempted += r.attempted
      tally.checks(wl.verify())
      ran += r -> wl.shape()
      HeapWatch.settle()
      n += 1
    }
  }

  def main(args: Array[String]): Unit =
    try run(args)
    catch {
      case e: Throwable =>
        e.printStackTrace()
        System.err.println("[pipebench] the run failed; no result")
        sys.exit(2)
    }

  private def run(args: Array[String]): Unit = {
    HeapWatch.install()
    val t0 = System.nanoTime()
    val o = parse(args)
    java.nio.file.Files.createDirectories(o.work)
    val spark = graft.LocalSession.build("pipebench", "ERROR")
    val ctx = new Ctx(spark, o.seed, o.work)
    val wl = Workloads(o.workload, ctx)
    val tally = new Tally
    val restores = scala.collection.mutable.ArrayBuffer.empty[Double]
    val ran = scala.collection.mutable.ArrayBuffer.empty[(OpResult, Shape)]
    val sessionS = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    wl.setupOnce()
    val onceS = (System.nanoTime() - t1) / 1e9
    System.err.println(f"[pipebench] ${wl.name}: ${wl.params}; session $sessionS%.2f s, set-up $onceS%.2f s")

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) {
        HeapWatch.arm()
        loop(wl, o.seconds, wl.minOps, None, tally, restores, ran, first = true)
        val ops = ran.map(_._1).toSeq
        val shapes = ran.map(_._2).toSeq
        val wall = Stats.median(ops.map(_.wallS))
        val values = Map(
          "setup_s" -> (sessionS + onceS + Stats.median(restores.toSeq)),
          "wall_s" -> wall,
          "blocks_per_s" -> Stats.median(ops.map(r => r.blocks / r.wallS)),
          "events_per_s" -> Stats.median(ops.map(r => r.events / r.wallS)),
          "step_p50_ms" -> Stats.median(ops.flatMap(_.steps)),
          "stored_bytes_per_event" -> Stats.median(shapes.map(_.bytesPerEvent)),
          "sink_files" -> Stats.median(shapes.map(_.files.toDouble)),
          "heap_live_mb" -> HeapWatch.liveMb)
        System.err.println(f"[pipebench] ${ops.size} operations, walls " +
          ops.map(r => f"${r.wallS}%.2f").mkString(" "))
        EndToEnd.map { case (n, u) => (n, values(n), u) }
      } else {
        HeapWatch.arm()
        val half = o.seconds / 2.0
        loop(wl, half, 1, None, tally, restores, ran, first = true)
        val untraced = Stats.median(ran.map(_._1.wallS).toSeq)
        val tr = new Tracer(spark, s"${o.workload}-${o.seed}-${ProcessHandle.current().pid()}")
        tr.attach()
        val before = ran.size
        loop(wl, half, 1, Some(tr), tally, restores, ran, first = false)
        tr.drain()
        val ops = tr.all.filter(s => s.name == s"${o.workload}.op")
        val traced = Stats.median(ran.drop(before).map(_._1.wallS).toSeq)
        val (probes, probeChecks) = wl.probes(tr)
        tally.checks(probeChecks)
        val layer = wl.layer(tr, ops)
        val covered = ops.map(s => 1.0 - tr.selfS(s) / s.durS)
        val all = layer ++ probes ++ Seq(
          Metric("trace.overhead_s", traced - untraced, "s"),
          Metric("trace.root_self_s", Stats.median(ops.map(tr.selfS)), "s"),
          Metric("trace.layer_cover_ratio", Stats.median(covered), "ratio"),
          Metric("trace.spans", tr.all.size, "count"),
          Metric("jvm.heap_peak_mb", HeapWatch.peakMb, "MB"))
        val file = o.traces.resolve(s"spans-${o.workload}-seed${o.seed}.jsonl")
        tr.write(file)
        tr.detach()
        System.err.println(s"[pipebench] spans written to $file")
        val byName = all.map(m => m.name -> m).toMap
        val unknown = byName.keySet -- Layer.map(_._1)
        require(unknown.isEmpty, s"layer metrics missing from the registry: ${unknown.mkString(", ")}")
        Layer.map { case (n, u) => (n, byName.get(n).map(_.value).getOrElse(0.0), u) }
      }
    wl.discard()
    spark.stop()

    val correct = tally.failed == 0
    if (!correct) System.err.println(s"[pipebench] correctness failures: ${tally.failures.mkString(", ")}")
    val ms = metrics.map { case (n, v, u) =>
      s"${Json.str(n)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}" }
    println(s"""{"correct":$correct,"attempted":${tally.attempted},"failed":${tally.failed},""" +
      s""""metrics":{${ms.mkString(",")}}}""")
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }
}
