package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** CLI mirroring the reference's four subcommands
  * (/root/reference/src/main.rs:13-37) so a reference user can switch:
  *
  * {{{
  *   graft.Main backfill <start_slot> <end_slot> <workers> <out>
  *   graft.Main incremental <src_dir> <sink> <checkpoint> [intervalSec]
  *   graft.Main analytics <fact_path> <out_dir> [anchor e.g. 2024-01-16T00:00:00]
  *   graft.Main health <fact_path>
  * }}}
  */
object Main {

  private def session(): SparkSession = LocalSession.build("graft-etl")

  /** The reference's warehouse selector (config.rs:54-58:
    * `WAREHOUSE_TYPE` + `WAREHOUSE_CONNECTION`) mapped onto the S13
    * sink axis: file formats take the CLI's out-path as a directory;
    * `postgres`/`jdbc` takes `WAREHOUSE_CONNECTION` as the JDBC url
    * and the out-path as the TABLE name. Deliberate divergence: the
    * reference defaults to postgres, this engine defaults to parquet —
    * the lake is the analytic store at scale and the harness drives
    * file sinks; a database is the opt-in serving sink. */
  private[graft] def sinkFor(out: String,
      env: Map[String, String]): ingest.Backfill.EventSink =
    env.getOrElse("WAREHOUSE_TYPE", "parquet").toLowerCase match {
      case "parquet" => ingest.Backfill.FileSink(out)
      case t @ ("orc" | "json") => ingest.Backfill.FileSink(out, t)
      case "postgres" | "jdbc" =>
        val conn = env.getOrElse("WAREHOUSE_CONNECTION",
          usageExit("WAREHOUSE_TYPE=postgres/jdbc requires " +
            "WAREHOUSE_CONNECTION (a JDBC url; the out argument names " +
            "the table)"))
        ingest.Backfill.JdbcSink(sources.JdbcWarehouse(conn, out))
      case other => usageExit(s"unsupported WAREHOUSE_TYPE '$other' " +
        "(parquet | orc | json | postgres | jdbc)")
    }

  /** The live RPC config both ingest verbs fetch with: present when
    * `SOLANA_RPC_URL` is set, absent (synthetic blocks) otherwise. */
  private def rpcConfigFor(env: Map[String, String]): Option[sources.RpcConfig] =
    if (env.contains("SOLANA_RPC_URL")) Some(sources.RpcConfig.fromEnv(env))
    else None

  /** The backfill verb's block source: live RPC when `SOLANA_RPC_URL`
    * is set, the deterministic synthetic block otherwise. */
  private[graft] def fetcherFor(
      env: Map[String, String]): ingest.Backfill.BlockFetcher =
    rpcConfigFor(env).fold[ingest.Backfill.BlockFetcher](
      ingest.Backfill.syntheticBlock)(sources.RpcClient.fetcher)

  /** The incremental-blocks verb's source options, the stream twin of
    * [[fetcherFor]]: `SPARK_GRAFT_CPUS` partition readers, at most
    * `ETL_BATCH_SIZE` slots per micro-batch (one micro-batch is one
    * idempotent sink commit, so the reference's events-per-flush cap,
    * incremental.rs:68, becomes the per-trigger slot admission), and
    * the RPC config backfill fetches with. */
  private[graft] def blockStreamOptions(
      env: Map[String, String]): Map[String, String] =
    Map("workers" -> env.getOrElse("SPARK_GRAFT_CPUS", "4"),
      "maxSlotsPerTrigger" -> EtlConfig(env).batchSize.toString) ++
      rpcConfigFor(env).fold(Map.empty[String, String])(sources.RpcConfig.toOptions)

  /** The analytics verb's fact, read through the sink the ingest verbs
    * wrote. An absent fact fails naming it: a refresh over nothing
    * would write 14 empty tables. */
  private[graft] def readFact(spark: SparkSession,
      sink: ingest.Backfill.EventSink, fact: String): DataFrame =
    sink.readIfAny(spark).getOrElse(throw new IllegalArgumentException(
      s"analytics: no fact table at $fact"))

  private def sinkCount(spark: SparkSession,
      sink: ingest.Backfill.EventSink): Long =
    sink.readIfAny(spark).map(_.count()).getOrElse(0L)

  def main(args: Array[String]): Unit = args.toList match {
    // optional trailing arg = etl_checkpoints path: the run is then
    // recorded in_progress/completed/failed and resumable via
    // Checkpoints.incomplete (SCHEMA.md:283-300)
    case "backfill" :: start :: end :: workers :: out :: rest if rest.length <= 1 =>
      // numeric args validated BEFORE the session spins up (the health
      // convention): malformed input earns the usage message, not a
      // NumberFormatException after seconds of SparkSession startup
      val startL = num("backfill", "start_slot", start)(_.toLong)
      val endL = num("backfill", "end_slot", end)(_.toLong)
      val workersI = num("backfill", "workers", workers)(_.toInt)
      val cfg = EtlConfig()
      // segmentation is PRESENCE-gated: each segment is a full Spark
      // pipeline (fetch + parse + sink anti-join + append) plus two
      // checkpoint-log passes, so defaulting to the reference's
      // interval=100 — a cheap per-row DB update there — would turn a
      // 1M-slot backfill into 10,000 sequential jobs with O(n²) sink
      // listing. An operator who wants mid-range resume sets the var
      // and sizes it for resume granularity, not row-update parity.
      val segInterval = EtlConfig.explicitLong(
        sys.env, "ETL_CHECKPOINT_INTERVAL", cfg.checkpointInterval)
      val sink = sinkFor(out, sys.env)
      val fetcher = fetcherFor(sys.env)
      val spark = session()
      rest.headOption match {
        case Some(ckpt) =>
          ingest.Checkpoints.runTracked(spark, ckpt, s"bf_${start}_$end",
            startL, endL, workersI, sink, fetcher,
            checkpointInterval = segInterval,
            chunkSize = Some(cfg.backfillChunkSize))
        case None =>
          ingest.Backfill.runTo(spark, startL, endL, workersI, sink, fetcher,
            chunkSize = Some(cfg.backfillChunkSize))
      }
      println(s"backfill complete: ${sinkCount(spark, sink)} events")
      spark.stop()

    case "incremental" :: src :: sink :: ckpt :: rest =>
      val intervalSec = rest.headOption
        .map(s => num("incremental", "intervalSec", s)(_.toLong))
      val target = sinkFor(sink, sys.env)
      val spark = session()
      ingest.Incremental.start(spark, src, target, ckpt,
        triggerFor(intervalSec, sys.env)).awaitTermination()
      spark.stop()

    // incremental from the native block source: slots are the streaming
    // offsets (no drop-directory needed) — parse + idempotent sink are
    // the same foreachBatch tail as the file path. With SOLANA_RPC_URL
    // set this is the fully LIVE path: tipSlot `auto` probes getSlot
    // (the reference's chain-tip read, incremental.rs:30-ish), and
    // every partition reader fetches with backfill's RPC config.
    case "incremental-blocks" :: start :: tip :: sink :: ckpt :: Nil =>
      val startL = num("incremental-blocks", "startSlot", start)(_.toLong)
      val tipL = tipSlotArg(tip, sys.env.contains("SOLANA_RPC_URL"),
        () => new sources.RpcClient(sources.RpcConfig.fromEnv()).getSlot()) match {
        case Right(v) => v
        case Left(err) => usageExit(s"incremental-blocks: $err")
      }
      val target = sinkFor(sink, sys.env)
      val options = blockStreamOptions(sys.env)
      val spark = session()
      val raw = spark.readStream.format("graft.sources.BlockSource")
        .option("startSlot", startL).option("tipSlot", tipL)
        .options(options).load()
      ingest.Incremental.startFromRaw(raw, target, ckpt,
        org.apache.spark.sql.streaming.Trigger.AvailableNow()).awaitTermination()
      println(s"incremental-blocks complete: ${sinkCount(spark, target)} events")
      spark.stop()

    case "analytics" :: fact :: out :: rest =>
      // the anchor is a UTC instant — Timestamp.valueOf would interpret
      // it in the host JVM's zone and shift every period boundary.
      // Parsed before the session for the same usage-path reason as the
      // numeric args.
      val anchor = try java.sql.Timestamp.from(
        java.time.LocalDateTime
          .parse(rest.headOption.getOrElse("2024-01-16T00:00:00"))
          .toInstant(java.time.ZoneOffset.UTC))
      catch {
        case _: java.time.format.DateTimeParseException =>
          usageExit(s"analytics: malformed anchor timestamp: ${rest.head} " +
            "(want ISO local date-time, e.g. 2024-01-16T00:00:00)")
      }
      val source = sinkFor(fact, sys.env)
      val spark = session()
      val counts = analytics.AnalyticsRunner.runAll(
        spark, readFact(spark, source, fact), anchor, out)
      counts.toSeq.sortBy(_._1).foreach { case (t, n) => println(s"$t: $n rows") }
      spark.stop()

    // optional args: <chainTipSlot> [maxSlotLag] enable the slot-lag SLO
    // the reference declares but never enforces (health.rs:51-54 +
    // config.rs:80-83 ETL_MAX_SLOT_LAG, default 1000): status flips to
    // "behind" when sink lag exceeds the bound.
    case "health" :: fact :: rest if rest.length <= 2 =>
      // RPC reachability + warehouse SELECT-1 (health.rs:7-58) →
      // source readability + sink tip probe. Null-safe: an empty sink is
      // healthy-but-behind, not a crash. Args are validated BEFORE the
      // session spins up: a malformed number goes through the usage/
      // exit-2 path, not a bare NumberFormatException stack trace.
      val slo = parseHealthArgs(rest, EtlConfig().maxSlotLag) match {
        case Left(err) => usageExit(err)
        case Right(v) => v
      }
      val spark = session()
      // a sink that does not exist yet (fresh deployment, backfill not
      // landed) is the SAME healthy-but-behind state as a zero-row one
      // — a monitoring probe needs the JSON verdict, not a
      // PATH_NOT_FOUND stack trace. The probe goes through sinkFor so
      // WAREHOUSE_TYPE=orc/json/jdbc health-checks the warehouse the
      // deployment actually writes (the reference's health reads ITS
      // configured warehouse, health.rs:22-50), not a parquet guess.
      // A probe that FAILS on an existing sink (unreachable database,
      // wrong schema) is a failed check — the reference's warehouse
      // ping returns Err (health.rs:22-31) — reported as one JSON line
      // + nonzero exit, never an uncaught stack trace: the verdict
      // matters most exactly when the warehouse is broken.
      val tip = try sinkFor(fact, sys.env).tipSlot(spark) catch {
        case scala.util.control.NonFatal(e) =>
          println(s"""{"status":"sink_failed","error":${
            jsonString(String.valueOf(e.getMessage))}}""")
          spark.stop()
          sys.exit(1)
      }
      // chain side of the reference's health (health.rs:12-20: getSlot
      // proves RPC reachability and prices the tip): with no explicit
      // chainTipSlot arg but a live endpoint configured, probe the
      // chain; an unreachable endpoint is a FAILED health verdict (the
      // reference returns Err), not a silent fallback to sink-only.
      // fail-fast probe posture: a health check inheriting the backfill
      // retry budget (5 retries × 30 s timeouts + backoff ≈ minutes)
      // would outlive any monitoring wrapper's own timeout and report
      // nothing; one retry and a 10 s cap still absorbs a blip
      val rpcFailed = chainTipSlo(slo, sys.env,
        () => new sources.RpcClient(sources.RpcConfig.fromEnv().copy(
          maxRetries = 1, timeoutSeconds = 10L)).getSlot()) match {
        case Left(err) =>
          println(s"""{"status":"rpc_failed","sink_tip_slot":$tip,"error":${jsonString(err)}}""")
          true
        case Right(Some((chainTip, maxLag))) =>
          val lag = math.max(0L, chainTip - tip)
          val status = if (lag <= maxLag) "ok" else "behind"
          println(s"""{"status":"$status","sink_tip_slot":$tip,"slot_lag":$lag,"max_slot_lag":$maxLag}""")
          false
        case Right(None) =>
          println(s"""{"status":"ok","sink_tip_slot":$tip}""")
          false
      }
      spark.stop()
      // a dead RPC endpoint is a FAILED check to the exit code too —
      // the reference's health returns Err (nonzero, main.rs:61) and a
      // monitoring wrapper asserting only on $? must not read it as
      // healthy. ("behind" stays exit-0: it is a lag VERDICT the
      // wrapper alerts on from the JSON, not a probe failure.)
      if (rpcFailed) sys.exit(1)

    // table maintenance from the CLI (the ops verb every lakehouse
    // deployment schedules): OPTIMIZE small-file fold, plus VACUUM when
    // a retention is declared — physically delete below the floor.
    // ZORDER stays a programmatic call (optimizeZorder): it needs a
    // column-pair choice
    // no generic CLI default can make safely. Retention semantics: with
    // floor = latest − retain, the LATEST plus the last `retainVersions`
    // PRIOR versions stay answerable (retain=0 keeps just the latest;
    // retain=30 keeps 31). Emits one JSON line, the health-verb
    // convention, so a cron wrapper can assert on it.
    case "maintain" :: root :: key :: rest if rest.length <= 1 =>
      val retain = rest.headOption.map(s =>
        num("maintain", "retainVersions", s)(_.toLong))
      retain.filter(_ < 0).foreach(r =>
        usageExit(s"maintain: retainVersions must be >= 0, got $r"))
      val spark = session()
      if (operators.MergeTable.versions(spark, root).isEmpty)
        usageExit(s"maintain: no committed merge table at $root")
      println(maintain(spark, root, key, retain))
      spark.stop()

    // the whole registered query surface from the CLI: list names, or
    // run one by name against a testdata-layout dir (show to stdout, or
    // parquet when an output path is given) — what makes every operator
    // in COVERAGE.md reachable without writing a driver program
    case "queries" :: Nil =>
      SparkEntry.orderedQueries.map(_._1).foreach(println)

    case "query" :: name :: sfDir :: rest if rest.length <= 1 =>
      SparkEntry.queries.get(name) match {
        case None =>
          usageExit(s"unknown query: $name (run `queries` for the " +
            s"${SparkEntry.queries.size} registered names)")
        case Some(fn) =>
          val spark = session()
          val df = fn(spark, sfDir)
          rest.headOption match {
            case Some(out) =>
              df.write.mode("overwrite").parquet(out)
              println(s"$name -> $out: ${spark.read.parquet(out).count()} rows")
            case None => df.show(50, truncate = false)
          }
          spark.stop()
      }

    case other =>
      usageExit(s"unknown command: ${other.mkString(" ")}")
  }

  /** The `maintain` verb's body, session-injected so specs drive it on
    * the shared test session (the CLI case owns its own session and
    * stop). Fold first, then vacuum against the POST-fold latest: the
    * fold may have committed a new version, and `retainVersions` is a
    * promise about the versions the operator can still see. */
  private[graft] def maintain(spark: SparkSession, root: String, key: String,
      retain: Option[Long]): String = {
    val folded = operators.MergeTable.compactFiles(spark, root, key)
    val live = operators.MergeTable.liveFiles(spark, root).count()
    val deleted = retain match {
      case Some(r) =>
        val latest = operators.MergeTable.versions(spark, root).last
        operators.MergeTable.vacuum(spark, root,
          math.max(operators.MergeTable.vacuumFloor(spark, root),
            math.max(0L, latest - r)))
      case None => 0L
    }
    // needs_compaction: live files STILL past the auto-compact bound
    // after the fold above — i.e. the residue is large files the
    // small-file fold cannot bin; the cron wrapper's signal to schedule
    // an optimizeZorder/targeted rewrite rather than wait for the
    // per-commit self-heal (which will keep yielding the same residue)
    val bound = operators.MergeTable.autoCompactBound(spark)
    s"""{"compacted":${folded.nonEmpty},"live_files":$live,""" +
      s""""needs_compaction":${bound > 0L && live > bound},""" +
      s""""files_deleted":$deleted,"floor":${
        operators.MergeTable.vacuumFloor(spark, root)}}"""
  }

  /** health's optional `[chainTipSlot [maxSlotLag]]` args.
    * Left = usage error (malformed number), Right(None) = no SLO check,
    * Right(Some((chainTip, maxLag))) = enforce the slot-lag SLO.
    * `defaultMaxLag` comes from ETL_MAX_SLOT_LAG (config.rs:80-83) when
    * no explicit bound is given. */
  private[graft] def parseHealthArgs(rest: List[String],
      defaultMaxLag: Long = 1000L): Either[String, Option[(Long, Long)]] =
    try rest match {
      case Nil => Right(None)
      case chainTip :: more =>
        Right(Some((chainTip.toLong,
          more.headOption.map(_.toLong).getOrElse(defaultMaxLag))))
    } catch {
      case _: NumberFormatException =>
        Left(s"health: malformed numeric argument: ${rest.mkString(" ")}")
    }

  /** Health's chain-side SLO resolution: an explicit chainTipSlot wins;
    * otherwise a configured live endpoint (SOLANA_RPC_URL) is PROBED —
    * and an unreachable endpoint is a failed verdict (Left), exactly
    * the reference's health contract (health.rs:12-20 returns Err),
    * never a silent fallback to sink-only. No arg, no endpoint → plain
    * sink probe. */
  private[graft] def chainTipSlo(slo: Option[(Long, Long)],
      env: Map[String, String], probe: () => Long)
      : Either[String, Option[(Long, Long)]] = slo match {
    case some @ Some(_) => Right(some)
    case None if env.contains("SOLANA_RPC_URL") =>
      try Right(Some((probe(), EtlConfig(env).maxSlotLag)))
      catch { case scala.util.control.NonFatal(e) => Left(String.valueOf(e.getMessage)) }
    case None => Right(None)
  }

  /** Incremental trigger resolution: an explicit interval argument wins;
    * otherwise an ETL_INTERVAL_SECONDS present IN THE ENVIRONMENT
    * selects the reference's poll cadence (incremental.rs:10-17,
    * config.rs:76-79) — present-but-malformed polls at the reference's
    * 30 s default (its own unwrap_or semantics: a set var states the
    * intent to poll); with the var absent, AvailableNow drains the
    * backlog and stops (the testable batch posture — a
    * never-terminating daemon nobody asked for is worse than a drained
    * exit). Single parser: delegates to [[EtlConfig.explicitLong]]. */
  private[graft] def triggerFor(argSec: Option[Long],
      env: Map[String, String]): org.apache.spark.sql.streaming.Trigger =
    argSec.orElse(EtlConfig.explicitLong(env, "ETL_INTERVAL_SECONDS",
        EtlConfig(env).intervalSeconds)) match {
      case Some(sec) =>
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(s"$sec seconds")
      case None => org.apache.spark.sql.streaming.Trigger.AvailableNow()
    }

  /** incremental-blocks' tipSlot argument: a number, or `auto` to probe
    * the chain tip over the configured endpoint — `auto` WITHOUT an
    * endpoint is a usage error (there is nothing to probe), and a probe
    * failure surfaces as one (the run cannot size its offsets). */
  private[graft] def tipSlotArg(tip: String, hasEndpoint: Boolean,
      probe: () => Long): Either[String, Long] = tip match {
    case "auto" if !hasEndpoint =>
      Left("tipSlot auto needs SOLANA_RPC_URL set")
    case "auto" =>
      try Right(probe())
      catch { case scala.util.control.NonFatal(e) =>
        Left(s"chain-tip probe failed: ${e.getMessage}") }
    case n => n.toLongOption.toRight(s"malformed numeric argument tipSlot: $n")
  }

  /** Minimal JSON string literal escaper for the health verb's one-line
    * verdict: quotes, backslashes, and control characters (multi-line
    * TLS errors!) must not break the one-JSON-line contract a
    * monitoring wrapper asserts on — exactly when the verdict matters
    * most. */
  private[graft] def jsonString(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < 0x20 => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  /** Parse a numeric CLI arg through the usage/exit-2 path — every
    * subcommand validates BEFORE `session()`, so a typo never costs a
    * SparkSession spin-up and dies as a bare NumberFormatException. */
  private def num[T](cmd: String, name: String, v: String)(f: String => T): T =
    try f(v) catch {
      case _: NumberFormatException =>
        usageExit(s"$cmd: malformed numeric argument $name: $v")
    }

  private def usageExit(msg: String): Nothing = {
    System.err.println(
      s"""$msg
         |usage: backfill <start> <end> <workers> <out> [ckptPath]
         |       incremental <src_dir> <sink> <ckpt> [intervalSec]
         |       incremental-blocks <startSlot> <tipSlot|auto> <sink> <ckpt>
         |       analytics <fact_path> <out_dir> [anchorTimestamp]
         |       health <fact_path> [chainTipSlot [maxSlotLag]]
         |       queries
         |       query <name> <sf_dir> [out_parquet]
         |env:   WAREHOUSE_TYPE=parquet|orc|json|postgres|jdbc (default parquet);
         |       postgres/jdbc reads WAREHOUSE_CONNECTION as the JDBC url and
         |       treats <out>/<sink>/<fact_path> as the table name""".stripMargin)
    sys.exit(2)
  }
}
