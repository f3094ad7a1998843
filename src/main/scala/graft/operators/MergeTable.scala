package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A minimal copy-on-write table with `MERGE INTO` semantics, snapshot
  * isolation, and version time travel — the lakehouse sink SURVEY.md
  * §7.3 marks optional (the reference's warehouse is plain
  * `INSERT … ON CONFLICT`, warehouse.rs:220-231; Delta/Iceberg jars are
  * absent from this container, so the commit protocol is implemented
  * directly on the filesystem, following the publicly documented
  * Delta-style recipe: immutable data files + an ordered log of
  * add/remove actions, committed by one atomic rename).
  *
  * Layout under `root/`:
  *   - `data/v<NNNNN>/part-*.parquet` — immutable; written once by the
  *     version that created them, never mutated.
  *   - `_log/v<…20 digits…>/` — one parquet manifest per version holding
  *     `(version, op∈add|remove, file, min_key, max_key, n_rows)` rows.
  *     A writer stages the manifest at `_log/.tmp-v…` and COMMITS by
  *     renaming it to its final name — the rename is the commit point,
  *     so a crash at any step leaves only unreferenced garbage (a data
  *     dir and/or a `.tmp` manifest no reader ever looks at), never a
  *     torn table. A failed rename (destination exists) means another
  *     writer won that version — surfaced as an error, not silent loss.
  *   - `_floor/` — the vacuum horizon (via [[StoreOps.replaceWith]]'s
  *     crash-safe swap): time travel below it fails loudly instead of
  *     reading files vacuum physically deleted.
  *
  * Scale design (100 TB): MERGE rewrites ONLY the files whose
  * `[min_key, max_key]` span overlaps an update key — the manifest's
  * per-file stats make file skipping a broadcast join against a frame
  * whose size is the file COUNT, not the data; a merge batch touching
  * one day of a date-keyed table rewrites that day's files and carries
  * every other file forward by reference (zero data movement). Reads
  * plan from the manifest (driver-side metadata, the same planning step
  * every table format performs) and hand Spark an explicit bounded file
  * list. All data-sized work — the anti-join of touched rows against
  * update keys, the stats read-back over just-written files — is
  * distributed and proportional to the TOUCHED byte count, never the
  * table.
  */
object MergeTable {

  private val DataDir = "data"
  // log layout visible to the package so MergeTableSpec can synthesize
  // large manifests (10k-file planning gates) without 10k real files
  private[operators] val LogDir = "_log"
  private val FloorDir = "_floor"
  private val CheckpointDir = "_checkpoint"

  private[operators] def fmtLog(v: Long) = f"v$v%020d"

  /** Live-file count past which [[snapshot]] warns: the driver path
    * list and scan task count both scale with it; compaction is the
    * fix. */
  private[operators] val PlannedFilesWarnAt = 1000000

  /** Live-file bound past which [[merge]] triggers its own small-file
    * fold right after a successful commit — the planning bound WIRED to
    * the [[compactFiles]] machinery instead of only warned about: at
    * scale a trickle-ingested table crosses the bound while nobody is
    * reading stderr, and the next reader pays the planning stall.
    * Session conf `spark.graft.autoCompactAt` overrides (≤ 0 disables);
    * defaults to the snapshot warning bound so the warning can never
    * fire on a table that auto-maintenance was allowed to heal. */
  private[graft] def autoCompactBound(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.autoCompactAt")
      .flatMap(_.toLongOption).getOrElse(PlannedFilesWarnAt.toLong)

  /** This JVM's last-known (version, live-file count) per table root —
    * what lets the per-commit bound check run WITHOUT a per-commit
    * manifest job (measured ~0.2–0.3 s each on the streaming-CDC path,
    * ~10 % of the whole query): [[commit]] knows its own add/remove
    * counts driver-side (removes are live-at-basis by construction), so
    * a single-writer JVM tracks the live count incrementally and pays a
    * real manifest count only on first touch of a root — or after a
    * FOREIGN commit, which [[commit]] detects as a basis mismatch and
    * answers by invalidating the entry (next check recounts). Heuristic
    * freshness is enough for a maintenance trigger; the snapshot-side
    * planning warn stays as the exact backstop. */
  private val liveCountCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()

  /** [[commit]]'s cache maintenance: an exact incremental update when
    * this JVM also made the previous commit, eviction otherwise. */
  private def noteCommit(root: String, basis: Long, version: Long,
      nAdds: Int, nRemoves: Int): Unit = {
    liveCountCache.compute(root, (_, prev) =>
      if (prev != null && prev._1 == basis)
        (version, prev._2 + nAdds - nRemoves)
      else null)
    ()
  }

  /** Post-commit self-healing: fold small files when the live-file
    * count is past [[autoCompactBound]]. Best-effort by design — the
    * fold is its own OCC commit, and losing that race to a concurrent
    * writer just defers the fold to THAT writer's own post-commit
    * check (every writer runs this, so a past-bound table heals on
    * whichever commit lands next). */
  private def maybeAutoCompact(spark: SparkSession, root: String,
      key: String, version: Long): Unit = {
    val bound = autoCompactBound(spark)
    if (bound <= 0L) return
    val n = {
      val cached = liveCountCache.get(root)
      if (cached != null) cached._2
      else {
        val real = liveFiles(spark, root).count()
        // labeled with the commit the caller just made: if a foreign
        // writer landed in between, the label is stale by one commit
        // and the NEXT commit's basis mismatch evicts it — drift is
        // bounded at one resync cycle
        liveCountCache.put(root, (version, real))
        real
      }
    }
    if (n > bound) {
      System.err.println(s"[merge-table] $n live files at $root past " +
        s"auto-compact bound $bound — folding small files inline")
      try compactFiles(spark, root, key)
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[merge-table] inline auto-compact at " +
            s"$root yielded to a concurrent commit: ${e.getMessage}")
      }
    }
  }
  private def fmtData(v: Long) = f"v$v%05d"

  private def fsOf(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private[operators] val manifestSchema = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("op", StringType, nullable = false),
    StructField("file", StringType, nullable = false),
    StructField("min_key", StringType, nullable = true),
    StructField("max_key", StringType, nullable = true),
    StructField("n_rows", LongType, nullable = true)))

  /** One listing of a log-like dir: (version, dir modification time),
    * ascending by version (a `.tmp` entry is not a version). The mtime
    * rides along as the cache-identity of the committed segment: a
    * manifest dir is write-once (published by one atomic rename, never
    * rewritten), so (version, mtime) changes only when a table is
    * deleted and re-created at the same path — exactly the case the
    * [[logRowsCache]] must not serve stale rows for. */
  private def listLog(fs: FileSystem, root: String,
      dir: String): Seq[(Long, Long)] = {
    val p = new Path(root, dir)
    if (!fs.exists(p)) return Seq.empty
    fs.listStatus(p).toIndexedSeq
      .filter(_.getPath.getName.matches("v\\d{20}"))
      .map(st => (st.getPath.getName.drop(1).toLong, st.getModificationTime))
      .sortBy(_._1)
  }

  /** Committed versions, ascending (a `.tmp` manifest is not a version). */
  def versions(spark: SparkSession, root: String): Seq[Long] =
    listLog(fsOf(spark, root), root, LogDir).map(_._1)

  /** Committed checkpoint versions, ascending. */
  def checkpointVersions(spark: SparkSession, root: String): Seq[Long] =
    listLog(fsOf(spark, root), root, CheckpointDir).map(_._1)

  /** This JVM's manifest-row cache: (root, log dir, version) → the
    * segment's rows, labeled with the manifest dir's mtime (see
    * [[listLog]] — committed segments are immutable, so a matching
    * mtime proves the cached rows are THE published rows). [[commit]]
    * and [[checkpoint]] populate it with the rows they just wrote, so
    * the single-writer hot paths (streaming CDC, the lake queries)
    * never re-read the log they produced: before this cache every
    * metadata consumer — declaredSchema, liveFiles, snapshot planning,
    * the merge probe — paid a separate small parquet JOB per call
    * (~0.05–0.15 s of fixed scheduling cost each, several per lake
    * operation and one per MERGE micro-batch; guide §1.2: remove
    * passes). A foreign writer's segment is a cache miss (unknown
    * version or changed mtime) and reads through. Entries are
    * file-count-sized rows; the whole cache is bounded and dropped
    * wholesale when past the bound (correctness never depends on it). */
  private val logRowsCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String, Long), (Long, Array[Row])]()
  private val LogRowsCacheMaxSegments = 8192

  private def putSeg(root: String, dir: String, v: Long, mtime: Long,
      rows: Array[Row]): Unit = {
    if (logRowsCache.size >= LogRowsCacheMaxSegments) logRowsCache.clear()
    logRowsCache.put((root, dir, v), (mtime, rows))
    ()
  }

  /** One segment's manifest rows, from the cache when the (version,
    * mtime) identity matches, else one bounded parquet read. */
  private def segRows(spark: SparkSession, root: String, dir: String,
      v: Long, mtime: Long): Array[Row] = {
    val cached = logRowsCache.get((root, dir, v))
    if (cached != null && cached._1 == mtime) return cached._2
    val rows = spark.read.schema(manifestSchema)
      .parquet(s"$root/$dir/${fmtLog(v)}").collect()
    putSeg(root, dir, v, mtime, rows)
    rows
  }

  /** The manifest view as of `asOf` (latest if None), as driver-side
    * rows: with a usable checkpoint C ≤ asOf, the checkpoint's folded
    * live add-set plus only the tail manifests in (C, asOf] — a
    * reader's planning cost stays O(tail), not O(commits since table
    * birth). Below every checkpoint, fold the raw per-version
    * manifests (still valid until vacuum deletes them). Manifest rows
    * are file-count-sized — the same order [[snapshot]] has always
    * collected for planning — never data-sized. */
  private def manifestRows(spark: SparkSession, root: String,
      asOf: Option[Long]): Seq[Row] = {
    val fs = fsOf(spark, root)
    val logSegs = listLog(fs, root, LogDir)
    val upTo = asOf.getOrElse(logSegs.lastOption.map(_._1).getOrElse(0L))
    val ckpt = listLog(fs, root, CheckpointDir).filter(_._1 <= upTo).lastOption
    val tail = logSegs.filter { case (v, _) =>
      v <= upTo && ckpt.forall(v > _._1) }
    val ckRows = ckpt.map { case (c, mt) =>
      segRows(spark, root, CheckpointDir, c, mt) }
      .getOrElse(Array.empty[Row]).toIndexedSeq
    ckRows ++ tail.flatMap { case (v, mt) =>
      segRows(spark, root, LogDir, v, mt) }
  }


  /** The DECLARED table schema as of a version: the latest `schema`
    * manifest action at or below it (the Delta `metaData` action
    * re-expressed). `None` for tables written before schema actions
    * existed — readers then fall back to file-derived schemas. The
    * declared schema is what makes ADD-COLUMN evolution sound: files
    * written before a column existed are read THROUGH it, so the
    * missing column comes back as typed nulls instead of the read
    * taking whichever file footer it sampled first. */
  def declaredSchema(spark: SparkSession, root: String,
      asOf: Option[Long] = None): Option[StructType] =
    declaredOf(manifestRows(spark, root, asOf))

  /** [[declaredSchema]]'s fold over already-collected manifest rows. */
  private def declaredOf(mRows: Seq[Row]): Option[StructType] =
    mRows.view.filter(_.getString(1) == "schema")
      .maxByOption(_.getLong(0))
      .map(r => DataType.fromJson(r.getString(2)).asInstanceOf[StructType])

  /** Monotone schema widening: `next`'s new columns append to the
    * declared schema; shared names must keep their type EXACTLY (silent
    * coercion on a 100 TB table is how you corrupt every historical
    * file at once — fail loudly instead); declared columns absent from
    * `next` survive (they read as nulls from files that lack them). */
  private def widened(declared: Option[StructType],
      next: StructType): StructType = declared match {
    case None => next
    case Some(d) =>
      val byName = d.fields.map(f => f.name -> f).toMap
      next.fields.foreach { f =>
        byName.get(f.name).foreach { prior =>
          require(prior.dataType == f.dataType,
            s"column '${f.name}' would change type " +
              s"${prior.dataType.simpleString} -> ${f.dataType.simpleString}; " +
              "schema evolution only ADDS columns, never retypes")
        }
      }
      StructType(d.fields ++ next.fields.filterNot(f => byName.contains(f.name)))
  }

  /** Canonical serialization of per-file key stats into the manifest's
    * string columns. A plain cast-to-string does NOT round-trip every
    * type: timestamp→string renders in the WRITER session's timezone,
    * so a reader in another zone would cast back shifted bounds and
    * prune a file that really holds a matched key — an un-rewritten
    * match plus a fresh insert, silent duplicate-key corruption. So
    * timestamps serialize as epoch-micros integers (timezone-free);
    * binary and TIMESTAMP_NTZ keys get NULL stats (pruning disabled —
    * null stats mean "conservatively overlaps everything", the safe
    * direction); every remaining type round-trips exactly through its
    * string cast (int64 losslessly, double/float via Java's
    * shortest-round-trip rendering, decimal as plain digits, date as
    * ISO, string as itself). [[statBack]] is the inverse. */
  private def statOf(c: Column, t: DataType): Column = t match {
    case TimestampType => unix_micros(c).cast("string")
    case BinaryType | TimestampNTZType => lit(null).cast("string")
    case _ => c.cast("string")
  }

  /** Driver-side per-file (name, min_key, max_key, n_rows) for the
    * files just written under `dataPath`, folded from parquet FOOTER
    * row-group statistics instead of a Spark scan job — metadata work
    * bounded by one commit's file count. Returns None when the key's
    * type has no footer encoding that round-trips [[statOf]]'s
    * canonical string (the caller then runs the original aggregation).
    * Within a supported type, any block with unusable stats degrades
    * that FILE to null stats — the same "conservatively overlaps
    * everything" direction every stat consumer already honors — and
    * all-null-key blocks are skipped from the fold exactly as the SQL
    * `min`/`max` skip null rows. String stats fold in unsigned UTF-8
    * byte order (parquet's UNSIGNED comparator, which is also Spark's
    * string ordering); a writer-truncated binary stat would still be a
    * valid conservative bound, never a missed match. Empty part files
    * (a schema-only write of an empty frame) produce no add row, as
    * the row-driven aggregation never saw them. */
  private def footerAddStats(spark: SparkSession, dataPath: Path,
      key: String, kt: DataType): Option[Seq[(String, String, String, Long)]] = {
    // fold (min, max) as (render, unsigned-bytes?) per supported type
    val supported = kt match {
      case ByteType | ShortType | IntegerType | LongType | StringType |
           FloatType | DoubleType | DateType | BooleanType => true
      // statOf declares these null-stat types — no footer read needed
      case BinaryType | TimestampNTZType => false
      case _ => return None // timestamp/decimal/…: Spark-job path
    }
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = dataPath.getFileSystem(conf)
    val parts = fs.listStatus(dataPath)
      .filter(_.getPath.getName.startsWith("part-")).sortBy(_.getPath.getName)
    try Some(parts.toIndexedSeq.flatMap { st =>
      val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
      try {
        val blocks = rdr.getFooter.getBlocks
        var rows = 0L
        // typed fold state; null render = no non-null value seen yet
        var mn: Any = null; var mx: Any = null; var degraded = !supported
        val it = blocks.iterator()
        while (it.hasNext) {
          val b = it.next(); rows += b.getRowCount
          if (!degraded) {
            val cit = b.getColumns.iterator()
            var cs: org.apache.parquet.column.statistics.Statistics[_] = null
            var found = false
            while (cit.hasNext && !found) {
              val c = cit.next()
              if (c.getPath.toDotString == key) { cs = c.getStatistics; found = true }
            }
            if (cs == null || !cs.hasNonNullValue) {
              // all-null block (provably) folds like SQL min/max —
              // skipped; anything unprovable degrades the file to the
              // safe null-stat overlap
              val allNull = cs != null && cs.isNumNullsSet &&
                cs.getNumNulls == b.getRowCount
              if (!allNull) degraded = true
            } else {
              val (bmn, bmx) = (cs.genericGetMin, cs.genericGetMax)
              mn = if (mn == null || footerLt(kt, bmn, mn)) bmn else mn
              mx = if (mx == null || footerLt(kt, mx, bmx)) bmx else mx
            }
          }
        }
        if (rows == 0L) Seq.empty
        else {
          val (s1, s2) =
            if (degraded || mn == null) (null, null)
            else (footerRender(kt, mn), footerRender(kt, mx))
          Seq((st.getPath.getName, s1, s2, rows))
        }
      } finally rdr.close()
    })
    catch { case scala.util.control.NonFatal(_) => None } // job fallback
  }

  /** `a < b` in the key type's own lattice for footer stat values. */
  private def footerLt(kt: DataType, a: Any, b: Any): Boolean = (kt, a, b) match {
    case (StringType, x: org.apache.parquet.io.api.Binary,
        y: org.apache.parquet.io.api.Binary) =>
      // unsigned lexicographic — parquet's UTF8 comparator and Spark's
      // string ordering agree on this
      val (xb, yb) = (x.getBytes, y.getBytes)
      val n = math.min(xb.length, yb.length)
      var i = 0
      while (i < n) {
        val c = (xb(i) & 0xff) - (yb(i) & 0xff)
        if (c != 0) return c < 0
        i += 1
      }
      xb.length < yb.length
    case (_, x: java.lang.Number, y: java.lang.Number)
        if kt == ByteType || kt == ShortType || kt == IntegerType ||
           kt == LongType || kt == DateType =>
      x.longValue < y.longValue
    case (FloatType, x: java.lang.Float, y: java.lang.Float) =>
      java.lang.Float.compare(x, y) < 0
    case (DoubleType, x: java.lang.Double, y: java.lang.Double) =>
      java.lang.Double.compare(x, y) < 0
    case (BooleanType, x: java.lang.Boolean, y: java.lang.Boolean) =>
      !x && y
    case _ => throw new IllegalStateException(
      s"footer stat fold: unexpected ($kt, ${a.getClass}, ${b.getClass})")
  }

  /** Footer stat value → the canonical [[statOf]] string for `kt`. */
  private def footerRender(kt: DataType, v: Any): String = (kt, v) match {
    case (StringType, b: org.apache.parquet.io.api.Binary) => b.toStringUsingUTF8
    case (DateType, d: java.lang.Number) =>
      java.time.LocalDate.ofEpochDay(d.longValue).toString
    case (ByteType | ShortType | IntegerType | LongType, n: java.lang.Number) =>
      n.longValue.toString
    case (FloatType, f: java.lang.Float) => f.toString
    case (DoubleType, d: java.lang.Double) => d.toString
    case (BooleanType, b: java.lang.Boolean) => b.toString
    case _ => throw new IllegalStateException(
      s"footer stat render: unexpected ($kt, ${v.getClass})")
  }

  /** Inverse of [[statOf]]: the manifest stat string back in the key's
    * own type for a correctly-ordered comparison. A null stat (binary /
    * NTZ keys, all-null-key files, or a failed cast) is treated as
    * overlapping by every consumer, so decode errs only toward reading
    * more files, never toward missing a match. */
  private def statBack(c: Column, t: DataType): Column = t match {
    case TimestampType => timestamp_micros(c.cast("long"))
    case BinaryType | TimestampNTZType => lit(null).cast(t)
    case _ => c.cast(t)
  }

  /** THE live add-set fold: adds not yet removed — the ONE definition
    * shared by [[liveFiles]] (reads), [[snapshot]] planning, the merge
    * file-skip probe, [[checkpoint]] (log folding) and [[changeFeed]]'s
    * two-version diff, so live-set semantics cannot diverge between
    * them. Driver-side over already-collected manifest rows
    * (file-count-sized), replacing the former DataFrame anti-join —
    * every consumer needed the result on the driver anyway. */
  private[operators] def liveAddRows(mRows: Seq[Row]): Seq[Row] = {
    val removed = mRows.view.filter(_.getString(1) == "remove")
      .map(_.getString(2)).toSet
    mRows.filter(r => r.getString(1) == "add" && !removed(r.getString(2)))
  }

  /** The live file set as of a version: adds not yet removed, with their
    * key stats. Manifest-sized (rows = file count), never data-sized —
    * and since the driver-side fold, a LocalRelation (no Spark job). */
  def liveFiles(spark: SparkSession, root: String,
      asOf: Option[Long] = None): DataFrame = {
    val rows = new java.util.ArrayList[Row]()
    liveAddRows(manifestRows(spark, root, asOf)).foreach(r =>
      rows.add(Row(r.getString(2), r.getString(3), r.getString(4),
        if (r.isNullAt(5)) null else java.lang.Long.valueOf(r.getLong(5)))))
    spark.createDataFrame(rows, StructType(manifestSchema.fields.drop(2)))
  }

  /** The floor gate every versioned read shares: time travel below the
    * vacuum floor must refuse — those versions' files are physically
    * gone, and an empty read would impersonate history. */
  private def requireAboveFloor(spark: SparkSession, root: String,
      asOf: Option[Long]): Unit = {
    val fl = vacuumFloor(spark, root)
    asOf.foreach { v =>
      require(v >= fl,
        s"version $v predates the vacuum floor $fl: its files were " +
          "physically deleted; time travel below the floor cannot answer")
    }
  }

  // Era-aligned reading (the former eraReader helper) is now inlined at
  // each consumer over its ONE manifest fold: every data-file read goes
  // through the declared schema of THAT version — files predating an
  // added column yield typed nulls for it, a time-travel read from
  // before an evolution sees the era's own (narrower) schema, and a
  // multi-era file set never depends on whichever footer Spark samples.

  /** Read the table as of `asOf` (latest if None). Fails loudly below
    * the vacuum floor. A committed table whose live file set is EMPTY —
    * a merge whose CDC batch deleted every remaining row — answers as
    * an empty frame with the era's declared schema (the manifest's
    * schema action is exactly the carrier that makes this answerable);
    * only a table with no declared schema at all (never committed, or a
    * wrong root path) still refuses. */
  def snapshot(spark: SparkSession, root: String,
      asOf: Option[Long] = None): DataFrame = {
    requireAboveFloor(spark, root, asOf)
    // The live PATH list must reach the driver — Spark plans file
    // splits driver-side in every file source (Delta's log-backed
    // FileIndex holds the same list). What makes this scale is that
    // the list is O(live files) — checkpointed manifest fold, never
    // O(commits) — and live-file count is bounded by compaction
    // cadence. The guard makes an uncompacted table loud instead of
    // mysteriously slow: 1M paths ≈ 100 MB of driver strings is where
    // planning pain starts.
    // ONE manifest fold serves both the path list and the era schema
    // (two separate log reads before — guide §1.2).
    val mRows = manifestRows(spark, root, asOf)
    val files = liveAddRows(mRows).map(r => s"$root/${r.getString(2)}")
    if (files.length > PlannedFilesWarnAt)
      System.err.println(s"[merge-table] ${files.length} live files at " +
        s"$root exceeds $PlannedFilesWarnAt — run compactFiles; driver " +
        "planning memory and scan task count both scale with this")
    val declared = declaredOf(mRows)
    val reader = declared.map(spark.read.schema(_)).getOrElse(spark.read)
    if (files.isEmpty) {
      require(declared.isDefined,
        s"merge table at $root has no live files" +
          asOf.map(v => s" as of version $v").getOrElse("") +
          " and no declared schema — not a committed table")
      spark.createDataFrame(new java.util.ArrayList[Row](), declared.get)
    } else reader.parquet(files.toIndexedSeq: _*)
  }

  /** Read-side file skipping: the snapshot restricted to files whose
    * key span can intersect `[lo, hi]` — the read twin of MERGE's
    * write-side pruning, the same contract parquet partition pruning
    * gives a date-partitioned scan. Files with unusable stats (null or
    * uncastable vs `lo`'s type) are conservatively included, so the
    * result is always a SUPERSET of the matching rows: callers apply
    * their exact row predicate on top, exactly as they would after a
    * partition-pruned scan. At 100 TB a point or range lookup touches
    * the overlapping files only, not the table. */
  def snapshotRange(spark: SparkSession, root: String, lo: Any, hi: Any,
      asOf: Option[Long] = None): DataFrame = {
    requireAboveFloor(spark, root, asOf)
    val loC = lit(lo)
    val t: org.apache.spark.sql.types.DataType = lo match {
      case _: Int | _: Long | _: Short | _: Byte => LongType
      case _: Double => DoubleType
      // NOT DoubleType: a float stat like "0.1" widened to double is
      // 0.1000000000000000055…, above the float key 0.10000000149…'s
      // double image — the span test would EXCLUDE a file holding the
      // exact match. Compare in the key's own float lattice.
      case _: Float => FloatType
      case _: java.math.BigDecimal | _: BigDecimal => DecimalType(38, 18)
      case _: java.sql.Timestamp | _: java.time.Instant => TimestampType
      case _: java.sql.Date | _: java.time.LocalDate => DateType
      case _: Array[Byte] => BinaryType // null stats → no pruning, full scan
      case _ => StringType
    }
    // one manifest fold for the span filter AND the era schema; the
    // span test itself stays a Catalyst filter over the LocalRelation
    // (ConvertToLocalRelation folds it driver-side — no job) so the
    // type-lattice-sensitive statBack decode has exactly one definition
    val mRows = manifestRows(spark, root, asOf)
    val lfRows = new java.util.ArrayList[Row]()
    liveAddRows(mRows).foreach(r =>
      lfRows.add(Row(r.getString(2), r.getString(3), r.getString(4),
        if (r.isNullAt(5)) null else java.lang.Long.valueOf(r.getLong(5)))))
    val files = spark
      .createDataFrame(lfRows, StructType(manifestSchema.fields.drop(2)))
      .withColumn("mn", statBack(col("min_key"), t))
      .withColumn("mx", statBack(col("max_key"), t))
      .filter(col("mn").isNull || col("mx").isNull ||
        (col("mx") >= loC && col("mn") <= lit(hi)))
      .select(col("file"))
      .collect().map(r => s"$root/${r.getString(0)}")
    val declared = declaredOf(mRows)
    val reader = declared.map(spark.read.schema(_)).getOrElse(spark.read)
    if (files.isEmpty) {
      // a fully-pruned range is a legitimately EMPTY answer whenever
      // the era's declared schema can type it; refuse only when no
      // schema was ever committed (schema inference has nothing to read)
      require(declared.isDefined,
        s"no live file of $root can hold keys in [$lo, $hi] and the " +
          "table has no declared schema — empty range reads need one")
      spark.createDataFrame(new java.util.ArrayList[Row](), declared.get)
    } else reader.parquet(files.toIndexedSeq: _*)
  }

  /** Change data feed: the row-level diff between two committed
    * versions, as `change_type ∈ insert|update|delete` plus the table
    * columns (new image for insert/update, last-seen image for delete).
    *
    * Scale contract (the copy-on-write CDF trick): under copy-on-write,
    * a row can only change inside a file that was ADDED or REMOVED in
    * `(fromV, toV]` — files carried by reference are bit-identical on
    * both sides, so the diff reads ONLY the rewritten file sets, never
    * the table. Carried-along neighbors inside a rewritten file (rows
    * copied unchanged) appear identical on both sides and are filtered
    * as no-ops by a null-safe full-row compare; a CDC day-batch against
    * a 100 TB table costs one full-outer join over that day's files.
    * Both sides read through `toV`'s declared schema so the row compare
    * is column-aligned across schema eras (a column added in the window
    * diffs as null → value, i.e. an update — exactly what a downstream
    * incremental consumer must reprocess).
    *
    * With `preImages = true`, each update emits TWO rows —
    * `update_preimage` (the old image) and `update_postimage` (the
    * new) — which is what makes the feed consumable for incremental
    * view maintenance: a self-maintainable aggregate (count/sum) folds
    * the feed as +post/+insert and −pre/−delete without ever rescanning
    * the table. */
  def changeFeed(spark: SparkSession, root: String, key: String,
      fromV: Long, toV: Long, preImages: Boolean = false): DataFrame = {
    require(fromV < toV, s"changeFeed needs fromV < toV, got $fromV ≥ $toV")
    val fl = vacuumFloor(spark, root)
    require(fromV >= fl,
      s"version $fromV predates the vacuum floor $fl: its files were " +
        "physically deleted; the change feed below the floor cannot answer")
    // two manifest folds, NOT one filtered read: each version must plan
    // from its own checkpoint choice (a checkpoint ≤ toV but > fromV
    // has already folded away removes inside the window — restricting
    // its rows to version ≤ fromV would silently drop them from the
    // before-set and the feed would miss those deletes). The symmetric
    // diff is a driver-side set difference over the two folds' live
    // sets — file-count-sized strings, the same order [[snapshot]]
    // already holds to plan ANY read of this table (and bounded by the
    // same PlannedFilesWarnAt compaction discipline); only the CHURN —
    // the rewritten file names — flows on into the data-side join.
    val toRows = manifestRows(spark, root, Some(toV))
    val beforeSet = liveAddRows(manifestRows(spark, root, Some(fromV)))
      .map(_.getString(2)).toSet
    val afterSet = liveAddRows(toRows).map(_.getString(2)).toSet
    val added = (afterSet -- beforeSet).toIndexedSeq.sorted
    val removed = (beforeSet -- afterSet).toIndexedSeq.sorted

    val declared = declaredOf(toRows)
    val reader = declared.map(spark.read.schema(_)).getOrElse(spark.read)
    // only planned when one side has no files; the common both-sides
    // case must not pay a full snapshot planning pass for it
    lazy val empty = declared match {
      case Some(sch) => spark.createDataFrame(
        new java.util.ArrayList[Row](), sch)
      case None => snapshot(spark, root, Some(toV)).limit(0)
    }
    val newSide =
      if (added.isEmpty) empty
      else reader.parquet(added.map(f => s"$root/$f"): _*)
    val oldSide =
      if (removed.isEmpty) empty
      else reader.parquet(removed.map(f => s"$root/$f"): _*)

    val cols = newSide.columns.toIndexedSeq
    val payload = cols.filterNot(_ == key)
    val o = oldSide.select(col(key).as("_ck"),
      struct(cols.map(col): _*).as("_old"))
    val n = newSide.select(col(key).as("_ck"),
      struct(cols.map(col): _*).as("_new"))
    def ev(t: String, img: Column): Column =
      struct(lit(t).as("t"), img.as("img"))
    val updateEvs =
      if (preImages) array(ev("update_preimage", col("_old")),
        ev("update_postimage", col("_new")))
      else array(ev("update", col("_new")))
    val keyedDiff = o.filter(col("_ck").isNotNull)
      .join(n.filter(col("_ck").isNotNull), Seq("_ck"), "full_outer")
      // no-ops: rows copied unchanged into a rewritten file. Null-safe
      // per-column compare (a struct <=> struct would also compare the
      // key twice; payload-only keeps it honest under key reuse)
      .filter(col("_old").isNull || col("_new").isNull ||
        !payload.map(c => col(s"_old.$c") <=> col(s"_new.$c"))
          .reduceOption(_ && _).getOrElse(lit(true)))
      // new image for insert/update (even where it is legitimately
      // null), the last-seen old image for delete
      .select(explode(
        when(col("_old").isNull, array(ev("insert", col("_new"))))
          .when(col("_new").isNull, array(ev("delete", col("_old"))))
          .otherwise(updateEvs)).as("_ev"))

    // NULL-key rows: merge() admits them as pure inserts and no key
    // match can ever update or delete one, so key identity is
    // meaningless here — the keyed join above would either fabricate a
    // delete+insert pair for every null-key row carried UNCHANGED
    // through a rewrite (plain equality: NULL never pairs with itself)
    // or, made null-safe, cross k null-key rows into k² pairs. Diff
    // them as a MULTISET over the full row image instead: per image,
    // the new-side excess emits inserts, the old-side excess emits
    // deletes, balance is a carried no-op; updates cannot exist without
    // identity. Grouping on the image struct is no new restriction —
    // the keyed no-op filter's `<=>` already excludes unorderable
    // (map-typed) payloads from this feed.
    val nullKeyDiff = o.filter(col("_ck").isNull)
      .select(col("_old").as("_img"), lit(-1L).as("_d"))
      .unionByName(n.filter(col("_ck").isNull)
        .select(col("_new").as("_img"), lit(1L).as("_d")))
      .groupBy(col("_img")).agg(sum(col("_d")).as("_net"))
      .filter(col("_net") =!= 0L)
      .select(explode(array_repeat(
        when(col("_net") > 0L, ev("insert", col("_img")))
          .otherwise(ev("delete", col("_img"))),
        abs(col("_net")).cast("int"))).as("_ev"))

    keyedDiff.unionByName(nullKeyDiff)
      .select(col("_ev.t").as("change_type") +:
        cols.map(c => col(s"_ev.img.$c").as(c)): _*)
  }

  /** OPTIMIZE: fold files smaller than `smallerThan` rows into
    * ~`targetRows`-row files in ONE commit (their union removed+added
    * atomically; state provably unchanged, time travel intact). The
    * antidote to trickle ingestion — a year of small CDC commits reads
    * as thousands of tiny files until compaction bins them; running
    * this periodically keeps scan parallelism matched to data size
    * instead of commit history. Returns the new version, or None if
    * fewer than two small files exist (nothing to gain). */
  def compactFiles(spark: SparkSession, root: String, key: String,
      smallerThan: Long = 1L << 20, targetRows: Long = 1L << 20): Option[Long] = {
    val basis = versions(spark, root).lastOption.getOrElse(0L)
    // one manifest fold for the small-file set AND the era schema
    val mRows = manifestRows(spark, root, Some(basis).filter(_ > 0L))
    val small = liveAddRows(mRows)
      .filter(r => !r.isNullAt(5) && r.getLong(5) < smallerThan)
      .map(r => (r.getString(2), r.getLong(5))).toIndexedSeq
    if (small.size < 2) return None
    val total = small.map(_._2).sum
    val nOut = math.max(1L, (total + targetRows - 1L) / targetRows).toInt
    // through the era-aligned reader: compaction may rebin files from
    // different schema eras, and a sampled-footer read would silently
    // drop an evolved column from the rewritten (now authoritative) file
    val declared = declaredOf(mRows)
    val reader = declared.map(spark.read.schema(_)).getOrElse(spark.read)
    val df = reader.parquet(small.map(f => s"$root/${f._1}"): _*)
    Some(commit(spark, root, df.repartition(nOut), key,
      removes = small.map(_._1), basis, declared))
  }

  /** OPTIMIZE … ZORDER BY (c1, c2): rewrite ALL live data files
    * re-clustered on the Morton interleave of the two columns (each
    * bucketed to 8 bits via `pmod(col, 256)` — the `prep_zorder_layout`
    * windowing convention), in ONE atomic commit: state provably
    * unchanged, time travel intact, the old files removed and the new
    * ones added together. Each output file holds a CONTIGUOUS z-range
    * (`repartitionByRange` over the z value + in-partition sort — the
    * sort is what lines parquet row-group stats up with the z order),
    * so a box predicate over (c1, c2) intersects the files whose
    * z-curve segment crosses the box — O(perimeter) files, not every
    * stripe of a single-column layout. The span-bound the
    * `prep_zorder_layout` audit proves for aligned z-prefix buckets is
    * the same geometry; this applies it to the lake table's physical
    * layout, the Delta `OPTIMIZE … ZORDER BY` shape. Per-file KEY
    * min/max stats are recomputed by the commit as always, so 1-D key
    * skipping keeps working on the rewritten files.
    *
    * Scale: one full-table read + one range-partitioned shuffle —
    * the cost OPTIMIZE always pays; run it at the cadence the read
    * pattern justifies. Range boundaries come from Spark's sampling,
    * so file CONTENTS are not bit-stable across runs (table STATE is)
    * — this is a layout operation, gated by MergeTableSpec's skipping
    * proof rather than a row-hash oracle. */
  def optimizeZorder(spark: SparkSession, root: String, key: String,
      c1: String, c2: String, nFiles: Int = 16): Long = {
    val basis = versions(spark, root).lastOption.getOrElse(0L)
    // one manifest fold for the live set AND the era schema
    val mRows = manifestRows(spark, root, Some(basis).filter(_ > 0L))
    val live = liveAddRows(mRows).map(_.getString(2)).toIndexedSeq
    require(live.nonEmpty, s"merge table at $root has no live files")
    val declared = declaredOf(mRows)
    val reader = declared.map(spark.read.schema(_)).getOrElse(spark.read)
    val df = reader.parquet(live.map(f => s"$root/$f"): _*)
    // z-order columns must exist and be integral: pmod over a float
    // column would silently bucket truncated values, and a missing
    // name would surface as an analyzer error deep in the commit.
    // Built with Column operations (not an interpolated SQL string),
    // so names needing backticks — spaces, dashes, reserved words —
    // work unmodified.
    // resolver-aware lookup: honor the session's case-sensitivity (the
    // SQL-string form this replaced resolved case-insensitively under
    // the default conf, so exact-match-only would reject callers that
    // used to work); downstream Column refs use the field's DECLARED
    // name so resolution cannot diverge from the validation
    val resolver = spark.sessionState.conf.resolver
    val Seq(r1, r2) = Seq(c1, c2).map { c =>
      val f = df.schema.fields.find(f => resolver(f.name, c)).getOrElse(
        throw new IllegalArgumentException(
          s"optimizeZorder: column '$c' not found in ${df.columns.mkString(", ")}"))
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(f.dataType),
        s"optimizeZorder: column '$c' must be integral for 8-bit Morton " +
          s"bucketing, got ${f.dataType.simpleString}")
      f.name
    }
    def bitOf(c: String, i: Int, weight: Long): Column =
      shiftright(pmod(col(c), lit(256)), i).bitwiseAND(lit(1L)) * lit(weight)
    val zExpr = (0 until 8).map(i =>
      bitOf(r1, i, 1L << (2 * i + 1)) + bitOf(r2, i, 1L << (2 * i))).reduce(_ + _)
    // the scratch column must not shadow (and then silently destroy) a
    // real table column of the same name — refuse loudly instead
    val zc = "__graft_zorder_tmp"
    require(!df.columns.contains(zc),
      s"optimizeZorder: table already has a column named $zc")
    val out = df.withColumn(zc, zExpr)
      .repartitionByRange(nFiles, col(zc))
      .sortWithinPartitions(col(zc))
      .drop(zc)
    commit(spark, root, out, key, removes = live, basis, declared)
  }

  /** Pure insert: add `df` as new files; no existing file is touched.
    * Appends commute, so a lost commit race (CME) is always safely
    * retryable by the caller — the retry re-reads the advanced basis.
    *
    * The schema gate is the SAME as merge's: a batch with unknown
    * columns is refused unless `evolveSchema = true` (a typo'd column
    * name must not silently widen the declared schema and null-fill the
    * real one), and an evolving batch must still carry every declared
    * column. NOTE: append does not check key uniqueness against the
    * table — appending an existing key creates a duplicate row. Tables
    * consumed through [[changeFeed]] (which diffs by key) must be
    * written via [[merge]], or append only known-fresh key ranges. */
  def append(spark: SparkSession, root: String, df: DataFrame,
      key: String, evolveSchema: Boolean = false): Long = {
    val basis = versions(spark, root).lastOption.getOrElse(0L)
    val declared =
      if (basis == 0L) None else declaredSchema(spark, root, Some(basis))
    declared.map(_.fieldNames.toSet).foreach { tableCols =>
      if (evolveSchema)
        require(tableCols.subsetOf(df.columns.toSet),
          s"evolving append batch must carry every table column; missing " +
            (tableCols -- df.columns.toSet).toSeq.sorted.mkString(","))
      else
        require(df.columns.toSet == tableCols,
          s"append batch columns ${df.columns.sorted.mkString(",")} != " +
            s"table columns ${tableCols.toSeq.sorted.mkString(",")}" +
            " (pass evolveSchema = true to add columns)")
    }
    val v = commit(spark, root, df, key, removes = Seq.empty, basis, declared)
    // same self-heal as [[merge]]: trickle ingestion is mostly appends,
    // so the planning bound must trigger here too
    maybeAutoCompact(spark, root, key, v)
    v
  }

  /** `MERGE INTO root USING updates ON root.key = updates.key
    *  WHEN MATCHED [AND deleteCol] THEN DELETE
    *  WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *`.
    * `updates` must be key-unique (checked; a batch with two rows per
    * key has no defined merge order) and schema-compatible with the
    * table. Matched rows are replaced whole; with `deleteCol` (a
    * boolean column on `updates`), flagged matches are dropped and
    * flagged non-matches are ignored — the CDC-apply shape.
    *
    * `evolveSchema = true` additionally allows the batch to carry NEW
    * columns (a strict superset of the table's): the declared schema
    * widens by exactly those columns, untouched files carry forward
    * by reference unmodified, and every read fills the new columns
    * with nulls for pre-evolution files — Delta's `mergeSchema`
    * semantics. Narrowing and retyping stay refused either way.
    *
    * CALLER CONTRACT for pre-persisted batches: merge reads the batch
    * three times and relies on one materialization; an unpersisted batch
    * is [[graft.ext.Pins.scoped]] for the call. A caller's MEMORY_ONLY
    * persist is only safe for DETERMINISTIC batches: evicted blocks
    * recompute, and a nondeterministic source (sample, order-dependent
    * dropDuplicates, a re-read of a mutating upstream) can then show
    * different keys to the file-skipping pass and the survivor
    * anti-join — the torn-merge hazard. Persist those with a
    * disk-backed level, or let merge pin them. */
  def merge(spark: SparkSession, root: String, updates0: DataFrame,
      key: String, deleteCol: Option[String] = None,
      evolveSchema: Boolean = false): Long = {
    val v = graft.ext.Pins.scoped(updates0)(
      mergePinned(spark, root, _, key, deleteCol, evolveSchema))
    // after the merge landed: a table past the planning bound folds
    // itself instead of only warning ([[maybeAutoCompact]]). The fold
    // is a separate version on purpose — time travel to `v` (this
    // merge's exact state) stays answerable.
    maybeAutoCompact(spark, root, key, v)
    v
  }

  private def mergePinned(spark: SparkSession, root: String,
      updates: DataFrame, key: String, deleteCol: Option[String],
      evolveSchema: Boolean): Long = {
    val inserts = deleteCol match {
      // SQL MERGE clause semantics: a NULL delete flag does not satisfy
      // `WHEN MATCHED AND deleted THEN DELETE`, so the row falls
      // through to the UPDATE clause. A bare `!col(c)` filter would
      // evaluate NULL and drop the row from the inserts while its key
      // still drives the survivor anti-join — silently DELETING a row
      // whose flag was never true.
      case Some(c) => updates.filter(!coalesce(col(c), lit(false))).drop(c)
      case None => updates
    }
    // Optimistic concurrency: the whole plan below (file skipping,
    // survivor anti-join, schema read) is derived from the snapshot at
    // `basis`, and the commit claims exactly version basis+1 — so the
    // commit rename doubles as conflict validation: ANY commit landing
    // after the basis makes the rename fail, and a stale plan can never
    // publish (the lost-update / double-carry write skew a
    // latest-version commit would silently allow).
    val basis = versions(spark, root).lastOption.getOrElse(0L)
    if (basis == 0L) {
      // initial commit: no manifest to probe against, so the key-
      // uniqueness gate runs as its own (one-job) check here; every
      // later merge gets it for free inside the file-skip probe below
      val dups = updates.filter(col(key).isNotNull)
        .groupBy(col(key)).agg(count(lit(1)).as("c"))
        .filter(col("c") > 1).limit(1).count()
      require(dups == 0L, s"merge batch is not unique on '$key'")
      return commit(spark, root, inserts, key, removes = Seq.empty, basis, None)
    }
    val asOfB = Some(basis)

    // ONE manifest fold serves everything this merge needs from the log
    // — declared schema, column gate, era-aligned reader, file-skip
    // stats, and the commit's widening. The fold is driver-side and
    // cache-backed ([[manifestRows]]): manifest rows are
    // file-count-sized (the same order snapshot() already collects, and
    // the same rows the broadcast below ships to every executor
    // anyway), and on the streaming-CDC hot path every batch's basis
    // was committed by this JVM one trigger earlier — so the fold is a
    // pure cache hit, no log job at all (guide §1.2: remove passes
    // before tuning inside them).
    val mRows = manifestRows(spark, root, asOfB)
    val declared = declaredOf(mRows)
    val tblReader = declared.map(spark.read.schema(_)).getOrElse(spark.read)
    val tableCols = declared.map(_.fieldNames.toSet)
      .getOrElse(snapshot(spark, root, asOfB).columns.toSet)
    if (evolveSchema)
      require(tableCols.subsetOf(inserts.columns.toSet),
        s"evolving merge batch must carry every table column; missing " +
          (tableCols -- inserts.columns.toSet).toSeq.sorted.mkString(","))
    else
      require(inserts.columns.toSet == tableCols,
        s"merge batch columns ${inserts.columns.sorted.mkString(",")} != " +
          s"table columns ${tableCols.toSeq.sorted.mkString(",")}" +
          " (pass evolveSchema = true to add columns)")

    // File skipping: a file can hold a matched key only if some update
    // key falls inside its [min_key, max_key] span, decoded from the
    // canonical stat serialization ([[statOf]]/[[statBack]] — a null or
    // undecodable stat is treated as overlapping, so pruning errs only
    // toward rewriting more, never toward missing a match). SQL MERGE
    // null semantics: a null update key matches nothing (pure insert).
    //
    // The live add-set folds from the already-collected manifest rows
    // through [[liveAddRows]] — the ONE live-set definition every
    // consumer shares — into a LocalRelation: the broadcast ships the
    // same bytes it always did, without a second log read. The probe
    // aggregates per-key counts FIRST, so the batch-uniqueness gate
    // rides the same job as the skipping join: max(c) > 1 is the dup
    // signal, collect_set(file) the touched set — one action where the
    // previous shape ran a dup-check job plus a skipping job per merge.
    val keyType = updates.schema(key).dataType
    val liveRows = new java.util.ArrayList[Row]()
    liveAddRows(mRows).foreach { r =>
      liveRows.add(Row(r.getString(2), r.getString(3), r.getString(4)))
    }
    val statsSchema = StructType(Seq(
      StructField("file", StringType, nullable = false),
      StructField("min_key", StringType, nullable = true),
      StructField("max_key", StringType, nullable = true)))
    val stats = spark.createDataFrame(liveRows, statsSchema)
      .select(col("file"),
        statBack(col("min_key"), keyType).as("mn"),
        statBack(col("max_key"), keyType).as("mx"))
    val probe = updates.filter(col(key).isNotNull)
      .groupBy(col(key)).agg(count(lit(1)).as("c"))
      .join(broadcast(stats),
        col("mn").isNull || col("mx").isNull ||
          col(key).between(col("mn"), col("mx")), "left")
      .agg(max(col("c")).as("maxc"), collect_set(col("file")).as("touched"))
      .head()
    require(probe.isNullAt(0) || probe.getLong(0) <= 1L,
      s"merge batch is not unique on '$key'")
    val touched = probe.getSeq[String](1).sorted.toIndexedSeq

    // touched files may span multiple schema eras themselves — the
    // era-aligned reader, not whichever footer is sampled
    val survivors =
      if (touched.isEmpty) inserts.limit(0)
      else tblReader.parquet(touched.map(f => s"$root/$f"): _*)
        .join(updates.select(col(key)), Seq(key), "left_anti")
    // allowMissingColumns: under evolution the survivors lack the new
    // columns (they fill with nulls), symmetric for declared columns an
    // exact-schema batch naturally has
    commit(spark, root,
      survivors.unionByName(inserts, allowMissingColumns = true), key,
      removes = touched, basis, declared)
  }

  /** The commit-point rename: succeeds iff `fin` did not exist, fails
    * (returns false) iff another writer already committed it. On HDFS
    * and object-store committers `FileSystem.rename` already has
    * exactly this contract (atomic, false on existing destination). On
    * the LOCAL filesystem it does NOT: when `java.io.File.renameTo`
    * fails on an existing non-empty destination, Hadoop's
    * `RawLocalFileSystem` falls back to `FileUtil.copy`, which NESTS
    * the source inside the existing directory and returns true — both
    * racers would believe they won and one batch would silently vanish.
    * Local paths therefore go through `java.nio.file.Files.move` with
    * `ATOMIC_MOVE` (POSIX rename(2): atomic, ENOTEMPTY on a committed
    * destination — a committed manifest dir is never empty). */
  private def commitRename(fs: FileSystem, tmp: Path, fin: Path): Boolean =
    fs match {
      case _: org.apache.hadoop.fs.LocalFileSystem |
           _: org.apache.hadoop.fs.RawLocalFileSystem =>
        try {
          java.nio.file.Files.move(
            java.nio.file.Paths.get(tmp.toUri.getPath),
            java.nio.file.Paths.get(fin.toUri.getPath),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          true
        } catch {
          // Only destination-already-exists is a lost race (POSIX
          // rename(2): EEXIST/ENOTEMPTY — a committed manifest dir is
          // never empty). Anything else (AccessDenied,
          // AtomicMoveNotSupported, I/O) is an environmental failure:
          // reporting it as "another writer committed" would delete the
          // staged batch and send the caller into a retry loop against
          // a state that never changes. The JDK's unix move maps
          // ENOTEMPTY to a RAW FileSystemException (not the
          // DirectoryNotEmptyException subclass), so the two cases are
          // told apart by probing the destination: a loser's
          // destination EXISTS (the winner's manifest), a genuine
          // failure's does not.
          case e: java.nio.file.FileSystemException =>
            if (fs.exists(fin)) false else throw e
        }
      case _ =>
        // Not safe to use plain FileSystem.rename here either: renaming
        // onto an existing DIRECTORY is POSIX mv on HDFS too — the
        // source moves INSIDE the committed manifest dir and rename
        // returns true, so both racers would report success. The atomic
        // refuse-if-exists primitive is FileContext.rename with
        // Rename.NONE (one NameNode op on HDFS; the documented
        // HDFS-log-store recipe), surfacing an existing destination as
        // FileAlreadyExistsException.
        try {
          val q = (p: Path) =>
            p.makeQualified(fs.getUri, fs.getWorkingDirectory)
          val fc = org.apache.hadoop.fs.FileContext
            .getFileContext(q(fin).toUri, fs.getConf)
          fc.rename(q(tmp), q(fin), org.apache.hadoop.fs.Options.Rename.NONE)
          true
        } catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
          case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
            // no AbstractFileSystem binding (exotic object-store shim):
            // degrade to check-then-rename — still correct whenever the
            // store's rename refuses an existing destination
            !fs.exists(fin) && fs.rename(tmp, fin)
        }
    }

  /** Write `df` as the next version's data files and commit a manifest
    * adding them and removing `removes`. The commit point is the single
    * manifest rename at the end. Every commit also records the table's
    * declared schema (the prior declaration widened by `df`'s columns —
    * see [[widened]]) as a `schema` action row, so reads never have to
    * derive the schema from data-file footers.
    *
    * Staging is WRITER-PRIVATE: the data dir and the staged manifest
    * both carry a per-commit nonce, so two writers racing the same
    * version number never touch each other's files — the loser's
    * cleanup deletes only its own staging, and the winner's committed
    * data can never be clobbered by a straggler. A crashed writer's
    * orphaned staging dir is unreferenced by any manifest and is swept
    * by [[vacuum]]'s reachability rule.
    *
    * `basis` is the table version the caller's plan was derived from;
    * the commit claims exactly `basis + 1`. Because version names are
    * dense and the rename refuses an existing destination, the rename
    * atomically validates that NO other commit landed after the basis —
    * optimistic concurrency control with the arbitration and the
    * validation as one filesystem operation.
    *
    * `declaredAtBasis` is the caller's already-read declared schema as
    * of the basis (None for a fresh table) — threaded through so the
    * hot CDC path reads the manifest once per merge, not three times. */
  private def commit(spark: SparkSession, root: String, df: DataFrame,
      key: String, removes: Seq[String], basis: Long,
      declaredAtBasis: Option[StructType]): Long = {
    val fs = fsOf(spark, root)
    val declared = widened(declaredAtBasis, df.schema)
    val version = basis + 1L
    val nonce = java.util.UUID.randomUUID.toString.take(8)
    val dataRel = s"$DataDir/${fmtData(version)}-$nonce"
    val dataPath = new Path(root, dataRel)
    df.write.parquet(dataPath.toString)

    // per-file key stats. The parquet FOOTERS of the just-written files
    // already carry min/max/row-count per row group, so for every
    // footer-safe key type the stats fold DRIVER-side from file-count-
    // sized metadata — no Spark job, no data re-scan (guide §1.2:
    // remove passes; this was one scan job + scheduling gap per commit,
    // paid by every merge batch of the streaming-CDC hot path and every
    // lake op). Types whose footer stats don't round-trip the canonical
    // [[statOf]] encoding (timestamps: INT96/NTZ encodings; decimals:
    // unscaled bytes) keep the original Spark aggregation over
    // `_metadata.file_name` — same rows either way, proven by
    // MergeTableSpec's stat-exactness gates across key types.
    val kt = df.schema(key).dataType
    val adds = footerAddStats(spark, dataPath, key, kt).getOrElse {
      spark.read.parquet(dataPath.toString)
        .groupBy(col("_metadata.file_name").as("fn"))
        .agg(statOf(min(col(key)), kt).as("min_key"),
          statOf(max(col(key)), kt).as("max_key"),
          count(lit(1)).as("n_rows"))
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toSeq
    }.map { case (fn, mn, mx, n) =>
      Row(version, "add", s"$dataRel/$fn", mn, mx, n)
    }.toArray
    val rems = removes.map(f => Row(version, "remove", f, null, null, null))
    // the schema action rides in the `file` column (it is metadata, not
    // a path; every manifest consumer filters on `op` first)
    val schemaRow = Row(version, "schema", declared.json, null, null, null)
    val rows = new java.util.ArrayList[Row]()
    (adds ++ rems :+ schemaRow).foreach(rows.add)

    val tmp = new Path(root, s"$LogDir/.tmp-${fmtLog(version)}-$nonce")
    val fin = new Path(root, s"$LogDir/${fmtLog(version)}")
    spark.createDataFrame(rows, manifestSchema).coalesce(1)
      .write.parquet(tmp.toString)
    if (!commitRename(fs, tmp, fin)) {
      // writer-private staging: both deletes touch only this commit's
      // nonce-suffixed paths, never the winner's
      fs.delete(tmp, true)
      fs.delete(dataPath, true)
      throw new java.util.ConcurrentModificationException(
        s"lost the commit race for version $version of $root: " +
          s"manifest ${fin.getName} was committed by another writer " +
          s"after this plan's basis version $basis; " +
          "re-read the table and retry against its new state")
    }
    noteCommit(root, basis, version, adds.length, removes.size)
    // the writer KNOWS this segment's rows — seed the manifest-row
    // cache so the table's own next read/merge never re-reads the log
    // it just published (the mtime label comes from the committed dir)
    putSeg(root, LogDir, version, fs.getFileStatus(fin).getModificationTime,
      (adds ++ rems :+ schemaRow).toArray)
    version
  }

  /** Fold the log into a checkpoint at the latest version: the live
    * add-set (original add versions and stats preserved) written to
    * `_checkpoint/v<latest>` with the same stage-then-rename commit as
    * manifests. Pure read optimization — readers at or above the
    * checkpoint plan from it plus the manifest tail; nothing is
    * destroyed, and time travel below it keeps working until a vacuum
    * whose floor passes the checkpoint deletes the folded manifests.
    * At 100 TB this is what keeps planning O(recent commits) instead of
    * O(every commit since table birth). */
  def checkpoint(spark: SparkSession, root: String): Long = {
    val fs = fsOf(spark, root)
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"nothing to checkpoint at $root")
    val c = vs.last
    // the SAME [[liveAddRows]] fold every reader plans from (original
    // add versions and stats preserved), plus the latest schema action
    // — once vacuum deletes the pre-checkpoint manifests, that row is
    // the only carrier of the declared schema for reads planning from C
    val mRows = manifestRows(spark, root, Some(c))
    val folded = liveAddRows(mRows) ++
      mRows.view.filter(_.getString(1) == "schema")
        .maxByOption(_.getLong(0)).toSeq
    val nonce = java.util.UUID.randomUUID.toString.take(8)
    val tmp = new Path(root, s"$CheckpointDir/.tmp-${fmtLog(c)}-$nonce")
    val fin = new Path(root, s"$CheckpointDir/${fmtLog(c)}")
    if (fs.exists(fin)) return c // already checkpointed at c — idempotent
    val rows = new java.util.ArrayList[Row]()
    folded.foreach(rows.add)
    spark.createDataFrame(rows, manifestSchema)
      .coalesce(1).write.parquet(tmp.toString)
    if (!commitRename(fs, tmp, fin)) {
      fs.delete(tmp, true)
      // two checkpoints of the same version fold the same live set —
      // losing this race IS success, as long as the winner's is there
      if (!fs.exists(fin))
        throw new java.util.ConcurrentModificationException(
          s"checkpoint $c of $root could not be committed")
    } else {
      putSeg(root, CheckpointDir, c,
        fs.getFileStatus(fin).getModificationTime, folded.toArray)
    }
    c
  }

  /** (root → (floor-dir mtime, floor)): the floor gate runs on EVERY
    * versioned read ([[requireAboveFloor]]), and before this cache each
    * call on a floored table was a small parquet job. The floor dir is
    * only ever replaced wholesale ([[StoreOps.replaceWith]]'s staged
    * swap, or the first-floor publish below) — both give the dir a
    * fresh mtime, the same write-once identity [[logRowsCache]] keys
    * on. Unfloored tables (the common case) never reach the cache: the
    * exists() probe answers first. */
  private val floorCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()

  /** Versions below this are unanswerable (their files were vacuumed). */
  def vacuumFloor(spark: SparkSession, root: String): Long = {
    val p = s"$root/$FloorDir"
    StoreOps.recoverInterrupted(spark, root + "/" + FloorDir,
      StoreOps.ReadHealGraceMs)
    val fs = fsOf(spark, root)
    if (!fs.exists(new Path(p))) return 0L
    val mtime = fs.getFileStatus(new Path(p)).getModificationTime
    val cached = floorCache.get(root)
    if (cached != null && cached._1 == mtime) return cached._2
    val r = spark.read.parquet(p).agg(max(col("floor"))).head()
    val floor = if (r.isNullAt(0)) 0L else r.getLong(0)
    floorCache.put(root, (mtime, floor))
    floor
  }

  /** Grace window for NEVER-REFERENCED on-disk objects (a nonce data
    * dir or `.tmp` manifest no committed manifest mentions): younger
    * than this, it is indistinguishable from an IN-FLIGHT writer's
    * staging — deleting it would tear the commit that is about to
    * reference it — so vacuum skips it; older, it is a crashed or
    * defeated writer's leftover and is swept. Objects a manifest DOES
    * reference need no grace: their lifetime is decided by the floor,
    * not by age.
    *
    * The age test is per-FILE modification time, so the window must
    * exceed the WHOLE data-write phase of the slowest plausible commit:
    * a multi-hour merge's earliest-written staging files are exactly as
    * old as the write phase is long when the manifest rename finally
    * lands. Delta-style systems default the equivalent retention to
    * days for this reason; 24 h is the floor here. Callers who need a
    * shorter window (tests, aggressive space reclaim) must guarantee no
    * writer's write phase can exceed the `graceMs` they pass — vacuum
    * cannot tell a slow in-flight commit from a crashed one. */
  val DefaultVacuumGraceMs: Long = 24 * 60 * 60 * 1000L

  /** Physically delete what no version ≥ the new floor can reference.
    * Records `horizon` as the time-travel floor FIRST — if the floor
    * write lands and the deletes crash, reads are conservatively
    * refused; the reverse order could read half-deleted versions.
    *
    * Deletion is REACHABILITY-based: a data file added at `a` and
    * removed at `r` is live for versions [a, r), so it is reachable iff
    * it was never removed or `r` > the new floor. Garbage splits into
    * two classes with different safety rules: MANIFEST-REFERENCED files
    * below the floor (rewritten data, folded manifests/checkpoints) are
    * deleted immediately — the floor write already refused every read
    * that could want them; NEVER-REFERENCED objects (staging dirs, tmp
    * manifests) are deleted only past [[DefaultVacuumGraceMs]], because
    * a young unreferenced object may be an in-flight commit's staging
    * whose manifest rename has not landed yet — sweeping it would
    * publish a manifest pointing at deleted files. */
  def vacuum(spark: SparkSession, root: String, horizon: Long,
      graceMs: Long = DefaultVacuumGraceMs): Long = {
    val fs = fsOf(spark, root)
    import spark.implicits._
    // The floor is monotone (max with the prior) and there is no API to
    // lower it — one absurd horizon would permanently destroy all time
    // travel and CDC. Guard against the classic confusion with Delta's
    // retention-TIME argument (a millis timestamp is ~1.7e12, never a
    // valid version of this table).
    val latest = versions(spark, root).lastOption.getOrElse(0L)
    require(horizon <= latest,
      s"vacuum horizon $horizon exceeds the latest version $latest of " +
        s"$root — the horizon is a VERSION, not a timestamp; refusing " +
        "to set an unanswerable floor that no call could ever lower")
    val prior = vacuumFloor(spark, root)
    val floor = math.max(prior, horizon)
    val floorPath = s"$root/$FloorDir"
    if (fs.exists(new Path(floorPath)))
      StoreOps.replaceWith(spark, floorPath, Seq(floor).toDF("floor"))
    else {
      // first floor: no prior copy to stage aside, but an in-place
      // write is NOT crash-safe — a kill mid-write leaves a torn
      // `_floor` dir (exists, holds no parquet) that vacuumFloor can
      // neither read nor distinguish from a real floor, bricking every
      // read AND write path of the table. Stage, then publish with the
      // one atomic rename every other mutation here uses. Overwrite
      // mode absorbs a crashed predecessor's own staging leftover.
      val staged = new Path(floorPath + "_staged")
      Seq(floor).toDF("floor").write
        .mode(SaveMode.Overwrite).parquet(staged.toString)
      // publish through the same atomic refuse-if-exists primitive as
      // every manifest commit: a plain fs.rename on RawLocalFileSystem
      // would NEST the staged dir inside a destination that appeared
      // between check and rename (a racing publisher) and report
      // success — the exact hazard commitRename exists to close.
      if (!commitRename(fs, staged, new Path(floorPath))) {
        fs.delete(staged, true)
        // vacuum is a single-writer maintenance op (like replaceWith);
        // losing the publish race is a contract violation, but the
        // winner's floor is in place — verify and proceed loudly
        require(fs.exists(new Path(floorPath)),
          s"could not publish the first vacuum floor at $floorPath")
      }
    }

    // The reachability view must NOT be the checkpointed read view: a
    // checkpoint holds only the live add-set, so files removed at ≤ C
    // would vanish from it while still answerable for asOf ∈ [floor, C)
    // through the raw manifests. Union every manifest still on disk
    // with the latest checkpoint (whose adds cover files whose own add
    // manifest a prior vacuum already folded away); duplicate rows are
    // harmless under the set algebra below (driver-side over the same
    // cache-backed segments every other consumer folds — the former
    // shape paid one parquet job for the reachability join and another
    // for the referenced set).
    val raw: Seq[Row] = {
      val logRows = listLog(fs, root, LogDir).flatMap { case (v, mt) =>
        segRows(spark, root, LogDir, v, mt) }
      val ckRows = listLog(fs, root, CheckpointDir).lastOption.toSeq
        .flatMap { case (c, mt) => segRows(spark, root, CheckpointDir, c, mt) }
      logRows ++ ckRows
    }
    // a file added at `a` and removed at `r` is live for [a, r): it is
    // reachable iff it was never removed or SOME remove of it is above
    // the new floor (multiple removes can exist across re-adds)
    val removesByFile = raw.filter(_.getString(1) == "remove")
      .groupBy(_.getString(2)).map { case (f, rs) =>
        f -> rs.map(_.getLong(0)) }
    val referenced = raw.filter(_.getString(1) == "add")
      .map(_.getString(2)).toSet
    val reachable = referenced.filter(f => removesByFile.get(f) match {
      case None => true
      case Some(rvs) => rvs.exists(_ > floor)
    })
    val cutoff = System.currentTimeMillis() - graceMs

    var n = 0L
    val dataRoot = new Path(root, DataDir)
    if (fs.exists(dataRoot)) fs.listStatus(dataRoot).foreach { vdir =>
      fs.listStatus(vdir.getPath).foreach { st =>
        val rel = s"$DataDir/${vdir.getPath.getName}/${st.getPath.getName}"
        val sweepable = referenced.contains(rel) ||
          st.getModificationTime < cutoff
        if (!reachable.contains(rel) && sweepable) {
          fs.delete(st.getPath, true); n += 1
        }
      }
      if (fs.listStatus(vdir.getPath).isEmpty) fs.delete(vdir.getPath, true)
    }
    Seq(LogDir, CheckpointDir).foreach { d =>
      val r = new Path(root, d)
      if (fs.exists(r)) fs.listStatus(r).foreach { st =>
        if (st.getPath.getName.startsWith(".tmp-") &&
            st.getModificationTime < cutoff) {
          fs.delete(st.getPath, true); n += 1
        }
      }
    }
    // manifests strictly below a floor-covered checkpoint answer no
    // remaining read (asOf < floor is refused; asOf ≥ C plans from the
    // checkpoint + tail) — fold them away, keeping C's own manifest
    checkpointVersions(spark, root).filter(_ <= floor).lastOption.foreach { c =>
      versions(spark, root).filter(_ < c).foreach { v =>
        if (fs.delete(new Path(root, s"$LogDir/${fmtLog(v)}"), true)) n += 1
      }
      checkpointVersions(spark, root).filter(_ < c).foreach { cv =>
        if (fs.delete(new Path(root, s"$CheckpointDir/${fmtLog(cv)}"), true))
          n += 1
      }
    }
    n
  }
}
