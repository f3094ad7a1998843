package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

class MergeTableSpec extends SparkSpec {
  import spark.implicits._

  private def tmpRoot(): String =
    java.nio.file.Files.createTempDirectory("graft-mt").resolve("t").toString

  private def rowsOf(df: DataFrame): Set[(Long, String)] =
    df.select(col("k"), col("v")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

  test("trickle maintenance gate: compaction cadence bounds live files, periodic vacuum bounds disk") {
    // The production lifecycle of a long-lived trickle-ingested table,
    // run 40 commits deep: compact every 8, vacuum (retain the last 4
    // versions) every 16. Two bounds must hold INDEPENDENTLY of commit
    // count — live files (scan parallelism stays matched to data size,
    // not commit history) and total on-disk data files (compaction
    // turns live files into garbage; without periodic vacuum the disk
    // grows forever even though every scan is fast). Work-bound gate,
    // never wall-clock (PLANS.md container-epoch variance).
    val root = tmpRoot()
    def dataFilesOnDisk(): Long = {
      val dir = java.nio.file.Paths.get(root, "data")
      if (!java.nio.file.Files.exists(dir)) 0L
      else scala.util.Using.resource(java.nio.file.Files.walk(dir)) {
        _.filter(_.toString.endsWith(".parquet")).count()
      }
    }
    (0 until 40).foreach { i =>
      // disjoint ascending stripes: pure-insert commits, 1 file each
      MergeTable.append(spark, root,
        Seq.tabulate(50)(j => (i * 50L + j, s"v$i")).toDF("k", "v")
          .repartition(1), "k")
      if ((i + 1) % 8 == 0) MergeTable.compactFiles(spark, root, "k")
      if ((i + 1) % 16 == 0) {
        val latest = MergeTable.versions(spark, root).last
        MergeTable.vacuum(spark, root, latest - 4)
        // retained window: time travel ≥ the floor still answers
        assert(MergeTable.snapshot(spark, root, Some(latest - 4)).count() >= 0L)
      }
      // live-file bound: ≤ cadence uncompacted commits + 1 folded file,
      // at EVERY point of the table's life
      val live = MergeTable.liveFiles(spark, root).count()
      assert(live <= 9L, s"live files $live exceed the cadence bound at commit $i")
    }
    // state: every inserted row survived 5 compactions and 2 vacuums
    assert(MergeTable.snapshot(spark, root).count() === 40L * 50)
    // disk bound: garbage is limited to what accumulated since the last
    // vacuum window, not the 45-commit history (40 inserts + 5 folds
    // wrote ≥45 data files; a history-proportional disk would hold most
    // of them). Since the last vacuum at commit 32: ≤8 insert files +
    // 1 fold + ~9 files the retained 4-version window may reference +
    // the fold's own rewrite garbage — comfortably under half history.
    val disk = dataFilesOnDisk()
    assert(disk <= 22L, s"on-disk data files $disk not bounded by the vacuum cadence")
  }

  test("Main.maintain: fold + declared-retention vacuum, one JSON verdict line") {
    val root = tmpRoot()
    (0 until 4).foreach { i =>
      MergeTable.append(spark, root,
        Seq.tabulate(10)(j => (i * 10L + j, s"v$i")).toDF("k", "v")
          .repartition(1), "k")
      ()
    }
    // no retention: fold only, nothing deleted, floor untouched
    val out1 = graft.Main.maintain(spark, root, "k", retain = None)
    assert(out1.contains("\"compacted\":true") &&
      out1.contains("\"live_files\":1") &&
      out1.contains("\"needs_compaction\":false") &&
      out1.contains("\"files_deleted\":0") &&
      out1.contains("\"floor\":0"), out1)
    assert(MergeTable.snapshot(spark, root).count() == 40L)
    // retention 0 (only the latest version answerable): the 4 insert
    // files the fold replaced become unreachable and are physically
    // deleted; the floor lands at the post-fold latest; state untouched.
    // (retain = 1 would delete NOTHING — the pre-fold files are still
    // answerable at latest - 1; the retention is a promise, not a hint.)
    val out2 = graft.Main.maintain(spark, root, "k", retain = Some(0L))
    val latest = MergeTable.versions(spark, root).last
    assert(out2.contains(s""""floor":$latest"""), out2)
    assert(!out2.contains("\"files_deleted\":0"), out2)
    assert(MergeTable.snapshot(spark, root).count() == 40L)
    intercept[IllegalArgumentException] {
      MergeTable.snapshot(spark, root, Some(latest - 1))
    }
    ()
  }

  test("concurrent merges of one path-backed batch pin apart, and no pin outlives its merge") {
    val base = java.nio.file.Files.createTempDirectory("graft-mt-pins").toString
    val staging = s"$base/staging"
    (0L until 3000L).map(k => (k, s"u$k")).toDF("k", "v").repartition(4)
      .write.parquet(staging)
    def read = spark.read.parquet(staging)
    // every other key matches a table row, the rest insert
    val seed = (0L until 6000L by 2).map(k => (k, s"v$k")).toDF("k", "v")
    val wh = graft.plans.GraftCatalog.ensure(spark,
      java.nio.file.Files.createTempDirectory("graft-mt-wh").toString)
    val (alone, a, b, c) = (s"$base/alone", s"$base/a", s"$base/b", s"$wh/pins/c")
    Seq(alone, a, b, c).foreach(MergeTable.append(spark, _, seed, "k"))
    def state(root: String): Map[Row, Int] = MergeTable.snapshot(spark, root)
      .collect().groupBy(identity).map { case (r, rs) => r -> rs.length }
    MergeTable.merge(spark, alone, read, "k")

    val before = pins
    val running = Future.sequence(Seq(
      Future(MergeTable.merge(spark, a, read, "k")),
      Future(MergeTable.merge(spark, b, read, "k")),
      Future(spark.sql(
        s"""MERGE INTO graft.pins.c AS t USING parquet.`$staging` AS s ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin).head().getLong(0))))
    // while they run, no other plan over the staging path matches a pin
    val seen = Iterator.continually { val l = read.storageLevel; Thread.sleep(20); l }
      .takeWhile(_ => !running.isCompleted).toSet
    Await.result(running, 3.minutes)
    assert(seen == Set(StorageLevel.NONE))
    Seq(a, b, c).foreach(r => assert(state(r) == state(alone), r))
    assertNoNewPins(before)
  }

  test("merge = update matched, insert unmatched, delete flagged") {
    val root = tmpRoot()
    MergeTable.append(spark,
      root, Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), "k")
    MergeTable.merge(spark, root,
      Seq((2L, "B", false), (4L, "d", false), (3L, "x", true),
        (9L, "ghost", true)).toDF("k", "v", "deleted"),
      "k", deleteCol = Some("deleted"))
    // 2 updated, 4 inserted, 3 deleted, 9 (deleted non-match) ignored
    assert(rowsOf(MergeTable.snapshot(spark, root)) ==
      Set((1L, "a"), (2L, "B"), (4L, "d")))
  }

  test("replaying a batch is exactly-once for keyed rows, at-least-once for null-key rows") {
    // SQL MERGE on a nullable key: ON t.k = s.k never matches a NULL,
    // so every replay re-INSERTS the null-key rows while matched keys
    // replace with the same values. Pinning the bound keeps the
    // crash-replay claim honest — exactly-once is a KEYED-row
    // guarantee, inherent to MERGE semantics, not an implementation
    // choice to paper over.
    val root = tmpRoot()
    val batch = Seq((Some(1L), "a"), (Some(2L), "b"), (None, "n"))
      .toDF("k", "v")
    MergeTable.merge(spark, root, batch, "k")
    MergeTable.merge(spark, root, batch, "k") // the re-delivered batch
    val snap = MergeTable.snapshot(spark, root)
    assert(snap.filter(col("k").isNotNull).count() == 2) // idempotent
    assert(snap.filter(col("k").isNull).count() == 2)    // at-least-once
  }

  test("a NULL delete flag means UPDATE, never a silent delete") {
    val root = tmpRoot()
    MergeTable.append(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "k")
    // SQL MERGE: `WHEN MATCHED AND deleted THEN DELETE` is not
    // satisfied by NULL → the row falls through to UPDATE
    val batch = Seq((1L, "A", Option.empty[Boolean]),
      (2L, "B", Some(true))).toDF("k", "v", "deleted")
    MergeTable.merge(spark, root, batch, "k", deleteCol = Some("deleted"))
    assert(rowsOf(MergeTable.snapshot(spark, root)) == Set((1L, "A")))
  }

  test("append enforces the same schema gate as merge") {
    val root = tmpRoot()
    MergeTable.append(spark, root, Seq((1L, "a")).toDF("k", "v"), "k")
    // a typo'd column must not silently widen the declared schema and
    // null-fill the real one
    val e = intercept[IllegalArgumentException] {
      MergeTable.append(spark, root, Seq((2L, "b")).toDF("k", "vv"), "k")
    }
    assert(e.getMessage.contains("evolveSchema"))
    // explicit evolution works and still requires the declared columns
    MergeTable.append(spark, root,
      Seq((2L, "b", 7L)).toDF("k", "v", "score"), "k", evolveSchema = true)
    val snap = MergeTable.snapshot(spark, root)
    assert(snap.columns.toSeq == Seq("k", "v", "score"))
    assert(snap.filter(col("k") === 1L).head().isNullAt(2))
    val e2 = intercept[IllegalArgumentException] {
      MergeTable.append(spark, root,
        Seq((3L, 9L)).toDF("k", "score"), "k", evolveSchema = true)
    }
    assert(e2.getMessage.contains("every table column"))
  }

  test("vacuum refuses a horizon beyond the latest version") {
    val root = tmpRoot()
    MergeTable.append(spark, root, Seq((1L, "a")).toDF("k", "v"), "k")
    val e = intercept[IllegalArgumentException] {
      MergeTable.vacuum(spark, root, horizon = System.currentTimeMillis())
    }
    assert(e.getMessage.contains("not a timestamp"))
    // the floor was NOT moved: reads still work
    assert(rowsOf(MergeTable.snapshot(spark, root)) == Set((1L, "a")))
  }

  test("footer-folded commit stats match a row-scan recompute (long, string, double keys)") {
    // the commit's per-file min/max/n_rows now fold driver-side from
    // parquet footers for footer-safe key types; pin them against an
    // independent row-scan of the same files so the fold can never
    // drift from what the data actually holds (multi-file commits:
    // repartition forces several part files per version)
    def check[T](root: String, df: DataFrame, key: String): Unit = {
      MergeTable.append(spark, root, df.repartition(3), key)
      val live = MergeTable.liveFiles(spark, root)
        .select(col("file"), col("min_key"), col("max_key"), col("n_rows"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3)))
      assert(live.length >= 2, s"want a multi-file commit, got ${live.length}")
      live.foreach { case (f, mn, mx, n) =>
        val rows = spark.read.parquet(s"$root/$f")
        val re = rows.agg(
          min(col(key)).cast("string"), max(col(key)).cast("string"),
          count(lit(1))).head()
        assert(mn == re.getString(0) && mx == re.getString(1),
          s"$f: footer stats ($mn, $mx) != scan (${re.getString(0)}, ${re.getString(1)})")
        assert(n == re.getLong(2), s"$f: footer n_rows $n != scan ${re.getLong(2)}")
      }
    }
    check(tmpRoot(), (1L to 100L).map(i => (i * 7 % 101, s"r$i")).toDF("k", "v"), "k")
    check(tmpRoot(), (1L to 100L).map(i => (f"s${i * 37 % 101}%03d", i)).toDF("k", "v"), "k")
    check(tmpRoot(), (1L to 100L).map(i => (i * 0.37 - 5.0, s"r$i")).toDF("k", "v"), "k")
  }

  test("timestamp keys: stats are timezone-free micros, pruning stays exact") {
    val root = tmpRoot()
    val ts = (s: Long) => new java.sql.Timestamp(s * 1000L)
    MergeTable.append(spark, root,
      (0L until 100L).map(i => (ts(i), s"r$i")).toDF("k", "v"), "k")
    // the manifest stat must be a bare integer (epoch micros), not a
    // session-zone-rendered timestamp string
    val stat = MergeTable.liveFiles(spark, root)
      .select(col("min_key")).head().getString(0)
    assert(stat.matches("-?\\d+"), s"timestamp stat not canonical: $stat")
    MergeTable.merge(spark, root,
      Seq((ts(50L), "UPD")).toDF("k", "v"), "k")
    val got = MergeTable.snapshot(spark, root)
      .filter(col("k") === ts(50L)).select(col("v")).collect().map(_.getString(0))
    assert(got.toSeq == Seq("UPD"), "matched key must be replaced, not duplicated")
    assert(MergeTable.snapshot(spark, root).count() == 100L)
  }

  test("binary keys: pruning disabled (null stats), merge still exact") {
    val root = tmpRoot()
    val b = (i: Int) => Array.fill(3)(i.toByte)
    MergeTable.append(spark, root,
      (0 until 20).map(i => (b(i), s"r$i")).toDF("k", "v"), "k")
    assert(MergeTable.liveFiles(spark, root)
      .filter(col("min_key").isNotNull).count() == 0L)
    MergeTable.merge(spark, root, Seq((b(7), "UPD")).toDF("k", "v"), "k")
    val vals = MergeTable.snapshot(spark, root)
      .filter(col("k") === lit(b(7))).select(col("v"))
      .collect().map(_.getString(0))
    assert(vals.toSeq == Seq("UPD"))
    assert(MergeTable.snapshot(spark, root).count() == 20L)
  }

  test("float range reads compare in the float lattice, not a widened double") {
    val root = tmpRoot()
    MergeTable.append(spark, root,
      Seq((0.1f, "a"), (0.5f, "b")).toDF("k", "v"), "k")
    // 0.1f widened to double is ABOVE the stat "0.1" parsed as double —
    // a double-lattice compare would exclude the file holding the match
    val got = MergeTable.snapshotRange(spark, root, 0.1f, 0.1f)
      .filter(col("k") === lit(0.1f)).select(col("v"))
      .collect().map(_.getString(0))
    assert(got.toSeq == Seq("a"))
  }

  test("merge ≡ the Upsert.merge relational reference on real orders") {
    val root = tmpRoot()
    val base = graft.Tables.orders(spark, Sf)
      .select(col("o_orderkey"), col("o_orderstatus"))
    val upd = base.filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_orderstatus", lit("U"))
    MergeTable.append(spark, root, base, "o_orderkey")
    MergeTable.merge(spark, root, upd, "o_orderkey")
    val expected = base.join(upd.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
      .unionByName(upd)
    assert(MergeTable.snapshot(spark, root).except(expected).isEmpty
      && expected.except(MergeTable.snapshot(spark, root)).isEmpty)
  }

  test("file skipping: a merge outside a file's key span carries it by reference") {
    val root = tmpRoot()
    // two appends → two disjoint key-span file sets
    MergeTable.append(spark,
      root, (0L until 100L).map(i => (i, "lo")).toDF("k", "v"), "k")
    MergeTable.append(spark,
      root, (100L until 200L).map(i => (i, "hi")).toDF("k", "v"), "k")
    val before = MergeTable.liveFiles(spark, root)
      .select("file").as[String].collect().toSet
    val loFiles = MergeTable.liveFiles(spark, root)
      .filter(col("max_key").cast("long") < 100L)
      .select("file").as[String].collect().toSet
    assert(loFiles.nonEmpty && loFiles != before)

    MergeTable.merge(spark, root,
      Seq((150L, "HI")).toDF("k", "v"), "k")
    val after = MergeTable.liveFiles(spark, root)
      .select("file").as[String].collect().toSet
    // every lo-span file survives UNTOUCHED (same physical path);
    // at least one hi-span file was rewritten
    assert(loFiles.subsetOf(after))
    assert((before -- after).nonEmpty)
    assert((before -- after).forall(!loFiles.contains(_)))
    assert(rowsOf(MergeTable.snapshot(spark, root))
      .contains((150L, "HI")))
  }

  test("time travel returns each version's exact state; floor fails loudly after vacuum") {
    val root = tmpRoot()
    val v1 = MergeTable.append(spark, root, Seq((1L, "a")).toDF("k", "v"), "k")
    val v2 = MergeTable.merge(spark, root, Seq((1L, "b")).toDF("k", "v"), "k")
    assert(rowsOf(MergeTable.snapshot(spark, root, Some(v1))) == Set((1L, "a")))
    assert(rowsOf(MergeTable.snapshot(spark, root, Some(v2))) == Set((1L, "b")))

    val n = MergeTable.vacuum(spark, root, horizon = v2)
    assert(n >= 1L) // v1's rewritten file is physically gone
    assert(rowsOf(MergeTable.snapshot(spark, root)) == Set((1L, "b")))
    val e = intercept[IllegalArgumentException] {
      MergeTable.snapshot(spark, root, Some(v1))
    }
    assert(e.getMessage.contains("vacuum floor"))
  }

  test("a crashed commit is invisible to readers and cleaned by vacuum") {
    val root = tmpRoot()
    MergeTable.append(spark, root, Seq((1L, "a")).toDF("k", "v"), "k")
    // simulate a writer that wrote data + staged manifest but died
    // before the commit rename
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq((99L, "ghost")).toDF("k", "v")
      .write.parquet(s"$root/data/v00002")
    Seq((99L, "ghost")).toDF("k", "v")
      .write.parquet(s"$root/_log/.tmp-v00000000000000000002")
    assert(rowsOf(MergeTable.snapshot(spark, root)) == Set((1L, "a")))
    assert(MergeTable.versions(spark, root) == Seq(1L))

    // the next writer takes version 2 and clobbers only the garbage
    val v2 = MergeTable.merge(spark, root, Seq((2L, "b")).toDF("k", "v"), "k")
    assert(v2 == 2L)
    assert(rowsOf(MergeTable.snapshot(spark, root)) == Set((1L, "a"), (2L, "b")))

    // under the DEFAULT grace a just-written unreferenced staging dir
    // is indistinguishable from an in-flight writer's and must SURVIVE
    // the sweep — deleting it could tear a commit about to reference it
    MergeTable.vacuum(spark, root, horizon = 0L)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$root/_log/.tmp-v00000000000000000002")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/data/v00002")))

    // graceMs = 0 simulates the operator running long after the writer
    // died: the same sweep now removes the orphaned staging
    MergeTable.vacuum(spark, root, horizon = 0L, graceMs = 0L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$root/_log/.tmp-v00000000000000000002")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/data/v00002")))
    // vacuum at horizon 0 deleted no referenced file: table still reads
    assert(rowsOf(MergeTable.snapshot(spark, root)) == Set((1L, "a"), (2L, "b")))
  }

  test("checkpoint is a pure read optimization; vacuum past it folds the old log") {
    val root = tmpRoot()
    val v1 = MergeTable.append(spark, root, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "k")
    val v2 = MergeTable.merge(spark, root, Seq((2L, "B")).toDF("k", "v"), "k")
    val c = MergeTable.checkpoint(spark, root)
    assert(c == v2)
    // nothing destroyed: latest AND pre-checkpoint reads still exact
    assert(rowsOf(MergeTable.snapshot(spark, root)) == Set((1L, "a"), (2L, "B")))
    assert(rowsOf(MergeTable.snapshot(spark, root, Some(v1))) ==
      Set((1L, "a"), (2L, "b")))

    // a floor BELOW the checkpoint keeps the rewritten file reachable
    MergeTable.vacuum(spark, root, horizon = v1)
    assert(rowsOf(MergeTable.snapshot(spark, root, Some(v1))) ==
      Set((1L, "a"), (2L, "b")))

    // floor at the checkpoint: folded manifests + v1's file are gone,
    // the tail keeps planning from the checkpoint
    MergeTable.vacuum(spark, root, horizon = c)
    assert(MergeTable.versions(spark, root) == Seq(v2))
    assert(rowsOf(MergeTable.snapshot(spark, root)) == Set((1L, "a"), (2L, "B")))
    intercept[IllegalArgumentException] {
      MergeTable.snapshot(spark, root, Some(v1))
    }
    // the table stays writable and readable after compaction
    val v3 = MergeTable.merge(spark, root, Seq((3L, "c")).toDF("k", "v"), "k")
    assert(rowsOf(MergeTable.snapshot(spark, root)) ==
      Set((1L, "a"), (2L, "B"), (3L, "c")))
    assert(rowsOf(MergeTable.snapshot(spark, root, Some(v2))) ==
      Set((1L, "a"), (2L, "B")))
    assert(v3 == 3L)
  }

  test("snapshotRange reads only span-overlapping files, a superset of the rows") {
    val root = tmpRoot()
    MergeTable.append(spark,
      root, (0L until 100L).map(i => (i, "lo")).toDF("k", "v"), "k")
    MergeTable.append(spark,
      root, (100L until 200L).map(i => (i, "hi")).toDF("k", "v"), "k")
    val loFiles = MergeTable.liveFiles(spark, root)
      .filter(col("max_key").cast("long") < 100L)
      .select("file").as[String].collect()
      .map(f => s"$root/$f").toSet

    val pruned = MergeTable.snapshotRange(spark, root, 150L, 160L)
    // no lo-span file is even opened
    assert(pruned.inputFiles.toSet.intersect(loFiles).isEmpty)
    assert(pruned.inputFiles.nonEmpty)
    // superset contract: exact rows recovered by the caller's predicate
    val exact = pruned.filter(col("k").between(150L, 160L))
      .select("k").as[Long].collect().toSet
    assert(exact == (150L to 160L).toSet)
    // an empty range answers empty, typed by the declared schema (no
    // schema is ever INVENTED — the manifest's schema action types it)
    val none = MergeTable.snapshotRange(spark, root, 1000L, 2000L)
    assert(none.columns.toSeq == Seq("k", "v"))
    assert(none.count() == 0L)
  }

  test("compactFiles folds small files into one commit without changing state") {
    val root = tmpRoot()
    // trickle ingestion: 5 tiny commits
    (0L until 5L).foreach { i =>
      MergeTable.append(spark, root,
        Seq((i * 10L, s"v$i")).toDF("k", "v"), "k")
    }
    val before = rowsOf(MergeTable.snapshot(spark, root))
    val nFilesBefore = MergeTable.liveFiles(spark, root).count()
    assert(nFilesBefore >= 5L)

    val v = MergeTable.compactFiles(spark, root, "k")
    assert(v.nonEmpty)
    assert(rowsOf(MergeTable.snapshot(spark, root)) == before)
    assert(MergeTable.liveFiles(spark, root).count() == 1L)
    // time travel across the compaction boundary still answers
    assert(rowsOf(MergeTable.snapshot(spark, root, Some(1L))) ==
      Set((0L, "v0")))
    // nothing left to compact → no-op
    assert(MergeTable.compactFiles(spark, root, "k").isEmpty)
  }

  test("a table past the auto-compact bound self-heals on the next commit") {
    // The planning bound wired to compaction (not just the stderr warn):
    // with spark.graft.autoCompactAt = 3, trickling single-file commits
    // past 3 live files makes the NEXT commit fold inline — no operator
    // intervention — and state/time-travel stay intact. The default
    // bound (PlannedFilesWarnAt) is far above any test table, so every
    // other spec runs with the self-heal armed but never firing.
    val root = tmpRoot()
    spark.conf.set("spark.graft.autoCompactAt", "3")
    try {
      (0L until 4L).foreach { i =>
        MergeTable.append(spark, root,
          Seq((i, s"v$i")).toDF("k", "v").repartition(1), "k")
      }
      // commits 1–3 stay under the bound; commit 4 put the table at 4
      // live files > 3 and its own post-commit check folded them
      assert(MergeTable.liveFiles(spark, root).count() <= 2L)
      assert(rowsOf(MergeTable.snapshot(spark, root)) ==
        (0L until 4L).map(i => (i, s"v$i")).toSet)
      // merges self-heal too, and the merge's own version (pre-fold
      // state) stays time-travelable
      (4L until 8L).foreach { i =>
        val v = MergeTable.merge(spark, root,
          Seq((i, s"v$i")).toDF("k", "v").repartition(1), "k")
        assert(rowsOf(MergeTable.snapshot(spark, root, Some(v))) ==
          (0L to i).map(j => (j, s"v$j")).toSet)
      }
      assert(MergeTable.liveFiles(spark, root).count() <= 2L)
      assert(rowsOf(MergeTable.snapshot(spark, root)) ==
        (0L until 8L).map(i => (i, s"v$i")).toSet)
    } finally spark.conf.unset("spark.graft.autoCompactAt")
  }

  test("racing writers with inline auto-compaction: folds never change " +
      "state, losers stay loud, the table still self-heals") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.util.Try

    // bound 2 ⇒ the fold fires on nearly every commit, deliberately
    // RACING the other writer's merge and the other writer's fold —
    // the adversarial schedule for the post-commit self-heal. The
    // invariants: a fold is state-invisible (every read equals the
    // model over the merges that WON), a fold losing its OCC race is
    // absorbed (warn, not a failed merge), and the table ends folded.
    val root = tmpRoot()
    spark.conf.set("spark.graft.autoCompactAt", "2")
    try {
      var model = (0L until 10L).map(k => k -> "seed").toMap
      MergeTable.append(spark, root,
        model.toSeq.toDF("k", "v").repartition(2), "k")
      for (round <- 1 to 4) {
        // key-disjoint batches: both-win order is irrelevant to state
        val batchA = Seq((100L + round) -> s"A$round)")
        val batchB = Seq((200L + round) -> s"B$round)")
        val gate = new java.util.concurrent.CyclicBarrier(2)
        def race(b: Seq[(Long, String)]): Future[Try[Long]] = Future {
          gate.await()
          Try(MergeTable.merge(spark, root, b.toDF("k", "v"), "k"))
        }
        val (fa, fb) = (race(batchA), race(batchB))
        val (ra, rb) = (Await.result(fa, 120.seconds), Await.result(fb, 120.seconds))
        // a loser must be the loud commit-race CME, never a silent drop
        // or an auto-compact error surfacing through merge
        Seq(ra, rb).foreach(_.failed.foreach(e =>
          assert(e.isInstanceOf[java.util.ConcurrentModificationException], e)))
        if (ra.isSuccess) model ++= batchA
        if (rb.isSuccess) model ++= batchB
        assert(rowsOf(MergeTable.snapshot(spark, root)) ==
          model.toSet.map((kv: (Long, String)) => (kv._1, kv._2)))
      }
      // the self-heal held through the contention: commits since the
      // seed ≥ 4, yet live files stay near the bound instead of
      // accumulating one per commit
      assert(MergeTable.liveFiles(spark, root).count() <= 4L)
    } finally spark.conf.unset("spark.graft.autoCompactAt")
  }

  test("evolveSchema adds a column; old files read as nulls; time travel sees the era's schema") {
    val root = tmpRoot()
    MergeTable.append(spark, root, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "k")
    val v1 = MergeTable.versions(spark, root).last

    // widen: the batch carries a NEW column `score`
    MergeTable.merge(spark, root,
      Seq((2L, "B", 7L), (3L, "c", 9L)).toDF("k", "v", "score"),
      "k", evolveSchema = true)

    val now = MergeTable.snapshot(spark, root)
    assert(now.columns.toSeq == Seq("k", "v", "score"))
    val byKey = now.collect()
      .map(r => r.getLong(0) -> (r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    // row 1 lives in a pre-evolution file untouched by the merge:
    // the declared schema fills `score` with a typed null
    assert(byKey(1L) == (("a", None)))
    assert(byKey(2L) == (("B", Some(7L))))
    assert(byKey(3L) == (("c", Some(9L))))

    // time travel BEFORE the evolution sees the narrower era schema
    assert(MergeTable.snapshot(spark, root, Some(v1)).columns.toSeq ==
      Seq("k", "v"))

    // a later exact-schema merge may still omit the evolved column …
    MergeTable.merge(spark, root, Seq((4L, "d", 1L)).toDF("k", "v", "score"), "k")
    // … but silently retyping it is refused
    val e = intercept[IllegalArgumentException] {
      MergeTable.merge(spark, root,
        Seq((5L, "e", "oops")).toDF("k", "v", "score"),
        "k", evolveSchema = true)
    }
    assert(e.getMessage.contains("never retypes"))
  }

  test("a batch with extra columns is refused unless evolveSchema is set") {
    val root = tmpRoot()
    MergeTable.append(spark, root, Seq((1L, "a")).toDF("k", "v"), "k")
    val e = intercept[IllegalArgumentException] {
      MergeTable.merge(spark, root,
        Seq((2L, "b", 1L)).toDF("k", "v", "extra"), "k")
    }
    assert(e.getMessage.contains("evolveSchema"))
    // and an evolving batch must still carry every declared column
    val e2 = intercept[IllegalArgumentException] {
      MergeTable.merge(spark, root,
        Seq((2L, 1L)).toDF("k", "extra"), "k", evolveSchema = true)
    }
    assert(e2.getMessage.contains("every table column"))
  }

  test("the declared schema survives checkpoint folding and compaction") {
    val root = tmpRoot()
    MergeTable.append(spark, root, Seq((1L, "a")).toDF("k", "v"), "k")
    MergeTable.merge(spark, root,
      Seq((2L, "b", 5L)).toDF("k", "v", "score"), "k", evolveSchema = true)

    // fold the log and vacuum the pre-checkpoint manifests away: the
    // checkpoint row is now the only carrier of the declared schema
    val c = MergeTable.checkpoint(spark, root)
    MergeTable.vacuum(spark, root, horizon = c)
    assert(MergeTable.declaredSchema(spark, root).map(_.fieldNames.toSeq)
      .contains(Seq("k", "v", "score")))
    assert(MergeTable.snapshot(spark, root).columns.toSeq ==
      Seq("k", "v", "score"))

    // compaction rebins mixed-era files THROUGH the declared schema:
    // the pre-evolution row keeps its typed null in the rewritten file
    assert(MergeTable.compactFiles(spark, root, "k").nonEmpty)
    val after = MergeTable.snapshot(spark, root)
    assert(after.columns.toSeq == Seq("k", "v", "score"))
    assert(after.filter(col("k") === 1L).head().isNullAt(2))
    assert(after.filter(col("k") === 2L).head().getLong(2) == 5L)
  }

  test("changeFeed reports exact row-level changes; carried rows are no-ops") {
    val root = tmpRoot()
    val v1 = MergeTable.append(spark, root,
      (0L until 100L).map(i => (i, "lo")).toDF("k", "v"), "k")
    val v2 = MergeTable.append(spark, root,
      (100L until 200L).map(i => (i, "hi")).toDF("k", "v"), "k")
    val v3 = MergeTable.merge(spark, root,
      Seq((150L, "HI", false), (151L, "x", true), (500L, "new", false))
        .toDF("k", "v", "deleted"),
      "k", deleteCol = Some("deleted"))

    // window (v2, v3]: one update (new image), one delete (old image),
    // one insert — the 98 carried-along rows of the rewritten hi file
    // and every untouched lo file are silent
    val feed = MergeTable.changeFeed(spark, root, "k", v2, v3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(feed == Set(("update", 150L, "HI"), ("delete", 151L, "hi"),
      ("insert", 500L, "new")))

    // window (v1, v3]: key 151 was added AND deleted inside it — net
    // nothing; keys 100..199 (150 with its final image) plus 500 are
    // inserts relative to v1; no lo-span row appears
    val feed2 = MergeTable.changeFeed(spark, root, "k", v1, v3)
    assert(feed2.filter(col("change_type") =!= "insert").isEmpty)
    val ins = feed2.select("k").as[Long].collect().toSet
    assert(ins == ((100L until 200L).toSet - 151L + 500L))

    // preImages: the update splits into old/new images (the IVM shape);
    // insert/delete are unchanged
    val pre = MergeTable.changeFeed(spark, root, "k", v2, v3, preImages = true)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(pre == Set(("update_preimage", 150L, "hi"),
      ("update_postimage", 150L, "HI"), ("delete", 151L, "hi"),
      ("insert", 500L, "new")))

    // compaction rewrites files without changing state → empty feed
    val v4 = MergeTable.compactFiles(spark, root, "k").get
    assert(MergeTable.changeFeed(spark, root, "k", v3, v4).isEmpty)

    // below the vacuum floor the feed refuses instead of under-reporting
    MergeTable.vacuum(spark, root, horizon = v4)
    val e = intercept[IllegalArgumentException] {
      MergeTable.changeFeed(spark, root, "k", v3, v4)
    }
    assert(e.getMessage.contains("vacuum floor"))
  }

  test("a non-key-unique batch is refused") {
    val root = tmpRoot()
    MergeTable.append(spark, root, Seq((1L, "a")).toDF("k", "v"), "k")
    val e = intercept[IllegalArgumentException] {
      MergeTable.merge(spark, root,
        Seq((1L, "x"), (1L, "y")).toDF("k", "v"), "k")
    }
    assert(e.getMessage.contains("unique"))
  }

  test("merge into an empty (never-written) table is a plain insert") {
    val root = tmpRoot()
    val v = MergeTable.merge(spark, root,
      Seq((5L, "e", false), (6L, "gone", true)).toDF("k", "v", "deleted"),
      "k", deleteCol = Some("deleted"))
    assert(v == 1L)
    assert(rowsOf(MergeTable.snapshot(spark, root)) == Set((5L, "e")))
  }

  test("optimizeZorder: box reads touch fewer files than the linear layout; state intact") {
    val root = tmpRoot()
    // 4096 keys uniform over the 256×256 (x, y) grid; written clustered
    // by x ALONE in 16 stripes — the layout a single-column sort leaves
    val rows = (0L until 4096L).map(i => (i, i % 256L, (i * 37L) % 256L))
    val linear = rows.toDF("k", "x", "y").repartitionByRange(16, col("x"))
    val v1 = MergeTable.append(spark, root, linear, "k")

    // per-live-file (x, y) spans, read from the actual data files
    def filesTouching(xLo: Long, xHi: Long, yLo: Long, yHi: Long): Int = {
      val files = MergeTable.liveFiles(spark, root).select(col("file"))
        .collect().map(r => s"$root/${r.getString(0)}")
      files.count { f =>
        val st = spark.read.parquet(f)
          .agg(min(col("x")), max(col("x")), min(col("y")), max(col("y")))
          .head()
        st.getLong(1) >= xLo && st.getLong(0) <= xHi &&
          st.getLong(3) >= yLo && st.getLong(2) <= yHi
      }
    }
    // the band the x-only layout cannot prune: full x-range, narrow y
    // slice — every x-stripe spans all of y, so ALL 16 files intersect
    val linearTouched = filesTouching(0, 255, 96, 159)
    assert(linearTouched == 16, s"x-stripes should all straddle y: $linearTouched")

    val before = MergeTable.snapshot(spark, root)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val v2 = MergeTable.optimizeZorder(spark, root, "k", "x", "y")
    assert(v2 == v1 + 1)

    // layout op, not a data op: state identical, time travel intact
    val after = MergeTable.snapshot(spark, root)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(after == before)
    assert(MergeTable.snapshot(spark, root, Some(v1))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet == before)

    // the z-curve confines the band to the files whose segment crosses
    // it (y7y6 ∈ {01, 10} prefixes — ~half the files at 4 prefix bits),
    // strictly fewer than the every-stripe linear answer
    val zTouched = filesTouching(0, 255, 96, 159)
    assert(zTouched < linearTouched,
      s"zorder should beat linear: $zTouched vs $linearTouched")
    // and 1-D key skipping still works on the rewritten files
    val pruned = MergeTable.snapshotRange(spark, root, 10L, 20L)
      .filter(col("k").between(10, 20))
    assert(pruned.count() == 11)
  }

  test("a delete-all merge leaves an empty but readable and writable table") {
    val root = tmpRoot()
    MergeTable.append(spark, root, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "k")
    MergeTable.merge(spark, root,
      Seq((1L, "a", true), (2L, "b", true)).toDF("k", "v", "deleted"),
      "k", deleteCol = Some("deleted"))
    // the emptied table must still ANSWER (empty, with the declared
    // schema), not refuse every future read
    val snap = MergeTable.snapshot(spark, root)
    assert(snap.columns.toSeq == Seq("k", "v"))
    assert(snap.count() == 0L)
    // the CDC feed over the emptying window sees exactly two deletes
    val feed = MergeTable.changeFeed(spark, root, "k", 1L, 2L)
      .select(col("change_type"), col("k")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(feed == Set(("delete", 1L), ("delete", 2L)))
    // and the table is still writable: life goes on after the wipe
    MergeTable.merge(spark, root, Seq((3L, "c")).toDF("k", "v"), "k")
    assert(rowsOf(MergeTable.snapshot(spark, root)) == Set((3L, "c")))
    // time travel back into the pre-wipe era still answers
    assert(rowsOf(MergeTable.snapshot(spark, root, Some(1L))) ==
      Set((1L, "a"), (2L, "b")))
  }

  test("snapshotRange answers a fully-pruned range as empty, typed by the declared schema") {
    val root = tmpRoot()
    MergeTable.append(spark, root, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), "k")
    val out = MergeTable.snapshotRange(spark, root, 100L, 200L)
    assert(out.columns.toSeq == Seq("k", "v"))
    assert(out.count() == 0L)
  }

  test("changeFeed multiset-diffs null-key rows instead of fabricating phantom pairs") {
    val root = tmpRoot()
    // one file holding keyed AND null-key rows (incl. a duplicated null
    // image), so a keyed rewrite carries every null row along
    val init = Seq((Option(1L), "a"), (Option.empty[Long], "n1"),
      (Option.empty[Long], "n1"), (Option.empty[Long], "z"))
      .toDF("k", "v").coalesce(1)
    MergeTable.append(spark, root, init, "k")
    // update the keyed row; insert one NEW null-key row
    MergeTable.merge(spark, root,
      Seq((Option(1L), "A"), (Option.empty[Long], "n2")).toDF("k", "v"), "k")
    val feed = MergeTable.changeFeed(spark, root, "k", 1L, 2L)
      .select(col("change_type"), col("v")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    // the three carried null-key rows (two of them an identical image —
    // the multiset case) are NO-OPS; only the real changes surface
    assert(feed == Set(("update", "A"), ("insert", "n2")), feed)
  }

  test("first vacuum floor publishes atomically and absorbs a crashed predecessor's staging") {
    val root = tmpRoot()
    MergeTable.append(spark, root, Seq((1L, "a")).toDF("k", "v"), "k")
    MergeTable.merge(spark, root, Seq((1L, "b")).toDF("k", "v"), "k")
    // simulate a predecessor that crashed between staging and publish
    val staged = new java.io.File(s"$root/_floor_staged")
    assert(staged.mkdirs())
    java.nio.file.Files.write(staged.toPath.resolve("garbage"),
      Array[Byte](1, 2, 3))
    // the torn state is INVISIBLE to reads (floor dir itself absent)
    assert(MergeTable.vacuumFloor(spark, root) == 0L)
    // and the next vacuum overwrites the leftover and publishes
    MergeTable.vacuum(spark, root, horizon = 1L, graceMs = 0L)
    assert(MergeTable.vacuumFloor(spark, root) == 1L)
    assert(rowsOf(MergeTable.snapshot(spark, root)) == Set((1L, "b")))
  }

  test("10k-file manifest: key-span read plans only overlapping files; " +
      "change feed collects only the window's churn") {
    // The manifest entries point at files that DO NOT EXIST on disk —
    // so any code path that plans (or reads) a non-overlapping file
    // crashes the test, which is the gate: planning over a large
    // manifest must be a distributed fold + pruned collect, never a
    // read-everything pass. 10k entries ≈ a multi-TB table's live set.
    val root = tmpRoot()
    MergeTable.append(spark, root,
      (1L to 10L).map(k => (k, s"v$k")).toDF("k", "v"), "k")
    val nReal = MergeTable.liveFiles(spark, root).count()
    val fakes = (0 until 10000).map { i =>
      org.apache.spark.sql.Row(2L, "add", s"data/v00002/fake_$i.parquet",
        (100000 + 2 * i).toString, (100001 + 2 * i).toString, 1L)
    }
    spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(fakes).asJava),
        MergeTable.manifestSchema)
      .write.parquet(s"$root/${MergeTable.LogDir}/${MergeTable.fmtLog(2L)}")
    assert(MergeTable.versions(spark, root) == Seq(1L, 2L))
    assert(MergeTable.liveFiles(spark, root).count() == nReal + 10000L)

    // range read over the real keys: prunes 10k fake spans DataFrame-
    // side, plans exactly the real files (one per shuffle partition)
    val pruned = MergeTable.snapshotRange(spark, root, 1L, 10L)
    assert(pruned.count() == 10L)
    assert(pruned.inputFiles.length == nReal, pruned.inputFiles.mkString(","))
    // a fully-pruned range over the fake gap between spans: empty, no read
    assert(MergeTable.snapshotRange(spark, root, 99000L, 99500L).count() == 0L)

    // version 3 appends one more real file; the change feed across the
    // 10k-entry manifests diffs by anti-join and touches ONLY the churn
    // (one added file) — collecting either full live set would be 10k
    // paths, reading it would crash on the fakes
    val v3 = MergeTable.append(spark, root,
      (20L to 25L).map(k => (k, s"w$k")).toDF("k", "v"), "k")
    val feed = MergeTable.changeFeed(spark, root, "k", 2L, v3)
    assert(feed.filter(col("change_type") === "insert").count() == 6L)
    assert(feed.count() == 6L)
  }
}
