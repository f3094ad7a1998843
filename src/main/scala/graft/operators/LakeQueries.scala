package graft.operators

import graft.{Q, QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-checked queries exercising [[MergeTable]] end-to-end: build a
  * real on-disk table from `orders`, MERGE a deterministic CDC batch
  * (updates + deletes + inserts-by-absence), and read back — latest
  * snapshot for `lake_merge_upsert`, the PRE-merge version for
  * `lake_time_travel`. The observable state is pure relational algebra
  * (anti-join ∪ surviving updates), so DuckDB replays it with SQL while
  * the Spark side goes through the actual commit protocol — manifest
  * log, file-skipping, copy-on-write rewrite — making the oracle a
  * differential test of the storage layer, not just the expression.
  *
  * Each run builds in a throwaway temp dir and returns a collected
  * ≤5-row rollup as a LocalRelation (the table itself is the artifact
  * under test, not the result set). Floats: the only arithmetic is one
  * IEEE `+ 1.0` and min/max — exact cross-engine; sums stay on int64.
  */
object LakeQueries extends QueryModule {

  private val KeyMod = 97L

  private def base(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))

  /** Every 97th key: status forced to 'U', price bumped exactly one
    * IEEE step of 1.0; every 194th additionally flagged deleted. */
  private def cdcBatch(df: DataFrame): DataFrame =
    df.filter(col("o_orderkey") % KeyMod === 0)
      .withColumn("o_orderstatus", lit("U"))
      .withColumn("o_totalprice", col("o_totalprice") + lit(1.0d))
      .withColumn("deleted", col("o_orderkey") % (2 * KeyMod) === 0)

  private def summarize(df: DataFrame): DataFrame =
    df.groupBy(col("o_orderstatus").as("status"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_orderkey")).as("key_sum"),
        min(col("o_totalprice")).as("min_price"),
        max(col("o_totalprice")).as("max_price"))
      .orderBy(col("status"))

  /** Build a throwaway table root, hand it to `build`, materialize the
    * bounded result as a LocalRelation, clean up. The root lives under
    * the shared RAM-backed scratch ([[graft.Scratch]]): these tables
    * are commit-protocol-heavy (manifest writes, atomic renames, stats
    * read-backs per version) and none of it outlives the query — the
    * same harness-medium choice the streaming family already made. */
  private def withRoot(s: SparkSession)(build: String => DataFrame): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory(graft.Scratch.base, "graft-lake")
    val root = tmp.resolve("orders_tbl").toString
    try {
      val res = build(root)
      val rows = new java.util.ArrayList[Row]()
      res.collect().foreach(rows.add)
      s.createDataFrame(rows, res.schema)
    } finally {
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(tmp.toString), true)
    }
  }

  /** Build the table (append base, merge the CDC batch) in a temp dir,
    * hand the (v1, v2, root) to `read`, materialize its bounded result,
    * clean up. */
  private def withTable(s: SparkSession, dir: String)(
      read: (Long, Long, String) => DataFrame): DataFrame =
    withRoot(s) { root =>
      val b = base(s, dir)
      val v1 = MergeTable.append(s, root, b, "o_orderkey")
      val v2 = MergeTable.merge(s, root, cdcBatch(b), "o_orderkey",
        deleteCol = Some("deleted"))
      read(v1, v2, root)
    }

  private val summaryCols =
    """count(*) AS n_orders, CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
      |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price""".stripMargin

  override def defs: Seq[(String, Q)] = Seq(
    "lake_merge_upsert" -> Q(
      (s, dir) => withTable(s, dir) { (_, _, root) =>
        summarize(MergeTable.snapshot(s, root))
      },
      Some(s"""WITH upd AS (
             |  SELECT o_orderkey, 'U' AS o_orderstatus,
             |         o_totalprice + 1.0 AS o_totalprice,
             |         (o_orderkey % ${2 * KeyMod} = 0) AS deleted
             |  FROM orders WHERE o_orderkey % $KeyMod = 0),
             |merged AS (
             |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
             |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
             |  UNION ALL
             |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM upd
             |  WHERE NOT deleted)
             |SELECT o_orderstatus AS status, $summaryCols
             |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = "copy-on-write MERGE (update+delete CDC batch) read back from the committed table"),

    // The SAME merge driven entirely by SQL TEXT (SURVEY §3.1 — the
    // reference's only IR is SQL): the GraftCatalog resolves
    // graft.<ns>.<table>, GraftLakeRule rewrites MERGE INTO onto the
    // engine's commit protocol and the read-back SELECT onto the
    // snapshot's native parquet plan. Observable state is identical to
    // lake_merge_upsert, so the oracle is the same relational fold —
    // making this row a differential test of the SQL BINDING (catalog,
    // rule, command) on top of the already-gated storage layer.
    "lake_sql_merge" -> Q(
      (s, dir) => {
        val wh = graft.plans.GraftCatalog.ensure(s,
          graft.Scratch.jvmDir.resolve("lake_sql_wh").toString)
        val tableRoot = s"$wh/sqlq/orders_merge"
        val fs = new org.apache.hadoop.fs.Path(tableRoot)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        def wipe(): Unit =
          fs.delete(new org.apache.hadoop.fs.Path(tableRoot), true)
        try {
          wipe() // clean slate: the bench replays this query in one JVM
          val b = base(s, dir)
          MergeTable.append(s, tableRoot, b, "o_orderkey")
          cdcBatch(b).createOrReplaceTempView("lake_sql_cdc")
          s.sql(
            """MERGE INTO graft.sqlq.orders_merge AS t
              |USING lake_sql_cdc AS s ON t.o_orderkey = s.o_orderkey
              |WHEN MATCHED AND s.deleted THEN DELETE
              |WHEN MATCHED THEN UPDATE SET *
              |WHEN NOT MATCHED AND NOT s.deleted THEN INSERT *""".stripMargin)
            .collect()
          val res = summarize(s.sql("SELECT * FROM graft.sqlq.orders_merge"))
          val rows = new java.util.ArrayList[Row]()
          res.collect().foreach(rows.add)
          s.createDataFrame(rows, res.schema)
        } finally wipe()
      },
      Some(s"""WITH upd AS (
             |  SELECT o_orderkey, 'U' AS o_orderstatus,
             |         o_totalprice + 1.0 AS o_totalprice,
             |         (o_orderkey % ${2 * KeyMod} = 0) AS deleted
             |  FROM orders WHERE o_orderkey % $KeyMod = 0),
             |merged AS (
             |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
             |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
             |  UNION ALL
             |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM upd
             |  WHERE NOT deleted)
             |SELECT o_orderstatus AS status, $summaryCols
             |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = "MERGE INTO + SELECT as pure SQL text through the DSv2 catalog: same observable fold as lake_merge_upsert, differential on the SQL binding"),

    // VERSION AS OF as SQL TEXT: the catalog's loadTable(ident, version)
    // hook + the read rewrite, against the same pre-merge observable
    // state as lake_time_travel — the differential isolates the SQL
    // time-travel binding the way lake_sql_merge isolates the MERGE one.
    "lake_sql_time_travel" -> Q(
      (s, dir) => {
        val wh = graft.plans.GraftCatalog.ensure(s,
          graft.Scratch.jvmDir.resolve("lake_sql_wh").toString)
        val tableRoot = s"$wh/sqlq/orders_tt"
        val fs = new org.apache.hadoop.fs.Path(tableRoot)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        def wipe(): Unit =
          fs.delete(new org.apache.hadoop.fs.Path(tableRoot), true)
        try {
          wipe()
          val b = base(s, dir)
          val v1 = MergeTable.append(s, tableRoot, b, "o_orderkey")
          MergeTable.merge(s, tableRoot, cdcBatch(b), "o_orderkey",
            deleteCol = Some("deleted"))
          val res = summarize(s.sql(
            s"SELECT * FROM graft.sqlq.orders_tt VERSION AS OF $v1"))
          val rows = new java.util.ArrayList[Row]()
          res.collect().foreach(rows.add)
          s.createDataFrame(rows, res.schema)
        } finally wipe()
      },
      Some(s"""SELECT o_orderstatus AS status, $summaryCols
             |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = "SELECT ... VERSION AS OF as pure SQL text through the DSv2 catalog: pre-merge state after the merge committed"),

    "lake_time_travel" -> Q(
      (s, dir) => withTable(s, dir) { (v1, _, root) =>
        summarize(MergeTable.snapshot(s, root, asOf = Some(v1)))
      },
      Some(s"""SELECT o_orderstatus AS status, $summaryCols
             |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = "snapshot-isolation time travel: pre-merge version read after the merge committed"),

    // ADD-COLUMN schema evolution through the real commit protocol: the
    // evolving merge carries `o_orderpriority`; rows living in
    // pre-evolution files (every key not ≡ 0 mod 97) must read back as
    // typed nulls THROUGH the widened declared schema, which the
    // per-status count/min/max over the new column observes directly.
    "lake_schema_evolution" -> Q(
      (s, dir) => withRoot(s) { root =>
        val b = base(s, dir)
        MergeTable.append(s, root, b, "o_orderkey")
        val wide = Tables.orders(s, dir)
          .filter(col("o_orderkey") % KeyMod === 0)
          .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
            (col("o_totalprice") + lit(1.0d)).as("o_totalprice"),
            col("o_orderpriority"))
        MergeTable.merge(s, root, wide, "o_orderkey", evolveSchema = true)
        MergeTable.snapshot(s, root)
          .groupBy(col("o_orderstatus").as("status"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_orderkey")).as("key_sum"),
            count(col("o_orderpriority")).as("n_prio"),
            min(col("o_orderpriority")).as("min_prio"),
            max(col("o_orderpriority")).as("max_prio"))
          .orderBy(col("status"))
      },
      Some(s"""WITH upd AS (
             |  SELECT o_orderkey, 'U' AS o_orderstatus,
             |         o_totalprice + 1.0 AS o_totalprice, o_orderpriority
             |  FROM orders WHERE o_orderkey % $KeyMod = 0),
             |merged AS (
             |  SELECT o_orderkey, o_orderstatus, o_totalprice,
             |         NULL AS o_orderpriority FROM orders
             |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
             |  UNION ALL
             |  SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
             |  FROM upd)
             |SELECT o_orderstatus AS status, count(*) AS n_orders,
             |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
             |  count(o_orderpriority) AS n_prio,
             |  min(o_orderpriority) AS min_prio,
             |  max(o_orderpriority) AS max_prio
             |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = "ADD-COLUMN evolution: pre-evolution files read as typed nulls through the declared schema"),

    // Row-level change data feed between two committed versions, via
    // the copy-on-write file diff (only rewritten files are read; rows
    // carried unchanged into a rewritten file are no-op-filtered). The
    // batch exercises all three change types: updates (keys ≡ 0 mod 97,
    // not 194), deletes (≡ 0 mod 194, feed carries the LAST-SEEN old
    // image), inserts (fresh negative keys). The oracle replays the
    // feed relationally from the same batch definition.
    "lake_change_feed" -> Q(
      (s, dir) => withRoot(s) { root =>
        val b = base(s, dir)
        val v1 = MergeTable.append(s, root, b, "o_orderkey")
        val ins = b.filter(col("o_orderkey") % KeyMod === 1)
          .select((-col("o_orderkey")).as("o_orderkey"),
            lit("N").as("o_orderstatus"), col("o_totalprice"))
          .withColumn("deleted", lit(false))
        val v2 = MergeTable.merge(s, root,
          cdcBatch(b).unionByName(ins), "o_orderkey",
          deleteCol = Some("deleted"))
        MergeTable.changeFeed(s, root, "o_orderkey", v1, v2)
          .groupBy(col("change_type"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("o_orderkey")).as("key_sum"),
            min(col("o_totalprice")).as("min_price"),
            max(col("o_totalprice")).as("max_price"))
          .orderBy(col("change_type"))
      },
      Some(s"""WITH upd AS (
             |  SELECT o_orderkey, o_totalprice + 1.0 AS o_totalprice,
             |         (o_orderkey % ${2 * KeyMod} = 0) AS deleted
             |  FROM orders WHERE o_orderkey % $KeyMod = 0),
             |feed AS (
             |  SELECT 'update' AS change_type, o_orderkey, o_totalprice
             |  FROM upd WHERE NOT deleted
             |  UNION ALL
             |  SELECT 'delete', o.o_orderkey, o.o_totalprice
             |  FROM orders o JOIN upd u ON o.o_orderkey = u.o_orderkey
             |  WHERE u.deleted
             |  UNION ALL
             |  SELECT 'insert', -o_orderkey, o_totalprice
             |  FROM orders WHERE o_orderkey % $KeyMod = 1)
             |SELECT change_type, count(*) AS n_rows,
             |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
             |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
             |FROM feed GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = "copy-on-write change data feed: insert/update/delete row images from the rewritten-file diff"),

    // Incremental view maintenance from the change feed: the per-status
    // (count, key-sum) view materialized at v1 is advanced to v2 by
    // folding ONLY the feed — +insert/+update_postimage,
    // −delete/−update_preimage (count/sum are self-maintainable) — and
    // the oracle recomputes the v2 view from scratch. At 100 TB this is
    // the point of the feed: the consumer's cost is the delta, never a
    // table rescan, and a wrong pre/post image or a missed no-op filter
    // shows up as a broken sum.
    "lake_incremental_view" -> Q(
      (s, dir) => withRoot(s) { root =>
        val b = base(s, dir)
        val v1 = MergeTable.append(s, root, b, "o_orderkey")
        val v2 = MergeTable.merge(s, root, cdcBatch(b), "o_orderkey",
          deleteCol = Some("deleted"))
        val view1 = MergeTable.snapshot(s, root, Some(v1))
          .groupBy(col("o_orderstatus").as("status"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_orderkey")).as("key_sum"))
        val feed = MergeTable.changeFeed(s, root, "o_orderkey", v1, v2,
          preImages = true)
        val sgn = when(col("change_type")
          .isin("insert", "update_postimage"), 1L).otherwise(-1L)
        val delta = feed
          .select(col("o_orderstatus").as("status"), sgn.as("sgn"),
            col("o_orderkey"))
          .groupBy(col("status"))
          .agg(sum(col("sgn")).as("n_orders"),
            sum(col("sgn") * col("o_orderkey")).as("key_sum"))
        view1.unionByName(delta)
          .groupBy(col("status"))
          .agg(sum(col("n_orders")).as("n_orders"),
            sum(col("key_sum")).as("key_sum"))
          .filter(col("n_orders") > 0)
          .orderBy(col("status"))
      },
      Some(s"""WITH upd AS (
             |  SELECT o_orderkey, 'U' AS o_orderstatus,
             |         o_totalprice + 1.0 AS o_totalprice,
             |         (o_orderkey % ${2 * KeyMod} = 0) AS deleted
             |  FROM orders WHERE o_orderkey % $KeyMod = 0),
             |merged AS (
             |  SELECT o_orderkey, o_orderstatus FROM orders
             |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
             |  UNION ALL
             |  SELECT o_orderkey, o_orderstatus FROM upd WHERE NOT deleted)
             |SELECT o_orderstatus AS status,
             |  count(*) AS n_orders, CAST(sum(o_orderkey) AS BIGINT) AS key_sum
             |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = "incremental view maintenance: v1 view + folded feed deltas ≡ full v2 recompute"),

    // Read-side file skipping through the commit protocol: the base
    // append is RANGE-CLUSTERED on the key (repartitionByRange + sort,
    // the layout a compacted 100 TB table converges to), the CDC merge
    // rewrites only its touched files, and the range read plans from
    // the manifest's per-file [min_key, max_key] spans — touching the
    // overlapping files only, never the table (MergeTableSpec proves
    // the file-count bound; this query proves the ANSWER is right
    // through a merge, under the superset-then-exact-predicate
    // contract). The oracle replays the merged state relationally and
    // filters the same range.
    "lake_point_lookup" -> Q(
      (s, dir) => withRoot(s) { root =>
        val b = base(s, dir)
        MergeTable.append(s, root,
          b.repartitionByRange(8, col("o_orderkey"))
            .sortWithinPartitions(col("o_orderkey")), "o_orderkey")
        MergeTable.merge(s, root, cdcBatch(b), "o_orderkey",
          deleteCol = Some("deleted"))
        summarize(MergeTable.snapshotRange(s, root, RangeLo, RangeHi)
          .filter(col("o_orderkey").between(RangeLo, RangeHi)))
      },
      Some(s"""WITH upd AS (
             |  SELECT o_orderkey, 'U' AS o_orderstatus,
             |         o_totalprice + 1.0 AS o_totalprice,
             |         (o_orderkey % ${2 * KeyMod} = 0) AS deleted
             |  FROM orders WHERE o_orderkey % $KeyMod = 0),
             |merged AS (
             |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
             |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
             |  UNION ALL
             |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM upd
             |  WHERE NOT deleted)
             |SELECT o_orderstatus AS status, $summaryCols
             |FROM merged WHERE o_orderkey BETWEEN $RangeLo AND $RangeHi
             |GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = "stats-pruned range read (snapshotRange) through a range-clustered, merged table"),

    // NULL-key rows through the full CDC lifecycle. The table contract
    // admits a NULL merge key as a pure insert (no key match can ever
    // update or delete it), so null-key rows live in the same files as
    // keyed rows and get CARRIED through every copy-on-write rewrite —
    // where a keyed diff would fabricate a delete+insert pair for each
    // (NULL never pairs with itself in a join). The feed must instead
    // multiset-diff them: this query plants nulls (keys ≡ 3 mod 97
    // nulled), rewrites their files via a keyed update batch that also
    // INSERTS fresh null-key rows, and asserts the feed carries exactly
    // the real changes while the snapshot retains every null row once.
    // The update payload is made unconditionally-changing
    // (coalesce(price+1, -1)) so a dirty NULL price cannot turn an
    // update into an engine-side no-op the oracle still counts.
    "lake_null_key_cdc" -> Q(
      (s, dir) => withRoot(s) { root =>
        val b0 = base(s, dir)
        val withNulls = b0.withColumn("o_orderkey",
          when(col("o_orderkey") % KeyMod === 3, lit(null).cast("long"))
            .otherwise(col("o_orderkey")))
        val v1 = MergeTable.append(s, root, withNulls, "o_orderkey")
        val upd = b0.filter(col("o_orderkey") % KeyMod === 0)
          .select(col("o_orderkey"), lit("U").as("o_orderstatus"),
            coalesce(col("o_totalprice") + lit(1.0d), lit(-1.0d))
              .as("o_totalprice"))
        val ins = b0.filter(col("o_orderkey") % KeyMod === 5)
          .select(lit(null).cast("long").as("o_orderkey"),
            lit("X").as("o_orderstatus"), col("o_totalprice"))
        val v2 = MergeTable.merge(s, root, upd.unionByName(ins), "o_orderkey")
        val feedAgg = MergeTable.changeFeed(s, root, "o_orderkey", v1, v2)
          .groupBy(concat(lit("feed_"), col("change_type")).as("section"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("o_orderkey")).as("key_sum"),
            min(col("o_totalprice")).as("min_price"),
            max(col("o_totalprice")).as("max_price"))
        val snapNull = MergeTable.snapshot(s, root)
          .filter(col("o_orderkey").isNull)
          .agg(count(lit(1)).as("n_rows"),
            sum(col("o_orderkey")).as("key_sum"),
            min(col("o_totalprice")).as("min_price"),
            max(col("o_totalprice")).as("max_price"))
          .select(lit("snap_nullkeys").as("section"), col("n_rows"),
            col("key_sum"), col("min_price"), col("max_price"))
        feedAgg.unionByName(snapNull).orderBy(col("section"))
      },
      Some(s"""WITH upd AS (
             |  SELECT o_orderkey,
             |         coalesce(o_totalprice + 1.0, -1.0) AS o_totalprice
             |  FROM orders WHERE o_orderkey % $KeyMod = 0),
             |ins AS (
             |  SELECT CAST(NULL AS BIGINT) AS o_orderkey, o_totalprice
             |  FROM orders WHERE o_orderkey % $KeyMod = 5),
             |-- carried null-key rows: planted (≡ 3 mod 97, their key
             |-- NULLED at append) plus any the fixture already holds —
             |-- both are pure carries, never events
             |nullsnap AS (
             |  SELECT CAST(NULL AS BIGINT) AS o_orderkey, o_totalprice
             |  FROM orders WHERE o_orderkey IS NULL OR o_orderkey % $KeyMod = 3),
             |sections AS (
             |  SELECT 'feed_update' AS section, o_orderkey, o_totalprice FROM upd
             |  UNION ALL
             |  SELECT 'feed_insert', o_orderkey, o_totalprice FROM ins
             |  UNION ALL
             |  SELECT 'snap_nullkeys', o_orderkey, o_totalprice FROM nullsnap
             |  UNION ALL
             |  SELECT 'snap_nullkeys', o_orderkey, o_totalprice FROM ins)
             |SELECT section, count(*) AS n_rows,
             |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
             |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
             |FROM sections GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = "null-key rows through CDC: carried rewrites are feed no-ops (multiset diff), fresh null inserts surface, snapshot keeps every null row once"),

    // Delete-all and life after it: a CDC batch that deletes every
    // remaining row must leave a table that still ANSWERS (empty, typed
    // by the declared schema carried in the manifest) and still ACCEPTS
    // the next merge — not one bricked behind a no-live-files refusal.
    // Both phases are pinned: the post-wipe snapshot aggregates to the
    // (0, NULL) row, and the rebuild merge's snapshot replays
    // relationally.
    "lake_wipe_rebuild" -> Q(
      (s, dir) => withRoot(s) { root =>
        val b = base(s, dir).filter(col("o_orderkey") % KeyMod === 0)
        MergeTable.append(s, root, b, "o_orderkey")
        MergeTable.merge(s, root, b.withColumn("deleted", lit(true)),
          "o_orderkey", deleteCol = Some("deleted"))
        // snapshot() plans its (empty) file list EAGERLY, so this frame
        // is immune to the rebuild merge that follows
        val afterWipe = MergeTable.snapshot(s, root)
          .agg(count(lit(1)).as("n_rows"), sum(col("o_orderkey")).as("key_sum"))
          .select(lit("after_wipe").as("phase"), col("n_rows"), col("key_sum"))
        MergeTable.merge(s, root,
          base(s, dir).filter(col("o_orderkey") % KeyMod === 1), "o_orderkey")
        val afterRebuild = MergeTable.snapshot(s, root)
          .agg(count(lit(1)).as("n_rows"), sum(col("o_orderkey")).as("key_sum"))
          .select(lit("after_rebuild").as("phase"), col("n_rows"), col("key_sum"))
        afterWipe.unionByName(afterRebuild).orderBy(col("phase"))
      },
      Some(s"""SELECT 'after_rebuild' AS phase, count(*) AS n_rows,
             |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
             |FROM orders WHERE o_orderkey % $KeyMod = 1
             |UNION ALL
             |SELECT 'after_wipe', CAST(0 AS BIGINT), CAST(NULL AS BIGINT)
             |ORDER BY phase""".stripMargin),
      doc = "delete-all CDC wipe answers empty through the declared schema, then accepts the rebuild merge"),

    // The table-maintenance lifecycle on the hard signal: trickle
    // ingest (4 stripe appends + a CDC merge) leaves the small-file
    // mess maintenance exists for; then OPTIMIZE (compactFiles),
    // OPTIMIZE ZORDER BY (full re-cluster), and VACUUM (physical
    // delete + time-travel floor) run back-to-back. The observable
    // state must be EXACTLY the relational merge DuckDB replays —
    // compaction or re-clustering that drops, duplicates, or reorders
    // a row into the wrong file reds the differential aggregate, and
    // a vacuum that deletes a live file makes the post-vacuum
    // snapshot unreadable (the row errors, which is also red). The
    // maintenance-specific invariants ride as contract columns pinned
    // literal TRUE oracle-side, same pattern as the ANN recall
    // floors: the fold actually shrank the live file set, the state
    // survived both rewrites bit-identically, time travel below the
    // floor refuses, and every pre-ZORDER file is physically gone.
    "lake_maintenance" -> Q(
      (s, dir) => withRoot(s) { root =>
        // o_custkey joins the schema as the second ZORDER dimension;
        // pinned — the 4 stripe appends and the CDC batch would
        // otherwise each re-scan the source parquet
        graft.ext.Pins.scoped(Tables.orders(s, dir).select(col("o_orderkey"),
          col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))) { b =>
          // interleaved key stripes: every append's file spans the whole
          // key range, so maintenance cannot cheat via disjoint spans
          (0L to 3L).foreach { i =>
            MergeTable.append(s, root,
              b.filter(pmod(col("o_orderkey"), lit(4L)) === i), "o_orderkey")
            ()
          }
          MergeTable.merge(s, root, cdcBatch(b), "o_orderkey",
            deleteCol = Some("deleted"))

          val before = summarize(MergeTable.snapshot(s, root)).collect().toSeq
          val filesBefore = MergeTable.liveFiles(s, root).count()
          val folded = MergeTable.compactFiles(s, root, "o_orderkey")
          // ZORDER rewrites every live file, so the entire pre-ZORDER
          // live set becomes vacuum-eligible garbage at floor = zv
          // (one manifest read serves both the fold count and the set)
          val preZorder = MergeTable.liveFiles(s, root)
            .select(col("file")).collect().map(_.getString(0)).toIndexedSeq
          val filesAfterFold = preZorder.size.toLong
          val zv = MergeTable.optimizeZorder(s, root, "o_orderkey",
            "o_orderkey", "o_custkey")
          MergeTable.vacuum(s, root, zv)

          val fs = new org.apache.hadoop.fs.Path(root)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          val garbageGone = preZorder.forall(f =>
            !fs.exists(new org.apache.hadoop.fs.Path(s"$root/$f")))
          val oldReadRefused =
            try { MergeTable.snapshot(s, root, Some(zv - 1)); false }
            catch { case _: IllegalArgumentException => true }
          val after = summarize(MergeTable.snapshot(s, root)).collect().toSeq

          summarize(MergeTable.snapshot(s, root))
            .withColumn("files_folded",
              lit(folded.nonEmpty && filesAfterFold < filesBefore))
            .withColumn("state_unchanged", lit(before == after))
            .withColumn("old_read_refused", lit(oldReadRefused))
            .withColumn("garbage_deleted", lit(garbageGone))
        }
      },
      Some(s"""WITH upd AS (
             |  SELECT o_orderkey, 'U' AS o_orderstatus,
             |         o_totalprice + 1.0 AS o_totalprice,
             |         (o_orderkey % ${2 * KeyMod} = 0) AS deleted
             |  FROM orders WHERE o_orderkey % $KeyMod = 0),
             |merged AS (
             |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
             |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
             |  UNION ALL
             |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM upd
             |  WHERE NOT deleted)
             |SELECT o_orderstatus AS status, $summaryCols,
             |  TRUE AS files_folded, TRUE AS state_unchanged,
             |  TRUE AS old_read_refused, TRUE AS garbage_deleted
             |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = "OPTIMIZE + ZORDER + VACUUM over a trickle-ingested table: state bit-stable across both rewrites, floor refusal and physical delete pinned as contract columns"),
  )

  /** Fixed lookup range for `lake_point_lookup` — inside every SF's key
    * span (orderkeys are ~4× the order count, so sf0.001 reaches ~6000). */
  private val RangeLo = 1000L
  private val RangeHi = 2999L
}
