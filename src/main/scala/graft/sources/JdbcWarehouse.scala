package graft.sources

import java.util.Properties

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.jdbc.{JdbcDialect, JdbcDialects, JdbcType}
import org.apache.spark.sql.types.{DataType, StringType}

/** JDBC warehouse backend — the reference's REAL sink (Postgres via
  * sqlx: per-row `INSERT … ON CONFLICT` upserts inside one transaction,
  * /root/reference/src/warehouse.rs:41-139,201-249) re-expressed
  * Spark-first. This closes the S13 warehouse axis beyond file formats:
  * the same [[graft.ingest.Backfill]] pipeline lands in parquet, orc,
  * or a SQL database by swapping the sink value.
  *
  *  - READS go through `spark.read.jdbc` — slot-range predicates push
  *    down to the database's WHERE clause (the JDBC source reports
  *    pushed filters), so the replay guard's sink probe stays
  *    range-sized server-side, exactly like the parquet row-group
  *    pruning on the file path.
  *  - APPENDS use Spark's parallel JDBC writer: one batched INSERT
  *    stream per partition — the reference's per-chunk connection
  *    (backfill.rs:64-102) as executor-side parallelism. Idempotency
  *    is the caller's: both ingest verbs land through
  *    `Backfill.EventSink.write`, whose event-level anti-join stands in
  *    for the reference's `ON CONFLICT (event_id)` — colliding ids are
  *    byte-equal replays, so first-write-wins and last-write-wins leave
  *    the same rows.
  *
  * At 100 TB the analytic store is the lake ([[graft.operators.MergeTable]]);
  * a JDBC warehouse is the serving/metadata-sized sink the reference
  * actually shipped — bounded tables, not the fact corpus. The writer
  * parallelism (= partitions) is therefore what keeps a real database
  * from being connection-stormed: [[append]] caps it at
  * `maxConnections`, whatever the incoming frame's partitioning.
  */
object JdbcWarehouse {

  /** Derby maps Spark strings to CLOB by default — a type that refuses
    * equality predicates (breaking the replay guard's key anti-join)
    * and mismatches at `setNull` against VARCHAR-typed columns. A
    * registered dialect overrides the mapping everywhere at once
    * (CREATE DDL, writer bind types, reader getters) — the supported
    * Spark extension point (`JdbcDialects.registerDialect`), not a
    * per-write option. 32672 is Derby's max VARCHAR width. */
  private object DerbyVarcharDialect extends JdbcDialect {
    override def canHandle(url: String): Boolean =
      url.toLowerCase(java.util.Locale.ROOT).startsWith("jdbc:derby")
    // a registered dialect falls back to the COMMON JDBC mapping (not
    // the built-in DerbyDialect), so re-state Derby's own deviations
    // from common SQL alongside the VARCHAR override
    override def getJDBCType(dt: DataType): Option[JdbcType] = dt match {
      case StringType => Some(JdbcType("VARCHAR(32672)", java.sql.Types.VARCHAR))
      case org.apache.spark.sql.types.BooleanType =>
        Some(JdbcType("BOOLEAN", java.sql.Types.BOOLEAN))
      case org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.ByteType =>
        Some(JdbcType("SMALLINT", java.sql.Types.SMALLINT))
      case org.apache.spark.sql.types.FloatType =>
        Some(JdbcType("REAL", java.sql.Types.REAL))
      case org.apache.spark.sql.types.BinaryType =>
        Some(JdbcType("BLOB", java.sql.Types.BLOB))
      case _ => None // common JDBC mapping is Derby-valid for the rest
    }
  }

  @volatile private var registered = false
  private[sources] def ensureDialect(): Unit =
    if (!registered) synchronized {
      if (!registered) { JdbcDialects.registerDialect(DerbyVarcharDialect); registered = true }
    }

  /** SQLStates for "relation/table does not exist" across the dialects
    * this backend targets: 42X05 (Derby), 42P01 (Postgres), 42S02
    * (SQL standard / MySQL). */
  private val TableMissingStates = Set("42X05", "42P01", "42S02")

  /** Walks the cause chain for a table-not-found SQLException. */
  private[sources] def isTableMissing(e: Throwable): Boolean = {
    var t: Throwable = e
    while (t != null) {
      t match {
        case s: java.sql.SQLException
            if s.getSQLState != null &&
              TableMissingStates.contains(s.getSQLState) => return true
        case _ =>
      }
      t = if (t.getCause eq t) null else t.getCause
    }
    false
  }
}

/** @param createColumnTypes optional `createTableColumnTypes` clause for
  *   first-write table creation — for column-precise DDL (e.g.
  *   `"event_id VARCHAR(64)"`) where the dialect default is wider than
  *   a production table wants.
  * @param maxConnections the append's connection budget: each written
  *   partition opens one DB connection, so [[append]] caps the partition
  *   count at this value — a wide backfill or micro-batch (partitions =
  *   source parallelism) must not connection-storm the database. */
case class JdbcWarehouse(url: String, table: String,
    user: Option[String] = None, password: Option[String] = None,
    createColumnTypes: Option[String] = None,
    maxConnections: Int = 8) {

  private def props: Properties = {
    val p = new Properties()
    user.foreach(p.setProperty("user", _))
    password.foreach(p.setProperty("password", _))
    p
  }

  /** The sink's current rows, or None when the table does not exist
    * yet (first run) — the JDBC twin of `Backfill.FileSink.readIfAny`.
    *
    * ONLY table-absence maps to None: a transient error (connection
    * blip, lock timeout, permission change) must PROPAGATE — swallowed
    * into None it would silently disable the ingest replay guard and
    * duplicate every replayed event. */
  def readIfAny(spark: SparkSession): Option[DataFrame] =
    try {
      JdbcWarehouse.ensureDialect()
      val df = spark.read.jdbc(url, table, props)
      df.schema // force resolution: a missing table fails HERE
      Some(df)
    } catch {
      case e: Exception if JdbcWarehouse.isTableMissing(e) => None
    }

  /** Parallel batched append (no conflict handling — callers guard with
    * the event-level anti-join, as on the file path). The writer's
    * `numPartitions` option coalesces a wider frame down to
    * `maxConnections` before it opens any connection; coalesce only
    * ever decreases the count, so a frame inside the budget keeps its
    * layout. */
  def append(df: DataFrame): Unit = {
    JdbcWarehouse.ensureDialect()
    val w = df.write.mode(SaveMode.Append)
      .option("numPartitions", math.max(1, maxConnections).toLong)
    createColumnTypes.fold(w)(w.option("createTableColumnTypes", _))
      .jdbc(url, table, props)
  }
}
