package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Best-effort recursive delete: `listFiles` can return null on an
    * I/O error and `delete` can fail on a racy/stale handle — either
    * must degrade to a LOGGED leftover for this one query, never an
    * NPE that aborts the remaining queries' dumps. */
  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteRecursively)
    if (!f.delete() && f.exists())
      System.err.println(s"[verify] stale path not removed: $f")
  }

  def main(args: Array[String]): Unit = {
    // optional 3rd arg (dev only): comma-separated query-name subset,
    // for fast differential iteration on a few queries
    if (args.length < 2) {
      System.err.println("usage: graft.Verify <sfDir> <outDir> [name,name,...]")
      sys.exit(2)
    }
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] = args.drop(2).headOption.map(_.split(",").toSet)
    val spark = LocalSession.build("graft-verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      val pinned = spark.sparkContext.getPersistentRDDs.keySet
      try {
        // drop any STALE dump first: a query that fails below must read
        // as "no spark output" downstream, not as its previous run's
        // passing parquet (which would mask the failure as green).
        // Inside the try: a delete failure degrades THIS query, not the
        // whole run — and the overwrite below still replaces the data.
        deleteRecursively(new java.io.File(s"$outDir/$name"))
        val df = fn(spark, sfDir)
        // oracle-paired outputs must honor the driver's scalar-only
        // boundary (see BoundaryContract) — fail the query loudly HERE
        // rather than red mysteriously at the driver's hash
        if (SparkEntry.oracleSql.contains(name))
          BoundaryContract.assertScalar(name, df.schema)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // a pin the query left behind is a leak that clearCache would hide
      val left = spark.sparkContext.getPersistentRDDs.filter { case (id, _) => !pinned(id) }
      if (left.nonEmpty)
        System.err.println(s"[verify] $name left persistent RDDs: ${left.values.mkString(", ")}")
      // per-query caches must not leak across entries; best-effort for
      // the same reason the query itself is — one degraded entry must
      // not abort the remaining queries' correctness dumps
      try spark.catalog.clearCache()
      catch { case e: Throwable =>
        System.err.println(s"[verify] clearCache after $name failed: ${e.getClass.getName}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
