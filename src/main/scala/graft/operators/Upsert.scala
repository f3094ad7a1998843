package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Upsert semantics on an append-only store (SURVEY.md §7.4 risk 8).
  *
  * The reference's `INSERT … ON CONFLICT (event_id) DO UPDATE SET
  * raw_payload, updated_at` (warehouse.rs:220-231) is last-write-wins per
  * key. Plain `dropDuplicates(key)` keeps an ARBITRARY row — correct only
  * while replays are byte-identical. When a replay can carry a changed
  * payload, resolve each key to its latest version explicitly before the
  * partition overwrite.
  */
object Upsert {

  /** Keep exactly the newest row per key: `versionCol` descending, then
    * EVERY remaining column descending as the tiebreak — a total order,
    * so version ties resolve deterministically instead of by shuffle
    * arrival (the nondeterminism this operator exists to remove). One
    * shuffle on the key — the same cost dropDuplicates pays, but with
    * defined semantics.
    *
    * Unorderable columns (maps) tiebreak through their canonical string
    * cast instead of directly: `orderBy(mapCol)` fails analysis, and
    * this operator is the generic sink primitive — it must accept every
    * schema `dropDuplicates` would. The cast is a pure function of the
    * row, so the order stays total and deterministic (two rows differing
    * only in map ENTRY ORDER rank by their rendered forms — arbitrary
    * but stable, exactly the contract version ties need).
    *
    * NULL keys pass through UNFOLDED: `ON CONFLICT (key)` never fires
    * on NULL (SQL null semantics — no two NULLs conflict), so every
    * null-key row is its own insert. The window partitions all NULL
    * keys together, so folding them would keep exactly one and silently
    * DROP rows the MERGE layer downstream (whose contract is "a null
    * update key matches nothing — pure insert") would have kept. */
  def lastWriteWins(df: DataFrame, key: String, versionCol: String): DataFrame = {
    val tiebreak = df.schema.fields
      .filterNot(f => f.name == key || f.name == versionCol)
      .map { f =>
        if (org.apache.spark.sql.catalyst.expressions.RowOrdering
            .isOrderable(f.dataType)) col(f.name).desc
        else col(f.name).cast("string").desc
      }
    val w = Window.partitionBy(col(key))
      .orderBy(col(versionCol).desc +: tiebreak.toIndexedSeq: _*)
    df.withColumn("__graft_rn", row_number().over(w))
      .filter(col("__graft_rn") === 1 || col(key).isNull)
      .drop("__graft_rn")
  }
}
