package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared mechanics for the small parquet stores: monotonic versioning
  * (the [[graft.ingest.Checkpoints]] log) and a crash-safe directory
  * swap with its heal ([[MergeTable]]'s vacuum floor).
  */
object StoreOps {

  /** Next strictly-monotonic version for a store at `path`: wall clock,
    * bumped past the stored max so same-millisecond writes and clock
    * skew still resolve in write order. */
  def nextVersion(spark: SparkSession, path: String, versionCol: String): Long = {
    recoverInterrupted(spark, path) // a writer must not layer onto a torn swap
    val prevMax: Long =
      try {
        val r = spark.read.parquet(path).agg(max(col(versionCol))).head()
        if (r.isNullAt(0)) 0L else r.getLong(0)
      } catch { case _: org.apache.spark.sql.AnalysisException => 0L }
    math.max(System.currentTimeMillis(), prevMax + 1)
  }

  /** Grace window for read-path healing (see [[recoverInterrupted]]):
    * long enough to outlive the two renames of an in-flight swap by
    * orders of magnitude, short enough that reading a genuinely crashed
    * store stays interactive. */
  val ReadHealGraceMs: Long = 250L

  /** Repair a store whose [[replaceWith]] swap was interrupted: a crash
    * between the two renames leaves `<path>_prev` holding the ONLY
    * complete copy while `path` itself is gone. Restore it by renaming
    * back. A leftover `prev` BESIDE an intact `path` is the opposite
    * case — a completed swap whose final cleanup didn't run — and must
    * be left for the next swap to delete, never restored over live data.
    * Called from every read/write entry point, so a torn store heals on
    * first touch instead of silently reading as empty (or, worse, the
    * next compaction snapshotting that emptiness and deleting `prev`,
    * the last copy).
    *
    * The torn state (`prev` present, `path` absent) is also what a
    * LIVE [[replaceWith]] exposes for the instant between its two
    * renames — READERS race with an in-flight compaction, not just a
    * crashed one. A reader healing inside that window would rename
    * `prev` back underneath the compactor, making its publish rename
    * fail spuriously (no data loss: its rollback then no-ops and `dst`
    * holds the old log, but the compaction aborts). Read paths
    * therefore pass `graceMs` > 0: re-check until the torn state has
    * outlived any plausible in-flight swap — two metadata renames,
    * micro- to milliseconds on any FS — before healing. Only a crash
    * leaves the state static that long. Writer entry points keep the
    * default 0: under the single-writer assumption no swap can be in
    * flight when a writer enters, so torn-at-entry means crashed.
    * @return true iff a restore happened */
  def recoverInterrupted(spark: SparkSession, path: String, graceMs: Long = 0L): Boolean = {
    val dst = new org.apache.hadoop.fs.Path(path)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prev = new org.apache.hadoop.fs.Path(path + "_prev")
    def torn = fs.exists(prev) && !fs.exists(dst)
    if (!torn) return false
    // The heal decision uses the LAST probe of the grace loop, never a
    // fresh re-probe after it: once any probe observes the state
    // resolved, a swap was in flight and completed — re-probing could
    // land inside a SECOND back-to-back swap's window and heal it with
    // zero grace, recreating the race the gate exists for. (A TOCTOU
    // sliver between the final probe and the rename remains — closing
    // it needs write fencing, not polling — but it requires a fresh
    // swap to begin within one probe period of a full grace expiry,
    // under a single writer running back-to-back compactions.)
    var stillTorn = true
    var waited = 0L
    while (stillTorn && waited < graceMs) {
      Thread.sleep(25L); waited += 25L
      stillTorn = torn
    }
    if (stillTorn) {
      if (!fs.rename(prev, dst))
        throw new java.io.IOException(s"recovery: could not restore $prev to $dst")
      true
    } else false
  }

  /** Replace the directory at `path` with `snapshot`, staged through a
    * sibling dir on the PATH'S OWN filesystem. The previous log is
    * renamed aside before the staged result renames in, and deleted only
    * after — so no crash point loses committed data: a crash mid-swap
    * leaves `<path>_prev` (and possibly `<path>_staged`) intact for
    * recovery. Maintenance op: assumes a single writer (concurrent
    * compactors of one store are out of scope, like VACUUM). */
  def replaceWith(spark: SparkSession, path: String, snapshot: DataFrame): Unit = {
    // heal a torn prior swap FIRST — the unconditional prev-delete below
    // would otherwise destroy the only surviving copy
    recoverInterrupted(spark, path)
    val dst = new org.apache.hadoop.fs.Path(path)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staged = new org.apache.hadoop.fs.Path(path + "_staged")
    val prev = new org.apache.hadoop.fs.Path(path + "_prev")
    snapshot.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(staged.toString)
    // prev here can only be a completed swap's leftover (see recovery)
    fs.delete(prev, true)
    if (!fs.rename(dst, prev))
      throw new java.io.IOException(s"compaction: could not stage $dst aside")
    if (!fs.rename(staged, dst)) {
      fs.rename(prev, dst) // roll back — the old log is still complete
      throw new java.io.IOException(s"compaction: could not publish $staged")
    }
    fs.delete(prev, true)
  }
}
