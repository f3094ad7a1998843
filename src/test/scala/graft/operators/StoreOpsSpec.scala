package graft.operators

import graft.SparkSpec
import java.nio.file.Files
import org.apache.hadoop.fs.Path

/** The crash-safe swap under the small parquet stores (the checkpoint
  * log's versions, MergeTable's vacuum floor): a store torn between
  * [[StoreOps.replaceWith]]'s two renames must heal on first touch, and
  * a reader must wait out a live swap instead of healing under it. */
class StoreOpsSpec extends SparkSpec {

  import spark.implicits._

  private def store(name: String): String =
    Files.createTempDirectory(s"graft_store_$name").toString + "/s"

  test("a torn swap is healed by a read, a write and the next swap") {
    // replaceWith dying between `rename(dst, prev)` and `rename(staged,
    // dst)` leaves dst gone and prev holding the ONLY copy
    val path = store("crash")
    val dst = new Path(path)
    val prev = new Path(path + "_prev")
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def tear(): Unit = assert(fs.rename(dst, prev), "crash setup rename failed")
    def rows = spark.read.parquet(path).as[(Long, Long)].collect().toSet
    Seq((1L, 100L)).toDF("k", "v").write.parquet(path)

    // a leftover prev BESIDE an intact store is a finished swap's
    // garbage, never restored over live data
    assert(fs.mkdirs(prev))
    assert(!StoreOps.recoverInterrupted(spark, path))
    assert(rows == Set((1L, 100L)))
    assert(fs.delete(prev, true))

    // the read path restores prev
    tear()
    assert(StoreOps.recoverInterrupted(spark, path, StoreOps.ReadHealGraceMs))
    assert(fs.exists(dst) && !fs.exists(prev))
    assert(rows == Set((1L, 100L)))

    // a writer heals before reading the stored max: its version layers
    // on the restored log, not on an empty one
    val future = System.currentTimeMillis() + 3600000L
    Seq((2L, future)).toDF("k", "v").write.mode("append").parquet(path)
    tear()
    assert(StoreOps.nextVersion(spark, path, "v") == future + 1)
    assert(fs.exists(dst) && !fs.exists(prev))

    // the next swap heals first: its prev-delete would otherwise
    // destroy the only copy and its first rename would fail
    tear()
    StoreOps.replaceWith(spark, path, Seq((3L, 300L)).toDF("k", "v"))
    assert(rows == Set((3L, 300L)))
    assert(!fs.exists(prev) && !fs.exists(new Path(path + "_staged")))
  }

  test("grace-gated read heal: a live swap is waited out, a crash healed") {
    // A LIVE replaceWith exposes the same (prev present, dst absent)
    // state between its two renames as a crash does. A reader healing
    // inside that window renames prev back under the swapper — so the
    // read path re-checks across a grace window and only heals a state
    // that stays torn (i.e. a crash). Simulate the in-flight case with a
    // thread that completes the "swap" mid-grace.
    val path = store("grace")
    Seq((7L, 1L)).toDF("k", "v").write.parquet(path)
    val dst = new Path(path)
    val prev = new Path(path + "_prev")
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)

    assert(fs.rename(dst, prev), "swap-window setup rename failed")
    val swapper = new Thread(() => { Thread.sleep(60L); fs.rename(prev, dst); () })
    swapper.start()
    // must NOT heal: the torn state resolves itself inside the grace
    assert(!StoreOps.recoverInterrupted(spark, path, graceMs = 2000L))
    swapper.join()
    assert(fs.exists(dst) && !fs.exists(prev))

    // a state that STAYS torn for the whole grace window is a crash: heal
    assert(fs.rename(dst, prev))
    assert(StoreOps.recoverInterrupted(spark, path, StoreOps.ReadHealGraceMs))
    assert(fs.exists(dst) && !fs.exists(prev))
    assert(spark.read.parquet(path).as[(Long, Long)].collect().toSeq == Seq((7L, 1L)))
  }

  test("back-to-back writes get strictly increasing versions") {
    // two writes inside one millisecond would tie on wall clock alone,
    // and a last-write-wins read would then fall to its column tiebreak
    val path = store("mono")
    val vs = (1L to 3L).map { i =>
      val v = StoreOps.nextVersion(spark, path, "v")
      Seq((i, v)).toDF("k", "v").write.mode("append").parquet(path)
      v
    }
    assert(vs.sliding(2).forall { case Seq(a, b) => a < b }, vs)
  }
}
