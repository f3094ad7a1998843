package graft.ext

import graft.SparkSpec
import org.apache.spark.TestBlocks
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The two pin lifecycles. Lineage-cut pins are executor-local by
  * default (localCheckpoint — no lineage, cheap), and
  * `spark.graft.reliablePins` routes the SAME call sites to a reliable
  * checkpoint that survives executor loss (VERDICT r16 §what's-wrong 4:
  * the 100 TB posture needs the recompute story as a switch, not a
  * rewrite). Scoped pins are persists: cache-on must equal cache-off,
  * lost blocks recompute, and no pin outlives its scope. */
class PinsSpec extends SparkSpec {

  import spark.implicits._

  test("default pin is executor-local and value-preserving") {
    val df = (1L to 100L).toDF("id").withColumn("v", col("id") * 2)
    val pinned = Pins.pin(df)
    assert(pinned.agg(sum(col("v"))).head().getLong(0) == 10100L)
    // localCheckpoint leaves no reliable checkpoint file behind
    assert(pinned.rdd.getCheckpointFile.isEmpty)
  }

  test("spark.graft.reliablePins routes the pin to a reliable checkpoint") {
    spark.conf.set("spark.graft.reliablePins", "true")
    try {
      val df = (1L to 100L).toDF("id").withColumn("v", col("id") * 3)
      val pinned = Pins.pin(df)
      // identical result through the reliable path
      assert(pinned.agg(sum(col("v"))).head().getLong(0) == 15150L)
      // a checkpoint dir was configured (under scratch when unset) and
      // the materialized pin persisted into it
      val dir = spark.sparkContext.getCheckpointDir
      assert(dir.isDefined, "reliable pin must configure a checkpoint dir")
      val p = new org.apache.hadoop.fs.Path(dir.get)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.exists(p) && fs.listStatus(p).nonEmpty,
        "reliable pin left no checkpoint data")
    } finally spark.conf.unset("spark.graft.reliablePins")
  }

  /** A frame whose every row evaluation in a task adds one to `calls`
    * (a range, not a local relation, which the optimizer would fold
    * while planning). */
  private def counted(calls: org.apache.spark.util.LongAccumulator): DataFrame = {
    val seen = udf { (id: Long) => calls.add(1); id }
    spark.range(1L, 101L, 1L, 4).select(seen(col("id")).as("id"))
      .withColumn("g", col("id") % 7)
  }

  /** How many blocks of the RDDs `ids` the executors hold. */
  private def stored(ids: Set[Int]): Int =
    ids.toSeq.map(TestBlocks.stored(spark.sparkContext, _)).sum

  private def sums(df: DataFrame): Set[Row] =
    df.groupBy(col("g")).agg(sum(col("id"))).collect().toSet

  test("scoped(df)(f) equals f(df) and leaves no pin behind") {
    val calls = spark.sparkContext.longAccumulator
    val df = counted(calls)
    val before = pins
    val (direct, viaPin) = (sums(df), Pins.scoped(df) { p =>
      assert(p.columns.toSeq == df.columns.toSeq)
      sums(p) ++ sums(p)
    })
    assert(viaPin == direct)
    // the unpinned run evaluated each row once, the pinned scope once for
    // both consumers
    assert(calls.value == 200L)
    assertNoNewPins(before)
  }

  test("a caller-pinned frame is used as is, keeps its level and stays pinned") {
    val mine = (1L to 100L).toDF("id").persist(StorageLevel.MEMORY_ONLY)
    try {
      val before = pins
      assert(Pins.scoped(mine) { p => assert(p eq mine); p.count() } == 100L)
      // neither re-pinned nor released: the caller's one plan, still built
      assert(mine.storageLevel == StorageLevel.MEMORY_ONLY)
      assert(pins._2 == before._2)
      assert(stored(pins._1 -- before._1) > 0)
    } finally mine.unpersist(blocking = true)
  }

  test("an exception thrown in use still releases the pin") {
    val before = pins
    val e = intercept[IllegalStateException](
      Pins.scoped((1L to 100L).toDF("id")) { p =>
        assert(p.count() == 100L)
        assert(pins._2 == before._2 + 1)
        throw new IllegalStateException("boom")
      })
    assert(e.getMessage == "boom")
    assertNoNewPins(before)
  }

  test("blocks removed mid-scope through the BlockManager recompute the same rows") {
    val calls = spark.sparkContext.longAccumulator
    val df = counted(calls)
    val want = sums(df)
    val before = pins
    Pins.scoped(df) { p =>
      assert(sums(p) == want)
      val built = calls.value
      val pinRdds = pins._1 -- before._1
      assert(stored(pinRdds) > 0)
      pinRdds.foreach(TestBlocks.removeRdd(spark.sparkContext, _))
      assert(stored(pinRdds) == 0)
      // lineage is kept: the lost pin recomputes every row, stores it
      // again, then serves
      assert(sums(p) == want)
      assert(calls.value == built + 100L)
      assert(stored(pinRdds) > 0)
      assert(sums(p) == want)
      assert(calls.value == built + 100L)
    }
    assertNoNewPins(before)
  }
}
