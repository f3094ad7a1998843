package graft.sources

import graft.SparkSpec
import graft.ingest.{Backfill, Parse}
import org.apache.spark.sql.streaming.Trigger

class BlockSourceSpec extends SparkSpec {

  test("reads the slot range with workers-way partitioning") {
    // plan only: the micro-batch planner splits [1, 101) into 4
    // contiguous ranges that cover it exactly
    val stream = new BlockMicroBatchStream(1L, 101L, 4, 1000L, None)
    val parts = stream.planInputPartitions(SlotOffset(1L), SlotOffset(101L))
      .map(_.asInstanceOf[SlotRangePartition]).toSeq
    assert(parts == Seq(SlotRangePartition(1, 26), SlotRangePartition(26, 51),
      SlotRangePartition(51, 76), SlotRangePartition(76, 101)))
    // a range narrower than `workers` plans one partition per slot, an
    // empty one none
    assert(stream.planInputPartitions(SlotOffset(5L), SlotOffset(7L)).length == 2)
    assert(stream.planInputPartitions(SlotOffset(9L), SlotOffset(9L)).isEmpty)
  }

  test("DSv2 source feeds the parse pipeline identically to fetchRange") {
    // drain [1, 51) through the micro-batch source, then parse it: the
    // same events the batch fetchRange yields
    spark.readStream.format("graft.sources.BlockSource")
      .option("startSlot", 1).option("tipSlot", 51).option("workers", 4).load()
      .writeStream.format("memory").queryName("dsv2_blocks")
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()
    val viaSource = Parse.parse(spark.table("dsv2_blocks"))
    val viaRange = Parse.parse(Backfill.fetchRange(spark, 1, 51, workers = 4))
    assert(viaSource.count() == viaRange.count())
    val a = viaSource.select("event_id").collect().map(_.getString(0)).sorted
    val b = viaRange.select("event_id").collect().map(_.getString(0)).sorted
    assert(a.sameElements(b))
  }

  test("RateLimiter enforces the 1/rate cadence between fetches") {
    // deterministic virtual clock: park() is the only thing advancing time
    var now = 0L
    val parked = scala.collection.mutable.ArrayBuffer.empty[Long]
    val rl = new RateLimiter(100.0, // 100 req/s → 10ms interval
      nanoTime = () => now,
      park = n => { parked += n; now += n })
    val waits = (1 to 10).map(_ => rl.acquire())
    assert(waits.head == 0L)                        // first permit is free
    assert(waits.tail.forall(_ == 10000000L))       // then strict 10ms pacing
    assert(parked.sum == 9L * 10000000L)
    // rate ≤ 0 disables pacing entirely
    val off = new RateLimiter(0.0, () => fail("clock must not be read"),
      _ => fail("must not park"))
    assert((1 to 5).map(_ => off.acquire()).forall(_ == 0L))
  }

  test("rate-limited read returns identical rows and actually paces") {
    // 1 worker at 100 req/s over the stub: every HTTP attempt, a 429'd
    // first attempt included, waits for its own 10 ms permit. (A loopback
    // round trip can take ~2 ms, so at a 1 ms permit the limiter would
    // never bind and this test could not tell pacing from none.)
    val intervalMs = 10L
    val slots = 1L until 41L
    val throttled = slots.filter(_ % 4 == 0).toSet
    val arrivals = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]
    RpcStub.withStub {
      case ("getBlock", Some(s), n) =>
        arrivals.add(System.nanoTime())
        if (n == 0 && throttled(s)) Left(429 -> "busy")
        else Right(Backfill.syntheticBlock(s).getOrElse("null"))
      case other => fail(s"unexpected: $other")
    } { url =>
      val raw = spark.readStream.format("graft.sources.BlockSource")
        .option("startSlot", slots.head).option("tipSlot", slots.last + 1)
        .option("workers", 1)
        .options(RpcConfig.toOptions(RpcConfig(url, maxRetries = 1,
          ratePerSec = 1000.0 / intervalMs, retryBaseMs = 0L)))
        .load()
      val t0 = System.nanoTime()
      raw.writeStream.format("memory").queryName("paced_blocks")
        .trigger(Trigger.AvailableNow())
        .start().awaitTermination()
      val elapsedMs = (System.nanoTime() - t0) / 1e6
      // the client re-serializes each block, so compare JSON trees
      val json = new com.fasterxml.jackson.databind.ObjectMapper
      val got = spark.table("paced_blocks").collect()
        .map(r => r.getLong(0) -> json.readTree(r.getString(1))).sortBy(_._1).toSeq
      assert(got == slots.flatMap(s =>
        Backfill.syntheticBlock(s).map(b => s -> json.readTree(b))))
      val attempts = slots.size + throttled.size
      assert(arrivals.size == attempts)
      assert(elapsedMs >= (attempts - 1) * intervalMs,
        f"pacing not enforced: $elapsedMs%.0f ms for $attempts attempts")
      // the same bound at the stub, where Spark's own overhead cannot
      // pad it: from the 2nd arrival (the 1st pays connection set-up)
      // to the last, one interval of slack for arrival jitter. Retries
      // riding free would land one interval short per throttled slot.
      val arr = arrivals.toArray.map(_.asInstanceOf[java.lang.Long].longValue).sorted
      val spanMs = (arr.last - arr(1)) / 1e6
      assert(spanMs >= (attempts - 3) * intervalMs,
        f"attempts not paced one permit each: $spanMs%.0f ms between " +
          s"${attempts - 1} arrivals at $intervalMs ms")
    }
  }
}
