package graft.operators

import graft.SparkSpec

class UpsertSpec extends SparkSpec {

  import spark.implicits._

  test("lastWriteWins keeps exactly the newest row per key") {
    val df = Seq(
      ("e1", 1L, "old"), ("e1", 3L, "newest"), ("e1", 2L, "mid"),
      ("e2", 5L, "only")).toDF("event_id", "updated_at", "payload")
    val got = Upsert.lastWriteWins(df, "event_id", "updated_at")
      .select("event_id", "payload").as[(String, String)].collect().toMap
    assert(got == Map("e1" -> "newest", "e2" -> "only"))
  }

  test("version ties resolve deterministically via the column tiebreak") {
    val df = Seq(
      ("e1", 5L, "alpha"), ("e1", 5L, "zeta"), ("e1", 4L, "newer-version-wins-first"))
      .toDF("event_id", "updated_at", "payload")
    // repeated runs under different partitioning must agree
    val results = (1 to 3).map { p =>
      Upsert.lastWriteWins(df.repartition(p * 2), "event_id", "updated_at")
        .select("payload").as[String].collect().toSeq
    }
    assert(results.distinct.size == 1, results)
    assert(results.head == Seq("zeta")) // desc tiebreak on payload
  }

  test("lastWriteWins accepts unorderable (map) payload columns") {
    // the generic sink primitive must take every schema dropDuplicates
    // would — a direct orderBy on a map column fails analysis
    val df = Seq(
      ("e1", 2L, Map("a" -> 1)), ("e1", 1L, Map("b" -> 2)),
      ("e2", 1L, Map("c" -> 3)))
      .toDF("event_id", "updated_at", "props")
    val got = Upsert.lastWriteWins(df, "event_id", "updated_at")
      .select("event_id", "updated_at").as[(String, Long)].collect().toMap
    assert(got == Map("e1" -> 2L, "e2" -> 1L))

    // version TIES among rows differing only in the map still resolve
    // deterministically (via the canonical string cast), independent of
    // partitioning
    val tied = Seq(
      ("e1", 5L, Map("x" -> 1)), ("e1", 5L, Map("y" -> 9)))
      .toDF("event_id", "updated_at", "props")
    val results = (1 to 3).map { p =>
      Upsert.lastWriteWins(tied.repartition(p * 2), "event_id", "updated_at")
        .select("props").as[Map[String, Int]].collect().toSeq
    }
    assert(results.distinct.size == 1, results)
    assert(results.head == Seq(Map("y" -> 9))) // "{y -> 9}" > "{x -> 1}"
  }

  test("NULL keys never conflict: every null-key row passes through unfolded") {
    // SQL ON CONFLICT (key) semantics — no two NULLs conflict, so each
    // null-key row is its own insert; folding them would silently drop
    // rows the MERGE layer (null key = pure insert) would have kept
    val df = Seq(
      (Option("e1"), 1L, "old"), (Option("e1"), 2L, "new"),
      (Option.empty[String], 5L, "n1"), (Option.empty[String], 6L, "n2"))
      .toDF("event_id", "updated_at", "payload")
    val got = Upsert.lastWriteWins(df, "event_id", "updated_at")
      .select("payload").as[String].collect().toSet
    assert(got == Set("new", "n1", "n2"))
  }
}
