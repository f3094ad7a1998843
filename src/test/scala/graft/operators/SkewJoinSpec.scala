package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SkewJoinSpec extends SparkSpec {

  import spark.implicits._

  test("saltedJoin ≡ plain join on skewed data (90% one key)") {
    val fact = spark.range(0, 10000)
      .select(when(col("id") % 10 =!= 0, "hot").otherwise(concat(lit("k"), col("id")))
        .as("key"), col("id").as("v"))
    val dim = Seq(("hot", "H"), ("k0", "A"), ("k10", "B")).toDF("key", "name")

    val plain = fact.join(dim, Seq("key")).groupBy("key", "name")
      .agg(count(lit(1)).as("n"), sum("v").as("s"))
    val salted = SkewJoin.saltedJoin(fact, dim, "key", salts = 8)
      .groupBy("key", "name").agg(count(lit(1)).as("n"), sum("v").as("s"))

    val p = plain.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val s = salted.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(p == s && p.nonEmpty)
  }
}
