package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-mitigation join utilities for the 100 TB posture (SURVEY.md §4,
  * builder prompt: "Skewed keys → salting or AQE skew-join").
  *
  * First line of defense is AQE's runtime skew-join splitting
  * (`spark.sql.adaptive.skewJoin.enabled`, on by default with AQE) —
  * free and preferred. Salting is the explicit fallback for the case
  * AQE can't fix: a sort-merge join whose single hot key exceeds the
  * split threshold inside ONE partition.
  */
object SkewJoin {

  /** Replicated-dimension salted equi-join: fact rows scatter across
    * `salts` sub-keys (deterministic spread from a row hash), the dim
    * side replicates ×`salts` — the hot key's rows land on `salts`
    * different reducers instead of one. Result multiset is identical to
    * the plain inner join. */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String, salts: Int): DataFrame = {
    require(salts > 0)
    val saltCol = pmod(hash(fact.columns.map(col).toIndexedSeq: _*), lit(salts))
    val saltedFact = fact.withColumn("__graft_salt", saltCol)
    val saltedDim = dim.withColumn("__graft_salt",
      explode(array((0 until salts).map(lit(_)): _*)))
    saltedFact.join(saltedDim, Seq(key, "__graft_salt")).drop("__graft_salt")
  }
}
