package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew mitigation for joins whose key distribution is heavy-tailed.
  *
  * AQE's skew-join split (spark.sql.adaptive.skewJoin, on in our sessions)
  * handles sort-merge skew at runtime; `saltedJoin` is the explicit
  * pre-planned variant for when one side is small enough to replicate:
  * the big side scatters each key over `salt` sub-keys (deterministic hash
  * of the whole row), the small side is replicated `salt` times, so a hot
  * key's rows land on `salt` different reducers instead of one.
  *
  * 100 TB posture: replication factor is `salt × |small|` — choose salt ≈
  * (hottest-key rows / rows-per-task); the big side is never replicated.
  */
object Skew {

  private val SaltCol = "__graft_salt"

  /** Inner/left equi-join with the big side salted and the small side
    * replicated. Result equals `big.join(small, keys, joinType)` row-for-row.
    */
  def saltedJoin(
      big: DataFrame,
      small: DataFrame,
      keys: Seq[String],
      salt: Int,
      joinType: String = "inner"): DataFrame = {
    require(salt > 0, "salt must be positive")
    require(Seq("inner", "left", "left_outer").contains(joinType),
      s"salting replicates the small side — '$joinType' would duplicate unmatched rows")
    val saltedBig = big.withColumn(
      SaltCol, pmod(xxhash64(struct(big.columns.map(col).toSeq: _*)), lit(salt)))
    val replicatedSmall = small.withColumn(
      SaltCol, explode(sequence(lit(0L), lit(salt - 1L))))
    saltedBig.join(replicatedSmall, keys :+ SaltCol, joinType).drop(SaltCol)
  }

  /** Top-N heaviest keys of `df` by `keys` — the measurement that decides
    * whether salting (or AQE alone) is warranted.
    */
  def keyHistogram(df: DataFrame, keys: Seq[String], topN: Int = 20): DataFrame =
    df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc)
      .limit(topN)
}
