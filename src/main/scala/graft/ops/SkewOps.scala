package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew mitigation utilities. AQE's skew-join handling (enabled by
  * default in GraftSession) covers sort-merge joins at runtime; manual
  * salting remains the tool when one side must be replicated under a
  * hot key — e.g. joining per-event data against a dimension where a
  * handful of keys dominate (the classic 100 TB failure mode: one
  * straggler task holding the hot key's entire partition).
  */
object SkewOps {

  /** Salted equi-join: the skewed (large) side gets a deterministic
    * per-row salt in [0, salts); the small side is replicated `salts`
    * times; the join key becomes (key, salt), spreading each hot key
    * over `salts` tasks. Output columns = the plain join's columns.
    *
    * @param big   the skewed fact side
    * @param small the side cheap enough to replicate `salts` times
    */
  def saltedJoin(
      big: DataFrame, small: DataFrame, key: String, salts: Int,
      joinType: String = "inner"): DataFrame = {
    require(salts > 0)
    // deterministic row salt: hash of all of the big side's columns
    val salted = big.withColumn("__salt",
      pmod(xxhash64(struct(big.columns.map(col).toSeq: _*)), lit(salts)).cast("int"))
    val replicated = small
      .withColumn("__salt", explode(array((0 until salts).map(lit): _*)))
    salted.join(replicated, Seq(key, "__salt"), joinType).drop("__salt")
  }

  /** Top-n most frequent values of a key — the diagnostic used to pick
    * salt factors (run it on a sample at scale).
    */
  def keyHistogram(df: DataFrame, key: String, topN: Int = 20): DataFrame =
    // ties break on the key ascending so top-n MEMBERSHIP is
    // deterministic (oracle contract, q125)
    df.groupBy(key).count()
      .orderBy(col("count").desc, col(key)).limit(topN)
}
