package graft.link

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Explicit skew-salted equi-join (north rule: "skew salting on hot
  * triggers").
  *
  * When the build side is small, `broadcast()` defuses skew outright (the
  * engine's default for canonical-form and block→canonical maps). This
  * utility covers the remaining case: BOTH sides too large to broadcast
  * and the probe side skewed on a few hot keys. The skewed side gets a
  * random-but-deterministic salt in [0, S); the other side is replicated
  * S× with every salt; the join key becomes (key, salt), spreading each
  * hot key over S reducers.
  *
  * AQE's skew-join splitting (spark.sql.adaptive.skewJoin) handles most of
  * this at runtime; the explicit form exists for engines/configs where AQE
  * is off and as the documented, testable technique.
  */
object SkewJoin {

  /** Equi-join of `skewed` and `other` on `keys`, salted S ways.
    * Deterministic: the salt is a hash of the skewed row's salt-source
    * columns, not a random number. Works for "inner" and "left" (the
    * replicated side carries every salt value, so a key that matches
    * matches exactly its salt copy and a key that doesn't stays null). */
  def saltedJoin(skewed: DataFrame, other: DataFrame, keys: Seq[String],
      salts: Int, saltSource: Seq[String],
      joinType: String = "inner"): DataFrame = {
    val saltCol = pmod(hash(saltSource.map(col): _*), lit(salts))
    val left = skewed.withColumn("__salt", saltCol)
    val right = other.withColumn("__salt",
      explode(typedlit(Seq.range(0, salts))))
    left.join(right, keys :+ "__salt", joinType).drop("__salt")
  }

  def saltedJoin(skewed: DataFrame, other: DataFrame, key: String,
      salts: Int, saltSource: Seq[String]): DataFrame =
    saltedJoin(skewed, other, Seq(key), salts, saltSource)

  /** `spark.graft.maxBroadcastRows` (default 1M): the largest build side
    * [[gatedJoin]] broadcasts, and the largest canonical-form map
    * `Canonicalize.canonicalFormsCounted` returns as a local relation. */
  def maxBroadcastRows(spark: SparkSession): Long =
    spark.conf.get("spark.graft.maxBroadcastRows", "1000000").toLong

  /** The scale gate replacing unconditional `broadcast(small)`: broadcast
    * while the build side is provably small, salted shuffle join once it
    * is not (a canonical-form or block→canonical map grows with the
    * corpus at 10^12 files — an unconditional broadcast OOMs the driver
    * at 100× scale).
    *
    * When the caller already holds an upper bound on the build side's
    * cardinality (e.g. the block→canonical map has at most one row per
    * event, and the event count was just materialized), pass it as
    * `smallUpperBound`: a bound under the threshold resolves the gate
    * WITHOUT the extra count() job — the gate then costs nothing on the
    * serial path. Otherwise `small` should be cached by the caller, since
    * the gate counts it. */
  def gatedJoin(big: DataFrame, small: DataFrame, keys: Seq[String],
      saltSource: Seq[String], joinType: String = "inner",
      maxBroadcastRows: Long = 1000000L, salts: Int = 16,
      smallUpperBound: Long = Long.MaxValue): DataFrame =
    if (smallUpperBound <= maxBroadcastRows ||
        small.count() <= maxBroadcastRows)
      big.join(broadcast(small), keys, joinType)
    else saltedJoin(big, small, keys, salts, saltSource, joinType)
}
