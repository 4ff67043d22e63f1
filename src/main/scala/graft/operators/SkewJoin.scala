package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-mitigation join: salt the skewed (large) side, replicate the
  * small side across the salt domain, join on (key, salt).
  *
  * AQE's skew-join handles storage-level skew at runtime; explicit
  * salting is still the right tool when one KEY dominates (AQE can split
  * partitions but a single hot key still lands in one task without a
  * salt). The salt is a deterministic hash of stable columns — NOT
  * rand() — so replays and retries produce identical partitioning
  * (deterministic tasks are a correctness requirement under speculative
  * execution).
  */
object SkewJoin {

  /** Inner-join `big ⋈ small` on `key`, spreading each of big's keys
    * over `saltBuckets` buckets. `saltSource` picks the stable columns
    * hashed into the salt (must be non-null, e.g. the row's unique id).
    */
  def saltedJoin(
      big: DataFrame,
      small: DataFrame,
      key: String,
      saltSource: Seq[String],
      saltBuckets: Int): DataFrame = {
    val salted = big.withColumn(
      "__salt", pmod(hash(saltSource.map(col): _*), lit(saltBuckets)))
    val replicated = small.withColumn(
      "__salt", explode(sequence(lit(0), lit(saltBuckets - 1))))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }
}
