package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-handling join: salt the skewed (large) side, replicate the
  * other side across the salt domain, join on (key, salt). AQE's
  * skew-join handles most cases at runtime; explicit salting remains
  * the tool when a handful of known-hot keys dominate (power-law keys
  * in 100 TB event data) or when AQE's thresholds don't trigger.
  */
object SaltedJoin {

  /** Inner-join `big` (skewed) with `small` on `key`, spreading each
    * key over `salts` buckets.
    */
  def join(big: DataFrame, small: DataFrame, key: String,
      salts: Int = 16): DataFrame = {
    val salted = big.withColumn("__salt",
      pmod(spark_partition_id() + monotonically_increasing_id(),
        lit(salts)).cast("int"))
    val replicated = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    salted.join(replicated, Seq(key, "__salt")).drop("__salt")
  }
}
