package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew mitigation for hot keys (the builder-prompt scale checklist:
  * "skewed keys → salting or AQE skew-join").
  *
  * AQE's skew-join split (on by default in Spark 4) covers
  * sort-merge joins at runtime; this helper covers the case AQE does
  * not: a skewed AGGREGATION (one reducer owns the hot key). It is a
  * pure plan rewrite — deterministic results, no sampling.
  */
object Skew {

  /** Two-phase (salted) aggregation: rows spread over `buckets`
    * sub-keys, partially aggregated, then finally aggregated on the
    * real key. Works for any algebraic aggregate expressed as
    * (partial, merge) pairs; the common count/sum case is prebuilt. */
  def saltedSumCount(df: DataFrame, keys: Seq[String], valueCol: String,
      buckets: Int = 32): DataFrame = {
    val salted = df.withColumn("__salt", pmod(monotonically_increasing_id(), lit(buckets.toLong)))
    val partial = salted
      .groupBy((keys.map(col) :+ col("__salt")): _*)
      .agg(count(lit(1)).as("__n"), sum(col(valueCol)).as("__s"))
    partial
      .groupBy(keys.map(col): _*)
      .agg(sum(col("__n")).as("n"), sum(col("__s")).as(s"sum_$valueCol"))
  }
}
