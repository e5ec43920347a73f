package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SkewSpec extends SparkSpec {

  // heavy skew: 90% of rows share one key
  private def skewed = spark.range(10000).select(
    when(col("id") % 10 =!= 0, "HOT").otherwise(concat(lit("k"), col("id") % 7)).as("key"),
    (col("id") % 100).cast("double").as("v"))

  test("saltedSumCount equals the plain aggregation") {
    val plain = skewed.groupBy("key")
      .agg(count(lit(1)).as("n"), sum("v").as("sum_v"))
      .orderBy("key").collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val salted = Skew.saltedSumCount(skewed, Seq("key"), "v", buckets = 8)
      .orderBy("key").collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(salted.toSeq == plain.toSeq)
  }
}
