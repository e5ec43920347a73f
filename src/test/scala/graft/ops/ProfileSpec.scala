package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ProfileSpec extends SparkSpec {
  import spark.implicits._

  test("profile: nulls, exact ndv, typed min/max as strings, one row per column") {
    val d = Seq(
      (Option(3L), Option("b")),
      (Option(1L), Option("a")),
      (Option(10L), Option("a")),   // numeric min/max must be typed: 10 > 3
      (Option.empty[Long], Option.empty[String]))
      .toDF("id", "tag")
    val got = Profile.profile(d, Seq("id", "tag"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4), r.getString(5))).toSeq
    assert(got == Seq(
      ("id", 4L, 1L, 3L, "1", "10"),   // lexicographic would say max "3"
      ("tag", 4L, 1L, 2L, "a", "b")))
  }

  test("profile: missing column fails loudly") {
    val d = Seq((1L, "a")).toDF("id", "tag")
    val e = intercept[IllegalArgumentException] {
      Profile.profile(d, Seq("id", "nope"))
    }
    assert(e.getMessage.contains("nope"))
  }

  test("profile plan: one scan feeds every metric (no per-column passes)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-profile").toString
    try {
      Seq((1L, "a"), (2L, "b")).toDF("id", "tag")
        .write.mode("overwrite").parquet(s"$dir/t")
      val plan = Profile.profile(spark.read.parquet(s"$dir/t"), Seq("id", "tag"))
        .queryExecution.executedPlan.toString
      val scans = "Scan parquet".r.findAllIn(plan).size
      assert(scans == 1, s"profile reads the table $scans times, want 1")
    } finally deleteDir(dir)
  }

  private def deleteDir(dir: String): Unit = {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try walk.iterator().asScala.toSeq.reverse
      .foreach(f => java.nio.file.Files.deleteIfExists(f))
    finally walk.close()
  }
}
