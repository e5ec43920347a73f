package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs: the factory's session at
  * parallelism 4. Its SQL warehouse (BucketingSpec's `saveAsTable`) goes
  * to a temporary directory, passed as a `spark.*` system property,
  * which the session's SparkConf reads at creation. */
object TestSpark {
  lazy val spark: SparkSession = {
    System.setProperty("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-sql-wh").toString)
    GraftSession.create(cpus = 4)
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  spark.sparkContext.setLogLevel("ERROR")

  /** Recursive temp-dir cleanup for specs exercising persisted
    * artifacts — ONE definition (the idiom was copied into three specs
    * before this was hoisted). */
  protected def deleteRecursively(dir: String): Unit = {
    import scala.jdk.CollectionConverters._
    val w = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try w.sorted(java.util.Comparator.reverseOrder()).iterator().asScala
      .foreach(java.nio.file.Files.deleteIfExists(_))
    finally w.close()
  }
}
