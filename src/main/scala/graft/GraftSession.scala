package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: every main, tool and spec builds its
  * session here, so results never depend on which entry point built it.
  *
  * It sets only what differs from Spark's defaults:
  *   - `local[cpus]` with `spark.sql.shuffle.partitions = cpus`;
  *   - UTC session time zone (dates and timestamps match the oracle);
  *   - `legacy.parquet.nanosAsLong` (the testdata's nanosecond events
  *     column reads as Long; [[Tables.events]] normalizes it);
  *   - `ansi.enabled=false` (Spark 4's ANSI default has not been run
  *     against the spec suite);
  *   - the UI off;
  *   - `spark.sql.extensions` = [[GraftExtensions]], so the native SQL
  *     functions resolve without a [[GraftFunctions.register]] call.
  *
  * AQE, its partition coalescing and skew-join split, the runtime bloom
  * filter and the 128 MiB file split are Spark 4 defaults and are not
  * restated (GraftSessionSpec pins them).
  *
  * `cpus` defaults to `$SPARK_GRAFT_CPUS`, else the JVM's available
  * processors. Static settings apply only to the first session of a
  * JVM: a second call returns that session.
  */
object GraftSession {
  private def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def create(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
