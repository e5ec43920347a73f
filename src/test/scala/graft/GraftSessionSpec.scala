package graft

import org.apache.spark.sql.internal.SQLConf

/** The session factory: what it sets, and the Spark defaults it relies
  * on instead of restating them. */
class GraftSessionSpec extends SparkSpec {

  test("the factory session: UTC, nanosAsLong, non-ANSI, no UI, shuffle partitions = cpus") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.conf.get("spark.sql.ansi.enabled") == "false")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.sparkContext.defaultParallelism == 4)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
  }

  test("all graft SQL functions resolve through the extension, without register") {
    // a fresh session's function registry starts from the built-ins plus
    // the injected extensions, so a register() call on the shared test
    // session cannot leak into it
    val fresh = spark.newSession()
    val names = GraftFunctions.descriptors.map(_._1)
    assert(names.size == 9)
    names.foreach { n =>
      assert(fresh.catalog.functionExists(n), s"$n does not resolve")
    }
    assert(fresh.sql("SELECT vec_dot(array(1.0d, 2.0d), array(3.0d, 4.0d))")
      .head().getDouble(0) == 11.0)
  }

  test("a second create() returns the same session") {
    assert(GraftSession.create(cpus = 4) eq spark)
  }

  test("the settings the factory no longer restates still read Spark's defaults") {
    // a Spark upgrade that changes one of these defaults fails here
    val conf = spark.sessionState.conf
    assert(conf.getConf(SQLConf.ADAPTIVE_EXECUTION_ENABLED))
    assert(conf.getConf(SQLConf.COALESCE_PARTITIONS_ENABLED))
    assert(conf.getConf(SQLConf.SKEW_JOIN_ENABLED))
    assert(conf.getConf(SQLConf.RUNTIME_BLOOM_FILTER_ENABLED))
    assert(conf.getConf(SQLConf.FILES_MAX_PARTITION_BYTES) == 128L * 1024 * 1024)
  }
}
