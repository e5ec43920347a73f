package graft.sources

import graft.SparkSpec
import graft.testutil.{Adm2Fixture, FileBuilders}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions.col

class DbfDataSourceSpec extends SparkSpec {

  test("spark.read.format(dbf): schema inference, rows, column pruning") {
    val bytes = FileBuilders.dbf(
      fields = Seq(("NAME", 12), ("PROV", 12)),
      records = Seq(Seq("เมือง", "เชียงใหม่"), Seq("ฝาง", "เชียงใหม่")))
    val p = Files.createTempFile("ds", ".dbf")
    Files.write(p, bytes)
    val df = spark.read.format("dbf").load(p.toString)
    assert(df.columns.toSeq == Seq("NAME", "PROV"))
    assert(df.count() == 2)
    val pruned = df.select("NAME").orderBy("NAME")
    assert(pruned.collect().map(_.getString(0)).toSeq == Seq("ฝาง", "เมือง"))
    // pruning reaches the scan (ReadSchema carries one column)
    val plan = pruned.queryExecution.sparkPlan.toString
    assert(plan.contains("NAME") )
    Files.delete(p)
  }

  test("reads the real ADM2 table through the scan path") {
    val real = "/root/reference/backend/storage/admin/tha_admbnda_adm2_rtsd_20220121.dbf"
    assume(Files.exists(Paths.get(real)))
    val df = spark.read.format("dbf").load(real)
    assert(df.count() == 928)
    assert(df.where(col("ADM1_EN") === "Chiang Mai").count() == 25)
  }

  test("reads a generated ADM2 table through the scan path") {
    val p = Adm2Fixture.write()
    try {
      val df = spark.read.format("dbf").load(p)
      assert(df.count() == Adm2Fixture.Provinces.map(_._3.size).sum)
      assert(df.where(col("ADM1_EN") === "Chiang Mai").count() ==
        Adm2Fixture.ChiangMaiDistricts)
    } finally Files.delete(Paths.get(p))
  }
}
