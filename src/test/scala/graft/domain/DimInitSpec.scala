package graft.domain

import graft.SparkSpec
import graft.sources.DbfReader
import graft.testutil.{Adm2Fixture, FileBuilders}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

class DimInitSpec extends SparkSpec {
  import spark.implicits._

  private def adm2 = Seq(
    (0L, "Chiang Mai", "จังหวัดเชียงใหม่", "Muang Chiang Mai", "อำเภอเมืองเชียงใหม่"),
    (1L, "Chiang Mai", "จังหวัดเชียงใหม่", "Fang", "อำเภอฝาง"),
    (2L, "Nan", "จังหวัดน่าน", "Wieng Sa", "อำเภอเวียงสา"),
    (3L, "Bangkok", "กรุงเทพมหานคร", "Phra Nakhon", "เขตพระนคร"), // not northern
  ).toDF("_recno", "ADM1_EN", "ADM1_TH", "ADM2_EN", "ADM2_TH")

  test("seed from empty: cleaned names, file-order ids, northern scope") {
    val dims = DimInit.seed(spark, adm2,
      DimInit.emptyProvinces(spark), DimInit.emptyDistricts(spark))
    val provs = dims.provinces.orderBy("province_id").collect()
    assert(provs.map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq == Seq(
      (1, "เชียงใหม่", "Chiang Mai"), (2, "น่าน", "Nan")))
    val dists = dims.districts.orderBy("district_id").collect()
    // clean_text applied: Muang→Mueang, Wieng→Wiang, อำเภอ stripped
    assert(dists.map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getInt(3))).toSeq == Seq(
      (1, "เมืองเชียงใหม่", "Mueang Chiang Mai", 1),
      (2, "ฝาง", "Fang", 1),
      (3, "เวียงสา", "Wiang Sa", 2)))
  }

  test("re-seeding is idempotent; new rows continue ids") {
    val first = DimInit.seed(spark, adm2,
      DimInit.emptyProvinces(spark), DimInit.emptyDistricts(spark))
    val again = DimInit.seed(spark, adm2, first.provinces, first.districts)
    assert(again.provinces.count() == 2 && again.districts.count() == 3)

    val more = adm2.unionByName(
      Seq((4L, "Nan", "จังหวัดน่าน", "Pua", "อำเภอปัว"))
        .toDF("_recno", "ADM1_EN", "ADM1_TH", "ADM2_EN", "ADM2_TH"))
    val grown = DimInit.seed(spark, more, first.provinces, first.districts)
    val pua = grown.districts.where($"district_name_en" === "Pua").head()
    assert(pua.getInt(0) == 4 && pua.getInt(3) == 2)
  }

  test("seeds the real reference ADM2 table: 9 provinces, 112 districts") {
    val p = "/root/reference/backend/storage/admin/tha_admbnda_adm2_rtsd_20220121.dbf"
    assume(Files.exists(Paths.get(p)))
    val df = DbfReader.read(spark, p, withRecno = true)
    val dims = DimInit.seed(spark, df,
      DimInit.emptyProvinces(spark), DimInit.emptyDistricts(spark))
    assert(dims.provinces.count() == 9)
    assert(dims.districts.count() == 112)
    // spot-check Thai province names present and prefix-stripped
    val cm = dims.provinces.where($"province_name_en" === "Chiang Mai").head()
    assert(cm.getString(1) == "เชียงใหม่")
    // district ids are dense 1..112 in file order
    val ids = dims.districts.select("district_id").collect().map(_.getInt(0)).sorted
    assert(ids.head == 1 && ids.last == 112)
  }

  test("seeds a generated TIS-620 ADM2 file: northern scope, prefixes stripped, file-order ids") {
    // the fixture's rows with the unit prefixes the reference spells
    // out (จังหวัด / อำเภอ), read back through the default-charset reader
    val rows = for ((pEn, pTh, ds) <- Adm2Fixture.Provinces; (dEn, dTh) <- ds)
      yield Seq(pEn, s"จังหวัด$pTh", dEn, s"อำเภอ$dTh")
    val p = Files.createTempFile("adm2-prefixed", ".dbf")
    try {
      Files.write(p, FileBuilders.dbf(
        fields = Seq(("ADM1_EN", 40), ("ADM1_TH", 60), ("ADM2_EN", 50), ("ADM2_TH", 60)),
        records = rows))
      val df = DbfReader.read(spark, p.toString, withRecno = true)
      val dims = DimInit.seed(spark, df,
        DimInit.emptyProvinces(spark), DimInit.emptyDistricts(spark))
      assert(dims.provinces.count() == Adm2Fixture.NorthernProvinces)
      assert(dims.districts.count() == Adm2Fixture.NorthernDistricts)
      val cm = dims.provinces.where($"province_name_en" === "Chiang Mai").head()
      assert(cm.getString(1) == "เชียงใหม่")
      // district ids are dense 1..n in file order, Bangkok/Phuket skipped
      val northern = Adm2Fixture.Provinces
        .filterNot(p => Set("Bangkok", "Phuket")(p._1)).flatMap(_._3.map(_._2))
      val got = dims.districts.orderBy("district_id").collect()
        .map(r => (r.getInt(0), r.getString(1))).toSeq
      assert(got == northern.zipWithIndex.map { case (th, i) => (i + 1, th) })
    } finally Files.delete(p)
  }
}
