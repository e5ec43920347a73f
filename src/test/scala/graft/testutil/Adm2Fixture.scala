package graft.testutil

import java.nio.file.{Files, Path}

/** A generated ADM2 attribute table in the layout of the reference's
  * `tha_admbnda_adm2_rtsd_20220121.dbf`: TIS-620 `ADM1_EN`/`ADM1_TH`/
  * `ADM2_EN`/`ADM2_TH` rows for the nine northern provinces, plus two
  * other provinces that dimension seeding must skip. */
object Adm2Fixture {

  /** (province EN, province TH, its districts as (EN, TH)), file order. */
  val Provinces: Seq[(String, String, Seq[(String, String)])] = Seq(
    ("Chiang Mai", "เชียงใหม่", Seq("Mueang Chiang Mai" -> "เมืองเชียงใหม่",
      "Fang" -> "ฝาง", "Mae Rim" -> "แม่ริม", "San Sai" -> "สันทราย")),
    ("Chiang Rai", "เชียงราย", Seq("Mueang Chiang Rai" -> "เมืองเชียงราย", "Mae Sai" -> "แม่สาย")),
    ("Bangkok", "กรุงเทพมหานคร", Seq("Phra Nakhon" -> "พระนคร", "Bang Rak" -> "บางรัก")),
    ("Lamphun", "ลำพูน", Seq("Mueang Lamphun" -> "เมืองลำพูน", "Pa Sang" -> "ป่าซาง")),
    ("Lampang", "ลำปาง", Seq("Mueang Lampang" -> "เมืองลำปาง", "Ko Kha" -> "เกาะคา")),
    ("Phayao", "พะเยา", Seq("Mueang Phayao" -> "เมืองพะเยา", "Chiang Kham" -> "เชียงคำ")),
    ("Phrae", "แพร่", Seq("Mueang Phrae" -> "เมืองแพร่", "Long" -> "ลอง")),
    ("Nan", "น่าน", Seq("Mueang Nan" -> "เมืองน่าน", "Wiang Sa" -> "เวียงสา")),
    ("Mae Hong Son", "แม่ฮ่องสอน", Seq("Mueang Mae Hong Son" -> "เมืองแม่ฮ่องสอน", "Pai" -> "ปาย")),
    ("Phuket", "ภูเก็ต", Seq("Mueang Phuket" -> "เมืองภูเก็ต", "Kathu" -> "กะทู้")),
    ("Uttaradit", "อุตรดิตถ์", Seq("Mueang Uttaradit" -> "เมืองอุตรดิตถ์", "Tha Pla" -> "ท่าปลา")))

  private val Others = Set("Bangkok", "Phuket")

  val NorthernProvinces: Int = Provinces.count(p => !Others(p._1))
  val NorthernDistricts: Int = Provinces.filterNot(p => Others(p._1)).map(_._3.size).sum
  val ChiangMaiDistricts: Int = Provinces.find(_._1 == "Chiang Mai").get._3.size

  /** The table as a temporary `.dbf` file; returns its path. */
  def write(): String = {
    val path: Path = Files.createTempFile("adm2", ".dbf")
    Files.write(path, FileBuilders.dbf(
      fields = Seq(("ADM1_EN", 40), ("ADM1_TH", 60), ("ADM2_EN", 50), ("ADM2_TH", 60)),
      records = for ((pEn, pTh, ds) <- Provinces; (dEn, dTh) <- ds) yield Seq(pEn, pTh, dEn, dTh)))
    path.toString
  }
}
