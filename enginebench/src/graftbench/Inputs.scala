package graftbench

import java.nio.file.Path
import java.time.LocalDate
import scala.util.{Random, Try}

/** A generated risk-map DBF and the levels its rows must produce. */
final case class RiskFile(name: String, rows: Seq[Seq[String]], expected: Map[Int, Int])

/** A generated incident workbook and the per-(day, district) counts
  * its valid rows must produce. */
final case class IncidentFile(name: String, bytes: Array[Byte], validRows: Int,
    expected: Map[(Int, Int), Int], firstDay: Int, lastDay: Int)

/** Generators for the risk and incident uploads, and the plain-Scala
  * rules their checks recompute. */
object Inputs {

  val RiskFields = Seq("AMPHOE_T" -> 60, "PROV_NAM_T" -> 60, "CLASS" -> 20)
  // Thai and English level words, numbers in [0, 1] (thirds) and
  // numbers above 1 (rounded half-even, clamped to 1..3)
  private val ClassPool = Seq("สูง", "สูงมาก", "ปานกลาง", "ต่ำ", "ต่ำมาก", "high", "Medium", "LOW",
    "very high", "0.1", "0.5", "0.95", "2", "3", "1.6", "2.4")

  /** F4 `class_to_num`, restated: numbers in [0, 1] by strict-< thirds,
    * other numbers rounded half-even and clamped to 1..3, level words
    * by table, anything else unmapped. */
  def classNum(raw: String): Option[Int] = {
    val s = raw.trim
    Try(s.toDouble).toOption.filterNot(_.isNaN) match {
      case Some(v) if v >= 0.0 && v <= 1.0 => Some(if (v < 1.0 / 3.0) 1 else if (v < 2.0 / 3.0) 2 else 3)
      case Some(v) =>
        Some(math.max(1, math.min(3, BigDecimal(v).setScale(0, BigDecimal.RoundingMode.HALF_EVEN).toInt)))
      case None => s.toLowerCase match {
        case "ต่ำ" | "ต่ำมาก" | "low" | "very low" => Some(1)
        case "ปานกลาง" | "กลาง" | "medium" => Some(2)
        case "สูง" | "สูงมาก" | "high" | "very high" => Some(3)
        case _ => None
      }
    }
  }

  /** F5: mean class ≤ 1.5 → 1, ≤ 2.1 → 2, else 3. */
  def level(avg: Double): Int = if (avg <= 1.5) 1 else if (avg <= 2.1) 2 else 3

  /** A risk DBF over `nProv` northern provinces: most districts get one
    * to three classed rows; some rows carry an unmapped class, some an
    * unknown district name. Every district of a listed province that
    * has no valid row is expected at level 1. */
  def riskFile(geo: Geo, rnd: Random, name: String, nProv: Int): RiskFile = {
    val provs = rnd.shuffle(geo.provinces.filter(_.northern).map(_.idx)).take(nProv).toSet
    val rows = Seq.newBuilder[Seq[String]]
    val classes = scala.collection.mutable.Map.empty[Int, Seq[Int]]
    for (p <- provs.toSeq.sorted; (d, k) <- geo.districtsOf(p).zipWithIndex) {
      val pth = geo.provinces(p).th
      if (k == 0 || rnd.nextDouble() < 0.75) {
        val cs = Seq.fill(1 + rnd.nextInt(3))(ClassPool(rnd.nextInt(ClassPool.size)))
        cs.foreach(c => rows += Seq(d.th, pth, c))
        classes(d.idx) = cs.flatMap(classNum)
      }
      if (rnd.nextDouble() < 0.05) rows += Seq(d.th, pth, "-")
      if (rnd.nextDouble() < 0.03) rows += Seq(d.th + "ใหม่ใหม่", pth, "3")
    }
    val expected = provs.toSeq.flatMap(geo.districtsOf).map { d =>
      d.idx -> classes.get(d.idx).filter(_.nonEmpty).map(cs => level(cs.sum.toDouble / cs.size)).getOrElse(1)
    }.toMap
    RiskFile(name, rnd.shuffle(rows.result()), expected)
  }

  val ExcelEpoch: Int = LocalDate.of(1899, 12, 30).toEpochDay.toInt
  private val EnHeader = Seq("Disaster Date", "Province", "District", "Village")
  private val ThHeader = Seq("วันที่เกิดภัย", "จังหวัด", "อำเภอ", "หมู่บ้าน")

  /** An incident workbook over days [firstDay, firstDay + days): a
    * summary sheet first, then the accepted incident sheet in the
    * English-header format or the two-title-rows Thai-header format.
    * Dates are ISO strings or Excel day serials; a few rows name an
    * unknown province or district and must be dropped. */
  def incidentFile(geo: Geo, rnd: Random, zipf: Zipf, name: String, firstDay: Int,
      days: Int, nRows: Int, thaiFormat: Boolean): IncidentFile = {
    val north = geo.northern
    val counts = scala.collection.mutable.Map.empty[(Int, Int), Int].withDefaultValue(0)
    var valid = 0
    val body = Seq.fill(nRows) {
      val d = north(zipf.sample(rnd))
      val day = firstDay + rnd.nextInt(days)
      val date =
        if (rnd.nextDouble() < 0.3) (day - ExcelEpoch).toString
        else LocalDate.ofEpochDay(day).toString
      val badProv = rnd.nextDouble() < 0.04
      val badDist = rnd.nextDouble() < 0.04
      if (!badProv && !badDist) { valid += 1; counts((day, d.idx)) += 1 }
      Seq(date, geo.provinces(d.provIdx).th + (if (badProv) "ฯ" else ""),
        d.th + (if (badDist) "ฯ" else ""), s"หมู่ ${1 + rnd.nextInt(12)}")
    }
    val sheet =
      if (thaiFormat) Seq(Seq("รายงานพื้นที่เกิดดินถล่ม"), Seq(s"ไฟล์ $name"), ThHeader) ++ body
      else EnHeader +: body
    val bytes = Formats.xlsx(Seq("สรุป" -> Seq(Seq("รวม", body.size.toString)), "พื้นที่เกิด" -> sheet))
    IncidentFile(name, bytes, valid, counts.toMap, firstDay, firstDay + days - 1)
  }

  def writeRisk(dir: Path, f: RiskFile): Path = {
    val p = dir.resolve(f.name)
    Formats.writeDbf(p, RiskFields, f.rows, "TIS-620")
    p
  }
}
