package graftbench

import java.nio.file.{Files, Path}
import scala.util.Random

/** Seeded synthetic geography of the nine northern provinces (the
  * engine's default scope) plus three provinces south of them, and the
  * rainfall grids laid over it.
  *
  * Districts are the cells of a jittered lattice: neighbouring polygons
  * share their lattice nodes and the jittered points along each shared
  * edge, so the districts tile the region with no gap or overlap. */
final case class District(idx: Int, provIdx: Int, en: String, th: String,
    ring: Array[(Double, Double)])
final case class Province(idx: Int, en: String, th: String, northern: Boolean)

final class Geo(seed: Long) {
  import Geo._

  val provinces: IndexedSeq[Province] =
    (NorthEn.zip(NorthTh).zipWithIndex.map { case ((e, t), i) => Province(i, e, t, northern = true) } ++
      SouthEn.zip(SouthTh).zipWithIndex.map { case ((e, t), i) => Province(9 + i, e, t, northern = false) })
      .toIndexedSeq

  val districts: IndexedSeq[District] = {
    val rnd = new Random(seed * 7919 + 17)
    val rows = NorthRows + SouthRows
    val dx = (LonHi - LonLo) / Cols
    val dy = (LatHi - LatLo) / rows
    // lattice nodes, jittered by up to a fifth of a cell
    val nx = Array.tabulate(Cols + 1, rows + 1)((i, j) => LonLo + i * dx + (rnd.nextDouble() - 0.5) * 0.4 * dx)
    val ny = Array.tabulate(Cols + 1, rows + 1)((i, j) => LatLo + j * dy + (rnd.nextDouble() - 0.5) * 0.4 * dy)
    def node(i: Int, j: Int) = (nx(i)(j), ny(i)(j))
    // interior points of each lattice edge, jittered across the edge
    def edge(a: (Double, Double), b: (Double, Double), acrossX: Boolean) =
      (1 until EdgeSegments).map { k =>
        val t = k.toDouble / EdgeSegments
        val x = a._1 + (b._1 - a._1) * t
        val y = a._2 + (b._2 - a._2) * t
        val j = (rnd.nextDouble() - 0.5) * 0.2
        if (acrossX) (x + j * dx, y) else (x, y + j * dy)
      }.toArray
    val hEdge = Array.tabulate(Cols, rows + 1)((i, j) => edge(node(i, j), node(i + 1, j), acrossX = false))
    val vEdge = Array.tabulate(Cols + 1, rows)((i, j) => edge(node(i, j), node(i, j + 1), acrossX = true))
    // clockwise (x = lon, y = lat): up the west edge, east along the
    // north edge, down the east edge, west along the south edge
    def ring(i: Int, j: Int): Array[(Double, Double)] =
      (Seq(node(i, j)) ++ vEdge(i)(j) ++ Seq(node(i, j + 1)) ++ hEdge(i)(j + 1) ++
        Seq(node(i + 1, j + 1)) ++ vEdge(i + 1)(j).reverse ++ Seq(node(i + 1, j)) ++
        hEdge(i)(j).reverse ++ Seq(node(i, j))).toArray

    // northern cells (top rows) split into 9 runs of 9..15 districts;
    // southern cells into 3 equal runs
    val northSizes = {
      val s = Array.fill(9)(Cols * NorthRows / 9)
      for (_ <- 0 until 20) {
        val a = rnd.nextInt(9); val b = rnd.nextInt(9)
        if (a != b && s(a) > 9 && s(b) < 15) { s(a) -= 1; s(b) += 1 }
      }
      s
    }
    val northProv = northSizes.zipWithIndex.flatMap { case (n, p) => Seq.fill(n)(p) }
    val southProv = (0 until Cols * SouthRows).map(k => 9 + k * 3 / (Cols * SouthRows))
    val thNames = rnd.shuffle(for (a <- ThA; b <- ThB) yield a + b)
    val cells = (for (j <- (0 until rows).reverse; i <- 0 until Cols) yield (i, j)).toIndexedSeq
    val perProv = scala.collection.mutable.Map.empty[Int, Int].withDefaultValue(0)
    cells.zipWithIndex.map { case ((i, j), k) =>
      val p = if (k < northProv.length) northProv(k) else southProv(k - northProv.length)
      perProv(p) += 1
      District(k, p, f"${provinces(p).en} District ${perProv(p)}%02d", thNames(k), ring(i, j))
    }
  }

  def northern: IndexedSeq[District] = districts.filter(d => provinces(d.provIdx).northern)
  def districtsOf(p: Int): IndexedSeq[District] = districts.filter(_.provIdx == p)

  private val bboxes = districts.map { d =>
    (d.ring.map(_._1).min, d.ring.map(_._1).max, d.ring.map(_._2).min, d.ring.map(_._2).max)
  }

  /** The district whose polygon contains (lon, lat), by winding number. */
  def locate(lon: Double, lat: Double): Option[District] =
    districts.indices.find { k =>
      val (x0, x1, y0, y1) = bboxes(k)
      lon >= x0 && lon <= x1 && lat >= y0 && lat <= y1 && winding(districts(k).ring, lon, lat) != 0
    }.map(districts)

  /** Admin shapefile pair (`.shp` + `.dbf` + `.cpg`) holding every
    * district, northern and southern, in lattice order. */
  def writeAdmin(dir: Path): Path = {
    val shp = dir.resolve("admin_adm2.shp")
    Formats.writeShp(shp, districts.map(_.ring))
    Formats.writeDbf(dir.resolve("admin_adm2.dbf"),
      Seq("ADM1_EN" -> 40, "ADM1_TH" -> 60, "ADM2_EN" -> 50, "ADM2_TH" -> 60),
      districts.map(d => Seq(provinces(d.provIdx).en, provinces(d.provIdx).th, d.en, d.th)),
      "UTF-8")
    Files.write(dir.resolve("admin_adm2.cpg"), "UTF-8".getBytes("ASCII"))
    shp
  }
}

object Geo {
  val NorthEn = Seq("Chiang Mai", "Chiang Rai", "Lamphun", "Lampang", "Phayao",
    "Phrae", "Nan", "Mae Hong Son", "Uttaradit")
  val NorthTh = Seq("เชียงใหม่", "เชียงราย", "ลำพูน", "ลำปาง", "พะเยา",
    "แพร่", "น่าน", "แม่ฮ่องสอน", "อุตรดิตถ์")
  val SouthEn = Seq("Tak", "Sukhothai", "Phitsanulok")
  val SouthTh = Seq("ตาก", "สุโขทัย", "พิษณุโลก")
  private val ThA = Seq("บ้าน", "แม่", "ดอย", "ห้วย", "นา", "ป่า", "ท่า", "สัน", "ทุ่ง", "หนอง", "โป่ง", "ปง")
  private val ThB = Seq("คำ", "ทอง", "หลวง", "น้อย", "ใหม่", "เหนือ", "ใต้", "แดง", "ขาว", "ยาง", "แก้ว", "งาม")

  val Cols = 12
  val NorthRows = 9
  val SouthRows = 2
  val EdgeSegments = 6
  val LonLo = 97.6; val LonHi = 101.4
  val LatLo = 15.8; val LatHi = 20.3

  /** The engine's Thailand bbox clip (SURVEY §3.2). */
  val BboxLat = (5.6, 20.5)
  val BboxLon = (97.3, 105.7)

  /** Winding number of a closed ring around (x, y). */
  def winding(r: Array[(Double, Double)], x: Double, y: Double): Int = {
    var w = 0
    var k = 0
    while (k < r.length - 1) {
      val (x0, y0) = r(k); val (x1, y1) = r(k + 1)
      val side = (x1 - x0) * (y - y0) - (x - x0) * (y1 - y0)
      if (y0 <= y) { if (y1 > y && side > 0) w += 1 }
      else if (y1 <= y && side < 0) w -= 1
      k += 1
    }
    w
  }
}

/** One daily rainfall grid file: coordinates, days (CF "days since
  * 1980-01-01") and float precipitation with a fill value. */
final case class RainGrid(lats: Array[Double], lons: Array[Double],
    days: Array[Int], precip: Array[Array[Float]]) {
  def write(path: Path): Unit =
    Formats.writeNetcdf(path, days.map(_.toDouble), RainGrid.Units, lats, lons, precip, RainGrid.Fill)
}

object RainGrid {
  val Units = "days since 1980-01-01 00:00:00"
  val Fill: Float = -9999f
  val Epoch: Int = java.time.LocalDate.of(1980, 1, 1).toEpochDay.toInt

  /** Axis of cell centres `lo + step/2 + k·step` for k < n. */
  def axis(lo: Double, step: Double, n: Int): Array[Double] =
    Array.tabulate(n)(k => lo + step / 2 + k * step)

  /** Storm-cell rainfall: a few Gaussian storms per day over a dry
    * background, fill values over a patch of sea and scattered cells. */
  def generate(rnd: Random, lats: Array[Double], lons: Array[Double], days: Array[Int]): RainGrid = {
    val precip = days.map { _ =>
      val storms = Array.fill(3 + rnd.nextInt(5)) {
        (Geo.LonLo + rnd.nextDouble() * (Geo.LonHi - Geo.LonLo),
          Geo.LatLo + rnd.nextDouble() * (Geo.LatHi - Geo.LatLo),
          0.3 + rnd.nextDouble() * 1.2, 5.0 + rnd.nextDouble() * 60.0)
      }
      val a = new Array[Float](lats.length * lons.length)
      for (i <- lats.indices; j <- lons.indices) {
        val (la, lo) = (lats(i), lons(j))
        a(i * lons.length + j) =
          if ((lo > 104.5 && la < 9.0) || rnd.nextInt(50) == 0) Fill
          else {
            var v = 0.0
            storms.foreach { case (sx, sy, r, amp) =>
              val d2 = ((lo - sx) * (lo - sx) + (la - sy) * (la - sy)) / (r * r)
              v += amp * math.exp(-d2)
            }
            v *= 0.6 + 0.8 * rnd.nextDouble()
            if (v < 1.0) 0f else (math.round(v * 100) / 100.0).toFloat
          }
      }
      a
    }
    RainGrid(lats, lons, days, precip)
  }
}

/** Plain-Scala recomputation of the rain ingest (SURVEY §3.2): bbox
  * clip, positive precipitation only, northern districts only, grid
  * resolution from the minimum coordinate step of the matched cells,
  * cos-latitude weights, volume in million m³. */
object RainOracle {
  final case class DayDistrict(epochDay: Int, districtIdx: Int)
  final case class Value(wmean: Double, volume: Double)
  val KmPerDeg = 111.32

  /** Per (day, district) weighted mean and volume, plus the total
    * volume summed per cell (the conservation side). */
  def compute(geo: Geo, g: RainGrid): (Map[DayDistrict, Value], Double) = {
    val owner: Array[Int] = (for (la <- g.lats; lo <- g.lons) yield {
      val inBox = la >= Geo.BboxLat._1 && la <= Geo.BboxLat._2 &&
        lo >= Geo.BboxLon._1 && lo <= Geo.BboxLon._2
      if (!inBox) -1
      else geo.locate(lo, la).filter(d => geo.provinces(d.provIdx).northern).map(_.idx).getOrElse(-1)
    }).toArray
    val nLon = g.lons.length
    def positive(v: Float) = v != RainGrid.Fill && v > 0f
    val matched = for {
      t <- g.days.indices; k <- owner.indices if owner(k) >= 0 && positive(g.precip(t)(k))
    } yield (t, k)
    def minStep(vals: Seq[Double]): Double =
      vals.distinct.sorted.sliding(2).map(p => math.abs(p(1) - p(0))).min
    val dlat = minStep(matched.map { case (_, k) => g.lats(k / nLon) })
    val dlon = minStep(matched.map { case (_, k) => g.lons(k % nLon) })
    val acc = scala.collection.mutable.Map.empty[DayDistrict, Array[Double]]
    var cellTotal = 0.0
    matched.foreach { case (t, k) =>
      val la = g.lats(k / nLon)
      val p = g.precip(t)(k).toDouble
      val w = math.cos(math.toRadians(la))
      val vol = p * (KmPerDeg * dlat * KmPerDeg * dlon * w) * 1000.0 / 1e6
      val a = acc.getOrElseUpdate(DayDistrict(RainGrid.Epoch + g.days(t), owner(k)), new Array[Double](3))
      a(0) += p * w; a(1) += w; a(2) += vol
      cellTotal += vol
    }
    (acc.map { case (key, a) => key -> Value(a(0) / a(1), a(2)) }.toMap, cellTotal)
  }
}
