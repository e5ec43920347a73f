package graftbench

import java.nio.file.{Files, Path}
import java.time.LocalDate
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.Warehouse
import graft.domain.{Engine, ListQueries}
import graft.domain.ListQueries.{FactFilters, PageRequest}
import graft.sources.{DbfReader, ShpReader}
import graft.spatial.CellDistrictMap

/** `dashboard`: one client replays a seeded mix of dashboard requests
  * against a two-year warehouse that setup builds through the engine's
  * own upload path and `optimizeWarehouse`. The checks cover both: the
  * uploads' rows against a plain-Scala recomputation, and every timed
  * response against the generated facts. */
final class DashboardWorkload(ctx: Ctx) extends Workload(ctx) {
  import DashboardWorkload._

  private val spark = ctx.spark
  private val geo = new Geo(ctx.seed)
  private val inDir = ctx.dir("inputs")
  private val whDir = ctx.root.resolve("warehouse")
  private lazy val wh = new Warehouse(spark, whDir.toString)
  private lazy val eng = new Engine(spark, wh)
  private var shp: Path = _
  private var polygons: DataFrame = _

  // the benchmark's own facts, keyed by generated district index
  private val rainFacts = scala.collection.mutable.Map.empty[(Int, Int), RainOracle.Value]
  private var riskFile: RiskFile = _
  private val incidentFacts = scala.collection.mutable.Map.empty[(Int, Int), Int]
  // generated index → engine ids, read from the engine's dims after init
  private var distId: Map[Int, Int] = Map.empty
  private var provId: Map[Int, Int] = Map.empty
  private val firstDay = LocalDate.of(FirstYear, 1, 1).toEpochDay.toInt
  private val lastDay = LocalDate.of(FirstYear + Years, 1, 1).toEpochDay.toInt - 1

  private val zipf = new Zipf(geo.northern.size, 1.1)
  private val results = ArrayBuffer.empty[Result]
  private var rowsReturned = 0L

  // what the setup uploads returned and which upload produced what
  private val rainUploads = ArrayBuffer.empty[(String, RainGrid)]
  private val incidentUploads = ArrayBuffer.empty[IncidentFile]
  private var reuploadRows = -1L
  private var rowsAppended = 0L

  /** Builds the warehouse through the engine's upload path, the way the
    * reference's users fill it: dims from the admin table, a rain grid
    * upload (through `CellDistrictMap.fromShapefile`, then
    * `Engine.ingestRainNc`), one risk DBF over all nine provinces, one
    * incident workbook per year in alternating header formats plus an
    * identical re-upload, then `optimizeWarehouse`. */
  def setup(): Unit = {
    shp = geo.writeAdmin(inDir)
    tr("domain.init_dims")(eng.initDims(inDir.resolve("admin_adm2.dbf").toString))
    val dimRows = eng.districts.select("district_id", "district_name_en").collect()
      .map(r => r.getString(1) -> r.getInt(0)).toMap
    distId = geo.northern.flatMap(d => dimRows.get(d.en).map(d.idx -> _)).toMap
    val provRows = eng.provinces.select("province_id", "province_name_en").collect()
      .map(r => r.getString(1) -> r.getInt(0)).toMap
    provId = geo.provinces.filter(_.northern).flatMap(p => provRows.get(p.en).map(p.idx -> _)).toMap

    // one upload of CHIRPS-style dekad grids (days 1, 11 and 21 of each
    // month) for both years: a daily history would cost the engine one
    // scan task per day
    val days = for (y <- 0 until Years; m <- 1 to 12; d <- Seq(1, 11, 21))
      yield LocalDate.of(FirstYear + y, m, d).toEpochDay.toInt
    val g = RainGrid.generate(rnd, Lats, Lons, days.map(_ - RainGrid.Epoch).toArray)
    val name = s"chirps_dekads_$FirstYear-${FirstYear + Years - 1}.nc"
    val f = inDir.resolve(name)
    g.write(f)
    rainUploads += name -> g
    val cells = spark.read.format("netcdf").load(f.toString)
    val cellMap = tr("spatial.from_shapefile")(CellDistrictMap.fromShapefile(spark, cells, shp.toString))
    rowsAppended += tr("domain.ingest_rain")(eng.ingestRainNc(f.toString, cellMap))
    riskFile = Inputs.riskFile(geo, rnd, "risk_all.dbf", 9)
    rowsAppended += tr("domain.ingest_risk")(eng.ingestRiskDbf(Inputs.writeRisk(inDir, riskFile).toString))
    for (y <- 0 until Years) {
      val y0 = LocalDate.of(FirstYear + y, 1, 1)
      val inc = Inputs.incidentFile(geo, rnd, zipf, s"incidents_${FirstYear + y}.xlsx", y0.toEpochDay.toInt,
        y0.lengthOfYear, IncidentsPerYear, thaiFormat = y % 2 == 1)
      incidentUploads += inc
      rowsAppended += tr("domain.ingest_incident")(eng.ingestIncidentXlsx(inc.bytes))
    }
    reuploadRows = tr("domain.ingest_incident")(eng.ingestIncidentXlsx(incidentUploads.head.bytes))
    tr("warehouse.optimize")(eng.optimizeWarehouse())

    rainUploads.foreach { case (_, g) =>
      rainFacts ++= RainOracle.compute(geo, g)._1.map { case (k, v) => (k.epochDay, k.districtIdx) -> v }
    }
    incidentUploads.foreach(_.expected.foreach { case (key, c) => incidentFacts(key) = c })
    polygons = DbfReader.read(spark, inDir.resolve("admin_adm2.dbf").toString, withRecno = true)
      .join(ShpReader.readWkt(spark, shp.toString), Seq("_recno"))
      .select(col("ADM1_EN").as("province"), col("ADM2_EN").as("district"), col("wkt"))
      .localCheckpoint(true)
  }

  // ---- request generation ----
  //
  // A request's shape — endpoint, filter scope, whether it has a date
  // range, page size, page depth, sort key and order — is fixed by its
  // place in the round, so every seed replays the same mix of shapes
  // and the seed picks only the district (Zipf-skewed), the dates
  // (recent-biased) and the graph days.

  private def district(): Int = geo.northern(zipf.sample(rnd)).idx

  /** A recent-biased date range of the given width: the end falls
    * within about a year of the newest data. */
  private def dateRange(width: Int): (Int, Int) = {
    val end = lastDay - math.min(lastDay - firstDay, (-math.log(1 - rnd.nextDouble()) * 120).toInt)
    (math.max(firstDay, end - width + 1), end)
  }

  /** `scope`: 'd' one district, 'p' its province, 'a' all districts;
    * `days`: width of the date range, 0 for none. */
  private def filter(scope: Char, days: Int, level: Option[Int] = None): Filter = {
    val d = district()
    val (from, to) = if (days > 0) dateRange(days) else (-1, -1)
    Filter(if (scope == 'p') Some(geo.districts(d).provIdx) else None,
      if (scope == 'd') Some(d) else None, level, from, to)
  }

  private def toFactFilters(f: Filter): FactFilters = FactFilters(
    provinceId = f.prov.map(provId), districtId = f.dist.map(distId), riskLevel = f.level,
    dateStart = if (f.from >= 0) Some(LocalDate.ofEpochDay(f.from).toString) else None,
    dateEnd = if (f.to >= 0) Some(LocalDate.ofEpochDay(f.to).toString) else None)

  private def listOp(endpoint: String, span: String, f: Filter, req: PageRequest,
      call: (FactFilters, PageRequest) => ListQueries.PageResult): Op =
    Op(endpoint, () => {
      val (res, items) = tr(span) {
        val r = call(toFactFilters(f), req)
        (r, r.items.collect())
      }
      rowsReturned += items.length
      results += ListResult(endpoint, f, req, res.total, res.allPage, res.page, items)
    })

  /** Page `Deep` lies past the last page of every filter: the engine
    * clamps it to the last page. */
  private val Deep = 9999
  private def order(k: Int) = if (k % 2 == 0) "asc" else "desc"

  private def rainList(r: Int, j: Int): Op = listOp("list_rain", "domain.list_rain",
    filter(Seq('d', 'p', 'a')(j), Seq(365, 91, 7)(j)),
    PageRequest(Seq(1, 2, Deep)(j), Seq(10, 50, 200)(j), RainKeys((3 * r + j) % RainKeys.size), order(r + j)),
    eng.listRain)
  private def incidentList(r: Int, j: Int): Op = listOp("list_incidents", "domain.list_incidents",
    filter(Seq('p', 'a')(j), Seq(365, 30)(j)),
    PageRequest(Seq(1, Deep)(j), Seq(20, 200)(j), IncidentKeys((2 * r + j) % IncidentKeys.size), order(r + j)),
    eng.listIncidents)
  private def riskList(r: Int): Op = listOp("list_risk", "domain.list_risk",
    filter('p', 0, if (r % 2 == 1) Some(1 + r % 3) else None),
    PageRequest(1 + r % 2, 10, RiskKeys(r % RiskKeys.size), order(r)), eng.listRisk)
  private def pdList(r: Int): Op = listOp("list_province_district", "domain.list_province_district",
    filter(if (r % 2 == 0) 'p' else 'a', 0),
    PageRequest(1, 20, PdKeys(r % PdKeys.size), order(r + 1)), eng.listProvinceDistrict)

  private def dimsOp(r: Int): Op = {
    val p = if (r % 2 == 0) Some(geo.districts(district()).provIdx) else None
    Op("list_dims", () => {
      val n = tr("domain.list_dims") {
        eng.listProvince().collect().length + eng.listDistrict(p.map(provId)).collect().length
      }
      rowsReturned += n
      results += DimsResult(p, n)
    })
  }

  private def dateLimitOp(): Op = Op("date_limit", () => {
    val r = tr("domain.date_limit")(eng.dateLimit().collect())
    rowsReturned += r.length
    results += DateLimitResult(r.head.getDate(0).toLocalDate.toEpochDay.toInt,
      r.head.getDate(1).toLocalDate.toEpochDay.toInt)
  })

  /** A day with rain, biased to recent days. */
  private def graphDay(): Int = {
    val (_, end) = dateRange(1)
    (end to firstDay by -1).find(rainDays).getOrElse(end)
  }
  private lazy val rainDays: Set[Int] = rainFacts.keysIterator.map(_._1).toSet

  private def graphOp(): Op = {
    val day = graphDay()
    Op("graph", () => {
      val rows = tr("domain.graph")(eng.graph(LocalDate.ofEpochDay(day).toString)
        .select("district_id", "rain_mm_wmean", "risk_level", "count_of_disasters", "score").collect())
      rowsReturned += rows.length
      results += GraphResult(day, rows)
    })
  }

  private def geoJsonOp(): Op = {
    val day = graphDay()
    Op("graph_geojson", () => {
      val json = tr("domain.graph_geojson")(eng.graphGeoJson(LocalDate.ofEpochDay(day).toString, polygons))
      val features = "\"Feature\"".r.findAllMatchIn(json).size
      rowsReturned += features
      results += GeoJsonResult(day, features)
    })
  }

  /** Round `r` of 12 requests: six paged list requests (three rain,
    * two incident, one risk), one province/district list, one
    * dimension request, one date limit, one graph and two GeoJSON
    * choropleths. Over rounds the list requests cycle through every
    * sort key, both orders, shallow and deep pages. The GeoJSON
    * requests are the slowest kind, so the 90th percentile of two
    * rounds falls inside their block. */
  private def round(r: Int): Seq[Op] = Seq(
    rainList(r, 0), incidentList(r, 0), geoJsonOp(), rainList(r, 1), riskList(r), dimsOp(r),
    rainList(r, 2), pdList(r), dateLimitOp(), incidentList(r, 1), graphOp(), geoJsonOp())

  /** The warm phase: a rain and an incident list, a graph and a GeoJSON
    * request. */
  def warmOps: Seq[Op] = Seq(rainList(0, 0), incidentList(0, 0), graphOp(), geoJsonOp())
  def timedOps: Seq[Op] = {
    results.clear()
    rowsReturned = 0
    (0 until rounds(RoundsPer10s)).flatMap(round)
  }

  def storedDirs: Seq[Path] = Seq(whDir)

  // ---- checks ----

  private def matches(f: Filter, dIdx: Int, day: Int): Boolean =
    f.dist.forall(_ == dIdx) && f.prov.forall(_ == geo.districts(dIdx).provIdx) &&
      (f.from < 0 || day >= f.from) && (f.to < 0 || day <= f.to)

  private def expectedTotal(endpoint: String, f: Filter): Long = endpoint match {
    case "list_rain" => rainFacts.keysIterator.count { case (day, d) => matches(f, d, day) }
    case "list_incidents" => incidentFacts.keysIterator.count { case (day, d) => matches(f, d, day) }
    case "list_risk" => riskFile.expected.count { case (d, l) => matches(f, d, 0) && f.level.forall(_ == l) }
    case "list_province_district" => geo.northern.count(d => matches(f, d.idx, 0))
  }

  /** Spark orders strings by their UTF-8 bytes. */
  private def cmp(a: Any, b: Any): Int = (a, b) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (x: String, y: String) =>
      val (p, q) = (x.getBytes("UTF-8"), y.getBytes("UTF-8"))
      java.util.Arrays.compareUnsigned(p, q)
    case (x: java.sql.Date, y: java.sql.Date) => x.compareTo(y)
    case (x: Number, y: Number) => java.lang.Double.compare(x.doubleValue, y.doubleValue)
    case _ => 0
  }

  private def checkPage(r: ListResult, fallback: String): Unit = {
    val what = s"${r.endpoint} ${r.filter} ${r.req}"
    expect(r.total == expectedTotal(r.endpoint, r.filter), s"$what: total ${r.total}, expected ${expectedTotal(r.endpoint, r.filter)}")
    val allPage = math.max((r.total + r.req.pageSize - 1) / r.req.pageSize, 1L)
    val page = math.min(r.req.page.toLong, allPage)
    val len = if (r.total == 0) 0L else math.min(r.req.pageSize.toLong, r.total - (page - 1) * r.req.pageSize)
    expect(r.allPage == allPage && r.page == page && r.items.length == len,
      s"$what: page ${r.page}/${r.allPage} with ${r.items.length} rows, expected $page/$allPage with $len")
    val key = if (r.req.orderBy.nonEmpty && keysOf(r.endpoint).contains(r.req.orderBy)) r.req.orderBy else fallback
    val sign = if (r.req.orderType == "asc") 1 else -1
    val vals = r.items.map(row => row.get(row.fieldIndex(key)))
    expect(vals.sliding(2).forall(p => p.length < 2 || sign * cmp(p(0), p(1)) <= 0), s"$what: page not sorted by $key")
  }

  private def keysOf(endpoint: String): Seq[String] = endpoint match {
    case "list_rain" => RainKeys
    case "list_risk" => RiskKeys
    case "list_incidents" => IncidentKeys
    case _ => PdKeys
  }

  private def score(wmean: Double, level: Int, count: Int): Double = {
    val base = wmean / 2.0 + level * 10.0
    if (count > 0) math.min(100.0, math.max(80.0, base + count * 5.0)) else math.min(100.0, base)
  }

  private def checkGraph(day: Int, rows: Array[Row]): Unit = {
    val want = rainFacts.collect { case ((d, dist), v) if d == day => distId(dist) -> (dist, v) }
    expect(rows.length == want.size && rows.map(_.getInt(0)).toSet == want.keySet,
      s"graph $day: ${rows.length} rows, expected one for each of ${want.size} districts with rain")
    rows.foreach { r =>
      want.get(r.getInt(0)).foreach { case (dist, v) =>
        val s = score(v.wmean, riskFile.expected(dist), incidentFacts.getOrElse((day, dist), 0))
        expect(close(r.getDouble(1), v.wmean) && r.getInt(2) == riskFile.expected(dist) &&
          r.getInt(3) == incidentFacts.getOrElse((day, dist), 0),
          s"graph $day district ${r.getInt(0)}: inputs differ")
        expect(close(r.getDouble(4), s) && r.getDouble(4) >= 0 && r.getDouble(4) <= 100,
          s"graph $day district ${r.getInt(0)}: score ${r.getDouble(4)}, expected $s")
      }
    }
  }

  /** The uploads: every rain row and its volumes, the conservation of
    * volume per upload, one risk row per district at the recomputed
    * level, and the incident counts, with the re-upload adding none. */
  private def checkUploads(): Unit = {
    expect(distId.size == geo.northern.size, s"district dim has ${distId.size} of ${geo.northern.size} northern districts")
    def uploadIds(table: String) = eng.listUploads(table).select("filename", "upload_id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rainIds = uploadIds(Engine.UploadRainT)
    val rainRows = wh.read(Engine.RainT)
      .select(col("upload_id"), col("date"), col("district_id"), col("rain_mm_wmean"), col("rainfall_mm"))
      .collect().groupBy(_.getLong(0))
    expect(rainIds.size == rainUploads.size, s"${rainIds.size} rain uploads recorded, ${rainUploads.size} made")
    for ((name, g) <- rainUploads; id <- rainIds.get(name)) {
      val (want, cellTotal) = RainOracle.compute(geo, g)
      val got = rainRows.getOrElse(id, Array.empty).map { r =>
        (r.getDate(1).toLocalDate.toEpochDay.toInt, r.getInt(2)) -> (r.getDouble(3), r.getDouble(4))
      }
      val wantById = want.map { case (k, v) => (k.epochDay, distId.getOrElse(k.districtIdx, -1)) -> v }
      expect(got.length == wantById.size && got.map(_._1).toSet == wantById.keySet,
        s"$name: ${got.length} rain rows, expected ${wantById.size}")
      got.foreach { case (k, (wm, vol)) =>
        wantById.get(k).foreach { w =>
          expect(close(wm, w.wmean) && close(vol, w.volume), s"$name $k: ($wm, $vol) != (${w.wmean}, ${w.volume})")
        }
      }
      val volume = got.map(_._2._2).sum
      expect(close(volume, cellTotal), s"$name: district volumes $volume != cell volumes $cellTotal")
    }

    val riskRows = wh.read(Engine.RiskT).select("district_id", "risk_level").collect()
      .map(r => r.getInt(0) -> r.getInt(1))
    val riskWant = riskFile.expected.map { case (d, l) => distId.getOrElse(d, -1) -> l }
    expect(riskRows.length == riskWant.size && riskRows.toMap == riskWant,
      s"risk: ${riskRows.length} rows, expected ${riskWant.size}; differing: " +
        (riskWant.toSet diff riskRows.toSet).take(3).mkString(","))

    expect(reuploadRows == 0, s"re-upload of ${incidentUploads.head.name} appended $reuploadRows rows")
    val incRows = wh.read(Engine.IncidentT).select("disaster_date", "district_id", "count_of_disasters")
      .collect().map(r => (r.getDate(0).toLocalDate.toEpochDay.toInt, r.getInt(1)) -> r.getInt(2))
    val incGot = incRows.toMap
    expect(incRows.length == incGot.size, s"incident table repeats ${incRows.length - incGot.size} keys")
    incidentUploads.foreach { inc =>
      val inFile = incGot.filter { case ((day, _), _) => day >= inc.firstDay && day <= inc.lastDay }
      expect(inFile.values.sum == inc.validRows,
        s"${inc.name}: count_of_disasters sums to ${inFile.values.sum}, ${inc.validRows} valid rows")
      expect(inFile == inc.expected.map { case ((day, d), c) => (day, distId.getOrElse(d, -1)) -> c },
        s"${inc.name}: per-key counts differ")
    }
  }

  def check(): Seq[String] = {
    checkUploads()
    expect(results.size == timedCount, s"${results.size} results for $timedCount timed requests")
    results.foreach {
      case r: ListResult => checkPage(r, r.endpoint match {
        case "list_rain" => "date"
        case "list_incidents" | "list_risk" | "list_province_district" => "province_id"
      })
      case DimsResult(p, n) =>
        expect(n == 9 + p.map(geo.districtsOf(_).size).getOrElse(geo.northern.size), s"dims $p: $n rows")
      case DateLimitResult(lo, hi) =>
        expect(lo == rainFacts.keys.map(_._1).min && hi == rainFacts.keys.map(_._1).max, s"date limit $lo..$hi")
      case GraphResult(day, rows) => checkGraph(day, rows)
      case GeoJsonResult(day, n) =>
        expect(n == rainFacts.keys.count(_._1 == day), s"geojson $day: $n features")
    }
    // every page of a small filter joins up: no gap, no duplicate
    locally {
      val d = district()
      val to = lastDay - rnd.nextInt(200)
      val f = Filter(None, Some(d), None, to - 59, to)
      val first = eng.listRain(toFactFilters(f), PageRequest(1, 15, "date", "asc"))
      val pages = (1 to first.allPage.toInt).flatMap { p =>
        eng.listRain(toFactFilters(f), PageRequest(p, 15, "date", "asc")).items
          .select("pk_id", "date").collect().map(r => r.getLong(0) -> r.getDate(1).toLocalDate.toEpochDay.toInt)
      }
      val want = rainFacts.keysIterator.filter { case (day, dd) => matches(f, dd, day) }.map(_._1).toSeq.sorted
      expect(pages.map(_._2) == want && pages.map(_._1).distinct.size == pages.size,
        s"pages of $f: ${pages.size} rows over ${first.allPage} pages, expected ${want.size} days in order")
    }
    failures.toSeq
  }

  private lazy val timedCount = 12 * rounds(RoundsPer10s)

  override def probe(): Map[String, Double] = {
    val (whFiles, whBytes) = Disk.usage(whDir, Disk.isParquet)
    val nc = inDir.resolve(rainUploads.head._1)
    val xlsx = inDir.resolve("incidents.xlsx")
    Files.write(xlsx, incidentUploads.head.bytes)
    Probes.files(ctx, shp, nc, inDir.resolve(riskFile.name), xlsx) ++ Map(
      "domain.rows_appended" -> rowsAppended.toDouble,
      "warehouse.files" -> whFiles.toDouble,
      "warehouse.mb" -> whBytes / 1e6,
      "rows_returned" -> rowsReturned.toDouble)
  }
}

object DashboardWorkload {
  final case class Filter(prov: Option[Int], dist: Option[Int], level: Option[Int], from: Int, to: Int)

  sealed trait Result
  final case class ListResult(endpoint: String, filter: Filter, req: PageRequest, total: Long,
      allPage: Long, page: Int, items: Array[Row]) extends Result
  final case class DimsResult(prov: Option[Int], rows: Int) extends Result
  final case class DateLimitResult(lo: Int, hi: Int) extends Result
  final case class GraphResult(day: Int, rows: Array[Row]) extends Result
  final case class GeoJsonResult(day: Int, features: Int) extends Result

  val RainKeys = Seq("date", "rain_mm_wmean", "province_name", "district_name", "")
  val RiskKeys = Seq("risk_level", "province_name", "district_name", "")
  val IncidentKeys = Seq("disaster_date", "count_of_disasters", "province_name", "district_name", "")
  val PdKeys = Seq("province_id", "province_name", "district_name", "")

  /** A CHIRPS-shaped 0.1° grid over a box slightly larger than the
    * engine's Thailand bbox: 160 × 90 cells per grid. */
  val Lats: Array[Double] = RainGrid.axis(5.0, 0.1, 160)
  val Lons: Array[Double] = RainGrid.axis(97.0, 0.1, 90)
  val FirstYear = 2022
  val Years = 2
  val IncidentsPerYear = 400
  val RoundsPer10s = 1
}
