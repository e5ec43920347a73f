package graft.domain

import graft.{SparkSpec, Warehouse}
import graft.testutil.{Adm2Fixture, FileBuilders}
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

/** End-to-end drive of the engine facade — the "a user of the reference
  * switches to this library" flow: init dims from the ADM2 table,
  * upload a rain grid, a risk DBF, an incident XLSX (twice, proving
  * idempotency), then serve every query. Each flow runs twice: on the
  * reference's real ADM2 table where it is checked out, and on the
  * generated [[Adm2Fixture]] everywhere. */
class EngineSpec extends SparkSpec {
  import spark.implicits._

  private val adm2Path = "/root/reference/backend/storage/admin/tha_admbnda_adm2_rtsd_20220121.dbf"

  private def newEngine(): Engine = {
    val root = Files.createTempDirectory("graft-engine").toString
    new Engine(spark, new Warehouse(spark, root))
  }

  private def realAdm2(): String = {
    assume(Files.exists(Paths.get(adm2Path)))
    adm2Path
  }

  test("full reference flow: init → three uploads → serving queries") {
    fullFlow(realAdm2(), provinces = 9, districts = 112, chiangMaiDistricts = 25)
  }

  test("full reference flow on a generated ADM2 table") {
    fullFlow(Adm2Fixture.write(), Adm2Fixture.NorthernProvinces,
      Adm2Fixture.NorthernDistricts, Adm2Fixture.ChiangMaiDistricts)
  }

  private def fullFlow(adm2: String, provinces: Int, districts: Int,
      chiangMaiDistricts: Int): Unit = {
    val eng = newEngine()

    // ---- /init ----
    eng.initDims(adm2)
    assert(eng.provinces.count() == provinces)
    assert(eng.districts.count() == districts)
    assert(eng.listProvince().count() == provinces)

    // ---- rain upload: grid over Mueang Chiang Mai ----
    val cmProv = eng.provinces.where($"province_name_en" === "Chiang Mai").head().getInt(0)
    val cmDistRow = eng.districts
      .where($"district_name_en" === "Mueang Chiang Mai").head()
    val t1 = Timestamp.valueOf("2023-06-01 00:00:00")
    val grid = Seq(
      (t1, 18.75, 98.95, 12.0),
      (t1, 18.80, 98.95, 8.0),
      (t1, 18.75, 99.00, 4.0),
      (t1, 18.80, 99.00, 0.0), // dropped (zero precip)
    ).toDF("time", "latitude", "longitude", "precip")
    val cellMap = Seq(
      (18.75, 98.95, "Chiang Mai", "Mueang Chiang Mai"),
      (18.80, 98.95, "Chiang Mai", "Mueang Chiang Mai"),
      (18.75, 99.00, "Chiang Mai", "Mueang Chiang Mai"),
    ).toDF("latitude", "longitude", "province", "district")
    val nRain = eng.ingestRainGrid(grid, cellMap, "chirps-2023.nc")
    assert(nRain == 1) // one district-day row

    // ---- risk upload (TIS-620 DBF bytes) ----
    val dbfBytes = FileBuilders.dbf(
      fields = Seq(("AMPHOE_T", 40), ("PROV_NAM_T", 40), ("CLASS", 20)),
      records = Seq(
        Seq("เมืองเชียงใหม่", "เชียงใหม่", "สูง"),
        Seq("ฝาง", "เชียงใหม่", "low")))
    val dbfPath = Files.createTempFile("risk", ".dbf")
    Files.write(dbfPath, dbfBytes)
    val nRisk = eng.ingestRiskDbf(dbfPath.toString)
    // 2 matched + every other Chiang Mai district filled with 1
    assert(nRisk == chiangMaiDistricts)
    val riskLevels = eng.listRisk(req = ListQueries.PageRequest(pageSize = 200))
    assert(riskLevels.total == chiangMaiDistricts)
    val mueangRisk = riskLevels.items
      .where($"district_id" === cmDistRow.getInt(0)).head().getAs[Int]("risk_level")
    assert(mueangRisk == 3)

    // ---- incident upload (XLSX bytes), idempotent re-upload ----
    val xlsxBytes = FileBuilders.xlsx(Seq(
      "พื้นที่เกิด" -> Seq(
        Seq("Disaster Date", "Province", "District"),
        Seq("2023-06-01", "เชียงใหม่", "เมืองเชียงใหม่"),
        Seq("2023-06-01", "เชียงใหม่", "เมืองเชียงใหม่"),
        Seq("2023-06-02", "เชียงใหม่", "ฝาง"))))
    assert(eng.ingestIncidentXlsx(xlsxBytes) == 2) // two (date, district) keys
    assert(eng.ingestIncidentXlsx(xlsxBytes) == 0) // idempotent

    // ---- serving ----
    val page = eng.listRain(
      ListQueries.FactFilters(provinceId = Some(cmProv)),
      ListQueries.PageRequest(pageSize = 10, orderBy = "date"))
    assert(page.total == 1)
    val rainRow = page.items.head()
    assert(rainRow.getAs[String]("province_name") == "เชียงใหม่")
    assert(rainRow.getAs[Double]("rain_mm_wmean") > 0)

    val lim = eng.dateLimit().head()
    assert(lim.getAs[java.sql.Date]("min_date").toString == "2023-06-01")

    val g = eng.graph("2023-06-01").collect()
    assert(g.length == 1)
    val row = g.head
    assert(row.getAs[Int]("risk_level") == 3)
    assert(row.getAs[Int]("count_of_disasters") == 2)
    // score: boost path — 2 incidents that day
    val wmean = row.getAs[Double]("rain_mm_wmean")
    val expected = math.min(100.0, math.max(80.0, wmean / 2 + 3 * 10 + 2 * 5))
    assert(math.abs(row.getAs[Double]("score") - expected) < 1e-9)

    // pk uniqueness
    assert(eng.listIncidents(req = ListQueries.PageRequest(pageSize = 200))
      .items.select("incident_id").collect().map(_.getLong(0)).distinct.length == 2)

    // ---- scored choropleth export (the frontend's map, server-side) ----
    val polys = Seq(("Chiang Mai", "Mueang Chiang Mai",
      "POLYGON ((98.9 18.7, 98.9 18.9, 99.1 18.9, 99.1 18.7, 98.9 18.7))"))
      .toDF("province", "district", "wkt")
    val fc = eng.graphGeoJson("2023-06-01", polys)
    assert(fc.contains(""""type":"FeatureCollection""""))
    assert(fc.contains(""""district":"Mueang Chiang Mai""""))
    assert(fc.contains(""""risk_level":3"""))
    // boost path put the score ≥ 80 → red bucket
    assert(fc.contains(""""color":"red""""))
  }

  test("rain ingest through the NetCDF DSv2: bbox reaches the scan, prunes partitions") {
    netcdfFlow(realAdm2())
  }

  test("rain ingest through the NetCDF DSv2 on a generated ADM2 table") {
    netcdfFlow(Adm2Fixture.write())
  }

  private def netcdfFlow(adm2: String): Unit = {
    val eng = newEngine()
    eng.initDims(adm2)
    val nc = Files.createTempFile("chirps", ".nc")
    Files.write(nc, FileBuilders.nc(
      times = Seq(0.0, 1.0), timeUnits = "days since 2023-06-01",
      lats = Seq(18.75, 18.80), lons = Seq(98.95, 99.00),
      precip = Seq(
        Seq(Seq(12.0f, 4.0f), Seq(8.0f, 0.0f)),
        Seq(Seq(2.0f, 3.0f), Seq(1.0f, 5.0f)))))
    val cellMap = Seq(
      (18.75, 98.95, "Chiang Mai", "Mueang Chiang Mai"),
      (18.80, 98.95, "Chiang Mai", "Mueang Chiang Mai"),
      (18.75, 99.00, "Chiang Mai", "Mueang Chiang Mai"),
      (18.80, 99.00, "Chiang Mai", "Mueang Chiang Mai"),
    ).toDF("latitude", "longitude", "province", "district")
    // end-to-end: raw .nc → DSv2 scan → RainIngest → rain_points
    val n = eng.ingestRainNc(nc.toString, cellMap)
    assert(n == 2) // one district-day row per time record
    assert(eng.listRain().total == 2)
    // the upload metadata carries the .nc file's length
    assert(eng.listUploads(Engine.UploadRainT).select("size_bytes").collect()
      .map(_.getLong(0)).toSeq == Seq(Files.size(nc)))

    // the ingest's Thailand bbox composes with the DSv2: filters are
    // pushed to the netcdf scan, not evaluated post-hoc
    val clipped = spark.read.format("netcdf").load(nc.toString)
      .where($"latitude".between(RainIngest.LatMin, RainIngest.LatMax) &&
        $"longitude".between(RainIngest.LonMin, RainIngest.LonMax))
    // the plan reaches the DSv2 scan (pushdown itself is proven by the
    // zero-partition planning below — NetcdfScan doesn't echo a
    // PushedFilters list in its node description)
    val plan = clipped.queryExecution.sparkPlan.toString
    assert(plan.contains("BatchScan netcdf"), plan)
    assert(clipped.count() == 8)

    // and a grid wholly outside the bbox plans ZERO input partitions —
    // the 100 TB property: a clipped ingest reads only matching slabs
    val ncFar = Files.createTempFile("far", ".nc")
    Files.write(ncFar, FileBuilders.nc(
      times = Seq(0.0), timeUnits = "days since 2023-06-01",
      lats = Seq(45.0, 45.05), lons = Seq(10.0, 10.05),
      precip = Seq(Seq(Seq(1.0f, 1.0f), Seq(1.0f, 1.0f)))))
    val far = spark.read.format("netcdf").load(ncFar.toString)
      .where($"latitude".between(RainIngest.LatMin, RainIngest.LatMax) &&
        $"longitude".between(RainIngest.LonMin, RainIngest.LonMax))
    assert(far.rdd.getNumPartitions == 0)
  }

  test("ingestRainNc records the uploaded file's length as size_bytes") {
    val eng = newEngine()
    val nc = Files.createTempFile("chirps", ".nc")
    Files.write(nc, FileBuilders.nc(
      times = Seq(0.0), timeUnits = "days since 2023-06-01",
      lats = Seq(18.75, 18.80), lons = Seq(98.95, 99.00),
      precip = Seq(Seq(Seq(12.0f, 4.0f), Seq(8.0f, 0.0f)))))
    val cellMap = (for (lat <- Seq(18.75, 18.80); lon <- Seq(98.95, 99.00))
      yield (lat, lon, "Chiang Mai", "Mueang Chiang Mai"))
      .toDF("latitude", "longitude", "province", "district")
    eng.ingestRainNc(nc.toString, cellMap) // no dims seeded: no rows, one upload
    val sizes = eng.listUploads(Engine.UploadRainT)
      .select("filename", "size_bytes").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(sizes.toSeq == Seq((nc.getFileName.toString, Files.size(nc))))
    assert(Files.size(nc) > 0)
  }

  test("register → upload → list with owner join (upload-ownership flow)") {
    ownershipFlow(realAdm2())
  }

  test("upload-ownership flow on a generated ADM2 table") {
    ownershipFlow(Adm2Fixture.write())
  }

  private def ownershipFlow(adm2: String): Unit = {
    val eng = newEngine()
    eng.initDims(adm2)
    val uid = eng.registerUser("analyst", "s3cret-pw", "A. Nalyst")
    assert(uid == 1)
    assert(eng.registerUser("second", "h2") == 2)
    intercept[IllegalArgumentException](eng.registerUser("analyst", "other"))
    // register→login round trip through the real salted hash: the
    // stored value is a pbkdf2 record, never the password itself
    assert(eng.authenticate("analyst", "s3cret-pw").contains(uid))
    assert(eng.authenticate("analyst", "wrong").isEmpty)
    assert(eng.authenticate("nobody", "s3cret-pw").isEmpty)
    assert(eng.hashPassword("x") != eng.hashPassword("x")) // salted: distinct records
    assert(eng.verifyPassword("x", eng.hashPassword("x")))
    assert(!eng.verifyPassword("y", eng.hashPassword("x")))

    // JWT session layer: token round-trip, expiry, forgery rejection
    val token = eng.createAccessToken("analyst", nowEpochSec = 1000000L)
    assert(eng.currentUser(token, nowEpochSec = 1000000L).contains(uid))
    assert(eng.currentUser(token, nowEpochSec = 1000000L + 3599).contains(uid))
    assert(eng.currentUser(token, nowEpochSec = 1000000L + 3600).isEmpty) // expired
    assert(eng.currentUser(token.dropRight(2) + "xx", nowEpochSec = 1000000L).isEmpty) // bad sig
    assert(eng.currentUser("not.a.token", nowEpochSec = 1000000L).isEmpty)
    val ghost = eng.createAccessToken("nobody", nowEpochSec = 1000000L)
    assert(eng.currentUser(ghost, nowEpochSec = 1000000L).isEmpty) // valid token, unknown user

    val t = Timestamp.valueOf("2023-08-01 00:00:00")
    val grid = Seq((t, 18.75, 98.95, 3.0), (t, 18.80, 99.00, 5.0))
      .toDF("time", "latitude", "longitude", "precip")
    val cellMap = Seq(
      (18.75, 98.95, "Chiang Mai", "Mueang Chiang Mai"),
      (18.80, 99.00, "Chiang Mai", "Mueang Chiang Mai"))
      .toDF("latitude", "longitude", "province", "district")
    eng.ingestRainGrid(grid, cellMap, "owned.nc", ownerId = uid)

    val uploads = eng.listUploads(Engine.UploadRainT).collect()
    assert(uploads.length == 1)
    assert(uploads.head.getAs[Int]("owner_id") == uid)
    assert(uploads.head.getAs[String]("username") == "analyst")
    assert(uploads.head.getAs[String]("full_name") == "A. Nalyst")
  }

  test("initDims re-seed is idempotent (overwrite-while-reading guarded)") {
    reseedFlow(realAdm2(), provinces = 9, districts = 112)
  }

  test("initDims re-seed is idempotent on a generated ADM2 table") {
    reseedFlow(Adm2Fixture.write(), Adm2Fixture.NorthernProvinces, Adm2Fixture.NorthernDistricts)
  }

  private def reseedFlow(adm2: String, provinces: Int, districts: Int): Unit = {
    val eng = newEngine()
    eng.initDims(adm2)
    // second seed reads the freshly-written dims while overwriting the
    // same paths — must neither throw UNSUPPORTED_OVERWRITE.PATH nor
    // change the dimension contents
    eng.initDims(adm2)
    assert(eng.provinces.count() == provinces)
    assert(eng.districts.count() == districts)
    assert(eng.provinces.select("province_id").distinct().count() == provinces)
  }

  test("second rain upload continues primary keys and upload ids") {
    secondUploadFlow(realAdm2())
  }

  test("second rain upload continues primary keys on a generated ADM2 table") {
    secondUploadFlow(Adm2Fixture.write())
  }

  private def secondUploadFlow(adm2: String): Unit = {
    val eng = newEngine()
    eng.initDims(adm2)
    val t = Timestamp.valueOf("2023-07-01 00:00:00")
    def grid(p: Double) = Seq((t, 18.75, 98.95, p), (t, 18.80, 99.00, p))
      .toDF("time", "latitude", "longitude", "precip")
    val cellMap = Seq(
      (18.75, 98.95, "Chiang Mai", "Mueang Chiang Mai"),
      (18.80, 99.00, "Chiang Mai", "Mueang Chiang Mai"),
    ).toDF("latitude", "longitude", "province", "district")
    eng.ingestRainGrid(grid(5.0), cellMap, "a.nc")
    eng.ingestRainGrid(grid(7.0), cellMap, "b.nc")
    val rows = eng.listRain(req = ListQueries.PageRequest(pageSize = 200)).items.collect()
    assert(rows.length == 2)
    assert(rows.map(_.getAs[Long]("pk_id")).distinct.length == 2)
    // two upload rows with distinct ids → two distinct upload_ids … the
    // grain is one row per district per day PER UPLOAD (models.py:44-55)
  }

  test("a write must match its table's declared schema") {
    val eng = newEngine()
    val risk = Seq((1L, 1L, 1, 11, 2))
      .toDF("risk_id", "upload_risk_id", "province_id", "district_id", "risk_level")
    // column order is free (parquet resolves by name)
    assert(eng.writeTable(Engine.RiskT, risk.select(risk.columns.reverse.toIndexedSeq.map(risk(_)): _*)) == 1)
    val missing = intercept[IllegalArgumentException](
      eng.writeTable(Engine.RiskT, risk.drop("risk_level")))
    assert(missing.getMessage.contains(Engine.RiskT))
    intercept[IllegalArgumentException](
      eng.writeTable(Engine.RiskT, risk.withColumn("risk_level", $"risk_level".cast("string"))))
    intercept[IllegalArgumentException](
      eng.writeTable(Engine.RiskT, risk.withColumn("extra", $"risk_level")))
    // nothing of the refused frames reached the table
    assert(eng.listRisk().total == 1)
  }
}
