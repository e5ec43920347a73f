package graft.domain

import graft.{SparkSpec, Warehouse}
import graft.testutil.{Adm2Fixture, FileBuilders}
import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.BeforeAndAfterAll

/** The Spark jobs each engine endpoint starts per call, pinned on a
  * small warehouse built through the engine's own uploads. A request's
  * fixed cost is its jobs (each one a scheduling round trip), so a
  * change that adds a pass to a request shows here first. The counts
  * include materializing the result the way a caller does: collecting
  * a list page's items, a graph's rows, the dims. Each measured call
  * runs under a job group of its own, and only that group's jobs are
  * counted, so a job another suite leaves running on the shared
  * session cannot enter a count. */
class EngineJobsSpec extends SparkSpec with BeforeAndAfterAll {
  import spark.implicits._
  import ListQueries.{FactFilters, PageRequest}

  private val started = new AtomicInteger
  @volatile private var group: String = ""
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
        started.incrementAndGet()
  }
  private val calls = new AtomicInteger

  private lazy val eng: Engine = {
    val eng = new Engine(spark,
      new Warehouse(spark, Files.createTempDirectory("graft-jobs").toString))
    eng.initDims(Adm2Fixture.write())
    // six cells on a 0.05° grid, one district each, 40 days in each of
    // two years
    val cells = Seq(
      (18.70, 98.90, "Chiang Mai", "Mueang Chiang Mai"), (18.70, 98.95, "Chiang Mai", "Fang"),
      (18.70, 99.00, "Chiang Mai", "Mae Rim"), (18.75, 98.90, "Chiang Mai", "San Sai"),
      (18.75, 98.95, "Lamphun", "Mueang Lamphun"), (18.75, 99.00, "Lamphun", "Pa Sang"))
    val days = for (y <- Seq(2023, 2024); d <- 0 until 40)
      yield Timestamp.valueOf(java.time.LocalDate.of(y, 6, 1).plusDays(d).atStartOfDay())
    val grid = for (t <- days; ((lat, lon, _, _), i) <- cells.zipWithIndex)
      yield (t, lat, lon, 1.0 + i + t.toLocalDateTime.getDayOfMonth)
    assert(eng.ingestRainGrid(grid.toDF("time", "latitude", "longitude", "precip"),
      cells.toDF("latitude", "longitude", "province", "district"), "grid.nc") == 480)
    val dbf = Files.createTempFile("risk", ".dbf")
    Files.write(dbf, FileBuilders.dbf(
      fields = Seq(("AMPHOE_T", 40), ("PROV_NAM_T", 40), ("CLASS", 20)),
      records = Seq(Seq("เมืองเชียงใหม่", "เชียงใหม่", "สูง"), Seq("ฝาง", "เชียงใหม่", "low"))))
    assert(eng.ingestRiskDbf(dbf.toString) == Adm2Fixture.ChiangMaiDistricts)
    assert(eng.ingestIncidentXlsx(FileBuilders.xlsx(Seq("Sheet1" -> Seq(
      Seq("Disaster Date", "Province", "District"),
      Seq("2023-06-05", "เชียงใหม่", "เมืองเชียงใหม่"),
      Seq("2023-06-05", "เชียงใหม่", "ฝาง"),
      Seq("2024-06-10", "ลำพูน", "ป่าซาง"))))) == 3)
    eng.optimizeWarehouse()
    spark.sparkContext.addSparkListener(listener)
    eng
  }

  override def afterAll(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    super.afterAll()
  }

  /** Jobs that `call` starts, counted within a job group of its own. */
  private def jobs(call: => Any): Int = {
    eng
    val sc = spark.sparkContext
    ListenerDrain(sc)
    started.set(0)
    group = s"engine-jobs-${calls.incrementAndGet()}"
    sc.setJobGroup(group, "EngineJobsSpec measured call")
    try call
    finally sc.clearJobGroup()
    ListenerDrain(sc)
    started.get()
  }

  private def province(en: String): Int =
    eng.provinces.where($"province_name_en" === en).head().getInt(0)

  private def page(res: ListQueries.PageResult) = res.items.collect()

  test("list endpoints: three jobs in range, six past the end") {
    val cm = Some(province("Chiang Mai"))
    val window = FactFilters(provinceId = cm, dateStart = Some("2023-06-10"),
      dateEnd = Some("2024-06-20"))
    val calls: Seq[(String, Int => ListQueries.PageResult)] = Seq(
      "listRain" -> (p => eng.listRain(window, PageRequest(p, 10, "district_name"))),
      "listIncidents" -> (p => eng.listIncidents(FactFilters(), PageRequest(p, 1, "disaster_date"))),
      "listRisk" -> (p => eng.listRisk(FactFilters(provinceId = cm), PageRequest(p, 2, "risk_level"))))
    for ((name, call) <- calls) {
      val first = call(2)
      assert(first.page == 2, s"$name: page 2 must lie in range")
      assert(jobs(page(call(2))) == 3, s"$name, page in range")
      val past = call(999)
      assert(past.page == past.allPage && past.page < 999 && page(past).nonEmpty, name)
      assert(jobs(page(call(999))) == 6, s"$name, page past the end")
    }
  }

  test("dimension endpoints, dateLimit, graph and graphGeoJson") {
    assert(jobs(page(eng.listProvinceDistrict(FactFilters(), PageRequest(2, 5, "district_name")))) == 2)
    // one job each: the dims sort inside one partition
    assert(jobs { eng.listProvince().collect(); eng.listDistrict(Some(1)).collect() } == 2)
    assert(jobs(eng.dateLimit().collect()) == 2)
    assert(eng.graph("2023-06-05").count() == 6)
    assert(jobs(eng.graph("2023-06-05").collect()) == 5)
    val polys = Seq(("Chiang Mai", "Fang",
      "POLYGON ((98.9 18.7, 98.9 18.9, 99.1 18.9, 99.1 18.7, 98.9 18.7))"))
      .toDF("province", "district", "wkt")
    assert(eng.graphGeoJson("2023-06-05", polys).contains(""""district":"Fang""""))
    assert(jobs(eng.graphGeoJson("2023-06-05", polys)) == 6)
  }
}
