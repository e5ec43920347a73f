package graft.domain

import graft.SparkSpec
import org.apache.spark.sql.functions.{col, expr, lit}
import java.sql.Date

class ListQueriesSpec extends SparkSpec {
  import spark.implicits._
  import ListQueries._

  private def provinces = Seq(
    (1, "เชียงใหม่", "Chiang Mai"),
    (2, "น่าน", "Nan"),
  ).toDF("province_id", "province_name", "province_name_en")

  private def districts = Seq(
    (11, "เมืองเชียงใหม่", "Mueang Chiang Mai", 1),
    (12, "ฝาง", "Fang", 1),
    (21, "เวียงสา", "Wiang Sa", 2),
  ).toDF("district_id", "district_name", "district_name_en", "province_id")

  private def rain = Seq(
    (1L, 10L, Date.valueOf("2024-05-01"), 2024, 1, 11, 3.5, 100.0),
    (2L, 10L, Date.valueOf("2024-05-02"), 2024, 1, 12, 7.0, 200.0),
    (3L, 10L, Date.valueOf("2024-05-03"), 2024, 2, 21, 1.0, 50.0),
    (4L, 10L, Date.valueOf("2024-05-04"), 2024, 1, 11, 9.0, 300.0),
    (5L, 10L, Date.valueOf("2024-05-05"), 2024, 2, 21, 2.0, 60.0),
  ).toDF("pk_id", "upload_id", "date", "year", "province_id", "district_id", "rain_mm_wmean", "rainfall_mm")

  test("listRain: filter + sort + paginate envelope") {
    val res = listRain(rain, provinces, districts,
      FactFilters(provinceId = Some(1)),
      PageRequest(page = 1, pageSize = 2, orderBy = "rain_mm_wmean", orderType = "desc"))
    assert(res.total == 3 && res.allPage == 2 && res.page == 1)
    val rows = res.items.collect()
    assert(rows.map(_.getAs[Double]("rain_mm_wmean")).toSeq == Seq(9.0, 7.0))
    assert(rows.head.getAs[String]("province_name") == "เชียงใหม่")
    assert(rows.head.getAs[String]("district_name_en") == "Mueang Chiang Mai")
  }

  test("page clamp: page beyond the end returns the last page") {
    val res = listRain(rain, provinces, districts, FactFilters(),
      PageRequest(page = 99, pageSize = 2, orderBy = "date"))
    assert(res.allPage == 3 && res.page == 3)
    assert(res.items.collect().map(_.getAs[Long]("pk_id")).toSeq == Seq(5L))
  }

  test("unknown order_by falls back (rain → date)") {
    val res = listRain(rain, provinces, districts, FactFilters(),
      PageRequest(page = 1, pageSize = 3, orderBy = "nonsense", orderType = "desc"))
    assert(res.items.collect().map(_.getAs[Date]("date").toString).toSeq ==
      Seq("2024-05-05", "2024-05-04", "2024-05-03"))
  }

  test("date-range filters") {
    val res = listRain(rain, provinces, districts,
      FactFilters(dateStart = Some("2024-05-02"), dateEnd = Some("2024-05-04")),
      PageRequest(pageSize = 10, orderBy = "date"))
    assert(res.total == 3)
  }

  test("listRisk: quirky fallback sort = district dim's province_id; no helper col leaks") {
    val risk = Seq(
      (1L, 5L, 2, 21, 3),
      (2L, 5L, 1, 11, 1),
      (3L, 5L, 1, 12, 2),
    ).toDF("risk_id", "upload_risk_id", "province_id", "district_id", "risk_level")
    val res = listRisk(risk, provinces, districts, FactFilters(),
      PageRequest(pageSize = 10, orderBy = "unknown"))
    val rows = res.items.collect()
    assert(!rows.head.schema.fieldNames.contains("d_province_id"))
    // fallback asc by district-dim province_id: (11,12 under p1) before 21
    assert(rows.map(_.getAs[Int]("district_id")).toSeq.takeRight(1) == Seq(21))
  }

  test("listProvinceDistrict + listProvince + listDistrict") {
    val pd = listProvinceDistrict(provinces, districts, FactFilters(provinceId = Some(1)),
      PageRequest(pageSize = 10, orderBy = "district_name"))
    assert(pd.total == 2)
    assert(listProvince(provinces).collect().map(_.getInt(0)).toSeq == Seq(1, 2))
    assert(listDistrict(districts, Some(2)).collect().map(_.getInt(0)).toSeq == Seq(21))
  }

  test("dateLimit") {
    val r = dateLimit(rain).head()
    assert(r.getAs[Date]("min_date").toString == "2024-05-01")
    assert(r.getAs[Date]("max_date").toString == "2024-05-05")
  }

  test("graph: risk fans out per upload, incident coalesce, score") {
    val risk = Seq(
      (1L, 5L, 1, 11, 2),
      (2L, 6L, 1, 11, 3), // second upload for district 11 → fan-out
      (3L, 5L, 1, 12, 1),
    ).toDF("risk_id", "upload_risk_id", "province_id", "district_id", "risk_level")
    val incidents = Seq(
      (1L, Date.valueOf("2024-05-01"), 2024, 1, 11, 2),
      (2L, Date.valueOf("2024-05-02"), 2024, 1, 12, 9), // other day → ignored
    ).toDF("incident_id", "disaster_date", "year", "province_id", "district_id", "count_of_disasters")

    val out = graph("2024-05-01", rain, provinces, districts, risk, incidents)
      .orderBy("district_id", "risk_level").collect()
    // rain on 05-01: district 11 only; fans out ×2 risk rows
    assert(out.length == 2)
    assert(out.map(_.getAs[Int]("risk_level")).toSeq == Seq(2, 3))
    assert(out.forall(_.getAs[Int]("count_of_disasters") == 2))
    // score: rain 3.5/2 + risk*10 + boost: cnt=2 → max(80, base+10)
    val s = out.map(_.getAs[Double]("score")).toSeq
    assert(s == Seq(80.0, 80.0))
  }

  // ---- the one-pass paginator's edges ----

  /** Every request must come back: an observation that never reports
    * would block the caller, so each edge runs under a time limit. */
  private def quick[T](body: => T): T = {
    import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
    import org.scalatest.time.SpanSugar._
    implicit val interrupt: Signaler = ThreadSignaler
    TimeLimits.failAfter(120.seconds)(body)
  }

  private def assertEmptyEnvelope(res: PageResult): Unit = {
    assert((res.total, res.allPage, res.page) == ((0L, 1L, 1)))
    assert(res.items.collect().isEmpty)
    assert(res.items.columns.toSeq == Seq("pk_id", "date", "rain_mm_wmean",
      "province_id", "district_id", "province_name", "province_name_en",
      "district_name", "district_name_en"))
  }

  test("absent table (readOrEmpty's empty frame): total 0, one page, no rows") {
    val wh = new graft.Warehouse(spark,
      java.nio.file.Files.createTempDirectory("graft-lq").toString)
    val none = wh.readOrEmpty("rain_points", Schemas.rainPoints)
    for (page <- Seq(1, 3))
      assertEmptyEnvelope(quick(listRain(none, provinces, districts, FactFilters(),
        PageRequest(page = page, pageSize = 10, orderBy = "date"))))
  }

  test("a filter that matches nothing: total 0, one page, no rows") {
    for (page <- Seq(1, 2)) {
      assertEmptyEnvelope(quick(listRain(rain, provinces, districts,
        FactFilters(provinceId = Some(99)), PageRequest(page = page, pageSize = 2))))
      // the same over a parquet scan, which the optimizer cannot fold
      val dir = java.nio.file.Files.createTempDirectory("graft-lq").toString
      rain.write.mode("overwrite").parquet(dir)
      assertEmptyEnvelope(quick(listRain(spark.read.parquet(dir), provinces, districts,
        FactFilters(dateStart = Some("2030-01-01")), PageRequest(page = page, pageSize = 2))))
    }
  }

  test("last page exactly, one past it, and an exact fit") {
    def ids(res: PageResult) = res.items.collect().map(_.getAs[Long]("pk_id")).toSeq
    val last = quick(listRain(rain, provinces, districts, FactFilters(),
      PageRequest(page = 3, pageSize = 2, orderBy = "date")))
    assert((last.total, last.allPage, last.page) == ((5L, 3L, 3)) && ids(last) == Seq(5L))
    val past = quick(listRain(rain, provinces, districts, FactFilters(),
      PageRequest(page = 4, pageSize = 2, orderBy = "date")))
    assert((past.total, past.allPage, past.page) == ((5L, 3L, 3)) && ids(past) == Seq(5L))
    val fit = quick(listRain(rain, provinces, districts, FactFilters(),
      PageRequest(page = 2, pageSize = 5, orderBy = "date", orderType = "desc")))
    assert((fit.total, fit.allPage, fit.page) == ((5L, 1L, 1)))
    assert(ids(fit) == Seq(5L, 4L, 3L, 2L, 1L))
  }

  test("page_size 200 over 450 rows: full pages, the short last page, the clamp") {
    val many = spark.range(1, 451).select(
      $"id".as("pk_id"), lit(10L).as("upload_id"),
      expr("date_add(date'2024-01-01', cast(id as int))").as("date"), lit(2024).as("year"),
      lit(1).as("province_id"), lit(11).as("district_id"),
      $"id".cast("double").as("rain_mm_wmean"), lit(0.0).as("rainfall_mm"))
    def page(n: Int) = quick(listRain(many, provinces, districts, FactFilters(),
      PageRequest(page = n, pageSize = 200, orderBy = "rain_mm_wmean")))
    def ids(res: PageResult) = res.items.collect().map(_.getAs[Long]("pk_id")).toSeq
    val second = page(2)
    assert((second.total, second.allPage, second.page) == ((450L, 3L, 2)))
    assert(ids(second) == (201L to 400L))
    assert(ids(page(3)) == (401L to 450L))
    val clamped = page(7)
    assert(clamped.page == 3 && ids(clamped) == (401L to 450L))
    // input that already arrives in sort order: the top-k reads only
    // each partition's head, so the total must not come from it
    val inOrder = many.withColumn("rain_mm_wmean", $"pk_id")
    val res = quick(listRain(inOrder, provinces, districts, FactFilters(),
      PageRequest(page = 2, pageSize = 200, orderBy = "rain_mm_wmean")))
    assert((res.total, res.allPage, res.page) == ((450L, 3L, 2)) && ids(res) == (201L to 400L))
  }

  test("PageRequest bounds validated") {
    intercept[IllegalArgumentException](PageRequest(page = 0))
    intercept[IllegalArgumentException](PageRequest(pageSize = 201))
    intercept[IllegalArgumentException](PageRequest(orderType = "sideways"))
  }
}
