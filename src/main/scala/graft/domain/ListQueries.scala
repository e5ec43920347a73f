package graft.domain

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.SortOrder
import org.apache.spark.sql.execution.{SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._

/** The serving layer: filtered + dynamically-sorted + paginated list
  * queries, the date-limit aggregate, and the four-way "graph" query
  * with the promoted risk score (SURVEY.md §3.1/§3.3; reference
  * `backend/app/main.py:175-728`).
  */
object ListQueries {

  /** Page request with the reference's bounds: page ≥ 1, 1 ≤ page_size
    * ≤ 200, order_type ∈ {asc, desc} (main.py:240-244). */
  final case class PageRequest(
      page: Int = 1,
      pageSize: Int = 10,
      orderBy: String = "",
      orderType: String = "asc") {
    require(page >= 1, "page must be ≥ 1")
    require(pageSize >= 1 && pageSize <= 200, "page_size must be in [1,200]")
    require(orderType == "asc" || orderType == "desc", "order_type must be asc|desc")
  }

  /** The reference's JSON envelope, items still lazy. */
  final case class PageResult(
      page: Int, pageSize: Int, total: Long, allPage: Long, items: DataFrame)

  /** A1 + T1 + T3 with the reference's exact quirks:
    * `all_page = max(ceil(total/page_size), 1)`; page CLAMPED to the
    * last page; unknown `order_by` falls back to a per-endpoint column.
    *
    * One pass: an observation below the sort counts every row of the
    * filtered frame while the same job takes the requested page. Only
    * a request past the last page needs a second pass, for the clamped
    * page. The count is trusted only when the page ran as a top-k that
    * drained its whole input; any other plan (the optimizer drops the
    * limit of a frame known to be small, or the input already arrives
    * in sort order) counts the frame separately. The page (≤ 200 rows)
    * comes back as a local frame, so `items` never re-runs the query.
    * `items` and `total` come from the same pass, and so always agree,
    * only for an in-range page on the top-k path. On the other paths
    * (the separate count, or the second pass for a clamped page) they
    * come from two passes with nothing cached between them: an upload
    * that lands between the passes can make them disagree. */
  def paginate(
      df: DataFrame,
      sortable: Map[String, Column],
      fallback: Column,
      req: PageRequest): PageResult = {
    val sorted = pageQuery(df, sortable, fallback, req)
    // offsets past Int range are past the end of any table this serves
    val lastOffset = Int.MaxValue - req.pageSize
    def fetch(page: Long): (Array[Row], Option[Long]) = {
      val q = sorted.offset(math.min((page - 1) * req.pageSize, lastOffset).toInt)
        .limit(req.pageSize)
      val rows = q.collect()
      val counted = Some(q.queryExecution).filter(qe => drainsInput(qe.executedPlan))
        .flatMap(_.observedMetrics.get(TotalMetric))
      (rows, counted.map(_.getLong(0)))
    }
    val (requested, observed) = fetch(req.page)
    val total = observed.getOrElse(df.count())
    val allPage = math.max((total + req.pageSize - 1) / req.pageSize, 1L)
    val page = math.min(req.page.toLong, allPage).toInt
    val rows = if (page == req.page) requested else fetch(page)._1
    val items = df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
    PageResult(page, req.pageSize, total, allPage, items)
  }

  private val TotalMetric = "graft_page_total"

  /** Whether `plan` is a top-k that read every row below it: a
    * TakeOrderedAndProject whose input is not already in sort order
    * (on sorted input it takes only each partition's head). A full
    * sort instead runs its input twice, once to sample the range
    * bounds, and an observation below it counts both. */
  private def drainsInput(plan: SparkPlan): Boolean = plan match {
    case a: AdaptiveSparkPlanExec => drainsInput(a.executedPlan)
    case s: QueryStageExec => drainsInput(s.plan)
    case t: TakeOrderedAndProjectExec =>
      !SortOrder.orderingSatisfies(t.child.outputOrdering, t.sortOrder)
    case _ => false
  }

  /** The frame [[paginate]] runs: `df` with its row count observed, in
    * the requested order. */
  def pageQuery(df: DataFrame, sortable: Map[String, Column], fallback: Column,
      req: PageRequest): DataFrame = {
    val key = sortable.getOrElse(req.orderBy, fallback)
    df.observe(TotalMetric, count(lit(1)))
      .orderBy(if (req.orderType == "asc") key.asc else key.desc)
  }

  /** Optional equality / range filters with the 'all' sentinel
    * (main.py:252-263 and siblings). */
  final case class FactFilters(
      provinceId: Option[Int] = None,
      districtId: Option[Int] = None,
      riskLevel: Option[Int] = None,
      dateStart: Option[String] = None,
      dateEnd: Option[String] = None)

  private def conds(f: FactFilters, dateCol: Option[String]): Seq[Column] =
    f.provinceId.map(col("province_id") === _).toSeq ++
      f.districtId.map(col("district_id") === _) ++
      f.riskLevel.map(col("risk_level") === _) ++
      dateCol.toSeq.flatMap { dc =>
        f.dateStart.map(d => col(dc) >= to_date(lit(d))) ++
          f.dateEnd.map(d => col(dc) <= to_date(lit(d)))
      }

  private def applyConds(df: DataFrame, cs: Seq[Column]): DataFrame =
    if (cs.isEmpty) df else df.where(cs.reduce(_ && _))

  /** Both dims joined in, names labeled exactly as the endpoints do.
    * Dims are always broadcastable (≤928 rows nationally). */
  private def withDims(fact: DataFrame, provinces: DataFrame, districts: DataFrame): DataFrame = {
    val p = provinces.select(col("province_id").as("p_province_id"),
      col("province_name"), col("province_name_en"))
    val d = districts.select(col("district_id").as("d_district_id"),
      col("province_id").as("d_province_id"),
      col("district_name"), col("district_name_en"))
    fact
      .join(broadcast(p), fact("province_id") === p("p_province_id"), "left")
      .join(broadcast(d), fact("district_id") === d("d_district_id"), "left")
  }

  /** GET /list_rain (main.py:240-330). Fallback sort: `date`. */
  def listRain(rain: DataFrame, provinces: DataFrame, districts: DataFrame,
      filters: FactFilters = FactFilters(), req: PageRequest = PageRequest()): PageResult =
    paginate(rainRows(rain, provinces, districts, filters), RainSort, col("date"), req)

  /** The rows GET /list_rain pages through: the filtered facts with
    * both dims' names. */
  def rainRows(rain: DataFrame, provinces: DataFrame, districts: DataFrame,
      filters: FactFilters): DataFrame = {
    val base = applyConds(rain, conds(filters, Some("date")))
    withDims(base, provinces, districts)
      .select(col("pk_id"), col("date"), col("rain_mm_wmean"),
        col("province_id"), col("district_id"),
        col("province_name"), col("province_name_en"),
        col("district_name"), col("district_name_en"))
  }

  /** GET /list_rain's `order_by` whitelist. */
  val RainSort: Map[String, Column] = Map(
    "date" -> col("date"),
    "rain_mm_wmean" -> col("rain_mm_wmean"),
    "province_name" -> col("province_name"),
    "district_name" -> col("district_name"))

  /** GET /list_risk (main.py:476-525). Fallback sort: the DISTRICT
    * dim's province_id (main.py:503 quirk — not the fact's). */
  def listRisk(risk: DataFrame, provinces: DataFrame, districts: DataFrame,
      filters: FactFilters = FactFilters(), req: PageRequest = PageRequest()): PageResult = {
    val base = applyConds(risk, conds(filters, dateCol = None))
    val joined = withDims(base, provinces, districts)
      .select(col("risk_id"), col("risk_level"), col("province_id"), col("district_id"),
        col("province_name"), col("province_name_en"),
        col("district_name"), col("district_name_en"), col("d_province_id"))
    val res = paginate(joined, Map(
      "risk_level" -> col("risk_level"),
      "province_name" -> col("province_name"),
      "district_name" -> col("district_name")),
      fallback = col("d_province_id"), req)
    res.copy(items = res.items.drop("d_province_id"))
  }

  /** GET /list_incident_statistics (main.py:551-650). Same
    * district-dim fallback quirk (main.py:614). */
  def listIncidents(incidents: DataFrame, provinces: DataFrame, districts: DataFrame,
      filters: FactFilters = FactFilters(), req: PageRequest = PageRequest()): PageResult = {
    val base = applyConds(incidents, conds(filters, Some("disaster_date")))
    val joined = withDims(base, provinces, districts)
      .select(col("incident_id"), col("disaster_date"), col("province_id"), col("district_id"),
        col("count_of_disasters"),
        col("province_name"), col("province_name_en"),
        col("district_name"), col("district_name_en"), col("d_province_id"))
    val res = paginate(joined, Map(
      "disaster_date" -> col("disaster_date"),
      "count_of_disasters" -> col("count_of_disasters"),
      "province_name" -> col("province_name"),
      "district_name" -> col("district_name")),
      fallback = col("d_province_id"), req)
    res.copy(items = res.items.drop("d_province_id"))
  }

  /** GET /list_province_district (main.py:340-400): the district dim
    * joined to provinces, filters on the dim itself. */
  def listProvinceDistrict(provinces: DataFrame, districts: DataFrame,
      filters: FactFilters = FactFilters(), req: PageRequest = PageRequest()): PageResult = {
    val p = provinces.select(col("province_id").as("p_province_id"),
      col("province_name"), col("province_name_en"))
    val base = applyConds(districts, conds(filters, dateCol = None))
    val joined = base
      .join(broadcast(p), base("province_id") === p("p_province_id"), "left")
      .select(col("province_id"), col("district_id"),
        col("province_name"), col("province_name_en"),
        col("district_name"), col("district_name_en"))
    paginate(joined, Map(
      "province_id" -> col("province_id"),
      "province_name" -> col("province_name"),
      "district_name" -> col("district_name")),
      fallback = col("province_id"), req)
  }

  /** GET /list_province (main.py:175-186). Dims are sorted inside one
    * partition (≤928 rows nationally): one job, where a global sort
    * would add a range-sampling job and a shuffle. */
  def listProvince(provinces: DataFrame): DataFrame =
    provinces.select("province_id", "province_name", "province_name_en")
      .coalesce(1).orderBy("province_id")

  /** GET /list_district (main.py:190-217). */
  def listDistrict(districts: DataFrame, provinceId: Option[Int] = None): DataFrame = {
    val base = provinceId.map(id => districts.where(col("province_id") === id)).getOrElse(districts)
    base.select("district_id", "district_name", "district_name_en", "province_id")
      .coalesce(1).orderBy("province_id", "district_id")
  }

  /** GET /get_date_limit (main.py:664-680): global min/max rain date. */
  def dateLimit(rain: DataFrame): DataFrame =
    rain.agg(min(col("date")).as("min_date"), max(col("date")).as("max_date"))

  /** GET /list_data_graph (main.py:685-728) + the F13 score promoted
    * server-side: rain for one day ⟕ province ⟕ district ⟕ risk (on
    * district_id ONLY — multiple risk uploads fan out rows, as in the
    * reference) ⟕ incidents (district + same date), count coalesced
    * to 0. ~103 rows out; every join side broadcastable. */
  def graph(date: String, rain: DataFrame, provinces: DataFrame, districts: DataFrame,
      risk: DataFrame, incidents: DataFrame): DataFrame = {
    val d = to_date(lit(date))
    val r = rain.where(col("date") === d)
    val rk = risk.select(col("district_id").as("rk_district_id"), col("risk_level"))
    val inc = incidents
      .where(col("disaster_date") === d)
      .select(col("district_id").as("i_district_id"), col("count_of_disasters").as("i_count"))
    val joined = withDims(r, provinces, districts)
      .join(broadcast(rk), col("district_id") === col("rk_district_id"), "left")
      .join(broadcast(inc), col("district_id") === col("i_district_id"), "left")
    joined.select(
      col("date"), col("rain_mm_wmean"), col("province_id"), col("district_id"),
      col("province_name"), col("province_name_en"),
      col("district_name"), col("district_name_en"),
      col("risk_level"),
      coalesce(col("i_count"), lit(0)).as("count_of_disasters"))
      .withColumn("score",
        Buckets.riskScore(col("rain_mm_wmean"), col("risk_level"), col("count_of_disasters")))
  }
}
