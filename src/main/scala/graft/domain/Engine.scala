package graft.domain

import graft.Warehouse
import graft.sources.{DbfReader, XlsxReader}
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import scala.concurrent.Await
import scala.concurrent.duration._
import scala.util.Try

/** The engine facade — the drop-in replacement surface for the
  * reference backend (SURVEY.md §0): dimension seeding, the three
  * upload ingests (with upload-metadata rows and primary keys), and
  * every serving query, all against a [[graft.Warehouse]].
  *
  * Primary keys: each append gets `max(existing)+row_number` over the
  * batch. Upload files are request-scoped (≤ a few hundred thousand
  * rows — SURVEY §6: ~38k rows/year-file), so the single-partition
  * window inside one append is bounded by construction; fact-table
  * scans never pay it.
  *
  * Every table is read with its declared schema ([[Engine.Declared]],
  * through [[graft.Warehouse.readOrEmpty]]) and written through
  * `writeTable`, which checks each frame against that declaration.
  */
final class Engine(spark: SparkSession, wh: Warehouse,
    jwtSecret: String = "change-me") {

  import Engine._

  // ---- dimension access ----

  private def table(name: String): DataFrame = wh.readOrEmpty(name, Declared(name))

  /** Appends (or overwrites with) `df` after checking it against the
    * table's declaration, and returns the rows written, counted by an
    * observation on the write's own job rather than by a second pass
    * over the frame's lineage. */
  private[domain] def writeTable(name: String, df: DataFrame,
      mode: SaveMode = SaveMode.Append): Long = {
    requireDeclared(name, df.schema)
    val written = Observation()
    wh.write(name, df.observe(written, count(lit(1)).as("rows")), mode)
    // the observation completes when the write does; the count is a
    // fallback for a plan that dropped the observing node
    Try(Await.result(written.future, 10.seconds).getLong(0)).getOrElse(df.count())
  }

  def provinces: DataFrame = table(ProvinceT)
  def districts: DataFrame = table(DistrictT)

  /** POST /init analog: seed dims from the ADM2 attribute table
    * (idempotent — reruns add nothing). */
  def initDims(adm2DbfPath: String,
      northProvsEn: Seq[String] = RainIngest.NorthProvsEn): DimInit.Dims = {
    val adm2 = DbfReader.read(spark, adm2DbfPath, withRecno = true)
    val dims = DimInit.seed(spark, adm2, provinces, districts, northProvsEn)
    // The seeded frames are lazy plans that READ the same parquet paths
    // they are about to overwrite (readOrEmpty → union in DimInit.seed);
    // Spark refuses to overwrite a path it is reading from, so a re-seed
    // would throw. Materialize first (dims are ≤ 928 rows), then swap.
    val provMat = dims.provinces.localCheckpoint(true)
    val distMat = dims.districts.localCheckpoint(true)
    writeTable(ProvinceT, provMat, SaveMode.Overwrite)
    writeTable(DistrictT, distMat, SaveMode.Overwrite)
    DimInit.Dims(provinces, districts)
  }

  // ---- users (models.py:7-13; main.py:66-107) ----

  private def users: DataFrame = table(UsersT)

  // Salted password hashing (the reference hashes via passlib and
  // verifies on login, main.py:66-107). Scheme: PBKDF2-HMAC-SHA256,
  // 100k iterations, 16-byte random salt, stored as
  // "pbkdf2_sha256:<iters>:<salt b64>:<hash b64>" — JDK-only, no
  // dependency, same register→login contract as the reference's
  // bcrypt flow (round-trip + wrong-password rejection).
  private def pbkdf2(password: String, salt: Array[Byte], iters: Int): Array[Byte] = {
    val spec = new javax.crypto.spec.PBEKeySpec(password.toCharArray, salt, iters, 256)
    javax.crypto.SecretKeyFactory.getInstance("PBKDF2WithHmacSHA256")
      .generateSecret(spec).getEncoded
  }

  def hashPassword(password: String): String = {
    val salt = new Array[Byte](16)
    new java.security.SecureRandom().nextBytes(salt)
    val iters = 100000
    val enc = java.util.Base64.getEncoder
    s"pbkdf2_sha256:$iters:${enc.encodeToString(salt)}:" +
      enc.encodeToString(pbkdf2(password, salt, iters))
  }

  def verifyPassword(password: String, stored: String): Boolean =
    stored.split(":") match {
      case Array("pbkdf2_sha256", it, s, h) =>
        val dec = java.util.Base64.getDecoder
        // constant-time compare — no early-exit timing oracle
        java.security.MessageDigest.isEqual(
          pbkdf2(password, dec.decode(s), it.toInt), dec.decode(h))
      case _ => false
    }

  /** POST /register analog (main.py:66-86): append a user row unless
    * the username is taken (the endpoint's 400). The password is
    * salted-hashed server-side ([[hashPassword]]), like the
    * reference's passlib flow. Like every metadata mutation on this
    * facade (recordUpload's max+1 ids, initDims' overwrite),
    * check-then-append assumes a single-writer control plane; the
    * reference gets the equivalent guarantee from its DB's unique
    * constraint. */
  def registerUser(username: String, password: String, fullName: String = ""): Int = {
    val u = username.trim
    require(u.nonEmpty, "username required")
    if (users.where(col("username") === u).limit(1).count() > 0)
      throw new IllegalArgumentException(s"username already registered: $u")
    val id = users.agg(coalesce(max(col("user_id")), lit(0))).first().getInt(0) + 1
    import spark.implicits._
    writeTable(UsersT, Seq((id, u, hashPassword(password), fullName))
      .toDF("user_id", "username", "password_hash", "full_name")
      .withColumn("time_create", current_timestamp()))
    id
  }

  /** POST /login analog (main.py:89-107): fetch the user's stored
    * salted hash, verify the presented password against it → user_id. */
  def authenticate(username: String, password: String): Option[Int] =
    users.where(col("username") === username)
      .select("user_id", "password_hash").collect().headOption
      .filter(r => verifyPassword(password, r.getString(1)))
      .map(_.getInt(0))

  /** `create_access_token` analog (auth.py:29-35): an HS256 JWT with
    * `{sub, exp}` claims, default 60-minute ttl. `nowEpochSec` is
    * injectable so expiry is testable. */
  def createAccessToken(username: String, expiresMinutes: Int = 60,
      nowEpochSec: Long = System.currentTimeMillis() / 1000): String =
    Jwt.create(username, jwtSecret, expiresMinutes * 60L, nowEpochSec = nowEpochSec)

  /** `get_current_user` analog (auth.py:55-67): verify the token
    * (signature + expiry), then resolve its subject against the users
    * table → user_id. Every 401 path (missing/malformed/forged/expired
    * token, unknown user) is None. */
  def currentUser(token: String,
      nowEpochSec: Long = System.currentTimeMillis() / 1000): Option[Int] =
    Jwt.subject(token, jwtSecret, nowEpochSec).flatMap { sub =>
      users.where(col("username") === sub).select("user_id")
        .collect().headOption.map(_.getInt(0))
    }

  /** Upload metadata with the owner resolved through the users table —
    * the upload-ownership flow (`owner_id` FK, models.py:15-24). */
  def listUploads(table: String): DataFrame =
    this.table(table)
      .join(broadcast(users.select(col("user_id"), col("username"), col("full_name"))),
        col("owner_id") === col("user_id"), "left")
      .drop("user_id")
      .orderBy("upload_id")

  // ---- uploads ----

  private def nextId(df: DataFrame, idCol: String): Long =
    df.agg(coalesce(max(col(idCol)), lit(0L))).first().getLong(0)

  private def withPk(df: DataFrame, idCol: String, start: Long): DataFrame =
    df.withColumn(idCol,
      (row_number().over(Window.orderBy(monotonically_increasing_id())) + start).cast("long"))

  private def recordUpload(name: String, filename: String, sizeBytes: Long, ownerId: Int): Long = {
    val id = nextId(table(name), "upload_id") + 1
    import spark.implicits._
    writeTable(name, Seq((id, filename, s"storage/$filename", sizeBytes, "application/octet-stream", ownerId))
      .toDF("upload_id", "filename", "storage_path", "size_bytes", "content_type", "owner_id")
      .withColumn("time_create", current_timestamp()))
    id
  }

  /** POST /upload analog (NetCDF → rain_points). The grid arrives
    * pre-flattened (Schemas.rainGrid); `cellMap` is the J3 spatial
    * assignment (see [[graft.spatial.CellDistrictMap]]); `sizeBytes`
    * is the uploaded file's length, recorded in the upload metadata.
    * Returns the number of appended rows. */
  def ingestRainGrid(grid: DataFrame, cellMap: DataFrame, filename: String,
      ownerId: Int = 0, northProvsEn: Seq[String] = RainIngest.NorthProvsEn,
      sizeBytes: Long = 0L): Long = {
    val uploadId = recordUpload(UploadRainT, filename, sizeBytes, ownerId)
    val rows = RainIngest.ingest(spark, grid, cellMap, provinces, districts, uploadId, northProvsEn)
    val out = withPk(rows, "pk_id", nextId(table(RainT), "pk_id"))
      .select("pk_id", "upload_id", "date", "year", "province_id", "district_id",
        "rain_mm_wmean", "rainfall_mm")
    writeTable(RainT, out)
  }

  /** POST /upload analog from the raw `.nc` file itself — the DSv2
    * scan (`spark.read.format("netcdf")`, one partition per record,
    * lat/lon/time pushdown) feeding [[ingestRainGrid]], completing the
    * reference's upload path (main.py:109-156) without a pre-flattened
    * intermediate. This is the 100 TB path: RainIngest's bbox clip
    * reaches the source as planning-time cell pruning, so a clipped
    * ingest reads only the matching slab bytes — the driver-side
    * [[graft.sources.NetcdfReader.readGrid]] twin stays for small
    * ad-hoc loads. */
  def ingestRainNc(ncPath: String, cellMap: DataFrame, ownerId: Int = 0,
      northProvsEn: Seq[String] = RainIngest.NorthProvsEn): Long = {
    val grid = spark.read.format("netcdf").load(ncPath)
    val file = new java.io.File(ncPath)
    ingestRainGrid(grid, cellMap, file.getName, ownerId, northProvsEn, file.length())
  }

  /** POST /upload_dbf analog (risk map → risk_points). */
  def ingestRiskDbf(path: String, specialFix: Boolean = false, ownerId: Int = 0): Long = {
    val dbf = DbfReader.read(spark, path)
    val uploadRiskId = recordUpload(UploadRiskT, new java.io.File(path).getName,
      new java.io.File(path).length(), ownerId)
    val rows = RiskIngest.ingest(spark, dbf, provinces, districts, uploadRiskId, specialFix)
    val out = withPk(rows, "risk_id", nextId(table(RiskT), "risk_id"))
      .select("risk_id", "upload_risk_id", "province_id", "district_id", "risk_level")
    writeTable(RiskT, out)
  }

  /** POST /upload_excel analog (incident log → incident counts),
    * including sheet choice and the dual header format; idempotent via
    * the date-scoped anti-join. */
  def ingestIncidentXlsx(bytes: Array[Byte], requestedSheet: Option[String] = None): Long = {
    val wb = XlsxReader.parse(bytes)
    val sheet = TextNorm.chooseSheet(wb.sheetNames, requestedSheet)
    val attempt1 = XlsxReader.readSheet(spark, wb, Some(sheet))
    val file = IncidentIngest.normalizeColumns(attempt1).getOrElse {
      IncidentIngest.normalizeColumns(XlsxReader.readSheet(spark, wb, Some(sheet), skipRows = 2))
        .getOrElse(throw new IllegalArgumentException(
          s"sheet '$sheet' carries neither header format"))
    }
    val existing = table(IncidentT)
    val rows = IncidentIngest.ingest(spark, file, provinces, districts, existing)
    val out = withPk(rows, "incident_id", nextId(existing, "incident_id"))
      .select("incident_id", "disaster_date", "year", "province_id", "district_id",
        "count_of_disasters")
    writeTable(IncidentT, out)
  }

  /** Warehouse OPTIMIZE pass — the maintenance twin of the reference's
    * b-tree indexes on (date, district) (`models.py:91-99`): each
    * dated fact table's year partitions rewrite z-ordered on
    * (district_id, date), so the serving filters q_list_page /
    * q_graph_day push ([[ListQueries.FactFilters]] district equality +
    * date range) skip whole files on parquet min/max stats instead of
    * decoding every row of the year. The undated risk facts cluster on
    * (province_id, district_id) — their serving filters. Run from the
    * single-writer control plane on upload-batch cadence; readers in
    * flight keep their opened files (the staged-rename swap). The
    * file-skip effect on a REAL served query is pinned in
    * WarehouseSpec's numOutputRows case. */
  def optimizeWarehouse(targetBytes: Long = 128L * 1024 * 1024,
      layouts: Map[String, graft.Warehouse.Layout] = Engine.ServingLayouts): Unit = {
    // partition-selective since r15: only fragmented year dirs rewrite
    // (Warehouse.optimize), so the nightly run costs ~nothing once the
    // layout settles instead of re-shuffling every year of history
    for ((table, layout) <- layouts if wh.exists(table))
      wh.optimize(table, targetBytes, layout)
  }

  // ---- serving ----

  private def rain = table(RainT)
  private def risk = table(RiskT)
  private def incidents = table(IncidentT)

  def listProvince(): DataFrame = ListQueries.listProvince(provinces)
  def listDistrict(provinceId: Option[Int] = None): DataFrame =
    ListQueries.listDistrict(districts, provinceId)
  def listRain(filters: ListQueries.FactFilters = ListQueries.FactFilters(),
      req: ListQueries.PageRequest = ListQueries.PageRequest()): ListQueries.PageResult =
    ListQueries.listRain(rain, provinces, districts, filters, req)
  def listRisk(filters: ListQueries.FactFilters = ListQueries.FactFilters(),
      req: ListQueries.PageRequest = ListQueries.PageRequest()): ListQueries.PageResult =
    ListQueries.listRisk(risk, provinces, districts, filters, req)
  def listIncidents(filters: ListQueries.FactFilters = ListQueries.FactFilters(),
      req: ListQueries.PageRequest = ListQueries.PageRequest()): ListQueries.PageResult =
    ListQueries.listIncidents(incidents, provinces, districts, filters, req)
  def listProvinceDistrict(filters: ListQueries.FactFilters = ListQueries.FactFilters(),
      req: ListQueries.PageRequest = ListQueries.PageRequest()): ListQueries.PageResult =
    ListQueries.listProvinceDistrict(provinces, districts, filters, req)
  def dateLimit(): DataFrame = ListQueries.dateLimit(rain)
  def graph(date: String): DataFrame =
    ListQueries.graph(date, rain, provinces, districts, risk, incidents)

  /** The complete choropleth the reference renders client-side
    * (frontend `page.tsx:129-269`): the day's scored graph rows keyed
    * to district polygons by (district_en, province_en) — exactly the
    * frontend's join key (`page.tsx:146-161`) — with the F14 color
    * bucket, exported as GeoJSON. `polygons` is (province, district,
    * wkt), e.g. from [[graft.sources.ShpReader]] + the admin `.dbf`. */
  def graphGeoJson(date: String, polygons: DataFrame): String = {
    val g = graph(date)
    val keyed = g.join(
      polygons.select(col("province").as("p_en"), col("district").as("d_en"), col("wkt")),
      g("district_name_en") === col("d_en") && g("province_name_en") === col("p_en"),
      "inner")
      .withColumn("color", Buckets.scoreColor(col("score")))
      .select(col("wkt"),
        col("province_name_en").as("province"), col("district_name_en").as("district"),
        col("date").cast("string").as("date"),
        round(col("rain_mm_wmean"), 2).as("rain_mm_wmean"),
        col("risk_level"), col("count_of_disasters"),
        round(col("score"), 2).as("score"), col("color"))
    graft.spatial.GeoJson.featureCollection(keyed)
  }
}

object Engine {
  val ProvinceT = "province"
  val DistrictT = "district"
  val RainT = "rain_points"
  val RiskT = "risk_points"
  val IncidentT = "incident_statistics_points"
  val UploadRainT = "upload_rain_point"
  val UploadRiskT = "upload_risk"
  val UsersT = "users"

  /** The declared schema of every engine table: what its reads trust
    * and what every write must match. */
  val Declared: Map[String, StructType] = Map(
    ProvinceT -> Schemas.province,
    DistrictT -> Schemas.district,
    RainT -> Schemas.rainPoints,
    RiskT -> Schemas.riskPoints,
    IncidentT -> Schemas.incidentStatisticsPoints,
    UploadRainT -> Schemas.uploadMeta,
    UploadRiskT -> Schemas.uploadMeta,
    UsersT -> Schemas.users)

  /** A frame may be written to `table` only if its column names and
    * types are exactly the declaration's (order and nullability aside:
    * parquet reads resolve columns by name). A missing column would
    * read back as null and a mistyped one would fail every later scan. */
  private def requireDeclared(table: String, schema: StructType): Unit = {
    val declared = Declared(table)
    def typed(s: StructType) = s.fields.map(f => f.name -> f.dataType).toMap
    require(schema.size == declared.size && typed(schema) == typed(declared),
      s"frame for $table does not match its declared schema: got " +
        s"${schema.simpleString}, declared ${declared.simpleString}")
  }

  /** Per-table serving layouts, chosen from each table's endpoint
    * mix. The dated fact tables serve BOTH date-RANGE windows
    * (list_rain/graph_day's dateStart..dateEnd) and district-equality
    * slices — the r15 soak measured that a symmetric (district, date)
    * z-order loses to a plain date sort on the range shape at real
    * file counts while a date sort gives up district skipping
    * entirely, so they get the date-weighted Morton layout (date 16
    * interleave bits, district 8 — the g = 2 interleave
    * [[graft.ops.ZOrder.weightedBitsFor]] picks for a ~0.9
    * range-dominated endpoint mix; that helper is the executable form
    * of the sizing rule, so re-derive the widths from (fileCount,
    * endpoint mix) when either changes instead of copying 16/8).
    * SMALL-F CAVEAT ([[graft.ops.ZOrder.fixedBitsAt]], the measured
    * r16 lesson): F files fix only ⌊log₂F⌋ leading key bits and the
    * secondary gets every third of them at g = 2 — at F ≈ 48 that is
    * ONE district bit (2× skip); the weighted layout needs F ≳ 200
    * before its asymptotic F^(1/3) district skip shows. Beats each
    * single layout on the shape it is weak at; WarehouseSpec pins
    * both counterfactuals by decoded-row accounting. The undated risk
    * facts keep symmetric (province, district) z — both their filters
    * are equalities. Tables whose size DRIFTS (so a fixed 16/8 would
    * go stale) can use [[graft.Warehouse.WeightedZAuto]] instead —
    * it re-derives the widths from the measured per-dir file count at
    * each optimize; the serving tables here keep the explicit,
    * soak-measured split. */
  val ServingLayouts: Map[String, graft.Warehouse.Layout] = Map(
    RainT -> graft.Warehouse.WeightedZ("date", "district_id"),
    IncidentT -> graft.Warehouse.WeightedZ("disaster_date", "district_id"),
    RiskT -> graft.Warehouse.Z(Seq("province_id", "district_id")))
}
