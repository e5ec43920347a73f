package graft.domain

import org.apache.spark.sql.types._

/** Declared StructTypes for the engine's warehouse tables.
  *
  * Mirrors the reference's persistent schema (SURVEY.md §1.2; reference
  * `backend/app/models.py:7-99`) with the Spark type mapping of §1.3.
  * Facts are stored as Parquet partitioned by `year` (replacing the
  * reference's b-tree date/year indexes with partition pruning).
  */
object Schemas {

  /** The dims as seeded: the reference's `time_create` audit column is
    * not carried (DimInit writes none). */
  val province: StructType = StructType(Seq(
    StructField("province_id", IntegerType, nullable = false),
    StructField("province_name", StringType),
    StructField("province_name_en", StringType)))

  val district: StructType = StructType(Seq(
    StructField("district_id", IntegerType, nullable = false),
    StructField("district_name", StringType),
    StructField("district_name_en", StringType),
    StructField("province_id", IntegerType)))

  /** Grain: one row per district per day per upload (models.py:44-55). */
  val rainPoints: StructType = StructType(Seq(
    StructField("pk_id", LongType),
    StructField("upload_id", LongType),
    StructField("date", DateType),
    StructField("year", IntegerType),
    StructField("province_id", IntegerType),
    StructField("district_id", IntegerType),
    StructField("rain_mm_wmean", DoubleType),
    StructField("rainfall_mm", DoubleType)))

  /** Grain: one row per district per risk upload (models.py:68-76). */
  val riskPoints: StructType = StructType(Seq(
    StructField("risk_id", LongType),
    StructField("upload_risk_id", LongType),
    StructField("province_id", IntegerType),
    StructField("district_id", IntegerType),
    StructField("risk_level", IntegerType)))

  /** Grain: one row per (date, district) ever inserted (models.py:78-87). */
  val incidentStatisticsPoints: StructType = StructType(Seq(
    StructField("incident_id", LongType),
    StructField("disaster_date", DateType),
    StructField("year", IntegerType),
    StructField("province_id", IntegerType),
    StructField("district_id", IntegerType),
    StructField("count_of_disasters", IntegerType)))

  val users: StructType = StructType(Seq(
    StructField("user_id", IntegerType, nullable = false),
    StructField("username", StringType),
    StructField("password_hash", StringType),
    StructField("full_name", StringType),
    StructField("time_create", TimestampType)))

  /** Shared shape of upload_rain_point / upload_risk (models.py:15-24,57-66). */
  val uploadMeta: StructType = StructType(Seq(
    StructField("upload_id", LongType, nullable = false),
    StructField("filename", StringType),
    StructField("storage_path", StringType),
    StructField("size_bytes", LongType),
    StructField("content_type", StringType),
    StructField("time_create", TimestampType),
    StructField("owner_id", IntegerType)))

  /** Long-form rainfall grid (the NetCDF flattened to rows, SURVEY §1.3). */
  val rainGrid: StructType = StructType(Seq(
    StructField("time", TimestampType),
    StructField("latitude", DoubleType),
    StructField("longitude", DoubleType),
    StructField("precip", DoubleType)))

  /** Precomputed grid-cell → district assignment (SURVEY §7.3: the
    * spatial join modeled as data — exact for fixed-resolution grids). */
  val cellDistrictMap: StructType = StructType(Seq(
    StructField("latitude", DoubleType),
    StructField("longitude", DoubleType),
    StructField("province", StringType),
    StructField("district", StringType)))
}
