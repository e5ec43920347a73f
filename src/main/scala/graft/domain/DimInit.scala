package graft.domain

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Idempotent dimension seeding from the ADM2 attribute table
  * (SURVEY.md §2.2 K2; reference `backend/app/utils.py:184-253`).
  *
  * Semantics preserved: keep only the northern provinces; names go
  * through `clean_text` then trim; a province is new iff no existing
  * row has its `province_name_en`, a district iff no existing row has
  * its `(district_name_en, province_id)`; ids continue from the
  * current max, assigned in file order (the reference's dict-insertion
  * order) via the `_recno` column [[graft.sources.DbfReader]] emits.
  * Re-seeding from the same file adds nothing.
  */
object DimInit {

  final case class Dims(provinces: DataFrame, districts: DataFrame)

  def seed(
      spark: SparkSession,
      adm2: DataFrame, // needs ADM1_EN/ADM1_TH/ADM2_EN/ADM2_TH (+ _recno)
      existingProvinces: DataFrame,
      existingDistricts: DataFrame,
      northProvsEn: Seq[String] = RainIngest.NorthProvsEn): Dims = {

    val ord = if (adm2.columns.contains("_recno")) col("_recno")
      else monotonically_increasing_id()
    val base = adm2
      .where(col("ADM1_EN").isin(northProvsEn: _*))
      .select(
        trim(TextNorm.cleanText(col("ADM1_EN"))).as("prov_en"),
        trim(TextNorm.cleanText(col("ADM1_TH"))).as("prov_th"),
        trim(TextNorm.cleanText(col("ADM2_EN"))).as("dist_en"),
        trim(TextNorm.cleanText(col("ADM2_TH"))).as("dist_th"),
        ord.as("ord"))

    // ---- provinces: first appearance wins; ids continue from max ----
    val provFirst = base.groupBy("prov_en")
      .agg(min("ord").as("ord"), min_by(col("prov_th"), col("ord")).as("prov_th"))
    val maxProvId = existingProvinces.agg(coalesce(max("province_id"), lit(0)))
      .first().getInt(0)
    val newProv = provFirst
      .join(existingProvinces.select(col("province_name_en").as("prov_en")), Seq("prov_en"), "left_anti")
      .withColumn("province_id",
        (row_number().over(Window.orderBy("ord")) + maxProvId).cast("int"))
    val provinces = existingProvinces
      .select("province_id", "province_name", "province_name_en")
      .unionByName(newProv.select(col("province_id"),
        col("prov_th").as("province_name"), col("prov_en").as("province_name_en")))

    // ---- districts: (name_en, province_id) key; ids continue ----
    val provIds = provinces.select(col("province_id"), col("province_name_en").as("prov_en"))
    val distFirst = base.groupBy("prov_en", "dist_en")
      .agg(min("ord").as("ord"), min_by(col("dist_th"), col("ord")).as("dist_th"))
      .join(broadcast(provIds), Seq("prov_en"))
    val maxDistId = existingDistricts.agg(coalesce(max("district_id"), lit(0)))
      .first().getInt(0)
    val newDist = distFirst
      .join(existingDistricts.select(col("district_name_en").as("dist_en"), col("province_id")),
        Seq("dist_en", "province_id"), "left_anti")
      .withColumn("district_id",
        (row_number().over(Window.orderBy("ord")) + maxDistId).cast("int"))
    val districts = existingDistricts
      .select("district_id", "district_name", "district_name_en", "province_id")
      .unionByName(newDist.select(col("district_id"),
        col("dist_th").as("district_name"), col("dist_en").as("district_name_en"),
        col("province_id")))

    Dims(provinces, districts)
  }

  def emptyProvinces(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Schemas.province)

  def emptyDistricts(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Schemas.district)
}
