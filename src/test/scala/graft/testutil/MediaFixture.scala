package graft.testutil

import graft.ops.Multimodal.MediaRow
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** A media table built from a text-keyed one: payloads are the text's
  * utf-8 bytes (standing in for real blobs), kinds cycle by id. */
object MediaFixture {

  def mediaFromText(spark: SparkSession, df: DataFrame,
      idCol: String, textCol: String): Dataset[MediaRow] = {
    import spark.implicits._
    df.select(
      col(idCol).cast("long").as("media_id"),
      when(col(idCol) % 3 === 0, "image")
        .when(col(idCol) % 3 === 1, "audio").otherwise(lit("video")).as("kind"),
      encode(col(textCol), "UTF-8").as("payload")).as[MediaRow]
  }
}
