package graftbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.{DbfReader, ShpReader, XlsxReader}
import graft.spatial.{CellDistrictMap, GeoJson}

/** Standalone layer probes of the traced run: repeated calls into the
  * file readers and the spatial module on the `dashboard` run's own
  * upload files, and into the `expr` kernels on the `index_churn`
  * run's own corpus, each timed from outside. */
object Probes {
  private val Reps = 3

  private def medianMs(tr: Tracer, name: String)(body: => Unit): Double = {
    val ts = (1 to Reps).map { _ =>
      val t0 = System.nanoTime(); tr(s"probe.$name")(body); (System.nanoTime() - t0) / 1e6
    }.sorted
    ts(Reps / 2)
  }

  /** `sources.*` and `spatial.*` on the given upload files. */
  def files(ctx: Ctx, shp: Path, nc: Path, dbf: Path, xlsx: Path): Map[String, Double] = {
    val spark = ctx.spark
    val tr = ctx.tr
    val grid = spark.read.format("netcdf").load(nc.toString)
    val ncMs = medianMs(tr, "sources.netcdf_scan")(grid.agg(sum(col("precip"))).head())
    val cellsTotal = grid.count()
    val dbfMs = medianMs(tr, "sources.dbf_read")(DbfReader.read(spark, dbf.toString).count())
    val bytes = Files.readAllBytes(xlsx)
    val xlsxMs = medianMs(tr, "sources.xlsx_parse")(XlsxReader.parse(bytes))
    val shpMs = medianMs(tr, "sources.shp_read")(ShpReader.readWkt(spark, shp.toString).count())
    val cellMapMs = medianMs(tr, "spatial.cell_map") {
      CellDistrictMap.fromShapefile(spark, grid, shp.toString).count()
    }
    val polygons = DbfReader.read(spark, shp.toString.replaceAll("\\.shp$", ".dbf"), withRecno = true)
      .join(ShpReader.readWkt(spark, shp.toString), Seq("_recno"))
      .select(col("ADM1_EN").as("province"), col("ADM2_EN").as("district"), col("wkt"))
      .localCheckpoint(true)
    val geoMs = medianMs(tr, "spatial.geojson")(GeoJson.featureCollection(polygons))
    Map(
      "sources.netcdf_scan_ms" -> ncMs,
      "sources.netcdf_cells_per_s" -> cellsTotal / (ncMs / 1e3),
      "sources.dbf_read_ms" -> dbfMs,
      "sources.xlsx_parse_ms" -> xlsxMs,
      "sources.shp_read_ms" -> shpMs,
      "spatial.cell_map_ms" -> cellMapMs,
      "spatial.geojson_ms" -> geoMs)
  }

  /** `expr.*`: token counts and MinHash signatures over a corpus. */
  def expr(ctx: Ctx, corpus: DataFrame): Map[String, Double] = {
    val tr = ctx.tr
    val docs = corpus.select("text").localCheckpoint(true)
    val nDocs = docs.count()
    val tokens = graft.ops.TextOps.tokens(lower(col("text")))
    val tcMs = medianMs(tr, "expr.token_counts") {
      docs.agg(sum(size(graft.expr.TokenCounts.tokenCounts(tokens)))).head()
    }
    val mhMs = medianMs(tr, "expr.minhash") {
      docs.agg(sum(element_at(graft.expr.MinHash64.minhash64(
        graft.expr.HashedShingles.hashedShingles(tokens, 3), 64), 1))).head()
    }
    Map(
      "expr.token_counts_rows_per_s" -> nDocs / (tcMs / 1e3),
      "expr.minhash_rows_per_s" -> nDocs / (mhMs / 1e3))
  }
}
