package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** One-column failure marker for a query whose body threw: the DuckDB
    * compare sees a schema that can never match an oracle and records a
    * red row, so the failure stays visible instead of the query
    * vanishing from the correctness file (the r5/r6 failure mode). A
    * zero-column `emptyDataFrame` does NOT work — Spark rejects
    * empty-schema parquet writes (EMPTY_SCHEMA_NOT_SUPPORTED) — so the
    * marker carries the query name in one real column. Unit-pinned by
    * VerifyMarkerSpec; compare.py prints `ENGINE QUERY FAILED` on it. */
  def writeFailureMarker(spark: SparkSession, outDir: String, name: String): Unit =
    spark.range(1)
      .select(org.apache.spark.sql.functions.lit(name).as("__graft_failed"))
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")

  /** Query selection for CHUNKED runs of the battery (r18): scaled
    * sweeps (10×/30× testdata) can outlive a caller's process budget,
    * and parquet outputs land per query, so re-running the WHOLE
    * battery to finish a tail is waste. `only` (comma env
    * SPARK_GRAFT_VERIFY_ONLY) picks names exactly; `shard` (env
    * SPARK_GRAFT_VERIFY_SHARD = "i/n", 0-based) deterministically
    * partitions the SORTED name list round-robin — the i-th of n
    * shards takes every n-th name, so shards are disjoint, cover
    * everything, and balance mixed-cost neighbourhoods better than
    * contiguous ranges. Unknown `only` names fail loudly (a typo must
    * not read as a green skip). Both unset → the full battery. */
  def select(sortedNames: Seq[String], only: Option[Set[String]],
      shard: Option[String]): Seq[String] = {
    val afterOnly = only match {
      case None => sortedNames
      case Some(names) =>
        val unknown = names -- sortedNames.toSet
        require(unknown.isEmpty,
          s"SPARK_GRAFT_VERIFY_ONLY names not in the inventory: ${unknown.mkString(", ")}")
        sortedNames.filter(names)
    }
    shard match {
      case None => afterOnly
      case Some(spec) =>
        val m = "^(\\d+)/(\\d+)$".r.findFirstMatchIn(spec.trim).getOrElse(
          sys.error(s"SPARK_GRAFT_VERIFY_SHARD must be i/n (0-based), got '$spec'"))
        val (i, n) = (m.group(1).toInt, m.group(2).toInt)
        require(n >= 1 && i >= 0 && i < n,
          s"SPARK_GRAFT_VERIFY_SHARD out of range: $i/$n")
        afterOnly.zipWithIndex.collect { case (q, ix) if ix % n == i => q }
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.create()
    new java.io.File(outDir).mkdirs()
    // A query that throws must stay VISIBLE in the driver's correctness
    // file: write a ONE-COLUMN marker parquet under its name (the DuckDB
    // compare then records a red SCHEMA-mismatch row instead of the
    // query silently vanishing — r5/r6 lost q_asof_join for two rounds
    // to exactly that absence-reads-as-fine failure mode) and collect
    // the message for _failed.json + a stdout line the driver tails.
    // NOTE: a zero-column `emptyDataFrame` does NOT work here — Spark
    // rejects empty-schema parquet writes (EMPTY_SCHEMA_NOT_SUPPORTED),
    // so the marker must carry at least one real column.
    val failed = scala.collection.mutable.LinkedHashMap[String, String]()
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val shard = sys.env.get("SPARK_GRAFT_VERIFY_SHARD")
    val selected = select(SparkEntry.queries.keys.toSeq.sorted, only, shard)
    if (selected.size != SparkEntry.queries.size)
      println(s"[verify] chunked run: ${selected.size}/${SparkEntry.queries.size} queries" +
        shard.fold("")(s => s" (shard $s)"))
    selected.foreach { name =>
      val fn = SparkEntry.queries(name)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed(name) = ErrText.message(e)
        println(s"[verify] FAILED $name: ${ErrText.firstLine(e)}")
        try writeFailureMarker(spark, outDir, name)
        catch { case e2: Throwable =>
          println(s"[verify] marker write ALSO failed for $name: " +
            ErrText.firstLine(e2))
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val failedJson = failed
      .map { case (k, v) => s"${q(k)}: ${q(v.take(500))}" }.mkString("{", ",", "}")
    // chunked runs must not clobber the full battery's failure record:
    // a shard's file carries its shard id (informational — red rows
    // are ALSO visible through the per-query marker parquet)
    val failedFile =
      if (selected.size == SparkEntry.queries.size) "_failed.json"
      else shard.fold("_failed_only.json")(s =>
        s"_failed_shard_${s.replace('/', '_')}.json")
    Files.writeString(Paths.get(s"$outDir/$failedFile"), failedJson)
    if (failed.nonEmpty)
      println(s"[verify] ${failed.size}/${selected.size} queries FAILED: " +
        failed.keys.mkString(", "))
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
