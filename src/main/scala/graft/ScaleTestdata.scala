package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale a testdata dir by an integer multiplier — the sf1-equivalent
  * generator behind `make soak` (10 × sf0.1 ≈ sf1 for every table),
  * with the FK graph kept exactly valid and the dedup topology kept
  * HONEST.
  *
  * Replication rules (applied to the whole star schema):
  *   - fact/entity keys (`*_custkey/orderkey/partkey/suppkey`,
  *     `doc_id`, `vec_id`, `event_id`, `user_id`) shift by
  *     copy × 10⁸ — each copy is a disjoint, internally-consistent
  *     universe, so every join in the battery stays exactly valid;
  *   - nation/region (and the `c_nationkey`/`s_nationkey` FKs into
  *     them) copy VERBATIM and only once — dimensions are lookups,
  *     not volume;
  *   - `documents.text` gets the copy-tag decor (every 5th word
  *     suffixed `~i`): cross-copy 3-gram jaccard falls to ~0.25,
  *     far under dedup thresholds, so true near-dup output grows
  *     ∝ mult and the dedup queries measure the ALGORITHM, not a
  *     planted quadratic pair set (identical copies would make every
  *     base pair appear mult² times — the r4 soak lesson);
  *   - `embeddings.embedding` gets the per-(copy, dim) sign flip:
  *     cosine-preserving within a copy, decorrelating (~0) across
  *     copies — same rationale, vector form. `n_chars` is NOT
  *     recomputed after decor (the tag adds ~len/5 × 2 chars; the
  *     column stays the pre-decor count — irrelevant for timing,
  *     noted for honesty).
  *
  * Usage: runMain graft.ScaleTestdata <srcSfDir> <outDir> <mult>
  * Output is for local SCALING measurement only (Bench timings, soak
  * exponents) — it is NOT oracle-comparable testdata: grouped results
  * repeat per copy universe. Never writes outside <outDir>. */
object ScaleTestdata {

  private val shiftCols: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "part" -> Seq("p_partkey"),
    "supplier" -> Seq("s_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  private val verbatim = Seq("region", "nation")

  def scaleTable(df: DataFrame, table: String, mult: Int): DataFrame =
    (0 until mult).map { i =>
      val shifted = shiftCols.getOrElse(table, Nil).foldLeft(df)((d, c) =>
        d.withColumn(c, col(c) + lit(i.toLong * 100000000L)))
      table match {
        case "documents" if i > 0 =>
          shifted.withColumn("text", concat_ws(" ",
            transform(split(col("text"), " "), (w, j) =>
              when(pmod(j, lit(5)) === 0, concat(w, lit(s"~$i"))).otherwise(w))))
        case "embeddings" if i > 0 =>
          shifted.withColumn("embedding", transform(col("embedding"), (x, d) =>
            (x * when(pmod(xxhash64(lit(i), d), lit(2)) === 0, 1.0d)
              .otherwise(-1.0d)).cast("float")))
        case _ => shifted
      }
    }.reduce(_ unionByName _)

  def main(args: Array[String]): Unit = {
    require(args.length == 3,
      "usage: ScaleTestdata <srcSfDir> <outDir> <mult>")
    val Array(src, out, multS) = args
    val mult = multS.toInt
    require(mult >= 1, "mult must be ≥ 1")
    val spark = GraftSession.create()
    try {
      for (t <- verbatim ++ shiftCols.keys.toSeq.sorted) {
        val df = spark.read.parquet(s"$src/$t.parquet")
        val scaled =
          if (verbatim.contains(t)) df else scaleTable(df, t, mult)
        scaled.write.mode("overwrite").option("compression", "zstd")
          .parquet(s"$out/$t.parquet")
        println(s"[scale] $t: ${scaled.count()} rows -> $out/$t.parquet")
      }
    } finally spark.stop()
  }
}
