package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Margin-based bitext mining (Artetxe & Schwenk 2019,
  * arXiv:1811.01136 — the LASER mining recipe): given two corpora
  * embedded in a shared space (sentences in two languages, or any
  * aligned-modality pair), score each candidate pair by its cosine
  * NORMALIZED by the mean cosine of both sides' k nearest neighbours —
  *
  *   margin(x, y) = cos(x, y) / ((avgK(x) + avgK(y)) / 2)
  *
  * (the paper's "ratio" variant) — and keep MUTUAL best matches above
  * a threshold. The margin fixes what raw cosine gets wrong at corpus
  * scale: hubs (points with high cosine to everything) score high
  * against every query, and raw-cosine thresholds either drown in hub
  * pairs or drop honest pairs in sparse regions; dividing by the
  * neighbourhood mean re-centers every score on its local density.
  *
  * Decomposition, not a new engine: the expensive part — the candidate
  * (sid, tid, cosine) pairs — comes from whatever retrieval tier fits
  * the corpus: [[Similarity.bruteForceTopK]] at gate scale,
  * [[Similarity.lshTopK]] / [[Ivf.topK]] both directions at 100 TB
  * (mine BOTH directions and union: the margin needs each side's own
  * top-k list, and mutual-best needs candidates seen from both sides).
  * [[mine]] then runs entirely on the bounded candidate set.
  *
  * Scale shape: two window passes over the candidates (shuffled by
  * sid, then by tid — each side's top-k + neighbourhood mean), one
  * join back per side, two mutual-best windows. All candidate-sized;
  * nothing touches the full cross product. WindowGroupLimit prunes the
  * rank windows below the exchanges (the q_group_sample machinery).
  *
  * Determinism / oracle parity: cosines are array-ordered dot products
  * (bit-identical cross-engine); the neighbourhood means aggregate as
  * exact DECIMALS (float avg is partition-order-dependent — the
  * q_corr_stats lesson), so the margin is the same IEEE expression in
  * both engines; all ranks tie-break on id.
  */
object Bitext {

  /** Mine mutual-best pairs from a candidate frame.
    *
    * @param pairs     (`sid`, `tid`, `cosine`) candidate pairs — from
    *   brute force at gate scale or ANN top-k (both directions) at
    *   production scale. Rows must be DISTINCT per (sid, tid) —
    *   [[bruteCandidates]] yields each pair once; a caller composing its own
    *   tiers (e.g. unioning both ANN directions) must dedup first, or
    *   duplicate rows are counted in the neighbourhood means (the
    *   rank-pruned top-k unions would also collapse them afterward —
    *   a silent margin shift, not a crash) (ADVICE r18)
    * @param k         neighbourhood size for the margin normalizer
    * @param threshold keep pairs with margin ≥ threshold (1.0 = "at
    *   least as close as the neighbourhood average"; the paper mines
    *   usable bitext around ~1.06)
    * @return (`sid`, `tid`, `margin`) — x's best target is y AND y's
    *   best source is x, margin over threshold */
  def mine(pairs: DataFrame, k: Int, threshold: Double): DataFrame = {
    require(k >= 1, "bitext: k must be ≥ 1")
    Reserved.requireAbsent("bitext.mine",
      Seq("__rs", "__rt", "__aks", "__akt", "__margin", "__bs", "__bt"), pairs)
    // materialize the candidates once: the two per-side top-k windows
    // below each reference them, and a pairs frame is expensive to
    // recompute (a brute cross product, or ANN probes)
    val cand = pairs.select(col("sid"), col("tid"), col("cosine"))
      .localCheckpoint(true)
    val wS = Window.partitionBy("sid").orderBy(col("cosine").desc, col("tid"))
    val wT = Window.partitionBy("tid").orderBy(col("cosine").desc, col("sid"))
    // SEPARATE rank-pruned windows instead of one frame chaining both
    // ranks (the r18 shuffle cut): a `__rs <= k` filter directly over
    // its window lets WindowGroupLimit prune to k rows per key BELOW
    // the exchange, so each shuffle moves ~k·|side| rows instead of
    // |pairs| — the old chained form shuffled the FULL candidate set
    // twice because the `__rs ≤ k OR __rt ≤ k` filter could prune
    // neither window. Candidate tiers emit distinct (sid, tid) rows
    // (the contract above), so the union-distinct below is
    // exactly the OR-filtered row set of the chained form.
    val topS = cand.withColumn("__rs", row_number().over(wS))
      .where(col("__rs") <= k).drop("__rs")
    val topT = cand.withColumn("__rt", row_number().over(wT))
      .where(col("__rt") <= k).drop("__rt")
    // neighbourhood means as exact decimals: order-independent sums,
    // ONE double conversion — identical IEEE margin in any engine
    val dec = col("cosine").cast(DecimalType(28, 12))
    // exact decimal SUM, one cast, then ONE double division — decimal
    // division scale rules differ across engines, double division does
    // not (same reason the division happens outside the aggregate)
    val avgS = topS
      .groupBy("sid").agg((sum(dec).cast("double") / count(lit(1))).as("__aks"))
    val avgT = topT
      .groupBy("tid").agg((sum(dec).cast("double") / count(lit(1))).as("__akt"))
    val scored = topS.unionByName(topT).distinct()
      .join(avgS, "sid").join(avgT, "tid")
      .withColumn("__margin",
        col("cosine") / ((col("__aks") + col("__akt")) / lit(2.0)))
    val bS = Window.partitionBy("sid").orderBy(col("__margin").desc, col("tid"))
    val bT = Window.partitionBy("tid").orderBy(col("__margin").desc, col("sid"))
    scored
      .withColumn("__bs", row_number().over(bS))
      .withColumn("__bt", row_number().over(bT))
      .where(col("__bs") === 1 && col("__bt") === 1 &&
        col("__margin") >= threshold)
      .select(col("sid"), col("tid"), col("__margin").as("margin"))
  }

  /** Brute-force candidate pairs between two embedded corpora —
    * the gate-scale / verification tier ([[Similarity.bruteForceTopK]]
    * is query-batch-shaped; mining wants the full bounded cross).
    * Null embeddings drop; cost is |src|×|tgt| — compose [[mine]]
    * with ANN candidates instead once either side outgrows a
    * broadcast. */
  def bruteCandidates(src: DataFrame, tgt: DataFrame): DataFrame = {
    val s = src.where(col("embedding").isNotNull)
      .select(col("id").as("sid"),
        transform(col("embedding"), _.cast("double")).as("__sv"))
    val t = tgt.where(col("embedding").isNotNull)
      .select(col("id").as("tid"),
        transform(col("embedding"), _.cast("double")).as("__tv"))
    // spread the streamed side: the |src|×|tgt| cosine explosion is the
    // cost, and a bounded src reads from one scan partition — one task
    // otherwise (Tuning.spreadSmall; no-op at production partitioning)
    Tuning.spreadSmall(s).join(broadcast(t), lit(true))
      .withColumn("cosine", Similarity.cosine(col("__sv"), col("__tv")))
      .select("sid", "tid", "cosine")
  }
}
