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
    *   production scale. Rows must be DISTINCT per (sid, tid) — every
    *   shipped tier ends in `.distinct()`; a caller composing its own
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
    // below each reference them, and every shipped tier's pairs frame
    // is expensive to recompute (a brute cross product, or ANN probes)
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
    // (all three shipped tiers do), so the union-distinct below is
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

  /** Default crossover (rows PER SIDE) below which the brute tier's
    * broadcast cross product is the right candidate source: it is
    * EXACT, and under ~2 k rows it costs what the IVF tier's two
    * quantizer fits cost anyway (r17 sweep, 64-dim embeddings,
    * 8 cpus, k = 8: at 1 k/side brute 4.3 s vs IVF 3.7 s; at 2 k
    * 7.5 s vs 4.4 s; by 6 k the quadratic has taken over, 41 s vs
    * 8.6 s). */
  val DefaultBruteMax: Long = 2000L

  /** THE routed entry point — mine mutual-best pairs with the
    * candidate tier CHOSEN BY CORPUS SIZE, the [[IvfPq.topKAuto]]
    * stance: one count per side picks brute / IVF, so the caller no
    * longer hand-selects a tier.
    *
    *   - max side ≤ `bruteMax`: [[bruteCandidates]] — the exact tier;
    *     a broadcast cross product is unbeatable while it fits.
    *   - above: two √n-ish IVF fits + [[ivfCandidates]] — the
    *     linear-in-corpus path (fit cost amortizes by ~2 k rows; at
    *     24 k per side fits + probes run 8× faster than the LSH tier,
    *     at the r16 30 k point 5.5×).
    *
    * There is deliberately NO LSH tier: the r17 sweep (64-dim, 8 cpus,
    * k = 8, auto bucket sizing vs IVF √n cells / nprobe 4, comparable
    * mined-pair recall) found no corpus size where the two-way
    * [[Similarity.lshTopK]] union beat IVF —
    *
    *   per side:   1 k    2 k    4 k    6 k    16 k   24 k   30 k(r16)
    *   LSH  (s):   8.6   14.4   21.8   24.8   177    265    579
    *   IVF  (s):   3.7    4.4    6.1    8.6    28.3   33.3   106
    *
    * LSH's candidate volume is Σ|bucket|² (bucket-population
    * quadratic) while IVF's is n · nprobe · cellSize (linear at fixed
    * quantizer granularity), and the two √n-ish IVF fits amortize by
    * ~2 k rows.
    *
    * Exactness: the brute route is exact; IVF pays its usual recall
    * trade at production settings, and reproduces the brute mining
    * bit-for-bit under covering settings (`nprobe ≥ nlist` with
    * `k ≥ corpus` — BitextSpec pins both routes ≡ brute through this
    * entry point). Same contract as the tiers themselves: disjoint id
    * spaces, null embeddings drop.
    *
    * @param nlist IVF cells per side; 0 (default) sizes to
    *   clamp(√n, 16, 4096) — the usual quantizer-granularity rule */
  def bitextMine(src: DataFrame, tgt: DataFrame, k: Int, threshold: Double,
      bruteMax: Long = DefaultBruteMax,
      nlist: Int = 0, nprobe: Int = 4, ivfIters: Int = 3): DataFrame = {
    val n = math.max(src.count(), tgt.count())
    val pairs =
      if (n <= bruteMax) bruteCandidates(src, tgt)
      else {
        val cells =
          if (nlist > 0) nlist
          else math.max(16L, math.min(4096L,
            math.round(math.sqrt(n.toDouble)))).toInt
        val srcM = Ivf.fit(src, cells, ivfIters)
        val tgtM = Ivf.fit(tgt, cells, ivfIters)
        ivfCandidates(src, tgt, k, srcM, tgtM, nprobe)
      }
    mine(pairs, k, threshold)
  }

  /** The CELL-PARTITIONED candidate tier: each side's IVF top-k
    * against the other, UNIONED — both directions, because the margin
    * needs both sides' own neighbourhood lists and mutual-best needs
    * every pair visible from whichever side ranked it. Each side
    * probes the OTHER side's quantizer (a query mines targets from the
    * target index and vice versa); at production scale pass models
    * loaded from the
    * two sides' persisted indexes ([[Ivf.loadModel]]) and the probes
    * ride their cell partitions. With `nprobe = model.nlist` and
    * `k ≥ |corpus|` this provably reproduces [[bruteCandidates]]-fed
    * mining bit-for-bit (BitextSpec pins it); production reduces
    * nprobe/k and pays the usual IVF recall trade.
    *
    * CONTRACT: the two corpora's id spaces must be DISJOINT (re-key
    * one side if needed) — the underlying within-corpus ANN excludes
    * `id == qid` as a self-match, which here would silently drop the
    * cross-corpus pair that happens to share a number. */
  def ivfCandidates(src: DataFrame, tgt: DataFrame, k: Int,
      srcModel: Ivf.Model, tgtModel: Ivf.Model, nprobe: Int = 4): DataFrame = {
    val st = Ivf.topK(tgt,
        src.select(col("id").as("qid"), col("embedding")), tgtModel, k, nprobe)
      .select(col("qid").as("sid"), col("id").as("tid"), col("cosine"))
    val ts = Ivf.topK(src,
        tgt.select(col("id").as("qid"), col("embedding")), srcModel, k, nprobe)
      .select(col("id").as("sid"), col("qid").as("tid"), col("cosine"))
    st.unionByName(ts).distinct()
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
