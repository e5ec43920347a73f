package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SemDeDup-style semantic deduplication (Abbas et al. 2023,
  * arXiv:2303.09540): cluster the corpus in embedding space, then prune
  * near-duplicate pairs WITHIN each cluster only. The clustering is the
  * whole scale story — pairwise cosine over a 100 TB corpus is n² and
  * impossible, but within k balanced clusters it is n²/k per cluster
  * task, and k grows with the corpus (the paper runs ~50 k clusters on
  * LAION; at 100 TB pick k ≈ n / 5000 and train with [[Ivf.fit]]).
  *
  * Composition, not a new engine: production clusters come from the
  * existing IVF k-means trainer ([[Ivf.fit]] → [[Ivf.assign]]), and
  * [[prune]] accepts ANY (id, vec, cluster) frame. [[assignByCosine]]
  * is the deterministic seed-centroid assignment used by the oracle
  * gate and by callers who already have fixed centroids.
  *
  * Scale design:
  *   - assignment is a single codegen projection against a
  *     driver-collected centroid matrix riding as ONE reference object
  *     — zero joins, zero shuffles, O(1) plan size in k (centroids are
  *     KB-scale by construction; large-k production assignment goes
  *     through [[Ivf.assign]], same shape);
  *   - the prune self-join shuffles both sides on the cluster key once;
  *     each cluster's pairs are generated inside one task, so cost is
  *     Σ|cluster|², bounded by the clustering granularity;
  *   - the removal set is distinct ids only (narrow), and the final
  *     anti-join re-uses the corpus partitioning.
  */
object SemDedup {

  private def asDouble(c: Column): Column = transform(c, _.cast("double"))

  /** Assign each corpus row to its max-cosine centroid.
    *
    * Centroids are collected to the driver (they are small by
    * definition — seed vectors or a trained quantizer) and ride as ONE
    * reference object inside [[graft.expr.CentroidExprs.BestCosineCell]],
    * so the argmax is one whole-stage-codegen pass over the corpus with
    * O(1) plan size in k — k per-centroid expression nodes would bloat
    * analysis and overflow generated methods near k ≈ 10³ (the same
    * trap [[Ivf.nearestCentroid]] and `expr.LshKeys` document). Ties
    * break to the LOWEST centroid id (cosine DESC, cid ASC) —
    * deterministic and oracle-matchable.
    *
    * Rows with a null embedding are dropped (no meaningful cluster).
    *
    * @param corpus    (`id`, `embedding` array<numeric>, carry cols)
    * @param centroids (`cid` numeric, `embedding`) — must be small
    * @return corpus columns + `cluster` (long) + `centroid_cosine`
    */
  def assignByCosine(corpus: DataFrame, centroids: DataFrame): DataFrame = {
    Reserved.requireAbsent("semdedup.assignByCosine",
      Seq("cluster", "centroid_cosine", "__best"), corpus)
    val cents: Array[(Long, Array[Double])] = centroids
      .where(col("embedding").isNotNull)
      .select(col("cid").cast("long"), asDouble(col("embedding")))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    require(cents.nonEmpty, "semdedup: empty centroid set")
    require(cents.length <= 4096,
      s"semdedup: ${cents.length} centroids exceed the driver-collect " +
        "budget — train a coarse quantizer with Ivf.fit and assign " +
        "with Ivf.assign instead")
    val best = graft.expr.CentroidExprs.bestCosineCell(
      asDouble(col("embedding")), cents.map(_._1), cents.map(_._2))
    corpus
      .where(col("embedding").isNotNull)
      .withColumn("__best", best)
      .withColumn("cluster", col("__best.cluster"))
      .withColumn("centroid_cosine", col("__best.cosine"))
      .drop("__best")
  }

  /** Remove every row that has a LOWER-id neighbour in the SAME cluster
    * with cosine ≥ `threshold` (greedy keep-lowest-id, the
    * deterministic variant of the paper's one-per-group pruning; the
    * removal decision looks at all lower-id cluster mates, kept or
    * not, so it is a single pass — no iteration).
    *
    * @param assigned   (`id`, vecCol, clusterCol, carry cols)
    * @param clusterCol cluster key (`cell` for [[Ivf.assign]] output)
    * @param vecCol     embedding column (`vec` for [[Ivf.assign]])
    * @return the surviving subset of `assigned`, columns unchanged
    */
  def prune(assigned: DataFrame, threshold: Double,
      clusterCol: String = "cluster", vecCol: String = "embedding"): DataFrame = {
    Reserved.requireAbsent("semdedup.prune",
      Seq("__c", "__id1", "__id2", "__v1", "__v2", "__rm"), assigned)
    val side = assigned.select(col(clusterCol).as("__c"), col("id"),
      asDouble(col(vecCol)).as("__v"))
    val l = side.select(col("__c"), col("id").as("__id1"), col("__v").as("__v1"))
    val r = side.select(col("__c"), col("id").as("__id2"), col("__v").as("__v2"))
    val removed = l.join(r, "__c")
      .where(col("__id1") < col("__id2"))
      .where(Similarity.cosine(col("__v1"), col("__v2")) >= threshold)
      .select(col("__id2").as("__rm"))
      .distinct()
    assigned.join(removed, col("id") === col("__rm"), "left_anti")
  }

  /** Seed-centroid SemDeDup end-to-end: assign by cosine, prune within
    * clusters. Production path with a trained quantizer:
    * `prune(Ivf.assign(corpus, Ivf.fit(corpus, nlist)), τ,
    * clusterCol = "cell", vecCol = "vec")`. */
  def semDedup(corpus: DataFrame, centroids: DataFrame,
      threshold: Double): DataFrame =
    prune(assignByCosine(corpus, centroids), threshold)
}
