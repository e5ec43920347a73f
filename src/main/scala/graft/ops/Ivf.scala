package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest-neighbour search — the
  * second scale path next to [[Similarity.lshTopK]]: a k-means coarse
  * quantizer partitions the corpus into `nlist` cells; a query probes
  * its `nprobe` nearest centroids and ranks only those cells' vectors.
  *
  * Training is Lloyd's algorithm over a BOUNDED hash-ordered sample
  * (one distributed top-k pass; iterations driver-side — see [[fit]]);
  * ASSIGNMENT of the corpus stays fully distributed: a
  * broadcast-centroid argmin (codegen'd [[graft.expr.CentroidExprs]]
  * dot math) per row. Deterministic: initial centroids come from a
  * hash-ordered sample refined by farthest-point selection,
  * iterations fixed.
  *
  * At 100 TB the index build is a handful of full scans and the cell
  * assignment persists as a `cell` column (partition/bucket key);
  * query cost ∝ corpus/nlist × nprobe.
  */
object Ivf {

  final case class Model(centroids: Array[(Int, Array[Double])]) {
    def nlist: Int = centroids.length
  }

  private def asDouble(c: Column): Column = transform(c, _.cast("double"))

  /** Centroid matrix in id order — [[graft.expr.CentroidExprs]] returns
    * INDEXES, so ids must be dense 0..nlist−1 (fit and load both
    * guarantee it; this catches a hand-built model that doesn't). */
  private def matrixOf(centroids: Array[(Int, Array[Double])]): Array[Array[Double]] = {
    require(centroids.zipWithIndex.forall { case ((id, _), i) => id == i },
      "centroid ids must be dense 0..nlist-1 in order")
    centroids.map(_._2)
  }

  /** argmin over the current centroids via [[graft.expr.CentroidExprs]]:
    * the matrix rides as one reference object, so plan size is O(1) in
    * nlist — a `least`-chain of per-centroid distance expressions would
    * be O(nlist) plan nodes and break down around nlist ≈ 10³. */
  private def nearestCentroid(vec: Column, centroids: Array[(Int, Array[Double])]): Column =
    graft.expr.CentroidExprs.nearestCell(vec, matrixOf(centroids))

  /** Train the coarse quantizer on a BOUNDED sample, Lloyd's driver-side.
    *
    * Seeding is deterministic AND content-spread: a hash-ordered sample
    * (`xxhash64(id)` order — uniform over the corpus no matter how ids
    * correlate with content, unlike first-n-by-id which degenerates on
    * sorted/clustered corpora), refined by greedy farthest-point
    * selection on the driver. Well-separated clusters present in the
    * sample each get a seed before any cluster gets two, so no cell
    * starts starved.
    *
    * TRAINING runs on a bounded sample — the standard IVF
    * coarse-quantizer practice (FAISS trains on ~`samplePerCell`
    * vectors per centroid): ONE distributed pass collects the
    * hash-ordered training sample (TakeOrderedAndProject — map-side
    * partial top-k; the collect is nlist×samplePerCell rows), then
    * Lloyd's iterations run driver-side over that sample —
    * nlist²×samplePerCell×dim multiply-adds per iteration, ms-scale.
    * The previous form persisted the FULL corpus and ran a distributed
    * assign+aggregate job pair per iteration (1 + 2·iters Spark jobs;
    * at 100 TB, iters extra full passes over cached data). Quantizer
    * quality is statistically the same — k-means cells are a density
    * summary, and samplePerCell vectors per centroid estimate each
    * mean to ~1/√samplePerCell of within-cell spread — while build
    * cost drops to one bounded top-k pass (guide §1.2 step 1: fix the
    * distributed algorithm before the per-task work). Driver memory is
    * nlist×samplePerCell×dim doubles — size `samplePerCell` down for
    * huge nlist. The ANN gates' outputs are exact-by-construction
    * (full probe / covering shortlist + exact re-rank), so they never
    * depend on centroid values; IvfSpec's recall pins cover the
    * approximate paths.
    *
    * Determinism: the sample is a deterministic prefix of the
    * (xxhash64(id), id) total order; assignment mirrors
    * [[graft.expr.CentroidExprs.NearestCell]] exactly (L2 argmin over
    * the min-length prefix, strict-< so ties keep the lowest cell id);
    * sums accumulate in sample order. Same corpus + params ⇒ same
    * model, every run. */
  def fit(corpus: DataFrame, nlist: Int = 16, iters: Int = 5,
      samplePerCell: Int = 256): Model = {
    require(samplePerCell >= 8, "fit: samplePerCell must be ≥ 8")
    val train = trainingSample(corpus, nlist * samplePerCell)
    require(train.nonEmpty, "cannot fit an IVF model on an empty corpus")
    fitOnSample(train, nlist, iters)
  }

  /** The shared hash-ordered training collect (one distributed
    * TakeOrderedAndProject) — [[IvfPq.fit]] reuses one sample for both
    * stages instead of paying two collection passes. */
  private[ops] def trainingSample(corpus: DataFrame, n: Int): Array[Array[Double]] =
    corpus
      .where(col("embedding").isNotNull)
      .select(col("id"), asDouble(col("embedding")).as("vec"))
      .orderBy(xxhash64(col("id")), col("id")).limit(n)
      .select("vec").collect().map(_.getSeq[Double](0).toArray)

  /** L2 argmin over the min-length prefix, strict-< lowest-index
    * tie-break — the driver mirror of
    * [[graft.expr.CentroidExprs.NearestCell.compute]]. */
  private[ops] def nearestIdx(v: Array[Double], centroids: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < centroids.length) {
      val cv = centroids(c)
      val n = math.min(v.length, cv.length)
      var s = 0.0; var i = 0
      while (i < n) { val d = v(i) - cv(i); s += d * d; i += 1 }
      if (s < bestD) { bestD = s; best = c }
      c += 1
    }
    best
  }

  private[ops] def fitOnSample(train: Array[Array[Double]], nlist: Int,
      iters: Int): Model = {
    // farthest-point seeding over the first 8×nlist sample rows — the
    // identical candidate set the full-corpus-trained fit used (a
    // prefix of the same hash order)
    val cand = train.take(nlist * 8)
    def d2(a: Array[Double], b: Array[Double]): Double = {
      val n = math.min(a.length, b.length)
      var s = 0.0; var i = 0
      while (i < n) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val chosen = scala.collection.mutable.ArrayBuffer(cand.head)
    while (chosen.size < nlist && chosen.size < cand.length) {
      // deterministic: maxBy keeps the first (hash-order) argmax on ties
      chosen += cand.maxBy(v => chosen.iterator.map(c => d2(v, c)).min)
    }
    var centroids: Array[Array[Double]] = chosen.toArray
    val dim = centroids.head.length
    // fixed dimensionality up front (ADVICE r18): a ragged vector
    // would silently contribute partial sums while counting fully —
    // deflated coordinates, the same hazard the old distributed
    // update's per-dim nulls had. Fail loudly instead.
    require(train.forall(_.length == dim),
      s"fit: embeddings must share one dimensionality (first is $dim)")
    for (_ <- 0 until iters) {
      val sums = Array.ofDim[Double](centroids.length, dim)
      val counts = new Array[Long](centroids.length)
      train.foreach { v =>
        val best = nearestIdx(v, centroids)
        counts(best) += 1
        val s = sums(best)
        val n = math.min(v.length, dim)
        var i = 0
        while (i < n) { s(i) += v(i); i += 1 }
      }
      // empty cells keep their previous centroid (the distributed
      // update's rule, unchanged)
      centroids = Array.tabulate(centroids.length) { c =>
        if (counts(c) == 0L) centroids(c)
        else Array.tabulate(dim)(i => sums(c)(i) / counts(c))
      }
    }
    Model(centroids.zipWithIndex.map { case (c, i) => i -> c })
  }

  /** Cell assignment of the corpus under a trained model — persist this
    * (or bucket by it) to make probes partition-local. */
  def assign(corpus: DataFrame, model: Model): DataFrame =
    corpus.select(col("id"), asDouble(col("embedding")).as("vec"))
      .withColumn("cell", nearestCentroid(col("vec"), model.centroids))

  /** Top-k by cosine among the query's `nprobe` nearest cells. */
  def topK(corpus: DataFrame, queries: DataFrame, model: Model,
      k: Int, nprobe: Int = 4): DataFrame =
    topKFromCells(assign(corpus, model), queries, model, k, nprobe)

  /** Top-k against a pre-assigned (id, vec, cell) frame — the path a
    * persisted index takes ([[load]]). */
  def topKFromCells(cells: DataFrame, queries: DataFrame, model: Model,
      k: Int, nprobe: Int = 4): DataFrame = {
    val q = queries.select(col("qid"), asDouble(col("embedding")).as("qvec"))
      .select(col("qid"), col("qvec"), explode(
        graft.expr.CentroidExprs.nearestCells(
          col("qvec"), matrixOf(model.centroids), nprobe)).as("cell"))
    val scored = cells.join(broadcast(q), Seq("cell"))
      .where(col("id") =!= col("qid"))
      .withColumn("cosine", Similarity.cosine(col("vec"), col("qvec")))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("qid", "id", "cosine", "rank")
  }

  /** Pre-FILTERED ANN — the "filtered search" production shape: rank
    * only corpus vectors whose id appears in `allowed` (a metadata
    * predicate's id set, computed by a cheap metadata scan). The
    * semi-join lands BEFORE scoring, so per-query cost ∝ the FILTERED
    * candidates of the probed cells — a post-filter of an unfiltered
    * top-k would instead return fewer than k rows whenever the filter
    * is selective. With `nprobe = nlist` the result provably equals
    * brute force over the filtered corpus (the gate's
    * exact-by-construction config). Selective filters thin each probed
    * cell, so recall at fixed nprobe drops exactly like classic IVF —
    * raise nprobe with filter selectivity (the vector-db rule of
    * thumb). `allowed` may contain duplicate or unknown ids: left_semi
    * neither multiplies nor requires matches. */
  def topKFiltered(corpus: DataFrame, queries: DataFrame, model: Model,
      allowed: DataFrame, k: Int, nprobe: Int = 4): DataFrame =
    topKFromCells(
      assign(corpus, model).join(allowed.select("id"), Seq("id"), "left_semi"),
      queries, model, k, nprobe)

  /** The nprobe [[topKFilteredAdaptive]] resolves: scale the base by
    * 1/selectivity, floored at the base and capped at nlist. The
    * vector-db rule of thumb made arithmetic: a filter keeping
    * fraction `s` of each cell thins the candidate pool 1/s×, so
    * probing 1/s× more cells restores the EXPECTED unfiltered
    * candidate count (and with it recall — IvfSpec pins three
    * selectivity tiers). A degenerate selectivity (0 — nothing
    * qualifies, the result is empty anyway) keeps the base. */
  def adaptiveNprobe(nprobe: Int, nlist: Int, selectivity: Double): Int =
    if (!(selectivity > 0.0) || selectivity >= 1.0) nprobe
    else math.min(nlist, math.max(nprobe, math.ceil(nprobe / selectivity).toInt))

  /** [[topKFiltered]] with the nprobe raised to match the filter's
    * selectivity instead of left fixed — the production default for
    * filtered search, mirroring [[IvfPq.topKAuto]]'s measured-routing
    * pattern. Selectivity is measured, not guessed: two id-only counts
    * (`|allowed ∩ corpus| / |corpus|` via a semi-join — column-pruned
    * scans, no vector I/O; `allowed` may hold duplicate or unknown
    * ids, the semi-join neither multiplies nor requires matches). At
    * full selectivity this is exactly [[topKFiltered]] at the base
    * nprobe; as the filter sharpens, probes widen up to a full scan of
    * the nlist cells — which is the right degeneration: a 1 %-selective
    * filter leaves so few candidates per cell that probing everything
    * still costs ~nprobe× the unfiltered query. */
  def topKFilteredAdaptive(corpus: DataFrame, queries: DataFrame, model: Model,
      allowed: DataFrame, k: Int, nprobe: Int = 4): DataFrame = {
    val total = corpus.count()
    val kept =
      if (total == 0) 0L
      else corpus.select("id").join(allowed.select("id"), Seq("id"), "left_semi").count()
    val eff =
      if (total == 0) nprobe
      else adaptiveNprobe(nprobe, model.nlist, selectivity = kept.toDouble / total)
    topKFiltered(corpus, queries, model, allowed, k, eff)
  }

  /** A loaded on-disk index: quantizer + cell-assigned corpus. */
  final case class Index(model: Model, cells: DataFrame)

  /** Persist the index: centroids (KB-scale) plus the corpus with its
    * cell assignment, PARTITIONED BY cell — build once, query many.
    * At 100 TB this write is the index-build artifact: a probe's
    * cell-key join touches only its partitions' files, so per-query
    * I/O ∝ corpus/nlist × nprobe, not corpus size. */
  def save(spark: SparkSession, model: Model, corpus: DataFrame, path: String): Unit = {
    import spark.implicits._
    model.centroids.toSeq.map { case (i, c) => (i, c.toSeq) }
      .toDF("cell", "centroid")
      // KB-scale frame: one writer task, one file (the local Seq would
      // otherwise spread its nlist rows over default-parallelism tasks
      // — 8 two-row files at nlist=16, paid again at every load)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/centroids")
    assign(corpus, model)
      // null stamp: keeps one cells schema across the save → append
      // lifecycle ([[appendIndex]] stamps real batch ids)
      .withColumn("batch_id", lit(null).cast("long"))
      // one writer per cell dir, adaptive (IndexMaintenance
      // .oneWriterPerCell): the exchange is paid only when the input
      // is multi-partition — i.e. exactly when it prevents
      // |tasks|×|cells| small files (guide §6)
      .transform(IndexMaintenance.oneWriterPerCell)
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/cells")
  }

  def load(spark: SparkSession, path: String): Index =
    Index(loadModel(spark, path), spark.read.parquet(s"$path/cells"))

  /** Just the quantizer (KB-scale) — what [[appendIndex]] needs; no
    * point touching the cells data to fold a batch in. The schema is
    * the writer's own fixed layout ([[save]]), stated explicitly so
    * the read skips the footer-inference Spark job. */
  def loadModel(spark: SparkSession, path: String): Model =
    Model(spark.read
      .schema("cell INT, centroid ARRAY<DOUBLE>")
      .parquet(s"$path/centroids").collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1))

  /** Fold a batch of NEW vectors into a persisted index — the Append
    * lifecycle every other index family already has (band/chunk/
    * line-stats/subword/BM25): assign the batch under the FROZEN
    * quantizer and append into the cell partitions. Because the
    * centroids don't move, existing assignments stay valid and
    * `saved index ∪ appended batch ≡ one-shot save of the union under
    * the same model` holds EXACTLY — the q_ann_incremental oracle and
    * IvfSpec pin it. New vectors only ever land in parquet partitions
    * keyed by their own cell, so an append touches nothing existing
    * and concurrent probes stay correct mid-append (they see the old
    * or the new file set, both complete indexes of their respective
    * corpus states).
    *
    * Contracts: batches must be id-disjoint from the stored corpus
    * (re-appending an id duplicates it in every probe result — the
    * index-family contract); and the quantizer FREEZES at build time,
    * so a drifting corpus slowly unbalances cells — recall at fixed
    * nprobe degrades like classic IVF under distribution shift.
    * Monitor with [[cellStats]] and REBUILD (fit + save) when the
    * max/mean cell ratio leaves the build-time envelope (~4× is the
    * usual vector-db rule of thumb). Appends also accumulate one file
    * per (batch × cell) — [[compactIndex]] restores one file per cell.
    *
    * `batchId` makes a RETRY safe (the [[Bm25.appendIndex]] protocol;
    * IvfSpec's crash-replay and partial-commit cases pin it): an
    * unstamped replay would re-append the whole batch and top-k
    * results would carry DUPLICATE candidate rows until a dedupe
    * compaction. Stamped appends write an `appendlog/` row FIRST
    * (one tiny row per batch — the cheap existence probe, carrying the
    * batch's EXPECTED row count), then the stamped cell rows; a replay
    * becomes a resume keyed on the COUNT, not mere existence: log
    * present + cells row count for the batch EQUALS the logged count →
    * fully landed, skip; count 0 → the torn log-only state, finish
    * just the cells; count ≠ expected (a crash inside the parquet job
    * commit — the whole job with FileOutputCommitter v2, where task
    * files become visible incrementally — left a PARTIALLY committed
    * batch) → strip the partial batch's rows
    * ([[IndexMaintenance.rewriteExcludingKeys]], same staged swap as
    * compaction) and re-append in full. An existence-keyed skip would
    * read the partial state as "landed" and permanently lose the
    * missing vectors. Log-first ordering means a torn append can only
    * look like "logged but incomplete" — re-finishable — never
    * silently missing vectors. Steady-state cost per stamped append:
    * the tiny log read + one count of the INCOMING batch (the log's
    * expected-rows field); the landed-count scan of `cells/` runs only
    * on the replay path.
    *
    * `model`: the stored quantizer, when the caller already holds it
    * (a builder that just ran fit+save, a maintainer loop keeping it
    * resident) — skips the per-append centroid read-back. MUST be the
    * index's own frozen model (the same rows [[save]] wrote);
    * anything else breaks the frozen-quantizer contract that makes
    * append ≡ one-shot save. Omitted ⇒ read from `path` as before. */
  def appendIndex(spark: SparkSession, batch: DataFrame, path: String,
      batchId: Option[Long] = None, model: Option[Model] = None): Unit = {
    import spark.implicits._
    val logPath = s"$path/appendlog"
    val cellsPath = s"$path/cells"
    // the shared probe strips a partially-committed batch on the way
    // (see [[IndexMaintenance.resumeStampedAppend]] for the protocol)
    val (logLanded, fullyLanded) = IndexMaintenance.resumeStampedAppend(
      spark, logPath, cellsPath, batchId, partitionCols = Seq("cell"))
    if (fullyLanded) return
    val bid = batchId.map(lit(_)).getOrElse(lit(null)).cast("long")
    if (batchId.isDefined && !logLanded)
      Seq((batchId.get, batch.count())).toDF("batch_id", "n_rows")
        .write.mode("append").parquet(logPath)
    assign(batch, model.getOrElse(loadModel(spark, path)))
      .withColumn("batch_id", bid)
      // one writer per touched cell per batch (adaptive — see
      // IndexMaintenance.oneWriterPerCell)
      .transform(IndexMaintenance.oneWriterPerCell)
      .write.mode("append").partitionBy("cell").parquet(cellsPath)
  }

  /** DELETE/takedown propagation — remove vectors from a persisted
    * index without a rebuild (the inverse lifecycle verb to
    * [[appendIndex]]): an anti-join strip of `cells/`
    * ([[IndexMaintenance.rewriteExcludingKeys]] — staged-rename swap,
    * cell layout preserved, doubling as a compaction). The quantizer
    * stores no corpus statistics, so the strip is the WHOLE removal:
    * the result is bit-identical to a one-shot [[save]] of the
    * survivors under the same frozen model (IvfSpec pins it).
    * Unknown ids are no-ops.
    *
    * The strip also keeps the APPENDLOG consistent
    * ([[IndexMaintenance.removeKeysWithLogDecrement]]): a negative
    * decrement row per affected stamped batch is appended BEFORE the
    * strip, so a later replay of that batch sums the log to the
    * post-takedown expectation and skips — instead of misreading the
    * takedown as a partial commit and "repairing" it by re-appending
    * the full batch, which would resurrect the removed vectors. Pass
    * `removeId` anywhere a RETRY of the removal itself is possible
    * (it stamps the decrement so a re-run skips straight to the
    * idempotent strip; an unstamped removal that crashes between
    * decrement and strip must not be blindly re-run — the decrement
    * would double). Removing ids of a streaming batch whose
    * checkpoint hasn't committed is REFUSED at runtime when
    * `checkpoint` names the maintainer's checkpoint location
    * ([[IndexMaintenance.requireBatchesCommitted]] — an uncommitted
    * batch's replay would resurrect the removed vectors); pass it
    * whenever a stream maintains this index. */
  def removeVectors(spark: SparkSession, path: String, ids: DataFrame,
      removeId: Option[Long] = None,
      checkpoint: Option[String] = None): Unit =
    IndexMaintenance.removeKeysWithLogDecrement(spark, s"$path/appendlog",
      s"$path/cells", ids.select(col("id")), "id",
      partitionCols = Seq("cell"), removeId = removeId,
      checkpoint = checkpoint)

  /** Per-cell row counts of a persisted index — the rebuild monitor
    * for [[appendIndex]]'s drift contract (cheap: a count per cell
    * partition, no vector math). */
  def cellStats(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(s"$path/cells")
      .groupBy("cell").agg(count(lit(1)).as("n_vectors"))
      .orderBy("cell")

  /** The drift contract made EXECUTABLE: if the max/mean cell ratio
    * (mean over ALL nlist cells — empty cells count, they are the
    * symptom) exceeds `maxRatio`, refit the quantizer on the CURRENT
    * stored corpus and atomically replace the index; otherwise do
    * nothing. Returns whether a rebuild happened. `~4× is the usual
    * vector-db rule of thumb` ([[appendIndex]]) is now one call on a
    * maintenance cadence instead of a monitor plus a hand-run fit+save.
    *
    * The rebuild stages a COMPLETE new index (fresh centroids + cells
    * re-assigned under them) in a sibling directory and swaps the
    * WHOLE index dir (live→__old, staged→live, drop __old) — unlike
    * compaction's per-subdir swaps, centroids and cells are only
    * correct TOGETHER, so interleaved per-dir swaps could expose a
    * mixed lineage; the whole-dir swap's worst crash state is a loudly
    * MISSING path (data intact in `__old`/`__rebuilding`), never a
    * silently wrong probe. Refit determinism: [[fit]]'s hash-ordered
    * seeding makes rebuild ≡ a fresh fit+save over the same rows
    * (IvfSpec pins probe equality).
    *
    * Single-writer maintenance verb: quiesce probes AND streaming
    * appenders for the swap. The appendlog does NOT carry over — a
    * rebuild folds every landed vector into the new lineage, so an
    * old batch stamp would make an in-flight replay re-append vectors
    * the rebuild already contains. Restart streams from a fresh
    * checkpoint after a rebuild. */
  def rebuildIfDrifted(spark: SparkSession, path: String,
      maxRatio: Double = 4.0, iters: Int = 5): Boolean = {
    require(maxRatio >= 1.0, "rebuildIfDrifted: maxRatio must be ≥ 1")
    val model = loadModel(spark, path)
    val counts = cellStats(spark, path).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val total = counts.values.sum
    if (total == 0L) return false // empty index: nothing to balance
    val mean = total.toDouble / model.nlist
    if (counts.values.max <= maxRatio * mean) return false
    import spark.implicits._
    val corpus = spark.read.parquet(s"$path/cells")
      .select(col("id"), col("vec").as("embedding"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val fresh = fit(corpus, nlist = model.nlist, iters = iters)
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val staged = new org.apache.hadoop.fs.Path(path + "__rebuilding")
      fs.delete(staged, true)
      fresh.centroids.toSeq.map { case (i, c) => (i, c.toSeq) }
        .toDF("cell", "centroid")
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$staged/centroids")
      assign(corpus, fresh)
        .withColumn("batch_id", lit(null).cast("long"))
        .transform(IndexMaintenance.oneWriterPerCell)
        .write.mode("overwrite").partitionBy("cell").parquet(s"$staged/cells")
      val live = new org.apache.hadoop.fs.Path(path)
      val old = new org.apache.hadoop.fs.Path(path + "__old")
      fs.delete(old, true)
      require(fs.rename(live, old), s"rebuild: cannot stage out live index at $path")
      if (!fs.rename(staged, live)) {
        require(fs.rename(old, live), s"rebuild: index lost at $path — data in $old")
        throw new IllegalStateException(s"rebuild swap failed for $path; live restored")
      }
      fs.delete(old, true)
    } finally corpus.unpersist(blocking = false)
    true
  }

  /** Collapse each cell partition back to ONE file after a run of
    * appends (same staged-rename swap as the other index families;
    * `dedupeRows` also drops exact duplicate (id, vec, cell) rows an
    * at-least-once retry may have double-appended — membership
    * semantics, a pure shrink). Results-identical before/after:
    * probes read the same row set. */
  def compactIndex(spark: SparkSession, path: String,
      dedupeRows: Boolean = false): Unit =
    IndexMaintenance.compactDir(spark, s"$path/cells",
      dedupeRows = dedupeRows, partitionCols = Seq("cell"))

  /** Top-k over a persisted index, with PARTITION PRUNING: the probed
    * cell set resolves driver-side first (one tiny job over the query
    * batch — which is bounded by contract, it rides the probe join as
    * a broadcast) and lands on the cell-partitioned scan as a static
    * IN filter. Without it the probe plan joins against ALL cell
    * partitions and only the shuffle discards the rest — at 100 TB
    * that is the difference between reading nprobe×|queries| cells
    * and reading the whole index (IvfSpec pins `PartitionFilters` on
    * the probe scan). [[Bm25.topKIndexed]] plays the same move with
    * its term buckets. */
  def topKIndexed(index: Index, queries: DataFrame, k: Int, nprobe: Int = 4): DataFrame = {
    // nprobe ≥ nlist is a FULL probe: every query's nearestCells list is
    // all nlist centroids, so the probed set is 0..nlist−1 by definition
    // — resolve it without the distinct+collect job (the
    // exact-by-construction gates probe full, so they skip it every rep)
    val probed: Seq[Int] =
      if (nprobe >= index.model.nlist) 0 until index.model.nlist
      else queries
        .select(explode(graft.expr.CentroidExprs.nearestCells(
          asDouble(col("embedding")), matrixOf(index.model.centroids), nprobe)).as("cell"))
        .distinct().collect().map(_.getInt(0)).toSeq
    topKFromCells(index.cells.where(col("cell").isin(probed: _*)),
      queries, index.model, k, nprobe)
  }
}
