package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing for training-data pipelines: concatenate documents
  * in a deterministic order and chunk the stream into fixed-size token
  * windows (the GPT-style "concat-and-chunk" pretraining layout). A
  * document belongs to the window in which its first token lands:
  * `window_id = floor(tokens_before_doc / budget)`.
  *
  * The obvious Spark form — `sum(tok) over (order by id)` — collapses
  * the whole table into ONE partition for the global-order window and
  * dies at scale. This implementation is the classic two-phase
  * distributed prefix sum instead:
  *
  *   1. range-partition by the order key (so partitions are contiguous
  *      key slices) and sort within partitions;
  *   2. aggregate one row per partition (its token total) — a few
  *      hundred rows at any scale — and turn those into per-partition
  *      exclusive prefix offsets on the driver;
  *   3. broadcast-join the offsets back and window only WITHIN each
  *      partition (`Window.partitionBy(pid)`), which never shuffles to
  *      a single reducer.
  *
  * The result is bit-identical to the single-partition global window
  * (pinned in PackingSpec) but every stage is parallel at any scale.
  */
object Packing {

  /** Per-document window assignment: (orderCol, tokCol columns of
    * `docs`) → original columns + `tokens_before` + `window_id`.
    *
    * @param numPartitions contiguous slices for the prefix sum; at
    *   scale pick ~input-split count. Defaults to the session's
    *   shuffle parallelism.
    */
  def assignWindows(docs: DataFrame, orderCol: String, tokCol: String,
      budget: Long, numPartitions: Int = 0): DataFrame = {
    require(budget > 0, "budget must be positive")
    runningTokens(docs, Seq(col(orderCol)), tokCol, numPartitions,
      Some(budget))
  }

  /** The generalized two-phase prefix sum behind [[assignWindows]] and
    * [[Selection.selectByBudget]]: `tokens_before` = exclusive running
    * token total in the global order given by `sortExprs` (any mix of
    * asc/desc columns), plus `window_id` when a `budget` is given.
    * Steps 1–3 of the object scaladoc; the result is checkpointed (the
    * offsets were computed against THIS materialized pid layout —
    * recomputing the lineage could re-sample different range
    * boundaries and silently shift per-row results; project the input
    * down to needed columns BEFORE calling, as packSummary's callers
    * do). */
  private[ops] def runningTokens(docs: DataFrame, sortExprs: Seq[Column],
      tokCol: String, numPartitions: Int, budget: Option[Long]): DataFrame = {
    Reserved.requireAbsent("runningTokens", Seq("__pid", "__offset"), docs)
    val spark = docs.sparkSession
    val nPart = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions

    // 0. pin the (narrow, one-row-per-doc — the caller projects) input
    //    BEFORE the range exchange: repartitionByRange SAMPLES its
    //    child to pick boundaries, so an unpinned input re-runs its
    //    whole upstream pipeline twice (q_tok_pack's BPE tokenize,
    //    q_budget_fill's quality scoring) — the buildBandIndex /
    //    buildChunkIndex lesson applied here (guide §1.2: don't
    //    compute twice)
    val pinned = docs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // 1. contiguous key slices, sorted inside each slice; pid is stable
    //    for the lifetime of this lineage because every downstream use
    //    hangs off the SAME ranged node (range boundaries are sampled,
    //    but any contiguous partitioning yields the same global result)
    val ranged = rangedByExprs(pinned, sortExprs, nPart)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    try {
      // 2. one row per partition → exclusive prefix offsets (driver-side
      //    on ≤ a-few-thousand rows — the scale-independent small side)
      // a partition whose token column is entirely null sums to null;
      // treat it as contributing 0 tokens — the same thing the naive
      // global window does (its running sum skips nulls)
      val partTotals = ranged.groupBy(col("__pid"))
        .agg(coalesce(sum(col(tokCol)).cast("long"), lit(0L)).as("__ptok"))
        .collect()
        .map(r => (r.getInt(0), r.getLong(1)))
        .sortBy(_._1)
      var acc = 0L
      val offsets = partTotals.map { case (pid, tot) =>
        val off = acc; acc += tot; (pid, off)
      }
      import spark.implicits._
      val offsetsDf = offsets.toSeq.toDF("__pid", "__offset")

      // 3. checkpoint — REQUIRED for correctness, not a cache nicety
      //    (see the scaladoc above)
      windowStage(ranged, offsetsDf, sortExprs, tokCol, budget)
        .localCheckpoint(true)
    } finally {
      ranged.unpersist(blocking = false)
      pinned.unpersist(blocking = false)
    }
  }

  private def rangedByExprs(docs: DataFrame, sortExprs: Seq[Column],
      nPart: Int): DataFrame =
    docs
      .repartitionByRange(nPart, sortExprs: _*)
      .sortWithinPartitions(sortExprs: _*)
      .withColumn("__pid", spark_partition_id())

  /** Within-partition running sum + broadcast offset = global exclusive
    * prefix; the window never sees more than one contiguous slice. */
  private def windowStage(ranged: DataFrame, offsetsDf: DataFrame,
      sortExprs: Seq[Column], tokCol: String, budget: Option[Long]): DataFrame = {
    val w = Window.partitionBy("__pid").orderBy(sortExprs: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val base = ranged
      .join(broadcast(offsetsDf), Seq("__pid"))
      .withColumn("tokens_before",
        coalesce(sum(col(tokCol)).over(w), lit(0L)) + col("__offset"))
    budget.fold(base)(b =>
        base.withColumn("window_id", floor(col("tokens_before") / b)))
      .drop("__pid", "__offset")
  }

  /** The assignment plan WITHOUT the collect/checkpoint (placeholder
    * offsets) — for plan audits only: [[assignWindows]] checkpoints its
    * result, which truncates the visible plan, so audits of the
    * windowing topology (no single-partition exchange) must look here.
    * Never execute this: the placeholder offsets are wrong. */
  private[graft] def planShape(docs: DataFrame, orderCol: String,
      tokCol: String, budget: Long, numPartitions: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ranged = rangedByExprs(docs, Seq(col(orderCol)), numPartitions)
    windowStage(ranged, Seq((0, 0L)).toDF("__pid", "__offset"),
      Seq(col(orderCol)), tokCol, Some(budget))
  }

  /** Packed-window summary: one row per training window. */
  def packSummary(docs: DataFrame, orderCol: String, tokCol: String,
      budget: Long, numPartitions: Int = 0): DataFrame =
    assignWindows(docs, orderCol, tokCol, budget, numPartitions)
      .groupBy(col("window_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(tokCol)).cast("long").as("window_tokens"),
        min(col(orderCol)).as("first_doc"),
        max(col(orderCol)).as("last_doc"))

  final case class PackedSample(shard: Int, doc_id: Long, n_tok: Long, bin: Long)

  /** SAMPLE-level packing — the SFT-style complement of the
    * concat-and-chunk layout above: each document is INDIVISIBLE (a
    * training sample that must not split across sequences), and the
    * packer assigns documents to fixed-budget bins minimizing padding
    * via first-fit-decreasing (the classic ≤ 11/9·OPT + 1 bound).
    *
    * FFD is inherently sequential, so the scale shape is the same as
    * [[graft.ops.Sampling.shuffleShard]]'s: documents hash into
    * `nShards` DETERMINISTIC shards (the portable md5 slice — any
    * engine reproduces the assignment), each shard packs sequentially
    * inside one task in (n_tok desc, doc_id) order, and shards pack in
    * parallel — (shard, bin) is the training-sequence key, exactly how
    * a multi-writer shard layout packs. Parallelism = nShards; size it
    * to the cluster (production shard counts are 10³–10⁵).
    *
    * Totality: a document LARGER than the budget opens its own bin
    * (never silently dropped — the caller decides whether to truncate
    * or reject upstream); the bin goes negative-remaining so nothing
    * else joins it. Output: (shard, doc_id, n_tok, bin) with `bin`
    * 0-based per shard. Deterministic under any input partitioning
    * (PackingSpec pins it, and pins the packing against an independent
    * reference FFD).
    *
    * Contract: `idCol`/`tokCol` must be NON-NULL and integral — a null
    * (or a string that does not parse as a long) fails FAST with a
    * named error instead of a cryptic Dataset-decode crash downstream;
    * an id outside long range or a fractional id would truncate
    * silently, so pass integral ids only. */
  def packSamplesFFD(docs: DataFrame, idCol: String, tokCol: String,
      budget: Long, nShards: Int, seed: Long = 0L): DataFrame = {
    require(budget > 0, "budget must be positive")
    require(nShards > 0, "nShards must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    def req(c: Column, name: String): Column =
      when(c.isNull, raise_error(lit(
        s"packSamplesFFD: null or non-integral $name — every sample " +
          "needs a non-null integral id and token count"))).otherwise(c)
    val id = req(col(idCol).cast("long"), idCol)
    // a NEGATIVE count must also fail fast: under non-ANSI Spark,
    // TextOps.tokenCount(NULL text) yields -1, and a -1 flowing through
    // would silently INCREASE a bin's remaining capacity and corrupt
    // the packing/padding accounting
    val tok0 = req(col(tokCol).cast("long"), tokCol)
    val tok = when(tok0 < 0, raise_error(concat(lit(
      s"packSamplesFFD: negative $tokCol ("), tok0.cast("string"),
      lit(") — a NULL text under non-ANSI tokenCount yields -1; clean " +
        "or coalesce upstream")))).otherwise(tok0)
    val h = md5(concat(id.cast("string"), lit(":"), lit(seed.toString)))
    val sharded = docs.select(
      id.as("doc_id"),
      tok.as("n_tok"),
      (conv(substring(h, 1, 8), 16, 10).cast("long") % nShards)
        .cast("int").as("shard"))
    sharded
      .repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("n_tok").desc, col("doc_id"))
      .as[(Long, Long, Int)]
      .mapPartitions { it =>
        // a partition may hold several shards (hash partitioning):
        // rows arrive shard-contiguous, so bins reset at each boundary.
        // First-fit lookup is a SEGMENT TREE over bin capacities
        // (leftmost leaf with remaining >= tok, O(log bins) per doc) —
        // a linear bin scan would be O(docs x bins) per task, which
        // dies on a shard with ~10^6 docs; the tree keeps the exact
        // same leftmost-bin semantics (PackingSpec's differential
        // reference uses the naive scan).
        var cur = Int.MinValue
        var tree: FirstFitTree = null
        it.map { case (id, tok, sh) =>
          if (sh != cur) { cur = sh; tree = new FirstFitTree(budget) }
          PackedSample(sh, id, tok, tree.place(tok).toLong)
        }
      }
      .toDF()
  }

  /** Leftmost-first-fit over growable bins: a binary segment tree whose
    * leaves are bin remaining-capacities and inner nodes hold subtree
    * maxima — `place` descends left-first to the lowest-index bin that
    * fits (identical semantics to a linear scan), opening a new bin
    * when none does. O(log bins) per placement. */
  private final class FirstFitTree(budget: Long) {
    private var cap = 1                       // leaf slots (power of 2)
    private var tree = new Array[Long](2)     // 1-based; leaves at [cap, 2cap)
    private var n = 0                         // bins in use
    tree(1) = Long.MinValue

    private def grow(): Unit = {
      val oldCap = cap
      cap *= 2
      val t = Array.fill(2 * cap)(Long.MinValue)
      var i = 0
      while (i < n) { t(cap + i) = tree(oldCap + i); i += 1 }
      var j = cap - 1
      while (j >= 1) { t(j) = math.max(t(2 * j), t(2 * j + 1)); j -= 1 }
      tree = t
    }

    private def update(idx: Int, rem: Long): Unit = {
      var i = cap + idx
      tree(i) = rem
      i /= 2
      while (i >= 1) { tree(i) = math.max(tree(2 * i), tree(2 * i + 1)); i /= 2 }
    }

    /** Place a doc of `tok` tokens: the lowest-index bin with remaining
      * ≥ tok, else a new bin (whose remaining may go negative for an
      * oversize doc — nothing else ever fits it). Returns the 0-based
      * bin index. */
    def place(tok: Long): Int = {
      if (n > 0 && tree(1) >= tok) {
        var i = 1
        while (i < cap) {
          i = if (tree(2 * i) >= tok) 2 * i else 2 * i + 1
        }
        val idx = i - cap
        update(idx, tree(i) - tok)
        idx
      } else {
        if (n == cap) grow()
        val idx = n
        n += 1
        update(idx, budget - tok)
        idx
      }
    }
  }

  /** Per-(shard, bin) packing report: fill, padding, member count —
    * the padding-efficiency view a trainer reads. An OVERSIZE doc's bin
    * reports padding 0 plus the overage in `overflow` — a negative
    * "padding" would silently understate total padding when summed. */
  def packSamplesSummary(docs: DataFrame, idCol: String, tokCol: String,
      budget: Long, nShards: Int, seed: Long = 0L): DataFrame =
    packSamplesFFD(docs, idCol, tokCol, budget, nShards, seed)
      .groupBy("shard", "bin")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("fill"),
        greatest(lit(0L), lit(budget) - sum(col("n_tok"))).as("padding"),
        greatest(lit(0L), sum(col("n_tok")) - lit(budget)).as("overflow"))
}
