package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** DSIR-style importance resampling — data SELECTION for training-data
  * pipelines: score every raw document by how much its hashed n-gram
  * feature distribution looks like a (much smaller) target corpus, then
  * keep the top slice. The published method (Xie et al. 2023, "Data
  * Selection for Language Models via Importance Resampling": hashed
  * unigram+bigram features into B buckets, bucket-distribution
  * importance weights log(p_target/p_raw), per-document weight sums)
  * re-expressed Spark-first. The reference engine has no data-selection
  * surface (SURVEY §1.1 — flat relational rows only); this extends the
  * sampling/mixing family (`ops.Sampling`) the extension brief calls
  * for.
  *
  * Scale design (100 TB): feature counting is one explode → groupBy
  * shuffle with map-side partial aggregation, output bounded by B
  * (~10³–10⁵ rows — KB–MB scale, independent of corpus size); the
  * weight table therefore always BROADCASTS to the scoring join, and
  * scoring's only shuffle is the per-document partial-agg sum. No
  * driver-side loop; the hot path (tokenize, hash, bucket) is all
  * codegen'd built-ins. Weight tables are plain DataFrames — persist
  * them like any dimension to re-score tomorrow's crawl without
  * re-reading today's (the same incremental stance as
  * [[Dedup.appendToBandIndex]]).
  *
  * Two weight forms:
  *  - [[ratioWeights]] — fixed-point integer ratios (w = (tgt+1)·10⁶
  *    div (raw+1)): integer-exact on ANY engine, so the correctness
  *    gate's DuckDB oracle matches bit-for-bit (same stance as the
  *    portable md5 simhash, `ExtensionQueries.qSimhash`).
  *  - [[logWeights]] — the paper's log-likelihood-ratio form with
  *    add-α smoothing; same ranking architecture, floating point.
  *    DsirSpec pins that both forms rank an obviously-target-like
  *    document above an obviously-not one.
  */
object Dsir {

  /** 1..n-gram terms from an ALREADY-MATERIALIZED token-array column
    * (the paper's hashed n-gram generality — Xie et al. 2023 use
    * unigrams+bigrams, `n = 2`, the default everywhere here). `toks`
    * must be a plain attribute (not the tokenizer expression inline):
    * every `element_at` in a gram lambda re-evaluates its child per
    * sequence element, so an inlined `split(...)` would re-tokenize the
    * text O(tokens) times per row — measured 8 s vs 0.3 s on the sf0.1
    * gate before the projection boundary was made mandatory here.
    * Null-in/null-out: a null `toks` yields null terms (WordNgrams
    * propagates child null) — DataFrame callers here materialize the
    * token array from non-null text, so no consumer sees it; external
    * callers wanting totality should coalesce like
    * [[graft.ops.TextOps.ngramsAll]]. */
  private def termsOf(toks: Column, n: Int = 2): Column = {
    require(n >= 1, "n-gram order must be >= 1")
    // codegen'd window join per order (graft.expr.WordNgrams; empty
    // when the doc is shorter than k — the totality the old
    // when/otherwise guarded). The HOF formulation it replaced ran
    // interpreted element_at + concat_ws lambdas per gram per row —
    // the hot line of both the count and the score pass.
    val grams = (2 to n).map(k => graft.expr.WordNgrams.wordNgrams(toks, k))
    if (grams.isEmpty) toks else concat(toks +: grams: _*)
  }

  /** 1..n-gram terms of a text column, WITH multiplicity (term
    * frequency matters — a doc that says the target's words twice is
    * twice the evidence). Tokenization matches the inventory's portable
    * convention: lower, trim, split on runs of whitespace. Single-row /
    * expression use only — DataFrame paths ([[bucketCounts]],
    * [[scoreDocs]]) materialize the token array first; see [[termsOf]]. */
  def terms(text: Column, n: Int = 2): Column =
    termsOf(TextOps.tokens(lower(text)), n)

  /** Portable bucket id in [0, buckets): md5-derived so DuckDB (and any
    * other engine) reproduces it exactly — the same md5-hex-prefix
    * device as the portable simhash. The gate's hash. */
  def bucket(term: Column, buckets: Int): Column =
    conv(substring(md5(term), 1, 8), 16, 10).cast("long") % buckets

  /** In-engine bucket id: native xxhash64 — no hex round-trip, stays
    * fully codegen'd; the production hash when no foreign engine needs
    * to reproduce the buckets. Weights' SEMANTICS are hash-agnostic,
    * but learn and score MUST use the same `portable` setting — a
    * weight table is bound to the hash that built it. */
  def bucketFast(term: Column, buckets: Int): Column =
    pmod(xxhash64(term), lit(buckets.toLong))

  private def bucketOf(term: Column, buckets: Int, portable: Boolean): Column =
    if (portable) bucket(term, buckets) else bucketFast(term, buckets)

  /** Hashed-feature counts of a corpus: (bkt, c). One shuffle; at most
    * `buckets` output rows regardless of corpus size. `n` is the
    * max n-gram order (features = 1..n-grams); weights learned at one
    * `n` must be applied at the same `n`, like `portable`. */
  def bucketCounts(docs: DataFrame, textCol: String, buckets: Int,
      portable: Boolean = true, n: Int = 2): DataFrame =
    docs.select(TextOps.tokens(lower(col(textCol))).as("toks"))
      .select(explode(termsOf(col("toks"), n)).as("term"))
      .select(bucketOf(col("term"), buckets, portable).as("bkt"))
      .groupBy("bkt").agg(count(lit(1)).as("c"))

  /** One-pass counts for the common case where the target is a
    * PREDICATE-selected subset of the raw corpus (DSIR's usual setup —
    * "docs that look like wiki" inside the crawl): both distributions
    * from a single scan + shuffle, (bkt, c, tc). At 100 TB this is one
    * fewer full-corpus pass than calling [[bucketCounts]] twice;
    * equivalence with the two-pass form is DsirSpec-pinned. */
  def bucketCountsWithTarget(docs: DataFrame, textCol: String,
      targetPred: Column, buckets: Int, portable: Boolean = true,
      n: Int = 2): DataFrame =
    docs.select(TextOps.tokens(lower(col(textCol))).as("toks"),
        targetPred.as("is_tgt"))
      .select(explode(termsOf(col("toks"), n)).as("term"), col("is_tgt"))
      .select(bucketOf(col("term"), buckets, portable).as("bkt"), col("is_tgt"))
      .groupBy("bkt").agg(count(lit(1)).as("c"),
        count(when(col("is_tgt"), 1)).as("tc"))

  /** [[ratioWeights]] over a joint [[bucketCountsWithTarget]] table. */
  def ratioWeightsJoint(counts: DataFrame): DataFrame =
    counts.select(col("bkt"),
      expr("(tc + 1L) * 1000000L div (c + 1L)").as("w"))

  /** Fixed-point importance ratios: w[b] = (tgt[b]+1)·10⁶ div (raw[b]+1)
    * — add-one smoothing, six fixed decimal digits, floor division.
    * Integer-exact in any engine. When the target is a subset of the
    * raw corpus (the usual DSIR setup) tgt ≤ raw, so w ≤ 10⁶ and a
    * per-doc score (Σ over its terms) stays far from Long overflow.
    * `raw`/`target` are [[bucketCounts]] outputs. */
  def ratioWeights(raw: DataFrame, target: DataFrame): DataFrame =
    raw.join(target.withColumnRenamed("c", "tc"), Seq("bkt"), "left")
      .select(col("bkt"),
        expr("(coalesce(tc, 0L) + 1L) * 1000000L div (c + 1L)").as("w"))

  /** The paper's log-space weights: w[b] = log p̂_tgt[b] − log p̂_raw[b]
    * with add-α smoothing over `buckets` cells. Floating point — for
    * in-engine ranking; the gate uses [[ratioWeights]] for bit-exact
    * oracle parity. */
  def logWeights(raw: DataFrame, target: DataFrame, buckets: Int,
      alpha: Double = 1.0): DataFrame = {
    raw.join(target.withColumnRenamed("c", "tc"), Seq("bkt"), "left")
      .na.fill(0L, Seq("tc"))
      .withColumn("w",
        log((col("tc") + lit(alpha)) /
            (sum(col("tc")).over(Window.partitionBy()) + lit(alpha * buckets))) -
        log((col("c") + lit(alpha)) /
            (sum(col("c")).over(Window.partitionBy()) + lit(alpha * buckets))))
      .select("bkt", "w")
  }

  /** Per-document importance score: Σ w[bucket(term)] over the doc's
    * terms (with multiplicity). The weight side is ≤ `buckets` rows —
    * always broadcast — so the single shuffle is the per-doc sum, and
    * its map-side partial aggregation means only (doc, partial) rows
    * ride the wire. Terms whose bucket is absent from `weights` (a doc
    * scored against a FOREIGN corpus's weights) fall back to the
    * neutral ratio 1·10⁶ ((0+1)/(0+1) — both distributions know
    * nothing about the bucket). */
  def scoreDocs(docs: DataFrame, idCol: String, textCol: String,
      weights: DataFrame, buckets: Int, portable: Boolean = true,
      n: Int = 2): DataFrame =
    docs.select(col(idCol), TextOps.tokens(lower(col(textCol))).as("toks"))
      .select(col(idCol), explode(termsOf(col("toks"), n)).as("term"))
      .select(col(idCol), bucketOf(col("term"), buckets, portable).as("bkt"))
      .join(broadcast(weights), Seq("bkt"), "left")
      .groupBy(idCol)
      .agg(sum(coalesce(col("w"), lit(1000000L))).as("score"),
        count(lit(1)).as("n_terms"))

  /** Learn + score in (adaptively) ONE tokenize pass when the target is
    * a predicate subset of the scored corpus — the q_dsir_select shape.
    *
    * The two-pass form (bucketCountsWithTarget → scoreDocs) tokenizes,
    * n-grams and hash-buckets every document TWICE — measured as the
    * whole cost of the sf0.1 gate (5 jobs, ~1.3 s, all compute). When
    * the corpus is small enough to bound the intermediate, the per-term
    * (id, bkt, is_tgt) frame materializes once (localCheckpoint) and
    * BOTH the counts and the per-doc score aggregate read it — half the
    * hot-path work (guide §1.2: don't compute twice). Above
    * `shareDocsCap` it stays the honest two-pass shape: the term frame
    * is corpus-token-scale, and materializing that at 100 TB trades two
    * cheap streaming passes for petabytes of checkpoint I/O (the
    * q_tfidf r18 lesson). The cap is measured (one metadata-only
    * count), not guessed, and compares doc counts — a scale-adaptive
    * route, not a local[n] constant.
    *
    * Output ≡ scoreDocs(docs, …, ratioWeightsJoint(
    * bucketCountsWithTarget(docs, …))) row-for-row on both routes
    * (same expression chains over the same rows; DsirSpec pins it). */
  def scoreAgainstSubsetAdaptive(docs: DataFrame, idCol: String,
      textCol: String, targetPred: Column, buckets: Int,
      portable: Boolean = true, n: Int = 2,
      shareDocsCap: Long = 100000L): DataFrame = {
    if (docs.count() > shareDocsCap) {
      val w = ratioWeightsJoint(
        bucketCountsWithTarget(docs, textCol, targetPred, buckets, portable, n))
      scoreDocs(docs, idCol, textCol, w, buckets, portable, n)
    } else {
      val tb = docs
        .select(col(idCol), TextOps.tokens(lower(col(textCol))).as("toks"),
          targetPred.as("is_tgt"))
        .select(col(idCol), explode(termsOf(col("toks"), n)).as("term"),
          col("is_tgt"))
        .select(col(idCol), bucketOf(col("term"), buckets, portable).as("bkt"),
          col("is_tgt"))
        .localCheckpoint(true)
      val w = ratioWeightsJoint(tb
        .groupBy("bkt").agg(count(lit(1)).as("c"),
          count(when(col("is_tgt"), 1)).as("tc")))
      tb.join(broadcast(w), Seq("bkt"), "left")
        .groupBy(idCol)
        .agg(sum(coalesce(col("w"), lit(1000000L))).as("score"),
          count(lit(1)).as("n_terms"))
    }
  }

  /** Deterministic top-k selection by (score desc, id): the "resample
    * the best slice" step. A global top-k via row_number over an
    * unpartitioned window would single-reduce at scale; Spark's
    * TakeOrderedAndProject on orderBy+limit keeps it a per-partition
    * top-k merge, so selection is the cheap step. The rank column is
    * re-derived AFTER the limit, over k rows only. */
  def selectTopK(scored: DataFrame, idCol: String, k: Int): DataFrame = {
    val top = scored.orderBy(col("score").desc, col(idCol)).limit(k)
    top.withColumn("rank",
      row_number().over(Window.orderBy(col("score").desc, col(idCol))))
  }
}
