package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** BM25 keyword retrieval over a document corpus — the curation-side
  * search primitive (find benchmark-like docs, mine domain-targeted
  * subsets, audit dedup clusters by query) the reference's relational
  * surface has no analogue for.
  *
  * Scale design (the 100 TB posture):
  *   - The corpus text is tokenized ONCE into an inverted index:
  *     postings `(term, doc_id, tf)` plus exact integer corpus stats
  *     (`n_docs`, `sum_dl` for avgdl, per-term `df`). Queries touch
  *     ONLY the postings of their terms — persisted form partitions by
  *     a term hash bucket so a query's `isin` filter prunes parquet
  *     row groups instead of scanning the corpus.
  *   - All global stats are INTEGERS (token counts), so the persisted
  *     index folds in new batches by appending delta rows and summing
  *     on read — fold-in is bit-identical to a full rebuild, which the
  *     `q_bm25_index` gate proves against the full-corpus oracle.
  *   - Scoring is one broadcast-ish join (query terms are tiny) plus
  *     one doc-keyed aggregation; top-k fuses to TakeOrderedAndProject.
  *     Per-term contributions quantize to decimal(28,12) before the
  *     per-doc sum so Spark's partial-aggregation tree and a sequential
  *     scan agree bit-for-bit (the `Q.sumq` parity pattern).
  *
  * Formula (classic Robertson/Spärck Jones with the +1 idf floor used
  * by Lucene): idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)),
  * contrib(t, D) = idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)).
  * avgdl = sum_dl / N computed from exact integer sums — one
  * correctly-rounded division on both engines, never a float mean.
  */
object Bm25 {

  /** In-memory inverted index: postings (each row carrying its doc's
    * length — see [[postingsOf]]) + df + exact integer corpus totals. */
  final case class Stats(postings: DataFrame, df: DataFrame,
      nDocs: Long, sumDl: Long) {
    def avgdl: Double = sumDl.toDouble / nDocs.toDouble
  }

  /** Tokenize like the rest of the text family (whitespace split of
    * lowercased trimmed text — `TextOps.tokens`; NULL text → no
    * postings on both engines) into `(term, doc_id, tf, dl)`. The doc
    * length is computed per ROW before the explosion (dl = the doc's
    * token count), and tf is counted INSIDE the row by the one-pass
    * [[graft.expr.TokenCounts]] expression — the old
    * explode → groupBy(term, doc) form shuffled one row per token
    * occurrence just to count duplicates that all live in the same
    * source row; counting map-side removes that exchange outright
    * (guide §2.4) and the explosion emits |distinct terms per doc|
    * rows instead of |tokens|. ZERO shuffles now — the bucket
    * repartition at write time is the build's only exchange. Row set
    * identical (Bm25Spec pins scoreTerms ≡ score(buildStats) over it;
    * the q_bm25_index/q_index_delete oracles prove it end-to-end). */
  private def postingsOf(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        TextOps.tokens(lower(col(textCol))).as("ts"))
      .select(col("doc_id"), size(col("ts")).cast("long").as("dl"),
        explode(graft.expr.TokenCounts.tokenCounts(col("ts"))).as("tc"))
      .select(col("tc.term").as("term"), col("doc_id"),
        col("tc.tf").as("tf"), col("dl"))

  /** One corpus pass → the whole index. df and the global totals
    * derive from the postings frame (|postings| ≪ |tokens|), so the
    * raw token explosion is shuffled exactly once. The two driver
    * scalars are a bounded collect (one row). */
  def buildStats(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): Stats = {
    val postings = postingsOf(docs, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dfT = postings.groupBy("term").agg(count(lit(1)).as("df"))
    val totals = postings.groupBy("doc_id").agg(min("dl").as("dl"))
      .agg(count(lit(1)).as("n"), sum("dl").as("s")).head()
    Stats(postings, dfT, totals.getLong(0), totals.getLong(1))
  }

  /** Per-(term, doc) BM25 contribution as a deterministic double
    * expression over integer tf/dl/df — written identically in the
    * DuckDB oracle so the doubles agree bit-for-bit. */
  private def contrib(k1: Double, b: Double, nDocs: Long, avgdl: Double) = {
    val idf = log(lit(1.0) + (lit(nDocs.toDouble) - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    idf * (col("tf") * lit(k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / lit(avgdl)))
  }

  /** Score every doc matching ≥1 query term; returns
    * `(doc_id, n_terms, score)`. The term filter lands on the postings
    * scan (pushed to parquet in the persisted form); df attaches by
    * broadcast join (restricted to the query terms, it is tiny); dl is
    * already in the posting row. */
  def score(stats: Stats, terms: Seq[String], k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val hits = stats.postings.where(col("term").isin(terms: _*))
      .join(broadcast(stats.df.where(col("term").isin(terms: _*))), Seq("term"))
    hits
      .withColumn("c", contrib(k1, b, stats.nDocs, stats.avgdl).cast(DecimalType(28, 12)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), sum("c").cast("double").as("score"))
  }

  /** Top-k by score (ties broken on doc_id) — fuses to
    * TakeOrderedAndProject, no global sort materializes. */
  def topK(stats: Stats, terms: Seq[String], k: Int, k1: Double = 1.2,
      b: Double = 0.75): DataFrame =
    score(stats, terms, k1, b)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)

  /** One-shot ad-hoc scoring WITHOUT materializing the in-memory index
    * (r18): global totals come from a doc-level aggregate (dl = the
    * doc's token count — no (term, doc) shuffle, no persist), and the
    * postings are term-FILTERED before their exchange, so the only
    * shuffle carries the query terms' rows instead of the whole
    * corpus's postings (guide §2.3 "project/filter before the
    * exchange"). Row-identical to `score(buildStats(docs), terms)` —
    * same totals (a doc appears in the postings iff its token array is
    * non-null; the filter commutes with the (term, doc) groupBy on its
    * own key), same df (restricted per term), same contrib doubles —
    * Bm25Spec pins the equality, null text included. [[buildStats]]
    * stays the right call when one index serves MANY queries; this is
    * the single-query form the ad-hoc gates want.
    *
    * NOTE: construction is EAGER — the totals aggregate (one corpus
    * tokenize pass) runs at call time, not at first action on the
    * returned frame. Callers composing several views over the same
    * docs/terms should build this once and reuse the frame. */
  def scoreTerms(docs: DataFrame, terms: Seq[String], idCol: String = "doc_id",
      textCol: String = "text", k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      TextOps.tokens(lower(col(textCol))).as("ts"))
    val t = toks.agg(
      count(when(col("ts").isNotNull, 1)).as("n"),
      coalesce(sum(when(col("ts").isNotNull, size(col("ts")).cast("long"))), lit(0L)).as("s"))
      .head()
    val nDocs = t.getLong(0)
    val avgdl = t.getLong(1).toDouble / nDocs.toDouble
    // per-row tf via TokenCounts (see postingsOf): the query-term
    // filter still lands before any exchange, and the old
    // groupBy(term, doc) exchange is gone entirely — the df aggregate
    // below is this path's only shuffle
    val postings = toks
      .select(col("doc_id"), size(col("ts")).cast("long").as("dl"),
        explode(graft.expr.TokenCounts.tokenCounts(col("ts"))).as("tc"))
      .select(col("doc_id"), col("dl"), col("tc.term").as("term"),
        col("tc.tf").as("tf"))
      .where(col("term").isin(terms: _*))
    val dfT = postings.groupBy("term").agg(count(lit(1)).as("df"))
    postings
      .join(broadcast(dfT), Seq("term"))
      .withColumn("c", contrib(k1, b, nDocs, avgdl).cast(DecimalType(28, 12)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), sum("c").cast("double").as("score"))
  }

  // ---- persisted, appendable index -------------------------------------

  /** Directory layout: `postings/` (term-bucket-partitioned parquet;
    * each posting row carries its doc's length — the search-engine
    * "norms in the posting" denormalization, free at build since dl is
    * computed before the explosion, so a query NEVER joins a
    * doc-keyed table) and `meta/` (one row PER
    * APPEND: batch doc count + token sum — summed on read, so fold-in
    * needs no read-modify-write). df is NOT stored: recomputing it
    * from the term-pruned postings a query actually reads is cheaper
    * at scale than maintaining a second mergeable table, and stays
    * exact under appends. Meta writes FIRST (the crash-safety stance
    * `Bpe.buildSubwordTable` settled): a torn append leaves extra meta
    * with no postings — detectable — never unaccounted postings. The
    * postings repartition on the bucket key before the partitioned
    * write: one writer per bucket directory instead of
    * |tasks|×|buckets| small files.
    *
    * Batches must be doc-disjoint (the same contract as the other
    * incremental indexes): re-appending a doc_id would double its
    * postings and its meta contribution.
    *
    * `batchId` makes a RETRY safe (a streaming caller's foreachBatch
    * is at-least-once up to the checkpoint commit and passes its
    * batchId through; a batch caller retrying a failed append passes
    * its own): an unstamped replay would re-append the whole batch,
    * doubling tf/df and the meta totals — silently wrong scores, not a
    * crash. Stamped
    * appends record batch_id in both meta and postings rows, the meta
    * row carries the batch's EXPECTED posting count (`n_postings`),
    * and the append becomes a RESUME keyed on that count, not mere
    * existence: meta row present + postings count for this batch
    * EQUALS n_postings → fully landed, skip; count 0 → the documented
    * meta-first torn state, finish the postings write only; count ≠
    * expected (a crash inside the postings parquet job commit — the
    * whole job with FileOutputCommitter v2, where task files become
    * visible incrementally — left a PARTIALLY committed batch) → strip
    * the partial batch's rows ([[IndexMaintenance
    * .rewriteExcludingKeys]], same staged swap as compaction) and
    * rewrite the postings in full. An existence-keyed skip would read
    * the partial state as "landed" and permanently lose postings.
    * Every crash point therefore replays to the exact no-crash index
    * (Bm25Spec's "crash replay: stamped appends converge at every
    * crash point" and partial-commit cases pin it). Steady-state cost
    * per stamped append: the meta probe — a Spark read + driver filter
    * over a dir that grows one tiny row-file per batch, so it grows
    * with batch count until [[compactIndex]] collapses meta to one
    * file (run compaction on a cadence for the postings' small-file
    * cliff and the probe stays O(1) too); the postings landed-count
    * scan runs only on the replay path, where the meta row was found. */
  def appendIndex(docs: DataFrame, path: String, idCol: String = "doc_id",
      textCol: String = "text", nBuckets: Int = 64,
      batchId: Option[Long] = None): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    val metaPath = s"$path/meta"
    val postPath = s"$path/postings"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())

    // resume detection (stamped appends only), on the shared probe
    // helpers ([[IndexMaintenance]]). Degrades are NARROW: an
    // unreadable META dir (torn first write, only _temporary debris)
    // resumes as a plain append — the intent row never landed, so
    // re-logging is correct; but once the meta row IS found, a missing
    // or unreadable postings dir is the documented meta-first torn
    // state and resumes with landed 0 and metaLanded STILL TRUE (the
    // old whole-probe try/catch turned that state into a duplicate
    // meta row per replay). A missing postings dir first runs the
    // torn-swap check (restore-or-abort — a crash between the staged
    // swap's renames leaves the whole index in __old, and degrading to
    // "not landed" would re-create it with only this batch). The
    // expectation is the SUM of the batch's meta n_postings rows, so a
    // takedown's negative decrement rows (see [[removeDocs]]) fold in
    // and a replayed post-takedown batch reads as fully landed.
    // torn-swap restore runs UNCONDITIONALLY, before any branch: every
    // append shape — replay, NEW batch, unstamped — must restore (or
    // abort on) a postings dir lost mid-swap, never write into a
    // silently re-created one while __old still holds all prior
    // batches and meta keeps counting them. META gets the same guard:
    // compactIndex staged-swaps BOTH dirs, and a torn meta swap would
    // otherwise read as "no meta yet" and re-create the stats from one
    // batch — silently wrong N/avgdl with the postings still complete.
    IndexMaintenance.restoreTornSwap(fs, postPath)
    IndexMaintenance.restoreTornSwap(fs, metaPath)
    val (metaLanded, expected, landed) = batchId match {
      case Some(b) if fs.exists(new org.apache.hadoop.fs.Path(metaPath)) =>
        val metaState =
          try {
            val meta = spark.read.option("mergeSchema", "true").parquet(metaPath)
            if (!meta.columns.contains("batch_id")) None
            else IndexMaintenance.loggedExpectation(meta, b, "n_postings")
          } catch { case _: Exception => None }
        metaState match {
          case None => (false, None, 0L)
          case Some(exp) =>
            (true, exp, IndexMaintenance.landedCount(spark, fs, postPath, b))
        }
      case _ => (false, None, 0L)
    }
    val postingsLanded = metaLanded && (expected match {
      case Some(n) => landed == n
      case None => landed > 0 // legacy meta row: existence-keyed resume
    })
    if (metaLanded && postingsLanded) return
    // partial postings job commit: strip the batch's landed rows before
    // rewriting — appending on top would duplicate them (double tf).
    // Deliberately OUTSIDE the degrade-to-not-landed probe: a failed
    // strip must abort the append, not be swallowed.
    if (metaLanded && landed > 0)
      IndexMaintenance.rewriteExcludingKeys(spark, postPath,
        Seq(batchId.get).toDF("batch_id"), "batch_id",
        partitionCols = Seq("bucket"))

    val base = postingsOf(docs, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bid = batchId.map(lit(_)).getOrElse(lit(null)).cast("long")
    if (!metaLanded) {
      // the stats aggregate IS the meta write: one job computes
      // n_docs/sum_dl/n_postings over the cached postings and writes
      // the one-row meta delta directly — no `.head()` round-trip, no
      // second action (guide §1.2: the r18 form had already folded
      // n_postings into this aggregate; this folds the write in too)
      base.groupBy("doc_id")
        .agg(min("dl").as("dl"), count(lit(1)).as("np"))
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum("dl"), lit(0L)).as("sum_dl"),
          coalesce(sum("np"), lit(0L)).as("n_postings"))
        .select(col("n_docs"), col("sum_dl"),
          lit(nBuckets).as("n_buckets"), col("n_postings"))
        .withColumn("batch_id", bid)
        .coalesce(1)
        .write.mode(SaveMode.Append).parquet(metaPath)
    }
    base
      .withColumn("bucket", pmod(xxhash64(col("term")), lit(nBuckets)).cast("int"))
      .withColumn("batch_id", bid)
      .repartition(col("bucket"))
      .write.mode(SaveMode.Append)
      .partitionBy("bucket").parquet(postPath)
    base.unpersist(blocking = false)
  }

  /** Query the persisted index: prune postings to the query terms'
    * hash buckets (partition pruning) + an `isin` term filter (row-group
    * stats), recompute df for just those terms, sum the meta deltas for
    * the exact global stats. The corpus text is never read, and thanks
    * to the denormalized dl no doc-keyed table is joined — query cost
    * is ∝ the queried terms' postings alone. */
  def topKIndexed(spark: SparkSession, path: String, terms: Seq[String],
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // meta is one row per append — a bounded driver read. The three
    // queried columns exist in EVERY meta writer's schema, so the read
    // states them explicitly (a parquet projection; extra columns in
    // any file are simply not read) and skips the footer-inference job.
    val metaRows = spark.read
      .schema("n_docs BIGINT, sum_dl BIGINT, n_buckets INT")
      .parquet(s"$path/meta")
      .select("n_docs", "sum_dl", "n_buckets").collect()
    val nBucketsAll = metaRows.map(_.getInt(2)).distinct
    require(nBucketsAll.length == 1,
      s"inconsistent n_buckets ${nBucketsAll.mkString(",")} across appends at $path — rebuild the index")
    val nBuckets = nBucketsAll.head
    val nDocs = metaRows.map(_.getLong(0)).sum
    val avgdl = metaRows.map(_.getLong(1)).sum.toDouble / nDocs.toDouble

    // term→bucket must equal the WRITER's pmod(xxhash64(term), nBuckets);
    // evaluate Spark's OWN expression (same operators, literal input)
    // driver-side so the two sides can never drift — without paying a
    // whole distributed job for |terms| literal rows (was a
    // toDF→distinct→collect round trip per query).
    // (catalyst nodes built directly — the Column API's UnresolvedFunction
    // wrappers are Unevaluable without an analyzer pass; XxHash64's 42L
    // seed and Pmod are the same operators `xxhash64`/`pmod` resolve to)
    val buckets = terms.map { t =>
      import org.apache.spark.sql.catalyst.expressions.{Literal, Pmod, XxHash64}
      Pmod(new XxHash64(Seq(Literal.create(t))), Literal(nBuckets.toLong))
        .eval(org.apache.spark.sql.catalyst.InternalRow.empty)
        .asInstanceOf[Long].toInt
    }.distinct

    val postings = spark.read.parquet(s"$path/postings")
      .where(col("bucket").isin(buckets: _*) && col("term").isin(terms: _*))
    val dfT = postings.groupBy("term").agg(count(lit(1)).as("df"))
    postings
      .join(broadcast(dfT), Seq("term"))
      .withColumn("c", contrib(k1, b, nDocs, avgdl).cast(DecimalType(28, 12)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), sum("c").cast("double").as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** DELETE/takedown propagation — remove documents from the persisted
    * index WITHOUT a rebuild: the inverse lifecycle verb to
    * [[appendIndex]]. A curation pipeline at 100 TB gets
    * takedown/right-to-erasure requests; before this, the only answer
    * was re-tokenizing the whole corpus.
    *
    * Two steps, exactness by construction:
    *   1. the removed docs' contribution to the global stats is
    *      recomputed from their LIVE postings (per-doc dl = the min-dl
    *      denormalized into every posting row; docs with no postings
    *      never counted in meta either — [[buildStats]] derives totals
    *      from postings — so postings-derived deltas are exact), and a
    *      NEGATIVE meta row is appended. Meta sums on read, so the
    *      summed stats equal a one-shot build over the survivors
    *      EXACTLY — integer arithmetic, no drift;
    *   2. the postings strip by anti-join
    *      ([[IndexMaintenance.rewriteExcludingKeys]] — the staged
    *      -rename swap, doubling as a compaction of the postings).
    *      df is never stored, so it re-derives correctly from the
    *      pruned postings at query time with no third step.
    * `q_index_delete` proves the equivalence against a DuckDB oracle
    * over the survivors (the q_incremental_append device inverted).
    *
    * Delta-BEFORE-strip is load-bearing: the delta must be computed
    * while the postings are still live (after a strip there is nothing
    * left to measure). `removeId` makes a RETRY safe: the delta row is
    * stamped, and a re-run that finds its remove_id already in meta
    * skips straight to the (idempotent) strip — so every crash point
    * re-runs to the exact no-crash index. An UNSTAMPED removal that
    * crashes between the two steps must NOT be blindly re-run (the
    * delta would double-decrement); pass removeId anywhere a retry is
    * possible. Unknown ids are no-ops (anti-join semantics); removing
    * docs of a STREAMING batch whose checkpoint hasn't committed is
    * REFUSED at runtime when `checkpoint` names the maintaining
    * stream's checkpoint location
    * ([[IndexMaintenance.requireBatchesCommitted]] — the batch's
    * replay would resurrect them; TakedownGuardSpec pins it); pass it
    * whenever a stream maintains this index. Without it the race
    * remains the caller's contract, as before.
    *
    * Torn visibility between the steps (delta landed, strip not yet):
    * scores are briefly perturbed (N too low) but the strip completes
    * on the re-run; the removed docs stop being RETURNABLE only once
    * the strip lands — the strip, not the delta, is the takedown. */
  def removeDocs(spark: SparkSession, path: String, ids: DataFrame,
      removeId: Option[Long] = None,
      checkpoint: Option[String] = None): Unit = {
    import spark.implicits._
    val metaPath = s"$path/meta"
    val postPath = s"$path/postings"
    // heal a torn compaction swap of either dir before reading: the
    // bare read would fail loud, but the restore is free and converges
    val rmFs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    IndexMaintenance.restoreTornSwap(rmFs, postPath)
    IndexMaintenance.restoreTornSwap(rmFs, metaPath)
    val meta = spark.read.option("mergeSchema", "true").parquet(metaPath)
    // ONE bounded driver read of the tiny meta table answers both the
    // retry-stamp probe and the n_buckets consistency check (was two
    // separate Spark jobs over the same rows)
    val metaSmall = meta.select(col("n_buckets"),
        (if (meta.columns.contains("remove_id")) col("remove_id")
         else lit(null).cast("long")).as("remove_id"))
      .collect()
    val deltaLanded = removeId.exists(r =>
      metaSmall.exists(row => !row.isNullAt(1) && row.getLong(1) == r))
    // postings are batch_id-stamped by every writer — the fast
    // one-footer read (IndexMaintenance.readStamped); meta keeps
    // mergeSchema above because its rows mix schemas in normal
    // operation (append rows lack remove_id)
    val postings = IndexMaintenance.readStamped(spark, postPath)
    val hits = postings
      .join(ids.select(col("doc_id")), Seq("doc_id"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // streaming-replay guard BEFORE any mutation (delta or strip):
      // a first run and its stamped retry see the same committedness
      // (commits never un-commit), so a retry that passed once passes
      checkpoint.foreach(cp => IndexMaintenance
        .requireBatchesCommitted(spark, hits, cp, s"Bm25.removeDocs($path)"))
      // one action over the cached hits yields the posting count, the
      // per-doc totals AND whether any stamped rows are affected (so
      // an all-unstamped index — the build-verb case — skips the
      // distributed batch-decrement aggregate below entirely)
      val hasBatchCol = hits.columns.contains("batch_id")
      val stampedOf =
        if (hasBatchCol) count(when(col("batch_id").isNotNull, 1))
        else lit(0L)
      val totals = hits.groupBy("doc_id")
        .agg(min("dl").as("dl"), count(lit(1)).as("np"),
          stampedOf.as("nst"))
        .agg(count(lit(1)).as("n"), coalesce(sum("dl"), lit(0L)).as("s"),
          coalesce(sum("np"), lit(0L)).as("p"),
          coalesce(sum("nst"), lit(0L)).as("st")).head()
      val nPost = totals.getLong(2)
      val nStamped = totals.getLong(3)
      if (!deltaLanded) {
        if (nPost == 0 && removeId.isEmpty) return // nothing to remove
        val nBucketsAll = metaSmall.map(_.getInt(0)).distinct
        require(nBucketsAll.length == 1,
          s"inconsistent n_buckets ${nBucketsAll.mkString(",")} across appends at $path — rebuild the index")
        val rid = removeId.map(lit(_)).getOrElse(lit(null)).cast("long")
        val globalDelta =
          Seq((-totals.getLong(0), -totals.getLong(1), nBucketsAll.head, -nPost))
            .toDF("n_docs", "sum_dl", "n_buckets", "n_postings")
            .withColumn("batch_id", lit(null).cast("long"))
            .withColumn("remove_id", rid)
        // per-batch decrement rows (zero global contribution): a later
        // REPLAY of a stamped batch sums its meta n_postings rows, so
        // after a takedown it must sum to the post-strip posting count
        // and read as fully landed — without these, the count-keyed
        // resume misreads the takedown as a partial commit, strips the
        // remainder and re-appends the full batch: resurrected docs
        // plus a still-applied negative delta (wrong N/sum_dl). Written
        // in the SAME meta append as the global delta so the remove_id
        // stamp covers both.
        val batchDec =
          if (!hasBatchCol || nStamped == 0L) globalDelta.limit(0)
          else hits.where(col("batch_id").isNotNull)
            .groupBy("batch_id")
            .agg((-count(lit(1))).as("n_postings"))
            .select(lit(0L).as("n_docs"), lit(0L).as("sum_dl"),
              lit(nBucketsAll.head).as("n_buckets"), col("n_postings"),
              col("batch_id"), rid.as("remove_id"))
        globalDelta.unionByName(batchDec)
          .write.mode(SaveMode.Append).parquet(metaPath)
      }
      if (nPost > 0)
        IndexMaintenance.rewriteExcludingKeys(spark, postPath,
          ids.select(col("doc_id")), "doc_id", partitionCols = Seq("bucket"))
    } finally hits.unpersist(blocking = false)
  }

  /** Compact the persisted index in place: collapse each bucket
    * directory to ONE parquet file and `meta/` to one summed row.
    * [[appendIndex]] writes one file per bucket per append — at
    * streaming cadence that is the classic small-file cliff: a year of
    * 5-minute triggers is ~10⁵ files per bucket, and every query pays
    * the listing + open cost. Run this on whatever cadence keeps
    * per-bucket file counts O(1) (the `Warehouse.compact` stance).
    *
    * No merge logic is needed: appends are doc-disjoint by contract,
    * so the compacted postings are a pure re-layout (same rows, fewer
    * files), and the meta collapse preserves the exact integer sums
    * [[topKIndexed]] reads. That also makes the swap crash-tolerant
    * beyond the staged-rename ordering below: ANY interleaving of the
    * two directory swaps leaves a queryable, correct index — old meta
    * with new postings (or vice versa) sums and scores identically.
    * Swap order per directory is live→__old, staged→live, drop __old
    * (`Warehouse.compact`): every intermediate state keeps the data
    * adjacent, never deleted-before-replaced.
    *
    * Batch-stamped rows keep their batch_id through the rewrite
    * (meta collapses to one row PER batch_id rather than one row
    * total — the stamp is what lets a replayed [[appendIndex]] detect
    * its batch already landed, so compaction must not erase it;
    * unstamped legacy rows still collapse into the single null-id
    * row). Either way meta ends as ONE FILE, which is what the
    * small-file cliff cares about. */
  def compactIndex(spark: SparkSession, path: String): Unit = {
    import org.apache.hadoop.fs.Path
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(path).getFileSystem(conf)
    require(fs.exists(new Path(s"$path/postings")) && fs.exists(new Path(s"$path/meta")),
      s"no index at $path")
    val metaDf2 = spark.read.option("mergeSchema", "true").parquet(s"$path/meta")
    val metaDf1 =
      if (metaDf2.columns.contains("remove_id")) metaDf2
      else metaDf2.withColumn("remove_id", lit(null).cast("long"))
    val metaDf0 =
      if (metaDf1.columns.contains("n_postings")) metaDf1
      else metaDf1.withColumn("n_postings", lit(null).cast("long"))
    val metaDf =
      if (metaDf0.columns.contains("batch_id")) metaDf0
      else metaDf0.withColumn("batch_id", lit(null).cast("long"))
    val nBucketsAll = metaDf.select("n_buckets").distinct()
      .collect().map(_.getInt(0))
    require(nBucketsAll.length == 1,
      s"inconsistent n_buckets ${nBucketsAll.mkString(",")} across appends at $path — rebuild the index")

    // stage both replacements fully before touching anything live
    val stagedPost = new Path(s"$path/postings__compacting")
    val stagedMeta = new Path(s"$path/meta__compacting")
    fs.delete(stagedPost, true); fs.delete(stagedMeta, true)
    // one hash exchange on the bucket key → each bucket's rows land in
    // exactly one writer task → exactly one file per bucket directory
    // (readStamped keeps the batch_id column alive across pre-stamp files)
    IndexMaintenance.readStamped(spark, s"$path/postings")
      .repartition(col("bucket"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("bucket").parquet(stagedPost.toString)
    metaDf
      // one row per (batch_id, remove_id): append-replay detection AND
      // removal-replay detection must both survive the re-layout.
      // n_postings survives the collapse (one meta row per stamp, so
      // the sum is that row's own value — or null for legacy rows,
      // which keeps their existence-keyed resume semantics); unstamped
      // (null, null) rows collapse into one summed row as before.
      .groupBy("batch_id", "remove_id")
      .agg(sum("n_docs").as("n_docs"), sum("sum_dl").as("sum_dl"),
        min("n_buckets").as("n_buckets"), sum("n_postings").as("n_postings"))
      .select("n_docs", "sum_dl", "n_buckets", "n_postings", "batch_id", "remove_id")
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(stagedMeta.toString)

    def swap(name: String, staged: Path): Unit = {
      val live = new Path(s"$path/$name")
      val old = new Path(s"$path/${name}__old")
      fs.delete(old, true)
      require(fs.rename(live, old), s"compaction: cannot stage out live $name at $path")
      if (!fs.rename(staged, live)) {
        require(fs.rename(old, live), s"compaction: $name lost at $path — data in $old")
        throw new IllegalStateException(s"compaction swap failed for $name at $path; live restored")
      }
      fs.delete(old, true)
    }
    swap("postings", stagedPost)
    swap("meta", stagedMeta)
  }
}
