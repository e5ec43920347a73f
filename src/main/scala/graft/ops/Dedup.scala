package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, in increasing
  * sophistication: exact (hash groupBy), MinHash+LSH banding, SimHash,
  * and n-gram Jaccard verification.
  *
  * Scale design:
  *   - exact dedup is one shuffle on the 16-byte fingerprint — the
  *     canonical 100 TB pattern (never groupBy the full text);
  *   - MinHash signatures/bands are per-row expressions (codegen, no
  *     shuffle); candidate generation shuffles on (band, bandHash)
  *     buckets only, so cost tracks the number of near-duplicates,
  *     not n² — the standard shingle→minhash→band→bucket-join;
  *   - SimHash packs to one 64-bit key; near-dup candidates via
  *     Hamming-ball band join on 16-bit chunks;
  *   - exact Jaccard (the verifier) only runs on LSH candidates.
  */
object Dedup {

  /** Keep one row per distinct key expression: deterministic keep-first
    * (min tie-break id) — a window, not dropDuplicates, so results are
    * reproducible run-to-run. */
  def exact(df: DataFrame, key: Column, tieBreak: Column): DataFrame = {
    val w = Window.partitionBy(key).orderBy(tieBreak)
    df.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1).drop("__rn")
  }

  /** Corpus-wide exact paragraph dedup with KEEP-FIRST removal — the
    * CCNet (Wenzek et al. 2020) paragraph-dedup stage and the
    * line-dedup pass of RefinedWeb-style pipelines: every distinct
    * paragraph survives exactly once, at its FIRST occurrence in
    * corpus order (idCol asc, posCol asc); later occurrences are
    * removed and docs reassembled from their survivors in original
    * order. Differs from [[Boilerplate.stripLines]] in both rule and
    * outcome: frequency stripping removes EVERY copy of
    * above-threshold chrome; keep-first dedup keeps ONE copy of
    * everything, chrome or prose, with no threshold to tune.
    *
    * Scale design (100 TB):
    *   - winner election shuffles (md5, id, pos) only — 16-byte
    *     fingerprints, never paragraph text — and `min(struct(id,
    *     pos))` aggregates with map-side partial min;
    *   - the winner set is one row per DISTINCT paragraph (corpus
    *     sized, NOT broadcastable), so survivors attach by a shuffle
    *     semi-join on the fingerprint; paragraph text rides exactly
    *     two shuffles (the attach + the per-doc reassembly) — the
    *     lower bound for a reassembling dedup;
    *   - every input doc keeps its output row (empty clean_text when
    *     all its paragraphs were seen earlier) — the Boilerplate
    *     totality stance.
    *
    * Output: (idCol, n_paras, n_kept, clean_text). */
  def paragraphDedup(lines: DataFrame, idCol: String, posCol: String,
      paraCol: String): DataFrame = {
    Reserved.requireAbsent("paragraphDedup",
      Seq("__pmd5", "__w", "__wid", "__wpos"), lines)
    val keyed = lines.withColumn("__pmd5", md5(col(paraCol)))
    paragraphDedupCore(keyed, keyed, idCol, posCol, paraCol)
  }

  /** Shared winner-election + reassembly behind [[paragraphDedup]] and
    * [[paragraphDedupIncrement]]: keep-first among `candidates` (an
    * already-`__pmd5`-keyed lines frame); totality over `universe` —
    * every universe doc gets an output row, empty when none of its
    * paragraphs survived. */
  private def paragraphDedupCore(candidates: DataFrame, universe: DataFrame,
      idCol: String, posCol: String, paraCol: String): DataFrame = {
    val winners = candidates
      .select(col("__pmd5"), struct(col(idCol), col(posCol)).as("__w"))
      .groupBy("__pmd5").agg(min("__w").as("__w"))
      .select(col("__pmd5"), col("__w").getField(idCol).as("__wid"),
        col("__w").getField(posCol).as("__wpos"))
    val kept = candidates.join(winners,
      candidates("__pmd5") === winners("__pmd5") &&
        col(idCol) === col("__wid") && col(posCol) === col("__wpos"),
      "left_semi")
    val rebuilt = kept.groupBy(idCol)
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col(posCol), col(paraCol)))),
            x => x.getField(paraCol)),
          "\n").as("clean_text"))
    universe.groupBy(idCol).agg(count(lit(1)).as("n_paras"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), col("n_paras"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Incremental [[paragraphDedup]] against a PERSISTED
    * seen-fingerprint index: paragraphs already recorded at
    * `indexPath` strip entirely, the batch's own fresh paragraphs
    * dedupe keep-first within the batch, and the fresh fingerprints
    * fold into the index — so replaying doc-ascending batches equals
    * one batch run (spec-pinned), and yesterday's crawl strips
    * today's, the [[Boilerplate]] incremental stance.
    *
    * Side-effect ordering is OUTPUT-FIRST: the result is materialized
    * (localCheckpoint) BEFORE the index append, so a crash between
    * the two and a retried batch re-emits the same rows (at-least-once,
    * the foreachBatch norm) — appending first would make the retry see
    * its own paragraphs as "seen" and silently strip everything (data
    * loss, not duplication). Duplicate fingerprints in the index from
    * a retry are harmless: the strip is an anti-join on md5.
    *
    * `batchId` closes the REMAINING crash window the ordering alone
    * can't: a crash after BOTH writes land but before the streaming
    * checkpoint commits still replays the batch (foreachBatch is
    * at-least-once all the way to the commit), and an unstamped replay
    * would anti-join against its own just-appended fingerprints and
    * self-strip — emitting empty rows to the sink, the data-loss mode
    * the ordering was built to prevent. Stamped appends record
    * (fingerprint, batch_id) and the anti-join EXCLUDES rows of the
    * replaying batch's own id, so every crash point replays to the
    * bit-identical output (DedupSpec's paragraphDedupIncrement
    * crash-replay case pins it).
    * Fingerprints re-appended by a replay carry the same batch_id —
    * exact duplicates, collapsed by `compactDir(dedupeRows = true)`.
    *
    * The index is a flat parquet dir of 16-byte md5s (+ batch_id) —
    * one file per append; periodic compaction is a pure re-layout
    * (any rewrite of the same rows), the [[Bm25.compactIndex]]
    * argument. */
  def paragraphDedupIncrement(newLines: DataFrame, indexPath: String,
      idCol: String, posCol: String, paraCol: String,
      batchId: Option[Long] = None): DataFrame = {
    val spark = newLines.sparkSession
    Reserved.requireAbsent("paragraphDedupIncrement", Seq("__pmd5"), newLines)
    val keyed = newLines.withColumn("__pmd5", md5(col(paraCol)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val conf = spark.sessionState.newHadoopConf()
    val idxDir = new org.apache.hadoop.fs.Path(s"$indexPath/pmd5")
    // restore a dir lost by an interrupted compaction BEFORE the
    // existence probe — else seen paragraphs re-emit (wrong output)
    // and the append re-creates the fingerprint set from one batch
    IndexMaintenance.guardAppend(spark, idxDir.toString)
    val haveIndex = idxDir.getFileSystem(conf).exists(idxDir)
    val fresh =
      if (haveIndex) {
        // batch_id evolution handled by readStamped: one footer read
        // when the stamp is present (every current writer stamps);
        // legacy rows read batch_id null = "seen forever"
        val idx = IndexMaintenance.readStamped(spark, idxDir.toString)
        val seen = batchId match {
          case Some(b) if idx.columns.contains("batch_id") =>
            idx.where(col("batch_id").isNull || col("batch_id") =!= b)
          case _ => idx
        }
        keyed.join(seen.select("__pmd5"), Seq("__pmd5"), "left_anti")
      } else keyed
    // within-batch keep-first on the fresh paragraphs (the batch core),
    // but totality over the FULL batch: a doc whose every paragraph was
    // seen before still gets its (empty) output row
    val rebuilt = paragraphDedupCore(fresh, keyed, idCol, posCol, paraCol)
      .localCheckpoint(true) // output BEFORE the append — see scaladoc
    fresh.select("__pmd5").distinct()
      .withColumn("batch_id",
        batchId.map(lit(_)).getOrElse(lit(null)).cast("long"))
      .write.mode(SaveMode.Append).parquet(idxDir.toString)
    keyed.unpersist(blocking = false)
    rebuilt
  }

  /** Word n-gram shingles of normalized text, deduplicated. TOTAL:
    * short docs AND null/untokenizable text yield an empty array (the
    * coalesce restores the pre-WordNgrams contract — the expression
    * itself propagates a null token array as null). */
  def shingles(text: Column, n: Int = 3): Column =
    // codegen'd window join (graft.expr.WordNgrams); the HOF
    // formulation it replaced ran an interpreted concat_ws lambda per
    // gram per row, the hot line of every shingle-fed operator
    coalesce(
      array_distinct(graft.expr.WordNgrams.wordNgrams(
        TextOps.tokens(lower(text)), n)),
      array().cast("array<string>"))

  /** 64-bit hashes of the shingle set — computed ONCE per doc and fed
    * to both the MinHash signature and the Jaccard verifier (long-array
    * set ops are far cheaper than string-array ones; a 64-bit collision
    * inside one pair's union is ~2⁻⁶⁵, so Jaccard counts are unchanged).
    * One codegen'd pass ([[graft.expr.HashedShingles]]): per-token
    * hashes chained per window, sorted distinct — no shingle strings
    * are ever built. */
  def hashedShingles(text: Column, n: Int = 3): Column =
    graft.expr.HashedShingles.hashedShingles(TextOps.tokens(lower(text)), n)

  /** Signature + band keys fused in one codegen'd pass
    * ([[graft.expr.MinHashBands]]) — immune to project-collapse
    * signature re-inlining; the per-row cost is k×|shingles| + bands×r
    * no matter how the plan rewrites. */
  def minhashBands(hashCol: Column, k: Int = 16, bands: Int = 4): Column =
    graft.expr.MinHashBands.minhashBands(hashCol, k, bands)

  /** Candidates from a precomputed (id, hashed-shingles) frame. The
    * band frame is persisted while the bucket self-join runs (Catalyst's
    * project-collapse would otherwise inline the shingle expression into
    * each of the k min-hash expressions, recomputing tokenization k× per
    * row — measured 20× slowdown at sf0.1), then released: the (small)
    * candidate-pair result is materialized eagerly and the cache entry
    * dropped, so the function owns its cache lifetime. */
  def minhashCandidatesFromShingles(withSh: DataFrame, k: Int = 16, bands: Int = 4): DataFrame = {
    val sig = withSh
      .where(size(col("sh")) > 0)
      .select(col("id"), posexplode(minhashBands(col("sh"), k, bands)).as(Seq("band", "bkey")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val a = sig.as("a")
      val b = sig.as("b")
      a.join(b, col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.id") < col("b.id"))
        .select(col("a.id").as("id1"), col("b.id").as("id2"))
        .distinct()
        .localCheckpoint(true)
    } finally sig.unpersist(blocking = false)
  }

  /** Load-time covering assertion for a banded near-dup result (the
    * r18 SF-constant audit): bounds the EXPECTED number of true pairs
    * the banding missed, from the MEASURED verified-pair count, and
    * fails loudly when a pinned (r, bands) config stops covering at
    * the corpus size actually probed — the probabilistic analogue of
    * the `shortlist = ceil(|corpus|/k)` derivation (the r17 lesson:
    * covering assumptions tuned to one SF rot silently at the first
    * scaled run; this converts that rot into a red).
    *
    * Math: a true pair at similarity j escapes every band with
    * probability mᵢ = (1 − jᵢʳ)ᵇ, so E[missed] ≤ Σ_true mᵢ. The true
    * set is unobservable, but each true pair lands in `pairs` with
    * probability 1 − mᵢ, so E[Σ_found mᵢ] ≥ (1 − m_max)·Σ_true mᵢ with
    * m_max = (1 − tʳ)ᵇ — i.e. E[missed] ≤ Σ_found mᵢ / (1 − m_max), a
    * bound computed purely from the RESULT's own jaccard column. It
    * scales with the data (pairs hugging the threshold tighten it,
    * high-j dup clusters barely move it: measured 1.0e-4 at the 10×
    * sf1-equivalent corpus vs the 2.6e-2 worst-case-at-threshold
    * bound) at the cost of one agg over an already-materialized frame.
    * The default budget (10⁻² expected missed pairs) keeps a gate's
    * oracle-exactness claim honest: a config passing it produces the
    * brute-force pair set except with probability ≤ ~1 %. */
  def requireBandRecall(pairs: DataFrame, threshold: Double, r: Int,
      bands: Int, budget: Double = 1e-2, context: String = "banded dedup"): Unit = {
    val mMax = math.pow(1 - math.pow(threshold, r), bands)
    val row = pairs.agg(
      sum(pow(lit(1.0) - pow(col("jaccard"), r), bands)), count(lit(1))).first()
    val sumMiss = if (row.isNullAt(0)) 0.0 else row.getDouble(0)
    val expectedMissed = sumMiss / (1 - mMax)
    require(expectedMissed <= budget,
      f"$context: band config (r=$r, bands=$bands) no longer covers at " +
        f"this corpus size — ${row.getLong(1)} verified pairs imply " +
        f"expected missed pairs $expectedMissed%.2e > budget $budget%.0e; " +
        "raise bands (k = r·bands)")
  }

  /** Exact Jaccard similarity between two docs' shingle arrays
    * (generic element type; hash-set based). */
  def jaccard(sh1: Column, sh2: Column): Column = {
    val inter = size(array_intersect(sh1, sh2)).cast("double")
    val union = (size(sh1) + size(sh2)).cast("double") - inter
    when(union > 0, inter / union).otherwise(0.0)
  }

  /** Exact Jaccard over sorted hashed shingles — the codegen'd merge
    * loop ([[graft.expr.JaccardSorted]]); use with [[hashedShingles]]. */
  def jaccardSorted(sh1: Column, sh2: Column): Column =
    graft.expr.JaccardSorted.jaccardSorted(sh1, sh2)

  /** MinHash-LSH near-dup pairs, verified with exact Jaccard ≥
    * threshold. The verify join touches only candidate pairs.
    *
    * `materialize = false` skips the FINAL eager checkpoint so the
    * verify-attach joins stay visible for plan inspection (candidate
    * generation is still eager internally, and the returned plan
    * re-derives shingles past the released cache — the inspection
    * path, not the production one). */
  def minhashNearDups(df: DataFrame, threshold: Double, n: Int = 3,
      k: Int = 16, bands: Int = 4, materialize: Boolean = true): DataFrame = {
    // hash-shingle once, persist: reused by the signature pass and both
    // sides of the verify join (4 evaluations otherwise); released after
    // the verified pairs are eagerly materialized — no session-lifetime
    // cache accumulation across repeated calls.
    val withSh = df.select(col("id"), hashedShingles(col("text"), n).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // Same verify-attach rule as Similarity.cosineNearDupsBucketed:
      // a shuffle join re-partitions the candidate stream per attach
      // and the SECOND attach drags sh1 arrays (~8·|shingles| bytes a
      // row) through the wire — candidates × ~1 KB at soak scale. When
      // the whole (id, shingles) frame fits a broadcast, both attaches
      // become map-side probes and candidates never shuffle; past that,
      // shuffle_hash at least keeps the fat stream unsorted. One cheap
      // agg over the already-persisted frame decides.
      val stats = withSh.agg(count(lit(1)), sum(size(col("sh")))).first()
      val shBytes =
        (if (stats.isNullAt(1)) 0L else stats.getLong(1)) * 8L + stats.getLong(0) * 48L
      val maxBcast = Tuning.attachBroadcastBytes(df.sparkSession)
      def attach(side: String, as: String): DataFrame = {
        val v = withSh.select(col("id").as(side), col("sh").as(as))
        if (shBytes <= maxBcast) broadcast(v) else v.hint("shuffle_hash")
      }
      val cands = minhashCandidatesFromShingles(withSh, k, bands)
      val verified = cands
        .join(attach("id1", "sh1"), Seq("id1"))
        .join(attach("id2", "sh2"), Seq("id2"))
        // provable prefilter: jaccard = |∩|/|∪| ≤ min/max of the set
        // sizes, so any pair failing the size-ratio test cannot reach
        // the threshold — skip the sorted-merge for it (at aggressive
        // band settings false-positive candidates dominate; this drops
        // them at size-compare cost)
        .where(size(col("sh1")).cast("double") >= lit(threshold) * size(col("sh2")) &&
          size(col("sh2")).cast("double") >= lit(threshold) * size(col("sh1")))
        .withColumn("jaccard", jaccardSorted(col("sh1"), col("sh2")))
        .where(col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
      if (materialize) verified.localCheckpoint(true) else verified
    } finally withSh.unpersist(blocking = false)
  }

  /** Connected components over near-duplicate pairs — the final dedup
    * stage: each doc gets its cluster's minimum id as the component
    * (= the canonical keeper). Iterative min-label propagation; each
    * round is one join+aggregate, rounds bounded by component diameter
    * (near-dup clusters are shallow — a handful of rounds in practice;
    * `maxIter` caps pathological chains).
    *
    * @param pairs (id1, id2) undirected near-dup edges
    * @return (id, component) for every id that appears in a pair
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
      roundsOut: java.util.function.IntConsumer = null): DataFrame = {
    val spark = pairs.sparkSession
    val edges = pairs.select(col("id1").as("a"), col("id2").as("b"))
      .unionByName(pairs.select(col("id2").as("a"), col("id1").as("b")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // localCheckpoint truncates lineage each round — the iterative plan
    // otherwise doubles per iteration (labels feeds both the neighbor
    // join and the merge) and analysis blows up exponentially
    var labels = edges.groupBy(col("a").as("id"))
      .agg(least(min(col("b")), first(col("a"))).as("component"))
      .localCheckpoint(true)
    var changed = true
    var iter = 0
    while (changed && iter < maxIter) {
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("id", "b").withColumnRenamed("component", "nc"), Seq("b"))
        .groupBy(col("a").as("id")).agg(min(col("nc")).as("nc"))
      // the changed flag rides inside the checkpointed frame, so
      // convergence detection is a filter over already-materialized
      // rows — not an extra labels⋈labels job per round
      val next = labels.join(viaNeighbors, Seq("id"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("nc"), col("component"))).as("component"),
          coalesce(col("nc") < col("component"), lit(false)).as("__chg"))
        .localCheckpoint(true)
      changed = next.where(col("__chg")).limit(1).count() > 0
      labels = next.drop("__chg")
      iter += 1
    }
    edges.unpersist(blocking = false)
    // label-propagation rounds ≈ graph diameter: the superlinear risk
    // a scale soak watches (chains of near-dups deepen components)
    if (roundsOut != null) roundsOut.accept(iter)
    labels
  }

  /** Filter a corpus to its near-dup cluster representatives: drop
    * every doc whose component id is a different (smaller) doc — the
    * end product of the dedup pipeline. Docs in no pair pass through. */
  def keepCanonical(docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val losers = connectedComponents(pairs)
      .where(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** 64-bit SimHash over distinct tokens: per bit, sum ±1 across token
    * hashes; sign → bit. One codegen'd pass ([[graft.expr.SimHash64]]). */
  def simhash(text: Column): Column =
    graft.expr.SimHash64.simhash64(array_distinct(TextOps.tokens(lower(text))))

  /** Engine-portable 60-bit token hash: the first 15 hex chars of md5 —
    * reproducible in any SQL engine (`('0x'||substr(md5(t),1,15))::bigint`
    * in DuckDB), unlike xxhash64. 60 bits keeps the value positive in a
    * signed 64-bit int so `>>` sees identical bits everywhere. */
  def md5Hash60(tok: Column): Column =
    conv(substring(md5(tok), 1, 15), 16, 10).cast("long")

  /** SimHash over [[md5Hash60]] token hashes — same algorithm as
    * [[simhash]] but oracle-checkable outside Spark (the xxhash64 form
    * is faster; this one exists so the verified near-dup output can be
    * cross-checked against an independent engine). Bits 60–63 are
    * constant 0 (the hash is 60-bit), which shifts no Hamming
    * distances. */
  def simhashPortable(text: Column): Column =
    graft.expr.SimHash64.simhash64(
      transform(array_distinct(TextOps.tokens(lower(text))), md5Hash60(_)))

  /** Hamming distance between two 64-bit simhashes. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  // ---- persisted LSH band index: dedup an increment against a corpus
  //      without touching corpus pairs ------------------------------------

  /** Build (or extend, `SaveMode.Append`) the persisted near-dup index
    * of a corpus at `path`: `buckets/` holds one (band, bkey, id) row
    * per band — the candidate-join side — and `shingles/` one (id, sh)
    * row per doc for verification. Stored separately so the shingle
    * arrays exist ONCE per doc (embedding them in bucket rows would
    * store them bands×). Bucket rows are range-laid-out and sorted on
    * (band, bkey): compaction- and merge-friendly, and readers that
    * skip on literal key predicates prune files (a Spark JOIN probe
    * reads the whole — narrow, three-column — bucket table; min/max
    * skipping applies to literal predicates only). The load-bearing
    * property either way: corpus TEXT is never re-read by an increment.
    *
    * The (n, k, bands) configuration is part of the INDEX IDENTITY:
    * band keys are only comparable under the same shingle width and
    * banding, so every increment (and every probe) must pass the values
    * the index was built with — never a per-batch size-derived config,
    * which changes as the corpus grows. Pick the config for the
    * corpus's TARGET size once, at build time.
    *
    * This is the daily-increment topology at 100 TB: the corpus is
    * indexed once, each new batch joins its own band keys against the
    * index (≈ |batch| × bands bucket probes), and the corpus text is
    * never re-read. */
  def buildBandIndex(df: DataFrame, path: String, n: Int = 3, k: Int = 16,
      bands: Int = 4, mode: SaveMode = SaveMode.Overwrite): Unit = {
    if (mode == SaveMode.Append) {
      IndexMaintenance.guardAppend(df.sparkSession, s"$path/buckets")
      IndexMaintenance.guardAppend(df.sparkSession, s"$path/shingles")
    }
    val withSh = df.select(col("id"), hashedShingles(col("text"), n).as("sh"))
      .where(size(col("sh")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the banded rows are persisted too (the buildChunkIndex stance):
    // repartitionByRange SAMPLES its child to pick boundaries, which
    // would otherwise run the k×bands MinHash banding — the single
    // heaviest per-row cost of a build — twice (sampling job + shuffle
    // job). The cached frame is narrow (id, band, bkey) — bands rows
    // per doc, no text, no shingle arrays.
    val banded = withSh
      .select(col("id"), posexplode(minhashBands(col("sh"), k, bands)).as(Seq("band", "bkey")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      banded
        .repartitionByRange(col("band"), col("bkey"))
        .sortWithinPartitions("band", "bkey")
        .write.mode(mode).option("compression", "zstd").parquet(s"$path/buckets")
      withSh.write.mode(mode).option("compression", "zstd").parquet(s"$path/shingles")
    } finally {
      banded.unpersist(blocking = false)
      withSh.unpersist(blocking = false)
    }
  }

  /** Near-dup pairs of `newDocs` against an indexed corpus AND within
    * the batch itself, exact-Jaccard-verified: (id1 = new doc,
    * id2 = matched doc — indexed or batch, id1 ≠ id2; batch-internal
    * pairs appear once with id1 < id2). The index side is only probed
    * on the increment's band keys; corpus-corpus pairs are never
    * formed. Use [[buildBandIndex]] with `SaveMode.Append` afterwards
    * to fold the increment into the index. */
  def incrementalNearDups(newDocs: DataFrame, indexPath: String,
      threshold: Double, n: Int = 3, k: Int = 16, bands: Int = 4): DataFrame = {
    val spark = newDocs.sparkSession
    val newSh = newDocs.select(col("id"), hashedShingles(col("text"), n).as("sh"))
      .where(size(col("sh")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val newBands = newSh
        .select(col("id").as("id1"), col("sh").as("sh1"),
          posexplode(minhashBands(col("sh"), k, bands)).as(Seq("band", "bkey")))
      val buckets = spark.read.parquet(s"$indexPath/buckets")
      // parquet loses the containsNull=false flag the codegen'd Jaccard
      // merge requires; array_compact re-asserts it (no nulls exist —
      // the arrays were written from a non-null-element expression)
      val oldSh = spark.read.parquet(s"$indexPath/shingles")
        .select(col("id"), array_compact(col("sh")).as("sh"))
      val vsIndex = newBands
        .join(buckets, Seq("band", "bkey"))
        .where(col("id1") =!= col("id"))
        .select(col("id1"), col("sh1"), col("id").as("id2"))
        .distinct()
        .join(oldSh.select(col("id").as("id2"), col("sh").as("sh2")), Seq("id2"))
        .where(size(col("sh1")).cast("double") >= lit(threshold) * size(col("sh2")) &&
          size(col("sh2")).cast("double") >= lit(threshold) * size(col("sh1")))
        .withColumn("jaccard", jaccardSorted(col("sh1"), col("sh2")))
        .where(col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
      // batch-internal pairs from the SAME cached shingle frame —
      // calling minhashNearDups(newDocs) here would re-shingle and
      // re-persist a second identical copy of the increment
      val inBatch = minhashCandidatesFromShingles(newSh, k, bands)
        .join(newSh.select(col("id").as("id1"), col("sh").as("sh1")), Seq("id1"))
        .join(newSh.select(col("id").as("id2"), col("sh").as("sh2")), Seq("id2"))
        .where(size(col("sh1")).cast("double") >= lit(threshold) * size(col("sh2")) &&
          size(col("sh2")).cast("double") >= lit(threshold) * size(col("sh1")))
        .withColumn("jaccard", jaccardSorted(col("sh1"), col("sh2")))
        .where(col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
      vsIndex.unionByName(inBatch).distinct()
        .localCheckpoint(true) // pairs are small; release newSh promptly
    } finally newSh.unpersist(blocking = false)
  }

  /** DELETE/takedown propagation — remove documents from a persisted
    * band index without a rebuild (the inverse lifecycle verb to the
    * [[buildBandIndex]] Append): anti-join strips of `buckets/` (the
    * candidate side — removing these rows is what stops the ids
    * matching future increments) and then `shingles/` (the verify
    * side — its dangling rows are semantically inert once no bucket
    * row references the id, so this order leaves every intermediate
    * state correct). Both via [[IndexMaintenance.rewriteExcludingKeys]]
    * (staged-rename swap; the buckets rewrite preserves the
    * range-laid-out (band, bkey) sort [[buildBandIndex]] establishes).
    * Membership/candidate-set semantics make the removal naturally
    * idempotent and exact: the stripped index is row-identical to one
    * built over the survivors under the same (n, k, bands) config
    * (DedupSpec pins probe-result equality). Unknown ids are no-ops.
    *
    * `checkpoint` (pass it whenever a stream maintains this index)
    * arms the streaming-replay guard
    * ([[IndexMaintenance.requireBatchesCommitted]]): band-index rows
    * carry no batch stamps, so the guard is the coarse QUIESCENCE
    * form — it refuses while any started batch at that checkpoint has
    * not committed, because an uncommitted batch's replay would
    * re-append whatever of these rows it originally wrote. */
  def removeFromBandIndex(spark: SparkSession, path: String,
      ids: DataFrame, checkpoint: Option[String] = None): Unit = {
    checkpoint.foreach { cp =>
      // heal a torn compaction swap BEFORE the guard's read — the
      // strip below would heal it anyway, but the guard reads first
      IndexMaintenance.guardAppend(spark, s"$path/buckets")
      IndexMaintenance.requireBatchesCommitted(
        spark, spark.read.parquet(s"$path/buckets"), cp,
        s"Dedup.removeFromBandIndex($path)")
    }
    IndexMaintenance.rewriteExcludingKeys(spark, s"$path/buckets",
      ids.select(col("id")), "id", rangeSortCols = Seq("band", "bkey"))
    IndexMaintenance.rewriteExcludingKeys(spark, s"$path/shingles",
      ids.select(col("id")), "id")
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxDist, candidates
    * via 16-bit chunk banding (any chunk equal → candidate; complete
    * for maxDist ≤ 3 by pigeonhole). `sim` picks the simhash variant
    * (default: the fast xxhash64 one; [[simhashPortable]] for
    * cross-engine-verifiable output). */
  def simhashNearDups(df: DataFrame, maxDist: Int = 3,
      sim: Column => Column = simhash): DataFrame = {
    // fingerprint ONCE: the banded self-join otherwise duplicates the
    // scan subtree and recomputes the per-token hashing + simhash on
    // BOTH sides (the r18 before-plan showed two full corpus passes).
    // The materialized frame is (id, 64-bit sh) — 16 bytes/doc, the
    // "shuffle fingerprints, never text" posture at any scale.
    val sh = df.select(col("id"), sim(col("text")).as("sh"))
      .localCheckpoint(true)
    val banded = sh.select(col("id"), col("sh"),
      posexplode(array((0 until 4).map(i =>
        shiftright(col("sh"), i * 16).bitwiseAND(0xffffL)): _*)).as(Seq("band", "chunk")))
    val a = banded.as("a")
    val b = banded.as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.chunk") === col("b.chunk") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        hamming(col("a.sh"), col("b.sh")).as("dist"))
      .distinct()
      .where(col("dist") <= maxDist)
  }

  /** MD5 hashes of the NON-OVERLAPPING width-char chunks of `text`
    * (full-width chunks only; a doc shorter than `width` has none).
    * Hashing 16 bytes per chunk instead of carrying the substring is
    * the 100 TB pattern — the shuffle key is fixed-width. */
  def chunkHashes(text: Column, width: Int): Column =
    when(length(text) >= width,
      transform(sequence(lit(1), length(text) - (width - 1), lit(width)),
        p => md5(text.substr(p, lit(width)))))
      .otherwise(array().cast("array<string>"))

  /** Exact substring-duplication profile, chunk-granular — the
    * scalable form of "dedup repeated long substrings" from Lee et al.
    * 2022 (arXiv:2107.06499, "Deduplicating Training Data Makes
    * Language Models Better"): a chunk is DUPLICATED when its exact
    * bytes occur in ≥ `minDocs` distinct documents; each doc reports
    * how much of it is made of duplicated chunks.
    *
    * Two passes over the chunk stream (find duplicated hashes; re-score
    * docs against them), both shuffling on the 16-byte chunk hash only
    * — never on text, never pairwise. The duplicated-hash set is
    * usually small (tracks the amount of boilerplate, not corpus
    * size), so AQE turns the re-attach join into a broadcast.
    *
    * @return (idCol, n_chunks, n_dup_chunks, dup_frac) — docs shorter
    *         than `width` are absent (no chunks to score)
    */
  def substringDupProfile(docs: DataFrame, width: Int = 30,
      idCol: String = "doc_id", textCol: String = "text",
      minDocs: Int = 2): DataFrame = {
    Reserved.requireAbsent("substringDupProfile", Seq("__h", "__nd", "__dup"), docs)
    val chunks = chunkStream(docs, width, idCol, textCol)
    val dup = chunks
      .groupBy("__h").agg(countDistinct(col(idCol)).as("__nd"))
      .where(col("__nd") >= minDocs)
      .select(col("__h")).withColumn("__dup", lit(1L))
    profileFromChunks(chunks, dup, idCol)
  }

  /** Lee et al. 2022's REMOVAL step, chunk-granular: rebuild each doc's
    * text WITHOUT its duplicated chunks (the profile above only scores
    * them). A chunk is removed when its exact bytes occur in ≥ `minDocs`
    * distinct docs; survivors are re-concatenated in original order and
    * the sub-width tail (never hashed, never comparable) is always
    * kept. Totality: every doc keeps a row — docs shorter than `width`
    * have no chunks and pass through untouched; a doc whose every chunk
    * was duplicated survives as just its tail.
    *
    * Scale shape matches the profile: both shuffles ride the 16-byte
    * chunk hash, the duplicated-hash set is small (boilerplate-sized)
    * so the anti-join broadcasts under AQE, and reassembly is one
    * per-doc aggregation. The rebuild concatenation is an interpreted
    * `aggregate` lambda but over ~len/width elements per row — not a
    * per-token hot loop. Like the profile, this makes TWO passes over
    * the chunk stream (dup-set build, then the anti-join) and re-hashes
    * chunks on the second — deliberate: persisting a corpus-sized
    * chunk stream to save one md5 pass is a worse trade at 100 TB than
    * recomputing it (same stance as `substringDupProfile`'s documented
    * two passes).
    *
    * @return (idCol, n_chunks, n_removed, clean_text) */
  def removeDupChunks(docs: DataFrame, width: Int = 30,
      idCol: String = "doc_id", textCol: String = "text",
      minDocs: Int = 2): DataFrame = {
    Reserved.requireAbsent("removeDupChunks",
      Seq("__h", "__ci", "__nd", "__keep"), docs)
    val indexed = docs.where(length(col(textCol)) >= width)
      .select(col(idCol),
        posexplode(chunkHashes(col(textCol), width)).as(Seq("__ci", "__h")))
    val dup = indexed.groupBy("__h")
      .agg(countDistinct(col(idCol)).as("__nd"))
      .where(col("__nd") >= minDocs).select("__h")
    val keep = indexed.join(dup, Seq("__h"), "left_anti")
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("__ci"))).as("__keep"))
    val text = col(textCol)
    val nch = when(length(text) >= width,
      floor((length(text) - lit(width)) / lit(width)).cast("int") + 1)
      .otherwise(lit(0))
    val keptIdx = coalesce(col("__keep"), array().cast("array<int>"))
    val body = aggregate(keptIdx, lit(""),
      (acc, i) => concat(acc, text.substr(i * lit(width) + 1, lit(width))))
    val tail = text.substr(col("n_chunks") * lit(width) + 1, length(text))
    docs.join(keep, Seq(idCol), "left")
      .withColumn("n_chunks", nch)
      .select(col(idCol), col("n_chunks"),
        (col("n_chunks") - size(keptIdx)).cast("long").as("n_removed"),
        when(col("n_chunks") === 0, text)
          .otherwise(concat(body, tail)).as("clean_text"))
  }

  /** One (id, `__h`) row per full-width chunk of each doc — the single
    * definition of the chunk cut shared by the one-shot profile, the
    * index build, and the increment probe (the three must agree or
    * index hashes stop matching probe hashes). */
  private def chunkStream(docs: DataFrame, width: Int,
      idCol: String, textCol: String): DataFrame =
    docs.where(length(col(textCol)) >= width)
      .select(col(idCol), explode(chunkHashes(col(textCol), width)).as("__h"))

  /** The shared per-doc scoring tail: attach the duplicated-hash set
    * (`__h`, `__dup`=1) to the chunk stream and roll up counts — the
    * oracle-pinned output shape of both profile variants. */
  private def profileFromChunks(chunks: DataFrame, dup: DataFrame,
      idCol: String): DataFrame =
    chunks.join(dup, Seq("__h"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"),
        sum(coalesce(col("__dup"), lit(0L))).as("n_dup_chunks"))
      .withColumn("dup_frac",
        round(col("n_dup_chunks").cast("double") / col("n_chunks").cast("double"), 6))

  // ---- persisted chunk-hash index: substring-dup-score an increment
  //      against a corpus without re-reading corpus text ------------------

  /** Build (or extend, `SaveMode.Append`) the persisted chunk index for
    * substring-duplication scoring at `path`: `chunks/` holds one
    * (`__h`, `n_docs`) row per distinct chunk hash — how many distinct
    * docs contain that exact `width`-char chunk — range-laid-out and
    * sorted on the hash (compaction- and merge-friendly; engines whose
    * readers skip on literal key predicates also get file pruning).
    *
    * `SaveMode.Append` writes the increment's own per-hash counts as
    * additional rows; readers re-aggregate by summing, so doc ids must
    * be DISJOINT across increments (same contract as [[buildBandIndex]]
    * — re-ingesting a doc would double-count it). `width` is part of
    * the index identity — chunk hashes are only comparable at the width
    * they were cut at — so it is persisted in `meta/` at build and
    * VERIFIED on every Append and probe: a mismatch fails fast instead
    * of silently matching nothing. */
  def buildChunkIndex(docs: DataFrame, path: String, width: Int = 30,
      idCol: String = "doc_id", textCol: String = "text",
      mode: SaveMode = SaveMode.Overwrite): Unit = {
    val spark = docs.sparkSession
    if (mode == SaveMode.Append) {
      requireIndexWidth(spark, path, width, "append to")
      IndexMaintenance.guardAppend(spark, s"$path/chunks")
    }
    // persisted before the range layout: repartitionByRange SAMPLES its
    // child to pick boundaries, which would otherwise run the whole
    // chunk aggregation twice (sampling job + shuffle job) — the single
    // heaviest cost of a build. The cached frame is the narrow (hash,
    // count) table, whose size tracks distinct chunks, not corpus bytes.
    val counts = chunkStream(docs, width, idCol, textCol)
      .groupBy("__h").agg(countDistinct(col(idCol)).as("n_docs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try
      counts
        .repartitionByRange(col("__h"))
        .sortWithinPartitions("__h")
        .write.mode(mode).option("compression", "zstd").parquet(s"$path/chunks")
    finally counts.unpersist(blocking = false)
    if (mode != SaveMode.Append) {
      import spark.implicits._
      Seq(width).toDF("width").coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(s"$path/meta")
    }
  }

  /** DELETE/takedown propagation for the chunk index — the
    * [[Boilerplate.removeLineStats]] shape: the stored (hash, n_docs)
    * counts are distinct-doc counts over DISJOINT doc sets, so they
    * are additive and a removal appends NEGATED count rows recomputed
    * from the removed docs' TEXT (the index stores only counts — the
    * caller supplies the docs, exactly as previously indexed). Readers
    * sum per hash, so the decremented index profiles identically to a
    * one-shot build over the survivors (DedupSpec pins it; hashes
    * whose count reaches zero fall out of every ≥ minDocs threshold).
    * Same one-shot contract as the Append fold-in, inverted: remove
    * each doc exactly once — a blind re-run double-decrements.
    * `checkpoint` (when a stream maintains this index) arms the
    * quiescence form of
    * [[IndexMaintenance.requireBatchesCommitted]] — count rows carry
    * no batch stamps, and decrementing counts an uncommitted batch's
    * replay will re-add leaves the sums permanently wrong. */
  def removeFromChunkIndex(removedDocs: DataFrame, path: String,
      width: Int = 30, idCol: String = "doc_id",
      textCol: String = "text", checkpoint: Option[String] = None): Unit = {
    val spark = removedDocs.sparkSession
    requireIndexWidth(spark, path, width, "remove from")
    IndexMaintenance.guardAppend(spark, s"$path/chunks") // heal, THEN read
    checkpoint.foreach(cp => IndexMaintenance.requireBatchesCommitted(
      spark, spark.read.parquet(s"$path/chunks"), cp,
      s"Dedup.removeFromChunkIndex($path)"))
    chunkStream(removedDocs, width, idCol, textCol)
      .groupBy("__h").agg((-countDistinct(col(idCol))).as("n_docs"))
      .repartitionByRange(col("__h"))
      .sortWithinPartitions("__h")
      .write.mode(SaveMode.Append).option("compression", "zstd")
      .parquet(s"$path/chunks")
  }

  private def requireIndexWidth(spark: SparkSession, path: String,
      width: Int, verb: String): Unit = {
    // writer-fixed one-column meta — stating the schema skips the
    // footer-inference job per probe
    val stored = spark.read.schema("width INT")
      .parquet(s"$path/meta").select("width").head().getInt(0)
    require(stored == width,
      s"chunk index at $path was built with width=$stored; cannot $verb " +
        s"it with width=$width — chunk hashes are only comparable at the " +
        "width they were cut at")
  }

  /** [[substringDupProfile]] of `batch` against an indexed corpus PLUS
    * the batch itself: a chunk is duplicated when its exact bytes occur
    * in ≥ `minDocs` distinct documents across corpus ∪ batch — for
    * disjoint ids this equals the one-shot profile over the union,
    * restricted to batch docs (spec-pinned). Corpus TEXT is never
    * re-read: the probe touches only the (hash, count) index — a
    * narrow two-column scan whose size tracks distinct chunks, not
    * corpus bytes — and joins it against the batch's hashes BEFORE the
    * index-side aggregation, so only matching rows reach the sum that
    * re-merges Append-mode duplicate hash rows. (The scan itself reads
    * the whole narrow index: Spark's parquet min/max skipping applies
    * to literal predicates, not join probes.) Fold the batch in
    * afterwards with `buildChunkIndex(batch, path, mode = Append)`. */
  def substringDupProfileIncrement(batch: DataFrame, indexPath: String,
      width: Int = 30, idCol: String = "doc_id", textCol: String = "text",
      minDocs: Int = 2): DataFrame = {
    Reserved.requireAbsent("substringDupProfileIncrement",
      Seq("__h", "__nd", "__cnd", "__dup"), batch)
    val spark = batch.sparkSession
    requireIndexWidth(spark, indexPath, width, "probe")
    val chunks = chunkStream(batch, width, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // persisted: referenced by both the corpus probe and the dup join —
    // without it the countDistinct shuffle over the chunk stream runs
    // twice per call
    val batchCounts = chunks
      .groupBy("__h").agg(countDistinct(col(idCol)).as("__nd"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val corpusCounts = spark.read.parquet(s"$indexPath/chunks")
        .join(batchCounts.select("__h"), Seq("__h"))
        .groupBy("__h").agg(sum("n_docs").as("__cnd"))
      val dup = batchCounts
        .join(corpusCounts, Seq("__h"), "left")
        .where(col("__nd") + coalesce(col("__cnd"), lit(0L)) >= minDocs)
        .select(col("__h")).withColumn("__dup", lit(1L))
      // eager materialize: the returned frame must not re-derive the
      // cached chunk stream after the finally releases it
      profileFromChunks(chunks, dup, idCol).localCheckpoint(true)
    } finally {
      batchCounts.unpersist(blocking = false)
      chunks.unpersist(blocking = false)
    }
  }
}
