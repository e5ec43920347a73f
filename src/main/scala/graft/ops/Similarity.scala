package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`): exact
  * brute-force cosine top-k as the baseline, and an LSH-bucketed
  * (random-hyperplane) variant as the 100 TB path.
  *
  * Scale design: brute force is a broadcast of the (small) query set
  * against a full scan — one pass, no shuffle except the per-query
  * top-k; fine when queries are few. The LSH variant buckets both
  * sides on sign-pattern keys so each query only scans its bucket —
  * the standard approximate trade (recall < 1, cost ∝ bucket size).
  * All vector math is `zip_with`/`aggregate` expressions — codegen,
  * no UDFs, no driver collects.
  */
object Similarity {

  /** Dot product — the codegen'd [[graft.expr.DotProduct]] (a
    * `zip_with`+`aggregate` formulation is semantically identical but
    * interpreted per element, ~10× slower on brute-force scans). */
  def dot(a: Column, b: Column): Column = graft.expr.VectorExprs.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; 0 when either vector is all-zero. One fused
    * codegen pass over both arrays ([[graft.expr.CosineSim]]). */
  def cosine(a: Column, b: Column): Column = graft.expr.VectorExprs.cosine(a, b)

  private def asDouble(c: Column): Column = transform(c, _.cast("double"))

  /** Exact top-k nearest neighbours for each query vector.
    *
    * @param corpus  (id, embedding array<numeric>)
    * @param queries (qid, embedding) — must be small enough to broadcast
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = corpus.select(col("id"), asDouble(col("embedding")).as("vec"))
    val q = queries.select(col("qid"), asDouble(col("embedding")).as("qvec"))
    // spread a small (single-scan-partition) corpus so the
    // |corpus|×|queries| scoring doesn't run in one task; a corpus
    // already at the session's parallelism passes through untouched
    val scored = Tuning.spreadSmall(c).join(broadcast(q), col("id") =!= col("qid"))
      .withColumn("cosine", cosine(col("vec"), col("qvec")))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("qid", "id", "cosine", "rank")
  }

  /** Deterministic pseudo-random hyperplane component in [-1, 1],
    * derived from xxhash64-chained (table, bit, dim) — no training
    * step, reproducible across runs and machines. Package-visible for
    * the per-table reference composition in test sources. */
  private[ops] def planeComponent(table: Int, bit: Int, dim: Int): Double = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    var h = XXH64.hashLong(table.toLong, 42L)
    h = XXH64.hashLong(bit.toLong, h)
    h = XXH64.hashLong(dim.toLong, h)
    java.lang.Math.floorMod(h, 2001L).toDouble / 1000.0 - 1.0
  }

  /** All (table, bucket) keys for a vector — multi-table LSH raises
    * recall (a candidate only needs to collide in ONE table). One fused
    * compiled pass over a literal plane tensor
    * ([[graft.expr.LshKeys]]): the per-table column composition (one
    * or-reduced sign-bit column per table) is identical semantics but
    * nTables × nBits separate dot-product nodes — measured ~40 s per
    * 100 k-vector keying pass in the r5 soak, paid per self-join
    * branch (pinned equal to the composition in SimilaritySpec).
    * nBits = 0 falls out naturally: zero planes per table → every
    * bucket 0 (full coverage). */
  private def lshKeys(vec: Column, nBits: Int, nTables: Int, dim: Int): Column =
    graft.expr.LshKeys.lshKeys(vec,
      Array.tabulate(nTables, nBits, dim)((t, b, d) => planeComponent(t, b, d)))

  /** Approximate top-k: candidates restricted to LSH bucket collisions
    * in any of `nTables` tables, then exact cosine rank. Cost per query
    * ∝ Σ bucket sizes instead of corpus size — the 100 TB trade.
    * `nBits < 0` (default) auto-sizes to ⌈log2(n)⌉ − 6 clamped to
    * [4, 16] — same policy as [[cosineNearDupsBucketed]], keeping
    * buckets ~64 vectors at any corpus size (the 40× soak showed fixed
    * 8 bits growing per-query cost ∝ n: 13 s → 41 s for 2× data).
    * `nBits = 0` → one bucket per table: the candidate set covers the
    * whole corpus and the exact-cosine rank makes the output provably
    * equal to [[bruteForceTopK]] (pinned in SimilaritySpec; the gate's
    * oracle-exact configuration). */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nBits: Int = -1, nTables: Int = 8): DataFrame = {
    // hyperplanes are literal arrays, so the vector dimensionality is
    // needed up front: one O(1) limit-1 probe (empty corpus → empty
    // result with the right shape). The corpus COUNT is only paid when
    // auto-sizing actually needs it — an explicit nBits (the gates'
    // full-coverage 0, the recall specs' 4) must not cost a corpus pass.
    val dimOpt = corpus.where(col("embedding").isNotNull)
      .select(size(col("embedding"))).limit(1).collect()
      .headOption.map(_.getInt(0))
    if (dimOpt.isEmpty) {
      return corpus.select(col("id").as("qid"), col("id"),
        lit(0.0).as("cosine"), lit(0).as("rank")).limit(0)
    }
    val dim = dimOpt.get
    val effBits =
      if (nBits >= 0) nBits
      else {
        val n = math.max(1L, corpus.count())
        // same envelope as the near-dup paths: past ~4.2M vectors the
        // 16-bit cap stops holding bucket size flat — warn, or fail
        // fast under spark.graft.lsh.strictEnvelope (lshTopK has no
        // maxBucket guard, so the breach always announces)
        enforceEnvelope(strictEnvelope(corpus.sparkSession), nBits, n, 0)
        autoBits(nBits, n)
      }
    val c = corpus.select(col("id"), asDouble(col("embedding")).as("vec"))
      .select(col("id"), col("vec"), explode(lshKeys(col("vec"), effBits, nTables, dim)).as("tb"))
    val q = queries.select(col("qid"), asDouble(col("embedding")).as("qvec"))
      .select(col("qid"), col("qvec"), explode(lshKeys(col("qvec"), effBits, nTables, dim)).as("tb"))
    val cands = c.join(broadcast(q), Seq("tb"))
      .where(col("id") =!= col("qid"))
      .select("qid", "qvec", "id", "vec")
      .dropDuplicates("qid", "id") // collided in ≥1 table
    val scored = cands.withColumn("cosine", cosine(col("vec"), col("qvec")))
    val w = Window.partitionBy("qid").orderBy(col("cosine").desc, col("id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("qid", "id", "cosine", "rank")
  }

  /** All embedding near-duplicate pairs (id1 < id2) with cosine ≥
    * threshold — brute force n²: the bounded verification baseline and
    * the oracle-checked form; [[cosineNearDupsBucketed]] is the scale
    * path. */
  def cosineNearDups(corpus: DataFrame, threshold: Double): DataFrame = {
    val a = corpus.select(col("id").as("id1"), asDouble(col("embedding")).as("v1"))
    val b = corpus.select(col("id").as("id2"), asDouble(col("embedding")).as("v2"))
    a.join(b, col("id1") < col("id2"))
      .withColumn("cosine", cosine(col("v1"), col("v2")))
      .where(col("cosine") >= threshold)
      .select("id1", "id2", "cosine")
  }

  /** One probe pass shared by the bucketed paths: row count + embedding
    * dim. Dim is None when the corpus is empty OR the embedding column
    * holds no non-null value — both mean "nothing to bucket" and the
    * callers return a typed empty result instead of NPEing on a null
    * dim. */
  private def corpusProbe(corpus: DataFrame): (Long, Option[Int]) = {
    val r = corpus
      .agg(count(lit(1)), first(size(col("embedding")), ignoreNulls = true)).first()
    (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getInt(1)))
  }

  /** The shared auto-sizing policy: ⌈log2 n⌉ − 6 clamped to [4, 16] —
    * buckets stay ~64 vectors at any corpus size (soak-derived; see
    * [[cosineNearDupsBucketed]]). An explicit nBits ≥ 0 wins.
    *
    * Envelope: the 16-bit cap is reached at n ≈ 2²² ≈ 4 M vectors;
    * past it mean bucket size — and with it per-bucket candidate
    * noise — grows ∝ n again (measured linear to 400 k, the largest
    * clean point this box's disk allows). Beyond ~4 M,
    * raise the cap explicitly (recall per table falls as bits rise —
    * compensate with nTables) or set `maxBucket` to bound the noise
    * with the documented graceful recall trade. */
  private def autoBits(nBits: Int, n: Long): Int =
    if (nBits >= 0) nBits
    else math.max(4, math.min(16,
      (math.log(math.max(1L, n).toDouble) / math.log(2)).ceil.toInt - 6))

  /** The corpus size past which [[autoBits]]'s 16-bit cap stops holding
    * bucket size flat: 2^(16+6) ≈ 4.2 M vectors. */
  private[ops] val autoBitsEnvelope: Long = 1L << 22

  /** Announces the auto-sizing cliff instead of letting it be
    * discovered: returns the one-line warning to emit when the caller
    * relies on autoBits (nBits < 0), has no bucket-size guard
    * (maxBucket ≤ 0), and the corpus is past the ~4.2 M-vector envelope
    * where mean bucket size — and per-bucket candidate noise — resumes
    * growing ∝ n. Pure function so the trigger condition is spec-pinned
    * (SimilaritySpec); call sites print it to stderr once per run. */
  private[ops] def envelopeWarning(nBits: Int, n: Long, maxBucket: Int): Option[String] =
    if (nBits < 0 && maxBucket <= 0 && n > autoBitsEnvelope)
      Some(s"[graft] autoBits: corpus has $n vectors, past the ~4.2M envelope of the " +
        "16-bit cap — bucket size now grows with n. Set nBits explicitly " +
        "(raise nTables to hold recall) or set maxBucket to bound candidate noise.")
    else None

  /** Session conf for the envelope's STRICT mode: at 100 TB a stderr
    * line is never read, so `spark.graft.lsh.strictEnvelope=true` makes
    * an envelope breach fail fast at plan time with the same message
    * (plus the remediation already in it) instead of printing. Opt-in:
    * the default stays warn-and-proceed — a breach degrades cost, not
    * correctness, and a pipeline author may accept it knowingly. */
  private[ops] val strictEnvelopeKey = "spark.graft.lsh.strictEnvelope"

  private def strictEnvelope(s: SparkSession): Boolean =
    s.conf.getOption(strictEnvelopeKey).contains("true")

  /** Warn (default) or throw (strict) on an autoBits envelope breach.
    * Pure decision logic ([[envelopeWarning]]) + pinned dispatch
    * (SimilaritySpec covers both modes). */
  private[ops] def enforceEnvelope(strict: Boolean, nBits: Int, n: Long,
      maxBucket: Int): Unit =
    envelopeWarning(nBits, n, maxBucket).foreach { msg =>
      if (strict) throw new IllegalStateException(
        msg + s" ($strictEnvelopeKey=true: failing fast instead of warning)")
      else System.err.println(msg)
    }

  /** Bucket-collision candidate pairs, optionally dropping oversized
    * buckets. The candidate join is NARROW — only (bucket, id) rides
    * the shuffle; vectors are joined back later for verification.
    *
    * `maxBucket > 0` drops every (table, bucket) holding more than
    * `maxBucket` vectors BEFORE the self-join — the standard LSH
    * "stop bucket" guard: a degenerate hyperplane region (all-near-zero
    * dims, heavy natural skew) otherwise contributes O(bucket²)
    * candidate pairs on its own. Pairs lost this way can still collide
    * in any other table, so recall degrades gracefully with nTables
    * (pinned in SimilaritySpec); the oversized-bucket list is tiny by
    * construction (≤ n/maxBucket entries), so the anti-join broadcasts. */
  private def bucketCandidates(vecs: DataFrame, bits: Int, nTables: Int,
      dim: Int, maxBucket: Int): DataFrame = {
    val keyedAll = vecs.select(col("id"),
      explode(lshKeys(col("vec"), bits, nTables, dim)).as("tb"))
    val keyed =
      if (maxBucket <= 0) keyedAll
      else {
        // materialize the (tiny — ≤ n/maxBucket rows) oversized list
        // eagerly so the keying pass behind it runs ONCE, not again per
        // self-join branch that references the anti-join (costs one
        // eager action even on otherwise-lazy plans; capped callers
        // accept that for not paying keying 4×)
        val oversized = keyedAll.groupBy("tb").count()
          .where(col("count") > maxBucket).select("tb")
          .localCheckpoint(true)
        keyedAll.join(broadcast(oversized), Seq("tb"), "left_anti")
      }
    keyed.select(col("tb"), col("id").as("id1"))
      .join(keyed.select(col("tb"), col("id").as("id2")), Seq("tb"))
      .where(col("id1") < col("id2"))
      .select("id1", "id2")
      .distinct() // collided in ≥1 surviving table; verify once
  }

  /** LSH-bucketed embedding near-dups: candidates from hyperplane
    * bucket collisions (any of `nTables` tables), then EXACT cosine
    * verification — the same candidates→verify shape as
    * [[Dedup.minhashNearDups]]. Returned pairs are always a subset of
    * the brute-force set with identical cosines; recall rises with
    * `nTables` (pinned vs brute force in SimilaritySpec). Cost ∝
    * Σ bucket-pair sizes, never n² — the 100 TB path.
    *
    * Tunables: recall and cost both rise with `nTables` and fall with
    * `nBits` (buckets hold ~n/2^nBits vectors). `nBits < 0` (default)
    * auto-sizes to ⌈log2(n)⌉ − 6, clamped to [4, 16], keeping buckets
    * ~64 vectors at any corpus size — the 10× soak showed a fixed
    * nBits=4 melting down at 20 k vectors (1250-vector buckets → ~10⁸
    * candidate rows), where auto (8 bits) keeps candidates ∝ n.
    * `nBits = 0` → one bucket: every pair is a candidate and the exact
    * verification makes the output provably EQUAL to [[cosineNearDups]]
    * (the gate's oracle-exact configuration; pinned in SimilaritySpec).
    *
    * Candidate generation is NARROW: the bucket self-join carries only
    * (bucket, id), dedups pairs, and joins the vectors back for the
    * single exact verification — vectors never ride through the
    * candidate shuffle.
    *
    * `materialize = false` returns the lazy plan (no persist, no
    * checkpoint) — for embedding in a larger pipeline or plan
    * inspection; the default eagerly materializes the (small) pair set
    * and releases the bucket cache before returning, so the function
    * owns its cache lifetime and repeated calls never accumulate
    * CacheManager entries.
    *
    * `maxBucket > 0` drops oversized (table, bucket) groups before the
    * candidate self-join (see [[bucketCandidates]]) — the skew guard
    * for natural corpora where one hyperplane region captures far more
    * than the ~n/2^nBits expectation and its bucket² candidates
    * dominate the run. Off by default: the gate's full-coverage
    * (nBits = 0) configuration must keep its single complete bucket. */
  def cosineNearDupsBucketed(corpus: DataFrame, threshold: Double,
      nBits: Int = -1, nTables: Int = 8, materialize: Boolean = true,
      maxBucket: Int = 0): DataFrame = {
    val (n, dimOpt) = corpusProbe(corpus)
    if (dimOpt.isEmpty) {
      return corpus.select(col("id").as("id1"), col("id").as("id2"),
        lit(0.0).as("cosine")).limit(0)
    }
    val dim = dimOpt.get
    enforceEnvelope(strictEnvelope(corpus.sparkSession), nBits, n, maxBucket)
    val bits = autoBits(nBits, n)
    // Attaching vectors to the candidate pairs is where the verify
    // stage's bytes live: a shuffle join re-partitions the candidate
    // stream per attach, and the SECOND attach drags the first's
    // dim-length vector through the wire (candidates × ~8·dim bytes —
    // 32 GB at the 57.7 M-candidate soak point; THE measured
    // superlinearity of r4/r5). While the corpus's vectors fit a
    // broadcast (≤ ~256 MB — they are the INDEX side; 200 k × 64 dims
    // is 104 MB), both attaches become map-side hash probes and the
    // candidate stream never shuffles at all. Past that, shuffle_hash
    // keeps the stream unsorted (hash the small side, stream the big).
    val vecSideBytes = n * dim * 8L
    val maxBcast = Tuning.attachBroadcastBytes(corpus.sparkSession)
    def attach(vecs: DataFrame, side: String): DataFrame = {
      val v = vecs.select(col("id").as(side), col("vec").as(side.replace("id", "v")))
      if (vecSideBytes <= maxBcast) broadcast(v) else v.hint("shuffle_hash")
    }
    def pairsOf(vecs: DataFrame): DataFrame = {
      bucketCandidates(vecs, bits, nTables, dim, maxBucket)
        .join(attach(vecs, "id1"), Seq("id1"))
        .join(attach(vecs, "id2"), Seq("id2"))
        .withColumn("cosine", cosine(col("v1"), col("v2")))
        .where(col("cosine") >= threshold)
        .select("id1", "id2", "cosine")
    }
    val vecsPlan = corpus.select(col("id"), asDouble(col("embedding")).as("vec"))
    if (!materialize) return pairsOf(vecsPlan)
    // persisted: the bucket-key projection and both vector re-joins
    // read it (the same project-collapse guard as the MinHash band
    // frame). The (small) verified-pair result is materialized eagerly
    // via localCheckpoint(true) — whose blocks the ContextCleaner
    // reclaims once the returned frame is unreferenced — then the
    // cache is dropped.
    val vecs = vecsPlan.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try pairsOf(vecs).localCheckpoint(true)
    finally vecs.unpersist(blocking = false)
  }
}
