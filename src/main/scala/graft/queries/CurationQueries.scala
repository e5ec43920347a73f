package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{Boilerplate, LmScore, Sampling, Url}

/** Corpus-curation gates — the crawl-side cleaning and final
  * shuffle/shard stages of a training-data pipeline, each with a
  * bit-exact DuckDB oracle:
  *
  *   - [[qUrlDedup]] — URL canonicalization + URL-keyed dedup (the
  *     Common Crawl stage-one dedup);
  *   - [[qBoilerplate]] — per-site line-frequency boilerplate removal
  *     (C4 / CCNet line- and paragraph-level cleaning);
  *   - [[qPplBucket]] — CCNet head/middle/tail perplexity bucketing on
  *     the [[graft.ops.LmScore]] scorer;
  *   - [[qEpochShard]] — deterministic epoch shuffle + sharding (the
  *     trainer hand-off).
  *
  * The documents table has no URL column and no newlines in `text`, so
  * [[qUrlDedup]] and [[qBoilerplate]] synthesize their crawl structure
  * from doc_id/source arithmetic that BOTH engines replay — the same
  * device as the PII gate (`ExtensionQueries.qPiiRedact`) and the media
  * gates: the synthesized input is trivial, the operator under test is
  * the real code path.
  */
object CurationQueries {

  /** Synthesized messy crawl URL per doc: scheme/case/www/default-port/
    * trailing-slash/tracking-param/param-order/fragment variants, all
    * pure doc_id arithmetic. Distinct raw spellings collapse to shared
    * canonical keys, so the gate exercises every normalization rule. */
  private def synthUrl(d: org.apache.spark.sql.Column) = concat(
    when(d % 3 === 0, "http").when(d % 3 === 1, "https").otherwise(lit("HTTP")),
    lit("://"),
    when(d % 2 === 0, "www.").otherwise(lit("")),
    when(d % 4 === 0, "Site").otherwise(lit("site")),
    (d % 25).cast("string"), lit(".Example.com"),
    when(d % 5 === 0, ":80").when(d % 5 === 1, ":443").otherwise(lit("")),
    lit("/p/"), (d % 7).cast("string"),
    when(d % 2 === 0, "/").otherwise(lit("")),
    when(d % 6 === 0, concat(lit("?utm_source=feed&ref="), (d % 3).cast("string")))
      .when(d % 6 === 1, concat(lit("?ref="), (d % 3).cast("string"), lit("&utm_campaign=x")))
      .when(d % 6 === 2, "?b=2&a=1")
      .when(d % 6 === 3, "?a=1&b=2")
      .otherwise(lit("")),
    when(d % 4 === 1, concat(lit("#sec-"), (d % 5).cast("string"))).otherwise(lit("")))

  /** URL canonicalization + dedup ([[graft.ops.Url]]): canonical key,
    * deterministic keeper, variant counts. */
  def qUrlDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), synthUrl(col("doc_id")).as("url"))
    Url.dedupByCanonical(docs, "url", "doc_id").orderBy("canon_url")
  }

  /** Line-frequency boilerplate removal ([[graft.ops.Boilerplate]]):
    * each doc becomes 4 lines — a per-source nav header, the body, an
    * alternating share/newsletter line, a per-source footer. At
    * maxDocFrac = 0.6 the header and footer (100 % of each source's
    * docs) are stripped; the alternating line (~50 %) and the unique
    * body survive — both the drop and the keep path are exercised. */
  def qBoilerplate(s: SparkSession, dir: String): DataFrame = {
    Boilerplate.stripLines(synthLines(s, dir), "doc_id", "source", "idx",
        "line", maxDocFrac = 0.6)
      .select(col("doc_id"), col("n_lines"), col("n_kept"),
        md5(col("clean_text")).as("clean_md5"))
      .orderBy("doc_id")
  }

  /** The 4-line synthesized doc structure shared by [[qBoilerplate]]
    * and [[qIncrementalBoilerplate]]: per-source nav header, body,
    * alternating promo, per-source footer. The promo alternates on
    * `doc_id % 40 < 20` — NOT parity — because `source` is
    * `doc_id % 20`: members of a source differ by multiples of 20, so
    * they all SHARE a parity and a %2 promo would be constant (hence
    * 100 % frequent, always stripped) within every source, never
    * exercising the mid-frequency keep path (the same even-modulus
    * trap once caught in a scale soak's pseudo-site keying). With %40 the promo
    * alternates doc-to-doc within each source: ~50 % < 0.6 → kept.
    * Left unpersisted DELIBERATELY although stripLines scans it 4× —
    * a persisted gate frame would be cache-hit by Bench's later reps
    * of the identical plan and publish fake cheap timings (the r3
    * leaked-persist lesson); the 4 scans of a synthesized explode ARE
    * the honest measured cost. */
  private def synthLines(s: SparkSession, dir: String) = {
    val d = col("doc_id")
    Tables.documents(s, dir).select(
        d, col("source"),
        array(
          concat(lit("NAV "), col("source"), lit(" home login search")),
          col("text"),
          when(d % 40 < 20, "Share this article on social media")
            .otherwise(lit("Sign up for our newsletter today")),
          concat(lit("(c) 2026 "), col("source"))).as("lines"))
      .select(d, col("source"),
        posexplode(col("lines")).as(Seq("idx", "line")))
  }

  /** Incremental boilerplate ([[Boilerplate.buildLineStats]] →
    * [[Boilerplate.stripLinesIncrement]]): persist line statistics for
    * an 80 % reference crawl, then strip a 20 % batch against the
    * PERSISTED stats only — yesterday's chrome strips today's pages,
    * today's text is the only text read. The split axis is
    * `doc_id % 100 < 20` because `source` IS `doc_id % 20` in this
    * testdata: a doc_id%5 split would put whole sources in the batch
    * with zero index evidence (nothing stripped — a vacuous gate);
    * %100<20 slices one-in-five docs from EVERY source, so the batch
    * meets real per-source frequencies. Whole lifecycle (build → write
    * → load → strip → delete) runs inside the gate, like the
    * incremental dedup gates. */
  def qIncrementalBoilerplate(s: SparkSession, dir: String): DataFrame = {
    val lines = synthLines(s, dir)
    val isBatch = col("doc_id") % 100 < 20
    Q.withTempIndex("graft-blstats") { idx =>
      Phases.phase("build") {
        Boilerplate.buildLineStats(lines.where(!isBatch), "doc_id", "source",
          "line", idx, org.apache.spark.sql.SaveMode.Overwrite)
      }
      Boilerplate.stripLinesIncrement(lines.where(isBatch), "doc_id",
          "source", "idx", "line", idx, maxDocFrac = 0.6)
        .select(col("doc_id"), col("n_lines"), col("n_kept"),
          md5(col("clean_text")).as("clean_md5"))
        .orderBy("doc_id")
    }
  }

  /** CCNet perplexity bucketing ([[LmScore.pplBuckets]]): score every
    * doc under the English-trained LM, then head/middle/tail by
    * PER-LANGUAGE score terciles (absolute LM scores are not comparable
    * across languages — CCNet §4.4 buckets within each language). */
  def qPplBucket(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val m = LmScore.train(docs.where(col("lang") === "en"), "text")
    val scored = LmScore.scoreDocs(docs, "doc_id", "text", m,
      carry = Seq("lang"))
    LmScore.pplBuckets(scored, "mean_p", byCol = Some("lang"))
      .select(col("doc_id"), col("lang"), col("mean_p"), col("bucket"))
      .orderBy("doc_id")
  }

  /** TRIGRAM stupid-backoff fluency ([[LmScore.trainN]] /
    * [[LmScore.scoreDocsN]] at n = 3 — the order real CCNet-style
    * pipelines run near; the bigram surface `q_lm_fluency` stays the
    * baseline gate): each position starts at its longest available
    * context and pays 0.4 per backoff level, all fixed-point floor
    * divisions so the oracle replays the chain bit-for-bit. */
  def qLmTrigram(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val m = LmScore.trainN(docs.where(col("lang") === "en"), "text", 3)
    LmScore.scoreDocsN(docs, "doc_id", "text", m).orderBy("doc_id")
  }

  /** Per-source token totals — the ONE definition shared by
    * [[qMixTemperature]] and [[qTrainMix]] (their oracles replay the
    * same counts; two inline copies could drift). */
  private def sourceTokenCounts(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy("source")
      .agg(sum(size(graft.ops.TextOps.tokens(col("text"))).cast("long"))
        .as("n_tokens"))

  /** Temperature mixture re-weighting ([[Sampling.temperatureWeights]]):
    * per-source token totals, τ = 0.5 — the sqrt configuration, where
    * the weight (n_head/n_d)^(1−τ) is a correctly-rounded IEEE sqrt of
    * an integer ratio, bit-exact on any engine. */
  def qMixTemperature(s: SparkSession, dir: String): DataFrame = {
    Sampling.temperatureWeights(sourceTokenCounts(s, dir), "n_tokens", tau = 0.5)
      .select(col("source"), col("n_tokens"),
        round(col("weight"), 6).as("weight"))
      .orderBy("source")
  }

  /** Deterministic epoch shuffle + shard ([[Sampling.shuffleShard]]):
    * seed 42, 8 shards — every (shard, pos, doc_id) is a pure function
    * of content, so the oracle replays the whole permutation. */
  def qEpochShard(s: SparkSession, dir: String): DataFrame =
    Sampling.shuffleShard(
        Tables.documents(s, dir).select("doc_id"), col("doc_id"),
        seed = 42L, nShards = 8)
      .select(col("shard"), col("pos").cast("long").as("pos"), col("doc_id"))
      .orderBy("shard", "pos")

  /** The full mixture → epochs hand-off, composed end-to-end:
    * per-source token counts → τ=0.5 temperature weights
    * ([[Sampling.temperatureWeights]] — sqrt-exact) → fractional
    * content-hash upsampling ([[Sampling.upsampleByWeight]]) →
    * deterministic epoch sharding over (doc, copy) composite keys
    * ([[Sampling.shuffleShard]]) → per-(shard, source) manifest.
    * One oracle replays the whole chain; every intermediate value is
    * either integer or a correctly-rounded IEEE double, so the
    * composition is bit-exact like its parts. */
  def qTrainMix(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val counts = docs.groupBy("source")
      .agg(sum(size(graft.ops.TextOps.tokens(col("text"))).cast("long"))
        .as("n_tokens"))
    val w = Sampling.temperatureWeights(counts, "n_tokens", tau = 0.5)
      .select(col("source"), col("weight"))
    val up = Sampling.upsampleByWeight(
      docs.join(broadcast(w), Seq("source")), col("weight"), col("text"))
    val keyed = up.select(col("doc_id"), col("source"),
      concat(col("doc_id").cast("string"), lit("#"),
        col("copy").cast("string")).as("k"))
    Sampling.shuffleShard(keyed, col("k"), seed = 7L, nShards = 8)
      .groupBy("shard", "source")
      .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("n_docs"))
      .orderBy("shard", "source")
  }

  /** Corpus-wide keep-first paragraph dedup over the same synthesized
    * 4-line crawl pages as [[qBoilerplate]] — deliberately the same
    * input, opposite rule: frequency stripping removes EVERY copy of
    * the nav/footer chrome, keep-first dedup KEEPS exactly one (at its
    * first corpus occurrence — docs 0–19, the first doc of each
    * source) and drops only the later copies. Unique bodies always
    * survive; the two promo variants survive once each (docs 0 and
    * 20). */
  def qParaDedup(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.paragraphDedup(synthLines(s, dir).drop("source"),
        "doc_id", "idx", "line")
      .select(col("doc_id"), col("n_paras"), col("n_kept"),
        md5(col("clean_text")).as("clean_md5"))
      .orderBy("doc_id")

  val all: Map[String, Q.QueryFn] = Map(
    "q_train_mix" -> (qTrainMix _),
    "q_url_dedup" -> (qUrlDedup _),
    "q_boilerplate" -> (qBoilerplate _),
    "q_para_dedup" -> (qParaDedup _),
    "q_incremental_boilerplate" -> (qIncrementalBoilerplate _),
    "q_ppl_bucket" -> (qPplBucket _),
    "q_lm_trigram" -> (qLmTrigram _),
    "q_epoch_shard" -> (qEpochShard _),
    "q_mix_temperature" -> (qMixTemperature _),
  )

  /** Index-LIFECYCLE gates of this family (see
    * [[SearchQueries.lifecycle]] for the contract). */
  val lifecycle: Set[String] = Set("q_incremental_boilerplate")

  // Oracle notes: the boilerplate oracle joins on line TEXT where the
  // engine joins on md5(line) — identical semantics absent a 128-bit
  // collision (the exact-dedup stance); quantile_cont ≡ Spark
  // `percentile` (same linear interpolation — the q_len_quantiles
  // precedent, exact across SFs).
  val oracles: Map[String, String] = Map(
    "q_url_dedup" ->
      """WITH u AS (SELECT doc_id,
        |  (CASE WHEN doc_id % 3 = 0 THEN 'http' WHEN doc_id % 3 = 1 THEN 'https' ELSE 'HTTP' END)
        |  || '://'
        |  || (CASE WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END)
        |  || (CASE WHEN doc_id % 4 = 0 THEN 'Site' ELSE 'site' END)
        |  || cast(doc_id % 25 AS varchar) || '.Example.com'
        |  || (CASE WHEN doc_id % 5 = 0 THEN ':80' WHEN doc_id % 5 = 1 THEN ':443' ELSE '' END)
        |  || '/p/' || cast(doc_id % 7 AS varchar)
        |  || (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END)
        |  || (CASE WHEN doc_id % 6 = 0 THEN '?utm_source=feed&ref=' || cast(doc_id % 3 AS varchar)
        |       WHEN doc_id % 6 = 1 THEN '?ref=' || cast(doc_id % 3 AS varchar) || '&utm_campaign=x'
        |       WHEN doc_id % 6 = 2 THEN '?b=2&a=1'
        |       WHEN doc_id % 6 = 3 THEN '?a=1&b=2' ELSE '' END)
        |  || (CASE WHEN doc_id % 4 = 1 THEN '#sec-' || cast(doc_id % 5 AS varchar) ELSE '' END)
        |  AS url FROM documents),
        |cq AS (SELECT doc_id, url,
        |  array_to_string(list_sort(list_filter(
        |    string_split(regexp_extract(regexp_replace(url, '#.*$', ''),
        |      '\?(.*)$', 1), '&'),
        |    x -> x <> '' AND substr(x, 1, 4) <> 'utm_')), '&') AS q
        |  FROM u),
        |c AS (SELECT doc_id, url,
        |  regexp_replace(regexp_replace(regexp_replace(
        |    lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)),
        |    '^[^@]*@', ''), ':(80|443)$', ''), '^www\.', '')
        |  || regexp_replace(regexp_replace(
        |       regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1),
        |       '/{2,}', '/', 'g'), '/+$', '')
        |  || (CASE WHEN q <> '' THEN '?' || q ELSE '' END) AS canon_url
        |  FROM cq)
        |SELECT canon_url, min(doc_id) AS keep_id, count(*) AS n_urls,
        |  count(distinct url) AS n_raw
        |FROM c GROUP BY canon_url ORDER BY canon_url""".stripMargin,
    "q_boilerplate" ->
      """WITH l AS (
        |  SELECT doc_id, source, 0 AS idx,
        |    'NAV ' || source || ' home login search' AS line FROM documents
        |  UNION ALL SELECT doc_id, source, 1, text FROM documents
        |  UNION ALL SELECT doc_id, source, 2,
        |    CASE WHEN doc_id % 40 < 20 THEN 'Share this article on social media'
        |         ELSE 'Sign up for our newsletter today' END FROM documents
        |  UNION ALL SELECT doc_id, source, 3, '(c) 2026 ' || source FROM documents),
        |gs AS (SELECT source, count(distinct doc_id) AS n_grp FROM l GROUP BY source),
        |f AS (SELECT source, line, count(distinct doc_id) AS n_docs
        |  FROM l GROUP BY source, line),
        |bp AS (SELECT f.source, f.line FROM f JOIN gs ON f.source = gs.source
        |  WHERE n_grp >= 2 AND cast(n_docs AS double) >= 0.6 * n_grp),
        |kept AS (SELECT l.doc_id, l.idx, l.line FROM l
        |  LEFT JOIN bp ON l.source = bp.source AND l.line = bp.line
        |  WHERE bp.line IS NULL),
        |rb AS (SELECT doc_id, count(*) AS n_kept,
        |  string_agg(line, chr(10) ORDER BY idx) AS clean
        |  FROM kept GROUP BY doc_id),
        |tot AS (SELECT doc_id, count(*) AS n_lines FROM l GROUP BY doc_id)
        |SELECT tot.doc_id, tot.n_lines, coalesce(rb.n_kept, 0) AS n_kept,
        |  md5(coalesce(rb.clean, '')) AS clean_md5
        |FROM tot LEFT JOIN rb ON tot.doc_id = rb.doc_id
        |ORDER BY tot.doc_id""".stripMargin,
    // keep-first paragraph dedup: winner = min (doc_id, idx) per
    // distinct line (idx < 4, so doc_id*4+idx orders identically to
    // the engine's min(struct(doc_id, idx)) on this fixture); the
    // oracle keys on line TEXT where the engine keys on md5(line) —
    // the exact-dedup collision stance
    "q_para_dedup" ->
      """WITH l AS (
        |  SELECT doc_id, source, 0 AS idx,
        |    'NAV ' || source || ' home login search' AS line FROM documents
        |  UNION ALL SELECT doc_id, source, 1, text FROM documents
        |  UNION ALL SELECT doc_id, source, 2,
        |    CASE WHEN doc_id % 40 < 20 THEN 'Share this article on social media'
        |         ELSE 'Sign up for our newsletter today' END FROM documents
        |  UNION ALL SELECT doc_id, source, 3, '(c) 2026 ' || source FROM documents),
        |w AS (SELECT line, min(doc_id * 4 + idx) AS wk FROM l GROUP BY line),
        |kept AS (SELECT l.doc_id, l.idx, l.line FROM l JOIN w
        |  ON l.line = w.line AND l.doc_id * 4 + l.idx = w.wk),
        |rb AS (SELECT doc_id, count(*) AS n_kept,
        |  string_agg(line, chr(10) ORDER BY idx) AS clean
        |  FROM kept GROUP BY doc_id),
        |tot AS (SELECT doc_id, count(*) AS n_paras FROM l GROUP BY doc_id)
        |SELECT tot.doc_id, tot.n_paras, coalesce(rb.n_kept, 0) AS n_kept,
        |  md5(coalesce(rb.clean, '')) AS clean_md5
        |FROM tot LEFT JOIN rb ON tot.doc_id = rb.doc_id
        |ORDER BY tot.doc_id""".stripMargin,
    // incremental form: bp frequencies come from the INDEX slice only
    // (doc_id % 100 >= 20); the batch is stripped against them, and a
    // line frequent only within the batch is kept (no index evidence)
    "q_incremental_boilerplate" ->
      """WITH l AS (
        |  SELECT doc_id, source, 0 AS idx,
        |    'NAV ' || source || ' home login search' AS line FROM documents
        |  UNION ALL SELECT doc_id, source, 1, text FROM documents
        |  UNION ALL SELECT doc_id, source, 2,
        |    CASE WHEN doc_id % 40 < 20 THEN 'Share this article on social media'
        |         ELSE 'Sign up for our newsletter today' END FROM documents
        |  UNION ALL SELECT doc_id, source, 3, '(c) 2026 ' || source FROM documents),
        |lidx AS (SELECT * FROM l WHERE doc_id % 100 >= 20),
        |lbat AS (SELECT * FROM l WHERE doc_id % 100 < 20),
        |gs AS (SELECT source, count(distinct doc_id) AS n_grp FROM lidx GROUP BY source),
        |f AS (SELECT source, line, count(distinct doc_id) AS n_docs
        |  FROM lidx GROUP BY source, line),
        |bp AS (SELECT f.source, f.line FROM f JOIN gs ON f.source = gs.source
        |  WHERE n_grp >= 2 AND cast(n_docs AS double) >= 0.6 * n_grp),
        |kept AS (SELECT lbat.doc_id, lbat.idx, lbat.line FROM lbat
        |  LEFT JOIN bp ON lbat.source = bp.source AND lbat.line = bp.line
        |  WHERE bp.line IS NULL),
        |rb AS (SELECT doc_id, count(*) AS n_kept,
        |  string_agg(line, chr(10) ORDER BY idx) AS clean
        |  FROM kept GROUP BY doc_id),
        |tot AS (SELECT doc_id, count(*) AS n_lines FROM lbat GROUP BY doc_id)
        |SELECT tot.doc_id, tot.n_lines, coalesce(rb.n_kept, 0) AS n_kept,
        |  md5(coalesce(rb.clean, '')) AS clean_md5
        |FROM tot LEFT JOIN rb ON tot.doc_id = rb.doc_id
        |ORDER BY tot.doc_id""".stripMargin,
    "q_ppl_bucket" ->
      """WITH t AS (SELECT doc_id, lang,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS toks FROM documents),
        |bi0 AS (SELECT doc_id, lang, toks, unnest(range(1, len(toks))) AS i
        |  FROM t WHERE len(toks) >= 2),
        |bi AS (SELECT doc_id, lang, toks[i] AS w1, toks[i+1] AS w2 FROM bi0),
        |tp AS (SELECT w1, w2 FROM bi WHERE lang = 'en'),
        |c2 AS (SELECT w1, w2, count(*) AS c2 FROM tp GROUP BY w1, w2),
        |c1 AS (SELECT w1, count(*) AS c1 FROM tp GROUP BY w1),
        |trans AS (SELECT c2.w1, c2.w2, 1000000 * c2.c2 // c1.c1 AS p
        |  FROM c2 JOIN c1 ON c2.w1 = c1.w1),
        |uw AS (SELECT unnest(toks) AS w FROM t WHERE lang = 'en'),
        |uni AS (SELECT w, count(*) AS cu FROM uw GROUP BY w),
        |n AS (SELECT greatest(count(*), 1) AS n FROM uw),
        |sc AS (SELECT bi.doc_id,
        |    coalesce(trans.p, 400000 * uni.cu // (SELECT n FROM n), 0) AS p
        |  FROM bi LEFT JOIN trans ON bi.w1 = trans.w1 AND bi.w2 = trans.w2
        |          LEFT JOIN uni ON bi.w2 = uni.w),
        |agg AS (SELECT doc_id, cast(sum(p) AS bigint) AS score,
        |    count(*) AS n_trans FROM sc GROUP BY doc_id),
        |mp AS (SELECT t.doc_id, t.lang,
        |  cast(CASE WHEN coalesce(agg.n_trans, 0) > 0
        |    THEN agg.score // agg.n_trans ELSE 0 END AS bigint) AS mean_p
        |  FROM t LEFT JOIN agg ON t.doc_id = agg.doc_id),
        |th AS (SELECT lang, quantile_cont(mean_p, 1.0/3) AS t_lo,
        |    quantile_cont(mean_p, 2.0/3) AS t_hi FROM mp GROUP BY lang)
        |SELECT mp.doc_id, mp.lang, mp.mean_p,
        |  CASE WHEN th.t_hi IS NULL OR mp.mean_p IS NULL THEN NULL
        |       WHEN cast(mean_p AS double) >= t_hi THEN 'head'
        |       WHEN cast(mean_p AS double) >= t_lo THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM mp LEFT JOIN th ON mp.lang = th.lang ORDER BY mp.doc_id""".stripMargin,
    // the full composition: weights (UNROUNDED sqrt — the chain needs
    // the exact double), permille-resolved fractional copies (the
    // q_mix_upsample replay), composite (doc#copy) shard keys (the
    // q_epoch_shard replay, seed 7)
    "q_train_mix" ->
      """WITH c AS (SELECT source,
        |  cast(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS bigint)
        |    AS n_tokens
        |  FROM documents GROUP BY source),
        |h AS (SELECT max(n_tokens) AS nh FROM c),
        |w AS (SELECT source, sqrt(cast(nh AS double) / cast(n_tokens AS double)) AS w
        |  FROM c, h),
        |t AS (SELECT d.doc_id, d.source, w.w,
        |  ('0x' || substr(md5(coalesce(d.text, '')), 1, 8))::bigint % 1000 AS bucket
        |  FROM documents d JOIN w ON d.source = w.source),
        |cc AS (SELECT doc_id, source,
        |  cast(floor(w) + CASE WHEN bucket < cast(round((w - floor(w)) * 1000) AS bigint)
        |    THEN 1 ELSE 0 END AS int) AS n FROM t),
        |e AS (SELECT doc_id, source, unnest(range(n)) AS copy FROM cc WHERE n > 0),
        |k AS (SELECT doc_id, source,
        |  cast(doc_id AS varchar) || '#' || cast(copy AS varchar) AS kk FROM e),
        |sh AS (SELECT doc_id, source,
        |  cast(('0x' || substr(md5(kk || ':7'), 1, 8))::bigint % 8 AS int) AS shard
        |  FROM k)
        |SELECT shard, source, count(*) AS n, count(DISTINCT doc_id) AS n_docs
        |FROM sh GROUP BY shard, source ORDER BY shard, source""".stripMargin,
    // τ=0.5 temperature weights: integer token counts per source, max
    // attach, sqrt of an integer ratio — sqrt is IEEE correctly
    // rounded, so the doubles agree bit-for-bit (no share-vector float
    // sum whose addend ORDER could differ between engines; sum(len())
    // needs the hugeint→bigint cast, the known DuckDB pitfall)
    "q_mix_temperature" ->
      """WITH c AS (SELECT source,
        |  cast(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS bigint)
        |    AS n_tokens
        |  FROM documents GROUP BY source),
        |h AS (SELECT max(n_tokens) AS nh FROM c)
        |SELECT source, n_tokens,
        |  round(sqrt(cast(nh AS double) / cast(n_tokens AS double)), 6) AS weight
        |FROM c, h ORDER BY source""".stripMargin,
    // trigram stupid backoff: per position, longest-available context
    // first (avail = least(i, 3)), 0.4 per backoff level as the exact
    // integer scales 1000000/400000/160000, floor division everywhere —
    // the q_lm_fluency replay extended one order up
    "q_lm_trigram" ->
      """WITH t AS (SELECT doc_id, lang,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS toks FROM documents),
        |p0 AS (SELECT doc_id, lang, toks, unnest(range(2, len(toks)+1)) AS i
        |  FROM t WHERE len(toks) >= 2),
        |p AS (SELECT doc_id, lang, i, toks[i] AS w, toks[i-1] AS ctx2,
        |    CASE WHEN i >= 3 THEN toks[i-2] || ' ' || toks[i-1] END AS ctx3
        |  FROM p0),
        |tp AS (SELECT i, w, ctx2, ctx3 FROM p WHERE lang = 'en'),
        |c2 AS (SELECT ctx2, w, count(*) AS cm FROM tp GROUP BY ctx2, w),
        |cc2 AS (SELECT ctx2, sum(cm) AS cctx FROM c2 GROUP BY ctx2),
        |c3 AS (SELECT ctx3, w, count(*) AS cm FROM tp
        |  WHERE ctx3 IS NOT NULL GROUP BY ctx3, w),
        |cc3 AS (SELECT ctx3, sum(cm) AS cctx FROM c3 GROUP BY ctx3),
        |uw AS (SELECT unnest(toks) AS w FROM t WHERE lang = 'en'),
        |uni AS (SELECT w, count(*) AS cu FROM uw GROUP BY w),
        |n AS (SELECT greatest(count(*), 1) AS n FROM uw),
        |sc AS (SELECT p.doc_id,
        |  CASE WHEN least(p.i, 3) >= 3 AND c3.cm IS NOT NULL
        |         THEN 1000000 * c3.cm // cc3.cctx
        |       WHEN c2.cm IS NOT NULL
        |         THEN (CASE least(p.i, 3) WHEN 2 THEN 1000000 ELSE 400000 END)
        |              * c2.cm // cc2.cctx
        |       WHEN uni.cu IS NOT NULL
        |         THEN (CASE least(p.i, 3) WHEN 2 THEN 400000 ELSE 160000 END)
        |              * uni.cu // (SELECT n FROM n)
        |       ELSE 0 END AS tp
        |  FROM p
        |  LEFT JOIN c3 ON p.ctx3 = c3.ctx3 AND p.w = c3.w
        |  LEFT JOIN cc3 ON p.ctx3 = cc3.ctx3
        |  LEFT JOIN c2 ON p.ctx2 = c2.ctx2 AND p.w = c2.w
        |  LEFT JOIN cc2 ON p.ctx2 = cc2.ctx2
        |  LEFT JOIN uni ON p.w = uni.w),
        |agg AS (SELECT doc_id, cast(sum(tp) AS bigint) AS score,
        |    count(*) AS n_trans FROM sc GROUP BY doc_id)
        |SELECT t.doc_id,
        |  coalesce(agg.score, 0) AS score,
        |  coalesce(agg.n_trans, 0) AS n_trans,
        |  cast(CASE WHEN coalesce(agg.n_trans, 0) > 0
        |    THEN agg.score // agg.n_trans ELSE 0 END AS bigint) AS mean_p
        |FROM t LEFT JOIN agg ON t.doc_id = agg.doc_id
        |ORDER BY t.doc_id""".stripMargin,
    "q_epoch_shard" ->
      """WITH h AS (SELECT doc_id,
        |    md5(cast(doc_id AS varchar) || ':42') AS h FROM documents),
        |s AS (SELECT doc_id, h,
        |    cast(('0x' || substr(h, 1, 8))::bigint % 8 AS int) AS shard FROM h)
        |SELECT shard,
        |  row_number() OVER (PARTITION BY shard
        |    ORDER BY substr(h, 9, 24), doc_id) AS pos,
        |  doc_id
        |FROM s ORDER BY shard, pos""".stripMargin,
  )
}
