package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling and mixture weighting for training-data
  * pipelines. Everything keys off a CONTENT hash bucket (md5-derived,
  * never an RNG), so a sample is reproducible across engines, runs,
  * partitionings, and cluster sizes — the property that makes
  * train/test splits and ablation corpora auditable. Same bucket
  * construction as the train/test split in
  * [[graft.queries.ExtensionQueries.qTrainSplit]].
  */
object Sampling {

  /** Stable per-row bucket in [0, 1000): first 8 md5 hex digits of the
    * key column, as an integer, mod 1000. Pure column expression —
    * codegen'd, no shuffle, no state.
    *
    * A NULL key hashes as the empty string rather than propagating
    * null: a null bucket would silently fail every `< permille`
    * predicate, so null-key rows would vanish from samples and lose
    * their fractional upsample copy — surprising for ops documented as
    * deterministic. With the coalesce, null keys are handled like any
    * other (single) key value. */
  def permilleBucket(key: Column): Column =
    (conv(substring(md5(coalesce(key.cast("string"), lit(""))), 1, 8), 16, 10)
      .cast("long") % 1000).cast("int")

  /** Stratified deterministic sample: per-stratum keep rates
    * (permille). Strata absent from `rates` keep `defaultPermille`.
    * The rate lookup is a when-chain over a bounded, library-author-
    * supplied map — no join, no shuffle; the filter reaches the scan. */
  def stratifiedSample(df: DataFrame, stratum: Column, key: Column,
      rates: Map[String, Int], defaultPermille: Int = 1000): DataFrame = {
    val rate = rates.foldLeft(lit(defaultPermille)) { case (acc, (k, v)) =>
      when(stratum === k, lit(v)).otherwise(acc)
    }
    df.where(permilleBucket(key) < rate)
  }

  /** Mixture upsampling: replicate each row `weight` times, where
    * fractional weights resolve deterministically — a row with weight
    * 2.3 yields 2 copies always and a 3rd iff its content bucket lands
    * in the bottom 30 % (the fraction is ROUNDED to a permille, not
    * truncated: 0.3 is not representable in binary and truncation
    * would give cutoff 299 here while another engine rounding the same
    * arithmetic gives 300). `explode(sequence(...))` keeps the fan-out
    * inside whole-stage codegen (no shuffle; output partitioning is
    * input partitioning). Emits a `copy` index (0-based) so downstream
    * dedup/shuffling can tell replicas apart. Weights must be ≥ 0;
    * weight 0 drops the row (an explode over an empty sequence). */
  def upsampleByWeight(df: DataFrame, weight: Column, key: Column): DataFrame = {
    Reserved.requireAbsent("upsampleByWeight", Seq("__n", "copy"), df)
    val whole = floor(weight).cast("long")
    val fracPermille = round((weight - floor(weight)) * 1000).cast("long")
    val copies = (whole +
      when(permilleBucket(key) < fracPermille, 1L).otherwise(0L)).cast("int")
    df.withColumn("__n", copies)
      .withColumn("copy",
        explode(when(col("__n") > 0, sequence(lit(0), col("__n") - 1))
          .otherwise(array().cast("array<int>"))))
      .drop("__n")
  }

  /** Temperature re-weighting of a domain mixture (the τ-flattened
    * sampling of DoReMi-adjacent pipelines and the multilingual
    * mixing in GPT/LLaMA-style recipes): the trained mixture's share
    * should be ∝ p^τ with τ < 1, which lifts tail domains and damps
    * the head. The required per-domain replication factor is
    * m_d ∝ p_d^(τ−1); normalized so the LARGEST domain keeps weight
    * 1.0 it becomes w_d = (n_head / n_d)^(1−τ) — a pure function of
    * two INTEGER counts, no share vector, no float summation whose
    * addend order could differ across engines. Feed the result
    * straight into [[upsampleByWeight]]. τ = 1 is identity; τ → 0
    * approaches uniform. At τ = 0.5 the weight is sqrt(n_head/n_d),
    * computed with `sqrt` (IEEE-754 correctly rounded, so bit-exact on
    * any engine — the gate's configuration); other τ go through `pow`
    * (±1 ulp, fine in-engine).
    *
    * `counts` is the per-domain token-count table — bounded by the
    * number of domains, so the max-attach is a broadcast of one row.
    * @return counts + (weight) */
  def temperatureWeights(counts: DataFrame, countCol: String,
      tau: Double): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, "tau in (0,1]")
    Reserved.requireAbsent("temperatureWeights", Seq("__n_head", "weight"), counts)
    val head = counts.agg(max(col(countCol)).as("__n_head"))
    val ratio = col("__n_head").cast("double") / col(countCol).cast("double")
    val w = if (tau == 0.5) sqrt(ratio) else pow(ratio, 1.0 - tau)
    counts.crossJoin(broadcast(head))
      .withColumn("weight", w)
      .drop("__n_head")
  }

  /** Deterministic epoch shuffle + sharding — the last step before a
    * corpus feeds a trainer: every row gets a `shard` in [0, nShards)
    * and a 1-based `pos` within its shard, both pure functions of
    * (content key, seed). Re-running with the same seed reproduces the
    * exact data order (auditable epochs); a new seed is a fresh
    * pseudorandom permutation — no RNG, no `ORDER BY rand()`.
    *
    * The shard hash and the within-shard order come from DISJOINT hex
    * slices of one md5 (first 8 = shard, rest = order), so position
    * within a shard is uncorrelated with shard choice. Scale: one
    * shuffle, keyed on `shard`; the within-shard sort is the per-shard
    * window — parallelism equals nShards, so size nShards to the
    * cluster (production shard counts are 10³–10⁵ files, far above any
    * executor count; nShards=1 would serialize and is only for toys).
    * The md5 device is the portable-hash convention ([[permilleBucket]],
    * `Dsir.bucket`) — any engine reproduces the permutation. */
  def shuffleShard(df: DataFrame, key: Column, seed: Long,
      nShards: Int): DataFrame = {
    require(nShards > 0, "nShards must be positive")
    Reserved.requireAbsent("shuffleShard", Seq("__h", "shard", "pos"), df)
    // null keys hash as "" (the [[permilleBucket]] stance): concat
    // null-propagates, and a NULL shard would silently park null-key
    // rows in their own unnumbered partition
    val h = md5(concat(coalesce(key.cast("string"), lit("")),
      lit(":"), lit(seed.toString)))
    // the ORDER slice starts at hex digit 9 — genuinely disjoint from
    // the shard slice (digits 1–8), as the doc above promises; ordering
    // by the full hash would key within-shard position partly on the
    // bits that chose the shard
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(substring(col("__h"), 9, 24), key)
    df.withColumn("__h", h)
      .withColumn("shard",
        (conv(substring(col("__h"), 1, 8), 16, 10).cast("long") % nShards).cast("int"))
      .withColumn("pos", row_number().over(w))
      .drop("__h")
  }

  /** Weighted sampling WITHOUT replacement, k items — Efraimidis &
    * Spirakis (2006) A-ES: give each row the key ln(u)/w (u a
    * per-row uniform, w its weight) and take the top k; the selected
    * set is distributed exactly as sequential weighted draws without
    * replacement. The textbook form draws u from a PRNG; here u is
    * the md5-derived deterministic uniform (the [[permilleBucket]] /
    * [[shuffleShard]] portable-hash convention, salted by `seed`), so
    * the sample is reproducible on any engine — the property every
    * other sampler in this file guarantees.
    *
    * u uses the first 13 hex digits (52 bits — exact in a double):
    * u = (v+1)/(2^52+1) ∈ (0,1), never 0 or 1, so ln(u) is finite.
    * Rows with weight ≤ 0 or NULL are excluded (zero-weight items
    * have probability 0 by definition; ln(u)/0 would be ±Inf).
    *
    * Scale: one codegen'd projection + a distributed top-k
    * (TakeOrderedAndProject) — no shuffle of the full data, no
    * global sort. Output: the selected rows + `es_key`, ordered
    * (es_key desc, then `key` as the deterministic tie-break). */
  def weightedSampleK(df: DataFrame, key: Column, weight: Column,
      k: Int, seed: Long = 0L): DataFrame = {
    require(k > 0, "k must be positive")
    Reserved.requireAbsent("weightedSampleK", Seq("__u", "es_key"), df)
    val h = md5(concat(coalesce(key.cast("string"), lit("")),
      lit(":"), lit(seed.toString)))
    val u = (conv(substring(h, 1, 13), 16, 10).cast("long") + lit(1L))
      .cast("double") / lit(4503599627370497L).cast("double")
    df.where(weight.isNotNull && weight > 0)
      .withColumn("es_key", log(u) / weight.cast("double"))
      .orderBy(col("es_key").desc, key)
      .limit(k)
  }

  /** Per-stratum weighted sampling without replacement — k items PER
    * GROUP (the language/domain/source quota cut every mixture recipe
    * starts from): the [[weightedSampleK]] A-ES key, ranked within each
    * stratum.
    *
    * A single `row_number() OVER (PARTITION BY group)` would sort a hot
    * stratum (half the corpus is one language) in ONE task. This is the
    * two-phase exact shape instead: rank within `(group, salt)` — the
    * hot stratum spreads over `nSalts` parallel sorts — keep each
    * salt's top k, then rank the ≤ `nSalts·k` survivors per group. The
    * union of per-salt top-k supersets the per-group top-k, so phase 2
    * is exact, and its window partitions are bounded by `nSalts·k`
    * rows regardless of corpus size.
    *
    * Rows with a NULL group are dropped (a quota for an unknown stratum
    * is undefined — and Spark and DuckDB disagree on NULL sort order,
    * so keeping them would also break oracle parity); coalesce the
    * group first to keep them. NULL/non-positive weights are excluded
    * as in [[weightedSampleK]]. Output: the selected rows + `es_key` +
    * `es_rank` (1-based rank within the group; ties broken by `key`).
    */
  def weightedSampleKPerGroup(df: DataFrame, group: Column, key: Column,
      weight: Column, k: Int, seed: Long = 0L, nSalts: Int = 64): DataFrame = {
    require(k > 0, "k must be positive")
    require(nSalts > 0, "nSalts must be positive")
    Reserved.requireAbsent("weightedSampleKPerGroup",
      Seq("__grp", "__salt", "es_key", "es_rank"), df)
    val h = md5(concat(coalesce(key.cast("string"), lit("")),
      lit(":"), lit(seed.toString)))
    val u = (conv(substring(h, 1, 13), 16, 10).cast("long") + lit(1L))
      .cast("double") / lit(4503599627370497L).cast("double")
    val base = df.where(group.isNotNull && weight.isNotNull && weight > 0)
      .withColumn("es_key", log(u) / weight.cast("double"))
      .withColumn("__grp", group)
      .withColumn("__salt", pmod(xxhash64(key), lit(nSalts)))
    val wLocal = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__grp"), col("__salt"))
      .orderBy(col("es_key").desc, key)
    val wGroup = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__grp"))
      .orderBy(col("es_key").desc, key)
    base
      .withColumn("es_rank", row_number().over(wLocal))
      .where(col("es_rank") <= k)
      .withColumn("es_rank", row_number().over(wGroup))
      .where(col("es_rank") <= k)
      .drop("__grp", "__salt")
  }
}
