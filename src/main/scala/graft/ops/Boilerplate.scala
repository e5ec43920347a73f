package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-frequency boilerplate removal — the line-level cleaning stage
  * of C4 (Raffel et al. 2020 dropped lines duplicated across the
  * corpus) and CCNet (Wenzek et al. 2020 dedups paragraphs across
  * shards before any model sees them): navigation headers, cookie
  * banners, share buttons, and copyright footers repeat across most
  * pages of a site, and line-frequency within a grouping key (site /
  * source / domain) separates them from body prose without any model.
  *
  * Pipeline shape: explode lines with their position → count, per
  * (group, line-fingerprint), how many DISTINCT docs contain the line →
  * lines above `maxDocFrac` of the group's docs are boilerplate → anti
  * join them away → reassemble surviving lines in original order.
  *
  * Scale design (100 TB):
  *   - the frequency aggregation shuffles (group, 16-byte md5(line))
  *     with map-side partial aggregation — line TEXT never rides a
  *     shuffle (the [[Dedup]] fingerprint stance; a 128-bit collision
  *     inside one group is negligible, same as exact dedup);
  *   - the boilerplate set is frequency-filtered, so it is ~(sites ×
  *     few chrome lines) — tiny per group — and the removal join
  *     broadcasts it by default (left_anti, no shuffle of the corpus
  *     stream); it still grows ∝ the NUMBER of groups, so a crawl with
  *     ~10⁷ sites should pass `broadcastSet = false` and take the
  *     (grp, md5) shuffle join instead of a driver OOM;
  *   - reassembly aggregates per doc (one shuffle on doc id; partial
  *     aggregation applies) and keeps EVERY doc — a doc whose lines
  *     were all boilerplate survives with empty text, because a silent
  *     row drop would desync downstream joins and bias stats.
  */
object Boilerplate {

  /** Per-(group, line) document frequency: (grpCol, line_md5, n_docs,
    * one surviving `line` witness). Distinct-doc counting — a doc
    * repeating its own footer three times is still one doc. */
  def lineDocFreq(lines: DataFrame, idCol: String, grpCol: String,
      lineCol: String): DataFrame =
    lines.select(col(grpCol), md5(col(lineCol)).as("line_md5"), col(idCol))
      .groupBy(grpCol, "line_md5")
      .agg(countDistinct(col(idCol)).as("n_docs"))

  /** The boilerplate set for `maxDocFrac`: lines present in ≥ that
    * fraction of the group's docs (by distinct-doc count). Groups with
    * fewer than `minGrpDocs` docs contribute NO boilerplate — with one
    * page, every line is "100 % frequent" and frequency can't separate
    * chrome from body, so a single-page site must pass through intact
    * rather than be wiped. Output is (grpCol, line_md5) — small by
    * construction, broadcast-ready. */
  def boilerplateSet(lines: DataFrame, idCol: String, grpCol: String,
      lineCol: String, maxDocFrac: Double, minGrpDocs: Int = 2): DataFrame = {
    val grpSizes = lines.select(col(grpCol), col(idCol)).distinct()
      .groupBy(grpCol).agg(count(lit(1)).as("__n_grp"))
    thresholdSet(lineDocFreq(lines, idCol, grpCol, lineCol), grpSizes,
      grpCol, maxDocFrac, minGrpDocs)
  }

  /** The ONE definition of the boilerplate threshold, shared by the
    * one-shot and from-stats paths so their semantics cannot drift:
    * `freq` is (grpCol, line_md5, n_docs), `grps` is (grpCol, __n_grp). */
  private def thresholdSet(freq: DataFrame, grps: DataFrame, grpCol: String,
      maxDocFrac: Double, minGrpDocs: Int): DataFrame = {
    require(maxDocFrac > 0.0 && maxDocFrac <= 1.0, "maxDocFrac in (0,1]")
    require(minGrpDocs >= 1, "minGrpDocs must be >= 1")
    freq.join(grps, Seq(grpCol))
      .where(col("__n_grp") >= minGrpDocs &&
        col("n_docs").cast("double") >= lit(maxDocFrac) * col("__n_grp"))
      .select(col(grpCol), col("line_md5"))
  }

  /** Strip boilerplate from exploded lines and reassemble each doc:
    * input (idCol, grpCol, idxCol, lineCol) — one row per line with its
    * 0-based position — output one row per INPUT doc: (idCol, n_lines,
    * n_kept, clean_text) with survivors rejoined by `\n` in original
    * order. */
  def stripLines(lines: DataFrame, idCol: String, grpCol: String,
      idxCol: String, lineCol: String, maxDocFrac: Double,
      minGrpDocs: Int = 2, broadcastSet: Boolean = true,
      materialize: Boolean = false): DataFrame = {
    Reserved.requireAbsent("stripLines", Seq("line_md5", "__n_grp"), lines)
    // This pipeline scans `lines` in four places (group sizes, line
    // frequency, the anti-join stream, the totality count) — a caller
    // whose `lines` is a derived frame (explode over decoded docs)
    // would silently pay the upstream work 4×. `materialize = true`
    // eagerly localCheckpoints the input ONCE so all four scans read
    // the materialized rows (the Dedup iterative stance; enforcement a
    // BoilerplateSpec accumulator pins). Default stays false: an
    // already-cheap or already-persisted input should not pay a full
    // extra materialization at 100 TB.
    val src = if (materialize) lines.localCheckpoint(true) else lines
    val boiler =
      boilerplateSet(src, idCol, grpCol, lineCol, maxDocFrac, minGrpDocs)
    applySet(src, idCol, grpCol, idxCol, lineCol, boiler, broadcastSet)
  }

  /** Shared removal + reassembly: anti-join the (grpCol, line_md5) set
    * away, rebuild survivors in original order, keep EVERY doc.
    * `broadcastSet` is an honesty knob, not an optimizer guess: the set
    * is tiny PER GROUP but grows ∝ number of groups, so a crawl with
    * ~10⁷ sites can outgrow the driver — pass false there and the
    * anti-join falls back to a (grp, md5) shuffle join, the honest
    * trade (the LmScore.broadcastModel stance). */
  private def applySet(lines: DataFrame, idCol: String, grpCol: String,
      idxCol: String, lineCol: String, boiler: DataFrame,
      broadcastSet: Boolean): DataFrame = {
    val kept = lines
      .withColumn("line_md5", md5(col(lineCol)))
      .join(if (broadcastSet) broadcast(boiler) else boiler,
        Seq(grpCol, "line_md5"), "left_anti")
    val rebuilt = kept.groupBy(idCol)
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col(idxCol), col(lineCol)))),
            x => x.getField(lineCol)),
          "\n").as("clean_text"))
    // totality re-attach: every input doc keeps a row, even all-chrome
    // docs whose every line was removed
    lines.groupBy(idCol).agg(count(lit(1)).as("n_lines"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  // ---- incremental form: persisted, mergeable line statistics ----
  //
  // Production boilerplate removal does not recount the whole crawl per
  // batch: yesterday's chrome strips today's pages. The persisted
  // artifact here is raw COUNTS, not a thresholded set, because counts
  // are the mergeable form — a doc belongs to exactly ONE crawl batch,
  // so distinct-doc counts are additive across batches and
  // `SaveMode.Append` fold-in is exact (the same additive-identity
  // argument as `Dedup.buildBandIndex`'s append — pinned in
  // BoilerplateSpec: build 60 % + append 20 % ≡ one-shot 80 %).
  // Thresholds (maxDocFrac, minGrpDocs) are applied AT READ, so a
  // corpus can be re-thresholded without a recount.

  /** Persist per-(group, line) doc frequencies and per-group doc counts
    * for `lines` under `path` (`freq/` and `grps/`, zstd parquet).
    * Append mode folds a new batch's counts in; readers re-aggregate,
    * so appended part-files are just more addends. */
  def buildLineStats(lines: DataFrame, idCol: String, grpCol: String,
      lineCol: String, path: String,
      mode: SaveMode = SaveMode.ErrorIfExists): Unit = {
    if (mode == SaveMode.Append) {
      IndexMaintenance.guardAppend(lines.sparkSession, s"$path/freq")
      IndexMaintenance.guardAppend(lines.sparkSession, s"$path/grps")
    }
    lineDocFreq(lines, idCol, grpCol, lineCol)
      .write.mode(mode).option("compression", "zstd").parquet(s"$path/freq")
    lines.select(col(grpCol), col(idCol)).distinct()
      .groupBy(grpCol).agg(count(lit(1)).as("n_docs_grp"))
      .write.mode(mode).option("compression", "zstd").parquet(s"$path/grps")
  }

  /** The boilerplate set derived from persisted stats at the given
    * thresholds — (grpCol, line_md5), same shape [[stripLines]] uses.
    * Re-aggregates on read so Append-folded parts sum correctly. */
  def boilerplateSetFromStats(spark: SparkSession, path: String,
      grpCol: String, maxDocFrac: Double, minGrpDocs: Int = 2): DataFrame = {
    val freq = spark.read.parquet(s"$path/freq")
      .groupBy(grpCol, "line_md5").agg(sum("n_docs").as("n_docs"))
    val grps = spark.read.parquet(s"$path/grps")
      .groupBy(grpCol).agg(sum("n_docs_grp").as("__n_grp"))
    thresholdSet(freq, grps, grpCol, maxDocFrac, minGrpDocs)
  }

  /** DELETE/takedown propagation — remove documents' contributions
    * from the persisted line statistics without a recount (the inverse
    * lifecycle verb to the [[buildLineStats]] Append): the counts are
    * MERGEABLE, so the removal appends NEGATIVE delta rows — the same
    * additive-identity argument that makes fold-in exact makes the
    * decrement exact, and the summed stats equal a one-shot recount
    * over the survivors bit-for-bit (BoilerplateSpec pins it).
    *
    * `removedLines` must be EXACTLY the removed docs' line rows as
    * previously counted (the caller keeps the corpus; the index stores
    * only counts — there is nothing to recompute the contribution
    * from). Same one-shot contract as the Append fold-in, inverted:
    * remove each doc's lines exactly once — a blind re-run
    * double-decrements, so wrap retries in your own ledger. Groups
    * whose doc count hits zero threshold out naturally at read
    * ([[boilerplateSetFromStats]] keeps `minGrpDocs ≥ 2`-doc groups
    * only, and a 0/0 frequency row sums to zero docs). */
  def removeLineStats(removedLines: DataFrame, idCol: String,
      grpCol: String, lineCol: String, path: String,
      checkpoint: Option[String] = None): Unit = {
    IndexMaintenance.guardAppend(removedLines.sparkSession, s"$path/freq")
    IndexMaintenance.guardAppend(removedLines.sparkSession, s"$path/grps")
    // streaming-replay guard (quiescence form — stats rows carry no
    // batch stamps): decrementing counts an uncommitted batch's replay
    // will re-add leaves the additive sums permanently wrong. Runs
    // after the heals above so its read never trips on a torn swap.
    checkpoint.foreach(cp => IndexMaintenance.requireBatchesCommitted(
      removedLines.sparkSession,
      removedLines.sparkSession.read.parquet(s"$path/freq"), cp,
      s"Boilerplate.removeLineStats($path)"))
    lineDocFreq(removedLines, idCol, grpCol, lineCol)
      .withColumn("n_docs", -col("n_docs"))
      .write.mode(SaveMode.Append).option("compression", "zstd").parquet(s"$path/freq")
    removedLines.select(col(grpCol), col(idCol)).distinct()
      .groupBy(grpCol).agg((-count(lit(1))).as("n_docs_grp"))
      .write.mode(SaveMode.Append).option("compression", "zstd").parquet(s"$path/grps")
  }

  /** Strip a NEW batch against the persisted stats: the index corpus's
    * chrome strips the batch, and a line frequent only WITHIN the batch
    * is kept (no index evidence yet — fold the batch in afterwards via
    * [[buildLineStats]] Append if it should count next time). One pass
    * over the batch + the reassembly shuffle; the index corpus's line
    * text is never read. */
  def stripLinesIncrement(batch: DataFrame, idCol: String, grpCol: String,
      idxCol: String, lineCol: String, statsPath: String,
      maxDocFrac: Double, minGrpDocs: Int = 2,
      broadcastSet: Boolean = true): DataFrame = {
    Reserved.requireAbsent("stripLinesIncrement", Seq("line_md5", "__n_grp"), batch)
    // the SET is materialized eagerly (it is small by construction and
    // this is one bounded job), so the returned frame never re-reads
    // the stats files — the index can be deleted, appended, or
    // re-thresholded after this call without changing the result (the
    // incremental-dedup operators' contract, and what Q.withTempIndex
    // requires of gate bodies)
    val boiler = boilerplateSetFromStats(batch.sparkSession, statsPath,
      grpCol, maxDocFrac, minGrpDocs).localCheckpoint(true)
    applySet(batch, idCol, grpCol, idxCol, lineCol, boiler, broadcastSet)
  }
}
