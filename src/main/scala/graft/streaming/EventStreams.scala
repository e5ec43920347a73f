package graft.streaming

import graft.Warehouse
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Structured Streaming surface of the engine (an extension — the
  * reference is batch-only, SURVEY.md §2.10; its only incremental
  * behavior, the idempotent incident append, is re-expressed here as a
  * streaming upsert).
  *
  * Everything is `readStream`-shape agnostic: functions take the
  * streaming DataFrame/Dataset and return transformed streams; sinks
  * are the caller's choice except [[idempotentAppend]] which owns its
  * foreachBatch. Watermarks bound state; aggregations are the same
  * plans Catalyst produces for the batch twins (q_window_tumbling).
  */
object EventStreams {

  final case class Event(ts: java.sql.Timestamp, user_id: Long, event_type: String, value: Double)
  final case class UserTotals(user_id: Long, n_events: Long, total_value: Double)

  /** Tumbling event-time window aggregate with a watermark (late data
    * beyond `watermark` is dropped; state is bounded). */
  def windowedCounts(events: DataFrame, windowLen: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n"), col("sum_value"))

  /** Sliding event-time windows: like [[windowedCounts]] but each event
    * lands in `windowLen / slide` overlapping windows (the trailing-
    * rate view a monitoring pipeline reads). State is bounded by the
    * watermark exactly as in the tumbling form — sliding multiplies
    * the OPEN window count per key by the overlap factor, not by
    * stream length. */
  def slidingCounts(events: DataFrame, windowLen: String = "1 hour",
      slide: String = "15 minutes", watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen, slide), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n"), col("sum_value"))

  /** Stream-STREAM event-time interval join with bounded state: each
    * left row pairs with right rows of the same key whose ts falls in
    * `[left.ts − within, left.ts]` (purchase ← the clicks that preceded
    * it, alert ← the deploys before it). Both sides carry watermarks
    * and the join predicate is time-bounded, which is exactly what
    * lets Spark EVICT buffered rows past `watermark + within` — the
    * canonical state-bounding recipe for stream-stream joins; without
    * the time bound both sides buffer forever. Right columns surface
    * with an `r_` prefix. Semantically this is the stream-stream twin
    * of [[graft.ops.RangeJoin.rangeJoin]] with left rows as points and
    * right rows opening `[ts, ts + within]` windows
    * (EventStreamsSpec-pinned equivalence). */
  def withinJoin(left: DataFrame, right: DataFrame, key: String,
      within: String = "1 hour", watermark: String = "2 hours"): DataFrame = {
    val clash = right.columns.map("r_" + _).filter(left.columns.contains)
    require(clash.isEmpty,
      s"withinJoin: left side already has prefixed output column(s) " +
        s"${clash.mkString(", ")}; rename them before joining")
    val rPref = right.columns.foldLeft(right)((df, c) =>
      df.withColumnRenamed(c, s"r_$c"))
    left.withWatermark("ts", watermark)
      .join(rPref.withWatermark("r_ts", watermark),
        col(key) === col(s"r_$key") &&
          col("r_ts") >= col("ts") - expr(s"INTERVAL $within") &&
          col("r_ts") <= col("ts"))
      .drop(s"r_$key")
  }

  /** Event-time sessionization with Spark's native session windows:
    * a session closes after `gap` of inactivity per user. */
  def sessionized(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("total_value"))

  /** Custom keyed state via mapGroupsWithState: running per-user
    * totals across triggers (update mode). */
  def runningUserTotals(events: Dataset[Event]): Dataset[UserTotals] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserTotals, UserTotals](GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[Event], state: GroupState[UserTotals]) =>
          val prev = state.getOption.getOrElse(UserTotals(uid, 0L, 0.0))
          val next = batch.foldLeft(prev) { (acc, e) =>
            UserTotals(uid, acc.n_events + 1, acc.total_value + e.value)
          }
          state.update(next)
          next
      }
  }

  /** Stream-static enrichment: the streaming fact joined to batch
    * dimension tables (broadcast each micro-batch — the serving-layer
    * J1 join, streaming edition). */
  def enriched(events: DataFrame, dims: DataFrame, key: String): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(dims), Seq(key), "left")

  /** Streaming exact dedup with bounded state: duplicates arriving
    * within the watermark horizon are dropped by key; state for keys
    * older than the watermark is evicted (the streaming twin of
    * [[graft.ops.Dedup.exact]]). */
  def dedupedWithinWatermark(events: DataFrame, keys: Seq[String],
      watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Streaming URL dedup — the crawl's stage-one dedup ON INGEST:
    * canonicalize every arriving page's URL ([[graft.ops.Url]] — the
    * scan-local expression, unchanged) and keep only the FIRST arrival
    * per canonical key within the watermark horizon. State is one entry
    * per distinct canonical URL inside the horizon, evicted by
    * watermark — bounded by crawl rate, not corpus size. The batch twin
    * is [[graft.ops.Url.keepFirstByUrl]] (keep-first there is min-id;
    * here it is first-ARRIVAL — identical when ingest order follows
    * id order, the replay-equivalence EventStreamsSpec pins). Requires
    * an event-time `ts` column. Output schema = input schema: the
    * working `canon_url` key is dropped after the dedup, so the stream
    * twin is column-compatible with the batch twin (which also returns
    * the original columns only). */
  def urlDedupStream(pages: DataFrame, urlCol: String,
      watermark: String = "1 hour"): DataFrame = {
    graft.ops.Reserved.requireAbsent("urlDedupStream", Seq("canon_url"), pages)
    dedupedWithinWatermark(
      pages.withColumn("canon_url",
        graft.ops.Url.dedupKey(col(urlCol))),
      Seq("canon_url"), watermark)
      .drop("canon_url")
  }

  /** Streaming boilerplate removal — the incremental twin of
    * [[graft.ops.Boilerplate.stripLinesIncrement]], wired as a
    * foreachBatch stream (the [[idempotentAppend]] pattern): yesterday's
    * crawl's persisted line statistics strip today's arriving pages.
    * With `broadcastSet = true` (default) the boilerplate set is
    * derived from the stats ONCE at wiring time and COLLECTED to the
    * driver (small by construction — frequency-filtered), then
    * re-created as a local DataFrame for every micro-batch: resilient
    * for the stream's whole lifetime (a localCheckpoint here would
    * pin executor-resident blocks with no fault tolerance — one
    * executor loss hours in would fail every later micro-batch), and
    * the stats files are never re-read after start. With
    * `broadcastSet = false` (a set too large for the driver — the
    * ~10⁷-site crawl) each micro-batch re-derives the set from the
    * persisted stats and takes the shuffle join: per-trigger
    * re-aggregation is the honest trade at that scale, and the stats
    * path must stay live for the stream's lifetime. A doc's lines must
    * arrive within one micro-batch (reassembly is batch-local — the
    * same whole-unit contract as [[packStream]]'s per-shard packing);
    * replaying the batches reproduces the batch operator's output
    * exactly (EventStreamsSpec-pinned). `sink` receives each stripped
    * batch: one row per input doc, (idCol, n_lines, n_kept,
    * clean_text). */
  def boilerplateStripStream(lines: DataFrame, idCol: String,
      grpCol: String, idxCol: String, lineCol: String, statsPath: String,
      maxDocFrac: Double, checkpoint: String, minGrpDocs: Int = 2,
      broadcastSet: Boolean = true,
      trigger: Trigger = Trigger.AvailableNow())(
      sink: DataFrame => Unit): StreamingQuery = {
    val spark = lines.sparkSession
    val boiler: () => DataFrame =
      if (broadcastSet) {
        val derived = graft.ops.Boilerplate.boilerplateSetFromStats(
          spark, statsPath, grpCol, maxDocFrac, minGrpDocs)
        val schema = derived.schema
        val rows = derived.collect().toSeq
        () => spark.createDataFrame(
          spark.sparkContext.parallelize(rows), schema)
      } else {
        () => graft.ops.Boilerplate.boilerplateSetFromStats(
          spark, statsPath, grpCol, maxDocFrac, minGrpDocs)
      }
    lines.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        sink(graft.ops.Boilerplate.stripLinesWithSet(
          batch, idCol, grpCol, idxCol, lineCol, boiler(), broadcastSet))
      }
      .start()
  }

  /** Streaming BPE tokenization — the crawl tokenizer: documents
    * arrive, each micro-batch is tokenized against the PERSISTED
    * word→subwords table ([[graft.ops.Bpe.tokenizeIncrement]]), and
    * each batch's new distinct words fold into the table
    * (`appendNew = true`) so later batches — and later streams — only
    * pay merge application for vocabulary they have never seen. The
    * merge-table fingerprint check runs at every batch, so a table
    * swapped under a live stream fails fast instead of silently
    * tokenizing with the wrong vocabulary. Replaying the batches
    * reproduces plain [[graft.ops.Bpe.tokenize]] exactly
    * (EventStreamsSpec-pinned — tokenization is a pure per-word
    * function, so batch boundaries cannot change the output). `sink`
    * receives each batch's (idCol, pos, sub_pos, subword) rows. */
  def tokenizeStream(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)], tablePath: String, checkpoint: String,
      eow: String = graft.ops.Bpe.EndOfWord,
      broadcastTable: Boolean = true,
      materializeTable: Boolean = false,
      trigger: Trigger = Trigger.AvailableNow())(
      sink: DataFrame => Unit): StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // materializeTable defaults FALSE here: the stream only ever
        // APPENDS to its own table (never rotates it mid-batch), and
        // appended duplicates dedup on read — eagerly checkpointing the
        // whole cumulative table every trigger would pay O(vocabulary)
        // per batch, growing for the stream's lifetime
        sink(graft.ops.Bpe.tokenizeIncrement(batch, idCol, textCol, merges,
          tablePath, appendNew = true, eow = eow,
          broadcastTable = broadcastTable,
          materializeTable = materializeTable))
      }
      .start()

  /** Streaming context-window chunking — the long-doc twin of
    * [[graft.ops.TextOps.chunkTokenWindows]] (q_doc_chunk's operator).
    * Chunking is STATELESS per row, so unlike [[tokenizeStream]] no
    * foreachBatch or keyed state is needed: the same codegen'd builtins
    * run inside the micro-batch plan, the stream works in pure Append
    * mode with any sink/trigger, and batch boundaries cannot change the
    * output (EventStreamsSpec pins replay ≡ the batch operator).
    * Output: one row per (doc, chunk) — (idCol, chunk_id, chunk). */
  def chunkStream(docs: DataFrame, idCol: String, textCol: String,
      window: Int, stride: Int): DataFrame =
    docs.select(col(idCol),
      posexplode(graft.ops.TextOps.chunkTokenWindows(col(textCol), window, stride))
        .as(Seq("chunk_id", "chunk")))

  /** Streaming BM25 index maintenance — the stream twin of
    * [[graft.ops.Bm25.appendIndex]] (q_bm25_index's operator): each
    * micro-batch of newly-crawled docs folds its postings + integer
    * meta deltas into the persisted index, so the searchable corpus
    * grows trigger by trigger and any later [[graft.ops.Bm25
    * .topKIndexed]] sees exactly the docs ingested so far. Append-only
    * by construction (postings/doclen/meta all append; no
    * read-modify-write). The batchId passes into the append, which
    * turns a RETRIED batch (foreachBatch's at-least-once delivery)
    * into a resume instead of a duplication: a fully-landed replay is
    * skipped, a torn meta-only state finishes just its postings —
    * every crash point converges to the no-crash index
    * (Bm25Spec's crash-replay cases pin it). Equivalence to one
    * batch build is EventStreamsSpec-pinned. Takedowns against an
    * index THIS stream maintains should pass `checkpoint` to
    * [[graft.ops.Bm25.removeDocs]] — the runtime guard
    * ([[graft.ops.IndexMaintenance.requireBatchesCommitted]]) then
    * refuses to strip rows of a batch whose commit hasn't landed,
    * closing the replay-resurrection race.
    *
    * Every append adds one file per touched bucket, so at trigger
    * cadence the index hits the small-file cliff in days —
    * `compactEvery = n` runs [[graft.ops.Bm25.compactIndex]] after
    * every n-th micro-batch (crash-safe staged-rename re-layout;
    * results are bit-identical before/after, Bm25Spec-pinned), keeping
    * per-bucket file counts O(1) without an external janitor.
    * `compactOverFiles = f` is the ADAPTIVE form: compact when the
    * index's MEASURED parquet file count exceeds f
    * ([[graft.ops.IndexMaintenance.parquetFileCount]]). Batch counts
    * are an indirect fragmentation proxy — one append spreads across
    * up to nBuckets files, so a fixed n mis-compacts by the
    * touched-bucket factor, which varies with batch content. The r17
    * audit (40 × 100-doc batches, 64 buckets): uncompacted debt
    * grows 24.7 files/batch to 988
    * files; `compactEvery = 10` ends at 36 files with 4 compactions;
    * `compactOverFiles = 128` ends at 60 having compacted every ~5
    * batches — the file knob BOUNDS what reads pay (files opened)
    * directly, the schedule knob bounds compaction work; pick by
    * which bound is the contract, or set both (either condition
    * compacts). The probe is one recursive listing per trigger, only
    * when armed — a metadata round-trip on object stores. */
  def bm25IndexStream(docs: DataFrame, idCol: String, textCol: String,
      indexPath: String, checkpoint: String, nBuckets: Int = 64,
      trigger: Trigger = Trigger.AvailableNow(),
      compactEvery: Int = 0, compactOverFiles: Int = 0): StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.ops.Bm25.appendIndex(batch, indexPath, idCol, textCol, nBuckets,
          Some(batchId))
        if (shouldCompact(batch.sparkSession, batchId, compactEvery,
            compactOverFiles, indexPath))
          graft.ops.Bm25.compactIndex(batch.sparkSession, indexPath)
      }
      .start()

  /** The shared compaction predicate behind the index maintainers'
    * two knobs: the batch-count schedule (`compactEvery`) and the
    * measured-file-count trigger (`compactOverFiles`); either firing
    * compacts. The file probe only runs when its knob is armed — the
    * schedule-only configuration pays no extra listing. */
  private def shouldCompact(spark: org.apache.spark.sql.SparkSession,
      batchId: Long, compactEvery: Int, compactOverFiles: Int,
      watchedDir: String): Boolean =
    (compactEvery > 0 && (batchId + 1) % compactEvery == 0) ||
      (compactOverFiles > 0 &&
        graft.ops.IndexMaintenance.parquetFileCount(spark, watchedDir) >
          compactOverFiles)

  /** Streaming keep-first paragraph dedup — the stream twin of
    * [[graft.ops.Dedup.paragraphDedup]], wired as a foreachBatch
    * stream over the persisted fingerprint index
    * ([[graft.ops.Dedup.paragraphDedupIncrement]]): paragraphs seen in
    * ANY earlier micro-batch strip from arriving docs, each batch's
    * fresh paragraphs dedupe keep-first within the batch, and the
    * fresh fingerprints fold into the index. A doc's lines must
    * arrive within one micro-batch (reassembly is batch-local — the
    * [[boilerplateStripStream]] whole-unit contract). Replaying
    * doc-ascending batches reproduces the batch operator exactly
    * (EventStreamsSpec-pinned). Output-first/append-second crash
    * ordering is the increment's (a retried batch re-emits, never
    * self-strips). `sink` receives one row per input doc:
    * (idCol, n_paras, n_kept, clean_text). `compactEvery = n` runs
    * [[graft.ops.IndexMaintenance.compactDir]] (dedupeRows — retry
    * duplicates are inert) on the fingerprint dir after every n-th
    * micro-batch; `compactOverFiles = f` compacts on the MEASURED
    * file count instead — the [[bm25IndexStream]] small-file stance,
    * both knobs composing the same way. */
  def paraDedupStream(lines: DataFrame, idCol: String, posCol: String,
      paraCol: String, indexPath: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow(),
      compactEvery: Int = 0, compactOverFiles: Int = 0)(
      sink: DataFrame => Unit): StreamingQuery =
    lines.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink(graft.ops.Dedup.paragraphDedupIncrement(
          batch, indexPath, idCol, posCol, paraCol, Some(batchId)))
        if (shouldCompact(batch.sparkSession, batchId, compactEvery,
            compactOverFiles, s"$indexPath/pmd5"))
          graft.ops.IndexMaintenance.compactDir(batch.sparkSession,
            s"$indexPath/pmd5", dedupeRows = true)
      }
      .start()

  /** Streaming ANN index maintenance — the stream twin of
    * [[graft.ops.Ivf.appendIndex]], completing the index-maintainer
    * matrix (band/chunk/line-stats/subword/BM25/profile/paragraph/
    * semantic/ANN all stream now): each micro-batch of (id, embedding)
    * rows assigns under the FROZEN persisted quantizer and folds into
    * the cell partitions, so any later
    * [[graft.ops.Ivf.topKIndexed]] probe sees exactly the vectors
    * ingested so far. The batchId passes through, making a retried
    * batch a RESUME (appendlog-first protocol — a replay can never
    * duplicate candidates in probe results); `compactEvery = n`
    * restores one file per cell every n-th batch and
    * `compactOverFiles = f` does so when the cells dir's measured
    * file count exceeds f (the [[bm25IndexStream]] adaptive stance).
    * Drift contract is the batch operator's: the quantizer froze at
    * build time, monitor [[graft.ops.Ivf.cellStats]] and rebuild when
    * cells unbalance. */
  def annIndexStream(vectors: DataFrame, indexPath: String,
      checkpoint: String, trigger: Trigger = Trigger.AvailableNow(),
      compactEvery: Int = 0, compactOverFiles: Int = 0): StreamingQuery =
    vectors.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.ops.Ivf.appendIndex(batch.sparkSession, batch, indexPath,
          Some(batchId))
        if (shouldCompact(batch.sparkSession, batchId, compactEvery,
            compactOverFiles, s"$indexPath/cells"))
          graft.ops.Ivf.compactIndex(batch.sparkSession, indexPath)
      }
      .start()

  /** Streaming semantic dedup — the stream twin of
    * [[graft.ops.SemDedup.semDedup]], completing the dedup matrix
    * (paragraph / boilerplate / near-dup / semantic all have stream
    * forms now): each arriving micro-batch of (id, embedding) rows
    * assigns to the FROZEN `centroids`, prunes τ-close rows against
    * every earlier batch AND lower-id batch mates
    * ([[graft.ops.SemDedup.semDedupIncrement]]), and folds its vectors
    * into the persisted cluster-keyed index. For id-ascending arrival
    * the union of emissions equals the one-shot batch operator
    * (EventStreamsSpec-pinned). Output-first/append-second + the
    * batchId stamp give the full crash-replay safety of the paragraph
    * stream. `sink` receives the batch's SURVIVORS. `compactEvery = n`
    * dedupe-compacts the vector index every n-th batch;
    * `compactOverFiles = f` on its measured file count (the
    * [[bm25IndexStream]] adaptive stance). */
  def semDedupStream(vectors: DataFrame, centroids: DataFrame,
      threshold: Double, indexPath: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow(),
      compactEvery: Int = 0, compactOverFiles: Int = 0)(
      sink: DataFrame => Unit): StreamingQuery =
    vectors.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink(graft.ops.SemDedup.semDedupIncrement(
          batch, centroids, threshold, indexPath, Some(batchId)))
        if (shouldCompact(batch.sparkSession, batchId, compactEvery,
            compactOverFiles, s"$indexPath/vectors"))
          graft.ops.IndexMaintenance.compactDir(batch.sparkSession,
            s"$indexPath/vectors", dedupeRows = true)
      }
      .start()

  final case class BandedDoc(band_key: Long, id: Long, sh: Array[Long])
  final case class NearDupHit(id: Long, dup_of: Long, jaccard: Double)

  /** Streaming interval attach — the stream twin of
    * [[graft.ops.RangeJoin.rangeJoin]]: each arriving micro-batch of
    * POINTS equi-joins (key, time-bucket) against a STATIC interval
    * table (active experiments, calibration windows, attribution
    * periods). The bucket width resolves ONCE at stream setup
    * ([[graft.ops.RangeJoin.autoWidth]]) and rides every batch as a
    * caller width, so the static side is never re-aggregated per
    * trigger; state is the bounded interval table itself — the stream
    * side never accumulates. Replaying the batches reproduces the
    * batch operator exactly (EventStreamsSpec-pinned: streamed union ≡
    * one-shot [[graft.ops.RangeJoin.rangeJoin]]). */
  def rangeAttachStream(points: DataFrame, intervals: DataFrame,
      keys: Seq[String], ptCol: String, startCol: String, endCol: String,
      rightPayload: Seq[String], checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow())(
      sink: DataFrame => Unit): StreamingQuery = {
    val w = graft.ops.RangeJoin.autoWidth(intervals, startCol, endCol)
    points.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        sink(graft.ops.RangeJoin.rangeJoin(batch, intervals, keys,
          ptCol, startCol, endCol, rightPayload, bucketWidth = w))
      }
      .start()
  }

  /** Streaming profile maintenance — the stream twin of
    * [[graft.ops.Profile.appendStats]]: each micro-batch folds its
    * mergeable statistics (counts, typed min/max, HLL distinct
    * sketches) into the persisted profile; a monitor reads the
    * up-to-date table profile any time with
    * [[graft.ops.Profile.readProfile]] without ever re-scanning the
    * ingested data. The dir grows one wide row per trigger; compact
    * with [[graft.ops.IndexMaintenance.compactDir]] — but with
    * `dedupeRows = false`: profile rows are additive COUNTERS whose
    * multiplicity is load-bearing, unlike the fingerprint-set indexes.
    * Counters also mean a REPLAYED batch would double-count — and
    * foreachBatch is at-least-once (a crash after the append lands but
    * before the checkpoint commits replays the batch), so each row is
    * stamped with its batchId and
    * [[graft.ops.Profile.readProfile]] dedups stamped rows by
    * batch_id: the replay rewrites an identical row that merges to
    * nothing. Pinned by ProfileSpec's simulated-replay case. */
  def profileStream(rows: DataFrame, cols: Seq[String], statsPath: String,
      checkpoint: String, trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    rows.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.ops.Profile.appendStats(batch, statsPath, cols, Some(batchId))
      }
      .start()

  /** Streaming near-duplicate detection — dedup-on-ingest for a
    * training-data pipeline: each arriving document is MinHash-banded
    * ([[graft.expr.MinHashBands]]); per LSH bucket, keyed state holds
    * the (id, hashed-shingles) of previously seen members, and each
    * newcomer is exact-Jaccard-verified against them. Emits one
    * [[NearDupHit]] per (new doc, earlier doc) pair at ≥ `threshold`
    * (a pair colliding in several buckets can emit more than once —
    * dedup downstream if exact-once pairs matter; the batch twin
    * [[graft.ops.Dedup.minhashNearDups]] is the reconciliation path).
    *
    * State is bounded two ways: per bucket it keeps at most
    * `maxPerBucket` members (FIFO — a bucket that large means the
    * corpus needs more bands/bits, same tuning rule as batch LSH), and
    * optionally buckets idle longer than `stateTtl` expire via
    * processing-time timeout (off by default: the timeout mode makes
    * Spark schedule continuous no-data micro-batches, which is the
    * right trade on a real cluster but pure overhead in bounded tests).
    * At scale the stream shuffles once, on the band key — exactly the
    * batch candidate topology, incrementalized.
    *
    * @param docs streaming (id: long, text: string)
    */
  def nearDupHits(docs: DataFrame, threshold: Double = 0.8, n: Int = 3,
      k: Int = 48, bands: Int = 16, maxPerBucket: Int = 64,
      stateTtl: Option[String] = None): Dataset[NearDupHit] = {
    import docs.sparkSession.implicits._
    val banded = docs
      .withColumn("sh", graft.ops.Dedup.hashedShingles(col("text"), n))
      .where(size(col("sh")) > 0)
      .select(col("id"), col("sh"),
        explode(graft.ops.Dedup.minhashBands(col("sh"), k, bands)).as("band_key"))
      .select(col("band_key"), col("id"), col("sh"))
      .as[BandedDoc]
    val timeout =
      if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    banded
      .groupByKey(_.band_key)
      .flatMapGroupsWithState[List[(Long, Array[Long])], NearDupHit](
        OutputMode.Append(), timeout) {
        (_, docsInBucket, state: GroupState[List[(Long, Array[Long])]]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var seen = state.getOption.getOrElse(Nil)
            val hits = scala.collection.mutable.ArrayBuffer.empty[NearDupHit]
            docsInBucket.foreach { d =>
              seen.foreach { case (pid, psh) =>
                if (pid != d.id) {
                  val j = jaccardSortedArrays(d.sh, psh)
                  if (j >= threshold) hits += NearDupHit(d.id, pid, j)
                }
              }
              seen = ((d.id, d.sh) :: seen).take(maxPerBucket)
            }
            state.update(seen)
            stateTtl.foreach(state.setTimeoutDuration)
            hits.iterator
          }
      }
  }

  final case class ShardedDoc(shard: Int, doc_id: Long, n_tok: Long)
  final case class PackedDoc(shard: Int, doc_id: Long, n_tok: Long,
    tokens_before: Long, window_id: Long)

  /** Streaming sequence packing — the incremental twin of
    * [[graft.ops.Packing.assignWindows]]: documents arrive sharded, and
    * each shard keeps ONE long of state (its running token total), so a
    * doc is assigned to the training window where its first token lands
    * no matter how the stream is micro-batched. Within a micro-batch a
    * shard's docs pack in doc_id order (deterministic); windows are
    * per-shard — (shard, window_id) is the training-window key, which
    * is exactly how a multi-writer shard layout packs at scale (one
    * sequential token stream per shard, shards in parallel).
    *
    * State is O(1) per shard and never times out: a packer must not
    * forget its offset. */
  def packStream(docs: Dataset[ShardedDoc], budget: Long): Dataset[PackedDoc] = {
    require(budget > 0, "budget must be positive")
    import docs.sparkSession.implicits._
    docs
      .groupByKey(_.shard)
      .flatMapGroupsWithState[Long, PackedDoc](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (shard, batch, state: GroupState[Long]) =>
          var off = state.getOption.getOrElse(0L)
          val out = batch.toSeq.sortBy(_.doc_id).map { d =>
            val before = off
            off += d.n_tok
            PackedDoc(shard, d.doc_id, d.n_tok, before, before / budget)
          }
          state.update(off)
          out.iterator
      }
  }

  final case class SidedEvent(key: Long, ts: java.sql.Timestamp, isRight: Boolean, value: Double)
  final case class AsofHit(key: Long, ts: java.sql.Timestamp, value: Double,
    asof_value: Option[Double])
  final case class AsofState(ts: Long, value: Double) // ts in MICROS (see tsMicros)

  /** Streaming as-of join — the incremental twin of
    * [[graft.ops.AsofJoin.asofJoin]]: left rows pick up the most recent
    * right value at-or-before their timestamp, per key. Feed ONE stream
    * of side-tagged rows (union the two sources with an `isRight`
    * flag — the same union–carry-forward shape as the batch operator,
    * which never builds a join either).
    *
    * State is O(1) per key: the single latest right (ts, value) — the
    * carry. Within a micro-batch rows process in (ts, right-first)
    * order, so a right row ties with a left row at the same instant the
    * way the batch `l.ts >= r.ts` contract does, and intra-batch
    * disorder is repaired for free. ACROSS batches the carry only moves
    * forward: a right row arriving in a later micro-batch than a
    * left row it should have served cannot retro-correct an emitted row
    * (Append mode) — replay in event-time order for exact parity
    * (pinned ≡ the batch operator in EventStreamsSpec), and treat the
    * batch as-of as the reconciliation path, same stance as
    * [[nearDupHits]]. State never times out: a carry must not forget
    * its last quote. */
  /** Full-precision micros of a Timestamp — `getTime` alone truncates
    * to milliseconds, which would mis-order sub-millisecond events
    * (Spark's TimestampType carries microseconds; events.parquet does). */
  private def tsMicros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  def asofStream(events: Dataset[SidedEvent]): Dataset[AsofHit] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.key)
      .flatMapGroupsWithState[AsofState, AsofHit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key, batch, state: GroupState[AsofState]) =>
          var carry = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[AsofHit]
          batch.toSeq.sortBy(e => (tsMicros(e.ts), !e.isRight)).foreach { e =>
            if (e.isRight) {
              if (carry.forall(_.ts <= tsMicros(e.ts)))
                carry = Some(AsofState(tsMicros(e.ts), e.value))
            } else {
              val asof = carry.filter(_.ts <= tsMicros(e.ts)).map(_.value)
              out += AsofHit(key, e.ts, e.value, asof)
            }
          }
          carry.foreach(state.update)
          out.iterator
      }
  }

  final case class FunnelState(times: Seq[Long]) // t1..t_depth, micros
  final case class FunnelRow(user_id: Long, depth: Long, times: Seq[Long])

  /** Streaming conversion funnel — the incremental twin of
    * [[graft.ops.Funnel.funnel]] (min-chain semantics: t1 = the user's
    * earliest step-1 event; t_k = the earliest step-k event strictly
    * after t_(k−1) within `windowUs` of t1). State is O(steps) per
    * user — just the chain times — folded forward: greedy-earliest is
    * exactly what an ascending scan computes, so for per-user
    * event-time-ascending arrival ACROSS micro-batches the latest
    * emitted row per user ≡ the batch funnel over the replayed events
    * (EventStreamsSpec pins it; intra-batch disorder is repaired by a
    * per-batch sort, the [[asofStream]] stance). An out-of-order
    * step-1 event that precedes a consumed t1 cannot retro-anchor the
    * chain — replay in event-time order for exact parity and treat the
    * batch funnel as the reconciliation path, the [[nearDupHits]]
    * stance.
    *
    * Update mode: a row (user, depth, t1..t_depth) re-emits whenever
    * the user's chain advances; the sink's latest row per user is the
    * live funnel table.
    *
    * The WATERMARK bounds state (the one unbounded-state risk: one
    * state row per user ever seen): once the watermark passes
    * t1 + windowUs the chain can never advance again — every
    * qualifying event must be ≤ t1 + windowUs and later events are
    * late beyond the watermark — so the state times out and drops.
    * After eviction a NEW step-1 event from that user starts a FRESH
    * chain (emitted at depth 1); the batch funnel, which anchors on
    * the global earliest t1, would not — the documented divergence of
    * the bounded-state trade, pinned explicitly in the spec. */
  def funnelStream(events: Dataset[Event], steps: Seq[String],
      windowUs: Long, watermark: String = "1 hour"): Dataset[FunnelRow] = {
    require(steps.nonEmpty, "funnelStream: at least one step")
    require(windowUs > 0, "funnelStream: window must be positive")
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelRow](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout()) {
        (uid, batch, state: GroupState[FunnelState]) =>
          if (state.hasTimedOut) {
            // watermark passed t1 + window: the chain is final and its
            // rows were already emitted — drop the state
            state.remove()
            Iterator.empty
          } else {
            var times = state.getOption.map(_.times.toVector).getOrElse(Vector.empty)
            val before = times.length
            batch.toSeq.sortBy(e => tsMicros(e.ts)).foreach { e =>
              val us = tsMicros(e.ts)
              val depth = times.length
              if (depth == 0) {
                if (e.event_type == steps.head) times = Vector(us)
              } else if (depth < steps.length && e.event_type == steps(depth) &&
                  us > times.last && us <= times.head + windowUs) {
                times = times :+ us
              }
            }
            if (times.nonEmpty) {
              state.update(FunnelState(times))
              // event-time timeout is in MILLIS and must not precede
              // the current watermark (Spark rejects it) — clamp up
              val deadlineMs = Math.floorDiv(times.head + windowUs, 1000L) + 1L
              state.setTimeoutTimestamp(
                math.max(deadlineMs, state.getCurrentWatermarkMs() + 1L))
            }
            if (times.length > before)
              Iterator.single(FunnelRow(uid, times.length.toLong, times))
            else Iterator.empty
          }
      }
  }

  /** Exact Jaccard of two sorted distinct long arrays (the executor-
    * side twin of [[graft.expr.JaccardSorted]]'s merge loop). */
  private def jaccardSortedArrays(a: Array[Long], b: Array[Long]): Double = {
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    val union = a.length + b.length - inter
    if (union > 0) inter.toDouble / union else 0.0
  }

  /** The reference's idempotent append (J6) as a streaming upsert:
    * each micro-batch is deduped on `keys`, anti-joined against the
    * target table, and only the new keys are appended — re-delivered
    * events insert nothing (exactly-once effect on at-least-once
    * delivery). */
  /** Streaming contamination scoring — the decontamination check
    * applied at INGEST time: each arriving doc's distinct word-n-gram
    * containment against a STATIC benchmark shingle set (the test-side
    * of the batch gate, q_contamination, with the benchmark in the
    * train role). A benchmark is small by construction, so its
    * xxhash64'd shingles ride into the plan as ONE sorted literal
    * array (KB-scale — the DSIR weights-array / LshKeys plane-tensor
    * precedent) and every doc scores in a single STATELESS projection:
    * shingles → hash → sort → merge-count
    * ([[graft.expr.IntersectCount]]). No join, no aggregation state,
    * no watermark — legal in append mode on an unbounded stream, and
    * the identical column expressions run in batch
    * (EventStreamsSpec pins stream ≡ the batch contamination join
    * row-for-row). n_shingles counts STRING-distinct shingles; the
    * overlap compares 64-bit hashes, where a collision inflating
    * n_overlap is a ~10⁻¹³-per-pair event (the batch gate joins exact
    * strings — same stance as [[nearDupHits]]). Docs with no n-gram
    * (< n tokens) drop, like the batch gate. */
  def contaminationScoreStream(docs: DataFrame, idCol: String, textCol: String,
      benchHashes: Array[Long], n: Int = 3): DataFrame = {
    graft.ops.Reserved.requireAbsent("contaminationScoreStream",
      Seq("__s", "__sh", "n_shingles", "n_overlap", "contamination"),
      docs.select(col(idCol), col(textCol)))
    docs
      .select(col(idCol), col(textCol),
        graft.ops.Dedup.shingles(col(textCol), n).as("__s"))
      .where(size(col("__s")) > 0)
      .select(col(idCol),
        size(col("__s")).cast("long").as("n_shingles"),
        graft.expr.IntersectCount.intersectCount(
          sort_array(array_distinct(transform(col("__s"), s => xxhash64(s)))),
          // sorted defensively here, NOT trusted from the caller: the
          // merge-walk silently undercounts on an unsorted literal, and
          // one driver-side sort per stream START is free. (Already
          // sorted when it came from [[benchShingleHashes]].)
          typedlit(benchHashes.sorted.toSeq)).cast("long").as("n_overlap"))
      .withColumn("contamination",
        round(col("n_overlap").cast("double") / col("n_shingles").cast("double"), 6))
  }

  /** One-time hashed benchmark set for [[contaminationScoreStream]] —
    * a bounded driver collect (the benchmark is the SMALL side by
    * definition; a benchmark too large to collect should use the batch
    * containment join instead). */
  def benchShingleHashes(bench: DataFrame, textCol: String, n: Int = 3): Array[Long] =
    bench.select(explode(graft.ops.Dedup.shingles(col(textCol), n)).as("s"))
      .select(xxhash64(col("s")).as("h")).distinct()
      .collect().map(_.getLong(0)).sorted

  def idempotentAppend(
      stream: DataFrame,
      wh: Warehouse,
      table: String,
      keys: Seq[String],
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val deduped = batch.dropDuplicates(keys)
        val existing = wh.readOrEmpty(table,
          org.apache.spark.sql.types.StructType(
            deduped.schema.fields))
        val fresh = deduped.join(existing.select(keys.map(col): _*), keys, "left_anti")
        wh.write(table, fresh, SaveMode.Append)
      }
      .start()
}
