package graft.ops

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Shared maintenance for the persisted append-only index directories
  * the incremental operators accumulate (paragraph-dedup fingerprints,
  * MinHash band indexes, boilerplate line stats, …): every append adds
  * at least one parquet file, so at streaming cadence any of them hits
  * the small-file cliff — a year of 5-minute triggers is ~10⁵ files,
  * and every query pays the listing + open cost.
  *
  * [[compactDir]] is the generic re-layout: read → optionally
  * `distinct` → repartition → staged-rename swap (live→__old,
  * staged→live, drop __old — the `Warehouse.compact` crash ordering:
  * every intermediate state keeps the data adjacent, never
  * deleted-before-replaced). It is only correct for indexes whose
  * semantics are ROW-SET semantics — where any rewrite of the same
  * rows (or, with `dedupeRows`, of the distinct row set) answers
  * queries identically. That holds for fingerprint sets (anti-join
  * membership), band indexes (candidate generation), and additive
  * stats rows; it does NOT hold for anything carrying file-order or
  * per-append meta — [[Bm25.compactIndex]] stays bespoke for exactly
  * that reason (its meta rows collapse by SUM, not distinct).
  */
object IndexMaintenance {

  /** One writer per `cell` partition dir for an index write — the
    * Bm25.appendIndex stance (without it every input task writes a
    * file into every cell it holds: |tasks|×|cells| small files at
    * scale, guide §6) — but ADAPTIVE: a frame that is already a single
    * partition writes one file per cell with no exchange at all, so
    * the shuffle is paid exactly when it buys layout (the r18 paired
    * bench measured the unconditional form taxing every gate-scale
    * save/append ~0.2 s for zero file-count change). */
  private[ops] def oneWriterPerCell(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // Decide WITHOUT finalizing an adaptive plan: Dataset.rdd on a plan
    // containing exchanges executes those shuffle stages eagerly (AQE
    // finalization), and the subsequent .write is a FRESH query
    // execution — a caller passing a joined/shuffled frame would
    // silently compute its whole upstream pipeline twice. A plan with
    // an exchange is multi-partition for this purpose anyway (shuffle
    // output spreads over the session's shuffle partitions), so the
    // .rdd partition probe runs only on exchange-free plans, where RDD
    // construction is lazy and runs nothing.
    val hasExchange = df.queryExecution.sparkPlan.exists {
      case _: org.apache.spark.sql.execution.exchange.Exchange => true
      case _ => false
    }
    if (!hasExchange && df.rdd.getNumPartitions <= 1) df
    else df.repartition(col("cell"))
  }

  /** Read an index DATA dir (IVF/PQ `cells/`, BM25 `postings/`) whose
    * ONLY schema evolution is the `batch_id` stamp: the plain read
    * infers from one footer — if that footer carries the stamp, files
    * without it surface null batch_id, exactly what a full footer
    * merge yields — and only a legacy pre-stamp dir (fast schema lacks
    * the column) pays the distributed `mergeSchema` footer-merge job.
    * Every current writer stamps (null for unstamped appends), so the
    * steady state is one driver-side footer read instead of a
    * |files|-task Spark job per maintenance action (these dirs hold
    * one file per cell/bucket — 16–128 files at gate scale, unbounded
    * between compactions at streaming cadence). Meta/log dirs do NOT
    * take this path: their rows mix schemas within one dir in normal
    * operation (append rows lack remove_id, decrement rows carry it),
    * so their reads keep mergeSchema — they are tiny by construction. */
  private[ops] def readStamped(spark: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    val fast = spark.read.parquet(dir)
    if (fast.columns.contains("batch_id")) fast
    else spark.read.option("mergeSchema", "true").parquet(dir)
  }

  /** Compact one flat parquet directory in place.
    *
    * @param dedupeRows also collapse duplicate rows — for
    *   membership-set indexes (e.g. the paragraph-dedup `pmd5` dir,
    *   where an at-least-once retry may have appended the same
    *   fingerprints twice); duplicates there are semantically inert,
    *   so dropping them is a pure shrink. Leave false for indexes
    *   where row multiplicity carries information (additive stats).
    * @param targetFiles output file count (1 is right until the index
    *   outgrows a single task's comfortable write — then pick
    *   ~bytes/128 MB).
    * @param partitionCols keep this hive-partition layout through the
    *   rewrite (e.g. the IVF `cell` key) — rows shuffle BY the
    *   partition columns so each task writes whole partitions: one
    *   file per partition value, the layout a partition-pruned probe
    *   wants; `targetFiles` is ignored on this path. */
  def compactDir(spark: SparkSession, dir: String,
      dedupeRows: Boolean = false, targetFiles: Int = 1,
      partitionCols: Seq[String] = Nil): Unit = {
    require(targetFiles > 0, "targetFiles must be positive")
    rewriteDir(spark, dir, targetFiles, partitionCols) { df0 =>
      if (dedupeRows) df0.distinct() else df0
    }
  }

  /** Rewrite one index directory EXCLUDING the rows whose `keyCol`
    * value appears in `keys` — the shared row-strip behind
    * DELETE/takedown propagation (the removeDocs family) and behind
    * clearing a partially-committed batch before a crash-replay
    * re-appends it (`keys` = the one batch_id). Anti-join semantics:
    * duplicate keys are harmless and rows with a NULL key never match
    * (legacy unstamped rows survive a batch_id strip untouched).
    * Naturally IDEMPOTENT — re-running the same exclusion is a pure
    * re-layout. Only correct for ROW-SET-semantics directories, like
    * [[compactDir]]; the rewrite doubles as a compaction (same layout
    * rules). `rangeSortCols` preserves a range-laid-out, sorted flat
    * dir (the band-index `buckets/` shape) instead of the
    * `targetFiles` collapse. */
  def rewriteExcludingKeys(spark: SparkSession, dir: String,
      keys: org.apache.spark.sql.DataFrame, keyCol: String,
      targetFiles: Int = 1, partitionCols: Seq[String] = Nil,
      rangeSortCols: Seq[String] = Nil): Unit =
    rewriteDir(spark, dir, targetFiles, partitionCols, rangeSortCols) { df0 =>
      require(df0.columns.contains(keyCol),
        s"rewriteExcludingKeys: $dir has no column $keyCol")
      df0.join(keys.select(col(keyCol)), Seq(keyCol), "left_anti")
    }

  /** Torn-swap guard for a persisted index dir about to be APPENDED
    * to: restore-or-abort BEFORE the write. Every `SaveMode.Append`
    * to an index dir shares the hazard the resume probes guard
    * against — if a compaction/strip of that dir crashed between its
    * two renames, the live dir is missing with the whole index in
    * `__old`, and a bare Append silently re-creates the dir holding
    * only the new batch (the next rewrite then deletes `__old`:
    * permanent loss). No-op when the dir exists or never existed. */
  private[ops] def guardAppend(spark: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    restoreTornSwap(p.getFileSystem(spark.sessionState.newHadoopConf()), dir)
  }

  /** If `dir` is MISSING because a staged-rename swap crashed between
    * its two renames (live→__old done, staged→live not), the complete
    * pre-rewrite data sits in the `__old` sibling — restore it. The
    * alternative (treating the index as "not created yet", which is
    * what a bare existence probe does) silently re-creates the dir
    * with only the current batch: loss of the whole prior index
    * through the recovery path itself. So when the dir is missing but
    * a swap sibling proves an index existed, this either restores or
    * FAILS LOUDLY — it never lets the caller degrade to "empty".
    *
    * No-op when `dir` exists (a dangling `__old` beside a live dir is
    * the harmless crash-after-swap-before-delete state; the next
    * rewrite clears it) or when neither sibling exists (the dir
    * genuinely was never created). After a restore the caller re-reads
    * a fully-consistent pre-rewrite dir; if the interrupted rewrite
    * was a partial-batch strip, the re-probe detects the partial batch
    * again and re-strips — the loop converges. */
  private[ops] def restoreTornSwap(fs: org.apache.hadoop.fs.FileSystem,
      dir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val live = new Path(dir)
    if (fs.exists(live)) return
    val old = new Path(s"$dir/../${live.getName}__old")
    val staged = new Path(s"$dir/../${live.getName}__compacting")
    if (fs.exists(old))
      require(fs.rename(old, live),
        s"torn swap at $dir: live dir missing and cannot restore $old — " +
          "restore it manually before appending")
    else if (fs.exists(staged))
      throw new IllegalStateException(
        s"torn rewrite at $dir: live dir missing, no __old to restore, but " +
          s"staged $staged exists — refusing to treat the index as empty; " +
          "inspect (the staged dir holds the interrupted rewrite's output)")
  }

  /** Rows of `dataDir` stamped with this batch id — 0 when the dir is
    * missing, carries no batch_id column, or holds only torn
    * first-write debris (dir exists, no committed footer: nothing of
    * any batch is visible there, so 0 is the truth, not a degrade). */
  private[ops] def landedCount(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, dataDir: String, b: Long): Long =
    if (!fs.exists(new org.apache.hadoop.fs.Path(dataDir))) 0L
    else try {
      val data = readStamped(spark, dataDir)
      if (!data.columns.contains("batch_id")) 0L
      else data.where(col("batch_id") === b).count()
    } catch { case _: Exception => 0L }

  /** The batch's EXPECTED landed count from its log rows, summed —
    * `None` = no row for this batch; `Some(None)` = a legacy row
    * without n_rows (existence-keyed resume is all that's recoverable);
    * `Some(Some(n))` = the summed expectation. SUM, not headOption: a
    * takedown ([[removeKeysWithLogDecrement]]) appends NEGATIVE
    * decrement rows per affected batch, so one batch may own several
    * log rows whose sum is the post-takedown truth — reading an
    * arbitrary single row would misread a takedown as a partial
    * commit and "repair" it by resurrecting removed rows. */
  private[ops] def loggedExpectation(log0: org.apache.spark.sql.DataFrame,
      b: Long, countCol: String = "n_rows"): Option[Option[Long]] = {
    val rows = log0.where(col("batch_id") === b)
    if (!log0.columns.contains(countCol)) {
      if (rows.isEmpty) None else Some(None)
    } else {
      val agg = rows.agg(count(lit(1)).as("c"),
        coalesce(sum(when(col(countCol).isNull, 1L).otherwise(0L)), lit(0L)).as("legacy"),
        coalesce(sum(col(countCol)), lit(0L)).as("s")).head()
      if (agg.getLong(0) == 0L) None
      else if (agg.getLong(1) > 0L) Some(None)
      else Some(Some(agg.getLong(2)))
    }
  }

  /** The shared RESUME PROBE of a log-first stamped append (the
    * [[Ivf.appendIndex]] protocol, reused by [[IvfPq.appendIndex]]):
    * given a tiny `logDir` of (batch_id, n_rows) intent rows written
    * BEFORE the data and a `dataDir` of batch_id-stamped rows, decide
    * how a (possibly replayed) stamped append should proceed — and
    * repair a PARTIALLY committed batch on the way.
    *
    * Returns (logLanded, fullyLanded):
    *   - (true, true)  → the batch landed completely; skip everything.
    *   - (true, false) → the log landed but the data is absent or was
    *     partial; any partial rows have been STRIPPED (staged swap) —
    *     write the data only, not the log.
    *   - (false, false) → nothing landed (or the probe degraded on an
    *     unreadable LOG dir): full append.
    *
    * Completeness is keyed on the logged EXPECTED row count — SUMMED
    * across the batch's log rows, so takedown decrement rows
    * ([[removeKeysWithLogDecrement]]) fold in — not mere existence: a
    * crash inside the data parquet job commit (all of it under
    * FileOutputCommitter v2) leaves SOME task files visible, and an
    * existence-keyed skip would permanently lose the rest. Legacy log
    * rows without n_rows resume on existence (nothing better is
    * recoverable for them).
    *
    * [[restoreTornSwap]] runs FIRST, unconditionally: a data dir lost
    * between a rewrite's two renames (everything in `__old`) must be
    * restored — or the append aborted — before ANY shape of append
    * touches the path; gating the restore on "this batch's log row
    * exists" would let a NEW or unstamped batch write into a silently
    * re-created dir and the next rewrite delete `__old` (permanent
    * loss of the prior index through the recovery path itself).
    *
    * Degrades are NARROW, each to the least-destructive reading:
    * an unreadable log dir (torn first write) → plain append (the
    * intent row never landed, re-logging is correct); a missing data
    * dir with the log row present and no swap sibling → the normal
    * log-first torn state: landed 0 with logLanded STILL TRUE, so the
    * resume writes the data only and the log keeps one row per batch;
    * a data dir with only torn write debris → landed 0, same path.
    * The strip and the restore run OUTSIDE every degrade — a failed
    * repair must abort the append, not be swallowed into a
    * duplicating one. */
  def resumeStampedAppend(spark: SparkSession, logDir: String,
      dataDir: String, batchId: Option[Long],
      partitionCols: Seq[String]): (Boolean, Boolean) = {
    import spark.implicits._
    val fs = new org.apache.hadoop.fs.Path(logDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // torn-swap restore runs UNCONDITIONALLY, before any branch: a
    // crash between a strip/compaction's two renames leaves the whole
    // index in __old, and EVERY append shape — a replay, a NEW batch
    // whose log row doesn't exist yet, an unstamped append — would
    // otherwise write into a silently re-created dataDir (the next
    // rewrite then deletes __old: permanent loss). Outside every
    // degrade: a failed restore must abort the append.
    restoreTornSwap(fs, dataDir)
    val (logLanded, expected, landed) = batchId match {
      case Some(b) if fs.exists(new org.apache.hadoop.fs.Path(logDir)) =>
        val logState =
          try loggedExpectation(
            spark.read.option("mergeSchema", "true").parquet(logDir), b)
          catch { case _: Exception => None }
        logState match {
          case None => (false, None, 0L)
          case Some(exp) =>
            (true, exp, landedCount(spark, fs, dataDir, b))
        }
      case _ => (false, None, 0L)
    }
    val fullyLanded = logLanded && (expected match {
      case Some(n) => landed == n
      case None => landed > 0 // legacy log row: existence-keyed resume
    })
    if (logLanded && !fullyLanded && landed > 0)
      rewriteExcludingKeys(spark, dataDir,
        Seq(batchId.get).toDF("batch_id"), "batch_id",
        partitionCols = partitionCols)
    (logLanded, fullyLanded)
  }

  /** Streaming-takedown safety guard: REFUSE (loudly) to run a
    * takedown while the maintaining stream's checkpoint shows work in
    * flight — the runtime form of the contract that was previously
    * documentation-only on [[Bm25.removeDocs]].
    *
    * TWO hazards, one guard:
    *   - Replay resurrection: a maintainer's `foreachBatch` body runs
    *     BEFORE the checkpoint's commit log records the batch, so a
    *     takedown racing an in-flight batch can strip rows that batch
    *     wrote — and the batch's replay (after a crash, or on restart)
    *     re-appends them: the removed docs silently come back.
    *   - Concurrent-append loss: every strip this guard fronts is a
    *     whole-dir read → staged-rename swap, so an append that lands
    *     between the strip's read and its swap is DISCARDED when the
    *     swap retires the old dir — committed-batch data loss, which
    *     is worse. An in-flight batch at check time makes that loss
    *     near-certain (strips and batches run on the same timescale).
    *
    * Both modes therefore require QUIESCENCE — every started batch
    * (`offsets/<b>`) must have committed (`commits/<b>`). Committedness
    * is the MAX-COMMIT INEQUALITY (commits are sequential — batch b
    * commits only after b − 1 — so b is committed iff b ≤ the log's
    * max entry), which stays correct after Spark purges old entries
    * per `minBatchesToRetain`. When `affected` carries a `batch_id`
    * column (bm25 postings, IVF/PQ cells), the distinct non-null
    * stamps among the rows being removed must ALSO all be ≤ max
    * committed — a cross-check that catches an index paired with the
    * wrong checkpoint, which bare quiescence cannot see.
    *
    * SCOPE — what this guard does and does not close: it closes the
    * replay-resurrection race and shrinks the concurrent-append-loss
    * window to "a batch that both starts and lands after the check"
    * (TOCTOU — the checkpoint has no liveness signal, so no check here
    * can see a batch that starts later). A takedown against an index
    * with a LIVE maintainer still requires the single-writer
    * maintenance window: stop the stream, or know it is idle for the
    * strip's duration. Call this with the checkpoint of the stream
    * that MAINTAINS the index; a takedown with no streaming maintainer
    * passes `None` upstream and never reaches here. */
  def requireBatchesCommitted(spark: SparkSession,
      affected: org.apache.spark.sql.DataFrame, checkpoint: String,
      context: String): Unit = {
    val cpPath = new org.apache.hadoop.fs.Path(checkpoint)
    val fs = cpPath.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(cpPath),
      s"$context: streaming checkpoint $checkpoint does not exist — " +
        "pass the checkpoint of the stream maintaining this index, or " +
        "None if no stream maintains it")
    def maxEntry(sub: String): Option[Long] = {
      val d = new org.apache.hadoop.fs.Path(cpPath, sub)
      if (!fs.exists(d)) None
      else fs.listStatus(d).iterator
        .flatMap(s => scala.util.Try(s.getPath.getName.toLong).toOption)
        .maxOption
    }
    val maxCommitted = maxEntry("commits")
    // Quiescence first, in BOTH modes: the strips this guard fronts
    // are whole-dir staged swaps, so an in-flight batch's append can
    // land between the strip's read and its swap and be discarded —
    // loss the per-batch stamp check below cannot prevent.
    val maxStarted = maxEntry("offsets")
    val inFlight = maxStarted.filter(s => !maxCommitted.exists(s <= _))
    if (inFlight.isDefined)
      throw new IllegalStateException(
        s"$context: refusing takedown — streaming batch ${inFlight.get} " +
          s"at $checkpoint has started (offsets/) but not committed " +
          "(commits/). Its replay would re-append removed rows, and its " +
          "in-flight append could land mid-strip and be lost by the " +
          "staged swap. Wait for the batch to commit (or stop the " +
          "stream) and retry.")
    if (affected.columns.contains("batch_id")) {
      // Cross-check: stamps on the rows being removed must be covered
      // by THIS checkpoint's commit log — a stamp above max committed
      // on a quiescent checkpoint means the index is paired with the
      // wrong checkpoint (or the log was truncated), and a replay
      // elsewhere could still resurrect the rows.
      val stamped = affected.where(col("batch_id").isNotNull)
        .select(col("batch_id").cast("long")).distinct()
        .collect().map(_.getLong(0)).sorted
      val uncommitted = stamped.filter(b => !maxCommitted.exists(b <= _))
      if (uncommitted.nonEmpty)
        throw new IllegalStateException(
          s"$context: refusing takedown — rows to remove belong to " +
            s"streaming batch(es) ${uncommitted.mkString(", ")} whose " +
            s"commit is not in $checkpoint/commits (max committed: " +
            s"${maxCommitted.fold("none")(_.toString)}). A replay of an " +
            "uncommitted batch would re-append the removed rows. Wait " +
            "for the batch to commit (or stop the stream) and retry.")
    }
  }

  /** DELETE/takedown strip of `dataDir` rows whose `keyCol` is in
    * `ids`, KEEPING THE APPEND LOG CONSISTENT: before the strip, one
    * NEGATIVE decrement row per affected stamped batch is appended to
    * `logDir` (batch_id, n_rows = −removed), so a later replay of that
    * batch sums the log to the post-takedown expectation and reads the
    * stripped state as FULLY LANDED — instead of misreading the
    * takedown as a partial commit, "repairing" it, and resurrecting
    * the removed rows ([[resumeStampedAppend]] sums per batch for
    * exactly this). Decrement-BEFORE-strip is load-bearing: the
    * affected batches are measured from the LIVE rows (after the strip
    * there is nothing left to attribute).
    *
    * `removeId` makes a RETRY safe (the [[Bm25.removeDocs]] stance):
    * decrement rows are stamped, and a re-run that finds its remove_id
    * already in the log skips straight to the (idempotent) strip. An
    * UNSTAMPED removal that crashes between the two steps must NOT be
    * blindly re-run — the decrement would double; pass removeId
    * anywhere a retry is possible. Rows with a NULL batch_id (the
    * initial [[Ivf.save]] build) need no decrement — no log row ever
    * expects them. A missing/unstamped log dir degrades to the bare
    * strip (nothing to keep consistent).
    *
    * `checkpoint` (the location of the streaming maintainer, when one
    * exists) arms [[requireBatchesCommitted]]: the removal REFUSES —
    * before any mutation — when the affected rows carry a batch stamp
    * whose commit-log entry is absent, closing the replay-resurrection
    * race that was previously only a documented contract. */
  def removeKeysWithLogDecrement(spark: SparkSession, logDir: String,
      dataDir: String, ids: org.apache.spark.sql.DataFrame, keyCol: String,
      partitionCols: Seq[String], removeId: Option[Long] = None,
      checkpoint: Option[String] = None): Unit = {
    val fs = new org.apache.hadoop.fs.Path(dataDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    restoreTornSwap(fs, dataDir)
    checkpoint.foreach { cp =>
      val affected = readStamped(spark, dataDir)
        .join(ids.select(col(keyCol)), Seq(keyCol), "left_semi")
      requireBatchesCommitted(spark, affected, cp,
        s"removeKeysWithLogDecrement($dataDir)")
    }
    if (fs.exists(new org.apache.hadoop.fs.Path(logDir))) {
      val log0 = spark.read.option("mergeSchema", "true").parquet(logDir)
      val decLanded = removeId.exists(r =>
        log0.columns.contains("remove_id") &&
          !log0.where(col("remove_id") === r).isEmpty)
      val data = readStamped(spark, dataDir)
      if (!decLanded && data.columns.contains("batch_id")) {
        val dec = data
          .join(ids.select(col(keyCol)), Seq(keyCol), "left_semi")
          .where(col("batch_id").isNotNull)
          .groupBy("batch_id")
          .agg((-count(lit(1))).as("n_rows"))
          .withColumn("remove_id",
            removeId.map(lit(_)).getOrElse(lit(null)).cast("long"))
        dec.write.mode(SaveMode.Append).parquet(logDir)
      }
    }
    rewriteExcludingKeys(spark, dataDir, ids.select(col(keyCol)), keyCol,
      partitionCols = partitionCols)
  }

  /** The shared read → transform → staged-rename swap (live→__old,
    * staged→live, drop __old — every intermediate state keeps the data
    * adjacent, never deleted-before-replaced). */
  private def rewriteDir(spark: SparkSession, dir: String,
      targetFiles: Int, partitionCols: Seq[String],
      rangeSortCols: Seq[String] = Nil)(
      transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit = {
    import org.apache.hadoop.fs.Path
    val live = new Path(dir)
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    // auto-recover a dir lost mid-swap by a previously interrupted
    // rewrite before requiring it: the data is sitting in __old
    restoreTornSwap(fs, dir)
    require(fs.exists(live), s"no index directory at $dir")
    val staged = new Path(s"$dir/../${live.getName}__compacting").toString
    fs.delete(new Path(staged), true)
    // schema evolution (batch_id stamps arrived after some dirs were
    // first written) is handled by readStamped: one footer read when
    // the stamp is present (every current writer stamps), the full
    // mergeSchema footer-merge job only for legacy pre-stamp dirs —
    // a first-footer read that DROPPED the stamp column would erase
    // the replay detection the stamps exist for.
    val df = transform(readStamped(spark, dir))
    val shaped =
      if (rangeSortCols.nonEmpty)
        df.repartitionByRange(rangeSortCols.map(col): _*)
          .sortWithinPartitions(rangeSortCols.map(col): _*)
      else if (partitionCols.isEmpty) df.repartition(targetFiles)
      else df.repartition(partitionCols.map(col): _*)
    val w0 = shaped.write.mode(SaveMode.Overwrite)
    (if (partitionCols.isEmpty) w0 else w0.partitionBy(partitionCols: _*))
      .parquet(staged)
    val old = new Path(s"$dir/../${live.getName}__old")
    fs.delete(old, true)
    require(fs.rename(live, old), s"compaction: cannot stage out live $dir")
    if (!fs.rename(new Path(staged), live)) {
      require(fs.rename(old, live), s"compaction: $dir lost — data in $old")
      throw new IllegalStateException(s"compaction swap failed for $dir; live restored")
    }
    fs.delete(old, true)
  }
}
