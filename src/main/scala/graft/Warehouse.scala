package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Parquet warehouse for the engine's tables (SURVEY.md §4).
  *
  * Facts are partitioned by `year` — the Spark replacement for the
  * reference's b-tree indexes on date/year: date-range predicates
  * partition-prune, and parquet row-group min/max stats cover the
  * within-year `date` bounds. Dims and metadata tables are single
  * unpartitioned files (they are tiny).
  *
  * `monthGrain = true` adds a derived `month` column under each year
  * dir (year=…/month=…): at 100 TB a year of daily grid facts is
  * hundreds of GB per partition, and month-scoped queries (the
  * dashboard's common window) should open 1/12th of it. Readers see
  * the extra `month` column; date predicates written as
  * `month(col("date"))` comparisons prune the dirs.
  *
  * At 100 TB the same layout holds: year/month partitions keep any
  * one scan bounded, appends are new files inside existing partitions
  * (no rewrite), and writers never touch readers (parquet committer
  * atomicity per job).
  */
object Warehouse {
  /** File-internal layout a maintenance rewrite produces — the
    * serving-side contract is identical for all of them (same rows,
    * same schema); what differs is WHICH predicates parquet min/max
    * file skipping serves well. Chosen per table from the endpoint
    * mix and stamped into `_graft_layout` so optimize converges. */
  sealed trait Layout { def tag: String }
  /** Size-only compaction: no ordering, hash-salted file split. */
  case object Plain extends Layout { val tag = "plain" }
  /** Lexicographic range sort: best-in-class skipping on `cols.head`
    * prefixes, none on anything else — the append-cadence layout a
    * date-range-only endpoint mix wants. */
  final case class Sort(cols: Seq[String]) extends Layout {
    def tag: String = s"sort:${cols.mkString(",")}"
  }
  /** Symmetric Morton order over 2–3 dims: balanced skipping on every
    * clustered dim (~√F per dim at F files). */
  final case class Z(cols: Seq[String], quantile: Boolean = false) extends Layout {
    def tag: String = s"z:${cols.mkString(",")}|$quantile"
  }
  /** Weighted Morton order ([[graft.ops.ZOrder.zkeyWeighted]]):
    * `primary` gets primaryBits/(primaryBits+secondaryBits) of the
    * interleave — strong skipping on primary ranges (dates) while
    * keeping real skipping on secondary equality (district). The
    * layout for a MIXED endpoint profile, closing the measured r15
    * trade where a date sort beat symmetric z on date ranges but gave
    * up district skipping entirely. Buckets are linear min/max. */
  final case class WeightedZ(primary: String, secondary: String,
      primaryBits: Int = 16, secondaryBits: Int = 8) extends Layout {
    def tag: String = s"wz:$primary,$secondary|$primaryBits,$secondaryBits"
  }
  /** [[WeightedZ]] with the interleave widths DERIVED AT EACH
    * OPTIMIZE from measured table stats
    * ([[graft.ops.ZOrder.weightedBitsFor]](perDirFileCount,
    * primaryShare, totalBits)) instead of fixed 16/8 — the layout for
    * a table whose size drifts: as appends grow a leaf past the next
    * file-count threshold, the rewrite that the byte-budget
    * divergence already triggers re-derives the bit split for the NEW
    * file count, so the secondary dim's fixed-bit budget
    * ([[graft.ops.ZOrder.fixedBitsAt]] — the r16 small-F lesson)
    * tracks growth without anyone re-reading the sizing table.
    * `primaryShare` is the endpoint mix (fraction of reads filtering
    * on `primary`); the tag carries (share, totalBits), NOT the
    * derived widths — re-derivation on growth rides the file-count
    * divergence check, so a settled table is still a no-op. */
  final case class WeightedZAuto(primary: String, secondary: String,
      primaryShare: Double = 0.9, totalBits: Int = 24) extends Layout {
    require(primaryShare >= 0.5 && primaryShare <= 1.0,
      s"WeightedZAuto: primaryShare must be in [0.5, 1] (swap the dims " +
        s"for a secondary-dominated mix), got $primaryShare")
    require(totalBits >= 2 && totalBits <= 62,
      s"WeightedZAuto: totalBits must be in [2, 62], got $totalBits")
    def tag: String = s"wza:$primary,$secondary|$primaryShare|$totalBits"
  }

  /** In-process half of the maintenance lease (see [[Warehouse
    * .acquireLease]]): HDFS's exclusive create is atomic, but Hadoop's
    * RAW LOCAL filesystem degrades it to check-then-create — two
    * same-JVM threads racing the file can BOTH win (measured: the
    * WarehouseSpec threaded race). This set, keyed on the lease
    * path, makes the in-process claim atomic (`Set.add`); the file
    * stays the cross-driver mutex. A crashed JVM clears its set with
    * it, leaving only the file for the TTL takeover path. */
  private[graft] val jvmLeases: java.util.Set[String] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
}

/** @param markerProbeTtlMs opt-in cache for [[read]]'s torn-optimize
  *   probe: 0 (default) probes the marker on EVERY read — one
  *   cached-FileSystem `exists()` locally, but a real metadata
  *   round-trip per query on an object store at serving QPS. A
  *   positive TTL caches the NEGATIVE result (marker absent) for that
  *   many ms, trading the round-trip for a widened detection window:
  *   an optimize that starts AND tears within one TTL of a probe is
  *   seen only after expiry. Safe exactly where the contract already
  *   holds (single-writer maintenance, retryable reads); keep 0 in
  *   tests and low-QPS deployments.
  * @param leaseTtlMs staleness horizon for the maintenance lease (see
  *   [[acquireLease]]): a lease file older than this is presumed to
  *   belong to a CRASHED optimize and is taken over with a loud
  *   warning. Size it above your longest plausible optimize/compact —
  *   a live holder outliving the TTL re-opens the two-writer hazard
  *   the lease exists to close. Default 6 h. */
final class Warehouse(spark: SparkSession, root: String,
    monthGrain: Boolean = false, markerProbeTtlMs: Long = 0L,
    leaseTtlMs: Long = 6L * 3600 * 1000) {

  // negative-probe cache (see markerProbeTtlMs): table -> wall-clock ms
  // until which the marker is known absent
  private val markerClearUntil =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  // tables already warned about (marker seen while a positive TTL is
  // configured) — one log line per table per Warehouse instance
  private val markerWarned =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private val partitionedBy: Map[String, Seq[String]] = Map(
    "rain_points" -> Seq("year"),
    "incident_statistics_points" -> Seq("year"))

  private def partCols(table: String, cols: Seq[String]): Option[Seq[String]] =
    partitionedBy.get(table)
      .map(base => if (monthGrain) base :+ "month" else base)
      .filter(_.forall(c => cols.contains(c) || c == "month"))

  def path(table: String): String = s"$root/$table"

  def write(table: String, df: DataFrame, mode: SaveMode = SaveMode.Append): Unit = {
    // TORN-OPTIMIZE GUARD (the write-side twin of read()'s): an append
    // into a table whose selective optimize died between its two
    // renames would re-CREATE the missing partition dir with only the
    // new batch; repairOptimize would then see a live twin, skip the
    // restore, and delete the old dir from the trash — permanent
    // silent loss of the partition's history. write() runs in the same
    // single-writer control plane as optimize, so no optimize can be
    // live here and repairing (restore old dirs, discard staging) is
    // safe — unlike read(), which must only fail loud.
    repairOptimize(table)
    // zstd: ~30% smaller than snappy at comparable scan cost — at
    // 100 TB the scan is IO-bound, so smaller files win twice
    val parts = partCols(table, df.columns.toSeq)
    val withGrain =
      if (monthGrain && parts.isDefined && !df.columns.contains("month")
          && df.columns.contains("date"))
        df.withColumn("month", org.apache.spark.sql.functions.month(
          org.apache.spark.sql.functions.col("date")))
      else df
    val w = withGrain.write.mode(mode).option("compression", "zstd")
    parts.filter(_.forall(withGrain.columns.contains))
      .fold(w)(cols => w.partitionBy(cols: _*))
      .parquet(path(table))
  }

  /** Relative paths ("year=2020", "year=2020/month=3") of the LEAF
    * partition dirs under `p` — `k=v` dirs with no further `k=v`
    * subdirs (where the parquet files live). Nil when `p` has no
    * partition subdirs at all. */
  private def leafRels(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Seq[String] = {
    def walk(d: org.apache.hadoop.fs.Path, rel: String): Seq[String] = {
      val subs = fs.listStatus(d)
        .filter(x => x.isDirectory && x.getPath.getName.contains("="))
      if (subs.isEmpty) Seq(rel)
      else subs.toSeq.flatMap(s => walk(s.getPath,
        if (rel.isEmpty) s.getPath.getName else rel + "/" + s.getPath.getName))
    }
    walk(p, "").filter(_.nonEmpty)
  }

  /** The table as stored, its schema taken from the parquet footers
    * (one inference job). For the maintenance verbs and tables without
    * a declaration; the engine's own tables go through [[readOrEmpty]]. */
  def read(table: String): DataFrame = {
    failIfTorn(table)
    spark.read.parquet(path(table))
  }

  private def failIfTorn(table: String): Unit = {
    // DETECT an interrupted selective [[optimize]] before the scan: its
    // per-dir swap has a rename window where one partition dir is
    // missing (old data safe in the __optimize_old sibling), and
    // reading through it would silently return a partial table. The
    // read path only ever FAILS LOUD - it must not repair: a live
    // optimizer legitimately holds the marker during its swap loop,
    // and a read-triggered repair would race it (restoring dirs it
    // just staged out, deleting its staging). A read that lands inside
    // the two-rename window of a LIVE optimize also throws - a
    // transient, retryable failure during the maintenance window, the
    // same contract as compact()'s whole-table swap instant. The
    // marker probe is one cached-FileSystem exists() per call.
    // NOTE the guard NARROWS the window rather than closing it: the
    // probe and the caller's spark.read file listing are not atomic, so a
    // scan that lists files just as a live optimize's two renames land
    // can still see a partial tree — acceptable under the
    // single-writer / retryable-read contract (reads during the
    // maintenance window may fail or must be retried; they are never
    // silently wrong OUTSIDE that window, which is the class this
    // guard exists to close). TTL EXCEPTION: with markerProbeTtlMs > 0
    // that "never silently wrong outside the window" claim holds only
    // up to the TTL — a read inside the TTL of a torn optimize skips
    // the probe and returns PARTIAL results until expiry (WarehouseSpec
    // pins it). A warning is logged the first time a cached-probe
    // table is seen holding a marker, so an operator who enabled the
    // TTL on a maintenance-active table finds out from the logs.
    val now = System.currentTimeMillis()
    val cachedClear = markerClearUntil.get(table)
    if (cachedClear == null || now >= cachedClear) {
      val fs = new org.apache.hadoop.fs.Path(path(table))
        .getFileSystem(spark.sessionState.newHadoopConf())
      val marker = new org.apache.hadoop.fs.Path(s"${path(table)}__optimizing")
      if (fs.exists(marker)) {
        markerClearUntil.remove(table)
        if (markerProbeTtlMs > 0 && markerWarned.add(table))
          org.slf4j.LoggerFactory.getLogger(classOf[Warehouse]).warn(
            s"table $table holds an optimize marker while markerProbeTtlMs=" +
              s"$markerProbeTtlMs is caching negative probes — reads within " +
              "one TTL of a torn optimize can return partial results; " +
              "prefer TTL 0 on maintenance-active tables")
        val trash = new org.apache.hadoop.fs.Path(s"${path(table)}__optimize_old")
        // LEAF-level comparison: a nested swap stages out e.g.
        // year=2020/month=3 while live year=2020 keeps its sibling
        // months, so a top-level dir check would miss the tear
        val torn = fs.exists(trash) && leafRels(fs, trash).exists(rel =>
          !fs.exists(new org.apache.hadoop.fs.Path(path(table) + "/" + rel)))
        if (torn)
          throw new IllegalStateException(
            s"optimize of $table is mid-swap or was interrupted (marker + " +
              "staged-out partition present) - retry, or run repairOptimize/" +
              "optimize from the writer if no optimize is live")
      } else if (markerProbeTtlMs > 0)
        markerClearUntil.put(table, now + markerProbeTtlMs)
    }
  }

  // Resolved through Hadoop's FileSystem, not java.io.File: with an
  // hdfs:// or s3a:// warehouse root a local-File check would always
  // say "missing", making readOrEmpty silently empty and breaking the
  // anti-join idempotency (every key would re-insert).
  def exists(table: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path(table))
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  /** The table read with its DECLARED `schema`, or an empty frame of
    * that schema when the table does not exist yet. Both branches give
    * exactly `schema`'s column names, order and types, and neither
    * starts a Spark job: the parquet footers are not consulted, which
    * is what makes a request's read free of schema inference. The
    * contract is on the writer: every file under the table must carry
    * the declared columns with the declared types. A declared column
    * missing from a file reads as null and a mistyped one fails the
    * scan, so writers check their frames against the same declaration
    * (the engine's `Engine.writeTable`). Same torn-optimize guard as
    * [[read]]. */
  def readOrEmpty(table: String, schema: org.apache.spark.sql.types.StructType): DataFrame =
    if (exists(table)) {
      failIfTorn(table)
      // a partition column comes last in a file-source scan; select
      // restores the declared order
      spark.read.schema(schema).parquet(path(table)).select(schema.fieldNames.toIndexedSeq
        .map(n => org.apache.spark.sql.functions.col("`" + n.replace("`", "``") + "`")): _*)
    } else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)


  /** Partition-selective OPTIMIZE - [[compact]]'s maintenance twin for
    * big tables. [[compact]] rewrites the WHOLE table; at 100 TB with
    * years of immutable history that re-shuffles everything to fix one
    * fragmented year. This entry point measures each partition dir's
    * layout debt and acts on the smallest sufficient scope:
    *
    *   - NO dir diverges from the `targetBytes` budget -> no-op (the
    *     nightly-cron steady state costs one directory listing);
    *   - EVERY dir diverges (first optimize, bulk reload) -> the
    *     whole-table [[compact]] path, one staged swap;
    *   - SOME dirs diverge -> only those partitions are read (the
    *     `isin` filter partition-prunes the scan), re-laid-out into a
    *     staging sibling, and swapped in PER DIR under a marker file:
    *     a crash between a dir's two renames leaves that partition
    *     missing from the live tree, so [[read]] and the next optimize
    *     heal through [[repairOptimize]] (restore the old dir from the
    *     trash sibling) before anything scans past it. Cost scales
    *     with the fragmented data, not the table.
    *
    * A dir "diverges" when its parquet file count leaves
    * [optimal/2, optimal+2] for optimal = ceil(dirBytes/targetBytes):
    * above = append fragmentation (every upload adds files), below =
    * files too coarse for the skip granularity the target encodes
    * (also catches a never-optimized bulk write, so the z-order lands
    * on first run). The +-slack absorbs range-partitioner imbalance so
    * optimize converges: a second run right after is always a no-op.
    *
    * Selective swaps work at LEAF granularity for any nesting depth
    * (`year=` and `year=/month=` alike); tables whose dir names don't
    * round-trip as filter literals fall back to the whole-table path.
    * Same single-writer contract as [[compact]]. */
  def optimize(table: String, targetBytes: Long = 128L * 1024 * 1024,
      zorderBy: Seq[String] = Nil, quantile: Boolean = false): Unit =
    optimize(table, targetBytes,
      if (zorderBy.isEmpty) Warehouse.Plain else Warehouse.Z(zorderBy, quantile))

  /** Runtime single-writer LEASE for the maintenance verbs (r18): the
    * torn-swap healing, marker protocol, and TTL semantics above are
    * all built on a single-writer contract that was previously
    * UNCHECKED — two concurrent optimizes would interleave their
    * staged swaps into torn states no repair converges from. The
    * lease makes the second writer FAIL FAST instead.
    *
    * Protocol: exclusive-create of `<table>__optimize_lease`
    * (atomic on HDFS; Hadoop's raw local fs degrades to
    * check-then-create, fine for the single-JVM test rig). Held for
    * the verb's whole duration, deleted in `finally`. A holder that
    * CRASHES leaves the file behind; a later writer finding a lease
    * older than `leaseTtlMs` logs a LOUD takeover warning, deletes
    * it, and re-races the exclusive create (losing that re-race
    * refuses too — someone else took over first). Size the TTL above
    * your longest plausible optimize: a lease outliving its TTL while
    * its holder still runs re-opens the two-writer hazard, which is
    * why takeover is a warning, never silent. */
  private def leasePath(table: String) =
    new org.apache.hadoop.fs.Path(s"${path(table)}__optimize_lease")

  private[graft] def acquireLease(table: String): Unit = {
    val lease = leasePath(table)
    val fs = lease.getFileSystem(spark.sessionState.newHadoopConf())
    val jvmKey = lease.toString
    // in-process claim FIRST (atomic Set.add): the raw local fs
    // degrades exclusive create to check-then-create, so two same-JVM
    // threads can both win the file — see Warehouse.jvmLeases
    if (!Warehouse.jvmLeases.add(jvmKey))
      throw new IllegalStateException(
        s"optimize/compact of $table refused: another writer in this " +
          s"JVM holds the maintenance lease $lease. Concurrent " +
          "maintenance would interleave staged swaps into torn states.")
    val stamp =
      s"${java.lang.management.ManagementFactory.getRuntimeMXBean.getName}|" +
        s"thread=${Thread.currentThread().getId}|${System.currentTimeMillis()}"
    def tryCreate(): Boolean =
      try {
        val o = fs.create(lease, false)
        try o.write(stamp.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally o.close()
        true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        // raw local fs reports the exists-collision as a plain
        // IOException("File already exists") rather than the typed one
        case e: java.io.IOException
          if e.getMessage != null && e.getMessage.contains("already exists") =>
          false
      }
    def bail[T](t: Throwable): T = {
      Warehouse.jvmLeases.remove(jvmKey); throw t
    }
    if (tryCreate()) return
    val holder = try {
      val age = System.currentTimeMillis() -
        fs.getFileStatus(lease).getModificationTime
      Some(age)
    } catch { case _: java.io.FileNotFoundException => None }
    holder match {
      case Some(age) if age < leaseTtlMs =>
        bail(new IllegalStateException(
          s"optimize/compact of $table refused: another writer holds " +
            s"$lease (age ${age} ms < TTL $leaseTtlMs ms). Concurrent " +
            "maintenance would interleave staged swaps into torn states; " +
            "wait for the holder (or, if it crashed, wait out the TTL or " +
            "delete the lease)."))
      case _ =>
        // stale (or vanished between probe and stat): loud takeover
        org.slf4j.LoggerFactory.getLogger(classOf[Warehouse]).warn(
          s"optimize lease on $table is older than TTL $leaseTtlMs ms — " +
            "assuming its holder crashed and taking over. If that holder " +
            "still runs, two writers are now live: raise leaseTtlMs above " +
            "your longest optimize.")
        fs.delete(lease, false)
        if (!tryCreate())
          bail(new IllegalStateException(
            s"optimize/compact of $table refused: lost the stale-lease " +
              s"takeover race on $lease to another writer."))
    }
  }

  private[graft] def releaseLease(table: String): Unit = {
    val lease = leasePath(table)
    lease.getFileSystem(spark.sessionState.newHadoopConf())
      .delete(lease, false)
    Warehouse.jvmLeases.remove(lease.toString)
  }

  private def withLease[T](table: String)(body: => T): T = {
    acquireLease(table)
    try body finally releaseLease(table)
  }

  def optimize(table: String, targetBytes: Long, layout: Warehouse.Layout): Unit =
    withLease(table) { optimizeImpl(table, targetBytes, layout) }

  private def optimizeImpl(table: String, targetBytes: Long,
      layout: Warehouse.Layout): Unit = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.functions.{col, lit}
    // this writer is about to raise the marker: same-instance readers
    // must not ride a stale negative probe past it
    markerClearUntil.remove(table)
    val conf = spark.sessionState.newHadoopConf()
    val live = new Path(path(table))
    val fs = live.getFileSystem(conf)
    require(fs.exists(live), s"no such table: $table")
    repairOptimize(table)
    def stats(p: Path): (Int, Long) = {
      val files = fs.listStatus(p)
        .filter(x => x.isFile && x.getPath.getName.endsWith(".parquet"))
      (files.length, files.map(_.getLen).sum)
    }
    // layout identity stamp: file counts alone cannot distinguish "right
    // file count by accident" from "laid out under THIS (target, z-cols,
    // quantile) config" - a never-z-ordered dir whose count matches the
    // byte budget must still rewrite once. The stamp is an "_"-prefixed
    // file parquet readers ignore; compact() run directly never stamps,
    // so the next optimize re-lays and stamps (convergent either way).
    val want = s"$targetBytes|${layout.tag}"
    def layoutOf(p: Path): Option[String] = {
      val m = new Path(p, "_graft_layout")
      if (!fs.exists(m)) None
      else {
        val in = fs.open(m)
        try {
          val out = new java.io.ByteArrayOutputStream()
          org.apache.hadoop.io.IOUtils.copyBytes(in, out, 4096, false)
          Some(new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8))
        } finally in.close()
      }
    }
    def stamp(p: Path): Unit = {
      val o = fs.create(new Path(p, "_graft_layout"), true)
      try o.write(want.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally o.close()
    }
    def diverges(p: Path, nFiles: Int, b: Long): Boolean = nFiles > 0 && {
      val optimal = math.max(1L, (b + targetBytes - 1) / targetBytes)
      nFiles > optimal + 2 || nFiles < optimal / 2 || !layoutOf(p).contains(want)
    }
    val partDirs = fs.listStatus(live)
      .filter(x => x.isDirectory && x.getPath.getName.contains("="))
    // after a whole-table compact, re-list and stamp every leaf dir
    // (the swap replaced the tree, stamps and all)
    def compactAndStamp(): Unit = {
      // compactImpl, not compact: this runs under optimize's own lease
      compactImpl(table, targetBytes, layout)
      val leaves = leafRels(fs, live)
      if (leaves.isEmpty) stamp(live)
      else leaves.foreach(r => stamp(new Path(live, r)))
    }
    if (partDirs.isEmpty) {
      val (n, b) = stats(live)
      if (diverges(live, n, b)) compactAndStamp()
      return
    }
    // SELECTIVE swap at LEAF granularity, any nesting depth: divergence
    // is judged per leaf dir (where the files live), and only the
    // fragmented leaves are rewritten — a fragmented month under a
    // settled year swaps alone, sibling months byte-untouched. At
    // 100 TB with monthGrain this is the difference between a nightly
    // no-op-plus-one-month rewrite and re-shuffling years of history.
    val rels = leafRels(fs, live)
    val withStats = rels.map(r => (r, stats(new Path(live, r))))
    val needy = withStats.filter { case (r, (n, b)) =>
      diverges(new Path(live, r), n, b) }
    if (needy.isEmpty) return
    if (needy.length == rels.length) { compactAndStamp(); return }

    // every leaf must decompose into the SAME partition-column chain,
    // and every dir-name value must ROUND-TRIP lit(v).cast(dt) back to
    // the identical dir name: null partitions
    // (__HIVE_DEFAULT_PARTITION__) and URL-escaped values would select
    // nothing (or a different dir), stage nothing, and abort mid-swap
    // — those tables take the whole-table path instead
    val chains = rels.map(_.split('/').toSeq.map(_.split("=", 2)(0)))
    val partChain = chains.head
    val valuesOk = chains.forall(_ == partChain) && rels.forall(
      _.split('/').forall { seg =>
        val v = seg.split("=", 2)(1)
        v != "__HIVE_DEFAULT_PARTITION__" && !v.contains("%")
      })
    if (!valuesOk) { compactAndStamp(); return }

    val full = read(table)
    // one conjunction per needy leaf, OR'd — partition-prunes the scan
    // to exactly the fragmented leaves
    val pred = needy.map { case (rel, _) =>
      rel.split('/').map { seg =>
        val kv = seg.split("=", 2)
        col(kv(0)) === lit(kv(1)).cast(full.schema(kv(0)).dataType)
      }.reduce(_ && _)
    }.reduce(_ || _)
    val bytesNeedy = needy.map(_._2._2).sum
    val staging = new Path(s"${path(table)}__optimize_staged")
    val trash = new Path(s"${path(table)}__optimize_old")
    val marker = new Path(s"${path(table)}__optimizing")
    fs.delete(staging, true)
    writeLayout(full.where(pred), staging.toString, Some(partChain),
      needy.length, bytesNeedy, targetBytes, layout)
    // VERIFY the staged tree BEFORE the first destructive rename: a
    // value that casts to null or reformats on re-write (decimal
    // "1.10" → "1.1"), or a zero-row dir judged needy (empty parquet
    // file), leaves its staged twin absent — proceeding would stage
    // OUT the old dir and then fail the swap-in, and every later
    // optimize would repair and fail the same way (a non-convergent
    // loop). Any missing staged leaf → whole-table fallback.
    if (needy.exists { case (rel, _) => !fs.exists(new Path(staging, rel)) }) {
      fs.delete(staging, true)
      compactAndStamp()
      return
    }
    fs.mkdirs(trash)
    fs.create(marker, true).close()
    for ((rel, _) <- needy) {
      val oldDir = new Path(trash, rel)
      Option(oldDir.getParent).foreach(fs.mkdirs)
      require(fs.rename(new Path(live, rel), oldDir),
        s"optimize: cannot stage out $rel")
      require(fs.rename(new Path(staging, rel), new Path(live, rel)),
        s"optimize: swap failed for $rel - old data in $trash/$rel; " +
          "read()/the next optimize will repair")
      stamp(new Path(live, rel))
    }
    fs.delete(staging, true)
    fs.delete(trash, true)
    fs.delete(marker, false)
  }

  /** Heal an interrupted selective [[optimize]]: while its marker
    * stands, any partition dir sitting in the trash sibling WITHOUT a
    * live twin is mid-swap - restore the OLD dir (the staging output
    * is discarded; re-running optimize redoes that work). Dirs whose
    * swap completed keep the new layout. Idempotent; no-op without the
    * marker. */
  def repairOptimize(table: String): Unit = {
    markerClearUntil.remove(table)
    import org.apache.hadoop.fs.Path
    val conf = spark.sessionState.newHadoopConf()
    val live = new Path(path(table))
    val fs = live.getFileSystem(conf)
    val marker = new Path(s"${path(table)}__optimizing")
    if (!fs.exists(marker)) return
    val trash = new Path(s"${path(table)}__optimize_old")
    // restore at LEAF granularity: a nested swap stages out
    // year=2020/month=3 while live year=2020 keeps its sibling months,
    // so the live-twin probe must compare leaf dirs, not top-level ones
    // (a top-level check would see live year=2020 present, skip the
    // restore, and the trash delete below would lose the month)
    if (fs.exists(trash))
      for (rel <- leafRels(fs, trash)) {
        val target = new Path(live, rel)
        if (!fs.exists(target)) {
          Option(target.getParent).foreach(fs.mkdirs)
          require(fs.rename(new Path(trash, rel), target),
            s"repairOptimize: cannot restore $trash/$rel to $target")
        }
      }
    fs.delete(trash, true)
    fs.delete(new Path(s"${path(table)}__optimize_staged"), true)
    fs.delete(marker, false)
  }

  /** The layout-shaping core shared by [[compact]] (whole table) and
    * [[optimize]] (selective dirs): derive numeric views, build the
    * ordering columns for the chosen [[Warehouse.Layout]], choose the
    * writer shape (range-partitioned per-dir slices / hash-salted
    * per-dir files / whole-table range layout) and write `df0` to
    * `outPath`. `dirs`/`bytes` size the output file count (callers
    * pass the stats of exactly the data in `df0`). */
  private def writeLayout(df0: DataFrame, outPath: String,
      parts: Option[Seq[String]], dirs: Int, bytes: Long, targetBytes: Long,
      layout: Warehouse.Layout): Unit = {
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    // z-dims must be numeric for bucketizing; DATE/TIMESTAMP serving
    // filters (the (district_id, date) layout q_list_page/q_graph_day
    // want) order through a derived numeric view — days / micros
    // since epoch, monotone in the original so file min/max stats on
    // the REAL column skip exactly as if it were numeric
    def withNumericViews(cols: Seq[String]): (DataFrame, Seq[String]) = {
      val zvNames = cols.indices.map(i => s"__zv$i")
      require(cols.forall(df0.columns.contains),
        s"layout columns ${cols.mkString(",")} missing from $outPath")
      graft.ops.Reserved.requireAbsent("compact", Seq("__salt", "__z") ++ zvNames, df0)
      import org.apache.spark.sql.functions.{datediff, to_date, unix_micros}
      import org.apache.spark.sql.types.{DateType, TimestampNTZType, TimestampType}
      val out = cols.zip(zvNames).foldLeft(df0) { case (d, (c, n)) =>
        d.withColumn(n, df0.schema(c).dataType match {
          case DateType => datediff(col(c), to_date(lit("1970-01-01")))
          case TimestampType => unix_micros(col(c))
          case TimestampNTZType => unix_micros(col(c).cast(TimestampType))
          case _ => col(c)
        })
      }
      (out, zvNames)
    }
    // empty table / all-null dim: no meaningful clustered layout
    // exists; None → plain-compaction fallback instead of an NPE
    def linearBuckets(df: DataFrame, zc: Seq[String],
        bits: Seq[Int]): Option[Seq[org.apache.spark.sql.Column]] = {
      val exprs = zc.flatMap(c => Seq(
        org.apache.spark.sql.functions.min(col(c)).cast("double"),
        org.apache.spark.sql.functions.max(col(c)).cast("double")))
      val bounds = df.agg(exprs.head, exprs.tail: _*).head()
      if (zc.indices.exists(i => bounds.isNullAt(2 * i) || bounds.isNullAt(2 * i + 1))) None
      else Some(zc.zipWithIndex.map { case (c, i) =>
        graft.ops.ZOrder.bucketize(col(c),
          bounds.getDouble(2 * i), bounds.getDouble(2 * i + 1), bits(i))
      })
    }
    // (frame with helper cols, range-ordering cols or None for the
    // salted plain shape, helper col names to drop before the write)
    val (df, orderCols, helperCols): (DataFrame, Option[Seq[org.apache.spark.sql.Column]], Seq[String]) =
      layout match {
        case Warehouse.Plain => (df0, None, Nil)
        case Warehouse.Sort(cols) =>
          require(cols.nonEmpty && cols.forall(df0.columns.contains),
            s"sort layout columns missing from $outPath")
          (df0, Some(cols.map(col)), Nil)
        case Warehouse.Z(zorderBy, quantile) =>
          require(zorderBy.size == 2 || zorderBy.size == 3, "z-order takes 2 or 3 columns")
          val (dfv, zvNames) = withNumericViews(zorderBy)
          val bk: Option[Seq[org.apache.spark.sql.Column]] =
            if (quantile)
              try Some(graft.ops.ZOrder.bucketizeByQuantilesMulti(dfv, zvNames, 12))
              catch { case _: IllegalArgumentException => None }
            else {
              val bits = if (zorderBy.size == 3) 21 else 20
              linearBuckets(dfv, zvNames, zvNames.map(_ => bits))
            }
          bk match {
            case Some(b) =>
              val z = if (zorderBy.size == 2) graft.ops.ZOrder.zkey2(b(0), b(1))
                else graft.ops.ZOrder.zkey3(b(0), b(1), b(2))
              (dfv.withColumn("__z", z), Some(Seq(col("__z"))), zvNames :+ "__z")
            case None => (dfv, None, zvNames)
          }
        case Warehouse.WeightedZ(primary, secondary, pBits, sBits) =>
          val (dfv, zvNames) = withNumericViews(Seq(primary, secondary))
          linearBuckets(dfv, zvNames, Seq(pBits, sBits)) match {
            case Some(b) =>
              val z = graft.ops.ZOrder.zkeyWeighted(b(0), b(1), pBits, sBits)
              (dfv.withColumn("__z", z), Some(Seq(col("__z"))), zvNames :+ "__z")
            case None => (dfv, None, zvNames)
          }
        case Warehouse.WeightedZAuto(primary, secondary, share, totalBits) =>
          // size the interleave to the PER-LEAF-DIR file count — the
          // unit the range layout fixes leading bits over (queries
          // prune dirs first; within a dir the z-range split is what
          // footer min/max skipping sees). Same ceil the writer shape
          // below uses for its own file budget.
          val files =
            if (parts.isDefined)
              math.max(1L, math.ceil(
                bytes.toDouble / math.max(1, dirs) / targetBytes).toLong)
            else math.max(1L, math.ceil(bytes.toDouble / targetBytes).toLong)
          val (aB, bB) =
            graft.ops.ZOrder.weightedBitsFor(files, share, totalBits)
          val (dfv, zvNames) = withNumericViews(Seq(primary, secondary))
          linearBuckets(dfv, zvNames, Seq(aB, bB)) match {
            case Some(b) =>
              val z = graft.ops.ZOrder.zkeyWeighted(b(0), b(1), aB, bB)
              (dfv.withColumn("__z", z), Some(Seq(col("__z"))), zvNames :+ "__z")
            case None => (dfv, None, zvNames)
          }
      }
    val writer = parts match {
      case Some(cols) =>
        val perDir = math.max(1, math.ceil(bytes.toDouble / dirs / targetBytes).toInt)
        orderCols match {
          case None =>
            val salted = df.withColumn("__salt",
                pmod(xxhash64(df.columns.toIndexedSeq.map(col): _*), lit(perDir.toLong)))
              .repartition((cols.map(col) :+ col("__salt")): _*)
            salted.drop(("__salt" +: helperCols): _*).write.partitionBy(cols: _*)
          case Some(ord) =>
            // RANGE-partition on (dir cols, ordering), not hash-salt:
            // each writer task then owns one contiguous slice of one
            // dir, so every output FILE covers a tight range of the
            // ordering — that's what lets a parquet footer min/max
            // check skip whole files. (A hash salt would spread each
            // dir's rows uniformly over its files: sorted inside, but
            // every file spanning the full domain — zero cross-file
            // skipping, the layout this rewrite exists to produce.)
            df.repartitionByRange(math.max(1, dirs * perDir),
                (cols.map(col) ++ ord): _*)
              .sortWithinPartitions((cols.map(col) ++ ord): _*)
              .drop(helperCols: _*)
              .write.partitionBy(cols: _*)
        }
      case None =>
        val nFiles = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
        orderCols match {
          case None => df.drop(helperCols: _*).repartition(nFiles).write
          case Some(ord) =>
            df.repartitionByRange(nFiles, ord: _*)
              .sortWithinPartitions(ord: _*)
              .drop(helperCols: _*)
              .write
        }
    }
    writer.mode(SaveMode.Overwrite).option("compression", "zstd")
      .parquet(outPath)
  }

  /** Compact a table's small files: every append writes new files into
    * the year partitions, and at upload-per-request cadence a year of
    * traffic is thousands of KB-scale files — the classic small-file
    * problem (scan tasks, namenode pressure, footer overhead all scale
    * with file count). Rewrites each partition dir to
    * ⌈dirBytes/target⌉ files (a deterministic row-hash salt spreads a
    * big partition over several writers; `partitionBy` alone would
    * otherwise emit one file per shuffle task per dir). Staged write +
    * swap: readers in flight keep their already-opened files. Run from
    * the single-writer control plane, like all mutations here. */
  /** @param zorderBy 2–3 numeric columns: rewrite in Morton order (the
    *   OPTIMIZE-ZORDER analog) so parquet min/max stats skip files for
    *   predicates on ANY of them. Unpartitioned tables range-lay the
    *   whole table on the z-key; partitioned tables keep their dirs and
    *   z-sort WITHIN each (cross-dir ordering is already the partition
    *   column's job).
    * @param quantile bucketize the z-order dims by quantile boundaries
    *   instead of linear min/max scaling. Linear bucketing collapses on
    *   skewed dims (a zipf column maps almost every row to bucket 0 —
    *   ZOrderSpec measures it), so compacting on doc length / user-id
    *   frequency / any long-tailed column wants this flag; the cost is
    *   one approx-percentile scan instead of a min/max agg. */
  def compact(table: String, targetBytes: Long = 128L * 1024 * 1024,
      zorderBy: Seq[String] = Nil, quantile: Boolean = false): Unit =
    compact(table, targetBytes,
      if (zorderBy.isEmpty) Warehouse.Plain else Warehouse.Z(zorderBy, quantile))

  def compact(table: String, targetBytes: Long, layout: Warehouse.Layout): Unit =
    withLease(table) { compactImpl(table, targetBytes, layout) }

  private def compactImpl(table: String, targetBytes: Long,
      layout: Warehouse.Layout): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val live = new org.apache.hadoop.fs.Path(path(table))
    val fs = live.getFileSystem(conf)
    require(fs.exists(live), s"no such table: $table")
    val bytes = fs.getContentSummary(live).getLength
    val staged = new org.apache.hadoop.fs.Path(s"${path(table)}__compacting")
    fs.delete(staged, true)
    val df0 = read(table)
    val parts = partCols(table, df0.columns.toSeq).filter(_.forall(df0.columns.contains))
    val dirs = math.max(1, fs.listStatus(live)
      .count(x => x.isDirectory && x.getPath.getName.contains("=")))
    writeLayout(df0, staged.toString, parts, dirs, bytes, targetBytes, layout)
    // Swap in the crash-safe order: live→__old, staged→live, drop __old.
    // delete-then-rename would leave NO live table if the rename fails
    // or the process dies between the two (and on object stores rename
    // is a slow copy, widening that window). Here every intermediate
    // state still has the data adjacent: if staged→live fails, __old is
    // restored; __old delete is last and failure there leaves a stale
    // copy, not a missing table.
    val old = new org.apache.hadoop.fs.Path(s"${path(table)}__old")
    fs.delete(old, true)
    require(fs.rename(live, old), s"compaction: cannot stage out live $table")
    if (!fs.rename(staged, live)) {
      require(fs.rename(old, live), s"compaction: $table lost — data in ${old}")
      throw new IllegalStateException(s"compaction swap failed for $table; live restored")
    }
    fs.delete(old, true)
  }
}
