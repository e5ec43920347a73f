package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenization (Sennrich et al. 2016, "Neural
  * Machine Translation of Rare Words with Subword Units" — the
  * GPT-2-lineage within-word variant): learn a merge table from corpus
  * statistics, then tokenize text into subwords. The brief's token
  * counting (`TextOps`) approximates BPE with a regex; this is the real
  * trainer + applier.
  *
  * Scale design — the production shape used by real tokenizer trainers:
  *   - the corpus is scanned ONCE, into a (word, n) frequency table
  *     whose size is bounded by VOCABULARY, not corpus size
  *     ([[wordFreqs]] — one shuffle with map-side partial agg);
  *   - the merge loop ([[train]]) runs over that bounded table only —
  *     pure driver-side Scala, the same bounded-collect stance as IVF
  *     centroids / PQ codebooks (collect is legal because the input is
  *     vocabulary-bounded by construction);
  *   - tokenization ([[tokenize]]) applies merges once per DISTINCT
  *     word — never per occurrence — and attaches the result to the
  *     corpus through a broadcast word→subwords table. A 100 TB corpus
  *     with a 10⁶-word vocabulary does 10⁶ merge applications, not
  *     10¹¹.
  *
  * No oracle SQL exists for the iterative merge loop (recursive
  * greedy-merge is not expressible in the gate's replayable-SQL
  * subset), so this operator is spec-pinned (BpeSpec: the classic
  * hand-computable corpus, merge order, determinism, tokenize ≡
  * per-word reference, round-trip concatenation identity) — the same
  * stance as the IVF-PQ routing and streaming operators. */
object Bpe {

  /** End-of-word sentinel appended to each word's final symbol (the
    * Sennrich convention: "est" mid-word and "est</w>" word-final are
    * different statistics). NOT collision-proof by magic: merges can
    * assemble the same string from literal corpus characters (an
    * HTML-heavy corpus full of tag fragments), which would conflate a
    * text symbol with the word boundary — so [[train]] and
    * [[tokenize]] FAIL FAST on any word containing the sentinel as a
    * substring (the [[Reserved]] loud-failure stance), and corpora
    * where that fires should pass a custom sentinel (e.g. a
    * private-use character like "\uE000") instead. */
  val EndOfWord = "</w>"

  /** One corpus scan → (word, n) frequency table. Lowercased,
    * whitespace-split — the inventory's portable token convention. */
  def wordFreqs(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(TextOps.tokens(lower(col(textCol)))).as("word"))
      .where(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("n"))

  /** Driver-side materialization of a [[wordFreqs]]-shaped table (word,
    * n) for [[train]], with the pruning every real trainer applies: a
    * clean natural-language vocabulary is ~10⁶ words, but a web crawl's
    * whitespace vocabulary is heavy-tailed (URLs, hashes, typos —
    * 10⁸–10⁹ distinct "words"), which would blow the collect. `minFreq`
    * drops the rare tail, `topN` caps what survives (most frequent
    * first; ties broken by word, so pruning is deterministic) — via
    * orderBy+limit, which Spark plans as TakeOrderedAndProject, a
    * per-partition top-k merge, never a single-reducer sort. Pruned
    * words simply contribute no training statistics; at apply time they
    * still tokenize through whatever merges the kept vocabulary learned,
    * falling back to character symbols (standard BPE practice — BpeSpec
    * pins the round-trip). The collect itself is guarded LOUDLY: a
    * `topN` above `maxCollect` fails fast instead of silently OOMing
    * the driver (the [[Reserved]] fail-fast stance). */
  def collectWordFreqs(wf: DataFrame, minFreq: Long = 1L,
      topN: Int = 1 << 20, maxCollect: Int = 8 << 20): Map[String, Long] = {
    require(topN <= maxCollect,
      s"topN=$topN exceeds maxCollect=$maxCollect — a driver-side " +
        "vocabulary this large risks OOM; raise maxCollect explicitly " +
        "only if the driver is sized for it")
    import org.apache.spark.sql.Row
    prunedVocab(wf, minFreq, topN)
      .collect()
      .map { case Row(w: String, n: Long) => (w, n) }
      .toMap
  }

  /** The pruning PLAN behind [[collectWordFreqs]], exposed as a
    * DataFrame so the correctness gate (`q_bpe_vocab`) replays exactly
    * what the trainer materializes: frequency floor, then the top-N
    * most frequent (ties by word — deterministic), as a
    * TakeOrderedAndProject. */
  def prunedVocab(wf: DataFrame, minFreq: Long, topN: Int): DataFrame = {
    require(minFreq >= 1L, "minFreq must be >= 1")
    require(topN >= 1, "topN must be >= 1")
    wf.where(col("n") >= minFreq)
      .orderBy(col("n").desc, col("word"))
      .limit(topN)
  }

  private def requireNoSentinel(word: String, eow: String): Unit = {
    require(eow.nonEmpty, "end-of-word sentinel must be non-empty")
    require(!word.contains(eow),
      s"word '$word' contains the end-of-word sentinel '$eow' — merges " +
        "could assemble a symbol indistinguishable from the word " +
        "boundary; pass a sentinel outside the corpus alphabet " +
        "(e.g. \"\\uE000\")")
  }

  /** A word as its initial symbol sequence: one symbol per CODE POINT
    * (not UTF-16 char — a non-BMP character split into lone surrogates
    * would be mangled by the String→UTF8String conversion on the way
    * back into Spark, breaking the round-trip identity), end-of-word
    * sentinel glued to the last. */
  private def initSymbols(word: String, eow: String): Vector[String] = {
    val cps = word.codePoints().toArray
      .map(cp => new String(Character.toChars(cp))).toVector
    if (cps.isEmpty) Vector.empty
    else cps.init :+ (cps.last + eow)
  }

  /** Learn `numMerges` merges from a word-frequency table. Each round
    * merges the globally most frequent adjacent symbol pair (ties
    * broken lexicographically, so training is DETERMINISTIC — real
    * trainers do the same for reproducible vocabularies). Stops early
    * when no pair occurs twice.
    *
    * Pair counts are maintained INCREMENTALLY (the real-trainer shape):
    * a merge round touches only the words that contain the chosen pair
    * — subtract their old adjacency contributions, rewrite, add the new
    * ones — instead of recounting the whole vocabulary per round. The
    * round's winner comes from a count-keyed lazy-deletion max-heap fed
    * by the same deltas, so selection is O(log |pairs|) amortized per
    * delta — a full rescan of the pair map per round would be
    * O(numMerges × |pairs|) driver work, prohibitive at a 10⁶-word
    * vocabulary × 32 k merges. A popped entry is live iff its recorded
    * count still equals the pair's current count (the standard lazy
    * validity test); stale snapshots are discarded on pop. */
  def train(wordFreq: Map[String, Long], numMerges: Int,
      eow: String = EndOfWord): Seq[(String, String)] = {
    require(numMerges >= 0, "numMerges must be >= 0")
    wordFreq.keys.foreach(requireNoSentinel(_, eow))
    val words = mutable.ArrayBuffer.empty[(Vector[String], Long)]
    wordFreq.foreach { case (w, n) => words += ((initSymbols(w, eow), n)) }
    val counts = mutable.Map[(String, String), Long]().withDefaultValue(0L)
    // pair → indices of words that contained it when registered; stale
    // entries (the word has since merged past the pair) are harmless —
    // the delta arithmetic below is exact and a dead pair's count is 0
    val where = mutable.Map[(String, String), mutable.Set[Int]]()
    // max by count; ties → lexicographically smallest pair — the same
    // fully deterministic rule the rescan used
    val byCountThenPair: Ordering[(Long, String, String)] =
      Ordering.fromLessThan { case ((c1, a1, b1), (c2, a2, b2)) =>
        if (c1 != c2) c1 < c2
        else if (a1 != a2) a1 > a2
        else b1 > b2
      }
    val heap = mutable.PriorityQueue.empty[(Long, String, String)](byCountThenPair)
    def register(i: Int, sign: Long): Unit = {
      val (syms, n) = words(i)
      var j = 0
      while (j < syms.length - 1) {
        val p = (syms(j), syms(j + 1))
        val c = counts(p) + sign * n
        if (c <= 0L) counts.remove(p) else counts(p) = c
        // every post-delta count >= 2 gets a snapshot, so the CURRENT
        // count of every eligible pair is always present in the heap
        if (c >= 2L) heap.enqueue((c, p._1, p._2))
        if (sign > 0) where.getOrElseUpdate(p, mutable.Set.empty) += i
        j += 1
      }
    }
    words.indices.foreach(register(_, 1L))
    val merges = mutable.ArrayBuffer[(String, String)]()
    while (merges.size < numMerges && heap.nonEmpty) {
      val (c, a, b) = heap.dequeue()
      if (counts((a, b)) == c) { // live snapshot — this IS the max
        val pair = (a, b)
        merges += pair
        for (i <- where.getOrElse(pair, mutable.Set.empty[Int]).toSeq) {
          register(i, -1L)
          words(i) = (mergePair(words(i)._1, pair), words(i)._2)
          register(i, 1L)
        }
        where.remove(pair)
      }
    }
    merges.toSeq
  }

  /** Replace every adjacent occurrence of `pair` in `syms` (left to
    * right, non-overlapping). */
  private def mergePair(syms: Vector[String], pair: (String, String)): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == pair._1 && syms(i + 1) == pair._2) {
        out += (syms(i) + syms(i + 1)); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** Tokenize ONE word with a learned merge table: start from
    * code-point symbols, apply the lowest-rank applicable merge until
    * none applies (the GPT-2 apply rule — rank order, not training
    * order per word, though for BPE the two coincide). Convenience
    * form; bulk callers use [[applyMergesRanked]] with ONE prebuilt
    * rank map — rebuilding it per word would cost O(|merges|) hash
    * inserts per vocabulary entry and dominate the actual merge
    * work. */
  def applyMerges(word: String, merges: Seq[(String, String)],
      eow: String = EndOfWord): Seq[String] =
    applyMergesRanked(word, merges.toVector, merges.zipWithIndex.toMap, eow)

  private[graft] def applyMergesRanked(word: String,
      merges: Vector[(String, String)], rank: Map[(String, String), Int],
      eow: String): Seq[String] = {
    requireNoSentinel(word, eow)
    var syms = initSymbols(word, eow)
    var done = syms.length < 2
    while (!done) {
      val cands = (0 until syms.length - 1)
        .flatMap(i => rank.get((syms(i), syms(i + 1))))
      if (cands.isEmpty) done = true
      else {
        syms = mergePair(syms, merges(cands.min))
        done = syms.length < 2
      }
    }
    syms
  }

  /** Tokenize a corpus: distinct words (vocabulary-bounded) → per-word
    * merge application ONCE each → word→subwords table joined back →
    * explode. Output: one row per (doc, position, subword), `pos`
    * 0-based over the doc's word stream, `sub_pos` within the word. The
    * merge table rides the closure (KB-scale).
    *
    * `broadcastTable` is an honesty knob, not an optimizer guess (the
    * `LmScore.broadcastModel` / `Boilerplate.broadcastSet` stance): the
    * word→subwords table is bounded by the corpus's DISTINCT whitespace
    * tokens, which for clean text is ~10⁶ but for a raw web crawl is
    * heavy-tailed (URLs, hashes, numbers — far beyond broadcast range).
    * Pass `false` there and the join falls back to a shuffle on the
    * word key — one extra corpus shuffle, the honest trade, instead of
    * a silent driver/executor OOM. */
  def tokenize(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)], eow: String = EndOfWord,
      broadcastTable: Boolean = true): DataFrame = {
    Reserved.requireAbsent("tokenize", Seq("word", "pos", "subword", "sub_pos"), docs)
    val spark = docs.sparkSession
    val words = docs
      .select(col(idCol), posexplode(TextOps.tokens(lower(col(textCol))))
        .as(Seq("pos", "word")))
      .where(length(col("word")) > 0)
    val vocab = words.select("word").distinct()
    import spark.implicits._
    // merge table + rank map built ONCE and shipped in the closure
    // (KB-scale) — never rebuilt per word
    val mergeVec = merges.toVector
    val rank = mergeVec.zipWithIndex.toMap
    val table = vocab.as[String].mapPartitions { it =>
      it.map(w => (w, applyMergesRanked(w, mergeVec, rank, eow)))
    }.toDF("word", "subwords")
    words.join(if (broadcastTable) broadcast(table) else table, Seq("word"))
      .select(col(idCol), col("pos"),
        posexplode(col("subwords")).as(Seq("sub_pos", "subword")))
  }

  // ---- trainer artifact: the id vocabulary ----

  /** The token-id vocabulary a trainer hands to the model: base symbols
    * (every code-point symbol that appears in the training vocabulary's
    * initial decomposition — mid-word chars plus the `char+eow` finals),
    * sorted, ids 0..; then each merge's output symbol in rank order
    * (the GPT-2 vocab construction — base alphabet first, merges
    * appended in learn order). Deterministic given (wordFreq keys,
    * merges). Fails fast on an output colliding with a base symbol or a
    * duplicate output — ids must be unambiguous. */
  def vocabulary(words: Iterable[String], merges: Seq[(String, String)],
      eow: String = EndOfWord): Seq[(String, Int)] = {
    words.foreach(requireNoSentinel(_, eow))
    val base = words.iterator.flatMap(initSymbols(_, eow)).toSet
    val sortedBase = base.toSeq.sorted
    val outputs = merges.map { case (a, b) => a + b }
    require(outputs.distinct.size == outputs.size,
      "duplicate merge outputs — token ids would be ambiguous")
    outputs.foreach(o => require(!base.contains(o),
      s"merge output '$o' collides with a base symbol — token ids would " +
        "be ambiguous"))
    (sortedBase ++ outputs).zipWithIndex
  }

  /** Tokenize to TOKEN IDS — the form a training pipeline actually
    * ships: [[tokenize]]'s (id, pos, sub_pos, subword) with `tid` from
    * the vocabulary attached; subwords outside the vocabulary (characters
    * never seen at training time) get `unkId`, kept VISIBLE rather than
    * dropped (a dropped token would silently shift every later position).
    * The vocab rides the closure as a scala Map (vocabulary-scale). */
  def tokenizeToIds(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)], vocab: Seq[(String, Int)],
      unkId: Int = -1, eow: String = EndOfWord,
      broadcastTable: Boolean = true): DataFrame = {
    Reserved.requireAbsent("tokenizeToIds", Seq("tid"), docs)
    val vmap = vocab.toMap
    require(vmap.size == vocab.size, "vocabulary has duplicate subwords")
    val lookup = typedlit(vmap)
    tokenize(docs, idCol, textCol, merges, eow, broadcastTable)
      .withColumn("tid",
        coalesce(element_at(lookup, col("subword")), lit(unkId)))
  }

  // ---- incremental tokenization vs a persisted subword table ----
  //
  // A cumulative crawl's distinct-word table is the expensive side of
  // tokenization once merge tables are 10⁴–10⁵ deep: most of a new
  // batch's words were already tokenized by earlier batches. The
  // persisted artifact here is the word→subwords table itself;
  // tokenizeIncrement joins the batch against it and applies merges
  // ONLY to the misses (the increment), optionally folding the misses
  // back in (SaveMode.Append) so tomorrow's batch sees them — the
  // Dedup.appendToBandIndex stance. Tokenization is a pure function of
  // (word, merges), so duplicate rows from overlapping appends are
  // harmless (any copy is correct; reads dedup) — but the table is
  // bound to ONE merge table, enforced by persisting the merge list's
  // fingerprint alongside and failing fast on mismatch.

  /** Injective serialization → MD5: every field is LENGTH-PREFIXED, so
    * no two distinct (eow, merge list) values share a byte stream —
    * separator bytes alone would not be injective, because raw crawl
    * tokens can legitimately contain any control character. */
  private def mergesFingerprint(merges: Seq[(String, String)], eow: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def field(s: String): Unit = {
      val b = s.getBytes("UTF-8")
      md.update(java.nio.ByteBuffer.allocate(4).putInt(b.length).array())
      md.update(b)
    }
    field(eow)
    merges.foreach { case (a, b) => field(a); field(b) }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Persist the word→subwords table for the DISTINCT words of `docs`
    * under `path` (`table/` + `meta/` carrying the merge-table
    * fingerprint). Append folds a new batch's words in — but FIRST
    * verifies the existing fingerprint: appending rows tokenized under
    * DIFFERENT merges would silently poison the artifact (the mismatch
    * would only surface at the next read, after the damage), so the
    * check fails fast BEFORE any write, and Append never duplicates
    * the meta row. */
  def buildSubwordTable(docs: DataFrame, textCol: String,
      merges: Seq[(String, String)], path: String,
      mode: SaveMode = SaveMode.ErrorIfExists,
      eow: String = EndOfWord): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    val want = mergesFingerprint(merges, eow)
    val existingMeta =
      if (mode == SaveMode.Append) readFingerprints(spark, path) else Set.empty[String]
    if (existingMeta.nonEmpty)
      require(existingMeta == Set(want),
        s"subword table at $path was built under a different merge table " +
          s"(fingerprints $existingMeta != $want) — appending would poison " +
          "it; rebuild under the new merges instead")
    // crash-safety ordering: an UNFINGERPRINTED table must never accept
    // an Append (a build that died between its two writes would
    // otherwise let a later Append under DIFFERENT merges mix rows and
    // then stamp the new fingerprint over the mix). So (a) Append
    // refuses a table/ without meta/, and (b) the fresh-Append path
    // writes meta BEFORE table — a crash then leaves a fingerprinted
    // (possibly empty) table, which every later op handles. Overwrite
    // keeps table-first: a crash there leaves new table + OLD meta,
    // which fails fast at the next read (the safe direction).
    if (mode == SaveMode.Append) {
      IndexMaintenance.guardAppend(spark, s"$path/table")
      val tableDir = new org.apache.hadoop.fs.Path(s"$path/table")
      val fs = tableDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      require(existingMeta.nonEmpty || !fs.exists(tableDir),
        s"subword table at $path has table/ but no meta/ fingerprint " +
          "(interrupted build?) — appending could mix merge tables; " +
          "rebuild with Overwrite")
    }
    def writeMeta(): Unit =
      Seq(Tuple1(want)).toDF("merges_md5")
        .coalesce(1).write.mode(mode).parquet(s"$path/meta")
    if (existingMeta.isEmpty && mode == SaveMode.Append) writeMeta()
    val mergeVec = merges.toVector
    val rank = mergeVec.zipWithIndex.toMap
    docs.select(explode(TextOps.tokens(lower(col(textCol)))).as("word"))
      .where(length(col("word")) > 0)
      .distinct()
      .as[String]
      .mapPartitions(_.map(w => (w, applyMergesRanked(w, mergeVec, rank, eow))))
      .toDF("word", "subwords")
      .write.mode(mode).option("compression", "zstd").parquet(s"$path/table")
    if (existingMeta.isEmpty && mode != SaveMode.Append) writeMeta()
  }

  /** The fingerprint rows of a persisted subword table; empty when the
    * meta file does not exist yet (a first Append against a fresh
    * path). */
  private def readFingerprints(spark: SparkSession, path: String): Set[String] = {
    import spark.implicits._
    try spark.read.schema("merges_md5 STRING").parquet(s"$path/meta")
      .select("merges_md5").as[String].collect().toSet
    catch {
      case e: org.apache.spark.sql.AnalysisException
        if e.getCondition == "PATH_NOT_FOUND" => Set.empty
    }
  }

  /** Tokenize a batch against the persisted table: rows whose word is
    * KNOWN take their subwords from the table (no merge application);
    * the batch's NEW distinct words — the increment — tokenize on the
    * fly. Output ≡ [[tokenize]] row-for-row (BpeSpec-pinned; the
    * `q_incremental_tokenize` gate shares `q_bpe_tokenize`'s oracle —
    * the two construction paths must agree). With `appendNew` the
    * increment folds into the table for the next batch. Fails FAST if
    * the table was built under a different merge table (a stale table
    * would silently tokenize with yesterday's vocabulary). The
    * persisted side joins on the word key — `broadcastTable = false`
    * is the beyond-broadcast fallback, as in [[tokenize]].
    * `materializeTable = true` eagerly checkpoints the loaded table so
    * the RESULT never re-reads the files (required by callers that
    * delete/rotate the store after wiring, e.g. the gate's temp-index
    * lifecycle); default false — at production scale the table streams
    * from the store. */
  def tokenizeIncrement(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)], path: String,
      appendNew: Boolean = false, eow: String = EndOfWord,
      broadcastTable: Boolean = true,
      materializeTable: Boolean = false): DataFrame = {
    Reserved.requireAbsent("tokenizeIncrement",
      Seq("word", "pos", "subword", "sub_pos", "subwords"), docs)
    val spark = docs.sparkSession
    import spark.implicits._
    val want = mergesFingerprint(merges, eow)
    // writer-fixed schema (writeMeta): stating it skips the
    // footer-inference job per probe
    val got = spark.read.schema("merges_md5 STRING").parquet(s"$path/meta")
      .select("merges_md5").as[String].collect().toSet
    require(got == Set(want),
      s"subword table at $path was built under a different merge table " +
        s"(fingerprints $got != $want) — rebuild it or pass the matching " +
        "merges")
    // heal a torn compaction swap BEFORE the table read (a memo-cache
    // loss is benign for results, but the read would fail loud and
    // __old would strand); must run here, not at the append below —
    // the read comes first
    IndexMaintenance.guardAppend(spark, s"$path/table")
    // overlapping appends may duplicate a word; any copy is correct
    // (tokenization is a pure function of (word, merges)), so dedup by
    // first — the arrays are identical, so the pick is deterministic
    val known0 = spark.read
      .schema("word STRING, subwords ARRAY<STRING>") // writer-fixed
      .parquet(s"$path/table")
      .groupBy("word").agg(first(col("subwords")).as("subwords"))
    // under appendNew, `known` MUST be pinned before the append below:
    // if the read re-resolved its file listing after the append, the
    // appended misses would appear in `known` too and the union would
    // duplicate every miss word's rows — so don't rely on
    // InMemoryFileIndex caching, materialize eagerly
    val known =
      if (materializeTable || appendNew) known0.localCheckpoint(true) else known0
    val words = docs
      .select(col(idCol), posexplode(TextOps.tokens(lower(col(textCol))))
        .as(Seq("pos", "word")))
      .where(length(col("word")) > 0)
    val mergeVec = merges.toVector
    val rank = mergeVec.zipWithIndex.toMap
    val misses = words.select("word").distinct()
      .join(known.select("word"), Seq("word"), "left_anti")
      .as[String]
      .mapPartitions(_.map(w => (w, applyMergesRanked(w, mergeVec, rank, eow))))
      .toDF("word", "subwords")
      // materialized ONCE: consumed by the batch join below and (under
      // appendNew) the fold-in write — and the result must not re-read
      // the table files after this call (the incremental contract)
      .localCheckpoint(true)
    if (appendNew)
      misses.write.mode(SaveMode.Append)
        .option("compression", "zstd").parquet(s"$path/table")
    val table = known.unionByName(misses)
    words.join(if (broadcastTable) broadcast(table) else table, Seq("word"))
      .select(col(idCol), col("pos"),
        posexplode(col("subwords")).as(Seq("sub_pos", "subword")))
  }
}
