package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, language-ID heuristics, quality scoring, document
  * fingerprinting. All pure `Column` expressions (whole-stage codegen,
  * no UDFs) so they survive 100 TB scans — per-row work, no shuffle.
  */
object TextOps {

  /** Whitespace tokenization (empty string → 1 empty token, like the
    * reference ecosystems' str.split semantics; trim first to avoid
    * leading-separator artifacts). */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** A BPE-ish subword proxy: alpha runs, digit runs, and single
    * non-alnum marks each count as one token. */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Common-English stopwords used by the heuristics below (canonical
    * list lives next to the native expression that burns it into a
    * hash set — one source of truth). */
  val EnStopwords: Seq[String] = graft.expr.TextQualityCore.EnStopwords

  /** Fraction of tokens that are English stopwords — the language-ID
    * signal (n-gram/stopword heuristic; no external models). Native
    * one-pass expression (r18): the Column composite re-tokenized per
    * use and ran an interpreted `filter(_.isin(...))` lambda per token;
    * [[stopwordRatioComposite]] keeps the original definition as the
    * parity baseline (TextQualityParitySpec pins equality). */
  def stopwordRatio(text: Column): Column =
    graft.expr.TextQuality.stopwordRatio(text)

  /** The pre-r18 Column-composite definition — parity baseline only. */
  private[graft] def stopwordRatioComposite(text: Column): Column = {
    val toks = tokens(lower(text))
    val hits = size(filter(toks, t => t.isin(EnStopwords: _*)))
    when(size(toks) > 0, hits.cast("double") / size(toks).cast("double")).otherwise(0.0)
  }

  /** Heuristic language ID: stopword ratio ≥ threshold → "en";
    * any Thai-block char → "th"; else "und". */
  def langId(text: Column, enThreshold: Double = 0.08): Column =
    when(text.rlike("[ก-๙]"), "th")
      .when(stopwordRatio(text) >= enThreshold, "en")
      .otherwise(lit("und"))

  /** Punctuation fraction of all characters. */
  def punctRatio(text: Column): Column = {
    val n = length(text)
    when(n > 0,
      length(regexp_replace(text, "[^.,;:!?'\"()\\[\\]-]", "")).cast("double") / n.cast("double"))
      .otherwise(0.0)
  }

  /** Mean token length (0 for empty docs). */
  def meanTokenLen(text: Column): Column = {
    val toks = tokens(text)
    when(size(toks) > 0,
      aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") /
        size(toks).cast("double")).otherwise(0.0)
  }

  /** Composite quality score in [0,1]: length band, stopword presence,
    * sane punctuation, sane token length. The shape mirrors common
    * pretraining-corpus filters (Gopher/C4-style rules). Native
    * one-pass expression (r18) — the Column composite tokenized the
    * text 4–6× per row with interpreted HOF lambdas;
    * [[qualityScoreComposite]] keeps the original as the parity
    * baseline (TextQualityParitySpec pins equality, incl. null). */
  def qualityScore(text: Column): Column =
    graft.expr.TextQuality.qualityScore(text)

  /** The pre-r18 Column-composite definition — parity baseline only. */
  private[graft] def qualityScoreComposite(text: Column): Column = {
    val nChars = length(text)
    val lengthOk = when(nChars.between(50, 100000), 1.0).otherwise(0.0)
    val stopOk = when(stopwordRatioComposite(text) >= 0.05, 1.0).otherwise(0.0)
    val punctOk = when(punctRatio(text) <= 0.2, 1.0).otherwise(0.0)
    val tokOk = when(meanTokenLen(text).between(2.0, 12.0), 1.0).otherwise(0.0)
    (lengthOk + stopOk + punctOk + tokOk) / 4.0
  }

  /** ALL word n-grams in order (duplicates kept — repetition analysis
    * needs the multiset; [[graft.ops.Dedup.shingles]] is the distinct
    * variant for set semantics). TOTAL: empty for docs shorter than n
    * AND for null text (coalesced — the WordNgrams expression itself
    * propagates a null token array as null). */
  def ngramsAll(text: Column, n: Int): Column =
    // codegen'd window join (graft.expr.WordNgrams) — multiset kept,
    // no distinct
    coalesce(graft.expr.WordNgrams.wordNgrams(tokens(lower(text)), n),
      array().cast("array<string>"))

  /** Fraction of tokens that are repeats of an earlier token:
    * 1 − |distinct|/|all|. The word-level repetition signal from
    * Gopher/C4-style quality filtering. 0 for empty docs. Native
    * one-pass expression (r18); [[dupTokenRatioComposite]] is the
    * parity baseline (TextQualityParitySpec pins equality). */
  def dupTokenRatio(text: Column): Column =
    graft.expr.TextQuality.dupTokenRatio(text)

  /** The pre-r18 Column-composite definition — parity baseline only. */
  private[graft] def dupTokenRatioComposite(text: Column): Column = {
    val toks = tokens(lower(text))
    when(size(toks) > 0,
      lit(1.0) - size(array_distinct(toks)).cast("double") / size(toks).cast("double"))
      .otherwise(0.0)
  }

  /** Fraction of word n-grams that are repeats: 1 − |distinct|/|all|.
    * High values flag boilerplate/looping text. 0 when < n tokens. */
  def dupNgramRatio(text: Column, n: Int): Column = {
    val grams = ngramsAll(text, n)
    when(size(grams) > 0,
      lit(1.0) - size(array_distinct(grams)).cast("double") / size(grams).cast("double"))
      .otherwise(0.0)
  }

  /** Fraction of all tokens taken by the single most frequent token —
    * the "top word dominance" repetition filter. O(|distinct|·|toks|)
    * per row (bounded: documents, not corpora). 0 for empty docs. */
  def topTokenFraction(text: Column): Column = {
    val toks = tokens(lower(text))
    val maxN = aggregate(array_distinct(toks), lit(0),
      (acc, t) => greatest(acc, size(filter(toks, x => x === t))))
    when(size(toks) > 0, maxN.cast("double") / size(toks).cast("double"))
      .otherwise(0.0)
  }

  /** Content fingerprint: md5 of the whitespace-normalized, lowercased
    * text — the exact-dedup key. */
  def fingerprint(text: Column): Column =
    md5(lower(regexp_replace(trim(text), "\\s+", " ")))

  /** Context-window chunking with stride overlap — the LONG-doc
    * complement of sequence packing (packing joins short samples;
    * embedding/RAG and max-length pipelines SPLIT long ones): the
    * token stream becomes overlapping windows of `window` tokens whose
    * starts step by `stride` (stride < window ⇒ window−stride tokens
    * of overlap). NAMING CAUTION for anyone porting HuggingFace
    * chunking configs: this `stride` is the window STEP size, while
    * HF's `stride` parameter (in `return_overflowing_tokens`) is the
    * OVERLAP token count — this stride = window − HF's stride.
    * The final chunk is the natural tail (shorter, never duplicated):
    * nChunks = 1 + ⌈max(0, n − window) / stride⌉, so every token is in
    * ≥ 1 chunk and no start lies beyond the text. Chunk text is the
    * space-rejoin of its token slice (the token stream is the unit —
    * original inter-token whitespace is already normalized away by the
    * portable convention). Returns ARRAY<STRING> of chunk texts —
    * per-row codegen'd builtins only, no shuffle; callers posexplode
    * for (chunk_id, chunk). Empty, whitespace, or NULL text → one
    * empty chunk (split("") yields one empty token; NULL coalesces to
    * "" BEFORE tokenizing — without it, size(NULL) = −1 under non-ANSI
    * Spark would make a NULL row emit one NULL chunk while a SQL
    * replay emits zero rows: totality, not a dropped or poisoned
    * row). */
  def chunkTokenWindows(text: Column, window: Int, stride: Int): Column = {
    require(window > 0, "window must be positive")
    require(stride > 0 && stride <= window,
      "stride must be in [1, window] — a stride above window would skip tokens")
    val toks = tokens(coalesce(text, lit("")))
    val n = size(toks)
    val nChunks = when(n <= window, lit(1))
      .otherwise((n - window + (stride - 1)).divide(stride).cast("int") + 1)
    transform(sequence(lit(0), nChunks - 1),
      k => array_join(slice(toks, k * stride + 1, lit(window)), " "))
  }

  /** HTML → text extraction (the crawl's first text stage): drop
    * script/style blocks wholesale (their CONTENT is code, not text —
    * a bare tag-strip would leak it), strip remaining tags, decode the
    * six core entities, collapse whitespace. All regexes sit in the
    * RE2-portable subset (non-greedy `.*?` under `(?is)`, char
    * classes) so the DuckDB oracle replays the chain byte-for-byte —
    * one codegen'd projection, no shuffle, NULL-total via coalesce.
    * Block patterns run case-INSENSITIVE (`(?i)`): real crawl HTML
    * writes `<SCRIPT>`/`<Script>` freely, and a case-sensitive drop
    * would leak that JavaScript as text.
    *
    * `&amp;` decodes LAST (the single-pass convention): `&amp;lt;`
    * means the author WROTE `&lt;` and must surface as that text, not
    * double-decode into `<`. */
  def htmlToText(html: Column): Column = {
    val noScript = regexp_replace(coalesce(html, lit("")),
      "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "<[^>]+>", " ")
    val decoded = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      // entity spellings contain no regex metacharacters, so the same
      // literal pattern text runs under Java regex AND DuckDB's RE2
      .foldLeft(noTags) { case (c, (ent, ch)) => regexp_replace(c, ent, ch) }
    trim(regexp_replace(decoded, "\\s+", " "))
  }
}
