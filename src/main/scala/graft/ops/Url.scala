package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** URL canonicalization + URL-keyed deduplication — the stage-one dedup
  * of every web-crawl training pipeline (Common Crawl's index dedups by
  * normalized URL before any content hash is ever computed): the same
  * page is crawled as `http://`/`https://`, with and without `www.`,
  * with default ports, trailing slashes, fragments, and tracking query
  * params, and all of those variants must collapse to ONE canonical key
  * before content-level dedup ([[Dedup]]) sees the corpus.
  *
  * Canonical form (the common subset of RFC 3986 §6 normalization plus
  * the crawl conventions):
  *   - scheme dropped entirely (http ≡ https for identity purposes);
  *   - userinfo dropped, host lowercased, leading `www.` and default
  *     ports `:80`/`:443` stripped;
  *   - path: duplicate slashes collapsed, trailing slashes stripped;
  *   - query: params split on `&`, `utm_*` tracking params and empties
  *     dropped, the rest SORTED (param order is transport noise);
  *   - fragment dropped (never sent to the server).
  *
  * Everything is a pure `Column` expression over Spark's codegen'd
  * regexp/array functions — per-row work, no shuffle, and the patterns
  * stay in the Java-regex/RE2 common subset so the DuckDB oracle
  * replays them byte-for-byte (the [[Pii]] stance). The only lambda
  * ([[queryCanonical]]'s param filter) runs interpreted but over a
  * handful of query params per row, not per-token corpus work.
  *
  * Scale design (100 TB): canonicalization is scan-local;
  * [[dedupByCanonical]] shuffles once on the canonical key — the same
  * single-shuffle shape as exact content dedup, and the key is a short
  * URL string, never document text.
  */
object Url {

  private val SchemeRe = "^[A-Za-z][A-Za-z0-9+.-]*://"

  /** Normalized host: authority lowercased, userinfo dropped, default
    * ports and leading `www.` stripped. Empty string for unparseable
    * input (no scheme) — callers can filter on it. */
  def host(url: Column): Column = {
    val auth = lower(regexp_extract(url, SchemeRe + "([^/?#]+)", 1))
    val noUser = regexp_replace(auth, "^[^@]*@", "")
    val noPort = regexp_replace(noUser, ":(80|443)$", "")
    regexp_replace(noPort, "^www\\.", "")
  }

  /** Normalized path: duplicate slashes collapsed, trailing slashes
    * stripped (so `/a/b/`, `/a//b` and `/a/b` agree; the root path
    * normalizes to the empty string). */
  def path(url: Column): Column = {
    val p = regexp_extract(url, SchemeRe + "[^/?#]*([^?#]*)", 1)
    regexp_replace(regexp_replace(p, "/{2,}", "/"), "/+$", "")
  }

  /** Canonical query string: `utm_*` tracking params and empty params
    * dropped, survivors sorted and rejoined with `&`. Empty string when
    * nothing survives (or there was no query). The fragment is stripped
    * BEFORE the `?` is looked for — a `?` inside the fragment
    * (`/p#sec?y=1`) is fragment text, not a query, and must not leak
    * into the key (UrlSpec-pinned). */
  def queryCanonical(url: Column): Column = {
    val q = regexp_extract(regexp_replace(url, "#.*$", ""), "\\?(.*)$", 1)
    val params = filter(split(q, "&"),
      p => (length(p) > 0).and(substring(p, 1, 4) =!= "utm_"))
    array_join(array_sort(params), "&")
  }

  /** The canonical identity key: host + path [+ "?" + canonical query].
    * Scheme and fragment are gone by construction. NULL for input with
    * no parseable scheme://host — "no canonical identity" must be
    * VISIBLE: an empty-string key would silently collapse every
    * unparseable row into one dedup group ([[dedupByCanonical]] falls
    * back to the raw spelling for such rows). */
  def canonicalize(url: Column): Column = {
    val h = host(url)
    val q = queryCanonical(url)
    when(h =!= "", concat(h, path(url),
      when(q =!= "", concat(lit("?"), q)).otherwise(lit(""))))
      .otherwise(lit(null).cast("string"))
  }

  /** The dedup key: the canonical form, or `"RAW:" + raw spelling` for
    * rows with no parseable canonical identity — unparseable rows dedup
    * only against byte-identical spellings instead of all collapsing
    * into one group (silent mass data loss in a crawl with junk URLs).
    * The fallback keyspace is DISJOINT from the canonical one by
    * construction: a bare fallback would let raw `a.com/p` collide with
    * the canonical key of `https://a.com/p` and silently merge an
    * unparseable row into a parseable group. The prefix's capital `R`
    * guarantees disjointness — a canonical key always STARTS with the
    * lowercased host ([[host]] lowercases the whole authority), so no
    * canonical key can begin with an uppercase letter. */
  def dedupKey(url: Column): Column =
    coalesce(canonicalize(url), concat(lit("RAW:"), url))

  /** Group-level dedup report: one row per canonical URL with the
    * deterministic keeper (min id), the number of crawled variants, and
    * how many DISTINCT raw spellings collapsed into the key. One
    * shuffle, on the canonical key. */
  def dedupByCanonical(df: DataFrame, urlCol: String, idCol: String): DataFrame = {
    Reserved.requireAbsent("dedupByCanonical", Seq("canon_url"), df)
    df.select(col(idCol), col(urlCol),
        dedupKey(col(urlCol)).as("canon_url"))
      .groupBy("canon_url")
      .agg(min(col(idCol)).as("keep_id"),
        count(lit(1)).as("n_urls"),
        countDistinct(col(urlCol)).as("n_raw"))
  }
}
