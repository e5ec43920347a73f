package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class UrlSpec extends SparkSpec {
  import spark.implicits._

  private def canonOf(urls: String*): Seq[String] =
    urls.toDF("url").select(Url.canonicalize(col("url")).as("c"))
      .as[String].collect().toSeq

  test("canonicalize: each normalization rule, hand-checked") {
    assert(canonOf(
      // scheme dropped, host lowercased, www + default port stripped,
      // trailing slash stripped, params sorted, fragment dropped
      "http://www.Example.COM:80/a/b/?b=2&a=1#frag",
      // https ≡ http for identity; :443 is a default port too
      "https://Example.com:443/a/b?a=1&b=2",
      // duplicate + trailing slashes collapse
      "https://example.com/a//b///",
      // userinfo dropped; root path → empty
      "HTTP://user:pw@Site.com:443/",
      // tracking params dropped, empty query disappears
      "https://example.com/x?utm_source=a&utm_campaign=b",
      // bare '?' disappears; non-default port KEPT
      "https://example.com:8080/x?",
      // utm must match as a literal prefix of exactly 'utm_'
      "https://example.com/x?utmx=1",
      // a '?' INSIDE the fragment is fragment text, not a query —
      // leaking it would give one resource two canonical keys
      "https://a.com/p#sec?y=1"
    ) == Seq(
      "example.com/a/b?a=1&b=2",
      "example.com/a/b?a=1&b=2",
      "example.com/a/b",
      "site.com",
      "example.com/x",
      "example.com:8080/x",
      "example.com/x?utmx=1",
      "a.com/p"))
  }

  test("unparseable input (no scheme) canonicalizes to NULL, and dedup keeps such rows distinct") {
    val c = Seq("example.com/x", "not a url").toDF("url")
      .select(Url.canonicalize(col("url")).as("c")).collect()
    assert(c.forall(_.isNullAt(0)),
      "no parseable identity must be VISIBLE (null), not empty-string")
    // an empty-string key would collapse every junk URL into ONE dedup
    // group — distinct unparseable spellings must all survive
    val df = Seq((1L, "junk one"), (2L, "junk two"), (3L, "junk one"),
      (4L, "https://a.com/p")).toDF("doc_id", "url")
    val kept = Url.dedupByCanonical(df, "url", "doc_id")
      .select("keep_id").as[Long].collect().toSeq
    assert(kept.sorted == Seq(1L, 2L, 4L),
      "unparseable rows dedup by raw spelling only")
  }

  test("fallback keyspace is disjoint from the canonical keyspace") {
    // raw 'a.com/p' (no scheme → unparseable) must NOT collide with the
    // canonical key of 'https://a.com/p' (which canonicalizes to
    // 'a.com/p') — a bare-raw fallback would silently merge the
    // unparseable row into the parseable group and drop it
    val df = Seq((1L, "https://a.com/p"), (2L, "a.com/p"))
      .toDF("doc_id", "url")
    val kept = Url.dedupByCanonical(df, "url", "doc_id")
      .select("keep_id").as[Long].collect().toSeq
    assert(kept.sorted == Seq(1L, 2L),
      "an unparseable row must never merge into a canonical group")
    val keys = df.select(Url.dedupKey(col("url")).as("k"))
      .as[String].collect().toSeq
    assert(keys == Seq("a.com/p", "RAW:a.com/p"))
  }

  test("dedupByCanonical groups variants; keeper is min id; n_raw counts spellings") {
    val df = Seq(
      (1L, "http://www.A.com/p/"),
      (2L, "https://a.com/p"),
      (3L, "https://a.com/p"), // same RAW spelling as id 2
      (4L, "https://b.com/q")
    ).toDF("doc_id", "url")
    val out = Url.dedupByCanonical(df, "url", "doc_id")
      .orderBy("canon_url")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(out == Seq(("a.com/p", 1L, 3L, 2L), ("b.com/q", 4L, 1L, 1L)))
  }

  test("dedupByCanonical keeper is the min id whatever the input order") {
    val rows = Seq(
      (5L, "http://www.A.com/p/"),
      (2L, "https://a.com/p"),
      (9L, "https://b.com/q"))
    for (order <- Seq(rows, rows.reverse)) {
      val keep = Url.dedupByCanonical(order.toDF("doc_id", "url").repartition(3),
          "url", "doc_id")
        .select("canon_url", "keep_id").orderBy("canon_url")
        .as[(String, Long)].collect().toSeq
      assert(keep == Seq(("a.com/p", 2L), ("b.com/q", 9L)))
    }
  }
}
