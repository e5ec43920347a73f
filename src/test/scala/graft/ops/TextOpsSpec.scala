package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions.col

class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  private def one[T](text: String, c: org.apache.spark.sql.Column => org.apache.spark.sql.Column): T =
    Seq(text).toDF("t").select(c(col("t"))).head().getAs[T](0)

  test("tokenCount: whitespace runs, trim; empty → 1 (split semantics)") {
    assert(one[Int]("a b  c\td", TextOps.tokenCount) == 4)
    assert(one[Int]("  hi  ", TextOps.tokenCount) == 1)
    assert(one[Int]("", TextOps.tokenCount) == 1)
  }

  test("bpeishTokenCount: alpha runs + digit runs + marks") {
    assert(one[Int]("hello world42, ok!", TextOps.bpeishTokenCount) == 6)
    // hello | world | 42 | , | ok | !
  }

  test("stopwordRatio and langId") {
    assert(one[Double]("the cat sat on the mat", TextOps.stopwordRatio) == 3.0 / 6.0)
    assert(one[String]("the cat sat on the mat", c => TextOps.langId(c)) == "en")
    assert(one[String]("ดินถล่มภาคเหนือ", c => TextOps.langId(c)) == "th")
    assert(one[String]("xyzzy plugh foobar", c => TextOps.langId(c)) == "und")
  }

  test("punctRatio and meanTokenLen") {
    assert(one[Double]("ab.,cd", TextOps.punctRatio) == 2.0 / 6.0)
    assert(one[Double]("ab cdef", TextOps.meanTokenLen) == 3.0)
  }

  test("fingerprint: whitespace/case-insensitive, content-sensitive") {
    val f1 = one[String]("Hello   World", TextOps.fingerprint)
    val f2 = one[String]("  hello world ", TextOps.fingerprint)
    val f3 = one[String]("hello worlds", TextOps.fingerprint)
    assert(f1 == f2 && f1 != f3)
  }

  test("qualityScore bands") {
    val good = "the quick brown fox jumps over the lazy dog and then keeps running today."
    assert(one[Double](good, TextOps.qualityScore) == 1.0)
    assert(one[Double]("x", TextOps.qualityScore) <= 0.5)
  }

  test("dupTokenRatio: repeats of earlier tokens, case-folded") {
    assert(one[Double]("a b c d", TextOps.dupTokenRatio) == 0.0)
    assert(one[Double]("a A b a", TextOps.dupTokenRatio) == 0.5) // 4 toks, 2 distinct
    assert(one[Double]("", TextOps.dupTokenRatio) == 0.0)
  }

  test("dupNgramRatio: duplicate 3-grams; short docs → 0") {
    assert(one[Double]("a b c a b c a b c", c => TextOps.dupNgramRatio(c, 3)) ==
      1.0 - 3.0 / 7.0) // 7 grams, 3 distinct (abc, bca, cab)
    assert(one[Double]("a b", c => TextOps.dupNgramRatio(c, 3)) == 0.0)
    assert(one[Double]("a b c d e", c => TextOps.dupNgramRatio(c, 3)) == 0.0)
  }

  test("topTokenFraction: dominance of the most frequent token") {
    assert(one[Double]("x x x y", TextOps.topTokenFraction) == 0.75)
    assert(one[Double]("a b c d", TextOps.topTokenFraction) == 0.25)
    // split semantics: "" → one empty token → that token IS the whole doc
    assert(one[Double]("", TextOps.topTokenFraction) == 1.0)
  }

  test("ngramsAll keeps duplicates in order (multiset, unlike Dedup.shingles)") {
    val g = Seq("a b a b").toDF("t")
      .select(TextOps.ngramsAll(col("t"), 2)).head().getSeq[String](0)
    assert(g == Seq("a b", "b a", "a b"))
  }

  test("chunkTokenWindows: stride overlap, natural tail, full coverage, totality") {
    def chunks(t: String, w: Int, s: Int) =
      Seq(t).toDF("t").select(TextOps.chunkTokenWindows(col("t"), w, s))
        .head().getSeq[String](0)
    // 7 tokens, window 3, stride 2: starts 1,3,5 — overlap of 1 token,
    // every token covered, no start past the text
    assert(chunks("a b c d e f g", 3, 2) ==
      Seq("a b c", "c d e", "e f g"))
    // 8 tokens: the 4th chunk is the natural SHORTER tail
    assert(chunks("a b c d e f g h", 3, 2) ==
      Seq("a b c", "c d e", "e f g", "g h"))
    // no overlap when stride == window
    assert(chunks("a b c d e f", 3, 3) == Seq("a b c", "d e f"))
    // short and exact-fit docs stay one chunk; empty text keeps a row
    assert(chunks("a b", 3, 2) == Seq("a b"))
    assert(chunks("a b c", 3, 2) == Seq("a b c"))
    assert(chunks("", 3, 2) == Seq(""))
    // NULL text: one EMPTY chunk, not a NULL chunk (size(NULL) = -1
    // under non-ANSI Spark would otherwise poison the arithmetic) and
    // not a dropped row
    val nullRow = Seq(Tuple1(null.asInstanceOf[String])).toDF("t")
      .select(TextOps.chunkTokenWindows(col("t"), 3, 2))
      .head().getSeq[String](0)
    assert(nullRow == Seq(""))
    // guards: stride above window would silently skip tokens
    intercept[IllegalArgumentException] {
      TextOps.chunkTokenWindows(col("t"), 3, 4)
    }
    intercept[IllegalArgumentException] {
      TextOps.chunkTokenWindows(col("t"), 0, 1)
    }
  }

  test("htmlToText: blocks dropped wholesale, tags stripped, entities single-pass") {
    def ext(s: String): String =
      Seq(Tuple1(s)).toDF("h").select(TextOps.htmlToText(col("h"))).head().getString(0)
    // script/style CONTENT must vanish (a bare tag-strip would leak it)
    assert(ext("<p>a</p><script>var leak = 1;</script><style>p{x}</style>b") == "a b")
    // multi-line block under (?s)
    assert(ext("<script>\nline1\nline2\n</script>keep") == "keep")
    // case-insensitive block drop: real HTML writes <SCRIPT> freely
    assert(ext("<SCRIPT>var leak=1;</SCRIPT><STYLE>p{y}</Style>ok") == "ok")
    assert(ext("<!-- hidden -->shown") == "shown")
    // nested tags with attributes
    assert(ext("""<div class="x"><b>bold</b> text</div>""") == "bold text")
    // all six entities; &amp;amp; decodes ONE pass to the literal &amp;
    assert(ext("&lt;b&gt; &quot;q&quot; &#39;s&nbsp;&amp; &amp;amp; end")
      == "<b> \"q\" 's & &amp; end")
    // whitespace collapse + trim; NULL-total
    assert(ext("  <p>  a\n\n b  </p>  ") == "a b")
    assert(Seq(Tuple1(null.asInstanceOf[String])).toDF("h")
      .select(TextOps.htmlToText(col("h"))).head().getString(0) == "")
  }
}
