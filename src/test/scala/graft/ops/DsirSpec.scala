package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins [[Dsir]] — DSIR-style importance resampling. The gate
  * (`q_dsir_select`) checks the integer-exact ratio form against
  * DuckDB; this spec pins the semantics both weight forms share:
  * target-like documents outrank target-unlike ones, scoring is
  * deterministic, unseen buckets are neutral, and the plan shape is the
  * broadcast-join + single-shuffle design the Scaladoc promises. */
class DsirSpec extends SparkSpec {
  import spark.implicits._

  private val B = 512

  // a tiny corpus with an unmistakable target signal: "aardvark"-heavy
  // docs are the target domain, "zebra"-heavy docs are not
  private def corpus = Seq(
    (1L, "aardvark burrows dig aardvark tunnels deep", "tgt"),
    (2L, "aardvark aardvark aardvark snouts and ants", "tgt"),
    (3L, "zebra stripes gallop zebra herds run", "other"),
    (4L, "zebra zebra crossing plains quickly", "other"),
    (5L, "aardvark meets zebra once", "mixed"),
    (6L, "", "empty")).toDF("doc_id", "text", "lab")

  private def weights(form: String) = {
    val raw = Dsir.bucketCounts(corpus, "text", B)
    val tgt = Dsir.bucketCounts(corpus.where(col("lab") === "tgt"), "text", B)
    if (form == "ratio") Dsir.ratioWeights(raw, tgt)
    else Dsir.logWeights(raw, tgt, B)
  }

  test("terms: unigrams + bigrams with multiplicity, whitespace-robust") {
    val t = Seq(Tuple1("a  b a")).toDF("text")
      .select(Dsir.terms(col("text")).as("t"))
      .head().getAs[scala.collection.Seq[String]]("t")
    assert(t.toSeq == Seq("a", "b", "a", "a b", "b a"))
    val one = Seq(Tuple1("solo")).toDF("text")
      .select(Dsir.terms(col("text")).as("t"))
      .head().getAs[scala.collection.Seq[String]]("t")
    assert(one.toSeq == Seq("solo"))
  }

  test("n-gram order: n=2 default unchanged; n=1/n=3 produce the paper's generality") {
    // default n=2 ≡ explicit n=2, end-to-end (weights AND scores)
    val w2 = Dsir.ratioWeightsJoint(Dsir.bucketCountsWithTarget(
      corpus, "text", col("lab") === "tgt", B))
    val w2e = Dsir.ratioWeightsJoint(Dsir.bucketCountsWithTarget(
      corpus, "text", col("lab") === "tgt", B, n = 2))
    val s2 = Dsir.scoreDocs(corpus, "doc_id", "text", w2, B)
      .collect().sortBy(_.getLong(0)).toSeq
    val s2e = Dsir.scoreDocs(corpus, "doc_id", "text", w2e, B, n = 2)
      .collect().sortBy(_.getLong(0)).toSeq
    assert(s2 == s2e, "n=2 must be byte-identical to today's default")
    // term expansion at each order, hand-checked
    def termsAt(n: Int) = Seq(Tuple1("a b c")).toDF("text")
      .select(Dsir.terms(col("text"), n).as("t"))
      .head().getAs[scala.collection.Seq[String]]("t").toSeq
    assert(termsAt(1) == Seq("a", "b", "c"))
    assert(termsAt(2) == Seq("a", "b", "c", "a b", "b c"))
    assert(termsAt(3) == Seq("a", "b", "c", "a b", "b c", "a b c"))
    // short docs stay total at higher orders (no trigram from 2 tokens)
    assert(Seq(Tuple1("x y")).toDF("text")
      .select(Dsir.terms(col("text"), 3).as("t"))
      .head().getAs[scala.collection.Seq[String]]("t").toSeq ==
      Seq("x", "y", "x y"))
    // trigram scoring still ranks the obviously-target-like doc first,
    // and n_terms reflects the larger feature multiset
    val w3 = Dsir.ratioWeightsJoint(Dsir.bucketCountsWithTarget(
      corpus, "text", col("lab") === "tgt", B, n = 3))
    val s3 = Dsir.scoreDocs(corpus, "doc_id", "text", w3, B, n = 3)
      .withColumn("mean_w", col("score").cast("double") / col("n_terms"))
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("mean_w")).toMap
    assert(s3(1L) > s3(3L) && s3(2L) > s3(4L),
      "trigram features must still separate target from non-target")
    val n2 = Dsir.scoreDocs(corpus, "doc_id", "text", w2, B)
      .where(col("doc_id") === 1L).head().getAs[Long]("n_terms")
    val n3 = Dsir.scoreDocs(corpus, "doc_id", "text", w3, B, n = 3)
      .where(col("doc_id") === 1L).head().getAs[Long]("n_terms")
    assert(n3 == n2 + 4, "6 tokens: 6 uni + 5 bi (+4 tri at n=3)")
  }

  test("both weight forms rank target-like docs above target-unlike ones") {
    for (form <- Seq("ratio", "log")) {
      val scored = Dsir.scoreDocs(corpus, "doc_id", "text", weights(form), B)
        .withColumn("mean_w", col("score").cast("double") / col("n_terms"))
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("mean_w")).toMap
      // per-term mean importance: pure-target docs ≥ mixed ≥ pure-other
      assert(scored(1L) > scored(5L), s"$form: target doc must outrank mixed")
      assert(scored(2L) > scored(5L), s"$form: target doc must outrank mixed")
      assert(scored(5L) > scored(3L), s"$form: mixed must outrank anti-target")
      assert(scored(5L) > scored(4L), s"$form: mixed must outrank anti-target")
    }
  }

  test("fast xxhash64 path: same ranking semantics as the portable hash") {
    // different buckets, same signal — the per-term-mean ordering the
    // portable path pins must hold under the in-engine hash too
    val w = Dsir.ratioWeightsJoint(Dsir.bucketCountsWithTarget(
      corpus, "text", col("lab") === "tgt", B, portable = false))
    val scored = Dsir.scoreDocs(corpus, "doc_id", "text", w, B, portable = false)
      .withColumn("mean_w", col("score").cast("double") / col("n_terms"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("mean_w")).toMap
    assert(scored(1L) > scored(5L) && scored(2L) > scored(5L))
    assert(scored(5L) > scored(3L) && scored(5L) > scored(4L))
    // and determinism across runs (xxhash64 is seed-stable)
    val again = Dsir.scoreDocs(corpus, "doc_id", "text", w, B, portable = false)
      .collect().map(_.toSeq).toSet
    val first = Dsir.scoreDocs(corpus, "doc_id", "text", w, B, portable = false)
      .collect().map(_.toSeq).toSet
    assert(again == first)
  }

  test("one-pass joint counts ≡ two-pass bucketCounts (weights identical)") {
    val twoPass = weights("ratio")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val onePass = Dsir.ratioWeightsJoint(
        Dsir.bucketCountsWithTarget(corpus, "text", col("lab") === "tgt", B))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(onePass == twoPass,
      "the single-scan joint form must produce byte-identical weights")
  }

  test("scoring is deterministic and total (empty text still scores)") {
    val w = weights("ratio")
    val a = Dsir.scoreDocs(corpus, "doc_id", "text", w, B).collect().sortBy(_.getLong(0))
    val b = Dsir.scoreDocs(corpus, "doc_id", "text", w, B).collect().sortBy(_.getLong(0))
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    assert(a.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L, 5L, 6L),
      "every doc, including empty text, gets a score row")
  }

  test("unseen buckets fall back to the neutral ratio weight") {
    val w = weights("ratio")
    val foreign = Seq((99L, "completely unseen vocabulary here")).toDF("doc_id", "text")
    val s = Dsir.scoreDocs(foreign, "doc_id", "text", w, B).head()
    // every term unseen → every weight the neutral 10⁶ → score = n·10⁶
    assert(s.getAs[Long]("score") == s.getAs[Long]("n_terms") * 1000000L)
  }

  test("selectTopK: deterministic (score desc, id) order with rank") {
    val scored = Dsir.scoreDocs(corpus, "doc_id", "text", weights("ratio"), B)
    val top = Dsir.selectTopK(scored, "doc_id", 3).collect()
    assert(top.length == 3)
    assert(top.map(_.getAs[Int]("rank")).sorted.toSeq == Seq(1, 2, 3))
    val scores = top.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("score"))
    assert(scores.zip(scores.tail).forall { case (x, y) => x >= y })
  }

  test("scoreAgainstSubsetAdaptive ≡ two-pass on BOTH routes (shared-frame and two-pass)") {
    val pred = col("lab") === "tgt"
    val expected = Dsir.scoreDocs(corpus, "doc_id", "text",
        Dsir.ratioWeightsJoint(Dsir.bucketCountsWithTarget(corpus, "text", pred, B)), B)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    // shared-frame route (corpus under the cap)
    val shared = Dsir.scoreAgainstSubsetAdaptive(corpus, "doc_id", "text", pred, B)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(shared == expected, "shared-frame route must equal the two-pass form")
    // forced two-pass route (cap below the corpus size)
    val twoPass = Dsir.scoreAgainstSubsetAdaptive(corpus, "doc_id", "text", pred, B,
        shareDocsCap = 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(twoPass == expected, "two-pass route must equal the two-pass form")
  }

  test("plan shape: weight join broadcasts; scoring has one aggregate exchange") {
    val plan = Dsir.scoreDocs(corpus, "doc_id", "text", weights("ratio"), B)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "the ≤B-row weight table must broadcast to the scoring join")
    assert(!plan.contains("SortMergeJoin"),
      "no shuffle join anywhere in the scoring path")
  }
}
