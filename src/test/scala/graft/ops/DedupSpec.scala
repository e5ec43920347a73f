package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog today"),
    (2L, "the quick brown fox jumps over the lazy dog tonight"), // near-dup of 1
    (3L, "completely different content about spark query engines"),
    (4L, "the quick brown fox jumps over the lazy dog today"),   // exact dup of 1
    (5L, "short text"),                                           // < 3 tokens → no shingles
  ).toDF("id", "text")

  test("exact dedup keeps first by tie-break") {
    val out = Dedup.exact(docs, TextOps.fingerprint(col("text")), col("id"))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(out == Seq(1L, 2L, 3L, 5L)) // 4 deduped against 1
  }

  test("paragraphDedup: keep-first per distinct paragraph, totality, in-order reassembly") {
    // doc 1 owns A,B; doc 2 repeats A (dropped) + unique C; doc 3 is
    // ALL repeats (survives with empty text); doc 4 repeats B within
    // ITSELF — only the first in-doc occurrence survives
    val lines = Seq(
      (1L, 0, "A"), (1L, 1, "B"),
      (2L, 0, "A"), (2L, 1, "C"),
      (3L, 0, "A"), (3L, 1, "B"),
      (4L, 0, "B"), (4L, 1, "D"), (4L, 2, "D"),
    ).toDF("id", "pos", "para")
    val out = Dedup.paragraphDedup(lines, "id", "pos", "para")
      .orderBy("id")
      .select("id", "n_paras", "n_kept", "clean_text")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(out == Seq(
      (1L, 2L, 2L, "A\nB"),
      (2L, 2L, 1L, "C"),
      (3L, 2L, 0L, ""),     // all paragraphs seen earlier — row kept, text empty
      (4L, 3L, 1L, "D")))   // B lost to doc 1; second D lost to the first
  }

  test("paragraphDedupIncrement: two doc-ascending increments ≡ one batch run") {
    val lines = Seq(
      (1L, 0, "A"), (1L, 1, "B"),
      (2L, 0, "A"), (2L, 1, "C"),
      (3L, 0, "A"), (3L, 1, "B"),
      (4L, 0, "B"), (4L, 1, "D"), (4L, 2, "D"),
    ).toDF("id", "pos", "para")
    val expect = Dedup.paragraphDedup(lines, "id", "pos", "para")
      .select("id", "n_paras", "n_kept", "clean_text")
      .as[(Long, Long, Long, String)].collect().toSet
    val idx = java.nio.file.Files.createTempDirectory("paradedup").toString
    try {
      val out1 = Dedup.paragraphDedupIncrement(lines.where($"id" <= 2), idx,
          "id", "pos", "para")
        .as[(Long, Long, Long, String)].collect().toSet
      val out2 = Dedup.paragraphDedupIncrement(lines.where($"id" > 2), idx,
          "id", "pos", "para")
        .as[(Long, Long, Long, String)].collect().toSet
      assert(out1 ++ out2 == expect,
        "incremental fold-in diverged from the one-shot batch run")
      // doc 3 arrived in batch 2 with only batch-1 paragraphs → empty
      assert(out2.contains((3L, 2L, 0L, "")))
      // the index holds each distinct fingerprint (dups from retries
      // would be harmless; here there are none)
      assert(spark.read.parquet(s"$idx/pmd5").distinct().count() == 4L) // A B C D
    } finally {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(idx))
      try walk.iterator().asScala.toSeq.reverse
        .foreach(f => java.nio.file.Files.deleteIfExists(f))
      finally walk.close()
    }
  }

  test("paragraphDedupIncrement crash replay: stamped batches never self-strip; index converges") {
    val lines = Seq(
      (1L, 0, "A"), (1L, 1, "B"),
      (2L, 0, "A"), (2L, 1, "C"),
      (3L, 0, "A"), (3L, 1, "B"),
      (4L, 0, "B"), (4L, 1, "D"), (4L, 2, "D"),
    ).toDF("id", "pos", "para")
    val idx = java.nio.file.Files.createTempDirectory("paracrash").toString
    def outOf(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "n_paras", "n_kept", "clean_text")
        .as[(Long, Long, Long, String)].collect().toSet
    try {
      val b0 = lines.where($"id" <= 2)
      val b1 = lines.where($"id" > 2)
      outOf(Dedup.paragraphDedupIncrement(b0, idx, "id", "pos", "para", Some(0L)))
      val first = outOf(
        Dedup.paragraphDedupIncrement(b1, idx, "id", "pos", "para", Some(1L)))
      assert(first.contains((4L, 3L, 1L, "D")), "fixture: D must survive batch 1")

      // crash point: output AND append landed, checkpoint didn't
      // commit — foreachBatch replays batch 1. The stamp excludes the
      // batch's own fingerprints from "seen", so the replay re-emits
      // the IDENTICAL rows instead of self-stripping everything.
      val replay = outOf(
        Dedup.paragraphDedupIncrement(b1, idx, "id", "pos", "para", Some(1L)))
      assert(replay == first,
        "stamped replay diverged — the self-strip data-loss mode is back")

      // counterfactual, pinned so the WHY survives refactors: an
      // UNSTAMPED replay of the same rows anti-joins against its own
      // fingerprints and strips every paragraph
      val unstamped = outOf(
        Dedup.paragraphDedupIncrement(b1, idx, "id", "pos", "para", None))
      assert(unstamped.forall { case (_, _, kept, text) => kept == 0L && text.isEmpty },
        "unstamped replay should self-strip (if this fails the fixture is wrong)")

      // the replay's re-appended fingerprints are exact duplicates —
      // dedupe compaction converges the index to the no-crash set
      IndexMaintenance.compactDir(spark, s"$idx/pmd5", dedupeRows = true)
      val prints = spark.read.parquet(s"$idx/pmd5")
      assert(prints.select("__pmd5").distinct().count() == 4L) // A B C D
      assert(prints.count() == 4L, "dedupe compaction left replay duplicates")

      // and a later stamped batch still strips history correctly
      val b2 = Seq((9L, 0, "D"), (9L, 1, "E")).toDF("id", "pos", "para")
      val out2 = outOf(
        Dedup.paragraphDedupIncrement(b2, idx, "id", "pos", "para", Some(2L)))
      assert(out2 == Set((9L, 2L, 1L, "E")))
    } finally {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(idx))
      try walk.iterator().asScala.toSeq.reverse
        .foreach(f => java.nio.file.Files.deleteIfExists(f))
      finally walk.close()
    }
  }

  test("shingles: distinct word 3-grams; short docs → empty") {
    val sh = docs.select(col("id"), Dedup.shingles(col("text"), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(sh(1L).contains("the quick brown"))
    assert(sh(1L).contains("lazy dog today"))
    assert(sh(5L).isEmpty)
  }

  test("shingles/ngramsAll: TOTAL on null text — empty array, never null") {
    val withNull = Seq((1L, "a b c d"), (2L, null.asInstanceOf[String]))
      .toDF("id", "text")
    val got = withNull.select(col("id"),
        Dedup.shingles(col("text"), 3).as("sh"),
        TextOps.ngramsAll(col("text"), 2).as("ng"))
      .collect().map(r => r.getLong(0) -> (r.getSeq[String](1), r.getSeq[String](2))).toMap
    assert(got(1L)._1 == Seq("a b c", "b c d"))
    assert(got(1L)._2 == Seq("a b", "b c", "c d"))
    // the pre-WordNgrams contract: null in → EMPTY out (not null) —
    // consumers may size()/explode without a null guard
    assert(got(2L)._1 != null && got(2L)._1.isEmpty)
    assert(got(2L)._2 != null && got(2L)._2.isEmpty)
  }

  test("jaccard: identical=1, near-dup high, disjoint=0, empty-safe") {
    val sh = docs.select(col("id"), Dedup.shingles(col("text"), 3).as("sh"))
    val a = sh.select(col("id").as("id1"), col("sh").as("sh1"))
    val b = sh.select(col("id").as("id2"), col("sh").as("sh2"))
    val j = a.join(b, col("id1") < col("id2"))
      .select(col("id1"), col("id2"), Dedup.jaccard(col("sh1"), col("sh2")).as("j"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(j((1L, 4L)) == 1.0)
    assert(j((1L, 2L)) > 0.7 && j((1L, 2L)) < 1.0)
    assert(j((1L, 3L)) == 0.0)
    assert(j((1L, 5L)) == 0.0)
  }

  test("minhash LSH finds the same near-dups as brute force on the testdata docs") {
    val dir = "/root/testdata/sf0.001"
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id").as("id"), col("text"))
    val brute = {
      val sh = d.select(col("id"), Dedup.shingles(col("text"), 3).as("sh"))
      val a = sh.select(col("id").as("id1"), col("sh").as("sh1"))
      val b = sh.select(col("id").as("id2"), col("sh").as("sh2"))
      a.join(b, col("id1") < col("id2"))
        .withColumn("j", Dedup.jaccard(col("sh1"), col("sh2")))
        .where(col("j") >= 0.8)
        .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val lsh = Dedup.minhashNearDups(d, threshold = 0.8)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // LSH verification means no false positives; recall on the planted
    // high-jaccard dups should be total at 16 hashes / 4 bands
    assert(lsh == brute)
    assert(brute.nonEmpty)
  }

  test("requireBandRecall: high-j results pass, threshold-hugging volume fails with the covering message") {
    import spark.implicits._
    // near-exact duplicates: each pair's miss probability (1-j^3)^16 is
    // astronomically small, so even many pairs stay far under budget
    val highJ = Seq.tabulate(5000)(i => (i.toLong, i.toLong + 100000L, 0.98))
      .toDF("id1", "id2", "jaccard")
    Dedup.requireBandRecall(highJ, threshold = 0.8, r = 3, bands = 16)
    // the adversarial corpus: every pair EXACTLY at the threshold —
    // per-pair miss 1.03e-5, so ~10^3 pairs exceed the 1e-2 budget and
    // the gate must go red instead of silently shedding expected pairs
    val atT = Seq.tabulate(5000)(i => (i.toLong, i.toLong + 100000L, 0.80))
      .toDF("id1", "id2", "jaccard")
    val err = intercept[IllegalArgumentException] {
      Dedup.requireBandRecall(atT, threshold = 0.8, r = 3, bands = 16)
    }
    assert(err.getMessage.contains("no longer covers"))
    // empty result (no pairs) trivially covers
    Dedup.requireBandRecall(highJ.where(col("id1") < 0),
      threshold = 0.8, r = 3, bands = 16)
    // the budget scales the cut: the same at-threshold volume passes a
    // loose budget — the inequality is the contract, not a constant
    Dedup.requireBandRecall(atT, threshold = 0.8, r = 3, bands = 16,
      budget = 1.0)
  }

  test("simhash: exact dups collide, near-dups within small hamming, disjoint far") {
    val sh = docs.select(col("id"), Dedup.simhash(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(4L))
    assert(java.lang.Long.bitCount(sh(1L) ^ sh(2L)) <= 16)
    assert(java.lang.Long.bitCount(sh(1L) ^ sh(3L)) > 16)
  }

  test("simhashNearDups returns ordered unique pairs with distances") {
    val out = Dedup.simhashNearDups(docs, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(out.exists { case (a, b, d) => a == 1L && b == 4L && d == 0 })
    assert(out.forall { case (a, b, _) => a < b })
  }

  test("chunkHashes: full-width non-overlapping chunks only") {
    val t = Seq((1L, "abcdefghij"), (2L, "abcd")).toDF("id", "text")
    val h = t.select(col("id"), Dedup.chunkHashes(col("text"), 4).as("h"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    // "abcdefghij" (10 chars, w=4) → chunks at 1,5 ("abcd","efgh"); tail "ij" dropped
    assert(h(1L).length == 2)
    assert(h(2L).length == 1) // exactly width → one chunk
    assert(h(1L).head == h(2L).head) // same bytes, same hash
  }

  test("substringDupProfile: cross-doc chunks flagged, within-doc repeats are not") {
    val boiler = "X" * 30
    val d = Seq(
      (1L, boiler + ("a" * 30)),           // shares boiler with 2
      (2L, boiler + ("b" * 30)),
      (3L, ("c" * 30) + ("c" * 30)),       // repeats ITS OWN chunk — 1 distinct doc
      (4L, "too short"),                   // < width → absent from output
    ).toDF("doc_id", "text")
    val out = Dedup.substringDupProfile(d, width = 30)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out == Map(1L -> ((2L, 1L)), 2L -> ((2L, 1L)), 3L -> ((2L, 0L))))
  }

  test("substringDupProfile: per-occurrence dup counting and dup_frac") {
    val boiler = "Y" * 20
    val d = Seq(
      (1L, boiler + boiler),  // doc 1 carries the shared chunk TWICE
      (2L, boiler + ("z" * 20)),
    ).toDF("doc_id", "text")
    val out = Dedup.substringDupProfile(d, width = 20)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((2L, 2L, 1.0)))      // both occurrences count
    assert(out(2L) == ((2L, 1L, 0.5)))
  }

  test("removeDupChunks: duplicated chunks cut, order kept, tails and short docs whole") {
    val A = "A" * 10; val B = "B" * 10; val C = "C" * 10
    val d = Seq(
      (1L, A + B + "xy"),  // A shared → removed; B unique + sub-width tail kept
      (2L, A + C),         // A removed, C kept
      (3L, "short"),       // < width → untouched, 0 chunks
      (4L, A),             // every chunk duplicated → only the (empty) tail
    ).toDF("doc_id", "text")
    val out = Dedup.removeDupChunks(d, width = 10)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getLong(2), r.getString(3)))).toMap
    assert(out == Map(
      1L -> ((2, 1L, B + "xy")),
      2L -> ((2, 1L, C)),
      3L -> ((0, 0L, "short")),
      4L -> ((1, 1L, ""))))
  }
}
