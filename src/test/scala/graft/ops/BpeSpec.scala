package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins [[Bpe]] on the classic hand-computable corpus (Sennrich et al.
  * 2016's low/lower/newest/widest example): exact merge order under the
  * deterministic tie rule, subword generalization to unseen words,
  * corpus tokenization ≡ the per-word reference, and the round-trip
  * concatenation identity. Spec-pinned because the iterative merge loop
  * has no replayable-SQL oracle (stance documented on the object). */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  private val freq = Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L,
    "widest" -> 3L)

  test("train: exact merge sequence on the classic corpus, deterministic") {
    val merges = Bpe.train(freq, 4)
    // hand-derived under (max count, then lexicographically smallest):
    // round 1: (e,s)=9 ties (s,t</w>)=9 → (e,s); round 2: (es,t</w>)=9;
    // round 3: (l,o)=7; round 4: (e,w)=6 ties (n,e),(w,est</w>) → (e,w)
    assert(merges == Seq(("e", "s"), ("es", "t</w>"), ("l", "o"), ("e", "w")))
    assert(Bpe.train(freq, 4) == merges, "training must be deterministic")
    assert(Bpe.train(freq, 0).isEmpty)
    // early stop: no adjacent pair reaches count 2 → no merges invented
    assert(Bpe.train(Map("ab" -> 1L, "cd" -> 1L), 10).isEmpty)
  }

  test("applyMerges: learned subwords generalize to an UNSEEN word") {
    val merges = Bpe.train(freq, 4)
    // "lowest" was never in the corpus; es→est</w>→lo apply by rank
    assert(Bpe.applyMerges("lowest", merges) == Seq("lo", "w", "est</w>"))
    assert(Bpe.applyMerges("newest", merges) == Seq("n", "ew", "est</w>"))
    assert(Bpe.applyMerges("low", merges) == Seq("lo", "w</w>"))
    // fully OOV characters stay character-split
    assert(Bpe.applyMerges("zq", merges) == Seq("z", "q</w>"))
  }

  test("tokenize: corpus path ≡ per-word reference; round-trip identity") {
    val merges = Bpe.train(freq, 4)
    val docs = Seq((1L, "low lowest"), (2L, "newest zq")).toDF("doc_id", "text")
    val out = Bpe.tokenize(docs, "doc_id", "text", merges)
      .orderBy("doc_id", "pos", "sub_pos")
      .as[(Long, Int, Int, String)].collect().toSeq
    val expected = for {
      (id, text) <- Seq((1L, "low lowest"), (2L, "newest zq"))
      (w, pos) <- text.split("\\s+").toSeq.zipWithIndex
      (sub, sp) <- Bpe.applyMerges(w, merges).zipWithIndex
    } yield (id, pos, sp, sub)
    assert(out == expected)
    // round trip: per (doc, word), concatenating subwords and dropping
    // the sentinel reproduces the word exactly
    val rt = out.groupBy(t => (t._1, t._2)).values.map { g =>
      g.sortBy(_._3).map(_._4).mkString.stripSuffix(Bpe.EndOfWord)
    }.toSet
    assert(rt == Set("low", "lowest", "newest", "zq"))
  }

  test("non-BMP characters stay whole code points (no lone surrogates)") {
    // U+1D11E (𝄞) is a surrogate pair in UTF-16; per-char splitting
    // would emit lone surrogates that Spark's UTF8String conversion
    // mangles — symbols must be code points
    val merges = Bpe.train(freq, 4)
    val subs = Bpe.applyMerges("𝄞clef", merges)
    assert(subs.head == "𝄞", "leading symbol must be the full code point")
    assert(subs.mkString.stripSuffix(Bpe.EndOfWord) == "𝄞clef")
    // and through the corpus path: round-trip survives Spark's string
    // round-trip (the actual corruption site)
    val docs = Seq((1L, "𝄞clef")).toDF("doc_id", "text")
    val out = Bpe.tokenize(docs, "doc_id", "text", merges)
      .orderBy("sub_pos").select("subword").as[String].collect()
    assert(out.mkString.stripSuffix(Bpe.EndOfWord) == "𝄞clef")
  }

  test("sentinel collision fails fast instead of conflating word boundaries") {
    // a word CONTAINING the sentinel string could merge into a symbol
    // indistinguishable from the boundary — loud failure, with a custom
    // sentinel as the escape hatch
    intercept[IllegalArgumentException] {
      Bpe.train(Map("x</w>y" -> 3L), 2)
    }
    intercept[IllegalArgumentException] {
      Bpe.applyMerges("a</w>b", Seq.empty)
    }
    val custom = Bpe.train(Map("x</w>y" -> 3L, "x</w>z" -> 2L), 3, eow = "")
    assert(custom.nonEmpty, "custom sentinel unblocks sentinel-bearing corpora")
    assert(Bpe.applyMerges("x</w>y", custom, eow = "")
      .mkString.stripSuffix("") == "x</w>y")
  }

  test("wordFreqs: one bounded table, lowercased, multiplicity kept") {
    val docs = Seq((1L, "Low low NEWEST"), (2L, "low")).toDF("doc_id", "text")
    val wf = Bpe.wordFreqs(docs, "text").as[(String, Long)].collect().toMap
    assert(wf == Map("low" -> 3L, "newest" -> 1L))
  }

  test("collectWordFreqs: minFreq/topN pruning, deterministic, loud cap") {
    val wf = Seq(("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L),
      ("rare", 1L)).toDF("word", "n")
    // no pruning by default (beyond the cap): full table back
    assert(Bpe.collectWordFreqs(wf) == Map("low" -> 5L, "lower" -> 2L,
      "newest" -> 6L, "widest" -> 3L, "rare" -> 1L))
    // minFreq drops the rare tail
    assert(Bpe.collectWordFreqs(wf, minFreq = 2L).keySet ==
      Set("low", "lower", "newest", "widest"))
    // topN keeps the most frequent; the boundary tie (lower=2 vs a
    // second 2-count word) breaks by word, deterministically
    val wf2 = wf.union(Seq(("abc", 2L)).toDF("word", "n"))
    assert(Bpe.collectWordFreqs(wf2, topN = 4).keySet ==
      Set("newest", "low", "widest", "abc"))
    // the guard fails FAST, before any job runs
    intercept[IllegalArgumentException] {
      Bpe.collectWordFreqs(wf, topN = 100, maxCollect = 10)
    }
  }

  test("pruned vocabulary: unseen/pruned words fall back through merges to characters") {
    // train WITHOUT 'widest' (pruned as if below minFreq): the learned
    // es/est merges still apply to it, remaining symbols stay characters
    val prunedMerges = Bpe.train(freq - "widest", 4)
    val subs = Bpe.applyMerges("widest", prunedMerges)
    assert(subs.mkString.stripSuffix(Bpe.EndOfWord) == "widest",
      "round-trip must survive pruning")
    // and a fully-pruned alphabet stays character-split end-to-end
    val docs = Seq((1L, "widest zq")).toDF("doc_id", "text")
    val out = Bpe.tokenize(docs, "doc_id", "text", prunedMerges)
      .orderBy("pos", "sub_pos").select("subword").as[String].collect()
    assert(out.mkString.replace(Bpe.EndOfWord, "") == "widestzq")
  }

  test("tokenize: broadcastTable=false shuffle-join path ≡ broadcast path") {
    val merges = Bpe.train(freq, 4)
    val docs = Seq((1L, "low lowest"), (2L, "newest zq")).toDF("doc_id", "text")
    def rows(b: Boolean) =
      Bpe.tokenize(docs, "doc_id", "text", merges, broadcastTable = b)
        .orderBy("doc_id", "pos", "sub_pos")
        .as[(Long, Int, Int, String)].collect().toSeq
    assert(rows(false) == rows(true))
  }

  test("vocabulary: sorted base symbols then merge outputs; collisions fail fast") {
    val merges = Bpe.train(freq, 4)
    val vocab = Bpe.vocabulary(freq.keys, merges)
    val ids = vocab.toMap
    // base block: every initial symbol present, ids dense from 0,
    // lexicographic
    val base = vocab.take(vocab.size - merges.size).map(_._1)
    assert(base == base.sorted)
    assert(vocab.map(_._2) == vocab.indices)
    // merge outputs appended in LEARN order after the base block
    assert(vocab.drop(base.size).map(_._1) ==
      merges.map { case (a, b) => a + b })
    assert(ids.contains("es") && ids.contains("est</w>"))
    // ambiguity guards fail fast: a merge output colliding with a base
    // symbol (a foreign corpus's merge list — "b"+"</w>" assembles the
    // base final "b</w>"), and duplicate outputs
    intercept[IllegalArgumentException] {
      Bpe.vocabulary(Seq("ab", "b"), Seq(("b", "</w>")))
    }
    intercept[IllegalArgumentException] {
      Bpe.vocabulary(Seq("ab"), Seq(("a", "b"), ("a", "b")))
    }
  }

  test("tokenizeToIds: corpus ids match the vocabulary; OOV gets unkId, stays visible") {
    val merges = Bpe.train(freq, 4)
    val vocab = Bpe.vocabulary(freq.keys, merges)
    val ids = vocab.toMap
    val docs = Seq((1L, "low lowest"), (2L, "newest zq")).toDF("doc_id", "text")
    val out = Bpe.tokenizeToIds(docs, "doc_id", "text", merges, vocab)
      .orderBy("doc_id", "pos", "sub_pos")
      .select("subword", "tid").as[(String, Int)].collect().toSeq
    out.foreach { case (sub, tid) =>
      assert(tid == ids.getOrElse(sub, -1), s"'$sub' → $tid")
    }
    // 'z'/'q' never appeared in the training vocabulary → unk, but the
    // rows are PRESENT (dropping them would shift later positions)
    val zq = out.filter { case (s, _) => s == "z" || s == "q</w>" }
    assert(zq.nonEmpty && zq.forall(_._2 == -1))
    assert(out.count(_._2 >= 0) > 0)
  }

  test("tokenizeIncrement ≡ tokenize; appendNew folds the increment in; stale table fails fast") {
    val merges = Bpe.train(freq, 4)
    val dir = java.nio.file.Files.createTempDirectory("graft-bpetbl").toString
    try {
      // table knows only 'low'; 'lowest'/'newest'/'zq' are misses
      Bpe.buildSubwordTable(Seq(Tuple1("low low")).toDF("text"), "text",
        merges, s"$dir/t")
      val docs = Seq((1L, "low lowest"), (2L, "newest zq")).toDF("doc_id", "text")
      val inc = Bpe.tokenizeIncrement(docs, "doc_id", "text", merges,
          s"$dir/t", appendNew = true)
        .orderBy("doc_id", "pos", "sub_pos")
        .as[(Long, Int, Int, String)].collect().toSeq
      val full = Bpe.tokenize(docs, "doc_id", "text", merges)
        .orderBy("doc_id", "pos", "sub_pos")
        .as[(Long, Int, Int, String)].collect().toSeq
      assert(inc == full, "incremental path must equal one-shot tokenize")
      // fold-in happened: the misses are in the table now, so a replay
      // against the grown table has NO misses left
      val tbl = spark.read.parquet(s"$dir/t/table")
        .select("word").as[String].collect().toSet
      assert(tbl == Set("low", "lowest", "newest", "zq"))
      // a different merge table must be rejected loudly
      intercept[IllegalArgumentException] {
        Bpe.tokenizeIncrement(docs, "doc_id", "text", merges.take(2), s"$dir/t")
      }
      // and an Append BUILD under different merges must fail BEFORE any
      // write — appending would poison the artifact, not just misread it
      intercept[IllegalArgumentException] {
        Bpe.buildSubwordTable(Seq(Tuple1("lower")).toDF("text"), "text",
          merges.take(2), s"$dir/t",
          org.apache.spark.sql.SaveMode.Append)
      }
      // same-merges Append folds in without duplicating the meta row
      Bpe.buildSubwordTable(Seq(Tuple1("lower")).toDF("text"), "text",
        merges, s"$dir/t", org.apache.spark.sql.SaveMode.Append)
      assert(spark.read.parquet(s"$dir/t/meta").count() == 1L)
      assert(spark.read.parquet(s"$dir/t/table")
        .where(col("word") === "lower").count() == 1L)
      // a FIRST Append against a fresh path is a valid bootstrap (no
      // meta yet → nothing to verify, meta gets written)
      Bpe.buildSubwordTable(Seq(Tuple1("low")).toDF("text"), "text",
        merges, s"$dir/fresh", org.apache.spark.sql.SaveMode.Append)
      assert(spark.read.parquet(s"$dir/fresh/meta").count() == 1L)
    } finally deleteRecursively(dir)
  }

  test("buildSubwordTable: Append refuses an UNFINGERPRINTED table (interrupted build)") {
    val merges = Bpe.train(freq, 4)
    val dir = java.nio.file.Files.createTempDirectory("graft-bpetbl2").toString
    try {
      // simulate a build that died between its two writes: table/ exists,
      // meta/ does not — an Append (under ANY merges) must refuse, since
      // it cannot know which merge table the orphan rows were cut under
      Seq(("low", Seq("low</w>"))).toDF("word", "subwords")
        .write.parquet(s"$dir/t/table")
      val e = intercept[IllegalArgumentException] {
        Bpe.buildSubwordTable(Seq(Tuple1("newest")).toDF("text"), "text",
          merges, s"$dir/t", org.apache.spark.sql.SaveMode.Append)
      }
      assert(e.getMessage.contains("meta"))
      // the refused Append wrote NOTHING (no meta stamped over the mix)
      assert(!new java.io.File(s"$dir/t/meta").exists())
      // fresh-Append crash-ordering: meta is written BEFORE table, so an
      // interrupted bootstrap leaves a fingerprinted path, which later
      // Appends handle — pin the invariant by checking meta exists even
      // though this build completed both writes
      Bpe.buildSubwordTable(Seq(Tuple1("low")).toDF("text"), "text",
        merges, s"$dir/fresh", org.apache.spark.sql.SaveMode.Append)
      assert(new java.io.File(s"$dir/fresh/meta").exists() &&
        new java.io.File(s"$dir/fresh/table").exists())
    } finally deleteRecursively(dir)
  }
}
