package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("cosine on known vectors") {
    val df = Seq(
      (Array(1.0f, 0.0f), Array(1.0f, 0.0f), 1.0),
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f), 0.0),
      (Array(1.0f, 0.0f), Array(-1.0f, 0.0f), -1.0),
      (Array(0.0f, 0.0f), Array(1.0f, 1.0f), 0.0), // zero-vector guard
    ).toDF("a", "b", "expect")
    val got = df.select(
      Similarity.cosine(transform(col("a"), _.cast("double")),
        transform(col("b"), _.cast("double"))).as("c"), col("expect")).collect()
    got.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12))
  }

  test("bruteForceTopK: ranks by cosine desc, excludes self, respects k") {
    val e = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(1.0f, 0.01f, 0.0f)),
    ).toDF("id", "embedding")
    val q = Seq((0L, Array(1.0f, 0.0f, 0.0f))).toDF("qid", "embedding")
    val out = Similarity.bruteForceTopK(e, q, k = 2).orderBy("rank")
      .collect().map(r => (r.getLong(1), r.getInt(3)))
    assert(out.toSeq == Seq((3L, 1), (1L, 2))) // 3 is closer than 1; self excluded
  }

  test("lshTopK recall vs brute force on testdata embeddings") {
    val dir = "/root/testdata/sf0.001"
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding"))
    val q = e.where(col("id") < 10).select(col("id").as("qid"), col("embedding"))
    val brute = Similarity.bruteForceTopK(e, q, k = 5)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(e, q, k = 5, nBits = 4, nTables = 8)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect lsh).size.toDouble / brute.size
    // approximate by construction; 8 tables × 6 bits over 500 vecs
    assert(recall >= 0.5, s"recall $recall too low")
    assert(lsh.nonEmpty)
  }

  test("cosineNearDupsBucketed: subset of brute force with identical cosines, high recall") {
    val dir = "/root/testdata/sf0.001"
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding"))
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val brute = toMap(Similarity.cosineNearDups(e, threshold = 0.4))
    val bucketed = toMap(Similarity.cosineNearDupsBucketed(e, threshold = 0.4))
    // exact verification ⇒ every returned pair is a true near-dup with
    // the same cosine as brute force (no false positives, ever)
    bucketed.foreach { case (pair, c) =>
      assert(brute.contains(pair), s"false positive $pair")
      assert(math.abs(brute(pair) - c) < 1e-12)
    }
    val recall = bucketed.size.toDouble / brute.size
    assert(recall >= 0.8, s"recall $recall too low (${bucketed.size}/${brute.size})")
  }

  test("full-coverage lshTopK (nBits=0) equals brute force exactly") {
    val dir = "/root/testdata/sf0.001"
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding"))
    val q = e.where(col("id") < 10).select(col("id").as("qid"), col("embedding"))
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("qid", "id", "cosine", "rank").orderBy("qid", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq
    val brute = rows(Similarity.bruteForceTopK(e, q, k = 5))
    val full = rows(Similarity.lshTopK(e, q, k = 5, nBits = 0, nTables = 2))
    assert(full == brute) // one bucket per table ⇒ provably exact
  }

  test("full-coverage cosineNearDupsBucketed (nBits=0) equals brute force exactly") {
    val dir = "/root/testdata/sf0.001"
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding"))
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val brute = toMap(Similarity.cosineNearDups(e, threshold = 0.4))
    val full = toMap(Similarity.cosineNearDupsBucketed(e, threshold = 0.4,
      nBits = 0, nTables = 2))
    assert(full.keySet == brute.keySet)
    full.foreach { case (pair, c) => assert(math.abs(brute(pair) - c) < 1e-12) }
  }

  test("shuffle_hash attach fallback (past-broadcast) is plan-visible and answer-identical") {
    // no fixture exceeds the 256 MB broadcast budget, so the fallback
    // is forced via the session knob: results must be bit-identical
    // and the lazy plan must show shuffled-hash attaches, not broadcast
    val dir = "/root/testdata/sf0.001"
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding"))
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val broadcastPath = toMap(Similarity.cosineNearDupsBucketed(e, threshold = 0.4))
    try {
      spark.conf.set("spark.graft.attachBroadcastBytes", "0")
      val p = Similarity.cosineNearDupsBucketed(e, threshold = 0.4, materialize = false)
        .queryExecution.sparkPlan.toString
      assert(p.contains("ShuffledHashJoin"), p)
      val fallback = toMap(Similarity.cosineNearDupsBucketed(e, threshold = 0.4))
      assert(fallback == broadcastPath)
      // the minhash twin rides the same knob: forced fallback must not
      // change the verified near-dup pairs either
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id").as("id"), col("text"))
      val mhFallback = Dedup.minhashNearDups(docs, threshold = 0.8)
        .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      spark.conf.unset("spark.graft.attachBroadcastBytes")
      val mhBroadcast = Dedup.minhashNearDups(docs, threshold = 0.8)
        .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(mhFallback == mhBroadcast)
    } finally spark.conf.unset("spark.graft.attachBroadcastBytes")
  }

  test("maxBucket cap: drops the degenerate bucket, keeps normal-bucket pairs") {
    val dir = "/root/testdata/sf0.001"
    val base = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding"))
    // plant a degenerate region: 60 identical vectors land in the SAME
    // bucket of EVERY table (identical keys), far above the ~31-vector
    // expectation of nBits=4 over 560 — the skew the cap exists for
    val mega = spark.range(10000, 10060).select(col("id"),
      typedlit(Array.fill(64)(0.125f)).as("embedding"))
    val e = base.unionByName(mega)
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val uncapped = toMap(Similarity.cosineNearDupsBucketed(e, threshold = 0.4,
      nBits = 4, nTables = 8))
    val capped = toMap(Similarity.cosineNearDupsBucketed(e, threshold = 0.4,
      nBits = 4, nTables = 8, maxBucket = 45))
    capped.foreach { case (pair, c) =>
      assert(uncapped.contains(pair), s"cap invented pair $pair")
      assert(math.abs(uncapped(pair) - c) < 1e-12)
    }
    val isMega = (p: (Long, Long)) => p._1 >= 10000 && p._2 >= 10000
    assert(uncapped.keys.count(isMega) == 60 * 59 / 2) // sanity: mega pairs present
    assert(capped.keys.count(isMega) == 0, "oversized bucket not dropped")
    // base pairs ride other (≤45) buckets and survive the cap
    val baseUncapped = uncapped.keys.filterNot(isMega).toSet
    val baseCapped = capped.keys.filterNot(isMega).toSet
    val recall = baseCapped.size.toDouble / baseUncapped.size
    assert(recall >= 0.8, s"base recall $recall (${baseCapped.size}/${baseUncapped.size})")
    // maxBucket = 0 is the documented no-op
    assert(toMap(Similarity.cosineNearDupsBucketed(e, threshold = 0.4,
      nBits = 4, nTables = 8, maxBucket = 0)) == uncapped)
  }

  test("fused LshKeys expression equals the per-table column composition") {
    val dir = "/root/testdata/sf0.001"
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").as("id"),
        transform(col("embedding"), _.cast("double")).as("v"))
    val nBits = 5; val nTables = 3; val dim = 64
    // the composition lshKeys replaced: one struct per table, bucket =
    // or-reduce of sign bits of per-plane dots
    val composed = e.select(col("id"), array((0 until nTables).map(t =>
      struct(lit(t).as("tbl"),
        LshReference.lshKey(col("v"), nBits, t, dim).as("bucket"))): _*).as("ks"))
    val planes = Array.tabulate(nTables, nBits, dim)((t, b, d) =>
      Similarity.planeComponent(t, b, d))
    val fused = e.select(col("id"), graft.expr.LshKeys.lshKeys(col("v"), planes).as("ks"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id"), explode(col("ks")).as("k"))
        .select(col("id"), col("k.tbl"), col("k.bucket"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(rows(fused) == rows(composed))
    // zero-bit tables are the full-coverage gate config: all buckets 0
    val zero = e.limit(3).select(graft.expr.LshKeys.lshKeys(col("v"),
      Array.fill(2)(Array.empty[Array[Double]])).as("ks"))
      .select(explode(col("ks")).as("k")).select(col("k.bucket"))
      .collect().map(_.getLong(0))
    assert(zero.forall(_ == 0L))
  }

  test("lsh bucket key is deterministic") {
    val e = Seq((0L, Array(0.5f, -0.25f, 1.0f))).toDF("id", "embedding")
      .select(transform(col("embedding"), _.cast("double")).as("v"))
    val k1 = e.select(LshReference.lshKey(col("v"), 8, 0, 3)).head().getLong(0)
    val k2 = e.select(LshReference.lshKey(col("v"), 8, 0, 3)).head().getLong(0)
    assert(k1 == k2)
  }

  test("autoBits envelope warning fires only past ~4.2M vectors with no guard") {
    val past = Similarity.autoBitsEnvelope + 1
    // the cliff case: auto-sized, unguarded, past the envelope → warn
    assert(Similarity.envelopeWarning(-1, past, 0).isDefined)
    // each escape hatch silences it: explicit nBits, a maxBucket guard,
    // or a corpus still inside the envelope
    assert(Similarity.envelopeWarning(18, past, 0).isEmpty)
    assert(Similarity.envelopeWarning(-1, past, 4096).isEmpty)
    assert(Similarity.envelopeWarning(-1, Similarity.autoBitsEnvelope, 0).isEmpty)
  }

  test("envelope enforcement: default warns and proceeds, strict fails fast") {
    val past = Similarity.autoBitsEnvelope + 1
    // default mode: breach prints (to stderr) but never throws
    Similarity.enforceEnvelope(strict = false, -1, past, 0)
    // strict mode: same trigger throws, carrying the remediation text
    val e = intercept[IllegalStateException] {
      Similarity.enforceEnvelope(strict = true, -1, past, 0)
    }
    assert(e.getMessage.contains("past the ~4.2M envelope"))
    assert(e.getMessage.contains(Similarity.strictEnvelopeKey))
    // strict mode with no breach is a no-op — the flag only arms the
    // existing trigger, it never invents one
    Similarity.enforceEnvelope(strict = true, 18, past, 0)
    Similarity.enforceEnvelope(strict = true, -1, past, 4096)
    Similarity.enforceEnvelope(strict = true, -1, Similarity.autoBitsEnvelope, 0)
  }
}
