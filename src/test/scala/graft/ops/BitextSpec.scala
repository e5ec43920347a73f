package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class BitextSpec extends SparkSpec {
  import spark.implicits._

  // src along the axes; tgt has one honest match per src vector plus a
  // HUB (0.7, 0.7) that is fairly close to everything — the case raw
  // cosine gets wrong and the margin exists to fix
  private def src = Seq(
    (1L, Seq(1.0f, 0.0f)),
    (2L, Seq(0.0f, 1.0f))).toDF("id", "embedding")
  private def tgt = Seq(
    (11L, Seq(1.0f, 0.1f)),
    (12L, Seq(0.1f, 1.0f)),
    (13L, Seq(0.7f, 0.7f))).toDF("id", "embedding")

  test("mutual-best margin pairs: honest matches mine, the hub does not") {
    val got = Bitext.mine(Bitext.bruteCandidates(src, tgt), k = 2, threshold = 1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(p => (p._1, p._2)).toSet == Set((1L, 11L), (2L, 12L)),
      s"expected the two honest pairs, got ${got.mkString(", ")}")
    assert(got.forall(_._3 >= 1.0), "threshold must hold on every mined pair")
    // the hub is everyone's SECOND-best but nobody's mutual best
    assert(!got.exists(_._2 == 13L))
  }

  test("mutual-best is exclusive: one source cannot mine two targets and vice versa") {
    // two sources both closest to the SAME target: only one pair survives
    val s2 = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.99f, 0.14f))).toDF("id", "embedding")
    val t2 = Seq((11L, Seq(1.0f, 0.05f)), (12L, Seq(0.0f, 1.0f))).toDF("id", "embedding")
    val got = Bitext.mine(Bitext.bruteCandidates(s2, t2), k = 2, threshold = 0.0)
      .select("sid", "tid").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.map(_._2).distinct.length == got.length, "a target mined twice")
    assert(got.map(_._1).distinct.length == got.length, "a source mined twice")
  }

  test("threshold filters; k=1 degenerates to best-only normalization; null embeddings drop") {
    val all = Bitext.mine(Bitext.bruteCandidates(src, tgt), k = 2, threshold = 0.0)
    val strict = Bitext.mine(Bitext.bruteCandidates(src, tgt), k = 2, threshold = 99.0)
    assert(all.count() >= 2 && strict.count() == 0)
    // k=1: avgK = the best cosine itself; still well-defined, mutual
    // best unchanged on this fixture
    val k1 = Bitext.mine(Bitext.bruteCandidates(src, tgt), k = 1, threshold = 0.0)
      .select("sid", "tid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(k1.contains((1L, 11L)) && k1.contains((2L, 12L)))
    val withNull = tgt.union(Seq((14L, null: Seq[Float])).toDF("id", "embedding"))
    assert(Bitext.bruteCandidates(src, withNull)
      .where(col("tid") === 14L).count() == 0, "null embeddings must drop")
  }

  test("ivfCandidates (full probe, both directions) mines identically to brute candidates") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding"))
    val s = e.where(col("id") % 2 === 0)
    val t = e.where(col("id") % 2 === 1)
    val (nS, nT) = (s.count().toInt, t.count().toInt)
    val sModel = Ivf.fit(s, nlist = 4, iters = 2)
    val tModel = Ivf.fit(t, nlist = 4, iters = 2)
    def mined(pairs: org.apache.spark.sql.DataFrame) =
      Bitext.mine(pairs, k = 4, threshold = 1.0)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          math.round(r.getDouble(2) * 1e9))).toSet
    // full probe + corpus-sized k ⇒ the IVF tier sees every pair ⇒
    // the cell-partitioned production composition reproduces brute
    // mining bit-for-bit (margins compared at 9 dp)
    val brute = mined(Bitext.bruteCandidates(s, t))
    val ivf = mined(Bitext.ivfCandidates(s, t, k = math.max(nS, nT),
      sModel, tModel, nprobe = 4))
    assert(ivf == brute, "recall-complete IVF tier diverged from brute mining")
    assert(brute.nonEmpty, "fixture mined nothing — weak")
    // and a REDUCED probe still yields only margin-honest pairs (a
    // subset relation is not guaranteed for mutual-best mining, but
    // every mined pair must carry the same margin brute computes for
    // it when both sides' neighbourhoods happen to be fully seen — so
    // just pin the shape: non-empty under the fixture, sid/tid drawn
    // from the right sides)
    val reduced = Bitext.ivfCandidates(s, t, k = 8, sModel, tModel, nprobe = 1)
      .collect()
    assert(reduced.forall(r => r.getLong(0) % 2 == 0 && r.getLong(1) % 2 == 1))
  }

  test("bitextMine: both routes — brute, IVF — reproduce brute mining under covering settings") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding"))
    val s = e.where(col("id") % 2 === 0)
    val t = e.where(col("id") % 2 === 1)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        math.round(r.getDouble(2) * 1e9))).toSet
    val brute = canon(Bitext.mine(Bitext.bruteCandidates(s, t), k = 4, threshold = 1.0))
    assert(brute.nonEmpty, "fixture mined nothing — weak")
    // default thresholds: a gate-scale corpus routes to the exact tier
    assert(canon(Bitext.bitextMine(s, t, k = 4, threshold = 1.0)) == brute,
      "default routing at gate scale must take the exact brute tier")
    // bruteMax forced to 0 so the IVF tier is the one chosen; covering
    // settings (nprobe ≥ nlist) make each direction's top-k EXACT, and
    // an exact union top-k mines identically to all-pairs: per sid the
    // union's top-k by cosine IS its true top-k (any extra pair beating
    // the kth would itself be in the true top-k), so ranks,
    // neighbourhood means, margins, and the mutual-best windows all
    // coincide with brute's.
    val viaIvf = canon(Bitext.bitextMine(s, t, k = 4, threshold = 1.0,
      bruteMax = 0, nlist = 4, nprobe = 4, ivfIters = 2))
    assert(viaIvf == brute, "IVF route diverged from brute mining")
  }

  test("margin normalizes hubness: the hub's raw cosine outranks, its margin does not") {
    // a query whose RAW best is the hub, but whose margin prefers the
    // honest (less universally-popular) neighbour
    val pairs = Bitext.bruteCandidates(src, tgt)
    val rawBest = pairs.where(col("sid") === 1L)
      .orderBy(col("cosine").desc).select("tid").head().getLong(0)
    // raw cosine: t11 (0.995) beats the hub (0.707) for s1 — build the
    // inverse case explicitly: a source at 45° whose raw best IS the hub
    val diag = Seq((3L, Seq(0.6f, 0.8f))).toDF("id", "embedding")
    val dPairs = Bitext.bruteCandidates(diag, tgt)
    val dRawBest = dPairs.orderBy(col("cosine").desc).select("tid").head().getLong(0)
    assert(dRawBest == 13L, s"fixture: the 37° source should raw-prefer the hub, got $dRawBest")
    // mining the two-source union: the hub may win s3 (it IS s3's honest
    // nearest) but must NOT displace s1's honest pair
    val got = Bitext.mine(Bitext.bruteCandidates(src.union(diag), tgt), k = 2, threshold = 0.0)
      .select("sid", "tid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 11L)), s"hub displaced an honest pair: $got")
    assert(rawBest == 11L)
  }
}
