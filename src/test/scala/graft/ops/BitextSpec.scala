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
