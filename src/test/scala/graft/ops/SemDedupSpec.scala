package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SemDedupSpec extends SparkSpec {
  import spark.implicits._

  // Two tight clusters on orthogonal axes plus an outlier between them.
  private def corpus = Seq(
    (10L, Array(1.0f, 0.0f, 0.0f)),
    (11L, Array(0.99f, 0.01f, 0.0f)),  // near-dup of 10 (cos ≈ 1)
    (12L, Array(0.9f, 0.3f, 0.0f)),    // same cluster, not a near-dup at τ=0.999
    (20L, Array(0.0f, 1.0f, 0.0f)),
    (21L, Array(0.0f, 0.98f, 0.02f)),  // near-dup of 20
  ).toDF("id", "embedding")

  private def centroids = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(0.0f, 1.0f, 0.0f)),
  ).toDF("cid", "embedding")

  test("assignByCosine: max-cosine centroid, corpus columns carried") {
    val asg = SemDedup.assignByCosine(corpus, centroids)
      .select("id", "cluster").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(asg == Map(10L -> 0L, 11L -> 0L, 12L -> 0L, 20L -> 1L, 21L -> 1L))
  }

  test("assignByCosine: equal-cosine tie breaks to the LOWEST cid") {
    val dupCents = Seq(
      (7L, Array(1.0f, 0.0f, 0.0f)),
      (3L, Array(1.0f, 0.0f, 0.0f)), // identical vector, lower id
    ).toDF("cid", "embedding")
    val asg = SemDedup.assignByCosine(corpus.where(col("id") === 10L), dupCents)
      .select("cluster").collect().map(_.getLong(0)).toSeq
    assert(asg == Seq(3L))
  }

  test("assignByCosine: null embeddings dropped; reserved names refused") {
    val withNull = corpus.unionByName(
      Seq((99L, null.asInstanceOf[Array[Float]])).toDF("id", "embedding"))
    assert(SemDedup.assignByCosine(withNull, centroids).count() == 5L)
    val clash = corpus.withColumn("cluster", lit(1))
    assertThrows[IllegalArgumentException] {
      SemDedup.assignByCosine(clash, centroids)
    }
  }

  test("assignByCosine ≡ the k-node struct/array_max composition, bit-for-bit") {
    // 200 deterministic pseudo-random vectors vs 64 centroids: the
    // O(1)-plan reference-object argmax must reproduce exactly what the
    // k-expression-node formulation (one CosineSim + struct per
    // centroid, array_max over all) computes, cosine doubles included.
    def vec(seed: Long, dim: Int): Array[Float] = {
      var s = seed * 6364136223846793005L + 1442695040888963407L
      Array.fill(dim) {
        s = s * 6364136223846793005L + 1442695040888963407L
        ((s >>> 40).toDouble / (1L << 24).toDouble - 0.5).toFloat
      }
    }
    val docs = (0L until 200L).map(i => (i, vec(i, 16))).toDF("id", "embedding")
    val cents = (0L until 64L).map(c => (c, vec(c + 1000, 16))).toDF("cid", "embedding")
    val got = SemDedup.assignByCosine(docs, cents)
      .select("id", "cluster", "centroid_cosine")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    val centArr = cents.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble)))
    val vecD = transform(col("embedding"), _.cast("double"))
    val scored = centArr.toIndexedSeq.map { case (cid, cv) =>
      struct(Similarity.cosine(vecD, typedLit(cv)).as("c"), lit(-cid).as("n"))
    }
    val want = docs
      .withColumn("__best", array_max(array(scored: _*)))
      .select(col("id"), (-col("__best.n")).as("cluster"), col("__best.c"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(got.toSeq == want.toSeq)
  }

  test("assignByCosine ≡ driver-side reference over random shapes and edge vectors") {
    // random trials across dim, k, and value distributions that include
    // zero vectors (den=0 → cosine 0.0), mismatched lengths (prefix
    // rule), and equal-cosine ties (duplicate centroid vectors) — the
    // shapes where the triplicated cosine kernel could drift
    val rnd = new scala.util.Random(37)
    for (trial <- 1 to 4) {
      val dim = 1 + rnd.nextInt(6)
      val k = 1 + rnd.nextInt(9)
      def v(len: Int): Array[Float] =
        Array.fill(len)((rnd.nextInt(5) - 2).toFloat) // small ints; zeros common
      val centVecs = new Array[Array[Float]](k)
      for (c <- 0 until k)
        // duplicate the previous centroid sometimes to force cosine ties
        centVecs(c) =
          if (c > 0 && rnd.nextBoolean() && rnd.nextBoolean()) centVecs(c - 1) else v(dim)
      val cents = (0 until k).map(c => (c.toLong, centVecs(c))).toSeq
      val docs = (0 until 40).map(i =>
        (i.toLong, v(if (rnd.nextBoolean()) dim else 1 + rnd.nextInt(dim))))
      def cosRef(a: Array[Float], b: Array[Float]): Double = {
        val n = math.min(a.length, b.length)
        var dot = 0.0; var na = 0.0; var nb = 0.0
        for (j <- 0 until n) {
          dot += a(j).toDouble * b(j); na += a(j).toDouble * a(j); nb += b(j).toDouble * b(j)
        }
        val den = math.sqrt(na) * math.sqrt(nb)
        if (den > 0) dot / den else 0.0
      }
      val ref = docs.map { case (id, dv) =>
        val scored = cents.map { case (cid, cv) => (cosRef(dv, cv), cid) }
        val best = scored.minBy { case (c, cid) => (-c, cid) } // max cosine, ties → low cid
        id -> (best._2, best._1)
      }.toMap
      val got = SemDedup.assignByCosine(
          docs.toDF("id", "embedding").repartition(3),
          cents.toDF("cid", "embedding"))
        .select("id", "cluster", "centroid_cosine")
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(got.keySet == ref.keySet, s"trial $trial: row set")
      got.foreach { case (id, (cl, c)) =>
        assert((cl, c) == ref(id), s"trial $trial id $id: got ($cl,$c) want ${ref(id)}")
      }
    }
  }

  test("prune: higher id of a within-cluster near-dup pair is removed") {
    val kept = SemDedup.semDedup(corpus, centroids, threshold = 0.99)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    // 11 falls to 10, 21 falls to 20; 12 survives (cos(10,12) ≈ 0.95 < 0.99)
    assert(kept == Seq(10L, 12L, 20L))
  }

  test("prune: near-dups in DIFFERENT clusters are never compared") {
    // 45° vector pairs land in different clusters despite cos ≈ 0.99
    val split = Seq(
      (1L, Array(1.0f, 0.9f, 0.0f)),  // → cluster 0
      (2L, Array(0.9f, 1.0f, 0.0f)),  // → cluster 1, cos(1,2) ≈ 0.988
    ).toDF("id", "embedding")
    val kept = SemDedup.semDedup(split, centroids, threshold = 0.9)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 2L)) // the documented cluster-boundary approximation
  }

  test("prune composes with Ivf.assign output (cell/vec columns)") {
    val model = Ivf.Model(Array(
      0 -> Array(1.0, 0.0, 0.0),
      1 -> Array(0.0, 1.0, 0.0)))
    val cells = Ivf.assign(corpus, model)
    val kept = SemDedup.prune(cells, threshold = 0.99,
      clusterCol = "cell", vecCol = "vec")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(10L, 12L, 20L))
  }
}
