package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SamplingSpec extends SparkSpec {
  import spark.implicits._

  private val rows = (1 to 2000).map(i => (i.toLong, s"doc text $i", if (i % 2 == 0) "en" else "th"))
  private def df = rows.toDF("id", "text", "lang")

  test("permilleBucket sample: deterministic, content-keyed, ~rate") {
    // one stratum at the default rate: a plain content-hash sample
    def sample(d: org.apache.spark.sql.DataFrame, permille: Int) =
      Sampling.stratifiedSample(d, col("lang"), col("text"), Map.empty,
        defaultPermille = permille).select("id").as[Long].collect().toSet
    val a = sample(df, 250)
    val b = sample(df.repartition(13), 250)
    assert(a == b) // partitioning-independent
    assert(math.abs(a.size - 500) < 100) // ~25% of 2000, md5 is uniform
    // monotone: raising the rate only ADDS rows (bucket predicate is <)
    val c = sample(df, 600)
    assert(a.subsetOf(c))
  }

  test("stratifiedSample applies per-stratum rates and the default") {
    val kept = Sampling.stratifiedSample(df, col("lang"), col("text"),
      Map("en" -> 1000), defaultPermille = 0)
    val langs = kept.select("lang").distinct().as[String].collect().toSeq
    assert(langs == Seq("en")) // th fell to the 0 default
    assert(kept.count() == 1000L) // en kept fully
  }

  test("upsampleByWeight: integer weights replicate exactly") {
    val d = Seq((1L, "a", 3.0), (2L, "b", 1.0), (3L, "c", 0.0)).toDF("id", "text", "w")
    val out = Sampling.upsampleByWeight(d, col("w"), col("text"))
      .groupBy("id").agg(count(lit(1)).as("n"), max("copy").as("mx"))
      .orderBy("id").as[(Long, Long, Int)].collect().toSeq
    assert(out == Seq((1L, 3L, 2), (2L, 1L, 0))) // id 3 dropped entirely
  }

  test("non-representable fractions round (0.3 → permille 300, not 299)") {
    // (2.3 - floor(2.3)) * 1000 = 299.999...; truncation would use 299
    // and disagree with any engine that rounds the same arithmetic —
    // exactly the rows whose bucket is 299 (text chosen to hit it)
    val hit299 = (1 to 20000).map(i => s"probe $i").find { t =>
      val md = java.security.MessageDigest.getInstance("MD5").digest(t.getBytes("UTF-8")).take(4)
      java.lang.Long.parseLong(md.map(b => f"$b%02x").mkString, 16) % 1000 == 299
    }.get
    val d = Seq((1L, hit299, 2.3)).toDF("id", "text", "w")
    assert(Sampling.upsampleByWeight(d, col("w"), col("text")).count() == 3L)
  }

  test("fractional weights resolve by content hash, deterministically and ~frac") {
    val d = df.withColumn("w", lit(1.5))
    val n1 = Sampling.upsampleByWeight(d, col("w"), col("text")).count()
    val n2 = Sampling.upsampleByWeight(d.repartition(9), col("w"), col("text")).count()
    assert(n1 == n2)
    assert(math.abs(n1 - 3000L) < 200) // 2000 × 1.5 in expectation
  }

  test("null keys hash as the empty string — sampled, not silently dropped") {
    val d = Seq((1L, null.asInstanceOf[String]), (2L, ""), (3L, "x"))
      .toDF("id", "text")
    // null bucket == empty-string bucket: both in or both out, always
    val both = Sampling.stratifiedSample(d, lit("all"), col("text"),
      Map.empty, defaultPermille = 1000).count()
    assert(both == 3L) // rate 1000 keeps EVERYTHING, null key included
    val nullBucket = d.where(col("id") === 1)
      .select(Sampling.permilleBucket(col("text"))).head().getInt(0)
    val emptyBucket = d.where(col("id") === 2)
      .select(Sampling.permilleBucket(col("text"))).head().getInt(0)
    assert(nullBucket == emptyBucket)
    // and the fractional upsample copy survives a null key too
    val up = Sampling.upsampleByWeight(d, lit(2.0), col("text"))
    assert(up.where(col("id") === 1).count() == 2L)
  }

  test("reserved output names collide loudly, not silently") {
    val d = Seq((1L, "a")).toDF("copy", "text")
    val e = intercept[IllegalArgumentException] {
      Sampling.upsampleByWeight(d, lit(1.0), col("text"))
    }
    assert(e.getMessage.contains("copy"))
  }

  test("temperatureWeights: head stays 1.0, tails lift by (n_head/n)^(1-tau)") {
    val counts = Seq(("web", 900L), ("wiki", 100L), ("code", 225L))
      .toDF("domain", "n")
    val w = Sampling.temperatureWeights(counts, "n", tau = 0.5)
      .collect().map(r => r.getAs[String]("domain") -> r.getAs[Double]("weight")).toMap
    assert(w("web") == 1.0)           // largest domain is the anchor
    assert(w("wiki") == 3.0)          // sqrt(900/100)
    assert(w("code") == 2.0)          // sqrt(900/225)
    // tau = 1 is identity — every weight 1.0 (no re-weighting)
    val id = Sampling.temperatureWeights(counts, "n", tau = 1.0)
      .collect().map(_.getAs[Double]("weight"))
    assert(id.forall(_ == 1.0))
    // monotone: lower tau lifts tails harder
    val w03 = Sampling.temperatureWeights(counts, "n", tau = 0.3)
      .collect().map(r => r.getAs[String]("domain") -> r.getAs[Double]("weight")).toMap
    assert(w03("wiki") > w("wiki") && w03("code") > w("code"))
    intercept[IllegalArgumentException] {
      Sampling.temperatureWeights(counts, "n", tau = 0.0)
    }
  }

  test("shuffleShard: a true partition — every row once, pos contiguous per shard") {
    val d = (1 to 500).map(i => Tuple1(i.toLong)).toDF("id")
    val out = Sampling.shuffleShard(d, col("id"), seed = 7L, nShards = 8)
      .select("shard", "pos", "id").as[(Int, Int, Long)].collect().toSeq
    assert(out.map(_._3).sorted == (1 to 500).map(_.toLong))
    assert(out.forall(r => r._1 >= 0 && r._1 < 8))
    out.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).sorted == (1 to rows.size)) // 1..n, no gaps
    }
    // ~uniform shard sizes (md5 is uniform; 500/8 = 62.5)
    val sizes = out.groupBy(_._1).view.mapValues(_.size)
    assert(sizes.values.forall(n => n > 30 && n < 95), sizes.toMap.toString)
  }

  test("shuffleShard: deterministic under repartition; a new seed permutes") {
    val d = (1 to 300).map(i => Tuple1(i.toLong)).toDF("id")
    def run(df: org.apache.spark.sql.DataFrame, seed: Long) =
      Sampling.shuffleShard(df, col("id"), seed, nShards = 4)
        .select("shard", "pos", "id").as[(Int, Int, Long)].collect().toSeq.sorted
    val a = run(d, 7L)
    assert(a == run(d.repartition(13), 7L), "partitioning must not matter")
    val b = run(d, 8L)
    assert(a != b, "a new seed must produce a different permutation")
    assert(a.map(_._3).sorted == b.map(_._3).sorted, "…of the same rows")
  }

  test("shuffleShard: null keys land in a real numbered shard (hash as \"\")") {
    val d = Seq(Tuple1("a"), Tuple1(null.asInstanceOf[String]), Tuple1("b"))
      .toDF("k")
    val out = Sampling.shuffleShard(d, col("k"), seed = 1L, nShards = 4)
    assert(out.count() == 3)
    assert(out.where(col("shard").isNull || col("pos").isNull).count() == 0,
      "a NULL shard would silently park null-key rows outside the permutation")
  }

  test("shuffleShard matches an independent JVM md5 reference") {
    val d = (1 to 64).map(i => Tuple1(i.toLong)).toDF("id")
    val got = Sampling.shuffleShard(d, col("id"), seed = 42L, nShards = 8)
      .select("shard", "pos", "id").as[(Int, Int, Long)].collect().toSet
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    // order slice = hex digits 9.. — disjoint from the shard slice
    val ref = (1 to 64).map { i =>
      val h = md5hex(s"$i:42")
      (java.lang.Long.parseLong(h.take(8), 16) % 8).toInt -> (h.drop(8), i.toLong)
    }
    val expected = ref.groupBy(_._1).flatMap { case (shard, rows) =>
      rows.map(_._2).sorted.zipWithIndex.map { case ((_, id), p) =>
        (shard, p + 1, id)
      }
    }.toSet
    assert(got == expected)
  }

  test("weightedSampleK: matches the local A-ES formula; deterministic; weight-guarded") {
    val d = (1 to 400).map(i => (i.toLong, (i % 7 + 1).toLong))
      .toDF("id", "w")
      // zero/null weights must be excluded, never ±Inf keys
      .union(Seq((9001L, 0L), (9002L, -3L)).toDF("id", "w"))
    val got = Sampling.weightedSampleK(d, col("id"), col("w"), k = 50, seed = 7L)
      .select("id", "es_key").as[(Long, Double)].collect().toSeq
    assert(got.size == 50 && !got.map(_._1).exists(Set(9001L, 9002L)))
    // local oracle: same md5-uniform, same key formula, top-50
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    // StrictMath.log, not Math.log: Spark's Logarithm expression
    // evaluates via StrictMath, and the JVM intrinsic Math.log can
    // differ in the last ulp
    val expect = (1 to 400).map { i =>
      val v = java.lang.Long.parseLong(md5hex(s"$i:7").take(13), 16)
      val u = (v + 1).toDouble / 4503599627370497.0
      (i.toLong, StrictMath.log(u) / (i % 7 + 1).toDouble)
    }.sortBy { case (id, es) => (-es, id) }.take(50)
    assert(got == expect, "engine A-ES keys diverge from the local formula")
    // reproducible; a new seed reselects
    val again = Sampling.weightedSampleK(d, col("id"), col("w"), k = 50, seed = 7L)
      .select("id").as[Long].collect().toSeq
    assert(again == got.map(_._1))
    val other = Sampling.weightedSampleK(d, col("id"), col("w"), k = 50, seed = 8L)
      .select("id").as[Long].collect().toSeq
    assert(other != got.map(_._1), "seed must matter")
  }

  test("weightedSampleK: heavier rows win more often (weight bias sanity)") {
    // two weight classes, 1 vs 9 — across the whole population the
    // heavy class must dominate the sample decisively
    val d = (1 to 1000).map(i => (i.toLong, if (i <= 500) 1L else 9L))
      .toDF("id", "w")
    val heavy = Sampling.weightedSampleK(d, col("id"), col("w"), k = 100, seed = 3L)
      .where(col("w") === 9L).count()
    assert(heavy > 70, s"only $heavy/100 selected from the 9x-weight class")
  }

  test("weightedSampleKPerGroup: two-phase salted rank ≡ single-window definition") {
    // one hot group (g0: 3000 rows) + sparse groups, so phase 1's salt
    // split actually carries load; null group / bad weights excluded
    val d = ((1 to 3000).map(i => (Option("g0"), i.toLong, (i % 11 + 1).toLong)) ++
      (1 to 200).map(i => (Option(s"g${i % 5 + 1}"), 10000L + i, (i % 3 + 1).toLong)) ++
      Seq((Option.empty[String], 99991L, 5L), (Option("g1"), 99992L, 0L)))
      .toDF("g", "id", "w").repartition(9)
    val got = Sampling.weightedSampleKPerGroup(d, col("g"), col("id"), col("w"),
        k = 12, seed = 5L)
      .select("g", "id", "es_rank")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    // single-window reference over the same es_key
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("es_key").desc, col("id"))
    val ref = Sampling.weightedSampleKPerGroup(d, col("g"), col("id"), col("w"),
        k = Int.MaxValue, seed = 5L, nSalts = 1) // all eligible rows, keyed
      .withColumn("rn", row_number().over(w)).where(col("rn") <= 12)
      .select("g", "id", "rn")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == ref)
    assert(!got.exists(r => r._2 >= 99991L), "null-group/zero-weight rows leaked")
    // quota: min(k, group size) rows per group, ranks contiguous from 1
    val perGroup = got.groupBy(_._1).view.mapValues(_.map(_._3).toSeq.sorted).toMap
    assert(perGroup("g0") == (1 to 12) && perGroup.forall { case (_, rs) =>
      rs == (1 to rs.size) })
  }

  test("weightedSampleKPerGroup plan: no single-partition window collapse") {
    val d = (1 to 100).map(i => (s"g${i % 3}", i.toLong, 1L)).toDF("g", "id", "w")
    val p = Sampling.weightedSampleKPerGroup(d, col("g"), col("id"), col("w"), k = 5)
      .queryExecution.executedPlan.toString
    assert(!p.contains("SinglePartition"),
      "per-group sampler collapsed to a global single-partition window")
  }
}
