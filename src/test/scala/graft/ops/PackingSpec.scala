package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class PackingSpec extends SparkSpec {
  import spark.implicits._

  private def docs(n: Int) =
    (1 to n).map(i => (i.toLong, (i % 37 + 1).toLong)).toDF("id", "n_tok")

  /** The naive single-partition global window — the semantics oracle
    * for [[Packing.assignWindows]]. `Window.orderBy` without
    * partitioning is one reducer, so this is for small inputs only. */
  private def assignWindowsNaive(docs: DataFrame, orderCol: String,
      tokCol: String, budget: Long): DataFrame = {
    val w = Window.orderBy(orderCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .withColumn("tokens_before", coalesce(sum(col(tokCol)).over(w), lit(0L)))
      .withColumn("window_id", floor(col("tokens_before") / budget))
  }

  test("distributed prefix sum ≡ naive global window, many partitions") {
    val d = docs(500).repartition(7) // scrambled input layout
    val fast = Packing.assignWindows(d, "id", "n_tok", budget = 100, numPartitions = 8)
      .select("id", "tokens_before", "window_id")
    val naive = assignWindowsNaive(docs(500), "id", "n_tok", budget = 100)
      .select("id", "tokens_before", "window_id")
    assert(fast.exceptAll(naive).isEmpty && naive.exceptAll(fast).isEmpty)
  }

  test("window boundaries: doc goes to the window where its FIRST token lands") {
    // tokens: 60, 60 → doc 2 starts at 60, still window 0 (budget 100)
    val d = Seq((1L, 60L), (2L, 60L), (3L, 60L)).toDF("id", "n_tok")
    val rows = Packing.assignWindows(d, "id", "n_tok", budget = 100, numPartitions = 2)
      .orderBy("id").select("window_id").as[Long].collect()
    assert(rows.toSeq == Seq(0L, 0L, 1L)) // doc3 starts at 120 → window 1
  }

  test("summary conserves docs and tokens") {
    val d = docs(300)
    val sum0 = Packing.packSummary(d, "id", "n_tok", budget = 128, numPartitions = 4)
    val (nd, nt) = sum0.agg(sum("n_docs"), sum("window_tokens"))
      .as[(Long, Long)].head()
    val (ed, et) = d.agg(count(lit(1)), sum("n_tok")).as[(Long, Long)].head()
    assert(nd == ed && nt == et)
    // windows are contiguous id ranges
    val rows = sum0.orderBy("window_id")
      .select("first_doc", "last_doc").as[(Long, Long)].collect()
    rows.sliding(2).foreach {
      case Array((_, l1), (f2, _)) => assert(f2 == l1 + 1)
      case _ =>
    }
  }

  test("empty partitions and single-doc-larger-than-budget behave") {
    val d = Seq((1L, 5000L), (2L, 10L)).toDF("id", "n_tok")
    val rows = Packing.assignWindows(d, "id", "n_tok", budget = 100, numPartitions = 8)
      .orderBy("id").select("window_id").as[Long].collect()
    assert(rows(0) == 0L && rows(1) == 50L) // doc2 starts at token 5000
  }

  test("null token counts: distributed ≡ naive (null sums coalesce to 0)") {
    // enough partitions that some hold ONLY null-token rows — the case
    // that used to NPE on the per-partition sum
    val d = (1 to 40).map(i =>
      (i.toLong, if (i <= 20) null.asInstanceOf[java.lang.Long] else java.lang.Long.valueOf(30L)))
      .toDF("id", "n_tok")
    val fast = Packing.assignWindows(d, "id", "n_tok", budget = 100, numPartitions = 8)
      .select("id", "tokens_before", "window_id")
    val naive = assignWindowsNaive(d, "id", "n_tok", budget = 100)
      .select("id", "tokens_before", "window_id")
    assert(fast.exceptAll(naive).isEmpty && naive.exceptAll(fast).isEmpty)
  }

  test("reserved internal names collide loudly, not silently") {
    val d = Seq((1L, 5L, 0)).toDF("id", "n_tok", "__pid")
    val e = intercept[IllegalArgumentException] {
      Packing.assignWindows(d, "id", "n_tok", budget = 100)
    }
    assert(e.getMessage.contains("__pid"))
  }

  test("packSamplesFFD ≡ independent reference FFD; partitioning-independent") {
    val rnd = new scala.util.Random(53)
    val docs = (1L to 400L).map(i => (i, 1L + rnd.nextInt(120)))
    val budget = 128L
    val nShards = 4
    // independent reference: same md5 shard slice, per-shard FFD in
    // (tok desc, id) order
    def shardOf(id: Long): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$id:0".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 8)
      (java.lang.Long.parseLong(hex, 16) % nShards).toInt
    }
    val ref = docs.groupBy(t => shardOf(t._1)).flatMap { case (sh, ds) =>
      val bins = scala.collection.mutable.ArrayBuffer.empty[Long]
      ds.sortBy(t => (-t._2, t._1)).map { case (id, tok) =>
        var b = 0
        while (b < bins.length && bins(b) < tok) b += 1
        if (b == bins.length) bins += (budget - tok) else bins(b) -= tok
        (sh, id, tok, b.toLong)
      }
    }.toSet
    for (parts <- Seq(1, 3, 9)) {
      val got = Packing.packSamplesFFD(
          docs.toDF("doc_id", "n_tok").repartition(parts),
          "doc_id", "n_tok", budget, nShards)
        .as[(Int, Long, Long, Long)].collect().toSet
      assert(got == ref, s"diverged from reference FFD at $parts input partitions")
    }
  }

  test("packSamplesFFD: segment-tree first-fit ≡ naive scan through many growth doublings") {
    // one shard, thousands of bins: the first-fit tree must grow
    // through several capacity doublings and still match the naive
    // leftmost-scan reference bin-for-bin
    val rnd = new scala.util.Random(71)
    val docs = (1L to 5000L).map(i => (i, 1L + rnd.nextInt(63)))
    val budget = 64L
    val got = Packing.packSamplesFFD(docs.toDF("doc_id", "n_tok"),
        "doc_id", "n_tok", budget, nShards = 1)
      .as[(Int, Long, Long, Long)].collect()
      .map(t => t._2 -> t._4).toMap
    val bins = scala.collection.mutable.ArrayBuffer.empty[Long]
    val ref = docs.sortBy(t => (-t._2, t._1)).map { case (id, tok) =>
      var b = 0
      while (b < bins.length && bins(b) < tok) b += 1
      if (b == bins.length) bins += (budget - tok) else bins(b) -= tok
      id -> b.toLong
    }.toMap
    assert(bins.length > 1000, "stress fixture no longer produces many bins")
    assert(got == ref)
  }

  test("packSamplesFFD: oversize docs isolate in their own bin, never dropped") {
    val docs = Seq((1L, 500L), (2L, 40L), (3L, 40L)).toDF("doc_id", "n_tok")
    val out = Packing.packSamplesFFD(docs, "doc_id", "n_tok",
        budget = 100L, nShards = 1)
      .as[(Int, Long, Long, Long)].collect().toSeq.sortBy(_._2)
    assert(out.map(_._2) == Seq(1L, 2L, 3L), "totality: all docs present")
    val binOf = out.map(t => t._2 -> t._4).toMap
    assert(binOf(2L) == binOf(3L), "small docs share a bin")
    assert(binOf(1L) != binOf(2L), "the oversize doc must sit alone")
    assert(out.count(_._4 == binOf(1L)) == 1,
      "nothing may join the oversize doc's (negative-remaining) bin")
  }

  test("packSamplesFFD: null AND negative token counts fail fast by name") {
    // null id/count — the original guard
    val withNull = Seq((Some(1L), Some(10L)), (Some(2L), None))
      .toDF("doc_id", "n_tok")
    val e1 = intercept[Exception] {
      Packing.packSamplesFFD(withNull, "doc_id", "n_tok",
        budget = 100L, nShards = 1).collect()
    }
    assert(e1.getMessage.contains("packSamplesFFD"))
    // NEGATIVE count — what tokenCount(NULL text) yields under non-ANSI
    // Spark (-1): flowing through would silently GROW a bin's remaining
    // capacity and corrupt padding accounting, so it must raise
    val withNeg = Seq((1L, 10L), (2L, -1L)).toDF("doc_id", "n_tok")
    val e2 = intercept[Exception] {
      Packing.packSamplesFFD(withNeg, "doc_id", "n_tok",
        budget = 100L, nShards = 1).collect()
    }
    assert(e2.getMessage.contains("negative") ||
      e2.getMessage.contains("packSamplesFFD"))
  }
}
