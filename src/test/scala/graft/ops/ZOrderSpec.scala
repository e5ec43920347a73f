package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  /** Bit-by-bit reference interleave. */
  private def refZ2(a: Long, b: Long): Long = {
    var out = 0L
    for (i <- 0 until 32) {
      out |= ((a >> i) & 1L) << (2 * i)
      out |= ((b >> i) & 1L) << (2 * i + 1)
    }
    out
  }

  private def refZ3(a: Long, b: Long, c: Long): Long = {
    var out = 0L
    for (i <- 0 until 21) {
      out |= ((a >> i) & 1L) << (3 * i)
      out |= ((b >> i) & 1L) << (3 * i + 1)
      out |= ((c >> i) & 1L) << (3 * i + 2)
    }
    out
  }

  test("zkey2/zkey3 match the bit-by-bit reference interleave") {
    val samples = Seq((0L, 0L, 0L), (1L, 0L, 0L), (0L, 1L, 0L), (0L, 0L, 1L),
      (1023L, 511L, 255L), (0xFFFFFFFFL, 0x12345678L, 0x1FFFFFL),
      (0x1FFFFFL, 0x1FFFFFL, 0x1FFFFFL), (123456L, 654321L, 777L))
    val df = samples.toDF("a", "b", "c")
    val got = df.select(
      ZOrder.zkey2(col("a"), col("b")),
      ZOrder.zkey3(col("a").bitwiseAND(lit(0x1FFFFFL)), col("b").bitwiseAND(lit(0x1FFFFFL)), col("c")))
      .as[(Long, Long)].collect()
    samples.zip(got).foreach { case ((a, b, c), (z2, z3)) =>
      assert(z2 == refZ2(a, b), s"zkey2($a,$b)")
      assert(z3 == refZ3(a & 0x1FFFFF, b & 0x1FFFFF, c), s"zkey3($a,$b,$c)")
    }
  }

  test("zkeyWeighted matches the group-interleave reference; monotone in the primary's high bits") {
    // reference: for each secondary bit i, primary bits [g·i, g·(i+1))
    // land at positions [(g+1)·i + 1, (g+1)·(i+1)) and secondary bit i
    // at (g+1)·i — MSB-aligned unequal-width interleave
    def ref(a: Long, b: Long, aBits: Int, bBits: Int): Long = {
      val g = aBits / bBits
      var out = 0L
      for (i <- 0 until bBits) {
        val aGroup = (a >> (g * i)) & ((1L << g) - 1)
        val bBit = (b >> i) & 1L
        out |= aGroup << ((g + 1) * i + 1)
        out |= bBit << ((g + 1) * i)
      }
      out
    }
    val samples = Seq((0L, 0L), (1L, 0L), (0L, 1L), (65535L, 255L),
      (0xABCDL, 0x5AL), (40000L, 7L), (12345L, 200L))
    for ((ab, bb) <- Seq((16, 8), (8, 4), (12, 4))) {
      val got = samples.toDF("a", "b")
        .select(ZOrder.zkeyWeighted(col("a"), col("b"), ab, bb))
        .as[Long].collect()
      samples.zip(got).foreach { case ((a, b), z) =>
        assert(z == ref(a, b, ab, bb), s"zkeyWeighted($a,$b,$ab,$bb)")
        assert(z >= 0, "weighted key must stay off the sign bit")
      }
    }
    // the top (g) primary bits are the key's most significant bits, so
    // ordering by the key is monotone in the primary's high group —
    // the property that makes date-range skipping strong
    val ks = (0 until 16).map(h =>
      ref((h.toLong << 12), 137L, 16, 8))
    assert(ks == ks.sorted, "high primary bits must dominate the ordering")
    // parameter validation
    intercept[IllegalArgumentException] {
      spark.range(1).select(ZOrder.zkeyWeighted(col("id"), col("id"), 10, 4)).collect()
    }
    intercept[IllegalArgumentException] {
      spark.range(1).select(ZOrder.zkeyWeighted(col("id"), col("id"), 48, 16)).collect()
    }
  }

  test("fixedBitsAt: the r16 bit-budget lesson as data points; weightedBitsFor routes by decoded-fraction") {
    // the measured r16 warehouse-soak anchors: at F ≈ 48, g = 2 the
    // secondary holds exactly ONE fixed bit (the 2×-skip surprise that
    // failed the first layout spec), and the asymptotics need F ≳ 200
    assert(ZOrder.fixedBitsAt(48, 2) == (4, 1))
    assert(ZOrder.fixedBitsAt(200, 2) == (5, 2))
    assert(ZOrder.fixedBitsAt(256, 2) == (6, 2))
    // symmetric split at g = 1; everything to the primary as g grows
    assert(ZOrder.fixedBitsAt(256, 1) == (4, 4))
    assert(ZOrder.fixedBitsAt(256, 8) == (8, 0))
    // degenerate table: one file fixes nothing
    assert(ZOrder.fixedBitsAt(1, 2) == (0, 0))
    // secondary fixed bits are nondecreasing in F at fixed g
    val secs = (1L to 20L).map(e => ZOrder.fixedBitsAt(1L << e, 2)._2)
    assert(secs == secs.sorted)

    // weightedBitsFor at F = 512, budget 24: balanced mix → symmetric;
    // the r16 range-dominated profile (~0.9) → the shipped 16/8;
    // truly lopsided → steeper; total mix → secondary dropped entirely
    assert(ZOrder.weightedBitsFor(512, 0.5) == (12, 12))
    assert(ZOrder.weightedBitsFor(512, 0.9) == (16, 8))
    assert(ZOrder.weightedBitsFor(512, 0.98) == (18, 6))
    assert(ZOrder.weightedBitsFor(512, 1.0)._2 * 3 <= 24 &&
      ZOrder.fixedBitsAt(512,
        ZOrder.weightedBitsFor(512, 1.0)._1 / ZOrder.weightedBitsFor(512, 1.0)._2)._2 == 0)
    // widths always consume the budget and keep the multiple contract
    for (mix <- Seq(0.5, 0.7, 0.9, 0.99); f <- Seq(10L, 100L, 1000L, 100000L)) {
      val (a, b) = ZOrder.weightedBitsFor(f, mix)
      assert(a + b == 24 && a % b == 0, s"($a,$b) at mix=$mix F=$f")
    }
    intercept[IllegalArgumentException](ZOrder.weightedBitsFor(512, 1.2))
    // secondary-dominated mixes must be re-posed with swapped dims
    intercept[IllegalArgumentException](ZOrder.weightedBitsFor(512, 0.3))
  }

  test("fixedBitsAt predicts the measured layout: per-file secondary spans under a real weighted key") {
    // the decode-accounting experiment in model form, deterministic
    // (no range-partitioner sampling): lay out the full 512-day ×
    // 64-district grid in zkeyWeighted(date, district, 16, 8) order,
    // slice into F equal files, and measure how many files a
    // district-equality predicate could skip via min/max pruning. The
    // model says: at F files the secondary holds
    // sec = fixedBitsAt(F, 2)._2 fixed bits, so a district slice
    // decodes ~F / 2^sec files — 1 bit at F = 64, 2 bits at F = 512,
    // reproducing the r16 "one district bit at small F" accounting.
    val nDays = 512L; val nD = 64L
    val keys = (for (d <- 0L until nDays; k <- 0L until nD) yield (d, k))
      .toDF("date_b", "district_b")
      .select(col("district_b"),
        ZOrder.zkeyWeighted(col("date_b"), col("district_b"), 16, 8).as("z"))
      .orderBy("z")
      .select("district_b")
      .as[Long].collect()
    for (files <- Seq(64, 512)) {
      val perFile = keys.length / files
      val hit = 7L // any district id; the grid is symmetric
      val decodedFiles = keys.grouped(perFile).count { f =>
        f.min <= hit && hit <= f.max // min/max stats pruning
      }
      val sec = ZOrder.fixedBitsAt(files, 2)._2
      val predicted = files / (1 << sec)
      // exact-model corridor: the grid is uniform, so the measured
      // count sits within 2× of the floor-model prediction
      assert(decodedFiles <= predicted * 2 && decodedFiles * 2 >= predicted,
        s"F=$files: decoded $decodedFiles files vs predicted $predicted (sec=$sec)")
      info(s"F=$files: district slice decodes $decodedFiles/$files files " +
        s"(model: $predicted, ${sec} fixed secondary bits)")
    }
  }

  test("zkey2 stays non-negative through 31-bit buckets (sign-bit regression)") {
    // bit 31 of the SECOND dim would land on the long's sign bit; with
    // 32-bit buckets sorting by the signed key breaks z-monotonicity at
    // the boundary. clusterWrite caps 2-dim bucketing at 31 bits, under
    // which every key is non-negative and ordering is monotone.
    val maxB = (1L << 31) - 1
    val keys = Seq((0L, 0L), (maxB, 0L), (0L, maxB), (maxB, maxB))
      .toDF("a", "b")
      .select(ZOrder.zkey2(col("a"), col("b"))).as[Long].collect()
    assert(keys.forall(_ >= 0L), s"31-bit zkey2 went negative: ${keys.toSeq}")
    // demonstrate WHY the cap exists: a 32-bit second dim reaches the sign bit
    val bad = Seq((0L, 1L << 31)).toDF("a", "b")
      .select(ZOrder.zkey2(col("a"), col("b"))).as[Long].head()
    assert(bad < 0L)
  }

  test("clusterWrite refuses empty input / all-null dims with a clear error") {
    val dir = java.nio.file.Files.createTempDirectory("zorder-null").toString
    val empty = spark.range(0).select(col("id").as("x"), col("id").as("y"))
    val e = intercept[IllegalArgumentException] {
      ZOrder.clusterWrite(empty, s"$dir/e", Seq("x", "y"), numFiles = 2)
    }
    assert(e.getMessage.contains("no non-null values"))
    val allNull = spark.range(10).select(
      lit(null).cast("double").as("x"), col("id").as("y"))
    val e2 = intercept[IllegalArgumentException] {
      ZOrder.clusterWrite(allNull, s"$dir/n", Seq("x", "y"), numFiles = 2)
    }
    assert(e2.getMessage.contains("'x'"))
    val e3 = intercept[IllegalArgumentException] {
      ZOrder.clusterWrite(allNull, s"$dir/q", Seq("x", "y"), numFiles = 2, quantile = true)
    }
    assert(e3.getMessage.contains("'x'"))
  }

  test("z-ordering is locality-preserving: adjacent cells share key prefixes") {
    // the z-curve property the file-skipping relies on: keys of a small
    // spatial block span a far smaller key range than row-major order
    val block = for (x <- 100L to 103L; y <- 200L to 203L) yield (x, y)
    val keys = block.toDF("x", "y")
      .select(ZOrder.zkey2(col("x"), col("y"))).as[Long].collect()
    assert(keys.max - keys.min < 256) // 4×4 block stays in a tiny key window
  }

  test("quantile bucketing spreads a zipf-skewed dim that linear scaling collapses") {
    // zipf-ish: value ~ 1/rank — 90%+ of mass near the minimum
    val df = spark.range(20000).select(
      (lit(1000000.0) / (col("id") + 1)).as("v"), col("id"))
    val linear = df.select(ZOrder.bucketize(col("v"), 50.0, 1000000.0, 6).as("b"))
      .groupBy("b").count().orderBy(desc("count")).head()
    // linear: nearly everything lands in bucket 0
    assert(linear.getLong(0) == 0L && linear.getLong(1) > 15000L)
    val qb = df.select(ZOrder.bucketizeByQuantilesMulti(df, Seq("v"), 6).head.as("b"))
      .groupBy("b").count()
    val counts = qb.select("count").as[Long].collect()
    // quantile: ~64 near-uniform buckets (each ≈ 312 rows; allow 4×)
    assert(counts.length > 48 && counts.max < 4 * 20000 / 64,
      s"buckets=${counts.length} max=${counts.max}")
  }

  test("clusterWrite(quantile = true): skewed dims still yield tight per-file ranges") {
    // one zipf dim + one uniform dim: linear bucketing would collapse
    // the zipf dim into bucket 0, leaving files wide in the OTHER dim
    val n = 20000
    val df = spark.range(n.toLong).select(
      (lit(1000000.0) / (pmod(xxhash64(col("id")), lit(1000L)) + 1)).as("x"), // zipf-ish
      pmod(xxhash64(col("id"), lit(3)), lit(1000L)).as("y"),
      col("id").as("payload"))
    val dir = java.nio.file.Files.createTempDirectory("zorderq").toString
    ZOrder.clusterWrite(df, s"$dir/q", Seq("x", "y"), numFiles = 16, bits = 8, quantile = true)
    val back = spark.read.parquet(s"$dir/q")
    assert(back.count() == n)
    assert(back.agg(sum("payload")).head().getLong(0) ==
      df.agg(sum("payload")).head().getLong(0))
    // the uniform dim must stay tight per file despite the skewed partner:
    // mean per-file y-range well below the full 0..999 span
    val files = new java.io.File(s"$dir/q").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
    val spans = files.map { f =>
      val r = spark.read.parquet(f).agg(min("y"), max("y")).head()
      r.getLong(1) - r.getLong(0)
    }
    assert(files.length > 4)
    assert(spans.sum.toDouble / spans.length < 700,
      s"quantile z-order lost y-locality: spans=${spans.toSeq}")
  }

  test("end-to-end data skipping: a selective predicate decodes a fraction of the z-ordered table") {
    // The bbox specs prove the LAYOUT is tight; this proves a READ
    // benefits. The witness is the scan operator's numOutputRows — rows
    // the parquet reader actually decoded after row-group (footer
    // min/max) skipping, BEFORE Spark's own Filter re-evaluates the
    // predicate. (input_file_name() over surviving rows is NOT a
    // witness: files with no matching rows contribute nothing under
    // either layout, skipped or scanned.)
    val n = 65536
    val df = spark.range(n).select(
      (col("id") % 256).cast("int").as("x"),
      (col("id") / 256).cast("int").as("y"))
    val plainPath = java.nio.file.Files.createTempDirectory("skip-plain").toString
    val zPath = java.nio.file.Files.createTempDirectory("skip-z").toString
    // plain = the single-dim alternative: tight on x, y spans the whole
    // domain in every file, so a y-predicate can skip nothing
    df.repartitionByRange(64, col("x")).sortWithinPartitions("x")
      .write.mode("overwrite").option("compression", "zstd").parquet(plainPath)
    ZOrder.clusterWrite(df, zPath, Seq("x", "y"), numFiles = 64, bits = 8)

    def decodedRows(q: org.apache.spark.sql.DataFrame): Long = {
      q.collect()
      q.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numOutputRows").value
      }.sum
    }
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false") // plain plan tree → scan metric reachable
    try {
      val pred = col("y").between(100, 107) // 8/256 ≈ 3 % selectivity on the non-sorted dim
      val plainQ = spark.read.parquet(plainPath).where(pred)
      val zQ = spark.read.parquet(zPath).where(pred)
      assert(plainQ.count() == zQ.count()) // same answer first
      val plainDecoded = decodedRows(plainQ.select("x", "y"))
      val zDecoded = decodedRows(zQ.select("x", "y"))
      assert(plainDecoded >= n * 9L / 10,
        s"plain layout unexpectedly skipped ($plainDecoded of $n) — test premise broken")
      assert(zDecoded <= plainDecoded / 3,
        s"z-ordered read decoded $zDecoded rows vs plain $plainDecoded — skipping not proven")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("clusterWrite: per-file bounding boxes are tight on BOTH dims") {
    val n = 20000
    // uniform 2-d grid, shuffled arrival order
    val df = spark.range(n.toLong).select(
      (pmod(xxhash64(col("id")), lit(1000L))).as("x"),
      (pmod(xxhash64(col("id"), lit(7)), lit(1000L))).as("y"),
      col("id").as("payload"))
    val dir = java.nio.file.Files.createTempDirectory("zorder").toString

    ZOrder.clusterWrite(df, s"$dir/clustered", Seq("x", "y"), numFiles = 16)
    df.repartition(16).write.mode("overwrite").parquet(s"$dir/plain")

    def totalBboxArea(path: String): Double = {
      val files = new java.io.File(path).listFiles()
        .filter(f => f.getName.endsWith(".parquet")).map(_.getAbsolutePath)
      files.map { f =>
        val r = spark.read.parquet(f)
          .agg(min("x"), max("x"), min("y"), max("y")).head()
        (r.getLong(1) - r.getLong(0) + 1).toDouble * (r.getLong(3) - r.getLong(2) + 1)
      }.sum
    }
    val clustered = totalBboxArea(s"$dir/clustered")
    val plain = totalBboxArea(s"$dir/plain")
    // plain: every file covers ~the whole 1000×1000 space (16 × 10⁶);
    // z-ordered files tile it (sum ≈ one coverage of the space + overlap)
    assert(clustered < plain / 4,
      s"z-order should shrink per-file bboxes: clustered=$clustered plain=$plain")

    // and the data survives the layout: same rows
    val back = spark.read.parquet(s"$dir/clustered")
    assert(back.count() == n)
    assert(back.agg(sum("payload")).head().getLong(0) ==
      df.agg(sum("payload")).head().getLong(0))
  }
}
