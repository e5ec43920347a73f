package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton) clustering for multi-dimensional data-skipping.
  *
  * Parquet scans prune files by per-file column min/max stats, but a
  * sort on one column destroys locality on every other: a query
  * filtering on the second column still opens every file. Writing in
  * z-value order keeps every file's bounding box tight in ALL
  * clustered dimensions at once, so range predicates on any of them
  * skip most files — the layout trick production lakehouse engines
  * apply for exactly this purpose, here over plain parquet.
  *
  * The interleave is the O(log bits) "magic masks" bit-spread, built
  * from Spark's native shift/and/or columns — whole-stage codegen'd,
  * no UDF, no custom expression, and simple enough that an external
  * engine (or the DuckDB oracle) reproduces it with the same five
  * mask steps.
  *
  * Values must be bucketed to non-negative ints first. [[bucketize]]
  * is the linear min/max form (one tiny agg to fetch bounds); it is
  * skew-sensitive — heavily skewed dimensions want quantile bucketing
  * instead, at which point the range partitioner on the z-key still
  *  balances FILE SIZES (it splits on sampled z-values), only the
  * per-file bbox tightness degrades.
  */
object ZOrder {

  /** Spread the low 32 bits of `x` to the even bit positions. */
  private[ops] def spread2(x: Column): Column = {
    val steps = Seq(
      (16, 0x0000FFFF0000FFFFL), (8, 0x00FF00FF00FF00FFL),
      (4, 0x0F0F0F0F0F0F0F0FL), (2, 0x3333333333333333L),
      (1, 0x5555555555555555L))
    steps.foldLeft(x.bitwiseAND(lit(0xFFFFFFFFL))) { case (acc, (sh, mask)) =>
      acc.bitwiseOR(shiftleft(acc, sh)).bitwiseAND(lit(mask))
    }
  }

  /** Spread the low 21 bits of `x` to every third bit position. */
  private[ops] def spread3(x: Column): Column = {
    val steps = Seq(
      (32, 0x001F00000000FFFFL), (16, 0x001F0000FF0000FFL),
      (8, 0x100F00F00F00F00FL), (4, 0x10C30C30C30C30C3L),
      (2, 0x1249249249249249L))
    steps.foldLeft(x.bitwiseAND(lit(0x1FFFFFL))) { case (acc, (sh, mask)) =>
      acc.bitwiseOR(shiftleft(acc, sh)).bitwiseAND(lit(mask))
    }
  }

  /** 62-bit Morton key of two bucketed dims (≤ 31 significant bits
    * each). 31, not 32: the second dim's bits land at odd positions, so
    * its bit 31 would reach bit 63 — the sign bit — and signed ordering
    * in repartitionByRange/sortWithinPartitions would break z-curve
    * monotonicity at the sign boundary for the top half of that dim. */
  def zkey2(a: Column, b: Column): Column =
    spread2(a.cast("long")).bitwiseOR(shiftleft(spread2(b.cast("long")), 1))

  /** 63-bit Morton key of three bucketed dims (≤ 21 bits each). */
  def zkey3(a: Column, b: Column, c: Column): Column =
    spread3(a.cast("long"))
      .bitwiseOR(shiftleft(spread3(b.cast("long")), 1))
      .bitwiseOR(shiftleft(spread3(c.cast("long")), 2))

  /** WEIGHTED Morton key of two bucketed dims with UNEQUAL bit widths
    * (`aBits` must be a multiple of `bBits`): an MSB-aligned interleave
    * placing g = aBits/bBits bits of `a` between consecutive bits of
    * `b`, so `a` gets weight g/(g+1) of the ordering. With F output
    * files a range layout on this key yields per-file spans of roughly
    * A/F^(g/(g+1)) in `a` and B/F^(1/(g+1)) in `b` — the tool for an
    * endpoint mix DOMINATED by predicates on `a` (date ranges) that
    * still wants real skipping on `b` (district equality). The r15
    * serving soak measured the motivating trade: at low file counts a
    * plain date sort out-skips symmetric (district, date) z-order on
    * date-range predicates while giving up district skipping entirely;
    * this key beats each single layout on the shape it is weak at.
    * Total key width aBits + bBits ≤ 62 keeps the sign bit clear. */
  def zkeyWeighted(a: Column, b: Column, aBits: Int, bBits: Int): Column = {
    require(bBits >= 1 && aBits >= bBits && aBits % bBits == 0,
      s"zkeyWeighted: aBits ($aBits) must be a positive multiple of bBits ($bBits)")
    require(aBits + bBits <= 62, "zkeyWeighted: total key width must stay ≤ 62 bits")
    val g = aBits / bBits
    (0 until bBits).foldLeft(lit(0L)) { case (acc, i) =>
      val aGroup = shiftright(a.cast("long"), g * i).bitwiseAND(lit((1L << g) - 1))
      val bBit = shiftright(b.cast("long"), i).bitwiseAND(lit(1L))
      acc.bitwiseOR(shiftleft(aGroup, (g + 1) * i + 1))
        .bitwiseOR(shiftleft(bBit, (g + 1) * i))
    }
  }

  /** The bit-budget model behind [[zkeyWeighted]] sizing, made
    * executable (it was a NOTES paragraph after the r16 layout soaks):
    * a range layout over F files fixes the leading ⌊log₂F⌋ bits of
    * the key per file (each file covers a 1/F slice of the key
    * space), and in a g:1 interleave ([[zkeyWeighted]] with
    * g = aBits/bBits) every (g+1)-th of those leading bits belongs to
    * the secondary dim — so the secondary gets ⌊log₂F / (g+1)⌋
    * file-constant bits and the primary the rest. A point/equality
    * predicate on a dim then skips ≈ 2^(its fixed bits) of the files.
    *
    * Discreteness is the point: the continuous F^(1/(g+1)) span model
    * OVERESTIMATES small-F skipping — at F = 48, g = 2 the secondary
    * holds ONE fixed bit (2× skip, measured exactly so on the r16
    * warehouse soak), and both r16 layout specs needed F ≥ ~200
    * before the weighted layout showed its asymptotics.
    *
    * @return (primary, secondary) file-constant bit counts */
  def fixedBitsAt(fileCount: Long, g: Int): (Int, Int) = {
    require(fileCount >= 1, "fixedBitsAt: fileCount must be ≥ 1")
    require(g >= 1, "fixedBitsAt: g must be ≥ 1")
    val l = 63 - java.lang.Long.numberOfLeadingZeros(fileCount) // ⌊log₂F⌋
    val sec = l / (g + 1)
    (l - sec, sec)
  }

  /** Pick (aBits, bBits) for [[zkeyWeighted]] FROM DATA — file count
    * and endpoint mix — instead of folklore: choose the interleave
    * ratio g minimizing the expected DECODED FRACTION
    *
    *   primaryShare · 2^−primaryFixed + (1 − primaryShare) · 2^−secondaryFixed
    *
    * with per-dim fixed bits from [[fixedBitsAt]]. Decoded rows (not
    * "bits of skipping") is the quantity served reads pay, and its
    * exponential shape is what keeps the optimum INTERIOR: the weak
    * shape's 2^−fixed term dominates, so an extreme g that zeroes the
    * secondary's fixed bits only wins when the mix is truly lopsided.
    * Worked examples at F = 512 (log₂F = 9), totalBits = 24:
    * mix 0.5 → g = 1 (symmetric 12/12); mix 0.9 → g = 2 (16/8, the
    * r16 serving default — its "range-dominated" endpoint profile is
    * a ~0.9 mix); mix 0.98 → g = 3 (18/6); mix 1.0 → the smallest g
    * whose secondary fixed bits hit 0 (a primary sort in weighted-z
    * clothing — at that mix the secondary genuinely buys nothing).
    *
    * For a SECONDARY-dominated mix (< 0.5) swap the dims — g ≥ 1
    * always weights the first dim at least evenly.
    *
    * @param fileCount    files the table's optimize targets (measure:
    *   table bytes / targetBytes)
    * @param primaryShare fraction of reads filtering on the primary
    *   dim (the rest filter on the secondary)
    * @param totalBits    key-width budget, ≤ 62; g is chosen among
    *   ratios that divide it into integer (aBits, bBits)
    * @return (aBits, bBits) for [[zkeyWeighted]] /
    *   [[graft.Warehouse.Layout.WeightedZ]] */
  def weightedBitsFor(fileCount: Long, primaryShare: Double,
      totalBits: Int = 24): (Int, Int) = {
    require(primaryShare >= 0.0 && primaryShare <= 1.0,
      s"weightedBitsFor: primaryShare must be in [0,1], got $primaryShare")
    require(primaryShare >= 0.5,
      "weightedBitsFor: secondary-dominated mix — swap the dims and pass " +
        s"primaryShare = ${1.0 - primaryShare}")
    require(totalBits >= 2 && totalBits <= 62,
      "weightedBitsFor: totalBits must be in [2, 62]")
    val feasible = (1 to totalBits - 1).filter(g => totalBits % (g + 1) == 0)
    val best = feasible.minBy { g =>
      val (pf, sf) = fixedBitsAt(fileCount, g)
      val expectedDecodedFraction =
        primaryShare * math.pow(2.0, -pf) +
          (1.0 - primaryShare) * math.pow(2.0, -sf)
      // deterministic tie-break toward balance: equal cost → smaller g
      (expectedDecodedFraction, g)
    }
    (best * totalBits / (best + 1), totalBits / (best + 1))
  }

  /** Linear bucketing of a numeric column into [0, 2^bits). Constant
    * columns map to bucket 0. */
  def bucketize(c: Column, min: Double, max: Double, bits: Int): Column = {
    val n = (1L << bits) - 1
    if (max <= min) lit(0L)
    else least(lit(n), greatest(lit(0L),
      floor((c.cast("double") - min) / (max - min) * n)))
  }

  /** Quantile bucketing of numeric columns into ≤ 2^bits equal-POPULATION
    * buckets: boundaries from one `approx_percentile` pass (an
    * aggregate — KB-scale result), assignment by codegen'd binary
    * search ([[graft.expr.QuantileBucket]]). This is the skew-robust
    * bucketizer: a heavy-hitter value can still overfill one bucket
    * (identical values are inseparable), but a long-tailed distribution
    * no longer collapses every row into bucket 0 the way linear
    * min/max scaling does.
    *
    * SEVERAL columns share ONE aggregation pass — the boundary fetch is
    * a full scan, so clustering on 2–3 dims must not pay it per dim. */
  def bucketizeByQuantilesMulti(df: DataFrame, colNames: Seq[String], bits: Int): Seq[Column] = {
    require(bits >= 1 && bits <= 12, "quantile bucketing supports 1..12 bits (2..4096 buckets)")
    val n = 1 << bits
    val qs = array((1 until n).map(i => lit(i.toDouble / n)): _*)
    val row = df.agg(
      percentile_approx(col(colNames.head).cast("double"), qs, lit(10000)),
      colNames.tail.map(c => percentile_approx(col(c).cast("double"), qs, lit(10000))): _*)
      .head()
    colNames.indices.foreach { i =>
      require(!row.isNullAt(i),
        s"quantile bucketing: column '${colNames(i)}' has no non-null values " +
          "(empty input or all-null column)")
    }
    colNames.zipWithIndex.map { case (c, i) =>
      graft.expr.QuantileBucket.quantileBucket(
        col(c).cast("double"), row.getSeq[Double](i).toArray)
    }
  }

  /** Write `df` as parquet clustered on 2–3 numeric dimensions:
    * bucketize each dim (one driver-side agg — min/max scalars, or
    * quantile boundaries when `quantile = true` for skewed dims),
    * range-partition on the Morton key into `numFiles` contiguous
    * z-ranges, sort within each, write. Each output file then covers a
    * tight hyper-rectangle of the clustered dims, so min/max file
    * skipping works for predicates on ANY of them. */
  def clusterWrite(df: DataFrame, path: String, dims: Seq[String],
      numFiles: Int, bits: Int = 20, quantile: Boolean = false): Unit = {
    require(dims.size == 2 || dims.size == 3, "z-order supports 2 or 3 dims")
    Reserved.requireAbsent("ZOrder.clusterWrite", Seq("__z"), df)
    val eff =
      if (quantile) math.min(bits, 12)
      else if (dims.size == 3) math.min(bits, 21)
      else math.min(bits, 31) // 31, not 32: keep the z-key off the sign bit
    val buckets: Seq[Column] =
      if (quantile) bucketizeByQuantilesMulti(df, dims, eff)
      else {
        val bounds = df.agg(
          min(col(dims.head)).cast("double"), max(col(dims.head)).cast("double"),
          min(col(dims(1))).cast("double"), max(col(dims(1))).cast("double"),
          (if (dims.size == 3) min(col(dims(2))) else min(lit(0))).cast("double"),
          (if (dims.size == 3) max(col(dims(2))) else max(lit(0))).cast("double"))
          .head()
        dims.indices.foreach { i =>
          require(!bounds.isNullAt(2 * i) && !bounds.isNullAt(2 * i + 1),
            s"z-order dimension '${dims(i)}' has no non-null values " +
              "(empty input or all-null column); cannot cluster on it")
        }
        def b(i: Int) = bounds.getDouble(i)
        dims.zipWithIndex.map { case (d, i) =>
          bucketize(col(d), b(2 * i), b(2 * i + 1), eff)
        }
      }
    val key =
      if (dims.size == 2) zkey2(buckets(0), buckets(1))
      else zkey3(buckets(0), buckets(1), buckets(2))
    df.withColumn("__z", key)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").option("compression", "zstd").parquet(path)
  }
}
