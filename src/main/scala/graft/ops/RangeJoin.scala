package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, FloatType, TimestampNTZType, TimestampType}

/** Range (interval-containment) join — the second classic operator
  * Spark's join zoo lacks beside [[AsofJoin]]: for each left POINT row
  * attach every right INTERVAL row of the same key group whose
  * `[start, end]` contains the point (click → every attribution window
  * it falls in, a reading → every calibration period covering it, an
  * event → every active experiment).
  *
  * Expressed naively (`l.key = r.key AND l.pt BETWEEN r.start AND
  * r.end`) Spark plans the range predicate as a JOIN RESIDUAL: the
  * equi part hashes on `key` alone, so one hot key degenerates to an
  * all-pairs scan within the key — quadratic at 100 TB (and with no
  * equi keys at all it becomes BroadcastNestedLoopJoin). This is the
  * bucketed-expansion plan used by the range-join optimizations in
  * commercial Spark runtimes instead:
  *
  *   1. pick a bucket width `w` (auto: the observed max interval
  *      length, one scalar agg — every interval then covers ≤ 2
  *      buckets, so the right side replicates < 2×);
  *   2. EXPLODE each interval into the bucket ids it covers
  *      (`sequence(bucket(start), bucket(end))`);
  *   3. map each point to its single bucket and EQUI-join on
  *      `(key…, bucket)` — fine-grained keys, shuffle-hashable,
  *      AQE-broadcastable when the expanded right is small;
  *   4. re-check `start ≤ pt ≤ end` as a cheap post-filter.
  *
  * A qualifying (point, interval) pair meets in EXACTLY one bucket —
  * the point's — so the output needs no dedup. Cost is one shuffle of
  * |L| + (≤2)|R| rows on a key that subdivides hot groups by time.
  *
  * Semantics (pinned in RangeJoinSpec):
  *   - bounds are INCLUSIVE on both ends (`start ≤ pt ≤ end`);
  *   - inner join: points in no interval and intervals holding no
  *     point both vanish;
  *   - null key / null point / null bound rows never match;
  *   - inverted intervals (`start > end`) never match;
  *   - point/bound columns may be numeric or timestamp (timestamps
  *     compare on their micros — exact, no double rounding).
  *
  * Caller-supplied widths cap their interval expansion at
  * [[MaxBucketsPerInterval]] buckets, enforced as a per-row check
  * INSIDE the expansion projection (executor-side `raise_error`, zero
  * extra passes over the data) — a too-fine width would otherwise
  * explode the join input silently, the one way this plan can die at
  * scale.
  */
object RangeJoin {

  /** Hard cap on `sequence(bucket(start), bucket(end))` length for
    * caller-supplied widths (auto width never exceeds 2). */
  val MaxBucketsPerInterval = 4096L

  /** Covered-bucket array of `[s, e]`, guarded on the executor: an
    * interval expanding past [[MaxBucketsPerInterval]] raises (lazily,
    * only on an offending row) instead of silently blowing up the join
    * input — no driver-side pre-agg, so a STREAM caller pays nothing
    * per micro-batch. */
  private def bucketSeq(s: Column, e: Column, w: Long): Column = {
    val bs = floorDiv(s, w)
    val be = floorDiv(e, w)
    // width check in decimal(38,0): `be - bs` in long arithmetic can
    // overflow (bs very negative, be very large → wraps negative and
    // bypasses the guard, leaving sequence()'s opaque length error as
    // the only diagnostic)
    val span = be.cast("decimal(38,0)") - bs.cast("decimal(38,0)")
    when(span >= lit(MaxBucketsPerInterval),
      raise_error(concat(
        lit(s"rangeJoin: bucketWidth=$w expands an interval into "),
        (span + lit(1L)).cast("string"),
        lit(s" buckets (cap $MaxBucketsPerInterval); use a coarser width")))
        .cast("array<bigint>"))
      .otherwise(sequence(bs, be))
  }

  /** @param keys         equi keys present on both sides
    * @param ptCol        left point column (numeric or timestamp)
    * @param startCol     right interval start column
    * @param endCol       right interval end column (inclusive)
    * @param rightPayload right columns to attach, prefixed `prefix`
    * @param bucketWidth  time-axis bucket width in the point column's
    *   units (micros for timestamps); ≤ 0 → auto = max interval length
    * @return left columns + `<prefix><payload>` columns, one output
    *   row per qualifying (point, interval) pair */
  def rangeJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      ptCol: String, startCol: String, endCol: String,
      rightPayload: Seq[String], prefix: String = "rj_",
      bucketWidth: Long = -1L): DataFrame = {
    require(keys.nonEmpty, "range join requires at least one key column")
    require(rightPayload.nonEmpty, "no right payload columns requested")
    Reserved.requireAbsent("rangeJoin", Seq("__pt", "__s", "__e", "__b"), left, right)
    val lCols = left.columns.toSeq
    val clash = rightPayload.map(prefix + _).filter(lCols.contains)
    require(clash.isEmpty,
      s"rangeJoin: output column(s) ${clash.mkString(", ")} already exist on the " +
        "left side; pick a different prefix")

    val l = left
      .withColumn("__pt", asLong(left, ptCol))
      .where(keys.map(col(_).isNotNull).reduce(_ && _) && col("__pt").isNotNull)
    val r0 = right
      .withColumn("__s", asLong(right, startCol))
      .withColumn("__e", asLong(right, endCol))
      .where(keys.map(col(_).isNotNull).reduce(_ && _) &&
        col("__s").isNotNull && col("__e").isNotNull && col("__s") <= col("__e"))
      .select(keys.map(col) ++ Seq(col("__s"), col("__e")) ++
        rightPayload.map(c => col(c).as(s"$prefix$c")): _*)

    // width: auto = max interval length (one bounded agg → ≤2 buckets
    // per interval); caller widths are guarded inside bucketSeq
    val w: Long =
      if (bucketWidth > 0) bucketWidth else autoWidth(r0, "__s", "__e")

    val rKeyed = r0
      .withColumn("__b", explode(bucketSeq(col("__s"), col("__e"), w)))

    val joinKeys = keys :+ "__b"
    l.withColumn("__b", floorDiv(col("__pt"), w))
      .join(rKeyed, joinKeys)
      .where(col("__s") <= col("__pt") && col("__pt") <= col("__e"))
      .select(lCols.map(col) ++ rightPayload.map(c => col(s"$prefix$c")): _*)
  }

  /** Interval-OVERLAP join — both sides are intervals; emit every
    * same-key pair with `l.start ≤ r.end AND r.start ≤ l.end`
    * (sessions × experiment windows, outage spans × deploy spans).
    *
    * Same bucketed-expansion plan as [[rangeJoin]], with one extra
    * device: both sides explode into their covered buckets, so an
    * overlapping pair now meets in EVERY bucket their spans share.
    * Emitting the pair only from the bucket of `max(l.start, r.start)`
    * — a bucket both sides provably cover, and the FIRST bucket of the
    * overlap — makes the output exactly-once without a dedup shuffle.
    *
    * Bounds inclusive, inner semantics, null/inverted rows never match
    * (the [[rangeJoin]] contract); auto width = the max interval length
    * across BOTH sides, so each side replicates < 2×.
    */
  def rangeJoinIntervals(left: DataFrame, right: DataFrame, keys: Seq[String],
      lStart: String, lEnd: String, rStart: String, rEnd: String,
      rightPayload: Seq[String], prefix: String = "rj_",
      bucketWidth: Long = -1L): DataFrame = {
    require(keys.nonEmpty, "range join requires at least one key column")
    require(rightPayload.nonEmpty, "no right payload columns requested")
    Reserved.requireAbsent("rangeJoinIntervals",
      Seq("__ls", "__le", "__rs", "__re", "__b"), left, right)
    val lCols = left.columns.toSeq
    val clash = rightPayload.map(prefix + _).filter(lCols.contains)
    require(clash.isEmpty,
      s"rangeJoinIntervals: output column(s) ${clash.mkString(", ")} already exist " +
        "on the left side; pick a different prefix")

    val l0 = left
      .withColumn("__ls", asLong(left, lStart)).withColumn("__le", asLong(left, lEnd))
      .where(keys.map(col(_).isNotNull).reduce(_ && _) &&
        col("__ls").isNotNull && col("__le").isNotNull && col("__ls") <= col("__le"))
    val r0 = right
      .withColumn("__rs", asLong(right, rStart)).withColumn("__re", asLong(right, rEnd))
      .where(keys.map(col(_).isNotNull).reduce(_ && _) &&
        col("__rs").isNotNull && col("__re").isNotNull && col("__rs") <= col("__re"))
      .select(keys.map(col) ++ Seq(col("__rs"), col("__re")) ++
        rightPayload.map(c => col(c).as(s"$prefix$c")): _*)

    // width: auto = max interval length across BOTH sides (one union
    // agg — the same definition as autoWidth, via the shared helper);
    // caller widths are guarded inside bucketSeq per row
    val w: Long =
      if (bucketWidth > 0) bucketWidth
      else maxLenWidth(
        l0.select((col("__le") - col("__ls")).as("d"))
          .unionByName(r0.select((col("__re") - col("__rs")).as("d"))))

    val lExp = l0.withColumn("__b", explode(bucketSeq(col("__ls"), col("__le"), w)))
    val rExp = r0.withColumn("__b", explode(bucketSeq(col("__rs"), col("__re"), w)))
    lExp.join(rExp, keys :+ "__b")
      .where(col("__ls") <= col("__re") && col("__rs") <= col("__le") &&
        col("__b") === floorDiv(greatest(col("__ls"), col("__rs")), w))
      .select(lCols.map(col) ++ rightPayload.map(c => col(s"$prefix$c")): _*)
  }

  /** The bucket width [[rangeJoin]]'s auto path would pick for this
    * interval table: the max interval length (≥ 1). */
  def autoWidth(intervals: DataFrame, startCol: String, endCol: String): Long =
    maxLenWidth(intervals
      .select((asLong(intervals, endCol) - asLong(intervals, startCol)).as("d"))
      .where(col("d").isNotNull && col("d") >= 0))

  /** The single definition of "the width the auto path picks": the max
    * of a `d` lengths column, floored at 1 (shared by [[autoWidth]] and
    * [[rangeJoinIntervals]] so the two can never drift). */
  private def maxLenWidth(lengths: DataFrame): Long = {
    val m = lengths.agg(max(col("d"))).head()
    if (m.isNullAt(0)) 1L else math.max(m.getLong(0), 1L)
  }

  /** Timestamps compare on micros (long — exact); integral types cast
    * to long. Fractional point/bound columns are REJECTED up front: a
    * silent `cast("long")` truncates toward zero (10.7 vs [10.8, 11.2]
    * would become 10 in [10, 11] — a wrong match), so callers must
    * scale fractional axes to integers (e.g. millis, micros, cents)
    * before joining. */
  private def asLong(df: DataFrame, c: String): Column = df.schema(c).dataType match {
    case TimestampType => unix_micros(col(c))
    case TimestampNTZType => unix_micros(col(c).cast(TimestampType))
    case t: DecimalType if t.scale > 0 =>
      throw new IllegalArgumentException(
        s"rangeJoin: column '$c' is $t — fractional point/bound columns would be " +
          "truncated toward zero and mis-match; scale to an integral unit first")
    case FloatType | DoubleType =>
      throw new IllegalArgumentException(
        s"rangeJoin: column '$c' is ${df.schema(c).dataType} — fractional point/bound " +
          "columns would be truncated toward zero and mis-match; scale to an " +
          "integral unit (millis/micros/cents) first")
    case _ => col(c).cast("long")
  }

  /** Floor division on longs (toward −∞): `(c − pmod(c, w)) div w`.
    * `div` is SQL integral division — exact over the FULL long range.
    * Spark's `/` on longs is double division, exact only below 2^53;
    * nanosecond-epoch magnitudes (~1.7e18) would silently mis-bucket
    * under it and qualifying pairs would vanish from the join. */
  private def floorDiv(c: Column, w: Long): Column =
    call_function("div", c - pmod(c, lit(w)), lit(w))
}
