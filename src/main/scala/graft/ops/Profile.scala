package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Column profiling — the ANALYZE-style statistics pass a warehouse
  * runs before planning, quality triage, or schema drift detection:
  * per column, the row count, null count, exact distinct count, and
  * min/max.
  *
  * ONE scan for the whole profile: every per-column metric is an
  * aggregate of the same `agg(...)` call (Spark plans multi-distinct
  * aggregates with an expand + two-phase aggregation — still a single
  * pass over the parquet), and the wide one-row result pivots to
  * long-form rows with a zero-shuffle `explode` of a struct array.
  * Min/max surface as STRINGS (numerics cast after the typed
  * aggregation, so ordering is the column's own, not lexicographic) —
  * one schema regardless of profiled column types, the shape a
  * profile sink can store for any table.
  */
object Profile {

  /** @param cols columns to profile (must exist on `df`)
    * @return one row per profiled column:
    *   (col_name, n_rows, n_nulls, n_distinct, min_val, max_val),
    *   ordered by col_name */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "no columns to profile")
    val missing = cols.filterNot(df.columns.contains)
    require(missing.isEmpty, s"profile: no such column(s): ${missing.mkString(", ")}")
    val wide = df.agg(count(lit(1)).as("__n"),
      cols.flatMap { c =>
        Seq(
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
          countDistinct(col(c)).as(s"${c}__ndv"),
          min(col(c)).cast("string").as(s"${c}__min"),
          max(col(c)).cast("string").as(s"${c}__max"))
      }: _*)
    val rows = cols.map(c => struct(
      lit(c).as("col_name"),
      col(s"${c}__nulls").as("n_nulls"),
      col(s"${c}__ndv").as("n_distinct"),
      col(s"${c}__min").as("min_val"),
      col(s"${c}__max").as("max_val")))
    wide
      .select(col("__n").as("n_rows"), explode(array(rows: _*)).as("m"))
      .select(col("m.col_name"), col("n_rows"), col("m.n_nulls"),
        col("m.n_distinct"), col("m.min_val"), col("m.max_val"))
      .orderBy("col_name")
  }
}
