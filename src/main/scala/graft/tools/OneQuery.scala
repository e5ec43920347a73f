package graft.tools

/** Ad-hoc single-query timer for before/after plan work:
  * runMain graft.tools.OneQuery <queryName> [reps] — times
  * `SparkEntry.queries(name)` on SPARK_GRAFT_SF_DIR like Bench does
  * (same session config, same warmup), printing every rep. Not part of
  * any gate; exists so a one-row investigation doesn't cost a full
  * 92-query bench run. */
object OneQuery {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: OneQuery <name> [reps]"))
    val reps = args.lift(1).map(_.toInt).getOrElse(5)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.create()
    try graft.SparkEntry.queries("q1_agg")(spark, sfDir).count()
    catch { case _: Throwable => }
    val fn = graft.SparkEntry.queries(name)
    for (i <- 1 to reps) {
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      println(f"[onequery] $name rep $i: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    spark.stop()
  }
}
