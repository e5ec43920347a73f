package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Job-count/gap profiler for the multi-job lifecycle gates:
  * runMain graft.tools.JobProfile <queryName> [reps] — runs the query
  * like OneQuery but with a SparkListener tallying per-rep job count,
  * summed job wall time, and the driver-side gap (rep wall − summed
  * job time, the planning/commit/footer-read fat between actions).
  * Diagnostic only; not part of any gate. */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: JobProfile <name> [reps]"))
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.create()
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val jobNanos = new java.util.concurrent.atomic.AtomicLong(0L)
    val descs = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Int, Long, String)]())
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        starts.put(e.jobId, System.nanoTime())
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(e.stageInfos.lastOption.map(si =>
            si.name + " [" + si.numTasks + " tasks]"))
          .getOrElse("?")
        descs.add((e.jobId, System.nanoTime(), d))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(starts.remove(e.jobId)).foreach { t0 =>
          jobs.incrementAndGet()
          jobNanos.addAndGet(System.nanoTime() - t0)
        }
      }
    })
    try graft.SparkEntry.queries("q1_agg")(spark, sfDir).count()
    catch { case _: Throwable => }
    val fn = graft.SparkEntry.queries(name)
    for (i <- 1 to reps) {
      Thread.sleep(200) // let listener events drain
      jobs.set(0); jobNanos.set(0L); descs.clear()
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // listener is async; let the last JobEnd land
      val jt = jobNanos.get() / 1e9
      println(f"[jobprofile] $name rep $i: wall ${wall}%.3f s, jobs ${jobs.get()}%d, job time ${jt}%.3f s, gap ${wall - jt}%.3f s")
      if (i == reps) {
        import scala.jdk.CollectionConverters._
        var prev = t0
        descs.asScala.foreach { case (id, ts, d) =>
          println(f"[jobprofile]   job $id%3d +${(ts - prev) / 1e9}%.3f s since prev start: ${d.take(110)}")
          prev = ts
        }
      }
    }
    spark.stop()
  }
}
