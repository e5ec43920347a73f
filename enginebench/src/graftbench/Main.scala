package graftbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer

/** One benchmark run in one JVM:
  *   1. generate inputs from the seed and build the base state;
  *   2. run the untimed warm ops (steps 1–2 count in `setup_s`);
  *   3. run the timed ops, closed loop, from this one thread;
  *   4. check the program's outputs against the benchmark's own
  *      recomputation;
  *   5. print one JSON line: end-to-end metrics, or with `--trace 1`
  *      the per-layer metrics.
  *
  * Usage: `Main --workload <dashboard|index_churn> --seed <n>
  * --seconds <s> --trace <0|1> --root <temp dir> [--trace-out <file>]`. */
object Main {

  final case class Timed(kind: String, startMs: Long, endMs: Long, ms: Double, ok: Boolean)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = a.getOrElse(k, sys.error(s"missing --$k"))
    val workload = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toInt
    val trace = arg("trace") == "1"
    val root = Paths.get(arg("root"))
    require(seconds >= 1, "--seconds must be ≥ 1")
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val tr = new Tracer(trace)
    val t0 = System.nanoTime()
    val spark = tr("session.create")(graft.GraftSession.create())
    val sessionMs = (System.nanoTime() - t0) / 1e6
    val counters = if (trace) Some(SparkCounters.install(spark)) else None
    val ctx = new Ctx(spark, root, seed, seconds, tr)
    val wl: Workload = workload match {
      case "dashboard" => new DashboardWorkload(ctx)
      case "index_churn" => new IndexChurnWorkload(ctx)
      case other => sys.error(s"unknown workload '$other' (dashboard, index_churn)")
    }

    tr("setup")(wl.setup())
    tr("warm") {
      wl.warmOps.foreach { op =>
        try tr(s"op.${op.kind}")(op.run())
        catch { case e: Exception => System.err.println(s"[enginebench] warm ${op.kind} failed: $e") }
      }
    }
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val ops = wl.timedOps
    val timed = ArrayBuffer.empty[Timed]
    val phaseStart = System.nanoTime()
    ops.zipWithIndex.foreach { case (op, i) =>
      tr.opId = i
      val s = System.currentTimeMillis(); val n0 = System.nanoTime()
      val ok =
        try { tr(s"op.${op.kind}")(op.run()); true }
        catch {
          case e: Exception =>
            System.err.println(s"[enginebench] op $i ${op.kind} failed: $e"); false
        }
      timed += Timed(op.kind, s, System.currentTimeMillis(), (System.nanoTime() - n0) / 1e6, ok)
    }
    val phaseS = (System.nanoTime() - phaseStart) / 1e9
    tr.opId = -1

    val mismatches = tr("check")(wl.check())
    mismatches.foreach(m => System.err.println(s"[enginebench] check: $m"))
    val layer = if (trace) tr("probe")(wl.probe()) else Map.empty[String, Double]

    val stored = wl.storedDirs.map(Disk.usage(_)._2).sum
    val done = timed.filter(_.ok)
    val lat = done.map(_.ms).sorted
    def pct(q: Double) = if (lat.isEmpty) 0.0 else lat(math.max(0, math.ceil(q * lat.size).toInt - 1))
    val endToEnd = Seq(
      ("setup_s", setupS, "s"),
      ("ops_per_s", done.size / phaseS, "ops/s"),
      ("op_p50_ms", pct(0.5), "ms"),
      ("op_p90_ms", pct(0.9), "ms"),
      ("stored_mb", stored / 1e6, "MB"),
      ("peak_rss_mb", peakRssMb(), "MB"))
    val metrics =
      if (!trace) endToEnd
      else {
        val c = counters.get
        c.drain()
        LayerMetrics.all(c, tr, timed.toSeq, sessionMs, stored, layer)
      }
    if (trace) a.get("trace-out").foreach(p => writeTrace(Paths.get(p), workload, seed, tr, endToEnd, metrics))
    timed.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, ts) =>
      val ms = ts.map(_.ms).sorted
      System.err.println(f"[enginebench] $k%-24s n=${ms.size}%3d median=${ms(ms.size / 2)}%9.1f ms max=${ms.last}%9.1f ms")
    }
    System.err.println(s"[enginebench] $workload seed=$seed ops=${timed.size} " +
      endToEnd.map { case (k, v, _) => f"$k=$v%.4f" }.mkString(" "))

    val json = metrics.map { case (k, v, u) => s""""$k": {"value": ${fmt(v)}, "unit": "$u"}""" }
      .mkString("{", ", ", "}")
    println(s"""{"correct": ${mismatches.isEmpty}, "attempted": ${timed.size}, """ +
      s""""failed": ${timed.count(!_.ok)}, "metrics": $json}""")
    System.out.flush()
    spark.stop()
    sys.exit(0)
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  /** The JVM's resident-set high-water mark (`VmHWM`), in MB. */
  private def peakRssMb(): Double = {
    val s = new String(Files.readAllBytes(Paths.get("/proc/self/status")), "UTF-8")
    s.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble * 1024 / 1e6).getOrElse(0.0)
  }

  private def writeTrace(p: Path, workload: String, seed: Long, tr: Tracer,
      e2e: Seq[(String, Double, String)], layer: Seq[(String, Double, String)]): Unit = {
    Files.createDirectories(p.getParent)
    def obj(m: Seq[(String, Double, String)]) =
      m.map { case (k, v, _) => s""""$k": ${fmt(v)}""" }.mkString("{", ", ", "}")
    val self = tr.selfTimeMs.toSeq.sortBy(-_._2)
      .map { case (k, v) => s""""$k": ${fmt(v)}""" }.mkString("{", ", ", "}")
    Files.write(p, (s"""{"workload": "$workload", "seed": $seed, "end_to_end": ${obj(e2e)},\n""" +
      s""""per_layer": ${obj(layer)},\n"self_ms": $self,\n"spans": ${tr.toJson}}\n""").getBytes("UTF-8"))
  }
}
