package graftbench

import scala.jdk.CollectionConverters._

/** The per-layer metrics of a traced run, in the order and with the
  * units `BENCHMARK.json` declares. Each comes from one of three
  * places:
  *   - the Spark listeners, counted over the timed ops (`spark.*`),
  *     and over the setup uploads of `dashboard` (`spark.upload.*`);
  *   - the benchmark's spans around public calls: a `<name>_ms` metric
  *     is the median duration of the spans named `<name>` in the timed
  *     phase (or, for a call the workload makes only while building its
  *     base state, of all its spans);
  *   - the workload's standalone probes and sizes ([[Workload.probe]]),
  *     for the layers its ops do not call.
  * A layer the workload never calls reads 0. */
object LayerMetrics {

  val Modules = Seq("spatial", "domain", "warehouse", "ops", "other")

  /** Span names of the calls that make up an upload: the cell map, the
    * three ingests and the warehouse optimize. */
  val UploadCalls: Set[String] = Set("spatial.from_shapefile", "domain.ingest_rain",
    "domain.ingest_risk", "domain.ingest_incident", "warehouse.optimize")

  val Declared: Seq[(String, String)] = Seq(
    "spark.jobs_per_op" -> "jobs/op",
    "spark.stages_per_op" -> "stages/op",
    "spark.tasks_per_op" -> "tasks/op",
    "spark.job_ms_per_op" -> "ms/op",
    "spark.driver_gap_ms_per_op" -> "ms/op") ++
    Modules.map(m => s"spark.job_ms.$m" -> "ms") ++ Seq(
    "spark.task_cpu_s" -> "s",
    "spark.shuffle_write_mb" -> "MB",
    "spark.shuffle_read_mb" -> "MB",
    "spark.spill_mb" -> "MB",
    "spark.input_mb" -> "MB",
    "spark.output_mb" -> "MB",
    "spark.gc_s" -> "s",
    "spark.upload.jobs" -> "jobs",
    "spark.upload.job_ms" -> "ms",
    "spark.upload.task_cpu_s" -> "s",
    "spark.upload.shuffle_write_mb" -> "MB",
    "spark.upload.input_mb" -> "MB",
    "spark.upload.output_mb" -> "MB",
    "session.create_ms" -> "ms",
    "sources.netcdf_scan_ms" -> "ms",
    "sources.netcdf_cells_per_s" -> "cells/s",
    "sources.dbf_read_ms" -> "ms",
    "sources.xlsx_parse_ms" -> "ms",
    "sources.shp_read_ms" -> "ms",
    "spatial.cell_map_ms" -> "ms",
    "spatial.geojson_ms" -> "ms",
    "domain.ingest_rain_ms" -> "ms",
    "domain.ingest_risk_ms" -> "ms",
    "domain.ingest_incident_ms" -> "ms",
    "domain.rows_appended" -> "rows",
    "domain.list_rain_ms" -> "ms",
    "domain.list_risk_ms" -> "ms",
    "domain.list_incidents_ms" -> "ms",
    "domain.list_province_district_ms" -> "ms",
    "domain.list_dims_ms" -> "ms",
    "domain.date_limit_ms" -> "ms",
    "domain.graph_ms" -> "ms",
    "warehouse.optimize_ms" -> "ms",
    "warehouse.files" -> "files",
    "warehouse.mb" -> "MB",
    "warehouse.bytes_written_per_byte_stored" -> "ratio",
    "warehouse.rows_scanned_per_row_returned" -> "ratio") ++
    (for (f <- Seq("bm25", "ivf", "ivfpq"); v <- Seq("append", "remove", "compact"))
      yield s"ops.${f}_${v}_ms" -> "ms") ++ Seq(
    "ops.dedup_probe_ms" -> "ms",
    "ops.dedup_remove_ms" -> "ms",
    "ops.jobs_per_write_verb" -> "jobs/call",
    "ops.bm25_topk_ms" -> "ms",
    "ops.ivf_topk_ms" -> "ms",
    "ops.ivfpq_topk_ms" -> "ms",
    "ops.index_files" -> "files",
    "ops.index_mb" -> "MB",
    "expr.token_counts_rows_per_s" -> "rows/s",
    "expr.minhash_rows_per_s" -> "rows/s")

  /** Span names of the index write verbs (`ops.jobs_per_write_verb`). */
  val WriteVerbs: Set[String] =
    (for (f <- Seq("bm25", "ivf", "ivfpq"); v <- Seq("append", "remove", "compact"))
      yield s"ops.${f}_$v").toSet + "ops.dedup_remove"

  def all(c: SparkCounters, tr: Tracer, timed: Seq[Main.Timed], sessionMs: Double,
      storedBytes: Long, probe: Map[String, Double]): Seq[(String, Double, String)] = {
    val n = math.max(1, timed.size)
    val lo = timed.head.startMs; val hi = timed.last.endMs
    val jobs = c.allJobs
    val phaseJobs = jobs.filter(j => j.startMs >= lo && j.startMs <= hi)
    val perOp = timed.map { t => t -> jobs.filter(j => j.startMs >= t.startMs && j.startMs <= t.endMs) }
    val tasks = c.taskRecs.asScala.toSeq
    val phaseTasks = tasks.filter(t => t.launchMs >= lo && t.launchMs <= hi)
    val stages = c.stageStarts.asScala.count(s => s >= lo && s <= hi)
    def jobMs(js: Seq[SparkCounters.Job]) = js.map(j => (j.endMs - j.startMs).toDouble).sum
    val gap = perOp.map { case (t, js) =>
      math.max(0.0, t.ms - Intervals.unionLength(js.map(j => (math.max(j.startMs, t.startMs), math.min(j.endMs, t.endMs)))))
    }.sum

    val timedSpans = tr.spans.filter(_.opId >= 0)
    def median(xs: Seq[Double]) = { val s = xs.sorted; if (s.isEmpty) 0.0 else s(s.size / 2) }
    def spanMs(name: String): Double = {
      val inPhase = timedSpans.filter(_.name == name)
      val ss = if (inPhase.nonEmpty) inPhase else tr.spans.filter(_.name == name)
      median(ss.map(s => (s.end - s.start) / 1e6).toSeq)
    }
    val writeSpans = timedSpans.filter(s => WriteVerbs(s.name))
    val writeJobs = writeSpans.map { s =>
      val (a, b) = (tr.epochMs(s.start), tr.epochMs(s.end))
      jobs.count(j => j.startMs >= a && j.startMs <= b)
    }
    // the uploads: jobs and tasks that started inside an upload call's span
    val uploadIv = tr.spans.filter(s => UploadCalls(s.name)).map(s => (tr.epochMs(s.start), tr.epochMs(s.end)))
    def inUpload(ms: Long) = uploadIv.exists { case (a, b) => ms >= a && ms <= b }
    val uploadJobs = jobs.filter(j => inUpload(j.startMs))
    val uploadTasks = tasks.filter(t => inUpload(t.launchMs))
    val scanned = c.scans.asScala.filter { case (t, _) => t >= lo && t <= hi }.map(_._2).sum
    val returned = probe.getOrElse("rows_returned", 0.0)
    val written = tasks.map(_.outputMb).sum * 1e6

    val computed: Map[String, Double] = Map(
      "spark.jobs_per_op" -> phaseJobs.size.toDouble / n,
      "spark.stages_per_op" -> stages.toDouble / n,
      "spark.tasks_per_op" -> phaseTasks.size.toDouble / n,
      "spark.job_ms_per_op" -> jobMs(perOp.flatMap(_._2)) / n,
      "spark.driver_gap_ms_per_op" -> gap / n,
      "spark.task_cpu_s" -> phaseTasks.map(_.cpuS).sum,
      "spark.shuffle_write_mb" -> phaseTasks.map(_.shuffleWriteMb).sum,
      "spark.shuffle_read_mb" -> phaseTasks.map(_.shuffleReadMb).sum,
      "spark.spill_mb" -> phaseTasks.map(_.spillMb).sum,
      "spark.input_mb" -> phaseTasks.map(_.inputMb).sum,
      "spark.output_mb" -> phaseTasks.map(_.outputMb).sum,
      "spark.gc_s" -> phaseTasks.map(_.gcS).sum,
      "spark.upload.jobs" -> uploadJobs.size.toDouble,
      "spark.upload.job_ms" -> jobMs(uploadJobs),
      "spark.upload.task_cpu_s" -> uploadTasks.map(_.cpuS).sum,
      "spark.upload.shuffle_write_mb" -> uploadTasks.map(_.shuffleWriteMb).sum,
      "spark.upload.input_mb" -> uploadTasks.map(_.inputMb).sum,
      "spark.upload.output_mb" -> uploadTasks.map(_.outputMb).sum,
      "session.create_ms" -> sessionMs,
      "ops.jobs_per_write_verb" -> (if (writeJobs.isEmpty) 0.0 else writeJobs.sum.toDouble / writeJobs.size),
      "warehouse.bytes_written_per_byte_stored" -> (if (storedBytes == 0) 0.0 else written / storedBytes),
      "warehouse.rows_scanned_per_row_returned" -> (if (returned == 0) 0.0 else scanned / returned)) ++
      Modules.map(m => s"spark.job_ms.$m" -> jobMs(phaseJobs.filter(_.module == m)))

    Declared.map { case (name, unit) =>
      val stem = name.stripSuffix("_ms")
      val spanned = if (name.endsWith("_ms") && tr.spans.exists(_.name == stem)) Some(spanMs(stem)) else None
      val v = computed.get(name).orElse(spanned).orElse(probe.get(name)).getOrElse(0.0)
      (name, v, unit)
    }
  }
}
