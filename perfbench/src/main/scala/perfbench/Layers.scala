package perfbench

import org.apache.spark.sql.streaming.StreamingQueryProgress

import scala.jdk.CollectionConverters._

/** Per-layer metrics of one operation of a traced run, from what the
  * listeners observed and the spans the benchmark recorded around it. */
object Layers {

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def forOp(o: Observed, tracer: Tracer, opId: Int, opStart: Double, opEnd: Double,
      cores: Int, op: Main.Op): Map[String, Double] = {
    for ((name, s, e, _) <- o.phases) tracer.addDerived(s"catalyst.$name", s, e, opId)
    for ((id, s, e, _) <- o.jobs) tracer.addDerived(s"spark.job.$id", s, e, opId)
    val wall = opEnd - opStart
    val t = o.task.withDefaultValue(0.0)
    val jobIv = o.jobs.map { case (_, s, e, _) => (math.max(s, opStart), math.min(e, opEnd)) }
      .filter { case (s, e) => e > s }
    val longest = if (o.stages.isEmpty) None else Some(o.stages.maxBy(_._3))
    val skew = longest.map(_._4.map(_.toDouble)).filter(_.nonEmpty)
      .map(ts => ts.max / math.max(1.0, median(ts))).getOrElse(1.0)
    val returned = op.extra.get("rows") match {
      case Some(n: Int) => n.toDouble
      case Some(n: Long) => n.toDouble
      case _ => t("output_rows")
    }
    val spans = tracer.opSpans(opId)
    def spanMs(p: String => Boolean) = spans.filter(s => p(s.name)).map(_.ms).sum
    val loaderMs = spanMs(_.startsWith("etl.Loader.load"))
    val syncMs = spanMs(_ == "etl.Sync.run")
    val curFiles = o.scannedFiles.count(_.contains("/cur/"))
    val base = Map(
      "catalyst.analysis_ms" -> phase(o, "analysis"),
      "catalyst.optimization_ms" -> phase(o, "optimization"),
      "catalyst.planning_ms" -> phase(o, "planning"),
      "spark.jobs" -> o.jobs.size.toDouble,
      "spark.stages" -> o.stages.size.toDouble,
      "spark.tasks" -> t("tasks"),
      "spark.job_wall_ms" -> o.jobs.map { case (_, s, e, _) => e - s }.sum,
      "spark.driver_gap_ms" -> (wall - Tracer.covered(jobIv)),
      "spark.task_run_ms" -> t("run_ms"),
      "spark.task_cpu_ms" -> t("cpu_ms"),
      "spark.gc_ms" -> t("gc_ms"),
      "spark.core_utilization" -> t("run_ms") / math.max(1e-9, wall * cores),
      "spark.task_skew" -> skew,
      "spark.shuffle_write_bytes" -> t("shuffle_write_bytes"),
      "spark.shuffle_read_bytes" -> t("shuffle_read_bytes"),
      "spark.spill_bytes" -> t("spill_bytes"),
      "spark.input_bytes" -> t("input_bytes"),
      "spark.input_rows" -> t("input_rows"),
      "spark.output_bytes" -> t("output_bytes"),
      "spark.output_rows" -> t("output_rows"),
      "spark.rows_scanned_per_row_returned" -> t("input_rows") / math.max(1.0, returned),
      "op.wall_ms" -> wall,
      "op.uncovered_ms" -> (wall - Tracer.covered(spans.filter(_.parent == -1)
        .map(s => (math.max(s.start, opStart), math.min(s.end, opEnd))).filter { case (s, e) => e > s })))
    val etl =
      if (syncMs == 0.0) Map.empty[String, Double]
      else Map(
        "etl.sync_ms" -> syncMs,
        "etl.loader_raw_ms" -> spanMs(_ == "etl.Loader.load:raw"),
        "etl.loader_normalized_ms" -> spanMs(_ == "etl.Loader.load:normalized"),
        "etl.loader_sync_log_ms" -> spanMs(_ == "etl.Loader.load:sync_log"),
        "etl.loader_calls" -> spans.count(_.name.startsWith("etl.Loader.load")).toDouble,
        "etl.sync_self_ms" -> (syncMs - loaderMs),
        "etl.write_amplification" -> t("output_bytes") / math.max(1.0, t("input_bytes")),
        "etl.files_read" -> curFiles.toDouble)
    val batches = o.progress.map(_.progress).filter(_.numInputRows > 0)
    val stream =
      if (batches.isEmpty) Map.empty[String, Double]
      else streaming(batches) ++ Map(
        "streaming.jobs_per_batch" ->
          o.jobs.count(_._4.isDefined).toDouble / batches.size,
        "streaming.loader_append_ms" -> loaderMs / batches.size)
    base ++ etl ++ stream
  }

  private def phase(o: Observed, name: String): Double =
    o.phases.filter(_._1 == name).map(_._4).sum

  def streaming(ps: Seq[StreamingQueryProgress]): Map[String, Double] = {
    def dur(k: String) = median(ps.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)))
    val ops = ps.flatMap(_.stateOperators)
    def st(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
      median(ps.map(p => p.stateOperators.map(f).sum))
    val custom = ops.flatMap(_.customMetrics.asScala.keys).distinct.sorted
    Map(
      "streaming.batches" -> ps.size.toDouble,
      "streaming.rows_per_batch" -> median(ps.map(_.numInputRows.toDouble)),
      "streaming.add_batch_ms" -> dur("addBatch"),
      "streaming.query_planning_ms" -> dur("queryPlanning"),
      "streaming.get_batch_ms" -> dur("getBatch"),
      "streaming.latest_offset_ms" -> dur("latestOffset"),
      "streaming.wal_commit_ms" -> dur("walCommit"),
      "streaming.commit_offsets_ms" -> dur("commitOffsets"),
      "streaming.state_commit_ms" -> st(_.commitTimeMs.toDouble),
      "streaming.state_updates_ms" -> st(_.allUpdatesTimeMs.toDouble),
      "streaming.state_removals_ms" -> st(_.allRemovalsTimeMs.toDouble),
      "streaming.state_memory_bytes" -> st(_.memoryUsedBytes.toDouble),
      "streaming.state_rows_updated" -> st(_.numRowsUpdated.toDouble),
      "streaming.rows_dropped_by_watermark" -> ps.map(p =>
        p.stateOperators.map(_.numRowsDroppedByWatermark).sum.toDouble).sum) ++
      custom.map(k => s"streaming.rocksdb.$k" -> st(op =>
        Option(op.customMetrics.get(k)).map(_.toDouble).getOrElse(0.0)))
  }
}
