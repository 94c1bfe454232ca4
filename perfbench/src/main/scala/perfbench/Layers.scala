package perfbench

/** Per-layer metrics of a traced run, derived from its spans and samples.
  * Every workload reports every name; a layer the workload leaves idle
  * reads 0. Counts and times are per measured operation or per pass
  * as the name says, so runs of different length compare. */
object Layers {
  /** The span of the source layer's extraction and NOT_NULL gate. */
  val ExtractSpan = "Sdf.extract+filterNotNull.count"

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  private def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  def report(run: Run): Unit = {
    val rec = run.rec
    def s(key: String): Seq[Double] = run.samples.get(key).map(_.toSeq).getOrElse(Nil)
    val passes = run.values.get("passes").map(_.toString.toDouble).getOrElse(1.0)
    val measured = rec.spans.filter(_.phase == "measure").toSeq
    val top = rec.topLevel("measure")
    def spanMs(name: String) = median(measured.filter(_.name == name).map(_.durMs))
    def perOp(key: String) = ratio(top.map(_.counts.getOrElse(key, 0.0)).sum, top.size)
    def perPass(key: String) = s(key).sum / passes
    val self = rec.selfMsByLayer("measure")

    val records = s("sources_records_read").sum
    val kept = s("sources_rows_kept").sum
    val m = scala.collection.mutable.LinkedHashMap[String, Double](
      "sources.extract_rows_per_s" -> ratio(kept,
        measured.filter(_.name == ExtractSpan).map(_.durMs).sum / 1e3),
      "sources.records_read" -> perPass("sources_records_read"),
      "sources.rows_dropped_notnull" -> (records - kept) / passes,
      "sources.rows_kept_frac" -> ratio(kept, records),
      "Warehouse.ingest_first_s" -> median(s("ingest_first_ms")) / 1e3,
      "Warehouse.ingest_incr_p50_s" -> median(s("ingest_incr_ms")) / 1e3,
      "Warehouse.listSdfFiles_ms" -> spanMs("Warehouse.listSdfFiles"),
      "Warehouse.manifest_ms" -> spanMs("Warehouse.manifest"),
      "Warehouse.output_bytes" -> run.values.get("output_bytes").map(_.toString.toDouble).getOrElse(0.0),
      "Warehouse.lookup_prune_ms" -> spanMs("Warehouse.lookup"),
      "Warehouse.lookup_scan_ms" -> spanMs("Warehouse.lookup.collect"),
      "Warehouse.lookup_files_read" -> mean(s("lookup_files_read")),
      "Warehouse.lookup_rows_examined_per_hit" -> ratio(s("lookup_rows_examined").sum, s("lookup_hits").sum),
      "Warehouse.lookupIndexed_plan_ms" -> spanMs("Warehouse.lookupIndexed"),
      "Warehouse.lookupIndexed_scan_ms" -> spanMs("Warehouse.lookupIndexed.collect"),
      "Warehouse.lookupIndexed_buckets_read" -> mean(s("lookupIndexed_buckets_read")),
      "Warehouse.publishBucketed_s" -> median(s("publish_bucketed_ms")) / 1e3,
      "Warehouse.compact_files_before" -> median(s("compact_files_before")),
      "Warehouse.compact_files_after" -> median(s("compact_files_after")),
      "Warehouse.compact_bytes_rewritten" -> median(s("compact_bytes_rewritten")),
      "Warehouse.retract_partitions_rewritten" -> median(s("retract_partitions_rewritten")),
      "driver.analysis_ms" -> perOp("analysis_ms"),
      "driver.optimization_ms" -> perOp("optimization_ms"),
      "driver.planning_ms" -> perOp("planning_ms"),
      "driver.codegen_compile_ms" -> perOp("codegen_compile_ms"),
      "sched.jobs" -> perOp("jobs"),
      "sched.stages" -> perOp("stages"),
      "sched.tasks" -> perOp("tasks"),
      "sched.gap_ms" -> perOp("sched_gap_ms"),
      "exec.run_ms" -> perOp("exec_run_ms"),
      "exec.cpu_ms" -> perOp("exec_cpu_ms"),
      "exec.gc_ms" -> perOp("exec_gc_ms"),
      "exec.cpu_per_run" -> ratio(perOp("exec_cpu_ms"), perOp("exec_run_ms")),
      "shuffle.write_bytes" -> perOp("shuffle_write_bytes"),
      "shuffle.read_bytes" -> perOp("shuffle_read_bytes"),
      "shuffle.fetch_wait_ms" -> perOp("shuffle_fetch_wait_ms"),
      "shuffle.spill_bytes" -> perOp("shuffle_spill_bytes"))
    // the suite's measured pass is each entry's first run in the JVM; a
    // traced run adds a second pass, which prices the warm state
    for ((module, _) <- Suite.Modules) {
      val steadyS = s(s"extra.module.$module").sum / 1e3
      m(s"$module.steady_s") = steadyS
      m(s"$module.cold_minus_steady_s") = if (steadyS == 0) 0.0
        else s(s"module.$module").sum / passes / 1e3 - steadyS
      m(s"$module.exec_cpu_s") = top.filter(_.layer == module)
        .map(_.counts.getOrElse("exec_cpu_ms", 0.0)).sum / passes / 1e3
    }
    m("Streams.batches") = top.filter(_.layer == "Streams").map(_.counts.getOrElse("stream_batches", 0.0)).sum / passes
    m("Streams.batch_p50_ms") = median(rec.counters.synchronized(rec.counters.batchMs.toSeq))
    for (layer <- Seq("bench", "sources", "Warehouse", "spark_sql"))
      m(s"self.${layer}_s") = self.getOrElse(layer, 0.0) / passes / 1e3
    m("self.modules_s") = Suite.Modules.map(x => self.getOrElse(x._1, 0.0)).sum / passes / 1e3
    m("ops_failed_frac") = ratio(run.failed.toDouble, run.attempted.toDouble)
    run.values("layers") = m
  }
}
