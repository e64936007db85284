package perfbench

/** Every per-layer metric a traced run reports, with its unit. A
  * workload reports the layers it exercises; a layer it does not
  * touch reads 0 (no work, no time). */
object PerLayer {
  val Formats: Seq[String] = Seq("pdf", "docx", "odt", "html", "txt", "pdfz", "doc", "pdfenc")

  val Units: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count",
    "spark.tasks" -> "count",
    "spark.wall_s" -> "s",
    "spark.job_busy_s" -> "s",
    "spark.driver_gap_s" -> "s",
    "spark.task_s" -> "s",
    "spark.cpu_s" -> "s",
    "spark.gc_s" -> "s",
    "spark.core_util" -> "ratio",
    "spark.shuffle_write_bytes" -> "B",
    "spark.spill_bytes" -> "B",
    "spark.input_bytes" -> "B",
    "jvm.heap_peak_mb" -> "MB",
    "extract.detect_us_per_doc" -> "us") ++
    Formats.map(f => s"extract.us_per_doc.$f" -> "us") ++ Seq(
    "extract.text_bytes_per_s" -> "B/s",
    "extract.errors" -> "count",
    "pipeline.list_s" -> "s",
    "pipeline.extract_s" -> "s",
    "functions.tag_s" -> "s",
    "pipeline.route_s" -> "s",
    "pipeline.sink_s" -> "s",
    "pipeline.sink_files" -> "count",
    "pipeline.sink_bytes" -> "B",
    "pipeline.lines_per_doc" -> "ratio",
    "streaming.batches" -> "count",
    "streaming.batch_p50_s" -> "s",
    "streaming.batch_tail_s" -> "s",
    "streaming.add_batch_s" -> "s",
    "streaming.engine_s" -> "s",
    "store.build_s" -> "s",
    "store.build_jobs" -> "count",
    "store.fold_s" -> "s",
    "store.fold_count" -> "count",
    "store.gc_s" -> "s",
    "store.resolve_s" -> "s",
    "store.staged_batches_at_read" -> "count",
    "store.live_bytes" -> "B",
    "store.space_amp" -> "ratio",
    "serve.probes" -> "count",
    "serve.p50_s" -> "s",
    "serve.tail_s" -> "s",
    "serve.input_bytes_per_probe" -> "B",
    "serve.jobs_per_probe" -> "count",
    "curate.filter_kept_frac" -> "ratio",
    "curate.exact_dup_frac" -> "ratio",
    "curate.near_dup_frac" -> "ratio",
    "curate.contam_frac" -> "ratio",
    "curate.minhash_candidates" -> "count",
    "curate.minhash_precision" -> "ratio",
    "curate.filter_s" -> "s",
    "curate.dedup_s" -> "s",
    "curate.bpe_train_s" -> "s",
    "curate.encode_s" -> "s",
    "curate.pack_s" -> "s",
    "curate.tokens" -> "count",
    "curate.pack_fill" -> "ratio") ++
    Seq("pipeline", "functions", "store", "streaming", "serve", "curate")
      .map(l => s"self_s.$l" -> "s")

  private val unitOf = Units.toMap

  /** `reported` in the declared order, with 0 for every metric the
    * workload did not report. Rejects names or units not declared. */
  def complete(reported: Seq[(String, Metric)]): Seq[(String, Metric)] = {
    reported.foreach { case (k, m) =>
      require(unitOf.get(k).contains(m.unit), s"undeclared per-layer metric $k [${m.unit}]")
    }
    val got = reported.toMap
    Units.map { case (k, u) => k -> got.getOrElse(k, Metric(0.0, u)) }
  }

  /** The `spark` layer over the wall window `[fromMs, toMs]`: job and
    * task counts, the driver gap (wall minus the union of job
    * intervals), summed task metrics and core utilisation. */
  def spark(log: JobLog, fromMs: Long, toMs: Long, cores: Int): Seq[(String, Metric)] = {
    val js = log.jobsIn(fromMs, toMs)
    val wallMs = toMs - fromMs
    val gapMs = Stats.gap(js.map(j => (j.startMs, j.endMs)), fromMs, toMs)
    val t = log.tasksOf(js)
    val wall = wallMs / 1e3
    Seq(
      "spark.jobs" -> Metric(js.length, "count"),
      "spark.tasks" -> Metric(t.tasks, "count"),
      "spark.wall_s" -> Metric(wall, "s"),
      "spark.job_busy_s" -> Metric((wallMs - gapMs) / 1e3, "s"),
      "spark.driver_gap_s" -> Metric(gapMs / 1e3, "s"),
      "spark.task_s" -> Metric(t.runS, "s"),
      "spark.cpu_s" -> Metric(t.cpuS, "s"),
      "spark.gc_s" -> Metric(t.gcS, "s"),
      "spark.core_util" -> Metric(if (wall > 0) t.runS / (wall * cores) else 0, "ratio"),
      "spark.shuffle_write_bytes" -> Metric(t.shuffleWrite.toDouble, "B"),
      "spark.spill_bytes" -> Metric(t.spill.toDouble, "B"),
      "spark.input_bytes" -> Metric(t.input.toDouble, "B"),
      "jvm.heap_peak_mb" -> Metric(Heap.peakMb, "MB"))
  }

  /** Self time per layer from the run's spans. */
  def selfTimes(tracer: Tracer, layers: Seq[String]): Seq[(String, Metric)] =
    layers.map(l => s"self_s.$l" -> Metric(tracer.layerSelfSeconds(l), "s"))
}
