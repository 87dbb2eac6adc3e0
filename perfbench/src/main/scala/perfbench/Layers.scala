package perfbench

/** The traced run's per-layer numbers. Layers are the program's modules
  * under `graft/` (catalog, sources, api, operators, plans, streaming)
  * plus `exec`, Spark's scheduler and tasks, which every plan runs on.
  * Times are self times per benchmark operation unless the name says
  * otherwise; every metric is reported on every workload, 0 where the
  * workload does not enter the layer. */
object Layers {
  /** The operator objects behind `SparkEntry.queries`. */
  val Objects = Seq("Relational", "TextAnalysis", "Evaluate", "Dedup", "Similarity",
    "Timeseries", "Sampling", "Curation", "Quantize", "Graph", "Spectral", "Multimodal",
    "Skew", "RangeJoin", "Interp", "Layout", "Preference")

  def report(tr: Tracer, res: Results, e2e: Map[String, Double], cpus: Int): Map[String, Double] = {
    val spans = tr.allSpans
    val ops = math.max(1, spans.count(_.layer == "op")).toDouble
    val self = tr.selfNsByLayer.withDefaultValue(0L)
    val work = tr.workByLayer
    def total(f: Work => Double) = work.values.map(f).sum
    def ms(layer: String) = self(layer) / 1e6 / ops
    val listed = total(_.filesListed.toDouble)
    val read = total(_.filesRead.toDouble)
    val eager = Seq("catalog", "sources", "api", "operators")
      .flatMap(work.get).map(_.jobs.toDouble).sum
    val streamingDefaults = Seq("streaming.batches", "streaming.batch_ms",
      "streaming.add_batch_ms", "streaming.commit_ms", "streaming.admit_frac").map(_ -> 0.0)
    Map(
      "catalog.resolve_ms" -> ms("catalog"),
      "sources.open_ms" -> ms("sources"),
      "sources.files_listed" -> listed / ops,
      "sources.files_read" -> read / ops,
      "sources.prune_ratio" -> (if (listed > 0) read / listed else 0.0),
      "sources.write_ms" -> ms("sources.write"),
      "sources.files_written" -> total(_.filesWritten.toDouble) / ops,
      "api.construct_ms" -> ms("api"),
      "operators.construct_s" -> ms("operators") / 1e3,
      "operators.eager_jobs" -> eager / ops,
      "plans.analyze_ms" -> total(_.analyzeNs.toDouble) / 1e6 / ops,
      "plans.optimize_ms" -> total(_.optimizeNs.toDouble) / 1e6 / ops,
      "plans.planning_ms" -> total(_.planNs.toDouble) / 1e6 / ops,
      "exec.action_ms" -> ms("exec"),
      "exec.jobs" -> total(_.jobs.toDouble) / ops,
      "exec.stages" -> total(_.stages.toDouble) / ops,
      "exec.tasks" -> total(_.tasks.toDouble) / ops,
      "exec.task_run_s" -> total(_.runNs.toDouble) / 1e9 / ops,
      "exec.task_cpu_s" -> total(_.cpuNs.toDouble) / 1e9 / ops,
      "exec.core_busy_frac" -> total(_.runNs.toDouble) / 1e9 / (cpus * res.timedWallS),
      "exec.gc_s" -> total(_.gcMs.toDouble) / 1e3 / ops,
      "exec.shuffle_read_mb" -> total(_.shuffleRead.toDouble) / 1e6 / ops,
      "exec.shuffle_write_mb" -> total(_.shuffleWrite.toDouble) / 1e6 / ops,
      "exec.spill_mb" -> total(_.spill.toDouble) / 1e6 / ops,
      "exec.task_skew" -> work.values.map(_.worstSkew).foldLeft(0.0)(_ max _),
      "streaming.gate_ms" -> ms("streaming"),
      "trace.ops" -> ops,
      "trace.op_p50_ms" -> e2e("op_p50_ms"),
      "trace.work_per_s" -> e2e("work_per_s"),
    ) ++ Objects.map(o => s"operators.$o.wall_s" -> 0.0) ++ streamingDefaults ++ res.extra
  }
}
