package perfbench

/** The per-layer metrics of the traced run, with their units. Every traced
  * run reports all of them; a layer that a workload never calls reports 0.
  * METRICS.md says which end-to-end metric each should move.
  */
object Layers {
  val Metrics: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.executor_ms" -> "ms", "spark.executor_cpu_ms" -> "ms",
    "spark.idle_ms" -> "ms", "spark.plan_ms" -> "ms", "spark.codegen_ms" -> "ms",
    "jvm.gc_ms" -> "ms",
    "pipeline.pass_ms" -> "ms", "pipeline.self_ms" -> "ms",
    "pipeline.fused_ms" -> "ms", "pipeline.fused_jobs" -> "count",
    "pipeline.fused_exchanges" -> "count",
    "extractor.call_ms" -> "ms", "extractor.self_ms" -> "ms",
    "extractor.bytes_read" -> "B", "extractor.scan_task_ms" -> "ms",
    "extractor.read_amp" -> "ratio",
    "transform.call_ms" -> "ms", "transform.self_ms" -> "ms",
    "transform.exchanges" -> "count", "transform.shuffle_bytes" -> "B",
    "transform.spill_bytes" -> "B", "transform.task_ms" -> "ms",
    "transform.cache_bytes" -> "B",
    "loader.csv_ms" -> "ms", "loader.csv_self_ms" -> "ms",
    "loader.csv_jobs" -> "count", "loader.csv_write_task_ms" -> "ms",
    "loader.csv_bytes" -> "B", "loader.csv_finalize_ms" -> "ms",
    "table.upsert_ms" -> "ms", "table.delete_ms" -> "ms",
    "table.compact_ms" -> "ms", "table.vacuum_ms" -> "ms",
    "table.self_ms" -> "ms",
    "table.commit_jobs" -> "count", "table.commit_idle_ms" -> "ms",
    "table.maint_jobs" -> "count", "table.maint_ms" -> "ms",
    "table.meta_files" -> "count", "table.data_files" -> "count",
    "table.write_amp" -> "B/row", "table.read_snapshot_ms" -> "ms",
    "zoneskip.collect_ms" -> "ms", "zoneskip.self_ms" -> "ms",
    "zoneskip.files_scanned" -> "count", "zoneskip.bytes_read" -> "B",
    "zoneskip.skip_ratio" -> "ratio",
    "trace.overhead_ms" -> "ms", "trace.spans" -> "count")

  private val units = Metrics.toMap

  /** All metrics in declaration order; those absent from `values` are 0. */
  def report(values: Map[String, Double]): Seq[(String, (Double, String))] = {
    val unknown = values.keySet -- units.keySet
    require(unknown.isEmpty, s"undeclared per-layer metrics: $unknown")
    Metrics.map { case (k, u) => k -> (values.getOrElse(k, 0.0), u) }
  }

  /** The per-operation `spark.*` and `jvm.*` figures, means over `ops`. */
  def sparkPerOp(tr: Tracer, col: Collector, ops: Seq[Span]): Map[String, Double] = {
    def per(f: Span => Double): Double = Stats.mean(ops.map(f))
    Map(
      "spark.jobs" -> per(s => col.jobsIn(s).length),
      "spark.stages" -> per(s => col.stagesIn(s).length),
      "spark.tasks" -> per(s => col.stagesIn(s).map(_.tasks).sum),
      "spark.executor_ms" -> per(s => col.stagesIn(s).map(_.runMs).sum),
      "spark.executor_cpu_ms" -> per(s => col.stagesIn(s).map(_.cpuMs).sum),
      "spark.idle_ms" -> per(col.idleMs),
      "spark.plan_ms" -> per(s => col.queriesIn(s).map(_.planMs).sum.toDouble),
      "spark.codegen_ms" -> per(_.codegenMs),
      "jvm.gc_ms" -> per(_.gcMs.toDouble),
      "trace.spans" -> tr.spans.length)
  }

  /** Deterministic counters of two traced rounds must repeat exactly. */
  def sameCounters(ctx: Ctx, a: Seq[(String, Any)], b: Seq[(String, Any)]): Unit =
    ctx.checkOp("deterministic counters") {
      val diff = a.zip(b).filter { case (x, y) => x != y }
      if (a.length == b.length && diff.isEmpty) None
      else Some(s"traced rounds differ: ${diff.take(4).mkString("; ")}")
    }
}
