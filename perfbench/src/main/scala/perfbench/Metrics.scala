package perfbench

/** The metric names and units the benchmark reports (BENCHMARK.json lists
  * the same). End-to-end metrics come from untraced runs; per-layer metrics
  * from the traced run. Every run reports every metric of its kind; a layer a
  * workload does not exercise reports 0. */
object Metrics {
  // No tail percentile: a run holds 8-15 operations, too few for any
  // percentile above the median to have ten samples beyond it.
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "items_per_s" -> "items/s",
    "op_p50_ms" -> "ms")

  private val kernels = Seq("pii_candidates", "redact_spans", "mask_token", "luhn", "verhoeff")

  val perLayer: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.input_records" -> "count", "spark.build_s" -> "s",
    "spark.build_share" -> "ratio", "spark.exchanges" -> "count", "spark.joins" -> "count",
    "jvm.heap_after_gc_mb" -> "MB",
    "data.gen_s" -> "s",
    "detect.busy_s" -> "s", "detect.cpu_s" -> "s", "detect.rows" -> "count",
    "detect.candidates" -> "count", "detect.validated_frac" -> "ratio",
    "detect.redact_busy_s" -> "s") ++
    kernels.map(k => s"detect.${k}_ns_per_row" -> "ns/row") ++ Seq(
    "ensemble.busy_s" -> "s", "ensemble.cpu_s" -> "s", "ensemble.rows" -> "count",
    "ensemble.build_ms" -> "ms",
    "store.busy_s" -> "s", "store.findings" -> "count", "store.bytes_written" -> "bytes",
    "eval.busy_s" -> "s", "eval.f1_micro" -> "ratio",
    "sample.build_ms" -> "ms", "sample.busy_s" -> "s", "sample.rows_read_per_sample" -> "ratio",
    "catalog.enumerate_s" -> "s", "catalog.columns" -> "count", "catalog.writeback_s" -> "s",
    "catalog.tables_altered" -> "count", "catalog.reapply_s" -> "s",
    "catalog.reapply_altered" -> "count", "catalog.build_s" -> "s", "catalog.build_share" -> "ratio",
    "cli.union_build_ms" -> "ms",
    "streaming.start_ms" -> "ms") ++
    Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets",
      "triggerExecution").map(p => s"streaming.${p}_ms" -> "ms") ++ Seq(
    "streaming.readback_ms" -> "ms", "streaming.batches_per_drop" -> "count",
    "streaming.rows_per_drop" -> "count",
    "ops.minhash_from_tokens_ns_per_row" -> "ns/row", "ops.bands_busy_s" -> "s",
    "ops.pairs_busy_s" -> "s", "ops.cc_busy_s" -> "s", "ops.antijoin_busy_s" -> "s",
    "ops.candidate_pairs" -> "count", "ops.verified_pairs" -> "count",
    "ops.verify_yield" -> "ratio", "ops.planted_recall" -> "ratio",
    "trace.op_untraced_s" -> "s", "trace.op_traced_s" -> "s", "trace.overhead_frac" -> "ratio",
    "trace.layer_sum_s" -> "s")

  /** The result's `metrics` object: every name of `names`, missing ones 0. */
  def report(names: Seq[(String, String)], values: Map[String, Double]): Map[String, Any] = {
    val unknown = values.keySet -- names.map(_._1)
    require(unknown.isEmpty, s"metrics not declared: ${unknown.mkString(", ")}")
    scala.collection.immutable.ListMap(names.map { case (n, u) =>
      n -> scala.collection.immutable.ListMap("value" -> values.getOrElse(n, 0.0), "unit" -> u)
    }: _*)
  }

  /** Spark runtime metrics per operation: medians over the traced
    * operation spans, plan shape from the operation's final frame. */
  def sparkRuntime(tr: Tracer, opSpans: Seq[Span], shape: (Int, Int)): Map[String, Double] = {
    val ts = opSpans.map(tr.sparkOf)
    def med(f: SparkTotals => Double) = Bench.median(ts.map(f))
    // Driver-only time: the part of the operation during which none of its
    // jobs ran (plan building, metastore calls, bookkeeping between jobs).
    val build = opSpans.zip(ts).map { case (s, t) => t.idleMs(s.startMs, s.endMs) / 1e3 }
    Map(
      "spark.jobs" -> med(_.jobs.toDouble), "spark.stages" -> med(_.stages.toDouble),
      "spark.tasks" -> med(_.tasks.toDouble), "spark.executor_run_s" -> med(_.runMs / 1e3),
      "spark.executor_cpu_s" -> med(_.cpuNs / 1e9), "spark.gc_s" -> med(_.gcMs / 1e3),
      "spark.shuffle_write_bytes" -> med(_.shuffleWrite.toDouble),
      "spark.shuffle_read_bytes" -> med(_.shuffleRead.toDouble),
      "spark.spill_bytes" -> med(_.spill.toDouble),
      "spark.input_records" -> med(_.inputRecords.toDouble),
      "spark.build_s" -> Bench.median(build),
      "spark.build_share" -> Bench.median(opSpans.zip(build).map { case (s, b) => b / s.seconds }),
      "spark.exchanges" -> shape._1.toDouble, "spark.joins" -> shape._2.toDouble)
  }
}
