package perfbench

/** The metric names the benchmark prints, in order, with their units.
  * BENCHMARK.json at the repository root lists the same names.
  */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "iteration_ms" -> "ms",
    "rows_per_s" -> "1/s",
    "storage_bytes_per_row" -> "bytes",
    "retained_heap_mb" -> "MB")

  /** Layer calls that report time and job counts only. */
  val computeSpans: Seq[String] = Seq(
    "pipeline.Pipeline.readSources",
    "operators.step.curate", "operators.step.dedup", "operators.step.span_dedup",
    "operators.step.decontaminate", "operators.step.lm_score", "operators.step.bpe_count",
    "operators.step.pack", "operators.step.shard",
    "pipeline.Pipeline.transform", "quality.Validator.validate",
    "streaming.VersionedTable.readStream")

  /** Layer calls on the commit and read protocols: also filesystem ops. */
  val storageSpans: Seq[String] = Seq(
    "pipeline.Writer.write",
    "pipeline.VersionedTable.read", "pipeline.VersionedTable.changesSince",
    "pipeline.VersionedTable.commitDelta", "pipeline.MaterializedAgg.refresh",
    "sources.DeltaWrite.append", "sources.DeltaWrite.delete", "sources.DeltaWrite.update",
    "sources.DeltaWrite.merge", "sources.DeltaWrite.checkpoint",
    "sources.DeltaRead.read", "sources.DeltaRead.readChanges",
    "sources.DeltaRead.readChangesWithRowIds")

  /** Storage spans that commit data: each must write through the filesystem. */
  val commitSpans: Set[String] = Set(
    "pipeline.Writer.write", "pipeline.VersionedTable.commitDelta", "pipeline.MaterializedAgg.refresh",
    "sources.DeltaWrite.append", "sources.DeltaWrite.delete", "sources.DeltaWrite.update",
    "sources.DeltaWrite.merge", "sources.DeltaWrite.checkpoint")

  /** `StreamingQueryProgress.durationMs` phases reported per iteration;
    * `offsets` is `latestOffset` (DSv2 sources) plus `getOffset` (v1).
    */
  val streamPhases: Seq[String] = Seq("addBatch", "offsets", "queryPlanning", "walCommit")

  /** (span, counter, unit) triples, then workload-level totals. */
  val spanCounters: Seq[(String, String, String)] =
    computeSpans.flatMap(s => Seq((s, "self_ms", "ms"), (s, "jobs", "count"),
      (s, "driver_gap_ms", "ms"))) ++
    storageSpans.flatMap(s => Seq((s, "self_ms", "ms"), (s, "jobs", "count"),
      (s, "driver_gap_ms", "ms"), (s, "fs_read_ops", "count"), (s, "fs_write_ops", "count"),
      (s, "fs_list_ops", "count"))) ++
    Seq(("sources.DeltaRead.readChanges", "tasks", "count"),
      ("pipeline.Writer.write", "tasks", "count"),
      ("pipeline.Writer.write", "shuffle_write_bytes", "bytes"),
      ("pipeline.Writer.write", "fs_bytes_written", "bytes"),
      ("sources.DeltaWrite.append", "fs_bytes_written", "bytes"),
      ("pipeline.VersionedTable.commitDelta", "fs_bytes_written", "bytes"))

  val totals: Seq[(String, String)] =
    streamPhases.map(p => s"streaming.StreamingQueryProgress.durationMs.$p" -> "ms") ++ Seq(
      "spark.gc_ms" -> "ms",
      "spark.executor_ms" -> "ms",
      "spark.persisted_rdds" -> "count",
      "trace.overhead_ms" -> "ms")

  def perLayer: Seq[(String, String)] =
    spanCounters.map { case (s, c, u) => s"$s.$c" -> u } ++ totals

  /** The result line: `correct`, `attempted`, `failed` and `metrics`. */
  def resultJson(correct: Boolean, attempted: Long, failed: Long,
                 metrics: Seq[(String, Double, String)]): String = {
    def num(v: Double): String =
      if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else java.lang.Double.toString(v)
    val ms = metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}
