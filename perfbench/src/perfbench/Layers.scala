package perfbench

/** The traced run's per-layer metrics. Layers are named after the repo's
  * modules: `sources` (StdinSpooler and the file source), `streaming`
  * (the micro-batch engine), `tasks` (Spark task metrics, which carry
  * ops.Transforms, JsonValueSplitter and CanonicalizeJson in the sink
  * jobs), `sinks` (KinesisSink.BufferedPutter calling RecordsClient),
  * `queries` (the SparkEntry registry keys), `planner` and `codegen`
  * (Catalyst and Janino under them). Every traced run reports every
  * metric; a layer a workload does not reach reads 0.
  */
object Layers {
  val Units: Map[String, String] = Map(
    "sources.spool_files" -> "count", "sources.lines_per_file" -> "lines",
    "sources.cut_values" -> "count",
    "sources.read_wait_ms" -> "ms", "sources.eof_lag_ms" -> "ms",
    "streaming.batches" -> "count", "streaming.rows_per_batch" -> "rows",
    "streaming.latest_offset_ms" -> "ms", "streaming.get_batch_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms", "streaming.commit_offsets_ms" -> "ms",
    "streaming.state_rows" -> "rows", "streaming.state_commit_ms" -> "ms",
    "streaming.state_memory_bytes" -> "bytes",
    "tasks.count" -> "count", "tasks.cpu_ms" -> "ms", "tasks.run_ms" -> "ms",
    "tasks.gc_ms" -> "ms",
    "sinks.calls" -> "count", "sinks.records_per_call" -> "records",
    "sinks.bytes_per_call" -> "bytes", "sinks.call_ms" -> "ms",
    "sinks.failed_records" -> "count",
    "planner.analysis_ms" -> "ms", "planner.optimization_ms" -> "ms",
    "planner.planning_ms" -> "ms", "codegen.compile_ms" -> "ms",
    "codegen.compiles" -> "count", "jobs.count" -> "count",
    "stages.count" -> "count",
    "queries.build_ms" -> "ms", "queries.exec_ms" -> "ms",
    "shuffle.read_bytes" -> "bytes", "shuffle.write_bytes" -> "bytes",
    "spill.bytes" -> "bytes",
    "self.sources_ms" -> "ms", "self.streaming_ms" -> "ms",
    "self.tasks_ms" -> "ms", "self.sinks_ms" -> "ms", "self.queries_ms" -> "ms",
    "trace.overhead_pct" -> "%", "trace.untraced_runs" -> "count",
    "trace.spans" -> "count",
    "scaling.local1_rec_per_s" -> "records/s", "scaling.speedup" -> "x",
    "gen.late_ms" -> "ms", "host.calib_ms" -> "ms", "host.load1" -> "load")

  /** Per-batch streaming phases are means per micro-batch; everything
    * else is a total over the traced pass.
    */
  def metrics(t: Tracer, traced: Measured): Map[String, Double] = {
    val c = t.c
    val batches = c("streaming.batches")
    def perBatch(k: String) = if (batches > 0) c(k) / batches else 0.0
    val tasks = t.named("task")
    val sinks = t.named("sink")
    val keys = t.spans.collect { case s if s.name.startsWith("key:") => (s.start, s.end) }.toSeq
    val sinkMs = sinks.map { case (s, e) => (e - s) / 1e6 }.sum
    val zero = Units.keys.map(_ -> 0.0).toMap
    zero ++ traced.layers ++ Seq(
      "streaming.batches", "tasks.count", "tasks.cpu_ms", "tasks.run_ms",
      "tasks.gc_ms", "planner.analysis_ms", "planner.optimization_ms",
      "planner.planning_ms", "codegen.compile_ms", "codegen.compiles",
      "jobs.count", "stages.count", "shuffle.read_bytes",
      "shuffle.write_bytes", "spill.bytes", "streaming.state_rows",
      "streaming.state_memory_bytes").map(k => k -> c(k)) ++ Seq(
      "latest_offset_ms", "get_batch_ms", "query_planning_ms", "add_batch_ms",
      "wal_commit_ms", "commit_offsets_ms", "state_commit_ms")
      .map(k => s"streaming.$k" -> perBatch(s"streaming.$k")) ++ Map(
      "streaming.rows_per_batch" -> perBatch("streaming.rows"),
      "self.streaming_ms" -> Stats.selfMs(t.named("batch"), tasks),
      "self.tasks_ms" ->
        (tasks.map { case (s, e) => (e - s) / 1e6 }.sum - sinkMs),
      "self.sinks_ms" -> sinkMs,
      "self.queries_ms" -> Stats.selfMs(keys, tasks),
      "trace.spans" -> t.spans.size.toDouble)
  }
}
