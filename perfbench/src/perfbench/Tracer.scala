package perfbench

import org.apache.spark.perfbench.Internals
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** One span: a named interval on the nanoTime clock and its parent. */
final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long)

/** The traced run's recorder. It registers its own listeners on the
  * session (jobs, stages, tasks, micro-batches, query executions) and
  * keeps every span and counter in memory until the run writes them out.
  * Untraced runs never create one.
  */
final class Tracer(spark: SparkSession) {
  val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 1
  // wall clock (listener timestamps) → nanoTime clock
  private val clockSkew = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def fromEpochMs(ms: Long): Long = ms * 1000000L + clockSkew

  def span(parent: Int, name: String, start: Long, end: Long): Int =
    synchronized {
      val id = nextId
      nextId += 1
      spans += Span(id, parent, name, start, end)
      id
    }

  /** A span whose end is not known yet; `close` sets it. */
  def open(parent: Int, name: String): Int =
    span(parent, name, System.nanoTime(), -1L)

  def close(id: Int, end: Long = System.nanoTime()): Unit = synchronized {
    val i = spans.lastIndexWhere(_.id == id)
    spans(i) = spans(i).copy(end = end)
  }

  // counters, summed over the run
  val c = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  private def add(k: String, v: Double): Unit = synchronized { c(k) += v }
  private def max(k: String, v: Double): Unit =
    synchronized { c(k) = math.max(c(k), v) }

  /** Spans recorded by listeners get this parent (the current leg/key). */
  @volatile var scope = 0

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs.count", 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("stages.count", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        add("tasks.count", 1)
        add("tasks.cpu_ms", m.executorCpuTime / 1e6)
        add("tasks.run_ms", m.executorRunTime)
        add("tasks.gc_ms", m.jvmGCTime)
        add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("spill.bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      }
      span(scope, "task", fromEpochMs(e.taskInfo.launchTime),
        fromEpochMs(e.taskInfo.finishTime))
    }
  }

  private val streams = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def ms(k: String): Double = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
      add("streaming.batches", 1)
      add("streaming.rows", p.numInputRows.toDouble)
      Seq("latestOffset" -> "latest_offset_ms", "getBatch" -> "get_batch_ms",
        "queryPlanning" -> "query_planning_ms", "addBatch" -> "add_batch_ms",
        "walCommit" -> "wal_commit_ms", "commitOffsets" -> "commit_offsets_ms")
        .foreach { case (k, n) => add(s"streaming.$n", ms(k)) }
      p.stateOperators.foreach { s =>
        max("streaming.state_rows", s.numRowsTotal.toDouble)
        add("streaming.state_commit_ms", s.commitTimeMs.toDouble)
        max("streaming.state_memory_bytes", s.memoryUsedBytes.toDouble)
      }
      val start = fromEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
      span(scope, "batch", start, start + (ms("triggerExecution") * 1e6).toLong)
    }
  }

  private val executions = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      phases(qe)
    private def phases(qe: QueryExecution): Unit = qe.tracker.phases.foreach {
      case (phase, summary) => add(s"planner.${phase}_ms", summary.durationMs)
    }
  }

  private val compile0 = (Internals.compileNanos, Internals.compiles)

  def start(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.streams.addListener(streams)
    spark.listenerManager.register(executions)
  }

  /** Wait for the listener bus, then detach and fold in codegen totals. */
  def stop(): Unit = {
    Internals.drainListeners(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.streams.removeListener(streams)
    spark.listenerManager.unregister(executions)
    c("codegen.compile_ms") = (Internals.compileNanos - compile0._1) / 1e6
    c("codegen.compiles") = (Internals.compiles - compile0._2).toDouble
  }

  def named(name: String): Seq[(Long, Long)] =
    spans.collect { case s if s.name == name => (s.start, s.end) }.toSeq
}
