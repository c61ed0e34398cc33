package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The staged-replay harness behind every driver-gated streaming
  * parity row (q185/q195/q196/q212/q217 and the round-18 additions):
  * stage deterministic micro-batches as mtime-ordered single parquet
  * files, run them through the PRODUCTION streaming path on the real
  * RocksDB state store, drain by source offset, and hand the sink
  * output back to the correctness gate. Factored out of Frontier5
  * (where the recipe was proven) so new parity rows don't re-derive
  * the three hard-won operational findings documented on each member.
  */
private[graft] object Replay {

  /** IVM state/staging-dir uniquifier (q180's pattern) — monotone per
    * JVM so repeated bench/gate invocations never replay onto a prior
    * run's output; lives under the shutdown-hook-cleaned ScratchDir.
    */
  private val ivmRun = new java.util.concurrent.atomic.AtomicLong(0L)
  def run(): Long = ivmRun.incrementAndGet()

  /** Stage `batches` as single parquet files whose mtimes ARE the
    * replay order for a maxFilesPerTrigger=1 file-source stream —
    * q185's staging discipline. Epoch-pinned mtimes 60 s apart clear
    * any coarse-mtime filesystem.
    */
  def stageBatches(root: String, batches: Seq[DataFrame]): String = {
    val staging = s"$root/staging"
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(staging))
    // The N single-file writes are INDEPENDENT Spark jobs whose wall
    // is dominated by per-job latency (~0.2 s each measured at sf0.1,
    // i.e. 1–2.5 s of a replay row's wall), so they are submitted from
    // a small driver thread pool and overlap (guide §2.6 — actions are
    // only sequential because the driver calls them sequentially).
    // Each batch keeps its own job → its own single write task → the
    // intra-file row order is byte-identical to the sequential form;
    // only the wall changes. Staged mtimes stay a pure function of the
    // batch index, assigned after each file lands.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(4, math.max(1, batches.size)))
    try {
      val futures = batches.zipWithIndex.map { case (b, i) =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = {
            val tmp = s"$root/tmp_$i"
            b.coalesce(1).write.mode("overwrite").parquet(tmp)
            val part = new java.io.File(tmp).listFiles()
              .find(f => f.getName.startsWith("part-") &&
                f.getName.endsWith(".parquet")).get
            val dst = new java.io.File(staging, f"batch_$i%02d.parquet")
            java.nio.file.Files.move(part.toPath, dst.toPath)
            dst.setLastModified(1700000000000L + i * 60000L)
          }
        })
      }
      futures.foreach(_.get()) // propagate the first failure, if any
    } finally pool.shutdown()
    staging
  }

  /** Drain a staged maxFilesPerTrigger=1 replay, then stop. A
    * transformWithState query under a processing-time mode (TTL)
    * NEVER self-terminates: Trigger.AvailableNow kept committing
    * empty maintenance batches after the source drained (measured:
    * 868 commits at a constant logOffset), and even
    * processAllAvailable() never latches no-new-data because each
    * maintenance batch advances the batch timestamp. The reliable
    * stop condition is the SOURCE's own committed offset: poll
    * lastProgress until EVERY file source's endOffset reaches the
    * last staged file's log entry (logOffset is 0-indexed per staged
    * file), then stop. The sink commit of that batch happens inside
    * the batch, so everything staged is in the output when the poll
    * fires; later maintenance batches add no rows.
    */
  def drainStagedReplay(
      q: org.apache.spark.sql.streaming.StreamingQuery,
      nFiles: Int): Unit = {
    val deadlineNs = System.nanoTime() + 600L * 1000000000L
    def drained: Boolean = Option(q.lastProgress).exists { p =>
      p.sources.nonEmpty && p.sources.forall { s =>
        val eo = s.endOffset
        eo != null && eo.contains("\"logOffset\":" + (nFiles - 1))
      }
    }
    // 25 ms poll: at 100 ms the drain latch alone added up to ~0.1 s
    // of dead wall per replay row; the check is a cheap in-process
    // lastProgress read, so polling 4× as often costs nothing
    while (!drained && q.isActive && System.nanoTime() < deadlineNs)
      Thread.sleep(25)
    // stop() interrupts the stream's microbatch thread; under a
    // loaded box (the full parallel `sbt test`, three board-walking
    // guard suites each replaying every staged stream) it can catch
    // an in-flight MAINTENANCE/no-data batch and surface as
    // STREAM_FAILED(InterruptedException) from awaitTermination —
    // observed killing CollectGuardSpec on a q212 replay whose
    // sources were fully committed. Once `drained` has latched, every
    // staged file's sink commit already happened (the commit is
    // inside the data batch), so that race is benign by construction
    // and ONLY then is it swallowed; any failure before the drain, or
    // any non-interrupt cause, still propagates. ADVICE r18 narrowed
    // the guard further: the swallow additionally requires that OUR
    // stop() call was already issued (the interrupt provably ours)
    // and that the failure surfaced as the StreamingQueryException
    // wrapper awaitTermination uses for the stop-race — a genuine
    // task failure that merely WRAPS an interrupt but fires before
    // stop(), or arrives as any other exception type, propagates.
    def interruptCaused(t: Throwable): Boolean = {
      var c: Throwable = t
      while (c != null) {
        if (c.isInstanceOf[InterruptedException]) return true
        c = c.getCause
      }
      false
    }
    var stopIssued = false
    try {
      q.stop()
      stopIssued = true
      q.awaitTermination()
    } catch {
      case t: org.apache.spark.sql.streaming.StreamingQueryException
          if drained && stopIssued && interruptCaused(t) =>
        System.err.println(
          s"[replay] benign stop-race after drain: ${t.getClass.getName}")
    }
  }

  /** RocksDB provider + pinned state partitions for a staged replay.
    *
    * PRECONDITION (because this pins noDataMicroBatches=false): the
    * caller's staged batches MUST end with far-future sentinel rows
    * whose event time exceeds every real key's horizon (watermark
    * delay included), so that every real emission/eviction happens
    * inside a DATA batch. A replay staged WITHOUT sentinels would
    * silently lose its final emissions under this conf — if a new
    * replay row cannot stage sentinels, it must not use this wrapper
    * (set noDataMicroBatches back to true inside its own body).
    * Every current caller (all 17 `*_ivm` rows) stages sentinel
    * batches; keep it that way or opt out explicitly.
    *
    * The partition pin is the q212 finding generalized: every stateful
    * operator opens its stores per partition per micro-batch, and at
    * the session's 32 partitions that store churn IS the wall for a
    * 3–5-batch replay (q212 measured 12.7 s → 7.1 s at 4; r19
    * re-measured partitions=1 and partitions=2 against 4 and BOTH
    * LOST — addBatch's per-row work serializes below 4, see
    * OPTIMIZATION_r19.md — so 4 stays; do NOT "re-apply" 1. A
    * stream-stream join opens 4 stores per partition per batch, so
    * partitions multiply directly into store open/commit cycles.)
    * A production stream sizes this to its rate
    * (conf-driven, never hard-coded in the operator); a staged parity
    * replay doesn't need parallel state. Fresh checkpoint per run, so
    * the count is free to differ from the session's; every conf
    * restores on exit. Hash-neutral: per-key state content is
    * independent of which partition hosts the key.
    *
    * Round-19 optimization (guide §1.2 "per-task work" / §5): three
    * more store-churn cuts, all result-neutral —
    *  - changelog checkpointing: each commit writes the per-batch
    *    changelog instead of zipping a full RocksDB snapshot; the
    *    snapshot moves to the background maintenance thread. State
    *    CONTENT is unchanged, only the checkpoint wire format.
    *  - trackTotalNumberOfRows off: skips the per-put existence get
    *    that only feeds the numTotalStateRows metric.
    *  - no-data micro-batches off: the staged replays end with two
    *    far-future sentinel batches precisely so the LAST DATA batch
    *    already runs with a watermark past every real key's horizon —
    *    every real emission/eviction happens inside data batches, and
    *    the trailing no-data batch could only emit sentinel-keyed rows
    *    (filtered on read-back in every consumer). Dropping it removes
    *    one full store open/commit cycle per store per query. All
    *    staged files are present before the stream starts, so no
    *    no-data batch can interleave between data batches either.
    */
  def withRocksDb[T](s: SparkSession)(body: => T): T = {
    val settings = Seq(
      "spark.sql.streaming.stateStore.providerClass" ->
        ("org.apache.spark.sql.execution.streaming" +
          ".state.RocksDBStateStoreProvider"),
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "false",
      ("spark.sql.streaming.stateStore.rocksdb" +
        ".changelogCheckpointing.enabled") -> "true",
      ("spark.sql.streaming.stateStore.rocksdb" +
        ".trackTotalNumberOfRows") -> "false",
      // r20 (guide §1.2 per-task work / §5): stream-stream joins open
      // FOUR RocksDB stores per partition per micro-batch under the
      // default state format v2 — with 4 partitions × 4 stores × N
      // batches the store open/commit cycle count IS the wall of the
      // interval-join replays. Format v3 (Spark 4.x, RocksDB only)
      // keeps the same four logical state spaces as virtual column
      // families inside ONE store, cutting the cycles 4×. State
      // CONTENT and join semantics are unchanged (layout only); the
      // conf is read at query start and these replays always begin
      // from a fresh checkpoint, so no cross-version state mixing is
      // possible. Non-join replays ignore the conf. The v2/v3 verdict
      // (same-JVM interleaved A/B) is recorded in OPTIMIZATION_r20.md.
      "spark.sql.streaming.join.stateFormatVersion" -> "3")
    val prev = settings.map { case (k, _) => k -> s.conf.getOption(k) }
    settings.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(p)) => s.conf.set(k, p)
      case (k, None) => s.conf.unset(k)
    }
  }
}
