package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // ----- idle gate (round-14 verdict item #1) ---------------------
    // The round-close bench shipped contended twice (r13: 41 inflated
    // rows; r14: 7 self-flagged prior_regressed rows) because it can be
    // launched while the correctness gate's DuckDB oracle passes are
    // still draining the box. Sequencing "after every oracle pass
    // exits" is made mechanical here: sample /proc/loadavg (1-min)
    // until it falls below a threshold or a bounded budget expires,
    // and put both the wait and the load at start into the artifact so
    // the box state is part of the record instead of an inference. The
    // budget is capped (default 900 s) so a busy-forever box degrades
    // to today's behavior — run anyway, self-flag via the prior-retry
    // heuristic AND the explicit `contended` field below — rather than
    // hanging the driver. Threshold history: 8.0 let BENCH_r15 ship at
    // load 2.89 with 6 inflated rows (r15 verdict item #3/#8); 1.5 is
    // tight enough that a draining oracle pass actually blocks the
    // launch, loose enough that background daemons don't.
    def load1: Double = try {
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
        .split("\\s+")(0).toDouble
    } catch { case _: Throwable => 0.0 }
    val idleThresh =
      sys.env.getOrElse("SPARK_GRAFT_IDLE_LOAD", "1.5").toDouble
    val idleBudgetS =
      sys.env.getOrElse("SPARK_GRAFT_IDLE_BUDGET_S", "900").toDouble
    val idleT0 = System.nanoTime()
    var loadNow = load1
    while (loadNow > idleThresh &&
        (System.nanoTime() - idleT0) / 1e9 < idleBudgetS) {
      System.err.println(
        f"[bench] load1=$loadNow%.1f > $idleThresh%.1f — waiting for idle box")
      Thread.sleep(15000)
      loadNow = load1
    }
    val idleWaitS = (System.nanoTime() - idleT0) / 1e9
    val loadAtStart = loadNow
    if (idleWaitS > 1.0)
      System.err.println(
        f"[bench] idle gate: waited $idleWaitS%.0f s, load1 now $loadAtStart%.1f")
    val spark = Sessions.start(cpus.toInt)
    // untimed warm-up: file indexes, parquet footers, codegen/JIT of
    // the common scan+agg+window paths — otherwise the alphabetically
    // first query absorbs ~3-5 s of session start-up
    try {
      import org.apache.spark.sql.functions._
      Tables.names.foreach(n => Tables.load(spark, sfDir, n).count())
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("l_returnflag").orderBy("l_orderkey")
      Tables.load(spark, sfDir, "lineitem")
        .withColumn("r", row_number().over(w))
        .groupBy("l_returnflag").agg(sum("r")).collect()
      // the dedup expression path (native shingle/minhash/simhash
      // codegen + a tiny banded self-join) compiles here too —
      // otherwise the alphabetically first dedup query absorbs its
      // Janino+JIT cost while later dedup queries run it warm
      val docs = Tables.load(spark, sfDir, "documents").limit(200)
        .select(col("doc_id"),
          graft.functions.ShingleFunctions.shingle_hashes(col("text"))
            .as("shh"))
        .filter(size(col("shh")) > 0)
        .withColumn("sig", graft.functions.ShingleFunctions
          .minhash_signature(col("shh"), 32))
        .withColumn("b", xxhash64(element_at(col("sig"), 1)))
      docs.as("a").join(docs.as("b"), "b").count()
      Tables.load(spark, sfDir, "documents").limit(200)
        .select(col("doc_id"), explode(split(lower(col("text")), "\\s+"))
          .as("tok"))
        .groupBy(col("doc_id"))
        .agg(graft.functions.SimHashAgg.simhash_agg(xxhash64(col("tok"))))
        .count()
      // the string-3-gram + struct-array pair-comprehension kernels
      // (tfidf/containment/decontaminate family) — measured: their
      // Janino+JIT cost is ~3 s, and without this it lands on
      // whichever of those queries runs first
      val tw = org.apache.spark.sql.expressions.Window
        .partitionBy("term").orderBy("doc_id")
      Tables.load(spark, sfDir, "documents").limit(200)
        .select(col("doc_id"), split(lower(col("text")), "\\s+").as("t"))
        .filter(size(col("t")) >= 3)
        .select(col("doc_id"),
          explode(transform(sequence(lit(1), size(col("t")) - 2),
            i => concat_ws(" ", element_at(col("t"), i),
              element_at(col("t"), i + 1), element_at(col("t"), i + 2))))
            .as("term"))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
        .withColumn("rn", row_number().over(tw))
        .filter(col("rn") <= 3)
        .groupBy(col("term"))
        .agg(sort_array(collect_list(struct(col("doc_id"), col("tf"))))
          .as("ps"))
        .select(explode(expr(
          """flatten(transform(ps, (x, i) ->
             transform(slice(ps, i + 2, size(ps)),
               y -> struct(x.doc_id AS a, y.doc_id AS b,
                 x.tf * y.tf AS p))))""")).as("e"))
        .groupBy(col("e.a"), col("e.b")).agg(sum(col("e.p"))).count()
      // the streaming micro-batch runtime (RocksDB JNI store open/
      // commit, incremental planner, file source + parquet sink,
      // drain machinery) — otherwise the alphabetically first staged-
      // replay row absorbs ~2-3 s of one-time JIT/library init that
      // every later replay row gets for free (measured r19: first
      // replay key in a cold JVM ran 9.7 s vs 6.2 s warm)
      locally {
        val root = ScratchDir.path("bench_warm_stream")
        val b1 = spark.range(200).select(col("id"),
          timestamp_millis(lit(1700000000000L) + col("id") * 1000L)
            .as("ts"))
        val b2 = spark.range(1).select(lit(999999L).as("id"),
          timestamp_millis(lit(1748736000000L)).as("ts"))
        val staging = graft.queries.Replay.stageBatches(root, Seq(b1, b2))
        graft.queries.Replay.withRocksDb(spark) {
          val q = spark.readStream.schema("id BIGINT, ts TIMESTAMP")
            .option("maxFilesPerTrigger", "1").parquet(staging)
            .withWatermark("ts", "1 minute")
            .groupBy(window(col("ts"), "1 minute")).count()
            .writeStream.format("parquet")
            .option("path", s"$root/out")
            .option("checkpointLocation", s"$root/ckpt")
            .outputMode("append").start()
          graft.queries.Replay.drainStagedReplay(q, 2)
        }
      }
    } catch { case _: Throwable => }
    // dev knob: SPARK_GRAFT_ONLY=ann_lsh,ann_bruteforce benches a
    // subset while iterating; the driver never sets it
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val failed = scala.collection.mutable.ArrayBuffer[String]()

    // ----- contention forensics (round-9 verdict item #1) -----------
    // Wall seconds on a shared box are not self-diagnosing: BENCH_r08
    // recorded 76 s for a query that re-runs at 5.6 s clean, and the
    // artifact alone could not say which number was the plan. Two
    // companions make it self-diagnosing:
    //  * per-query PROCESS CPU time and GC time deltas — in local
    //    mode every executor thread is in-process, so cpu_sec is the
    //    work the plan actually did. A contended run shows wall
    //    inflating while cpu_sec stays put (the work didn't grow, the
    //    box did); a real plan problem inflates both.
    //  * an outlier retry: any wall > 3× the trailing median of the
    //    fleet so far is re-run once and the better sample kept (with
    //    the name recorded under "retried") — a one-off scheduling
    //    spike self-corrects instead of standing as the artifact.
    //  * a PRIOR retry (round-13 verdict item #5): the median heuristic
    //    is relative to the current fleet, so a box that is uniformly
    //    contended inflates the median itself and 21 >2× regressions
    //    shipped unflagged in BENCH_r13. The fix reads the previous
    //    full-board artifact (bench_full.json on disk at startup) and
    //    retries any query whose wall exceeds its own prior by >2×
    //    (plus a 1 s absolute floor so sub-second noise can't trigger
    //    retry storms); a query still >2×-prior after the retry is
    //    recorded under "prior_regressed" so the artifact self-reports
    //    suspect rows instead of needing a judge diff.
    val osBean = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def gcMillis: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(b.getCollectionTime, 0L)).sum
    }
    // one timed sample: (wall s, cpu s, gc s, ok)
    def sample(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, Double, Double, Boolean) = {
      val c0 = osBean.getProcessCpuTime
      val g0 = gcMillis
      val t0 = System.nanoTime()
      // pruning-proof sink: hashing a struct of every column forces
      // the full projection to materialize (a bare count() lets the
      // optimizer delete the projection work of projection-only
      // queries, so their timings measured little more than a scan).
      // bit_xor, not sum — summing full-range hashes overflows long
      // under ANSI mode
      val ok =
        try {
          import org.apache.spark.sql.functions._
          fn(spark, sfDir)
            .agg(bit_xor(xxhash64(struct(col("*"))))).collect()
          true
        } catch { case t: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${t.getMessage}")
          false
        }
      val sec = (System.nanoTime() - t0) / 1e9
      val cpu = (osBean.getProcessCpuTime - c0) / 1e9
      val gc = (gcMillis - g0) / 1e3
      // drop caches a query persisted internally: CacheManager
      // matches by logical plan, so a leaked cache would silently
      // serve later queries that scan the same subplan and make
      // their numbers measure cache reads instead of the operator
      spark.catalog.clearCache()
      (sec, cpu, gc, ok)
    }
    val walls = scala.collection.mutable.ArrayBuffer[Double]()
    def trailingMedian: Option[Double] =
      // enough history that one slow-family neighborhood can't drag
      // the threshold around
      if (walls.size < 8) None
      else { val s = walls.sorted; Some(s(s.size / 2)) }
    val retried = scala.collection.mutable.ArrayBuffer[String]()
    val priorRegressed = scala.collection.mutable.ArrayBuffer[String]()
    // Round-16 verdict item #1: `contended` was derived from the
    // START-of-run load sample alone, so a box that got loaded
    // MID-run (r16: 57 retries, 23 prior-regressed rows at 3-10x
    // their pinned walls) still shipped `contended: false`. Track the
    // max 1-min loadavg observed across the run — re-sampled at every
    // retry (retries are exactly the moments the heuristics suspect
    // interference) and once at run end — and let the final flag also
    // weigh the run's own evidence (retry / regression counts).
    var loadMax = loadAtStart
    // a retry whose re-sample HALVED the wall: the first sample was
    // interference, not plan cost. Trailing-median retries of
    // naturally slow queries reproduce their walls (the r16 clean
    // baseline run retried 25 queries with zero regressions — retry
    // COUNT alone cannot separate an idle run from a loaded one), so
    // the flag counts recovered spikes instead.
    val spiky = scala.collection.mutable.ArrayBuffer[String]()
    val cpuSec = scala.collection.mutable.LinkedHashMap[String, Double]()
    val gcSec = scala.collection.mutable.LinkedHashMap[String, Double]()
    // Prior walls come from the ROUND-OPEN ANCHOR (r17 verdict item
    // #1), not from the self-promoting baseline: bench_baseline.json
    // re-promotes on every clean run, and comparing against it let a
    // slow per-key drift ratchet through unchecked (r16→r17 pinned
    // baselines drifted +10.5%/shared-key with 7 untouched keys
    // ending >2× their r16 walls, inside runs reporting "zero
    // regressions"). bench_anchor.json is a copy of the baseline
    // taken when the round opens — Bench creates it ONLY when absent
    // and no promotion ever writes it, so every run in a round is
    // judged against the same walls; refreshing the anchor is a
    // deliberate act (delete the file after an adjudicated re-pin,
    // recorded in PLANS.md). Fallback chain for a fresh checkout:
    // anchor → pinned baseline → rolling bench_full.json (the r14
    // lesson: a rolling prior silently re-baselines regressions).
    def readWalls(path: String): Map[String, Double] = try {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), "UTF-8")
      // priors only make sense at the SAME scale factor: a sf0.1 run
      // after a sf0.001 dev run would otherwise 2×-trigger on every
      // query and double the fleet time with pointless retries
      val sfMatch = s""""sf":"${java.util.regex.Pattern.quote(sfDir)}""""
        .r.findFirstIn(txt).isDefined
      if (!sfMatch) Map.empty
      else """"queries":\{([^}]*)\}""".r.findFirstMatchIn(txt)
        .map(m => """"([A-Za-z0-9_]+)":([0-9][0-9.Ee+-]*)""".r
          .findAllMatchIn(m.group(1))
          .map(g => g.group(1) -> g.group(2).toDouble).toMap)
        .getOrElse(Map.empty)
    } catch { case _: Throwable => Map.empty }
    // round-open anchor capture: absent anchor + existing baseline →
    // the baseline AS OF NOW becomes the round's fixed comparison
    // point (content-neutral: the file is a byte copy, and readWalls
    // sf-gates it like any prior source)
    val anchorPath = java.nio.file.Paths.get("bench_anchor.json")
    try {
      if (!java.nio.file.Files.exists(anchorPath) &&
          java.nio.file.Files.exists(
            java.nio.file.Paths.get("bench_baseline.json")))
        java.nio.file.Files.copy(
          java.nio.file.Paths.get("bench_baseline.json"), anchorPath)
    } catch { case t: Throwable =>
      System.err.println(s"[bench] anchor capture failed: $t")
    }
    val anchor: Map[String, Double] = readWalls("bench_anchor.json")
    // ADVICE r18: an anchor file captured at a DIFFERENT sf parses to
    // an empty wall map, which would silently fall the per-query
    // prior back to the self-promoting baseline and make the drift
    // gate vacuously pass — the exact ratchet the anchor exists to
    // kill — while the stale file blocks round-open re-capture. Call
    // it out and refuse promotion below (adjudication note required).
    val anchorStale =
      java.nio.file.Files.exists(anchorPath) && anchor.isEmpty
    if (anchorStale)
      System.err.println("[bench] bench_anchor.json present but " +
        s"sf-mismatched (sf=$sfDir) — drift gate INACTIVE, promotion " +
        "disabled; delete the stale anchor to re-capture for this sf")
    val prior: Map[String, Double] = {
      if (anchor.nonEmpty) anchor
      else {
        val pinned = readWalls("bench_baseline.json")
        if (pinned.nonEmpty) pinned else readWalls("bench_full.json")
      }
    }
    def overPrior(name: String, sec: Double): Boolean =
      prior.get(name).exists(p => sec > 2 * p && sec - p > 1.0)
    // r20 (VERDICT r19 item 5): optional min-of-N companion walls.
    // SPARK_GRAFT_EXTRA_SAMPLES=k (builder-only; the driver never
    // sets it, so its methodology — one sample + heuristic retry —
    // is unchanged) takes k additional timed samples per key and
    // records the per-key MINIMUM across every ok sample of the run in
    // bench_full.json's "min_sec" map, next to the raw walls. The
    // stdout JSON line, promotion, and the drift gate all keep using
    // the raw methodology walls; min_sec exists so a close artifact
    // on a duty-cycle-noisy host carries a noise-floor reading the
    // judge can compare across rounds.
    val extraN = sys.env.get("SPARK_GRAFT_EXTRA_SAMPLES")
      .flatMap(s => scala.util.Try(s.trim.toInt).toOption)
      .filter(_ > 0).getOrElse(0)
    val minSec = scala.collection.mutable.LinkedHashMap[String, Double]()
    val results = selected.map {
      case (name, fn) =>
        var (sec, cpu, gc, ok) = sample(name, fn)
        var minWall = sec
        val med = trailingMedian
        if (ok && (med.exists(m => sec > 3 * m) || overPrior(name, sec))) {
          // one retry; keep the better sample — a genuine plan cost
          // reproduces, a scheduling spike doesn't
          val (sec2, cpu2, gc2, ok2) = sample(name, fn)
          System.err.println(
            f"[bench] $name retried: $sec%.2f s -> $sec2%.2f s")
          retried += name
          loadMax = math.max(loadMax, load1)
          if (ok2 && 2 * sec2 < sec) spiky += name
          if (ok2 && sec2 < sec) { sec = sec2; cpu = cpu2; gc = gc2 }
          if (ok2) minWall = math.min(minWall, sec2)
        }
        if (ok && extraN > 0) (1 to extraN).foreach { _ =>
          val (secE, _, _, okE) = sample(name, fn)
          if (okE) minWall = math.min(minWall, secE)
        }
        if (ok) minSec(name) = minWall
        if (ok && overPrior(name, sec)) {
          priorRegressed += name
          System.err.println(f"[bench] $name STILL >2x prior " +
            f"(${prior(name)}%.2f s -> $sec%.2f s) after retry")
        }
        if (!ok) failed += name
        System.err.println(
          f"[bench] $name%-28s $sec%8.2f s  (cpu $cpu%7.2f s, gc $gc%5.2f s)")
        walls += sec
        cpuSec(name) = cpu
        gcSec(name) = gc
        name -> sec
    }.toMap
    def jmap(m: scala.collection.Map[String, Double]): String =
      m.toSeq.sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
        .mkString("{", ",", "}")
    val fj = failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val rj = retried.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val pj = priorRegressed.sorted.map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // Round-9 postmortem: the driver captures only the TAIL of stdout,
    // and the three full 240-entry maps pushed the wall-time map out
    // of the window — BENCH_r09.json came back parsed:null with no
    // per-query ground truth at all. So: the full three maps (wall /
    // cpu / gc for every query) go to bench_full.json on disk, and
    // stdout carries exactly ONE compact JSON line — total, counts,
    // and the top-20 slowest as {name:[wall,cpu,gc]} — small enough
    // that the whole line always fits the tail window.
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // the self-label the r15 verdict asked for, recalibrated per the
    // r16 verdict: a start-only load sample mislabeled two rounds of
    // mid-run contention as idle. The flag is run-evidence-first, and
    // BOTH naive signals proved miscalibrated when measured:
    //  - mid-run loadavg includes the bench's own 32-thread Spark
    //    work (a full-board run ends at load1 ≈ its own parallelism),
    //    so load_max is RECORDED but kept out of the flag;
    //  - raw retry count includes trailing-median retries of
    //    naturally slow queries (the r16 CLEAN pinned run retried 25
    //    with zero regressions), so the flag counts only SPIKES —
    //    retries whose re-sample halved the wall, i.e. the first
    //    sample was interference, not plan cost.
    // Contention therefore = started loaded, OR >5 recovered spikes,
    // OR any row still >2x the pinned baseline after retry.
    loadMax = math.max(loadMax, load1) // end-of-run sample
    // box evidence (load / recovered spikes) and regression evidence
    // (rows still >2× the round-open anchor) fold into one `contended`
    // flag for the artifact, but promotion treats them differently
    // below: an adjudication note can accept a KNOWN regression, it
    // can never excuse a loaded box.
    val boxContended = loadAtStart > idleThresh || spiky.size > 5
    val contended = boxContended || priorRegressed.nonEmpty
    // the r17 verdict's drift lens, in the artifact every run: the
    // shared-key aggregate wall ratio of THIS run vs the round-open
    // anchor (null when no anchor / no shared keys — fresh checkout)
    val vsAnchor = graft.tools.BenchGate.sharedKeyRatio(results, anchor)
    val anchorShared = results.keySet.intersect(anchor.keySet).size
    val promoteNote = sys.env.get("SPARK_GRAFT_PROMOTE_NOTE")
      .map(_.trim).filter(_.nonEmpty)
    val vsAnchorJson = vsAnchor.map(r => f"$r%.4f").getOrElse("null")
    val noteJson = promoteNote
      .map(n => "\"" + n.replace("\\", "\\\\").replace("\"", "\\\"")
        + "\"").getOrElse("null")
    val boxState = f""""idle_wait_s":$idleWaitS%.0f,"load_at_start":$loadAtStart%.2f,"load_max":$loadMax%.2f,"n_spiky":${spiky.size},"contended":$contended,"vs_anchor_ratio":$vsAnchorJson,"anchor_n_shared":$anchorShared,"promote_note":$noteJson"""
    val full = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"cpu_sec":${jmap(cpuSec)},"gc_sec":${jmap(gcSec)},"min_sec":${jmap(minSec)},"n_extra_samples":$extraN,"retried":$rj,"prior_regressed":$pj,"failed":$fj,$boxState,"sf":"$sfDir"}"""
    // A SPARK_GRAFT_ONLY subset run must never clobber the committed
    // full-board artifact (ADVICE r12: a 1-query smoke run replaced
    // the 296-query map that downstream verdict tooling reads) —
    // subset runs write bench_subset.json instead.
    val fullPath =
      if (only.isEmpty) "bench_full.json" else "bench_subset.json"
    try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(fullPath),
        full.getBytes("UTF-8"))
      // r20 (VERDICT r19 item 5): bench_full.json is overwritten by
      // EVERY full-board run, so a contended late run can clobber the
      // round's clean close map (it did in r19 — the tree shipped the
      // driver's contended c8 run). A CLEAN full-board run (idle box,
      // zero failures) additionally writes bench_clean.json; contended
      // runs never touch it, so the committed tree always carries the
      // latest clean per-key map.
      if (only.isEmpty && !contended && failed.isEmpty)
        java.nio.file.Files.write(
          java.nio.file.Paths.get("bench_clean.json"),
          full.getBytes("UTF-8"))
      // promotion: a full-board run captured on an IDLE box with
      // nothing failed becomes the new pinned baseline — IF it also
      // clears the anchor drift gate (r17 verdict item #1): its
      // shared-key aggregate ratio vs the round-open anchor must stay
      // ≤ 1.05, and any row still >2× its anchor wall blocks, unless
      // an explicit adjudication note (SPARK_GRAFT_PROMOTE_NOTE)
      // names the accepted cause — the note lands in the artifact, so
      // an adjudicated re-pin is a record, never silence. Box
      // evidence (started loaded / >5 recovered spikes) can NEVER be
      // excused: a contended run can pass every per-query heuristic
      // and still carry uniform inflation. Promotions never touch
      // bench_anchor.json, so later runs in the round keep being
      // judged against the same walls.
      val regressionOk = priorRegressed.isEmpty || promoteNote.isDefined
      val driftOk = graft.tools.BenchGate.promotionAllowed(
        results, anchor, 1.05, promoteNote)
      val anchorOk = !anchorStale || promoteNote.isDefined
      if (only.isEmpty && !boxContended && failed.isEmpty &&
          regressionOk && driftOk && anchorOk) {
        // per-key pin rule (r18 verdict What's-wrong #1): one noisy
        // sample must not RAISE a pinned wall >1.5× — held keys keep
        // their prior pin; the raw run stays in bench_full.json.
        val priorPins = readWalls("bench_baseline.json")
        val (pins, held) = graft.tools.BenchGate.pinWalls(
          results, priorPins, 1.5, 0.5, promoteNote)
        val pinQs = pins.toSeq.sortBy(_._1)
          .map { case (k, v) => "\"" + k + "\":" + v }
          .mkString("{", ",", "}")
        val pinTotal = pins.values.sum
        val heldJson = held.map("\"" + _ + "\"").mkString("[", ",", "]")
        val promoted = s"""{"metric":"total","value":$pinTotal,"unit":"sec","queries":$pinQs,"cpu_sec":${jmap(cpuSec)},"gc_sec":${jmap(gcSec)},"retried":$rj,"prior_regressed":$pj,"failed":$fj,$boxState,"pin_held":$heldJson,"sf":"$sfDir"}"""
        java.nio.file.Files.write(
          java.nio.file.Paths.get("bench_baseline.json"),
          promoted.getBytes("UTF-8"))
        System.err.println("[bench] clean run -> bench_baseline.json promoted" +
          vsAnchor.map(r => f" (vs_anchor_ratio $r%.4f)").getOrElse("") +
          (if (held.nonEmpty)
            s" [pin held at prior for: ${held.mkString(", ")}]" else "") +
          promoteNote.map(n => s" [adjudicated: $n]").getOrElse(""))
      } else if (only.isEmpty && !boxContended && failed.isEmpty) {
        System.err.println("[bench] promotion REFUSED: " +
          vsAnchor.map(r => f"vs_anchor_ratio $r%.4f").getOrElse("") +
          s" prior_regressed=${priorRegressed.size}" +
          (if (anchorStale) " anchor_stale=true" else "") +
          " — set SPARK_GRAFT_PROMOTE_NOTE=<cause> to adjudicate")
      }
    } catch { case t: Throwable =>
      System.err.println(s"[bench] $fullPath write failed: $t")
    }
    val top = results.toSeq.sortBy(-_._2).take(20)
    val topW = top.map { case (k, v) => f""""$k":$v%.3f""" }
      .mkString("{", ",", "}")
    val topC = top.map { case (k, _) =>
        f""""$k":${cpuSec.getOrElse(k, 0.0)}%.3f""" }
      .mkString("{", ",", "}")
    val topG = top.map { case (k, _) =>
        f""""$k":${gcSec.getOrElse(k, 0.0)}%.3f""" }
      .mkString("{", ",", "}")
    // r10 postmortem: the stdout line must FIT the driver's tail
    // window — the 34-name retried list pushed the line start out and
    // BENCH_r10 came back parsed:null. Counts + a capped sample here;
    // the complete retried/failed lists live in bench_full.json.
    val rjCap = retried.sorted.take(5).map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    val fjCap = failed.sorted.take(5).map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    val pjCap = priorRegressed.sorted.take(5).map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    val line = f"""{"metric":"total","value":$total%.3f,"unit":"sec","n_queries":${results.size},"queries":$topW,"cpu_sec":$topC,"gc_sec":$topG,"note":"queries=top20 slowest; full maps in bench_full.json","n_retried":${retried.size},"retried_sample":$rjCap,"n_prior_regressed":${priorRegressed.size},"prior_regressed_sample":$pjCap,"n_failed":${failed.size},"failed_sample":$fjCap,$boxState,"sf":"$sfDir"}"""
    // r11 postmortem: the line reached the driver tail complete but
    // parsed:null because sbt's logger prefixed it "[info] ". Fixed
    // in build.sbt (StdoutOutput + showSuccess:=false makes this the
    // TRUE last stdout line, bare); a stderr copy is belt-and-braces
    // in case the driver reads the merged stream.
    println(line)
    Console.out.flush()
    System.err.println(line)
    spark.stop()
  }
}
