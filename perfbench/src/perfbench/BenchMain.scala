package perfbench

import java.nio.file.{Files, Paths, StandardOpenOption}
import org.apache.spark.sql.SparkSession
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/** One benchmark run:
  *
  *   BenchMain --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --data <sf0.1 dir> --pins <dir> --out <dir>
  *             --launched-ns <epoch ns at JVM launch>
  *
  * Prints a `perfbench-report` line (host, per-leg figures, failures),
  * then, last, the result object: `correct`, `attempted`, `failed` and
  * the end-to-end metrics (trace 0) or the per-layer metrics (trace 1).
  * Exits 1 when an output check fails.
  */
object BenchMain {
  val EndToEnd = Seq("setup_s" -> "s", "ops_per_s" -> "1/s",
    "cpu_us_per_op" -> "us", "p50_ms" -> "ms", "p99_ms" -> "ms")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = opt.getOrElse(k, sys.error(s"--$k is required"))
    val workload = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val trace = need("trace") == "1"
    val out = Paths.get(need("out"))
    Files.createDirectories(out)

    val load0 = Host.load1
    val w = Workloads(workload, seed, seconds, need("data"), need("pins"))
    // set-up as a user meets it, once per run: from the JVM's launch
    // (`--launched-ns`, epoch time taken by the launcher) through class
    // loading, session start, inputs and warm-up
    val launched = need("launched-ns").toLong
    val inMain = epochNanos
    var spark: SparkSession = Session.start(Host.cpus)
    w.setup(spark)
    val setupS = (epochNanos - launched) / 1e9
    val session = Session.describe(spark)
    val calib0 = Host.calibMs

    // untraced runs leave their CPU per op here; a traced run's overhead
    // is measured against them
    val untraced = out.resolve(s"untraced-$workload.tsv")
    val (m, metrics) = if (!trace) {
      val m = w.measure(spark, seconds, None)
      Files.write(untraced, s"$seed\t${m.e2e("cpu_us_per_op")}\n".getBytes("UTF-8"),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      (m, m.e2e + ("setup_s" -> setupS))
    } else {
      val tracer = new Tracer(spark)
      tracer.start()
      val traced = w.measure(spark, seconds, Some(tracer))
      tracer.stop()
      val scaling = w match {
        case b: Burst =>
          spark.stop()
          spark = Session.start(1)
          b.warm(spark)
          val one = b.lineLeg(spark)
          val local1 = one.check.acked / (one.wallNanos / 1e9)
          Map("scaling.local1_rec_per_s" -> local1,
            "scaling.speedup" -> traced.figures("burst_line_rec_per_s") / local1)
        case _ => Map("scaling.local1_rec_per_s" -> 0.0, "scaling.speedup" -> 0.0)
      }
      val base = if (!Files.exists(untraced)) Nil
        else Files.readAllLines(untraced).asScala.toSeq.map(_.split("\t")(1).toDouble)
      val overhead = if (base.isEmpty) 0.0
        else (traced.e2e("cpu_us_per_op") / Stats.median(base) - 1) * 100
      val layers = Layers.metrics(tracer, traced) ++ scaling ++ Map(
        "trace.overhead_pct" -> overhead, "trace.untraced_runs" -> base.size.toDouble,
        "host.calib_ms" -> calib0, "host.load1" -> load0)
      writeTrace(out.resolve(s"trace-$workload-seed$seed.json"), tracer, layers)
      (traced, layers)
    }
    val calib1 = Host.calibMs
    val load1 = Host.load1
    spark.stop()

    val failures = m.failures
    val report = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace, "cpus" -> Host.cpus) ++ session ++ Map(
      "load1_before" -> load0, "load1_after" -> load1,
      "calib_ms_before" -> calib0, "calib_ms_after" -> calib1,
      "setup_s" -> setupS, "setup_launch_to_main_s" -> (inMain - launched) / 1e9,
      "measured_s" -> m.wallNanos / 1e9,
      "e2e" -> m.e2e, "figures" -> m.figures, "failures" -> failures)
    println("perfbench-report " + Json(report))
    val units = if (trace) Layers.Units else EndToEnd.toMap
    val result = ListMap(
      "correct" -> failures.isEmpty,
      "attempted" -> m.attempted,
      "failed" -> m.failed,
      "metrics" -> ListMap(units.keys.toSeq.sorted.map(k => k -> ListMap(
        "value" -> metrics.getOrElse(k, sys.error(s"metric $k not measured")),
        "unit" -> units(k))): _*))
    println(Json(result))
    System.out.flush()
    sys.exit(if (failures.isEmpty) 0 else 1)
  }

  private def epochNanos: Long = {
    val t = java.time.Instant.now()
    t.getEpochSecond * 1000000000L + t.getNano
  }

  private def writeTrace(path: java.nio.file.Path, t: Tracer,
      layers: Map[String, Double]): Unit =
    Files.write(path, Json(Map(
      "per_layer" -> layers,
      "counters" -> t.c.toMap,
      "spans" -> t.spans.map(s => Seq(s.id, s.parent, s.name, s.start, s.end))
    )).getBytes("UTF-8"))
}

/** Minimal JSON rendering for the run's output. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => Corpus.q(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite metric value $d")
      d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${Corpus.q(k.toString)}:${apply(x)}" }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => Corpus.q(other.toString)
  }
}
