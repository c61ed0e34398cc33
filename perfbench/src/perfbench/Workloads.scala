package perfbench

import org.apache.spark.sql.SparkSession

/** What one measured pass produced. `ops` are the workload's unit of
  * work (a log record for the stdin workloads, a registry key for
  * `board`); `e2e` holds the end-to-end metrics of BENCHMARK.json except
  * `setup_s`, `figures` the per-leg and per-group readings the README
  * maps them to.
  */
case class Measured(wallNanos: Long, attempted: Long, failed: Long,
    failures: Seq[String], e2e: Map[String, Double],
    figures: Map[String, Double], layers: Map[String, Double])

trait Workload {
  /** Inputs and warm-up, on a fresh session. Timed as set-up. */
  def setup(spark: SparkSession): Unit
  /** The measured pass. */
  def measure(spark: SparkSession, seconds: Double,
      tracer: Option[Tracer]): Measured
}

object Workloads {
  def apply(name: String, seed: Long, seconds: Double, dataDir: String,
      pins: String): Workload =
    name match {
      case "stdin-burst" => new Burst(seed)
      case "stdin-paced" => new Paced(seed, seconds)
      case "board" => new Board(seed, dataDir, pins)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  def ms(nanos: Long): Double = nanos / 1e6

  /** Layer readings common to the stdin legs. */
  def stdinLayers(legs: Seq[Stdin.Leg]): Map[String, Double] = {
    val lines = legs.map(_.items).sum.toDouble
    val files = legs.map(_.spoolFiles).sum.toDouble
    val calls = legs.map(_.ledger.calls.sum()).sum.toDouble
    val wakes = legs.map(_.stream.wakes).sum
    Map(
      "sources.spool_files" -> files,
      "sources.lines_per_file" -> (if (files > 0) lines / files else 0.0),
      "sources.cut_values" -> legs.map(_.check.cut).sum.toDouble,
      "sources.read_wait_ms" -> ms(legs.map(_.stream.readWaitNanos).sum),
      "sources.eof_lag_ms" -> ms(legs.map(l => l.endNanos - l.stream.eofNanos).sum) / legs.size,
      "sinks.calls" -> calls,
      "sinks.records_per_call" ->
        (if (calls > 0) legs.map(_.ledger.records.sum()).sum / calls else 0.0),
      "sinks.bytes_per_call" ->
        (if (calls > 0) legs.map(_.ledger.bytes.sum()).sum / calls else 0.0),
      "sinks.call_ms" ->
        (if (calls > 0) ms(legs.map(_.ledger.callNanos.sum()).sum) / calls else 0.0),
      "sinks.failed_records" -> 0.0,
      "gen.late_ms" ->
        (if (wakes > 0) ms(legs.map(_.stream.lateSumNanos).sum) / wakes else 0.0),
      // the spooler's reading time less the time it sat on an empty pipe
      "self.sources_ms" -> ms(legs.map(l => l.stream.eofNanos -
        l.stream.firstReadNanos - l.stream.readWaitNanos).sum))
  }

  def legFailures(l: Stdin.Leg, allMustArrive: Boolean): Seq[String] = {
    val c = l.check
    Seq(
      c.duplicated -> "delivered more than once",
      c.altered -> "delivered with a wrong payload",
      c.unparsable -> "delivered records carrying no known sequence number",
      c.wrongKey -> "delivered with a partition key other than HostId.cached",
      c.strayCuts -> "spool files ending elsewhere than just past a newline",
      (if (allMustArrive) c.late else 0) -> "never delivered")
      .collect { case (n, what) if n > 0 => s"${l.name}: $n $what" }
  }
}

/** `stdin-burst`: the whole corpus is in the pipe before the shipper
  * starts; legs alternate line mode and JSON mode until the run's time
  * is used. An op is one delivered record.
  */
final class Burst(seed: Long) extends Workload {
  import Workloads._
  val LineItems = 1000000
  val JsonItems = 250000
  val WarmItems = 20000
  /** Leg times still fall by a third over the first pairs after the
    * first stream start (JIT and heap growth), so set-up runs these many
    * pairs before the measured ones.
    */
  val WarmPairs = 3

  private var lines: Packed = _
  private var json: Packed = _
  private var lineHashes: Array[Long] = _
  private var jsonHashes: Array[Long] = _

  def setup(spark: SparkSession): Unit = {
    val c = new Corpus(seed)
    lines = c.lines(LineItems)
    json = c.jsonValues(JsonItems)
    lineHashes = c.expectedHashes(LineItems, json = false)
    jsonHashes = c.expectedHashes(JsonItems, json = true)
    warm(spark)
    (1 to WarmPairs).foreach(_ => pair(spark, None))
  }

  /** First stream start of the session, in both modes. */
  def warm(spark: SparkSession): Unit = {
    val warm = new Corpus(seed + 1)
    Stdin.leg(spark, "warm-line", warm.lines(WarmItems), json = false,
      warm.expectedHashes(WarmItems, json = false))
    Stdin.leg(spark, "warm-json", warm.jsonValues(WarmItems), json = true,
      warm.expectedHashes(WarmItems, json = true))
  }

  def lineLeg(spark: SparkSession, tracer: Option[Tracer] = None): Stdin.Leg =
    Stdin.leg(spark, "line", lines, json = false, lineHashes, tracer = tracer)

  private def pair(spark: SparkSession, tracer: Option[Tracer]): Seq[Stdin.Leg] =
    Seq(lineLeg(spark, tracer),
      Stdin.leg(spark, "json", json, json = true, jsonHashes, tracer = tracer))

  def measure(spark: SparkSession, seconds: Double,
      tracer: Option[Tracer]): Measured = {
    val pairs = scala.collection.mutable.ArrayBuffer[Seq[Stdin.Leg]]()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // whole line+json pairs, as many as fit in the run's time
    var last = 0.0
    while (pairs.isEmpty || elapsed + last <= seconds) {
      val p0 = System.nanoTime()
      pairs += pair(spark, tracer)
      last = (System.nanoTime() - p0) / 1e9
    }
    val wall = System.nanoTime() - t0
    val legs = pairs.flatten.toSeq
    // every figure is taken per line+json pair, then the median over pairs
    def latencies(p: Seq[Stdin.Leg]): Array[Double] = {
      val lat = Array.newBuilder[Double]
      p.foreach { l =>
        var i = 0
        while (i < l.items) {
          if (l.ledger.counts.get(i) > 0)
            lat += ms(l.ledger.ackNanos(i) - l.stream.releaseNanos(i))
          i += 1
        }
      }
      val sorted = lat.result()
      java.util.Arrays.sort(sorted)
      sorted
    }
    val lat = pairs.map(latencies)
    def records(p: Seq[Stdin.Leg]) = p.map(_.check.acked.toDouble).sum
    def rate(l: Stdin.Leg) = l.check.acked / (l.wallNanos / 1e9)
    val (lineLegs, jsonLegs) = legs.partition(_.name == "line")
    Measured(wall, legs.map(_.items.toLong).sum,
      legs.map(l => l.check.late + l.check.wrong).sum,
      legs.flatMap(legFailures(_, allMustArrive = true)),
      Map(
        "ops_per_s" -> Stats.median(pairs.map(p =>
          records(p) / (p.map(_.wallNanos).sum / 1e9))),
        "cpu_us_per_op" -> Stats.median(pairs.map(p =>
          p.map(_.cpuNanos).sum / 1e3 / records(p))),
        "p50_ms" -> Stats.median(lat.map(Stats.percentile(_, 50))),
        "p99_ms" -> Stats.median(lat.map(Stats.percentile(_, 99)))),
      Map(
        "burst_line_rec_per_s" -> Stats.median(lineLegs.map(rate)),
        "burst_line_cpu_us_per_rec" ->
          Stats.median(lineLegs.map(l => l.cpuNanos / 1e3 / l.check.acked)),
        "burst_json_rec_per_s" -> Stats.median(jsonLegs.map(rate)),
        // the spooler's known json-mode defect, per JSON leg
        "burst_json_cut_values" -> Stats.median(jsonLegs.map(_.check.cut.toDouble)),
        "burst_json_fragment_records" ->
          Stats.median(jsonLegs.map(_.check.fragments.toDouble)),
        "legs" -> legs.size.toDouble),
      stdinLayers(legs))
  }
}

/** `stdin-paced`: an open loop writing one line per write on a fixed
  * schedule, at a rate the shipper sustains (`trickle`) and one it does
  * not (`busy`). The trickle leg offers lines for half the run and allows
  * a bounded drain; a line unacknowledged by then is late, counts as
  * failed, and its latency is the deadline. Each busy leg writes a
  * 2,000-line burst at 20,000 lines/s and waits, up to a bound, until the
  * shipper has acknowledged it; lines still unacknowledged at the bound
  * count as failed, and the share acknowledged within a second of the
  * burst's end is `busy_ack_ratio`, which is how the overload shows. The end-to-end metrics come from the
  * trickle leg, an op being one of its lines: the busy figures swing by
  * a factor of two between runs (README), so they are reported, not
  * bounded.
  */
final class Paced(seed: Long, seconds: Double) extends Workload {
  import Workloads._
  val TrickleRate = 50.0
  val TrickleSeconds = seconds / 2
  val TrickleDrain = seconds / 10
  val BusyRate = 20000.0
  val BusyLines = 2000
  val BusyLegs = 3
  /** The drain a busy leg is allowed: about three times the 4–5 s a
    * 2,000-line burst takes to clear on 4 cores today, so a line fails
    * only when the shipper stalls, while `busy_ack_ratio` shows how far
    * it is from keeping up.
    */
  val BusyBound = 15.0
  val AckWithinNanos = 1000000000L
  val WarmItems = 2000
  /** Trickle latency falls by about 40% over the first 250 lines after
    * the first stream start, so set-up trickles this many first.
    */
  val WarmPacedItems = 250

  private var trickle: Packed = _
  private var busy: Packed = _
  private var trickleHashes: Array[Long] = _
  private var busyHashes: Array[Long] = _

  def setup(spark: SparkSession): Unit = {
    val c = new Corpus(seed)
    val nt = (TrickleRate * TrickleSeconds).toInt
    trickle = c.lines(nt)
    trickleHashes = c.expectedHashes(nt, json = false)
    busy = c.lines(BusyLines)
    busyHashes = c.expectedHashes(BusyLines, json = false)
    // first stream start, then the one-line-per-file path
    val warm = new Corpus(seed + 1)
    val hashes = warm.expectedHashes(WarmItems, json = false)
    Stdin.leg(spark, "warm", warm.lines(WarmItems), json = false, hashes)
    Stdin.leg(spark, "warm-paced", warm.lines(WarmPacedItems), json = false,
      hashes.take(WarmPacedItems), TrickleRate, drainSeconds = 2)
  }

  /** Acknowledgement times of a leg's lines acknowledged by its deadline. */
  private def acks(l: Stdin.Leg): Seq[Long] = (0 until l.items).collect {
    case i if l.ledger.counts.get(i) > 0 && l.ledger.ackNanos(i) <= l.deadline =>
      l.ledger.ackNanos(i)
  }

  def measure(spark: SparkSession, seconds: Double,
      tracer: Option[Tracer]): Measured = {
    val t0 = System.nanoTime()
    val t = Stdin.leg(spark, "trickle", trickle, json = false, trickleHashes,
      TrickleRate, TrickleDrain, tracer)
    val bs = (1 to BusyLegs).map(_ => Stdin.leg(spark, "busy", busy,
      json = false, busyHashes, BusyRate, BusyBound, tracer))
    val wall = System.nanoTime() - t0
    val lat = Array.tabulate(t.items) { i =>
      val ack = t.ledger.ackNanos(i)
      ms(if (t.ledger.counts.get(i) > 0 && ack <= t.deadline) ack
        else t.deadline) - ms(t.stream.dueNanos(i))
    }
    java.util.Arrays.sort(lat)
    val legs = t +: bs
    // lines acknowledged per second from the first line's due time to the
    // last acknowledgement (or the deadline)
    def ackRate(l: Stdin.Leg) = {
      val a = acks(l)
      a.size / ((a.foldLeft(l.stream.startNanos)(math.max) - l.stream.startNanos) / 1e9)
    }
    val clearRates = bs.map(ackRate)
    val offerNanos = (BusyLines / BusyRate * 1e9).toLong
    val ackRatios = bs.map { b =>
      val by = b.stream.startNanos + offerNanos + AckWithinNanos
      Stats.ackRatio(acks(b).count(_ <= by), b.items)
    }
    // a line unacknowledged at its leg's deadline is a failed op, though
    // not a wrong output
    Measured(wall, legs.map(_.items.toLong).sum,
      legs.map(l => l.check.late + l.check.wrong).sum,
      legs.flatMap(legFailures(_, allMustArrive = false)),
      Map(
        "ops_per_s" -> ackRate(t),
        "cpu_us_per_op" -> t.cpuNanos / 1e3 / t.items,
        "p50_ms" -> Stats.percentile(lat, 50),
        "p99_ms" -> Stats.percentile(lat, 99)),
      Map(
        "trickle_p50_ms" -> Stats.percentile(lat, 50),
        "trickle_p99_ms" -> Stats.percentile(lat, 99),
        "trickle_late" -> t.check.late.toDouble,
        "busy_ack_ratio" -> Stats.median(ackRatios),
        "busy_late" -> bs.map(_.check.late).sum.toDouble,
        "busy_spool_files" -> Stats.median(bs.map(_.spoolFiles.toDouble)),
        "trickle_spool_files" -> t.spoolFiles.toDouble) ++
        bs.zipWithIndex.map { case (b, k) =>
          s"busy_clear_s_$k" -> b.check.acked / clearRates(k) } ++ Map(
        "busy_ack_rate_per_s" -> Stats.median(clearRates),
        "busy_cpu_us_per_line" -> bs.map(_.cpuNanos).sum / 1e3 / bs.map(_.items).sum),
      stdinLayers(legs))
  }
}
