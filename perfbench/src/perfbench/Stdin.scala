package perfbench

import graft.Main
import graft.sinks.HostId
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** One pass of input through `Main.runStdin`, as the shipper sees a
  * pipe: the bench's `PipeStream` on stdin, `Ledger.Client` as the
  * Kinesis transport.
  */
object Stdin {

  case class Leg(name: String, items: Int, wallNanos: Long, endNanos: Long,
      cpuNanos: Long, check: Ledger.Check, spoolFiles: Int, ledger: Ledger,
      stream: PipeStream, deadline: Long)

  /** Where the spooler ended its files in the input, and what that did to
    * the input's items. `cutItems` are items with a file end just past a
    * newline inside them: the spooler rolls at the last newline it has
    * read, which in json mode can fall inside a value that spans lines
    * (README, "Known defects" 2). A line has its only newline at its end,
    * so line legs never have any. `stray` counts file ends not just past
    * a newline, which the spooler must never produce.
    */
  case class Cuts(cutItems: Array[Int], stray: Int) {
    /** Records that the pieces of the cut items can become, at most: a
      * value splitter makes at most four of each line of a value's tail
      * (a key, the colon, the value and the comma) and one of its
      * unterminated head.
      */
    def fragmentBound(p: Packed): Int = cutItems.map { i =>
      val from = if (i == 0) 0 else p.ends(i - 1)
      4 * (from until p.ends(i)).count(p.bytes(_) == '\n') + 1
    }.sum
  }

  /** `Cuts` from the sizes of the spool files, in the order written. */
  def cuts(p: Packed, fileSizes: Seq[Long]): Cuts = {
    val offsets = fileSizes.scanLeft(0L)(_ + _).drop(1).dropRight(1)
    val cut = Array.newBuilder[Int]
    var stray = 0
    offsets.foreach { c =>
      if (c <= 0 || c >= p.bytes.length || p.bytes(c.toInt - 1) != '\n') stray += 1
      else {
        val i = java.util.Arrays.binarySearch(p.ends, c.toInt)
        if (i < 0) cut += -i - 1 // inside item -i-1, not at its end
      }
    }
    Cuts(cut.result().distinct, stray)
  }

  val Stream = "PerfStream"

  def config(json: Boolean): Main.Config = {
    // line mode wraps, enriches and keys (F1+P1+P2+K1): output json
    val fmt = if (json) Seq("--format", "json") else Seq("--output-format", "json")
    Main.parse(fmt ++ Seq("--add-entry", "LogFile=AccessLog", Stream))
      .fold(e => throw new IllegalStateException(e._1), identity)
      .copy(stdin = true)
  }

  private def tmp: Path = Paths.get(sys.props("java.io.tmpdir"))

  /** The shipper is up: its query has left initialization. */
  def shipperUp(spark: SparkSession): Boolean =
    spark.streams.active.exists(q => !q.status.message.startsWith("Initializing"))

  /** Feed `input` through the shipper. A paced leg (`perSecond > 0`)
    * offers its items on schedule and is stopped `drainSeconds` after the
    * last one is due; whatever is unacknowledged then is late. A burst
    * leg runs until `runStdin` has drained everything.
    */
  def leg(spark: SparkSession, name: String, input: Packed, json: Boolean,
      expected: Array[Long], perSecond: Double = 0, drainSeconds: Double = 0,
      tracer: Option[Tracer] = None): Leg = {
    val ledger = Ledger.open(input.items, HostId.cached)
    val stream = new PipeStream(input, perSecond, () => shipperUp(spark))
    val legSpan = tracer.map { t =>
      ledger.traceCalls = true
      stream.traceReads = true
      t.scope = t.open(0, s"leg:$name")
      t.scope
    }
    val ck = Files.createTempDirectory(tmp, s"perfbench-ck-$name")
    val before = spoolDirs
    val offerNanos = if (perSecond > 0) (input.items / perSecond * 1e9).toLong else 0L
    @volatile var deadline = Long.MaxValue
    val watchdog = if (perSecond <= 0) None else Some(new Thread(() => {
      try {
        while (stream.startNanos < 0) Thread.sleep(5)
        deadline = stream.startNanos + offerNanos + (drainSeconds * 1e9).toLong
        val wait = deadline - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
        spark.streams.active.foreach(_.stop())
      } catch { case _: InterruptedException => () }
    }, s"perfbench-deadline-$name"))
    watchdog.foreach { t => t.setDaemon(true); t.start() }
    val cpu0 = Host.cpuNanos
    val t0 = System.nanoTime()
    Main.runStdin(spark, config(json), stream, new Ledger.Client, ck.toString)
    val t1 = System.nanoTime()
    val cpu1 = Host.cpuNanos
    watchdog.foreach { t => t.interrupt(); t.join() }
    for (t <- tracer; id <- legSpan) {
      ledger.spans.forEach { case (s, e, _) => t.span(id, "sink", s, e) }
      stream.spans.foreach { case (s, e) => t.span(id, "read", s, e) }
      t.close(id, t1)
    }
    val spools = spoolDirs.diff(before)
    require(spools.size == 1, s"leg $name left ${spools.size} spool directories")
    val parts = spools.flatMap(d => children(d).filter(
      _.getFileName.toString.startsWith("part-")).sortBy(_.getFileName.toString))
    val cut = cuts(input, parts.map(Files.size))
    (spools :+ ck).foreach(delete)
    val effDeadline = if (perSecond > 0) deadline else Long.MaxValue
    val check = ledger.verify(expected, effDeadline, cut, cut.fragmentBound(input))
    Leg(name, input.items, t1 - t0, t1, cpu1 - cpu0, check, parts.size, ledger,
      stream, effDeadline)
  }

  private def spoolDirs: Seq[Path] =
    children(tmp).filter(_.getFileName.toString.startsWith("graft-stdin-spool"))

  private def children(dir: Path): Vector[Path] = {
    val s = Files.list(dir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.toVector
    } finally s.close()
  }

  def delete(p: Path): Unit = if (Files.exists(p)) {
    val w = Files.walk(p)
    try {
      import scala.jdk.CollectionConverters._
      w.iterator().asScala.toVector.reverse.foreach(Files.deleteIfExists)
    } finally w.close()
  }
}
