package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, count, lit, struct, xxhash64}
import scala.jdk.CollectionConverters._

/** A registry key pinned in `pins/board.tsv`: its group and the result
  * it must produce on the sf0.1 tables in `data/sf0.1`. `mode` is `hash` when
  * the result hash repeats across runs and core counts, else `rows`.
  */
case class Pin(group: String, key: String, mode: String, hash: Long, rows: Long) {
  def matches(h: Long, n: Long): Boolean =
    n == rows && (mode == "rows" || h == hash)
}

object Pins {
  def read(path: String): Seq[Pin] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\\s+") match {
        case Array(g, k, m, h, n) => Pin(g, k, m, h.toLong, n.toLong)
        case Array(g, k) => Pin(g, k, "none", 0, -1)
        case other => throw new IllegalArgumentException(
          s"bad pin line: ${other.mkString(" ")}")
      })

  def write(path: String, pins: Seq[Pin], header: Seq[String]): Unit =
    Files.write(Paths.get(path), (header.map("# " + _) ++ pins.map(p =>
      s"${p.group}\t${p.key}\t${p.mode}\t${p.hash}\t${p.rows}")).asJava)
}

/** Bench's result sink: hashing a struct of every column forces the
  * whole projection (a bare count() would let the optimizer prune it);
  * bit_xor, not sum, so full-range hashes cannot overflow under ANSI.
  */
object ResultSink {
  case class Run(buildNanos: Long, execNanos: Long, cpuNanos: Long,
      hash: Long, rows: Long)

  def run(spark: SparkSession, dataDir: String,
      q: (SparkSession, String) => DataFrame): Run = {
    val cpu0 = Host.cpuNanos
    val t0 = System.nanoTime()
    val df = q(spark, dataDir)
    val t1 = System.nanoTime()
    val r = df.agg(bit_xor(xxhash64(struct(col("*")))), count(lit(1)))
      .collect()(0)
    val t2 = System.nanoTime()
    val cpu = Host.cpuNanos - cpu0
    // drop what the key persisted, so the next key reads no cache of it
    spark.catalog.clearCache()
    Run(t1 - t0, t2 - t1, cpu, if (r.isNullAt(0)) 0L else r.getLong(0),
      r.getLong(1))
  }
}

/** `board`: registry keys run once each through the result sink, with
  * no source or sink of the shipper involved. Light keys are sampled by
  * the seed from the pinned pool; the kernel and replay keys always run.
  * An op is one key.
  */
final class Board(seed: Long, dataDir: String, pinsDir: String) extends Workload {
  import Workloads._
  val LightKeys = 30

  val pins: Seq[Pin] = Pins.read(s"$pinsDir/board.tsv")
  val selected: Seq[Pin] = {
    val light = new scala.util.Random(seed).shuffle(pins.filter(_.group == "light"))
    light.take(LightKeys) ++ pins.filter(p => p.group == "kernel" || p.group == "replay")
  }
  private lazy val registry = graft.SparkEntry.queries

  def setup(spark: SparkSession): Unit = {
    require(Files.isDirectory(Paths.get(dataDir)), s"no tables under $dataDir")
    graft.Tables.names.foreach(n => graft.Tables.load(spark, dataDir, n).count())
    // a key runs about three times slower on a fresh JVM than after some
    // twenty others, so set-up runs the warm keys and the light keys the
    // seed left out: the measured keys meet a warm JVM but have not run
    (pins.filter(_.group == "warm") ++ pins.filter(_.group == "light")
      .filterNot(selected.contains)).foreach(p =>
      ResultSink.run(spark, dataDir, registry(p.key)))
  }

  def measure(spark: SparkSession, seconds: Double,
      tracer: Option[Tracer]): Measured = {
    val t0 = System.nanoTime()
    val runs = selected.map { p =>
      tracer.foreach(t => t.scope = t.open(0, s"key:${p.key}"))
      val k0 = System.nanoTime()
      val r = ResultSink.run(spark, dataDir, registry(p.key))
      tracer.foreach { t =>
        t.span(t.scope, "build", k0, k0 + r.buildNanos)
        t.span(t.scope, "exec", k0 + r.buildNanos, k0 + r.buildNanos + r.execNanos)
        t.close(t.scope)
      }
      p -> r
    }
    val wall = System.nanoTime() - t0
    val walls = runs.map { case (_, r) => ms(r.buildNanos + r.execNanos) }
    def groupS(g: String) = runs.collect {
      case (p, r) if p.group == g => (r.buildNanos + r.execNanos) / 1e9
    }.sum
    val wrong = runs.collect { case (p, r) if !p.matches(r.hash, r.rows) =>
      s"${p.key}: result (hash ${r.hash}, ${r.rows} rows) does not match " +
        s"the pinned (${p.mode}: hash ${p.hash}, ${p.rows} rows)"
    }
    Measured(wall, runs.size, wrong.size, wrong,
      Map(
        "ops_per_s" -> runs.size / (walls.sum / 1e3),
        "cpu_us_per_op" -> runs.map(_._2.cpuNanos).sum / 1e3 / runs.size,
        "p50_ms" -> Stats.percentile(walls, 50),
        "p99_ms" -> Stats.percentile(walls, 99)),
      Map(
        "light_wall_s" -> groupS("light"),
        "kernel_wall_s" -> groupS("kernel"),
        "replay_wall_s" -> groupS("replay")) ++
        runs.map { case (p, r) => s"key.${p.key}_ms" -> ms(r.buildNanos + r.execNanos) },
      Map(
        "queries.build_ms" -> ms(runs.map(_._2.buildNanos).sum),
        "queries.exec_ms" -> ms(runs.map(_._2.execNanos).sum)))
  }
}

/** Computes `pins/board.tsv` from the pool it already lists: each key
  * runs in fresh sessions at each given core count; a key whose hash
  * differs between them is pinned by row count only, a key whose row
  * count differs is dropped.
  *
  *   java ... perfbench.PinBoard <dataDir> <pins/board.tsv> 4 2
  */
object PinBoard {
  def main(args: Array[String]): Unit = {
    val Array(dataDir, path) = args.take(2)
    val cores = args.drop(2).map(_.toInt).toSeq
    val pool = Pins.read(path)
    val registry = graft.SparkEntry.queries
    val results = cores.map { n =>
      val spark = Session.start(n)
      try pool.map { p =>
        val r = ResultSink.run(spark, dataDir, registry(p.key))
        System.err.println(f"pin $n cores ${p.key} ${(r.buildNanos + r.execNanos) / 1e9}%.3f s")
        p.key -> r
      }.toMap
      finally spark.stop()
    }
    val pinned = pool.flatMap { p =>
      val rs = results.map(_(p.key))
      if (rs.map(_.rows).distinct.size > 1) {
        System.err.println(s"dropping ${p.key}: row count differs across runs")
        None
      } else {
        val mode = if (rs.map(_.hash).distinct.size == 1) "hash" else "rows"
        if (mode == "rows") System.err.println(s"${p.key}: hash unstable, pinned by rows")
        Some(p.copy(mode = mode, hash = rs.head.hash, rows = rs.head.rows))
      }
    }
    Pins.write(path, pinned, Seq(
      "group key mode hash rows: the board's keys and their pinned results",
      s"on data/sf0.1 (perfbench.PinBoard, cores ${cores.mkString(",")})"))
  }
}
