package perfbench

import org.apache.spark.sql.SparkSession

/** The one Spark session shape every workload uses: `local[cores]` with
  * as many shuffle partitions as cores, AQE on, UTC, no UI, bound to the
  * loopback interface.
  */
object Session {
  def start(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def describe(spark: SparkSession): Map[String, Any] = Map(
    "master" -> spark.sparkContext.master,
    "default_parallelism" -> spark.sparkContext.defaultParallelism,
    "shuffle_partitions" ->
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
}

/** What a run ran on: cpus, the 1-minute load average, and a fixed
  * single-thread loop whose time tracks how much CPU the host gives us.
  */
object Host {
  def cpus: Int = Runtime.getRuntime.availableProcessors()

  def load1: Double = try {
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
      .split("\\s+")(0).toDouble
  } catch { case _: Exception => -1.0 }

  @volatile private var sink = 0L

  /** Milliseconds for 50M rounds of xorshift on the calling thread. */
  def calibMs: Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var i = 0
    while (i < 50000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    sink = x
    (System.nanoTime() - t0) / 1e6
  }

  private val os = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Process CPU time in nanoseconds, all threads. */
  def cpuNanos: Long = os.getProcessCpuTime
}
