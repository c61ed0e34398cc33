package graft

import org.apache.spark.sql.SparkSession

/** The one place a Spark session is built. Every entry point and the
  * shared spec session start from the same shape — `local[cores]` with
  * as many shuffle partitions as cores, AQE on, UTC, no UI — and pass
  * what is their own (an app name, a master override, cluster jars,
  * SQL extensions) as `extra` confs, applied last so they win.
  */
object Sessions {
  def start(cores: Int, extra: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    extra.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
