package graft.tools

import graft.{Sessions, SparkEntry}

/** Replays the driver's t1 smoke check locally: `SparkEntry.entry`
  * on sf0.001 must return rows.
  */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.start(8)
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"[entry-smoke] rows=$n schema=${df.schema.simpleString}")
    assert(n > 0, "driver smoke requires rows > 0")
    spark.stop()
  }
}
