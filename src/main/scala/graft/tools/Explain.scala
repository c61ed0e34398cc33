package graft.tools

import graft.{Sessions, SparkEntry}

/** Plan inspector: `runMain graft.tools.Explain <sfDir> <query...>`
  * prints the formatted physical plan and timed count for each named
  * query — the .explain("formatted") iteration loop the build plan
  * calls for.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.tail.toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = Sessions.start(32)
    names.foreach { n =>
      println(s"========== $n ==========")
      val df = SparkEntry.queries(n)(spark, sfDir)
      df.explain("formatted")
      val t0 = System.nanoTime()
      val c = df.count()
      println(f"rows=$c time=${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
