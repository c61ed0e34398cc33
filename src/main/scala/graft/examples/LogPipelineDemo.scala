package graft.examples

import graft.ops.Transforms
import graft.sinks.{InMemoryRecordsClient, KinesisSink}
import graft.streaming.StreamOps
import java.nio.file.Files

/** End-to-end example of the reference's full data path, Spark-native:
  * file-tail line stream (S1) → empty-line filter (F1) → wrap+enrich
  * (P1+P2) → partition key (K1) → buffered Kinesis-style sink (B1+W1).
  * Mirrors `kinesis-log-streamer --format line --output-format json
  * --add-entry LogFile=ErrorLog <stream>` (reference main.go:62-171).
  */
object LogPipelineDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.start(4,
      "spark.app.name" -> "graft-log-pipeline-demo")
    import spark.implicits._

    val logDir = Files.createTempDirectory("graft-demo-logs")
    val ckDir = Files.createTempDirectory("graft-demo-ck").toString
    Files.write(logDir.resolve("error.log"),
      "[warn] worker 1 exiting\n\n[error] disk full\n".getBytes("UTF-8"))

    val hostId = graft.sinks.HostId.cached
    println(s"resolved host id: $hostId")

    val piped = StreamOps.lineStream(spark, logDir.toString)
      .transform(Transforms.dropEmptyLines())
      .transform(Transforms.wrapLine("LogEntry",
        Seq("LogFile" -> "ErrorLog")))
      .transform(Transforms.withPartitionKey(hostId))
      .select($"record".as("data"), $"partition_key")

    val client = new InMemoryRecordsClient("demo")
    val q = KinesisSink.writeStream(piped, "Test", client, ckDir)
    q.processAllAvailable()
    // a second file arrives while the stream runs
    Files.write(logDir.resolve("error2.log"),
      "[warn] worker 2 exiting\n".getBytes("UTF-8"))
    q.processAllAvailable()
    q.stop()

    val got = InMemoryRecordsClient.recordsFor("demo", "Test")
    println(s"sink received ${got.size} records " +
      s"in ${InMemoryRecordsClient.callsFor("demo", "Test")} PutRecords calls:")
    got.map(r => new String(r.data, "UTF-8")).sorted.foreach(r =>
      println(s"  $r"))
    spark.stop()
  }
}
