package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // SPARK_GRAFT_MASTER lets the SAME gate run under a multi-JVM
    // master (r18 verdict item #1): `local-cluster[2,16,4096]` spawns
    // real executor processes, so every custom Catalyst expression /
    // aggregate / state-store interaction crosses an executor
    // serialization boundary exactly as on a production cluster —
    // local[32] never exercises that. Executor JVMs don't inherit
    // sbt's classpath, so the cluster path ships the packaged jar
    // (SPARK_GRAFT_JAR, from `sbt package`) via spark.jars and
    // mirrors the compiled-classes dir on the executor classpath.
    val master = sys.env.get("SPARK_GRAFT_MASTER").map("spark.master" -> _)
    val cluster = sys.env.get("SPARK_GRAFT_JAR").toSeq.flatMap { jar =>
      // forked executor JVMs need (a) our classes, (b) the Spark
      // jars, (c) the JDK17 --add-opens set build.sbt gives the
      // driver — none are inherited from the sbt JVM
      val addOpens = Seq(
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar")
        .map(p => s"--add-opens $p=ALL-UNNAMED").mkString(" ")
      // the directory this JVM loaded the Spark jars from
      val sparkJars = Paths.get(classOf[org.apache.spark.SparkContext]
        .getProtectionDomain.getCodeSource.getLocation.toURI)
        .getParent.resolve("*").toString
      Seq(
        "spark.jars" -> jar,
        "spark.executor.extraClassPath" ->
          (jar + java.io.File.pathSeparator + sparkJars),
        "spark.executor.extraJavaOptions" -> addOpens,
        // local-cluster grants executors spark.executor.memory (1g
        // default), NOT the worker size from the master string —
        // size it to the worker so the gate isn't memory-starved
        "spark.executor.memory" -> "4g")
    }
    val spark = Sessions.start(cpus.toInt, master.toSeq ++ cluster: _*)
    new java.io.File(outDir).mkdirs()
    // Optional local-iteration subset: SPARK_GRAFT_ONLY=q1,q2 runs just
    // those queries. The driver never sets it, so the gate is unaffected.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.filter { case (n, _) =>
      only.forall(_.contains(n)) }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // release query-internal persists (dedup/CC/pipeline cache their
      // shared frames); without this the gate run accumulates every
      // query's caches in one session — same isolation Bench applies
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // manifest of the SELECTED query names (oracle-less ones
    // included) so the compare harness can flag a query that crashed
    // and produced no output dir — otherwise a rows-only query
    // failure is invisible. Under SPARK_GRAFT_ONLY (local subset
    // iteration; the driver never sets it) the manifest shrinks to
    // the subset so the local compare doesn't flag the unrun rest.
    val manifest = selected.keys.toSeq.sorted
      .map(q).mkString("[", ",", "]")
    Files.writeString(Paths.get(s"$outDir/queries.json"), manifest)
    spark.stop()
  }
}
