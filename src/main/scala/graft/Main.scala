package graft

import graft.ops.Transforms
import graft.ops.Transforms.{Format, JsonFormat, JsonOutput, LineFormat, OutputFormat, StringOutput}
import graft.sinks.{HostId, InMemoryRecordsClient, KinesisSink}
import graft.streaming.StreamOps
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference CLI (C1), Spark-native: `graft.Main [options]
  * <stream-name>` wires source → transforms → Kinesis-style sink with
  * the reference's flag surface (main.go:62-171):
  *
  *   --format/-f line|json        input split mode (S1 lines / S2
  *                                concatenated JSON values)
  *   --output-format/-F auto|json|string  ("auto": line→string,
  *                                json→json — main.go:93-99)
  *   --output-key/-k KEY          wrap key for line→json (P1)
  *   --add-entry/-I K=V           repeatable enrichment constants (P2)
  *   --region/-r, --profile/-p    accepted for parity; used only when
  *                                an SDK transport is wired (the AWS
  *                                SDK is not on this classpath — see
  *                                graft.sinks.SdkRecordsClient)
  *   --input-dir DIR              the one deliberate divergence: Spark
  *                                tails a directory of log files where
  *                                the reference reads stdin (stdin is
  *                                not a distributed source)
  *   --once                       process what's there and exit
  *                                (scripting mode); default follows
  *                                the stream until terminated
  *
  * Validation parity with the reference: unknown format / output
  * format, malformed or duplicate --add-entry, missing stream name,
  * and trailing arguments all reject with exit code 2 (main.go:79-140).
  */
object Main {

  case class Config(
      stream: String = "",
      format: Format = LineFormat,
      outputFormat: Option[OutputFormat] = None,
      outputKey: String = "LogEntry",
      entries: Seq[(String, String)] = Nil,
      region: Option[String] = None,
      profile: Option[String] = None,
      inputDir: Option[String] = None,
      stdin: Boolean = false,
      checkpointDir: Option[String] = None,
      once: Boolean = false,
      exactlyOnce: Boolean = false,
      help: Boolean = false)

  val usage: String =
    """graft.Main [options] <stream-name>
      |
      |Stream log entries from a directory to a Kinesis-style sink.
      |  -f, --format line|json         input format (default line)
      |  -F, --output-format auto|json|string   (default auto)
      |  -k, --output-key KEY           JSON key for wrapped lines (default LogEntry)
      |  -I, --add-entry K=V            add entry to each JSON output (repeatable)
      |  -r, --region REGION            AWS region (SDK transport only)
      |  -p, --profile PROFILE          AWS credentials profile (SDK transport only)
      |      --input-dir DIR            directory to tail
      |      --stdin                    read stdin like the reference
      |                                 binary (spooled to a temp dir
      |                                 behind the scenes); drains and
      |                                 exits at stdin EOF — the pipe
      |                                 lifecycle of `|program` in
      |                                 httpd.conf. Mutually exclusive
      |                                 with --input-dir
      |      --checkpoint-dir DIR       streaming checkpoint location
      |                                 (default: stable per input-dir+stream,
      |                                 so restarts resume; --once uses a
      |                                 fresh temp dir)
      |      --once                     drain available input, then exit
      |      --exactly-once             idempotent replay: skip already-
      |                                 committed micro-batches (needs a
      |                                 transport with a batch-marker
      |                                 store; extension flag)
      |  -h, --help                     show this message
      |""".stripMargin

  /** Pure flag parser — `Left((message, exitCode))` on rejection, with
    * the reference's validation semantics.
    */
  def parse(args: Seq[String]): Either[(String, Int), Config] = {
    var cfg = Config()
    var positional = List.empty[String]
    var rawEntries = Vector.empty[String]
    var i = 0
    val n = args.length

    def value(flag: String): Either[(String, Int), String] = {
      if (i + 1 >= n) Left((s"Option $flag requires a value", 2))
      else { i += 1; Right(args(i)) }
    }

    while (i < n) {
      val a = args(i)
      val (flag, inline) = a.indexOf('=') match {
        case idx if idx > 0 && a.startsWith("--") =>
          (a.substring(0, idx), Some(a.substring(idx + 1)))
        case _ => (a, None)
      }
      def v(): Either[(String, Int), String] =
        inline.map(Right(_)).getOrElse(value(flag))
      flag match {
        // boolean flags take no value — `--once=false` silently meaning
        // TRUE would invert the user's intent, so reject it outright
        case "-h" | "--help" | "--once" | "--exactly-once" | "--stdin"
            if inline.isDefined =>
          return Left((s"Option $flag does not take a value", 2))
        case "-h" | "--help" => cfg = cfg.copy(help = true)
        case "-f" | "--format" => v() match {
          case Right("line") => cfg = cfg.copy(format = LineFormat)
          case Right("json") => cfg = cfg.copy(format = JsonFormat)
          case Right(other) => return Left((s"Unrecognized format: $other", 2))
          case Left(e) => return Left(e)
        }
        case "-F" | "--output-format" => v() match {
          case Right("auto") => cfg = cfg.copy(outputFormat = None)
          case Right("json") =>
            cfg = cfg.copy(outputFormat = Some(JsonOutput))
          case Right("string") =>
            cfg = cfg.copy(outputFormat = Some(StringOutput))
          case Right(other) =>
            return Left((s"Unrecognized output format: $other", 2))
          case Left(e) => return Left(e)
        }
        case "-k" | "--output-key" => v() match {
          case Right(k) => cfg = cfg.copy(outputKey = k)
          case Left(e) => return Left(e)
        }
        case "-I" | "--add-entry" => v() match {
          case Right(e) => rawEntries :+= e
          case Left(e) => return Left(e)
        }
        case "-r" | "--region" => v() match {
          case Right(r) => cfg = cfg.copy(region = Some(r))
          case Left(e) => return Left(e)
        }
        case "-p" | "--profile" => v() match {
          case Right(p) => cfg = cfg.copy(profile = Some(p))
          case Left(e) => return Left(e)
        }
        case "--input-dir" => v() match {
          case Right(d) => cfg = cfg.copy(inputDir = Some(d))
          case Left(e) => return Left(e)
        }
        case "--checkpoint-dir" => v() match {
          case Right(d) => cfg = cfg.copy(checkpointDir = Some(d))
          case Left(e) => return Left(e)
        }
        case "--stdin" => cfg = cfg.copy(stdin = true)
        case "--once" => cfg = cfg.copy(once = true)
        case "--exactly-once" => cfg = cfg.copy(exactlyOnce = true)
        case opt if opt.startsWith("-") && opt.length > 1 =>
          return Left((s"Unknown option: $opt", 2))
        case pos => positional :+= pos
      }
      i += 1
    }
    if (cfg.help) return Right(cfg)
    if (cfg.stdin && cfg.inputDir.isDefined)
      return Left(("--stdin and --input-dir are mutually exclusive", 2))
    Transforms.parseAddEntries(rawEntries) match {
      case Left(msg) => return Left((msg, 2))
      case Right(es) => cfg = cfg.copy(entries = es)
    }
    positional match {
      case Nil => Left(("Kinesis stream must be specified.", 2))
      case stream :: Nil => Right(cfg.copy(stream = stream))
      case _ :: extra :: _ => Left((s"Unknown argument: $extra", 2))
    }
  }

  /** The full transform chain for a parsed config over any `value:
    * string` frame (streaming or batch — every stage is stateless).
    * Output: `data` (the record payload) + `partition_key` (K1).
    */
  def pipeline(src: DataFrame, cfg: Config, hostId: String): DataFrame = {
    import src.sparkSession.implicits._
    val out = Transforms.resolveOutputFormat(cfg.format, cfg.outputFormat)
    val shaped = (cfg.format, out) match {
      case (LineFormat, StringOutput) => // P4 identity
        src.transform(Transforms.dropEmptyLines())
          .select($"value".as("data"))
      case (LineFormat, JsonOutput) => // F1 + P1 + P2
        src.transform(Transforms.dropEmptyLines())
          .transform(Transforms.wrapLine(cfg.outputKey, cfg.entries))
          .select($"record".as("data"))
      case (JsonFormat, JsonOutput) => // F2 + P2 + P3
        src.transform(Transforms.dropNullJson())
          .select(graft.functions.CanonicalizeJson
            .canonicalize_json($"value", cfg.entries).as("data"))
          .filter($"data".isNotNull) // malformed value → E1 skip
      case (JsonFormat, StringOutput) => // F2 + P3 without enrichment:
        // the reference STILL re-marshals the decoded value in string
        // mode — only the add-entries step is json-output-gated
        // (jsonstreamer.go:48-58) — so canonicalization applies here too
        src.transform(Transforms.dropNullJson())
          .select(graft.functions.CanonicalizeJson
            .canonicalize_json($"value").as("data"))
          .filter($"data".isNotNull)
    }
    shaped.transform(Transforms.withPartitionKey(hostId))
  }

  /** Wire source → pipeline → sink for a config. Testable seam: the
    * spec injects an InMemoryRecordsClient and a temp checkpoint.
    */
  def run(spark: SparkSession, cfg: Config,
      client: KinesisSink.RecordsClient, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val dir = cfg.inputDir.getOrElse(
      throw new IllegalArgumentException("--input-dir is required"))
    val src = cfg.format match {
      case LineFormat => StreamOps.lineStream(spark, dir)
      // wholetext wrapper, NOT the splittable concat-json DSv2 stream,
      // for BOTH once and follow modes: (a) splitting one file across
      // concurrent tasks would interleave its records under the single
      // host partition key, breaking the per-key FIFO delivery
      // guarantee (§1.4) — the DSv2 source CAN split pretty-printed
      // values now (multiline=true exact-boundary planning scan), but
      // ordered delivery forbids it here; (b) in follow mode the
      // built-in file source also keeps a COMPACTED seen-files log
      // where the DSv2 offsets grow forever. Library/batch pipelines
      // without the FIFO constraint use the DSv2 source directly and
      // get the splitting.
      case JsonFormat => StreamOps.concatJsonStream(spark, dir)
    }
    val out = pipeline(src, cfg, HostId.cached)
    if (cfg.exactlyOnce) client match {
      case m: KinesisSink.RecordsClient with KinesisSink.BatchMarkers =>
        KinesisSink.writeStreamExactlyOnce(out, cfg.stream, m, checkpointDir)
      case _ => throw new IllegalArgumentException(
        "--exactly-once requires a transport with a batch-marker store " +
          "(KinesisSink.BatchMarkers); raw Kinesis PutRecords has none")
    } else
      KinesisSink.writeStream(out, cfg.stream, client, checkpointDir)
  }

  /** The `--stdin` lifecycle (reference main.go:164): spool stdin to
    * a temp directory, tail it with the ordinary pipeline, and when
    * the pipe closes (EOF) drain what was spooled and stop. Returns
    * the number of delivered records. Testable seam: the spec feeds
    * an in-memory stream and client.
    */
  def runStdin(spark: SparkSession, cfg: Config, in: java.io.InputStream,
      client: KinesisSink.RecordsClient, checkpointDir: String): Long = {
    val spool = java.nio.file.Files
      .createTempDirectory("graft-stdin-spool")
    val spooler = graft.sources.StdinSpooler.start(in, spool)
    val q = run(spark, cfg.copy(inputDir = Some(spool.toString)),
      client, checkpointDir)
    spooler.join() // pipe closed — everything is spooled
    q.processAllAvailable() // drain the tail
    q.stop()
    q.recentProgress.map(_.numInputRows).sum
  }

  def main(args: Array[String]): Unit = {
    parse(args.toIndexedSeq) match {
      case Left((msg, code)) =>
        System.err.println(msg)
        System.err.println(usage)
        sys.exit(code)
      case Right(cfg) if cfg.help =>
        println(usage)
      case Right(cfg) =>
        if (cfg.inputDir.isEmpty && !cfg.stdin) {
          System.err.println("either --input-dir or --stdin is " +
            "required (--stdin is the reference's pipe mode).")
          System.err.println(usage)
          sys.exit(2)
        }
        val master = sys.env.get("SPARK_GRAFT_MASTER").map("spark.master" -> _)
        val spark = Sessions.start(4,
          Seq("spark.app.name" -> "graft-log-streamer") ++ master: _*)
        // the AWS SDK is not on this classpath: the shipped transport
        // records in-JVM (InMemoryRecordsClient); production swaps in
        // the SDK-backed client (graft.sinks.SdkRecordsClient scaladoc
        // documents the drop-in shape for --region/--profile)
        val client = new InMemoryRecordsClient("cli")
        // follow mode must RESUME across restarts — a fresh temp
        // checkpoint would re-ingest the whole directory and
        // double-deliver every record. Default to a location derived
        // from (input-dir, stream) so the same invocation finds its
        // own offsets; --once drains are one-shot and get a temp dir.
        val ck = cfg.checkpointDir.getOrElse {
          if (cfg.once || cfg.stdin)
            // one-shot lifecycles (drain-and-exit) get a fresh
            // checkpoint; a stdin pipe has no replayable past
            java.nio.file.Files.createTempDirectory("graft-cli-ck")
              .toString
          else {
            val id = java.security.MessageDigest.getInstance("MD5")
              .digest(s"${cfg.inputDir.get}#${cfg.stream}"
                .getBytes("UTF-8")).map("%02x".format(_)).mkString
            s"${sys.props("java.io.tmpdir")}/graft-ck-$id"
          }
        }
        if (cfg.stdin) {
          runStdin(spark, cfg, System.in, client, ck)
          val got = InMemoryRecordsClient.recordsFor("cli", cfg.stream)
          println(s"delivered ${got.size} records to '${cfg.stream}'")
          spark.stop()
        } else {
          val q = run(spark, cfg, client, ck)
          if (cfg.once) {
            q.processAllAvailable()
            q.stop()
            val got = InMemoryRecordsClient.recordsFor("cli", cfg.stream)
            println(s"delivered ${got.size} records to '${cfg.stream}'")
            spark.stop()
          } else {
            q.awaitTermination()
          }
        }
    }
  }
}
