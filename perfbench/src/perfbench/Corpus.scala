package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

/** Items laid end to end as the pipe carries them: `ends(i)` is the
  * offset just past item i, so item i is `bytes[ends(i-1), ends(i))`.
  */
final case class Packed(bytes: Array[Byte], ends: Array[Int]) {
  def items: Int = ends.length
}

/** Seeded Apache access-log corpus. Record `seq` is a pure function of
  * (seed, seq), so the checker can rebuild what each delivered record
  * must be. Every record carries its sequence number in the request path
  * (`/s/<seq>/`), which is how a delivered payload is traced back to the
  * line that produced it.
  */
final class Corpus(val seed: Long) {
  import Corpus._

  private def rng(seq: Int): SplittableRandom =
    new SplittableRandom(seed * 0x9e3779b97f4a7c15L + seq * 0xbf58476d1ce4e5b9L)

  private case class Fields(ip: String, user: String, time: String,
      method: String, path: String, status: Int, bytes: Int,
      referer: String, agent: String, city: Int, tags: Seq[String])

  private def fields(seq: Int): Fields = {
    val r = rng(seq)
    val ip = s"${10 + r.nextInt(200)}.${r.nextInt(256)}.${r.nextInt(256)}." +
      s"${1 + r.nextInt(254)}"
    val user = if (r.nextInt(10) == 0) Users(r.nextInt(Users.length)) else "-"
    val m = r.nextInt(20)
    val method = if (m < 17) "GET" else if (m < 19) "POST" else "HEAD"
    val page = Pages(r.nextInt(Pages.length))
    val query = if (r.nextInt(3) == 0) s"?q=${Words(r.nextInt(Words.length))}"
      else ""
    val st = r.nextInt(100)
    val status = if (st < 80) 200 else if (st < 88) 304 else if (st < 94) 404
      else if (st < 98) 301 else 500
    val bytes = if (status == 304) 0 else r.nextInt(50000)
    val referer = if (r.nextInt(4) == 0) "-"
      else s"https://www.example.org/${Pages(r.nextInt(Pages.length))}"
    val tags = Tags.filter(_ => r.nextInt(3) == 0)
    Fields(ip, user, clock(seq), method, s"/s/$seq/$page$query", status,
      bytes, referer, Agents(r.nextInt(Agents.length)),
      r.nextInt(Cities.length), tags)
  }

  /** The access-log line for `seq`, without its newline. */
  def line(seq: Int): String = {
    val f = fields(seq)
    val size = if (f.status == 304) "-" else f.bytes.toString
    s"""${f.ip} - ${f.user} [${f.time}] "${f.method} ${f.path} HTTP/1.1" """ +
      s"""${f.status} $size "${f.referer}" "${f.agent}""""
  }

  /** The same record as one JSON value, keys in writing order, not
    * sorted: compact, or pretty-printed with one key to a line.
    */
  def jsonValue(seq: Int, pretty: Boolean = false): String = {
    val f = fields(seq)
    val (cc, lat, lon) = Cities(f.city)
    val pairs = Seq(
      "time" -> q(f.time), "host" -> q(f.ip), "user" -> q(f.user),
      "request" -> q(s"${f.method} ${f.path} HTTP/1.1"),
      "status" -> f.status.toString, "bytes" -> f.bytes.toString,
      "referer" -> q(f.referer), "agent" -> q(f.agent),
      "seq" -> seq.toString,
      "geo" -> s"""{"lon": $lon, "cc": ${q(cc)}, "lat": $lat}""",
      "tags" -> f.tags.map(q).mkString("[", ", ", "]"))
    val kv = pairs.map { case (k, v) => s"${q(k)}:$v" }
    if (pretty) kv.mkString("{\n  ", ",\n  ", "\n}") else kv.mkString("{", ",", "}")
  }

  /** The record the line pipeline (F1+P1+P2+K1 with
    * `--add-entry LogFile=AccessLog`) must deliver for `seq`.
    */
  def expectedLine(seq: Int): String =
    s"""{"LogEntry":${q(line(seq))},"LogFile":"AccessLog"}"""

  /** The record the JSON pipeline (S2+F2+P2+P3 with the same entry) must
    * deliver: every object's keys sorted, compact, numbers as float64.
    */
  def expectedJson(seq: Int): String = {
    val f = fields(seq)
    val (cc, lat, lon) = Cities(f.city)
    def num(s: String) = s.toDouble.toString
    Seq(
      "LogFile" -> q("AccessLog"), "agent" -> q(f.agent),
      "bytes" -> num(f.bytes.toString),
      "geo" -> s"""{"cc":${q(cc)},"lat":${num(lat)},"lon":${num(lon)}}""",
      "host" -> q(f.ip), "referer" -> q(f.referer),
      "request" -> q(s"${f.method} ${f.path} HTTP/1.1"),
      "seq" -> num(seq.toString), "status" -> num(f.status.toString),
      "tags" -> f.tags.map(q).mkString("[", ",", "]"),
      "time" -> q(f.time), "user" -> q(f.user))
      .map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
  }

  def lines(n: Int): Packed = pack(n, i => line(i) + "\n")
  /** Concatenated values, up to three to a line, separated by spaces or
    * tabs within a line; every fifth value is pretty-printed and so spans
    * lines.
    */
  def jsonValues(n: Int): Packed =
    pack(n, i => jsonValue(i, pretty = i % 5 == 4) + Seq(" ", "\t ", "\n")(i % 3))

  /** Hash of every expected payload, for checking delivered records
    * without keeping the expected bytes.
    */
  def expectedHashes(n: Int, json: Boolean): Array[Long] = {
    val out = new Array[Long](n)
    java.util.stream.IntStream.range(0, n).parallel().forEach { i =>
      out(i) = fnv(
        (if (json) expectedJson(i) else expectedLine(i)).getBytes(UTF_8))
    }
    out
  }

  private def pack(n: Int, item: Int => String): Packed = {
    val parts = new Array[Array[Byte]](n)
    java.util.stream.IntStream.range(0, n).parallel()
      .forEach(i => parts(i) = item(i).getBytes(UTF_8))
    val ends = new Array[Int](n)
    var off = 0L
    var i = 0
    while (i < n) { off += parts(i).length; ends(i) = off.toInt; i += 1 }
    require(off <= Int.MaxValue, s"corpus of $off bytes does not fit an array")
    val bytes = new Array[Byte](off.toInt)
    i = 0
    while (i < n) {
      System.arraycopy(parts(i), 0, bytes, ends(i) - parts(i).length,
        parts(i).length)
      i += 1
    }
    Packed(bytes, ends)
  }
}

object Corpus {
  private val Users = Array("alice", "bob", "carol", "dave")
  private val Pages = Array("index.html", "shop/cart", "shop/item/42",
    "blog/2026/10/release-notes", "api/v2/orders", "static/app.js",
    "images/logo.png", "search", "account/settings", "help/faq")
  private val Words = Array("kinesis", "stream", "shard", "log", "apache")
  private val Tags = Seq("web", "edge", "canary")
  private val Cities = Array(("FR", "48.85", "2.35"), ("US", "40.71", "-74.01"),
    ("JP", "35.68", "139.69"), ("BR", "-23.55", "-46.63"),
    ("DE", "52.52", "13.4"))
  // one agent carries an escaped quote, as Apache writes it
  private val Agents = Array(
    "Mozilla/5.0 (X11; Linux x86_64; rv:131.0) Gecko/20100101 Firefox/131.0",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 14_6) AppleWebKit/605.1.15 " +
      "(KHTML, like Gecko) Version/18.0 Safari/605.1.15",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 " +
      "(KHTML, like Gecko) Chrome/130.0.0.0 Safari/537.36",
    "curl/8.10.1",
    "Mozilla/5.0 (compatible; Probe/1.0; +\\\"https://probe.example\\\")",
    "ELB-HealthChecker/2.0")

  /** Apache's `%t` for a clock that starts at 07:00:00 and ticks 7 ms
    * per record, so any corpus under 12 M records stays inside one day.
    */
  private def clock(seq: Int): String = {
    val s = 7 * 3600 + seq.toLong * 7 / 1000
    f"17/Oct/2026:${s / 3600}%02d:${s / 60 % 60}%02d:${s % 60}%02d +0000"
  }

  /** A JSON string literal, escaped the way Jackson writes one. */
  def q(s: String): String = {
    val b = new java.lang.StringBuilder(s.length + 2).append('"')
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < 0x20 => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  /** 64-bit FNV-1a. */
  def fnv(bytes: Array[Byte]): Long = fnv(bytes, 0, bytes.length)

  def fnv(bytes: Array[Byte], from: Int, until: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = from
    while (i < until) { h = (h ^ (bytes(i) & 0xff)) * 0x100000001b3L; i += 1 }
    h
  }

  /** The sequence number in a delivered payload: the digits after the
    * first `/s/`, or -1 when there is none.
    */
  def seqOf(payload: Array[Byte]): Int = {
    var i = 0
    val n = payload.length - 3
    while (i < n && !(payload(i) == '/' && payload(i + 1) == 's' &&
        payload(i + 2) == '/')) i += 1
    if (i >= n) return -1
    var j = i + 3
    var v = 0L
    while (j < payload.length && payload(j) >= '0' && payload(j) <= '9' &&
        v < Int.MaxValue) {
      v = v * 10 + (payload(j) - '0'); j += 1
    }
    if (j == i + 3 || v >= Int.MaxValue) -1 else v.toInt
  }
}
