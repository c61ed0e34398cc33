package perfbench

import graft.sinks.KinesisSink.RecordEntry
import java.nio.charset.StandardCharsets.UTF_8

/** The benchmark's own tests: `python3 perfbench/test.py`. They need no
  * Spark session. Exit code 1 when any fails.
  */
object SelfTest {
  private var failed = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch { case t: Throwable =>
      failed += 1
      println(s"FAIL $name: $t")
    }

  private def check(cond: Boolean, what: => String): Unit =
    if (!cond) throw new AssertionError(what)

  private def near(a: Double, b: Double, what: String): Unit =
    check(math.abs(a - b) < 1e-9, s"$what: $a != $b")

  def main(args: Array[String]): Unit = {
    test("corpus is deterministic for a seed") {
      val (a, b) = (new Corpus(7), new Corpus(7))
      check(java.util.Arrays.equals(a.lines(2000).bytes, b.lines(2000).bytes),
        "lines differ")
      check(java.util.Arrays.equals(a.jsonValues(500).bytes,
        b.jsonValues(500).bytes), "json values differ")
      check(java.util.Arrays.equals(a.expectedHashes(500, json = true),
        b.expectedHashes(500, json = true)), "expected hashes differ")
      check(!java.util.Arrays.equals(a.lines(100).bytes,
        new Corpus(8).lines(100).bytes), "seeds 7 and 8 give the same lines")
    }

    test("corpus records carry their sequence number") {
      val c = new Corpus(3)
      for (i <- Seq(0, 1, 9, 12345)) {
        check(Corpus.seqOf(c.expectedLine(i).getBytes(UTF_8)) == i, s"line $i")
        check(Corpus.seqOf(c.expectedJson(i).getBytes(UTF_8)) == i, s"json $i")
      }
      check(Corpus.seqOf("no marker".getBytes(UTF_8)) == -1, "no marker")
      val json = c.jsonValues(9)
      def value(i: Int) = new String(json.bytes, if (i == 0) 0 else json.ends(i - 1),
        json.ends(i) - (if (i == 0) 0 else json.ends(i - 1)), UTF_8)
      check(value(0).endsWith("} ") && value(1).endsWith("}\t ") &&
        value(2).endsWith("}\n"), "compact values share lines")
      check(value(4).trim.split("\n").length == 13, "every fifth value spans lines")
    }

    test("paced stream never releases a byte before it is due") {
      val p = new Corpus(1).lines(300)
      val s = new PipeStream(p, 3000, () => true)
      val buf = new Array[Byte](97)
      var pos = 0
      var n = s.read(buf, 0, buf.length)
      while (n >= 0) {
        val now = System.nanoTime()
        pos += n
        // the item holding the last byte handed over must be due
        val item = p.ends.indexWhere(_ >= pos)
        check(s.dueNanos(item) <= now,
          s"byte $pos of item $item handed over ${s.dueNanos(item) - now} ns early")
        n = s.read(buf, 0, buf.length)
      }
      check(pos == p.bytes.length, s"read $pos of ${p.bytes.length} bytes")
      check(s.wakes > 0, "the reader never waited")
    }

    test("paced stream reports only due, unread bytes as available") {
      val p = new Corpus(2).lines(50)
      val s = new PipeStream(p, 10, () => true) // one line per 100 ms
      val first = new Array[Byte](p.ends(0))
      check(s.read(first, 0, first.length) == p.ends(0), "first line")
      check(s.available() == 0, s"${s.available()} bytes available before line 2 is due")
      Thread.sleep(130)
      check(s.available() == p.ends(1) - p.ends(0),
        s"${s.available()} bytes available, line 2 has ${p.ends(1) - p.ends(0)}")
    }

    test("burst stream hands over everything at once") {
      val p = new Corpus(2).lines(50)
      val s = new PipeStream(p, 0, () => true)
      check(s.available() == p.bytes.length, "available")
      val all = new Array[Byte](p.bytes.length + 10)
      check(s.read(all, 0, all.length) == p.bytes.length, "one read")
      check(s.read(all, 0, all.length) == -1, "eof")
      check(s.releaseNanos.forall(_ > 0), "release times")
    }

    test("percentiles on known input") {
      val xs = Array(4.0, 1.0, 3.0, 2.0)
      near(Stats.percentile(xs.toSeq, 50), 2.5, "p50")
      near(Stats.percentile(xs.toSeq, 0), 1.0, "p0")
      near(Stats.percentile(xs.toSeq, 100), 4.0, "p100")
      val hundred = (1 to 100).map(_.toDouble)
      near(Stats.percentile(hundred, 99), 99.01, "p99 of 1..100")
      near(Stats.median(Seq(7.0)), 7.0, "median of one")
    }

    test("ack ratio on known input") {
      near(Stats.ackRatio(3, 4), 0.75, "3 of 4")
      near(Stats.ackRatio(0, 9), 0.0, "none")
      check(scala.util.Try(Stats.ackRatio(5, 4)).isFailure, "5 of 4 accepted")
    }

    test("self time subtracts covered child time once") {
      near(Stats.unionMs(Seq((0L, 2000000L), (1000000L, 3000000L),
        (5000000L, 6000000L))), 4.0, "union")
      near(Stats.selfMs(Seq((0L, 10000000L)),
        Seq((2000000L, 4000000L), (3000000L, 5000000L), (9000000L, 12000000L))),
        6.0, "self")
    }

    test("fingerprint check catches an altered result") {
      val pin = Pin("light", "q", "hash", 42L, 10L)
      check(pin.matches(42L, 10L), "the pinned result itself")
      check(!pin.matches(43L, 10L), "altered hash accepted")
      check(!pin.matches(42L, 11L), "altered row count accepted")
      val rows = pin.copy(mode = "rows")
      check(rows.matches(7L, 10L) && !rows.matches(42L, 9L), "rows mode")
    }

    test("ledger catches altered, duplicated and mis-keyed records") {
      val c = new Corpus(5)
      val expected = c.expectedHashes(4, json = false)
      val l = new Ledger(4, "host-a")
      def rec(i: Int, key: String = "host-a", payload: String = null) =
        RecordEntry(Option(payload).getOrElse(c.expectedLine(i)).getBytes(UTF_8), key)
      l.record(Seq(rec(0), rec(1), rec(1),
        rec(2, payload = c.expectedLine(2).replace("HTTP/1.1", "HTTP/1.0"))))
      l.record(Seq(rec(3, key = "host-b")))
      val v = l.verify(expected)
      check(v.acked == 4 && v.duplicated == 1 && v.altered == 1 &&
        v.wrongKey == 1 && v.late == 0, s"$v")
      val clean = new Ledger(4, "host-a")
      clean.record((0 until 3).map(i => rec(i)))
      val w = clean.verify(expected)
      check(w.wrong == 0 && w.late == 1 && w.acked == 3, s"$w")
    }

    test("spool cuts inside a value are found, stray cuts counted") {
      val p = new Corpus(4).jsonValues(10) // value 4 spans 13 lines
      val inside = p.ends(3) + p.bytes.drop(p.ends(3)).indexOf('\n'.toByte) + 1
      def sizes(offsets: Int*) =
        (offsets :+ p.bytes.length).zip(0 +: offsets).map { case (a, b) => (a - b).toLong }
      val clean = Stdin.cuts(p, sizes(p.ends(2)))
      check(clean.cutItems.isEmpty && clean.stray == 0, s"clean cut: $clean")
      val c = Stdin.cuts(p, sizes(p.ends(2), inside))
      check(c.cutItems.toSeq == Seq(4) && c.stray == 0, s"cut in value 4: ${c.cutItems.toSeq}")
      check(c.fragmentBound(p) == 4 * 12 + 1, s"bound ${c.fragmentBound(p)}")
      check(Stdin.cuts(p, sizes(p.ends(2) - 1)).stray == 1, "cut inside a line")
      check(Stdin.cuts(new Corpus(4).lines(20), Seq(500L, 500L, 500L)).stray > 0,
        "a line cut mid-line")
    }

    test("ledger excuses only cut items and bounded fragments") {
      val c = new Corpus(6)
      val expected = c.expectedHashes(3, json = true)
      def rec(s: String) = RecordEntry(s.getBytes(UTF_8), "k")
      val l = new Ledger(3, "k")
      l.record(Seq(rec(c.expectedJson(0)), rec("\"geo\""), rec("{\"lon\":1.0}"),
        rec(c.expectedJson(2))))
      val cut = Stdin.Cuts(Array(1), 0)
      val ok = l.verify(expected, cuts = cut, fragmentBound = 2)
      check(ok.wrong == 0 && ok.late == 0 && ok.cut == 1 && ok.fragments == 2, s"$ok")
      val over = l.verify(expected, cuts = cut, fragmentBound = 1)
      check(over.unparsable == 1 && over.wrong == 1, s"$over")
      val none = l.verify(expected)
      check(none.late == 1 && none.unparsable == 2, s"$none")
    }

    test("result json renders numbers with all their digits") {
      check(Json(Map("v" -> 0.1234567891234)) == """{"v":0.1234567891234}""",
        Json(Map("v" -> 0.1234567891234)))
      check(Json(Seq("a\"b", 1L)) == """["a\"b",1]""", "escaping")
    }

    if (failed > 0) {
      println(s"$failed test(s) failed")
      sys.exit(1)
    }
    println("all tests passed")
  }
}
