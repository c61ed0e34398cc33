package perfbench

import graft.sinks.KinesisSink
import java.util.concurrent.atomic.{AtomicIntegerArray, LongAdder}

/** What the sink received during one leg, per sequence number: how many
  * times it arrived, when it was first acknowledged, and a hash of its
  * payload. The shipper's tasks run in this JVM (`local[N]`), so the
  * transport writes here directly.
  */
final class Ledger(val items: Int, val expectedKey: String) {
  val counts = new AtomicIntegerArray(items)
  val ackNanos = new Array[Long](items)
  val hashes = new Array[Long](items)
  val calls = new LongAdder
  val records = new LongAdder
  val bytes = new LongAdder
  val callNanos = new LongAdder
  val unparsable = new LongAdder
  val wrongKey = new LongAdder
  /** (start, end, records) per call, when `traceCalls` is set. */
  val spans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Int)]()
  @volatile var traceCalls = false

  def record(rs: Seq[KinesisSink.RecordEntry]): Unit = {
    val t = System.nanoTime()
    var b = 0L
    rs.foreach { r =>
      b += r.data.length
      if (r.partitionKey != expectedKey) wrongKey.increment()
      val seq = Corpus.seqOf(r.data)
      if (seq < 0 || seq >= items) unparsable.increment()
      else if (counts.getAndIncrement(seq) == 0) {
        hashes(seq) = Corpus.fnv(r.data)
        ackNanos(seq) = t
      }
    }
    calls.increment()
    records.add(rs.size)
    bytes.add(b)
    val end = System.nanoTime()
    callNanos.add(end - t)
    if (traceCalls) spans.add((t, end, rs.size))
  }

  /** Check every item against the expected payload hashes. Items
    * acknowledged after `deadline` (or never) are late, not wrong. Items
    * the spooler cut (`cuts`, the known json-mode defect) are counted
    * apart and not checked; records carrying no sequence number are
    * taken for pieces of them up to `fragmentBound`, and are wrong
    * beyond it.
    */
  def verify(expected: Array[Long], deadline: Long = Long.MaxValue,
      cuts: Stdin.Cuts = Stdin.Cuts(Array.empty, 0),
      fragmentBound: Int = 0): Ledger.Check = {
    val cut = new java.util.BitSet(items)
    cuts.cutItems.foreach(cut.set)
    var acked, late, dup, bad = 0
    var i = 0
    while (i < items) {
      if (!cut.get(i)) {
        val c = counts.get(i)
        if (c > 1) dup += 1
        if (c >= 1 && hashes(i) != expected(i)) bad += 1
        if (c >= 1 && ackNanos(i) <= deadline) acked += 1 else late += 1
      }
      i += 1
    }
    val noSeq = unparsable.sum().toInt
    Ledger.Check(items, acked, late, dup, bad, math.max(0, noSeq - fragmentBound),
      wrongKey.sum().toInt, cut.cardinality, math.min(noSeq, fragmentBound),
      cuts.stray)
  }
}

object Ledger {
  /** `cut` items are neither acked nor late; `fragments` are the records
    * taken for pieces of them, `unparsable` those beyond the bound.
    */
  case class Check(offered: Int, acked: Int, late: Int, duplicated: Int,
      altered: Int, unparsable: Int, wrongKey: Int, cut: Int,
      fragments: Int, strayCuts: Int) {
    def wrong: Int = duplicated + altered + unparsable + wrongKey + strayCuts
  }

  @volatile private var current: Ledger = _

  def open(items: Int, expectedKey: String): Ledger = {
    current = new Ledger(items, expectedKey)
    current
  }

  /** The transport handed to `Main.runStdin`: records into the open
    * ledger and acknowledges every record.
    */
  class Client extends KinesisSink.RecordsClient {
    def putRecords(streamName: String, records: Seq[KinesisSink.RecordEntry])
        : KinesisSink.PutResult = {
      current.record(records)
      KinesisSink.PutResult(Nil, Nil)
    }
  }
}
