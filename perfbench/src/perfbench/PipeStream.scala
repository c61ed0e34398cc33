package perfbench

import java.io.InputStream
import java.util.concurrent.locks.LockSupport

/** The read end of a pipe whose writer puts one item (one log line) per
  * write, driven by the reading thread so the load adds no thread.
  *
  *   - Burst (`perSecond == 0`): the writer was faster than any reader,
  *     so every byte is already in the pipe; a read takes what fits.
  *   - Paced: item i is written at `t0 + i / perSecond` (an open loop:
  *     the schedule never waits for the reader). A read blocks until at
  *     least one unread byte is due and then hands over only due bytes;
  *     `available()` reports the due bytes not yet read, as a pipe does.
  *     The schedule starts when `ready()` first holds (the shipper is
  *     up), or after 10 s.
  *
  * For each item it records when it was handed over in full (burst) so
  * that record latency can be measured from it; paced items are timed
  * from their due time instead (`dueNanos`).
  */
final class PipeStream(p: Packed, perSecond: Double, ready: () => Boolean)
    extends InputStream {
  private val MaxArmNanos = 10000000000L
  private val total = p.bytes.length
  private var pos = 0
  private var released = 0 // items handed over in full
  private var t0 = -1L
  val releaseNanos = new Array[Long](if (perSecond > 0) 0 else p.items)

  /** Time spent blocked waiting for due bytes, ns. */
  var readWaitNanos = 0L
  /** How late the reading thread woke for a due item: sum and max, ns. */
  var lateSumNanos = 0L
  var lateMaxNanos = 0L
  var wakes = 0L
  var reads = 0L
  var firstReadNanos = 0L
  var eofNanos = 0L
  /** (start, end) of each read, when `spans` is set. */
  val spans = new scala.collection.mutable.ArrayBuffer[(Long, Long)]()
  @volatile var traceReads = false

  def startNanos: Long = t0

  def dueNanos(item: Int): Long = t0 + (item * 1e9 / perSecond).toLong

  /** Bytes written to the pipe by `now`. */
  private def writtenBy(now: Long): Int =
    if (perSecond <= 0) total
    else if (t0 < 0 || now < t0) 0
    else {
      val items = math.min(p.items.toLong,
        ((now - t0) * perSecond / 1e9).toLong + 1).toInt
      if (items == 0) 0 else p.ends(items - 1)
    }

  private def arm(): Unit = if (t0 < 0) {
    val give = System.nanoTime() + MaxArmNanos
    while (!ready() && System.nanoTime() < give)
      LockSupport.parkNanos(2000000L)
    t0 = System.nanoTime()
  }

  override def available(): Int =
    math.max(0, writtenBy(System.nanoTime()) - pos)

  override def read(): Int = {
    val one = new Array[Byte](1)
    if (read(one, 0, 1) < 0) -1 else one(0) & 0xff
  }

  override def read(b: Array[Byte], off: Int, len: Int): Int = {
    val start = System.nanoTime()
    if (reads == 0) firstReadNanos = start
    reads += 1
    if (pos >= total) {
      if (eofNanos == 0) eofNanos = start
      return -1
    }
    if (len == 0) return 0
    if (perSecond > 0) arm()
    var now = System.nanoTime()
    var written = writtenBy(now)
    if (written <= pos) {
      // block until the next item is written; `released` indexes the
      // item holding byte `pos`
      val next = released
      val due = dueNanos(next)
      while (now < due) {
        LockSupport.parkNanos(due - now)
        now = System.nanoTime()
      }
      val late = now - due
      lateSumNanos += late
      lateMaxNanos = math.max(lateMaxNanos, late)
      wakes += 1
      readWaitNanos += now - start
      written = math.max(writtenBy(now), p.ends(next))
    }
    val n = math.min(len, written - pos)
    System.arraycopy(p.bytes, pos, b, off, n)
    pos += n
    val end = System.nanoTime()
    while (released < p.items && p.ends(released) <= pos) {
      if (perSecond <= 0) releaseNanos(released) = end
      released += 1
    }
    if (traceReads) spans += ((start, end))
    n
  }
}
