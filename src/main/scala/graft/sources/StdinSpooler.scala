package graft.sources

import java.io.InputStream
import java.nio.file.{Files, Path, StandardCopyOption, StandardOpenOption}

/** stdin → spool-directory shim — closes the last reference-behavior
  * gap (`/root/reference/main.go:164` reads os.Stdin; the Spark CLI
  * substitutes a tailed directory because stdin is not a distributed
  * source). A single driver-side thread drains the process's stdin
  * and rolls it into files the existing file-stream source consumes,
  * so `httpd.conf`'s `|/usr/bin/kinesis-log-streamer ...` piped
  * deployment (functest/apachelogs/httpd.conf:182,202-204) works
  * against `graft.Main --stdin` unchanged.
  *
  * Spool discipline:
  *   - files roll only at NEWLINE boundaries — the partial last line
  *     carries into the next file, so no record is ever split across
  *     spool files (the reference's chunk-independent tokenizer, T1,
  *     guarantees the same); the unterminated FINAL line at EOF is
  *     still emitted, matching the documented T1 divergence.
  *   - each file is written to a dot-prefixed temp name and
  *     ATOMIC_MOVE'd into place: Spark's file source lists the
  *     directory between micro-batches and must never observe a
  *     half-written file (dot-files are ignored by the lister).
  *   - a roll happens at `rollBytes` of pending complete lines, or
  *     as soon as stdin goes idle with pending data (`in.available()
  *     == 0`) — an Apache error log trickling one line a minute
  *     still reaches the sink within one micro-batch, while a burst
  *     batches into few large files.
  *
  * Scale note: stdin ingestion is inherently single-process — this
  * thread is the bridge INTO the distributed engine, not a data
  * plane. The pipe bounds throughput at best (the reference has the
  * identical bound); everything downstream of the spool directory is
  * ordinary partitioned streaming. What the bridge sustains is
  * measured by perfbench's `stdin-burst` and `stdin-paced` workloads
  * (perfbench/README.md, "Known defects"; BASELINE.md r9 addendum).
  */
object StdinSpooler {

  /** Start the spooler thread. The returned thread terminates when
    * `in` reaches EOF, after flushing every pending byte (including
    * an unterminated final line) into the spool directory.
    */
  def start(in: InputStream, dir: Path,
      rollBytes: Int = 4 << 20): Thread = {
    val t = new Thread(() => spool(in, dir, rollBytes),
      "graft-stdin-spooler")
    t.setDaemon(true)
    t.start()
    t
  }

  /** Synchronous form (the thread body; specs call it directly). */
  def spool(in: InputStream, dir: Path, rollBytes: Int = 4 << 20)
      : Unit = {
    Files.createDirectories(dir)
    val buf = new Array[Byte](64 * 1024)
    val pending = new java.io.ByteArrayOutputStream() // complete lines
    var carry = Array.emptyByteArray // trailing partial line
    var seq = 0

    def roll(): Unit = if (pending.size() > 0) {
      val tmp = dir.resolve(f".tmp-$seq%06d")
      Files.write(tmp, pending.toByteArray,
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
      Files.move(tmp, dir.resolve(f"part-$seq%06d.log"),
        StandardCopyOption.ATOMIC_MOVE)
      pending.reset()
      seq += 1
    }

    var eof = false
    while (!eof) {
      // idle → flush what we have so trickle input stays low-latency;
      // the blocking read below then waits for the next burst
      if (in.available() == 0 && pending.size() > 0) roll()
      val n = in.read(buf)
      if (n < 0) eof = true
      else if (n > 0) {
        // split at the LAST newline: [0, cut) are complete lines,
        // the tail carries forward
        val joined = if (carry.isEmpty) java.util.Arrays.copyOf(buf, n)
          else {
            val j = new Array[Byte](carry.length + n)
            System.arraycopy(carry, 0, j, 0, carry.length)
            System.arraycopy(buf, 0, j, carry.length, n)
            j
          }
        var cut = joined.length - 1
        while (cut >= 0 && joined(cut) != '\n') cut -= 1
        if (cut >= 0) {
          pending.write(joined, 0, cut + 1)
          carry = java.util.Arrays.copyOfRange(joined, cut + 1,
            joined.length)
        } else carry = joined
        if (pending.size() >= rollBytes) roll()
      }
    }
    // EOF: the unterminated final line is still a record (T1)
    if (carry.nonEmpty) pending.write(carry, 0, carry.length)
    roll()
  }
}
