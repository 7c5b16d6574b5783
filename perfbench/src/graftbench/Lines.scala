package graftbench

import java.io.FileOutputStream
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** Seeded log lines for the tail workloads. A line is a pure function of
  * (seed, sequence number, due time), so any acked record can be checked
  * against the line it must carry without keeping the appended bytes.
  *
  * Line layout (ASCII, no newline): `SSSSSSSSSSSS DDDDDDDDDDDD payload`,
  * the 12-digit sequence number, the 12-digit due time in µs from the
  * generator's start (0 for backlog lines), then a payload drawn from a
  * seeded pool. Payload lengths follow a fixed mix: 70% 40–110 bytes,
  * 25% 110–260 bytes, 5% 260–840 bytes. The shape (mostly short lines, a
  * long tail) is assumed, not measured from real logs; it is scaled so a
  * line averages ~153 bytes with header and newline, the mean of a
  * 2 M-line (~305 MB) sizing drain made when the benchmark was designed.
  */
final class Lines(seed: Long, val root: Path) {
  import Lines._

  /** The eight `*.log` files the glob must find, in nested directories. */
  val files: IndexedSeq[Path] = IndexedSeq(
    "svc-a/app.log", "svc-a/worker/jobs.log", "svc-b/api.log",
    "svc-b/api/v2/edge.log", "svc-c/db.log", "svc-c/replica/sync.log",
    "svc-d/cron.log", "svc-d/x/y/z/deep.log").map(p => root.resolve(p).toAbsolutePath)
  val paths: IndexedSeq[String] = files.map(_.toString)

  /** Files beside them that the `*.log` glob must skip. */
  val decoys: Seq[Path] = Seq("svc-a/app.log.1", "svc-b/notes.txt",
    "svc-c/db.log.gz", "svc-d/x/README").map(root.resolve)

  private val pool: Array[Byte] = {
    val r = new SplittableRandom(seed)
    Array.fill(PoolSize)((0x20 + r.nextInt(0x7f - 0x20)).toByte)
  }

  private def mix(seq: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + seq * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def fileOf(seq: Long): Int = ((mix(seq) >>> 40) & 7).toInt

  private def payloadLen(h: Long): Int = {
    val bucket = ((h & 0xffffL) % 100).toInt
    val r = ((h >>> 16) & 0xffffL).toInt
    if (bucket < 70) 40 + r % 71
    else if (bucket < 95) 110 + r % 151
    else 260 + r % 581
  }

  /** The line (without newline) for `seq` due at `dueUs`. */
  def line(seq: Long, dueUs: Long): Array[Byte] = {
    val h = mix(seq)
    val n = payloadLen(h)
    val off = ((h >>> 32) & 0x7fffffffL).toInt % (PoolSize - 1000)
    val out = new Array[Byte](HeaderLen + n)
    digits(seq, out, 0); out(12) = ' '
    digits(dueUs, out, 13); out(25) = ' '
    System.arraycopy(pool, off, out, HeaderLen, n)
    out
  }

  /** Sequence number and due time parsed from a line's header, or None. */
  def header(msg: Array[Byte]): Option[(Long, Long)] =
    if (msg.length < HeaderLen || msg(12) != ' ' || msg(25) != ' ') None
    else {
      var seq = 0L; var due = 0L; var ok = true
      var i = 0
      while (i < 12) {
        val a = msg(i) - '0'; val b = msg(13 + i) - '0'
        if (a < 0 || a > 9 || b < 0 || b > 9) ok = false
        seq = seq * 10 + a; due = due * 10 + b
        i += 1
      }
      if (ok) Some((seq, due)) else None
    }

  def createLayout(): Unit = {
    files.foreach { f => Files.createDirectories(f.getParent); Files.write(f, Array.emptyByteArray) }
    decoys.foreach { d =>
      Files.createDirectories(d.getParent)
      Files.write(d, "decoy line the *.log glob must skip\n".getBytes(StandardCharsets.US_ASCII))
    }
  }

  /** Appends lines [from, until) with due times `due(seq)` to their files,
    * one write per file; returns the bytes written.
    */
  def append(outs: IndexedSeq[FileOutputStream], from: Long, until: Long,
      due: Long => Long): Long = {
    val bufs = Array.fill(files.size)(new java.io.ByteArrayOutputStream(1 << 16))
    var s = from
    var bytes = 0L
    while (s < until) {
      val l = line(s, due(s))
      val b = bufs(fileOf(s))
      b.write(l); b.write('\n')
      bytes += l.length + 1
      s += 1
    }
    var i = 0
    while (i < bufs.length) {
      if (bufs(i).size > 0) { bufs(i).writeTo(outs(i)); outs(i).flush() }
      i += 1
    }
    bytes
  }

  def openAll(): IndexedSeq[FileOutputStream] = files.map(f => new FileOutputStream(f.toFile, true))

  /** Pre-writes `n` backlog lines (due time 0); returns the bytes written. */
  def writeBacklog(n: Long): Long = {
    createLayout()
    val outs = openAll()
    try {
      var bytes = 0L
      var s = 0L
      while (s < n) {
        val e = math.min(n, s + 50000)
        bytes += append(outs, s, e, _ => 0L)
        s = e
      }
      bytes
    } finally outs.foreach(_.close())
  }
}

object Lines {
  val HeaderLen = 26
  val PoolSize: Int = 1 << 16

  private def digits(v: Long, out: Array[Byte], at: Int): Unit = {
    var x = v
    var i = at + 11
    while (i >= at) { out(i) = ('0' + (x % 10)).toByte; x /= 10; i -= 1 }
  }
}
