package graftbench

import java.nio.file.{Files, Path}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.functions.ProtoWire
import graft.model.Envelope

/** Scheduled appends at a fixed rate: line `s` is due `s / rate` seconds
  * after the start and is written as soon as it is due.
  */
final class Schedule(gen: Lines, rate: Int, lines: Long) {
  val dueUs: Long => Long = s => s * 1000000L / rate
  val lateMs = new Array[Double](lines.toInt)
  /** (write time ns, cumulative bytes) after each append. */
  val timeline = mutable.ArrayBuffer.empty[(Long, Long)]
  var t0 = 0L
  var t0WallMs = 0L
  var written = 0L

  def run(): Unit = {
    val outs = gen.openAll()
    try {
      t0 = System.nanoTime() + 20000000L
      t0WallMs = System.currentTimeMillis() + 20
      var bytes = 0L
      while (written < lines) {
        val now = System.nanoTime()
        val due = if (now < t0) 0L else math.min(lines, (now - t0) * rate / 1000000000L + 1)
        if (due > written) {
          bytes += gen.append(outs, written, due, dueUs)
          val tw = System.nanoTime()
          var s = written
          while (s < due) { lateMs(s.toInt) = (tw - t0 - dueUs(s) * 1000L) / 1e6; s += 1 }
          written = due
          timeline += ((tw, bytes))
        } else LockSupport.parkNanos(200000L)
      }
    } finally outs.foreach(_.close())
  }

  def lateP99Max: (Double, Double) = {
    val s = lateMs.clone(); java.util.Arrays.sort(s)
    (Stats.quantileSorted(s, 0.99), s.last)
  }

  /** Bytes appended by time `ns`. */
  def bytesAt(ns: Long): Long = timeline.takeWhile(_._1 <= ns).lastOption.map(_._2).getOrElse(0L)
}

/** tail-steady: an open loop at [[Tail.Rate]] lines/s. Latency runs from
  * each line's due time to the fake's ack of the put carrying it, less
  * the wait until the trigger's next scheduled fire: that wait is the
  * schedule's, not the pipeline's, while a batch that starts late because
  * the one before it overran still counts. Due-to-ack figures are kept
  * beside it. Lines due in the first third of the run are warm-up and
  * not counted.
  */
object Steady {
  def run(spark: SparkSession, work: Path, seed: Long, seconds: Double,
      tracer: Option[Tracer]): Outcome = {
    val root = Files.createTempDirectory(work, "steady-")
    val gen = new Lines(seed, root)
    gen.createLayout()
    val total = (seconds * Tail.Rate).toLong
    val sched = new Schedule(gen, Tail.Rate, total)
    val ledger = FakeKinesis.newLedger(recording = true, 0, seed)
    val ckpt = Files.createTempDirectory(work, "ckpt-")
    val start = () => Tail.start(spark, root, Tail.FullPath, ckpt, "steady",
      trigger = Tail.SteadyTrigger)
    val q = tracer.fold(start())(_.phase("stream")(start()))
    val (ackedAtStop, loadAtStop) = try {
      sched.run()
      val a = ledger.acked.sum()
      val load = Host.loadAvg1m()
      val deadline = System.nanoTime() + 15000000000L
      while (ledger.acked.sum() < total && System.nanoTime() < deadline) Thread.sleep(5)
      (a, load)
    } finally q.stop()
    val batches = Option(q.lastProgress).map(_.batchId + 1).getOrElse(0L)
    val warmUs = (seconds / 3 * 1e6).toLong
    val dueToAck = mutable.ArrayBuilder.make[Double]
    val chk = Tail.check(gen, ledger, sched.written, sched.dueUs, (seq, ackNs) =>
      if (sched.dueUs(seq) < warmUs) Double.NaN
      else {
        val dueNs = sched.t0 + sched.dueUs(seq) * 1000L
        dueToAck += (ackNs - dueNs) / 1e6
        // The trigger fires on whole multiples of its interval in epoch
        // time; a line acked after the next fire waited for it.
        val dueWallMs = sched.t0WallMs + sched.dueUs(seq) / 1000
        val waitMs = (Tail.SteadyTriggerMs - dueWallMs % Tail.SteadyTriggerMs) % Tail.SteadyTriggerMs
        val fireNs = dueNs + waitMs * 1000000L
        (ackNs - (if (ackNs >= fireNs) fireNs else dueNs)) / 1e6
      })
    val lat = chk.latenciesMs; java.util.Arrays.sort(lat)
    val raw = dueToAck.result(); java.util.Arrays.sort(raw)
    val (lateP99, lateMax) = sched.lateP99Max
    val m = new Metrics
    m.put("latency_ms", Stats.quantileSorted(lat, 0.5), "ms")
    m.put("latency_tail_ms", Stats.quantileSorted(lat, 0.99), "ms")
    // Capacity: lines per second of busy batch time over the warm batches.
    // The acked rate itself only echoes the offered 20,000 lines/s while
    // the pipeline keeps up; this shows how close it is to falling behind.
    val warmStartMs = sched.t0WallMs + warmUs / 1000
    val warm = q.recentProgress.filter(p => p.numInputRows > 0 &&
      java.time.Instant.parse(p.timestamp).toEpochMilli >= warmStartMs)
    m.put("throughput_per_s", warm.map(_.numInputRows).sum /
      (warm.map(Tail.ms(_, "triggerExecution")).sum / 1000), "1/s")
    // Lag: bytes appended by the end of each warm batch minus the bytes
    // its committed end offset covers.
    val lag = tracer.map { t =>
      val ps = t.progressOf("steady").filter(p => p.numInputRows > 0)
      val lags = ps.map { p =>
        val end = t.nanosOfEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli) +
          (Tail.ms(p, "triggerExecution") * 1e6).toLong
        (end, (sched.bytesAt(end) - Tail.committedBytes(p.sources.head.endOffset)).toDouble)
      }.filter(_._1 >= sched.t0 + warmUs * 1000L).map(_._2)
      Stats.median(lags)
    }
    val behind = lateMax > 1000.0
    Outcome(
      attempted = sched.written, failed = chk.failed, metrics = m,
      info = Seq(
        "ack_p50_ms" -> Json.Num(Stats.quantileSorted(raw, 0.5)),
        "ack_p99_ms" -> Json.Num(Stats.quantileSorted(raw, 0.99)),
        "ack_samples_lines" -> Json.Num(lat.length),
        "micro_batches" -> Json.Num(batches),
        "gen_late_ms_p99" -> Json.Num(lateP99), "gen_late_ms_max" -> Json.Num(lateMax),
        "gen_fell_behind" -> Json.Bool(behind),
        "loadavg_1m_at_stop" -> Json.Num(loadAtStop),
        "backlog_lines_at_stop" -> Json.Num(sched.written - ackedAtStop),
        "missing" -> Json.Num(chk.missing), "mismatched" -> Json.Num(chk.mismatched),
        "corrupt" -> Json.Num(chk.corrupt), "duplicates" -> Json.Num(chk.duplicates)),
      ledger = Some(ledger),
      dupFrac = Some(chk.duplicates.toDouble / math.max(1, chk.acked)),
      lateMs = Some((lateP99, lateMax)), lagBytes = lag)
  }
}

/** tail-backlog: a fixed pre-written backlog drained again and again, the
  * fake throttling a seeded 2% of records once each. The first drain is
  * the untimed check; the timed drains count acks and acked bytes.
  */
object Backlog {
  def prepare(work: Path, seed: Long, lines: Long): (Lines, Long) = {
    val gen = new Lines(seed, Files.createTempDirectory(work, "backlog-"))
    val bytes = gen.writeBacklog(lines)
    (gen, bytes)
  }

  def run(spark: SparkSession, work: Path, seed: Long, seconds: Double,
      gen: Lines, tracer: Option[Tracer]): Outcome = {
    val n = Tail.BacklogLines
    def drain(name: String): Double = tracer match {
      case Some(t) => t.phase("stream")(Tail.drain(spark, gen.root, Tail.FullPath, work, name))
      case None => Tail.drain(spark, gen.root, Tail.FullPath, work, name)
    }
    val checkLedger = FakeKinesis.newLedger(recording = true, Tail.ThrottlePerMille, seed)
    drain("backlog-check")
    val chk = Tail.check(gen, checkLedger, n, _ => 0L, (_, _) => Double.NaN)
    val wantBytes = if (chk.duplicates == 0) checkLedger.ackedBytes.sum() else -1L
    var attempted = n
    var failed = chk.failed
    val rates = mutable.ArrayBuffer.empty[Double]
    val p50s = mutable.ArrayBuffer.empty[Double]
    val p99s = mutable.ArrayBuffer.empty[Double]
    val total = new Ledger(false, Tail.ThrottlePerMille, seed)
    val t0 = System.nanoTime()
    var k = 0
    while (k < 3 || (Host.secondsSince(t0) < seconds && k < 50)) {
      val ledger = FakeKinesis.newLedger(recording = false, Tail.ThrottlePerMille, seed + k)
      System.gc() // each drain starts from a collected heap, untimed
      val d0 = System.nanoTime()
      val secs = drain(s"backlog-$k")
      val acked = ledger.acked.sum()
      attempted += n
      if (acked < n) failed += n - acked
      else if (wantBytes >= 0 && acked == n && ledger.ackedBytes.sum() != wantBytes) failed += 1
      rates += n / secs
      val (p50, p99) = Tail.ackQuantiles(ledger, d0)
      p50s += p50; p99s += p99
      total.puts.add(ledger.puts.sum()); total.putNs.add(ledger.putNs.sum())
      total.attempted.add(ledger.attempted.sum()); total.acked.add(ledger.acked.sum())
      k += 1
    }
    val m = new Metrics
    m.put("latency_ms", Stats.median(p50s.toSeq), "ms")
    m.put("latency_tail_ms", Stats.median(p99s.toSeq), "ms")
    m.put("throughput_per_s", Stats.median(rates.toSeq), "1/s")
    Outcome(attempted, failed, m,
      info = Seq(
        "drain_lines_per_s" -> Json.Num(Stats.median(rates.toSeq)),
        "drains" -> Json.Num(rates.size),
        "backlog_lines" -> Json.Num(n),
        "missing" -> Json.Num(chk.missing), "mismatched" -> Json.Num(chk.mismatched),
        "corrupt" -> Json.Num(chk.corrupt), "duplicates" -> Json.Num(chk.duplicates),
        "retry_ratio" -> Json.Num(total.attempted.sum().toDouble / total.acked.sum())),
      ledger = Some(total),
      dupFrac = Some(chk.duplicates.toDouble / math.max(1, chk.acked)))
  }
}

/** Stage-isolated measurements for the traced run. */
object Probe {
  /** Lines/s of the three stage-isolated drains over `gen`'s backlog of
    * `n` lines, plus the full drain's recorded ledger and check.
    */
  def drains(spark: SparkSession, work: Path, seed: Long, gen: Lines, n: Long,
      t: Tracer): (Double, Double, Double, Ledger, Tail.Check) = {
    def one(stage: Tail.Stage, name: String) =
      t.span("drain " + name, "bench", "drain-" + name)(
        t.phase("probe")(Tail.drain(spark, gen.root, stage, work, name)))
    val src = n / one(Tail.SourceOnly, "probe-source")
    val enc = n / one(Tail.Encoded, "probe-encode")
    val ledger = FakeKinesis.newLedger(recording = true, Tail.ThrottlePerMille, seed)
    val full = n / one(Tail.FullPath, "probe-full")
    (src, enc, full, ledger, Tail.check(gen, ledger, n, _ => 0L, (_, _) => Double.NaN))
  }

  /** Single-thread `ProtoWire.encode(Envelope.forLogLine(…))` on the
    * workload's lines: (ns per line, encoded bytes per line).
    */
  def encode(seed: Long, root: Path, t: Tracer): (Double, Double) = {
    val gen = new Lines(seed, root)
    val n = 100000
    val msgs = Array.tabulate(n) { i => gen.line(i, 0L) :+ '\n'.toByte }
    val paths = Array.tabulate(n)(i => gen.paths(gen.fileOf(i)))
    val ns = System.currentTimeMillis() * 1000000L
    def pass(): Long = {
      var bytes = 0L; var i = 0
      while (i < n) {
        bytes += ProtoWire.encode(Envelope.forLogLine(Tail.Origin, msgs(i), ns, paths(i))).length
        i += 1
      }
      bytes
    }
    pass() // warm-up
    val t0 = System.nanoTime()
    val bytes = t.span("encode", "functions", "encode")(pass() + pass())
    ((System.nanoTime() - t0).toDouble / (2 * n), bytes.toDouble / (2 * n))
  }

  /** Generator lateness on one second of scheduled appends, no pipeline. */
  def generatorLate(work: Path, seed: Long): (Double, Double) = {
    val gen = new Lines(seed, Files.createTempDirectory(work, "gen-"))
    gen.createLayout()
    val s = new Schedule(gen, Tail.Rate, Tail.Rate.toLong)
    s.run()
    Host.deleteTree(gen.root)
    s.lateP99Max
  }
}
