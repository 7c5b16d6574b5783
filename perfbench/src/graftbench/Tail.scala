package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.functions.ProtoWire
import graft.pipeline.EnvelopePipeline
import graft.sources.TailOffset

/** The reference's job as a streaming query: `graft-tail` → envelope
  * projection → `ProtoWire.encode` → `graft-kinesis` (the fake), plus the
  * stage-isolated variants that stop after the source or after encoding.
  */
object Tail {
  val Origin = "bench-node"
  val Rate = 20000
  /** tail-steady's trigger: a batch starts every second, so each carries
    * one second of lines and a slow batch does not grow the next one.
    */
  val SteadyTriggerMs = 1000L
  val SteadyTrigger: Trigger = Trigger.ProcessingTime(SteadyTriggerMs)
  val BacklogLines = 600000L
  val WarmupLines = 60000L
  /** Warm-up batches are capped near the size of a steady batch, so the
    * set-up runs the per-batch path about six times, not once.
    */
  val WarmupBatchBytes = 2500000L
  val ProbeLines = 300000L
  val ThrottlePerMille = 20

  sealed trait Stage
  case object SourceOnly extends Stage
  case object Encoded extends Stage
  case object FullPath extends Stage

  def lines(spark: SparkSession, root: Path, maxBytesPerTrigger: Long = 0L): DataFrame =
    spark.readStream.format("graft-tail")
      .option("path", root.toAbsolutePath.toString).option("glob", "*.log")
      .option("maxBytesPerTrigger", maxBytesPerTrigger.toString).load()

  /** Envelope projection + encode, as the engine's pipeline functions. */
  def encoded(spark: SparkSession, lines: DataFrame): DataFrame = {
    implicit val s: SparkSession = spark
    val projected = lines.select(
      lit(Origin).as("origin"),
      concat(col("value"), lit("\n")).cast("binary").as("message"),
      (unix_micros(current_timestamp()) * 1000).as("ingest_ns"),
      col("path").as("source_instance"))
    EnvelopePipeline.serialize(EnvelopePipeline.toEnvelopes(projected))
      .toDF("data", "partition_key")
  }

  def start(spark: SparkSession, root: Path, stage: Stage, ckpt: Path,
      name: String, maxBytesPerTrigger: Long = 0L,
      trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery = {
    val src = lines(spark, root, maxBytesPerTrigger)
    val (df, format) = stage match {
      case SourceOnly => (src, "noop")
      case Encoded => (encoded(spark, src), "noop")
      case FullPath => (encoded(spark, src), "graft-kinesis")
    }
    df.writeStream.format(format).queryName(name)
      .option("checkpointLocation", ckpt.toAbsolutePath.toString)
      .option("client", FakeKinesis.ClientName)
      .trigger(trigger)
      .start()
  }

  /** Drains everything under `root` once; returns the wall seconds. */
  def drain(spark: SparkSession, root: Path, stage: Stage, work: Path, name: String,
      maxBytesPerTrigger: Long = 0L): Double = {
    val ckpt = Files.createTempDirectory(work, "ckpt-")
    val t0 = System.nanoTime()
    val q = start(spark, root, stage, ckpt, name, maxBytesPerTrigger)
    try {
      q.processAllAvailable()
      Host.secondsSince(t0)
    } finally { q.stop(); Host.deleteTree(ckpt) }
  }

  /** Outcome of checking the acked records against the appended lines. */
  final case class Check(appended: Long, acked: Long, missing: Long,
      mismatched: Long, corrupt: Long, duplicates: Long, latenciesMs: Array[Double]) {
    /** Lines never acked intact, plus records that name no line at all. */
    def failed: Long = missing + corrupt
  }

  /** Decodes every acked record and matches it to the line with its
    * sequence number: the bytes, the source path and the partition key
    * must all be what was appended. `lat` gives the latency sample of a
    * first ack, or NaN to leave the line out of the latency figures.
    */
  def check(gen: Lines, ledger: Ledger, appended: Long, due: Long => Long,
      lat: (Long, Long) => Double): Check = {
    val seen = new java.util.BitSet()
    var acked = 0L; var mismatched = 0L; var corrupt = 0L; var dups = 0L
    val latencies = mutable.ArrayBuilder.make[Double]
    ledger.ackedEntries.foreach { case (ackNs, recs) =>
      recs.foreach { r =>
        acked += 1
        val outcome = try {
          val env = ProtoWire.decode(r.data)
          val lm = env.logMessage.get
          gen.header(lm.message) match {
            case Some((seq, d)) if seq < appended && d == due(seq) =>
              val want = gen.line(seq, d)
              val msg = lm.message
              val bytesOk = msg.length == want.length + 1 && msg(want.length) == '\n' &&
                java.util.Arrays.equals(msg, 0, want.length, want, 0, want.length)
              val path = gen.paths(gen.fileOf(seq))
              if (bytesOk && lm.source_instance == path && r.partitionKey == path &&
                env.origin == Origin) {
                if (seen.get(seq.toInt)) dups += 1
                else {
                  seen.set(seq.toInt)
                  val l = lat(seq, ackNs)
                  if (!l.isNaN) latencies += l
                }
                0
              } else 1
            case _ => 2
          }
        } catch { case _: Exception => 2 }
        if (outcome == 1) mismatched += 1 else if (outcome == 2) corrupt += 1
      }
    }
    val distinct = seen.cardinality().toLong
    Check(appended, acked, appended - distinct, mismatched, corrupt, dups, latencies.result())
  }

  /** Per-line ack latency from `t0` (a drain's start), from the put ledger. */
  def ackQuantiles(ledger: Ledger, t0: Long): (Double, Double) = {
    val puts = ledger.putTimes.toArray(Array.empty[(Long, Long, Int)]).sortBy(_._2)
    val total = puts.map(_._3.toLong).sum
    def at(q: Double): Double = {
      val target = math.ceil(q * total).toLong.max(1)
      var acc = 0L
      puts.find { p => acc += p._3; acc >= target }.map(p => (p._2 - t0) / 1e6).getOrElse(Double.NaN)
    }
    (at(0.5), at(0.99))
  }

  // ---- progress-derived figures ---------------------------------------

  def ms(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  def committedBytes(json: String): Long =
    if (json == null) 0L else TailOffset.fromJson(json).offsets.values.sum
}
