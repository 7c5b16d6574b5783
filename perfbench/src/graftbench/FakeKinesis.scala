package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import graft.pipeline.{KinesisClient, KinesisRecord, PutRecordsResult, RecordResult}
import graft.sources.KinesisClientRegistry

/** The benchmark's fake Kinesis: every put is acked at once, except that
  * a seeded share of records (per mille) is rejected once, per record,
  * with ProvisionedThroughputExceededException, so the producer's
  * per-record requeue path runs. It never fails a whole request: those
  * back off 50 ms·2ⁿ and the figures would measure the sleeps.
  *
  * The ledger counts puts, records and put time. In recording mode it
  * also keeps each acked record with its ack time, for the result check.
  */
final class Ledger(val recording: Boolean, val throttlePerMille: Int, val seed: Long) {
  val puts = new LongAdder
  val putNs = new LongAdder
  val attempted = new LongAdder
  val acked = new LongAdder
  val ackedBytes = new LongAdder
  /** (ack time ns, acked records) per put; records only when recording. */
  val entries = new ConcurrentLinkedQueue[(Long, Array[KinesisRecord])]()
  /** (start ns, end ns, records acked) per put. */
  val putTimes = new ConcurrentLinkedQueue[(Long, Long, Int)]()

  def ackedEntries: Iterator[(Long, Array[KinesisRecord])] = entries.iterator().asScala
}

object FakeKinesis {
  val ClientName = "graftbench-fake"
  private val Ok = RecordResult()
  private val Throttled = RecordResult("ProvisionedThroughputExceededException",
    "Rate exceeded for shard shardId-000000000000 in stream bench")

  @volatile private var current: Ledger = new Ledger(false, 0, 0L)

  KinesisClientRegistry.register(ClientName, () => new Client(current))

  /** Routes every client made from now on to a fresh ledger. */
  def newLedger(recording: Boolean, throttlePerMille: Int, seed: Long): Ledger = {
    current = new Ledger(recording, throttlePerMille, seed)
    current
  }

  final class Client(l: Ledger) extends KinesisClient {
    private val rejectedOnce = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[KinesisRecord, java.lang.Boolean]())

    private def throttle(r: KinesisRecord): Boolean =
      l.throttlePerMille > 0 && !rejectedOnce.contains(r) && {
        var z = l.seed ^ java.util.Arrays.hashCode(r.data).toLong * 0x9E3779B97F4A7C15L
        z = (z ^ (z >>> 29)) * 0xBF58476D1CE4E5B9L
        java.lang.Long.remainderUnsigned(z ^ (z >>> 32), 1000) < l.throttlePerMille
      }

    override def putRecords(records: Seq[KinesisRecord]): PutRecordsResult = {
      val t0 = System.nanoTime()
      val n = records.size
      val results = new Array[RecordResult](n)
      val acked = if (l.recording) new Array[KinesisRecord](n) else null
      var nAcked = 0
      var bytes = 0L
      var i = 0
      val it = records.iterator
      while (it.hasNext) {
        val r = it.next()
        if (throttle(r)) { rejectedOnce.add(r); results(i) = Throttled }
        else {
          results(i) = Ok
          if (acked != null) acked(nAcked) = r
          nAcked += 1
          bytes += r.data.length
        }
        i += 1
      }
      val t1 = System.nanoTime()
      if (acked != null) l.entries.add((t1, java.util.Arrays.copyOf(acked, nAcked)))
      l.putTimes.add((t0, t1, nAcked))
      l.puts.increment(); l.putNs.add(t1 - t0)
      l.attempted.add(n); l.acked.add(nAcked); l.ackedBytes.add(bytes)
      PutRecordsResult(None, results.toSeq)
    }
  }
}
