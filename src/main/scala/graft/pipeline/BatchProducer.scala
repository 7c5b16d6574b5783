package graft.pipeline

import scala.collection.mutable

/** Producer configuration — semantics and defaults match the reference's
  * hard-coded engine constants (main.go:84-93, batchproducer.go:14):
  * 500-record requests, 5000-record buffer, 5 attempts/record, drop only
  * after ≥5 consecutive request errors with a ≥95%-full buffer.
  */
final case class ProducerConfig(
    batchSize: Int = 500,
    bufferSize: Int = 5000,
    maxAttemptsPerRecord: Int = 5,
    initialBackoffMillis: Long = 50,
    dropConsecutiveErrorThreshold: Int = 5,
    dropBufferFullnessPct: Int = 95,
    addBlockFullnessPct: Int = 99,
    // Deliberate delta vs the reference: its backoff doubles UNBOUNDED
    // (batchproducer.go:326-331 — 20 consecutive errors ≈ 7 h of sleep).
    // Capping the exponent (50ms << 6 = 3.2 s) keeps a failing partition
    // task responsive so the flush deadline / task retry can take over.
    maxBackoffExponent: Int = 6,
    // Bound on the sink's per-task drain (KinesisDataWriter.commit):
    // records still undelivered at the deadline fail the task → Spark
    // task retry replays the epoch (at-least-once, same class as the
    // reference's requeue-at-back).
    flushTimeoutMillis: Long = 30000)

/** Delivery counters (StatsBatch, batchproducer.go:54-62). */
final case class ProducerStats(
    sent: Long, droppedRecords: Long, droppedBatches: Long,
    requestErrors: Long, recordErrors: Long, buffered: Int)

/** The reference's micro-batching "execution engine" (K1–K7 in SURVEY.md
  * §2.3), re-expressed as a synchronous, single-owner core:
  *
  *  - K1 bounded buffer: fixed-capacity queue; `add` reports backpressure
  *    at ≥99% fullness instead of blocking a goroutine — the Spark caller
  *    (a partition task) drains synchronously, so "block" = drain now.
  *  - K2 trigger: size-triggered inside `add`; the time trigger belongs to
  *    the enclosing Structured Streaming micro-batch, so `flush()` is the
  *    interval/shutdown path (K7).
  *  - K3 batch assembly: dequeues ≤ batchSize records per request.
  *  - K4 whole-request retry: consecutive-error counter, 50ms backoff
  *    doubling unbounded, failed batch re-enqueued at the BACK of the
  *    buffer (ordering loss acknowledged in the reference too,
  *    batchproducer.go:413-414).
  *  - K5 load shedding: after ≥5 consecutive request errors AND ≥95%-full
  *    buffer, the failed batch is dropped and counted.
  *  - K6 per-record retry: records failed inside a partial success are
  *    re-enqueued until maxAttemptsPerRecord, then dropped and counted.
  *  - K7 flush/drain: send full batches until empty or deadline.
  *
  * Clock/sleep are injected so specs can assert the exact backoff sequence
  * without wall-clock waits. Not thread-safe by design: one instance per
  * partition task (Spark's parallelism replaces the reference's single
  * producer goroutine — the parallel-send upgrade batchproducer.go:283
  * wished for).
  */
final class BatchProducer(
    client: KinesisClient,
    val config: ProducerConfig = ProducerConfig(),
    sleep: Long => Unit = Thread.sleep,
    nowMillis: () => Long = System.currentTimeMillis) {

  private final case class Pending(rec: KinesisRecord, attempts: Int)

  private val buffer = mutable.Queue[Pending]()
  private var consecutiveErrors = 0
  private var sentCount = 0L
  private var droppedRecordCount = 0L
  private var droppedBatchCount = 0L
  private var requestErrorCount = 0L
  private var recordErrorCount = 0L

  def stats: ProducerStats = ProducerStats(
    sentCount, droppedRecordCount, droppedBatchCount,
    requestErrorCount, recordErrorCount, buffer.size)

  private def fullnessPct: Int =
    if (config.bufferSize == 0) 100 else buffer.size * 100 / config.bufferSize

  /** K1 + K2: enqueue one record; drain while the buffer is at/above the
    * blocking threshold (the synchronous analogue of AddBlocksWhenBufferFull)
    * and opportunistically send when a full batch is buffered.
    */
  def add(data: Array[Byte], partitionKey: String): Unit = {
    buffer.enqueue(Pending(KinesisRecord(data, partitionKey), 0))
    while (fullnessPct >= config.addBlockFullnessPct && buffer.nonEmpty)
      sendOneBatch()
    if (buffer.size >= config.batchSize) sendOneBatch()
  }

  /** K7: drain everything (or until the deadline). Returns records left. */
  def flush(timeoutMillis: Long = Long.MaxValue): Int = {
    val deadline = // guard the no-timeout default against Long overflow
      if (timeoutMillis >= Long.MaxValue - nowMillis()) Long.MaxValue
      else nowMillis() + timeoutMillis
    while (buffer.nonEmpty && nowMillis() < deadline) sendOneBatch()
    buffer.size
  }

  /** K3–K6: one PutRecords round trip with the reference's failure policy. */
  private def sendOneBatch(): Unit = {
    if (buffer.isEmpty) return
    // K5 fullness is measured WITH the in-flight batch still counted
    // (pre-dequeue). The reference checks channel occupancy after the
    // take (batchproducer.go:377-379), but its concurrent Add refills
    // the channel during the failed round trip, so the check sees a
    // ~full buffer; in this synchronous port nothing refills mid-send,
    // and a post-dequeue check can NEVER reach 95% when the batch is
    // >4% of the buffer (default 10%) — add() would livelock forever on
    // a persistently failing endpoint, the exact hang the reference's
    // shed exists to prevent ("In order to prevent Add from hanging
    // indefinitely", batchproducer.go:347).
    val fullnessAtSend = fullnessPct
    val n = math.min(config.batchSize, buffer.size)
    val batch = (0 until n).map(_ => buffer.dequeue()).toIndexedSeq
    val result = client.putRecords(batch.map(_.rec))

    result.requestError match {
      case Some(_) =>
        // K4: whole-request failure
        requestErrorCount += 1
        consecutiveErrors += 1
        val backoff = config.initialBackoffMillis <<
          math.min(consecutiveErrors - 1, config.maxBackoffExponent)
        sleep(backoff)
        if (consecutiveErrors >= config.dropConsecutiveErrorThreshold &&
          fullnessAtSend >= config.dropBufferFullnessPct) {
          // K5: shed the failed batch
          droppedBatchCount += 1
          droppedRecordCount += batch.size
        } else {
          // re-enqueue at the back (ordering is best-effort, as in reference)
          batch.foreach(buffer.enqueue(_))
        }
      case None =>
        consecutiveErrors = 0
        if (result.failedCount == 0) {
          sentCount += batch.size
        } else {
          // K6: partial success — per-record retry-or-drop
          val results = result.records
          batch.zipWithIndex.foreach { case (p, i) =>
            if (i < results.size && results(i).errorCode.nonEmpty) {
              recordErrorCount += 1
              if (p.attempts + 1 >= config.maxAttemptsPerRecord) droppedRecordCount += 1
              else buffer.enqueue(Pending(p.rec, p.attempts + 1))
            } else sentCount += 1
          }
        }
    }
  }
}
