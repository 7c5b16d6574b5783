package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, ListState, OutputMode, StatefulProcessor, StreamingQueryListener, TimeMode, TimerValues, TTLConfig, ValueState}

/** Event shape used by the streaming operators (matches the `events`
  * testdata table after Tables.events).
  */
final case class StreamEvent(
    event_id: Long, ts: java.sql.Timestamp, user_id: Long,
    event_type: String, value: Double)

final case class UserSession(
    user_id: Long, n_events: Long, total_value: Double, closed: Boolean)

/** One as-of match: a click with the most recent prior view of the same
  * user (None when no view has been seen yet).
  */
final case class AsOfMatch(
    click_id: Long, user_id: Long, prev_view_id: Option[Long])

/** Carried as-of state: the latest view seen so far, by (ts, event_id)
  * order.
  */
final case class LastView(ts_millis: Long, event_id: Long)

/** Structured-Streaming operator surface (SURVEY.md §2.5 "Streaming
  * windows" / "Watermark" / "Stateful ops"): every function takes a
  * DataFrame that can come from `readStream` (MemoryStream in specs) or a
  * batch frame — the transformations are identical, only the source and
  * sink differ. StreamingSpec drives them with MemoryStream +
  * processAllAvailable.
  */
object StreamingOps {

  /** Tumbling event-time window with watermark: late rows beyond 10min
    * are dropped once the watermark passes (the reference can't have late
    * data at all — ingest-time stamping, main.go:331 — so the watermark
    * is the engine's strictly-more-general replacement).
    */
  def tumblingCounts(events: DataFrame, window_ : String = "10 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(col("window.start").as("wstart"), col("window.end").as("wend"),
        col("event_type"), col("n"), col("total"))

  /** Session window (event-time gap) — streaming equivalent of q26. The
    * watermark defaults to the session gap: a lateness bound SHORTER than
    * the gap would split sessions the gap semantics still allow, and a
    * longer one holds needless state.
    */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
      watermark: Option[String] = None): DataFrame =
    events
      .withWatermark("ts", watermark.getOrElse(gap))
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("session_window.start").as("sstart"), col("n"))

  /** Streaming dedup bounded by watermark (S4's registry, generalized to
    * data-plane dedup; state is pruned as the watermark advances —
    * mandatory at 100 TB, unbounded dedup state OOMs).
    */
  def dedupWithinWatermark(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Custom keyed state (K4/K6-style bookkeeping generalized):
    * per-user running totals via flatMapGroupsWithState — emits a snapshot
    * per input group per batch. NoTimeout keeps micro-batch scheduling
    * data-driven (a processing-time timeout would have Spark re-firing
    * empty batches to evaluate timers, which never converges under
    * `processAllAvailable` in tests; production timer-based eviction is a
    * policy layered on top, not exercised here).
    */
  def statefulUserTotals(events: Dataset[StreamEvent])(
      implicit s: SparkSession): Dataset[UserSession] = {
    import s.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[UserSession, UserSession](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[StreamEvent], state: GroupState[UserSession]) =>
          val prev = state.getOption.getOrElse(UserSession(uid, 0L, 0.0, closed = false))
          var n = prev.n_events
          var tot = prev.total_value
          rows.foreach { e => n += 1; tot += e.value }
          val next = UserSession(uid, n, tot, closed = false)
          state.update(next)
          Iterator.single(next)
      }
  }
  /** Stream-stream inner join with an event-time range condition: each
    * click joined to the same user's views from the preceding `lookback`.
    * Both sides carry watermarks + the time-range predicate, so Spark
    * bounds the join state (rows older than watermark+lookback are
    * evicted) — the REQUIRED shape for an unbounded-stream join; without
    * the range condition state grows forever.
    */
  def clickViewJoin(
      clicks: DataFrame, views: DataFrame,
      watermark: String = "10 minutes",
      lookback: String = "10 minutes"): DataFrame = {
    val c = clicks.withWatermark("ts", watermark)
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("cts"))
    val v = views.withWatermark("ts", watermark)
      .select(col("event_id").as("view_id"), col("user_id").as("vuser"),
        col("ts").as("vts"))
    c.join(v,
      col("user_id") === col("vuser") &&
        col("vts") >= col("cts") - expr(s"INTERVAL $lookback") &&
        col("vts") <= col("cts"))
      .select(col("click_id"), col("user_id"), col("view_id"))
  }

  /** Streaming as-of join (the unbounded form of the batch q51): every
    * 'click' event is emitted with the most recent prior 'view' id of the
    * same user. One state slot per user (the latest view's (ts, id)) —
    * constant state per key, no join explosion, exactly the scalable
    * as-of shape. Within a micro-batch rows are processed in (ts,
    * event_id) order; across batches the carried state is monotonic by
    * that order, so in-order streams get exact q51 semantics and
    * late-arriving views only affect clicks in later batches (document
    * delta: a full out-of-order guarantee needs watermark buffering).
    */
  def streamingAsOf(events: Dataset[StreamEvent])(
      implicit s: SparkSession): Dataset[AsOfMatch] = {
    import s.implicits._
    events
      .filter(e => e.event_type == "click" || e.event_type == "view")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LastView, AsOfMatch](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[StreamEvent], state: GroupState[LastView]) =>
          var last = state.getOption
          val out = Seq.newBuilder[AsOfMatch]
          rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            if (e.event_type == "view") {
              val cand = LastView(e.ts.getTime, e.event_id)
              val newer = last.forall(l =>
                cand.ts_millis > l.ts_millis ||
                  (cand.ts_millis == l.ts_millis && cand.event_id > l.event_id))
              if (newer) last = Some(cand)
            } else {
              out += AsOfMatch(e.event_id, uid, last.map(_.event_id))
            }
          }
          last.foreach(state.update)
          out.result().iterator
      }
  }

  /** Streaming exact dedup with TTL'd state (state v2): emit a record
    * only the FIRST time its key is seen within `ttlMillis`; the store
    * evicts stale fingerprints itself. This is the processing-time
    * complement of [[dedupWithinWatermark]]: that one needs an
    * event-time column and bounds state by watermark; this one bounds
    * state by TTL and needs none — the right tool when the stream has
    * no usable event time (the reference's ingest-stamped envelopes,
    * main.go:331, are exactly that). Requires the RocksDB state store
    * and TimeMode.ProcessingTime (TTL is wall-clock).
    *
    * Test-harness caveat: a ProcessingTime query performs TTL
    * maintenance on every trigger, so `processAllAvailable()` never
    * converges — drain with `Trigger.AvailableNow` instead (see
    * StreamingSpec).
    */
  def dedupWithTtl(events: Dataset[StreamEvent], ttlMillis: Long = 60000L)(
      implicit s: SparkSession): Dataset[StreamEvent] = {
    import s.implicits._
    events.groupByKey(_.event_id)
      .transformWithState(new TtlDedupProcessor(ttlMillis),
        TimeMode.ProcessingTime(), OutputMode.Append())
  }

  /** Idempotent foreachBatch file sink — the exactly-once pattern for
    * sinks without transactions: Structured Streaming guarantees each
    * batchId is REPLAYED with identical contents after a failure, so a
    * sink that (1) writes batch `b` to its own directory and (2) marks
    * `b` complete with an atomically-created marker file AFTER the data
    * lands turns at-least-once delivery into exactly-once output: a
    * replayed batch sees its marker and skips. Readers take only marked
    * directories ([[committedBatches]]). Works on any filesystem with
    * atomic create-if-absent (HDFS/local; object stores need a
    * conditional-put equivalent).
    */
  def idempotentBatchWriter(root: String): (DataFrame, Long) => Unit = {
    (df, batchId) => {
      val dir = new java.io.File(root, s"batch=$batchId")
      val marker = new java.io.File(root, s"_batch-$batchId.done")
      if (!marker.exists()) {
        df.write.mode("overwrite").parquet(dir.toString)
        if (!marker.createNewFile() && !marker.exists())
          throw new java.io.IOException(s"cannot mark batch $batchId")
      }
    }
  }

  /** Directories of batches the idempotent writer fully committed —
    * half-written (unmarked) batch dirs are invisible to readers.
    */
  def committedBatches(root: String): Seq[String] =
    Option(new java.io.File(root).listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("_batch-") && f.getName.endsWith(".done"))
      .map(_.getName.stripPrefix("_batch-").stripSuffix(".done"))
      // numeric order: lexicographic .sorted would interleave batch 10
      // before batch 2, breaking any consumer that replays in commit
      // order (the natural use of an exactly-once batch log)
      .sortBy(_.toLong).map(b => s"$root/batch=$b").toSeq

  /** Timer-driven sessionization on the transformWithState API: gap
    * sessions like the builtin `session_window` (q26), but with the
    * session CLOSE emitted by an event-time TIMER when the watermark
    * passes last-event + gap — the mechanism the builtin cannot expose
    * for custom semantics (emit-on-close only, partial-session
    * heartbeats, per-key side effects at close). State is the list of
    * OPEN sessions per key (session_window's merge rule — an event
    * joins or bridges sessions within gap, or opens its own); timers
    * are bounded by live sessions, and a timer firing closes exactly
    * the sessions whose last + gap the watermark has passed.
    */
  def sessionizeWithTimers(events: Dataset[StreamEvent],
      gapMillis: Long = 600000L)(
      implicit s: SparkSession): Dataset[UserSession] = {
    import s.implicits._
    events.withWatermark("ts", "1 second")
      .groupByKey(_.user_id)
      .transformWithState(new TimerSessionizer(gapMillis),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Same running totals on the transformWithState API (Spark 4's
    * arbitrary-state v2: named typed state slots + TTL + timers instead
    * of one opaque GroupState). Requires the RocksDB state store
    * provider — set
    * `spark.sql.streaming.stateStore.providerClass=...RocksDBStateStoreProvider`
    * before starting the query (StreamingSpec does).
    */
  def statefulUserTotalsV2(events: Dataset[StreamEvent])(
      implicit s: SparkSession): Dataset[UserSession] = {
    import s.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new UserTotalsProcessor,
        TimeMode.None(), OutputMode.Append())
  }
}

/** StatefulProcessor for TTL'd dedup: one TTL'd ValueState[Boolean] per
  * key; a key with live state is a duplicate and emits nothing. The
  * store prunes expired entries, so state is bounded by the key arrival
  * rate × TTL, not the stream's lifetime.
  */
class TtlDedupProcessor(ttlMillis: Long)
    extends StatefulProcessor[Long, StreamEvent, StreamEvent] {
  @transient private var seen: ValueState[Boolean] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    seen = getHandle.getValueState[Boolean](
      "seen", Encoders.scalaBoolean,
      TTLConfig(java.time.Duration.ofMillis(ttlMillis)))

  override def handleInputRows(
      key: Long, rows: Iterator[StreamEvent],
      timerValues: TimerValues): Iterator[StreamEvent] = {
    if (seen.exists()) Iterator.empty
    else {
      seen.update(true)
      // multiple rows for the key in ONE batch are also duplicates:
      // emit only the first
      rows.take(1)
    }
  }
}

/** One open gap-session carried between micro-batches; `timer_ms` is
  * its registered close time (last + gap), informational once armed.
  */
final case class SessionAgg(
    user_id: Long, start_ms: Long, last_ms: Long,
    n_events: Long, total_value: Double, timer_ms: Long)

/** StatefulProcessor for [[StreamingOps.sessionizeWithTimers]]: state
  * is the LIST of a user's open sessions — a row joins (and possibly
  * bridges) every session within `gap` of it, or opens a new one, the
  * builtin session_window merge rule; folding everything into one
  * accumulator would silently merge sessions an event-time gap should
  * split. Each session arms a close timer at last + gap; when a timer
  * fires (the watermark passed it), exactly the sessions whose close
  * time has been reached emit CLOSED and leave the list — so
  * out-of-order rows still within the watermark can extend or bridge
  * an open session right up to the instant it is provably over.
  * Stale timers left by extended/merged sessions fire empty.
  */
class TimerSessionizer(gapMillis: Long)
    extends StatefulProcessor[Long, StreamEvent, UserSession] {
  @transient private var sess: ListState[SessionAgg] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    sess = getHandle.getListState[SessionAgg](
      "sess", Encoders.product[SessionAgg], TTLConfig.NONE)

  override def handleInputRows(
      uid: Long, rows: Iterator[StreamEvent],
      timerValues: TimerValues): Iterator[UserSession] = {
    var open = sess.get().toList
    rows.foreach { e =>
      val t = e.ts.getTime
      val (touch, keep) = open.partition(sg =>
        t >= sg.start_ms - gapMillis && t <= sg.last_ms + gapMillis)
      val merged = touch.foldLeft(
        SessionAgg(uid, t, t, 1L, e.value, -1L)) { (acc, sg) =>
        acc.copy(
          start_ms = math.min(acc.start_ms, sg.start_ms),
          last_ms = math.max(acc.last_ms, sg.last_ms),
          n_events = acc.n_events + sg.n_events,
          total_value = acc.total_value + sg.total_value)
      }
      open = merged :: keep
    }
    val armed = open.map { sg =>
      val closeAt = sg.last_ms + gapMillis
      getHandle.registerTimer(closeAt)
      sg.copy(timer_ms = closeAt)
    }
    sess.clear()
    if (armed.nonEmpty) sess.put(armed.toArray)
    Iterator.empty
  }

  override def handleExpiredTimer(
      uid: Long, timerValues: TimerValues,
      expired: ExpiredTimerInfo): Iterator[UserSession] = {
    val now = expired.getExpiryTimeInMs
    val (closed, still) = sess.get().toList
      .partition(sg => sg.last_ms + gapMillis <= now)
    sess.clear()
    if (still.nonEmpty) sess.put(still.toArray)
    closed.sortBy(_.start_ms).iterator
      .map(sg => UserSession(uid, sg.n_events, sg.total_value, closed = true))
  }
}

/** StatefulProcessor holding one ValueState[UserSession] per user. */
class UserTotalsProcessor extends StatefulProcessor[Long, StreamEvent, UserSession] {
  @transient private var state: ValueState[UserSession] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    state = getHandle.getValueState[UserSession](
      "totals", Encoders.product[UserSession], TTLConfig.NONE)

  override def handleInputRows(
      uid: Long, rows: Iterator[StreamEvent],
      timerValues: TimerValues): Iterator[UserSession] = {
    val prev = if (state.exists()) state.get()
      else UserSession(uid, 0L, 0.0, closed = false)
    var n = prev.n_events
    var tot = prev.total_value
    rows.foreach { e => n += 1; tot += e.value }
    val next = UserSession(uid, n, tot, closed = false)
    state.update(next)
    Iterator.single(next)
  }
}

/** A2–A4: the reference's 5s stats emission + Prometheus-name metrics
  * (main.go:27-47,147-152) mapped onto StreamingQueryListener progress
  * events, exposed by `snapshot` under the reference's metric names.
  *
  * The delivery counters come from the `graft-kinesis` sink's metrics
  * (`progress.sink.metrics`): records the service acknowledged, records
  * dropped after their retries (K5/K6) and request-level errors (K4) —
  * never rows read. The sink reports totals per query run, so a run's
  * latest report replaces its previous one (a repeated report changes
  * nothing; idle triggers post no progress event at all) and the
  * snapshot sums the runs: a restarted query keeps counting from where
  * the last run stopped.
  *
  * `queryName`: restrict accumulation to one named query — a session
  * listener sees EVERY streaming query's progress, and with more than
  * one running the per-instance counters would silently sum them all.
  * None = accumulate everything (single-query apps, tests).
  */
final class FirehoseMetricsListener(
    instance: String, queryName: Option[String] = None)
    extends StreamingQueryListener {
  // listener-bus delivery is single-threaded, but snapshot() readers race
  // the updates — guard the state so a scrape never sees a torn set
  private val lock = new Object
  // per query run: (sent, dropped, errors) as the sink last reported them
  private val delivered = scala.collection.mutable.Map[java.util.UUID, (Long, Long, Long)]()
  private var rowsPerSec = 0.0
  private var batches = 0L

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (queryName.forall(_ == p.name)) lock.synchronized {
      val m = p.sink.metrics
      if (m.containsKey("sent"))
        delivered(p.runId) =
          (m.get("sent").toLong, m.get("dropped").toLong, m.get("errors").toLong)
      rowsPerSec = p.processedRowsPerSecond
      batches += 1
    }
  }

  /** Reference metric names, labeled by `system` = instance (main.go:32-46). */
  def snapshot: Map[String, Double] = lock.synchronized {
    val runs = delivered.values
    Map(
      s"""firehose_to_kinesis_sent_count{system="$instance"}""" -> runs.map(_._1).sum.toDouble,
      s"""firehose_to_kinesis_dropped_count{system="$instance"}""" -> runs.map(_._2).sum.toDouble,
      s"""firehose_to_kinesis_errors_count{system="$instance"}""" -> runs.map(_._3).sum.toDouble,
      s"""firehose_to_kinesis_rows_per_sec{system="$instance"}""" -> rowsPerSec,
      s"""firehose_to_kinesis_batches{system="$instance"}""" -> batches.toDouble)
  }
}
