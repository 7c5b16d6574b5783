package graft

import graft.streaming._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  private def ev(id: Long, minute: Int, uid: Long, typ: String = "click", v: Double = 1.0) =
    StreamEvent(id, ts(minute), uid, typ, v)

  /** A registered client name whose fakes acknowledge every record. */
  private def acceptingClient(): String = {
    val name = s"accept-${java.util.UUID.randomUUID()}"
    graft.sources.KinesisClientRegistry.register(name,
      () => new graft.pipeline.FakeKinesisClient())
    name
  }

  /** Starts `(data, partition_key)` rows into the graft-kinesis sink. */
  private def toKinesis(df: org.apache.spark.sql.DataFrame, client: String,
      name: String): org.apache.spark.sql.streaming.StreamingQuery =
    df.toDF("data", "partition_key").writeStream.format("graft-kinesis")
      .queryName(name).option("client", client)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory(s"graft-$name").toString)
      .start()

  /** The listener's snapshot once its sent count reached `atLeast`
    * (listener events are async) or 10 s passed.
    */
  private def awaitSent(listener: FirehoseMetricsListener, instance: String,
      atLeast: Long): Map[String, Double] = {
    val key = s"""firehose_to_kinesis_sent_count{system="$instance"}"""
    val deadline = System.currentTimeMillis() + 10000
    while (listener.snapshot(key) < atLeast && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    listener.snapshot
  }

  /** GET /metrics: (status, content type, body). */
  private def scrape(http: MetricsHttpServer): (Int, String, String) = {
    val url = new java.net.URI(s"http://127.0.0.1:${http.boundPort}/metrics").toURL
    val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
    val body = new String(conn.getInputStream.readAllBytes(), "UTF-8")
    (conn.getResponseCode, conn.getContentType, body)
  }

  test("tumbling window counts (complete mode over MemoryStream)") {
    implicit val s = spark
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    import s.implicits._
    val in = MemoryStream[StreamEvent]
    val q = StreamingOps.tumblingCounts(in.toDF())
      .writeStream.format("memory").queryName("tumbling").outputMode("complete").start()
    try {
      in.addData(ev(1, 0, 1), ev(2, 5, 1), ev(3, 12, 2), ev(4, 19, 2))
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM tumbling ORDER BY wstart").collect()
      assert(rows.map(_.getAs[Long]("n")).toSeq === Seq(2L, 2L))
    } finally q.stop()
  }

  test("watermark drops late rows in append mode") {
    implicit val s = spark
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    import s.implicits._
    val in = MemoryStream[StreamEvent]
    val q = StreamingOps.tumblingCounts(in.toDF(), window_ = "10 minutes", watermark = "5 minutes")
      .writeStream.format("memory").queryName("wm").outputMode("append").start()
    try {
      in.addData(ev(1, 0, 1), ev(2, 5, 1))
      q.processAllAvailable()
      in.addData(ev(3, 40, 1)) // advances watermark to 10:35 → [10:00,10:10) finalized
      q.processAllAvailable()
      in.addData(ev(4, 2, 9)) // late beyond watermark → dropped
      q.processAllAvailable()
      in.addData(ev(5, 59, 1)) // close the 10:40 window too
      q.processAllAvailable()
      val emitted = spark.sql("SELECT event_type, n FROM wm ORDER BY n").collect()
      // first window emitted with n=2 (late row 4 NOT counted anywhere)
      assert(emitted.exists(_.getAs[Long]("n") === 2L))
      val total = spark.sql("SELECT sum(n) s FROM wm").collect().head.getLong(0)
      assert(total <= 3L) // rows 1,2 and possibly 3; late row 4 dropped
    } finally q.stop()
  }

  test("session windows with 30-minute gap") {
    implicit val s = spark
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    import s.implicits._
    val in = MemoryStream[StreamEvent]
    val q = StreamingOps.sessionCounts(in.toDF())
      .writeStream.format("memory").queryName("sess").outputMode("append").start()
    try {
      // user 1: events at 10:00,10:05 (one session), then 11:00 (new session)
      in.addData(ev(1, 0, 1), ev(2, 5, 1))
      q.processAllAvailable()
      in.addData(StreamEvent(3, Timestamp.valueOf("2024-01-01 11:00:00"), 1, "click", 1.0))
      q.processAllAvailable()
      // push watermark far ahead so both sessions finalize
      in.addData(StreamEvent(4, Timestamp.valueOf("2024-01-01 15:00:00"), 2, "click", 1.0))
      q.processAllAvailable()
      in.addData(StreamEvent(5, Timestamp.valueOf("2024-01-01 20:00:00"), 2, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT user_id, n FROM sess WHERE user_id = 1 ORDER BY sstart").collect()
      assert(rows.map(_.getAs[Long]("n")).toSeq === Seq(2L, 1L))
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark removes dup event ids") {
    implicit val s = spark
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    import s.implicits._
    val in = MemoryStream[StreamEvent]
    val q = StreamingOps.dedupWithinWatermark(in.toDF())
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    try {
      in.addData(ev(1, 0, 1), ev(1, 1, 1), ev(2, 2, 1), ev(1, 3, 1))
      q.processAllAvailable()
      val n = spark.sql("SELECT count(*) c FROM dedup").collect().head.getLong(0)
      assert(n === 2L) // event_ids 1 and 2
    } finally q.stop()
  }

  test("flatMapGroupsWithState keeps per-user running totals across batches") {
    implicit val s = spark
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    import s.implicits._
    val in = MemoryStream[StreamEvent]
    val q = StreamingOps.statefulUserTotals(in.toDS())
      .writeStream.format("memory").queryName("stateful").outputMode("append").start()
    try {
      in.addData(ev(1, 0, 7, v = 2.0), ev(2, 1, 7, v = 3.0))
      q.processAllAvailable()
      in.addData(ev(3, 2, 7, v = 5.0))
      q.processAllAvailable()
      val last = spark.sql(
        "SELECT n_events, total_value FROM stateful WHERE user_id = 7 ORDER BY n_events DESC LIMIT 1")
        .collect().head
      assert(last.getLong(0) === 3L)
      assert(last.getDouble(1) === 10.0)
    } finally q.stop()
  }

  test("transformWithState (state v2, RocksDB) keeps per-user totals") {
    implicit val s = spark
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    import s.implicits._
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val in = MemoryStream[StreamEvent]
    val q = StreamingOps.statefulUserTotalsV2(in.toDS())
      .writeStream.format("memory").queryName("statefulv2").outputMode("append").start()
    try {
      in.addData(ev(1, 0, 3, v = 1.5), ev(2, 1, 3, v = 2.5))
      q.processAllAvailable()
      in.addData(ev(3, 2, 3, v = 6.0))
      q.processAllAvailable()
      val last = spark.sql(
        "SELECT n_events, total_value FROM statefulv2 WHERE user_id = 3 ORDER BY n_events DESC LIMIT 1")
        .collect().head
      assert(last.getLong(0) === 3L)
      assert(last.getDouble(1) === 10.0)
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("TwsUserLedger: hand-computed value/map/list state across batches") {
    implicit val s = spark
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    import s.implicits._
    val prevProvider =
      spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val in = MemoryStream[(Long, Long, String)] // (user, ts_us, type)
    val q = in.toDS()
      .groupByKey(_._1)
      .transformWithState(new operators.StreamingCatalog.TwsUserLedger,
        org.apache.spark.sql.streaming.TimeMode.None(),
        org.apache.spark.sql.streaming.OutputMode.Update())
      .toDF("user_id", "n", "n_types", "top_type_n", "last3_sum")
      .writeStream.format("memory").queryName("tws_ledger")
      .outputMode("update").start()
    try {
      // batch 1: user 7 sees a,a,b (bmax 30); user 8 sees c (bmax 5)
      in.addData((7L, 10L, "a"), (7L, 30L, "a"), (7L, 20L, "b"), (8L, 5L, "c"))
      q.processAllAvailable()
      // batch 2: user 7 sees b,b (bmax 40) -> totals 5; types a:2 b:3;
      // list [30, 40] -> last3_sum 70
      in.addData((7L, 40L, "b"), (7L, 35L, "b"))
      q.processAllAvailable()
      // batches 3+4: two more user-7 batches -> list keeps LAST 3 maxima
      in.addData((7L, 50L, "a"))
      q.processAllAvailable()
      in.addData((7L, 60L, "c"))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT n, n_types, top_type_n, last3_sum FROM tws_ledger " +
          "WHERE user_id = 7 ORDER BY n").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      // emissions: (3,2,2,30) then (5,2,3,70) then (6,2,3,120:[30,40,50])
      // then (7,3,3,150:[40,50,60]) — the batch-1 maximum ages OUT
      assert(rows === Array((3L, 2L, 2L, 30L), (5L, 2L, 3L, 70L),
        (6L, 2L, 3L, 120L), (7L, 3L, 3L, 150L)))
      val u8 = spark.sql(
        "SELECT n, n_types, top_type_n, last3_sum FROM tws_ledger " +
          "WHERE user_id = 8").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(u8 === Array((1L, 1L, 1L, 5L)))
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) =>
          spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None =>
          spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  // NOTE: a TimeMode.ProcessingTime query performs TTL maintenance on
  // every trigger, so it NEVER goes idle: processAllAvailable() does not
  // converge and even Trigger.AvailableNow does not terminate (both
  // verified empirically). That matches production — such a query runs
  // forever on a trigger interval — so the test polls the sink for the
  // expected rows while the query runs, instead of waiting for an idle
  // signal that never comes.
  test("TTL'd dedup (state v2) drops within-TTL duplicates, re-admits after expiry") {
    implicit val s = spark
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    import s.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    def ids(table: String): Seq[Long] =
      spark.sql(s"SELECT event_id FROM $table")
        .collect().map(_.getLong(0)).toSeq.sorted
    // poll until the sink holds exactly `want` ids (more would also stop
    // the wait — the assert then reports the surplus)
    def awaitIds(table: String, want: Seq[Long], timeoutMs: Long = 90000L): Unit = {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (ids(table).size < want.size && System.currentTimeMillis() < deadline)
        Thread.sleep(200L)
      // grace period to catch over-emission (a dup leaking through shows
      // up as an EXTRA row shortly after the expected ones)
      Thread.sleep(1500L)
      assert(ids(table) === want)
    }
    val in = MemoryStream[StreamEvent]
    val q = StreamingOps.dedupWithTtl(in.toDS(), ttlMillis = 600000L)
      .writeStream.format("memory").queryName("ttldedup")
      .outputMode("append").trigger(Trigger.ProcessingTime("200 milliseconds"))
      .start()
    try {
      in.addData(ev(1, 0, 1, v = 1.0), ev(1, 0, 1, v = 1.0), ev(2, 1, 2, v = 2.0))
      awaitIds("ttldedup", Seq(1L, 2L))
      in.addData(ev(1, 2, 1, v = 1.0), ev(3, 3, 3, v = 3.0)) // key 1 = dup
      awaitIds("ttldedup", Seq(1L, 2L, 3L))
      // expiry: with a short TTL, a key re-added after sleep >> ttl has
      // expired state and must be re-admitted
      val in2 = MemoryStream[StreamEvent]
      val q2 = StreamingOps.dedupWithTtl(in2.toDS(), ttlMillis = 300L)
        .writeStream.format("memory").queryName("ttldedup2")
        .outputMode("append").trigger(Trigger.ProcessingTime("200 milliseconds"))
        .start()
      try {
        in2.addData(ev(7, 0, 7, v = 1.0))
        awaitIds("ttldedup2", Seq(7L))
        Thread.sleep(2500L)
        in2.addData(ev(7, 5, 7, v = 1.0))
        awaitIds("ttldedup2", Seq(7L, 7L))
      } finally q2.stop()
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("FirehoseMetricsListener exposes reference metric names from progress") {
    implicit val s = spark
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    import s.implicits._
    val listener = new FirehoseMetricsListener("node-1")
    spark.streams.addListener(listener)
    val in = MemoryStream[(Array[Byte], String)]
    val q = toKinesis(in.toDF(), acceptingClient(), "mx")
    try {
      in.addData(("a".getBytes, "k1"), ("b".getBytes, "k2"), ("c".getBytes, "k1"))
      q.processAllAvailable()
      val snap = awaitSent(listener, "node-1", 3)
      assert(snap("""firehose_to_kinesis_sent_count{system="node-1"}""") === 3.0)
      assert(snap("""firehose_to_kinesis_dropped_count{system="node-1"}""") === 0.0)
      assert(snap("""firehose_to_kinesis_errors_count{system="node-1"}""") === 0.0)
    } finally { q.stop(); spark.streams.removeListener(listener) }
  }

  test("stream-stream interval join matches views within the lookback only") {
    implicit val s = spark
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    import s.implicits._
    val in = MemoryStream[StreamEvent]
    val all = in.toDF()
    val q = StreamingOps.clickViewJoin(
        all.filter(col("event_type") === "click"),
        all.filter(col("event_type") === "view"))
      .writeStream.format("memory").queryName("ssj").outputMode("append").start()
    try {
      in.addData(
        ev(1, 0, 1, "view"),   // within 10 min of click@8 → match
        ev(2, 30, 1, "view"),  // AFTER the click → no match
        ev(3, 8, 1, "click"),
        ev(4, 5, 2, "view"),   // other user's view
        ev(5, 40, 2, "click")) // >10 min after view 4 → no match
      q.processAllAvailable()
      val got = spark.sql("SELECT click_id, view_id FROM ssj ORDER BY click_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got === Seq((3L, 1L)))
    } finally q.stop()
  }

  test("streaming as-of join carries the last view across micro-batches") {
    implicit val s = spark
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    import s.implicits._
    val in = MemoryStream[StreamEvent]
    val q = StreamingOps.streamingAsOf(in.toDS())
      .writeStream.format("memory").queryName("asof").outputMode("append").start()
    try {
      // batch 1: view(10) then click(11) for user 1; click(20) for user 2
      // with no view yet → None
      in.addData(ev(10, 0, 1, "view"), ev(11, 2, 1, "click"),
        ev(20, 1, 2, "click"))
      q.processAllAvailable()
      // batch 2: user 1 clicks again (still matches view 10 from batch
      // 1's state), then a newer view(12) and a click after it
      in.addData(ev(13, 5, 1, "click"), ev(12, 7, 1, "view"),
        ev(14, 9, 1, "click"))
      q.processAllAvailable()
      val rows = spark.sql("SELECT click_id, prev_view_id FROM asof ORDER BY click_id")
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
      assert(rows(11L) === Some(10L)) // same-batch view before click
      assert(rows(20L) === None) // no view for user 2
      assert(rows(13L) === Some(10L)) // state carried from batch 1
      assert(rows(14L) === Some(12L)) // newer view supersedes within batch 2
    } finally q.stop()
  }

  test("A4: /metrics serves Prometheus exposition over HTTP (reference main.go:410-413)") {
    implicit val s = spark
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    import s.implicits._
    val listener = new FirehoseMetricsListener("web/0")
    spark.streams.addListener(listener)
    val http = new MetricsHttpServer(() => listener.snapshot, port = 0)
    val in = MemoryStream[(Array[Byte], String)]
    val q = toKinesis(in.toDF(), acceptingClient(), "mxh")
    try {
      in.addData(("a".getBytes, "k1"), ("b".getBytes, "k2"))
      q.processAllAvailable()
      awaitSent(listener, "web/0", 2)
      val (status, contentType, body) = scrape(http)
      assert(status === 200)
      assert(contentType.startsWith("text/plain"))
      assert(body.contains("# TYPE firehose_to_kinesis_sent_count gauge"))
      assert(body.linesIterator.contains("firehose_to_kinesis_sent_count{system=\"web/0\"} 2"))
    } finally { q.stop(); http.close(); spark.streams.removeListener(listener) }
  }

  test("/metrics reports what the sink delivered, dropped and retried under scripted failures") {
    import graft.pipeline.{FakeKinesisClient, KinesisClient, KinesisRecord, PutRecordsResult, RecordResult}
    val no = RecordResult("ProvisionedThroughputExceededException", "throttled")
    val ok = RecordResult()
    // one sequential task per epoch (one file), so one shared script:
    // epoch 1 (5 lines): a request error, then 3 acked and 2 failing
    // 5 times (K6 drops them); epoch 2 (3 lines): 2 acked, 1 dropped
    val fake = new FakeKinesisClient(
      Seq(PutRecordsResult(Some("InternalFailure"), Nil),
        PutRecordsResult(None, Seq(no, no, ok, ok, ok))) ++
      Seq.fill(4)(PutRecordsResult(None, Seq(no, no))) ++
      Seq(PutRecordsResult(None, Seq(no, ok, ok))) ++
      Seq.fill(4)(PutRecordsResult(None, Seq(no))))
    val clientName = s"scripted-${java.util.UUID.randomUUID()}"
    graft.sources.KinesisClientRegistry.register(clientName, () => new KinesisClient {
      override def putRecords(records: Seq[KinesisRecord]): PutRecordsResult =
        fake.synchronized(fake.putRecords(records))
    })
    val root = java.nio.file.Files.createTempDirectory("graft-mx-scripted").toAbsolutePath
    val log = root.resolve("app.log")
    def append(lines: String*): Unit =
      java.nio.file.Files.writeString(log, lines.map(_ + "\n").mkString,
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)

    val listener = new FirehoseMetricsListener("web/0", Some("mx_scripted"))
    spark.streams.addListener(listener)
    val http = new MetricsHttpServer(() => listener.snapshot, port = 0)
    val idleKey = "spark.sql.streaming.noDataProgressEventInterval"
    val idlePrev = spark.conf.getOption(idleKey)
    spark.conf.set(idleKey, "100") // report idle triggers every 100 ms
    val lines = spark.readStream.format("graft-tail")
      .option("path", root.toString).option("glob", "*.log").load()
    val q = graft.pipeline.EnvelopePipeline.encode(lines, "web/0")
      .writeStream.format("graft-kinesis").queryName("mx_scripted")
      .option("client", clientName)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-mx-ckpt").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
      .start()
    def series(body: String, name: String): Double =
      body.linesIterator.collectFirst {
        case l if l.startsWith(s"""firehose_to_kinesis_$name{system="web/0"} """) =>
          l.split(' ').last.toDouble
      }.getOrElse(fail(s"no $name series in:\n$body"))
    try {
      append("a1", "a2", "a3", "a4", "a5")
      q.processAllAvailable()
      awaitSent(listener, "web/0", 3)
      append("b1", "b2", "b3")
      q.processAllAvailable()
      awaitSent(listener, "web/0", 5)
      val acked = fake.synchronized(fake.allSentRecords.size)
      assert(acked === 5)

      // idle triggers (no new lines) report progress but must not move
      // the counters
      val drained = listener.snapshot
      val t0 = java.time.Instant.now()
      def idle = q.recentProgress.count(p =>
        p.numInputRows == 0 && java.time.Instant.parse(p.timestamp).isAfter(t0))
      val deadline = System.currentTimeMillis() + 10000
      while (idle < 2 && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(idle >= 2, "no idle trigger was reported")
      assert(listener.snapshot === drained)

      val (status, _, body) = scrape(http)
      assert(status === 200)
      assert(series(body, "sent_count") === acked.toDouble)
      assert(series(body, "dropped_count") === 3.0)
      assert(series(body, "errors_count") === 1.0)
    } finally {
      q.stop(); http.close(); spark.streams.removeListener(listener)
      idlePrev match {
        case Some(v) => spark.conf.set(idleKey, v)
        case None => spark.conf.unset(idleKey)
      }
    }
  }

  test("timer sessionizer closes sessions when the watermark passes the gap") {
    implicit val s = spark
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    import s.implicits._
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val in = MemoryStream[StreamEvent]
    val q = StreamingOps.sessionizeWithTimers(in.toDS(), gapMillis = 600000L)
      .writeStream.format("memory").queryName("timersess")
      .outputMode("append").start()
    try {
      // user 1: two events in one session; user 2: one event
      in.addData(ev(1, 0, 1, v = 1.0), ev(2, 1, 1, v = 2.0), ev(3, 0, 2, v = 5.0))
      q.processAllAvailable()
      // nothing closed yet — watermark is still at 10:01 - 1s
      assert(spark.sql("SELECT * FROM timersess").count() == 0L)
      // an event 30 min later advances the watermark past both
      // close timers (last + 10 min); timers fire on the NEXT batch
      in.addData(ev(4, 30, 3))
      q.processAllAvailable()
      in.addData(ev(5, 31, 3))
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM timersess ORDER BY user_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
      assert(rows.toSeq == Seq((1L, 2L, 3.0, true), (2L, 1L, 5.0, true)),
        s"both idle sessions closed exactly once: ${rows.toSeq}")
      // user 9: two events 30 min apart in ONE batch — an event-time
      // gap > 10 min must SPLIT them into two sessions (the
      // session_window rule), not fold them into one accumulator
      in.addData(ev(6, 60, 9, v = 1.0), ev(7, 90, 9, v = 2.0))
      q.processAllAvailable()
      in.addData(ev(8, 130, 3)) // advance watermark past both closes
      q.processAllAvailable()
      in.addData(ev(9, 131, 3)) // timers fire on the next batch
      q.processAllAvailable()
      val split = spark.sql(
          "SELECT * FROM timersess WHERE user_id = 9 ORDER BY n_events")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
      assert(split.toSeq == Seq((9L, 1L, 1.0, true), (9L, 1L, 2.0, true)),
        s"a 30-min gap splits into two 1-event sessions: ${split.toSeq}")
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("idempotent sink end-to-end: a foreachBatch stream lands each batch exactly once") {
    implicit val s = spark
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-idem-e2e").toString
    val in = MemoryStream[StreamEvent]
    val write = StreamingOps.idempotentBatchWriter(root)
    val q = in.toDF().select(col("event_id"))
      .writeStream.foreachBatch(write).start()
    try {
      in.addData(ev(1, 0, 1), ev(2, 1, 1))
      q.processAllAvailable()
      in.addData(ev(3, 2, 2))
      q.processAllAvailable()
    } finally q.stop()
    val dirs = StreamingOps.committedBatches(root)
    assert(dirs.nonEmpty, "stream committed at least one batch")
    val ids = spark.read.parquet(dirs: _*).as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L), s"every event exactly once: $ids")
  }

  test("idempotent foreachBatch sink: replayed batch skipped, unmarked dirs invisible") {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-idem").toString
    val write = graft.streaming.StreamingOps.idempotentBatchWriter(root)
    write(Seq(1L, 2L, 3L).toDF("v"), 0L)
    // replay of batch 0 (same id — the streaming contract) must be a no-op
    write(Seq(99L).toDF("v"), 0L)
    write(Seq(4L, 5L).toDF("v"), 1L)
    // a half-written batch: directory exists, marker never created
    Seq(7L).toDF("v").write.parquet(s"$root/batch=9")
    val dirs = graft.streaming.StreamingOps.committedBatches(root)
    assert(dirs.map(_.split('=').last).sorted == Seq("0", "1"),
      s"only marked batches are visible: $dirs")
    val vals = spark.read.parquet(dirs: _*).as[Long].collect().sorted.toSeq
    assert(vals == Seq(1L, 2L, 3L, 4L, 5L),
      s"replay wrote nothing, half-written batch invisible: $vals")
  }

  test("isolated newSession() carries the RocksDB provider to its query (q158 mechanism)") {
    import scala.jdk.CollectionConverters._
    val parentBefore =
      spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    val iso = spark.newSession()
    iso.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val sqlc: org.apache.spark.sql.SQLContext = iso.sqlContext
    import iso.implicits._
    val in = MemoryStream[Long]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-isorocks")
    val q = in.toDF().toDF("v").groupBy(col("v")).count()
      .writeStream.format("memory").queryName("graft_iso_rocks")
      .outputMode("update")
      .option("checkpointLocation", ckpt.toString)
      .start()
    try {
      in.addData(1L, 2L, 2L)
      q.processAllAvailable()
      // RocksDB-provider custom metrics in the progress are the proof
      // the stateful operator actually ran on RocksDB — the HDFS-backed
      // default emits none of these keys, so a silent fallback fails here
      val metricKeys = q.lastProgress.stateOperators.toSeq
        .flatMap(_.customMetrics.keySet.asScala)
      assert(metricKeys.exists(_.toLowerCase.contains("rocksdb")),
        s"expected rocksdb custom metrics, got: $metricKeys")
      // and the provider conf must NOT have leaked into the parent session
      assert(spark.conf.getOption(
        "spark.sql.streaming.stateStore.providerClass") == parentBefore,
        "isolated-session conf leaked into the parent session")
    } finally {
      q.stop()
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(ckpt.toFile)
    }
  }

  test("changelog checkpointing writes .changelog files (q229 mechanism)") {
    // q229's restart certification rests on snapshot + changelog replay
    // actually being the recovery path; if the conf silently fell back
    // to full per-batch snapshots the oracle would still pass, so the
    // mechanism is pinned here: the state checkpoint must contain
    // RocksDB changelog files after a few commits.
    val iso = spark.newSession()
    iso.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    iso.conf.set(
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "true")
    implicit val sqlc: org.apache.spark.sql.SQLContext = iso.sqlContext
    import iso.implicits._
    val in = MemoryStream[Long]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-chglog")
    val q = in.toDF().toDF("v").groupBy(col("v")).count()
      .writeStream.format("memory").queryName("graft_chglog_sink")
      .outputMode("update")
      .option("checkpointLocation", ckpt.toString)
      .start()
    try {
      (1 to 3).foreach { i =>
        in.addData(i.toLong, i.toLong + 1)
        q.processAllAvailable()
      }
      def walk(f: java.io.File): Seq[java.io.File] =
        Option(f.listFiles()).map(_.toSeq.flatMap(c => c +: walk(c)))
          .getOrElse(Seq.empty)
      val names = walk(ckpt.toFile).map(_.getName)
      assert(names.exists(_.endsWith(".changelog")),
        s"expected RocksDB .changelog files under the checkpoint, " +
          s"saw: ${names.filter(_.nonEmpty).take(40)}")
    } finally {
      q.stop()
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(ckpt.toFile)
    }
  }
}
