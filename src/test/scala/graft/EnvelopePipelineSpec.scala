package graft

import java.nio.file.{Files, Path}
import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import graft.functions.ProtoWire
import graft.model.Envelope
import graft.pipeline.{EnvelopePipeline => EP, FakeKinesisClient}
import graft.sources.KinesisClientRegistry
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

/** The reference's job on its one path: `graft-tail` → `encode` →
  * `graft-kinesis`, over the FIXTURES.md §A.1 layout.
  */
class EnvelopePipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def writeFixture(): Path = {
    // FIXTURES.md §A.1 layout: nested dirs, non-matching file, unterminated tail
    val root = Files.createTempDirectory("graft-watch").toAbsolutePath
    Files.writeString(root.resolve("a.log"), "l1\nl2\n")
    Files.createDirectories(root.resolve("sub/deep"))
    Files.writeString(root.resolve("sub/deep/b.log"), "x\ny") // unterminated final line
    Files.writeString(root.resolve("sub/notlog.txt"), "nope\n")
    root
  }

  private def encoded(root: Path, origin: String, emitEofPartial: Boolean = false) =
    EP.encode(spark.readStream.format("graft-tail")
      .option("path", root.toString).option("glob", "*.log")
      .option("emitEofPartial", emitEofPartial.toString).load(), origin)

  /** Drains the fixture through `encode` into a memory sink; returns the
    * `(data, partition_key)` records.
    */
  private def drain(root: Path, origin: String,
      emitEofPartial: Boolean = false): Seq[(Array[Byte], String)] = {
    val name = s"ep_${UUID.randomUUID().toString.replace("-", "")}"
    val q = encoded(root, origin, emitEofPartial)
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", Files.createTempDirectory("graft-ep-ckpt").toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name).collect()
      .map(r => (r.getAs[Array[Byte]]("data"), r.getAs[String]("partition_key"))).toSeq
  }

  /** The graft-kinesis sink metrics of `q`'s latest progress, once `key`
    * reached `atLeast` (progress is recorded just after the commit that
    * processAllAvailable waits for) or 10 s passed.
    */
  private def awaitSinkMetrics(q: StreamingQuery, key: String, atLeast: Long): Map[String, Long] = {
    def now: Map[String, Long] = Option(q.lastProgress)
      .map(_.sink.metrics.asScala.map { case (k, v) => k -> v.toLong }.toMap)
      .getOrElse(Map.empty)
    val deadline = System.currentTimeMillis() + 10000
    while (now.getOrElse(key, 0L) < atLeast && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    now
  }

  private def payloads(records: Seq[(Array[Byte], String)]): Seq[String] =
    records.map(r => new String(ProtoWire.decode(r._1).logMessage.get.message, "UTF-8")).sorted

  test("watch pattern parses on the FIRST /**/ only (main.go:402 semantics)") {
    assert(EP.parseWatchPattern("/var/log/**/*.log") === Some(("/var/log", "*.log")))
    assert(EP.parseWatchPattern("/a/**/b/**/c.log") === Some(("/a", "b/**/c.log")))
    assert(EP.parseWatchPattern("") === None) // engine validates instead of tailing ""
    assert(EP.parseWatchPattern("/var/log/x.log") === None) // no /**/ → invalid dir pattern
  }

  test("recursive watch matches basenames only, at any depth") {
    val root = writeFixture()
    val records = drain(root, "test-origin")
    assert(payloads(records) === Seq("l1\n", "l2\n", "x\n")) // y held back, decoy unread
    assert(records.map(_._2).distinct.sorted ===
      Seq(root.resolve("a.log").toString, root.resolve("sub/deep/b.log").toString))
  }

  test("graft-tail → encode keys every record by its absolute file path, never ''") {
    val root = writeFixture()
    val fileOf = Map("l1\n" -> "a.log", "l2\n" -> "a.log",
      "x\n" -> "sub/deep/b.log", "y\n" -> "sub/deep/b.log")
    Seq(false, true).foreach { partial =>
      val records = drain(root, "inst-1", emitEofPartial = partial)
      assert(payloads(records) ===
        (if (partial) Seq("l1\n", "l2\n", "x\n", "y\n") else Seq("l1\n", "l2\n", "x\n")))
      records.foreach { case (data, key) =>
        val lm = ProtoWire.decode(data).logMessage.get
        val path = root.resolve(fileOf(new String(lm.message, "UTF-8"))).toString
        assert(key === path)
        assert(lm.source_instance === path)
        assert(!key.contains("notlog"))
      }
    }
  }

  test("P2 projection: constants, partition key = source path, newline re-appended") {
    val root = writeFixture()
    val records = drain(root, "inst-1", emitEofPartial = true)
    assert(records.size === 4)
    records.foreach { case (data, key) =>
      val env = ProtoWire.decode(data)
      val lm = env.logMessage.get
      assert(env.origin === "inst-1")
      assert(env.eventType === "LogMessage")
      assert(lm.message_type === "OUT")
      assert(lm.source_type === "bosh")
      assert(lm.timestamp > 1000000000000000000L)
      assert(lm.source_instance === key)
      // every field is Envelope.forLogLine's, byte for byte
      assert(ProtoWire.encode(Envelope.forLogLine("inst-1", lm.message, lm.timestamp, key))
        .sameElements(data))
    }
  }

  test("end-to-end: files → envelopes → wire bytes → fake sink via Spark") {
    val clients = new ConcurrentLinkedQueue[FakeKinesisClient]()
    val clientName = s"ep-e2e-${UUID.randomUUID()}"
    KinesisClientRegistry.register(clientName, () => {
      val c = new FakeKinesisClient(); clients.add(c); c
    })
    val root = writeFixture()
    val q = encoded(root, "e2e", emitEofPartial = true)
      .writeStream.format("graft-kinesis")
      .option("client", clientName)
      .option("checkpointLocation", Files.createTempDirectory("graft-ep-e2e").toString)
      .start()
    val metrics = try {
      q.processAllAvailable()
      awaitSinkMetrics(q, "sent", 4L)
    } finally q.stop()
    assert(metrics("sent") === 4L)
    assert(metrics("dropped") === 0L)
    assert(metrics("errors") === 0L)
    // the acked bytes decode back to valid envelopes keyed by their file
    val acked = clients.asScala.toSeq.flatMap(_.allSentRecords)
    assert(acked.size === 4)
    acked.foreach { r =>
      val env = ProtoWire.decode(r.data)
      assert(env.eventType === "LogMessage")
      assert(env.logMessage.get.source_instance === r.partitionKey)
      assert(r.partitionKey.startsWith(root.toString))
    }
  }
}
