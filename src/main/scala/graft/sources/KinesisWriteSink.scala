package graft.sources

import java.util
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.streaming.ReportsSinkMetrics
import org.apache.spark.sql.connector.write.{DataWriter, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{BinaryType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.pipeline.{BatchProducer, KinesisClient, ProducerConfig}

/** DSv2 StreamingWrite sink with the reference's producer semantics
  * (SURVEY.md §7, M5.2): each partition task runs a [[BatchProducer]]
  * (K1–K7) and the epoch commit carries the delivery stats. Delivery is at-least-once under task retry, the same
  * semantic class as the reference's requeue-at-back.
  *
  * Client injection: DSv2 options are strings, so the sink looks its
  * client factory up by name in [[KinesisClientRegistry]] — production
  * registers an AWS-SDK-backed factory once per JVM; tests register
  * capturing fakes (the same seam as the reference's logProducer,
  * main.go:349-369). `client` is required: a sink that silently
  * acknowledged and discarded every record would hide a missing option.
  *
  * Delivery counters (A1) reach the progress events as sink metrics
  * (`progress.sink.metrics`: `sent`, `dropped`, `errors`, totals for the
  * query run), which [[graft.streaming.FirehoseMetricsListener]] exposes
  * under the reference's Prometheus names.
  *
  * Usage:
  * {{{
  *   EnvelopePipeline.encode(lines, origin)  // (data BINARY, partition_key STRING)
  *     .writeStream.format("graft-kinesis")
  *     .option("client", "aws")
  *     .option("checkpointLocation", ...)
  *     .start()
  * }}}
  */
class KinesisTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-kinesis"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    KinesisWriteSink.Schema
  override def getTable(
      schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new KinesisTable(new CaseInsensitiveStringMap(properties))
}

object KinesisWriteSink {
  val Schema: StructType = StructType(Seq(
    StructField("data", BinaryType, nullable = false),
    StructField("partition_key", StringType, nullable = false)))
}

/** Name → client-factory registry (JVM-local; executors in a cluster
  * register via their own initialization, e.g. a SparkPlugin).
  */
object KinesisClientRegistry {
  private val factories = TrieMap[String, () => KinesisClient]()

  def register(name: String, factory: () => KinesisClient): Unit =
    factories.put(name, factory)

  def factory(name: String): () => KinesisClient =
    factories.getOrElse(name,
      throw new IllegalArgumentException(
        s"no Kinesis client factory registered under '$name' " +
          s"(known: ${factories.keys.mkString(", ")})"))
}

private[sources] class KinesisTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsWrite with ReportsSinkMetrics {
  private val clientName = Option(options.get("client")).getOrElse(
    throw new IllegalArgumentException("graft-kinesis requires option 'client'"))
  // delivery totals of every committed epoch of this query run (one
  // table per run), replaced whole so a progress report never sees a
  // torn set
  @volatile private var delivered = KinesisCommit(0, 0, 0)

  override def name(): String = s"graft-kinesis($clientName)"
  override def schema(): StructType = KinesisWriteSink.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.STREAMING_WRITE)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toStreaming: StreamingWrite =
          new KinesisStreamingWrite(clientName,
            ProducerConfig(
              // the commit deadline MUST be raisable per sink: a slow but
              // healthy endpoint that needs >30 s per epoch would
              // otherwise livelock on task retry with no knob to turn
              flushTimeoutMillis =
                options.getOrDefault("flushTimeoutMillis", "30000").toLong),
            commitEpoch)
      }
    }

  private def commitEpoch(messages: Array[WriterCommitMessage]): Unit = synchronized {
    delivered = messages.collect { case k: KinesisCommit => k }.foldLeft(delivered)(_ + _)
  }

  override def metrics(): util.Map[String, String] = {
    val d = delivered
    Map("sent" -> d.sent, "dropped" -> d.dropped, "errors" -> d.requestErrors)
      .map { case (k, v) => k -> v.toString }.asJava
  }
}

private[sources] final case class KinesisCommit(
    sent: Long, dropped: Long, requestErrors: Long) extends WriterCommitMessage {
  def +(o: KinesisCommit): KinesisCommit =
    KinesisCommit(sent + o.sent, dropped + o.dropped, requestErrors + o.requestErrors)
}

private[sources] class KinesisStreamingWrite(clientName: String,
    config: ProducerConfig, onCommit: Array[WriterCommitMessage] => Unit)
    extends StreamingWrite {

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new KinesisWriterFactory(clientName, config)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    onCommit(messages)

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
}

private[sources] class KinesisWriterFactory(
    clientName: String, config: ProducerConfig)
    extends StreamingDataWriterFactory {
  override def createWriter(
      partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new KinesisDataWriter(
      new BatchProducer(KinesisClientRegistry.factory(clientName)(), config))
}

private[sources] class KinesisDataWriter(producer: BatchProducer)
    extends DataWriter[InternalRow] {

  override def write(row: InternalRow): Unit =
    producer.add(row.getBinary(0), row.getUTF8String(1).toString)

  override def commit(): WriterCommitMessage = {
    // Bounded drain: a persistently failing client below the load-shed
    // fullness threshold would otherwise requeue forever and hang the
    // Spark task. Undelivered records fail the task so Spark's task
    // retry replays the epoch (at-least-once).
    val left = producer.flush(producer.config.flushTimeoutMillis)
    if (left > 0)
      throw new java.io.IOException(
        s"graft-kinesis: $left records undelivered after " +
          s"${producer.config.flushTimeoutMillis} ms flush; failing task for retry")
    val s = producer.stats
    KinesisCommit(s.sent, s.droppedRecords, s.requestErrors)
  }

  override def abort(): Unit = () // buffered records discarded; source replays the epoch

  override def close(): Unit = ()
}
