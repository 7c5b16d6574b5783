package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.{KinesisClient, KinesisRecord, PutRecordsResult, RecordResult}
import graft.sources.KinesisClientRegistry

/** The DSv2 StreamingWrite path: MemoryStream → graft-kinesis sink with a
  * registered capturing client (local mode = same JVM, so the static
  * capture is visible to the test).
  */
class KinesisSinkV2Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("streaming write delivers all records through the producer semantics") {
    implicit val s = spark
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    import s.implicits._

    val captured = new ConcurrentLinkedQueue[KinesisRecord]()
    KinesisClientRegistry.register("spec-capture", () => new KinesisClient {
      override def putRecords(records: Seq[KinesisRecord]): PutRecordsResult = {
        records.foreach(captured.add)
        PutRecordsResult(None, Seq.fill(records.size)(RecordResult()))
      }
    })

    val in = MemoryStream[(Array[Byte], String)]
    val ckpt = java.nio.file.Files.createTempDirectory("graft-kv2").toString
    val q = in.toDF().toDF("data", "partition_key")
      .writeStream.format("graft-kinesis")
      .option("client", "spec-capture")
      .option("checkpointLocation", ckpt)
      .start()
    try {
      in.addData(("a".getBytes, "k1"), ("b".getBytes, "k2"))
      q.processAllAvailable()
      in.addData(("c".getBytes, "k1"))
      q.processAllAvailable()
      assert(captured.size === 3)
      val keys = new scala.collection.mutable.ArrayBuffer[String]
      captured.forEach(r => keys += r.partitionKey)
      assert(keys.sorted === Seq("k1", "k1", "k2"))
    } finally q.stop()
  }

  test("a query started without the client option fails naming the option") {
    implicit val s = spark
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    import s.implicits._
    val in = MemoryStream[(Array[Byte], String)]
    val e = intercept[Exception] {
      val q = in.toDF().toDF("data", "partition_key")
        .writeStream.format("graft-kinesis")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("graft-kv2-noclient").toString)
        .start()
      try { in.addData(("a".getBytes, "k1")); q.processAllAvailable() } finally q.stop()
    }
    assert(e.getMessage.contains("graft-kinesis requires option 'client'"), e.getMessage)
  }

  test("unknown client name fails fast with the known names") {
    val e = intercept[Exception] {
      KinesisClientRegistry.factory("nope")
    }
    assert(e.getMessage.contains("no Kinesis client factory"))
  }
}
