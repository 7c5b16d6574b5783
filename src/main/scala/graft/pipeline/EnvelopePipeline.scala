package graft.pipeline

import graft.functions.ProtoWire
import graft.model.Envelope
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's data path (SURVEY.md §2.2, main.go:229-347) as one
  * streaming transform between the `graft-tail` source and the
  * `graft-kinesis` sink:
  *
  *   P1 line framing   → `graft-tail` (one row per line, split on \n only;
  *                       the source strips the newline, `encode`
  *                       re-appends it for byte-exact protobuf parity —
  *                       main.go:231 keeps it)
  *   P2 envelope proj  → typed map through `Envelope.forLogLine`
  *   P3 proto encode   → ProtoWire in a typed map (no UDF-boxing per field)
  *   P4 partition key  → the source file path (main.go:346)
  */
object EnvelopePipeline {

  /** Reference config-string semantics for DIRS_TO_WATCH entries: split on
    * the FIRST `/**/` only (main.go:402, SplitN(dpath, "/**/", 2)). The
    * reference panics on patterns without `/**/` and tails "" for empty
    * entries; the engine validates instead (SURVEY.md §2.1 S5/S6).
    */
  def parseWatchPattern(pattern: String): Option[(String, String)] = {
    if (pattern.isEmpty) None
    else pattern.indexOf("/**/") match {
      case -1 => None
      case i =>
        val (root, glob) = (pattern.substring(0, i), pattern.substring(i + 4))
        // an empty root would throw at load(""), an empty glob silently
        // matches nothing forever — both are invalid patterns, not
        // watchable sources
        if (root.isEmpty || glob.isEmpty) None else Some((root, glob))
    }
  }

  /** P1–P4 over graft-tail's `(value, path)` frame: one
    * `(data BINARY, partition_key STRING)` row per line, the
    * `graft-kinesis` sink's input shape. The file path is both the
    * envelope's `source_instance` and the record's key; it comes from the
    * source's `path` column, never Spark's input-file-name expression,
    * which DSv2 sources leave empty. `ingest_ns` carries nanosecond ingest time like
    * main.go:331; Spark has no nanosecond clock expression, so micros×1000
    * is the honest equivalent (documented delta: trailing 3 zeros).
    */
  def encode(lines: DataFrame, origin: String): DataFrame = {
    implicit val s: SparkSession = lines.sparkSession
    serialize(toEnvelopes(lines.select(
      lit(origin).as("origin"),
      concat(col("value"), lit("\n")).cast("binary").as("message"),
      (unix_micros(current_timestamp()) * 1000).as("ingest_ns"),
      col("path").as("source_instance"))))
      .toDF("data", "partition_key")
  }

  /** Typed envelope rows from an `(origin, message, ingest_ns,
    * source_instance)` frame.
    */
  def toEnvelopes(projected: DataFrame)(implicit s: SparkSession): Dataset[Envelope] = {
    import s.implicits._
    projected.map { r =>
      Envelope.forLogLine(
        origin = r.getAs[String]("origin"),
        line = r.getAs[Array[Byte]]("message"),
        ingestNanos = r.getAs[Long]("ingest_ns"),
        sourcePath = r.getAs[String]("source_instance"))
    }
  }

  /** P3: serialize to wire bytes, keyed for the sink (K3's input shape). */
  def serialize(envelopes: Dataset[Envelope])(implicit s: SparkSession): Dataset[(Array[Byte], String)] = {
    import s.implicits._
    envelopes.map { e =>
      (ProtoWire.encode(e), e.logMessage.map(_.source_instance).getOrElse(""))
    }
  }
}
