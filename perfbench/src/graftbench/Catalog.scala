package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{SparkEntry, Tables}
import graft.operators.Exact

/** The catalog-mix workload: a closed loop with one client that runs a
  * fixed list of catalog queries one after another, each result fully
  * materialised through the `noop` sink, the order shuffled per pass by
  * the seed. An untimed pass collects every result and checks its row
  * count and order-insensitive hash against the recorded values.
  */
object Catalog {
  /** Short, build- and plan-dominated queries. */
  val Short: Seq[String] = Seq("q01", "q24", "q40", "q41", "q79")
  /** Iterative, execution-dominated: a driver loop (connected components)
    * that localCheckpoints each round.
    */
  val Iterative: Seq[String] = Seq("q57")
  /** Stateful streaming replay (checkpoint and state writes). */
  val Replay: Seq[String] = Seq("q240")
  val Queries: Seq[String] = Short ++ Iterative ++ Replay
  /** Each query's time is the median of at least this many passes. */
  val MinPasses = 3

  /** Full catalog name of a query id such as "q01". */
  def resolve(id: String): String =
    SparkEntry.allDefs.map(_.name).find(_.startsWith(id + "_"))
      .getOrElse(throw new IllegalArgumentException(s"no catalog query $id"))

  final case class Expected(rows: Long, hash: String)

  /** `name<TAB>rows<TAB>hash` lines. */
  def readExpected(p: Path): Map[String, Expected] =
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p).asScala.iterator.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val f = l.split("\t")
        f(0) -> Expected(f(1).toLong, f(2))
      }.toMap

  /** Canonical text of one value; floating point at full precision. */
  private def canon(v: Any): String = v match {
    case null => "∅"
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "→" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case d: java.math.BigDecimal => d.stripTrailingZeros.toPlainString
    case x => x.toString
  }

  /** Row count and order-insensitive 64-bit hash (sum of row digests). */
  def digest(rows: Array[Row]): (Long, String) = {
    val md = MessageDigest.getInstance("MD5")
    var sum = 0L
    rows.foreach { r =>
      val d = md.digest(canon(r).getBytes(StandardCharsets.UTF_8))
      sum += java.nio.ByteBuffer.wrap(d).getLong
    }
    (rows.length.toLong, f"$sum%016x")
  }

  /** Build and `noop`-write wall time totals of the timed queries. */
  final class Timings { var buildMs = 0.0; var writeMs = 0.0; var writes = 0 }

  /** One timed query: build the DataFrame, then materialise it through
    * `noop`. Traced, each part is a span and its jobs carry the phase.
    */
  def timedQuery(spark: SparkSession, tables: String, n: String,
      tracer: Option[Tracer], req: String, tm: Timings): Double = {
    spark.catalog.clearCache()
    val q0 = System.nanoTime()
    val df: DataFrame = tracer match {
      case Some(t) => t.span("build " + n, "operators", req)(
        t.phase("build")(SparkEntry.queries(n)(spark, tables)))
      case None => SparkEntry.queries(n)(spark, tables)
    }
    val q1 = System.nanoTime()
    tracer match {
      case Some(t) => t.span("execute " + n, "operators", req)(
        t.phase("execute")(df.write.format("noop").mode("overwrite").save()))
      case None => df.write.format("noop").mode("overwrite").save()
    }
    val q2 = System.nanoTime()
    tm.buildMs += (q1 - q0) / 1e6; tm.writeMs += (q2 - q1) / 1e6; tm.writes += 1
    (q2 - q0) / 1e9
  }

  /** Counts and notes of the untimed passes, kept across the set-ups. */
  final class Untimed {
    var attempted = 0L
    var failed = 0L
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    val recorded = scala.collection.mutable.ArrayBuffer.empty[String]
  }

  /** Untimed pass that collects every result and checks its row count and
    * hash against the recorded ones. It runs in the first, cold set-up.
    */
  def checkPass(spark: SparkSession, tables: String,
      expected: Map[String, Expected], u: Untimed): Unit =
    Queries.map(resolve).foreach { n =>
      u.attempted += 1
      spark.catalog.clearCache()
      try {
        val (rows, hash) = digest(SparkEntry.queries(n)(spark, tables).collect())
        u.recorded += s"$n\t$rows\t$hash"
        expected.get(n) match {
          case Some(e) if e.rows == rows && e.hash == hash => ()
          case Some(e) =>
            u.failed += 1; u.problems += s"$n: got $rows rows/$hash, expected ${e.rows}/${e.hash}"
          case None =>
            u.failed += 1; u.problems += s"$n: no recorded result"
        }
      } catch {
        case e: Exception => u.failed += 1; u.problems += s"$n: threw ${e.getMessage}"
      }
    }

  /** Untimed pass through `noop` before the timed ones: it compiles the
    * write plans they run. Without it the first timed pass reads ~40%
    * slower than the last.
    */
  def warmPass(spark: SparkSession, tables: String, u: Untimed): Unit =
    Queries.map(resolve).foreach { n =>
      u.attempted += 1
      try timedQuery(spark, tables, n, None, "warm", new Timings)
      catch { case e: Exception => u.failed += 1; u.problems += s"$n (warm): threw ${e.getMessage}" }
    }

  /** The timed passes. */
  def run(spark: SparkSession, tables: String, seed: Long, seconds: Double,
      tracer: Option[Tracer]): Outcome = {
    val names = Queries.map(resolve)
    var attempted = 0
    var failed = 0
    var memoS = 0.0
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]

    // Timed passes: one client, sequential, seeded order per pass, until
    // `seconds` have gone and at least `MinPasses` passes ran.
    val rng = new scala.util.Random(seed)
    val times = scala.collection.mutable.Map.empty[String, Vector[Double]].withDefaultValue(Vector.empty)
    val passTimes = scala.collection.mutable.ArrayBuffer.empty[Double]
    val tm = new Timings
    var memoSamples = 0
    val t0 = System.nanoTime()
    var pass = 0
    while (pass < Catalog.MinPasses || (Host.secondsSince(t0) < seconds && pass < 50)) {
      val req = s"pass-$pass"
      def one(n: String): Unit = {
        attempted += 1
        try {
          val s = tracer match {
            case Some(t) => t.span("query " + n, "bench", req)(timedQuery(spark, tables, n, tracer, req, tm))
            case None => timedQuery(spark, tables, n, tracer, req, tm)
          }
          // A run that built a memo paid set-up work: its time is not a sample.
          val builds = Exact.drainMemoBuilds()
          if (builds.isEmpty) times(n) :+= s
          else { memoSamples += 1; memoS += builds.map(_._2).sum }
        } catch {
          case e: Exception => failed += 1; problems += s"$n (timed): threw ${e.getMessage}"
        }
      }
      System.gc() // each pass starts from a collected heap, untimed
      val p0 = System.nanoTime()
      val order = rng.shuffle(names)
      tracer match {
        case Some(t) => t.span("pass", "bench", req)(order.foreach(one))
        case None => order.foreach(one)
      }
      passTimes += Host.secondsSince(p0)
      pass += 1
    }

    // A pass's time is the sum of each query's median: one slow query in
    // one pass does not move it, as it would move the median pass.
    val perQuery = names.map(n => Stats.median(times(n))).filterNot(_.isNaN)
    val m = new Metrics
    val geomeanMs = Stats.geomean(perQuery) * 1000
    m.put("latency_ms", geomeanMs, "ms")
    val passS = perQuery.sum
    m.put("latency_tail_ms", passS * 1000, "ms")
    m.put("throughput_per_s", names.size / passS, "1/s")
    val info = Seq(
      "catalog_pass_s" -> Json.Num(passS),
      "catalog_geomean_s" -> Json.Num(geomeanMs / 1000),
      "pass_s" -> Json.Arr(passTimes.toSeq.map(Json.Num)),
      "samples_with_memo_builds" -> Json.Num(memoSamples),
      "query_median_s" -> Json.Obj(names.map(n => n -> Json.Num(Stats.median(times(n))))),
      "problems" -> Json.Arr(problems.toSeq.map(Json.Str)),
      "build_ms" -> Json.Num(tm.buildMs), "write_ms" -> Json.Num(tm.writeMs),
      "writes" -> Json.Num(tm.writes))
    Outcome(attempted, failed, m, info, memoS = memoS, timings = Some(tm))
  }

  /** The ten `Tables.<t>` loaders, each timed as a call (traced run). */
  def timeTableLoads(spark: SparkSession, tables: String, t: Tracer): Double = {
    val loaders: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "region" -> Tables.region, "nation" -> Tables.nation,
      "customer" -> Tables.customer, "supplier" -> Tables.supplier,
      "part" -> Tables.part, "orders" -> Tables.orders,
      "lineitem" -> Tables.lineitem, "events" -> Tables.events,
      "documents" -> Tables.documents, "embeddings" -> Tables.embeddings)
    val t0 = System.nanoTime()
    t.phase("tables") {
      loaders.foreach { case (n, f) => t.span("load " + n, "tables", "tables")(f(spark, tables)) }
    }
    (System.nanoTime() - t0) / 1e6
  }
}
