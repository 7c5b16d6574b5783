package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.operators.Exact

/** What a workload hands back: operation counts, its end-to-end figures,
  * validity and detail data, and the raw material of the per-layer ones.
  */
final case class Outcome(attempted: Long, failed: Long, metrics: Metrics,
    info: Seq[(String, Json.V)], memoS: Double = 0.0,
    ledger: Option[Ledger] = None, dupFrac: Option[Double] = None,
    lateMs: Option[(Double, Double)] = None, lagBytes: Option[Double] = None,
    timings: Option[Catalog.Timings] = None)

/** One benchmark run in one JVM:
  *
  *   graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *     --work DIR --tables DIR --expected FILE [--trace-out FILE]
  *     [--record FILE]
  *
  * Prints one JSON line: `correct`, `attempted`, `failed`, `metrics` (the
  * end-to-end set, or the per-layer set when traced) and `info` (the
  * named figures, validity data and details).
  */
object Main {
  val Workloads = Seq("catalog-mix", "tail-steady", "tail-backlog")
  val SetupReps = 3
  /** Spark's local cores: the 4-core box the baseline was measured on. */
  val Cores = 4

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, tables: String, expected: Path, traceOut: Option[Path],
      record: Option[Path])

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload $w (known: ${Workloads.mkString(", ")})")
    Opts(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Paths.get(need("work")).toAbsolutePath, need("tables"), Paths.get(need("expected")),
      kv.get("trace-out").map(Paths.get(_)), kv.get("record").map(Paths.get(_)))
  }

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "3600s")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val jvmStartS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val o = parse(args)
    val (steal0, cpu0) = Host.cpuJiffies()
    Files.createDirectories(o.work)
    val seed = o.seed

    // Inputs that are not set-up: the tail backlogs are written first.
    val warmGen = if (o.workload == "catalog-mix") None
      else Some(Backlog.prepare(o.work, seed, Tail.WarmupLines)._1)
    val backlog = if (o.workload == "tail-backlog") Some(Backlog.prepare(o.work, seed, Tail.BacklogLines))
      else None

    // Set-up, several times: session start, warm-up, memo builds. In
    // catalog-mix the first, cold one runs the untimed check pass as its
    // warm-up; the median comes from the warm ones.
    var spark: SparkSession = null
    var setupMemoS = 0.0
    val untimed = new Catalog.Untimed
    val reps = (1 to SetupReps).map { rep =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(Cores, o.work)
      warmGen match {
        case None if rep == 1 => Catalog.checkPass(spark, o.tables, Catalog.readExpected(o.expected), untimed)
        case None => Catalog.timedQuery(spark, o.tables, Catalog.resolve("q40"), None, "warmup", new Catalog.Timings)
        case Some(g) =>
          FakeKinesis.newLedger(recording = false, Tail.ThrottlePerMille, seed)
          Tail.drain(spark, g.root, Tail.FullPath, o.work, "warmup", Tail.WarmupBatchBytes)
      }
      val memo = Exact.drainMemoBuilds().map(_._2).sum
      setupMemoS += memo
      Host.secondsSince(t0) - memo
    }

    if (warmGen.isEmpty) Catalog.warmPass(spark, o.tables, untimed)

    def runWorkload(tracer: Option[Tracer]): Outcome = o.workload match {
      case "catalog-mix" => Catalog.run(spark, o.tables, seed, o.seconds, tracer)
      case "tail-steady" => Steady.run(spark, o.work, seed, o.seconds, tracer)
      case _ => Backlog.run(spark, o.work, seed, o.seconds, backlog.get._1, tracer)
    }

    val untraced = runWorkload(None)
    val memoS = setupMemoS + untraced.memoS
    o.record.foreach(p => Files.write(p, (untimed.recorded.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8)))

    val e2e = new Metrics
    e2e.put("setup_s", jvmStartS + Stats.median(reps) + memoS, "s")
    e2e ++= untraced.metrics
    val (attempted, failed, metrics, layerInfo) =
      if (!o.trace) {
        e2e.put("peak_rss_mb", Host.peakRssMb(), "MB")
        (untimed.attempted + untraced.attempted, untimed.failed + untraced.failed, e2e,
          Seq.empty[(String, Json.V)])
      } else {
        val tracer = new Tracer(spark)
        tracer.install()
        val traced = runWorkload(Some(tracer))
        // Layers.measure uninstalls the tracer and stops the session.
        val (layers, info, probeAttempted, probeFailed) =
          Layers.measure(spark, o, tracer, traced, untraced, memoS, backlog)
        spark = null
        o.traceOut.foreach { p =>
          Files.createDirectories(p.getParent)
          Files.write(p, Json.Obj(Seq("workload" -> Json.Str(o.workload),
            "seed" -> Json.Num(seed), "metrics" -> layers.toJson,
            "spans" -> tracer.spansJson)).render.getBytes(StandardCharsets.UTF_8))
        }
        (untimed.attempted + untraced.attempted + traced.attempted + probeAttempted,
          untimed.failed + untraced.failed + traced.failed + probeFailed, layers, info)
      }

    val info = Json.Obj(Seq[(String, Json.V)](
      "workload" -> Json.Str(o.workload), "seed" -> Json.Num(seed),
      "end_to_end" -> e2e.toJson,
      "fail_frac" -> Json.Num(failed.toDouble / math.max(1L, attempted)),
      "setup_reps_s" -> Json.Arr(reps.map(Json.Num)),
      "jvm_start_s" -> Json.Num(jvmStartS), "memo_build_s" -> Json.Num(memoS),
      "loadavg_1m" -> Json.Num(Host.loadAvg1m()),
      "cpu_steal_frac" -> Json.Num({
        val (steal1, cpu1) = Host.cpuJiffies()
        (steal1 - steal0).toDouble / math.max(1L, cpu1 - cpu0)
      }),
      "peak_rss_mb" -> Json.Num(Host.peakRssMb()),
      "heap_peak_used_mb" -> Json.Num(Host.heapPeakUsedMb()),
      "check_problems" -> Json.Arr(untimed.problems.toSeq.map(Json.Str))) ++
      untraced.info ++ layerInfo)
    if (spark != null) spark.stop()
    val out = Json.Obj(Seq(
      "correct" -> Json.Bool(failed == 0), "attempted" -> Json.Num(attempted),
      "failed" -> Json.Num(failed), "metrics" -> metrics.toJson, "info" -> info))
    println(out.render)
    System.out.flush()
    System.exit(0)
  }
}
