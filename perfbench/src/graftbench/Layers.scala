package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.operators.Exact

/** The traced run's per-layer figures. Every traced run reports every
  * layer: what the workload itself does not drive is driven by a fixed
  * probe after its timed part — the ten table loads, one catalog replay
  * (q240) for the operator and memo layers, stage-isolated drains for the
  * source, encode and sink layers, single-thread encode calls, a second
  * of scheduled appends, and last a drain on a single-core session.
  */
object Layers {
  /** Progress phase → layer, for the batch spans. */
  def layerOf(phase: String): String = phase match {
    case "latestOffset" | "getBatch" => "sources"
    case "addBatch" => "pipeline"
    case _ => "streaming"
  }

  def measure(spark: SparkSession, o: Main.Opts, t: Tracer, traced: Outcome,
      untraced: Outcome, memoS: Double, backlog: Option[(Lines, Long)])
      : (Metrics, Seq[(String, Json.V)], Long, Long) = {
    val m = new Metrics
    val workloadProgress = t.allProgress.filter(_.numInputRows > 0)

    // Operators and Exact: the catalog's traced passes, or one replay.
    val (tm, probeMemoS) = traced.timings match {
      case Some(tm) => (tm, 0.0)
      case None =>
        val tm = new Catalog.Timings
        Catalog.timedQuery(spark, o.tables, Catalog.resolve("q240"), Some(t), "probe-q240", tm)
        (tm, Exact.drainMemoBuilds().map(_._2).sum)
    }
    val b = t.stats("build")
    val e = t.stats("execute")
    val planMs = t.awaitWritePlans(tm.writes).sum
    val execMs = tm.writeMs - planMs
    m.put("operators.build_ms", tm.buildMs, "ms")
    m.put("operators.build_jobs", b.jobs, "count")
    Seq("schema", "loop", "checkpoint").foreach(k =>
      m.put(s"operators.build_jobs_$k", b.jobsBySite(k), "count"))
    m.put("operators.plan_ms", planMs, "ms")
    m.put("operators.execute_ms", execMs, "ms")
    m.put("operators.jobs", e.jobs, "count")
    m.put("operators.stages", e.stages, "count")
    m.put("operators.tasks", e.tasks, "count")
    m.put("operators.task_busy_frac", e.runMs / (execMs * Main.Cores), "ratio")
    m.put("operators.task_cpu_ms", e.cpuNs / 1e6, "ms")
    m.put("operators.shuffle_read_bytes", e.shuffleRead, "bytes")
    m.put("operators.shuffle_write_bytes", e.shuffleWrite, "bytes")
    m.put("operators.spill_bytes", e.spill, "bytes")
    val exactS = memoS + probeMemoS
    m.put("exact.memo_build_s", exactS, "s")
    // Builds are timed by Exact itself; one span carries their total.
    val now = System.nanoTime()
    t.addSpan("memo builds", "exact", "setup", -1, now - (exactS * 1e9).toLong, now)

    // Streaming: the workload's own micro-batches with data.
    def med(ps: Seq[StreamingQueryProgress])(f: StreamingQueryProgress => Double) = Stats.median(ps.map(f))
    val ws = workloadProgress
    m.put("streaming.batches", ws.size, "count")
    m.put("streaming.batch_ms", med(ws)(Tail.ms(_, "triggerExecution")), "ms")
    m.put("streaming.plan_ms", med(ws)(Tail.ms(_, "queryPlanning")), "ms")
    m.put("streaming.wal_ms", med(ws)(p => Tail.ms(p, "walCommit") + Tail.ms(p, "commitOffsets")), "ms")
    m.put("streaming.add_batch_ms", med(ws)(Tail.ms(_, "addBatch")), "ms")
    m.put("streaming.rows_per_batch", ws.map(_.numInputRows.toDouble).sum / math.max(1, ws.size), "rows")

    // Tables: the ten loaders, each call timed.
    m.put("tables.load_ms", Catalog.timeTableLoads(spark, o.tables, t), "ms")
    m.put("tables.load_jobs", t.stats("tables").jobs, "count")

    // Stage-isolated drains over the workload's backlog, or a probe one.
    val (gen, n, bytes) = backlog match {
      case Some((g, by)) => (g, Tail.BacklogLines, by)
      case None =>
        val (g, by) = Backlog.prepare(o.work, o.seed, Tail.ProbeLines)
        (g, Tail.ProbeLines, by)
    }
    val before = t.allProgress.size
    val (srcRate, encRate, fullRate, probeLedger, chk) = Probe.drains(spark, o.work, o.seed, gen, n, t)
    m.put("sources.drain_lines_per_s", srcRate, "lines/s")
    m.put("pipeline.encode_drain_lines_per_s", encRate, "lines/s")
    m.put("pipeline.drain_lines_per_s", fullRate, "lines/s")
    val tailProgress = t.allProgress.filter(p => p.numInputRows > 0 &&
      p.sources.exists(_.description.contains("Tail")))
    m.put("sources.latest_offset_ms", med(tailProgress)(Tail.ms(_, "latestOffset")), "ms")
    val drainLag = Stats.median(t.allProgress.drop(before).filter(_.numInputRows > 0)
      .map(p => (bytes - Tail.committedBytes(p.sources.head.startOffset)).toDouble))
    m.put("sources.lag_bytes", traced.lagBytes.getOrElse(drainLag), "bytes")

    // Functions: direct single-thread encode calls on the workload's lines.
    val (encNs, encBytes) = Probe.encode(o.seed, gen.root, t)
    m.put("functions.encode_ns_per_line", encNs, "ns")
    m.put("functions.bytes_per_line", encBytes, "bytes")

    // Client and producer: the fake's ledger.
    val ledger = if (o.workload == "tail-backlog") traced.ledger.get else probeLedger
    val puts = ledger.puts.sum().toDouble
    m.put("client.puts", puts, "count")
    m.put("client.put_ms", ledger.putNs.sum() / 1e6 / puts, "ms")
    m.put("client.records_per_put", ledger.attempted.sum() / puts, "records")
    m.put("pipeline.retry_ratio", ledger.attempted.sum().toDouble / ledger.acked.sum(), "ratio")
    m.put("pipeline.dup_frac",
      traced.dupFrac.getOrElse(chk.duplicates.toDouble / math.max(1L, chk.acked)), "ratio")

    // Generator lateness: the steady run's own, or one probe second.
    val (lateP99, lateMax) = traced.lateMs.getOrElse(Probe.generatorLate(o.work, o.seed))
    m.put("gen.late_ms_p99", lateP99, "ms")
    m.put("gen.late_ms_max", lateMax, "ms")

    // Self time per layer, from the spans (batch phases included).
    t.allProgress.foreach(t.addBatchSpans(_, layerOf))
    val self = t.selfMsByLayer
    Seq("tables", "operators", "exact", "sources", "functions", "pipeline", "streaming")
      .foreach(l => m.put(s"$l.self_ms", self.getOrElse(l, 0.0), "ms"))
    m.put("client.self_ms", ledger.putNs.sum() / 1e6, "ms")

    // Tracing overhead: traced end-to-end figures minus untraced ones.
    Seq("latency_ms", "latency_tail_ms", "throughput_per_s").foreach { k =>
      val d = traced.metrics.get(k).get - untraced.metrics.get(k).get
      m.put(s"trace.$k.delta", d, if (k == "throughput_per_s") "1/s" else "ms")
    }

    // The single-thread baseline: the same full drain at local[1].
    t.uninstall()
    spark.stop()
    val one = Main.session(1, o.work)
    val oneRate = try {
      FakeKinesis.newLedger(recording = false, Tail.ThrottlePerMille, o.seed)
      n / Tail.drain(one, gen.root, Tail.FullPath, o.work, "local1")
    } finally one.stop()
    m.put("pipeline.drain_1core_lines_per_s", oneRate, "lines/s")

    val bad = m.toJson.kvs.collect { case (k, Json.Obj(Seq((_, Json.Num(v)), _))) if v.isNaN => k }
    val info = Seq(
      "probe_missing" -> Json.Num(chk.missing), "probe_mismatched" -> Json.Num(chk.mismatched),
      "probe_corrupt" -> Json.Num(chk.corrupt),
      "unmeasured_layers" -> Json.Arr(bad.map(Json.Str)),
      "traced_end_to_end" -> traced.metrics.toJson) ++ traced.info.map { case (k, v) => ("traced_" + k, v) }
    (m, info, n, chk.failed + bad.size)
  }
}
