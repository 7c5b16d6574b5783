package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region. Times are System.nanoTime-based; `parent` is -1 at
  * the root. `req` is the request: a catalog pass or a micro-batch.
  */
final case class Span(id: Int, name: String, layer: String, req: String,
    parent: Int, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Spark-side counters for the jobs launched in one phase. */
final class PhaseStats {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var runMs = 0L; var cpuNs = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  val jobsBySite: mutable.Map[String, Long] = mutable.Map.empty.withDefaultValue(0L)
}

/** The benchmark's tracing: spans kept in memory plus the three Spark
  * listeners. Untraced runs construct no Tracer, so they register nothing.
  * A thread sets its phase with [[phase]]; the phase travels to Spark as
  * a local property, so each job, stage and task is charged to it.
  */
final class Tracer(spark: SparkSession) {
  import Tracer.PhaseKey

  private val nano0 = System.nanoTime()
  private val wall0Ms = System.currentTimeMillis()
  def nanosOfEpochMs(ms: Long): Long = nano0 + (ms - wall0Ms) * 1000000L

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  def addSpan(name: String, layer: String, req: String, parent: Int,
      startNs: Long, endNs: Long): Int = spans.synchronized {
    val id = spans.size
    spans += Span(id, name, layer, req, parent, startNs, endNs)
    id
  }

  /** Times `body` as a span nested under this thread's innermost span. */
  def span[T](name: String, layer: String, req: String)(body: => T): T = {
    val parent = open.get().headOption.getOrElse(-1)
    val id = addSpan(name, layer, req, parent, System.nanoTime(), 0L)
    open.set(id :: open.get())
    try body
    finally {
      open.set(open.get().tail)
      spans.synchronized { spans(id) = spans(id).copy(endNs = System.nanoTime()) }
    }
  }

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)

  /** Per-layer self time in ms: each span's duration minus the part of
    * its interval that its child spans cover.
    */
  def selfMsByLayer: Map[String, Double] = {
    val all = allSpans
    val kids = all.filter(_.parent >= 0).groupBy(_.parent)
    def covered(p: Span): Long = {
      val iv = kids.getOrElse(p.id, Nil)
        .map(k => (math.max(k.startNs, p.startNs), math.min(k.endNs, p.endNs)))
        .filter(i => i._2 > i._1).sortBy(_._1)
      var total = 0L; var s = 0L; var e = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > e) { if (e > s) total += e - s; s = a; e = b } else e = math.max(e, b)
      }
      if (e > s) total += e - s
      total
    }
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.durNs - covered(s)).sum / 1e6
    }
  }

  // ---- phases and the SparkListener ------------------------------------

  def phase[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(PhaseKey)
    sc.setLocalProperty(PhaseKey, name)
    try body finally sc.setLocalProperty(PhaseKey, prev)
  }

  private val phases = new ConcurrentHashMap[String, PhaseStats]()
  private val stagePhase = new ConcurrentHashMap[Int, String]()
  def stats(phase: String): PhaseStats = phases.computeIfAbsent(phase, _ => new PhaseStats)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val ph = props.flatMap(p => Option(p.getProperty(PhaseKey))).getOrElse("other")
      // The result stage is named after the job's call site, e.g.
      // "localCheckpoint at Dedup.scala:669"; the property is set only
      // where code set a call site itself.
      val site = props.flatMap(p => Option(p.getProperty("callSite.short")))
        .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name)).getOrElse("")
      e.stageIds.foreach(stagePhase.put(_, ph))
      val st = stats(ph)
      st.synchronized { st.jobs += 1; st.jobsBySite(Tracer.siteKind(site)) += 1 }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val st = stats(stagePhase.getOrDefault(e.stageInfo.stageId, "other"))
      st.synchronized { st.stages += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val st = stats(stagePhase.getOrDefault(e.stageId, "other"))
      val m = e.taskMetrics
      st.synchronized {
        st.tasks += 1
        if (m != null) {
          st.runMs += m.executorRunTime
          st.cpuNs += m.executorCpuTime
          st.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
          st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  // ---- QueryExecutionListener: planning phases of the timed writes ----

  @volatile var writePlans: Vector[Double] = Vector.empty
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (Tracer.isWrite(qe)) {
        val ph = qe.tracker.phases
        val ms = Seq("analysis", "optimization", "planning")
          .flatMap(ph.get).map(_.durationMs.toDouble).sum
        synchronized { writePlans :+= ms }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Waits (bounded) until `n` write-plan events have arrived. */
  def awaitWritePlans(n: Int): Seq[Double] = {
    val deadline = System.nanoTime() + 10000000000L
    while (writePlans.size < n && System.nanoTime() < deadline) Thread.sleep(5)
    writePlans
  }

  // ---- StreamingQueryListener ----------------------------------------

  private val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized { progress += e.progress }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
  def allProgress: Seq[StreamingQueryProgress] = progress.synchronized(progress.toList)
  def progressOf(name: String): Seq[StreamingQueryProgress] = allProgress.filter(_.name == name)

  def install(): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = {
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Streaming progress → one batch span per micro-batch, with its phases
    * as children laid out in execution order.
    */
  def addBatchSpans(p: StreamingQueryProgress, layerOf: String => String): Unit = {
    val d = p.durationMs
    def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
    val start = nanosOfEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
    val total = ms("triggerExecution")
    val req = s"${p.name}-batch-${p.batchId}"
    val batch = addSpan("batch", "streaming", req, -1, start, start + total * 1000000L)
    var t = start
    Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
      .foreach { k =>
        val len = ms(k) * 1000000L
        if (len > 0) addSpan(k, layerOf(k), req, batch, t, t + len)
        t += len
      }
  }

  def spansJson: Json.V = Json.Arr(allSpans.map(s => Json.Obj(Seq(
    "id" -> Json.Num(s.id), "name" -> Json.Str(s.name), "layer" -> Json.Str(s.layer),
    "req" -> Json.Str(s.req), "parent" -> Json.Num(s.parent),
    "start_ms" -> Json.Num((s.startNs - nano0) / 1e6),
    "end_ms" -> Json.Num((s.endNs - nano0) / 1e6)))))
}

object Tracer {
  val PhaseKey = "graftbench.phase"

  /** Build-time job kind from its call site: schema inference, a
    * checkpoint, or a driver-side action that steers a loop.
    */
  def siteKind(site: String): String = {
    val s = site.toLowerCase
    if (s.contains("checkpoint")) "checkpoint"
    else if (s.startsWith("parquet") || s.startsWith("load") || s.contains("schema") ||
      s.startsWith("json") || s.startsWith("csv") || s.startsWith("text")) "schema"
    else "loop"
  }

  def isWrite(qe: QueryExecution): Boolean = {
    val n = qe.logical.getClass.getSimpleName
    n.startsWith("OverwriteByExpression") || n.startsWith("AppendData") ||
      n.startsWith("SaveIntoDataSourceCommand")
  }
}
