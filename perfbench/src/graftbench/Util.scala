package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

/** A measured value and its unit. */
final case class Metric(value: Double, unit: String)

/** Ordered metric set; later puts of a name replace earlier ones. */
final class Metrics {
  private val m = mutable.LinkedHashMap.empty[String, Metric]
  def put(name: String, value: Double, unit: String): Unit =
    m(name) = Metric(value, unit)
  def get(name: String): Option[Double] = m.get(name).map(_.value)
  def ++=(o: Metrics): Unit = o.m.foreach { case (k, v) => m(k) = v }
  def toJson: Json.Obj = Json.Obj(m.toSeq.map { case (k, v) =>
    k -> Json.Obj(Seq("value" -> Json.Num(v.value), "unit" -> Json.Str(v.unit)))
  })
}

/** Minimal JSON values and writer (no library on the classpath for it). */
object Json {
  sealed trait V { def render: String }
  final case class Str(s: String) extends V {
    def render: String = {
      val b = new StringBuilder("\"")
      s.foreach {
        case '"' => b ++= "\\\""
        case '\\' => b ++= "\\\\"
        case '\n' => b ++= "\\n"
        case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
        case c => b += c
      }
      b.append('"').toString
    }
  }
  final case class Num(d: Double) extends V {
    def render: String =
      if (d.isNaN || d.isInfinite) "null"
      else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
      else d.toString
  }
  final case class Bool(b: Boolean) extends V { def render: String = b.toString }
  final case class Arr(xs: Seq[V]) extends V {
    def render: String = xs.map(_.render).mkString("[", ",", "]")
  }
  final case class Obj(kvs: Seq[(String, V)]) extends V {
    def render: String =
      kvs.map { case (k, v) => Str(k).render + ":" + v.render }.mkString("{", ",", "}")
  }
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]; NaN for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)

  /** Quantile over a sorted primitive array (large latency samples). */
  def quantileSorted(s: Array[Double], q: Double): Double =
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

object Host {
  /** 1-minute load average, or -1 where /proc is unavailable. */
  def loadAvg1m(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** Peak resident set (VmHWM) of this JVM in MB, or -1. */
  def peakRssMb(): Double =
    try {
      val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
        .map(_.toString).find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case _: Exception => -1.0 }

  /** (steal, total) CPU jiffies of the machine so far, or (0, 0). Steal is
    * time the hypervisor gave this machine's CPUs to others.
    */
  def cpuJiffies(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } catch { case _: Exception => (0L, 0L) }

  /** Peak used heap in MB: the sum of each heap pool's peak. */
  def heapPeakUsedMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed.toDouble).sum / (1024.0 * 1024.0)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.deleteIfExists(x))
      finally s.close()
    }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}
