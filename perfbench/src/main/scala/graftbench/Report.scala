package graftbench

import scala.collection.mutable

/** Everything one run reports: the metrics of the result line, the named
  * metrics printed for people, and the attempted/failed accounting with
  * each failure's class and message. */
final class Report {
  /** name -> (value, unit): end-to-end metrics and, in a traced run, the
    * per-layer ones. `run.py` picks the set `--trace` asks for. */
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  /** Human-readable lines: metric name, value, unit and sample count. */
  val lines = mutable.ArrayBuffer[String]()
  val failures = mutable.ArrayBuffer[String]()
  /** Set-up components (name -> seconds), summed into `setup_s`. */
  val setupParts = mutable.LinkedHashMap[String, Double]()
  var attempted = 0L
  var failed = 0L

  def gauge(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)

  /** A named metric for the printed report, with its sample count. */
  def named(name: String, v: Double, unit: String, samples: Int): Unit =
    lines += f"$name%-34s $v%14.4f $unit%-12s n=$samples"

  def note(s: String): Unit = lines += s

  def setup(part: String, seconds: Double): Unit = setupParts(part) = seconds

  def fail(what: String, t: Throwable): Unit =
    failures += s"$what: ${t.getClass.getName}: ${String.valueOf(t.getMessage).take(400)}"

  def fail(what: String): Unit = failures += what

  /** Count `n` operations attempted, `bad` of them failed. */
  def account(n: Long, bad: Long): Unit = { attempted += n; failed += bad }

  private def q(s: String): String = Report.q(s)

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def json: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s"${q(k)}:{\"value\":${num(v)},\"unit\":${q(u)}}" }.mkString("{", ",", "}")
    val setupLine = "setup: " + setupParts.map { case (k, v) => f"$k $v%.2f s" }.mkString(", ")
    s"""{"attempted":$attempted,"failed":$failed,"setup_s":${num(setupParts.values.sum)},""" +
      s""""metrics":$ms,"lines":${(lines :+ setupLine).map(q).mkString("[", ",", "]")},""" +
      s""""failures":${failures.map(q).mkString("[", ",", "]")}}"""
  }
}

object Report {
  /** A JSON string literal. */
  def q(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

object Stats {
  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val pos = p * (s.size - 1)
    val lo = pos.floor.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

object Jvm {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum

  /** Resident-set high-water mark of this process (VmHWM), in MB. */
  def rssPeakMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }

  def heapPeakMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0

  def record(r: Report): Unit = {
    r.gauge("jvm.rss_peak_mb", rssPeakMb, "MB")
    r.gauge("jvm.gc_ms", gcMs.toDouble, "ms")
    r.gauge("jvm.heap_peak_mb", heapPeakMb, "MB")
  }
}
