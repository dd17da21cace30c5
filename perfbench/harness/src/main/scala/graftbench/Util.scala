package graftbench

import scala.collection.mutable

/** Minimal JSON rendering for the result file and the span dump. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${str(k.toString)}: ${render(x)}" }.mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ", ", "]")
    case other => str(other.toString)
  }
}

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]); NaN on no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** A p90 is reported only with at least 100 samples behind it. */
  def p90(xs: Seq[Double]): Option[Double] =
    if (xs.size >= 100) Some(quantile(xs, 0.9)) else None
}

/** Whole-process CPU time (the JVM's own threads and every local executor thread). */
object Cpu {
  private val bean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def nowNs: Long = bean.getProcessCpuTime
}

/** One timed op of a workload's closed loop. */
final case class OpRec(kind: String, wallMs: Double, cpuMs: Double, traced: Boolean,
    error: Option[String])

/** The ops of one run, their failures, and the run's named metrics. */
final class RunLog {
  val ops: mutable.ArrayBuffer[OpRec] = mutable.ArrayBuffer.empty
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  /** Workload metrics by name -> (value, unit), printed with the result. */
  val named: mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap.empty
  /** Per-layer metrics by name -> value. */
  val layers: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty

  def fail(what: String): Unit = failures += what
  def attempted: Int = ops.size
  def failed: Int = ops.count(_.error.nonEmpty)
}

/** Directory-tree listings and sizes for staging and store accounting. */
object Files {
  def tree(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(tree) else Seq(f)
  def bytes(f: java.io.File): Long = tree(f).map(_.length).sum
}
