package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, its inputs, where it may
  * write, and the recorder for its ops.
  *
  * @param dataDir  the generated inputs (the engine sees only these)
  * @param workDir  the run's own work directory
  * @param probe    Spark counters, present in a traced run
  */
final class Runner(val spark: SparkSession, val seed: Long, val seconds: Int,
    val dataDir: String, val workDir: String, val probe: Option[SparkProbe]) {

  val log = new RunLog
  /** Wall ms of every call into a layer, by "<layer>.<name>", traced or not. */
  val calls: mutable.Map[String, mutable.ArrayBuffer[Double]] =
    mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  /** Unit ops (the latency the gated end-to-end metrics summarise). */
  val units: mutable.ArrayBuffer[OpRec] = mutable.ArrayBuffer.empty
  private var nextOp = 0
  private var unitTraced = false

  def traceRun: Boolean = probe.nonEmpty

  /** One call into an engine layer: timed always, a span when traced. */
  def call[T](layer: String, name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try Trace.span(layer, name)(f)
    finally calls.getOrElseUpdate(s"$layer.$name", mutable.ArrayBuffer.empty) +=
      (System.nanoTime() - t0) / 1e6
  }

  def callMs(key: String): Seq[Double] = calls.get(key).map(_.toSeq).getOrElse(Nil)

  /** One op of the closed loop, inside the current unit. A throwing op
    * is recorded as failed and the loop goes on. Returns the op's index
    * in the log so a later output check can mark it failed. */
  def op[T](kind: String)(f: => T): (Int, Option[T]) = {
    val c0 = Cpu.nowNs
    val t0 = System.nanoTime()
    val r = try Right(Trace.span("op", kind)(f)) catch { case e: Throwable => Left(e) }
    val rec = OpRec(kind, (System.nanoTime() - t0) / 1e6, (Cpu.nowNs - c0) / 1e6,
      unitTraced, r.swap.toOption.map(e =>
        s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"))
    log.ops += rec
    rec.error.foreach(e => log.fail(s"$kind: $e"))
    (log.ops.size - 1, r.toOption)
  }

  /** Mark an already-recorded op failed (its output check failed). */
  def markWrong(index: Int, why: String): Unit = {
    val o = log.ops(index)
    if (o.error.isEmpty) log.ops(index) = o.copy(error = Some(s"wrong output: $why"))
    log.fail(s"${o.kind}: wrong output: $why")
  }

  /** One unit of the workload (a cycle, a pass). In a traced
    * run every other unit is traced, so the two halves give the
    * tracing overhead. */
  def unit(kind: String)(f: => Unit): Unit = {
    val id = nextOp
    nextOp += 1
    unitTraced = traceRun && id % 2 == 0
    Trace.on = unitTraced
    Trace.beginOp(id)
    val c0 = Cpu.nowNs
    val t0 = System.nanoTime()
    val failedBefore = log.failed
    try probe.filter(_ => unitTraced).fold(f)(_.traced(id)(f))
    finally {
      units += OpRec(kind, (System.nanoTime() - t0) / 1e6, (Cpu.nowNs - c0) / 1e6,
        unitTraced, if (log.failed > failedBefore) Some("op failed") else None)
      Trace.on = false
      Trace.endOp()
      unitTraced = false
    }
  }

  /** Wall-clock ms when set-up ended (the first timed unit starts). */
  var setupEndMs: Long = 0L
  def setupDone(): Unit = setupEndMs = System.currentTimeMillis()

  /** A unit's typical cost from its ops: for each op kind, the median
    * over the timed ops of that kind times how many of them a unit runs,
    * summed. Every unit runs the same op kinds, so this is the unit's
    * latency with one-off stalls (a GC pause, a noisy neighbour) filtered
    * out op by op instead of unit by unit. */
  def unitEstimate(of: OpRec => Double): Double = {
    val n = math.max(1, units.size)
    log.ops.filter(_.error.isEmpty).groupBy(_.kind).values
      .map(ops => Stats.median(ops.map(of).toSeq) * ops.size / n).sum
  }

  /** Wall ms of the successful ops of one kind. */
  def wallOf(kind: String): Seq[Double] =
    log.ops.filter(o => o.kind == kind && o.error.isEmpty).map(_.wallMs).toSeq

  /** Closed loop: run units until `seconds` of measuring have passed,
    * and at least two, so that every run reports a median of several
    * units (and a traced run one traced and one untraced unit). */
  def loop(body: Int => Unit): Unit = {
    val deadline = System.nanoTime() + seconds * 1000000000L
    var i = 0
    while (i < 2 || System.nanoTime() < deadline) { body(i); i += 1 }
  }
}
