package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's own calls into each engine layer.
  *
  * One client thread drives every workload, so a plain stack gives
  * each span its parent. Spans are kept in memory while the run lasts
  * and written out once at exit ([[Trace.dumpJson]]). A layer's self
  * time is its spans' time minus the part their child spans cover.
  *
  * Recording is switched per unit: a traced run alternates traced and
  * untraced units, so the latency difference between the two halves is
  * the tracing overhead.
  */
object Trace {
  final case class Span(id: Int, parent: Int, layer: String, name: String,
      op: Int, startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  @volatile var on: Boolean = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var op = -1

  /** Op id that the spans of the current unit carry. */
  def beginOp(id: Int): Unit = op = id
  def endOp(): Unit = op = -1

  def span[T](layer: String, name: String)(f: => T): T =
    if (!on) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try f
      finally {
        stack = stack.tail
        spans += Span(id, parent, layer, name, op, t0, System.nanoTime())
      }
    }

  /** Seconds of `layer`'s spans not covered by their direct children. */
  def selfSeconds(layer: String): Double = {
    val children = spans.groupBy(_.parent)
    spans.iterator.filter(_.layer == layer).map { s =>
      val covered = children.getOrElse(s.id, Nil).map(_.seconds).sum
      math.max(0.0, s.seconds - covered)
    }.sum
  }

  def dumpJson(path: String): Unit = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val rows = spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"layer":${Json.str(s.layer)},""" +
        s""""name":${Json.str(s.name)},"op":${s.op},""" +
        f""""start_ms":${(s.startNs - t0) / 1e6}%.3f,"end_ms":${(s.endNs - t0) / 1e6}%.3f}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      rows.mkString("[\n", ",\n", "\n]\n").getBytes("UTF-8"))
    ()
  }
}

/** Spark-engine counters for the traced units: jobs, stages and tasks
  * (with task wait, executor run/CPU/GC time, shuffle, input, output
  * and spill bytes) from a SparkListener, and Catalyst planning time
  * from each query's `QueryExecution.tracker`.
  *
  * Jobs are attributed to a unit through a local property set on the
  * client thread before the unit starts (threads it starts, such as a
  * streaming query's, inherit it); stages and tasks follow their job.
  * Planning phases carry wall-clock start times, so a query is
  * attributed to the traced unit whose interval holds its analysis
  * start. Listener events arrive asynchronously: call [[drain]]
  * before reading the totals.
  */
final class SparkProbe(spark: SparkSession) extends SparkListener {
  val OpProperty = "graftbench.op"
  private val tracedOps = mutable.Set.empty[Int]
  private val opIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val tracedStages = mutable.Set.empty[Int]
  private val stageSubmit = mutable.Map.empty[(Int, Int), Long]
  private val planStarts = mutable.ArrayBuffer.empty[(Long, Long)]
  val c: mutable.Map[String, Double] = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  private def add(k: String, v: Double): Unit = c(k) = c(k) + v

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    val start = phases.get("analysis").orElse(phases.values.headOption).map(_.startTimeMs)
    val ms = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs).sum
    start.foreach(t => synchronized { planStarts += ((t, ms)) })
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(qeListener)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(qeListener)
  }

  /** Mark unit `op` as traced while it runs on the client thread. */
  def traced[T](op: Int)(f: => T): T = {
    synchronized { tracedOps += op }
    spark.sparkContext.setLocalProperty(OpProperty, op.toString)
    val t0 = System.currentTimeMillis()
    try f
    finally {
      spark.sparkContext.setLocalProperty(OpProperty, null)
      synchronized { opIntervals += ((t0, System.currentTimeMillis())) }
    }
  }

  def drain(): Unit = org.apache.spark.graftbenchshim.waitForListeners(spark)

  def tracedOpCount: Int = synchronized(tracedOps.size)

  /** Catalyst planning ms of queries that started inside a traced unit. */
  def planningMs: Double = synchronized {
    planStarts.iterator.filter { case (t, _) =>
      opIntervals.exists { case (a, b) => t >= a && t <= b }
    }.map(_._2.toDouble).sum
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpProperty)))
    if (op.exists(o => tracedOps.contains(o.toInt))) {
      add("jobs", 1)
      tracedStages ++= e.stageIds
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val si = e.stageInfo
    if (tracedStages.contains(si.stageId)) {
      add("stages", 1)
      si.submissionTime.foreach(t => stageSubmit((si.stageId, si.attemptNumber())) = t)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (tracedStages.contains(e.stageId)) {
      add("tasks", 1)
      if (!e.taskInfo.successful) add("failed_tasks", 1)
      stageSubmit.get((e.stageId, e.stageAttemptId)).foreach(t =>
        add("task_wait_s", math.max(0L, e.taskInfo.launchTime - t) / 1e3))
      Option(e.taskMetrics).foreach { m =>
        add("executor_run_s", m.executorRunTime / 1e3)
        add("executor_cpu_s", m.executorCpuTime / 1e9)
        add("gc_s", m.jvmGCTime / 1e3)
        add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("input_bytes", m.inputMetrics.bytesRead.toDouble)
        add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
        add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    }
  }
}
