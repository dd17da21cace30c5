package graftbench

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

import graft.SparkEntry

/** Staging accounting from listings of the engine's staging directory,
  * taken before and after each call: a staged dir that is new, or
  * whose contents were republished, was built by the call; a dir the
  * call's stage built earlier and left untouched was reused. */
final class StagingProbe(base: String) {
  var built = 0
  var reused = 0
  var buildMs = 0.0
  private val owned = mutable.Map.empty[String, mutable.Set[String]]
  val created = mutable.Set.empty[String]

  private def listing(): Map[String, Long] =
    Option(new java.io.File(base).listFiles()).toSeq.flatten
      .filterNot(_.getName.startsWith("."))
      .map(f => f.getName -> Option(f.listFiles()).toSeq.flatten.map(_.lastModified)
        .foldLeft(f.lastModified)(math.max)).toMap

  def around[T](stage: String, active: Boolean)(f: => T): T =
    if (!active) f
    else {
      val before = listing()
      val t0 = System.nanoTime()
      val out = f
      val ms = (System.nanoTime() - t0) / 1e6
      val after = listing()
      val changed = after.filter { case (n, t) => !before.get(n).contains(t) }.keySet
      val mine = owned.getOrElseUpdate(stage, mutable.Set.empty)
      if (changed.nonEmpty) { built += changed.size; buildMs += ms }
      reused += mine.count(n => after.contains(n) && !changed.contains(n))
      mine ++= changed
      created ++= changed.filterNot(before.contains)
      out
    }

  def bytes: Long = created.toSeq.map(n => Files.bytes(new java.io.File(base, n))).sum
}

/** Runs SparkEntry keys as timed ops and keeps each key's last output
  * and row count for the output checks. */
final class KeyRunner(r: Runner, staging: StagingProbe) {
  val refRows = mutable.Map.empty[String, Int]
  val last = mutable.Map.empty[String, (StructType, Array[Row])]
  var inSetup = true

  /** Build the key's DataFrame (the key's function call, staging side effects
    * included) and collect it, as two calls into `layer`. */
  def run(key: String, layer: String): Unit = {
    val active = r.traceRun && (inSetup || Trace.on)
    val (i, got) = r.op(key) {
      staging.around(key, active) {
        val df = r.call(layer, s"$key.build")(SparkEntry.queries(key)(r.spark, r.dataDir))
        (df.schema, r.call(layer, s"$key.exec")(df.collect()))
      }
    }
    got.foreach { case (schema, rows) =>
      last(key) = (schema, rows)
      refRows.get(key) match {
        case None => refRows(key) = rows.length
        case Some(n) if n != rows.length =>
          r.markWrong(i, s"$key returned ${rows.length} rows, its first run $n")
        case _ =>
      }
    }
  }

  /** Write each key's last output as parquet for the oracle compare,
    * with the oracle SQL beside them. */
  def dump(outDir: String): Unit = {
    new java.io.File(outDir).mkdirs()
    for ((key, (schema, rows)) <- last) {
      r.spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$key")
    }
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => last.contains(k) }
    java.nio.file.Files.write(java.nio.file.Paths.get(outDir, "oracle_sql.json"),
      Json.render(oracle).getBytes("UTF-8"))
    ()
  }
}

/** llm_pipeline: the curation order over the documents and embeddings
  * tables. One unit is one pass over all stages. The first pass runs
  * in set-up: it warms every op type and builds the staged indexes the
  * timed passes reuse. */
object LlmPipeline {
  val Stages: Seq[(String, String)] = Seq(
    "text_quality" -> "operators",
    "dedup_exact" -> "operators",
    "dedup_minhash_recall" -> "operators",
    "dedup_setsim" -> "operators",
    "dedup_semantic" -> "operators",
    "sim_ann_ivfpq" -> "operators",
    "q_hybrid_rrf" -> "operators",
    "stream_chunked_ingest" -> "streaming",
    "stream_dedup" -> "streaming",
    "pipeline_prepare_corpus" -> "operators",
    "pipeline_llm_mix" -> "operators")

  def run(r: Runner, staging: StagingProbe, outDir: String): Unit = {
    val keys = new KeyRunner(r, staging)
    def pass(): Unit = Stages.foreach { case (k, layer) => keys.run(k, layer) }
    pass()
    r.log.ops.clear(); r.calls.clear()
    keys.inSetup = false
    r.setupDone()

    r.loop(_ => r.unit("pass")(pass()))
    keys.dump(outDir)

    val passes = r.units.map(_.wallMs).toSeq
    val named = r.log.named
    named("pipeline_pass_s") = (Stats.median(passes) / 1e3, "s")
    named("pipeline_cpu_s") = (Stats.median(r.units.map(_.cpuMs).toSeq) / 1e3, "s")

    val L = r.log.layers
    for ((k, layer) <- Stages) {
      L(s"$layer.$k.build_ms") = Stats.median(r.callMs(s"$layer.$k.build"))
      L(s"$layer.$k.exec_s") = Stats.median(r.callMs(s"$layer.$k.exec")) / 1e3
    }
    L("staging.built") = staging.built.toDouble
    L("staging.reused") = staging.reused.toDouble
    L("staging.reuse_ratio") =
      if (staging.built + staging.reused == 0) 0.0
      else staging.reused.toDouble / (staging.built + staging.reused)
    L("staging.build_s") = staging.buildMs / 1e3
    L("staging.bytes") = staging.bytes.toDouble
  }
}
