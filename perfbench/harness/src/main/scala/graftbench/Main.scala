package graftbench

import scala.collection.mutable

import graft.GraftSession

/** The benchmark's JVM side: one workload, one session, one client
  * thread driving a closed loop. Writes a result file that `run.py`
  * turns into the benchmark's output.
  *
  * Usage: graftbench.Main <workload> <seed> <seconds> <trace 0|1>
  *          <data dir> <work dir> <result file>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, dataDir, workDir, resultFile) = args
    val nproc = Runtime.getRuntime.availableProcessors
    val traced = traceS == "1"
    val spark = GraftSession.builder(s"local[$nproc]", nproc)
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      .config("spark.sql.catalog.graft.base", s"$workDir/stores")
      .getOrCreate()
    GraftSession.getOrCreate(s"local[$nproc]", nproc) // registers graft's functions
    spark.sparkContext.setLogLevel("ERROR")

    val probe = if (traced) Some(new SparkProbe(spark)) else None
    probe.foreach(_.attach())
    val r = new Runner(spark, seedS.toLong, secondsS.toInt, dataDir, workDir, probe)
    val staging = new StagingProbe(graft.Staging.Base)
    val oracleDir = s"$workDir/outputs"
    try workload match {
      case "secure_lake" => SecureLake.run(r)
      case "llm_pipeline" => LlmPipeline.run(r, staging, oracleDir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } catch {
      case e: Throwable =>
        r.log.fail(s"workload aborted: ${e.getClass.getSimpleName}: ${e.getMessage}")
        e.printStackTrace()
    }

    val L = r.log.layers
    probe.foreach { p =>
      p.detach()
      val n = math.max(1, p.tracedOpCount)
      L("spark.planning_ms") = p.planningMs
      for (k <- Seq("jobs", "stages", "tasks", "failed_tasks", "task_wait_s",
          "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_read_bytes",
          "shuffle_write_bytes", "input_bytes", "output_bytes", "spill_bytes"))
        L(s"spark.$k") = p.c(k)
      L("spark.jobs_per_op") = p.c("jobs") / n
      for (layer <- Seq("crypto", "sources", "operators", "streaming"))
        L(s"$layer.self_s") = Trace.selfSeconds(layer)
      val tracedMs = r.units.filter(_.traced).map(_.wallMs).toSeq
      val plainMs = r.units.filterNot(_.traced).map(_.wallMs).toSeq
      L("trace.overhead_ratio") = Stats.median(tracedMs) / Stats.median(plainMs)
      Trace.dumpJson(s"$workDir/spans.json")
    }

    val units = r.units.toSeq
    val env = mutable.LinkedHashMap[String, Any](
      "nproc" -> nproc,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version)
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workload,
      "attempted" -> r.log.attempted,
      "failed" -> r.log.failed,
      "failures" -> r.log.failures.toSeq,
      "setup_end_ms" -> r.setupEndMs,
      "units" -> units.size,
      "unit_ms" -> units.map(_.wallMs),
      "unit_est_ms" -> r.unitEstimate(_.wallMs),
      "unit_est_cpu_ms" -> r.unitEstimate(_.cpuMs),
      "named" -> r.log.named.map { case (k, (v, u)) =>
        k -> mutable.LinkedHashMap("value" -> v, "unit" -> u) },
      "layers" -> L,
      "staging_created" -> staging.created.toSeq.sorted,
      "env" -> env)
    java.nio.file.Files.write(java.nio.file.Paths.get(resultFile),
      Json.render(out).getBytes("UTF-8"))
    spark.stop()
  }
}
