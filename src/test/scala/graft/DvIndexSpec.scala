package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Maintenance
import graft.sources.DvSidecars

/** The deletion-vector (DV) key index — which sidecar files carry
  * positions for which data file — built from sidecar footers and
  * file_key dictionary pages instead of a distinct job, on
  * `dataPlane = true` stores whose sidecars are PME ciphertext.
  */
class DvIndexSpec extends AnyFunSuite {
  import TestSession._

  /** An encrypted-data store with one DELETE, UPDATE and MERGE sidecar
    * each, plus one sidecar folding all their positions into a single
    * file; `writeOpts` go to the store's `parquet_opts.txt` first.
    * Returns the root and the sidecar dirs. A row-level write's sidecar
    * file serves one data file; the folded one names several. */
  private def mutatedStore(name: String,
      writeOpts: Map[String, String] = Map.empty): (String, Seq[String]) = {
    import spark.implicits._
    val root = s"/tmp/graft_q/${name}_spec"
    graft.Staging.rmTree(new java.io.File(root))
    val orders = Tables.orders(spark, sf)
    Maintenance.createStore(root, orders.schema)
    Maintenance.enableStoreEncryption(root, s"$name-mk", dataPlane = true)
    if (writeOpts.nonEmpty) Maintenance.setStoreWriteOptions(root, writeOpts)
    orders.filter($"o_orderkey" % 2 === 0).write.format("graft").mode("append").save(root)
    orders.filter($"o_orderkey" % 2 === 1).write.format("graft").mode("append").save(root)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft.base", "/tmp/graft_q")
    val t = s"graft.`${new java.io.File(root).getName}`"
    spark.sql(s"DELETE FROM $t WHERE o_orderkey % 7 = 0")
    spark.sql(s"UPDATE $t SET o_totalprice = o_totalprice + 1 WHERE o_orderkey % 11 = 0")
    orders.filter($"o_orderkey" % 13 === 0).withColumn("o_comment", lit("merged"))
      .createOrReplaceTempView(s"${name}_src")
    spark.sql(s"""MERGE INTO $t t USING ${name}_src s ON t.o_orderkey = s.o_orderkey
                 |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    val dml = Maintenance.manifestPaths(root, Maintenance.currentSnapshotVersion(root))
      .filter(_.startsWith("dv:")).map(_.stripPrefix("dv:"))
    assert(dml.size == 3, s"expected one sidecar per mutation: $dml")
    val folded = s"$root/dv_folded"
    val opts = Maintenance.dataPlaneOptions(root) ++ Maintenance.parquetWriteOpts(root)
    spark.read.options(Maintenance.dataPlaneOptions(root)).parquet(dml: _*).coalesce(1)
      .write.options(opts).parquet(folded)
    (root, dml :+ folded)
  }

  /** The index as a distinct job over the sidecars computes it. */
  private def distinctJobIndex(root: String, dirs: Seq[String]): Map[String, Seq[String]] =
    spark.read.options(Maintenance.dataPlaneOptions(root)).parquet(dirs: _*)
      .select(col("file_key"), col("_metadata.file_path")).distinct().collect()
      .toSeq.map(r => (r.getString(0), r.getString(1)))
      .groupBy(_._1).map { case (k, fs) => k -> fs.map(_._2).sorted }

  /** Some sidecar file carries positions for several data files: the
    * index then needs more than a chunk's min/max. */
  private def multiKeyFile(idx: Map[String, Seq[String]]): Boolean =
    idx.values.flatten.groupBy(identity).exists(_._2.size > 1)

  test("footer index equals the distinct-job index after DELETE, UPDATE and MERGE") {
    val (root, dirs) = mutatedStore("dvidx_dict")
    val (idx, jobs) = jobsDuring(DvSidecars.keyIndex(spark, root, dirs))
    assert(jobs == 0, s"single-key and dictionary-encoded sidecars must index with no job, saw $jobs")
    assert(idx.nonEmpty && idx == distinctJobIndex(root, dirs))
    assert(multiKeyFile(idx), "the folded sidecar should name several data files")
  }

  test("planning a MoR snapshot read and an UPDATE runs no job before the scan's own") {
    val (root, _) = mutatedStore("dvidx_plan")
    val (parts, planJobs) = jobsDuring {
      val df = spark.read.format("graft").load(root)
      df.queryExecution.sparkPlan.collectFirst { case b: BatchScanExec =>
        b.inputRDD.getNumPartitions }.get
    }
    assert(parts > 0)
    assert(planJobs == 0, s"MoR read planning ran $planJobs jobs")
    val v = Maintenance.currentSnapshotVersion(root)
    assert(spark.read.format("graft").load(root).count() ==
      Maintenance.readSnapshotMoR(spark, root, v).count())
    val t = s"graft.`${new java.io.File(root).getName}`"
    // an UPDATE's one job is its own scan-and-write; the DV index used
    // to add a distinct job (and its AQE stages) in front of it
    val (_, updateJobs) = jobsDuring(
      spark.sql(s"UPDATE $t SET o_totalprice = o_totalprice + 1 WHERE o_orderkey % 17 = 0"))
    assert(updateJobs == 1, s"UPDATE ran $updateJobs jobs, expected only its scan's")
  }

  test("sidecars written without dictionaries fall back to the job, same map") {
    val (root, dirs) = mutatedStore("dvidx_plain", Map("parquet.enable.dictionary" -> "false"))
    val (idx, jobs) = jobsDuring(DvSidecars.keyIndex(spark, root, dirs))
    assert(jobs >= 1, "non-dictionary multi-key chunks must take the distinct job")
    assert(idx.nonEmpty && idx == distinctJobIndex(root, dirs))
    assert(multiKeyFile(idx))
  }
}
