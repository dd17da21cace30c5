package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.crypto.{ColumnPolicy, CryptoConfig, EncryptedParquet, Kms}
import graft.operators.Maintenance

/** secure_lake: the column-encrypted dataset and the encrypted store.
  *
  * One unit of the closed loop is a cycle that runs every op kind once:
  *  1. write the whole input frame with `EncryptedParquet.write` (four
  *     encrypted columns, each under a seeded one of the explicit,
  *     KMS-DEK and fallback key policies);
  *  2. read it back with `EncryptedParquet.read` four times: two
  *     requests that split the encrypted columns at a seeded point, one
  *     request of all of them, and a plaintext-only filtered projection
  *     (an empty request);
  *  3. commit a small append, SQL DELETE, UPDATE and MERGE, in a seeded
  *     order, to a `dataPlane = true` encrypted graft store, reading the
  *     store's merge-on-read snapshot after each;
  *  4. compact the store and read the snapshot again;
  *  5. rotate the store KEK and the dataset's master key.
  * Every cycle does the same work, so cycle times are comparable across
  * seeds; the seed moves data values, key policies, which columns each
  * split request holds, commit order and mutation targets.
  *
  * Output checks, all outside the timed cycles: each read's row
  * fingerprint (row count and the sum of per-row hashes over every
  * column) must equal the plaintext input's with unrequested encrypted
  * columns replaced by `[ENCRYPTED]` -- every cycle decrypts every
  * encrypted column, so every decrypted value is checked; every
  * snapshot's aggregates must equal the benchmark's own replay of the
  * mutation log.
  */
object SecureLake {
  /** The encrypted columns: the long-value text column and three
    * numeric ones. The seed picks each column's key policy. */
  private val EncCols = Seq("l_comment", "l_extendedprice", "l_discount", "l_tax")
  private val StoreCols = Seq("l_orderkey", "l_quantity", "l_extendedprice",
    "l_tax", "l_returnflag", "l_comment")
  private val BaseRows = 10000
  private val AppendRows = 500
  private val MergeRows = 200
  private val P = 2147483647L

  /** Order-free fingerprint of a frame: row count and the sum of
    * per-row hashes over every column. */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), sum(pmod(xxhash64(df.columns.toSeq.map(col): _*), lit(P))))
      .collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** The replayed store: rid -> (quantity, price, returnflag, comment length). */
  final case class Cell(qty: Option[Double], price: Option[Double],
      flag: Option[String], commentLen: Option[Int])

  def run(r: Runner): Unit = {
    val spark = r.spark
    val rng = new scala.util.Random(r.seed)
    val input = spark.read.parquet(s"${r.dataDir}/lineitem.parquet")
    val cols = input.columns.toSeq
    val nRows = input.count()

    // -- key policies: a seeded mix with every policy kind present
    val kinds = rng.shuffle(Seq("explicit", "kms", "fallback",
      Seq("explicit", "kms", "fallback")(rng.nextInt(3))))
    val policies = EncCols.zip(kinds).map {
      case (c, "explicit") => ColumnPolicy(c, explicitKey = Some(f"explicit-key-${rng.nextInt(1000)}%03d"))
      case (c, "kms") => ColumnPolicy(c, kmsMasterKeyId = Some("bench-kms-1"))
      case (c, _) => ColumnPolicy(c)
    }
    var cfg = CryptoConfig("bench-mk-0", policies, fallbackKey = Some("fallback-key-016"))
    val nonNull: Map[String, Long] = {
      val row = input.agg(count(col(EncCols.head)), EncCols.tail.map(c => count(col(c))): _*)
        .collect()(0)
      EncCols.zipWithIndex.map { case (c, i) => c -> row.getLong(i) }.toMap
    }
    // filters on columns that are never encrypted
    def plainProjection(df: DataFrame): DataFrame =
      df.filter(col("l_linenumber") <= 3 && col("l_returnflag") === "A")
        .select(cols.filterNot(EncCols.contains).map(col): _*)

    // -- the store and its replay model
    val storesDir = s"${r.workDir}/stores"
    val root = s"$storesDir/lake"
    val pool: Array[Row] = input.select(StoreCols.map(col): _*).collect()
    val storeSchema = StructType(StructField("rid", LongType, nullable = false) +:
      input.select(StoreCols.map(col): _*).schema.fields)
    val model = mutable.LinkedHashMap.empty[Long, Cell]
    var nextRid = 0L
    def cellOf(row: Row): Cell = Cell(
      Option(row.get(2)).map(_.asInstanceOf[Double]),
      Option(row.get(3)).map(_.asInstanceOf[Double]),
      Option(row.getString(5)), Option(row.getString(6)).map(_.length))
    def freshRows(n: Int): Seq[Row] = (0 until n).map { _ =>
      val src = pool(rng.nextInt(pool.length))
      val row = Row.fromSeq(nextRid +: src.toSeq)
      nextRid += 1
      row
    }
    def frame(rows: Seq[Row]): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), storeSchema)
    val snapshotChecks = mutable.ArrayBuffer.empty[(Int, Seq[Any], Seq[Any])]
    def expectedSnapshot: Seq[Any] = {
      val cells = model.values
      Seq(cells.size.toLong,
        cells.flatMap(_.qty).map(BigDecimal(_).setScale(2)).sum,
        cells.flatMap(_.price).map(BigDecimal(_).setScale(2)).sum,
        cells.flatMap(_.commentLen).map(_.toLong).sum,
        cells.count(_.flag.contains("U")).toLong,
        cells.count(_.flag.contains("M")).toLong)
    }
    def snapshot(): Unit = {
      val (i, got) = r.op("snapshot_read") {
        val df = r.call("sources", "resolve")(spark.read.format("graft").load(root))
        r.call("sources", "snapshot_exec") {
          df.agg(count(lit(1)),
            sum(col("l_quantity").cast(DecimalType(18, 2))),
            sum(col("l_extendedprice").cast(DecimalType(18, 2))),
            sum(length(col("l_comment")).cast(LongType)),
            count(when(col("l_returnflag") === "U", 1)),
            count(when(col("l_returnflag") === "M", 1))).collect()(0)
        }
      }
      got.foreach { row =>
        val vals = row.toSeq.map {
          case d: java.math.BigDecimal => BigDecimal(d)
          case null => BigDecimal(0)
          case x => x
        }
        snapshotChecks += ((i, vals, expectedSnapshot))
      }
    }

    // one commit of each kind; the model replays what the SQL does
    def append(): Unit = {
      val rows = freshRows(AppendRows)
      r.op("commit.append")(r.call("sources", "commit.append")(
        frame(rows).write.format("graft").mode("append").save(root)))
      rows.foreach(row => model(row.getLong(0)) = cellOf(row))
    }
    def delete(): Unit = {
      val m = 97; val k = rng.nextInt(m)
      r.op("commit.delete")(r.call("sources", "commit.delete")(
        spark.sql(s"DELETE FROM graft.lake WHERE rid % $m = $k")))
      model.keys.filter(_ % m == k).toSeq.foreach(model.remove)
    }
    def update(): Unit = {
      val m = 89; val k = rng.nextInt(m)
      r.op("commit.update")(r.call("sources", "commit.update")(spark.sql(
        s"UPDATE graft.lake SET l_quantity = l_quantity + 1, l_returnflag = 'U' " +
          s"WHERE rid % $m = $k")))
      model.keys.filter(_ % m == k).toSeq.foreach { rid =>
        val c = model(rid)
        model(rid) = c.copy(qty = c.qty.map(_ + 1), flag = Some("U"))
      }
    }
    def merge(): Unit = {
      val live = model.keys.toArray
      val matched = (0 until MergeRows).map(_ => live(rng.nextInt(live.length))).distinct
      val src = matched.map { rid =>
        val p = pool(rng.nextInt(pool.length))
        Row.fromSeq(Seq(rid, p.get(0), p.get(1), p.get(2), p.get(3), "M", p.get(5)))
      } ++ freshRows(MergeRows)
      frame(src).createOrReplaceTempView("lake_merge_src")
      r.op("commit.merge")(r.call("sources", "commit.merge")(spark.sql(
        """MERGE INTO graft.lake t USING lake_merge_src s ON t.rid = s.rid
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)))
      src.foreach(row => model(row.getLong(0)) = cellOf(row))
    }
    val commits = Seq[() => Unit](() => append(), () => delete(), () => update(), () => merge())
    var sinceCompact = -1
    def commit(k: Int): Unit = {
      val n0 = r.log.ops.size
      commits(k)()
      if (sinceCompact == 0) r.calls.getOrElseUpdate("sources.post_compact_commit",
        mutable.ArrayBuffer.empty) += r.log.ops(n0).wallMs
      sinceCompact += 1
    }

    // -- the encrypted dataset
    val dsDirs = Seq(s"${r.workDir}/enc_a", s"${r.workDir}/enc_b")
    var dsIdx = 0
    var rotations = 0
    val readChecks = mutable.ArrayBuffer.empty[(Int, Seq[String], (Long, Long))]
    var valuesDecrypted = 0L
    var rowsRead = 0L
    def encWrite(): Unit = {
      dsIdx = 1 - dsIdx
      cfg = cfg.copy(masterKeyId = "bench-mk-0")
      r.op("enc_write")(r.call("crypto", "write")(
        EncryptedParquet.write(input, dsDirs(dsIdx), cfg)))
    }
    /** Four reads: two that split the encrypted columns at a seeded
      * point (1 to all-but-one columns each, so every split costs the
      * same), one of every encrypted column, and the plaintext-only
      * filtered projection (an empty request). */
    def encReads(): Unit = {
      val k = 1 + rng.nextInt(EncCols.size - 1)
      val shuffled = rng.shuffle(EncCols)
      encRead(shuffled.take(k))
      encRead(shuffled.drop(k))
      encRead(shuffled)
      encRead(Nil)
    }
    def encRead(request: Seq[String]): Unit = {
      val dir = dsDirs(dsIdx)
      val plain = request.isEmpty
      val (i, got) = r.op(if (plain) "plain_projection" else "enc_read") {
        val m = r.call("crypto", "manifest_read")(
          EncryptedParquet.readManifest(spark, dir, cfg.masterKeyId))
        for (c <- m.columns if c.mode == "kms" && request.contains(c.name))
          r.call("crypto", "dek_unwrap")(
            Kms.unwrapFromBase64(c.wrappedDek.get, c.masterKeyId.get))
        val df = r.call("crypto", "read_plan")(EncryptedParquet.read(spark, dir, request, cfg))
        r.call("crypto", "read_exec")(fingerprint(if (plain) plainProjection(df) else df))
      }
      got.foreach(fp => readChecks += ((i, request, fp)))
      if (!plain) {
        rowsRead += nRows
        valuesDecrypted += request.map(nonNull).sum
      }
    }
    def rotateDataset(): Unit = {
      rotations += 1
      val next = s"bench-mk-$rotations"
      r.op("rotate_master_key")(r.call("crypto", "rotate")(
        EncryptedParquet.rotateMasterKey(spark, dsDirs(dsIdx), cfg, next)))
      cfg = cfg.copy(masterKeyId = next)
    }
    var keks = 0
    def rotateKek(): Unit = {
      keks += 1
      r.op("kek_rotate")(r.call("sources", "kek_rotate")(
        Maintenance.rotateStoreKek(root, s"store-kek-$keks")))
    }
    var compactBytes = 0L
    def compact(): Unit = {
      val before = Files.tree(new java.io.File(root)).map(_.getPath).toSet
      r.op("compact")(r.call("sources", "compact")(Maintenance.compactStore(spark, root)))
      compactBytes += Files.tree(new java.io.File(root))
        .filterNot(f => before.contains(f.getPath)).map(_.length).sum
      sinceCompact = 0
    }

    /** One unit: every op kind once. */
    def cycle(): Unit = {
      encWrite()
      encReads()
      for (k <- rng.shuffle(commits.indices.toList)) { commit(k); snapshot() }
      compact()
      snapshot()
      rotateKek()
      rotateDataset()
    }

    // -- set-up: the store's base version, one untimed warm-up cycle
    // (every op type), and the plain-parquet baseline write
    locally {
      new java.io.File(storesDir).mkdirs()
      Maintenance.createStore(root, storeSchema)
      Maintenance.enableStoreEncryption(root, "store-dk-1", dataPlane = true)
      val base = freshRows(BaseRows)
      frame(base).write.format("graft").mode("append").save(root)
      base.foreach(row => model(row.getLong(0)) = cellOf(row))
      cycle()
      r.log.ops.clear(); r.calls.clear(); readChecks.clear(); snapshotChecks.clear()
      valuesDecrypted = 0; rowsRead = 0; compactBytes = 0
    }
    val plainDir = s"${r.workDir}/plain"
    val plainMs = {
      val t0 = System.nanoTime()
      input.write.mode("overwrite").parquet(plainDir)
      (System.nanoTime() - t0) / 1e6
    }
    val plainBytes = parquetBytes(plainDir)
    r.setupDone()

    r.loop(_ => r.unit("cycle")(cycle()))

    // -- output checks, outside the timed cycles
    val expected = mutable.Map.empty[Seq[String], (Long, Long)]
    for ((i, request, got) <- readChecks) {
      val exp = expected.getOrElseUpdate(request.sorted, fingerprint {
        val df = input.select(cols.map { c =>
          if (EncCols.contains(c) && !request.contains(c))
            lit(EncryptedParquet.Placeholder).as(c)
          else col(c)
        }: _*)
        if (request.isEmpty) plainProjection(df) else df
      })
      if (got != exp) r.markWrong(i, s"read of ${request.mkString("[", ",", "]")}: " +
        s"fingerprint $got, plaintext gives $exp")
    }
    for ((i, got, exp) <- snapshotChecks if got != exp)
      r.markWrong(i, s"snapshot aggregates $got, replayed log gives $exp")

    // -- metrics
    val writeMs = r.wallOf("enc_write")
    val readMs = r.wallOf("enc_read")
    val commitMs = Seq("append", "delete", "update", "merge").flatMap(k => r.wallOf(s"commit.$k"))
    val encBytes = parquetBytes(dsDirs(dsIdx))
    val named = r.log.named
    named("enc_write_rows_per_s") = (nRows * writeMs.size / (writeMs.sum / 1e3), "rows/s")
    named("enc_read_rows_per_s") = (rowsRead / (readMs.sum / 1e3), "rows/s")
    named("enc_bytes_per_plain_byte") = (encBytes.toDouble / plainBytes, "ratio")
    named("commit_p50_ms") = (Stats.median(commitMs), "ms")
    Stats.p90(commitMs).foreach(v => named("commit_p90_ms") = (v, "ms"))
    named("snapshot_read_p50_ms") = (Stats.median(r.wallOf("snapshot_read")), "ms")

    val L = r.log.layers
    def sumS(k: String) = r.callMs(k).sum / 1e3
    def med(k: String) = Stats.median(r.callMs(k))
    L("crypto.write_s") = med("crypto.write") / 1e3
    L("crypto.plain_write_s") = plainMs / 1e3
    L("crypto.read_plan_ms") = med("crypto.read_plan")
    L("crypto.read_exec_s") = med("crypto.read_exec") / 1e3
    L("crypto.manifest_read_ms") = med("crypto.manifest_read")
    L("crypto.dek_unwrap_us") = med("crypto.dek_unwrap") * 1e3
    L("crypto.rotate_ms") = med("crypto.rotate")
    L("crypto.values_encrypted") = (writeMs.size * EncCols.map(nonNull).sum).toDouble
    L("crypto.values_decrypted") = valuesDecrypted.toDouble
    for (k <- Seq("append", "delete", "update", "merge"))
      L(s"sources.commit_ms.$k") = med(s"sources.commit.$k")
    L("sources.resolve_ms") = med("sources.resolve")
    L("sources.snapshot_exec_ms") = med("sources.snapshot_exec")
    L("sources.compact_s") = sumS("sources.compact")
    L("sources.compact_bytes_rewritten") = compactBytes.toDouble
    L("sources.post_compact_commit_ms") = med("sources.post_compact_commit")
    L("sources.kek_rotate_ms") = med("sources.kek_rotate")
    val hist = spark.sql("SELECT n_data_groups, n_dv_lines FROM graft.`lake$history` " +
      "ORDER BY version DESC LIMIT 1").collect()(0)
    L("sources.files_live") = hist.getAs[Number](0).doubleValue
    L("sources.dv_sidecars") = hist.getAs[Number](1).doubleValue
    L("sources.store_bytes") = Files.bytes(new java.io.File(root)).toDouble
  }

  private def parquetBytes(dir: String): Long =
    Files.tree(new java.io.File(dir)).filter(_.getName.endsWith(".parquet")).map(_.length).sum
}
