package graft

import graft.crypto._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavior specs for the reference surface (SURVEY.md §2.1) beyond the
  * oracle queries: footer secrecy, key-resolution chain, null handling,
  * wrong-key failure modes, robustness cases from
  * /root/reference/src/main.cpp (sparse rows, empty row, long values).
  */
class CryptoSpec extends AnyFunSuite {
  import TestSession._
  private def tmp(name: String) = s"/tmp/graft_spec/$name"

  private lazy val cust = Tables.customer(spark, sf)

  test("kms: generateDataKey round-trips through the wrapped blob") {
    val dk = Kms.generateDataKey("mk-1")
    assert(dk.plaintext.length == 16)
    assert(!dk.wrapped.sameElements(dk.plaintext))
    assert(Kms.decryptDataKey(dk.wrapped, "mk-1").sameElements(dk.plaintext))
    intercept[Exception] { Kms.decryptDataKey(dk.wrapped, "mk-WRONG") }
  }

  test("key chain: explicit > kms > fallback > plaintext; bad lengths fall through") {
    val cfg = CryptoConfig("m", Seq(), fallbackKey = Some("ffffffffffffffff"))
    assert(cfg.resolveKeyForWrite(ColumnPolicy("c",
      explicitKey = Some("0123456789abcdef"))).mode == "column-key")
    // invalid-length explicit key falls through to kms
    assert(cfg.resolveKeyForWrite(ColumnPolicy("c",
      explicitKey = Some("short"), kmsMasterKeyId = Some("mk"))).mode == "kms")
    // no explicit/kms → fallback
    assert(cfg.resolveKeyForWrite(ColumnPolicy("c")).mode == "fallback")
    // nothing valid at all → plaintext ONLY under the opt-in fail-open
    // reference parity mode
    val bare = CryptoConfig("m", Seq(), fallbackKey = Some("bad"), failOpen = true)
    assert(bare.resolveKeyForWrite(ColumnPolicy("c")).mode == "plaintext")
  }

  test("strict mode (default): unresolvable key fails the write, never plaintext") {
    // resolveKeyForWrite itself
    val bare = CryptoConfig("m", Seq(), fallbackKey = Some("bad"))
    val ex = intercept[KeyResolutionException] {
      bare.resolveKeyForWrite(ColumnPolicy("c_name"))
    }
    assert(ex.getMessage.contains("c_name") && ex.getMessage.contains("failOpen"))
    // and through the full write path: nothing lands on disk in cleartext
    val out = tmp("strict")
    intercept[KeyResolutionException] {
      EncryptedParquet.write(cust.limit(5), out,
        CryptoConfig("m", Seq(ColumnPolicy("c_name", explicitKey = Some("tooshort")))))
    }
  }

  test("no key material in any plan rendering (explain / executed plan / SQL)") {
    import org.apache.spark.sql.execution.ExplainMode
    val keyUtf8 = "0123456789abcdef"
    val keyHex = keyUtf8.getBytes("UTF-8").map(b => f"$b%02x").mkString
    val keys = Map("c_name" -> keyUtf8.getBytes("UTF-8"))
    val enc = ColumnCrypto.encryptColumns(cust.limit(5), keys)
    val dec = ColumnCrypto.decryptColumns(enc, keys)
    // the AAD-bound and try forms of the kernel
    val bound = cust.limit(5).select(col("c_custkey"), ColumnCrypto.encryptBound(
      col("c_name"), "c_name", keys("c_name"), col("c_custkey")).as("ct"))
    val tried = bound.select(ColumnCrypto.tryDecryptBound(
      col("ct"), "c_name", keys("c_name"), col("c_custkey")).as("c_name"))

    // selective-read path too (EncryptedParquet.read resolves + injects keys)
    val out = tmp("noleak")
    val cfg = CryptoConfig("master-noleak",
      Seq(ColumnPolicy("c_name", explicitKey = Some(keyUtf8)),
        ColumnPolicy("c_mktsegment", kmsMasterKeyId = Some("mk-noleak"))))
    EncryptedParquet.write(cust.limit(5), out, cfg)
    val sel = EncryptedParquet.read(spark, out, Seq("c_name", "c_mktsegment"), cfg)
    val kmsKeyHex = cfg.resolveKeyForRead("c_mktsegment", "kms",
      EncryptedParquet.readManifest(spark, out, "master-noleak").columns
        .find(_.name == "c_mktsegment").flatMap(_.wrappedDek),
      Some("mk-noleak")).map(b => f"$b%02x").mkString

    for (df <- Seq(enc, dec, sel, tried)) {
      val renderings = Seq(
        df.queryExecution.explainString(ExplainMode.fromString("extended")),
        df.queryExecution.explainString(ExplainMode.fromString("formatted")),
        df.queryExecution.executedPlan.toString,
        df.queryExecution.optimizedPlan.toString)
      for (r <- renderings; leak <- Seq(keyUtf8, keyHex, kmsKeyHex)) {
        assert(!r.toLowerCase.contains(leak.toLowerCase),
          s"key material leaked into plan rendering:\n$r")
      }
      // the redacted handle is what should appear instead, under
      // graft's AES-GCM kernel node
      val executed = df.queryExecution.executedPlan.toString
      assert(df.queryExecution.analyzed.toString.contains("graft_key("),
        "expected the KeyHandle label in the plan")
      assert(executed.contains("graft_aes_gcm_") || executed.contains("graft_try_aes_gcm_"),
        s"expected the AES-GCM kernel node in the executed plan:\n$executed")
      assert(!executed.contains("aes_encrypt") && !executed.contains("aes_decrypt"),
        s"Spark's aes builtins must not run on the data path:\n$executed")
    }
    // and the data path still works end-to-end with redacted handles
    assert(sel.select("c_name").na.drop().count() == 5)
  }

  test("injectable master-key resolver: custom vault keys round-trip; demo keys don't open them") {
    val vault = Map(
      "mk-v1" -> "vvvvvvvvvvvvvvvvvvvvvvvvvvvvvvvv".getBytes("UTF-8"),
      "master-vault" -> "mmmmmmmmmmmmmmmmmmmmmmmmmmmmmmmm".getBytes("UTF-8"))
    val custom = new MasterKeyResolver {
      override def resolve(id: String): Array[Byte] =
        vault.getOrElse(id, throw new IllegalArgumentException(s"no vault entry $id"))
    }
    val out = tmp("resolver")
    val cfg = CryptoConfig("master-vault",
      Seq(ColumnPolicy("c_name", kmsMasterKeyId = Some("mk-v1"))),
      resolver = custom)
    EncryptedParquet.write(cust.limit(10), out, cfg)
    val back = EncryptedParquet.readAll(spark, out, cfg)
    assert(back.select("c_name").na.drop().count() == 10)
    // the demo resolver derives DIFFERENT keys → manifest must not open
    intercept[Exception] {
      EncryptedParquet.readManifest(spark, out, "master-vault") // default = demo
    }
  }

  test("master-key rotation rewrites only the manifest; old key opens nothing after") {
    val out = tmp("rotate")
    val cfg = CryptoConfig("master-old",
      Seq(ColumnPolicy("c_name", kmsMasterKeyId = Some("mk-old")),
        ColumnPolicy("c_acctbal", explicitKey = Some("0123456789abcdef"))))
    EncryptedParquet.write(cust.limit(20), out, cfg)
    val before = EncryptedParquet.readAll(spark, out, cfg)
      .select("c_name").na.drop().count()

    // rotation must be a pure driver-side metadata operation: zero
    // Spark jobs — the 100 TB of data files is never re-read
    val (_, jobs) = jobsDuring(EncryptedParquet.rotateMasterKey(spark, out, cfg, "master-new"))
    assert(jobs == 0, s"rotation must not touch data (0 jobs), saw $jobs")

    val newCfg = cfg.copy(masterKeyId = "master-new")
    assert(EncryptedParquet.readAll(spark, out, newCfg)
      .select("c_name").na.drop().count() == before)
    // the old master key can no longer open the manifest
    intercept[Exception] { EncryptedParquet.readManifest(spark, out, "master-old") }
    // and the re-wrapped DEK decrypts the SAME data (wrap changed, DEK didn't)
    val m = EncryptedParquet.readManifest(spark, out, "master-new")
    assert(m.columns.find(_.name == "c_name").get.masterKeyId == Some("master-new"))
  }

  test("manifest on disk is ciphertext, decrypts only with the right master key") {
    val out = tmp("manifest")
    val cfg = CryptoConfig("master-A",
      Seq(ColumnPolicy("c_name", kmsMasterKeyId = Some("mk-n"))))
    EncryptedParquet.write(cust.limit(50), out, cfg)
    val raw = EncryptedParquet.rawManifestBytes(spark, out)
    assert(!new String(raw.drop(12), "ISO-8859-1").contains("c_name"),
      "manifest plaintext leaked")
    assert(!new String(raw.drop(12), "ISO-8859-1").contains("c_custkey"),
      "manifest schema leaked")
    val m = EncryptedParquet.readManifest(spark, out, "master-A")
    assert(m.columns.map(_.name) == Seq("c_name") && m.rowCount == 50)
    // the recorded schema is the files' own: encrypted columns BINARY
    assert(m.schema.contains(spark.read.parquet(out).schema), s"schema: ${m.schema}")
    assert(m.schema.get("c_name").dataType == org.apache.spark.sql.types.BinaryType)
    intercept[Exception] { EncryptedParquet.readManifest(spark, out, "master-B") }
  }

  test("write stamps the manifest row count in the same pass as the data write") {
    val out = tmp("singlepass")
    val cfg = CryptoConfig("m",
      Seq(ColumnPolicy("c_name", explicitKey = Some("0123456789abcdef"))))
    // shuffle-free single-stage input: the write plan is exactly one
    // job, so a manifest-count re-read would show as a second job
    val df = spark.range(40).selectExpr("id", "concat('name-', id) AS c_name")
    val (m, jobs) = jobsDuring(EncryptedParquet.write(df, out, cfg))
    assert(m.rowCount == 40, "observed row count must match the data written")
    assert(jobs == 1,
      s"write must be ONE pass over the data (row count via observe, " +
        s"not a re-read), saw $jobs jobs")
  }

  test("selective read: unrequested columns are the [ENCRYPTED] placeholder") {
    val out = tmp("selective")
    val cfg = CryptoConfig("m",
      Seq(ColumnPolicy("c_name", explicitKey = Some("0123456789abcdef")),
        ColumnPolicy("c_acctbal", explicitKey = Some("abcdef0123456789"))))
    EncryptedParquet.write(cust.limit(20), out, cfg)
    // planning the read runs no job: the schema comes from the manifest
    val (df, jobs) = jobsDuring(EncryptedParquet.read(spark, out, Seq("c_acctbal"), cfg))
    assert(jobs == 0, s"read planning ran $jobs jobs (schema inference?)")
    val row = df.select(col("c_name"), col("c_acctbal")).limit(1).collect()(0)
    assert(row.getString(0) == EncryptedParquet.Placeholder)
    assert(!row.isNullAt(1)) // requested column decrypted to its orig double type
    assert(df.schema("c_acctbal").dataType.typeName == "double")
  }

  test("wrong key: aes_decrypt fails the task; try variant yields nulls") {
    val enc = ColumnCrypto.encryptColumns(cust.limit(5),
      Map("c_name" -> "0123456789abcdef".getBytes("UTF-8")))
    val wrong = Map("c_name" -> "ffffffffffffffff".getBytes("UTF-8"))
    intercept[Exception] {
      ColumnCrypto.decryptColumns(enc, wrong).collect()
    }
    val tried = ColumnCrypto.tryDecryptColumns(enc, wrong)
      .select(col("c_name")).collect()
    assert(tried.forall(_.isNullAt(0)))
    // AES takes 16, 24 or 32 key bytes; any other length is rejected
    for (n <- Seq(0, 15, 17, 33)) {
      val bad = Map("c_name" -> Array.fill[Byte](n)(7))
      intercept[Exception] { ColumnCrypto.encryptColumns(cust.limit(5), bad).collect() }
      intercept[Exception] { ColumnCrypto.decryptColumns(enc, bad).collect() }
      assert(ColumnCrypto.tryDecryptColumns(enc, bad).select(col("c_name"))
        .collect().forall(_.isNullAt(0)))
    }
    for (n <- Seq(16, 24, 32)) {
      val ok = Map("c_name" -> Array.fill[Byte](n)(7))
      val back = ColumnCrypto.decryptColumns(ColumnCrypto.encryptColumns(cust.limit(5), ok), ok)
      assert(back.select("c_name").collect().map(_.getString(0)).toSeq ==
        cust.limit(5).select("c_name").collect().map(_.getString(0)).toSeq)
    }
  }

  test("kernel: one flipped IV, ciphertext or tag byte fails the task; try reads NULL") {
    import spark.implicits._
    val key = "0123456789abcdef".getBytes("UTF-8")
    val ct = Seq("a secret value").toDF("v")
      .select(ColumnCrypto.encrypt($"v", lit(key))).as[Array[Byte]].collect()(0)
    assert(ct.length == AesGcm.IvLen + "a secret value".length + AesGcm.TagLen)
    for (at <- Seq(0, AesGcm.IvLen - 1, AesGcm.IvLen, ct.length - AesGcm.TagLen - 1,
        ct.length - AesGcm.TagLen, ct.length - 1)) {
      val bad = ct.clone()
      bad(at) = (bad(at) ^ 0x01).toByte
      val df = Seq(bad).toDF("ct")
      intercept[Exception] { df.select(ColumnCrypto.decrypt($"ct", lit(key))).collect() }
      assert(df.select(ColumnCrypto.tryDecrypt($"ct", lit(key))).collect()(0).isNullAt(0),
        s"flipped byte $at must read as NULL through the try path")
    }
    // a blob too short to hold IV + tag fails the same way
    intercept[Exception] {
      Seq(ct.take(20)).toDF("ct").select(ColumnCrypto.decrypt($"ct", lit(key))).collect()
    }
    // the untouched blob still opens
    assert(Seq(ct).toDF("ct").select(ColumnCrypto.decrypt($"ct", lit(key)).cast("string"))
      .as[String].collect().toSeq == Seq("a secret value"))
  }

  test("kernel: 100,000 encryptions under one key give 100,000 distinct IVs") {
    // a literal key and a constant input: the encryption must still run
    // per row (never constant-folded) with a fresh IV each time
    val key = "0123456789abcdef".getBytes("UTF-8")
    val n = 100000
    val ivs = spark.range(n).select(
      substring(ColumnCrypto.encrypt(lit("same plaintext"), lit(key)), 1, AesGcm.IvLen).as("iv"))
    assert(ivs.agg(countDistinct(col("iv")), min(length(col("iv")))).collect()(0) ==
      org.apache.spark.sql.Row(n.toLong, AesGcm.IvLen))
  }

  test("kernel ciphertext opens with Spark's aes_decrypt(…, 'GCM') and the reverse, AAD too") {
    import spark.implicits._
    val key = "0123456789abcdef0123456789abcdef".getBytes("UTF-8")
    val df = Seq((1L, "alice"), (2L, ""), (3L, "x" * 5000)).toDF("id", "v")
    // kernel -> Spark builtin
    val k2s = df.select($"id", $"v",
      ColumnCrypto.encrypt($"v", lit(key)).as("ct"),
      ColumnCrypto.encrypt($"v", lit(key), $"id".cast("string")).as("ct_aad"))
      .select($"v",
        aes_decrypt($"ct", lit(key), lit("GCM")).cast("string").as("plain"),
        aes_decrypt($"ct_aad", lit(key), lit("GCM"), lit("DEFAULT"),
          $"id".cast("string")).cast("string").as("plain_aad"))
      .collect()
    assert(k2s.forall(r => r.getString(0) == r.getString(1) && r.getString(0) == r.getString(2)))
    // Spark builtin -> kernel
    val s2k = df.select($"id", $"v",
      aes_encrypt($"v", lit(key), lit("GCM")).as("ct"),
      aes_encrypt($"v", lit(key), lit("GCM"), lit("DEFAULT"), lit(Array.emptyByteArray),
        $"id".cast("string")).as("ct_aad"))
      .select($"v",
        ColumnCrypto.decrypt($"ct", lit(key)).cast("string").as("plain"),
        ColumnCrypto.decrypt($"ct_aad", lit(key), $"id".cast("string")).cast("string")
          .as("plain_aad"),
        // the wrong row identity does not open an AAD-bound value
        ColumnCrypto.tryDecrypt($"ct_aad", lit(key), ($"id" + 1).cast("string")).as("moved"))
      .collect()
    assert(s2k.forall(r => r.getString(0) == r.getString(1) && r.getString(0) == r.getString(2)
      && r.isNullAt(3)))
  }

  test("datasets written with Spark's aes_encrypt and a schema-less manifest still decrypt") {
    import spark.implicits._
    // the earlier on-disk format: data columns under the builtin, and a
    // manifest without the schema field
    val out = tmp("legacy_format")
    val keyUtf8 = "0123456789abcdef"
    val cfg = CryptoConfig("master-legacy",
      Seq(ColumnPolicy("c_name", explicitKey = Some(keyUtf8)),
        ColumnPolicy("c_acctbal", explicitKey = Some("abcdef0123456789"))))
    val src = cust.limit(20)
    EncryptedParquet.write(src, out, cfg)
    src.withColumn("c_name", aes_encrypt($"c_name".cast("string"), lit(keyUtf8), lit("GCM")))
      .withColumn("c_acctbal", aes_encrypt($"c_acctbal".cast("string"),
        lit("abcdef0123456789"), lit("GCM")))
      .write.mode("overwrite").parquet(s"$out.data")
    val manifestFile = new java.io.File(out, "_graft_manifest.enc")
    val mk = DemoMasterKeyResolver.resolve("master-legacy")
    val json = new String(AesGcm.decrypt(mk, EncryptedParquet.rawManifestBytes(spark, out)), "UTF-8")
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    assert(node.has("schema"))
    node.remove("schema")
    graft.Staging.rmTree(new java.io.File(out))
    new java.io.File(s"$out.data").renameTo(new java.io.File(out))
    java.nio.file.Files.write(manifestFile.toPath, java.util.Base64.getEncoder.encode(
      AesGcm.encrypt(mk, node.toString.getBytes("UTF-8"))))
    assert(EncryptedParquet.readManifest(spark, out, "master-legacy").schema.isEmpty)
    val back = EncryptedParquet.readAll(spark, out, cfg)
    assert(back.schema("c_acctbal").dataType == src.schema("c_acctbal").dataType)
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
  }

  test("nulls and empties survive encrypt→decrypt (reference sparse-row cases)") {
    import spark.implicits._
    // sparse rows (nulls), an all-empty row, and a 5000-char value —
    // the reference's robustness matrix (/root/reference/src/main.cpp)
    val df = Seq(
      (1L, Some("alice"), Some("x" * 5000)),
      (2L, None, Some("")),
      (3L, None, None)
    ).toDF("id", "a", "b")
    val keys = Map("a" -> "0123456789abcdef".getBytes("UTF-8"),
      "b" -> "abcdef0123456789".getBytes("UTF-8"))
    val back = ColumnCrypto.decryptColumns(ColumnCrypto.encryptColumns(df, keys), keys)
    val rows = back.orderBy("id").collect()
    assert(rows(0).getString(1) == "alice" && rows(0).getString(2) == "x" * 5000)
    assert(rows(1).isNullAt(1) && rows(1).getString(2) == "")
    assert(rows(2).isNullAt(1) && rows(2).isNullAt(2))
  }

  test("modular encryption: file unreadable without the crypto factory") {
    val out = tmp("modular")
    ModularEncryption.writeEncrypted(cust.limit(30), out,
      columnKeys = Map("mk-c" -> Seq("c_name")), footerKeyId = "mk-f")
    intercept[Exception] { spark.read.parquet(out).collect() } // footer is encrypted
    val dec = ModularEncryption.readEncrypted(spark, out)
    assert(dec.count() == 30)
    assert(dec.select("c_name").na.drop().count() == 30)
  }

  test("modular encryption keeps pushdown and column pruning on plaintext columns") {
    import org.apache.spark.sql.execution.ExplainMode
    val out = tmp("modular_pushdown")
    ModularEncryption.writeEncrypted(cust, out,
      columnKeys = Map("mk-c" -> Seq("c_name")), footerKeyId = "mk-f")
    // the 100 TB property: encrypting a column must not cost the scan
    // its optimizations elsewhere — filters on PLAINTEXT columns still
    // push into the reader, and an unencrypted-column projection never
    // decodes the encrypted chunks
    val df = ModularEncryption.readEncrypted(spark, out)
      .filter(org.apache.spark.sql.functions.col("c_custkey") > 100)
      .select("c_custkey", "c_nationkey")
    val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(plan.contains("PushedFilters: [IsNotNull(c_custkey), GreaterThan(c_custkey,100)]"),
      s"plaintext-column filter must reach the encrypted-parquet scan:\n$plan")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("c_name"),
      s"projection must prune the encrypted column from the scan:\n$readSchema")
    assert(df.count() == cust.filter("c_custkey > 100").count())
  }

  test("masking: hash is deterministic, partial keeps tail, redact constant") {
    import spark.implicits._
    val df = Seq(("4111111111111111", "s")).toDF("card", "x")
    val m = df.select(
      Masking.hashMask($"card").as("h"),
      Masking.partialMask($"card", 4).as("p"),
      Masking.redact.as("r")).collect()(0)
    assert(m.getString(0).matches("[0-9a-f]{64}"))
    assert(m.getString(1) == "************1111")
    assert(m.getString(2) == "***")
  }

  test("rbac: denied columns are absent, masked columns masked") {
    val policy = Rbac.Policy(Map("analyst" -> Map(
      "c_custkey" -> Rbac.Allow, "c_name" -> Rbac.Mask(Masking.hashMask))))
    val v = policy(cust, "analyst")
    assert(v.columns.toSeq == Seq("c_custkey", "c_name"))
    assert(v.select("c_name").limit(1).collect()(0).getString(0).matches("[0-9a-f]{64}"))
    intercept[IllegalArgumentException] { policy(cust, "nosuchrole") }
  }

  test("AAD row binding: swapped ciphertexts fail authentication") {
    import spark.implicits._
    val key = "0123456789abcdef".getBytes("UTF-8")
    val rows = Seq((1L, "alice-salary"), (2L, "bob-salary")).toDF("id", "v")
    val enc = rows.select($"id",
      ColumnCrypto.encryptBound($"v", "v", key, $"id").as("ct")).collect()
    val swapped = Seq((1L, enc.find(_.getLong(0) == 2L).get.getAs[Array[Byte]]("ct")),
      (2L, enc.find(_.getLong(0) == 1L).get.getAs[Array[Byte]]("ct")))
      .toDF("id", "ct")
    // unbound decryption would hand row 1 bob's value; bound decryption
    // rejects both moved ciphertexts
    val out = swapped.select($"id",
      ColumnCrypto.tryDecryptBound($"ct", "v", key, $"id").as("v"))
      .as[(Long, Option[String])].collect().toMap
    assert(out(1L).isEmpty && out(2L).isEmpty,
      s"swapped ciphertexts must fail GCM authentication: $out")
    // intact rows round-trip against their own identity
    val ok = Seq((1L, enc.find(_.getLong(0) == 1L).get.getAs[Array[Byte]]("ct")))
      .toDF("id", "ct")
      .select(ColumnCrypto.tryDecryptBound($"ct", "v", key, $"id")).collect()
    assert(ok(0).getString(0) == "alice-salary")
  }

  test("crypto-shredding: key deletion erases a tenant with zero data IO") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_shred").toString
    TenantShred.stage(spark, cust, "c_nationkey", "c_name", root)
    // disk holds ciphertext only: no staged name equals its plaintext
    val joined = spark.read.parquet(s"$root/data")
      .select($"c_custkey", $"c_name".as("ct"))
      .join(cust.select($"c_custkey", $"c_name"), "c_custkey")
    assert(joined.filter($"ct".cast("string") === $"c_name").count() == 0)
    // keystore persists only wrapped DEKs (56B = 16B key + 12B IV + 16B
    // tag + base64 overhead — never a raw 16B key)
    val ksCountBefore = spark.read.parquet(s"$root/keystore")
      .filter(length(unbase64($"wrapped_dek")) > 16).count() // wrapped ≠ raw 16B key
    assert(ksCountBefore == cust.select($"c_nationkey").distinct().count())
    val dataFiles = new java.io.File(s"$root/data").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toMap
    TenantShred.shred(spark, root, 3L)
    // the forget touched NO data file — pure keystore arithmetic
    val after = new java.io.File(s"$root/data").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toMap
    assert(after == dataFiles, "shred must not rewrite or touch data files")
    assert(ksCountBefore - spark.read.parquet(s"$root/keystore").count() == 1)
    // read: exactly tenant 3 masked, everyone else decrypts losslessly
    val out = TenantShred.read(spark, root, "c_name")
    assert(out.filter($"c_name" === TenantShred.Masked)
      .select($"tenant_id").distinct().as[Long].collect().toSeq == Seq(3L))
    val live = out.filter($"tenant_id" =!= 3L)
      .select($"c_custkey", $"c_name".as("dec"))
      .join(cust.select($"c_custkey", $"c_name"), "c_custkey")
    assert(live.filter($"dec" =!= $"c_name").count() == 0, "live tenants must round-trip")
    // each row sits under its own tenant's DEK, in the layout Spark's
    // builtin opens too
    val deks = spark.read.parquet(s"$root/keystore").as[(Long, String)].collect()
      .map { case (t, w) => (t, Kms.unwrapFromBase64(w, "mk-tenant-shred")) }.toSeq
      .toDF("tenant_id", "dek")
    val viaBuiltin = spark.read.parquet(s"$root/data").join(deks, "tenant_id")
      .select($"c_custkey", aes_decrypt($"c_name", $"dek", lit("GCM")).cast("string").as("dec"))
      .join(cust.select($"c_custkey", $"c_name"), "c_custkey")
    assert(viaBuiltin.count() > 0 && viaBuiltin.filter($"dec" =!= $"c_name").count() == 0)
  }
}
