package graft

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets
import org.scalatest.funsuite.AnyFunSuite
import graft.catalog.{Catalog, FolderMeta}
import graft.extract.DeterministicExtractor
import graft.streaming.Ingest

/** End-to-end streaming ingest test (FIXTURES.md §B.8): landing dir →
  * admission → extraction → typed casts → schema-evolving append →
  * archive, with checkpoint replay asserting exactly-once. */
class IngestSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestBase.spark

  private def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { p =>
      val dst = to.resolve(from.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else { Files.createDirectories(dst.getParent); Files.copy(p, dst) }
    } finally s.close()
  }

  private def write(root: String, rel: String, content: String): Unit = {
    val p = Paths.get(root, rel)
    Files.createDirectories(p.getParent)
    Files.write(p, content.getBytes(StandardCharsets.UTF_8))
  }

  test("ingest e2e: typed append, rejects, archive, evolution, replay") {
    val root = tempDir("graft-ingest")
    val landing = s"$root/landing"
    val warehouse = s"$root/warehouse"
    val processed = s"$root/processed"
    val checkpoint = s"$root/checkpoint"

    // Train the folder from a master document (reference §3.2 flow).
    val master = DeterministicExtractor.discover("master.pdf",
      """Total Revenue ($)=$1,234.56
        |Report Date=January 15, 2024
        |Status=Active""".stripMargin.getBytes(StandardCharsets.UTF_8))
    val meta = Catalog.train("u1", "f1", "quarterly report", master)
    assert(meta.kpis.map(k => k.name -> k.logicalType).toMap == Map(
      "Total Revenue ($)" -> "number",
      "Report Date" -> "date",
      "Status" -> "categorical"))
    val catalog = Catalog.empty.add(meta)

    // Batch 1: one good doc + admission rejects (B.6 vectors).
    write(landing, "incoming/u1/f1/batch/doc1.pdf",
      "Total Revenue ($)=\"$2,500.75\"\nReport Date=2024-02-01\nStatus=Active")
    write(landing, "incoming/u1/f1/batch/notes.txt", "not a pdf")
    write(landing, "incoming/u1/f1/master/skip.pdf", "Status=master-not-batch")
    write(landing, "incoming/u1/f1/batch/.placeholder", "")

    Ingest.start(spark, landing, warehouse, processed, checkpoint,
      catalog, DeterministicExtractor).awaitTermination()

    val t1 = Ingest.readTable(spark, warehouse, meta)
    assert(t1.count() == 1)
    val r1 = t1.first()
    assert(r1.getAs[Double]("kpi_total_revenue____") == 2500.75)
    assert(r1.getAs[java.sql.Date]("kpi_report_date").toString == "2024-02-01")
    assert(r1.getAs[String]("kpi_status") == "Active")
    assert(r1.getAs[String]("file_name") == "doc1.pdf")
    // Good file archived; rejected files stay put.
    assert(Files.exists(Paths.get(processed, "incoming/u1/f1/batch/doc1.pdf")))
    assert(!Files.exists(Paths.get(landing, "incoming/u1/f1/batch/doc1.pdf")))
    assert(Files.exists(Paths.get(landing, "incoming/u1/f1/batch/notes.txt")))
    assert(Files.exists(Paths.get(landing, "incoming/u1/f1/master/skip.pdf")))

    // Batch 2: folder retrained with a NEW kpi (B.7 evolution) + new doc
    // carrying it and a messy negative; restart stream on the same
    // checkpoint with the evolved catalog.
    val meta2 = Catalog.train("u1", "f1", "quarterly report",
      master + ("Margin %" -> "12%"))
    val catalog2 = Catalog.empty.add(meta2)
    write(landing, "incoming/u1/f1/batch/doc2.pdf",
      "Total Revenue ($)=($300.50)\nReport Date=03/01/2024\nStatus=N/A\nMargin %=45%")

    Ingest.start(spark, landing, warehouse, processed, checkpoint,
      catalog2, DeterministicExtractor).awaitTermination()

    val t2 = Ingest.readTable(spark, warehouse, meta2).orderBy("file_name")
    assert(t2.count() == 2)
    assert(t2.columns.contains("kpi_margin__"))
    val rows = t2.collect()
    // Evolved column is NULL for the batch-1 row...
    assert(rows(0).isNullAt(rows(0).fieldIndex("kpi_margin__")))
    // ...and typed for the new row; paren negative + sentinel behave.
    assert(rows(1).getAs[Double]("kpi_margin__") == 45.0)
    assert(rows(1).getAs[Double]("kpi_total_revenue____") == -300.5)
    assert(rows(1).isNullAt(rows(1).fieldIndex("kpi_status")))

    // Replay on the same checkpoint with no new files: no duplicates.
    Ingest.start(spark, landing, warehouse, processed, checkpoint,
      catalog2, DeterministicExtractor).awaitTermination()
    val t3 = Ingest.readTable(spark, warehouse, meta2)
    assert(t3.count() == 2)
    assert(t3.select("row_id").distinct().count() == 2)
  }

  test("a REAL PDF payload ingests through the codec text layer (reference flow)") {
    // The reference accepts only .pdf uploads and has the model read
    // the PDF; our flow is PDF → PdfCodec text layer → extractor. A
    // genuine Flate-compressed PDF whose shown text is the key=value
    // document must land EXACTLY like its plain-text twin — same
    // typed KPIs — while non-PDF payloads are untouched by the
    // normalization.
    val root = tempDir("graft-ingest-pdf")
    val master = DeterministicExtractor.discover("master.pdf",
      "Total=$10\nStatus=Active".getBytes(StandardCharsets.UTF_8))
    val meta = Catalog.train("u1", "f1", "pdf docs", master)
    val catalog = Catalog.empty.add(meta)
    val pdfBytes = graft.operators.PdfCodec.encode(
      Seq(Seq("Total=$1,234.50", "Status=Closed")), compress = true)
    assert(new String(pdfBytes, 0, 5, StandardCharsets.ISO_8859_1) == "%PDF-")
    val target = Paths.get(root, "landing/incoming/u1/f1/batch/real.pdf")
    Files.createDirectories(target.getParent)
    Files.write(target, pdfBytes)
    // A text twin in the same batch: identical extraction expected.
    write(s"$root/landing", "incoming/u1/f1/batch/twin.pdf",
      "Total=$1,234.50\nStatus=Closed")
    Ingest.start(spark, s"$root/landing", s"$root/warehouse",
      s"$root/processed", s"$root/checkpoint", catalog,
      DeterministicExtractor).awaitTermination()
    val rows = Ingest.readTable(spark, s"$root/warehouse", meta)
      .orderBy("file_name").collect()
    assert(rows.length == 2)
    rows.foreach { r =>
      assert(r.getAs[Double]("kpi_total") == 1234.5, r.getString(
        r.fieldIndex("file_name")))
      assert(r.getAs[String]("kpi_status") == "Closed")
    }
    assert(rows.map(_.getAs[String]("file_name")).toSeq ==
      Seq("real.pdf", "twin.pdf"))
  }

  test("volume: 300 files, 3 folders, bounded micro-batches, no dups") {
    val root = tempDir("graft-ingest-vol")
    val folders = Seq("f1", "f2", "f3")
    val catalog = folders.foldLeft(Catalog.empty) { (c, f) =>
      c.add(Catalog.train("u1", f, "bulk", Map("Amount" -> "$10")))
    }
    folders.foreach { f =>
      (1 to 100).foreach { i =>
        write(root + "/landing", s"incoming/u1/$f/batch/doc$i.pdf",
          s"Amount=$$${i},000.50")
      }
    }
    Ingest.start(spark, s"$root/landing", s"$root/warehouse", s"$root/processed",
      s"$root/checkpoint", catalog, DeterministicExtractor,
      maxFilesPerTrigger = Some(50)).awaitTermination()
    folders.foreach { f =>
      val meta = catalog.get("u1", f).get
      val t = Ingest.readTable(spark, s"$root/warehouse", meta)
      assert(t.count() == 100, f)
      assert(t.select("row_id").distinct().count() == 100, f)
      // bounded batches: >1 distinct _batch_id partition was written
      val batches = graft.catalog.Catalog.readTable(spark, s"$root/warehouse", meta)
        .select("_batch_id").distinct().count()
      assert(batches > 1, s"$f: expected multiple micro-batches, got $batches")
      val v = t.filter(org.apache.spark.sql.functions.col("file_name") === "doc7.pdf")
        .first().getAs[Double]("kpi_amount")
      assert(v == 7000.5, f)
    }
  }

  test("catalog save/load round-trips through the warehouse (Firestore analog)") {
    val root = tempDir("graft-cat")
    val c = Catalog.empty
      .add(Catalog.train("u1", "f1", "hint one",
        Map("Total Revenue ($)" -> "$1,234.56", "Status" -> "Active")))
      .add(Catalog.train("u2", "f9", "", Map("Date" -> "2024-01-15")))
    Catalog.save(spark, c, root)
    // CODEGEN_ONLY turns a whole-stage codegen failure of load's
    // typed projection into an error instead of a silent fallback
    val mode = "spark.sql.codegen.factoryMode"
    val prev = spark.conf.getOption(mode)
    spark.conf.set(mode, "CODEGEN_ONLY")
    val back = try Catalog.load(spark, root)
      finally prev.fold(spark.conf.unset(mode))(spark.conf.set(mode, _))
    assert(back == c)
    assert(back.get("u1", "f1").get.schema == c.get("u1", "f1").get.schema)
    assert(back.get("u2", "f9").get.kpis.head.logicalType == "date")
  }

  test("folders whose sanitized names collide share one table without racing") {
    // a.b and a_b both sanitize to table u1_a_b (the reference shares
    // one BigQuery table the same way, main.py:262-264); their writes
    // are serialized within the table group so the shared dynamic
    // overwrite can't race, and both folders' rows land.
    val root = tempDir("graft-ingest-collide")
    val m1 = Catalog.train("u1", "a.b", "x", Map("Amount" -> "$10"))
    val m2 = Catalog.train("u1", "a_b", "x", Map("Amount" -> "$10"))
    assert(m1.tableName == m2.tableName)
    val catalog = Catalog.empty.add(m1).add(m2)
    write(root + "/landing", "incoming/u1/a.b/batch/x.pdf", "Amount=$100")
    write(root + "/landing", "incoming/u1/a_b/batch/y.pdf", "Amount=$200")
    Ingest.start(spark, s"$root/landing", s"$root/warehouse", s"$root/processed",
      s"$root/checkpoint", catalog, DeterministicExtractor).awaitTermination()
    val t = Ingest.readTable(spark, s"$root/warehouse", m1)
    assert(t.count() == 2)
    assert(t.select("kpi_amount").collect().map(_.getDouble(0)).sorted
      .sameElements(Array(100.0, 200.0)))
  }

  test("legacy all-STRING path: name-only training ingests untyped columns") {
    // reference main.py:319-351: no samples → every KPI column STRING,
    // values land raw (sentinel-normalized only, no casts).
    val root = tempDir("graft-ingest-legacy")
    val meta = Catalog.trainLegacy("u1", "f1", "x", Seq("Amount", "Status"))
    assert(meta.kpis.forall(_.logicalType == "string"))
    assert(meta.schema("kpi_amount").dataType ==
      org.apache.spark.sql.types.StringType)
    write(root + "/landing", "incoming/u1/f1/batch/a.pdf",
      "Amount=$1,234.56\nStatus=N/A")
    Ingest.start(spark, s"$root/landing", s"$root/warehouse", s"$root/processed",
      s"$root/checkpoint", Catalog.empty.add(meta), DeterministicExtractor)
      .awaitTermination()
    val t = Ingest.readTable(spark, s"$root/warehouse", meta)
    assert(t.count() == 1)
    val r = t.first()
    // untyped: the messy currency survives verbatim as a string...
    assert(r.getAs[String]("kpi_amount") == "$1,234.56")
    // ...while null sentinels still normalize (O13 applies to strings).
    assert(r.isNullAt(r.fieldIndex("kpi_status")))
  }

  test("catalog read-back fast path: cached reads don't re-scan the store") {
    val root = tempDir("graft-cat-fast")
    val c = Catalog.empty.add(Catalog.train("u1", "f1", "h", Map("A" -> "$1")))
    Catalog.save(spark, c, root)          // save primes the cache
    assert(Catalog.loadCached(spark, root) == c)
    // Destroy the persisted store: a cached re-read must still serve
    // the metadata — proof no scan happens (main.py:551-560 fast path).
    SparkTestBase.deleteTree(Paths.get(root, "_catalog"))
    assert(Catalog.loadCached(spark, root) == c)
    // Invalidate → next read goes to disk and fails (store is gone).
    Catalog.invalidate(root)
    intercept[Exception] { Catalog.loadCached(spark, root) }
    // A fresh save repopulates both store and cache.
    val c2 = c.add(Catalog.train("u2", "f2", "", Map("B" -> "2024-01-01")))
    Catalog.save(spark, c2, root)
    assert(Catalog.loadCached(spark, root) == c2)
  }

  test("loadCachedFresh detects an external store update; unchanged store serves cache") {
    val root = tempDir("graft-cat-fresh")
    val c1 = Catalog.empty.add(Catalog.train("u1", "f1", "h", Map("A" -> "$1")))
    Catalog.save(spark, c1, root)
    // Stash c1's persisted form, then let an "external writer" (same
    // serialization, cache forcibly reverted) change the store.
    val stash = Paths.get(tempDir("graft-cat-stash"))
    copyTree(Paths.get(root, "_catalog"), stash.resolve("_catalog"))
    val c2 = c1.add(Catalog.train("u2", "f2", "", Map("B" -> "2")))
    Catalog.save(spark, c2, root)
    assert(Catalog.loadCachedFresh(spark, root) == c2,
      "unchanged store: fresh read serves the (current) cache")
    // External change BEHIND the JVM's back: restore c1's files over
    // the store. The zero-RPC path must still serve c2 (documented),
    // the fresh path must notice the listing change and reload c1.
    SparkTestBase.deleteTree(Paths.get(root, "_catalog"))
    copyTree(stash.resolve("_catalog"), Paths.get(root, "_catalog"))
    assert(Catalog.loadCached(spark, root) == c2, "zero-RPC path: cached")
    assert(Catalog.loadCachedFresh(spark, root) == c1,
      "fresh path must pick up the external update")
    assert(Catalog.loadCached(spark, root) == c1,
      "fresh reload repopulates the shared cache")
  }

  test("per-folder staleness: touching one folder reloads only that folder") {
    val root = tempDir("graft-cat-folder")
    val mA = Catalog.train("u1", "fa", "ha", Map("A" -> "$1"))
    val mB = Catalog.train("u2", "fb", "hb", Map("B" -> "2"))
    Catalog.save(spark, Catalog.empty.add(mA).add(mB), root)
    Catalog.invalidate(root)
    val before = Catalog.loadCachedFresh(spark, root) // cold: reads both files
    val aBefore = before.get("u1", "fa").get
    // An EXTERNAL writer rewrites ONLY folder B's file (content length
    // differs, so the per-file fingerprint must change).
    Files.write(Paths.get(root, "_catalog", Catalog.folderFileName(mB)),
      ("""{"uid":"u2","folder":"fb","contextHint":"hb2-external",""" +
        """"kpis":[{"name":"B","logicalType":"number"}]}""" + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // A non-Hadoop external writer doesn't maintain the local-FS crc
    // sidecar our own write left; drop the stale one (object stores —
    // the production target — have no sidecars at all).
    Files.deleteIfExists(
      Paths.get(root, "_catalog", "." + Catalog.folderFileName(mB) + ".crc"))
    val after = Catalog.loadCachedFresh(spark, root)
    assert(after.get("u2", "fb").get.contextHint == "hb2-external",
      "changed folder file must be re-read")
    // Reference equality proves folder A was served from the cache —
    // a re-read would have built a fresh FolderMeta instance.
    assert(after.get("u1", "fa").get eq aBefore,
      "unchanged folder must keep its cached entry")
    // saveFolder: incremental write patches one file + one cache entry.
    val mB2 = Catalog.train("u2", "fb", "hb3", Map("B" -> "3", "C" -> "x"))
    Catalog.saveFolder(spark, mB2, root)
    val afterSave = Catalog.loadCached(spark, root)
    assert(afterSave.get("u2", "fb").get == mB2)
    assert(afterSave.get("u1", "fa").get eq aBefore,
      "saveFolder must not disturb other folders' cache entries")
    assert(Catalog.loadCachedFresh(spark, root) == afterSave,
      "store and cache agree after saveFolder")
  }

  test("catalog keeps separate metadata for folders sharing a sanitized table name") {
    // "a.b" and "a_b" share one TABLE by documented contract, but they
    // are distinct folders — the per-folder store must keep BOTH
    // metadata files (the file name embeds a digest of the raw pair).
    val root = tempDir("graft-cat-collide")
    val m1 = Catalog.train("u1", "a.b", "h1", Map("A" -> "$1"))
    val m2 = Catalog.train("u1", "a_b", "h2", Map("B" -> "2"))
    assert(m1.tableName == m2.tableName, "fixture must actually collide")
    Catalog.save(spark, Catalog.empty.add(m1).add(m2), root)
    Catalog.invalidate(root)
    val c = Catalog.loadCachedFresh(spark, root)
    assert(c.folders.size == 2, s"lost a colliding folder: ${c.folders.keySet}")
    assert(c.get("u1", "a.b").get == m1 && c.get("u1", "a_b").get == m2)
  }

  test("saveFolder migrates pre-digest per-folder files (no stale twin left)") {
    val root = tempDir("graft-cat-predigest")
    val dir = Paths.get(root, "_catalog")
    Files.createDirectories(dir)
    // A per-folder file named WITHOUT the digest suffix (the layout of
    // an earlier writer): saveFolder must migrate it, or the old-named
    // file would survive beside the new one and the duplicate
    // (uid, folder) key would resolve arbitrarily at load time.
    Files.write(dir.resolve("u1_fa.json"),
      ("""{"uid":"u1","folder":"fa","contextHint":"ha",""" +
        """"kpis":[{"name":"A","logicalType":"number"}]}""" + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Catalog.invalidate(root)
    val mB = Catalog.train("u2", "fb", "hb", Map("B" -> "1"))
    Catalog.saveFolder(spark, mB, root)
    val c = Catalog.loadCachedFresh(spark, root)
    assert(c.folders.size == 2, s"migration lost a folder: ${c.folders.keySet}")
    assert(c.get("u1", "fa").get.contextHint == "ha")
    assert(c.get("u2", "fb").get == mB)
    assert(!Files.exists(dir.resolve("u1_fa.json")),
      "pre-digest file must be rewritten in the current layout")
  }

  test("saveFolder migrates a legacy single-file catalog store") {
    val root = tempDir("graft-cat-legacy")
    val dir = Paths.get(root, "_catalog")
    Files.createDirectories(dir)
    // The pre-per-folder layout: one Spark-written part file holding
    // every folder, plus a _SUCCESS marker.
    Files.write(dir.resolve("part-00000-legacy.json"),
      ("""{"uid":"u1","folder":"fa","contextHint":"ha","kpis":[{"name":"A","logicalType":"number"}]}""" +
        "\n" +
        """{"uid":"u2","folder":"fb","contextHint":"hb","kpis":[{"name":"B","logicalType":"string"}]}""" +
        "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Files.write(dir.resolve("_SUCCESS"), Array.empty[Byte])
    assert(Catalog.loadCachedFresh(spark, root).folders.size == 2,
      "legacy layout must load")
    val mC = Catalog.train("u3", "fc", "hc", Map("C" -> "1"))
    Catalog.saveFolder(spark, mC, root)
    val migrated = Catalog.loadCachedFresh(spark, root)
    assert(migrated.folders.size == 3, "migration keeps every folder")
    assert(migrated.get("u3", "fc").get == mC)
    assert(!Files.exists(dir.resolve("part-00000-legacy.json")),
      "migration rewrites the store in the per-folder layout")
  }

  test("a throwing extractor degrades to NULL KPIs instead of killing the batch") {
    val root = tempDir("graft-ingest-err")
    val meta = Catalog.train("u1", "f1", "x", Map("Amount" -> "$10"))
    write(root + "/landing", "incoming/u1/f1/batch/bad.pdf", "Amount=$500")
    val throwing = new graft.extract.Extractor {
      override def discover(n: String, c: Array[Byte]): Map[String, String] =
        throw new RuntimeException("codec exploded")
    }
    Ingest.start(spark, s"$root/landing", s"$root/warehouse", s"$root/processed",
      s"$root/checkpoint", Catalog.empty.add(meta), throwing).awaitTermination()
    val t = Ingest.readTable(spark, s"$root/warehouse", meta)
    assert(t.count() == 1)
    assert(t.first().isNullAt(t.first().fieldIndex("kpi_amount")))
    assert(Files.exists(Paths.get(root, "processed/incoming/u1/f1/batch/bad.pdf")))
  }

  test("replay of a batch whose files were already archived (crash window)") {
    // Simulates a crash between archive() and the checkpoint commit:
    // run a batch to completion, then delete its commit marker so the
    // engine replays it — with the landing files already moved to
    // processed/. The replay must neither fail (missing files) nor
    // lose/duplicate the rows the crashed attempt wrote.
    val root = tempDir("graft-ingest-replay")
    val meta = Catalog.train("u1", "f1", "x", Map("Amount" -> "$10"))
    val catalog = Catalog.empty.add(meta)
    write(root + "/landing", "incoming/u1/f1/batch/a.pdf", "Amount=$100")
    write(root + "/landing", "incoming/u1/f1/batch/b.pdf", "Amount=$200")
    Ingest.start(spark, s"$root/landing", s"$root/warehouse", s"$root/processed",
      s"$root/checkpoint", catalog, DeterministicExtractor).awaitTermination()
    assert(Ingest.readTable(spark, s"$root/warehouse", meta).count() == 2)

    // "Uncommit" batch 0 as a crash would leave it: neither the commit
    // marker NOR its checksum sidecar exists (the local ChecksumFs
    // writes a hidden .0.crc whose survival would fail the replay's
    // commit rename with FileAlreadyExists — a real crash never wrote
    // either file).
    def uncommitBatch0(): Unit = {
      Files.delete(Paths.get(root, "checkpoint/commits/0"))
      Files.deleteIfExists(Paths.get(root, "checkpoint/commits/.0.crc"))
      ()
    }

    // Crash mid-archive variant: b.pdf's move is "undone" (still in
    // landing at replay time), a.pdf's move stuck.
    Files.createDirectories(Paths.get(root, "landing/incoming/u1/f1/batch"))
    Files.move(Paths.get(root, "processed/incoming/u1/f1/batch/b.pdf"),
      Paths.get(root, "landing/incoming/u1/f1/batch/b.pdf"))
    uncommitBatch0()

    Ingest.start(spark, s"$root/landing", s"$root/warehouse", s"$root/processed",
      s"$root/checkpoint", catalog, DeterministicExtractor).awaitTermination()
    val t = Ingest.readTable(spark, s"$root/warehouse", meta)
    assert(t.count() == 2)
    assert(t.select("row_id").distinct().count() == 2)
    assert(t.select("kpi_amount").collect().map(_.getDouble(0)).sorted
      .sameElements(Array(100.0, 200.0)))
    assert(Files.exists(Paths.get(root, "processed/incoming/u1/f1/batch/b.pdf")))
    assert(!Files.exists(Paths.get(root, "landing/incoming/u1/f1/batch/b.pdf")))

    // Fully-archived variant: every file gone from landing. Replay is
    // a no-op that must still preserve the partition.
    uncommitBatch0()
    Ingest.start(spark, s"$root/landing", s"$root/warehouse", s"$root/processed",
      s"$root/checkpoint", catalog, DeterministicExtractor).awaitTermination()
    val t2 = Ingest.readTable(spark, s"$root/warehouse", meta)
    assert(t2.count() == 2)
    assert(t2.select("row_id").distinct().count() == 2)
  }

  test("an in-flight batch leaves the session's ignoreMissingFiles alone") {
    val root = tempDir("graft-ingest-conf")
    val meta = Catalog.train("u1", "f1", "x", Map("Amount" -> "$10"))
    write(root + "/landing", "incoming/u1/f1/batch/a.pdf", "Amount=$100")
    val key = "spark.sql.files.ignoreMissingFiles"
    val before = spark.conf.getOption(key)
    val held = IngestSpec.Held
    held.entered = new java.util.concurrent.CountDownLatch(1)
    held.release = new java.util.concurrent.CountDownLatch(1)
    val q = Ingest.start(spark, s"$root/landing", s"$root/warehouse",
      s"$root/processed", s"$root/checkpoint", Catalog.empty.add(meta), held)
    val during =
      try {
        assert(held.entered.await(120, java.util.concurrent.TimeUnit.SECONDS),
          "the batch never reached extraction")
        spark.conf.getOption(key)
      } finally held.release.countDown()
    q.awaitTermination()
    assert(during == before)
    assert(spark.conf.getOption(key) == before)
    assert(Ingest.readTable(spark, s"$root/warehouse", meta).count() == 1)
  }

  test("ingest e2e through the batched-RPC extractor, with failure injection") {
    import graft.extract.{BatchedRpcExtractor, ExtractionClient}
    val root = tempDir("graft-ingest-rpc")
    val meta = Catalog.train("u1", "f1", "x",
      Map("Amount" -> "$10", "Status" -> "Active"))
    val catalog = Catalog.empty.add(meta)

    // Flaky endpoint: the FIRST call of each query run throws; retries
    // succeed, answering deterministically. Static state because the
    // client is serialized into tasks (local mode shares the JVM).
    IngestSpec.rpcCalls.set(0)
    val flaky = new ExtractionClient {
      override def extractBatch(docs: Seq[(String, Array[Byte])],
                                keys: Seq[String]): Seq[Map[String, String]] = {
        if (IngestSpec.rpcCalls.incrementAndGet() == 1)
          throw new RuntimeException("endpoint hiccup")
        docs.map { case (n, c) => DeterministicExtractor.extract(n, c, keys) }
      }
    }
    write(root + "/landing", "incoming/u1/f1/batch/a.pdf",
      "Amount=$100\nStatus=Active")
    write(root + "/landing", "incoming/u1/f1/batch/b.pdf",
      "Amount=$200\nStatus=Closed")
    Ingest.start(spark, s"$root/landing", s"$root/warehouse", s"$root/processed",
      s"$root/checkpoint", catalog,
      new BatchedRpcExtractor(flaky, batchSize = 2, maxAttempts = 3,
        sleep = _ => ())).awaitTermination()
    val t = Ingest.readTable(spark, s"$root/warehouse", meta)
    assert(t.count() == 2)
    assert(t.select("kpi_amount").collect().map(_.getDouble(0)).sorted
      .sameElements(Array(100.0, 200.0)))
    assert(IngestSpec.rpcCalls.get() >= 2, "retry should have re-called the client")
    assert(Files.exists(Paths.get(root, "processed/incoming/u1/f1/batch/a.pdf")))

    // Dead endpoint: every call fails → rows still land (all KPIs NULL
    // via the N/A degradation) and files still archive — one broken
    // dependency can't wedge the pipeline.
    val dead = new ExtractionClient {
      override def extractBatch(docs: Seq[(String, Array[Byte])],
                                keys: Seq[String]): Seq[Map[String, String]] =
        throw new RuntimeException("endpoint down")
    }
    write(root + "/landing", "incoming/u1/f1/batch/c.pdf", "Amount=$300")
    Ingest.start(spark, s"$root/landing", s"$root/warehouse", s"$root/processed",
      s"$root/checkpoint", catalog,
      new BatchedRpcExtractor(dead, maxAttempts = 2, sleep = _ => ()))
      .awaitTermination()
    val t2 = Ingest.readTable(spark, s"$root/warehouse", meta)
    assert(t2.count() == 3)
    val cRow = t2.filter(org.apache.spark.sql.functions.col("file_name") === "c.pdf").first()
    assert(cRow.isNullAt(cRow.fieldIndex("kpi_amount")))
    assert(cRow.isNullAt(cRow.fieldIndex("kpi_status")))
    assert(Files.exists(Paths.get(root, "processed/incoming/u1/f1/batch/c.pdf")))
  }

  /** Land `docs` ((folder, file) -> body, all under uid u1) and run one
    * AvailableNow ingest wave over `root`'s landing zone. */
  private def wave(root: String, catalog: Catalog,
                   docs: ((String, String), String)*): Unit = {
    docs.foreach { case ((folder, file), body) =>
      write(s"$root/landing", s"incoming/u1/$folder/batch/$file", body) }
    Ingest.start(spark, s"$root/landing", s"$root/warehouse", s"$root/processed",
      s"$root/checkpoint", catalog, DeterministicExtractor).awaitTermination()
  }

  /** The same table read through Spark's own footer-merging inference —
    * the schema every union-schema pin below expects. */
  private def mergeSchemaRead(root: String, meta: FolderMeta) =
    spark.read.option("mergeSchema", "true")
      .parquet(s"$root/warehouse/${meta.tableName}")

  test("union schema: colliding folders with different KPI sets each see both folders' columns") {
    val root = tempDir("graft-union-collide")
    val m1 = Catalog.train("u1", "a.b", "x", Map("Amount" -> "$10"))
    val m2 = Catalog.train("u1", "a_b", "x",
      Map("Amount" -> "$10", "Status" -> "Active"))
    wave(root, Catalog.empty.add(m1).add(m2),
      ("a.b", "x.pdf") -> "Amount=$100",
      ("a_b", "y.pdf") -> "Amount=$200\nStatus=Closed")
    Seq(m1, m2).foreach { m =>
      val t = Catalog.readTable(spark, s"$root/warehouse", m)
      assert(t.schema == mergeSchemaRead(root, m).schema)
      val got = t.select("file_name", "kpi_amount", "kpi_status").collect()
        .map(r => (r.getString(0), r.getDouble(1), Option(r.getString(2)))).toSet
      assert(got == Set(("x.pdf", 100.0, None), ("y.pdf", 200.0, Some("Closed"))),
        s"${m.folder} must see both folders' columns")
    }
  }

  test("union schema: a re-train that drops a KPI still shows the old column with its values") {
    val root = tempDir("graft-union-drop")
    val m1 = Catalog.train("u1", "f1", "x", Map("Amount" -> "$10", "Status" -> "Active"))
    wave(root, Catalog.empty.add(m1), ("f1", "a.pdf") -> "Amount=$100\nStatus=Open")
    val m2 = Catalog.train("u1", "f1", "x", Map("Amount" -> "$10"))
    assert(!m2.schema.fieldNames.contains("kpi_status"))
    wave(root, Catalog.empty.add(m2), ("f1", "b.pdf") -> "Amount=$200\nStatus=Dropped")
    val t = Ingest.readTable(spark, s"$root/warehouse", m2)
    assert(t.schema == mergeSchemaRead(root, m2).drop("_batch_id").schema)
    val got = t.select("file_name", "kpi_amount", "kpi_status").collect()
      .map(r => (r.getString(0), r.getDouble(1), Option(r.getString(2)))).toSet
    assert(got == Set(("a.pdf", 100.0, Some("Open")), ("b.pdf", 200.0, None)))
  }

  test("union schema: a wave landed after a cached read adds its new column on the next read") {
    val root = tempDir("graft-union-cache")
    val wh = s"$root/warehouse"
    val m1 = Catalog.train("u1", "f1", "x", Map("Amount" -> "$10"))
    wave(root, Catalog.empty.add(m1), ("f1", "a.pdf") -> "Amount=$100")
    assert(Catalog.readTable(spark, wh, m1).count() == 1)
    assert(!Catalog.readTable(spark, wh, m1).columns.contains("kpi_region"))
    val m2 = Catalog.train("u1", "f1", "x", Map("Amount" -> "$10", "Region" -> "EMEA"))
    wave(root, Catalog.empty.add(m2), ("f1", "b.pdf") -> "Amount=$200\nRegion=APAC")
    // Read with the STALE metadata: the new column comes from the
    // files, not from the catalog.
    val t = Catalog.readTable(spark, wh, m1)
    assert(t.schema == mergeSchemaRead(root, m1).schema)
    val got = t.select("file_name", "kpi_region").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(got == Map("a.pdf" -> None, "b.pdf" -> Some("APAC")))
  }

  test("union schema: _batch_id keeps its partition-inferred type in Catalog.readTable") {
    val root = tempDir("graft-union-batchid")
    val m = Catalog.train("u1", "f1", "x", Map("Amount" -> "$10"))
    wave(root, Catalog.empty.add(m), ("f1", "a.pdf") -> "Amount=$100")
    wave(root, Catalog.empty.add(m), ("f1", "b.pdf") -> "Amount=$200")
    val t = Catalog.readTable(spark, s"$root/warehouse", m)
    assert(t.schema == mergeSchemaRead(root, m).schema)
    assert(t.schema.last == org.apache.spark.sql.types.StructField(
      "_batch_id", org.apache.spark.sql.types.IntegerType))
    assert(t.select("_batch_id").collect().map(_.getInt(0)).sorted.toSeq == Seq(0, 1))
  }

  test("union schema: two files typing one column differently fail the read") {
    import spark.implicits._
    val root = tempDir("graft-union-conflict")
    val m = Catalog.train("u1", "f1", "x", Map("Amount" -> "$10"))
    val table = s"$root/warehouse/${m.tableName}"
    Seq(("r1", 1.0)).toDF("row_id", "kpi_amount").write.parquet(s"$table/_batch_id=0")
    Seq(("r2", "1")).toDF("row_id", "kpi_amount").write.parquet(s"$table/_batch_id=1")
    val e = intercept[org.apache.spark.SparkException] {
      Catalog.readTable(spark, s"$root/warehouse", m).collect()
    }
    assert(e.getCondition == "CANNOT_MERGE_SCHEMAS", e.getMessage)
  }

  /** Two folders (two tables) trained with a number and a date KPI. */
  private def twoFolders(): Catalog =
    Seq("f1", "f2").foldLeft(Catalog.empty) { (c, f) =>
      c.add(Catalog.train("u1", f, "waves",
        Map("Amount" -> "$10", "Day" -> "2024-01-05")))
    }

  /** Wave `w`'s documents: two per folder. */
  private def waveDocs(w: Int): Seq[((String, String), String)] =
    for (f <- Seq("f1", "f2"); i <- 1 to 2)
      yield (f, s"w$w-$i.pdf") -> s"Amount=$$$w$i.50\nDay=2024-02-0$i"

  test("a second wave on an unchanged catalog compiles no new code") {
    val root = tempDir("graft-ingest-codegen")
    val catalog = twoFolders()
    wave(root, catalog, waveDocs(1): _*)
    val before = org.apache.spark.GraftSparkTestBridge.compilations
    wave(root, catalog, waveDocs(2): _*)
    val compiled = org.apache.spark.GraftSparkTestBridge.compilations - before
    assert(compiled == 0, s"the second wave compiled $compiled classes")
    catalog.folders.values.foreach { meta =>
      assert(Ingest.readTable(spark, s"$root/warehouse", meta).count() == 4)
    }
  }

  test("a batch's rows share one uploaded_at across folders; a later wave's is greater") {
    val root = tempDir("graft-ingest-stamp")
    val catalog = twoFolders()
    wave(root, catalog, waveDocs(1): _*)
    wave(root, catalog, waveDocs(2): _*)
    val stamps = catalog.folders.values.flatMap { meta =>
      Catalog.readTable(spark, s"$root/warehouse", meta)
        .select("_batch_id", "uploaded_at").collect()
        .map(r => r.getAs[Number](0).longValue -> r.getTimestamp(1))
    }
    assert(stamps.size == 8)
    val byBatch = stamps.groupBy(_._1).map { case (b, s) => b -> s.map(_._2).toSet }
    assert(byBatch.keySet == Set(0L, 1L))
    assert(byBatch.values.forall(_.size == 1), byBatch)
    assert(byBatch(1L).head.after(byBatch(0L).head), byBatch)
  }

  test("a wave's jobs carry the ingest.discover, ingest.write and ingest.archive labels") {
    val root = tempDir("graft-ingest-labels")
    val catalog = twoFolders()
    val sc = spark.sparkContext
    val labels = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        labels.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    sc.addSparkListener(l)
    try {
      wave(root, catalog, waveDocs(1): _*)
      org.apache.spark.GraftSparkTestBridge.drain(sc)
    } finally sc.removeSparkListener(l)
    import scala.jdk.CollectionConverters._
    val heads = labels.asScala.map(_.split('|').head.trim).toSet
    assert(heads == Set("graft:ingest.discover", "graft:ingest.write",
      "graft:ingest.archive"), labels.asScala.mkString("; "))
  }

  test("admit implements the B.6 admission vectors") {
    import spark.implicits._
    val paths = Seq(
      "file:/x/incoming/u1/f1/batch/doc.pdf" -> true,
      "file:/x/incoming/u1/f1/batch/doc.PDF" -> true,
      "file:/x/processed/u1/f1/batch/doc.pdf" -> false,
      "file:/x/incoming/u1/f1/master/doc.pdf" -> false,
      "file:/x/incoming/u1/f1/batch/.placeholder" -> false,
      "file:/x/incoming/u1/f1/batch/notes.txt" -> false)
    val got = Ingest.admit(paths.map(_._1).toDF("path"))
      .select("path").collect().map(_.getString(0)).toSet
    paths.foreach { case (p, expected) =>
      assert(got.contains(p) == expected, s"path $p")
    }
    val parsed = Ingest.admit(Seq("file:/x/incoming/u9/f7/batch/a.pdf").toDF("path"))
      .select("uid", "folder", "file_name").first()
    assert((parsed.getString(0), parsed.getString(1), parsed.getString(2))
      == ("u9", "f7", "a.pdf"))
  }
}

/** Cross-task-visible counters for the RPC ingest test (the client
  * closure is deserialized per task; local mode shares this JVM). */
object IngestSpec {
  val rpcCalls = new java.util.concurrent.atomic.AtomicInteger(0)

  /** The deterministic extractor, held at its first extraction until
    * the test releases it — a batch kept in flight. */
  object Held extends graft.extract.Extractor {
    @volatile var entered = new java.util.concurrent.CountDownLatch(1)
    @volatile var release = new java.util.concurrent.CountDownLatch(1)
    override def discover(n: String, c: Array[Byte]): Map[String, String] =
      DeterministicExtractor.discover(n, c)
    override def extractAll(docs: Seq[(String, Array[Byte])],
                            keys: Seq[String]): Seq[Map[String, String]] = {
      entered.countDown()
      release.await(120, java.util.concurrent.TimeUnit.SECONDS)
      super.extractAll(docs, keys)
    }
  }
}
