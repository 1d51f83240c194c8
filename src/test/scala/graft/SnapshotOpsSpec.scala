package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.SnapshotTable

/** Round-8 table operations: RESTORE (rollback as a new commit),
  * merge-on-read UPDATE (vector-mask + new-file append in one
  * commit), and scoped compaction (compactWhere / binPackSmall —
  * rewrite only the files in scope, carry everything else forward
  * by reference). */
class SnapshotOpsSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def tmp(tag: String): String =
    tempDir(s"graft-ops-$tag") + "/t"

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("id").collect().map(_.getLong(0)).toSet

  test("restore: rollback reinstates a prior version's exact contents as a new commit") {
    val dir = tmp("restore")
    SnapshotTable.append(spark.range(0, 50).toDF(), dir,
      statsCols = Seq("id"))                                  // v0
    SnapshotTable.append(spark.range(50, 100).toDF(), dir)    // v1
    SnapshotTable.deleteWhere(spark, dir, $"id" % 2 === 0L)   // v2
    val v = SnapshotTable.restore(spark, dir, 1L).get
    assert(v == 3L)
    // contents == v1 exactly, including the file list (zero data moved)
    assert(ids(SnapshotTable.read(spark, dir)) == (0L until 100L).toSet)
    assert(SnapshotTable.manifestFiles(spark, dir, v).toSet ==
      SnapshotTable.manifestFiles(spark, dir, 1L).toSet)
    // history: the rollback is itself a versioned commit
    val ops = SnapshotTable.history(spark, dir)
      .select("version", "op").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(ops(3L) == "restore")
    // the deleted state is still time-travelable
    assert(ids(SnapshotTable.read(spark, dir, Some(2L))) ==
      (0L until 100L).filter(_ % 2 == 1).toSet)
    // restoring to the just-restored (identical) state is a no-op
    assert(SnapshotTable.restore(spark, dir, 1L).isEmpty)
    // a target with no committed manifest fails loudly
    intercept[java.io.IOException] {
      SnapshotTable.restore(spark, dir, 99L)
    }
  }

  test("time-based retention keeps the version CURRENT AT the window boundary") {
    // v0 old, v1 recent, cutoff between them: TIMESTAMP AS OF any
    // instant inside the window before v1 must still resolve → v0
    // survives (keep 2, not 1)
    val dir = tmp("retain")
    SnapshotTable.append(spark.range(0, 5).toDF(), dir)   // v0
    Thread.sleep(2500)
    SnapshotTable.append(spark.range(5, 9).toDF(), dir)   // v1
    assert(SnapshotTable.keepVersionsForRetention(spark, dir,
      retainMs = 1000L) == 2)
    // a window older than the whole table keeps everything
    assert(SnapshotTable.keepVersionsForRetention(spark, dir,
      retainMs = 3600L * 1000) == 2)
    // a zero window keeps only the head
    assert(SnapshotTable.keepVersionsForRetention(spark, dir,
      retainMs = 0L) == 1)
  }

  test("restore: a head differing only in constraints/props is a no-op") {
    // constraints and properties inherit FORWARD across restore (they
    // are policy, not structure) — so a head whose only difference
    // from the target is policy must not commit a self-identical
    // version.
    val dir = tmp("restore-cons")
    SnapshotTable.append(spark.range(0, 10).toDF(), dir)          // v0
    SnapshotTable.addConstraint(spark, dir, "nonneg", "id >= 0")  // v1
    SnapshotTable.setProperties(spark, dir, Map("k" -> "v"))      // v2
    assert(SnapshotTable.restore(spark, dir, 0L).isEmpty)
    // and the policy is still in force
    assert(SnapshotTable.snapshot(spark, dir,
      SnapshotTable.latestVersion(spark, dir).get).constraints.contains("nonneg"))
  }

  test("restore: deletion vectors roll back and the txn ledger carries forward") {
    val dir = tmp("restore-dv")
    SnapshotTable.append(spark.range(0, 40).toDF(), dir)      // v0
    assert(SnapshotTable.transactionalAppend(
      spark.range(40, 60).toDF(), dir, "app", 7L).nonEmpty)   // v1
    SnapshotTable.deleteWhereMor(spark, dir, $"id" < 10L)     // v2 (vector)
    val v = SnapshotTable.restore(spark, dir, 1L).get
    // masked rows are back (the pre-vector dvRefs state is reinstated)
    assert(ids(SnapshotTable.read(spark, dir)) == (0L until 60L).toSet)
    assert(SnapshotTable.snapshot(spark, dir, v).dvRefs.isEmpty)
    // ledger survived the rollback: the replayed batch stays a no-op
    assert(SnapshotTable.transactionalAppend(
      spark.range(999, 1100).toDF(), dir, "app", 7L).isEmpty)
    assert(ids(SnapshotTable.read(spark, dir)) == (0L until 60L).toSet)
  }

  test("updateWhereMor: masked old rows + new-file updates in one commit, equals CoW") {
    val cow = tmp("upd-cow"); val mor = tmp("upd-mor")
    val data = spark.range(0, 120).toDF()
      .withColumn("status", lit("open"))
      .withColumn("amount", ($"id" * 3L).cast("long"))
    SnapshotTable.append(data, cow)
    SnapshotTable.append(data, mor)
    val filesBefore = SnapshotTable.manifestFiles(spark, mor, 0L).toSet
    SnapshotTable.updateWhere(spark, cow, $"id" % 10 === 4L,
      Seq("status" -> lit("closed"), "amount" -> ($"amount" + 1000L)))
    val v = SnapshotTable.updateWhereMor(spark, mor, $"id" % 10 === 4L,
      Seq("status" -> lit("closed"), "amount" -> ($"amount" + 1000L))).get
    // MoR kept every original file (masked, not rewritten) and added new
    val filesAfter = SnapshotTable.manifestFiles(spark, mor, v).toSet
    assert(filesBefore.subsetOf(filesAfter) && filesAfter != filesBefore)
    assert(SnapshotTable.snapshot(spark, mor, v).dvRefs.nonEmpty)
    // identical result to the CoW twin
    def snap(d: String) = SnapshotTable.read(spark, d)
      .select("id", "status", "amount").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(snap(mor) == snap(cow))
    // updating rows that don't exist is a no-op; typo'd SET refuses
    assert(SnapshotTable.updateWhereMor(spark, mor, $"id" === -1L,
      Seq("status" -> lit("x"))).isEmpty)
    intercept[IllegalArgumentException] {
      SnapshotTable.updateWhereMor(spark, mor, $"id" === 1L,
        Seq("statsu" -> lit("x")))
    }
  }

  test("updateWhereMor: compaction materializes the update and purges vectors") {
    val dir = tmp("upd-purge")
    SnapshotTable.append(spark.range(0, 80).toDF()
      .withColumn("v", lit(0L)), dir)
    SnapshotTable.updateWhereMor(spark, dir, $"id" >= 70L,
      Seq("v" -> lit(1L)))
    // a second MoR update composes with the first file's vector
    SnapshotTable.updateWhereMor(spark, dir, $"id" < 5L,
      Seq("v" -> lit(2L)))
    val expect = (0L until 80L).map(i =>
      (i, if (i >= 70) 1L else if (i < 5) 2L else 0L)).toSet
    def snap() = SnapshotTable.read(spark, dir).select("id", "v")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(snap() == expect)
    val cv = SnapshotTable.compact(spark, dir).get
    assert(SnapshotTable.snapshot(spark, dir, cv).dvRefs.isEmpty)
    assert(snap() == expect)
  }

  test("compactWhere rewrites only the in-scope files; out-of-scope carry forward by reference") {
    val dir = tmp("scoped")
    // three appends with disjoint id ranges → disjoint per-file stats
    SnapshotTable.append(spark.range(0, 100).repartition(3).toDF(), dir,
      statsCols = Seq("id"))
    SnapshotTable.append(spark.range(100, 200).repartition(3).toDF(), dir)
    SnapshotTable.append(spark.range(200, 300).repartition(3).toDF(), dir)
    val before = SnapshotTable.manifestFiles(spark, dir, 2L)
    val (outOfScope, _) =
      SnapshotTable.pruneFiles(spark, dir, "id", 200L, 299L, Some(2L))
    val v = SnapshotTable.compactWhere(spark, dir, "id", 0L, 199L,
      maxRetries = 20).get
    val after = SnapshotTable.manifestFiles(spark, dir, v)
    // the last range's files survive under their exact names
    assert(outOfScope.toSet.subsetOf(after.toSet))
    // the in-scope six files packed down (fewer files than before)
    assert(after.length < before.length)
    assert(ids(SnapshotTable.read(spark, dir)) == (0L until 300L).toSet)
    // stats survive the scoped rewrite: pruning still works
    val (sel, tot) = SnapshotTable.pruneFiles(spark, dir, "id", 250L, 260L)
    assert(sel.length < tot)
    // an already-packed scope is a no-op
    assert(SnapshotTable.compactWhere(spark, dir, "id", 200L, 299L,
      targetBytes = 1L).isEmpty)
  }

  test("compactWhere materializes in-scope deletion vectors only") {
    val dir = tmp("scoped-dv")
    SnapshotTable.append(spark.range(0, 100).coalesce(1).toDF(), dir,
      statsCols = Seq("id"))
    SnapshotTable.append(spark.range(100, 200).coalesce(1).toDF(), dir)
    SnapshotTable.deleteWhereMor(spark, dir, $"id" === 5L || $"id" === 150L)
    val v = SnapshotTable.compactWhere(spark, dir, "id", 0L, 99L).get
    val dv = SnapshotTable.snapshot(spark, dir, v).dvRefs
    // the out-of-scope file keeps its vector; the in-scope one purged
    assert(dv.size == 1)
    assert(ids(SnapshotTable.read(spark, dir)) ==
      ((0L until 200L).toSet - 5L - 150L))
  }

  test("timestampAsOf: adjusted timeline resolves each version; stamps survive vacuum") {
    val dir = tmp("ts")
    SnapshotTable.append(spark.range(0, 20).toDF(), dir)     // v0
    SnapshotTable.append(spark.range(20, 40).toDF(), dir)    // v1
    SnapshotTable.deleteWhere(spark, dir, $"id" < 5L)        // v2
    val tl = SnapshotTable.commitTimeline(spark, dir)
    assert(tl.map(_._1) == Seq(0L, 1L, 2L))
    // strictly increasing even for same-millisecond commits
    assert(tl.sliding(2).forall { case Seq(a, b) => b._2 > a._2 })
    // each version's own adjusted instant resolves to it; one tick
    // before v1 resolves to v0
    assert(SnapshotTable.versionAtTimestamp(spark, dir, tl(1)._2) == 1L)
    assert(SnapshotTable.versionAtTimestamp(spark, dir, tl(1)._2 - 1) == 0L)
    assert(SnapshotTable.versionAtTimestamp(spark, dir,
      System.currentTimeMillis() + 60000) == 2L)
    assert(ids(SnapshotTable.readAsOf(spark, dir, tl(0)._2)) ==
      (0L until 20L).toSet)
    // pre-creation timestamps fail loudly
    intercept[java.io.IOException] {
      SnapshotTable.versionAtTimestamp(spark, dir, tl(0)._2 - 1000)
    }
    // the format("graft") surface resolves the same way
    val viaFormat = spark.read.format("graft")
      .option("timestampAsOf", tl(1)._2.toString).load(dir)
    assert(ids(viaFormat) == (0L until 40L).toSet)
    // history carries the raw stamps
    val hist = SnapshotTable.history(spark, dir)
      .select("version", "commit_ts").collect()
    assert(hist.length == 3 && hist.forall(!_.isNullAt(1)))
    // vacuum's checkpoint rewrite preserves the ORIGINAL stamp: the
    // adjusted timeline of surviving versions is unchanged
    SnapshotTable.vacuum(spark, dir, keepVersions = 2, minAgeMs = 0L)
    val tl2 = SnapshotTable.commitTimeline(spark, dir)
    assert(tl2 == tl.filter(_._1 >= 1L))
  }

  test("clone VERSION AS OF branches from history; vacuumPreview is read-only and exact") {
    val dir = tmp("cv")
    SnapshotTable.append(spark.range(0, 30).toDF(), dir)    // v0
    SnapshotTable.append(spark.range(30, 60).toDF(), dir)   // v1
    SnapshotTable.deleteWhere(spark, dir, $"id" < 10L)      // v2
    // branch from v1: pre-delete contents, source untouched
    val branch = tmp("cv-branch")
    SnapshotTable.shallowClone(spark, dir, branch, versionAsOf = Some(1L))
    assert(ids(SnapshotTable.read(spark, branch)) == (0L until 60L).toSet)
    assert(ids(SnapshotTable.read(spark, dir)) == (10L until 60L).toSet)
    // preview matches what vacuum then actually does, and mutates nothing
    val before = SnapshotTable.history(spark, dir).count()
    val (pf, pm) = SnapshotTable.vacuumPreview(spark, dir,
      keepVersions = 1, minAgeMs = 0L)
    assert(pm == 2) // v0, v1 below the keep window
    assert(SnapshotTable.history(spark, dir).count() == before)
    val deleted = SnapshotTable.vacuum(spark, dir,
      keepVersions = 1, minAgeMs = 0L)
    assert(deleted == pf, s"preview said $pf files, vacuum deleted $deleted")
    assert(ids(SnapshotTable.read(spark, dir)) == (10L until 60L).toSet)
  }

  test("countRows: exact metadata-only COUNT(*) through every row-level op") {
    val dir = tmp("count")
    def check(): Unit =
      assert(SnapshotTable.countRows(spark, dir) ==
        SnapshotTable.read(spark, dir).count())
    SnapshotTable.append(spark.range(0, 500).repartition(4).toDF(), dir)
    check()
    SnapshotTable.append(spark.range(500, 700).toDF(), dir); check()
    SnapshotTable.deleteWhere(spark, dir, $"id" % 7 === 0L); check()
    SnapshotTable.deleteWhereMor(spark, dir, $"id" % 11 === 3L); check()
    SnapshotTable.updateWhereMor(spark, dir, $"id" < 20L,
      Seq("id" -> ($"id" + 100000L))); check()
    SnapshotTable.compact(spark, dir); check()
    val preRestore = SnapshotTable.latestVersion(spark, dir).get
    SnapshotTable.restore(spark, dir, 1L)
    assert(SnapshotTable.countRows(spark, dir) == 700L)
    // version-pinned counts too
    assert(SnapshotTable.countRows(spark, dir, Some(preRestore)) ==
      SnapshotTable.read(spark, dir, Some(preRestore)).count())
    // A manifest whose files carry no row count (stats stripped, the
    // layout of writers that predate counts) is refused, not scanned.
    val dir2 = tmp("count-legacy")
    SnapshotTable.append(spark.range(0, 77).toDF(), dir2,
      statsCols = Seq("id"))
    rewriteManifest(dir2, 0L)(_.remove("stats"))
    val e = intercept[java.io.IOException] {
      SnapshotTable.countRows(spark, dir2)
    }
    assert(e.getMessage.contains("without a recorded size and row count"))
  }

  /** Rewrite manifest `v` of `dir` through `edit` of its JSON tree. */
  private def rewriteManifest(dir: String, v: Long)(
      edit: com.fasterxml.jackson.databind.node.ObjectNode => Any): Unit = {
    val p = new java.io.File(SparkTestBase.localPath(dir),
      s"_manifests/v$v.json").toPath
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(java.nio.file.Files.readAllBytes(p))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    edit(node)
    java.nio.file.Files.write(p, mapper.writeValueAsBytes(node))
  }

  test("reader-feature guard: future manifests fail loudly; current ones stamp their features") {
    val dir = tmp("feat")
    SnapshotTable.append(spark.range(0, 10).toDF(), dir)
    SnapshotTable.deleteWhereMor(spark, dir, $"id" === 3L)
    // this manifest depends on deletion vectors — it must say so
    val f = new org.apache.hadoop.fs.Path(dir, "_manifests/v1.json")
    val hfs = f.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val txt = {
      val in = hfs.open(f)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    assert(txt.contains("\"features\"") && txt.contains("\"dvbitmaps\""))
    // a manifest from a newer writer with an unknown required feature
    // refuses to resolve instead of silently misreading
    val future = new org.apache.hadoop.fs.Path(dir, "_manifests/v2.json")
    val out = hfs.create(future, false)
    out.write(("""{"version":2,"op":"append","adds":[],"removes":[],""" +
      """"features":["column-mapping"]}""").getBytes("UTF-8"))
    out.close()
    val e = intercept[java.io.IOException] {
      SnapshotTable.read(spark, dir).count()
    }
    assert(e.getMessage.contains("column-mapping"))
  }

  test("manifests in pre-current layouts are refused with a rewrite hint") {
    val dir = tmp("legacy-ts")
    SnapshotTable.append(spark.range(0, 10).toDF(), dir)   // v0
    SnapshotTable.append(spark.range(10, 20).toDF(), dir)  // v1
    SnapshotTable.append(spark.range(20, 30).toDF(), dir)  // v2
    // each layout an earlier writer produced, simulated at v1
    val layouts = Seq[(String, com.fasterxml.jackson.databind.node.ObjectNode => Any)](
      "no commit timestamp" -> (_.remove("ts")),
      "no operation name" -> (_.remove("op")),
      "no recorded schema" -> (_.remove("schema")),
      "inline Bloom bitsets" -> (_.putObject("blooms")),
      "parquet deletion-vector sidecars" -> (_.putArray("features").add("dv")),
      "without a recorded size and row count" -> (_.remove("sizes")))
    val v1 = new java.io.File(SparkTestBase.localPath(dir), "_manifests/v1.json")
    val current = java.nio.file.Files.readAllBytes(v1.toPath)
    layouts.foreach { case (layout, edit) =>
      java.nio.file.Files.write(v1.toPath, current)
      rewriteManifest(dir, 1L)(edit)
      Seq[() => Any](
        () => SnapshotTable.read(spark, dir, Some(1L)).count(),
        () => SnapshotTable.history(spark, dir),
        () => SnapshotTable.vacuum(spark, dir, keepVersions = 2,
          minAgeMs = 0L)).foreach { reader =>
        val e = intercept[java.io.IOException](reader())
        assert(e.getMessage.contains(s"manifest v1 under $dir"), layout)
        assert(e.getMessage.contains(layout), e.getMessage)
        assert(e.getMessage.contains("rewrite the table with an earlier " +
          "release"), e.getMessage)
      }
    }
  }

  test("binPackSmall folds only sub-threshold files") {
    val dir = tmp("binpack")
    // one big file, then five tiny ones
    SnapshotTable.append(spark.range(0, 200000).coalesce(1).toDF(), dir)
    for (i <- 0 until 5)
      SnapshotTable.append(
        spark.range(300000L + i, 300001L + i).coalesce(1).toDF(), dir)
    val vBefore = SnapshotTable.latestVersion(spark, dir).get
    val sizes = SnapshotTable.manifestSizes(spark, dir, vBefore)
    val big = sizes.maxBy(_._2)._1
    val threshold = sizes(big) // everything strictly below the big file
    val v = SnapshotTable.binPackSmall(spark, dir, threshold).get
    val after = SnapshotTable.manifestFiles(spark, dir, v)
    // the big file survived by name; the five small ones became one
    assert(after.contains(big))
    assert(after.length == 2)
    assert(SnapshotTable.read(spark, dir).count() == 200005L)
    // immediately re-running has nothing to gain
    assert(SnapshotTable.binPackSmall(spark, dir, threshold).isEmpty)
  }
}
