package graft

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.SnapshotTable

/** Manifest-committed table format: atomic commits, snapshot
  * isolation, time travel, race-free compaction, vacuum with the
  * in-flight-append age guard. */
class SnapshotTableSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def tmp(prefix: String, scheme: String): String =
    tempRoot(prefix, scheme) + "/t"

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("id").collect().map(_.getLong(0)).toSet

  for ((scheme, tag) <- SparkTestBase.Schemes)
  test("append/read roundtrip, versions advance, time travel pins the snapshot" + tag) {
    val dir = tmp("graft-snap", scheme)
    assert(SnapshotTable.latestVersion(spark, dir).isEmpty)
    val v0 = SnapshotTable.append(spark.range(0, 10).toDF(), dir)
    val v1 = SnapshotTable.append(spark.range(10, 25).toDF(), dir)
    assert(v0 == 0L && v1 == 1L)
    assert(ids(SnapshotTable.read(spark, dir)) == (0L until 25L).toSet)
    // Time travel: version 0 is exactly the first append, forever —
    // even after later commits.
    assert(ids(SnapshotTable.read(spark, dir, Some(0L))) == (0L until 10L).toSet)
    intercept[java.io.IOException] {
      SnapshotTable.read(spark, tmp("graft-snap-e", scheme))
    }
  }

  for ((scheme, tag) <- SparkTestBase.Schemes)
  test("concurrent appends both commit (optimistic retry), no rows lost" + tag) {
    val dir = tmp("graft-snap-c", scheme)
    SnapshotTable.append(spark.range(0, 5).toDF(), dir)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val fs = (1 to 4).map { i =>
      Future(SnapshotTable.append(
        spark.range(100L * i, 100L * i + 10).toDF(), dir))
    }
    val versions = fs.map(Await.result(_, Duration.Inf))
    // All four landed on distinct versions and every row is visible.
    assert(versions.toSet.size == 4)
    val want = (0L until 5L).toSet ++
      (1 to 4).flatMap(i => 100L * i until 100L * i + 10)
    assert(ids(SnapshotTable.read(spark, dir)) == want)
  }

  for ((scheme, tag) <- SparkTestBase.Schemes)
  test("uncommitted data files are invisible; vacuum retires them after the age floor" + tag) {
    val dir = tmp("graft-snap-o", scheme)
    SnapshotTable.append(spark.range(0, 10).toDF(), dir)
    // A crashed append: data written, manifest never committed.
    spark.range(500, 510).toDF().write
      .parquet(s"$dir/data/orphan-batch")
    assert(ids(SnapshotTable.read(spark, dir)) == (0L until 10L).toSet,
      "orphan files must be invisible to readers")
    // Young orphans survive vacuum (could be an in-flight append)...
    assert(SnapshotTable.vacuum(spark, dir, keepVersions = 2,
      minAgeMs = 60000) == 0)
    // ...but past the age floor they are retired.
    assert(SnapshotTable.vacuum(spark, dir, keepVersions = 2,
      minAgeMs = 0) > 0)
    assert(ids(SnapshotTable.read(spark, dir)) == (0L until 10L).toSet)
    // A table whose path holds spaces, every file referenced: each
    // listed file must match its manifest key, so vacuum loses nothing.
    val spaced = tempRoot("graft snap sp", scheme) + "/t t"
    SnapshotTable.append(spark.range(0, 10).toDF(), spaced)
    SnapshotTable.append(spark.range(10, 20).toDF(), spaced)
    val live = SnapshotTable.manifestFiles(spark, spaced, 1L)
    assert(SnapshotTable.vacuum(spark, spaced, keepVersions = 1,
      minAgeMs = 0) == 0)
    live.foreach(f => assert(new java.io.File(
      SparkTestBase.localPath(spaced), f).exists, s"vacuum deleted $f"))
    assert(ids(SnapshotTable.read(spark, spaced)) == (0L until 20L).toSet)
  }

  test("compact: new snapshot, identical rows, old version readable until vacuum") {
    val dir = tempDir("graft-snap-k") + "/t"
    (0 until 6).foreach { i =>
      SnapshotTable.append(
        spark.range(10L * i, 10L * i + 10).repartition(3).toDF(), dir)
    }
    val preVersion = SnapshotTable.latestVersion(spark, dir).get
    val preFiles = SnapshotTable.manifestFiles(spark, dir, preVersion)
    assert(preFiles.size >= 12, s"fixture too few files: ${preFiles.size}")
    val v = SnapshotTable.compact(spark, dir).get
    val postFiles = SnapshotTable.manifestFiles(spark, dir, v)
    assert(postFiles.size < preFiles.size)
    assert(ids(SnapshotTable.read(spark, dir)) == (0L until 60L).toSet)
    // Snapshot isolation: the pre-compaction version still reads its
    // own files — compaction swapped nothing under it.
    assert(ids(SnapshotTable.read(spark, dir, Some(preVersion))) ==
      (0L until 60L).toSet)
    // Re-compacting a compact table is a no-op.
    assert(SnapshotTable.compact(spark, dir).isEmpty)
    // Vacuum to the latest version only: superseded files deleted,
    // latest still fully readable.
    assert(SnapshotTable.vacuum(spark, dir, keepVersions = 1,
      minAgeMs = 0) > 0)
    assert(ids(SnapshotTable.read(spark, dir)) == (0L until 60L).toSet)
  }

  for ((scheme, tag) <- SparkTestBase.Schemes)
  test("transactionalAppend: replayed batches are no-ops, racing replays commit once" + tag) {
    val dir = tmp("graft-snap-t", scheme)
    assert(SnapshotTable.transactionalAppend(
      spark.range(0, 10).toDF(), dir, "app1", 0L).contains(0L))
    // Exact replay of batch 0: no-op, rows unchanged.
    assert(SnapshotTable.transactionalAppend(
      spark.range(0, 10).toDF(), dir, "app1", 0L).isEmpty)
    assert(ids(SnapshotTable.read(spark, dir)) == (0L until 10L).toSet)
    // Next batch commits; a stale lower version after it is also a no-op.
    assert(SnapshotTable.transactionalAppend(
      spark.range(10, 20).toDF(), dir, "app1", 1L).nonEmpty)
    assert(SnapshotTable.transactionalAppend(
      spark.range(0, 10).toDF(), dir, "app1", 0L).isEmpty)
    // A DIFFERENT app id has its own ledger.
    assert(SnapshotTable.transactionalAppend(
      spark.range(100, 105).toDF(), dir, "app2", 0L).nonEmpty)
    assert(ids(SnapshotTable.read(spark, dir)) ==
      ((0L until 20L) ++ (100L until 105L)).toSet)
    // Racing replays of the SAME batch: exactly one commits.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val replays = (1 to 4).map { _ =>
      Future(SnapshotTable.transactionalAppend(
        spark.range(200, 210).toDF(), dir, "app1", 2L))
    }.map(Await.result(_, Duration.Inf))
    assert(replays.count(_.nonEmpty) == 1,
      s"exactly one racing replay must commit, got $replays")
    assert(ids(SnapshotTable.read(spark, dir)) ==
      ((0L until 20L) ++ (100L until 105L) ++ (200L until 210L)).toSet)
    // The loser's orphan files exist until vacuumed; vacuum keeps the
    // committed rows intact.
    SnapshotTable.vacuum(spark, dir, keepVersions = 1, minAgeMs = 0)
    assert(ids(SnapshotTable.read(spark, dir)) ==
      ((0L until 20L) ++ (100L until 105L) ++ (200L until 210L)).toSet)
  }

  test("file stats: readWhere prunes to intersecting files, result == full-scan filter") {
    val dir = tempDir("graft-snap-s") + "/t"
    // Four appends with DISJOINT id ranges → per-file [min,max] are
    // disjoint and a narrow predicate must open one file.
    (0 until 4).foreach { i =>
      SnapshotTable.append(
        spark.range(100L * i, 100L * i + 100).toDF()
          .withColumn("k", format_string("k%05d", $"id"))
          .coalesce(1),
        dir, statsCols = Seq("id", "k"))
    }
    val (sel, total) = SnapshotTable.pruneFiles(spark, dir, "id", 120L, 180L)
    assert(total == 4 && sel.size == 1,
      s"expected 1-of-4 files for a one-batch range, got ${sel.size}/$total")
    assert(ids(SnapshotTable.readWhere(spark, dir, "id", 120L, 180L)) ==
      ids(SnapshotTable.read(spark, dir).filter($"id".between(120, 180))))
    // String-domain stats prune lexically.
    val (selK, _) = SnapshotTable.pruneFiles(spark, dir, "k", "k00250", "k00260")
    assert(selK.size == 1)
    // A column with NO stats never prunes (conservative).
    val (selNone, _) =
      SnapshotTable.pruneFiles(spark, dir, "nonexistent", 0, 1)
    assert(selNone.size == total)
    // A range matching nothing still returns the right (empty) result.
    assert(ids(SnapshotTable.readWhere(spark, dir, "id", 5000L, 6000L)).isEmpty)
  }

  test("clusterBy compaction turns an unprunable layout into a prunable one") {
    val dir = tempDir("graft-snap-z") + "/t"
    // Round-robin appends: every file spans the FULL id range, so
    // stats exist but prune nothing.
    (0 until 4).foreach { i =>
      SnapshotTable.append(
        spark.range(0, 400).filter($"id" % 4 === i).coalesce(1).toDF(),
        dir, statsCols = Seq("id"))
    }
    val (pre, preTotal) = SnapshotTable.pruneFiles(spark, dir, "id", 10L, 20L)
    assert(pre.size == preTotal, "interleaved layout must be unprunable")
    // Range-cluster on id into ~4 files: ranges become disjoint.
    val bytes = SnapshotTable.manifestFiles(spark, dir,
      SnapshotTable.latestVersion(spark, dir).get)
      .map(p => new java.io.File(s"$dir/$p").length).sum
    val v = SnapshotTable.compact(spark, dir, targetBytes = bytes / 4 + 1,
      clusterBy = Seq("id")).get
    val (post, postTotal) = SnapshotTable.pruneFiles(spark, dir, "id", 10L, 20L)
    assert(postTotal >= 2 && post.size < postTotal,
      s"clustered layout must prune: ${post.size}/$postTotal")
    assert(ids(SnapshotTable.readWhere(spark, dir, "id", 10L, 20L)) ==
      (10L to 20L).toSet)
    assert(ids(SnapshotTable.read(spark, dir, Some(v))) == (0L until 400L).toSet)
  }

  test("deleteWhere rewrites only touched files; time travel keeps deleted rows") {
    val dir = tempDir("graft-snap-d") + "/t"
    (0 until 4).foreach { i =>
      SnapshotTable.append(
        spark.range(100L * i, 100L * i + 100).coalesce(1).toDF(),
        dir, statsCols = Seq("id"))
    }
    val preV = SnapshotTable.latestVersion(spark, dir).get
    val preFiles = SnapshotTable.manifestFiles(spark, dir, preV)
    // Delete a range inside batch 1 only.
    val v = SnapshotTable.deleteWhere(spark, dir,
      $"id".between(150, 159)).get
    assert(ids(SnapshotTable.read(spark, dir)) ==
      (0L until 400L).toSet -- (150L to 159L))
    // Untouched files carried by REFERENCE: 3 of the 4 originals
    // remain in the new manifest verbatim.
    val postFiles = SnapshotTable.manifestFiles(spark, dir, v).toSet
    assert(preFiles.count(postFiles.contains) == 3,
      "deleteWhere must not rewrite files without matching rows")
    // Snapshot isolation: the pre-delete version still has every row.
    assert(ids(SnapshotTable.read(spark, dir, Some(preV))) ==
      (0L until 400L).toSet)
    // Stats survive the rewrite: a narrow read still prunes.
    val (sel, total) = SnapshotTable.pruneFiles(spark, dir, "id", 320L, 330L)
    assert(sel.size < total)
    // Nothing matched → no commit at all.
    assert(SnapshotTable.deleteWhere(spark, dir, $"id" > 10000).isEmpty)
    assert(SnapshotTable.latestVersion(spark, dir).get == v)
  }

  test("merge upserts matched keys, inserts new ones, rewrites only touched files") {
    val dir = tempDir("graft-snap-m") + "/t"
    (0 until 3).foreach { i =>
      SnapshotTable.append(
        spark.range(100L * i, 100L * i + 100).toDF()
          .withColumn("v", lit("old")).coalesce(1),
        dir, statsCols = Seq("id"))
    }
    val preV = SnapshotTable.latestVersion(spark, dir).get
    val preFiles = SnapshotTable.manifestFiles(spark, dir, preV)
    // Source: update two ids in batch 0, insert two new ids.
    val source = Seq((5L, "new"), (7L, "new"), (900L, "ins"), (901L, "ins"))
      .toDF("id", "v")
    SnapshotTable.merge(spark, dir, source, Seq("id"))
    val got = SnapshotTable.read(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == 302)
    assert(got(5L) == "new" && got(7L) == "new")
    assert(got(900L) == "ins" && got(901L) == "ins")
    assert(got(6L) == "old" && got(150L) == "old")
    // Only batch 0's file was rewritten; batches 1-2 carried forward.
    val postFiles = SnapshotTable.manifestFiles(spark, dir,
      SnapshotTable.latestVersion(spark, dir).get).toSet
    assert(preFiles.count(postFiles.contains) == 2,
      "merge must not rewrite files without matched keys")
    // Pre-merge snapshot unchanged.
    assert(SnapshotTable.read(spark, dir, Some(preV))
      .filter($"v" =!= "old").count() == 0)
    // Duplicate-key source fails loudly (classic MERGE precondition).
    intercept[IllegalArgumentException] {
      SnapshotTable.merge(spark, dir,
        Seq((1L, "a"), (1L, "b")).toDF("id", "v"), Seq("id"))
    }
    // Insert-only merge into the same table works (no touched files).
    SnapshotTable.merge(spark, dir,
      Seq((950L, "ins2")).toDF("id", "v"), Seq("id"))
    assert(ids(SnapshotTable.read(spark, dir)).contains(950L))
  }

  test("bloom skipping: equality probes prune files min/max stats cannot") {
    val dir = tempDir("graft-snap-b") + "/t"
    // Interleaved appends: every file's [min,max] spans the whole id
    // range — range stats are useless for a point lookup here; the
    // per-file Bloom bitset is what prunes.
    (0 until 4).foreach { i =>
      SnapshotTable.append(
        spark.range(0, 400).filter($"id" % 4 === i).coalesce(1).toDF(),
        dir, statsCols = Seq("id"), bloomCols = Seq("id"))
    }
    // Range pruning keeps all 4; bloom pruning opens exactly the one
    // file whose batch holds the key (121 % 4 == 1).
    val (rangeSel, total) = SnapshotTable.pruneFiles(spark, dir, "id", 121L, 121L)
    assert(rangeSel.size == total && total == 4)
    val (sel, _) = SnapshotTable.pruneFilesEq(spark, dir, "id", 121L)
    assert(sel.size == 1, s"bloom must prune to the owning file, got ${sel.size}")
    assert(ids(SnapshotTable.readWhereEq(spark, dir, "id", 121L)) == Set(121L))
    // Absent key: every bloom says no — zero files opened, empty result.
    val (selAbsent, _) = SnapshotTable.pruneFilesEq(spark, dir, "id", 5000L)
    assert(selAbsent.isEmpty)
    assert(ids(SnapshotTable.readWhereEq(spark, dir, "id", 5000L)).isEmpty)
    // Blooms are recomputed on copy-on-write: after deleting the key,
    // the rewritten file's bitset no longer claims it.
    SnapshotTable.deleteWhere(spark, dir, $"id" === 121L)
    val (selAfter, _) = SnapshotTable.pruneFilesEq(spark, dir, "id", 121L)
    assert(selAfter.isEmpty,
      s"rewritten file's bloom must drop the deleted key, kept $selAfter")
    assert(ids(SnapshotTable.readWhereEq(spark, dir, "id", 121L)).isEmpty)
    // A neighbouring key in the SAME original batch still resolves.
    assert(ids(SnapshotTable.readWhereEq(spark, dir, "id", 125L)) == Set(125L))
  }

  test("changeFeed: exact row-level deltas from changed files only") {
    val dir = tempDir("graft-snap-cf") + "/t"
    (0 until 3).foreach { i =>
      SnapshotTable.append(
        spark.range(100L * i, 100L * i + 100).toDF()
          .withColumn("v", lit("old")).coalesce(1), dir)
    }
    // v3 = MERGE updating two keys in two different files.
    SnapshotTable.merge(spark, dir,
      Seq((5L, "new"), (150L, "new")).toDF("id", "v"), Seq("id"))
    def feed(a: Long, b: Long) = SnapshotTable.changeFeed(spark, dir, a, b)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    // Rewritten-but-identical rows cancel: the feed is EXACTLY the
    // update's delete+insert pairs, nothing from the 198 carried rows.
    assert(feed(2, 3) == Set(
      (5L, "new", "insert"), (150L, "new", "insert"),
      (5L, "old", "delete"), (150L, "old", "delete")))
    // v4 = DELETE of a contiguous slice.
    SnapshotTable.deleteWhere(spark, dir, $"id".between(200, 204))
    assert(feed(3, 4) == (200L to 204L).map(i => (i, "old", "delete")).toSet)
    // Spanning feed composes both changes; empty span is empty.
    assert(feed(2, 4).size == 9)
    assert(feed(4, 4).isEmpty)
  }

  test("changeFeed: commit-kind shortcuts equal the generic multiset diff") {
    val dir = tempDir("graft-snap-cfop") + "/t"
    (0 until 3).foreach { i =>
      SnapshotTable.append(
        spark.range(100L * i, 100L * i + 100).toDF()
          .withColumn("v", lit("x")).coalesce(1), dir)
    }
    def feed(a: Long, b: Long) = SnapshotTable.changeFeed(spark, dir, a, b)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    // v3 = compaction: rearranges every live row, nets NO change —
    // the op-kind shortcut must agree with what a full diff would say.
    SnapshotTable.compact(spark, dir, targetBytes = 1L << 30)
    assert(feed(2, 3).isEmpty)
    // v4 = CoW delete: the insert leg is provably empty (deletes-only
    // shortcut); rows must be exactly the masked slice.
    SnapshotTable.deleteWhere(spark, dir, $"id".between(10, 14))
    assert(feed(3, 4) == (10L to 14L).map(i => (i, "x", "delete")).toSet)
    // Mixed span [compact, deleteWhere] takes the GENERIC path and
    // must net to the same deletes (rearranged rows cancel).
    assert(feed(2, 4) == (10L to 14L).map(i => (i, "x", "delete")).toSet)
  }

  test("changeFeed: deleteMor position-delta shortcut equals the generic diff") {
    val dir = tempDir("graft-snap-cfdv") + "/t"
    (0 until 2).foreach { i =>
      SnapshotTable.append(
        spark.range(100L * i, 100L * i + 100).toDF()
          .withColumn("v", lit("x")).coalesce(1), dir)
    }
    def feed(a: Long, b: Long) = SnapshotTable.changeFeed(spark, dir, a, b)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    // v2, v3 = two COMPOSING MoR deletes (the second masks more rows on
    // the same files, so its vector carries the first's positions too).
    // Each single-commit feed takes the position-delta shortcut and
    // must surface EXACTLY the newly-masked rows — not the cumulative
    // vector (the composed sidecar holds old + new positions; serving
    // it raw would re-delete v2's rows in v3's feed).
    SnapshotTable.deleteWhereMor(spark, dir, $"id".between(10, 14))
    assert(feed(1, 2) == (10L to 14L).map(i => (i, "x", "delete")).toSet)
    SnapshotTable.deleteWhereMor(spark, dir, $"id".between(12, 105))
    assert(feed(2, 3) == (15L to 105L).map(i => (i, "x", "delete")).toSet)
    // The two-commit span still qualifies (deleteMor-only): the delta
    // is cumulative, each row exactly once.
    assert(feed(1, 3) == (10L to 105L).map(i => (i, "x", "delete")).toSet)
    // Mixed span [deleteMor, deleteMor, append] takes the GENERIC
    // path (adds present) and must net to the same deletes plus the
    // appended inserts — the shortcut and the diff must agree where
    // their domains meet.
    SnapshotTable.append(
      spark.range(200, 203).toDF().withColumn("v", lit("y")).coalesce(1), dir)
    assert(feed(1, 4) ==
      ((10L to 105L).map(i => (i, "x", "delete")) ++
        (200L to 202L).map(i => (i, "y", "insert"))).toSet)
  }

  test("zOrder compaction: one layout serves range predicates on BOTH columns") {
    val dir = tempDir("graft-snap-zo") + "/t"
    // 64x64 grid appended interleaved on id%4: every file spans the
    // full range of BOTH x and y — nothing prunes.
    (0 until 4).foreach { i =>
      SnapshotTable.append(
        spark.range(0, 4096).filter($"id" % 4 === i)
          .select(($"id" % 64).as("x"), ($"id" / 64).cast("long").as("y"))
          .coalesce(1),
        dir, statsCols = Seq("x", "y"))
    }
    val (preX, preTotal) = SnapshotTable.pruneFiles(spark, dir, "x", 0L, 7L)
    val (preY, _) = SnapshotTable.pruneFiles(spark, dir, "y", 0L, 7L)
    assert(preX.size == preTotal && preY.size == preTotal)
    val bytes = SnapshotTable.manifestFiles(spark, dir,
      SnapshotTable.latestVersion(spark, dir).get)
      .map(p => new java.io.File(s"$dir/$p").length).sum
    SnapshotTable.compact(spark, dir, targetBytes = bytes / 16 + 1,
      zOrderBy = Seq("x", "y"))
    val (postX, totalX) = SnapshotTable.pruneFiles(spark, dir, "x", 0L, 7L)
    val (postY, totalY) = SnapshotTable.pruneFiles(spark, dir, "y", 0L, 7L)
    assert(totalX >= 8, s"expected a multi-file layout, got $totalX")
    assert(postX.size <= totalX / 2 && postY.size <= totalY / 2,
      s"z-layout must prune both dims: x ${postX.size}/$totalX, " +
        s"y ${postY.size}/$totalY")
    // Results identical to the full-scan filters.
    def setOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(setOf(SnapshotTable.readWhere(spark, dir, "x", 0L, 7L)) ==
      setOf(SnapshotTable.read(spark, dir).filter($"x".between(0, 7))))
    assert(setOf(SnapshotTable.readWhere(spark, dir, "y", 0L, 7L)) ==
      setOf(SnapshotTable.read(spark, dir).filter($"y".between(0, 7))))
    assert(SnapshotTable.read(spark, dir).count() == 4096)
  }

  for (txn <- Seq(false, true))
  test("appendPartitioned: hidden partitioning — single-valued files, exact pruning" +
      (if (txn) " [transactionalAppendPartitioned]" else "")) {
    val dir = tempDir("graft-snap-hp") + "/t"
    // both entry points; the exactly-once one as app "hp", txn 0, 1, …
    def appendP(df: org.apache.spark.sql.DataFrame, by: Seq[String],
                txnVersion: Long, statsCols: Seq[String] = Nil): Unit =
      if (txn) assert(SnapshotTable.transactionalAppendPartitioned(df, dir,
        by, "hp", txnVersion, statsCols = statsCols).isDefined)
      else SnapshotTable.appendPartitioned(df, dir, by, statsCols = statsCols)
    val df = spark.range(0, 400).toDF()
      .withColumn("day", ($"id" % 8).cast("int"))
      .withColumn("v", concat(lit("r"), $"id"))
    appendP(df, Seq("day"), 0L)
    val v0 = SnapshotTable.latestVersion(spark, dir).get
    // Every data file holds exactly one day (min == max in stats).
    val stats = SnapshotTable.snapshot(spark, dir, v0).stats
    val files = SnapshotTable.manifestFiles(spark, dir, v0)
    assert(files.nonEmpty && files.forall(stats.contains))
    files.foreach { f =>
      val st = stats(f)("day")
      assert(st.min == st.max, s"$f spans days ${st.min}..${st.max}")
    }
    // Equality read prunes to exactly the owning files; rows intact
    // (partition column kept IN the data — no path reconstruction).
    val (sel, total) = SnapshotTable.pruneFilesEq(spark, dir, "day", 3)
    assert(total == files.size && sel.size * 8 <= total + 7,
      s"day=3 should own ~1/8 of files: ${sel.size}/$total")
    sel.foreach(f => assert(stats(f)("day").min == "3"))
    val got = SnapshotTable.readWhereEq(spark, dir, "day", 3)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got == (0L until 400L).filter(_ % 8 == 3).toSet)
    // Partition evolution: a later append partitioned DIFFERENTLY
    // coexists; pruning stays per-file-true for both populations.
    appendP(
      spark.range(400, 430).toDF()
        .withColumn("day", lit(99).cast("int"))
        .withColumn("v", concat(lit("r"), $"id")),
      Seq("v"), 1L, statsCols = Seq("day")) // partitioned by v now, not day
    assert(ids(SnapshotTable.read(spark, dir)) == (0L until 430L).toSet)
    val (sel99, _) = SnapshotTable.pruneFilesEq(spark, dir, "day", 3)
    assert(sel99.toSet == sel.toSet,
      "day=3 pruning unaffected by the day-less second append? " +
        s"${sel99.size} vs ${sel.size}")
    if (txn) {
      // a replayed (appId, txnVersion) is a no-op: None, nothing committed
      val head = SnapshotTable.latestVersion(spark, dir)
      assert(SnapshotTable.transactionalAppendPartitioned(df, dir,
        Seq("day"), "hp", 1L).isEmpty)
      assert(SnapshotTable.latestVersion(spark, dir) == head)
      assert(ids(SnapshotTable.read(spark, dir)) == (0L until 430L).toSet)
    }
  }

  test("shallowClone: zero-copy branch — diverges via CoW, promote via compact") {
    val src = tempDir("graft-snap-cs") + "/s"
    val dst = tempDir("graft-snap-cd") + "/d"
    (0 until 3).foreach { i =>
      SnapshotTable.append(
        spark.range(100L * i, 100L * i + 100).toDF()
          .withColumn("v", lit("src")).coalesce(1),
        src, statsCols = Seq("id"))
    }
    SnapshotTable.shallowClone(spark, src, dst)
    // Zero bytes moved: the clone's data/ does not even exist yet.
    assert(!new java.io.File(s"$dst/data").exists)
    assert(ids(SnapshotTable.read(spark, dst)) == (0L until 300L).toSet)
    // Stats carried: pruning works immediately on the clone.
    val (sel, total) = SnapshotTable.pruneFiles(spark, dst, "id", 0L, 50L)
    assert(total == 3 && sel.size == 1, s"${sel.size}/$total")
    // The branch diverges; the source never changes.
    SnapshotTable.append(spark.range(900, 910).toDF()
      .withColumn("v", lit("branch")), dst)
    SnapshotTable.deleteWhere(spark, dst, $"id".between(0, 4))
    assert(ids(SnapshotTable.read(spark, dst)) ==
      ((5L until 300L) ++ (900L until 910L)).toSet)
    assert(ids(SnapshotTable.read(spark, src)) == (0L until 300L).toSet)
    // CoW pulled ONLY the touched foreign file into the clone: the
    // other two source files remain referenced by absolute path.
    val vd = SnapshotTable.latestVersion(spark, dst).get
    val foreign = SnapshotTable.manifestFiles(spark, dst, vd)
      .filterNot(_.startsWith("data/"))
    assert(foreign.size == 2, s"expected 2 foreign refs, got $foreign")
    // Promote: compact rewrites every byte into the clone's own data/.
    SnapshotTable.compact(spark, dst, targetBytes = 1L << 30)
    val vp = SnapshotTable.latestVersion(spark, dst).get
    assert(SnapshotTable.manifestFiles(spark, dst, vp)
      .forall(_.startsWith("data/")), "promotion must localize all refs")
    assert(ids(SnapshotTable.read(spark, dst)) ==
      ((5L until 300L) ++ (900L until 910L)).toSet)
    // A non-empty destination refuses.
    intercept[IllegalArgumentException] {
      SnapshotTable.shallowClone(spark, src, dst)
    }
  }

  for ((scheme, tag) <- SparkTestBase.Schemes)
  test("vacuum reaches partitioned (nested) orphans after compaction" + tag) {
    val dir = tmp("graft-snap-vp", scheme)
    SnapshotTable.appendPartitioned(
      spark.range(0, 100).toDF().withColumn("day", ($"id" % 4).cast("int")),
      dir, Seq("day"))
    def nestedParquets() = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles.toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
      walk(new java.io.File(SparkTestBase.localPath(dir), "data"))
    }
    val before = nestedParquets().size
    assert(before >= 4, s"partitioned layout expected, got $before files")
    SnapshotTable.compact(spark, dir, targetBytes = 1L << 30)
    // Keep only the compacted version; the nested partition files are
    // now orphans and must actually be deleted (a two-level vacuum
    // walk would leak them forever).
    val n = SnapshotTable.vacuum(spark, dir, keepVersions = 1, minAgeMs = 0L)
    assert(n >= before, s"vacuum deleted $n < $before nested orphans")
    assert(nestedParquets().size < before)
    assert(SnapshotTable.read(spark, dir).count() == 100)
  }

  test("applyChanges: one-commit CDC apply — upserts, pure deletes, update collapse") {
    val dir = tempDir("graft-snap-ac") + "/t"
    SnapshotTable.append(
      spark.range(0, 10).toDF().withColumn("v", lit("base")), dir)
    // update 3 (delete+insert pair), pure-delete 7, fresh insert 100.
    val changes = Seq(
      (3L, "base", "delete"), (3L, "upd", "insert"),
      (7L, "base", "delete"),
      (100L, "new", "insert")).toDF("id", "v", "_change")
    val v = SnapshotTable.applyChanges(spark, dir, changes, Seq("id"),
      txn = Some("cdc" -> 1L))
    assert(v.contains(1L))
    val rows = SnapshotTable.read(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.keySet == ((0L until 10L).toSet - 7L + 100L))
    assert(rows(3L) == "upd" && rows(100L) == "new" && rows(0L) == "base")
    // Replay of the same (appId, txnVersion) is a manifest no-op.
    assert(SnapshotTable.applyChanges(spark, dir, changes, Seq("id"),
      txn = Some("cdc" -> 1L)).isEmpty)
    assert(SnapshotTable.latestVersion(spark, dir).contains(1L))
    // Duplicate insert keys fail loudly.
    intercept[IllegalArgumentException] {
      SnapshotTable.applyChanges(spark, dir,
        Seq((1L, "a", "insert"), (1L, "b", "insert"))
          .toDF("id", "v", "_change"), Seq("id"))
    }
    // Unknown _change tags fail loudly (a typo'd 'update' must not
    // silently vanish from the apply).
    intercept[IllegalArgumentException] {
      SnapshotTable.applyChanges(spark, dir,
        Seq((2L, "x", "update")).toDF("id", "v", "_change"), Seq("id"))
    }
  }

  test("replicate: exactly-once CDC pipe, ledger cursor, incremental files only") {
    val src = tempDir("graft-snap-rs") + "/s"
    val dst = tempDir("graft-snap-rd") + "/d"
    (0 until 3).foreach { i =>
      SnapshotTable.append(
        spark.range(100L * i, 100L * i + 100).toDF()
          .withColumn("v", lit("old")).coalesce(1), src)
    }
    def dump(dir: String) = SnapshotTable.read(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // Bootstrap: full snapshot lands; cursor = src v2.
    val Some((sv1, dv1)) = SnapshotTable.replicate(spark, src, dst, Seq("id"), "rep")
    assert(sv1 == 2L && dump(dst) == dump(src))
    // Already current → no-op.
    assert(SnapshotTable.replicate(spark, src, dst, Seq("id"), "rep").isEmpty)
    // Upstream MERGE + DELETE; replica advances incrementally.
    SnapshotTable.merge(spark, src,
      Seq((5L, "new"), (250L, "new")).toDF("id", "v"), Seq("id"))
    SnapshotTable.deleteWhere(spark, src, $"id".between(150, 154))
    val Some((sv2, dv2)) = SnapshotTable.replicate(spark, src, dst, Seq("id"), "rep")
    assert(sv2 == 4L && dv2 > dv1)
    assert(dump(dst) == dump(src))
    // The incremental apply only rewrote affected files: the dst
    // change between dv1 and dv2 is exactly the upstream delta.
    val delta = SnapshotTable.changeFeed(spark, dst, dv1, dv2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(delta == Set(
      (5L, "new", "insert"), (250L, "new", "insert"),
      (5L, "old", "delete"), (250L, "old", "delete")) ++
      (150L to 154L).map(i => (i, "old", "delete")).toSet)
    // A replayed incremental run (same cursor) is a no-op.
    assert(SnapshotTable.replicate(spark, src, dst, Seq("id"), "rep").isEmpty)
  }

  test("replicate append-only mode: inserts stream through, deletes refuse") {
    val src = tempDir("graft-snap-ra") + "/s"
    val dst = tempDir("graft-snap-rb") + "/d"
    SnapshotTable.append(spark.range(0, 50).toDF(), src)
    val Some((v1, _)) = SnapshotTable.replicate(spark, src, dst, Nil, "evt")
    assert(v1 == 0L)
    SnapshotTable.append(spark.range(50, 80).toDF(), src)
    val Some((v2, _)) = SnapshotTable.replicate(spark, src, dst, Nil, "evt")
    assert(v2 == 1L)
    assert(ids(SnapshotTable.read(spark, dst)) == (0L until 80L).toSet)
    // A delete upstream breaks the append-only contract loudly.
    SnapshotTable.deleteWhere(spark, src, $"id" === 10L)
    intercept[IllegalArgumentException] {
      SnapshotTable.replicate(spark, src, dst, Nil, "evt")
    }
  }

  test("readWhereAll: conjunctive pruning intersects per-column decisions") {
    val dir = tempDir("graft-snap-ma") + "/t"
    // Z-ordered 64x64 grid: per-file hyper-rectangles on both dims.
    (0 until 4).foreach { i =>
      SnapshotTable.append(
        spark.range(0, 4096).filter($"id" % 4 === i)
          .select(($"id" % 64).as("x"), ($"id" / 64).cast("long").as("y"))
          .coalesce(1),
        dir, statsCols = Seq("x", "y"))
    }
    val bytes = SnapshotTable.manifestFiles(spark, dir,
      SnapshotTable.latestVersion(spark, dir).get)
      .map(p => new java.io.File(s"$dir/$p").length).sum
    SnapshotTable.compact(spark, dir, targetBytes = bytes / 16 + 1,
      zOrderBy = Seq("x", "y"))
    val both = SnapshotTable.readWhereAll(spark, dir,
      Seq(("x", 0L, 7L), ("y", 0L, 7L)))
    assert(both.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      (for { x <- 0L to 7L; y <- 0L to 7L } yield (x, y)).toSet)
    // The conjunction opens no more files than either single-column
    // prune — the intersection property.
    val (fx, _) = SnapshotTable.pruneFiles(spark, dir, "x", 0L, 7L)
    val (fy, _) = SnapshotTable.pruneFiles(spark, dir, "y", 0L, 7L)
    val inter = fx.toSet intersect fy.toSet
    assert(inter.size <= math.min(fx.size, fy.size))
    assert(inter.nonEmpty && inter.size < fx.size + fy.size)
    // Disjoint conjunction → empty result, zero-file scan path.
    assert(SnapshotTable.readWhereAll(spark, dir,
      Seq(("x", 0L, 3L), ("x", 60L, 63L))).isEmpty)
  }

  test("schema evolution: added columns NULL-backfill, type conflicts fail loudly") {
    val dir = tempDir("graft-snap-e2") + "/t"
    SnapshotTable.append(spark.range(0, 5).toDF(), dir)
    // Add-column append: old rows surface NULL for the new column.
    SnapshotTable.append(
      spark.range(5, 10).toDF().withColumn("tag", lit("new")), dir)
    val cur = SnapshotTable.read(spark, dir)
    assert(cur.columns.toSeq == Seq("id", "tag"))
    assert(cur.filter($"tag".isNull).count() == 5)
    assert(cur.filter($"tag" === "new").count() == 5)
    // An append MISSING an existing column: its rows read NULL there.
    SnapshotTable.append(
      spark.range(0, 3).select(($"id" + 100).as("id2")).toDF(), dir)
    val withMissing = SnapshotTable.read(spark, dir)
    assert(withMissing.columns.toSeq == Seq("id", "tag", "id2"))
    assert(withMissing.filter($"id".isNull).count() == 3)
    // Time travel reads the OLD schema: v0 has only id.
    assert(SnapshotTable.read(spark, dir, Some(0L)).columns.toSeq == Seq("id"))
    // Same-name different-type append is refused BEFORE writing data.
    intercept[IllegalArgumentException] {
      SnapshotTable.append(
        spark.range(0, 1).select($"id", lit(7).as("tag")), dir)
    }
    // Compaction materializes the unified schema; rows and shape hold.
    SnapshotTable.compact(spark, dir, targetBytes = 1L << 30)
    val post = SnapshotTable.read(spark, dir)
    assert(post.columns.toSeq == Seq("id", "tag", "id2") &&
      post.count() == 13)
  }

  test("transactionalMerge: exactly-once CDC apply, replays are no-ops") {
    val dir = tempDir("graft-snap-tm") + "/t"
    // First batch initializes the table (insert-only merge).
    assert(SnapshotTable.transactionalMerge(spark, dir,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Seq("id"),
      "cdc-1", 0L).contains(0L))
    // Replay of batch 0: manifest no-op.
    assert(SnapshotTable.transactionalMerge(spark, dir,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), Seq("id"),
      "cdc-1", 0L).isEmpty)
    // Batch 1 upserts one key, inserts another.
    assert(SnapshotTable.transactionalMerge(spark, dir,
      Seq((2L, "b2"), (3L, "c")).toDF("id", "v"), Seq("id"),
      "cdc-1", 1L).nonEmpty)
    // Stale replay of batch 0 after batch 1: still a no-op.
    assert(SnapshotTable.transactionalMerge(spark, dir,
      Seq((1L, "STALE"), (2L, "STALE")).toDF("id", "v"), Seq("id"),
      "cdc-1", 0L).isEmpty)
    val got = SnapshotTable.read(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "a", 2L -> "b2", 3L -> "c"))
  }

  for ((scheme, tag) <- SparkTestBase.Schemes)
  test("mixed concurrent appends, merges, compactions: no lost, phantom, or stale rows" + tag) {
    // Four writers race on one table: two appenders on disjoint
    // keyspaces, a compactor in a loop, and a merger upserting its
    // own keyspace sequentially (retrying the documented
    // ConcurrentModificationException when the compactor rewrites a
    // touched file mid-flight). The table must end with EXACTLY the
    // union of appended rows, the merger's keys at their LAST upsert
    // value — no row lost to a commit race, none duplicated, none
    // resurrected at a stale value.
    val dir = tmp("graft-snap-mx", scheme)
    SnapshotTable.append(
      (30000L until 30050L).map(i => (i, "m0")).toDF("id", "v"), dir)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    def appender(base: Long) = Future {
      (0 until 8).foreach { i =>
        SnapshotTable.append(
          (base + 50L * i until base + 50L * i + 50)
            .map(k => (k, s"a$i")).toDF("id", "v").coalesce(1), dir)
      }
    }
    val compactor = Future {
      (0 until 6).foreach { _ =>
        try SnapshotTable.compact(spark, dir, targetBytes = 1L << 30)
        catch { case _: java.util.ConcurrentModificationException => () }
        Thread.sleep(30)
      }
    }
    val merger = Future {
      (1 to 6).foreach { i =>
        var done = false
        while (!done) {
          try {
            SnapshotTable.merge(spark, dir,
              (30000L until 30020L).map(k => (k, s"m$i")).toDF("id", "v"),
              Seq("id"))
            done = true
          } catch {
            case _: java.util.ConcurrentModificationException => () // retry
          }
        }
      }
    }
    Await.result(
      Future.sequence(Seq(appender(10000L), appender(20000L),
        compactor, merger)), 180.seconds)
    val rows = SnapshotTable.read(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val expectedIds = (10000L until 10400L) ++ (20000L until 20400L) ++
      (30000L until 30050L)
    assert(rows.keySet == expectedIds.toSet,
      s"missing=${(expectedIds.toSet -- rows.keySet).take(5)} " +
        s"phantom=${(rows.keySet -- expectedIds.toSet).take(5)}")
    (30000L until 30020L).foreach(k => assert(rows(k) == "m6", s"key $k: ${rows(k)}"))
    (30020L until 30050L).foreach(k => assert(rows(k) == "m0"))
    // No duplicated physical rows either.
    assert(SnapshotTable.read(spark, dir).count() == expectedIds.size.toLong)
    // And the manifest chain is contiguous from 0 to latest.
    val latest = SnapshotTable.latestVersion(spark, dir).get
    (0L to latest).foreach { v =>
      assert(SnapshotTable.manifestFiles(spark, dir, v) != null)
    }
  }

  for ((scheme, tag) <- SparkTestBase.Schemes)
  test("compact races a concurrent appender: every committed row survives" + tag) {
    // Real concurrency: one thread compacts while another appends.
    // Whatever interleave the scheduler picks, the final snapshot must
    // contain the union of all committed rows — the re-base path in
    // compact's commit loop is what carries a concurrently-appended
    // file forward instead of dropping it.
    val dir = tmp("graft-snap-r", scheme)
    (0 until 6).foreach { i =>
      SnapshotTable.append(
        spark.range(10L * i, 10L * i + 10).repartition(3).toDF(), dir)
    }
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val appender = Future {
      (0 until 3).map { i =>
        SnapshotTable.append(
          spark.range(1000L + 10 * i, 1010L + 10 * i).toDF(), dir)
      }
    }
    val compactor = Future { SnapshotTable.compact(spark, dir) }
    Await.result(appender, Duration.Inf)
    Await.result(compactor, Duration.Inf)
    val want = (0L until 60L).toSet ++ (1000L until 1030L).toSet
    assert(ids(SnapshotTable.read(spark, dir)) == want,
      "a committed append was lost across a racing compaction")
  }

  test("bloomCols reject non-string/integral key columns at append time") {
    // The bloom build hashes CAST(col AS STRING) while the probe
    // hashes value.toString — renderings that diverge for timestamps
    // (java.sql.Timestamp.toString appends '.0'), doubles, decimals.
    // A diverging pair would FALSE-NEGATIVE the probe and silently
    // skip files with matching rows, so ineligible types must refuse
    // loudly at build time.
    val dir = tempDir("graft-snap-bt") + "/t"
    val df = spark.range(0, 10).toDF()
      .withColumn("ts", current_timestamp())
      .withColumn("d", col("id").cast("double"))
    intercept[IllegalArgumentException] {
      SnapshotTable.append(df, dir + "1", bloomCols = Seq("ts"))
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.append(df, dir + "2", bloomCols = Seq("d"))
    }
    // String and integral keys stay accepted and probeable.
    val v = SnapshotTable.append(df.withColumn("s", concat(lit("k"), col("id"))),
      dir + "3", bloomCols = Seq("id", "s"))
    assert(v == 0L)
    assert(ids(SnapshotTable.readWhereEq(spark, dir + "3", "id", 7L)) == Set(7L))
    assert(SnapshotTable.readWhereEq(spark, dir + "3", "s", "k7").count() == 1L)
  }

  test("string stat pruning uses UTF-8 byte order (supplementary chars vs BMP-high)") {
    // Spark's min/max over strings is UTF8String binary order (code
    // POINTS); Java's String.compareTo is UTF-16 code UNITS. For a
    // file whose bounds are [FULLWIDTH A (U+FF21), 😀 (U+1F600)], a
    // code-unit probe of FULLWIDTH Z (U+FF5A) compares ABOVE the
    // surrogate-led max and would skip the file even though the row
    // is inside it. The fixed comparator must keep the file.
    val dir = tempDir("graft-snap-u8") + "/t"
    val rows = Seq("Ａ", "ｚ", new String(Character.toChars(0x1F600)))
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }
    SnapshotTable.append(rows.toDF("id", "v").coalesce(1), dir,
      statsCols = Seq("v"))
    val got = SnapshotTable.readWhereEq(spark, dir, "v", "ｚ")
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L),
      "UTF-16 code-unit stat compare pruned a file containing the row")
    // Range probe through the same bounds.
    assert(SnapshotTable.readWhere(spark, dir, "v", "Ａ", "ｚ")
      .count() == 2L)
  }

  test("concurrent merges inserting the same absent key: second commit fails loudly") {
    // Both mergers read a base where key 99 is absent → touched = []
    // for both → the vanished-file guard alone would let both commit
    // their insert and silently duplicate the key. Simulated
    // deterministically: merge A commits normally; merge B replays
    // A's race position via commitRewrite with B's pre-A base file
    // set and key-conflict guard — it must throw, not commit.
    val dir = tempDir("graft-snap-kc") + "/t"
    SnapshotTable.append(Seq((1L, "a")).toDF("id", "v"), dir)
    val baseFiles = SnapshotTable.manifestFiles(spark, dir, 0L).toSet
    // Merge A lands key 99.
    SnapshotTable.merge(spark, dir, Seq((99L, "A")).toDF("id", "v"), Seq("id"))
    // Merge B, which had read version 0 (key 99 absent, touched = []).
    val srcB = Seq((99L, "B")).toDF("id", "v")
    intercept[java.util.ConcurrentModificationException] {
      SnapshotTable.commitRewrite(spark, dir, Seq.empty, srcB,
        Nil, Nil, maxRetries = 5, op = "merge",
        keyConflict = Some((baseFiles, Seq("id"),
          srcB.select("id").distinct())))
    }
    // The table still holds exactly one row for key 99, at A's value.
    val got = SnapshotTable.read(spark, dir).filter(col("id") === 99L)
      .collect().map(_.getString(1)).toSeq
    assert(got == Seq("A"))
    // A non-conflicting key away from the race commits fine.
    val srcC = Seq((100L, "C")).toDF("id", "v")
    assert(SnapshotTable.commitRewrite(spark, dir, Seq.empty, srcC,
      Nil, Nil, maxRetries = 5, op = "merge",
      keyConflict = Some((baseFiles, Seq("id"),
        srcC.select("id").distinct()))).nonEmpty)
  }

  test("delta manifests: a commit writes O(batch) bytes, checkpoints every 10th") {
    // 25 single-file appends. v0/v10/v20 are full checkpoint-form
    // manifests (complete file list); every other commit is a DELTA
    // carrying only its own adds — so commit cost stays flat as the
    // table grows, the property that keeps 100 TB commit latency
    // bounded. Readers replay checkpoint+deltas transparently.
    val dir = tempDir("graft-snap-dm") + "/t"
    (0 until 25).foreach { i =>
      SnapshotTable.append(
        spark.range(10L * i, 10L * i + 10).coalesce(1).toDF(), dir,
        statsCols = Seq("id"))
    }
    def manifest(v: Long) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_manifests", s"v$v.json")), "UTF-8")
    // Checkpoint cadence.
    Seq(0L, 10L, 20L).foreach(v =>
      assert(manifest(v).contains("\"files\""), s"v$v must be full"))
    Seq(5L, 15L, 24L).foreach { v =>
      assert(!manifest(v).contains("\"files\""), s"v$v must be a delta")
      assert(manifest(v).contains("\"adds\""))
    }
    // O(batch): a late delta is no bigger than an early one (+slack),
    // while the checkpoint grows with the table — the asymmetry IS
    // the design.
    val d4 = manifest(4L).length; val d24 = manifest(24L).length
    assert(d24 <= d4 + 200,
      s"delta size grew with table size: v4=$d4 bytes, v24=$d24 bytes")
    assert(manifest(20L).length > 4 * d24,
      "checkpoint should dwarf a delta on a 20-file table")
    // Replay correctness: latest and mid-chain time travel both exact.
    assert(ids(SnapshotTable.read(spark, dir)) == (0L until 250L).toSet)
    assert(ids(SnapshotTable.read(spark, dir, Some(13L))) ==
      (0L until 140L).toSet)
    // Stats survived the delta chain: pruning still works.
    val (sel, total) = SnapshotTable.pruneFiles(spark, dir, "id", 55L, 55L)
    assert(total == 25 && sel.size == 1)
  }

  for ((scheme, tag) <- SparkTestBase.Schemes)
  test("vacuum across a delta chain: horizon checkpointed, window readable, below throws" + tag) {
    val dir = tmp("graft-snap-vd", scheme)
    (0 until 15).foreach { i =>
      SnapshotTable.append(
        spark.range(10L * i, 10L * i + 10).coalesce(1).toDF(), dir)
    }
    // keepVersions=3 keeps v12..v14 — v12 is a DELTA whose chain
    // roots at the v10 checkpoint, which vacuum is about to delete:
    // it must first rewrite v12 in self-contained checkpoint form.
    SnapshotTable.vacuum(spark, dir, keepVersions = 3, minAgeMs = 0L)
    val kept = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(SparkTestBase.localPath(dir), "_manifests",
        "v12.json")), "UTF-8")
    assert(kept.contains("\"files\""),
      "vacuum must checkpoint the oldest kept version before deleting its chain")
    assert(ids(SnapshotTable.read(spark, dir)) == (0L until 150L).toSet)
    assert(ids(SnapshotTable.read(spark, dir, Some(12L))) ==
      (0L until 130L).toSet)
    intercept[java.io.IOException] {
      SnapshotTable.read(spark, dir, Some(5L))
    }
  }

  test("bloom sidecars: clone carries refs, vacuum GCs orphans, probes survive both") {
    val src = tempDir("graft-snap-bs") + "/s"
    (0 until 3).foreach { i =>
      SnapshotTable.append(
        spark.range(0, 300).filter($"id" % 3 === i).coalesce(1).toDF(),
        src, statsCols = Seq("id"), bloomCols = Seq("id"))
    }
    // The bitsets live in _blooms/ sidecars, not the manifest.
    val latest = SnapshotTable.latestVersion(spark, src).get
    val mtext = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(src, "_manifests", s"v$latest.json")), "UTF-8")
    assert(mtext.contains("\"bloomrefs\"") && !mtext.contains("\"blooms\""))
    assert(java.nio.file.Files.list(
      java.nio.file.Paths.get(src, "_blooms")).iterator().asScala
      .count(_.getFileName.toString.endsWith(".json")) == 3)
    // A clone probes through the SOURCE's sidecars (absolute refs).
    val dst = tempDir("graft-snap-bs2") + "/c"
    SnapshotTable.shallowClone(spark, src, dst)
    val (sel, total) = SnapshotTable.pruneFilesEq(spark, dst, "id", 121L)
    assert(total == 3 && sel.size == 1,
      s"clone bloom probe must prune through source sidecars, got ${sel.size}")
    assert(ids(SnapshotTable.readWhereEq(spark, dst, "id", 121L)) == Set(121L))
    // Rewrite one file on the SOURCE, then vacuum: the superseded
    // batch's sidecar becomes orphaned once its manifests age out;
    // probes against the live snapshot keep working.
    SnapshotTable.deleteWhere(spark, src, $"id" === 121L)
    SnapshotTable.vacuum(spark, src, keepVersions = 1, minAgeMs = 0L)
    val (after, _) = SnapshotTable.pruneFilesEq(spark, src, "id", 122L)
    assert(after.size == 1)
    assert(ids(SnapshotTable.readWhereEq(spark, src, "id", 122L)) == Set(122L))
    val sidecars = java.nio.file.Files.list(
      java.nio.file.Paths.get(src, "_blooms")).iterator().asScala
      .count(_.getFileName.toString.endsWith(".json"))
    assert(sidecars == 3, // 2 surviving originals + the rewrite's
      s"orphan sidecar should be GC'd, found $sidecars")
  }

  test("updateWhere: CoW semantics, pre-update RHS, touched-files-only, typo rejection") {
    val dir = tempDir("graft-snap-up") + "/t"
    // Two files on disjoint key ranges; the update hits only file 1.
    SnapshotTable.append(
      (0L until 10L).map(i => (i, i * 10, "x")).toDF("id", "a", "tag")
        .coalesce(1), dir, statsCols = Seq("id"))
    SnapshotTable.append(
      (10L until 20L).map(i => (i, i * 10, "x")).toDF("id", "a", "tag")
        .coalesce(1), dir, statsCols = Seq("id"))
    val before = SnapshotTable.manifestFiles(spark, dir, 1L).toSet
    // SET expressions see the PRE-update row: swap-style update where
    // `a` is set from `id` and `tag` is set from the OLD `a` — if SETs
    // leaked into each other the tag would read the new a.
    val v = SnapshotTable.updateWhere(spark, dir,
      $"id" >= 5L && $"id" < 8L,
      Seq("a" -> ($"id" + 1000L), "tag" -> concat(lit("was"), $"a")))
    assert(v.contains(2L))
    val after = SnapshotTable.manifestFiles(spark, dir, 2L).toSet
    // Only the touched file swapped; the untouched file carried over.
    assert((before -- after).size == 1 && (after -- before).size == 1)
    val got = SnapshotTable.read(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2)))
      .toMap
    (0L until 20L).foreach { i =>
      if (i >= 5L && i < 8L)
        assert(got(i) == (i + 1000L, s"was${i * 10}"), s"id $i: ${got(i)}")
      else assert(got(i) == (i * 10, "x"), s"id $i: ${got(i)}")
    }
    // Time travel still shows the pre-update rows.
    assert(SnapshotTable.read(spark, dir, Some(1L))
      .filter($"id" === 5L).head().getLong(1) == 50L)
    // No match → no commit; typo'd SET column → loud failure.
    assert(SnapshotTable.updateWhere(spark, dir, $"id" === 999L,
      Seq("a" -> lit(0L))).isEmpty)
    intercept[IllegalArgumentException] {
      SnapshotTable.updateWhere(spark, dir, $"id" === 1L,
        Seq("nope" -> lit(0L)))
    }
  }

  test("manifest records per-file sizes: planners need zero filesystem RPCs") {
    val dir = tempDir("graft-snap-sz") + "/t"
    (0 until 3).foreach { i =>
      SnapshotTable.append(
        spark.range(100L * i, 100L * i + 100).coalesce(1).toDF(), dir)
    }
    SnapshotTable.deleteWhere(spark, dir, $"id" === 50L)
    val v = SnapshotTable.latestVersion(spark, dir).get
    val files = SnapshotTable.manifestFiles(spark, dir, v)
    val sizes = SnapshotTable.manifestSizes(spark, dir, v)
    assert(sizes.keySet == files.toSet,
      "every live file (original and rewritten) must carry a size")
    files.foreach { k =>
      val actual = java.nio.file.Files.size(
        java.nio.file.Paths.get(dir, k))
      assert(sizes(k) == actual, s"$k: manifest ${sizes(k)} != disk $actual")
    }
    // Sizes survive the delta-chain replay AND a clone (absolutized).
    val dst = tempDir("graft-snap-szc") + "/c"
    SnapshotTable.shallowClone(spark, dir, dst)
    assert(SnapshotTable.manifestSizes(spark, dst, 0L).values.toSeq.sorted ==
      sizes.values.toSeq.sorted)
  }

  test("a table rebuilt at the same path is never served from the state cache") {
    val dir = tempDir("graft-snap-rb") + "/t"
    SnapshotTable.append(spark.range(0, 5).toDF(), dir)
    assert(ids(SnapshotTable.read(spark, dir)) == (0L until 5L).toSet)
    // Drop the WHOLE table directory and recreate a different table at
    // the same path — the cache key's manifest-file fingerprint
    // (mtime, length) must make the old v0 state unreachable.
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(f.delete(new org.apache.hadoop.fs.Path(dir), true))
    SnapshotTable.append(
      Seq((100L, "rebuilt"), (200L, "table")).toDF("id", "name"), dir)
    val re = SnapshotTable.read(spark, dir)
    assert(re.columns.toSet == Set("id", "name"))
    assert(ids(re) == Set(100L, 200L))
  }

  test("rewrite paths drop an ineligible bloom column instead of wedging") {
    val dir = tempDir("graft-snap-lb") + "/t"
    SnapshotTable.append(
      Seq((1L, 1.5), (2L, 2.5), (3L, 3.5)).toDF("id", "d"), dir,
      statsCols = Seq("id"))
    val base = SnapshotTable.latestVersion(spark, dir).get
    val touched = SnapshotTable.manifestFiles(spark, dir, base)
    val rewrite = SnapshotTable.read(spark, dir).filter($"id" =!= 2L)
    // The rewrite path takes its Bloom columns unchecked (they are the
    // table's recorded tracking), so it may be handed one the
    // eligibility rules reject (here: double). It must complete
    // (dropping the bitsets), not throw the append-time require.
    val v = SnapshotTable.commitRewrite(spark, dir, touched, rewrite,
      statsCols = Seq("id"), bloomCols = Seq("d"), maxRetries = 20,
      op = "ineligibleRewrite")
    assert(v.nonEmpty)
    assert(ids(SnapshotTable.read(spark, dir)) == Set(1L, 3L))
    // And compact() of the table now tracking "d" completes too.
    SnapshotTable.append(
      Seq((4L, 4.5), (5L, 5.5)).toDF("id", "d"), dir, statsCols = Seq("id"))
    SnapshotTable.compact(spark, dir, clusterBy = Seq("id"))
    assert(ids(SnapshotTable.read(spark, dir)) == Set(1L, 3L, 4L, 5L))
  }

  test("applyChanges rejects NULL _change tags instead of dropping the rows") {
    val dir = tempDir("graft-snap-nc") + "/t"
    SnapshotTable.append(Seq((1L, "a")).toDF("id", "v"), dir)
    val changes = Seq((2L, "b", "insert"), (3L, "c", null))
      .toDF("id", "v", "_change")
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.applyChanges(spark, dir, changes, Seq("id"))
    }
    assert(e.getMessage.contains("unknown _change tag"))
  }

  test("initial defaults serve on stream, CDF, clone, changeFeed; compact drains them") {
    val dir = tempDir("graft-defs") + "/t"
    SnapshotTable.append((0L until 8L).map(i => (i, s"v$i"))
      .toDF("id", "v").coalesce(2), dir)                        // v0
    SnapshotTable.addColumn(spark, dir, "score",
      org.apache.spark.sql.types.LongType, default = Some(42L)) // v1
    SnapshotTable.append(Seq((100L, "x", 5L)).toDF("id", "v", "score"),
      dir)                                                      // v2
    def scores(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(r.fieldIndex("score"))) -1L
         else r.getLong(r.fieldIndex("score")))).toMap
    val expect = (0L until 8L).map(_ -> 42L).toMap + (100L -> 5L)
    // batch API + changeFeed from scratch
    assert(scores(SnapshotTable.read(spark, dir)) == expect)
    assert(scores(SnapshotTable.changeFeed(spark, dir, 0L, 2L)
      .filter(col("_change") === "insert").drop("_change")) ==
      Map(100L -> 5L))
    // shallow clone serves the SOURCE's defaults (absolutized keys)
    val cl = tempDir("graft-defs-cl") + "/t"
    SnapshotTable.shallowClone(spark, dir, cl)
    assert(scores(SnapshotTable.read(spark, cl)) == expect)
    // streaming source: the snapshot batch serves defaults
    val got = scala.collection.mutable.Map[Long, Long]()
    val q = spark.readStream.format("graft").load(dir)
      .writeStream
      .option("checkpointLocation",
        tempDir("graft-defs-ck"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= scores(b); ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000); q.stop()
    assert(got.toMap == expect, s"stream served ${got.toMap}")
    // CDF source: initial-snapshot slices serve defaults too
    val gotCdf = scala.collection.mutable.Map[Long, Long]()
    val q2 = spark.readStream.format("graft")
      .option("readChangeFeed", "true")
      .load(dir)
      .writeStream
      .option("checkpointLocation",
        tempDir("graft-defs-ck2"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        gotCdf ++= scores(b.filter(col("_change") === "insert")
          .drop("_change", "_commit_version")); ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination(120000); q2.stop()
    assert(gotCdf.toMap == expect, s"CDF served ${gotCdf.toMap}")
    // compact materializes: values persist, the defaults map drains
    SnapshotTable.compact(spark, dir, clusterBy = Seq("id"))
    val head = SnapshotTable.latestVersion(spark, dir).get
    assert(SnapshotTable.snapshot(spark, dir, head).defaults.isEmpty,
      "all pre-ADD files rewritten — the entry must retire")
    assert(scores(SnapshotTable.read(spark, dir)) == expect)
  }

  test("timestamp stat columns get FOOTER stats: no post-write summary scan, pruning equivalent") {
    val dir = tempDir("graft-snap-ts") + "/t"
    // Count write-batch:summaries jobs — the scan-based fallback that
    // TIMESTAMP_MICROS internal writes are supposed to delete (INT96
    // carries no usable footer statistics; MICROS does).
    val summaryJobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        if (d.contains("write-batch:summaries")) summaryJobs.incrementAndGet()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val df = spark.range(0, 1000).select(col("id"),
        expr("timestamp_micros(id * 1000000)").as("ts"))
      SnapshotTable.append(df.filter(col("id") < 500).coalesce(1), dir,
        statsCols = Seq("ts"))
      SnapshotTable.append(df.filter(col("id") >= 500).coalesce(1), dir,
        statsCols = Seq("ts"))
      Thread.sleep(300) // listener events drain asynchronously
      assert(summaryJobs.get == 0,
        s"timestamp statsCols must summarize from footers alone, " +
          s"ran ${summaryJobs.get} scan job(s)")
      val v = SnapshotTable.latestVersion(spark, dir).get
      val stats = SnapshotTable.snapshot(spark, dir, v).stats
      assert(stats.size == 2 &&
        stats.values.forall(_.get("ts").exists(_.tag == "ts")),
        s"every file must carry a ts-domain stat: $stats")
      // Pruning equivalence: a range inside the first file's span
      // skips the second file and returns exactly the full filter's
      // rows (micros domain end to end).
      val lo = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(100))
      val hi = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(200))
      val (kept, total) = SnapshotTable.pruneFiles(spark, dir, "ts", lo, hi)
      assert(total == 2 && kept.size == 1,
        s"footer ts stats must prune the out-of-range file: $kept of $total")
      val got = SnapshotTable.readWhere(spark, dir, "ts", lo, hi)
        .filter(col("ts") >= lit(lo) && col("ts") <= lit(hi))
        .select("id").collect().map(_.getLong(0)).toSet
      assert(got == (100L to 200L).toSet)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("probe scopes adaptive-off to its own thread; the session conf is never mutated") {
    val k = "spark.sql.adaptive.enabled"
    val before = spark.conf.get(k)
    assert(before == "true",
      s"shared test session must start with AQE on (leaked conf? $k=$before)")
    // A shuffling frame a probe runs plans with no AdaptiveSparkPlan
    // wrapper...
    val inProbe = SnapshotTable.probe(
        spark.range(0, 100).groupBy(pmod(col("id"), lit(7))).count(),
        "spec-aqe-probe")(_.queryExecution.executedPlan.toString)
    assert(!inProbe.contains("AdaptiveSparkPlan"),
      s"probe body must plan with AQE off:\n$inProbe")
    // ...and the SAME thread plans adaptively again right after.
    val outside = spark.range(0, 100).groupBy(pmod(col("id"), lit(7))).count()
      .queryExecution.executedPlan.toString
    assert(outside.contains("AdaptiveSparkPlan"),
      s"AQE must be back outside the probe:\n$outside")
    // Concurrent probes never write the shared session's conf (a
    // leaked override once turned AQE off for every later query in
    // the JVM): barrage them and re-check.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val futs = (1 to 64).map { i =>
      Future {
        SnapshotTable.probe(spark.range(1).toDF(), s"spec-aqe-probe-$i") { _ =>
          Thread.sleep(1) }
      }
    }
    try Await.result(Future.sequence(futs), Duration.Inf)
    finally pool.shutdown()
    assert(spark.conf.get(k) == before,
      "probe leaked an adaptive.enabled override onto the session conf")
  }
}
