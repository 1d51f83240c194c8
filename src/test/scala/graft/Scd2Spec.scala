package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Scd2
import graft.sources.SnapshotTable

/** Type-2 dimension maintenance: interval lifecycle through
  * insert/update/delete/re-birth, exactly-once replay, point-in-time
  * reconstruction, and the only-affected-files rewrite discipline. */
class Scd2Spec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def tmp(tag: String): String =
    tempDir(s"graft-scd2-$tag") + "/t"

  private def intervals(dim: String): Set[(Long, String, Long, Option[Long])] =
    SnapshotTable.read(spark, dim).collect().map(r =>
      (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet

  test("interval lifecycle: bootstrap, update, delete, re-birth; as-of reconstructs") {
    val src = tmp("src"); val dim = tmp("dim")
    SnapshotTable.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), src) // v0
    assert(Scd2.maintain(spark, src, dim, Seq("id"), "scd").nonEmpty)
    assert(intervals(dim) == Set(
      (1L, "a", 0L, None), (2L, "b", 0L, None)))
    // update key 1, insert key 3                                       v1
    SnapshotTable.merge(spark, src,
      Seq((1L, "a2"), (3L, "c")).toDF("id", "v"), Seq("id"))
    assert(Scd2.maintain(spark, src, dim, Seq("id"), "scd").nonEmpty)
    assert(intervals(dim) == Set(
      (1L, "a", 0L, Some(1L)), (1L, "a2", 1L, None),
      (2L, "b", 0L, None), (3L, "c", 1L, None)))
    // delete key 2                                                     v2
    SnapshotTable.deleteWhere(spark, src, $"id" === 2L)
    assert(Scd2.maintain(spark, src, dim, Seq("id"), "scd").nonEmpty)
    assert(intervals(dim).contains((2L, "b", 0L, Some(2L))))
    // re-birth of key 2 with a new value                               v3
    SnapshotTable.append(Seq((2L, "b2")).toDF("id", "v"), src)
    assert(Scd2.maintain(spark, src, dim, Seq("id"), "scd").nonEmpty)
    assert(intervals(dim) == Set(
      (1L, "a", 0L, Some(1L)), (1L, "a2", 1L, None),
      (2L, "b", 0L, Some(2L)), (2L, "b2", 3L, None),
      (3L, "c", 1L, None)))
    // replayed maintain: manifest no-op, nothing moves
    val head = SnapshotTable.latestVersion(spark, dim)
    assert(Scd2.maintain(spark, src, dim, Seq("id"), "scd").isEmpty)
    assert(SnapshotTable.latestVersion(spark, dim) == head)
    // point-in-time: as-of each source version == the source then
    (0L to 3L).foreach { v =>
      val got = Scd2.asOf(spark, dim, v).orderBy("id").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      val want = SnapshotTable.read(spark, src, Some(v)).orderBy("id")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(got == want, s"as-of v$v")
    }
    // current == source head
    assert(Scd2.current(spark, dim).orderBy("id").collect()
      .map(_.getString(1)).toSeq == Seq("a2", "b2", "c"))
  }

  test("only files holding affected keys' open rows are rewritten") {
    val src = tmp("src2"); val dim = tmp("dim2")
    SnapshotTable.append((0L until 40L).map(i => (i, s"v$i"))
      .toDF("id", "v"), src)
    Scd2.maintain(spark, src, dim, Seq("id"), "scd2")
    // split the dimension into two files by key range
    SnapshotTable.compact(spark, dim, clusterBy = Seq("id"))
    SnapshotTable.append((100L until 140L).map(i => (i, s"v$i"))
      .toDF("id", "v").coalesce(1), src)
    // a fresh-key batch: NO dimension file holds an affected open row
    val before = SnapshotTable.manifestFiles(spark, dim,
      SnapshotTable.latestVersion(spark, dim).get).toSet
    Scd2.maintain(spark, src, dim, Seq("id"), "scd2")
    val after = SnapshotTable.manifestFiles(spark, dim,
      SnapshotTable.latestVersion(spark, dim).get).toSet
    assert(before.subsetOf(after), "insert-only maintain rewrote history")
    assert(Scd2.current(spark, dim).count() == 80)
  }

  test("continuous maintenance: commits stream into intervals, replays no-op") {
    val src = tmp("src4"); val dim = tmp("dim4")
    SnapshotTable.append(Seq((1L, "a")).toDF("id", "v"), src)
    Scd2.maintain(spark, src, dim, Seq("id"), "scd4") // bootstrap
    val ckpt = tempDir("graft-scd2-ck")
    val q = Scd2.startContinuous(spark, src, dim, Seq("id"), "scd4", ckpt)
    try {
      SnapshotTable.merge(spark, src, Seq((1L, "a2"), (2L, "b"))
        .toDF("id", "v"), Seq("id"))
      q.processAllAvailable()
      SnapshotTable.deleteWhere(spark, src, $"id" === 2L)
      q.processAllAvailable()
    } finally q.stop()
    assert(intervals(dim) == Set(
      (1L, "a", 0L, Some(1L)), (1L, "a2", 1L, None),
      (2L, "b", 1L, Some(2L))))
    // a concurrent/replayed manual maintain is a no-op
    assert(Scd2.maintain(spark, src, dim, Seq("id"), "scd4").isEmpty)
  }

  test("continuous restart mid-stream: replayed micro-batch is a manifest no-op; dimension equals the batch-maintained twin") {
    val src = tmp("src7"); val dim = tmp("dim7"); val twin = tmp("twin7")
    SnapshotTable.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), src) // v0
    Scd2.maintain(spark, src, dim, Seq("id"), "scd7")
    Scd2.maintain(spark, src, twin, Seq("id"), "scd7t")
    val ckpt = tempDir("graft-scd2-ck7")
    val q = Scd2.startContinuous(spark, src, dim, Seq("id"), "scd7", ckpt)
    try {
      SnapshotTable.merge(spark, src, Seq((1L, "a2")).toDF("id", "v"),
        Seq("id"))                                                   // v1
      q.processAllAvailable()
    } finally q.stop()
    Scd2.maintain(spark, src, twin, Seq("id"), "scd7t")
    // CRASH SIMULATION: drop the newest commit marker so the restart
    // REPLAYS the already-applied micro-batch — the replayed maintain
    // must be a ledger no-op (no new dimension version)
    val commits = new java.io.File(ckpt, "commits").listFiles()
      .filter(_.getName.forall(_.isDigit))
    val last = commits.maxBy(_.getName.toLong)
    assert(last.delete(), "failed to remove the commit marker")
    // the local FS keeps a checksum sibling; a stale one makes the
    // replay's rename-based re-commit look like a concurrent writer
    new java.io.File(ckpt + "/commits", s".${last.getName}.crc").delete()
    val headBefore = SnapshotTable.latestVersion(spark, dim)
    val q2 = Scd2.startContinuous(spark, src, dim, Seq("id"), "scd7", ckpt)
    try {
      q2.processAllAvailable() // replays the dropped batch: no-op
      assert(SnapshotTable.latestVersion(spark, dim) == headBefore,
        "replayed micro-batch advanced the dimension")
      // and the stream keeps working after the replay
      SnapshotTable.deleteWhere(spark, src, $"id" === 2L)            // v2
      q2.processAllAvailable()
    } finally q2.stop()
    Scd2.maintain(spark, src, twin, Seq("id"), "scd7t")
    assert(intervals(dim) == intervals(twin),
      "continuous dimension diverged from the batch-maintained twin")
    assert(intervals(dim) == Set(
      (1L, "a", 0L, Some(1L)), (1L, "a2", 1L, None),
      (2L, "b", 0L, Some(2L))))
  }

  test("maintain survives source schema evolution (ADD COLUMN)") {
    val src = tmp("src5"); val dim = tmp("dim5")
    SnapshotTable.append(Seq((1L, "a")).toDF("id", "v"), src)
    Scd2.maintain(spark, src, dim, Seq("id"), "scd5")
    SnapshotTable.addColumn(spark, src, "note",
      org.apache.spark.sql.types.StringType)              // v1
    SnapshotTable.merge(spark, src,
      Seq((1L, "a2", "n1")).toDF("id", "v", "note"), Seq("id")) // v2
    assert(Scd2.maintain(spark, src, dim, Seq("id"), "scd5").nonEmpty)
    val got = SnapshotTable.read(spark, dim).orderBy(Scd2.ValidFrom)
      .collect().map(r => (r.getString(1),
        if (r.isNullAt(r.fieldIndex("note"))) None
        else Some(r.getString(r.fieldIndex("note"))))).toSeq
    // old interval NULL-backfills the evolved column; new one carries it
    assert(got == Seq(("a", None), ("a2", Some("n1"))))
  }

  test("incremental maintain file-prunes the dimension lookup on a key-clustered dimension") {
    val src = tmp("src6"); val dim = tmp("dim6")
    SnapshotTable.append((0L until 800L).map(i => (i, s"v$i"))
      .toDF("id", "v").repartition(4), src)
    Scd2.maintain(spark, src, dim, Seq("id"), "scd6")
    // key-cluster the dimension into many small files with sharp id stats
    SnapshotTable.compact(spark, dim, targetBytes = 2048,
      clusterBy = Seq("id"))
    val dimV = SnapshotTable.latestVersion(spark, dim).get
    val total = SnapshotTable.manifestFiles(spark, dim, dimV).length
    assert(total >= 4, s"fixture should be multi-file, got $total")
    // change TWO keys at the corpus's ends
    SnapshotTable.merge(spark, src,
      Seq((5L, "x5"), (700L, "x700")).toDF("id", "v"), Seq("id"))
    // the probe the maintain routes through: candidates ≪ total files
    val keyRows = Seq(org.apache.spark.sql.Row(5L),
      org.apache.spark.sql.Row(700L))
    val cand = SnapshotTable.pruneFilesForKeys(spark, dim, dimV,
      Seq("id"), keyRows)
    assert(cand.length <= 2 && cand.length < total,
      s"expected ≤2 of $total candidate files, got ${cand.length}")
    // the pruned read's SCAN opens only the candidates — file-open
    // count pinned off the executed plan, and rows match the
    // unpruned semi-join exactly
    val pruned = SnapshotTable.readWhereKeySet(spark, dim, Seq("id"),
      keyRows, Some(dimV))
    // AQE hides the real tree behind AdaptiveSparkPlanExec — collect
    // through it (and through query-stage wrappers)
    def scansOf(p: org.apache.spark.sql.execution.SparkPlan): Seq[Int] =
      p.collect {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scansOf(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scansOf(q.plan)
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          Seq(f.relation.location.inputFiles.length)
      }.flatten
    val scanned = scansOf(pruned.queryExecution.executedPlan).sum
    assert(scanned == cand.length, s"scan opened $scanned files")
    val full = SnapshotTable.read(spark, dim, Some(dimV))
      .join(Seq(5L, 700L).toDF("id"), Seq("id"), "left_semi")
    assert(pruned.collect().toSet == full.collect().toSet)
    // and the maintain itself stays correct through the pruned path
    assert(Scd2.maintain(spark, src, dim, Seq("id"), "scd6").nonEmpty)
    assert(Scd2.current(spark, dim).filter($"id".isin(5L, 700L))
      .collect().map(_.getString(1)).toSet == Set("x5", "x700"))
    assert(intervals(dim).count(_._4.nonEmpty) == 2) // exactly 2 closed
  }

  test("range-collapsed: two source commits between maintains net to one interval") {
    val src = tmp("src3"); val dim = tmp("dim3")
    SnapshotTable.append(Seq((1L, "a")).toDF("id", "v"), src)     // v0
    Scd2.maintain(spark, src, dim, Seq("id"), "scd3")
    SnapshotTable.merge(spark, src, Seq((1L, "mid")).toDF("id", "v"),
      Seq("id"))                                                  // v1
    SnapshotTable.merge(spark, src, Seq((1L, "end")).toDF("id", "v"),
      Seq("id"))                                                  // v2
    Scd2.maintain(spark, src, dim, Seq("id"), "scd3")
    // the intermediate value never materializes an interval
    assert(intervals(dim) == Set(
      (1L, "a", 0L, Some(2L)), (1L, "end", 2L, None)))
  }
}
