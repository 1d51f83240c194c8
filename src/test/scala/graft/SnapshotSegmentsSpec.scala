package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.{SnapshotSql, SnapshotTable}

/** Segmented checkpoints — the O(batch) commit-cost contract at
  * scale: a checkpoint above [[SnapshotTable.SegmentInlineMax]] files
  * references immutable SEGMENT files; segments of the previous
  * checkpoint whose files all survive are referenced byte-for-byte
  * AS-IS (zero rewrite), so a commit writes O(batch + churn) manifest
  * bytes, never O(table). Small tables stay in the inline form
  * (every other suite pins that path). */
class SnapshotSegmentsSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def tmp(tag: String): String =
    tempDir(s"graft-seg-$tag") + "/t"

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def manifestJson(dir: String, v: Long) =
    mapper.readTree(Files.readString(
      java.nio.file.Paths.get(s"$dir/_manifests/v$v.json")))

  private def segmentsOf(dir: String, v: Long): Seq[String] = {
    val n = manifestJson(dir, v).get("segments")
    if (n == null) Nil else (0 until n.size).map(n.get(_).asText)
  }

  private def segmentFiles(dir: String, name: String): Seq[String] = {
    val n = mapper.readTree(Files.readString(
      java.nio.file.Paths.get(s"$dir/_manifests/$name"))).get("files")
    (0 until n.size).map(n.get(_).asText)
  }

  test("segmented lifecycle: O(batch) checkpoints, segment reuse, removal/DV rewrites, vacuum GC") {
    val dir = tmp("life")
    // v0: one append laid out as 300 range-disjoint files — above the
    // inline threshold, so the v0 checkpoint writes segmented form.
    SnapshotTable.append(
      spark.range(0, 30000).toDF("id")
        .withColumn("grp", pmod($"id", lit(7)))
        .repartitionByRange(300, $"id"),
      dir, statsCols = Seq("id"))
    val segs0 = segmentsOf(dir, 0L)
    assert(segs0.length == 1, "v0: all 300 files land in one fresh segment")
    assert(manifestJson(dir, 0L).get("files") == null)
    assert(segmentFiles(dir, segs0.head).length == 300)
    // the segmented snapshot reads, prunes, and serves SQL identically
    assert(SnapshotTable.read(spark, dir).count() == 30000)
    val (pruned, total) =
      SnapshotTable.pruneFilesBounds(spark, dir, "id",
        Some(100L), Some(120L), Some(0L))
    assert(total == 300 && pruned.length < 10,
      s"stats pruning through segments: ${pruned.length}/$total")
    SnapshotSql.register(spark, "seg_view", dir)
    assert(spark.sql("SELECT count(*) AS n FROM seg_view WHERE id < 5000")
      .head.getLong(0) == 5000L)

    // v1..v10: ten single-file appends; the v10 checkpoint must REUSE
    // the v0 segment untouched and add exactly one O(batch) segment.
    (0 until 10).foreach { i =>
      SnapshotTable.append(
        spark.range(30000 + i * 10, 30010 + i * 10).toDF("id")
          .withColumn("grp", pmod($"id", lit(7))).coalesce(1),
        dir, statsCols = Seq("id"))
    }
    val segs10 = segmentsOf(dir, 10L)
    assert(segs10.contains(segs0.head),
      "v10 references the v0 segment byte-for-byte")
    val fresh10 = segs10.filterNot(segs0.contains)
    assert(fresh10.length == 1 &&
      segmentFiles(dir, fresh10.head).length == 10,
      "the new segment holds exactly the 10 files committed since v0")
    assert(SnapshotTable.read(spark, dir).count() == 30100)

    // A copy-on-write DELETE confined to the small appends' id range
    // breaks only the NEW segment at the next checkpoint; the big v0
    // segment is still referenced as-is.
    SnapshotTable.deleteWhere(spark, dir, $"id" >= 30000L && $"id" < 30020L)
    (0 until 9).foreach { i =>
      SnapshotTable.append(
        spark.range(40000 + i * 10, 40010 + i * 10).toDF("id")
          .withColumn("grp", pmod($"id", lit(7))).coalesce(1),
        dir, statsCols = Seq("id"))
    }
    val v = SnapshotTable.latestVersion(spark, dir).get
    assert(v == 20L)
    val segs20 = segmentsOf(dir, 20L)
    assert(segs20.contains(segs0.head),
      "untouched big segment survives a delete elsewhere")
    assert(!segs20.contains(fresh10.head),
      "the segment whose files were rewritten is re-cut")
    assert(SnapshotTable.read(spark, dir).count() == 30100 - 20 + 90)

    // A merge-on-read delete DIRTIES its file's segment (the recorded
    // dv ref is stale) — the next checkpoint re-cuts the big segment.
    SnapshotTable.deleteWhereMor(spark, dir, $"id" === 5L)
    (0 until 9).foreach { i =>
      SnapshotTable.append(
        spark.range(50000 + i * 10, 50010 + i * 10).toDF("id")
          .withColumn("grp", pmod($"id", lit(7))).coalesce(1),
        dir, statsCols = Seq("id"))
    }
    val segs30 = segmentsOf(dir, 30L)
    assert(!segs30.contains(segs0.head),
      "a DV-advanced file invalidates its segment at the next checkpoint")
    assert(SnapshotTable.read(spark, dir).count() == 30100 - 20 + 90 + 90 - 1)
    assert(SnapshotTable.read(spark, dir).filter($"id" === 5L).isEmpty,
      "the MoR-masked row stays dead through the re-cut segment")

    // Time travel across segmented checkpoints still works…
    assert(SnapshotTable.read(spark, dir, Some(10L)).count() == 30100)

    // …and vacuum keeps referenced segments, GCs superseded ones, and
    // leaves the table fully readable.
    val before = new java.io.File(s"$dir/_manifests").listFiles()
      .count(f => f.getName.startsWith("seg-"))
    SnapshotTable.vacuum(spark, dir, keepVersions = 2, minAgeMs = 0L)
    val after = new java.io.File(s"$dir/_manifests").listFiles()
      .count(f => f.getName.startsWith("seg-"))
    assert(after < before, s"superseded segments GC'd ($before -> $after)")
    val kept = (29L to 30L).flatMap(segmentsOf(dir, _)).toSet
    val onDisk = new java.io.File(s"$dir/_manifests").listFiles()
      .map(_.getName).filter(_.startsWith("seg-")).toSet
    assert(kept.subsetOf(onDisk), "every referenced segment survives")
    assert(SnapshotTable.read(spark, dir).count() == 30100 - 20 + 90 + 90 - 1)
    intercept[java.io.IOException] {
      SnapshotTable.read(spark, dir, Some(10L)).count()
    }
  }

  test("segmented checkpoint commit is O(batch): manifest bytes stay flat as the table grows") {
    val dir = tmp("obatch")
    SnapshotTable.append(
      spark.range(0, 30000).toDF("id").repartitionByRange(300, $"id"),
      dir, statsCols = Seq("id"))
    def bytesOf(name: String): Long =
      new java.io.File(s"$dir/_manifests/$name").length()
    val v0New = segmentsOf(dir, 0L).map(bytesOf).sum +
      bytesOf("v0.json")
    (0 until 10).foreach { i =>
      SnapshotTable.append(spark.range(90000 + i, 90001 + i).toDF("id")
        .coalesce(1), dir, statsCols = Seq("id"))
    }
    // bytes NEWLY written by the v10 checkpoint commit = its manifest
    // + only its fresh segment (reused segments cost zero)
    val fresh = segmentsOf(dir, 10L).filterNot(segmentsOf(dir, 0L).contains)
    val v10New = bytesOf("v10.json") + fresh.map(bytesOf).sum
    assert(v10New * 10 < v0New,
      s"checkpoint write is O(batch): v10 wrote $v10New b vs v0's $v0New b")
  }
}
