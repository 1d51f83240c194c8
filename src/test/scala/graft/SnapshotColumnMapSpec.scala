package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.{SnapshotSql, SnapshotTable}

/** Column mapping (metadata-only RENAME/DROP COLUMN, the public Delta
  * column-mapping design): data files keep stable physical names; one
  * manifest commit moves the logical name. Every read surface must
  * serve logical names; pruning must keep working (stats/Bloom keys
  * are physical); dropped columns must never resurrect; time travel,
  * restore, clone, vacuum and the change feed must resolve each
  * version under the right mapping. */
class SnapshotColumnMapSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def tmp(tag: String): String =
    tempDir(s"graft-colmap-$tag") + "/t"

  private def rows(df: org.apache.spark.sql.DataFrame,
                   idCol: String, vCol: String): Set[(Long, String)] =
    df.select(col(idCol), col(vCol)).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

  private def mkTable(dir: String): Unit = {
    SnapshotTable.append(
      (0L until 50L).map(i => (i, s"v$i", i * 10)).toDF("id", "name", "score"),
      dir, statsCols = Seq("id"), bloomCols = Seq("name"))
    SnapshotTable.append(
      (50L until 100L).map(i => (i, s"v$i", i * 10))
        .toDF("id", "name", "score"),
      dir, statsCols = Seq("id"), bloomCols = Seq("name"))
  }

  test("renameColumn is metadata-only: same files, new name everywhere, " +
      "pruning intact, time travel serves old names") {
    val dir = tmp("rename")
    mkTable(dir)
    val filesBefore = SnapshotTable.manifestFiles(spark, dir, 1L)
    val v = SnapshotTable.renameColumn(spark, dir, "id", "doc_id")
    assert(v == 2L)
    // zero data movement
    assert(SnapshotTable.manifestFiles(spark, dir, v) == filesBefore)
    assert(SnapshotTable.snapshot(spark, dir, v).colMap ==
      Map("doc_id" -> "id"))
    // every read surface serves the logical name
    val df = SnapshotTable.read(spark, dir)
    assert(df.columns.toSeq == Seq("doc_id", "name", "score"))
    assert(rows(df, "doc_id", "name") ==
      (0L until 100L).map(i => (i, s"v$i")).toSet)
    // stats pruning through the RENAMED column still opens a strict
    // subset of files (two appends gave disjoint id ranges)
    val (sel, total) = SnapshotTable.pruneFiles(spark, dir, "doc_id", 0L, 10L)
    assert(sel.nonEmpty && sel.size < total)
    assert(SnapshotTable.readWhere(spark, dir, "doc_id", 0L, 10L).count() == 11)
    // Bloom point lookup on an untouched column keeps working
    assert(SnapshotTable.readWhereEq(spark, dir, "name", "v7").count() == 1)
    // time travel: pre-rename version serves pre-rename names
    assert(SnapshotTable.read(spark, dir, Some(1L)).columns.toSeq ==
      Seq("id", "name", "score"))
    // appends after the rename land under the stable physical name
    SnapshotTable.append(
      Seq((100L, "v100", 1000L)).toDF("doc_id", "name", "score"), dir)
    assert(SnapshotTable.read(spark, dir).count() == 101)
    assert(SnapshotTable.readWhereEq(spark, dir, "doc_id", 100L)
      .select("name").head().getString(0) == "v100")
  }

  test("swapped renames resolve exactly (the sparse-map stress case)") {
    val dir = tmp("swap")
    SnapshotTable.append(
      Seq((1L, 2L), (3L, 4L)).toDF("a", "b"), dir, statsCols = Seq("a", "b"))
    // a -> tmp, b -> a, tmp -> b: logical a and b SWAP
    SnapshotTable.renameColumn(spark, dir, "a", "tmp")
    SnapshotTable.renameColumn(spark, dir, "b", "a")
    SnapshotTable.renameColumn(spark, dir, "tmp", "b")
    val got = SnapshotTable.read(spark, dir).select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((2L, 1L), (4L, 3L))) // a now serves old b's values
    // pruning on logical "a" must consult old-b's physical stats:
    // value 2 exists in (new) a, value 1 does not
    assert(SnapshotTable.readWhere(spark, dir, "a", 2L, 2L).count() == 1)
    assert(SnapshotTable.readWhere(spark, dir, "a", 1L, 1L).count() == 0)
  }

  test("dropColumn hides the data; a re-added column is fresh and " +
      "never resurrects old bytes") {
    val dir = tmp("drop")
    mkTable(dir)
    val filesBefore = SnapshotTable.manifestFiles(spark, dir, 1L)
    val v = SnapshotTable.dropColumn(spark, dir, "score")
    assert(SnapshotTable.manifestFiles(spark, dir, v) == filesBefore)
    assert(SnapshotTable.snapshot(spark, dir, v).retired == Seq("score"))
    assert(SnapshotTable.read(spark, dir).columns.toSeq == Seq("id", "name"))
    // time travel pre-drop still serves the column
    assert(SnapshotTable.read(spark, dir, Some(1L))
      .agg(sum("score")).head().getLong(0) == (0L until 100L).map(_ * 10).sum)
    // re-add the same logical name: fresh physical, old rows NULL
    SnapshotTable.append(
      Seq((100L, "v100", 7L)).toDF("id", "name", "score"), dir)
    assert(SnapshotTable.snapshot(spark, dir,
      SnapshotTable.latestVersion(spark, dir).get).colMap == Map("score" -> "score_p1"))
    val scored = SnapshotTable.read(spark, dir)
    assert(scored.filter(col("score").isNotNull).count() == 1)
    assert(scored.agg(sum("score")).head().getLong(0) == 7L)
  }

  test("a re-added column's tracking follows its fresh physical name") {
    val dir = tmp("readd-track")
    mkTable(dir)
    SnapshotTable.dropColumn(spark, dir, "score")
    // re-add 'score' WITH tracking: the stats/bloom must key the fresh
    // physical name (score_p1), not the retired 'score'
    SnapshotTable.append(
      (200L until 220L).map(i => (i, s"v$i", i * 3)).toDF("id", "name", "score"),
      dir, statsCols = Seq("score"), bloomCols = Seq("score"))
    val head = SnapshotTable.latestVersion(spark, dir).get
    assert(SnapshotTable.snapshot(spark, dir, head).colMap ==
      Map("score" -> "score_p1"))
    // range pruning on the re-added column engages (stats exist under
    // the fresh physical key and translate from the logical name);
    // pre-re-add files have no score_p1 stats and stay conservatively
    val (sel, total) = SnapshotTable.pruneFiles(spark, dir, "score",
      600L, 612L)
    assert(sel.size < total, s"pruning did not engage: $sel of $total")
    assert(SnapshotTable.readWhere(spark, dir, "score", 600L, 612L)
      .count() == 5)
    // Bloom point lookup on the re-added column
    assert(SnapshotTable.readWhereEq(spark, dir, "score", 603L).count() == 1)
    // and the committed bloom tracking list records the PHYSICAL name,
    // so the next append inherits it correctly
    SnapshotTable.append(
      Seq((300L, "v300", 900L)).toDF("id", "name", "score"), dir)
    assert(SnapshotTable.readWhereEq(spark, dir, "score", 900L).count() == 1)
  }

  test("CoW delete/merge and the change feed work across a rename") {
    val dir = tmp("cow")
    mkTable(dir)
    SnapshotTable.renameColumn(spark, dir, "id", "doc_id")
    // CoW delete on the NEW name
    SnapshotTable.deleteWhere(spark, dir, col("doc_id") >= 90L)
    assert(SnapshotTable.read(spark, dir).count() == 90)
    // MERGE keyed on the new name
    SnapshotTable.merge(spark, dir,
      Seq((0L, "UPDATED", 0L), (200L, "NEW", 5L))
        .toDF("doc_id", "name", "score"), Seq("doc_id"))
    val after = SnapshotTable.read(spark, dir)
    assert(after.count() == 91)
    assert(after.filter(col("doc_id") === 0L).head().getString(1) == "UPDATED")
    // feed across the whole range (spans the rename commit, which
    // itself moved no rows) resolves under end-state names
    val feed = SnapshotTable.changeFeed(spark, dir, 1L,
      SnapshotTable.latestVersion(spark, dir).get)
    assert(feed.columns.contains("doc_id"))
    val dels = feed.filter(col("_change") === "delete")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(dels == ((90L until 100L).toSet + 0L)) // 10 deletes + update's old half
    // MoR delete on the renamed column, then compact materializes it
    SnapshotTable.deleteWhereMor(spark, dir, col("doc_id") === 1L)
    assert(SnapshotTable.read(spark, dir).count() == 90)
    SnapshotTable.compact(spark, dir, clusterBy = Seq("doc_id"))
    assert(SnapshotTable.read(spark, dir).count() == 90)
    assert(SnapshotTable.readWhere(spark, dir, "doc_id", 0L, 5L).count() == 5)
  }

  test("SQL view and format(\"graft\") serve logical names; streaming " +
      "source too") {
    val dir = tmp("sql")
    mkTable(dir)
    SnapshotTable.renameColumn(spark, dir, "score", "points")
    SnapshotSql.register(spark, "colmap_t", dir)
    val viaSql = spark.sql(
      "SELECT sum(points) AS s FROM colmap_t WHERE id <= 9")
      .head().getLong(0)
    assert(viaSql == (0L to 9L).map(_ * 10).sum)
    val viaFormat = spark.read.format("graft").load(dir)
    assert(viaFormat.columns.toSeq == Seq("id", "name", "points"))
    assert(viaFormat.agg(sum("points")).head().getLong(0) ==
      (0L until 100L).map(_ * 10).sum)
    // versionAsOf to the pre-rename version serves old names
    assert(spark.read.format("graft").option("versionAsOf", "1").load(dir)
      .columns.toSeq == Seq("id", "name", "score"))
    // streaming: initial snapshot + a post-rename append, logical names
    val ckpt = tempDir("graft-colmap-ck")
    val out = tempDir("graft-colmap-out")
    val q = spark.readStream.format("graft").load(dir)
      .writeStream.format("parquet")
      .option("checkpointLocation", ckpt)
      .option("path", out).start()
    try {
      q.processAllAvailable()
      SnapshotTable.append(
        Seq((100L, "v100", 42L)).toDF("id", "name", "points"), dir)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(out)
    assert(streamed.columns.sorted.toSeq == Seq("id", "name", "points"))
    assert(streamed.count() == 101)
    assert(streamed.agg(sum("points")).head().getLong(0) ==
      (0L until 100L).map(_ * 10).sum + 42)
  }

  test("constraints block rename/drop of referenced columns; bucketed " +
      "and partitioned writers refuse mapped tables") {
    val dir = tmp("guard")
    mkTable(dir)
    SnapshotTable.addConstraint(spark, dir, "score_pos", "score >= 0")
    val e1 = intercept[IllegalArgumentException] {
      SnapshotTable.renameColumn(spark, dir, "score", "points") }
    assert(e1.getMessage.contains("score_pos"))
    val e2 = intercept[IllegalArgumentException] {
      SnapshotTable.dropColumn(spark, dir, "score") }
    assert(e2.getMessage.contains("score_pos"))
    // un-referenced columns rename fine under the same constraint
    SnapshotTable.renameColumn(spark, dir, "name", "label")
    // and the constraint still gates appends on the mapped table
    val e3 = intercept[IllegalArgumentException] {
      SnapshotTable.append(
        Seq((200L, "x", -5L)).toDF("id", "label", "score"), dir) }
    assert(e3.getMessage.contains("score_pos"))
    val e4 = intercept[IllegalArgumentException] {
      SnapshotTable.appendBucketed(
        Seq((300L, "y", 1L)).toDF("id", "label", "score"), dir,
        Seq("id"), 4) }
    assert(e4.getMessage.contains("column-mapped"))
    val e5 = intercept[IllegalArgumentException] {
      SnapshotTable.appendPartitioned(
        Seq((300L, "y", 1L)).toDF("id", "label", "score"), dir, Seq("id")) }
    assert(e5.getMessage.contains("column-mapped"))
    // the exactly-once twin refuses too, before writing any data
    def dataFiles = {
      val d = new java.io.File(dir, "data")
      d.listFiles.toSeq.flatMap(b => Option(b.listFiles).toSeq.flatten)
        .map(_.getPath).toSet
    }
    val before = dataFiles
    val e6 = intercept[IllegalArgumentException] {
      SnapshotTable.transactionalAppendPartitioned(
        Seq((300L, "y", 1L)).toDF("id", "label", "score"), dir, Seq("id"),
        "guard-app", 0L) }
    assert(e6.getMessage.contains("column-mapped"))
    assert(dataFiles == before)
  }

  test("restore rolls the mapping back; clone carries it; vacuum's " +
      "checkpoint rewrite preserves it") {
    val dir = tmp("lifecycle")
    mkTable(dir) // v0, v1
    SnapshotTable.renameColumn(spark, dir, "id", "doc_id") // v2
    // clone AFTER the rename carries the mapping
    val cloneDir = tmp("lifecycle-clone")
    SnapshotTable.shallowClone(spark, dir, cloneDir)
    assert(SnapshotTable.read(spark, cloneDir).columns.toSeq ==
      Seq("doc_id", "name", "score"))
    assert(SnapshotTable.read(spark, cloneDir).count() == 100)
    // restore to the pre-rename version rolls the names back
    SnapshotTable.restore(spark, dir, 1L)
    assert(SnapshotTable.read(spark, dir).columns.toSeq ==
      Seq("id", "name", "score"))
    assert(SnapshotTable.snapshot(spark, dir,
      SnapshotTable.latestVersion(spark, dir).get).colMap.isEmpty)
    // rename again, then bury the rename behind the vacuum horizon —
    // the keepFrom checkpoint rewrite must carry the mapping
    SnapshotTable.renameColumn(spark, dir, "name", "label")
    for (i <- 0 until 4)
      SnapshotTable.append(Seq((1000L + i, s"x$i", 0L))
        .toDF("id", "label", "score"), dir)
    SnapshotTable.vacuum(spark, dir, keepVersions = 3, minAgeMs = 0L)
    val head = SnapshotTable.latestVersion(spark, dir).get
    assert(SnapshotTable.read(spark, dir).columns.toSeq ==
      Seq("id", "label", "score"))
    assert(SnapshotTable.read(spark, dir, Some(head - 2)).columns
      .contains("label"))
    assert(SnapshotTable.read(spark, dir).count() == 104)
  }

  test("a reader-feature guard protects pre-mapping readers") {
    val dir = tmp("feature")
    mkTable(dir)
    SnapshotTable.renameColumn(spark, dir, "id", "doc_id")
    val manifest = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_manifests", "v2.json")), "UTF-8")
    assert(manifest.contains("\"colmap\""))
    assert(manifest.contains("\"features\""))
    assert(manifest.contains("colmap"))
  }
}
