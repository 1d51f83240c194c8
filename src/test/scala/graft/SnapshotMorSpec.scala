package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.{MaterializedAgg, SnapshotSql, SnapshotTable}

/** Merge-on-read deletion vectors: deleteWhereMor must read exactly
  * like the CoW deleteWhere — same rows gone, same survivors — while
  * moving zero data bytes; vectors must compose, survive clones,
  * flow through the change feed, purge on compaction, and conflict
  * loudly. */
class SnapshotMorSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def tmp(tag: String): String =
    tempDir(s"graft-mor-$tag") + "/t"

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("id").collect().map(_.getLong(0)).toSet

  test("MoR delete: rows vanish from every read path, data files untouched") {
    val dir = tmp("basic")
    SnapshotTable.append(spark.range(0, 100).toDF(), dir,
      statsCols = Seq("id"), bloomCols = Seq("id"))
    val filesBefore = SnapshotTable.manifestFiles(spark, dir, 0L)
    val v = SnapshotTable.deleteWhereMor(spark, dir,
      $"id" % 10 === 3L).get
    assert(v == 1L)
    // file list IDENTICAL — no data moved; only a vector landed
    assert(SnapshotTable.manifestFiles(spark, dir, v) == filesBefore)
    assert(SnapshotTable.snapshot(spark, dir, v).dvRefs.nonEmpty)
    val expect = (0L until 100L).filterNot(_ % 10 == 3).toSet
    assert(ids(SnapshotTable.read(spark, dir)) == expect)
    // pruned read paths apply the vector too
    assert(ids(SnapshotTable.readWhere(spark, dir, "id", 0L, 50L)) ==
      expect.filter(_ <= 50L))
    assert(SnapshotTable.readWhereEq(spark, dir, "id", 13L).count() == 0)
    assert(SnapshotTable.readWhereEq(spark, dir, "id", 14L).count() == 1)
    // time travel: v0 still sees everything
    assert(ids(SnapshotTable.read(spark, dir, Some(0L))) ==
      (0L until 100L).toSet)
  }

  test("vectors compose: a second MoR delete unions positions") {
    val dir = tmp("compose")
    SnapshotTable.append(spark.range(0, 50).coalesce(1).toDF(), dir)
    SnapshotTable.deleteWhereMor(spark, dir, $"id" < 10L)
    SnapshotTable.deleteWhereMor(spark, dir, $"id" >= 40L)
    assert(ids(SnapshotTable.read(spark, dir)) == (10L until 40L).toSet)
    // second vector replaced the first per file — exactly one ref
    val v = SnapshotTable.latestVersion(spark, dir).get
    assert(SnapshotTable.snapshot(spark, dir, v).dvRefs.values.toSet.size == 1)
    // a MoR delete matching only already-deleted rows is a no-op
    assert(SnapshotTable.deleteWhereMor(spark, dir, $"id" === 5L).isEmpty)
  }

  test("MoR equals CoW: same condition, same surviving rows") {
    val cow = tmp("cow"); val mor = tmp("mor")
    val data = spark.range(0, 200).toDF()
      .withColumn("grp", pmod($"id", lit(7L)))
    SnapshotTable.append(data, cow)
    SnapshotTable.append(data, mor)
    SnapshotTable.deleteWhere(spark, cow, $"grp" === 2L || $"id" > 150L)
    SnapshotTable.deleteWhereMor(spark, mor, $"grp" === 2L || $"id" > 150L)
    assert(ids(SnapshotTable.read(spark, cow)) ==
      ids(SnapshotTable.read(spark, mor)))
  }

  test("CoW ops after a MoR delete never resurrect masked rows") {
    val dir = tmp("interop")
    SnapshotTable.append(
      spark.range(0, 60).toDF().withColumn("v", lit("old")), dir)
    SnapshotTable.deleteWhereMor(spark, dir, $"id" < 20L)
    // CoW update touches the same files: rewrite must keep the
    // vector's rows dead
    SnapshotTable.updateWhere(spark, dir, $"id" >= 50L,
      Seq("v" -> lit("new")))
    val rows = SnapshotTable.read(spark, dir)
    assert(ids(rows) == (20L until 60L).toSet)
    assert(rows.filter($"v" === "new").count() == 10)
    // and the rewritten files dropped their vectors
    val v = SnapshotTable.latestVersion(spark, dir).get
    val live = SnapshotTable.manifestFiles(spark, dir, v).toSet
    assert(SnapshotTable.snapshot(spark, dir, v).dvRefs.keySet.subsetOf(live))
    // CoW MERGE on the DV'd table: upsert sees only live rows
    SnapshotTable.merge(spark, dir,
      Seq((5L, "revived"), (30L, "merged")).toDF("id", "v"), Seq("id"))
    val after = SnapshotTable.read(spark, dir)
    assert(after.filter($"id" === 5L).head.getString(1) == "revived",
      "an explicit upsert of a deleted key INSERTS it (it was dead)")
    assert(after.filter($"id" === 30L).head.getString(1) == "merged")
    assert(after.count() == 41) // 40 survivors + re-inserted id 5
  }

  test("compact materializes the deletes and purges the vectors") {
    val dir = tmp("purge")
    SnapshotTable.append(spark.range(0, 80).coalesce(2).toDF(), dir,
      statsCols = Seq("id"))
    SnapshotTable.deleteWhereMor(spark, dir, $"id" % 4 === 1L)
    val expect = (0L until 80L).filterNot(_ % 4 == 1).toSet
    val cv = SnapshotTable.compact(spark, dir, clusterBy = Seq("id")).get
    assert(SnapshotTable.snapshot(spark, dir, cv).dvRefs.isEmpty,
      "compaction is the vector purge")
    assert(ids(SnapshotTable.read(spark, dir)) == expect)
    // the SQL surface re-enables after the purge
    SnapshotSql.register(spark, "mor_purged", dir)
    assert(spark.sql("SELECT count(*) AS n FROM mor_purged")
      .head.getLong(0) == expect.size)
  }

  test("SQL/FileIndex surface masks a DV'd snapshot (no silent resurrection)") {
    val dir = tmp("guard")
    SnapshotTable.append(spark.range(0, 10).toDF(), dir)
    SnapshotTable.deleteWhereMor(spark, dir, $"id" === 1L)
    // the SQL view applies the vector on top of the pruned relation —
    // identical to the programmatic read path
    SnapshotSql.register(spark, "mor_guarded", dir)
    val viaSql = spark.sql("SELECT id FROM mor_guarded")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(viaSql == (0L until 10L).filterNot(_ == 1L))
    assert(!ids(SnapshotTable.read(spark, dir)).contains(1L))
  }

  test("changeFeed surfaces MoR deletes as row-level deletes; matview tracks them") {
    val dir = tmp("cdc"); val view = tmp("cdcview")
    SnapshotTable.append(
      Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L))
        .toDF("id", "k", "v"), dir)
    MaterializedAgg.create(spark, dir, view, Seq("k"),
      Seq(MaterializedAgg.AggSpec("total", "v", "sum_long")), "mor-mv")
    val from = SnapshotTable.latestVersion(spark, dir).get
    SnapshotTable.deleteWhereMor(spark, dir, $"id" === 2L)
    val to = SnapshotTable.latestVersion(spark, dir).get
    val feed = SnapshotTable.changeFeed(spark, dir, from, to)
      .select("_change", "id").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(feed.toSeq == Seq(("delete", 2L)),
      "exactly the masked row, as a delete")
    // delta propagation consumes it
    MaterializedAgg.refresh(spark, view)
    val got = MaterializedAgg.read(spark, view).orderBy("k")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == Seq(("a", 10L), ("b", 30L)))
  }

  test("streaming source treats a MoR delete as a non-append change") {
    val dir = tmp("stream")
    SnapshotTable.append(spark.range(0, 5).toDF(), dir)
    val q = spark.readStream.format("graft").load(dir)
      .writeStream.format("memory").queryName("mor_stream_out").start()
    try {
      q.processAllAvailable()
      SnapshotTable.deleteWhereMor(spark, dir, $"id" === 2L)
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(e.getCause.getMessage.contains("deletion"))
    } finally q.stop()
  }

  test("shallowClone carries vectors; vacuum GCs superseded sidecars") {
    val src = tmp("clonesrc"); val branch = tmp("clonedst")
    // one data file: each MoR delete SUPERSEDES the file's vector, so
    // exactly one sidecar stays referenced at the end
    SnapshotTable.append(spark.range(0, 30).coalesce(1).toDF(), src)
    SnapshotTable.deleteWhereMor(spark, src, $"id" < 5L)
    SnapshotTable.shallowClone(spark, src, branch)
    assert(ids(SnapshotTable.read(spark, branch)) == (5L until 30L).toSet,
      "the clone honors the source's vectors through absolute refs")
    // supersede the vector twice, then vacuum the old sidecar away
    SnapshotTable.deleteWhereMor(spark, src, $"id" === 10L)
    SnapshotTable.deleteWhereMor(spark, src, $"id" === 11L)
    val f = new org.apache.hadoop.fs.Path(src)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val before = f.listStatus(new org.apache.hadoop.fs.Path(src, "_dv")).length
    assert(before == 3)
    SnapshotTable.vacuum(spark, src, keepVersions = 1, minAgeMs = 0L)
    val after = f.listStatus(new org.apache.hadoop.fs.Path(src, "_dv")).length
    assert(after == 1, "only the latest vector survives a 1-version window")
    assert(ids(SnapshotTable.read(spark, src)) ==
      (5L until 30L).toSet -- Set(10L, 11L))
  }

  test("countRows stays exact when a shared DV sidecar is partially materialized") {
    // ONE MoR delete touching two files writes ONE sidecar covering
    // both; a later CoW rewrite of one file materializes ITS deletes
    // and drops ITS dvRefs entry, but the sibling still references the
    // shared sidecar. countRows must subtract only the positions of
    // files that currently reference the sidecar (the concurrency
    // stress in SnapshotModelSpec caught the unfiltered form).
    val dir = tmp("shared-dv")
    SnapshotTable.append((0L until 10L).map(i => (i, i)).toDF("id", "v")
      .coalesce(1), dir, statsCols = Seq("id"))
    SnapshotTable.append((10L until 20L).map(i => (i, i)).toDF("id", "v")
      .coalesce(1), dir)
    SnapshotTable.deleteWhereMor(spark, dir,
      pmod($"id", lit(5L)) === 0L)                 // masks 0,5 | 10,15
    SnapshotTable.deleteWhere(spark, dir, $"id" === 3L) // rewrites file A
    val scanned = SnapshotTable.read(spark, dir).count()
    assert(scanned == 15)                          // 20 - 4 masked - 1 CoW
    assert(SnapshotTable.countRows(spark, dir) == scanned)
  }

  /** The Spark jobs `body` starts from this thread (a job group marks
    * them, so no other thread's job counts). */
  private def jobsOf(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"graft-mor-jobs-${java.util.UUID.randomUUID()}"
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, "job count", interruptOnCancel = false)
    try {
      body
      org.apache.spark.GraftSparkTestBridge.drain(sc)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
    n.get
  }

  /** Two data files, rows 0..39, each MoR-masked at `id % 10 == 3`. */
  private def maskedTable(tag: String): String = {
    val dir = tmp(tag)
    SnapshotTable.append(spark.range(0, 20).coalesce(1).toDF(), dir)
    SnapshotTable.append(spark.range(20, 40).coalesce(1).toDF(), dir)
    SnapshotTable.deleteWhereMor(spark, dir, $"id" % 10 === 3L)
    dir
  }

  test("a masked read runs one Spark job, like a plain scan") {
    val dir = maskedTable("jobs-read")
    val expect = (0L until 40L).filterNot(_ % 10 == 3).toSet
    var got = Set.empty[Long]
    assert(jobsOf { got = ids(SnapshotTable.read(spark, dir)) } == 1)
    assert(got == expect)
    SnapshotSql.register(spark, "mor_jobs_read", dir)
    var viaSql = Set.empty[Long]
    assert(jobsOf {
      viaSql = ids(spark.sql("SELECT id FROM mor_jobs_read"))
    } == 1)
    assert(viaSql == expect)
  }

  test("countRows on a table with deletion vectors runs no Spark job") {
    val dir = maskedTable("jobs-count")
    var n = -1L
    assert(jobsOf { n = SnapshotTable.countRows(spark, dir) } == 0)
    assert(n == 36L)
  }

  test("a MoR delete runs one Spark job, with or without prior vectors") {
    val dir = maskedTable("jobs-delete")
    // the file's prior vector is read on the driver and ORed in
    assert(jobsOf(SnapshotTable.deleteWhereMor(spark, dir, $"id" < 2L)) == 1)
    assert(ids(SnapshotTable.read(spark, dir)) ==
      (2L until 40L).filterNot(_ % 10 == 3).toSet)
    assert(SnapshotTable.countRows(spark, dir) == 34L)
  }

  test("a MoR-only change feed is the bitmap difference, in one job") {
    val dir = maskedTable("jobs-feed")
    val from = SnapshotTable.latestVersion(spark, dir).get
    SnapshotTable.deleteWhereMor(spark, dir, $"id" === 4L || $"id" === 24L)
    SnapshotTable.deleteWhereMor(spark, dir, $"id" === 5L)
    val to = SnapshotTable.latestVersion(spark, dir).get
    var feed = Seq.empty[(String, Long)]
    assert(jobsOf {
      feed = SnapshotTable.changeFeed(spark, dir, from, to)
        .select("_change", "id").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq.sortBy(_._2)
    } == 1)
    assert(feed == Seq(("delete", 4L), ("delete", 5L), ("delete", 24L)))
  }
}
