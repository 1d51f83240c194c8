package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.sources.SnapshotTable

/** `format("graft")`: the SnapshotTable format as a registered Spark
  * data source — batch read (manifest-pruned), batch write
  * (append/overwrite/error/ignore), streaming source (versions as
  * offsets, append-only contract), streaming sink (exactly-once
  * ledger). */
class GraftDataSourceSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def tmp(tag: String, scheme: String = "file"): String =
    tempRoot(s"graft-ds-$tag", scheme) + "/t"

  test("batch read: format(graft) resolves via service loader, versionAsOf time-travels") {
    val dir = tmp("read")
    SnapshotTable.append(spark.range(0, 10).toDF(), dir)
    SnapshotTable.append(spark.range(10, 25).toDF(), dir)
    val latest = spark.read.format("graft").load(dir)
    assert(latest.count() == 25)
    val v0 = spark.read.format("graft").option("versionAsOf", "0").load(dir)
    assert(v0.select(max($"id")).head.getLong(0) == 9L)
    // The relation is the manifest-backed parquet path — filters show
    // as pushed parquet filters in the plan.
    val planned = latest.filter($"id" > 20)
    assert(planned.count() == 4)
  }

  test("batch write: append + overwrite + ErrorIfExists + Ignore; stats options recorded") {
    val dir = tmp("write")
    spark.range(0, 10).toDF().write.format("graft")
      .option("statsCols", "id").mode(SaveMode.ErrorIfExists).save(dir)
    spark.range(10, 20).toDF().write.format("graft")
      .option("statsCols", "id").mode(SaveMode.Append).save(dir)
    assert(spark.read.format("graft").load(dir).count() == 20)
    // stats landed → readWhere prunes
    val v = SnapshotTable.latestVersion(spark, dir).get
    assert(SnapshotTable.snapshot(spark, dir, v).stats.nonEmpty)
    // Ignore: no-op on an existing table
    spark.range(100, 200).toDF().write.format("graft")
      .mode(SaveMode.Ignore).save(dir)
    assert(spark.read.format("graft").load(dir).count() == 20)
    // ErrorIfExists: loud
    intercept[IllegalStateException] {
      spark.range(0, 5).toDF().write.format("graft")
        .mode(SaveMode.ErrorIfExists).save(dir)
    }
    // Overwrite: one atomic REPLACE commit; old version time-travels
    Seq((1L, "x"), (2L, "y")).toDF("id", "tag").write.format("graft")
      .mode(SaveMode.Overwrite).save(dir)
    val now = spark.read.format("graft").load(dir)
    assert(now.columns.toSet == Set("id", "tag") && now.count() == 2)
    assert(spark.read.format("graft").option("versionAsOf", v.toString)
      .load(dir).count() == 20)
  }

  test("streaming source: initial snapshot then per-commit increments, versions as offsets") {
    val dir = tmp("src")
    SnapshotTable.append(spark.range(0, 5).toDF(), dir, statsCols = Seq("id"))
    val q = spark.readStream.format("graft").load(dir)
      .writeStream.format("memory").queryName("graft_src_out").start()
    try {
      q.processAllAvailable()
      assert(spark.table("graft_src_out").count() == 5)
      SnapshotTable.append(spark.range(5, 12).toDF(), dir)
      q.processAllAvailable()
      assert(spark.table("graft_src_out").count() == 12)
      // two commits between triggers still land exactly once
      SnapshotTable.append(spark.range(12, 14).toDF(), dir)
      SnapshotTable.append(spark.range(14, 17).toDF(), dir)
      q.processAllAvailable()
      val got = spark.table("graft_src_out")
        .select("id").collect().map(_.getLong(0)).sorted
      assert(got.toSeq == (0L until 17L))
    } finally q.stop()
  }

  test("streaming source: non-append commit fails loudly; ignoreChanges re-emits") {
    val dir = tmp("srcchg")
    SnapshotTable.append(spark.range(0, 10).toDF(), dir)
    val q = spark.readStream.format("graft").load(dir)
      .writeStream.format("memory").queryName("graft_chg_out").start()
    try {
      q.processAllAvailable()
      SnapshotTable.deleteWhere(spark, dir, $"id" === 3L)
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(e.getCause.getMessage.contains("append-only"))
    } finally q.stop()
    // With ignoreChanges: the rewrite re-emits (documented duplicates)
    val dir2 = tmp("srcchg2")
    SnapshotTable.append(spark.range(0, 4).coalesce(1).toDF(), dir2)
    val q2 = spark.readStream.format("graft")
      .option("ignoreChanges", "true").load(dir2)
      .writeStream.format("memory").queryName("graft_chg2_out").start()
    try {
      q2.processAllAvailable()
      assert(spark.table("graft_chg2_out").count() == 4)
      SnapshotTable.deleteWhere(spark, dir2, $"id" === 1L)
      q2.processAllAvailable()
      // survivors of the rewritten file re-emitted: 4 + 3
      assert(spark.table("graft_chg2_out").count() == 7)
    } finally q2.stop()
  }

  test("streaming source: startingVersion skips the initial snapshot") {
    val dir = tmp("srcsv")
    SnapshotTable.append(spark.range(0, 100).toDF(), dir) // v0: history
    SnapshotTable.append(spark.range(100, 103).toDF(), dir) // v1
    val q = spark.readStream.format("graft")
      .option("startingVersion", "1").load(dir)
      .writeStream.format("memory").queryName("graft_sv_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("graft_sv_out")
        .select("id").collect().map(_.getLong(0)).sorted
      assert(got.toSeq == (100L until 103L), "only v1's rows, no snapshot")
    } finally q.stop()
  }

  test("streaming source: startingTimestamp resolves through the commit timeline") {
    val dir = tmp("srcst")
    SnapshotTable.append(spark.range(0, 100).toDF(), dir) // v0: history
    SnapshotTable.append(spark.range(100, 103).toDF(), dir) // v1
    val tl = SnapshotTable.commitTimeline(spark, dir).toMap
    val q = spark.readStream.format("graft")
      .option("startingTimestamp", tl(1L).toString).load(dir)
      .writeStream.format("memory").queryName("graft_st_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("graft_st_out")
        .select("id").collect().map(_.getLong(0)).sorted
      assert(got.toSeq == (100L until 103L), "only v1's rows, no snapshot")
    } finally q.stop()
    // START semantics are at-or-AFTER: an instant before the first
    // commit starts from v0 (where AS-OF resolution would throw)
    val q0 = spark.readStream.format("graft")
      .option("startingTimestamp", (tl(0L) - 1000L).toString).load(dir)
      .writeStream.format("memory").queryName("graft_st_all").start()
    try {
      q0.processAllAvailable()
      assert(spark.table("graft_st_all").count() == 103L)
    } finally q0.stop()
    // both options together refuse (the failure surfaces on the
    // stream thread, so await it)
    val bad = spark.readStream.format("graft")
      .option("startingVersion", "1")
      .option("startingTimestamp", "0").load(dir)
      .writeStream.format("memory").queryName("graft_st_bad").start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try bad.processAllAvailable()
      finally bad.stop()
      bad.awaitTermination()
    }
    assert(e.getMessage.contains("mutually exclusive") ||
      Option(e.getCause).exists(_.getMessage.contains("mutually exclusive")))
  }

  for ((scheme, tag) <- SparkTestBase.Schemes)
  test("streaming sink: exactly-once landing through the txn ledger, appId required" + tag) {
    val dir = tmp("sink", scheme)
    val ckpt = tempRoot("graft-ds-ckpt", scheme)
    val input = MemoryStream[Long](spark)
    val q = input.toDF().toDF("id")
      .writeStream.format("graft")
      .option("checkpointLocation", ckpt)
      .option("appId", "spec-sink")
      .option("statsCols", "id")
      .start(dir)
    try {
      input.addData(0L until 10L: _*)
      q.processAllAvailable()
      input.addData(10L until 15L: _*)
      q.processAllAvailable()
      assert(SnapshotTable.read(spark, dir).count() == 15)
      // the ledger recorded the writer's high-water batch
      val v = SnapshotTable.latestVersion(spark, dir).get
      assert(SnapshotTable.snapshot(spark, dir, v).txns
        .get("spec-sink").exists(_ >= 1L))
      // a manual replay of batch 0 is a manifest no-op
      val replay = SnapshotTable.transactionalAppend(
        spark.range(0, 10).toDF(), dir, "spec-sink", 0L)
      assert(replay.isEmpty)
      assert(SnapshotTable.read(spark, dir).count() == 15)
    } finally q.stop()
    // no appId and no checkpointLocation → loud
    intercept[IllegalArgumentException] {
      input.toDF().toDF("id").writeStream.format("graft").start(tmp("sink2"))
    }
  }

  test("batch read + SQL view over a DV'd snapshot apply deletion vectors") {
    val dir = tmp("dvread")
    SnapshotTable.append(spark.range(0, 20).toDF(), dir,
      statsCols = Seq("id"))
    SnapshotTable.deleteWhereMor(spark, dir, $"id" < 5L)
    SnapshotTable.deleteWhereMor(spark, dir, $"id" === 17L)
    // format("graft") routes through DvMaskedRelation: live rows only
    val got = spark.read.format("graft").load(dir)
    assert(got.count() == 14)
    assert(got.select(min($"id")).head.getLong(0) == 5L)
    // pruning filters and projections flow into the inner frame
    assert(got.filter($"id" >= 10L).count() == 9)
    assert(got.filter($"id" === 17L).count() == 0, "masked row stays dead under a pushed filter")
    // the SQL-view surface masks identically
    graft.sources.SnapshotSql.register(spark, "dv_view", dir)
    val viaSql = spark.sql(
      "SELECT count(*) AS n, min(id) AS lo FROM dv_view WHERE id < 18").head
    assert(viaSql.getLong(0) == 12L && viaSql.getLong(1) == 5L)
    // both agree with the programmatic reader
    assert(got.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      SnapshotTable.read(spark, dir).select("id").collect()
        .map(_.getLong(0)).sorted.toSeq)
  }

  test("streaming source: DV'd initial snapshot streams live rows only") {
    val dir = tmp("dvstream")
    SnapshotTable.append(spark.range(0, 10).toDF(), dir)
    SnapshotTable.deleteWhereMor(spark, dir, $"id" % 2 === 0L)
    val q = spark.readStream.format("graft").load(dir)
      .writeStream.format("memory").queryName("graft_dv_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("graft_dv_out")
        .select("id").collect().map(_.getLong(0)).sorted
      assert(got.toSeq == Seq(1L, 3L, 5L, 7L, 9L))
      // later appends still flow (and carry the latest mask)
      SnapshotTable.append(spark.range(10, 13).toDF(), dir)
      q.processAllAvailable()
      assert(spark.table("graft_dv_out").count() == 8)
    } finally q.stop()
  }

  test("readChangeFeed streaming: initial snapshot then exact row-level deltas incl. MoR deletes") {
    val dir = tmp("cdf")
    SnapshotTable.append(spark.range(0, 10).toDF().coalesce(1), dir) // v0
    val q = spark.readStream.format("graft")
      .option("readChangeFeed", "true").load(dir)
      .writeStream.format("memory").queryName("graft_cdf_out").start()
    try {
      q.processAllAvailable()
      val snap = spark.table("graft_cdf_out").collect()
      assert(snap.length == 10 &&
        snap.forall(r => r.getAs[String]("_change") == "insert" &&
          r.getAs[Long]("_commit_version") == 0L))
      // v1: plain append → 3 inserts stamped v1
      SnapshotTable.append(spark.range(10, 13).toDF(), dir)
      q.processAllAvailable()
      val afterV1 = spark.table("graft_cdf_out")
        .filter($"_commit_version" === 1L).collect()
      assert(afterV1.map(_.getAs[Long]("id")).sorted.toSeq ==
        Seq(10L, 11L, 12L) &&
        afterV1.forall(_.getAs[String]("_change") == "insert"))
      // v2: merge-on-read delete → EXACTLY the masked rows as deletes
      SnapshotTable.deleteWhereMor(spark, dir, $"id".isin(2L, 11L))
      // v3: copy-on-write delete (file rewrite) → only the dead row
      SnapshotTable.deleteWhere(spark, dir, $"id" === 5L)
      q.processAllAvailable()
      val v2 = spark.table("graft_cdf_out")
        .filter($"_commit_version" === 2L).collect()
      assert(v2.map(r => (r.getAs[Long]("id"),
        r.getAs[String]("_change"))).sorted.toSeq ==
        Seq((2L, "delete"), (11L, "delete")))
      val v3 = spark.table("graft_cdf_out")
        .filter($"_commit_version" === 3L).collect()
      assert(v3.map(r => (r.getAs[Long]("id"),
        r.getAs[String]("_change"))).sorted.toSeq == Seq((5L, "delete")))
    } finally q.stop()
  }

  test("readChangeFeed streaming: startingVersion begins at a commit, skipping the snapshot") {
    val dir = tmp("cdfsv")
    SnapshotTable.append(spark.range(0, 100).toDF(), dir) // v0: history
    SnapshotTable.append(spark.range(100, 102).toDF(), dir) // v1
    val q = spark.readStream.format("graft")
      .option("readChangeFeed", "true")
      .option("startingVersion", "1").load(dir)
      .writeStream.format("memory").queryName("graft_cdfsv_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("graft_cdfsv_out").collect()
      assert(got.map(_.getAs[Long]("id")).sorted.toSeq == Seq(100L, 101L) &&
        got.forall(r => r.getAs[String]("_change") == "insert" &&
          r.getAs[Long]("_commit_version") == 1L))
    } finally q.stop()
  }

  for ((scheme, tag) <- SparkTestBase.Schemes)
  test("graft-to-graft pipe: source table streams into sink table exactly once" + tag) {
    val src = tmp("pipe-src", scheme)
    val dst = tmp("pipe-dst", scheme)
    val ckpt = tempRoot("graft-ds-pipe", scheme)
    SnapshotTable.append(spark.range(0, 20).toDF(), src)
    val q = spark.readStream.format("graft").load(src)
      .writeStream.format("graft")
      .option("checkpointLocation", ckpt)
      .option("appId", "pipe")
      .start(dst)
    try {
      q.processAllAvailable()
      SnapshotTable.append(spark.range(20, 30).toDF(), src)
      q.processAllAvailable()
      val got = SnapshotTable.read(spark, dst)
        .select("id").collect().map(_.getLong(0)).sorted
      assert(got.toSeq == (0L until 30L))
    } finally q.stop()
  }
}
