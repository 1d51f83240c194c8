package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.{SnapshotFileIndex, SnapshotSql, SnapshotTable}

/** SnapshotTable's SQL read surface: plain `spark.sql` over a
  * registered snapshot view gets manifest stats + Bloom file skipping
  * through the custom FileIndex, with results identical to the
  * programmatic read path. */
class SnapshotSqlSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** The pruning decision of the scan that produced `df`'s last
    * execution — read off the FileSourceScanExec's FileIndex. */
  private def decision(df: DataFrame): (Int, Int) = {
    // AQE hides the real tree behind AdaptiveSparkPlanExec — collect
    // through it (and through shuffle-stage reuse wrappers).
    def scansOf(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.datasources.FileIndex] =
      p.collect {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scansOf(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scansOf(q.plan)
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          Seq(s.relation.location)
      }.flatten
    scansOf(df.queryExecution.executedPlan)
      .collectFirst { case i: SnapshotFileIndex => i.lastDecision }
      .getOrElse(fail("no SnapshotFileIndex-backed scan in the plan"))
  }

  test("spark.sql over a registered snapshot prunes files via stats and blooms") {
    val dir = tempDir("graft-sqls") + "/t"
    // Four disjoint-range files (clusterBy-style layout by hand) with
    // id stats and a bloom on the unsorted key k.
    (0 until 4).foreach { i =>
      SnapshotTable.append(
        spark.range(100L * i, 100L * i + 100)
          .select(col("id"), (col("id") * 7919 % 1000).as("k"))
          .coalesce(1),
        dir, statsCols = Seq("id"), bloomCols = Seq("k"))
    }
    SnapshotSql.register(spark, "snap_sql_t", dir)
    // Range predicate → stats prune to the owning file.
    val r1 = spark.sql(
      "SELECT id, k FROM snap_sql_t WHERE id >= 120 AND id < 180 ORDER BY id")
    val rows = r1.collect()
    assert(rows.map(_.getLong(0)).toSeq == (120L until 180L))
    assert(decision(r1) == (1, 4),
      s"range predicate should open 1 of 4 files, got ${decision(r1)}")
    // Equality on the bloom key → bloom pruning where ranges overlap
    // (k is scattered, so min/max stats are useless for it).
    val k0 = (237L * 7919) % 1000
    val r2 = spark.sql(s"SELECT id FROM snap_sql_t WHERE k = $k0 ORDER BY id")
    val ids = r2.collect().map(_.getLong(0)).toSet
    assert(ids == (0L until 400L).filter(i => (i * 7919) % 1000 == k0).toSet)
    val (sel2, tot2) = decision(r2)
    assert(tot2 == 4 && sel2 < 4,
      s"bloom probe should skip at least one file, opened $sel2 of $tot2")
    // Unprunable predicate: everything opens, result still exact.
    val r3 = spark.sql("SELECT count(*) AS n FROM snap_sql_t WHERE id % 2 = 0")
    assert(r3.collect().head.getLong(0) == 200L)
    assert(decision(r3) == (4, 4))
  }

  test("SQL view result == programmatic read; time travel pins; evolution backfills") {
    val dir = tempDir("graft-sqls2") + "/t"
    SnapshotTable.append(
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir, statsCols = Seq("id"))
    SnapshotTable.append(
      Seq((3L, "c", 30L), (4L, "d", 40L)).toDF("id", "v", "extra"), dir,
      statsCols = Seq("id"))
    SnapshotSql.register(spark, "snap_sql_e", dir)
    val got = spark.sql(
      "SELECT id, v, extra FROM snap_sql_e ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else java.lang.Long.valueOf(r.getLong(2))))
    // Pre-evolution rows NULL-backfill the added column through SQL.
    assert(got.toSeq == Seq((1L, "a", null), (2L, "b", null),
      (3L, "c", 30L: java.lang.Long), (4L, "d", 40L: java.lang.Long)))
    // Time travel: version 0 pins the first append and ITS schema.
    SnapshotSql.register(spark, "snap_sql_v0", dir, version = Some(0L))
    val v0 = spark.sql("SELECT * FROM snap_sql_v0 ORDER BY id")
    assert(v0.columns.toSeq == Seq("id", "v"))
    assert(v0.collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
    // The registered view is snapshot-isolated: a later append is
    // invisible until re-registration.
    SnapshotTable.append(Seq((9L, "z", 90L)).toDF("id", "v", "extra"), dir)
    assert(spark.sql("SELECT count(*) AS n FROM snap_sql_e")
      .collect().head.getLong(0) == 4L)
    SnapshotSql.register(spark, "snap_sql_e", dir)
    assert(spark.sql("SELECT count(*) AS n FROM snap_sql_e")
      .collect().head.getLong(0) == 5L)
  }

  test("live view auto-advances across commits; pinned view stays put; DV masks apply") {
    val dir = tempDir("graft-sql-live") + "/t"
    SnapshotTable.append(
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dir)
    SnapshotSql.register(spark, "live_pinned", dir)   // pins v0
    SnapshotSql.registerLive(spark, "live_head", dir) // follows head
    assert(spark.sql("SELECT count(*) AS n FROM live_head")
      .collect().head.getLong(0) == 2L)
    // append: the live view sees it with NO re-registration; the
    // pinned view does not
    SnapshotTable.append(Seq((3L, "c"), (4L, "d")).toDF("id", "v"), dir)
    assert(spark.sql("SELECT count(*) FROM live_head")
      .collect().head.getLong(0) == 4L)
    assert(spark.sql("SELECT count(*) FROM live_pinned")
      .collect().head.getLong(0) == 2L)
    // pushed filter through the live relation returns exact rows
    assert(spark.sql("SELECT v FROM live_head WHERE id = 3")
      .collect().map(_.getString(0)).toSeq == Seq("c"))
    // a merge-on-read delete is visible immediately (DV mask rides
    // inside the live scan)
    SnapshotTable.deleteWhereMor(spark, dir, $"id" === 2L)
    assert(spark.sql("SELECT count(*) FROM live_head")
      .collect().head.getLong(0) == 3L)
    // CoW delete too, and a self-join of the live view agrees with
    // itself (both scans pin the same version inside one execution)
    SnapshotTable.deleteWhere(spark, dir, $"id" === 4L)
    val selfJoin = spark.sql(
      """SELECT count(*) FROM live_head a JOIN live_head b USING (id)""")
    assert(selfJoin.collect().head.getLong(0) == 2L)
  }

  test("a data file the store lost fails every read surface, " +
      "whatever the session's ignoreMissingFiles says") {
    val dir = tempDir("graft-sql-lost") + "/t"
    SnapshotTable.append(spark.range(0, 100).toDF(), dir,
      bloomCols = Seq("id"))
    // the live data file holding id 7, deleted out of band
    val lost = SnapshotTable.read(spark, dir).filter($"id" === 7L)
      .select(input_file_name()).head().getString(0)
    val lostName = new org.apache.hadoop.fs.Path(lost).getName
    assert(java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(
      new org.apache.hadoop.fs.Path(lost).toUri.getPath)))
    def causes(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
    def refuses(surface: String)(df: => DataFrame): Unit = {
      val e = intercept[Exception](df.collect())
      assert(causes(e).exists(c => String.valueOf(c.getMessage)
        .contains(lostName)), s"$surface failed without naming the file: $e")
    }
    val key = "spark.sql.files.ignoreMissingFiles"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try {
      refuses("read")(SnapshotTable.read(spark, dir))
      refuses("readWhereEq")(SnapshotTable.readWhereEq(spark, dir, "id", 7L))
      refuses("SnapshotSql.dataFrame")(SnapshotSql.dataFrame(spark, dir))
      refuses("format(graft)")(spark.read.format("graft").load(dir))
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
