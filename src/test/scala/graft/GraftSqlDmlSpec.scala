package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.parser.ParseException
import graft.sources.{SnapshotSql, SnapshotTable}

/** The injected SQL DML surface (GraftExtensions via
  * spark.sql.extensions): every snapshot-table mutation runnable as
  * plain `spark.sql`, with non-graft SQL delegated untouched. */
class GraftSqlDmlSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-sqldml-$tag").toString + "/t"

  private def mk(dir: String, n: Long = 100L): Unit =
    SnapshotTable.append(
      (0L until n).map(i => (i, s"v$i", i * 10)).toDF("id", "name", "score"),
      dir, statsCols = Seq("id"))

  test("DELETE FROM with and without WHERE; rows_deleted is exact") {
    val dir = tmp("delete"); mk(dir)
    SnapshotSql.bind("sqldml_del", dir)
    val r = spark.sql("DELETE FROM sqldml_del WHERE id >= 90").head()
    assert(r.getLong(1) == 10L)
    assert(SnapshotTable.read(spark, dir).count() == 90)
    val r2 = spark.sql("DELETE FROM sqldml_del").head()
    assert(r2.getLong(1) == 90L)
    assert(SnapshotTable.read(spark, dir).count() == 0)
  }

  test("UPDATE SET sees pre-update rows; WHERE scopes the rewrite") {
    val dir = tmp("update"); mk(dir)
    SnapshotSql.bind("sqldml_upd", dir)
    spark.sql(
      "UPDATE sqldml_upd SET score = score * 2, name = concat(name, '!') " +
        "WHERE id < 10")
    val got = SnapshotTable.read(spark, dir)
    assert(got.filter(col("id") < 10 && col("score") === col("id") * 20)
      .count() == 10)
    assert(got.filter(col("name") === "v3!").count() == 1)
    assert(got.filter(col("id") >= 10 && col("score") === col("id") * 10)
      .count() == 90)
  }

  test("backslash-escaped quotes inside literals don't confuse the scanner") {
    val dir = tmp("escape"); mk(dir, 10L)
    SnapshotSql.bind("sqldml_esc", dir)
    spark.sql("UPDATE sqldml_esc SET name = 'it\\'s, fine', score = 1 " +
      "WHERE id = 3")
    val got = SnapshotTable.read(spark, dir).filter(col("id") === 3L).head()
    assert(got.getString(1) == "it's, fine")
    assert(got.getLong(2) == 1L)
    // the WHERE keyword inside a string literal is not a clause break
    spark.sql("UPDATE sqldml_esc SET name = 'WHERE AND SET' WHERE id = 4")
    assert(SnapshotTable.read(spark, dir).filter(col("id") === 4L)
      .head().getString(1) == "WHERE AND SET")
  }

  test("MERGE INTO upserts by key from a view and from a subquery") {
    val dir = tmp("merge"); mk(dir)
    SnapshotSql.bind("sqldml_mrg", dir)
    Seq((0L, "UPD", 999L), (500L, "NEW", 5L)).toDF("id", "name", "score")
      .createOrReplaceTempView("sqldml_src")
    spark.sql(
      "MERGE INTO sqldml_mrg t USING sqldml_src s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    val got = SnapshotTable.read(spark, dir)
    assert(got.count() == 101)
    assert(got.filter(col("id") === 0L).head().getString(1) == "UPD")
    // subquery source
    spark.sql(
      "MERGE INTO sqldml_mrg AS t USING " +
        "(SELECT 501 AS id, 'NEW2' AS name, 7 AS score) AS s " +
        "ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    assert(SnapshotTable.read(spark, dir).count() == 102)
    // a matched-only DELETE routes through the generalized kernel
    spark.sql("MERGE INTO sqldml_mrg t USING sqldml_src s ON t.id = s.id " +
      "WHEN MATCHED THEN DELETE")
    assert(SnapshotTable.read(spark, dir).count() == 100) // 0 and 500 gone
  }

  test("INSERT INTO is positional with insert-casts") {
    val dir = tmp("insert"); mk(dir, 10L)
    SnapshotSql.bind("sqldml_ins", dir)
    val v = spark.sql(
      "INSERT INTO sqldml_ins VALUES (100, 'v100', 1), (101, 'v101', 2)")
      .head().getLong(0)
    assert(v == 1L)
    // SELECT source with different column names + narrower int types:
    // positional rename + cast to the table schema
    spark.sql("INSERT INTO sqldml_ins " +
      "SELECT 200 AS a, 'v200' AS b, CAST(3 AS INT) AS c")
    val got = SnapshotTable.read(spark, dir)
    assert(got.count() == 13)
    assert(got.filter(col("id") === 200L).head().getLong(2) == 3L)
    val e = intercept[IllegalArgumentException] {
      spark.sql("INSERT INTO sqldml_ins VALUES (1, 'x')") }
    assert(e.getMessage.contains("columns"))
  }

  test("ALTER TABLE RENAME/DROP COLUMN and constraints via SQL") {
    val dir = tmp("alter"); mk(dir)
    SnapshotSql.bind("sqldml_alt", dir)
    spark.sql("ALTER TABLE sqldml_alt RENAME COLUMN score TO points")
    assert(SnapshotTable.read(spark, dir).columns.toSeq ==
      Seq("id", "name", "points"))
    spark.sql("ALTER TABLE sqldml_alt ADD CONSTRAINT pts CHECK (points >= 0)")
    val e = intercept[IllegalArgumentException] {
      spark.sql("INSERT INTO sqldml_alt VALUES (999, 'x', -1)") }
    assert(e.getMessage.contains("pts"))
    spark.sql("ALTER TABLE sqldml_alt DROP CONSTRAINT pts")
    spark.sql("INSERT INTO sqldml_alt VALUES (999, 'x', -1)")
    assert(SnapshotTable.read(spark, dir).count() == 101)
    spark.sql("ALTER TABLE sqldml_alt DROP COLUMN name")
    assert(SnapshotTable.read(spark, dir).columns.toSeq ==
      Seq("id", "points"))
  }

  test("OPTIMIZE: bin-pack, ZORDER BY, and the scoped BETWEEN form") {
    val dir = tmp("optimize")
    // many small files: 5 single-partition appends
    for (i <- 0 until 5)
      SnapshotTable.append(
        (i * 20L until (i + 1) * 20L).map(j => (j, j * 10)).toDF("id", "v")
          .coalesce(1), dir, statsCols = Seq("id"))
    SnapshotSql.bind("sqldml_opt", dir)
    val before = SnapshotTable.manifestFiles(spark, dir,
      SnapshotTable.latestVersion(spark, dir).get).size
    val r = spark.sql("OPTIMIZE sqldml_opt").head()
    assert(!r.isNullAt(0))
    val after = SnapshotTable.manifestFiles(spark, dir,
      SnapshotTable.latestVersion(spark, dir).get).size
    assert(after < before)
    assert(SnapshotTable.read(spark, dir).count() == 100)
    spark.sql("OPTIMIZE sqldml_opt ZORDER BY (id, v)")
    assert(SnapshotTable.read(spark, dir).count() == 100)
    spark.sql("OPTIMIZE sqldml_opt WHERE id BETWEEN 0 AND 50")
    assert(SnapshotTable.read(spark, dir).count() == 100)
  }

  test("VACUUM DRY RUN previews; VACUUM deletes; RESTORE rolls back") {
    val dir = tmp("vacuum"); mk(dir)                       // v0
    SnapshotSql.bind("sqldml_vac", dir)
    spark.sql("DELETE FROM sqldml_vac WHERE id >= 50")     // v1 (CoW rewrite)
    spark.sql("INSERT INTO sqldml_vac VALUES (500, 'x', 0)") // v2
    val dry = spark.sql("VACUUM sqldml_vac RETAIN 2 VERSIONS DRY RUN").head()
    assert(dry.getLong(0) > 0)  // v0's rewritten files are eligible
    // restore BEFORE vacuuming: v0 files still exist
    spark.sql("RESTORE TABLE sqldml_vac TO VERSION AS OF 0")
    assert(SnapshotTable.read(spark, dir).count() == 100)
    spark.sql("RESTORE sqldml_vac VERSION AS OF 2")
    assert(SnapshotTable.read(spark, dir).count() == 51)
    val deleted = spark.sql("VACUUM sqldml_vac RETAIN 1 VERSIONS").head()
      .getLong(0)
    assert(deleted > 0)
    assert(SnapshotTable.read(spark, dir).count() == 51)
  }

  test("ALTER TABLE ADD COLUMN: metadata-only, NULL-backfill, no resurrect") {
    val dir = tmp("addcol"); mk(dir, 5L)
    SnapshotSql.bind("sqldml_add", dir)
    val before = SnapshotTable.manifestFiles(spark, dir, 0L).toSet
    spark.sql("ALTER TABLE sqldml_add ADD COLUMN note STRING")
    // zero rewrite; existing rows NULL-backfill
    val head = SnapshotTable.latestVersion(spark, dir).get
    assert(SnapshotTable.manifestFiles(spark, dir, head).toSet == before)
    val got = spark.sql(s"SELECT * FROM graft.`$dir`")
    assert(got.columns.toSeq == Seq("id", "name", "score", "note"))
    assert(got.filter(col("note").isNull).count() == 5)
    // new arity flows through positional INSERT
    spark.sql("INSERT INTO sqldml_add SELECT 100L, 'x', 1L, 'noted'")
    assert(SnapshotTable.read(spark, dir)
      .filter(col("note") === "noted").count() == 1)
    // duplicate add refused
    intercept[IllegalArgumentException] {
      spark.sql("ALTER TABLE sqldml_add ADD COLUMN note STRING") }
    // drop + re-add under the mapping: retired bytes never resurrect
    spark.sql("ALTER TABLE sqldml_add DROP COLUMN note")
    spark.sql("ALTER TABLE sqldml_add ADD COLUMN note STRING")
    assert(SnapshotTable.read(spark, dir)
      .filter(col("note").isNotNull).count() == 0,
      "re-added column resurrected retired bytes")
  }

  test("ADD COLUMN ... DEFAULT serves the literal for pre-ADD files only; rewrites materialize") {
    val dir = tmp("adddef"); mk(dir, 6L)                       // v0 pre-ADD
    SnapshotSql.bind("sqldml_adddef", dir)
    val before = SnapshotTable.manifestFiles(spark, dir, 0L).toSet
    spark.sql("ALTER TABLE sqldml_adddef ADD COLUMN rank INT DEFAULT 7")
    val v1 = SnapshotTable.latestVersion(spark, dir).get
    assert(SnapshotTable.manifestFiles(spark, dir, v1).toSet == before,
      "ADD COLUMN DEFAULT must be metadata-only")
    // every read surface serves 7 for the pre-ADD population
    assert(SnapshotTable.read(spark, dir)
      .filter(col("rank") === 7).count() == 6)                 // API
    assert(spark.sql(s"SELECT * FROM graft.`$dir` WHERE rank = 7")
      .count() == 6)                                           // SQL
    assert(spark.read.format("graft").load(dir)
      .filter(col("rank") === 7).count() == 6)                 // format
    // post-ADD rows read their physical bytes: explicit NULL stays NULL
    spark.sql("INSERT INTO sqldml_adddef SELECT 100L, 'x', 1L, 1")
    spark.sql(
      "INSERT INTO sqldml_adddef SELECT 101L, 'y', 1L, CAST(NULL AS INT)")
    val got = SnapshotTable.read(spark, dir)
    assert(got.filter(col("rank") === 7).count() == 6)
    assert(got.filter(col("rank") === 1).count() == 1)
    assert(got.filter(col("rank").isNull).count() == 1,
      "an explicit post-ADD NULL must NOT read as the default")
    // a DELETE matching on the SERVED default: the probe sees 7, the
    // survivors MATERIALIZE it, and the rewritten file leaves the
    // pre-ADD set (manifest defaults shrink, values persist)
    spark.sql("DELETE FROM sqldml_adddef WHERE rank = 7 AND id >= 4")
    val afterDel = SnapshotTable.read(spark, dir)
    assert(afterDel.filter(col("rank") === 7).count() == 4)
    assert(afterDel.filter(col("rank").isNull).count() == 1)
    val headDefs = SnapshotTable.snapshot(spark, dir,
      SnapshotTable.latestVersion(spark, dir).get).defaults
    assert(headDefs.get("rank").forall(_._2.subsetOf(before)),
      "rewritten files must leave the pre-ADD set")
    // time travel: pre-ADD versions have no column; restore rolls the
    // default back out with the schema
    assert(!SnapshotTable.read(spark, dir, Some(0L))
      .columns.contains("rank"))
    spark.sql(s"RESTORE sqldml_adddef TO VERSION AS OF 0")
    assert(!SnapshotTable.read(spark, dir).columns.contains("rank"))
    assert(SnapshotTable.snapshot(spark, dir,
      SnapshotTable.latestVersion(spark, dir).get).defaults.isEmpty)
    // a default that cannot cast is refused up front
    intercept[IllegalArgumentException] {
      spark.sql(
        "ALTER TABLE sqldml_adddef ADD COLUMN bad INT DEFAULT 'oops'") }
  }

  test("RESTORE TO TIMESTAMP AS OF resolves through the commit timeline") {
    val dir = tmp("rts"); mk(dir, 5L)                    // v0
    Thread.sleep(1200)
    SnapshotTable.append(Seq((100L, "x", 1L)).toDF("id", "name", "score"),
      dir)                                               // v1
    SnapshotSql.bind("sqldml_rts", dir)
    val t0 = SnapshotTable.snapshot(spark, dir, 0L).ts
    // an instant between v0 and v1 resolves to v0 (epoch-millis form)
    spark.sql(s"RESTORE sqldml_rts TO TIMESTAMP AS OF '${t0 + 300}'")
    assert(SnapshotTable.read(spark, dir).count() == 5)
  }

  test("VACUUM RETAIN n HOURS: every version inside the window survives") {
    val dir = tmp("vach"); mk(dir, 10L)
    SnapshotTable.append(Seq((100L, "x", 1L)).toDF("id", "name", "score"),
      dir)                                   // v1, just now
    SnapshotSql.bind("sqldml_vach", dir)
    // a 24h window keeps BOTH versions — nothing is eligible
    val r = spark.sql(
      "VACUUM sqldml_vach RETAIN 24 HOURS DRY RUN").head()
    assert(r.getLong(1) == 0L, s"manifests below a 24h window: $r")
    spark.sql("VACUUM sqldml_vach RETAIN 24 HOURS")
    assert(SnapshotTable.read(spark, dir, Some(0L)).count() == 10)
    // a 0-hour window keeps only the head
    spark.sql("VACUUM sqldml_vach RETAIN 0 HOURS")
    intercept[Exception] { SnapshotTable.read(spark, dir, Some(0L)).count() }
    assert(SnapshotTable.read(spark, dir).count() == 11)
  }

  test("DESCRIBE HISTORY returns the commit log") {
    val dir = tmp("history"); mk(dir)
    SnapshotSql.bind("sqldml_hist", dir)
    spark.sql("DELETE FROM sqldml_hist WHERE id = 0")
    val h = spark.sql("DESCRIBE HISTORY sqldml_hist")
    assert(h.columns.toSeq == Seq("version", "op", "commit_ts", "n_added",
      "n_removed", "n_files", "total_bytes"))
    val ops = h.orderBy("version").select("op").collect().map(_.getString(0))
    assert(ops.head == "append" && ops.last.startsWith("delete"))
  }

  test("graft.`path` addressing works without any binding") {
    val dir = tmp("path"); mk(dir, 10L)
    spark.sql(s"DELETE FROM graft.`$dir` WHERE id < 5")
    assert(SnapshotTable.read(spark, dir).count() == 5)
    assert(spark.sql(s"DESCRIBE HISTORY graft.`$dir`").count() == 2)
  }

  test("non-graft SQL delegates untouched") {
    assert(spark.sql("SELECT 1 AS x").head().getInt(0) == 1)
    Seq((1, 2)).toDF("a", "b").createOrReplaceTempView("sqldml_plain")
    assert(spark.sql("SELECT sum(a + b) AS s FROM sqldml_plain")
      .head().getLong(0) == 3L)
    // DML and DDL over unbound tables and plain views are not ours:
    // each reaches Spark's parser/analyzer and fails with Spark's own
    // error, never graft's
    Seq(
      "DELETE FROM totally_unknown_t",
      "UPDATE sqldml_plain SET a = 1",
      "MERGE INTO sqldml_plain t USING sqldml_plain s ON t.a = s.a " +
        "WHEN MATCHED THEN DELETE",
      "ALTER TABLE sqldml_plain ADD COLUMN c INT",
      "ALTER TABLE totally_unknown_t RENAME TO other_t"
    ).foreach { stmt =>
      val e = intercept[Exception] { spark.sql(stmt) }
      assert(!e.getMessage.contains("graft SQL"), s"$stmt: $e")
    }
    // a non-graft CTAS creates Spark's own table
    spark.sql("CREATE TABLE sqldml_plain_ctas AS SELECT a * 10 AS x " +
      "FROM sqldml_plain")
    try assert(spark.table("sqldml_plain_ctas").head().getInt(0) == 10)
    finally spark.sql("DROP TABLE sqldml_plain_ctas")
    // `graft.<name>` holding no path names a table of a database
    // called graft: Spark's, never a graft directory
    spark.sql("CREATE DATABASE IF NOT EXISTS graft")
    try {
      spark.sql("CREATE TABLE graft.sqldml_db_t AS SELECT 1 AS a")
      spark.sql("INSERT INTO graft.sqldml_db_t VALUES (2)")
      assert(spark.catalog.tableExists("graft", "sqldml_db_t"))
      assert(spark.table("graft.sqldml_db_t").count() == 2)
    } finally spark.sql("DROP DATABASE graft CASCADE")
  }

  test("graft-addressed shapes the commands do not serve fail with graft's message") {
    val dir = tmp("unsupported"); mk(dir, 10L)
    SnapshotSql.bind("sqldml_unsup", dir)
    Seq((1L, 5L)).toDF("id", "d").createOrReplaceTempView("sqldml_unsup_src")
    Seq(
      s"ALTER TABLE graft.`$dir` RENAME TO sqldml_renamed",
      "ALTER TABLE sqldml_unsup RENAME TO sqldml_renamed",
      s"ALTER TABLE graft.`$dir` DROP COLUMNS (name, score)",
      s"MERGE INTO graft.`$dir` t USING sqldml_unsup_src s ON t.id > s.id " +
        "WHEN MATCHED THEN DELETE",
      s"CREATE TABLE IF NOT EXISTS graft.`$dir` AS SELECT 1 AS id"
    ).foreach { stmt =>
      val e = intercept[IllegalArgumentException] { spark.sql(stmt) }
      assert(e.getMessage.startsWith("graft SQL:"), s"$stmt: $e")
    }
    assert(SnapshotTable.latestVersion(spark, dir) == Some(0L))
    assert(SnapshotTable.read(spark, dir).count() == 10)
  }

  test("UPDATE/DELETE with BETWEEN, IN, LIKE, IS NOT NULL match the API row for row") {
    def seed(dir: String): Unit = SnapshotTable.append(
      (0L until 40L).map(i =>
        (i, if (i % 7 == 0) None else Some(s"v$i"), i * 10))
        .toDF("id", "name", "score"), dir)
    val sqlDir = tmp("preds"); val apiDir = tmp("preds-api")
    seed(sqlDir); seed(apiDir)
    SnapshotSql.bind("sqldml_preds", sqlDir)
    spark.sql("UPDATE sqldml_preds SET score = score + 1 " +
      "WHERE id BETWEEN 3 AND 8")
    spark.sql("UPDATE sqldml_preds SET name = 'in' WHERE id IN (10, 12, 14)")
    spark.sql("DELETE FROM sqldml_preds WHERE name LIKE 'v2%'")
    spark.sql("UPDATE sqldml_preds SET score = 0 " +
      "WHERE name IS NOT NULL AND id > 30")
    spark.sql("DELETE FROM sqldml_preds WHERE id NOT BETWEEN 2 AND 36")
    SnapshotTable.updateWhere(spark, apiDir, col("id").between(3, 8),
      Seq("score" -> (col("score") + 1)))
    SnapshotTable.updateWhere(spark, apiDir, col("id").isin(10, 12, 14),
      Seq("name" -> lit("in")))
    SnapshotTable.deleteWhere(spark, apiDir, col("name").like("v2%"))
    SnapshotTable.updateWhere(spark, apiDir,
      col("name").isNotNull && col("id") > 30, Seq("score" -> lit(0L)))
    SnapshotTable.deleteWhere(spark, apiDir, !col("id").between(2, 36))
    def rows(d: String) = SnapshotTable.read(spark, d).orderBy("id")
      .collect().map(r => (r.getLong(0), Option(r.getString(1)),
        r.getLong(2))).toSeq
    val got = rows(sqlDir)
    assert(got == rows(apiDir), "SQL path diverged from the API path")
    // spot checks that each predicate did its work
    // ids 0, 1 (NOT BETWEEN) and 2 (LIKE 'v2%') are gone
    assert(got.map(_._1).min == 3L && got.map(_._1).max == 36L)
    assert(got.filter(r => r._1 >= 3 && r._1 <= 8)
      .forall(r => r._3 == r._1 * 10 + 1))
    assert(got.count(_._2.contains("in")) == 3)
    assert(!got.exists(_._2.exists(_.startsWith("v2"))))
    assert(got.filter(_._1 > 30).forall(r => r._2.isEmpty || r._3 == 0L))
  }

  test("DESCRIBE DETAIL, SHOW CONSTRAINTS, SHALLOW CLONE via SQL") {
    val dir = tmp("detail"); mk(dir)
    SnapshotSql.bind("sqldml_det", dir)
    spark.sql("ALTER TABLE sqldml_det ADD CONSTRAINT pos CHECK (score >= 0)")
    spark.sql("ALTER TABLE sqldml_det RENAME COLUMN name TO label")
    val det = spark.sql("DESCRIBE DETAIL sqldml_det").head()
    assert(det.getLong(0) == 2L)             // version
    assert(det.getLong(3) == 100L)           // n_rows, metadata-only
    assert(det.getString(4).contains("label string"))
    assert(det.getString(5).contains("colmap") &&
      det.getString(5).contains("constraints"))
    val cons = spark.sql("SHOW CONSTRAINTS ON sqldml_det").collect()
    assert(cons.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("pos", "score >= 0")))
    // SHALLOW CLONE from history, then diverge — source untouched
    val cloneDir = tmp("detail-clone")
    spark.sql(s"CREATE TABLE graft.`$cloneDir` SHALLOW CLONE sqldml_det " +
      "VERSION AS OF 0")
    assert(SnapshotTable.read(spark, cloneDir).count() == 100)
    assert(SnapshotTable.read(spark, cloneDir).columns.contains("name"))
    spark.sql(s"DELETE FROM graft.`$cloneDir`")
    assert(SnapshotTable.read(spark, cloneDir).count() == 0)
    assert(SnapshotTable.read(spark, dir).count() == 100)
    // plain CREATE TABLE stays Spark's (no SHALLOW CLONE keyword)
    intercept[Exception] {
      spark.sql("CREATE TABLE sqldml_det_x (a INT) USING nosuchformat")
      spark.sql("INSERT INTO sqldml_det_x VALUES (1)") }
  }

  test("SELECT FROM graft.`path` resolves with no registration; " +
      "VERSION/TIMESTAMP AS OF time-travel") {
    val dir = tmp("select"); mk(dir)                        // v0
    SnapshotTable.deleteWhere(spark, dir, col("id") >= 50L) // v1
    assert(spark.sql(s"SELECT count(*) AS n FROM graft.`$dir`")
      .head().getLong(0) == 50L)
    assert(spark.sql(
      s"SELECT sum(score) AS s FROM graft.`$dir` WHERE id < 10")
      .head().getLong(0) == (0L until 10L).map(_ * 10).sum)
    // version time travel inside plain SQL
    assert(spark.sql(
      s"SELECT count(*) AS n FROM graft.`$dir` VERSION AS OF 0")
      .head().getLong(0) == 100L)
    // timestamp time travel: any instant at/after v1's commit
    val ts = new java.sql.Timestamp(System.currentTimeMillis() + 60000)
    assert(spark.sql(
      s"SELECT count(*) AS n FROM graft.`$dir` TIMESTAMP AS OF '$ts'")
      .head().getLong(0) == 50L)
    // joins across a graft path and an ordinary view
    Seq((1L, "x"), (60L, "y")).toDF("id", "tag")
      .createOrReplaceTempView("sqldml_selj")
    assert(spark.sql(s"SELECT count(*) AS n FROM graft.`$dir` g " +
      "JOIN sqldml_selj j ON g.id = j.id").head().getLong(0) == 1L)
    // a nonexistent graft path falls through to Spark's own error
    intercept[Exception] {
      spark.sql("SELECT * FROM graft.`/no/such/table`").collect() }
  }

  test("TBLPROPERTIES: set/show/unset; enableDeletionVectors routes " +
      "DELETE/UPDATE through merge-on-read; OPTIMIZE materializes") {
    val dir = tmp("props"); mk(dir)
    SnapshotSql.bind("sqldml_props", dir)
    spark.sql("ALTER TABLE sqldml_props SET TBLPROPERTIES " +
      "('graft.enableDeletionVectors' = 'true', 'team' = 'etl')")
    assert(spark.sql("SHOW TBLPROPERTIES sqldml_props").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap ==
      Map("graft.enableDeletionVectors" -> "true", "team" -> "etl"))
    assert(spark.sql("SHOW TBLPROPERTIES sqldml_props ('team')").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("team", "etl")))
    // Spark's parser reserves 'owner' (and provider, location, …):
    // setting it is refused before any commit
    val propsHead = SnapshotTable.latestVersion(spark, dir)
    intercept[ParseException] {
      spark.sql("ALTER TABLE sqldml_props SET TBLPROPERTIES ('owner' = 'x')") }
    assert(SnapshotTable.latestVersion(spark, dir) == propsHead)
    val filesBefore = SnapshotTable.manifestFiles(spark, dir,
      SnapshotTable.latestVersion(spark, dir).get).toSet
    // MoR DELETE: no file rewritten, a vector lands, count exact
    val r = spark.sql("DELETE FROM sqldml_props WHERE id >= 90").head()
    assert(r.getLong(1) == 10L)
    val v1 = SnapshotTable.latestVersion(spark, dir).get
    assert(SnapshotTable.manifestFiles(spark, dir, v1).toSet == filesBefore)
    assert(SnapshotTable.snapshot(spark, dir, v1).dvRefs.nonEmpty)
    assert(SnapshotTable.read(spark, dir).count() == 90)
    // MoR UPDATE: masked old rows + new files, values correct
    spark.sql("UPDATE sqldml_props SET score = score + 1000000 WHERE id < 5")
    val got = SnapshotTable.read(spark, dir)
    assert(got.filter(col("score") >= 1000000L).count() == 5)
    assert(got.count() == 90)
    // OPTIMIZE materializes the vectors
    spark.sql("OPTIMIZE sqldml_props")
    val v3 = SnapshotTable.latestVersion(spark, dir).get
    assert(SnapshotTable.snapshot(spark, dir, v3).dvRefs.isEmpty)
    assert(SnapshotTable.read(spark, dir).count() == 90)
    // UNSET flips back to copy-on-write: the touched file is REWRITTEN
    spark.sql("ALTER TABLE sqldml_props UNSET TBLPROPERTIES " +
      "('graft.enableDeletionVectors')")
    spark.sql("DELETE FROM sqldml_props WHERE id = 0")
    val v4 = SnapshotTable.latestVersion(spark, dir).get
    assert(SnapshotTable.snapshot(spark, dir, v4).dvRefs.isEmpty)
    assert(SnapshotTable.read(spark, dir).count() == 89)
    assert(spark.sql("SHOW TBLPROPERTIES sqldml_props").collect()
      .map(_.getString(0)).toSeq == Seq("team"))
    // properties survive a shallow clone
    val cloneDir = tmp("props-clone")
    SnapshotTable.shallowClone(spark, dir, cloneDir)
    assert(SnapshotTable.snapshot(spark, cloneDir, 0L).props ==
      Map("team" -> "etl"))
  }

  test("CTAS, INSERT OVERWRITE, and TRUNCATE TABLE") {
    val dir = tmp("ctas")
    spark.sql(s"CREATE TABLE graft.`$dir` AS " +
      "SELECT id, id * 2 AS v FROM range(10)")
    assert(spark.sql(s"SELECT sum(v) AS s FROM graft.`$dir`")
      .head().getLong(0) == (0L until 10L).map(_ * 2).sum)
    // plain CREATE refuses an existing table; OR REPLACE replaces
    intercept[IllegalArgumentException] {
      spark.sql(s"CREATE TABLE graft.`$dir` AS SELECT 1 AS x") }
    spark.sql(s"CREATE OR REPLACE TABLE graft.`$dir` AS " +
      "SELECT id, id * 3 AS v FROM range(4)")
    assert(SnapshotTable.read(spark, dir).count() == 4)
    // history retained: the pre-replace version still time-travels
    assert(SnapshotTable.read(spark, dir, Some(0L)).count() == 10)
    // INSERT OVERWRITE: positional replace with insert-casts
    SnapshotSql.bind("sqldml_ctas", dir)
    spark.sql("INSERT OVERWRITE sqldml_ctas " +
      "SELECT CAST(id AS INT), CAST(id AS INT) FROM range(6)")
    val got = SnapshotTable.read(spark, dir)
    assert(got.count() == 6)
    assert(got.schema("v").dataType ==
      org.apache.spark.sql.types.LongType) // cast to the table's type
    // TRUNCATE: one commit empties the table, history keeps the rows
    val r = spark.sql("TRUNCATE TABLE sqldml_ctas").head()
    assert(r.getLong(1) == 6L)
    assert(SnapshotTable.read(spark, dir).count() == 0)
  }

  test("generalized MERGE: conditional clauses, DELETE, NOT MATCHED BY SOURCE") {
    val dir = tmp("mergefull")
    SnapshotTable.append(Seq(
      (1L, 10L, "open"), (2L, 5L, "open"),
      (3L, 7L, "closed"), (4L, 1L, "open")).toDF("id", "qty", "status"), dir)
    SnapshotSql.bind("sqldml_mf", dir)
    Seq((1L, 3L), (3L, 4L), (5L, 9L), (6L, 0L)).toDF("id", "d")
      .createOrReplaceTempView("sqldml_mf_src")
    val r = spark.sql("""
      MERGE INTO sqldml_mf t USING sqldml_mf_src s ON t.id = s.id
      WHEN MATCHED AND t.status = 'open' THEN UPDATE SET qty = t.qty + s.d
      WHEN MATCHED THEN DELETE
      WHEN NOT MATCHED AND s.d > 0 THEN
        INSERT (id, qty, status) VALUES (s.id, s.d, 'new')
      WHEN NOT MATCHED BY SOURCE AND t.qty < 3 THEN DELETE""").head()
    assert(!r.isNullAt(0))
    val got = SnapshotTable.read(spark, dir).orderBy("id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getString(2))).toSeq
    assert(got == Seq((1L, 13L, "open"), (2L, 5L, "open"), (5L, 9L, "new")))
    // by-source UPDATE via SQL; unconditional-before-last refused
    spark.sql("MERGE INTO sqldml_mf t USING sqldml_mf_src s ON t.id = s.id " +
      "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET status = 'stale'")
    assert(SnapshotTable.read(spark, dir)
      .filter(col("status") === "stale").count() == 1) // id=2
    // Spark's parser refuses an unconditional WHEN MATCHED before a
    // conditional one, and a NOT MATCHED BY SOURCE clause written
    // before NOT MATCHED (the standard clause order); nothing commits
    val head = SnapshotTable.latestVersion(spark, dir)
    intercept[ParseException] {
      spark.sql("MERGE INTO sqldml_mf t USING sqldml_mf_src s " +
        "ON t.id = s.id WHEN MATCHED THEN DELETE " +
        "WHEN MATCHED AND t.qty > 0 THEN UPDATE SET qty = 0") }
    intercept[ParseException] {
      spark.sql("MERGE INTO sqldml_mf t USING sqldml_mf_src s " +
        "ON t.id = s.id WHEN NOT MATCHED BY SOURCE THEN DELETE " +
        "WHEN NOT MATCHED THEN INSERT *") }
    assert(SnapshotTable.latestVersion(spark, dir) == head)
  }

  test("MERGE clauses carry bare CASE WHEN … END in conditions, SET exprs and INSERT values") {
    // an unparenthesized CASE inside AND conditions or assignments
    // never mis-splits a clause; SQL path checked row-for-row against
    // the API path on a twin table.
    import graft.sources.SnapshotTable.{MergeAction, MergeClause}
    def seed(dir: String): Unit = SnapshotTable.append(Seq(
      (1L, 10L, "open"), (2L, 5L, "vip"), (3L, 7L, "open"))
      .toDF("id", "qty", "status"), dir)
    val sqlDir = tmp("mergecase"); val apiDir = tmp("mergecase-api")
    seed(sqlDir); seed(apiDir)
    val src = Seq((1L, 3L), (2L, 4L), (5L, 9L)).toDF("id", "d")
    src.createOrReplaceTempView("sqldml_mc_src")
    SnapshotSql.bind("sqldml_mc", sqlDir)
    spark.sql("""
      MERGE INTO sqldml_mc t USING sqldml_mc_src s ON t.id = s.id
      WHEN MATCHED AND CASE WHEN t.status = 'vip' THEN true
                            ELSE s.d > 2 END THEN
        UPDATE SET qty = t.qty + CASE WHEN s.d > 3 THEN s.d * 2
                                      ELSE s.d END
      WHEN NOT MATCHED AND CASE WHEN s.d > 5 THEN true ELSE false END THEN
        INSERT (id, qty, status) VALUES (s.id, s.d,
          CASE WHEN s.d > 8 THEN 'big' ELSE 'new' END)""")
    SnapshotTable.mergeInto(spark, apiDir, src, Seq("id"),
      matched = Seq(MergeClause(
        Some(expr("CASE WHEN t.status = 'vip' THEN true ELSE s.d > 2 END")),
        MergeAction.Update(Seq("qty" ->
          expr("t.qty + CASE WHEN s.d > 3 THEN s.d * 2 ELSE s.d END"))))),
      notMatched = Seq(MergeClause(
        Some(expr("CASE WHEN s.d > 5 THEN true ELSE false END")),
        MergeAction.Insert(Seq("id" -> expr("s.id"), "qty" -> expr("s.d"),
          "status" -> expr("CASE WHEN s.d > 8 THEN 'big' ELSE 'new' END"))))))
    def rows(d: String) = SnapshotTable.read(spark, d).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    val got = rows(sqlDir)
    assert(got == Seq((1L, 13L, "open"), (2L, 13L, "vip"),
      (3L, 7L, "open"), (5L, 9L, "big")))
    assert(got == rows(apiDir), "SQL path diverged from the API path")
  }

  test("MERGE ON with differing key names, alias-disambiguated") {
    val dir = tmp("mergekeys")
    SnapshotTable.append(Seq((1L, 10L), (2L, 20L)).toDF("id", "qty"), dir)
    SnapshotSql.bind("sqldml_mk", dir)
    Seq((1L, 100L), (3L, 300L)).toDF("src_id", "v")
      .createOrReplaceTempView("sqldml_mk_src")
    spark.sql("MERGE INTO sqldml_mk t USING sqldml_mk_src s " +
      "ON t.id = s.src_id " +
      "WHEN MATCHED THEN UPDATE SET qty = s.v " +
      "WHEN NOT MATCHED THEN INSERT (id, qty) VALUES (s.src_id, s.v)")
    val got = SnapshotTable.read(spark, dir).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 100L), (2L, 20L), (3L, 300L)))
    // unqualified differing names are ambiguous — refused loudly
    intercept[IllegalArgumentException] {
      spark.sql("MERGE INTO sqldml_mk t USING sqldml_mk_src s " +
        "ON id = src_id WHEN MATCHED THEN DELETE") }
  }

  test("DML on a graft-backed temp view with no binding fails with a re-register hint") {
    // a view created by hand over dataFrame() (not via register) is
    // graft-backed but unbound — the diagnostic must name the fix,
    // not delegate into Spark's unrelated "v2 tables" DML error
    val dir = tmp("unbound"); mk(dir)
    SnapshotSql.dataFrame(spark, dir)
      .createOrReplaceTempView("sqldml_unbound")
    val e = intercept[IllegalStateException] {
      spark.sql("DELETE FROM sqldml_unbound WHERE id = 1") }
    assert(e.getMessage.contains("re-register"))
    // a DERIVED view over the same table still delegates (it must
    // never become a writable address) — Spark's own error, not ours
    SnapshotSql.dataFrame(spark, dir).filter(col("id") < 10)
      .createOrReplaceTempView("sqldml_derived")
    val e2 = intercept[Exception] {
      spark.sql("DELETE FROM sqldml_derived WHERE id = 1") }
    assert(!e2.isInstanceOf[IllegalStateException] ||
      !e2.getMessage.contains("re-register"))
  }

  test("non-graft CREATE TABLE containing the word 'shallow' delegates") {
    // round-8 regression: the SHALLOW pre-check claimed any CREATE
    // TABLE whose text contained the identifier, then failed on the
    // non-graft destination — violating the delegation guarantee
    Seq((1, 2)).toDF("shallow", "x").createOrReplaceTempView("sqldml_shsrc")
    spark.sql(
      "CREATE TABLE sqldml_sh_tbl AS SELECT shallow FROM sqldml_shsrc")
    try assert(spark.table("sqldml_sh_tbl").count() == 1)
    finally spark.sql("DROP TABLE sqldml_sh_tbl")
    // a table NAMED shallow delegates too
    spark.sql("CREATE TABLE shallow AS SELECT 1 AS a")
    try assert(spark.table("shallow").count() == 1)
    finally spark.sql("DROP TABLE shallow")
  }

  test("PARTITIONED BY / CLUSTERED BY CTAS route through the layout writers") {
    val pdir = tmp("ctas-part")
    spark.sql(s"CREATE TABLE graft.`$pdir` PARTITIONED BY (k) AS " +
      "SELECT id, CAST(id % 3 AS INT) AS k FROM range(30)")
    // the partition column carries per-file min==max stats → an
    // equality probe prunes to exactly the owning files
    val (kept, total) = SnapshotTable.pruneFilesEq(spark, pdir, "k", 1)
    assert(total >= 3 && kept.size < total,
      s"partition pruning should drop files: $kept of $total")
    assert(SnapshotTable.readWhereEq(spark, pdir, "k", 1).count() == 10)
    val bdir = tmp("ctas-bucket")
    spark.sql(s"CREATE TABLE graft.`$bdir` CLUSTERED BY (id) " +
      "SORTED BY (id) INTO 4 BUCKETS AS SELECT id, id * 2 AS v FROM range(40)")
    val b = SnapshotTable.snapshot(spark, bdir,
      SnapshotTable.latestVersion(spark, bdir).get).bucket
    assert(b.exists(s => s.numBuckets == 4 && s.cols == Seq("id")))
    assert(SnapshotTable.read(spark, bdir).count() == 40)
    // OR REPLACE with a layout clause is refused loudly
    intercept[IllegalArgumentException] {
      spark.sql(s"CREATE OR REPLACE TABLE graft.`$bdir` " +
        "CLUSTERED BY (id) INTO 2 BUCKETS AS SELECT 1L AS id") }
  }

  test("INSERT honors storeAssignmentPolicy: malformed values fail loudly") {
    val dir = tmp("ansi")
    SnapshotTable.append(Seq((1L, 10)).toDF("id", "v"), dir)
    SnapshotSql.bind("sqldml_ansi", dir)
    // ANSI (Spark's default): a string that can't cast to INT fails
    // the statement — nothing lands
    intercept[Exception] {
      spark.sql("INSERT INTO sqldml_ansi SELECT 2L, 'oops'") }
    assert(SnapshotTable.read(spark, dir).count() == 1)
    // LEGACY restores the permissive NULL-on-failure cast
    spark.conf.set("spark.sql.storeAssignmentPolicy", "LEGACY")
    try {
      spark.sql("INSERT INTO sqldml_ansi SELECT 2L, 'oops'")
      val got = SnapshotTable.read(spark, dir)
        .filter(col("id") === 2L).head()
      assert(got.isNullAt(1))
    } finally spark.conf.set("spark.sql.storeAssignmentPolicy", "ANSI")
  }

  test("bare-name DML bindings are session-scoped") {
    val dir = tmp("scope"); mk(dir, 10L)
    SnapshotSql.bind(spark, "sqldml_scope", dir)
    // a session that never bound the name delegates to Spark (which
    // can't resolve it) — it can NEVER mutate the graft directory
    val other = spark.newSession()
    intercept[Exception] {
      other.sql("DELETE FROM sqldml_scope WHERE id = 1") }
    assert(SnapshotTable.read(spark, dir).count() == 10)
    // the binding session still resolves
    spark.sql("DELETE FROM sqldml_scope WHERE id = 1")
    assert(SnapshotTable.read(spark, dir).count() == 9)
  }

  test("CREATE TABLE with an explicit schema: empty v0, typed inserts follow") {
    val dir = tmp("ddl")
    spark.sql(s"CREATE TABLE graft.`$dir` (id BIGINT, name STRING, score INT)")
    // empty but fully typed — reads and DML bind before any data lands
    val empty = spark.sql(s"SELECT * FROM graft.`$dir`")
    assert(empty.count() == 0)
    assert(empty.schema.map(f => (f.name, f.dataType.simpleString)) ==
      Seq(("id", "bigint"), ("name", "string"), ("score", "int")))
    spark.sql(s"INSERT INTO graft.`$dir` SELECT 1L, 'a', 10")
    assert(spark.sql(s"SELECT * FROM graft.`$dir`").count() == 1)
    // positional arity is enforced against the declared schema
    intercept[IllegalArgumentException] {
      spark.sql(s"INSERT INTO graft.`$dir` SELECT 2L, 'b'") }
    // recreate refused; trailing clauses refused
    intercept[IllegalStateException] {
      spark.sql(s"CREATE TABLE graft.`$dir` (id BIGINT)") }
    intercept[IllegalArgumentException] {
      spark.sql(s"CREATE TABLE graft.`${dir}2` (id BIGINT) USING parquet") }
  }

  test("STRICT storeAssignmentPolicy refuses unsafe INSERT casts up front") {
    val dir = tmp("strict")
    SnapshotTable.append(Seq((1L, 10)).toDF("id", "v"), dir) // v INT
    SnapshotSql.bind("sqldml_strict", dir)
    spark.conf.set("spark.sql.storeAssignmentPolicy", "STRICT")
    try {
      // double → int is not a safe up-cast: STRICT fails at command
      // time (ANSI would silently truncate 1.5 → 1)
      val e = intercept[IllegalArgumentException] {
        spark.sql("INSERT INTO sqldml_strict SELECT 2L, 1.5D") }
      assert(e.getMessage.contains("STRICT"))
      assert(SnapshotTable.read(spark, dir).count() == 1)
      // safe up-casts still flow (int literal → int column)
      spark.sql("INSERT INTO sqldml_strict SELECT 2L, 7")
      assert(SnapshotTable.read(spark, dir).count() == 2)
    } finally spark.conf.set("spark.sql.storeAssignmentPolicy", "ANSI")
  }

  test("STRICT refuses unsafe MERGE SET expression casts at command time") {
    val dir = tmp("strictmerge")
    SnapshotTable.append(Seq((1L, 10)).toDF("id", "v"), dir) // v INT
    SnapshotSql.bind("sqldml_strictm", dir)
    Seq((1L, 0.5)).toDF("id", "f").createOrReplaceTempView("sqldml_sm_src")
    spark.conf.set("spark.sql.storeAssignmentPolicy", "STRICT")
    try {
      val head = SnapshotTable.latestVersion(spark, dir)
      // the SET expression's type resolves to DOUBLE against the join
      // schema — STRICT refuses BEFORE any data is written (round-9
      // degraded this to the ANSI runtime check)
      val e = intercept[IllegalArgumentException] {
        spark.sql("MERGE INTO sqldml_strictm t USING sqldml_sm_src s " +
          "ON t.id = s.id " +
          "WHEN MATCHED THEN UPDATE SET v = t.v * s.f") }
      assert(e.getMessage.contains("STRICT"))
      assert(SnapshotTable.latestVersion(spark, dir) == head,
        "refusal must happen before any commit")
      // safe up-casts in SET expressions still flow
      spark.sql("MERGE INTO sqldml_strictm t USING sqldml_sm_src s " +
        "ON t.id = s.id WHEN MATCHED THEN UPDATE SET v = t.v + 1")
      assert(SnapshotTable.read(spark, dir).collect().head.getInt(1) == 11)
    } finally spark.conf.set("spark.sql.storeAssignmentPolicy", "ANSI")
  }

  test("schema DDL tolerates parens inside COMMENT literals") {
    val dir = tmp("ddl-comment")
    spark.sql(s"CREATE TABLE graft.`$dir` " +
      "(s STRING COMMENT 'a)b', id BIGINT)")
    val got = spark.sql(s"SELECT * FROM graft.`$dir`")
    assert(got.columns.toSeq == Seq("s", "id"))
  }

  test("a user-built view over a graft table is NEVER a writable DML address") {
    // only register()/registerLive()-created views resolve as DML
    // targets — a filtered user frame must not: DELETE FROM it would
    // wipe the WHOLE base table, not the subset the view exposes
    val dir = tmp("uview"); mk(dir, 10L)
    SnapshotTable.read(spark, dir).filter(col("id") < 3L)
      .createOrReplaceTempView("sqldml_uview")
    intercept[Exception] {
      spark.sql("DELETE FROM sqldml_uview WHERE id = 1") }
    assert(SnapshotTable.read(spark, dir).count() == 10)
  }

  test("registered views resolve DML from CLONED sessions; drop retires the binding") {
    val dir = tmp("clone"); mk(dir, 10L)
    SnapshotSql.registerLive(spark, "sqldml_clone", dir)
    // foreachBatch runs under a CLONED session, which inherits temp
    // views — and with them the DML binding (it rides the view plan,
    // not a per-session map); the round-8 per-session registry made
    // exactly this shape fail to resolve
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[Long]
    in.addData(1L)
    val q = in.toDF().writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.sparkSession.sql("DELETE FROM sqldml_clone WHERE id = 1")
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    assert(SnapshotTable.read(spark, dir).count() == 9)
    // dropping the view retires the name: DML delegates to Spark and
    // can never mutate the old directory again
    spark.catalog.dropTempView("sqldml_clone")
    intercept[Exception] {
      spark.sql("DELETE FROM sqldml_clone WHERE id = 2") }
    assert(SnapshotTable.read(spark, dir).count() == 9)
  }

  test("DML through a live view: SQL reads see SQL writes immediately") {
    val dir = tmp("live"); mk(dir)
    SnapshotSql.registerLive(spark, "sqldml_live", dir) // binds too
    spark.sql("DELETE FROM sqldml_live WHERE id >= 10")
    assert(spark.sql("SELECT count(*) AS n FROM sqldml_live")
      .head().getLong(0) == 10L)
    spark.sql("UPDATE sqldml_live SET score = 0 WHERE id = 5")
    assert(spark.sql("SELECT sum(score) AS s FROM sqldml_live")
      .head().getLong(0) == (0L until 10L).filter(_ != 5).map(_ * 10).sum)
  }
}
