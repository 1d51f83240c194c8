package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.{SnapshotSql, SnapshotTable}

/** Metadata-only type widening (ALTER COLUMN … TYPE): existing files
  * keep their narrow pages, reads upcast through the scan schema,
  * summaries stay valid, appends may arrive at either width. */
class SnapshotWidenSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def tmp(tag: String): String =
    tempDir(s"graft-widen-$tag") + "/t"

  test("int->long: zero rewrite, reads upcast, mixed-width appends, " +
      "stats + Bloom pruning intact, time travel serves the old type") {
    val dir = tmp("i2l")
    SnapshotTable.append(
      (0 until 50).map(i => (i, s"v$i")).toDF("id", "name"),
      dir, statsCols = Seq("id"), bloomCols = Seq("id"))        // v0 int
    val filesBefore = SnapshotTable.manifestFiles(spark, dir, 0L)
    val v = SnapshotTable.widenColumn(spark, dir, "id", LongType) // v1
    assert(SnapshotTable.manifestFiles(spark, dir, v) == filesBefore)
    val df = SnapshotTable.read(spark, dir)
    assert(df.schema("id").dataType == LongType)
    assert(df.agg(sum("id")).head().getLong(0) == (0 until 50).sum.toLong)
    // appends at BOTH widths land; files keep their native width
    SnapshotTable.append(
      (50 until 60).map(i => (i, s"v$i")).toDF("id", "name"), dir) // int batch
    SnapshotTable.append(
      (60L until 70L).map(i => (i, s"v$i")).toDF("id", "name"), dir) // long batch
    val all = SnapshotTable.read(spark, dir)
    assert(all.schema("id").dataType == LongType)
    assert(all.count() == 70)
    // stats range pruning spans mixed-width files ("num" domain)
    val (sel, total) = SnapshotTable.pruneFiles(spark, dir, "id", 55L, 65L)
    assert(sel.nonEmpty && sel.size < total)
    assert(SnapshotTable.readWhere(spark, dir, "id", 55L, 65L).count() == 11)
    // Bloom point lookup: int-built bitsets answer long probes
    // (toString is width-stable along the integral chain)
    assert(SnapshotTable.readWhereEq(spark, dir, "id", 7L).count() == 1)
    assert(SnapshotTable.readWhereEq(spark, dir, "id", 65L).count() == 1)
    // time travel: v0 serves the original int type
    assert(SnapshotTable.read(spark, dir, Some(0L))
      .schema("id").dataType == IntegerType)
  }

  test("float->double and decimal precision growth; refusals: " +
      "narrowing, int->double, cross-kind, bucket-hash column") {
    val dir = tmp("misc")
    SnapshotTable.append(
      Seq((1, 1.5f, BigDecimal("1.50"))).toDF("id", "f", "d")
        .select(col("id"), col("f"), col("d").cast("decimal(10,2)")),
      dir)
    SnapshotTable.widenColumn(spark, dir, "f", DoubleType)
    SnapshotTable.widenColumn(spark, dir, "d", DecimalType(20, 2))
    val got = SnapshotTable.read(spark, dir)
    assert(got.schema("f").dataType == DoubleType)
    assert(got.schema("d").dataType == DecimalType(20, 2))
    assert(got.head().getDouble(1) == 1.5)
    intercept[IllegalArgumentException] {
      SnapshotTable.widenColumn(spark, dir, "id", ShortType) } // narrowing
    intercept[IllegalArgumentException] {
      SnapshotTable.widenColumn(spark, dir, "id", DoubleType) } // bloom trap
    intercept[IllegalArgumentException] {
      SnapshotTable.widenColumn(spark, dir, "id", StringType) } // cross-kind
    intercept[IllegalArgumentException] {
      SnapshotTable.widenColumn(spark, dir, "d", DecimalType(22, 4)) } // scale move
    // bucket-hash columns refuse (murmur3 is width-sensitive)
    val bdir = tmp("bucket")
    SnapshotTable.appendBucketed(
      (0 until 20).map(i => (i, i * 2)).toDF("k", "v"), bdir, Seq("k"), 4)
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.widenColumn(spark, bdir, "k", LongType) }
    assert(e.getMessage.contains("bucket"))
  }

  test("restore across a widen rolls the type back consistently " +
      "(wide files can never pair with a narrow schema)") {
    val dir = tmp("restore")
    SnapshotTable.append(
      (0 until 10).map(i => (i, i)).toDF("id", "v"), dir)           // v0 int
    SnapshotTable.widenColumn(spark, dir, "v", LongType)            // v1
    SnapshotTable.append(
      Seq((100, 5000000000L)).toDF("id", "v"), dir)                 // v2 wide rows
    assert(SnapshotTable.read(spark, dir)
      .agg(max("v")).head().getLong(0) == 5000000000L)
    // restore to v0: int schema AND the int-only file list reinstate
    // together — a wide file can never be read under a narrow schema
    SnapshotTable.restore(spark, dir, 0L)
    val got = SnapshotTable.read(spark, dir)
    assert(got.schema("v").dataType == IntegerType)
    assert(got.count() == 10)
    // the wide version still time-travels with ITS schema
    assert(SnapshotTable.read(spark, dir, Some(2L))
      .agg(max("v")).head().getLong(0) == 5000000000L)
    // widening again after the rollback works
    SnapshotTable.widenColumn(spark, dir, "v", LongType)
    assert(SnapshotTable.read(spark, dir).schema("v").dataType == LongType)
  }

  test("widen composes with rename (column mapping) and SQL DML") {
    val dir = tmp("sql")
    SnapshotTable.append(
      (0 until 30).map(i => (i, i * 10)).toDF("id", "score"),
      dir, statsCols = Seq("id"))
    SnapshotSql.bind("widen_t", dir)
    spark.sql("ALTER TABLE widen_t RENAME COLUMN score TO points")
    spark.sql("ALTER TABLE widen_t ALTER COLUMN points TYPE BIGINT")
    val df = SnapshotTable.read(spark, dir)
    assert(df.schema("points").dataType == LongType)
    assert(df.agg(sum("points")).head().getLong(0) ==
      (0 until 30).map(_ * 10).sum.toLong)
    // DML over the widened, renamed column
    spark.sql("UPDATE widen_t SET points = points + 1000000000000 " +
      "WHERE id < 3")
    assert(SnapshotTable.read(spark, dir)
      .filter(col("points") >= 1000000000000L).count() == 3)
    // unsupported widening fails loudly through SQL too
    intercept[IllegalArgumentException] {
      spark.sql("ALTER TABLE widen_t ALTER COLUMN points TYPE INT") }
  }
}
