package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.{SnapshotSql, SnapshotTable}
import graft.sources.SnapshotTable.BucketLayout

/** Bucketed snapshot tables: the manifest-committed BucketSpec claim.
  * The contract under test — file names carry Spark-parseable bucket
  * ids, every row sits in the file its `pmod(hash(cols), n)` says,
  * co-bucketed joins plan with zero Exchange through the SQL
  * surfaces, and any commit that can't uphold the claim CLEARS it
  * rather than mis-co-locating a join. */
class SnapshotBucketSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def tmp(tag: String): String =
    tempDir(s"graft-bk-$tag") + "/t"

  test("appendBucketed: files carry bucket ids and rows honor Spark's bucket hash") {
    val dir = tmp("hash")
    val df = spark.range(0, 500)
      .select(col("id").as("k"), (col("id") % 13).as("v"))
    SnapshotTable.appendBucketed(df, dir, Seq("k"), numBuckets = 8)
    assert(SnapshotTable.snapshot(spark, dir, 0L).bucket
      .contains(BucketLayout(8, Seq("k"), Nil)))
    // one file per non-empty bucket, Spark-parseable _NNNNN names
    val files = SnapshotTable.manifestFiles(spark, dir, 0L)
    val idRe = """.*_(\d+)(?:\..*)?$""".r
    val ids = files.map { f =>
      f match { case idRe(id) => id.toInt
                case _ => fail(s"unparseable bucket file name: $f") }
    }
    assert(ids.toSet.subsetOf((0 until 8).toSet) && ids.size == ids.distinct.size)
    // every row is in the file its bucket hash owns
    val perFile = SnapshotTable.read(spark, dir)
      .withColumn("_f", element_at(split(input_file_name(), "/"), -1))
      .withColumn("_expected", pmod(hash(col("k")), lit(8)))
      .collect()
    perFile.foreach { r =>
      val fileId = r.getString(r.fieldIndex("_f")) match {
        case idRe(id) => id.toInt }
      assert(fileId == r.getInt(r.fieldIndex("_expected")),
        s"row ${r.getLong(0)} in bucket-$fileId file, hash says " +
          r.getInt(r.fieldIndex("_expected")))
    }
    // round trip
    assert(SnapshotTable.read(spark, dir).as[(Long, Long)].collect().toSet ==
      (0L until 500L).map(i => (i, i % 13)).toSet)
  }

  test("co-bucketed snapshot tables join with zero Exchange through SQL surfaces") {
    val a = tmp("a"); val b = tmp("b")
    val orders = spark.range(0, 1000)
      .select(col("id").as("k"), (col("id") % 7).as("ov"))
    val items = spark.range(0, 3000)
      .select((col("id") % 1000).as("k"), col("id").as("iv"))
    SnapshotTable.appendBucketed(orders, a, Seq("k"), 8, sortBy = Seq("k"))
    SnapshotTable.appendBucketed(items, b, Seq("k"), 8, sortBy = Seq("k"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = SnapshotSql.dataFrame(spark, a)
        .join(SnapshotSql.dataFrame(spark, b), "k")
      assert(joined.count() == 3000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"co-bucketed snapshot join must not shuffle:\n$plan")
      // the format("graft") surface rides the same relation
      val viaFormat = spark.read.format("graft").load(a)
        .join(spark.read.format("graft").load(b), "k")
      assert(viaFormat.count() == 3000)
      assert(!viaFormat.queryExecution.executedPlan.toString
        .contains("Exchange"))
      // groupBy on the bucket column: partial+final agg, no Exchange
      val agg = SnapshotSql.dataFrame(spark, b).groupBy("k")
        .agg(sum("iv").as("s"))
      assert(agg.count() == 1000)
      assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("same-spec appends accrete; mismatched spec rejected; plain append clears the claim") {
    val dir = tmp("spec")
    val mk = (lo: Int, hi: Int) => spark.range(lo, hi)
      .select(col("id").as("k"), (col("id") * 2).as("v"))
    SnapshotTable.appendBucketed(mk(0, 100), dir, Seq("k"), 4)
    SnapshotTable.appendBucketed(mk(100, 200), dir, Seq("k"), 4)
    assert(SnapshotTable.snapshot(spark, dir, 1L).bucket
      .contains(BucketLayout(4, Seq("k"), Nil)))
    assert(SnapshotTable.read(spark, dir).count() == 200)
    intercept[IllegalArgumentException] {
      SnapshotTable.appendBucketed(mk(200, 300), dir, Seq("k"), 8)
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.appendBucketed(mk(200, 300), dir, Seq("v"), 4)
    }
    // a plain append can't uphold the claim — it must clear, and the
    // read surface must fall back to normal (non-bucketed) scans
    SnapshotTable.append(mk(200, 300), dir)
    val v = SnapshotTable.latestVersion(spark, dir).get
    assert(SnapshotTable.snapshot(spark, dir, v).bucket.isEmpty)
    assert(SnapshotSql.dataFrame(spark, dir).count() == 300)
    // time travel still sees the bucketed claim at the old version
    assert(SnapshotTable.snapshot(spark, dir, 1L).bucket.nonEmpty)
    // and a CoW rewrite on a bucketed table clears too
    val dir2 = tmp("cow")
    SnapshotTable.appendBucketed(mk(0, 100), dir2, Seq("k"), 4)
    SnapshotTable.deleteWhere(spark, dir2, col("k") < 10L)
    val v2 = SnapshotTable.latestVersion(spark, dir2).get
    assert(SnapshotTable.snapshot(spark, dir2, v2).bucket.isEmpty)
    assert(SnapshotTable.read(spark, dir2).count() == 90)
  }

  test("compact(bucketBy) converts an existing table in place; plain compact clears the claim") {
    val dir = tmp("conv")
    val df = spark.range(0, 600)
      .select(col("id").as("k"), (col("id") % 11).as("v"))
    // plain appends: unbucketed table
    SnapshotTable.append(df.filter(col("k") < 300), dir)
    SnapshotTable.append(df.filter(col("k") >= 300), dir)
    assert(SnapshotTable.snapshot(spark, dir,
      SnapshotTable.latestVersion(spark, dir).get).bucket.isEmpty)
    // in-place conversion
    val v = SnapshotTable.compact(spark, dir,
      bucketBy = Seq("k"), numBuckets = 4).get
    assert(SnapshotTable.snapshot(spark, dir, v).bucket
      .contains(BucketLayout(4, Seq("k"), Nil)))
    assert(SnapshotTable.read(spark, dir).count() == 600)
    // bucketed appends now accrete on the converted table
    SnapshotTable.appendBucketed(
      spark.range(600, 700).select(col("id").as("k"),
        (col("id") % 11).as("v")), dir, Seq("k"), 4)
    assert(SnapshotTable.snapshot(spark, dir, v + 1).bucket.nonEmpty)
    // zero-Exchange groupBy through the SQL surface post-conversion
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val agg = SnapshotSql.dataFrame(spark, dir).groupBy("k")
        .agg(count(lit(1)).as("n"))
      assert(agg.count() == 700)
      assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    // a plain (size-driven) compact rewrites names — claim must clear
    val v2 = SnapshotTable.compact(spark, dir).getOrElse(
      fail("plain compact of a 5-file table must rewrite"))
    assert(SnapshotTable.snapshot(spark, dir, v2).bucket.isEmpty)
    assert(SnapshotTable.read(spark, dir).count() == 700)
  }

  test("bucketed join result equals the plain join (hash claim is truthful end to end)") {
    val a = tmp("ra"); val b = tmp("rb")
    val left = spark.range(0, 400)
      .select((col("id") % 57).as("k"), col("id").as("lv"))
    val right = spark.range(0, 300)
      .select((col("id") % 57).as("k"), (col("id") * 3).as("rv"))
    SnapshotTable.appendBucketed(left, a, Seq("k"), 6)
    SnapshotTable.appendBucketed(right, b, Seq("k"), 6)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val bucketed = SnapshotSql.dataFrame(spark, a)
        .join(SnapshotSql.dataFrame(spark, b), "k")
        .select("k", "lv", "rv").as[(Long, Long, Long)].collect().toSet
      val plain = left.join(right, "k")
        .select("k", "lv", "rv").as[(Long, Long, Long)].collect().toSet
      assert(bucketed == plain)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("a merge-on-read delete keeps the bucket claim; the SQL relation " +
      "still reports it and serves the masked rows") {
    val dir = tmp("mor")
    SnapshotTable.appendBucketed(spark.range(0, 400)
      .select(col("id").as("k"), (col("id") % 13).as("v")), dir, Seq("k"),
      numBuckets = 4)
    SnapshotTable.deleteWhereMor(spark, dir, col("k") % 10 === 3L)
    assert(SnapshotTable.snapshot(spark, dir, 1L).bucket
      .contains(BucketLayout(4, Seq("k"), Nil)))
    val viaSql = SnapshotSql.dataFrame(spark, dir)
    val specs = viaSql.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.relation.location.isInstanceOf[graft.sources.SnapshotFileIndex] =>
        s.relation.bucketSpec
    }
    assert(specs.nonEmpty && specs.forall(_.exists(b =>
      b.numBuckets == 4 && b.bucketColumnNames == Seq("k"))),
      s"the masked SQL relation lost its BucketSpec: $specs")
    // the rows equal a full masked read, and the expected survivors
    val expected = (0L until 400L).filterNot(_ % 10 == 3L)
      .map(i => (i, i % 13)).toSet
    assert(SnapshotTable.read(spark, dir).as[(Long, Long)].collect().toSet ==
      expected)
    assert(viaSql.as[(Long, Long)].collect().toSet == expected)
    assert(viaSql.groupBy("k").count().filter(col("count") =!= 1L).count() ==
      0L)
  }
}
