package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.SnapshotTable

/** CHECK constraints: manifest-recorded table policy, validated over
  * existing rows at add time and enforced on every value-introducing
  * write path before data lands. SQL semantics — a row violates only
  * when the expression is FALSE; NULL passes. */
class SnapshotConstraintSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def tmp(tag: String): String =
    tempDir(s"graft-ck-$tag") + "/t"

  test("addConstraint validates existing rows; enforcement blocks bad appends pre-write") {
    val dir = tmp("basic")
    SnapshotTable.append(spark.range(0, 50).toDF(), dir)
    // existing data violates → refused, nothing committed
    intercept[IllegalArgumentException] {
      SnapshotTable.addConstraint(spark, dir, "small", "id < 10")
    }
    assert(SnapshotTable.latestVersion(spark, dir).contains(0L))
    val v = SnapshotTable.addConstraint(spark, dir, "bounded", "id < 100")
    assert(SnapshotTable.snapshot(spark, dir, v).constraints ==
      Map("bounded" -> "id < 100"))
    // violating batch refused BEFORE any data write or commit
    intercept[IllegalArgumentException] {
      SnapshotTable.append(spark.range(90, 120).toDF(), dir)
    }
    assert(SnapshotTable.latestVersion(spark, dir).contains(v))
    // valid batch lands; duplicate name refused
    SnapshotTable.append(spark.range(50, 99).toDF(), dir)
    assert(SnapshotTable.read(spark, dir).count() == 99)
    intercept[IllegalArgumentException] {
      SnapshotTable.addConstraint(spark, dir, "bounded", "id < 5")
    }
  }

  test("a shallow clone keeps the source's constraints: a violating append to it is refused") {
    val src = tmp("clone-src")
    SnapshotTable.append(spark.range(0, 20).toDF(), src)
    SnapshotTable.addConstraint(spark, src, "bounded", "id < 100")
    val dst = tmp("clone-dst")
    SnapshotTable.shallowClone(spark, src, dst)
    assert(SnapshotTable.snapshot(spark, dst, 0L).constraints ==
      Map("bounded" -> "id < 100"))
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.append(spark.range(95, 105).toDF(), dst)
    }
    assert(e.getMessage.contains("bounded"))
    assert(SnapshotTable.latestVersion(spark, dst).contains(0L))
    SnapshotTable.append(spark.range(20, 30).toDF(), dst)
    assert(SnapshotTable.read(spark, dst).count() == 30)
  }

  test("constraints gate update/merge/transactional paths and clear on drop") {
    val dir = tmp("paths")
    SnapshotTable.append(spark.range(0, 30).toDF()
      .withColumn("score", lit(50L)), dir)
    SnapshotTable.addConstraint(spark, dir, "score_range",
      "score >= 0 AND score <= 100")
    // CoW update to a violating value refused
    intercept[IllegalArgumentException] {
      SnapshotTable.updateWhere(spark, dir, $"id" < 5L,
        Seq("score" -> lit(999L)))
    }
    // MoR update refused the same way
    intercept[IllegalArgumentException] {
      SnapshotTable.updateWhereMor(spark, dir, $"id" < 5L,
        Seq("score" -> lit(-1L)))
    }
    // merge with a violating source refused
    intercept[IllegalArgumentException] {
      SnapshotTable.merge(spark, dir,
        Seq((1L, 500L)).toDF("id", "score"), Seq("id"))
    }
    // transactional append refused (ledger not advanced)
    intercept[IllegalArgumentException] {
      SnapshotTable.transactionalAppend(
        Seq((100L, -5L)).toDF("id", "score"), dir, "app", 1L)
    }
    // valid forms of all of the above land
    SnapshotTable.updateWhere(spark, dir, $"id" < 5L,
      Seq("score" -> lit(100L)))
    SnapshotTable.merge(spark, dir,
      Seq((1L, 0L)).toDF("id", "score"), Seq("id"))
    assert(SnapshotTable.transactionalAppend(
      Seq((100L, 7L)).toDF("id", "score"), dir, "app", 1L).nonEmpty)
    // drop → previously violating batch lands
    SnapshotTable.dropConstraint(spark, dir, "score_range")
    SnapshotTable.append(Seq((200L, 999L)).toDF("id", "score"), dir)
    assert(SnapshotTable.read(spark, dir).count() == 32)
  }

  test("NULL passes (SQL CHECK semantics) — including evolved columns the batch lacks") {
    val dir = tmp("null")
    SnapshotTable.append(Seq((1L, "a")).toDF("id", "tag"), dir)
    SnapshotTable.addConstraint(spark, dir, "tag_short", "length(tag) < 5")
    // NULL tag passes
    SnapshotTable.append(Seq((2L, null.asInstanceOf[String]))
      .toDF("id", "tag"), dir)
    // a batch WITHOUT the constrained column NULL-backfills → passes
    SnapshotTable.append(Seq(Tuple1(3L)).toDF("id"), dir)
    assert(SnapshotTable.read(spark, dir).count() == 3)
    // a real violation still refuses
    intercept[IllegalArgumentException] {
      SnapshotTable.append(Seq((4L, "toolong")).toDF("id", "tag"), dir)
    }
  }

  test("commit-loop recheck gates a batch against a concurrently added constraint") {
    // recheckConstraints is what every commit loop calls after
    // rebasing: simulate the race directly — a batch validated
    // against an EMPTY set meets a head that now records a
    // constraint its rows violate.
    val dir = tmp("race")
    SnapshotTable.append(spark.range(0, 10).toDF(), dir)
    val files = SnapshotTable.manifestFiles(spark, dir, 0L)
    // the state a commit would publish with the batch `files` landed
    // on a head recording `cs`
    def next(cs: Map[String, String]) = SnapshotTable.TableState(
      files = files, txns = Map.empty, stats = Map.empty,
      bloomRefs = Map.empty, bloomCols = Nil,
      schema = SnapshotTable.snapshot(spark, dir, 0L).schema,
      sizes = SnapshotTable.manifestSizes(spark, dir, 0L), constraints = cs)
    val cs = Map("bounded" -> "id < 5")
    // nothing validated yet → the written files re-probe and refuse
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.recheckConstraints(spark, dir, next(cs), Map.empty,
        files, "append")
    }
    assert(e.getMessage.contains("bounded"))
    // already-validated identical set → no re-probe, passes through
    assert(SnapshotTable.recheckConstraints(spark, dir, next(cs), cs,
      files, "append") == cs)
    // a conforming batch against a fresh constraint validates and
    // returns the merged set
    val ok = Map("nonneg" -> "id >= 0")
    assert(SnapshotTable.recheckConstraints(spark, dir, next(ok), Map.empty,
      files, "append") == ok)
  }

  test("constraints and bucket claims survive vacuum's checkpoint rewrite") {
    val dir = tmp("vac")
    val df = spark.range(0, 100)
      .select(col("id").as("k"), (col("id") % 7).as("v"))
    SnapshotTable.appendBucketed(df.filter($"k" < 50), dir, Seq("k"), 4)
    SnapshotTable.addConstraint(spark, dir, "k_pos", "k >= 0")
    SnapshotTable.appendBucketed(df.filter($"k" >= 50), dir, Seq("k"), 4)
    val head = SnapshotTable.latestVersion(spark, dir).get
    assert(head == 2L)
    // vacuum with keepVersions=2 → keepFrom=1 gets the self-containment
    // rewrite; policy recorded at v1 (constraint) must survive, and so
    // must v2's bucket claim resolution through the rewritten chain
    SnapshotTable.vacuum(spark, dir, keepVersions = 2, minAgeMs = 0L)
    assert(SnapshotTable.snapshot(spark, dir, head).constraints ==
      Map("k_pos" -> "k >= 0"))
    assert(SnapshotTable.snapshot(spark, dir, head).bucket.nonEmpty)
    // and enforcement still works post-vacuum
    intercept[IllegalArgumentException] {
      SnapshotTable.append(Seq((-1L, 0L)).toDF("k", "v"), dir)
    }
    assert(SnapshotTable.read(spark, dir).count() == 100)
  }
}
