package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.{MaterializedAgg, SnapshotTable}
import graft.sources.MaterializedAgg.AggSpec

/** Incrementally-maintained aggregate views: after EVERY refresh the
  * view must be row-identical to a full recomputation over the
  * source's current snapshot — across appends, deletes, updates,
  * group birth/death, compaction no-ops, and replayed refreshes. */
class MaterializedAggSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def tmp(tag: String): String =
    tempDir(s"graft-mv-$tag") + "/t"

  private val aggs = Seq(
    AggSpec("n", "", "count"),
    AggSpec("total", "v", "sum_long"),
    AggSpec("amount", "d", "sum_decimal"))

  private def recompute(src: String): DataFrame =
    SnapshotTable.read(spark, src).groupBy("k")
      .agg(count(lit(1)).as("n"),
        coalesce(sum($"v"), lit(0L)).cast("long").as("total"),
        coalesce(sum($"d".cast("decimal(38,6)")), lit(0).cast("decimal(38,6)"))
          .cast("decimal(38,6)").as("amount"))

  private def assertMatches(view: String, src: String): Unit = {
    val got = MaterializedAgg.read(spark, view).orderBy("k").collect().toSeq
    val want = recompute(src).orderBy("k").collect().toSeq
    assert(got == want)
  }

  private def rows(xs: (String, Long, Double)*): DataFrame =
    xs.toDF("k", "v", "d")

  test("create + refresh track appends, deletes, updates, and group death exactly") {
    val src = tmp("src"); val view = tmp("view")
    SnapshotTable.append(rows(("a", 1L, 1.5), ("a", 2L, 0.25),
      ("b", 10L, 3.0)), src)
    val v0 = MaterializedAgg.create(spark, src, view, Seq("k"), aggs, "mv1")
    assert(v0 == 0L)
    assertMatches(view, src)
    // append: existing group grows, new group born
    SnapshotTable.append(rows(("b", 5L, 1.0), ("c", 7L, 2.5)), src)
    assert(MaterializedAgg.refresh(spark, view).contains(1L))
    assertMatches(view, src)
    // delete: group "a" dies entirely, "b" shrinks
    SnapshotTable.deleteWhere(spark, src, $"k" === "a" || $"v" === 5L)
    MaterializedAgg.refresh(spark, view)
    assertMatches(view, src)
    assert(!MaterializedAgg.read(spark, view).collect()
      .exists(_.getString(0) == "a"), "dead group must leave the view")
    // update: delete+insert pair nets into the deltas
    SnapshotTable.updateWhere(spark, src, $"k" === "c",
      Seq("v" -> lit(100L)))
    MaterializedAgg.refresh(spark, view)
    assertMatches(view, src)
  }

  test("refresh is exactly-once: replays and already-current calls are no-ops") {
    val src = tmp("src2"); val view = tmp("view2")
    SnapshotTable.append(rows(("x", 1L, 1.0)), src)
    MaterializedAgg.create(spark, src, view, Seq("k"), aggs, "mv2")
    assert(MaterializedAgg.refresh(spark, view).isEmpty, "already current")
    SnapshotTable.append(rows(("x", 2L, 2.0)), src)
    assert(MaterializedAgg.refresh(spark, view).contains(1L))
    // replayed refresh at the same source head: no-op, view unchanged
    assert(MaterializedAgg.refresh(spark, view).isEmpty)
    assertMatches(view, src)
    val nVersions = SnapshotTable.latestVersion(spark, view).get
    assert(MaterializedAgg.refresh(spark, view).isEmpty)
    assert(SnapshotTable.latestVersion(spark, view).get == nVersions,
      "a no-op refresh must not commit")
  }

  test("compaction-only source commits advance the cursor without touching groups") {
    val src = tmp("src3"); val view = tmp("view3")
    SnapshotTable.append(rows(("p", 1L, 1.0)).coalesce(1), src)
    SnapshotTable.append(rows(("q", 2L, 2.0)).coalesce(1), src)
    MaterializedAgg.create(spark, src, view, Seq("k"), aggs, "mv3")
    SnapshotTable.compact(spark, src)
    val srcV = SnapshotTable.latestVersion(spark, src).get
    assert(MaterializedAgg.refresh(spark, view).contains(srcV))
    assertMatches(view, src)
    // cursor advanced: the next refresh is a clean no-op (it does NOT
    // re-diff across the compaction)
    assert(MaterializedAgg.refresh(spark, view).isEmpty)
  }

  private val mmAggs = Seq(
    AggSpec("n", "", "count"),
    AggSpec("lo", "v", "min"),
    AggSpec("hi", "v", "max"),
    AggSpec("total", "v", "sum_long"))

  private def recomputeMm(src: String): DataFrame =
    SnapshotTable.read(spark, src).groupBy("k")
      .agg(count(lit(1)).as("n"), min($"v").as("lo"), max($"v").as("hi"),
        coalesce(sum($"v"), lit(0L)).cast("long").as("total"))

  private def assertMmMatches(view: String, src: String): Unit = {
    val got = MaterializedAgg.read(spark, view).orderBy("k").collect().toSeq
    val want = recomputeMm(src).orderBy("k").collect().toSeq
    assert(got == want)
  }

  test("min/max views: inserts fold in place; extremum-retracting deletes recompute exactly") {
    val src = tmp("srcmm"); val view = tmp("viewmm")
    SnapshotTable.append(rows(("a", 5L, 0.0), ("a", 9L, 0.0),
      ("b", 3L, 0.0)), src)
    MaterializedAgg.create(spark, src, view, Seq("k"), mmAggs, "mvmm")
    assertMmMatches(view, src)
    // inserts only: new global max for "a", new group "c"
    SnapshotTable.append(rows(("a", 20L, 0.0), ("c", 7L, 0.0)), src)
    MaterializedAgg.refresh(spark, view)
    assertMmMatches(view, src)
    // strictly-inside delete: min/max both survive on the delta path
    SnapshotTable.deleteWhere(spark, src, $"k" === "a" && $"v" === 9L)
    MaterializedAgg.refresh(spark, view)
    assertMmMatches(view, src)
    // extremum retraction: the stored max of "a" (20) dies — recompute
    // must surface 5 as the new max
    SnapshotTable.deleteWhere(spark, src, $"k" === "a" && $"v" === 20L)
    MaterializedAgg.refresh(spark, view)
    assertMmMatches(view, src)
    assert(MaterializedAgg.read(spark, view).filter($"k" === "a")
      .select("lo", "hi").head match {
        case r => r.getLong(0) == 5L && r.getLong(1) == 5L
      })
    // retraction + simultaneous insert in one commit range: update
    // moves "c" 7 → 2 (min retracted AND a new candidate arrives)
    SnapshotTable.updateWhere(spark, src, $"k" === "c", Seq("v" -> lit(2L)))
    MaterializedAgg.refresh(spark, view)
    assertMmMatches(view, src)
    // group death via retraction: deleting "b"'s only row emits a
    // delete, never a recomputed empty group
    SnapshotTable.deleteWhere(spark, src, $"k" === "b")
    MaterializedAgg.refresh(spark, view)
    assertMmMatches(view, src)
    assert(!MaterializedAgg.read(spark, view).collect()
      .exists(_.getString(0) == "b"))
  }

  test("sum_sq_long moments view: variance derives exactly through appends, deletes, updates") {
    val src = tmp("srcsq"); val view = tmp("viewsq")
    SnapshotTable.append(rows(("a", 3L, 0.0), ("a", 5L, 0.0),
      ("b", 10L, 0.0), ("b", 14L, 0.0)), src)
    val sqAggs = Seq(AggSpec("n", "", "count"),
      AggSpec("s", "v", "sum_long"), AggSpec("sq", "v", "sum_sq_long"))
    MaterializedAgg.create(spark, src, view, Seq("k"), sqAggs, "mvsq")
    def recomputeSq() = SnapshotTable.read(spark, src).groupBy("k")
      .agg(count(lit(1)).as("n"),
        coalesce(sum($"v"), lit(0L)).cast("long").as("s"),
        coalesce(sum(($"v".cast("decimal(18,0)") * $"v".cast("decimal(18,0)"))
          .cast("decimal(38,0)")), lit(0).cast("decimal(38,0)"))
          .cast("decimal(38,0)").as("sq"))
    def check(): Unit = {
      val got = MaterializedAgg.read(spark, view).orderBy("k").collect().toSeq
      val want = recomputeSq().orderBy("k").collect().toSeq
      assert(got == want)
      // the derived population variance must equal Spark's var_pop
      val derived = MaterializedAgg.read(spark, view)
        .select($"k", ($"sq".cast("double") / $"n" -
          ($"s".cast("double") / $"n") * ($"s".cast("double") / $"n"))
          .as("vp")).orderBy("k").collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      val direct = SnapshotTable.read(spark, src).groupBy("k")
        .agg(var_pop($"v").as("vp")).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(derived.keySet == direct.keySet)
      derived.foreach { case (k, v) =>
        assert(math.abs(v - direct(k)) < 1e-9, s"var_pop mismatch for $k") }
    }
    check()
    SnapshotTable.append(rows(("a", 7L, 0.0), ("c", 2L, 0.0)), src)
    MaterializedAgg.refresh(spark, view)
    check()
    SnapshotTable.deleteWhere(spark, src, $"k" === "a" && $"v" === 5L)
    MaterializedAgg.refresh(spark, view)
    check()
    SnapshotTable.updateWhere(spark, src, $"k" === "b" && $"v" === 14L,
      Seq("v" -> lit(100L)))
    MaterializedAgg.refresh(spark, view)
    check()
  }

  test("startContinuous: the commit stream keeps the view fresh through appends, deletes, MoR deletes") {
    val src = tmp("srcct"); val view = tmp("viewct")
    val ckpt = tempDir("graft-mv-ckpt")
    SnapshotTable.append(rows(("a", 1L, 1.0), ("b", 2L, 2.0)), src)
    MaterializedAgg.create(spark, src, view, Seq("k"), aggs, "mvct")
    val q = MaterializedAgg.startContinuous(spark, view, ckpt)
    try {
      q.processAllAvailable() // empty-range first batch: view untouched
      assertMatches(view, src)
      SnapshotTable.append(rows(("a", 3L, 3.0), ("c", 4L, 4.0)), src)
      q.processAllAvailable()
      assertMatches(view, src)
      // a rewrite commit (CoW delete) flows through the CDF stream
      SnapshotTable.deleteWhere(spark, src, $"k" === "b")
      // and a merge-on-read delete too
      SnapshotTable.deleteWhereMor(spark, src, $"v" === 3L)
      q.processAllAvailable()
      assertMatches(view, src)
      assert(!MaterializedAgg.read(spark, view).collect()
        .exists(_.getString(0) == "b"))
      // a concurrent manual refresh is a no-op, never a double-apply
      assert(MaterializedAgg.refresh(spark, view).isEmpty)
      assertMatches(view, src)
    } finally q.stop()
  }

  test("second create under the same viewId fails loudly") {
    val src = tmp("src4"); val view = tmp("view4")
    SnapshotTable.append(rows(("z", 1L, 0.5)), src)
    MaterializedAgg.create(spark, src, view, Seq("k"), aggs, "mv4")
    intercept[IllegalStateException] {
      MaterializedAgg.create(spark, src, view, Seq("k"), aggs, "mv4")
    }
  }
}
