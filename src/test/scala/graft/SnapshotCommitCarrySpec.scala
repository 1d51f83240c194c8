package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}
import graft.sources.SnapshotTable
import graft.sources.SnapshotTable.{BucketLayout, MergeAction, MergeClause}

/** What each commit carries from the head it lands on. Every committer
  * runs once against a table whose head holds a bucket claim, a CHECK
  * constraint, a property, a column default, a txn entry, a tracked
  * Bloom column and (from the first merge-on-read delete on) deletion
  * vectors; a second, column-mapped table takes the mapping paths,
  * which the bucketed writers refuse. After each commit the head's
  * table-level fields are compared with the expected change, so a
  * commit that drops or invents one of them fails here. */
class SnapshotCommitCarrySpec extends AnyFunSuite with TempDirs {
  import SnapshotCommitCarrySpec.Carried
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def tmp(tag: String): String = tempDir(s"graft-carry-$tag") + "/t"

  private def head(dir: String): Long =
    SnapshotTable.latestVersion(spark, dir).get

  private def files(dir: String, v: Long): Set[String] =
    SnapshotTable.manifestFiles(spark, dir, v).toSet

  private def carried(dir: String, v: Long): Carried = {
    val s = SnapshotTable.snapshot(spark, dir, v)
    Carried(s.bucket, s.constraints, s.props, s.colMap, s.retired,
      s.defaults, s.txns, s.bloomCols, s.dvRefs)
  }

  /** Every live file of version `v` records its byte size and its row
    * count — what planning and `countRows` read instead of the store. */
  private def assertSizedAndCounted(dir: String, v: Long): Unit = {
    val s = SnapshotTable.snapshot(spark, dir, v)
    val missing = s.files.filterNot(f => s.sizes.contains(f) &&
      s.stats.get(f).exists(_.contains(SnapshotTable.RowsCol)))
    assert(missing.isEmpty, s"v$v: files without a size or row count")
  }

  /** Run one committer; it must land exactly one version, and record
    * a size and a row count for every live file. Returns the head's
    * fields before and after. */
  private def commit(dir: String)(body: => Any): (Carried, Carried) = {
    val v = head(dir)
    val before = carried(dir, v)
    body
    assert(head(dir) == v + 1, "the committer did not land one version")
    assertSizedAndCounted(dir, v + 1)
    (before, carried(dir, v + 1))
  }

  /** Run one committer and compare the new head's fields with
    * `expected` of the old head's. */
  private def pin(dir: String)(body: => Any)(expected: Carried => Carried
                                             ): Unit = {
    val (before, after) = commit(dir)(body)
    assert(after == expected(before))
  }

  /** A merge-on-read commit: every field but the vectors must match
    * `expected`; the vectors gain or replace at least one entry and
    * keep every other. */
  private def pinMor(dir: String)(body: => Any)(expected: Carried => Carried
                                                ): Unit = {
    val (before, after) = commit(dir)(body)
    assert(after.copy(dvRefs = Map.empty) ==
      expected(before).copy(dvRefs = Map.empty))
    val changed = after.dvRefs.toSet -- before.dvRefs.toSet
    assert(changed.nonEmpty && changed.forall(_._2.startsWith("_dv/")))
    assert(before.dvRefs.keySet.subsetOf(after.dvRefs.keySet))
  }

  /** A committer that must land nothing. */
  private def noCommit(dir: String)(body: => Option[Long]): Unit = {
    val v = head(dir)
    assert(body.isEmpty)
    assert(head(dir) == v)
  }

  /** What file-keyed fields keep after a commit whose live files are
    * `live`: defaults and vectors of rewritten files retire. */
  private def onLive(c: Carried, live: Set[String]): Carried = c.copy(
    defaults = c.defaults
      .map { case (k, (x, pre)) => k -> (x, pre.intersect(live)) }
      .filter(_._2._2.nonEmpty),
    dvRefs = c.dvRefs.filter { case (f, _) => live(f) })

  /** A shallow clone of `src` (the fields of `dir`'s head) at v0: no
    * ledger, and file keys made absolute. */
  private def cloned(dir: String, src: Carried): Carried = {
    def abs(p: String) = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(dir), p).toUri.getPath
    src.copy(txns = Map.empty,
      defaults = src.defaults.map { case (k, (x, pre)) =>
        k -> (x, pre.map(abs)) },
      dvRefs = src.dvRefs.map { case (f, r) => abs(f) -> abs(r) })
  }

  private def batch(from: Long, until: Long): DataFrame =
    spark.range(from, until).select(col("id"),
      concat(lit("k"), (col("id") % 3).cast("string")).as("k"),
      (col("id") * 10).cast("int").as("v"))

  private val layout = BucketLayout(2, Seq("id"), Nil)

  test("every committer carries or clears each table-level field as " +
      "pinned (bucketed, constrained, defaulted, ledgered table)") {
    val t = tmp("plain")
    def live = files(t, head(t))
    SnapshotTable.appendBucketed(batch(0, 40), t, Seq("id"), 2,
      statsCols = Seq("id"), bloomCols = Seq("k"))
    assert(carried(t, 0L) == Carried(Some(layout), Map.empty, Map.empty,
      Map.empty, Nil, Map.empty, Map.empty, Seq("k"), Map.empty))

    pin(t)(SnapshotTable.addConstraint(spark, t, "nonneg", "id >= 0"))(
      _.copy(constraints = Map("nonneg" -> "id >= 0")))
    pin(t)(SnapshotTable.setProperties(spark, t, Map("team" -> "core")))(
      _.copy(props = Map("team" -> "core")))
    val preAdd = live
    pin(t)(SnapshotTable.addColumn(spark, t, "d", LongType,
      default = Some(7L)))(_.copy(defaults = Map("d" -> ("7", preAdd))))
    pin(t)(SnapshotTable.advanceTxn(spark, t, "app", 1L))(
      _.copy(txns = Map("app" -> 1L)))
    noCommit(t)(SnapshotTable.advanceTxn(spark, t, "app", 1L))
    pin(t)(SnapshotTable.widenColumn(spark, t, "v", LongType))(identity)
    pin(t)(SnapshotTable.appendBucketed(batch(40, 60), t, Seq("id"), 2))(
      identity)
    val bucketedV = head(t)
    pin(t)(SnapshotTable.addConstraint(spark, t, "small", "id < 1000000"))(
      b => b.copy(constraints = b.constraints + ("small" -> "id < 1000000")))
    pin(t)(SnapshotTable.dropConstraint(spark, t, "small"))(
      _.copy(constraints = Map("nonneg" -> "id >= 0")))
    pin(t)(SnapshotTable.setProperties(spark, t, Map("tier" -> "gold")))(
      b => b.copy(props = b.props + ("tier" -> "gold")))
    pin(t)(SnapshotTable.unsetProperties(spark, t, Seq("tier")))(
      _.copy(props = Map("team" -> "core")))

    // A merge-on-read delete adds no file, so the bucket claim holds;
    // a merge-on-read update lands unbucketed files and clears it.
    pinMor(t)(SnapshotTable.deleteWhereMor(spark, t, col("id") === 3L))(
      identity)
    pinMor(t)(SnapshotTable.updateWhereMor(spark, t, col("id") === 4L,
      Seq("v" -> (col("v") + 1L))))(_.copy(bucket = None))
    val morV = head(t)
    pin(t)(SnapshotTable.transactionalAppend(batch(60, 70), t, "app2", 1L))(
      b => b.copy(txns = b.txns + ("app2" -> 1L)))
    noCommit(t)(SnapshotTable.transactionalAppend(batch(60, 70), t,
      "app2", 1L))
    pin(t)(SnapshotTable.appendPartitioned(batch(70, 76), t, Seq("k")))(
      identity)
    pin(t)(SnapshotTable.transactionalAppendPartitioned(batch(76, 82), t,
      Seq("k"), "app3", 1L))(b => b.copy(txns = b.txns + ("app3" -> 1L)))
    pin(t)(SnapshotTable.advanceTxn(spark, t, "app", 2L))(
      b => b.copy(txns = b.txns + ("app" -> 2L)))
    pin(t)(SnapshotTable.append(batch(82, 90), t))(identity)

    // Copy-on-write rewrites: rewritten files retire their vectors and
    // their pre-ADD default entries.
    pin(t)(SnapshotTable.updateWhere(spark, t, col("id") === 10L,
      Seq("v" -> lit(1L))))(onLive(_, live))
    pin(t)(SnapshotTable.deleteWhere(spark, t, col("id") === 4L))(
      onLive(_, live))
    pin(t)(SnapshotTable.merge(spark, t,
      Seq((11L, "k2", 5L, 3L)).toDF("id", "k", "v", "d"), Seq("id")))(
      onLive(_, live))
    pin(t)(SnapshotTable.mergeInto(spark, t,
      Seq((12L, "k0", 6L), (500L, "k2", 7L)).toDF("id", "k", "v"),
      Seq("id"), matched = Seq(MergeClause(None, MergeAction.UpdateAll)),
      notMatched = Seq(MergeClause(None, MergeAction.InsertAll))))(
      onLive(_, live))
    pin(t)(SnapshotTable.compactWhere(spark, t, "id", 60L, 90L))(
      onLive(_, live))
    pin(t)(SnapshotTable.binPackSmall(spark, t, 1L << 30))(onLive(_, live))
    assert(carried(t, head(t)).dvRefs.isEmpty &&
      carried(t, head(t)).defaults.isEmpty)

    // Restore reinstates the target's files, vectors, bucket claim,
    // mapping and defaults; the head's ledger, constraints and
    // properties carry forward.
    def restored(target: Long)(b: Carried): Carried =
      carried(t, target).copy(constraints = b.constraints, props = b.props,
        txns = b.txns)
    pin(t)(SnapshotTable.restore(spark, t, bucketedV))(restored(bucketedV))
    assert(carried(t, head(t)).bucket.contains(layout))
    noCommit(t)(SnapshotTable.restore(spark, t, bucketedV))
    pin(t)(SnapshotTable.restore(spark, t, morV))(restored(morV))
    assert(carried(t, head(t)).dvRefs.nonEmpty)
    pin(t)(SnapshotTable.compact(spark, t))(
      _.copy(bucket = None, defaults = Map.empty, dvRefs = Map.empty))
    pin(t)(SnapshotTable.compact(spark, t, bucketBy = Seq("id"),
      numBuckets = 2))(_.copy(bucket = Some(layout)))
    pin(t)(SnapshotTable.overwrite(batch(0, 30), t))(_.copy(bucket = None))
    pin(t)(SnapshotTable.addColumn(spark, t, "d", LongType,
      default = Some(9L)))(_.copy(defaults = Map("d" -> ("9", live))))
    pinMor(t)(SnapshotTable.deleteWhereMor(spark, t, col("id") === 1L))(
      identity)
    pin(t)(SnapshotTable.overwrite(batch(0, 20), t))(
      _.copy(defaults = Map.empty, dvRefs = Map.empty))

    // A clone starts its own ledger: txns stay behind; constraints,
    // properties, mapping, Bloom columns and defaults (their file keys
    // made absolute) come along.
    SnapshotTable.addColumn(spark, t, "d2", StringType, default = Some("x"))
    val c = tmp("clone")
    val src = carried(t, head(t))
    assert(SnapshotTable.shallowClone(spark, t, c) == 0L)
    assert(carried(c, 0L) == cloned(t, src))
    assertSizedAndCounted(c, 0L)

    val e = tmp("empty")
    assert(SnapshotTable.createEmpty(spark, e, batch(0, 1).schema) == 0L)
    assert(carried(e, 0L) == Carried(None, Map.empty, Map.empty, Map.empty,
      Nil, Map.empty, Map.empty, Nil, Map.empty))

    // Vacuum rewrites its oldest kept version in checkpoint form, with
    // the same fields.
    val keep = if ((head(t) - 1) % 10 == 0) 3 else 2
    val keepFrom = head(t) - (keep - 1)
    assert(!SnapshotTable.snapshot(spark, t, keepFrom).checkpoint)
    val atKeepFrom = carried(t, keepFrom)
    SnapshotTable.vacuum(spark, t, keepVersions = keep,
      minAgeMs = 24L * 3600 * 1000)
    assert(SnapshotTable.snapshot(spark, t, keepFrom).checkpoint)
    assert(carried(t, keepFrom) == atKeepFrom)
  }

  test("every committer carries or clears each table-level field as " +
      "pinned (column-mapped table)") {
    val m = tmp("mapped")
    def live = files(m, head(m))
    def mapped(df: DataFrame) = df.withColumnRenamed("v", "w")
    SnapshotTable.append(batch(0, 30), m, statsCols = Seq("id"),
      bloomCols = Seq("k"))
    SnapshotTable.addConstraint(spark, m, "nonneg", "id >= 0")
    SnapshotTable.setProperties(spark, m, Map("team" -> "core"))
    SnapshotTable.addColumn(spark, m, "d", LongType, default = Some(7L))
    SnapshotTable.advanceTxn(spark, m, "app", 1L)
    val unmapped = head(m)

    pin(m)(SnapshotTable.renameColumn(spark, m, "v", "w"))(
      _.copy(colMap = Map("w" -> "v")))
    pin(m)(SnapshotTable.append(mapped(batch(30, 40)), m))(identity)
    // Dropping the only Bloom column empties the tracked list, and the
    // delta records the empty list.
    pin(m)(SnapshotTable.dropColumn(spark, m, "k"))(
      _.copy(retired = Seq("k"), bloomCols = Nil))
    pin(m)(SnapshotTable.addColumn(spark, m, "k", StringType))(
      b => b.copy(colMap = b.colMap + ("k" -> "k_p1")))
    pin(m)(SnapshotTable.widenColumn(spark, m, "w", LongType))(identity)
    pinMor(m)(SnapshotTable.deleteWhereMor(spark, m, col("id") === 3L))(
      identity)
    pinMor(m)(SnapshotTable.updateWhereMor(spark, m, col("id") === 4L,
      Seq("w" -> lit(1L))))(identity)
    pin(m)(SnapshotTable.updateWhere(spark, m, col("id") === 5L,
      Seq("w" -> lit(2L))))(onLive(_, live))
    pin(m)(SnapshotTable.transactionalAppend(mapped(batch(40, 45)), m,
      "app2", 1L))(b => b.copy(txns = b.txns + ("app2" -> 1L)))
    pin(m)(SnapshotTable.compact(spark, m))(
      _.copy(defaults = Map.empty, dvRefs = Map.empty))
    pin(m)(SnapshotTable.overwrite(mapped(batch(0, 10)), m))(identity)
    pin(m)(SnapshotTable.setProperties(spark, m, Map("tier" -> "gold")))(
      b => b.copy(props = b.props + ("tier" -> "gold")))
    def restored(target: Long)(b: Carried): Carried =
      carried(m, target).copy(constraints = b.constraints, props = b.props,
        txns = b.txns)
    pin(m)(SnapshotTable.restore(spark, m, unmapped))(restored(unmapped))
    assert(carried(m, head(m)).colMap.isEmpty)
    pin(m)(SnapshotTable.restore(spark, m, unmapped + 3))(
      restored(unmapped + 3))
    assert(carried(m, head(m)).retired == Seq("k"))

    val c = tmp("mapped-clone")
    val src = carried(m, head(m))
    assert(SnapshotTable.shallowClone(spark, m, c) == 0L)
    assert(carried(c, 0L) == cloned(m, src))
  }
}

object SnapshotCommitCarrySpec {
  /** The table-level fields of one version. */
  final case class Carried(
      bucket: Option[BucketLayout],
      constraints: Map[String, String],
      props: Map[String, String],
      colMap: Map[String, String],
      retired: Seq[String],
      defaults: Map[String, (String, Set[String])],
      txns: Map[String, Long],
      bloomCols: Seq[String],
      dvRefs: Map[String, String])
}
