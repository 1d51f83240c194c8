package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.SnapshotTable
import graft.sources.SnapshotTable.{MergeAction, MergeClause}

/** The generalized MERGE kernel ([[SnapshotTable.mergeInto]]):
  * conditional multi-clause semantics (first-match-wins), DELETE,
  * NOT MATCHED BY SOURCE, touched-file scoping, cardinality and cast
  * discipline, and constraint enforcement on introduced rows. */
class SnapshotMergeIntoSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def tmp(tag: String): String =
    tempDir(s"graft-mi-$tag") + "/t"

  private def rows(dir: String): Set[(Long, Long, String)] =
    SnapshotTable.read(spark, dir).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet

  test("full clause matrix: conditional update, delete, conditional insert, by-source delete") {
    val dir = tmp("matrix")
    SnapshotTable.append(Seq(
      (1L, 10L, "open"), (2L, 5L, "open"),
      (3L, 7L, "closed"), (4L, 1L, "open")).toDF("id", "qty", "status"), dir)
    val src = Seq((1L, 3L), (3L, 4L), (5L, 9L), (6L, 0L)).toDF("id", "d")
    val v = SnapshotTable.mergeInto(spark, dir, src, Seq("id"),
      matched = Seq(
        MergeClause(Some(expr("t.status = 'open'")),
          MergeAction.Update(Seq("qty" -> expr("t.qty + s.d")))),
        MergeClause(None, MergeAction.Delete)),
      notMatched = Seq(
        MergeClause(Some(expr("s.d > 0")),
          MergeAction.Insert(Seq(
            "id" -> expr("s.id"), "qty" -> expr("s.d"),
              "status" -> expr("'new'"))))),
      notMatchedBySource = Seq(
        MergeClause(Some(expr("t.qty < 3")), MergeAction.Delete)))
    assert(v.nonEmpty)
    // id1 matched+open → qty 13; id3 matched closed → deleted;
    // id5 unmatched d>0 → inserted; id6 unmatched d=0 → skipped;
    // id2 by-source qty≥3 → kept; id4 by-source qty<3 → deleted
    assert(rows(dir) == Set(
      (1L, 13L, "open"), (2L, 5L, "open"), (5L, 9L, "new")))
  }

  test("UPDATE SET * / by-source UPDATE / unassigned columns NULL on insert") {
    val dir = tmp("star")
    SnapshotTable.append(Seq(
      (1L, 10L, "a"), (2L, 20L, "b")).toDF("id", "qty", "status"), dir)
    // UpdateAll takes same-named source columns, keeps the rest
    SnapshotTable.mergeInto(spark, dir,
      Seq((1L, 99L)).toDF("id", "qty"), Seq("id"),
      matched = Seq(MergeClause(None, MergeAction.UpdateAll)))
    assert(rows(dir) == Set((1L, 99L, "a"), (2L, 20L, "b")))
    // by-source UPDATE marks every unmatched row
    SnapshotTable.mergeInto(spark, dir,
      Seq(Tuple1(1L)).toDF("id"), Seq("id"),
      notMatchedBySource = Seq(
        MergeClause(None, MergeAction.Update(Seq("status" -> expr("'stale'"))))))
    assert(rows(dir) == Set((1L, 99L, "a"), (2L, 20L, "stale")))
    // partial INSERT: unassigned target columns land NULL
    SnapshotTable.mergeInto(spark, dir,
      Seq(Tuple1(7L)).toDF("id"), Seq("id"),
      notMatched = Seq(MergeClause(None,
        MergeAction.Insert(Seq("id" -> expr("s.id"), "qty" -> expr("0"))))))
    val r7 = SnapshotTable.read(spark, dir).filter(col("id") === 7L).head()
    assert(r7.getLong(1) == 0L && r7.isNullAt(2))
  }

  test("only files that can change are rewritten; exact-file carry") {
    val dir = tmp("scope")
    SnapshotTable.append((0L until 50L).map(i => (i, i, "x"))
      .toDF("id", "qty", "status").coalesce(1), dir,
      statsCols = Seq("id"))                                        // file A
    SnapshotTable.append((100L until 150L).map(i => (i, i, "x"))
      .toDF("id", "qty", "status").coalesce(1), dir)                // file B
    val before = SnapshotTable.manifestFiles(spark, dir, 1L).toSet
    // source keys hit file A only; no by-source clauses → B carries
    SnapshotTable.mergeInto(spark, dir,
      Seq((5L, 1L)).toDF("id", "d"), Seq("id"),
      matched = Seq(MergeClause(None,
        MergeAction.Update(Seq("qty" -> expr("t.qty + s.d"))))))
    val after = SnapshotTable.manifestFiles(spark, dir,
      SnapshotTable.latestVersion(spark, dir).get).toSet
    assert((before -- after).size == 1, "exactly one file rewritten")
    assert((before.intersect(after)).size == 1, "the other carried by reference")
    // a by-source condition matching NO rows touches nothing → None
    assert(SnapshotTable.mergeInto(spark, dir,
      spark.emptyDataset[(Long, Long)].toDF("id", "d"), Seq("id"),
      notMatchedBySource = Seq(MergeClause(Some(expr("t.qty < 0")),
        MergeAction.Delete))).isEmpty)
  }

  test("insert-only merge NEVER rewrites files holding matched keys") {
    val dir = tmp("insonly")
    SnapshotTable.append((0L until 50L).map(i => (i, i, "x"))
      .toDF("id", "qty", "status").coalesce(1), dir, statsCols = Seq("id"))
    val before = SnapshotTable.manifestFiles(spark, dir, 0L).toSet
    // half the source keys exist (suppressed), half insert
    val src = Seq((5L, 1L, "dup"), (7L, 2L, "dup"),
      (100L, 3L, "new"), (101L, 4L, "new")).toDF("id", "qty", "status")
    SnapshotTable.mergeInto(spark, dir, src, Seq("id"),
      notMatched = Seq(MergeClause(None, MergeAction.InsertAll)))
    val head = SnapshotTable.latestVersion(spark, dir).get
    val after = SnapshotTable.manifestFiles(spark, dir, head).toSet
    // the key-holding file is READ, never rewritten: it carries
    assert(before.subsetOf(after),
      s"insert-only merge rewrote ${before -- after}")
    val got = rows(dir)
    assert(got.size == 52)                       // 50 kept + 2 inserts
    assert(got.contains((5L, 5L, "x")))          // present key untouched
    assert(got.contains((100L, 3L, "new")))
    assert(!got.exists(r => r._1 == 5L && r._3 == "dup")) // no dup insert
  }

  test("cardinality, clause-order, and cast discipline fail loudly") {
    val dir = tmp("guards")
    SnapshotTable.append(Seq((1L, 1L, "a")).toDF("id", "qty", "status"), dir)
    // duplicate source keys
    intercept[IllegalArgumentException] {
      SnapshotTable.mergeInto(spark, dir,
        Seq((1L, 1L), (1L, 2L)).toDF("id", "d"), Seq("id"),
        matched = Seq(MergeClause(None, MergeAction.UpdateAll)))
    }
    // an unconditional clause before the last shadows the rest
    intercept[IllegalArgumentException] {
      SnapshotTable.mergeInto(spark, dir,
        Seq((1L, 1L)).toDF("id", "d"), Seq("id"),
        matched = Seq(
          MergeClause(None, MergeAction.Delete),
          MergeClause(Some(expr("t.qty > 0")), MergeAction.UpdateAll)))
    }
    // ANSI store cast: a malformed assignment fails the merge
    intercept[Exception] {
      SnapshotTable.mergeInto(spark, dir,
        Seq((1L, 1L)).toDF("id", "d"), Seq("id"),
        matched = Seq(MergeClause(None,
          MergeAction.Update(Seq("qty" -> expr("'oops'"))))))
    }
    assert(rows(dir) == Set((1L, 1L, "a"))) // nothing landed
  }

  test("CHECK constraints validate exactly the introduced rows") {
    val dir = tmp("cons")
    SnapshotTable.append(Seq((1L, 5L, "a"), (2L, 6L, "b"))
      .toDF("id", "qty", "status"), dir)
    SnapshotTable.addConstraint(spark, dir, "pos", "qty > 0")
    // an update violating the constraint is refused
    intercept[IllegalArgumentException] {
      SnapshotTable.mergeInto(spark, dir,
        Seq((1L, 1L)).toDF("id", "d"), Seq("id"),
        matched = Seq(MergeClause(None,
          MergeAction.Update(Seq("qty" -> expr("-1"))))))
    }
    // deletes introduce nothing — they pass even with constraints on
    assert(SnapshotTable.mergeInto(spark, dir,
      Seq((1L, 1L)).toDF("id", "d"), Seq("id"),
      matched = Seq(MergeClause(None, MergeAction.Delete))).nonEmpty)
    assert(rows(dir) == Set((2L, 6L, "b")))
  }

  test("differing ON key names: t.id = s.sid pairs positionally, INSERT * maps the key") {
    val dir = tmp("keypair")
    SnapshotTable.append(Seq((1L, 10L, "a"), (2L, 20L, "b"))
      .toDF("id", "qty", "status"), dir)
    val src = Seq((1L, 5L), (9L, 7L)).toDF("sid", "d")
    SnapshotTable.mergeInto(spark, dir, src, Seq("id"),
      matched = Seq(MergeClause(None,
        MergeAction.Update(Seq("qty" -> expr("t.qty + s.d"))))),
      notMatched = Seq(MergeClause(None,
        MergeAction.Insert(Seq("id" -> expr("s.sid"), "qty" -> expr("s.d"),
          "status" -> expr("'new'"))))),
      sourceKeys = Seq("sid"))
    assert(rows(dir) == Set(
      (1L, 15L, "a"), (2L, 20L, "b"), (9L, 7L, "new")))
    // INSERT * maps a target key to its PAIRED source column
    SnapshotTable.mergeInto(spark, dir,
      Seq((50L, 1L, "z")).toDF("sid", "qty", "status"), Seq("id"),
      notMatched = Seq(MergeClause(None, MergeAction.InsertAll)),
      sourceKeys = Seq("sid"))
    assert(rows(dir).contains((50L, 1L, "z")))
  }

  test("generalized MERGE equals whole-row merge on the upsert shape") {
    val dirA = tmp("eq-a"); val dirB = tmp("eq-b")
    val init = (0L until 30L).map(i => (i, i, "x")).toDF("id", "qty", "status")
    SnapshotTable.append(init, dirA); SnapshotTable.append(init, dirB)
    val src = Seq((3L, 100L, "u"), (99L, 1L, "n")).toDF("id", "qty", "status")
    SnapshotTable.merge(spark, dirA, src, Seq("id"))
    SnapshotTable.mergeInto(spark, dirB, src, Seq("id"),
      matched = Seq(MergeClause(None, MergeAction.UpdateAll)),
      notMatched = Seq(MergeClause(None, MergeAction.InsertAll)))
    assert(rows(dirA) == rows(dirB))
  }

  test("NULL source keys never match, never trip the duplicate probe, insert independently") {
    // SQL/Delta MERGE semantics: a NULL key equi-matches nothing, so
    // several NULL-keyed source rows are independent WHEN NOT MATCHED
    // inserts — not 'duplicate keys'. (The probe once grouped NULLs
    // together and rejected them.)
    val dir = tmp("nullkeys")
    SnapshotTable.append(Seq((1L, 10L, "open")).toDF("id", "qty", "status"),
      dir)
    val src = Seq[(Option[Long], Long)](
      (Some(1L), 5L), (None, 7L), (None, 8L)).toDF("id", "d")
    val v = SnapshotTable.mergeInto(spark, dir, src, Seq("id"),
      matched = Seq(MergeClause(None,
        MergeAction.Update(Seq("qty" -> expr("s.d"))))),
      notMatched = Seq(MergeClause(None, MergeAction.Insert(Seq(
        "id" -> expr("s.id"), "qty" -> expr("s.d"),
          "status" -> expr("'null-key'"))))))
    assert(v.nonEmpty)
    val got = SnapshotTable.read(spark, dir).collect().map(r =>
      (if (r.isNullAt(0)) -1L else r.getLong(0), r.getLong(1),
        r.getString(2))).toSet
    assert(got == Set((1L, 5L, "open"),
      (-1L, 7L, "null-key"), (-1L, 8L, "null-key")))
    // genuine duplicates among NON-NULL keys still fail loudly
    val dup = Seq[(Option[Long], Long)](
      (Some(1L), 2L), (Some(1L), 3L), (None, 4L)).toDF("id", "d")
    val e = intercept[IllegalArgumentException] {
      SnapshotTable.mergeInto(spark, dir, dup, Seq("id"),
        matched = Seq(MergeClause(None,
          MergeAction.Update(Seq("qty" -> expr("s.d"))))))
    }
    assert(e.getMessage.contains("duplicate keys"))
    // an ALL-NULL-key source still runs its inserts (emptiness counts
    // every row, not just keyed ones)
    val nullsOnly = Seq[(Option[Long], Long)]((None, 9L)).toDF("id", "d")
    assert(SnapshotTable.mergeInto(spark, dir, nullsOnly, Seq("id"),
      notMatched = Seq(MergeClause(None, MergeAction.Insert(Seq(
        "id" -> expr("s.id"), "qty" -> expr("s.d"),
          "status" -> expr("'n2'")))))).nonEmpty)
    assert(SnapshotTable.read(spark, dir)
      .filter(col("status") === "n2").count() == 1)
  }

  test("insert-only merge: a concurrent DELETE of a suppressed key fails the commit") {
    // Interleaving pinned with a gate inside the SOURCE's first
    // evaluation (mergeInto's cardinality probe): the merge pins its
    // base, sees key 1 present (suppression), and while it is paused a
    // DELETE of key 1 commits. Pre-fix the merge committed anyway and
    // the suppression silently stood (key 1 lost although the merge
    // ran after the delete); now the holder file is conflict-guarded
    // like a touched file and the merge fails loudly.
    val dir = tmp("supdel")
    SnapshotTable.append(Seq((1L, 10L, "open"), (2L, 5L, "open"))
      .toDF("id", "qty", "status"), dir)
    MergeRaceGate.reset()
    val src = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq((1L, 99L)), 1)
        .mapPartitions { it => MergeRaceGate.pauseFirst(); it },
      ).toDF("id", "d")
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val merger = new Thread(() => {
      try SnapshotTable.mergeInto(spark, dir, src, Seq("id"),
        notMatched = Seq(MergeClause(None, MergeAction.Insert(Seq(
          "id" -> expr("s.id"), "qty" -> expr("s.d"),
            "status" -> expr("'ins'"))))))
      catch { case t: Throwable => err.set(t) }
    })
    merger.start()
    assert(MergeRaceGate.started.await(60,
      java.util.concurrent.TimeUnit.SECONDS), "merge never evaluated source")
    SnapshotTable.deleteWhere(spark, dir, col("id") === 1L) // racing delete
    MergeRaceGate.proceed.countDown()
    merger.join(120000)
    assert(err.get() != null &&
      err.get().isInstanceOf[java.util.ConcurrentModificationException],
      s"expected ConcurrentModificationException, got ${err.get()}")
    // the delete won cleanly; a RETRIED merge now inserts the key
    assert(SnapshotTable.read(spark, dir).filter(col("id") === 1L)
      .count() == 0)
    MergeRaceGate.reset(); MergeRaceGate.proceed.countDown()
    SnapshotTable.mergeInto(spark, dir, src, Seq("id"),
      notMatched = Seq(MergeClause(None, MergeAction.Insert(Seq(
        "id" -> expr("s.id"), "qty" -> expr("s.d"),
          "status" -> expr("'ins'"))))))
    assert(rows(dir) == Set((1L, 99L, "ins"), (2L, 5L, "open")))
  }
}

/** Static gate (NOT captured in closures — objects resolve by name on
  * deserialization): pauses the first source evaluation of the
  * interleaving test above so the racing delete lands mid-merge. */
object MergeRaceGate {
  @volatile var started = new java.util.concurrent.CountDownLatch(1)
  @volatile var proceed = new java.util.concurrent.CountDownLatch(1)
  private val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
  def reset(): Unit = {
    started = new java.util.concurrent.CountDownLatch(1)
    proceed = new java.util.concurrent.CountDownLatch(1)
    fired.set(false)
  }
  def pauseFirst(): Unit =
    if (fired.compareAndSet(false, true)) {
      started.countDown()
      proceed.await(120, java.util.concurrent.TimeUnit.SECONDS)
      ()
    }
}
