package graft

import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.SnapshotTable

/** Lost commit races, one committer per commit shape, on the Hadoop
  * store branch (`graftfs:`, see [[GraftTestFs]]). A rename of the
  * next manifest's temp file that throws makes `createExclusive`
  * report the race as lost, exactly as when another writer published
  * that version first. `maxRetries` losses end in the committer's
  * "lost the commit race" IOException with the head unchanged; fewer
  * losses land exactly one version. */
class SnapshotCommitRaceSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestBase.spark

  private val MaxRetries = 3

  private def head(dir: String): Long =
    SnapshotTable.latestVersion(spark, dir).get

  /** Run `body` with the first `losses` publishes of `dir`'s next
    * manifest failing. Returns how many publishes were tried. */
  private def losing(dir: String, losses: Int)(body: => Any): Int = {
    val next = s".v${head(dir) + 1}.json."
    val tries = new AtomicInteger()
    GraftTestFs.failingWhen((op, p) => op == "rename" &&
        p.getName.startsWith(next) && tries.getAndIncrement() < losses,
        new java.io.IOException(_)) {
      body
    }
    tries.get
  }

  /** A table of two appends, ids 0 until 20, at v1. */
  private def twoAppends(prefix: String): String = {
    val dir = tempRoot(prefix, GraftTestFs.Scheme) + "/t"
    SnapshotTable.append(spark.range(0, 10).toDF(), dir)
    SnapshotTable.append(spark.range(10, 20).toDF(), dir)
    dir
  }

  /** One committer per commit shape: its name in its errors, and the
    * commit under a retry budget. */
  private val shapes: Seq[(String, (String, Int) => Any)] = Seq(
    "append" -> ((d, m) =>
      SnapshotTable.append(spark.range(20, 30).toDF(), d, maxRetries = m)),
    "overwrite" -> ((d, m) =>
      SnapshotTable.overwrite(spark.range(5).toDF(), d, maxRetries = m)),
    "compact" -> ((d, m) => SnapshotTable.compact(spark, d, maxRetries = m)),
    "deleteWhere" -> ((d, m) =>
      SnapshotTable.deleteWhere(spark, d, col("id") === 3L, m)),
    "deleteWhereMor" -> ((d, m) =>
      SnapshotTable.deleteWhereMor(spark, d, col("id") === 3L, m)),
    "setProperties" -> ((d, m) =>
      SnapshotTable.setProperties(spark, d, Map("team" -> "core"), m)),
    "advanceTxn" -> ((d, m) =>
      SnapshotTable.advanceTxn(spark, d, "app", 1L, m)),
    "restore" -> ((d, m) => SnapshotTable.restore(spark, d, 0L, m)))

  for ((op, run) <- shapes) {
    test(s"$op: $MaxRetries lost races throw and leave the head") {
      val dir = twoAppends(s"graft-race-$op")
      val e = intercept[java.io.IOException](
        losing(dir, MaxRetries)(run(dir, MaxRetries)))
      assert(e.getMessage ==
        s"$op: lost the commit race $MaxRetries times under $dir")
      assert(head(dir) == 1L)
      assert(SnapshotTable.read(spark, dir).count() == 20L)
    }

    test(s"$op: ${MaxRetries - 1} lost races, then one version lands") {
      val dir = twoAppends(s"graft-race-$op")
      assert(losing(dir, MaxRetries - 1)(run(dir, MaxRetries)) == MaxRetries)
      assert(head(dir) == 2L)
    }
  }

  test("compact: a copy-on-write delete of a compacted file landing " +
      s"during the commit aborts it [${GraftTestFs.Scheme}]") {
    val dir = twoAppends("graft-race-compact-cow")
    val fired = new java.util.concurrent.atomic.AtomicBoolean()
    // deleteWhere commits v2 from inside compact's first create of its
    // v2 manifest temp; compact's publish then loses to it
    val e = intercept[java.util.ConcurrentModificationException] {
      GraftTestFs.failingWhen { (op, p) =>
        if (op == "create" && p.getName.startsWith(".v2.json.") &&
            fired.compareAndSet(false, true))
          SnapshotTable.deleteWhere(spark, dir, col("id") === 3L)
        false
      } {
        SnapshotTable.compact(spark, dir, maxRetries = MaxRetries)
      }
    }
    assert(fired.get && e.getMessage.contains("rewritten concurrently"))
    assert(head(dir) == 2L)
    assert(SnapshotTable.read(spark, dir).collect().map(_.getLong(0))
      .sorted.toSeq == (0L until 20L).filterNot(_ == 3L))
  }
}
