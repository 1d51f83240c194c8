package graft

import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite
import org.apache.hadoop.fs.Path
import graft.sources.SnapshotTable

/** Crash injection on the Hadoop store branch (`graftfs:`, see
  * [[GraftTestFs]]): a writer or a vacuum killed at each point of the
  * commit protocol leaves the table readable at a whole version, the
  * next commit succeeds, and `vacuum(…, minAgeMs = 0)` reclaims what
  * the kill left behind. A failed (not killed) rename in vacuum's
  * manifest rewrite loses no manifest. */
class StoreCrashSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def tmp(): String =
    tempRoot("graft-crash", GraftTestFs.Scheme) + "/t"

  private def ids(dir: String, v: Option[Long] = None): Set[Long] =
    SnapshotTable.read(spark, dir, v).select("id").as[Long].collect().toSet

  /** The table's files under `sub`, relative to the table root. */
  private def filesUnder(dir: String, sub: String): Set[String] = {
    val root = java.nio.file.Paths.get(SparkTestBase.localPath(dir))
    val d = root.resolve(sub)
    if (!java.nio.file.Files.exists(d)) Set.empty
    else {
      val s = java.nio.file.Files.walk(d)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator.asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(f => root.relativize(f).toString).toSet
      } finally s.close()
    }
  }

  private def dataFiles(dir: String) = filesUnder(dir, "data")

  private def manifestTemps(dir: String) =
    filesUnder(dir, "_manifests").filter(_.endsWith(".tmp"))

  private def killed(body: => Any): Unit = {
    val e = intercept[Throwable](body)
    assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[GraftTestFs.Killed]), s"not the injected kill: $e")
  }

  test("kill after the data write, before the manifest") {
    val dir = tmp()
    SnapshotTable.append(spark.range(0, 10).toDF(), dir)
    GraftTestFs.failingWhen((op, p) =>
        op == "create" && p.getName.startsWith(".v1.json.")) {
      killed(SnapshotTable.append(spark.range(100, 110).toDF(), dir))
    }
    assert(SnapshotTable.latestVersion(spark, dir).contains(0L))
    assert(ids(dir) == (0L until 10L).toSet)
    val orphans =
      dataFiles(dir) -- SnapshotTable.manifestFiles(spark, dir, 0L)
    assert(orphans.nonEmpty, "the killed append wrote no data")
    assert(SnapshotTable.append(spark.range(10, 20).toDF(), dir) == 1L)
    assert(ids(dir) == (0L until 20L).toSet)
    assert(ids(dir, Some(0L)) == (0L until 10L).toSet)
    assert(SnapshotTable.vacuum(spark, dir, keepVersions = 2,
      minAgeMs = 0L) == orphans.size)
    assert(dataFiles(dir) == SnapshotTable.manifestFiles(spark, dir, 1L).toSet)
    assert(ids(dir) == (0L until 20L).toSet)
  }

  test("kill after the temp write, before the link or rename: vacuum " +
      "reclaims the leftover temp manifest") {
    val dir = tmp()
    SnapshotTable.append(spark.range(0, 10).toDF(), dir)
    // the publish and its cleanup both die with the process
    GraftTestFs.failingWhen((op, p) => p.getName.startsWith(".v1.json.") &&
        (op == "rename" || op == "delete")) {
      killed(SnapshotTable.append(spark.range(100, 110).toDF(), dir))
    }
    assert(manifestTemps(dir).size == 1, filesUnder(dir, "_manifests"))
    assert(SnapshotTable.latestVersion(spark, dir).contains(0L))
    assert(ids(dir) == (0L until 10L).toSet)
    assert(SnapshotTable.append(spark.range(10, 20).toDF(), dir) == 1L)
    assert(ids(dir) == (0L until 20L).toSet)
    // age-guarded: a temp that may still be publishing survives
    SnapshotTable.vacuum(spark, dir, keepVersions = 2, minAgeMs = 3600000L)
    assert(manifestTemps(dir).size == 1)
    SnapshotTable.vacuum(spark, dir, keepVersions = 2, minAgeMs = 0L)
    assert(manifestTemps(dir).isEmpty, filesUnder(dir, "_manifests"))
    assert(dataFiles(dir) == SnapshotTable.manifestFiles(spark, dir, 1L).toSet)
    assert(ids(dir) == (0L until 20L).toSet)
  }

  test("kill in the middle of a vacuum's deletes") {
    val dir = tmp()
    (0 until 4).foreach { i =>
      SnapshotTable.append(spark.range(10L * i, 10L * i + 10).toDF(), dir)
    }
    SnapshotTable.compact(spark, dir, targetBytes = 1L << 30)
    val head = SnapshotTable.latestVersion(spark, dir).get
    val all = (0L until 40L).toSet
    val deletes = new AtomicInteger()
    GraftTestFs.failingWhen((op, p) => op == "delete" &&
        p.toString.contains("/data/") && deletes.incrementAndGet() > 2) {
      killed(SnapshotTable.vacuum(spark, dir, keepVersions = 1, minAgeMs = 0L))
    }
    assert(deletes.get() > 2, "the vacuum never reached its third delete")
    // the kept version reads whole; the next commit succeeds
    assert(ids(dir) == all)
    assert(ids(dir, Some(head)) == all)
    assert(SnapshotTable.append(spark.range(40, 50).toDF(), dir) == head + 1)
    SnapshotTable.vacuum(spark, dir, keepVersions = 1, minAgeMs = 0L)
    assert(dataFiles(dir) ==
      SnapshotTable.manifestFiles(spark, dir, head + 1).toSet)
    assert(ids(dir) == (0L until 50L).toSet)
  }

  test("a failed rename in vacuum's manifest rewrite keeps the old " +
      "manifest; the next vacuum completes") {
    val dir = tmp()
    (0 until 12).foreach { i =>
      SnapshotTable.append(spark.range(10L * i, 10L * i + 10).toDF(), dir)
    }
    // v11 is a delta on the v10 checkpoint: keeping one version makes
    // vacuum rewrite it in full. On graftfs the rename onto the live
    // v11 is refused, so the store swaps: v11 aside, the temp in (the
    // rename failed here), v11 back.
    val renames = new AtomicInteger()
    GraftTestFs.failingWhen((op, p) => op == "rename" &&
        p.getName.startsWith(".v11.json.") && renames.incrementAndGet() == 2,
        new java.io.IOException(_)) {
      intercept[java.io.IOException](
        SnapshotTable.vacuum(spark, dir, keepVersions = 1, minAgeMs = 0L))
    }
    assert(renames.get() >= 2, "vacuum never retried the rename")
    assert(manifestTemps(dir).isEmpty, filesUnder(dir, "_manifests"))
    val all = (0L until 120L).toSet
    assert(ids(dir) == all)
    assert(ids(dir, Some(11L)) == all)
    assert(ids(dir, Some(10L)) == (0L until 110L).toSet)
    SnapshotTable.vacuum(spark, dir, keepVersions = 1, minAgeMs = 0L)
    val v11 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(SparkTestBase.localPath(dir), "_manifests",
        "v11.json")), "UTF-8")
    assert(v11.contains("\"files\""), "v11 not rewritten in full")
    assert(SnapshotTable.latestVersion(spark, dir).contains(11L))
    assert(ids(dir) == all)
    intercept[java.io.IOException](SnapshotTable.read(spark, dir, Some(10L)))
    assert(SnapshotTable.append(spark.range(120, 130).toDF(), dir) == 12L)
  }
}
