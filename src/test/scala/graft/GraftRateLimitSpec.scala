package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.SnapshotTable

/** Streaming admission control (maxFilesPerTrigger/maxBytesPerTrigger)
  * on the graft source: the initial snapshot drains across triggers,
  * totals stay exact across restarts mid-drain, and the legacy
  * unlimited offsets stay byte-compatible (limits can be turned on
  * over an existing checkpoint). */
class GraftRateLimitSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def tmp(tag: String, scheme: String = "file"): String =
    tempRoot(s"graft-rate-$tag", scheme) + "/t"

  /** `n` more single-row files with ids starting at `from`. */
  private def mkFiles(dir: String, n: Int, from: Long = 0L): Unit =
    for (i <- 0 until n)
      SnapshotTable.append(Seq((from + i, s"v${from + i}")).toDF("id", "name")
        .coalesce(1), dir)

  private def runOnce(dir: String, ckpt: String, out: String,
                      options: Map[String, String],
                      batches: scala.collection.mutable.Buffer[Long]): Unit = {
    var reader = spark.readStream.format("graft")
    options.foreach { case (k, v) => reader = reader.option(k, v) }
    val q = reader.load(dir).writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = df.count()
        if (rows > 0) batches += rows
        df.write.mode("append").parquet(out)
      }.start()
    try q.processAllAvailable() finally q.stop()
  }

  test("maxFilesPerTrigger drains the initial snapshot across triggers, " +
      "exactly once") {
    val dir = tmp("files"); mkFiles(dir, 7)
    val ckpt = tempDir("rate-ck")
    val out = tempDir("rate-out") + "/p"
    val batches = scala.collection.mutable.Buffer[Long]()
    runOnce(dir, ckpt, out, Map("maxFilesPerTrigger" -> "2"), batches)
    // 7 single-row files at 2 per trigger → 4 non-empty batches
    assert(batches.toSeq == Seq(2L, 2L, 2L, 1L), s"got $batches")
    val got = spark.read.parquet(out)
    assert(got.count() == 7)
    assert(got.select("id").distinct().count() == 7)
    // post-snapshot appends also admit under the budget
    mkFiles(dir, 3, from = 100L) // appended as v7..v9, one file each
    batches.clear()
    runOnce(dir, ckpt, out, Map("maxFilesPerTrigger" -> "2"), batches)
    assert(batches.sum == 3 && batches.forall(_ <= 2), s"got $batches")
    assert(spark.read.parquet(out).select("id").distinct().count() == 10)
  }

  for ((scheme, tag) <- SparkTestBase.Schemes)
  test("restart mid-drain continues from the checkpoint, no dupes/gaps" + tag) {
    val dir = tmp("restart", scheme); mkFiles(dir, 6)
    val ckpt = tempRoot("rate-ck2", scheme)
    val out = tempDir("rate-out2") + "/p"
    // first run: ONE trigger only, then stop mid-drain
    var first: Option[Long] = None
    val q = spark.readStream.format("graft")
      .option("maxFilesPerTrigger", "2").load(dir)
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.Once())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        first = Some(df.count())
        df.write.mode("append").parquet(out)
      }.start()
    q.awaitTermination()
    assert(first.contains(2L))
    // restart: drains the rest
    val batches = scala.collection.mutable.Buffer[Long]()
    runOnce(dir, ckpt, out, Map("maxFilesPerTrigger" -> "2"), batches)
    val got = spark.read.parquet(out)
    assert(got.count() == 6)
    assert(got.select("id").distinct().count() == 6)
  }

  test("maxBytesPerTrigger admits at least one file per trigger") {
    val dir = tmp("bytes"); mkFiles(dir, 4)
    val ckpt = tempDir("rate-ck3")
    val out = tempDir("rate-out3") + "/p"
    val batches = scala.collection.mutable.Buffer[Long]()
    // 1-byte budget: every file is over budget alone — one per trigger
    runOnce(dir, ckpt, out, Map("maxBytesPerTrigger" -> "1"), batches)
    assert(batches.toSeq == Seq(1L, 1L, 1L, 1L), s"got $batches")
    assert(spark.read.parquet(out).count() == 4)
  }

  test("a checkpoint with engine progress but NO position file falls back " +
      "to one unlimited catch-up batch — never a duplicate snapshot replan") {
    val dir = tmp("legacy"); mkFiles(dir, 3)
    val ckpt = tempDir("rate-ck5")
    val out = tempDir("rate-out5") + "/p"
    val b1 = scala.collection.mutable.Buffer[Long]()
    runOnce(dir, ckpt, out, Map.empty, b1)
    assert(b1.toSeq == Seq(3L))
    // simulate a pre-rate-limiting checkpoint: drop the position file
    val pos = java.nio.file.Paths.get(ckpt, "sources", "0", "graft-pos.json")
    assert(java.nio.file.Files.deleteIfExists(pos))
    mkFiles(dir, 2, from = 100L)
    val b2 = scala.collection.mutable.Buffer[Long]()
    runOnce(dir, ckpt, out, Map("maxFilesPerTrigger" -> "1"), b2)
    // two safe recovery shapes exist — the engine may replay the last
    // committed range through getBatch (which re-seeds the position
    // file, then chunked [1,1]) or call getOffset first (the legacy
    // fallback emits one unlimited catch-up [2]). Either way the
    // CRITICAL property holds: only the two NEW rows emit — never a
    // replanned initial snapshot.
    assert(b2.sum == 2 && b2.forall(_ <= 2), s"got $b2")
    val got = spark.read.parquet(out)
    assert(got.count() == 5)
    assert(got.select("id").distinct().count() == 5)
    // and the position file is re-seeded: further appends rate-limit
    mkFiles(dir, 2, from = 200L)
    val b3 = scala.collection.mutable.Buffer[Long]()
    runOnce(dir, ckpt, out, Map("maxFilesPerTrigger" -> "1"), b3)
    assert(b3.toSeq == Seq(1L, 1L), s"got $b3")
  }

  test("startingVersion beyond the head waits instead of crashing") {
    val dir = tmp("beyond"); mkFiles(dir, 2)
    val head = SnapshotTable.latestVersion(spark, dir).get
    val ckpt = tempDir("rate-ck6")
    val out = tempDir("rate-out6") + "/p"
    val batches = scala.collection.mutable.Buffer[Long]()
    runOnce(dir, ckpt, out,
      Map("maxFilesPerTrigger" -> "1", "startingVersion" -> s"${head + 2}"),
      batches)
    assert(batches.isEmpty) // nothing yet, and no manifest-missing crash
    mkFiles(dir, 3, from = 100L) // versions head+1..head+3
    runOnce(dir, ckpt, out,
      Map("maxFilesPerTrigger" -> "1", "startingVersion" -> s"${head + 2}"),
      batches)
    // only versions >= head+2 emit (ids 101, 102)
    assert(batches.toSeq == Seq(1L, 1L), s"got $batches")
    assert(spark.read.parquet(out).select("id").collect()
      .map(_.getLong(0)).toSet == Set(101L, 102L))
  }

  test("mid-stream widen/drop fail loudly with a restart hint") {
    // widen guard: int column widened mid-stream
    val dir2 = tmp("guards2")
    SnapshotTable.append(Seq((1, "a")).toDF("n", "s").coalesce(1), dir2)
    val ckpt2 = tempDir("rate-ckg2")
    val out2 = tempDir("rate-outg2") + "/p"
    val q2 = spark.readStream.format("graft").load(dir2)
      .writeStream.format("parquet")
      .option("checkpointLocation", ckpt2).option("path", out2).start()
    val e2 = intercept[Throwable] {
      try {
        q2.processAllAvailable()
        SnapshotTable.widenColumn(spark, dir2, "n",
          org.apache.spark.sql.types.LongType)
        SnapshotTable.append(Seq((5000000000L, "b")).toDF("n", "s")
          .coalesce(1), dir2)
        q2.processAllAvailable()
        throw new IllegalStateException("unreachable: stream kept running")
      } finally q2.stop()
    }
    assert(e2.toString.contains("mid-stream") ||
      Option(e2.getCause).exists(_.toString.contains("mid-stream")),
      s"got $e2")
    // drop guard: retired-only state (empty map) still fails loudly
    val dir3 = tmp("guards3")
    SnapshotTable.append(Seq((1L, "a", 7L)).toDF("k", "s", "x")
      .coalesce(1), dir3)
    val ckpt3 = tempDir("rate-ckg3")
    val out3 = tempDir("rate-outg3") + "/p"
    val q3 = spark.readStream.format("graft").load(dir3)
      .writeStream.format("parquet")
      .option("checkpointLocation", ckpt3).option("path", out3).start()
    val e3 = intercept[Throwable] {
      try {
        q3.processAllAvailable()
        SnapshotTable.dropColumn(spark, dir3, "x") // colMap stays EMPTY
        SnapshotTable.append(Seq((2L, "b")).toDF("k", "s").coalesce(1), dir3)
        q3.processAllAvailable()
        throw new IllegalStateException("unreachable: stream kept running")
      } finally q3.stop()
    }
    assert(e3.toString.contains("dropped mid-stream") ||
      Option(e3.getCause).exists(_.toString.contains("dropped mid-stream")),
      s"got $e3")
  }

  test("Trigger.AvailableNow drains ALL available data under the budget, " +
      "then terminates; a later run picks up new commits") {
    val dir = tmp("avnow"); mkFiles(dir, 5)
    val ckpt = tempDir("rate-ck7")
    val out = tempDir("rate-out7") + "/p"
    def runAvailableNow(): Int = {
      var n = 0
      val q = spark.readStream.format("graft")
        .option("maxFilesPerTrigger", "2").load(dir)
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          if (df.count() > 0) n += 1
          df.write.mode("append").parquet(out)
        }.start()
      q.awaitTermination(); n
    }
    // 5 files at 2/trigger: the full snapshot drains in 3 batches and
    // the query TERMINATES (without SupportsTriggerAvailableNow the
    // engine captured the first chunk as "all available" and stopped
    // after 2 of 5 rows)
    assert(runAvailableNow() == 3)
    assert(spark.read.parquet(out).count() == 5)
    mkFiles(dir, 3, from = 100L)
    assert(runAvailableNow() == 2) // 3 new files at 2/trigger
    val got = spark.read.parquet(out)
    assert(got.count() == 8)
    assert(got.select("id").distinct().count() == 8)
  }

  test("CDF source: a mid-stream rename fails loudly with a restart hint") {
    val dir = tmp("cdf-guard")
    SnapshotTable.append(Seq((1L, "a")).toDF("k", "s").coalesce(1), dir)
    val ckpt = tempDir("rate-ckc")
    val out = tempDir("rate-outc") + "/p"
    val q = spark.readStream.format("graft")
      .option("readChangeFeed", "true").load(dir)
      .writeStream.format("parquet")
      .option("checkpointLocation", ckpt).option("path", out).start()
    val e = intercept[Throwable] {
      try {
        q.processAllAvailable()
        SnapshotTable.renameColumn(spark, dir, "s", "label")
        SnapshotTable.append(Seq((2L, "b")).toDF("k", "label")
          .coalesce(1), dir)
        q.processAllAvailable()
        throw new IllegalStateException("unreachable: stream kept running")
      } finally q.stop()
    }
    assert(e.toString.contains("restart the stream") ||
      Option(e.getCause).exists(_.toString.contains("restart the stream")),
      s"got $e")
  }

  test("rate-limited startingVersion works when earlier manifests were vacuumed") {
    // planNextPos must not probe the manifest of an already-complete
    // position: startingVersion=head begins at Pos(head-1, Complete),
    // and listOf(head-1) would read versionDeltas(head-2, head-1) —
    // vacuumed away here — where the unlimited path works fine.
    val dir = tmp("vacstart"); mkFiles(dir, 6)           // v0..v5
    SnapshotTable.vacuum(spark, dir, keepVersions = 2, minAgeMs = 0L)
    val ckpt = tempDir("rate-ck5")
    val out = tempDir("rate-out5") + "/p"
    val batches = scala.collection.mutable.Buffer[Long]()
    runOnce(dir, ckpt, out,
      Map("maxFilesPerTrigger" -> "1", "startingVersion" -> "5"), batches)
    assert(batches.toSeq == Seq(1L), s"got $batches")
    assert(spark.read.parquet(out).select("id").collect()
      .map(_.getLong(0)).toSet == Set(5L))
  }

  test("CDF maxFilesPerTrigger drains the snapshot and bulk appends across triggers") {
    val dir = tmp("cdf-files"); mkFiles(dir, 5)            // v0..v4
    val ckpt = tempDir("cdfrate-ck")
    val out = tempDir("cdfrate-out") + "/p"
    val batches = scala.collection.mutable.Buffer[Long]()
    runOnce(dir, ckpt, out,
      Map("readChangeFeed" -> "true", "maxFilesPerTrigger" -> "2"), batches)
    // the 5-file initial snapshot drains 2-2-1
    assert(batches.toSeq == Seq(2L, 2L, 1L), s"got $batches")
    val snap = spark.read.parquet(out)
    assert(snap.count() == 5)
    assert(snap.select("_change").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("insert"))
    // ONE bulk-backfill commit of 4 files must also drain across
    // triggers (the round-8 gap: per-commit batches were unbounded)
    SnapshotTable.append((100L until 104L).map(i => (i, s"v$i"))
      .toDF("id", "name").repartition(4), dir)
    batches.clear()
    runOnce(dir, ckpt, out,
      Map("readChangeFeed" -> "true", "maxFilesPerTrigger" -> "2"), batches)
    // AQE may coalesce the backfill into fewer/uneven files — the
    // property under test is that ONE commit drains across MULTIPLE
    // bounded triggers with exact totals, not the slice shapes
    assert(batches.length >= 2 && batches.sum == 4, s"got $batches")
    val got = spark.read.parquet(out)
    assert(got.select("id").distinct().count() == 9)
    // the backfill slices all stamp the backfill's commit version
    assert(got.filter(col("id") >= 100L).select("_commit_version")
      .distinct().count() == 1)
  }

  test("CDF rate limit: rewrite commits land atomically as row-level deltas") {
    val dir = tmp("cdf-atomic")
    SnapshotTable.append((0L until 6L).map(i => (i, s"v$i"))
      .toDF("id", "name").repartition(3), dir)              // v0: 3 files
    SnapshotTable.deleteWhere(spark, dir, col("id") < 2L)   // v1: rewrite
    mkFiles(dir, 2, from = 50L)                             // v2, v3
    val ckpt = tempDir("cdfrate-ck2")
    val out = tempDir("cdfrate-out2") + "/p"
    val batches = scala.collection.mutable.Buffer[Long]()
    runOnce(dir, ckpt, out,
      Map("readChangeFeed" -> "true", "maxFilesPerTrigger" -> "1",
        "startingVersion" -> "1"), batches)
    // v1 is a cross-file delta → atomic (its 2 delete rows in one
    // batch, never sliced); the appends then admit 1 file per trigger
    assert(batches.toSeq == Seq(2L, 1L, 1L), s"got $batches")
    val got = spark.read.parquet(out)
    assert(got.filter(col("_change") === "delete")
      .select("id").collect().map(_.getLong(0)).toSet == Set(0L, 1L))
    assert(got.filter(col("_change") === "insert")
      .select("id").collect().map(_.getLong(0)).toSet == Set(50L, 51L))
  }

  test("turning limits ON over an unlimited CDF checkpoint continues cleanly") {
    val dir = tmp("cdf-flip"); mkFiles(dir, 3)
    val ckpt = tempDir("cdfrate-ck3")
    val out = tempDir("cdfrate-out3") + "/p"
    val b1 = scala.collection.mutable.Buffer[Long]()
    runOnce(dir, ckpt, out, Map("readChangeFeed" -> "true"), b1)
    assert(b1.toSeq == Seq(3L))
    mkFiles(dir, 3, from = 100L)
    val b2 = scala.collection.mutable.Buffer[Long]()
    runOnce(dir, ckpt, out,
      Map("readChangeFeed" -> "true", "maxFilesPerTrigger" -> "1"), b2)
    assert(b2.toSeq == Seq(1L, 1L, 1L), s"got $b2")
    assert(spark.read.parquet(out).select("id").distinct().count() == 6)
  }

  test("turning limits ON over an unlimited checkpoint continues cleanly") {
    val dir = tmp("flip"); mkFiles(dir, 3)
    val ckpt = tempDir("rate-ck4")
    val out = tempDir("rate-out4") + "/p"
    val b1 = scala.collection.mutable.Buffer[Long]()
    runOnce(dir, ckpt, out, Map.empty, b1)      // unlimited: 1 batch of 3
    assert(b1.toSeq == Seq(3L))
    mkFiles(dir, 4, from = 100L)
    val b2 = scala.collection.mutable.Buffer[Long]()
    runOnce(dir, ckpt, out, Map("maxFilesPerTrigger" -> "1"), b2)
    assert(b2.toSeq == Seq(1L, 1L, 1L, 1L), s"got $b2")
    val got = spark.read.parquet(out)
    assert(got.count() == 7)
    assert(got.select("id").distinct().count() == 7)
  }
}
