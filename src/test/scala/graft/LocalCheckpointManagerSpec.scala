package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.streaming.checkpointing.GraftLocalCheckpointFileManager
import org.apache.spark.sql.functions._

/** The java.nio streaming-checkpoint manager: same createAtomic /
  * rename contract as Spark's default, no process forks on local
  * filesystems, and end-to-end stream recovery over a checkpoint it
  * wrote. Every case also runs on `graftfs:`, where the manager
  * delegates to Spark's own (FileContext-based) manager. */
class LocalCheckpointManagerSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def conf(afs: Boolean = true): Configuration = {
    val c = new Configuration()
    GraftTestFs.Conf.filter(kv => afs || !kv._1.contains("AbstractFileSystem"))
      .foreach { case (k, v) => c.set(k, v) }
    c
  }

  private def mgr(dir: String, afs: Boolean = true) =
    new GraftLocalCheckpointFileManager(new Path(dir), conf(afs))

  private def read(m: GraftLocalCheckpointFileManager, p: Path): String = {
    val in = m.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  for ((scheme, tag) <- SparkTestBase.Schemes) {
  def tmp(prefix: String) = SparkTestBase.tmpRoot(prefix, scheme)

  test("createAtomic overwrite: content lands atomically and replaces" + tag) {
    val dir = tmp("graft-ckpt-mgr")
    val m = mgr(dir)
    assert(m.isLocal == (scheme == "file"))
    val p = new Path(dir, "offsets/0")
    // Spark's FileContext manager does not create parents (its
    // metadata logs mkdirs first); the local one must
    if (scheme != "file") m.mkdirs(p.getParent)
    val out = m.createAtomic(p, overwriteIfPossible = true)
    out.write("v1".getBytes("UTF-8")); out.close()
    assert(m.exists(p))
    val out2 = m.createAtomic(p, overwriteIfPossible = true)
    out2.write("v2".getBytes("UTF-8")); out2.close()
    assert(read(m, p) == "v2")
    // no temp litter
    assert(m.list(new Path(dir, "offsets")).map(_.getPath.getName).toSeq ==
      Seq("0"))
  }

  test("createAtomic non-overwrite: second writer loses with Hadoop's " +
      "FileAlreadyExistsException (the engine's race contract)" + tag) {
    val dir = tmp("graft-ckpt-mgr")
    val m = mgr(dir)
    val p = new Path(dir, "commits/0")
    // Spark's FileContext manager does not create parents (its
    // metadata logs mkdirs first); the local one must
    if (scheme != "file") m.mkdirs(p.getParent)
    val out = m.createAtomic(p, overwriteIfPossible = false)
    out.write("winner".getBytes("UTF-8")); out.close()
    val loser = m.createAtomic(p, overwriteIfPossible = false)
    loser.write("loser".getBytes("UTF-8"))
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException] {
      loser.close()
    }
    assert(read(m, p) == "winner")
  }

  test("cancel leaves nothing behind" + tag) {
    val dir = tmp("graft-ckpt-mgr")
    val m = mgr(dir)
    val p = new Path(dir, "state/x")
    // Spark's FileContext manager does not create parents (its
    // metadata logs mkdirs first); the local one must
    if (scheme != "file") m.mkdirs(p.getParent)
    val out = m.createAtomic(p, overwriteIfPossible = false)
    out.write("partial".getBytes("UTF-8"))
    out.cancel()
    assert(!m.exists(p))
    assert(m.list(new Path(dir, "state")).isEmpty)
  }

  test("stream restart over a checkpoint the manager wrote resumes " +
      "without re-emitting (exactly-once end to end)" + tag) {
    graft.sources.GraftDataSource.enableLocalCheckpointFastPath(spark)
    try {
      val src = tmp("graft-ckpt-src")
      val dst = tmp("graft-ckpt-dst")
      val ckpt = tmp("graft-ckpt-ck")
      import spark.implicits._
      val rows = (0L until 100L).toDF("k")
      graft.sources.SnapshotTable.append(
        rows.filter(col("k") % 2 === 0), src)
      def run(): Unit = {
        val q = spark.readStream.format("graft").load(src)
          .writeStream.format("graft")
          .option("checkpointLocation", ckpt)
          .option("appId", "ckpt-mgr-spec")
          .start(dst)
        try q.processAllAvailable() finally q.stop()
      }
      run()
      graft.sources.SnapshotTable.append(
        rows.filter(col("k") % 2 === 1), src)
      run() // restart over the existing checkpoint
      val landed = graft.sources.SnapshotTable.read(spark, dst)
      assert(landed.count() == 100L)
      assert(landed.select(sum("k")).as[Long].head() == (0L until 100L).sum)
    } finally spark.conf.unset("spark.sql.streaming.checkpointFileManagerClass")
  }
  }

  test("a scheme with no AbstractFileSystem falls back to Spark's " +
      "FileSystem-based manager") {
    val dir = SparkTestBase.tmpRoot("graft-ckpt-mgr", GraftTestFs.Scheme)
    val m = mgr(dir, afs = false)
    val p = new Path(dir, "commits/0")
    val out = m.createAtomic(p, overwriteIfPossible = false)
    out.write("winner".getBytes("UTF-8")); out.close()
    assert(read(m, p) == "winner")
    val loser = m.createAtomic(p, overwriteIfPossible = false)
    loser.write("loser".getBytes("UTF-8"))
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException] {
      loser.close()
    }
    assert(read(m, p) == "winner")
  }
}
