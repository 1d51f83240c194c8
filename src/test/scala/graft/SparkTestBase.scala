package graft

import java.nio.file.{Files, LinkOption, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** One shared local session for the whole test JVM (Test / fork := true,
  * so this JVM is dedicated to the test run). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val b = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet may hold ns timestamps (see Queries.t)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
    val s = GraftTestFs.Conf.foldLeft(b) { case (b, (k, v)) =>
      b.config(s"spark.hadoop.$k", v) }.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The table-root schemes the storage specs run under, each with the
    * suffix its test names carry: `file:` paths (LocalStore, the
    * original test names) and `graftfs:` ([[GraftTestFs]], HadoopStore). */
  val Schemes: Seq[(String, String)] =
    Seq("file" -> "", GraftTestFs.Scheme -> s" [${GraftTestFs.Scheme}]")

  /** A fresh temp directory, as a root under `scheme`: a plain local
    * path for `file`, a `graftfs:///…` URI otherwise. */
  def tmpRoot(prefix: String, scheme: String): String =
    rootUnder(java.nio.file.Files.createTempDirectory(prefix).toString, scheme)

  /** Local directory `dir` as a root under `scheme`. */
  def rootUnder(dir: String, scheme: String): String =
    if (scheme == "file") dir else s"$scheme://$dir"

  /** The local filesystem path behind a [[tmpRoot]] root. */
  def localPath(root: String): String =
    new org.apache.hadoop.fs.Path(root).toUri.getPath

  /** Recursive delete with every directory stream CLOSED (an unclosed
    * Files.list leaks a handle per directory for the JVM's life);
    * symbolic links are removed, never followed. */
  def deleteTree(p: Path): Unit = {
    if (Files.isDirectory(p, LinkOption.NOFOLLOW_LINKS)) {
      val s = Files.list(p)
      try s.forEach(child => deleteTree(child)) finally s.close()
    }
    Files.deleteIfExists(p); ()
  }
}

/** Temp directories a suite makes through [[tempDir]]; all of them are
  * deleted when the suite ends, so a test run leaves nothing in the
  * temp dir. */
trait TempDirs extends BeforeAndAfterAll { self: Suite =>
  private val made =
    new java.util.concurrent.ConcurrentLinkedQueue[Path]()

  /** A fresh temp directory named `prefix…`, deleted after the suite. */
  protected def tempDir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix)
    made.add(d)
    d.toString
  }

  /** A [[tempDir]] as a root under `scheme` (see
    * [[SparkTestBase.tmpRoot]]), deleted after the suite. */
  protected def tempRoot(prefix: String, scheme: String): String =
    SparkTestBase.rootUnder(tempDir(prefix), scheme)

  override protected def afterAll(): Unit =
    try made.forEach(d => SparkTestBase.deleteTree(d))
    finally super.afterAll()
}
