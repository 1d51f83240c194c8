package graft

import java.net.URI
import java.nio.file.{FileAlreadyExistsException, Files, NoSuchFileException}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FileStatus, FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Test-only Hadoop FileSystem: the local disk under its own scheme,
  * `graftfs`, so the storage specs exercise graft's HadoopStore — the
  * branch HDFS and object stores take — without a cluster. Registered
  * in [[SparkTestBase]] through `fs.graftfs.impl` (and
  * `fs.AbstractFileSystem.graftfs.impl` for FileContext users such as
  * Spark's checkpoint manager).
  *
  * Two differences from `RawLocalFileSystem`:
  *   - `rename` onto an existing file fails atomically (link(2), then
  *     unlink of the source), as the Hadoop FileSystem spec and HDFS
  *     require; RawLocalFileSystem silently replaces the destination,
  *     which would test a store graft does not claim to support.
  *   - [[GraftTestFs.failingWhen]] injects a fault: an operation
  *     (`create`, `rename`, `delete`) on a matching path throws — by
  *     default [[GraftTestFs.Killed]], a crash that is not an
  *     IOException, so no IO error path mistakes it for a recoverable
  *     failure. */
class GraftTestFs extends RawLocalFileSystem {
  override def getUri: URI = GraftTestFs.Uri
  override def getScheme: String = GraftTestFs.Scheme

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    GraftTestFs.check("create", f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    GraftTestFs.check("create", f)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    GraftTestFs.check("rename", src)
    val (s, d) = (pathToFile(src).toPath, pathToFile(dst).toPath)
    if (!Files.isRegularFile(s) || Files.isDirectory(d))
      super.rename(src, dst)
    else
      try { Files.createLink(d, s); Files.delete(s); true }
      catch {
        case _: FileAlreadyExistsException => false
        case _: NoSuchFileException => super.rename(src, dst)
      }
  }

  // RawLocalFileSystem's statuses load permissions lazily through
  // java.io.File(uri), which refuses any scheme but `file`.
  override def getFileStatus(f: Path): FileStatus =
    loaded(super.getFileStatus(f))

  override def listStatus(f: Path): Array[FileStatus] =
    super.listStatus(f).map(loaded)

  private def loaded(s: FileStatus): FileStatus =
    new FileStatus(s.getLen, s.isDirectory, s.getReplication,
      s.getBlockSize, s.getModificationTime, s.getAccessTime,
      FsPermission.getFileDefault, "graft", "graft", s.getPath)

  override def delete(p: Path, recursive: Boolean): Boolean = {
    GraftTestFs.check("delete", p)
    super.delete(p, recursive)
  }
}

/** FileContext binding of [[GraftTestFs]]. */
class GraftTestAfs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new GraftTestFs, conf,
    GraftTestFs.Scheme, false)

object GraftTestFs {
  val Scheme = "graftfs"
  val Uri: URI = URI.create(s"$Scheme:///")

  /** The Hadoop keys that register the scheme. */
  val Conf: Seq[(String, String)] = Seq(
    s"fs.$Scheme.impl" -> classOf[GraftTestFs].getName,
    s"fs.AbstractFileSystem.$Scheme.impl" -> classOf[GraftTestAfs].getName)

  /** An injected crash. */
  final class Killed(msg: String) extends RuntimeException(msg)

  @volatile private var failing: (String, Path) => Option[Throwable] =
    (_, _) => None

  private def check(op: String, p: Path): Unit =
    failing(op, p).foreach(e => throw e)

  /** Run `body` with every `op` on a path matching `when` throwing
    * `error` of a message naming the operation. */
  def failingWhen[T](when: (String, Path) => Boolean,
                     error: String => Throwable = new Killed(_))
                    (body: => T): T = {
    failing = (op, p) =>
      if (when(op, p)) Some(error(s"injected fault: $op $p")) else None
    try body finally failing = (_, _) => None
  }
}
