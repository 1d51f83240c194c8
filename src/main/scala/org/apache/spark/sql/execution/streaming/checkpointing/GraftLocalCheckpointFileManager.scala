package org.apache.spark.sql.execution.streaming.checkpointing

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, Path, PathFilter, UnsupportedFileSystemException}

import graft.sources.{LocalStore, TableStore}

import CheckpointFileManager.CancellableFSDataOutputStream

/** Streaming-checkpoint file manager with a java.nio fast path for
  * `file:` checkpoints — the same store choice graft's own manifest
  * commits make ([[graft.sources.TableStore]]). Hadoop's local
  * FileSystem/FileContext without native libs FORKS a chmod process
  * per create/rename (Shell.runCommand under
  * FileContextBasedCheckpointFileManager.createTempFile/renameTempFile
  * — 50-150 ms of per-micro-batch driver wall in the gap profiles,
  * paid twice per batch for the offset and commit logs); java.nio
  * performs the identical create-temp + atomic-rename contract
  * in-process. Non-local checkpoint locations delegate verbatim to
  * Spark's default manager — FileContext-based, or FileSystem-based
  * for a scheme with no AbstractFileSystem, the same fallback as
  * `CheckpointFileManager.create` — so enabling this class
  * session-wide changes nothing on HDFS-class stores. Selected via
  * the public `spark.sql.streaming.checkpointFileManagerClass` plugin
  * conf. */
class GraftLocalCheckpointFileManager(root: Path, hadoopConf: Configuration)
    extends CheckpointFileManager {
  import GraftLocalCheckpointFileManager.NioAtomicStream

  private val local = TableStore(hadoopConf, root) eq LocalStore
  private lazy val delegate =
    try new FileContextBasedCheckpointFileManager(root, hadoopConf)
    catch { case _: UnsupportedFileSystemException =>
      new FileSystemBasedCheckpointFileManager(root, hadoopConf) }
  // reads and lists never fork — the Hadoop path is fine for them
  private lazy val fs = root.getFileSystem(hadoopConf)

  private def nio(p: Path): java.nio.file.Path = Paths.get(p.toUri.getPath)

  override def createAtomic(path: Path, overwriteIfPossible: Boolean
                           ): CancellableFSDataOutputStream =
    if (!local) delegate.createAtomic(path, overwriteIfPossible)
    else {
      val dst = nio(path)
      Files.createDirectories(dst.getParent)
      val tmp = dst.resolveSibling(
        s".${dst.getFileName}.${java.util.UUID.randomUUID()}.tmp")
      new NioAtomicStream(tmp, dst, overwriteIfPossible)
    }

  override def open(path: Path): FSDataInputStream =
    if (!local) delegate.open(path) else fs.open(path)

  override def list(path: Path, filter: PathFilter): Array[FileStatus] =
    if (!local) delegate.list(path, filter) else fs.listStatus(path, filter)

  override def mkdirs(path: Path): Unit =
    if (!local) delegate.mkdirs(path)
    else { Files.createDirectories(nio(path)); () }

  override def exists(path: Path): Boolean =
    if (!local) delegate.exists(path) else LocalStore.exists(path)

  override def delete(path: Path): Unit =
    if (!local) delegate.delete(path)
    else { LocalStore.delete(path, recursive = true); () }

  override def isLocal: Boolean = local

  override def createCheckpointDirectory(): Path = {
    mkdirs(root)
    root
  }
}

object GraftLocalCheckpointFileManager {

  /** Write-to-temp + publish-on-close through [[LocalStore.publish]].
    * The engine races batch commits on purpose and catches Hadoop's
    * FileAlreadyExistsException — non-overwrite collisions translate
    * to exactly that type. */
  private final class NioAtomicStream(tmp: java.nio.file.Path,
                                      dst: java.nio.file.Path,
                                      overwriteIfPossible: Boolean)
      extends CancellableFSDataOutputStream(Files.newOutputStream(tmp,
        StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)) {

    private var terminated = false

    override def close(): Unit = synchronized {
      if (terminated) return
      terminated = true
      try super.close()
      catch { case e: Throwable => Files.deleteIfExists(tmp); throw e }
      if (!LocalStore.publish(tmp, dst, overwriteIfPossible))
        throw new org.apache.hadoop.fs.FileAlreadyExistsException(
          s"rename destination $dst already exists")
    }

    override def cancel(): Unit = synchronized {
      if (terminated) return
      terminated = true
      try super.close()
      catch { case _: java.io.IOException => () }
      finally { Files.deleteIfExists(tmp); () }
    }
  }
}
