package graft.sources

import java.io.{FileNotFoundException, IOException}
import java.nio.file.{FileAlreadyExistsException, FileVisitResult, Files, NoSuchFileException, Paths, SimpleFileVisitor, StandardCopyOption}
import java.nio.file.attribute.BasicFileAttributes

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The control-plane file operations of the table format — manifests,
  * segments, sidecars, data-file listings and deletes — behind one
  * seam, chosen ONCE per table root: [[LocalStore]] (java.nio) when
  * the root's FileSystem has scheme `file`, [[HadoopStore]] for every
  * other scheme. Data files themselves are written and read by Spark.
  *
  * Why two implementations (the per-filesystem LogStore
  * specialization of the public Delta/Iceberg designs — each store
  * gets the cheapest primitive that honors the same contract):
  *   - Hadoop's local FileSystem without native libs FORKS a chmod
  *     process per create/mkdir (Shell.runCommand — 25-100 ms of
  *     driver wall per table commit), and its recursive `listFiles`
  *     copies every file's permissions, loaded lazily through the
  *     same fork-prone path (300-500 ms for 40 files, against 2-7 ms
  *     for a java.nio walk). java.nio performs the identical
  *     create / rename / link / walk contract in-process.
  *   - Object stores and HDFS keep Hadoop's primitives: recursive
  *     `listFiles` is one paged LIST there, and rename/create are the
  *     store's own atomicity story.
  *
  * The `.crc` rule: Hadoop's local FileSystem is a checksummed one —
  * every file it writes (Spark's data files included) gets a hidden
  * `.<name>.crc` sidecar, which its listings hide and its deletes and
  * renames carry along. LocalStore keeps that view exactly: listings
  * hide `.*.crc`, deleting or renaming a file does the same to its
  * sidecar, and an in-place overwrite drops a stale sidecar (it would
  * fail a checksummed re-read). Listed statuses carry the length, the
  * modification time and a `file:` path whose `toUri.getPath` equals
  * the one Hadoop returns — manifest keys match by that path, so any
  * mismatch would make vacuum delete live files. */
sealed trait TableStore {
  def exists(p: Path): Boolean

  /** The file's status; FileNotFoundException when missing. */
  def status(p: Path): FileStatus

  /** Whole-file UTF-8 text, or None when the file does not exist. */
  def readText(p: Path): Option[String]

  /** One directory level (files and directories); empty when `dir`
    * does not exist. */
  def list(dir: Path): Seq[FileStatus]

  /** Every file under `dir`, recursively; empty when it does not
    * exist. */
  def listFiles(dir: Path): Seq[FileStatus]

  /** Plain write of a NEVER-OVERWRITTEN, uniquely named file (per-batch
    * sidecars referenced only by a manifest committed afterwards —
    * partial content is unreachable by construction). */
  def writeNew(p: Path, text: String): Unit

  /** Exclusive-create commit primitive: land `text` at `p` atomically,
    * FAILING (false) when `p` already exists — the manifest-commit
    * race arbitration. */
  def createExclusive(p: Path, text: String): Boolean

  /** Content-atomic overwrite: the body lands fully in a hidden temp
    * name, then renames into place — a reader racing a rewrite sees
    * the old content or the new, never a truncated prefix. */
  def overwrite(p: Path, text: String): Unit

  /** Move a file that no reader references yet (bucketed-batch
    * flattening). False when the move did not happen. */
  def rename(src: Path, dst: Path): Boolean

  /** True iff something was deleted. */
  def delete(p: Path, recursive: Boolean = false): Boolean
}

object TableStore {
  def apply(conf: Configuration, root: Path): TableStore = {
    val fs = root.getFileSystem(conf)
    if (fs.getScheme == "file") LocalStore else new HadoopStore(fs)
  }

  def apply(spark: SparkSession, root: String): TableStore =
    apply(spark.sparkContext.hadoopConfiguration, new Path(root))

  /** The hidden temp name a content-atomic write stages its body in. */
  private[sources] def tempName(target: String): String =
    s".$target.${java.util.UUID.randomUUID()}.tmp"

  private[sources] def isCrc(name: String): Boolean =
    name.startsWith(".") && name.endsWith(".crc")
}

/** java.nio store for `file:` roots (see [[TableStore]]). */
object LocalStore extends TableStore {
  private val BlockSize = 32L * 1024 * 1024 // Hadoop's local default

  private def nio(p: Path): java.nio.file.Path =
    Paths.get(p.toUri.getPath).toAbsolutePath

  private def hadoop(p: java.nio.file.Path): Path =
    new Path("file", null, p.toString)

  private def statusOf(p: java.nio.file.Path,
                       a: BasicFileAttributes): FileStatus =
    new FileStatus(if (a.isDirectory) 0L else a.size, a.isDirectory, 1,
      BlockSize, a.lastModifiedTime.toMillis, hadoop(p))

  private def crcOf(p: java.nio.file.Path): java.nio.file.Path =
    p.resolveSibling("." + p.getFileName.toString + ".crc")

  def exists(p: Path): Boolean = Files.exists(nio(p))

  def status(p: Path): FileStatus = {
    val n = nio(p)
    try statusOf(n, Files.readAttributes(n, classOf[BasicFileAttributes]))
    catch { case _: NoSuchFileException =>
      throw new FileNotFoundException(s"File $p does not exist") }
  }

  def readText(p: Path): Option[String] =
    try Some(new String(Files.readAllBytes(nio(p)), "UTF-8"))
    catch { case _: NoSuchFileException => None }

  def list(dir: Path): Seq[FileStatus] = {
    val d = nio(dir)
    val s = try Files.newDirectoryStream(d)
    catch { case _: NoSuchFileException => return Nil }
    val b = Seq.newBuilder[FileStatus]
    try s.forEach { c =>
      if (!TableStore.isCrc(c.getFileName.toString))
        try b += statusOf(c, Files.readAttributes(c,
          classOf[BasicFileAttributes]))
        catch { case _: NoSuchFileException => () } // deleted meanwhile
    } finally s.close()
    b.result()
  }

  def listFiles(dir: Path): Seq[FileStatus] = {
    val d = nio(dir)
    if (!Files.isDirectory(d)) return Nil
    val b = Seq.newBuilder[FileStatus]
    Files.walkFileTree(d, new SimpleFileVisitor[java.nio.file.Path] {
      override def visitFile(f: java.nio.file.Path,
                             a: BasicFileAttributes): FileVisitResult = {
        if (a.isRegularFile && !TableStore.isCrc(f.getFileName.toString))
          b += statusOf(f, a)
        FileVisitResult.CONTINUE
      }
      override def visitFileFailed(f: java.nio.file.Path,
                                   e: IOException): FileVisitResult =
        e match {
          case _: NoSuchFileException => FileVisitResult.CONTINUE
          case _ => throw e
        }
    })
    b.result()
  }

  def writeNew(p: Path, text: String): Unit = {
    val t = nio(p)
    Files.createDirectories(t.getParent)
    Files.write(t, text.getBytes("UTF-8"))
  }

  /** Stage `text` next to `t` in a hidden temp file and publish it. */
  private def staged(t: java.nio.file.Path, text: String,
                     overwrite: Boolean): Boolean = {
    Files.createDirectories(t.getParent)
    val tmp = t.resolveSibling(TableStore.tempName(t.getFileName.toString))
    try Files.write(tmp, text.getBytes("UTF-8"))
    catch { case e: Throwable => Files.deleteIfExists(tmp); throw e }
    publish(tmp, t, overwrite)
  }

  def createExclusive(p: Path, text: String): Boolean =
    staged(nio(p), text, overwrite = false)

  def overwrite(p: Path, text: String): Unit = {
    staged(nio(p), text, overwrite = true); ()
  }

  /** Publish a fully written temp file at `dst`, always removing the
    * temp. `overwrite`: rename(2), which atomically replaces an
    * existing destination in place. Otherwise hard-LINK it into place:
    * link(2) fails EEXIST atomically — strictly stronger than an
    * exists-check + rename, which has a cross-process window; on a
    * mount without hard links, that exists-check + move is the
    * fallback. False iff exclusive and `dst` already exists. Shared
    * with the streaming-checkpoint manager. */
  def publish(tmp: java.nio.file.Path, dst: java.nio.file.Path,
              overwrite: Boolean): Boolean =
    try {
      if (overwrite) {
        Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
        dropCrc(dst)
        true
      } else
        try { Files.createLink(dst, tmp); true }
        catch {
          case _: FileAlreadyExistsException => false
          case _: UnsupportedOperationException =>
            !Files.exists(dst) &&
              (try { Files.move(tmp, dst); true }
               catch { case _: FileAlreadyExistsException => false })
        }
    } finally { Files.deleteIfExists(tmp); () }

  private def dropCrc(t: java.nio.file.Path): Unit =
    try { Files.deleteIfExists(crcOf(t)); () }
    catch { case _: IOException => () }

  def rename(src: Path, dst: Path): Boolean = {
    val (s, d) = (nio(src), nio(dst))
    try {
      Files.createDirectories(d.getParent)
      Files.move(s, d)
      if (Files.exists(crcOf(s)))
        try Files.move(crcOf(s), crcOf(d))
        catch { case _: IOException => dropCrc(s) }
      true
    } catch {
      case _: NoSuchFileException | _: FileAlreadyExistsException => false
    }
  }

  def delete(p: Path, recursive: Boolean = false): Boolean = {
    val t = nio(p)
    if (recursive && Files.isDirectory(t)) {
      Files.walkFileTree(t, new SimpleFileVisitor[java.nio.file.Path] {
        override def visitFile(f: java.nio.file.Path,
                               a: BasicFileAttributes): FileVisitResult = {
          Files.deleteIfExists(f); FileVisitResult.CONTINUE
        }
        override def postVisitDirectory(d: java.nio.file.Path,
                                        e: IOException): FileVisitResult = {
          Files.deleteIfExists(d); FileVisitResult.CONTINUE
        }
      })
      true
    } else {
      val gone = Files.deleteIfExists(t)
      if (gone) dropCrc(t)
      gone
    }
  }
}

/** Hadoop FileSystem store for every non-`file:` root (see
  * [[TableStore]]). */
final class HadoopStore(fs: FileSystem) extends TableStore {
  def exists(p: Path): Boolean = fs.exists(p)

  def status(p: Path): FileStatus = fs.getFileStatus(p)

  def readText(p: Path): Option[String] =
    try {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    } catch { case _: FileNotFoundException => None }

  def list(dir: Path): Seq[FileStatus] =
    try fs.listStatus(dir).toSeq
    catch { case _: FileNotFoundException => Nil }

  /** One recursive `listFiles` — a single paged LIST on object stores. */
  def listFiles(dir: Path): Seq[FileStatus] = {
    val b = Seq.newBuilder[FileStatus]
    try {
      val it = fs.listFiles(dir, true)
      while (it.hasNext) b += it.next()
    } catch { case _: FileNotFoundException => () }
    b.result()
  }

  def writeNew(p: Path, text: String): Unit = {
    val out = fs.create(p, false) // creates missing parents
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  /** Write `text` to a hidden temp file beside `target` and publish
    * it, removing the temp unless it was published. Relies on the
    * FileSystem contract that rename refuses an existing file
    * destination (HDFS and the Hadoop FileSystem spec). */
  private def staged(target: Path, text: String)
                    (publish: Path => Boolean): Boolean = {
    val tmp = new Path(target.getParent, TableStore.tempName(target.getName))
    var published = false
    try {
      writeNew(tmp, text)
      published = publish(tmp)
      published
    } finally if (!published) fs.delete(tmp, false)
  }

  private def tryRename(tmp: Path, target: Path): Boolean =
    try fs.rename(tmp, target)
    catch { case _: IOException => false }

  def createExclusive(p: Path, text: String): Boolean =
    !fs.exists(p) && staged(p, text)(tryRename(_, p))

  /** POSIX-style rename overwrites in place. A filesystem whose rename
    * refuses an existing destination (HDFS, the FileSystem spec) gets
    * a swap instead: the old file moves aside, the new one in, and the
    * old one back if that fails. `p` is absent only in between — the
    * one remaining (store-imposed) window — and a failed rename never
    * deletes the last copy of the old content. An IOException from the
    * first rename leaves `p` untouched. */
  def overwrite(p: Path, text: String): Unit = {
    val done = staged(p, text) { tmp =>
      fs.rename(tmp, p) || fs.exists(p) && {
        val aside = new Path(p.getParent, TableStore.tempName(p.getName))
        fs.rename(p, aside) && {
          val swapped = tryRename(tmp, p)
          // restored, or a concurrent writer's whole file is in place
          if (swapped || tryRename(aside, p) || fs.exists(p))
            fs.delete(aside, false)
          swapped
        }
      }
    }
    if (!done) throw new IOException(s"overwrite: rename to $p failed")
  }

  def rename(src: Path, dst: Path): Boolean = fs.rename(src, dst)

  def delete(p: Path, recursive: Boolean = false): Boolean =
    fs.delete(p, recursive)
}
