package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** No library code writes a caller's session conf: a conf set or unset
  * on the shared session reaches every query other threads plan on it.
  * Internal scopes run on session clones instead
  * ([[org.apache.spark.sql.GraftScopedSessions]], which writes only
  * the clone's own SQLConf), and a session's semantic confs are set by
  * whoever builds it. The one allowed write is an opt-in the caller
  * makes for its own session. */
class SessionConfWriteSpec extends AnyFunSuite {
  private val allowed = Set("GraftDataSource.scala" -> "enableLocalCheckpointFastPath")
  private val write = """\.conf\.(set|unset)\(""".r
  private val defName = """\bdef\s+(\w+)""".r

  /** (file name, enclosing def, line number) of each conf write. */
  private def confWrites(root: Path): Seq[(String, String, Int)] = {
    val files = Files.walk(root)
    try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { f =>
        val lines = Files.readAllLines(f).asScala.toIndexedSeq
        lines.indices.filter(i => write.findFirstIn(lines(i)).nonEmpty).map { i =>
          val enclosing = (i to 0 by -1).iterator
            .flatMap(j => defName.findFirstMatchIn(lines(j)).map(_.group(1)))
            .nextOption().getOrElse("<top>")
          (f.getFileName.toString, enclosing, i + 1)
        }
      }
    finally files.close()
  }

  test("src/main writes no session conf except the caller's own opt-ins") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: $root")
    val offending = confWrites(root).filterNot { case (f, d, _) => allowed((f, d)) }
    assert(offending.isEmpty, offending.map { case (f, d, l) => s"$f:$l ($d)" }
      .mkString("session conf writes: ", ", ", ""))
  }
}
