package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source-level guards: operators read no environment or system
  * properties (behavior switches belong in parameters, not hidden debug
  * branches), dead iterative rounds are released only through the
  * `Rounds` seam, and the tail → Kinesis path keeps its one shape (the
  * file path from the source's column, delivery through the DSv2 sink,
  * counts through its sink metrics).
  */
class OperatorSourceSpec extends AnyFunSuite {
  private def scalaFiles(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), s"$dir not found — run from the repo root")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  private def hits(files: Seq[Path], needles: Seq[String]): Seq[String] =
    for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex.toSeq
      n <- needles if line.contains(n)
    } yield s"${f.getFileName}:${i + 1}: $n"

  test("operators read no environment variables or system properties") {
    val found = hits(scalaFiles("src/main/scala/graft/operators"),
      Seq("sys.env", "System.getenv", "sys.props"))
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("checkpoint blocks are released only by the Rounds seam") {
    val found = hits(
      scalaFiles("src/main/scala").filterNot(f =>
        Set("Rounds.scala", "GraftBridge.scala")(f.getFileName.toString)),
      Seq("checkpointRdd", "freeCheckpoint"))
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("pipeline and sources call neither input_file_name nor foreachBatch") {
    // input_file_name silently returns "" on DSv2 sources such as graft-tail
    val found = hits(
      scalaFiles("src/main/scala/graft/pipeline") ++ scalaFiles("src/main/scala/graft/sources"),
      Seq("input_file_name", "foreachBatch"))
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("sources report through metrics, never System.err.println") {
    val found = hits(scalaFiles("src/main/scala/graft/sources"), Seq("System.err.println"))
    assert(found.isEmpty, found.mkString("\n"))
  }
}
