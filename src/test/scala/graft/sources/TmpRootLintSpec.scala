package graft.sources

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every on-disk store and streamed run dir of the library resolves
  * under `Tables.TmpRoot`: the main tree holds exactly one quoted
  * `/target/tmp` path, its definition, so a new absolute root cannot
  * creep back in beside it. */
class TmpRootLintSpec extends AnyFunSuite {
  test("src/main/scala has exactly one /target/tmp string literal: Tables.TmpRoot") {
    val main = Paths.get("src/main/scala")
    assert(Files.isDirectory(main), s"run from the project root: ${main.toAbsolutePath}")
    val literal = "\"[^\"\\n]*/target/tmp".r
    val walk = Files.walk(main)
    val hits =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq.flatMap { f: Path =>
        Files.readAllLines(f).asScala.zipWithIndex.flatMap { case (line, i) =>
          literal.findAllIn(line).map(_ => s"${main.relativize(f)}:${i + 1}: ${line.trim}")
        }
      } finally walk.close()
    assert(hits.size == 1, hits.mkString("\n"))
    assert(hits.head.startsWith("graft/sources/Tables.scala:") &&
      hits.head.contains("val TmpRoot = "), hits.head)
  }
}
