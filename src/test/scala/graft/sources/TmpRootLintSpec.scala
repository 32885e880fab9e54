package graft.sources

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

import org.scalatest.funsuite.AnyFunSuite

/** Every on-disk store and streamed run dir, in the library and in the
  * specs, resolves under `Tables.TmpRoot`: the tree holds exactly one
  * quoted `/target/tmp` path, its definition, so a new absolute root
  * cannot creep back in beside it. Every session comes from
  * `GraftSession.builder`, so the specs run the confs Bench and Verify
  * run. */
class TmpRootLintSpec extends AnyFunSuite {
  private val main = Paths.get("src/main/scala")
  private val test = Paths.get("src/test/scala")
  private val self = "graft/sources/TmpRootLintSpec.scala"

  /** `root-relative-path:line: text` for each match of `pattern` under
    * `root`, skipping this file, whose test names quote the patterns. */
  private def hits(root: Path, pattern: Regex): Seq[String] = {
    assert(Files.isDirectory(root), s"run from the project root: ${root.toAbsolutePath}")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq.flatMap { f: Path =>
      val rel = root.relativize(f).toString
      if (rel == self) Nil
      else Files.readAllLines(f).asScala.zipWithIndex.flatMap { case (line, i) =>
        pattern.findAllIn(line).map(_ => s"$rel:${i + 1}: ${line.trim}")
      }
    } finally walk.close()
  }

  private val literal = "\"[^\"\\n]*/target/tmp".r

  test("src/main/scala has exactly one /target/tmp string literal: Tables.TmpRoot") {
    val found = hits(main, literal)
    assert(found.size == 1, found.mkString("\n"))
    assert(found.head.startsWith("graft/sources/Tables.scala:") &&
      found.head.contains("val TmpRoot = "), found.head)
  }

  test("src/test/scala has no /target/tmp string literal: specs build on Tables.TmpRoot") {
    val found = hits(test, literal)
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("one session builder call site across src/main and src/test: GraftSession") {
    val builder = "SparkSession\\.builder\\(\\)".r
    val found = hits(main, builder) ++ hits(test, builder)
    assert(found.size == 1, found.mkString("\n"))
    assert(found.head.startsWith("graft/GraftSession.scala:"), found.head)
  }

  test("no retired session or probe env knob appears in src") {
    // character classes keep this file itself free of the names
    val knobs = "SPARK_GRAFT_CKPT[_]|JOBPROF[_]|LPA_MIN_PAIR[_]N".r
    val found = hits(main, knobs) ++ hits(test, knobs)
    assert(found.isEmpty, found.mkString("\n"))
  }
}
