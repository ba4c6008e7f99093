package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Lint over the library sources and the run docs (README.md,
  * COVERAGE.md, the verify skill): every `graft.tools.X`, `tools.X` or
  * `tools/X` they cite must still exist as
  * `src/main/scala/graft/tools/X.scala`.
  *
  * Why: a tool is retired once the numbers it measured are written
  * down (SCALE.md, the OPTIMIZATION write-ups). A comment or a README
  * command that still cites it sends the reader to a file that is
  * gone. The write-ups and ledgers keep their history and are not
  * linted.
  */
class ToolReferencesSpec extends AnyFunSuite {

  private val toolRef = """\btools[./]([A-Z][A-Za-z0-9_]*)""".r
  private val toolsDir = Paths.get("src/main/scala/graft/tools")

  /** (file, 1-based line, tool) of every cited tool `exists` rejects. */
  private def dangling(sources: Seq[(String, String)],
                       exists: String => Boolean): Seq[(String, Int, String)] =
    for {
      (file, text) <- sources
      (line, i) <- text.linesIterator.zipWithIndex.toSeq
      m <- toolRef.findAllMatchIn(line)
      if !exists(m.group(1))
    } yield (file, i + 1, m.group(1))

  private def linted: Seq[(String, String)] = {
    val walk = Files.walk(Paths.get("src/main/scala"))
    val sources =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      finally walk.close()
    val docs = Seq("README.md", "COVERAGE.md", ".claude/skills/verify/SKILL.md")
      .map(Paths.get(_)).filter(Files.exists(_))
    (sources ++ docs).map((p: Path) => p.toString -> Files.readString(p))
  }

  test("every cited graft.tools main exists") {
    assert(Files.isDirectory(toolsDir),
      "run from the build root: src/main/scala/graft/tools not found")
    val bad = dangling(linted, t => Files.exists(toolsDir.resolve(s"$t.scala")))
    assert(bad.isEmpty, "citations of deleted tools (point at the write-up instead): " +
      bad.map { case (f, l, t) => s"$f:$l $t" }.mkString(", "))
  }

  test("the lint catches graft.tools.X, tools.X and tools/X citing a missing main") {
    val src = Seq("A.scala" ->
      """// measured by graft.tools.Gone (SCALE.md)
        |// see tools/Kept.scala and graft.tools.Kept.helper
        |// tools.Gone and tools/Gone.scala
        |// the graft/tools/ directory, lowercase tools/docs""".stripMargin)
    assert(dangling(src, Set("Kept")) ==
      Seq(("A.scala", 1, "Gone"), ("A.scala", 3, "Gone"), ("A.scala", 3, "Gone")))
  }
}
