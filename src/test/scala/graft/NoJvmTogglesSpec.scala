package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Lint over the library sources: no file under `src/main/scala` may
  * read a JVM system property.
  *
  * Why: a `sys.props` switch is JVM-global — every session in the
  * process sees it, and a test or A/B tool that flips it changes what
  * every other session runs. Operator settings are session conf
  * (`spark.graft.*`, read through `spark.conf`), which
  * `spark.newSession()` isolates.
  */
class NoJvmTogglesSpec extends AnyFunSuite {

  private val toggle = "sys\\.props|System\\.getPropert".r

  /** (file, 1-based line) of every JVM-property read in `sources`. */
  private def offenders(sources: Seq[(String, String)]): Seq[(String, Int)] =
    for {
      (file, text) <- sources
      (line, i) <- text.linesIterator.zipWithIndex.toSeq
      if toggle.findFirstIn(line).isDefined
    } yield (file, i + 1)

  private def mainSources: Seq[(String, String)] = {
    val root = Paths.get("src/main/scala")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map((p: Path) => p.toString -> Files.readString(p))
    finally walk.close()
  }

  test("no library source reads a JVM system property") {
    val sources = mainSources
    assert(sources.nonEmpty, "run from the build root: src/main/scala not found")
    val bad = offenders(sources)
    assert(bad.isEmpty, "JVM-global switches (use session conf spark.graft.*): " +
      bad.map { case (f, l) => s"$f:$l" }.mkString(", "))
  }

  test("the lint catches sys.props and System.getProperty reads") {
    val src = Seq("A.scala" ->
      """val a = sys.props.get("graft.x")
        |val b = spark.conf.get("spark.graft.x", "true")
        |val c = System.getProperty("graft.y")""".stripMargin)
    assert(offenders(src) == Seq("A.scala" -> 1, "A.scala" -> 3))
  }
}
