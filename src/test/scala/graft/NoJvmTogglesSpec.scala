package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Lint over the library sources: no file under `src/main/scala` may
  * read a JVM system property, and only entry points (files that
  * define a `def main(`) may read an environment variable.
  *
  * Why: a `sys.props` switch is JVM-global — every session in the
  * process sees it, and a test or A/B tool that flips it changes what
  * every other session runs. Operator settings are session conf
  * (`spark.graft.*`, read through `spark.conf`), which
  * `spark.newSession()` isolates. Environment variables are just as
  * global, so they stay in the mains that set a run up.
  */
class NoJvmTogglesSpec extends AnyFunSuite {

  private val toggle = "sys\\.props|System\\.getPropert".r
  private val envRead = "sys\\.env|System\\.getenv".r

  /** (file, 1-based line) of every JVM-property read in `sources`. */
  private def offenders(sources: Seq[(String, String)]): Seq[(String, Int)] =
    matches(sources, toggle)

  /** (file, 1-based line) of every env read outside an entry point. */
  private def envOffenders(sources: Seq[(String, String)]): Seq[(String, Int)] =
    matches(sources.filterNot(_._2.contains("def main(")), envRead)

  private def matches(sources: Seq[(String, String)],
                      re: scala.util.matching.Regex): Seq[(String, Int)] =
    for {
      (file, text) <- sources
      (line, i) <- text.linesIterator.zipWithIndex.toSeq
      if re.findFirstIn(line).isDefined
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

  test("only entry points read environment variables") {
    val bad = envOffenders(mainSources)
    assert(bad.isEmpty, "env reads outside a main (pass settings in from the entry point): " +
      bad.map { case (f, l) => s"$f:$l" }.mkString(", "))
  }

  test("the lint catches sys.env and System.getenv reads outside a main") {
    val op = "Op.scala" ->
      """val a = sys.env.getOrElse("X", "1")
        |val b = spark.conf.get("spark.graft.x", "true")
        |val c = System.getenv("Y")""".stripMargin
    val entry = "Main.scala" ->
      """object Main { def main(args: Array[String]): Unit = {
        |  val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4") } }""".stripMargin
    assert(envOffenders(Seq(op, entry)) == Seq("Op.scala" -> 1, "Op.scala" -> 3))
  }
}
