package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Lint over the library sources: directory swaps and file moves
  * (`ATOMIC_MOVE`, `Files.move`, and the staging steps `stagePath`,
  * `bakPath`, `swapIn`), store format markers (`_FORMAT`) and recursive
  * deletes (`reverseOrder` walks) live only in the store module,
  * `graft/engine/StoreSwap.scala`; everything else rewrites through its
  * `rewrite`, `drop` and store tables, and appends through `publish`.
  *
  * Why: the crash-recovery protocol is only as good as its one copy.
  * A second hand-rolled swap or marker check drifts from it — a
  * different leftover name that recovery never looks at, a partial
  * staged dir moved live without its `_SUCCESS` check.
  */
class StoreModuleLintSpec extends AnyFunSuite {

  private val storeModule = Paths.get("graft", "engine", "StoreSwap.scala")
  private val protocol = """ATOMIC_MOVE|Files\.move|_FORMAT|reverseOrder|\b(stagePath|bakPath|swapIn)\b""".r

  /** (file, 1-based line) of every protocol token outside the module. */
  private def offenders(sources: Seq[(Path, String)]): Seq[(Path, Int)] =
    for {
      (file, text) <- sources if !file.endsWith(storeModule)
      (line, i) <- text.linesIterator.zipWithIndex.toSeq
      if protocol.findFirstIn(line).isDefined
    } yield (file, i + 1)

  private def mainSources: Seq[(Path, String)] = {
    val root = Paths.get("src/main/scala")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map((p: Path) => p -> Files.readString(p))
    finally walk.close()
  }

  test("only the store module swaps, marks formats or deletes trees") {
    val sources = mainSources
    assert(sources.exists(_._1.endsWith(storeModule)),
      "run from the build root: the store module was not found")
    val bad = offenders(sources)
    assert(bad.isEmpty, "go through graft.engine.StoreSwap: " +
      bad.map { case (f, l) => s"$f:$l" }.mkString(", "))
  }

  test("the lint catches a hand-rolled swap, marker or tree delete") {
    val op = Paths.get("src/main/scala/graft/ops/Op.scala") ->
      """Files.move(tmp, live, StandardCopyOption.ATOMIC_MOVE)
        |val ok = StoreSwap.rewrite(live)(write)
        |val marker = Paths.get(s"$dir/_FORMAT")
        |walk.sorted(java.util.Comparator.reverseOrder())
        |df.write.parquet(StoreSwap.stagePath(live).toString)
        |StoreSwap.swapIn(live)
        |Files.move(live, StoreSwap.bakPath(live))
        |val re = Catalog.stagePathPrefix(stage)
        |Files.move(src, dest, StandardCopyOption.REPLACE_EXISTING)""".stripMargin
    val module = Paths.get("src/main/scala/graft/engine/StoreSwap.scala") ->
      """Files.move(from, to, StandardCopyOption.ATOMIC_MOVE)
        |def swapIn(live: Path): Unit = move(stagePath(live), live)""".stripMargin
    assert(offenders(Seq(op, module)) ==
      Seq(1, 3, 4, 5, 6, 7, 9).map(op._1 -> _))
  }
}
