package graft.engine

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** The store module on the bare filesystem: no SparkSession (only
  * [[SparkTestBase]]'s temp dirs), so a "complete" staged dir is one
  * with a hand-written `_SUCCESS`.
  */
class StoreSwapSpec extends AnyFunSuite with SparkTestBase {

  private def fresh(): Path = tempDir("graft_storeswap_")

  /** A dir holding one data file `part` with `body`; complete when it
    * carries `_SUCCESS`.
    */
  private def writeDir(dir: Path, body: String, complete: Boolean = true): Unit = {
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("part"), body)
    if (complete) Files.write(dir.resolve("_SUCCESS"), Array.emptyByteArray)
  }

  private def body(dir: Path): String = Files.readString(dir.resolve("part"))

  test("leftovers are the dot-prefixed .tmp_/.bak_ siblings of the live dir") {
    val live = fresh().resolve("signatures")
    assert(StoreSwap.stagePath(live) == live.resolveSibling(".tmp_signatures"))
    assert(StoreSwap.bakPath(live) == live.resolveSibling(".bak_signatures"))
  }

  test("recover rolls a complete tmp forward, else rolls the bak back") {
    val live = fresh().resolve("t")
    writeDir(StoreSwap.stagePath(live), "new")
    writeDir(StoreSwap.bakPath(live), "old")
    StoreSwap.recover(live)
    assert(body(live) == "new")
    assert(!Files.exists(StoreSwap.stagePath(live)))
    assert(!Files.exists(StoreSwap.bakPath(live)), "leftover bak dropped")

    Files.move(live, StoreSwap.bakPath(live))
    StoreSwap.recover(live)
    assert(body(live) == "new")
    assert(!Files.exists(StoreSwap.bakPath(live)))
  }

  test("an incomplete tmp is discarded and never made live") {
    val live = fresh().resolve("t")
    writeDir(StoreSwap.stagePath(live), "partial", complete = false)
    writeDir(StoreSwap.bakPath(live), "old")
    StoreSwap.recover(live)
    assert(body(live) == "old")
    assert(!Files.exists(StoreSwap.stagePath(live)))

    val lone = fresh().resolve("t")
    writeDir(StoreSwap.stagePath(lone), "partial", complete = false)
    StoreSwap.recover(lone)
    assert(!Files.exists(lone))
    assert(!Files.exists(StoreSwap.stagePath(lone)))
  }

  test("recover drops leftovers beside a live dir without touching it") {
    val live = fresh().resolve("t")
    writeDir(live, "live")
    writeDir(StoreSwap.stagePath(live), "unswapped")
    writeDir(StoreSwap.bakPath(live), "stale")
    StoreSwap.recover(live)
    assert(body(live) == "live")
    assert(!Files.exists(StoreSwap.stagePath(live)))
    assert(!Files.exists(StoreSwap.bakPath(live)))
  }

  test("swapIn replaces the live dir and leaves no leftovers") {
    val live = fresh().resolve("t")
    writeDir(live, "old")
    writeDir(StoreSwap.bakPath(live), "stale")
    writeDir(StoreSwap.stagePath(live), "new")
    StoreSwap.swapIn(live)
    assert(body(live) == "new")
    assert(!Files.exists(StoreSwap.stagePath(live)))
    assert(!Files.exists(StoreSwap.bakPath(live)))
  }

  test("swapIn refuses an incomplete tmp and leaves the live dir alone") {
    val live = fresh().resolve("t")
    writeDir(live, "old")
    writeDir(StoreSwap.stagePath(live), "partial", complete = false)
    val e = intercept[IllegalArgumentException](StoreSwap.swapIn(live))
    assert(e.getMessage.contains("no _SUCCESS"))
    assert(body(live) == "old")
    assert(!Files.exists(StoreSwap.bakPath(live)))
  }

  test("open marks a fresh store, accepts a match, rejects a mismatch") {
    val dir = fresh().resolve("store")
    val data = dir.resolve("rows").toString
    def open(version: String): Unit =
      StoreSwap.open(dir.toString, Seq(data), version, "?")(found =>
        s"test store uses format [$found], this build writes [$version]")
    open("1:a")
    assert(Files.readString(dir.resolve("_FORMAT")) == "1:a")
    open("1:a")
    val e = intercept[IllegalArgumentException](open("2:b"))
    assert(e.getMessage.contains("test store uses format [1:a], this build writes [2:b]"))
  }

  test("open reads a store with data but no marker as the legacy version") {
    val dir = fresh().resolve("store")
    val data = dir.resolve("rows")
    writeDir(data, "x")
    val e = intercept[IllegalArgumentException] {
      StoreSwap.open(dir.toString, Seq(data.toString), "2:new", "1")(found =>
        s"found [$found]")
    }
    assert(e.getMessage.contains("found [1]"))
  }

  test("open recovers every part before the format check") {
    val dir = fresh().resolve("store")
    val (a, b) = (dir.resolve("a"), dir.resolve("b"))
    writeDir(StoreSwap.stagePath(a), "a")
    writeDir(StoreSwap.bakPath(b), "b")
    Files.writeString(dir.resolve("_FORMAT"), "1")
    StoreSwap.open(dir.toString, Seq(a.toString, b.toString), "1", "?")(_ => "mismatch")
    assert(body(a) == "a" && body(b) == "b")
  }

  test("deleteTree removes a nested tree; a missing path is a no-op") {
    val root = fresh()
    writeDir(root.resolve("x/y"), "deep")
    StoreSwap.deleteTree(root.toString)
    assert(!Files.exists(root))
    StoreSwap.deleteTree(root)
  }
}
