package graft.engine

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** The one crash-safe store module: every directory swap, format
  * marker and recursive delete in the library goes through here.
  *
  * Swap discipline (single writer): new data is staged complete (with
  * Spark's `_SUCCESS`) at the sibling `.tmp_<name>`, the live dir steps
  * aside to `.bak_<name>`, the staged dir moves in, the backup drops.
  * At no instant is the live dir gone without a complete copy beside
  * it, and [[recover]] (run on every open) restores one after a crash
  * in any window: a complete tmp rolls forward, else a bak rolls back;
  * a tmp without `_SUCCESS` is a partial write and never goes live.
  * The dot-prefixed names are skipped by `Catalog.listTables` and by
  * Spark's file listing.
  */
private[graft] object StoreSwap {

  /** Where new data for `live` is staged before [[swapIn]]. */
  def stagePath(live: Path): Path = live.resolveSibling(".tmp_" + live.getFileName)

  def bakPath(live: Path): Path = live.resolveSibling(".bak_" + live.getFileName)

  private def complete(dir: Path): Boolean = Files.exists(dir.resolve("_SUCCESS"))

  private def move(from: Path, to: Path): Unit =
    Files.move(from, to, StandardCopyOption.ATOMIC_MOVE)

  /** Restore the live dir after a crash mid-swap; drop leftover staging. */
  def recover(live: Path): Unit = {
    val (tmp, bak) = (stagePath(live), bakPath(live))
    if (!Files.exists(live)) {
      if (complete(tmp)) move(tmp, live)
      else if (Files.exists(bak)) move(bak, live)
    }
    deleteTree(tmp)
    deleteTree(bak)
  }

  /** Replace `live` with the complete contents staged at [[stagePath]]. */
  def swapIn(live: Path): Unit = {
    val (tmp, bak) = (stagePath(live), bakPath(live))
    require(complete(tmp), s"staged store at $tmp has no _SUCCESS — refusing swap")
    if (Files.exists(live)) {
      deleteTree(bak)
      move(live, bak)
    }
    move(tmp, live)
    deleteTree(bak)
  }

  /** Open a store directory: [[recover]] each of its `parts`, then
    * check the `_FORMAT` marker. A store with data (its first part) or
    * a marker must carry `version` (a store without a marker reads as
    * `legacy`), else `mismatch(found)` is thrown; a fresh store gets
    * the marker written.
    */
  def open(dir: String, parts: Seq[String], version: String, legacy: String)
          (mismatch: String => String): Unit = {
    parts.foreach(p => recover(Paths.get(p)))
    val marker = Paths.get(dir, "_FORMAT")
    if (Files.exists(Paths.get(parts.head)) || Files.exists(marker)) {
      val found = if (Files.exists(marker)) Files.readString(marker).trim else legacy
      require(found == version, mismatch(found))
    } else {
      Files.createDirectories(Paths.get(dir))
      Files.writeString(marker, version)
    }
  }

  /** Delete `p` and everything under it; a missing path is a no-op. */
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(x => Files.delete(x))
      finally walk.close()
    }

  def deleteTree(p: String): Unit = deleteTree(Paths.get(p))
}
