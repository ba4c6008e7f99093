package graft.engine

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** The one crash-safe store module: every store table, directory
  * swap, format marker and recursive delete in the library goes
  * through here.
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
  *
  * Appends ([[publish]]): every catalog append, a driver write or a
  * job's output, is written complete under [[pendingPath]], in the
  * hidden sibling `.append_<name>`, then each data file is moved into
  * `live` with its Hadoop `.crc`; [[unpublish]] takes a published file
  * back out. A crash before the move leaves nothing visible;
  * [[recover]] and [[drop]] clear what it left.
  *
  * Store tables ([[Table]]): the incremental stores append one batch
  * at a time from `foreachBatch`, and a crashed batch is replayed, so
  * a table can hold duplicate rows of its `keys`. Every store's reads
  * are replay-correct regardless (each store's scaladoc says how);
  * duplicates cost only storage and scan time. [[Table.compact]]
  * drops them with one `dropDuplicates(keys)` rewrite through the swap
  * above. Stores whose duplicates tax every later batch also compact
  * on their own ([[Table.autoCompact]]) once their bloat test passes.
  * All of it is single-writer: compact between batches, never during
  * one.
  */
private[graft] object StoreSwap {

  /** One persisted table of a store: parquet under `path`, read with
    * `schema`, unique on `keys` once compacted.
    */
  final case class Table(spark: SparkSession, path: String, schema: StructType,
                         keys: Seq[String]) {

    /** The table's rows, schema-applied; empty while the directory is absent. */
    def read(): DataFrame =
      if (Files.exists(Paths.get(path))) spark.read.schema(schema).parquet(path)
      else spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)

    def append(df: DataFrame): Unit = df.write.mode(SaveMode.Append).parquet(path)

    /** Drop replayed duplicates of `keys` with a crash-safe rewrite. */
    def compact(): Unit = {
      val live = Paths.get(path)
      if (Files.exists(live))
        rewrite(live)(read().dropDuplicates(keys).write.mode(SaveMode.Overwrite).parquet(_))
    }

    /** `kept` after compacting the table if `bloated` says its rows
      * are worth a rewrite (`slack` <= 0 disables the check). The
      * frame is pinned with localCheckpoint first: it must not lazily
      * re-read the files the swap is about to replace.
      */
    def autoCompact(kept: DataFrame, slack: Double)(bloated: => Boolean): DataFrame =
      if (slack <= 0 || !bloated) kept
      else {
        val pinned = kept.localCheckpoint()
        compact()
        pinned
      }
  }

  /** Where new data for `live` is staged before [[swapIn]]. */
  def stagePath(live: Path): Path = live.resolveSibling(".tmp_" + live.getFileName)

  def bakPath(live: Path): Path = live.resolveSibling(".bak_" + live.getFileName)

  /** Where the file or job output `name` for `live` is written before
    * [[publish]].
    */
  def pendingPath(live: Path, name: String): Path = pendingDir(live).resolve(name)

  private def pendingDir(live: Path): Path = live.resolveSibling(".append_" + live.getFileName)

  /** Hadoop's checksum sibling of `file`: `.<name>.crc`. */
  private def crcPath(file: Path): Path = file.resolveSibling(s".${file.getFileName}.crc")

  /** Make the complete file `pending` visible as `target`, its `.crc`
    * moved first: a reader never sees the file without its checksum.
    */
  def publish(pending: Path, target: Path): Unit = {
    Files.createDirectories(target.getParent)
    if (Files.exists(crcPath(pending))) move(crcPath(pending), crcPath(target))
    move(pending, target)
  }

  /** Remove the published file `target`, then its `.crc`. */
  def unpublish(target: Path): Unit = {
    Files.deleteIfExists(target)
    Files.deleteIfExists(crcPath(target))
  }

  private def complete(dir: Path): Boolean = Files.exists(dir.resolve("_SUCCESS"))

  private def move(from: Path, to: Path): Unit =
    Files.move(from, to, StandardCopyOption.ATOMIC_MOVE)

  /** Restore the live dir after a crash mid-swap; drop leftover
    * staging and unpublished files.
    */
  def recover(live: Path): Unit = {
    val (tmp, bak) = (stagePath(live), bakPath(live))
    if (!Files.exists(live)) {
      if (complete(tmp)) move(tmp, live)
      else if (Files.exists(bak)) move(bak, live)
    }
    deleteTree(tmp)
    deleteTree(bak)
    deleteTree(pendingDir(live))
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

  /** Crash-safe rewrite of `live`: `write` puts the complete new
    * contents at the path it is given, then they [[swapIn]].
    */
  def rewrite(live: Path)(write: String => Unit): Unit = {
    write(stagePath(live).toString)
    swapIn(live)
  }

  /** Delete `live` and its swap leftovers, so [[recover]] can never
    * bring it back.
    */
  def drop(live: Path): Unit =
    Seq(live, stagePath(live), bakPath(live), pendingDir(live)).foreach(deleteTree)

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
