package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.StoreSwap

/** Incremental boilerplate-line detection for a growing corpus — the
  * streaming form of [[graft.ops.TextAnalysis.removeBoilerplateLines]]
  * (reference scope: the app's batch/stream ingestion modes, app:206):
  * a line is boilerplate once it has appeared in at least `minDocs`
  * DISTINCT documents across everything seen so far (persisted store +
  * the current batch), and every occurrence is dropped from the
  * current batch's docs. Earlier batches were emitted before the
  * evidence existed — the inherent streaming trade-off; a periodic
  * batch re-clean with removeBoilerplateLines is the catch-up path.
  *
  * Store = (line-md5, doc-id) DISTINCT sightings, so doc frequency is
  * `count(DISTINCT id)` AT READ — a foreachBatch crash replay appends
  * duplicate sighting rows but can never inflate a frequency or flip
  * a drop decision (replay-idempotent by construction, unlike a
  * persisted running counter, which would double-count). Replay bloat
  * is storage-only; [[compactStore]] dedups it.
  *
  * Work per batch: one map-side explode of the batch, one hash
  * aggregate over (line-md5) keyed rows of store + batch, one
  * broadcast-sized boilerplate set joined back, one index-drop pass
  * per doc — text never shuffles (the store carries 16-byte hashes,
  * the reassembly is the same per-doc array filter as the batch
  * operator). Store size is O(distinct (line, doc) sightings); cap
  * upstream line lengths if adversarial inputs matter.
  */
final class IncrementalBoilerplate(spark: SparkSession, storeDir: String,
                                   minDocs: Int) {
  require(minDocs > 1, "minDocs must be > 1 (1 would drop every line)")

  private val store = StoreSwap.Table(spark, s"$storeDir/sightings", StructType(Seq(
      StructField("h", StringType),
      StructField("id", LongType))),
    Seq("h", "id"))

  // md5-of-raw-line is the only thing persisted, so only the hash
  // formula is format-relevant; minDocs is a read-time threshold and
  // may vary between batches/reopens without invalidating the store.
  private val formatVersion = "1:md5-lines"
  StoreSwap.open(storeDir, Seq(store.path), formatVersion, "?")(found =>
    s"boilerplate store at $storeDir uses line-hash format [$found], this build " +
      s"writes [$formatVersion] — rebuild the store")

  /** Clean one batch against everything seen so far and persist this
    * batch's sightings. Returns (idCol, clean_text, n_lines, n_kept).
    */
  def processBatch(batch: DataFrame, textCol: String,
                   idCol: String): DataFrame = {
    val sightings = batch
      .select(col(idCol).as("id"),
        explode(split(col(textCol), "\n")).as("__l"))
      .select(col("id"), md5(col("__l")).as("h"))
      .distinct()
    // evidence = persisted sightings + this batch's own (so a template
    // that floods in WITHIN one batch is caught immediately); the
    // boilerplate set is small by construction — bounded by actual
    // boilerplate, not corpus size — and broadcasts under AQE
    val boiler = store.read().unionByName(sightings)
      .groupBy(col("h"))
      .agg(count_distinct(col("id")).as("__df"))
      .filter(col("__df") >= minDocs)
      .select(col("h"))
    val dropIdx = batch
      .select(col(idCol), posexplode(split(col(textCol), "\n")).as(Seq("__i", "__l")))
      .select(col(idCol), col("__i"), md5(col("__l")).as("h"))
      .join(boiler, Seq("h"), "left_semi")
      .groupBy(col(idCol))
      .agg(collect_list(col("__i")).as("__drop"))
    val ls = split(col(textCol), "\n")
    val cleaned = batch.join(dropIdx, Seq(idCol), "left")
      .select(col(idCol), ls.as("__ls"),
        coalesce(col("__drop"), array().cast("array<int>")).as("__drop"))
      .withColumn("__kept",
        filter(col("__ls"), (_, i) => !array_contains(col("__drop"), i)))
      .select(col(idCol),
        array_join(col("__kept"), "\n").as("clean_text"),
        size(col("__ls")).cast("long").as("n_lines"),
        size(col("__kept")).cast("long").as("n_kept"))
    // pin the result before the append: the cleaned plan must not
    // lazily re-read store files a later compaction may replace
    val out = cleaned.localCheckpoint()
    store.append(sightings)
    out
  }

  /** Storage-only maintenance: dedup replay-duplicated sighting rows.
    * Results never depend on it (frequencies are count-DISTINCT).
    */
  def compactStore(): Unit = store.compact()

  /** (total sighting rows, distinct sightings) — the replay-bloat probe. */
  def storeStats(): (Long, Long) = {
    val s = store.read()
    (s.count(), s.dropDuplicates(store.keys).count())
  }
}
