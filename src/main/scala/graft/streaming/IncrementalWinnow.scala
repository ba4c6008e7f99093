package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.StoreSwap
import graft.ops.Dedup

/** Incremental PARTIAL-overlap detection for a growing corpus — the
  * streaming form of [[graft.ops.Dedup.winnowFingerprints]] (Schleimer
  * et al. 2003). The persisted state is each accepted doc's winnowing
  * fingerprint set (~2/(w+1) of its window stream, the sub-linear
  * storage that makes an exact-overlap index FEASIBLE to keep
  * forever); each batch fingerprints once, joins against the store on
  * the 16-byte hashes, and drops docs whose fingerprint-overlap
  * fraction with ANY prior content reaches `threshold` — the
  * split-crawl / re-paste / quoted-wholesale shapes that whole-doc
  * incremental MinHash ([[IncrementalDedup]]) under-scores when the
  * overlap is a fraction of a long doc.
  *
  * Work per batch: O(batch windows) map-side + equi-joins keyed on
  * fingerprint hashes — independent of corpus size except through
  * genuine fingerprint collisions (verbatim shared runs). Replay of a
  * crashed batch is OUTPUT-correct: store rows carry the owning id and
  * self-matches are excluded, so a replayed survivor never matches its
  * own persisted fingerprints; the store then holds duplicate (id, fp)
  * rows until [[compactStore]] (auto-triggered past
  * `autoCompactSlack`x bloat, like the sibling stores).
  */
final class IncrementalWinnow(spark: SparkSession, storeDir: String,
                              k: Int = 5, w: Int = 4,
                              threshold: Double = 0.5,
                              autoCompactSlack: Double = 1.5) {
  require(k > 0 && w > 0, "window sizes must be positive")
  require(threshold > 0 && threshold <= 1, "threshold in (0, 1]")

  private val store = StoreSwap.Table(spark, s"$storeDir/fingerprints", StructType(Seq(
      StructField("id", LongType),
      StructField("fp", StringType))),
    Seq("id", "fp"))

  // fingerprint selection is determined by (k, w) and the md5 window
  // hash — all part of the on-disk format (same fail-fast contract as
  // IncrementalDedup: a store built with other params silently never
  // matches)
  private val formatVersion = s"1:k=$k,w=$w"
  StoreSwap.open(storeDir, Seq(store.path), formatVersion, "?")(found =>
    s"fingerprint store at $storeDir uses format [$found], this build writes " +
      s"[$formatVersion] — rebuild the store (selections are not comparable)")

  /** Process one batch: returns rows whose fingerprint overlap with the
    * accepted corpus (and with earlier rows of the same batch) stays
    * BELOW `threshold`, and persists the survivors' fingerprints. Docs
    * too short to select a fingerprint (< k + w - 1 tokens) carry no
    * overlap evidence and are kept.
    */
  def processBatch(batch: DataFrame, textCol: String, idCol: String): DataFrame = {
    val fps = Dedup.winnowFingerprints(batch, textCol, idCol, k, w)
      .withColumnRenamed(idCol, "id").cache()
    try {
      val counts = fps.groupBy(col("id")).agg(count(lit(1)).as("__n"))
      // corpus-side hits: a batch fp counts once if ANY other doc's
      // stored fp equals it (self rows excluded -> replay-correct)
      val corpusHits = fps
        .join(store.read().select(col("fp").as("__sfp"), col("id").as("__sid")),
          col("__fp") === col("__sfp"))
        .filter(col("__sid") =!= col("id"))
        .select(col("id"), col("__fp")).distinct()
      // intra-batch hits: an fp of id_b counts if an earlier batch row
      // (id_a < id_b) selected the same fp — first occurrence wins,
      // like every keeper rule in the dedup family
      val intraHits = fps.select(col("__fp"), col("id").as("__ida"))
        .join(fps.select(col("__fp"), col("id")), Seq("__fp"))
        .filter(col("__ida") < col("id"))
        .select(col("id"), col("__fp")).distinct()
      val dropIds = corpusHits.unionByName(intraHits).distinct()
        .groupBy(col("id")).agg(count(lit(1)).as("__h"))
        .join(counts, Seq("id"))
        .filter(col("__h").cast("double") / col("__n") >= threshold)
        .select(col("id"))
      val kept = batch.join(dropIds.withColumnRenamed("id", idCol),
        Seq(idCol), "left_anti")
      store.append(fps.join(kept.select(col(idCol).as("id")), Seq("id"), "left_semi")
        .select(col("id"), col("__fp").as("fp")))
      // bloat: total rows past `autoCompactSlack` x the distinct (id, fp)
      store.autoCompact(kept, autoCompactSlack) {
        val r = store.read()
          .agg(count(lit(1)), count_distinct(col("id"), col("fp"))).head()
        r.getLong(0) > (autoCompactSlack * r.getLong(1)).toLong
      }
    } finally fps.unpersist()
  }

  /** Drop replay-accumulated duplicate (id, fp) rows. */
  def compactStore(): Unit = store.compact()
}
