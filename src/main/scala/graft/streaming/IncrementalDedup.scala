package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.StoreSwap
import graft.ops.Dedup

/** Incremental near-duplicate filtering for a growing corpus — the
  * 100 TB-shaped alternative to recomputing all-pairs dedup on every
  * ingest: a persisted (id, band, bucket) signature store; each new
  * batch hashes ONCE, joins its buckets against the store (equi-join,
  * candidates only), verifies exact Jaccard against just the candidate
  * partners, drops near-dups, and appends the survivors' signatures.
  *
  * Work per batch is O(batch x hashes) + a hash join keyed on bucket
  * — independent of corpus size except through bucket collision rate.
  * On boilerplate-heavy corpora that exception bites: stored FALSE
  * collisions (docs sharing band minima without passing verification)
  * accumulate in hot buckets and tax every future batch quadratically;
  * `maxStoreBucket` drops over-cap store buckets whole (see
  * processBatch), and upstream span-removal cleaning (SCALE.md
  * pipeline order) prevents the accumulation at the source.
  * Designed for use inside foreachBatch of a document stream. Replay
  * of a crashed batch is OUTPUT-correct (self-matches are excluded, so
  * survivors survive again); the store may then hold duplicate
  * signature rows for those ids, which only re-derives the same
  * candidates; auto-compaction drops them past `autoCompactSlack`x
  * bloat (a clean store holds exactly `bands` rows per id).
  */
final class IncrementalDedup(spark: SparkSession, storeDir: String,
                             shingleK: Int = 3, numHashes: Int = 16,
                             bands: Int = 8, threshold: Double = 0.7,
                             autoCompactSlack: Double = 1.5,
                             maxStoreBucket: Int = Int.MaxValue) {
  require(numHashes % bands == 0)
  require(maxStoreBucket > 0, "maxStoreBucket must be positive")

  private val rowsPerBand = numHashes / bands

  private val store = StoreSwap.Table(spark, s"$storeDir/signatures", StructType(Seq(
      StructField("id", LongType),
      StructField("band", IntegerType),
      StructField("bucket", LongType),
      StructField("shingle_set", ArrayType(StringType, containsNull = false)))),
    Seq("id", "band", "bucket"))

  // Bucket values are persisted, so EVERYTHING that determines them is
  // part of the on-disk format: the hash formula version (v2 = native
  // band_buckets XXH64 chain; v1 was the string-concat xxhash64 tree)
  // AND the hyperparameters (shingleK/numHashes/bands). Reopening a
  // store with different hyperparameters would silently never match
  // buckets — exactly the silent recall loss the marker exists to
  // fail fast on.
  private val formatVersion =
    s"2:shingleK=$shingleK,numHashes=$numHashes,bands=$bands"
  // bare pre-hyperparameter markers ("1"/"2") recorded the formula
  // but NOT the params the store was built with — there is no way
  // to know them, so such stores are unconditionally incomparable
  // (guessing defaults would silently admit a mismatched store)
  StoreSwap.open(storeDir, Seq(store.path), formatVersion, "1")(found =>
    s"signature store at $storeDir uses bucket format [$found], this build writes " +
      s"[$formatVersion] — rebuild the store (bucket hashes are not comparable)")

  /** Banded (id, band, bucket, shingle_set) rows for a batch — same
    * bucketing as Dedup.minhashCandidates via Dedup.bandBuckets.
    */
  private def signatures(batch: DataFrame, textCol: String, idCol: String): DataFrame =
    Dedup.shingleTable(batch, textCol, idCol, shingleK)
      .select(col(idCol).as("id"), col("shingle_set"),
        Dedup.minhashSignature(col("shingle_set"), numHashes).as("__sig"))
      .select(col("id"), col("shingle_set"),
        posexplode(Dedup.bandBuckets(col("__sig"), bands, rowsPerBand))
          .as(Seq("band", "bucket")))
      .select(col("id"), col("band").cast("int").as("band"), col("bucket"),
        col("shingle_set"))

  /** Process one batch: returns the rows that are NOT near-dups of the
    * already-accepted corpus (nor of an earlier row in the same batch),
    * and persists their signatures.
    */
  def processBatch(batch: DataFrame, textCol: String, idCol: String): DataFrame = {
    val sigs = signatures(batch, textCol, idCol).cache()
    try {
      // Staged-shingle candidate verification (same shape as the batch
      // jaccardTopK fix): the bucket join and the pair distinct move
      // only NARROW (id, partner) rows; shingle sets join back once per
      // distinct id afterwards. The previous shape dragged both full
      // shingle arrays through the candidate distinct — text-derived
      // payload shuffling at candidate-PAIR volume, which on a
      // boilerplate-heavy corpus (sf10 dup-heavy stress fixture, 100k
      // doc batches, 30% shared paragraphs) measured 209 s for batch 0
      // and 398 s for batch 1 before this rewrite.
      val batchSets = sigs.select(col("id"), col("shingle_set"))
        .dropDuplicates("id")
      // candidates vs the persisted corpus. The store row's id rides
      // along so a row never matches ITSELF: a foreachBatch replay
      // after a crash re-presents rows whose signatures were already
      // persisted, and without the self-exclusion every replayed
      // survivor would J=1-match its own stored set and be dropped.
      // Every join below that touches the pair stream or the set
      // tables is hinted shuffle_hash: on an adversarial corpus the
      // pair stream can be orders of magnitude larger than any size
      // ESTIMATE suggests (narrow projections of it look tiny to the
      // planner), and a mis-chosen broadcast build of it is a driver
      // OOM — measured on the first staged-shape attempt at sf10.
      // Optional hot-bucket cap on the STORE side (batch analogue:
      // Dedup.minhashCandidates maxBucket). Over-cap store buckets are
      // dropped WHOLE before pair formation. Principled on this store
      // specifically: true near-dups never accumulate here (a
      // J>=threshold match is dropped, not appended), so a bucket that
      // grows past any reasonable cap holds FALSE collisions — docs
      // sharing band minima (boilerplate) without passing verification
      // — and each one taxes every future batch. A true partner that
      // happens to sit in a hot bucket usually also shares one of the
      // other bands' doc-specific buckets. Default Int.MaxValue =
      // exact (no cap).
      val storeBuckets = {
        val sb = store.read().select(col("band"), col("bucket"), col("id").as("__cid"))
        if (maxStoreBucket == Int.MaxValue) sb
        else sb.join(
          // distinct members, not rows: foreachBatch replays can leave
          // duplicate signature rows until compaction, and a row count
          // would let a replay push a legitimate bucket over the cap
          sb.groupBy(col("band"), col("bucket"))
            .agg(count_distinct(col("__cid")).as("__bsz"))
            .filter(col("__bsz") <= maxStoreBucket)
            .select(col("band"), col("bucket")),
          Seq("band", "bucket"), "left_semi")
      }
      val candPairs = sigs.select(col("band"), col("bucket"), col("id"))
        .join(storeBuckets, Seq("band", "bucket"))
        .filter(col("id") =!= col("__cid"))
        .select(col("id"), col("__cid")).distinct()
      val candPartners = candPairs.select(col("__cid")).distinct()
      val corpusSets = store.read()
        .select(col("id").as("__cid"), col("shingle_set").as("__corpus_set"))
        .join(candPartners.hint("shuffle_hash"), Seq("__cid"), "left_semi")
        .dropDuplicates("__cid")
      val cands = candPairs
        .join(batchSets.hint("shuffle_hash"), Seq("id"))
        .join(corpusSets.hint("shuffle_hash"), Seq("__cid"))
        .withColumn("j", Dedup.jaccardFromSets(col("shingle_set"), col("__corpus_set")))
        .filter(col("j") >= threshold)
        .select(col("id")).distinct()
      // candidates within the batch itself (keep lowest id of a pair)
      val intraPairs = sigs.select(col("band"), col("bucket"), col("id").as("id_a"))
        .join(sigs.select(col("band"), col("bucket"), col("id").as("id_b")),
          Seq("band", "bucket"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b")).distinct()
      val intra = intraPairs
        .join(batchSets.select(col("id").as("id_a"), col("shingle_set").as("__sa"))
          .hint("shuffle_hash"), Seq("id_a"))
        .join(batchSets.select(col("id").as("id_b"), col("shingle_set").as("__sb"))
          .hint("shuffle_hash"), Seq("id_b"))
        .withColumn("j", Dedup.jaccardFromSets(col("__sa"), col("__sb")))
        .filter(col("j") >= threshold)
        .select(col("id_b").as("id")).distinct()
      val dupIds = cands.unionByName(intra).distinct()
      val kept = batch.join(dupIds.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
      // persist the survivors' signatures for future batches
      val keptSigs = sigs.join(
        kept.select(col(idCol).as("id")), Seq("id"), "left_semi")
      store.append(keptSigs.select(col("id"), col("band"), col("bucket"), col("shingle_set")))
      store.autoCompact(kept, autoCompactSlack) {
        val (rows, ids) = storeStats()
        rows > (autoCompactSlack * ids * bands).toLong
      }
    } finally sigs.unpersist()
  }

  /** State-store size probe: (total signature rows, distinct ids) —
    * a clean store holds exactly `bands` rows per id, so rows >
    * slack × ids × bands quantifies replay bloat. Column-pruned scan
    * of the id column only; the co-run maintenance ledger surfaces it
    * per batch.
    */
  def storeStats(): (Long, Long) = {
    val r = store.read().agg(count(lit(1)), count_distinct(col("id"))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Drop replayed duplicate signature rows (by (id, band, bucket)). */
  def compactStore(): Unit = store.compact()
}
