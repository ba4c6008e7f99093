package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.StoreSwap
import graft.ops.Similarity

/** Incremental embedding near-duplicate filtering — the vector-space
  * sibling of [[IncrementalDedup]], for a corpus whose embeddings grow
  * batch by batch: a persisted (id, table, bucket, embedding, norm)
  * SRP signature store; each new batch hashes ONCE, equi-joins its
  * buckets against the store, cosine-verifies only the candidate
  * partners, drops near-dups (vs the accepted corpus and within the
  * batch, keeping the lowest id), and appends the survivors.
  *
  * Work per batch is O(batch x nTables) + a bucket-keyed hash join —
  * independent of corpus size except through bucket collision rate.
  * Recall follows the SRP parameters exactly as in
  * [[Similarity.cosineNearDups]] (same hyperplanes: both sides hash
  * through the shared srp_signatures expression). Designed for use
  * inside foreachBatch of an embedding stream. Replay of a crashed
  * batch is OUTPUT-correct (self-matches excluded); duplicate store
  * rows from a replay only re-derive the same candidates, and
  * auto-compaction drops them past `autoCompactSlack`x bloat (a clean
  * store holds exactly `nTables` rows per id).
  */
final class IncrementalAnn(spark: SparkSession, storeDir: String,
                           nBits: Int = 8, nTables: Int = 8,
                           threshold: Double = 0.9,
                           autoCompactSlack: Double = 1.5) {

  private val store = StoreSwap.Table(spark, s"$storeDir/srp_signatures", StructType(Seq(
      StructField("id", LongType),
      StructField("table", IntegerType),
      StructField("bucket", LongType),
      StructField("embedding", ArrayType(DoubleType, containsNull = false)),
      StructField("norm", DoubleType))),
    Seq("id", "table", "bucket"))

  // Bucket values are persisted, so EVERYTHING that determines them is
  // part of the on-disk format — the SRP hyperplane scheme version AND
  // the hyperparameters (nBits/nTables). Reopening a store with
  // different nBits/nTables would silently never match buckets; the
  // marker exists to fail fast on exactly that.
  private val formatVersion = s"1:nBits=$nBits,nTables=$nTables"
  // bare pre-hyperparameter markers recorded the formula but NOT
  // the params the store was built with — unconditionally
  // incomparable (guessing defaults would silently admit a
  // mismatched store)
  StoreSwap.open(storeDir, Seq(store.path), formatVersion, "0")(found =>
    s"SRP store at $storeDir uses bucket format [$found], this build writes " +
      s"[$formatVersion] — rebuild the store (bucket hashes are not comparable)")

  /** (id, table, bucket, embedding, norm) rows for a batch — the same
    * bucketing as Similarity's SRP operators.
    */
  private def signatures(batch: DataFrame, vecCol: String, idCol: String): DataFrame =
    batch.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("embedding"))
      .withColumn("norm", Similarity.norm(col("embedding")))
      .select(col("id"), col("embedding"), col("norm"),
        posexplode(graft.functions.VectorExpressions
          .srp_signatures(col("embedding"), nBits, nTables)).as(Seq("table", "bucket")))
      .select(col("id"), col("table").cast("int").as("table"), col("bucket"),
        col("embedding"), col("norm"))

  private def cos(va: org.apache.spark.sql.Column, na: org.apache.spark.sql.Column,
                  vb: org.apache.spark.sql.Column, nb: org.apache.spark.sql.Column) =
    Similarity.safeCosine(Similarity.dot(va, vb), na, nb)

  /** Process one batch: returns rows NOT near-duplicate (cosine >=
    * threshold) of the accepted corpus or an earlier row of the same
    * batch, and persists the survivors' signatures.
    */
  def processBatch(batch: DataFrame, vecCol: String, idCol: String): DataFrame = {
    val sigs = signatures(batch, vecCol, idCol).cache()
    try {
      // candidates vs the persisted corpus: bucket equi-join, verify.
      // The store id rides along so a row never matches ITSELF — a
      // foreachBatch replay re-presents rows whose signatures were
      // already persisted, and without the self-exclusion every
      // replayed survivor would cosine-1-match its own stored vector.
      //
      // Deliberately NOT the staged narrow-pair shape IncrementalDedup
      // uses — measured, it loses here. On the sf3 embeddings streamed
      // in 5 batches (SCALE.md "Dup-heavy adversarial stress"), one
      // payload-carrying join + distinct runs 17.3 s at dim 64 and
      // 33.2 s FLAT per batch at dim 768 (REPEAT=12), while the staged
      // shape measured 70.3 s / 171.9 s with a GROWING curve. The
      // asymmetry vs text: SRP tables have 2^nBits buckets, so the
      // pair distinct dedups little (a pair shares few buckets), and
      // verification needs pair x vector rows regardless — staging
      // just re-shuffles the pair stream two extra times to reattach
      // what the bucket join already delivered. MinHash banding is the
      // opposite: huge bucket space, adversarially concentrated
      // collisions, and KB-scale shingle sets that dedup away before
      // payload attaches.
      val vsCorpus = sigs.join(
          store.read().select(col("table"), col("bucket"), col("id").as("__cid"),
            col("embedding").as("__ce"), col("norm").as("__cn")),
          Seq("table", "bucket"))
        .filter(col("id") =!= col("__cid"))
        .select(col("id"), col("embedding"), col("norm"), col("__ce"), col("__cn"))
        .distinct()
        .filter(cos(col("embedding"), col("norm"), col("__ce"), col("__cn")) >= threshold)
        .select(col("id")).distinct()
      // candidates within the batch itself (keep the lowest id)
      val a = sigs.select(col("table"), col("bucket"), col("id").as("id_a"),
        col("embedding").as("__va"), col("norm").as("__na"))
      val b = sigs.select(col("table"), col("bucket"), col("id").as("id_b"),
        col("embedding").as("__vb"), col("norm").as("__nb"))
      val intra = a.join(b, Seq("table", "bucket"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), col("__va"), col("__na"), col("__vb"), col("__nb"))
        .distinct()
        .filter(cos(col("__va"), col("__na"), col("__vb"), col("__nb")) >= threshold)
        .select(col("id_b").as("id")).distinct()
      val dupIds = vsCorpus.unionByName(intra).distinct()
      val kept = batch.join(dupIds.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
      val keptSigs = sigs.join(
        kept.select(col(idCol).as("id")), Seq("id"), "left_semi")
      store.append(keptSigs.select(col("id"), col("table"), col("bucket"),
        col("embedding"), col("norm")))
      store.autoCompact(kept, autoCompactSlack) {
        val (rows, ids) = storeStats()
        rows > (autoCompactSlack * ids * nTables).toLong
      }
    } finally sigs.unpersist()
  }

  /** State-store size probe: (total signature rows, distinct ids) —
    * a clean store holds exactly `nTables` rows per id; the co-run
    * maintenance ledger surfaces it per batch. Column-pruned id scan.
    */
  def storeStats(): (Long, Long) = {
    val r = store.read().agg(count(lit(1)), count_distinct(col("id"))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Drop replayed duplicate signature rows (by (id, table, bucket)). */
  def compactStore(): Unit = store.compact()
}
