package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.StoreSwap

/** Incremental entity resolution for a growing record stream — the
  * linkage sibling of the dedup/ANN/winnow/boilerplate/BM25 stores:
  * each batch's records are blocked into their SymSpell deletion-
  * neighborhood variants ([[graft.ops.FuzzyJoin.deleteVariants]]),
  * matched against the PERSISTED variant index (so a typo arriving
  * today links to a record ingested months ago without rescanning any
  * old names — the candidate join is pruned to the batch's variant
  * slice, exactly the posting-slice economics of the BM25 store),
  * verified with row-local levenshtein, and the surviving pairs
  * appended to a persisted edge log. [[resolve]] closes the edge log
  * into canonical entity ids via [[graft.ops.Dedup.clusterPairs]].
  *
  * Replay idempotency (the family's foreachBatch contract): variants,
  * records and edges are pure functions of the batch rows, so a
  * crashed batch re-appends bit-identical rows and reads deduplicate
  * by key — resolution can never drift under replay. Replay bloat is
  * storage-only; [[compactStore]] dedups it.
  *
  * `maxDist` is part of the store format (variants depend on it):
  * reopening with a different distance fails loudly instead of
  * silently missing matches.
  */
final class IncrementalEntities(spark: SparkSession, storeDir: String,
                                maxDist: Int = 1) {
  require(maxDist == 1 || maxDist == 2, "maxDist must be 1 or 2")

  private val variants = StoreSwap.Table(spark, s"$storeDir/variants", StructType(Seq(
      StructField("variant", StringType), StructField("id", LongType),
      StructField("name", StringType))),
    Seq("variant", "id"))
  private val records = StoreSwap.Table(spark, s"$storeDir/records", StructType(Seq(
      StructField("id", LongType), StructField("name", StringType))),
    Seq("id"))
  private val edges = StoreSwap.Table(spark, s"$storeDir/edges", StructType(Seq(
      StructField("id_a", LongType), StructField("id_b", LongType))),
    Seq("id_a", "id_b"))
  private val tables = Seq(variants, records, edges)

  private val formatVersion = s"1:del-neighborhood-d$maxDist"
  StoreSwap.open(storeDir, tables.map(_.path), formatVersion, "?")(found =>
    s"entity store at $storeDir uses blocking format [$found], this build " +
      s"writes [$formatVersion] — rebuild the store")

  /** Block, match (vs the index AND within the batch), and append one
    * batch. The batch is pinned before the three writes so a
    * non-deterministic source can't persist disagreeing slices.
    */
  def indexBatch(batch: DataFrame, idCol: String, nameCol: String): Unit = {
    val recs = batch
      .select(col(idCol).cast("long").as("id"),
        col(nameCol).cast("string").as("name"))
      .filter(col("id").isNotNull && col("name").isNotNull)
      .localCheckpoint(true)
    try {
      val bVars = recs.select(col("id"), col("name"),
        explode(graft.ops.FuzzyJoin.deleteVariants(col("name"), maxDist))
          .as("variant"))
      // candidates vs everything indexed SO FAR: the join touches only
      // the persisted rows sharing a batch variant (PushedFilters on
      // the variant slice at scale via bucketing; never a name rescan)
      val existing = variants.read().dropDuplicates(variants.keys)
        .select(col("variant"), col("id").as("eid"), col("name").as("ename"))
      val crossEdges = bVars.join(existing, "variant")
        .filter(col("id") =!= col("eid"))
        .select(col("id"), col("eid"), col("name"), col("ename")).distinct()
        .filter(levenshtein(col("name"), col("ename")) <= maxDist)
        .select(least(col("id"), col("eid")).as("id_a"),
          greatest(col("id"), col("eid")).as("id_b"))
      // plus matches WITHIN the batch (the index doesn't have it yet)
      val selfEdges = graft.ops.FuzzyJoin.editDistanceJoin(
          recs.select(col("id").as("id_a"), col("name").as("na")),
          recs.select(col("id").as("id_b"), col("name").as("nb")),
          "na", "nb", maxDist)
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"))
      edges.append(crossEdges.union(selfEdges).distinct())
      variants.append(bVars.select(col("variant"), col("id"), col("name")))
      records.append(recs)
    } finally recs.unpersist()
  }

  /** (id, name, entity_id) for every record indexed so far —
    * entity_id = min record id of the connected match component;
    * unmatched records are their own entity.
    */
  def resolve(): DataFrame = {
    val recs = records.read().dropDuplicates(records.keys)
    val clusters = graft.ops.Dedup.clusterPairs(edges.read().dropDuplicates(edges.keys))
    recs.join(clusters, recs("id") === clusters("id"), "left")
      .select(recs("id"), col("name"),
        coalesce(col("cluster_id"), recs("id")).as("entity_id"))
  }

  /** Storage-only maintenance: dedup replay-duplicated rows. */
  def compactStore(): Unit = tables.foreach(_.compact())

  /** (n_records, n_edges) rows currently persisted (replay bloat
    * included — compact to shrink).
    */
  def storeStats(): (Long, Long) = (records.read().count(), edges.read().count())
}
