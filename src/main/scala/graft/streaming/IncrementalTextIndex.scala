package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.StoreSwap

/** Incremental lexical (BM25) index for a growing corpus — the
  * persisted-index sibling of the dedup/ANN/boilerplate/winnow
  * stores: each batch appends its POSTINGS (id, term, tf) and doc
  * LENGTHS (id, len), and [[search]] scores queries against
  * everything indexed so far WITHOUT rescanning any text — the
  * inverted-index economics that make keyword search feasible over a
  * corpus far larger than a per-query scan.
  *
  * Replay idempotency (the family's foreachBatch contract): a crashed
  * batch re-appends identical posting/length rows, and reads
  * deduplicate by (term, id) / (id) — tf and len are pure functions
  * of the doc text, so duplicates are bit-identical and results can
  * never drift. Replay bloat is storage-only; [[compactStore]] dedups
  * it.
  *
  * Search work is posting-bounded: the term filter prunes the posting
  * scan to the query slice (PushedFilters on `term`), corpus stats
  * come from the lengths table (id-width rows), and the scoring core
  * is [[graft.ops.TextAnalysis.bm25FromPostings]] — bit-identical to
  * the corpus-scan [[graft.ops.TextAnalysis.bm25TopK]], which is the
  * parity oracle the spec pins.
  */
final class IncrementalTextIndex(spark: SparkSession, storeDir: String) {

  private val postings = StoreSwap.Table(spark, s"$storeDir/postings", StructType(Seq(
      StructField("term", StringType), StructField("id", LongType),
      StructField("tf", DoubleType))),
    Seq("term", "id"))
  private val lens = StoreSwap.Table(spark, s"$storeDir/lens", StructType(Seq(
      StructField("id", LongType), StructField("len", DoubleType))),
    Seq("id"))

  private val formatVersion = "1:ws-lower-tf"
  StoreSwap.open(storeDir, Seq(postings.path, lens.path), formatVersion, "?")(found =>
    s"text index at $storeDir uses tokenization format [$found], this build " +
      s"writes [$formatVersion] — rebuild the index")

  /** Tokenize one batch and append its postings + lengths. The batch
    * is pinned with localCheckpoint before the two write jobs: a
    * non-deterministic source (sample/limit upstream) would otherwise
    * recompute between them and persist postings and lengths that
    * disagree about which rows the batch contained.
    */
  def indexBatch(batch: DataFrame, textCol: String, idCol: String): Unit = {
    val toks = batch.select(col(idCol).cast("long").as("id"),
      split(lower(trim(col(textCol))), "\\s+").as("__toks"))
      .localCheckpoint(true)
    try {
      postings.append(toks.select(col("id"), explode(col("__toks")).as("term"))
        .groupBy(col("term"), col("id"))
        .agg(count(lit(1)).cast("double").as("tf")))
      lens.append(toks.select(col("id"), size(col("__toks")).cast("double").as("len")))
    } finally toks.unpersist()
  }

  /** BM25 top-k over everything indexed so far — no text scan. */
  def search(query: Seq[String], k: Int,
             k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(query.nonEmpty, "empty query")
    val tf = postings.read()
      .filter(col("term").isin(query: _*))
      .dropDuplicates(postings.keys)
    graft.ops.TextAnalysis.bm25FromPostings(tf, lens.read().dropDuplicates(lens.keys), k, k1, b)
  }

  /** Storage-only maintenance: dedup replay-duplicated rows. Results
    * never depend on it (reads deduplicate).
    */
  def compactStore(): Unit = Seq(postings, lens).foreach(_.compact())

  /** (posting rows, distinct postings) — the replay-bloat probe. */
  def storeStats(): (Long, Long) = {
    val p = postings.read()
    (p.count(), p.dropDuplicates(postings.keys).count())
  }
}
