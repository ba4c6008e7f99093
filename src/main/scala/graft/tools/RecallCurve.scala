package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.ops.{Ivf, Pq, Similarity}

/** Measured recall curves for the ANN surface — the numbers behind
  * docs/RECALL.md, so a user choosing (nBits, nTables) for SRP-LSH or
  * (k, nProbe, multi-assign m) for IVF at 100 TB has the engine's own
  * measurements on its own fixture, not just the banding formula.
  *
  * Everything here is DETERMINISTIC given the input parquet: SRP
  * hyperplanes are seeded, IVF init is farthest-point over an
  * md5-ordered sample, ranking tie-breaks on id. RecallCurveSpec
  * re-computes headline grid points and pins them to the documented
  * values (IVF within a small tolerance: Lloyd means average doubles
  * in shuffle order, so the last bits can differ across partitionings).
  *
  * recall@5 = |approx top5 ∩ exact top5| / 5, averaged over the probe
  * set (vec_id < nProbes), exact side from brute force. Each grid cell
  * runs ONE unbounded search: the full ranked candidate list yields
  * recall (rank <= 5 rows — identical to the k=5 search, same window
  * ranking) and candidate-fraction (total rows) in a single pass.
  */
object RecallCurve {
  val DefaultProbes = 50

  def emb(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")

  /** (query_id, corpus_id) exact top-5 pairs for the probe set. */
  def exactTop5(spark: SparkSession, dir: String,
                nProbes: Int = DefaultProbes): DataFrame = {
    val e = emb(spark, dir)
    Similarity.bruteForceTopK(e, e.filter(col("vec_id") < nProbes), k = 5)
      .select("query_id", "corpus_id")
  }

  /** (recall@5, candidate-fraction) from one full ranked candidate
    * list — cached so the two counts share the single search.
    */
  private def cell(full: DataFrame, exact: DataFrame, nProbes: Int,
                   nCorpus: Long): (Double, Double) = {
    val f = full.select("query_id", "corpus_id", "rank").cache()
    try {
      val cands = f.count()
      val hits = exact.join(f.filter(col("rank") <= 5),
        Seq("query_id", "corpus_id"), "left_semi").count()
      (math.round(hits.toDouble / (nProbes * 5L) * 1000) / 1000.0,
        math.round(cands.toDouble / (nProbes * (nCorpus - 1L)) * 1000) / 1000.0)
    } finally f.unpersist()
  }

  /** SRP-LSH (recall@5, candidate-fraction) for one (nBits, nTables)
    * point — one search through the production path.
    */
  def lshCell(spark: SparkSession, dir: String, nBits: Int, nTables: Int,
              nProbes: Int = DefaultProbes,
              exact: Option[DataFrame] = None): (Double, Double) = {
    val e = emb(spark, dir)
    val full = Similarity.lshTopK(e, e.filter(col("vec_id") < nProbes),
      k = Int.MaxValue, nBits = nBits, nTables = nTables)
    cell(full, exact.getOrElse(exactTop5(spark, dir, nProbes)), nProbes, e.count())
  }

  /** IVF (recall@5, candidate-fraction) for one nProbe over a prebuilt
    * index — one search through the production path.
    */
  def ivfCell(spark: SparkSession, dir: String, index: Ivf.IvfIndex,
              nProbe: Int, nProbes: Int = DefaultProbes,
              exact: Option[DataFrame] = None): (Double, Double) = {
    val e = emb(spark, dir)
    val full = Ivf.search(index, e.filter(col("vec_id") < nProbes),
      topK = Int.MaxValue, nProbe = nProbe)
    cell(full, exact.getOrElse(exactTop5(spark, dir, nProbes)), nProbes, e.count())
  }

  def lshRecall(spark: SparkSession, dir: String, nBits: Int, nTables: Int,
                nProbes: Int = DefaultProbes,
                exact: Option[DataFrame] = None): Double =
    lshCell(spark, dir, nBits, nTables, nProbes, exact)._1

  def lshCandidateFrac(spark: SparkSession, dir: String, nBits: Int,
                       nTables: Int, nProbes: Int = DefaultProbes): Double =
    lshCell(spark, dir, nBits, nTables, nProbes)._2

  def ivfRecall(spark: SparkSession, dir: String, index: Ivf.IvfIndex,
                nProbe: Int, nProbes: Int = DefaultProbes,
                exact: Option[DataFrame] = None): Double =
    ivfCell(spark, dir, index, nProbe, nProbes, exact)._1

  /** PQ recall@5 for one (m, shortlist) point: the flat-ADC search's
    * final top-5 vs brute force. The cost axis here is not candidate
    * volume (a flat code scan touches every code) but bytes and ops
    * per candidate — m bytes + m lookups vs dim floats + dim
    * multiplies — so the doc reports recall alone for the compression
    * dial.
    */
  def pqRecall(spark: SparkSession, dir: String, m: Int, shortlist: Int,
               k: Int = 16, nProbes: Int = DefaultProbes,
               exact: Option[DataFrame] = None): Double = {
    val e = emb(spark, dir)
    val got = Pq.search(e, e.filter(col("vec_id") < nProbes), topK = 5,
        m = m, k = k, shortlist = shortlist)
      .select("query_id", "corpus_id")
    val ex = exact.getOrElse(exactTop5(spark, dir, nProbes))
    val hits = ex.join(got, Seq("query_id", "corpus_id"), "left_semi").count()
    math.round(hits.toDouble / (nProbes * 5L) * 1000) / 1000.0
  }

  /** IVF-PQ recall@5 for one nProbe at fixed (kCells, m, shortlist):
    * the composed path's final top-5 vs brute force. Candidate-fraction
    * is ~nProbe/kCells (the IVF table's cost column); the PQ stage
    * changes per-candidate cost, not candidate count.
    */
  def ivfPqRecall(spark: SparkSession, dir: String, kCells: Int, nProbe: Int,
                  m: Int = 16, shortlist: Int = 0,
                  nProbes: Int = DefaultProbes,
                  exact: Option[DataFrame] = None): Double = {
    val e = emb(spark, dir)
    val got = Pq.searchIvfPq(e, e.filter(col("vec_id") < nProbes), topK = 5,
        kCells = kCells, nProbe = nProbe, m = m, shortlist = shortlist)
      .select("query_id", "corpus_id")
    val ex = exact.getOrElse(exactTop5(spark, dir, nProbes))
    val hits = ex.join(got, Seq("query_id", "corpus_id"), "left_semi").count()
    math.round(hits.toDouble / (nProbes * 5L) * 1000) / 1000.0
  }

  /** Planted-near-dup PAIR recall for `cosineNearDups` at one
    * (nBits, nTables) point: fraction of the exact cos>=thresh pairs
    * (the capped sub-population the q_emb_near_dups_lsh gate measures —
    * same [[SparkEntry.EmbAuditCap]], so the documented numbers track
    * the contract population if the cap moves) that the LSH path
    * surfaces.
    */
  def nearDupPairRecall(spark: SparkSession, dir: String, nBits: Int,
                        nTables: Int, cap: Long = SparkEntry.EmbAuditCap,
                        thresh: Double = 0.4): Double = {
    val e = emb(spark, dir).filter(col("vec_id") < cap)
    val exact = Similarity.exactNearDupPairs(e, thresh).select("id_a", "id_b")
    val lsh = Similarity.cosineNearDups(e, thresh, nBits = nBits,
      nTables = nTables).select("id_a", "id_b")
    val total = exact.count()
    val hit = exact.join(lsh, Seq("id_a", "id_b"), "left_semi").count()
    if (total == 0) 1.0 else math.round(hit.toDouble / total * 1000) / 1000.0
  }

  /** SemDeDup-style candidate-PAIR recall for multi-assignment m: of
    * the exact cosine>=thresh pairs on the capped slice, the fraction
    * whose two vectors share at least one of their m nearest lists.
    */
  def pairRecall(spark: SparkSession, dir: String, index: Ivf.IvfIndex,
                 m: Int, cap: Long = SparkEntry.EmbAuditCap,
                 thresh: Double = 0.4): Double = {
    val e = emb(spark, dir).filter(col("vec_id") < cap)
    val exact = Similarity.exactNearDupPairs(e, thresh).select("id_a", "id_b")
    val assigned = Ivf.multiAssign(e, index, m)
      .select(col("vec_id"), col("centroid_id"))
    val cands = assigned.select(col("vec_id").as("id_a"), col("centroid_id"))
      .join(assigned.select(col("vec_id").as("id_b"), col("centroid_id")),
        Seq("centroid_id"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val total = exact.count()
    val hit = exact.join(cands, Seq("id_a", "id_b"), "left_semi").count()
    if (total == 0) 1.0 else math.round(hit.toDouble / total * 1000) / 1000.0
  }

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val exact = Some(exactTop5(spark, dir).cache())
    exact.foreach(_.count())
    val cap = SparkEntry.EmbAuditCap

    println(s"## SRP-LSH recall@5 / candidate-fraction ($dir, ${DefaultProbes} probes)")
    println("| nBits \\ nTables | 4 | 8 | 16 | 32 |")
    println("|---|---|---|---|---|")
    for (nBits <- Seq(2, 4, 6, 8)) {
      val row = Seq(4, 8, 16, 32).map { t =>
        val (r, f) = lshCell(spark, dir, nBits, t, exact = exact)
        s"$r / $f"
      }
      println(s"| $nBits | ${row.mkString(" | ")} |")
    }

    println(s"\n## IVF recall@5 / candidate-fraction ($dir, ${DefaultProbes} probes)")
    println("| k \\ nProbe | 2 | 4 | 8 | 12 |")
    println("|---|---|---|---|---|")
    for (k <- Seq(16, 64)) {
      val idx = Ivf.build(emb(spark, dir), k = k)
      val row = Seq(2, 4, 8, 12).map { p =>
        val (r, f) = ivfCell(spark, dir, idx, p, exact = exact)
        s"$r / $f"
      }
      println(s"| $k | ${row.mkString(" | ")} |")
    }

    println(s"\n## PQ recall@5 vs (m, shortlist) ($dir, ${DefaultProbes} probes, k=16)")
    println("| m \\ shortlist | 20 | 40 | 80 |")
    println("|---|---|---|---|")
    for (m <- Seq(8, 16)) {
      val row = Seq(20, 40, 80).map(sl =>
        s"${pqRecall(spark, dir, m, sl, exact = exact)}")
      println(s"| $m | ${row.mkString(" | ")} |")
    }

    println(s"\n## IVF-PQ recall@5 vs nProbe (kCells=16, m=16, shortlist=80)")
    val ivfPqRow = Seq(4, 8, 12).map(p =>
      s"nProbe=$p: ${ivfPqRecall(spark, dir, kCells = 16, nProbe = p, exact = exact)}")
    println(ivfPqRow.mkString("  "))

    println(s"\n## Planted near-dup pair recall (cosineNearDups, cap $cap, cos>=0.4)")
    val nd = Seq((4, 32), (6, 16), (8, 8), (8, 4))
      .map { case (b, t) => s"($b,$t): ${nearDupPairRecall(spark, dir, b, t)}" }
    println(nd.mkString("  "))

    println(s"\n## SemDeDup pair recall vs multi-assign m (k=16, cap $cap, cos>=0.4)")
    val idx16 = Ivf.build(emb(spark, dir).filter(col("vec_id") < cap), k = 16)
    val ms = Seq(1, 2, 3).map(m => s"m=$m: ${pairRecall(spark, dir, idx16, m)}")
    println(ms.mkString("  "))
    spark.stop()
  }
}
