package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor / similarity search over an embedding
  * column (Array[Float|Double]).
  *
  * Baseline: brute-force cosine top-k — probe set broadcast against the
  * corpus; norms are precomputed per row BEFORE the pair join so the
  * per-pair work is one dot product. At 100 TB the corpus side streams
  * (one scan, no corpus shuffle); only (probe x k) survivors shuffle for
  * the final rank.
  *
  * Scale path: LSH bucketing via signed-random-projection (SRP) bit
  * signatures — corpus hashed once into buckets, probes join only their
  * bucket (candidates << corpus), then exact cosine re-rank. Same
  * equi-join shape as Dedup's MinHash LSH.
  *
  * All vector math is zip_with/aggregate codegen expressions — no UDFs.
  */
object Similarity {

  /** Spread a COMPUTE-dense stream across the cluster's cores with an
    * EXPLICIT partition count. The count matters: a count-less
    * `repartition(col)` is REPARTITION_BY_COL, which AQE's
    * CoalesceShufflePartitions folds back down by BYTES (with
    * `parallelismFirst` it packs ~1 MB partitions) — and the vector
    * stages this helper guards are exactly the shape that heuristic
    * misjudges: a few hundred KB of ids/embeddings carrying an
    * O(n·probes) or O(n·k·dim) kernel. Round-16 measured the exact
    * all-pairs audit (2 M dot products) running as ONE post-coalesce
    * task on 32 cores for precisely this reason. An explicit count
    * (REPARTITION_BY_NUM) is exempt from coalescing, so the spread
    * the call sites were already paying for actually happens.
    *
    * Scale posture: every caller either already shuffled here by
    * design (the O(n) narrow exchange vs the quadratic stage it
    * parallelizes — see [[bruteForceTopK]]) or does per-row work that
    * dwarfs one narrow shuffle of its own input (centroid ranking,
    * ADC encode). `defaultParallelism` tracks the cluster (executors
    * × cores), not a constant; hash-partitioning on the id keeps the
    * kernel's row order deterministic-irrelevant (all consumers
    * aggregate or rank with total tie-breaks).
    */
  private[graft] def spread(df: DataFrame, keys: Column*): DataFrame = {
    // max(cores, shuffle.partitions) — REPARTITION_BY_NUM is exempt
    // from ALL AQE rewrites (including skew-split), so pinning the
    // count to exactly defaultParallelism would CAP the quadratic
    // stages this helper protects on deployments whose
    // shuffle.partitions is tuned above core count (round-17
    // ADVICE). In the bench harness the two are equal, so local
    // numbers are unchanged; on a tuned cluster the spread now
    // honors the operator-parallelism the session asked for.
    val sess = df.sparkSession
    val p = math.max(sess.sparkContext.defaultParallelism,
      sess.conf.get("spark.sql.shuffle.partitions", "1").toInt)
    if (keys.isEmpty) df.repartition(p) else df.repartition(p, keys: _*)
  }

  /** [[spread]], but ONLY when the input arrives with fewer splits
    * than half the cores — the single-row-group/single-file parquet
    * shape (guide §2.5 "one huge unsplittable file → repartition
    * immediately after the read"; §6: one row group cannot split at
    * any maxPartitionBytes). The driver fixtures are exactly that
    * shape, so every scan — and the heavy per-row map work fused
    * into it (tokenize, shingle, minhash, window hashing, UDF
    * extraction) — executes as ONE task. A multi-split scan (every
    * scaled fixture, any real multi-file deployment) skips the
    * exchange: the unconditional form was measured PURE COST at sf1
    * on benfordScreen (round 17), where the scan already
    * parallelizes. Callers that already repartitioned upstream pass
    * the gate with >= cores splits and are untouched.
    */
  private[graft] def spreadSerialScan(df: DataFrame, keys: Column*): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 >= p) df else spread(df, keys: _*)
  }

  /** Dot product of two array columns (double accumulation) — the
    * custom codegen Expression; semantically identical to
    * aggregate(zip_with(...)) but stays inside whole-stage codegen
    * (higher-order functions are interpreted).
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.vector_dot(a, b)

  /** L2 norm (custom codegen Expression). */
  def norm(a: Column): Column =
    graft.functions.VectorExpressions.vector_norm(a)

  /** Cosine similarity (use only when norms can't be precomputed). */
  def cosine(a: Column, b: Column): Column =
    safeCosine(dot(a, b), norm(a), norm(b))

  /** A zero-norm vector makes the cosine 0/0: under ANSI mode (Spark 4's
    * default) that THROWS [DIVIDE_BY_ZERO] and kills the whole job; with
    * ANSI off it yields NaN, which Spark orders ABOVE every number, so an
    * all-zeros embedding would out-rank genuine neighbors and satisfy
    * every `>= threshold` near-dup gate. A direction-less vector is
    * similar to nothing: guard the division and define its cosine as 0.
    * A NULL input (missing embedding) stays NULL — desc ordering puts
    * NULLS LAST, so a row with no embedding keeps ranking below every
    * real candidate instead of scoring 0.
    */
  def safeCosine(dp: Column, na: Column, nb: Column): Column = {
    val den = na * nb
    when(den > lit(0.0), dp / den).otherwise(when(den.isNotNull, lit(0.0)))
  }

  /** Brute-force cosine top-k: for each probe row, the k nearest corpus
    * rows (excluding self-id matches). Probe side must be small enough
    * to broadcast; the corpus streams through one scan with per-row
    * norms computed once.
    */
  def bruteForceTopK(corpus: DataFrame, probes: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // spread the stream side before the quadratic stage: a small corpus
    // often arrives as ONE scan partition (single parquet file / single
    // row group), which would serialize every dot product onto one core;
    // the repartition shuffle is O(n) against an O(n x probes) stage
    // (explicit count — see [[spread]]: AQE would re-coalesce a
    // count-less spread of byte-small vectors right back to one task)
    val c = spread(corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("__cv"))
      .withColumn("__cn", norm(col("__cv"))), col("corpus_id"))
    val p = probes.select(col(idCol).as("query_id"), col(vecCol).as("__pv"))
      .withColumn("__pn", norm(col("__pv")))
    val scored = c.crossJoin(broadcast(p))
      .filter(col("corpus_id") =!= col("query_id"))
      .withColumn("cosine",
        safeCosine(dot(col("__cv"), col("__pv")), col("__cn"), col("__pn")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("corpus_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"), col("rank"),
        round(col("cosine"), 4).as("cosine"))
  }

  /** Attribute-filtered vector search (the vector-DB "metadata filter"
    * capability): exact top-k over the subset of the corpus matching
    * `pred`. PRE-filtering — the predicate is part of the corpus scan,
    * so Catalyst pushes it into the parquet reader (plan-guarded:
    * PushedFilters) and the quadratic stage only ever sees survivors;
    * recall over the filtered set is exact BY CONSTRUCTION, unlike the
    * post-filter-an-ANN-shortlist shape, which loses results when the
    * filter decimates the shortlist. When the filtered subset is still
    * huge, compose the same predicate with the bucketed paths instead
    * ([[lshTopK]] / [[graft.ops.Ivf.search]] take the filtered frame
    * as their corpus — candidate generation then indexes survivors
    * only).
    */
  def filteredTopK(corpus: DataFrame, pred: Column, probes: DataFrame,
                   k: Int, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame =
    bruteForceTopK(corpus.filter(pred), probes, k, idCol, vecCol)

  /** SRP bit signature for one hash table — delegates to the codegen
    * SrpSignatures expression so every caller shares one definition of
    * the hyperplanes (corpus and probes must agree).
    */
  def srpSignature(vec: Column, nBits: Int, tableIdx: Int = 0): Column =
    element_at(graft.functions.VectorExpressions
      .srp_signatures(vec, nBits, tableIdx + 1), tableIdx + 1)

  /** Explode a table into (table, bucket) rows, one per hash table —
    * signatures via the one-pass codegen SrpSignatures expression.
    */
  private def bucketed(df: DataFrame, idCol: String, vecCol: String,
                       idAs: String, vecAs: String,
                       nBits: Int, nTables: Int): DataFrame =
    df.select(col(idCol).as(idAs), col(vecCol).as(vecAs),
      posexplode(graft.functions.VectorExpressions
        .srp_signatures(col(vecCol), nBits, nTables)).as(Seq("table", "bucket")))

  /** LSH-bucketed ANN top-k: candidates = corpus rows sharing an SRP
    * bucket with the probe in any of nTables tables, then exact cosine
    * re-rank within candidates. Recall < 1 by construction; raise
    * nTables (or lower nBits) to trade compute for recall.
    */
  def lshTopK(corpus: DataFrame, probes: DataFrame, k: Int,
              nBits: Int = 12, nTables: Int = 3,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = bucketed(corpus, idCol, vecCol, "corpus_id", "__cv", nBits, nTables)
      .select("table", "bucket", "corpus_id")
    val p = bucketed(probes, idCol, vecCol, "query_id", "__pv", nBits, nTables)
      .select("table", "bucket", "query_id")
    // dedup candidate PAIRS as bare ids — the multi-table explode makes
    // duplicates common, and distinct() on rows carrying both vectors
    // would shuffle k-dim arrays per duplicate; ids shuffle 16 bytes
    val cands = c.join(p, Seq("table", "bucket"))
      .filter(col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id"))
      .distinct()
    val cv = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("__cv"))
      .withColumn("__cn", norm(col("__cv")))
    val pv = probes.select(col(idCol).as("query_id"), col(vecCol).as("__pv"))
      .withColumn("__pn", norm(col("__pv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("corpus_id"))
    cands
      .join(cv, Seq("corpus_id"))
      .join(broadcast(pv), Seq("query_id"))
      .withColumn("cosine",
        safeCosine(dot(col("__cv"), col("__pv")), col("__cn"), col("__pn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"), col("rank"),
        round(col("cosine"), 4).as("cosine"))
  }

  /** Embedding-cosine near-duplicate pairs above a threshold, via LSH
    * buckets (equi-join, no cross join). Approximate: pairs not sharing
    * any bucket are missed.
    *
    * Contract (round-17, ADVICE): `idCol` must be UNIQUE per row — the
    * operator emits id pairs, and duplicate ids would both corrupt the
    * pair semantics and make the two plan shapes below differ in
    * output multiplicity. Plan shape is size-dispatched:
    *
    *  - corpus under the session's autoBroadcastJoinThreshold (the
    *    common near-dup audit geometry): score-then-dedup — both
    *    vector sides broadcast into the bucket-join stage, the
    *    threshold filter collapses the duplicated candidate stream to
    *    ~output size BEFORE the only exchange (round-16, measured
    *    2.4–3.0 → 0.7–0.8 s at the sf0.1 geometry);
    *  - corpus ABOVE the threshold: the vector joins become sort-merge
    *    joins, and pushing the pre-distinct candidate stream (≈2.3×
    *    larger at audit geometry) through TWO of them costs more than
    *    the candidate-sized dedup exchange it saves — fall back to
    *    dedup-first (distinct on bare id pairs, then join vectors on
    *    the deduped survivors). Outputs are identical under the
    *    unique-id contract: duplicates of a pair compute the identical
    *    rounded cosine, so distinct-before and distinct-after collapse
    *    the same set.
    */
  def cosineNearDups(df: DataFrame, threshold: Double,
                     nBits: Int = 12, nTables: Int = 3,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val a = bucketed(df, idCol, vecCol, "id_a", "__va", nBits, nTables)
      .select("table", "bucket", "id_a")
    val b = bucketed(df, idCol, vecCol, "id_b", "__vb", nBits, nTables)
      .select("table", "bucket", "id_b")
    // Round-16 reorder: score-then-dedup instead of dedup-then-score.
    // The old shape ran distinct() on the RAW candidate pairs — at
    // these geometries that is the single largest exchange in the
    // operator (measured sf0.1: 4 M duplicated candidates → 64 MB
    // shuffle to dedup to 1.7 M) — and only then re-joined vectors.
    // Scoring FIRST keeps the whole candidate stream inside the bucket
    //-join stage (both vector sides broadcast), pays the cosine on
    // duplicated candidates (E[tables shared | any shared] ≈ 2.3 at
    // the audit geometry — cheap codegen dots), and the threshold
    // filter collapses the stream to ~output size BEFORE the only
    // remaining exchange (the distinct on survivors). Output is
    // bit-identical: duplicates of a pair compute the identical
    // rounded cosine, so distinct-on-(ids, cosine) dedups exactly the
    // pairs the old distinct-on-ids did.
    val va = df.select(col(idCol).as("id_a"), col(vecCol).as("__va"))
      .withColumn("__na", norm(col("__va")))
    val vb = df.select(col(idCol).as("id_b"), col(vecCol).as("__vb"))
      .withColumn("__nb", norm(col("__vb")))
    // the bucket join broadcasts `b`, so the ENTIRE fused stage
    // (pair emission + both vector joins + the cosine) executes on
    // `a`'s partitioning — spread it (explicit count, see [[spread]])
    // or a single-file corpus runs the whole operator on one core
    val rawPairs = spread(a, col("id_a")).join(b, Seq("table", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
    // size dispatch (scaladoc above): score-then-dedup only pays when
    // the vector sides broadcast; past the broadcast bound, dedup the
    // bare 16-byte id pairs FIRST so the duplicated candidate stream
    // never rides two sort-merge joins. Threshold/stat read is the
    // planner's own (estimates, not truth — exactly the bound the
    // BROADCAST hint itself would be subject to).
    val bcBytes = org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold
    val fits = bcBytes > 0 &&
      va.queryExecution.optimizedPlan.stats.sizeInBytes <= BigInt(bcBytes)
    val pairs = if (fits) rawPairs else rawPairs.distinct()
    val scored = pairs
      .join(va, Seq("id_a"))
      .join(vb, Seq("id_b"))
      .withColumn("cosine",
        round(safeCosine(dot(col("__va"), col("__vb")), col("__na"), col("__nb")), 4))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
    if (fits) scored.distinct() else scored
  }

  /** Exact all-pairs cosine >= threshold (verification / small corpora):
    * norms precomputed per side, so the quadratic stage is dot-only.
    */
  def exactNearDupPairs(df: DataFrame, threshold: Double,
                        idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // spread the stream side (see bruteForceTopK): O(n) shuffle vs the
    // O(n^2) pair stage it parallelizes — explicit count via [[spread]]
    val a = spread(df.select(col(idCol).as("id_a"), col(vecCol).as("__va"))
      .withColumn("__na", norm(col("__va"))), col("id_a"))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("__vb"))
      .withColumn("__nb", norm(col("__vb")))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("cosine",
        safeCosine(dot(col("__va"), col("__vb")), col("__na"), col("__nb")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Two-stage dimension-adaptive retrieval (the Matryoshka-
    * representation pattern, Kusupati et al. 2022): shortlist by
    * cosine over only the FIRST `dPrefix` dimensions, then exact
    * full-dimension re-rank of the shortlist. MRL-trained embeddings
    * front-load information, so a 4x truncation keeps shortlist
    * recall high while the stage-1 scan reads/multiplies 4x fewer
    * floats — the third compression axis beside candidate pruning
    * (LSH/IVF buckets) and code compression (PQ), and they compose.
    * Fully deterministic (rank ties break by id), so the whole
    * two-stage result is exactly replayable — an exact oracle, not a
    * recall contract.
    *
    * Scale shape: stage 1 is [[bruteForceTopK]] on sliced vectors
    * (probe side broadcast, corpus streams); stage 2 touches only
    * shortlist x probes rows.
    */
  def truncatedTopK(corpus: DataFrame, probes: DataFrame, k: Int,
                    dPrefix: Int, shortlist: Int,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    require(dPrefix > 0, "prefix dimension must be positive")
    require(shortlist >= k, "shortlist must cover k")
    val cT = corpus.select(col(idCol), slice(col(vecCol), 1, dPrefix).as(vecCol))
    val pT = probes.select(col(idCol), slice(col(vecCol), 1, dPrefix).as(vecCol))
    val sl = bruteForceTopK(cT, pT, shortlist, idCol, vecCol)
      .select(col("query_id"), col("corpus_id"))
    val cF = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("__cv"))
      .withColumn("__cn", norm(col("__cv")))
    val pF = probes.select(col(idCol).as("query_id"), col(vecCol).as("__pv"))
      .withColumn("__pn", norm(col("__pv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("corpus_id"))
    sl.join(cF, Seq("corpus_id")).join(broadcast(pF), Seq("query_id"))
      .withColumn("cosine",
        safeCosine(dot(col("__cv"), col("__pv")), col("__cn"), col("__pn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("corpus_id"), col("rank"))
  }

  /** k-NN label transfer (weak labeling): predict each pool row's
    * label as the majority label among its k nearest LABELED seed
    * vectors by cosine — the curation step that fans a small
    * human-labeled seed (quality tiers, topics, safety classes) out
    * over an unlabeled corpus. Ties in the vote break to the smallest
    * label; neighbor ranking ties break to the smallest seed id — the
    * prediction is total and deterministic.
    *
    * Scale shape — the inverse of [[bruteForceTopK]]'s probe-broadcast:
    * here the POOL is the big side, so it streams through one scan
    * while the labeled seed broadcasts; each pool row's candidates are
    * then colocated in its map task, the rank<=k filter becomes a
    * partial WindowGroupLimit (bounded per-partition heap BEFORE the
    * exchange), and only ~k (id, label, cosine) rows per pool row ever
    * shuffle. The vote itself aggregates at most k rows per pool id.
    * Seeds beyond broadcast size: pre-prune with [[lshTopK]] /
    * [[graft.ops.Ivf]] and vote over those neighbors instead.
    *
    * Output: (idCol, pred_label, votes, vote_frac) per pool row.
    */
  def knnClassify(labeled: DataFrame, pool: DataFrame, k: Int,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  labelCol: String = "label"): DataFrame = {
    require(k > 0, "k must be positive")
    // Shape note (round-14 measured, negative results kept): the
    // row_number window over the scored stream IS the best available
    // plan here. Two alternatives lost on the 200k-pool × 300-seed
    // fixture: a bounded-buffer typed TopKAggregator (per-row tuple +
    // immutable-buffer allocation in ObjectHashAggregate: 13.3 →
    // 19.4 s) and a typedLit-seeds rowwise transform/array_sort (the
    // higher-order functions run INTERPRETED per element: 42.7 s).
    // WindowGroupLimit already trims each partition to k per pool id
    // before the exchange, so the window's shuffle is NOT the scored
    // stream — the remaining cost is the per-partition top-k select
    // itself, which every formulation must pay.
    val s = labeled.select(col(idCol).as("__sid"), col(labelCol).as("__sl"),
        col(vecCol).as("__sv"))
      .withColumn("__sn", norm(col("__sv")))
    // spread the pool before the pool × seeds stage: each pool row pays
    // |seeds| codegen dots (tens of kFLOPs) — one narrow (id, vec)
    // shuffle is ~100× cheaper than the kernel it parallelizes, and a
    // single-file pool scan would otherwise run the whole stage (and
    // its per-partition WindowGroupLimit) on one core
    val p = spread(pool.select(col(idCol), col(vecCol).as("__pv"))
      .withColumn("__pn", norm(col("__pv"))), col(idCol))
    val scored = p.crossJoin(broadcast(s))
      .filter(col(idCol) =!= col("__sid"))
      .withColumn("__cos",
        safeCosine(dot(col("__pv"), col("__sv")), col("__pn"), col("__sn")))
    val wRank = Window.partitionBy(col(idCol))
      .orderBy(col("__cos").desc, col("__sid"))
    val votes = scored
      .withColumn("__rank", row_number().over(wRank))
      .filter(col("__rank") <= k)
      .groupBy(col(idCol), col("__sl"))
      .agg(count(lit(1)).as("votes"))
    // the winner pick is an argmax — min over (-votes, label) = most
    // votes, smallest label on ties — not a second window
    votes.groupBy(col(idCol))
      .agg(min_by(struct(col("__sl"), col("votes")),
        struct((-col("votes")).as("__nv"), col("__sl"))).as("__w"))
      .select(col(idCol),
        col("__w").getField("__sl").as("pred_label"),
        col("__w").getField("votes").as("votes"),
        round(col("__w").getField("votes").cast("double") / k, 4)
          .as("vote_frac"))
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) — the standard
    * score-free combiner for HYBRID retrieval: each input ranking
    * contributes 1/(c + rank) per doc, fused score = the sum over
    * rankings that surfaced the doc, top-k by (fused DESC, id ASC).
    * Rank-based (not score-based) fusion needs no per-ranker score
    * normalization, which is what makes BM25 + cosine lists safely
    * combinable. Deterministic bit-for-bit: the addends are exact
    * functions of small integers and each doc sums at most
    * `rankings.size` of them.
    *
    * Scale shape: the inputs are already top-N lists (tiny); one
    * union + hash aggregation + TakeOrderedAndProject.
    */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String, k: Int,
              c: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking")
    require(k > 0 && c >= 0, "k must be positive, c non-negative")
    val scored = rankings
      .map(_.select(col(idCol), (lit(1.0) / (lit(c) + col("rank"))).as("__rrf")))
      .reduce(_.unionByName(_))
      .groupBy(col(idCol))
      .agg(round(sum(col("__rrf")), 6).as("rrf"),
        count(lit(1)).as("n_lists"))
    val top = scored.orderBy(col("rrf").desc, col(idCol)).limit(k)
    top.withColumn("rank",
        row_number().over(Window.orderBy(col("rrf").desc, col(idCol)))
          .cast("long"))
      .select(col(idCol), col("rrf"), col("n_lists"), col("rank"))
  }

  /** Element-wise mean pooling per group (chunk → doc embedding,
    * member → cluster centroid) via the typed partial-aggregating
    * [[graft.functions.VectorMeanAggregator]]: one (sums[dim], count)
    * buffer per group per map task crosses the wire — the posexplode +
    * groupBy(group, dim) formulation would shuffle dim rows per
    * VECTOR. Returns (groupCol, centroid: array<double>).
    */
  /** Maximal Marginal Relevance re-rank (Carbonell & Goldstein 1998):
    * greedily pick k results trading relevance against redundancy —
    * pick argmax of `lambda * score - (1 - lambda) * max cosine to
    * the already-picked set`. THE standard diversity pass between ANN
    * shortlisting and answer assembly in a RAG stack (near-duplicate
    * chunks otherwise fill every slot).
    *
    * Scale shape: MMR is sequential in k BY DEFINITION, so the right
    * distribution axis is queries, not candidates — ONE groupByKey
    * exchange on query_id, then each group runs the O(k * n * dim)
    * greedy loop executor-locally over its bounded ANN shortlist
    * (n = tens-to-hundreds). Candidates carry (id, score, vector);
    * nothing else moves.
    *
    * Determinism: the marginal score rounds to 4dp BEFORE each argmax
    * and ties break on corpus id, so selection replays across
    * engines.
    *
    * Input columns: (queryCol, idCol, scoreCol, vecCol). Output:
    * (queryCol, idCol, rank, mmr).
    */
  def mmrRerank(candidates: DataFrame, lambda: Double, k: Int,
                queryCol: String = "query_id", idCol: String = "corpus_id",
                scoreCol: String = "score",
                vecCol: String = "embedding"): DataFrame = {
    require(lambda >= 0 && lambda <= 1, "lambda in [0, 1]")
    require(k >= 1, "k >= 1")
    val spark = candidates.sparkSession
    import spark.implicits._
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dp = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { dp += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      val den = math.sqrt(na) * math.sqrt(nb)
      if (den > 0) dp / den else 0.0
    }
    // floor-quantized 4dp, NOT round(): lambda (1dp) times a 4dp score
    // lands on EXACT .xxxx5 midpoints where decimal-string round
    // (Spark/BigDecimal) and binary round (other engines) disagree;
    // floor of the bit-identical double is deterministic everywhere
    def r4(x: Double): Double = math.floor(x * 10000 + 0.5) / 10000
    // decimal-exact complement: a SQL replay writes the literal
    // (1 - lambda) as a decimal, whose nearest double differs from
    // the Scala expression 1.0 - lambda by 1 ulp — enough to flip a
    // floor at the structural midpoints above
    val oneMinus = java.math.BigDecimal.ONE
      .subtract(java.math.BigDecimal.valueOf(lambda)).doubleValue()
    candidates
      .select(col(queryCol).cast("long"), col(idCol).cast("long"),
        col(scoreCol).cast("double"), col(vecCol).cast("array<double>"))
      .as[(Long, Long, Double, Array[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (q, it) =>
        val remaining = scala.collection.mutable.ArrayBuffer(it.toArray: _*)
        val chosen = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int, Double)]
        var rank = 1
        while (rank <= k && remaining.nonEmpty) {
          var bestIdx = -1; var bestMmr = 0.0; var bestId = 0L
          var i = 0
          while (i < remaining.length) {
            val r = remaining(i)
            val pen = if (chosen.isEmpty) 0.0
              else chosen.map(s => cos(r._4, s)).max
            val mmr = r4(lambda * r._3 - oneMinus * pen)
            if (bestIdx < 0 || mmr > bestMmr ||
                (mmr == bestMmr && r._2 < bestId)) {
              bestIdx = i; bestMmr = mmr; bestId = r._2
            }
            i += 1
          }
          out += ((q, bestId, rank, bestMmr))
          chosen += remaining(bestIdx)._4
          remaining.remove(bestIdx)
          rank += 1
        }
        out.iterator
      }
      .toDF(queryCol, idCol, "rank", "mmr")
  }

  def meanPool(df: DataFrame, groupCol: String, vecCol: String,
               dim: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // the typed Long group encoder can't represent a non-numeric key;
    // fail fast with a clear contract error instead of the opaque
    // null-encoder crash a silent non-ANSI cast would produce
    val gType = df.schema(groupCol).dataType
    require(Seq(org.apache.spark.sql.types.ByteType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.LongType).contains(gType),
      s"meanPool group column '$groupCol' must be integral, got $gType")
    val pool = new graft.functions.VectorMeanAggregator(dim).toColumn
    // null group keys would crash the non-nullable Long encoder and a
    // null vector carries no signal: both are dropped, mirroring SQL
    // avg/groupBy null semantics (the aggregator additionally skips
    // nulls defensively)
    df.filter(col(groupCol).isNotNull && col(vecCol).isNotNull)
      .select(col(groupCol).cast("long"), col(vecCol).cast("array<float>"))
      .as[(Long, Array[Float])]
      .groupByKey(_._1).mapValues(_._2)
      .agg(pool.name("centroid"))
      .toDF(groupCol, "centroid")
  }

  /** Hard-negative mining for contrastive training (the in-batch /
    * cross-batch negative-selection step of embedding-model
    * pipelines, e.g. DPR, Karpukhin et al. 2020): for each probe
    * anchor, the k corpus items MOST similar to it whose `labelCol`
    * DIFFERS — the negatives close enough to the decision boundary to
    * carry gradient, where random negatives are trivially separable.
    * Same kernel economics as [[bruteForceTopK]] (broadcast probes,
    * codegen dot, per-query WindowGroupLimit); the label filter runs
    * BEFORE ranking, so the window already sees negatives only. Ranks
    * break ties on corpus id — engine-replayable order.
    */
  def hardNegatives(corpus: DataFrame, probes: DataFrame, k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    labelCol: String = "label"): DataFrame = {
    require(k >= 1, "k >= 1")
    val c = spread(corpus.select(col(idCol).as("corpus_id"),
        col(labelCol).as("neg_label"), col(vecCol).as("__cv"))
      .withColumn("__cn", norm(col("__cv"))), col("corpus_id"))
    val p = probes.select(col(idCol).as("query_id"),
        col(labelCol).as("query_label"), col(vecCol).as("__pv"))
      .withColumn("__pn", norm(col("__pv")))
    val scored = c.crossJoin(broadcast(p))
      .filter(col("corpus_id") =!= col("query_id") &&
        col("neg_label") =!= col("query_label"))
      .withColumn("cosine",
        safeCosine(dot(col("__cv"), col("__pv")), col("__cn"), col("__pn")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("corpus_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("query_label"), col("corpus_id"),
        col("neg_label"), col("rank"))
  }

  /** Embedding-corpus QA stats — the one-row health report an
    * embedding pipeline should publish per shard: vector count, dim,
    * L2-norm spread (a collapsed or exploding norm distribution is
    * the first sign of a broken encoder), the corpus centroid's norm,
    * and the anisotropy ratio centroid_norm / mean_norm
    * (Ethayarajh 2019: ~0 for a well-spread space, → 1 when every
    * vector points the same way and cosine similarity stops
    * discriminating).
    *
    * Scale shape: TWO cheap scans — the centroid is one pass through
    * the [[graft.functions.VectorMeanAggregator]] buffer (dim doubles
    * per task, never a per-dim explode; the dim-length result reduces
    * to its norm driver-side, the equiDepthBins one-row-action
    * pattern), then the norm stats fold in a second single-aggregate
    * pass (norms are a codegen row expression). Fusing them would
    * need a typed-plus-untyped mixed aggregate for a column-scan the
    * first pass already leaves page-cached. Surfaced doubles
    * floor-quantize at 4dp.
    */
  def corpusStats(emb: DataFrame, vecCol: String, dim: Int): DataFrame = {
    val cen = meanPool(emb.withColumn("__g", lit(1L)), "__g", vecCol, dim)
      .head().getSeq[Double](1)
    // array-order sum: deterministic, engine-replayable
    val cnorm = math.sqrt(cen.foldLeft(0.0)((s, x) => s + x * x))
    def q4(c: Column) = Quantize.q(c, 4)
    emb.filter(col(vecCol).isNotNull)
      .select(norm(col(vecCol)).as("__n"), size(col(vecCol)).as("__d"))
      .agg(
        count(lit(1)).as("n_vectors"),
        max(col("__d")).cast("long").as("dim"),
        q4(avg(col("__n"))).as("norm_mean"),
        q4(min(col("__n"))).as("norm_min"),
        q4(max(col("__n"))).as("norm_max"),
        q4(lit(cnorm)).as("centroid_norm"),
        q4(lit(cnorm) / avg(col("__n"))).as("anisotropy"))
  }
}
