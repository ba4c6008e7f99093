package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Fixed-iteration PageRank (Brin & Page 1998) as the engine's
  * iterative-computation representative: each iteration is ONE edge
  * equi-join on the current rank vector plus one destination
  * aggregation — the canonical Spark formulation (the GraphX Pregel
  * kernel lowers to the same join-agg pair).
  *
  * Scale shape per iteration: ranks (|V| rows) hash-join edges (|E|
  * rows) on src — both sides partitioned by the join key, so with
  * ranks and edges co-partitioned the join reuses one exchange — then
  * a groupBy(dst) sum (map-side partial). Dangling mass (nodes with
  * no out-edges) is a one-row aggregate broadcast into the update, so
  * the sink-handling adds no per-edge work. Each iteration's rank
  * vector is consumed TWICE (dangling aggregate + contribution join),
  * so the loop truncates lineage with a localCheckpoint per round —
  * without it the un-materialized rank plan re-embeds every earlier
  * iteration once per consumer and recompute grows exponentially in
  * `iters` (the standard iterative-algorithm failure mode on lazy
  * DAGs). Edges and degrees materialize once for the same reason.
  *
  * Determinism: per-iteration ranks are rounded to 8dp so the
  * floating-point sum-order wobble (~1e-15) can't accumulate across
  * iterations; any engine replaying the same rounded recurrence
  * agrees to well beyond the surfaced 6dp.
  */
object Graph {

  /** THE single entry point for the reliable-checkpoint knob shared
    * by every iterative loop here ([[pageRank]], [[labelPropagation]],
    * [[shortestPaths]], [[kCorePeel]]): returns the per-round lineage
    * pin. Default (None) pins with `localCheckpoint` — executor-
    * memory blocks, fast in local[N], but NOT recomputable after
    * executor loss. With a reliable dir (HDFS/object store) the pin
    * is `checkpoint()`: blocks go to the checkpoint filesystem and
    * survive failures — the cluster-grade option for long runs, at a
    * write+read per round.
    *
    * CAVEAT (Spark API limit, documented ONCE here): the checkpoint
    * dir is a GLOBAL SparkContext setting — it persists after the
    * call, and two concurrent jobs passing different dirs race to
    * set it. Pass one application-wide dir, and clean it up yourself
    * (Spark only auto-deletes under
    * spark.cleaner.referenceTracking.cleanCheckpoints=true).
    */
  private def withCheckpointDir(edges: DataFrame,
                                checkpointDir: Option[String]): DataFrame => DataFrame = {
    checkpointDir.foreach(edges.sparkSession.sparkContext.setCheckpointDir)
    df => if (checkpointDir.isDefined) df.checkpoint() else df.localCheckpoint()
  }

  /** Edge-row threshold above which the loops AUTO-select reliable
    * (disk) checkpointing when the caller gave no explicit dir:
    * `localCheckpoint` blocks live in executor memory, and pinning a
    * 100M-row edge table per run is a heap bomb (the sf10 bench needed
    * a 64 GB driver heap before this guard existed). Below it,
    * executor-memory pins stay the faster choice.
    */
  private[graft] val reliableEdgeThreshold: Long = 25L * 1000 * 1000

  /** Memoized per-JVM auto checkpoint dir: created lazily the first
    * time an edge set crosses [[reliableEdgeThreshold]] with no
    * explicit dir, deleted at JVM exit. One dir per JVM because
    * `setCheckpointDir` is GLOBAL to the SparkContext (the
    * [[withCheckpointDir]] caveat) — churning it per call would race.
    * A real cluster passes `checkpointDir` explicitly (HDFS/object
    * store); the auto dir is the local-disk fallback that keeps big
    * single-node runs inside a default heap.
    */
  private val autoCkptDir =
    new java.util.concurrent.atomic.AtomicReference[String](null)
  private def autoDir(): String =
    autoCkptDir.updateAndGet { d =>
      if (d != null) d
      else {
        val p = java.nio.file.Files.createTempDirectory("graft_ckpt")
        Runtime.getRuntime.addShutdownHook(new Thread(() =>
          try graft.engine.StoreSwap.deleteTree(p)
          catch { case _: Exception => () })) // best-effort cleanup
        p.toString
      }
    }

  /** The per-round lineage pin, sized by the DATA: explicit dir →
    * reliable; no dir but `edgeRows` over [[reliableEdgeThreshold]] →
    * reliable into a dir the loop may USE but never CLOBBERS — an
    * application-set `sc.getCheckpointDir` wins, and the per-JVM
    * temp-dir fallback engages only in local mode (on a cluster a
    * driver-local `file://` path would scatter "reliable" checkpoint
    * blocks across executor-local disks — worse than the
    * `localCheckpoint` it replaces, so big cluster runs without a dir
    * keep `localCheckpoint` and should pass `checkpointDir`
    * explicitly); small → `localCheckpoint`.
    */
  private def pinner(spark: org.apache.spark.sql.SparkSession,
                     checkpointDir: Option[String],
                     edgeRows: Long): DataFrame => DataFrame = {
    val sc = spark.sparkContext
    val dir = checkpointDir.orElse {
      if (edgeRows >= reliableEdgeThreshold) {
        val existing = sc.getCheckpointDir
        if (existing.isDefined) existing
        else if (sc.isLocal) Some(autoDir())
        else None
      } else None
    }
    // set only when it differs — never churn (or reset) a dir the
    // application already configured
    dir.filterNot(sc.getCheckpointDir.contains)
      .foreach(sc.setCheckpointDir)
    df => if (dir.isDefined) df.checkpoint() else df.localCheckpoint()
  }

  /** Node-count bound for the broadcast-iteration regime of
    * [[rankLoop]]: below it the per-round rank vector broadcasts
    * (~24 B/row → ≤ ~200 MB at the bound, well inside executor
    * budgets); above it iterations fall back to the co-partitioned
    * shuffle plan. An approximate count decides (HLL ±2%, either side
    * of the boundary is a sound plan — only cost changes).
    */
  private[graft] val broadcastNodeLimit: Long = 8L * 1000 * 1000

  /** Node-count bound for [[degreeAssortativity]]'s forced-broadcast
    * degree vector. Deliberately SMALLER than [[broadcastNodeLimit]]:
    * the rank loop broadcasts its vector once per iteration into a
    * plan that holds one hashed relation at a time, while
    * assortativity builds TWO hashed degree relations (degA, degB)
    * live simultaneously — at ~48 B/entry hashed that is ~2×190 MB at
    * 4M nodes, the most a default executor heap should carry for a
    * hint that OVERRIDES the 10 MB autoBroadcastJoinThreshold. Past
    * the bound the joins fall back to shuffles (the honest web-scale
    * price).
    */
  private[graft] val assortativityBroadcastLimit: Long = 4L * 1000 * 1000

  /** Edge-row floor below which the loops SKIP the whole co-partition/
    * cache/loop-conf machinery: on a small graph the fixed setup
    * (cache materializations, AQE-coalesce hold-off, p-partition tiny
    * tasks) costs more than every shuffle it saves — measured 1.8 s →
    * 5.6 s on the sf0.1 HITS entry before this gate. Small graphs run
    * the simple plan (per-iteration shuffles of tiny tables under
    * normal AQE); the scale machinery engages exactly when the data
    * would pay for it.
    */
  private[graft] val coPartitionThreshold: Long = 2L * 1000 * 1000

  /** Edge-row ceiling for the FUSED single-task rank kernel
    * (round 17, guide §1.2 "the distributed algorithm" + §2.4
    * "remove shuffles outright"): below it the whole fixed-iteration
    * recurrence runs as ONE mapPartitions over the coalesced edge
    * stream instead of `iters` rounds of join + aggregate + lineage
    * pin. The distributed loop's per-round cost at small |E| is pure
    * orchestration — measured at sf0.1 (1.2M-edge co-purchase graph,
    * 3 iterations): ~12 jobs of 32 sub-100ms tasks per entry, 2.1–2.6 s
    * wall for ~0.1 s of arithmetic; the kernel reads the same staged
    * parquet once and replays the identical rounded recurrence
    * (bit-identical round(x,8) = BigDecimal.valueOf(x).setScale(8,
    * HALF_UP), the exact codegen Spark emits for round() on doubles)
    * in-memory. At the 2M-row bound the task holds ~2 int[]s + maps
    * ≈ 64 MB — comfortably one executor task, and ~100× below where
    * the distributed plan starts to win. Above the bound nothing
    * changes: the co-partitioned loop with scaled partitions is the
    * 100-TB path (SCALE.md rounds 13–16). The same bound serves the
    * HITS / BFS / k-core / label-propagation / triangle kernels, whose
    * loops spend the same iters × (join + aggregate + pin)
    * orchestration — ~10–30 sub-100ms jobs — below it. Every kernel
    * dispatches through [[Fused.small]]; `spark.graft.fusedKernels=false`
    * forces the distributed plans for one session.
    */
  private[graft] val kernelEdgeLimit: Long = 2L * 1000 * 1000

  /** Shuffle-partition count for an iterative loop, scaled with |E|
    * (~2M edge rows per partition) instead of pinned to the session
    * default (= core count in the bench harness): the core-count
    * default is a partition-size time bomb at 100× — a 100B-edge run
    * at 32 partitions is 3B rows per partition. Floor = the session
    * setting (never LOWER parallelism), cap 65536.
    */
  private def scaledPartitions(spark: org.apache.spark.sql.SparkSession,
                               edgeRows: Long): Int = {
    val base = spark.sessionState.conf.numShufflePartitions.toLong
    math.min(65536L, math.max(base, (edgeRows + 1999999L) / 2000000L)).toInt
  }

  /** Runs `body` with `spark.sql.shuffle.partitions` = `p` and AQE
    * partition coalescing OFF, restoring both after. The loops pin
    * eagerly inside, so every exchange they create is sized here; the
    * coalesce hold-off keeps the aggregate outputs at EXACTLY p
    * partitions so the co-partitioned joins below stay exchange-free
    * (a coalesced side would force a re-shuffle of the pinned side).
    *
    * CONCURRENCY CONTRACT: these are SESSION-level conf mutations —
    * any query submitted on the same SparkSession while a rank loop
    * runs executes under the loop's pinned settings, and two
    * concurrent loops race each other's save/restore. The rank APIs
    * assume single-threaded use of their session (the engine's
    * pattern throughout); callers needing concurrency should use
    * `spark.newSession()` per thread, which isolates the mutated
    * confs while sharing the SparkContext and cached data.
    */
  private def withLoopPartitions[A](spark: org.apache.spark.sql.SparkSession,
                                    p: Int)(body: => A): A = {
    val prevP = spark.conf.get("spark.sql.shuffle.partitions")
    val prevC = spark.conf
      .get("spark.sql.adaptive.coalescePartitions.enabled", "true")
    val prevJ = spark.conf
      .get("spark.sql.join.preferSortMergeJoin", "true")
    spark.conf.set("spark.sql.shuffle.partitions", p.toString)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    // hash join, not sort-merge, inside the loop: the co-partitioned
    // iteration join would otherwise SORT the full cached edge table
    // EVERY round (the sort, not the join, dominated the sf10 profile)
    // — the build side is always a |V|-sized score vector, which fits
    // a per-partition hash map by construction
    spark.conf.set("spark.sql.join.preferSortMergeJoin", "false")
    try body
    finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevP)
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prevC)
      spark.conf.set("spark.sql.join.preferSortMergeJoin", prevJ)
    }
  }

  /** Pre-computed sizing stats for an iterative graph run — the
    * catalog-metadata shape: a STORED edge table's row count and
    * per-side approximate node counts are ingestion-time facts (one
    * count + two HLL sketches over the table, computed once when the
    * table is built/registered), so a caller that stages its graph
    * passes them here and the loop skips its own sizing pass. Without
    * a hint the loop computes the same numbers itself (one scan).
    */
  final case class GraphSizing(edgeRows: Long, srcNodesApprox: Long,
                               dstNodesApprox: Long)

  /** Computes [[GraphSizing]] for an edge frame — the helper a staging
    * layer calls ONCE per stored table (one combined scan).
    */
  def sizingOf(edges: DataFrame, srcCol: String, dstCol: String): GraphSizing = {
    val r = edges.agg(count(lit(1)), approx_count_distinct(col(srcCol)),
      approx_count_distinct(col(dstCol))).head()
    GraphSizing(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** (node, rank) after `iters` rounds of the damped recurrence
    * r(v) = (1-d)/N + d * (sum over in-edges u->v of r(u)/outdeg(u)
    *         + danglingMass/N).
    * `edges` rows are (srcCol, dstCol) pairs; duplicate edges count
    * once (the frame is distinct-ed). Nodes = src ∪ dst.
    *
    * `checkpointDir`: by default each iteration pins its rank vector
    * with `localCheckpoint` — executor-memory blocks, fast, but a
    * lost executor on a real cluster kills the job instead of
    * recomputing (lineage is truncated). For long cluster runs pass a
    * reliable checkpoint directory (HDFS/object store): iterations
    * then use `checkpoint()`, surviving executor loss at the cost of
    * a write+read per round.
    *
    * Threading: on large graphs the loop pins session confs for its
    * duration (see [[withLoopPartitions]]) — use one SparkSession (or
    * `spark.newSession()`) per concurrent rank call.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int, damping: Double = 0.85,
               materialized: Boolean = false,
               checkpointDir: Option[String] = None,
               symmetric: Boolean = false,
               sizingHint: Option[GraphSizing] = None): DataFrame =
    rankLoop(edges, srcCol, dstCol, iters, damping, seeds = Nil,
      materialized, checkpointDir, symmetric = symmetric,
      sizingHint = sizingHint)

  /** Personalized PageRank (topic-sensitive, Haveliwala 2002): the
    * teleport distribution concentrates on `seeds` instead of being
    * uniform — r(v) measures proximity to the seed set, the standard
    * graph-proximity signal for recommendation ("customers related
    * to these") and seed-expansion labeling. Same per-iteration shape
    * as [[pageRank]]; dangling mass also returns to the seeds (the
    * teleport distribution, as in the standard formulation), so
    * total mass stays 1.
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String,
                           dstCol: String, seeds: Seq[Long], iters: Int,
                           damping: Double = 0.85,
                           materialized: Boolean = false,
                           checkpointDir: Option[String] = None,
                           symmetric: Boolean = false,
                           sizingHint: Option[GraphSizing] = None): DataFrame = {
    require(seeds.nonEmpty, "need at least one seed")
    rankLoop(edges, srcCol, dstCol, iters, damping, seeds.distinct,
      materialized, checkpointDir, symmetric = symmetric,
      sizingHint = sizingHint)
  }

  /** Weighted PageRank: contributions flow proportionally to edge
    * weight over the source's total out-weight — r(v) = (1-d)/N +
    * d·(Σ_{u→v} r(u)·w(u,v)/W(u) + danglingMass/N). Parallel edges
    * collapse by SUMMING their weights (the multigraph convention);
    * non-positive/null weights are dropped. Same per-iteration
    * join-agg shape, rounding contract and checkpoint knob as
    * [[pageRank]] — the weight rides the edge row, so the only plan
    * difference is a sum-instead-of-count degree aggregate.
    */
  def weightedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
                       weightCol: String, iters: Int,
                       damping: Double = 0.85,
                       materialized: Boolean = false,
                       checkpointDir: Option[String] = None,
                       symmetric: Boolean = false,
                       sizingHint: Option[GraphSizing] = None): DataFrame =
    rankLoop(edges, srcCol, dstCol, iters, damping, seeds = Nil,
      materialized, checkpointDir, weightCol = Some(weightCol),
      symmetric = symmetric, sizingHint = sizingHint)

  private def rankLoop(edges: DataFrame, srcCol: String, dstCol: String,
                       iters: Int, damping: Double, seeds: Seq[Long],
                       materialized: Boolean = false,
                       checkpointDir: Option[String] = None,
                       weightCol: Option[String] = None,
                       symmetric: Boolean = false,
                       sizingHint: Option[GraphSizing] = None): DataFrame = {
    require(iters >= 1 && iters <= 64, "iters in [1, 64]")
    val spark = edges.sparkSession
    // null endpoints carry no graph meaning and would otherwise
    // create a phantom null node on one side only.
    // Cost profile (measured at 30x): building + dedup'ing the edge
    // table dominates (one wide shuffle of every edge); each
    // iteration after that is an edges-ranks join + dst aggregation
    // at ~1/10th the build cost. So when several graph computations
    // share a graph, MATERIALIZE the deduped edge table once
    // (parquet/bucketed) and feed it here — construction is
    // ingestion-side work, exactly like a search index.
    // materialized = the caller hands a STORED table already deduped
    // (unweighted) / weight-collapsed ((src, dst) unique, w > 0)
    // (weighted), so the dedup/collapse shuffle is skipped.
    val shaped = weightCol match {
      case None =>
        edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
          .filter(col("src").isNotNull && col("dst").isNotNull)
      case Some(wc) =>
        // multigraph convention: parallel edges collapse by SUMMING
        // weights; non-positive weights carry no rank and are dropped.
        edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
            col(wc).cast("double").as("w"))
          .filter(col("src").isNotNull && col("dst").isNotNull &&
            col("w") > 0)
    }
    // ONE sizing pass computes |E| (upper bound pre-dedup) AND an
    // approximate node count: |E| sizes the shuffle-partition count
    // and the pin mode (disk past reliableEdgeThreshold); |V|~ picks
    // the ITERATION PLAN — see the broadcast-vs-shuffle regime choice
    // below. For the materialized path this is a cheap columnar scan
    // of the stored table; for a computed pipeline it is one extra
    // upstream pass, the price of sizing before materializing.
    val sizing = sizingHint.getOrElse(sizingOf(shaped, "src", "dst"))
    val eRows = sizing.edgeRows
    // FUSED KERNEL dispatch (see [[kernelEdgeLimit]]): a small graph's
    // recurrence runs as one task instead of iters×(join+agg+pin)
    // orchestration. The gate's eRows > 0 keeps the empty-graph
    // contract (driver-side IllegalArgumentException) with the loop.
    if (Fused.small(shaped, Seq("src", "dst"), kernelEdgeLimit)(eRows))
      return rankKernel(shaped, weightCol.isDefined, iters, damping, seeds,
        dedup = !materialized)
    // |V| upper bound: a symmetric graph's two sides are the SAME set
    val vApprox =
      if (symmetric) math.max(sizing.srcNodesApprox, sizing.dstNodesApprox)
      else sizing.srcNodesApprox + sizing.dstNodesApprox
    val p = scaledPartitions(spark, eRows)
    val pin = pinner(spark, checkpointDir, eRows)
    // REGIME CHOICE (the knob that decides what shuffles per round):
    //   small |V| (fits a broadcast) → edges cached partitioned by
    //   DST, rank vector BROADCAST into the contribution join, and
    //   the dst aggregation is PARTITION-LOCAL: a zero-shuffle
    //   iteration. This is what kills the high-cardinality partial-agg
    //   trap: on a graph where |dst| ≈ |V|, map-side combine reduces
    //   nothing and the "one shuffle per round" moves ~|E| rows —
    //   measured 2.7× the weighted graph's cost at sf10 purely from
    //   that shuffle (the weighted graph's dst side is 16× smaller).
    //   big |V| (a 100-TB web graph) → broadcast is impossible; edges
    //   cache partitioned by SRC so the contribution join is
    //   exchange-free and the dst aggregation pays its honest shuffle.
    //   The broadcast regime only pays when the dst aggregate would
    //   NOT collapse map-side: with |dst| small (a bipartite
    //   customer→supplier graph), partial aggregation already reduces
    //   the shuffle to ~p×|dst| rows and the src-co-partitioned plan
    //   is strictly better (free outdeg, no per-round broadcast).
    val smallV = vApprox <= broadcastNodeLimit &&
      2L * p * sizing.dstNodesApprox >= eRows
    // below the threshold the machinery costs more than it saves —
    // simple plan, session confs untouched (AQE coalesces freely)
    val big = eRows >= coPartitionThreshold
    def inLoopConf[A](body: => A): A =
      if (big) withLoopPartitions(spark, p)(body) else body
    inLoopConf {
    // Co-partition the edge table by the contribution join key ONCE:
    // the cached copy is HashPartitioning(src, p), every iteration's
    // ranks vector is HashPartitioning(node, p) (deg's partitioning
    // survives the pin), and the dst aggregate lands on exactly p
    // partitions — so the steady-state iteration runs ONE shuffle
    // (the dst aggregation) instead of re-exchanging edges and ranks
    // every round. One edge shuffle per RUN, not per iteration.
    //
    // CACHE, not checkpoint, for the edges: their lineage is flat
    // (scan → repartition — no recursive plan to truncate), and
    // Dataset.persist stores COMPRESSED COLUMNAR batches that spill
    // to disk gracefully (MEMORY_AND_DISK) — a java-serialized
    // checkpoint of a ~90M-row edge table costs GBs of uncompressed
    // I/O re-read twice per iteration (measured materially slower at
    // sf10, SCALE.md). Only the RANK VECTORS, whose lineage grows per
    // round, need the checkpoint pin — and they are |V|-sized.
    val ded = weightCol match {
      case None =>
        if (materialized) shaped else shaped.distinct()
      case Some(_) =>
        if (materialized) shaped
        else shaped.groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
    }
    val e =
      if (big) ded.repartition(p, col(if (smallV) "dst" else "src")).persist()
      else if (materialized) ded
      else pin(ded)
    // degree table (node, outdeg; 0 for sinks — the dangling set).
    // `symmetric` (a CALLER CONTRACT like `materialized`: every edge
    // present in both directions, so out-degree == in-degree == degree
    // and src-set == dst-set) lets the whole table come from ONE
    // aggregate on the cache's own partition key — zero extra
    // shuffles, and the node set IS the aggregate's key set. The
    // general path pays one grouping shuffle and a full-outer with the
    // other side's distinct (outdeg already enumerates distinct src,
    // so no separate 2|E| union-distinct pass exists on any path).
    // Pinned on the ITERATION key (node) so the per-round update join
    // reuses the partitioning.
    val zero = if (weightCol.isEmpty) lit(0L) else lit(0.0)
    val degKey = if (symmetric && smallV) "dst" else "src"
    val outdeg = weightCol match {
      case None => e.groupBy(col(degKey).as("src")).agg(count(lit(1)).as("outdeg"))
      case Some(_) => e.groupBy(col(degKey).as("src")).agg(sum(col("w")).as("outdeg"))
    }
    val deg = pin((
      if (symmetric)
        outdeg.select(col("src").as("node"), col("outdeg"))
      else {
        val dstN = e.select(col("dst")).distinct()
        dstN.join(outdeg, dstN("dst") === outdeg("src"), "full_outer")
          .select(coalesce(col("dst"), col("src")).as("node"),
            coalesce(col("outdeg"), zero).as("outdeg"))
      }).repartition(p, col("node")))
    val n = deg.count()
    require(n > 0, "empty graph")
    // `symmetric` contract guard (round-17 ADVICE): with the dangling
    // aggregate dropped, a VIOLATED contract no longer redistributes a
    // stray sink's mass via __dm — it silently vanishes (the sink is
    // missing from deg entirely, so the left join drops its inbound
    // contributions). One opt-in check (session conf
    // spark.graft.rank.checkSymmetric=true; an anti-join job per call,
    // too expensive to run unconditionally in the loop's hot path):
    // every dst must appear in the degree table's node set, i.e. every
    // receiver also sends.
    if (symmetric &&
        spark.conf.get("spark.graft.rank.checkSymmetric", "false").toBoolean) {
      // deg was aggregated over degKey; the violable direction is the
      // OTHER endpoint column (an endpoint seen there but absent from
      // deg has no rank row / no out-edges)
      val other = if (degKey == "dst") "src" else "dst"
      val stray = e.join(deg, e(other) === deg("node"), "left_anti")
      require(stray.isEmpty,
        s"symmetric contract violated: a '$other' endpoint is missing " +
          "from the degree table (its rank mass would silently vanish " +
          "with the dangling aggregate dropped); fix the edge table " +
          "or pass symmetric = false")
    }
    // teleport distribution: uniform 1/n (classic), or 1/|seeds| on
    // the seed set and 0 elsewhere (personalized) — a codegen row
    // expression, no seed join
    val tele: org.apache.spark.sql.Column =
      if (seeds.isEmpty) lit(1.0 / n)
      else when(col("node").isin(seeds.map(Long.box): _*),
        lit(1.0 / seeds.size)).otherwise(lit(0.0))
    val oneMinusD = 1.0 - damping

    // `symmetric` (round-16): every edge present in both directions is
    // the caller's contract, so EVERY node has an out-edge and the
    // dangling set is empty BY CONSTRUCTION — the per-iteration
    // dangling-mass aggregate (a |V|-row scan + one-row broadcast per
    // round) is identically 0.0 and is dropped from the plan. The
    // arithmetic is bit-identical: __in >= +0.0 always (sums of
    // non-negative shares), so `__in + 0.0 * tele == __in` exactly in
    // IEEE and the per-round round(.,8) sees the same operand.
    //
    // Round-16 measured NEGATIVE, kept for the record: with the
    // dangling reference gone, each iteration references the previous
    // vector exactly once (the share projection), so the small
    // symmetric regime COULD skip the eager pin and unroll the loop
    // as one lazy chain. A same-JVM A/B (alternated B,A,B,A at sf0.1,
    // 3 blocks; OPTIMIZATION_r16.md): lazy read 0.73× on q_pagerank /
    // 1.06× on q_pagerank_ppr vs the eager pin — no win, because each
    // per-iteration broadcast(share) still materializes its whole
    // sub-chain as its own broadcast-build job, so laziness saves no
    // job launches and pays deeper plans. Eager pins stay on every
    // path.
    var ranks = pin(deg.select(col("node"), col("outdeg"),
      round(tele, 8).as("rank")))
    for (_ <- 1 to iters) {
      // one-row dangling-mass aggregate, broadcast by construction
      // (general path only — see the symmetric contract note above)
      val dangling =
        if (symmetric) null
        else ranks.filter(col("outdeg") === 0)
          .agg(coalesce(sum(col("rank")), lit(0.0)).as("__dm"))
      // small-|V| regime: ranks broadcast, agg partition-local on the
      // dst-partitioned cache — ZERO shuffled rows per round. big-|V|:
      // co-partitioned join (no exchange), dst agg pays the shuffle.
      // UNWEIGHTED: the per-source share rank/outdeg is pre-divided on
      // the |V|-row vector (identical IEEE operands per source, so
      // sums are bit-identical to the per-edge division); sinks guard
      // the ANSI division with share 0 — they have no out-edges to
      // carry it anyway. WEIGHTED: pre-dividing would reorder the
      // per-edge term to (rank/outdeg)*w, which can differ from the
      // oracle's rank*w/outdeg by 1 ulp and flip the per-round
      // round(.,8) at a boundary — so the weighted path carries
      // (rank, outdeg) on the vector and divides PER EDGE in the
      // oracle's exact operand order (a joined src always has
      // outdeg > 0: its own w > 0 edges sum into it).
      val share = weightCol match {
        case None => ranks.select(col("node"),
          when(col("outdeg") > 0, col("rank") / col("outdeg"))
            .otherwise(lit(0.0)).as("__share"))
        case Some(_) =>
          ranks.select(col("node"), col("rank").as("__r"),
            col("outdeg").as("__od"))
      }
      val rhs = if (smallV) broadcast(share) else share
      val contribs = e.join(rhs, e("src") === rhs("node"))
        .groupBy(col("dst"))
        .agg((weightCol match {
          case None => sum(col("__share"))
          case Some(_) => sum(col("__r") * col("w") / col("__od"))
        }).as("__in"))
      val joined = deg.join(contribs, deg("node") === contribs("dst"), "left")
      ranks = pin(
        if (symmetric)
          joined.select(col("node"), col("outdeg"),
            round(lit(oneMinusD) * tele + lit(damping) *
              coalesce(col("__in"), lit(0.0)), 8)
              .as("rank"))
        else
          joined.crossJoin(broadcast(dangling))
            .select(col("node"), col("outdeg"),
              round(lit(oneMinusD) * tele + lit(damping) *
                (coalesce(col("__in"), lit(0.0)) + col("__dm") * tele), 8)
                .as("rank")))
    }
    // final ranks are pinned (eager) — the edge cache is no longer
    // referenced by the returned plan and must not outlive the call
    if (big) e.unpersist(blocking = false)
    ranks.select(col("node"), col("rank"))
    }
  }

  /** Spark's exact round(double, 8): the codegen for Round on doubles
    * is `java.math.BigDecimal.valueOf(x).setScale(s, HALF_UP)
    * .doubleValue()` (spark-catalyst RoundBase), replicated verbatim
    * so the kernel's per-iteration rounding is bit-identical to the
    * distributed loop's `round(col, 8)`.
    */
  private[graft] def round8(x: Double): Double =
    java.math.BigDecimal.valueOf(x)
      .setScale(8, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Single-task fused replay of [[rankLoop]]'s recurrence for graphs
    * under [[kernelEdgeLimit]] — same dedup/collapse conventions, same
    * teleport vector, same dangling-mass term, same operand order per
    * update ((1-d)*tele + d*(in + dm*tele)) and the same round(.,8)
    * per iteration, so any sum-order wobble vs the distributed plan is
    * absorbed exactly where the loop already absorbs its own
    * partition-order wobble. Output schema matches the loop: (node in
    * the endpoints' type, rank double).
    */
  private def rankKernel(shaped: DataFrame, weighted: Boolean,
                         iters: Int, damping: Double,
                         seeds: Seq[Long], dedup: Boolean): DataFrame = {
    val sp = shaped.sparkSession
    import sp.implicits._
    val nodeT = shaped.schema("src").dataType
    val seedArr = seeds.toArray
    val out =
      if (weighted)
        shaped.select(col("src").cast("long"), col("dst").cast("long"),
            col("w").cast("double"))
          .as[(Long, Long, Double)].coalesce(1)
          .mapPartitions(rows =>
            kernelWeighted(rows, iters, damping, seedArr, dedup))
      else
        shaped.select(col("src").cast("long"), col("dst").cast("long"))
          .as[(Long, Long)].coalesce(1)
          .mapPartitions(rows =>
            kernelUnweighted(rows, iters, damping, seedArr, dedup))
    out.toDF("node", "rank")
      .select(col("node").cast(nodeT).as("node"), col("rank"))
  }

  /** Shared index/teleport/update machinery for the two kernel bodies:
    * runs `iters` rounds over the indexed edge arrays and returns the
    * (id, rank) iterator. `outdeg` is the already-aggregated per-node
    * out-degree (count or weight sum); `contrib` adds one edge's
    * contribution into `acc` given the per-round share state.
    */
  private def kernelRun(ids: Array[Long], idxOf: java.util.HashMap[java.lang.Long, Integer],
                        nEdges: Int, iters: Int, damping: Double,
                        seeds: Array[Long], danglingAt: Int => Boolean,
                        shareOf: (Array[Double], Int) => Double,
                        accumulate: (Array[Double], Array[Double]) => Unit): Iterator[(Long, Double)] = {
    val n = ids.length
    val tele = new Array[Double](n)
    if (seeds.isEmpty) {
      val t = 1.0 / n
      java.util.Arrays.fill(tele, t)
    } else {
      val t = 1.0 / seeds.length
      var s = 0
      while (s < seeds.length) {
        val i = idxOf.get(seeds(s))
        if (i != null) tele(i) = t
        s += 1
      }
    }
    val rank = new Array[Double](n)
    var i = 0
    while (i < n) { rank(i) = round8(tele(i)); i += 1 }
    val oneMinusD = 1.0 - damping
    val share = new Array[Double](n)
    val acc = new Array[Double](n)
    var round = 0
    while (round < iters) {
      var dm = 0.0
      i = 0
      while (i < n) { if (danglingAt(i)) dm += rank(i); i += 1 }
      i = 0
      while (i < n) { share(i) = shareOf(rank, i); i += 1 }
      java.util.Arrays.fill(acc, 0.0)
      accumulate(share, acc)
      i = 0
      while (i < n) {
        rank(i) = round8(oneMinusD * tele(i) + damping * (acc(i) + dm * tele(i)))
        i += 1
      }
      round += 1
    }
    Iterator.tabulate(n)(j => (ids(j), rank(j)))
  }

  private def kernelUnweighted(rows: Iterator[(Long, Long)], iters: Int,
                               damping: Double, seeds: Array[Long],
                               dedup: Boolean): Iterator[(Long, Double)] = {
    val idxOf = new java.util.HashMap[java.lang.Long, Integer]()
    val idBuf = new scala.collection.mutable.ArrayBuffer[Long]()
    def id(x: Long): Int = {
      val got = idxOf.get(x)
      if (got != null) got.intValue()
      else { val i = idBuf.length; idxOf.put(x, i); idBuf += x; i }
    }
    // `materialized` callers hand an already-unique edge table (the
    // rankLoop contract that skips the distinct() there) — the dedup
    // set is pure overhead on that path and is skipped the same way
    val eset = if (dedup) new java.util.HashSet[java.lang.Long]() else null
    val srcB = new scala.collection.mutable.ArrayBuilder.ofInt
    val dstB = new scala.collection.mutable.ArrayBuilder.ofInt
    while (rows.hasNext) {
      val (s, t) = rows.next()
      val si = id(s); val ti = id(t)
      if (eset == null ||
          eset.add((si.toLong << 32) | (ti.toLong & 0xffffffffL))) {
        srcB += si; dstB += ti
      }
    }
    val sa = srcB.result(); val da = dstB.result()
    val ids = idBuf.toArray
    require(ids.nonEmpty, "empty graph") // unreachable: dispatch gates eRows > 0
    val outdeg = new Array[Long](ids.length)
    var e = 0
    while (e < sa.length) { outdeg(sa(e)) += 1; e += 1 }
    kernelRun(ids, idxOf, sa.length, iters, damping, seeds,
      danglingAt = i => outdeg(i) == 0L,
      // pre-divided share, the loop's unweighted convention — each
      // edge then adds the identical double the distributed sum sees
      shareOf = (rank, i) => if (outdeg(i) > 0) rank(i) / outdeg(i) else 0.0,
      accumulate = (share, acc) => {
        var k = 0
        while (k < sa.length) { acc(da(k)) += share(sa(k)); k += 1 }
      })
  }

  private def kernelWeighted(rows: Iterator[(Long, Long, Double)], iters: Int,
                             damping: Double, seeds: Array[Long],
                             dedup: Boolean): Iterator[(Long, Double)] = {
    val idxOf = new java.util.HashMap[java.lang.Long, Integer]()
    val idBuf = new scala.collection.mutable.ArrayBuffer[Long]()
    def id(x: Long): Int = {
      val got = idxOf.get(x)
      if (got != null) got.intValue()
      else { val i = idBuf.length; idxOf.put(x, i); idBuf += x; i }
    }
    // parallel edges collapse by SUMMING weights (the multigraph
    // convention rankLoop's groupBy-sum implements); `materialized`
    // callers hand an already-collapsed table, so the collapse map is
    // skipped exactly like the loop skips its groupBy-sum
    val eIdx = if (dedup) new java.util.HashMap[java.lang.Long, Integer]() else null
    val srcB = new scala.collection.mutable.ArrayBuffer[Int]()
    val dstB = new scala.collection.mutable.ArrayBuffer[Int]()
    val wB = new scala.collection.mutable.ArrayBuffer[Double]()
    while (rows.hasNext) {
      val (s, t, w) = rows.next()
      val si = id(s); val ti = id(t)
      if (eIdx == null) { srcB += si; dstB += ti; wB += w }
      else {
        val key = java.lang.Long.valueOf((si.toLong << 32) | (ti.toLong & 0xffffffffL))
        val got = eIdx.get(key)
        if (got != null) wB(got.intValue()) += w
        else { eIdx.put(key, wB.length); srcB += si; dstB += ti; wB += w }
      }
    }
    val sa = srcB.toArray; val da = dstB.toArray; val wa = wB.toArray
    val ids = idBuf.toArray
    require(ids.nonEmpty, "empty graph") // unreachable: dispatch gates eRows > 0
    val outdeg = new Array[Double](ids.length)
    var e = 0
    while (e < sa.length) { outdeg(sa(e)) += wa(e); e += 1 }
    kernelRun(ids, idxOf, sa.length, iters, damping, seeds,
      danglingAt = i => outdeg(i) == 0.0,
      // weighted path divides PER EDGE in the oracle's operand order
      // rank*w/outdeg (rankLoop's comment) — share carries the rank
      shareOf = (rank, i) => rank(i),
      accumulate = (share, acc) => {
        var k = 0
        while (k < sa.length) {
          acc(da(k)) += share(sa(k)) * wa(k) / outdeg(sa(k))
          k += 1
        }
      })
  }

  /** The widest of two integral types — Spark's tightest common type
    * for the kernel outputs that replay a union/join of two endpoint
    * columns (e.g. HITS' full-outer on (src-typed) ∪ (dst-typed)).
    */
  private def widerIntegral(a: org.apache.spark.sql.types.DataType,
                            b: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, ShortType}
    def rank(t: org.apache.spark.sql.types.DataType) = t match {
      case ByteType => 1
      case ShortType => 2
      case IntegerType => 3
      case _ => 4
    }
    if (rank(a) >= rank(b)) a else b
  }

  /** Growable long→index interner shared by the kernel bodies. */
  private final class NodeIndex {
    val idxOf = new java.util.HashMap[java.lang.Long, Integer]()
    val ids = new scala.collection.mutable.ArrayBuffer[Long]()
    def apply(x: Long): Int = {
      val got = idxOf.get(x)
      if (got != null) got.intValue()
      else { val i = ids.length; idxOf.put(x, i); ids += x; i }
    }
  }

  /** Single-task fused replay of [[hits]]' alternating matvec for
    * graphs under [[kernelEdgeLimit]]: same distinct-edge convention
    * (skipped when `materialized`, like the loop skips distinct()),
    * same uniform hub start qd(1/sqrt(|srcs|), 8), same per-half-step
    * L2 normalization with the midpoint-safe 8dp quantizer, same 6dp
    * surfaced scores with 0.0 for the missing role — so the one
    * orchestration-bound shape (2 joins + 2 aggregates + 2 norm
    * broadcasts + 2 pins PER ITERATION on a graph whose arithmetic is
    * sub-millisecond) collapses to one mapPartitions. Sum-order wobble
    * vs the loop's partitioned sums is absorbed by the same 8dp
    * rounding the loop already relies on for its own partition-order
    * wobble.
    */
  private def hitsKernel(e0: DataFrame, iters: Int, dedup: Boolean): DataFrame = {
    val sp = e0.sparkSession
    import sp.implicits._
    val nodeT = widerIntegral(e0.schema("src").dataType, e0.schema("dst").dataType)
    val out = e0.select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)].coalesce(1)
      .mapPartitions(rows => hitsKernelBody(rows, iters, dedup))
    out.toDF("node", "hub", "authority")
      .select(col("node").cast(nodeT).as("node"), col("hub"), col("authority"))
  }

  private def hitsKernelBody(rows: Iterator[(Long, Long)], iters: Int,
                             dedup: Boolean): Iterator[(Long, Double, Double)] = {
    val ix = new NodeIndex
    val eset = if (dedup) new java.util.HashSet[java.lang.Long]() else null
    val srcB = new scala.collection.mutable.ArrayBuilder.ofInt
    val dstB = new scala.collection.mutable.ArrayBuilder.ofInt
    while (rows.hasNext) {
      val (s, t) = rows.next()
      val si = ix(s); val ti = ix(t)
      if (eset == null ||
          eset.add((si.toLong << 32) | (ti.toLong & 0xffffffffL))) {
        srcB += si; dstB += ti
      }
    }
    val sa = srcB.result(); val da = dstB.result()
    val n = ix.ids.length
    val isSrc = new Array[Boolean](n)
    val isDst = new Array[Boolean](n)
    var e = 0
    while (e < sa.length) { isSrc(sa(e)) = true; isDst(da(e)) = true; e += 1 }
    var nSrc = 0
    var i = 0
    while (i < n) { if (isSrc(i)) nSrc += 1; i += 1 }
    // dispatch gates eRows > 0, so nSrc >= 1 (the loop's require)
    val h = new Array[Double](n)
    val a = new Array[Double](n)
    val h0 = Quantize.qd(1.0 / math.sqrt(nSrc), 8)
    i = 0
    while (i < n) { if (isSrc(i)) h(i) = h0; i += 1 }
    val acc = new Array[Double](n)
    var round = 0
    while (round < iters) {
      // authority half-step: a(v) = Σ_{u→v} h(u), L2-normalized, 8dp
      java.util.Arrays.fill(acc, 0.0)
      e = 0
      while (e < sa.length) { acc(da(e)) += h(sa(e)); e += 1 }
      var nrm = 0.0
      i = 0
      while (i < n) { if (isDst(i)) nrm += acc(i) * acc(i); i += 1 }
      nrm = math.sqrt(nrm)
      i = 0
      while (i < n) { if (isDst(i)) a(i) = Quantize.qd(acc(i) / nrm, 8); i += 1 }
      // hub half-step: h(u) = Σ_{u→v} a(v), L2-normalized, 8dp
      java.util.Arrays.fill(acc, 0.0)
      e = 0
      while (e < sa.length) { acc(sa(e)) += a(da(e)); e += 1 }
      var nrm2 = 0.0
      i = 0
      while (i < n) { if (isSrc(i)) nrm2 += acc(i) * acc(i); i += 1 }
      nrm2 = math.sqrt(nrm2)
      i = 0
      while (i < n) { if (isSrc(i)) h(i) = Quantize.qd(acc(i) / nrm2, 8); i += 1 }
      round += 1
    }
    Iterator.tabulate(n)(j => (ix.ids(j),
      if (isSrc(j)) Quantize.qd(h(j), 6) else 0.0,
      if (isDst(j)) Quantize.qd(a(j), 6) else 0.0))
  }

  /** Single-task fused replay of [[shortestPaths]]' frontier BFS for
    * graphs under [[kernelEdgeLimit]] — same settled/frontier
    * semantics (seeds keep dist 0 even when absent from the graph,
    * min hop count per node, stop on empty frontier or maxHops), so
    * the per-hop join + distinct + anti-join + pin orchestration
    * collapses to one mapPartitions. Exact-integer recurrence: no
    * rounding posture needed.
    */
  private def bfsKernel(e: DataFrame, sources: Seq[Long],
                        maxHops: Int): DataFrame = {
    val sp = e.sparkSession
    import sp.implicits._
    val srcArr = sources.distinct.toArray
    val out = e.select(col("src").cast("long"), col("dst").cast("long"))
      .as[(Long, Long)].coalesce(1)
      .mapPartitions(rows => bfsKernelBody(rows, srcArr, maxHops))
    // the loop's output type: sources enter as longs and every union
    // promotes to the widest side, so (node, dist) are LongType
    out.toDF("node", "dist")
  }

  private def bfsKernelBody(rows: Iterator[(Long, Long)], sources: Array[Long],
                            maxHops: Int): Iterator[(Long, Long)] = {
    val ix = new NodeIndex
    // adjacency as CSR over the raw (possibly duplicated) edge stream —
    // BFS set semantics make duplicates harmless, exactly like the
    // loop's per-hop distinct()
    val srcB = new scala.collection.mutable.ArrayBuilder.ofInt
    val dstB = new scala.collection.mutable.ArrayBuilder.ofInt
    while (rows.hasNext) {
      val (s, t) = rows.next()
      srcB += ix(s); dstB += ix(t)
    }
    val sa = srcB.result(); val da = dstB.result()
    // make sure every source has an index (a seed absent from the
    // graph still emits its dist-0 row, the loop's settled init)
    sources.foreach(ix(_))
    val n = ix.ids.length
    // CSR offsets
    val deg = new Array[Int](n)
    var e = 0
    while (e < sa.length) { deg(sa(e)) += 1; e += 1 }
    val off = new Array[Int](n + 1)
    var i = 0
    while (i < n) { off(i + 1) = off(i) + deg(i); i += 1 }
    val nbr = new Array[Int](sa.length)
    val cur = java.util.Arrays.copyOf(off, n)
    e = 0
    while (e < sa.length) { nbr(cur(sa(e))) = da(e); cur(sa(e)) += 1; e += 1 }
    val dist = new Array[Long](n)
    java.util.Arrays.fill(dist, -1L)
    var frontier = new scala.collection.mutable.ArrayBuffer[Int]()
    sources.foreach { s =>
      val si = ix.idxOf.get(s).intValue()
      if (dist(si) < 0) { dist(si) = 0L; frontier += si }
    }
    var hop = 1L
    while (hop <= maxHops && frontier.nonEmpty) {
      val next = new scala.collection.mutable.ArrayBuffer[Int]()
      var f = 0
      while (f < frontier.length) {
        val u = frontier(f)
        var p = off(u)
        while (p < off(u + 1)) {
          val v = nbr(p)
          if (dist(v) < 0) { dist(v) = hop; next += v }
          p += 1
        }
        f += 1
      }
      frontier = next
      hop += 1
    }
    Iterator.range(0, n).filter(dist(_) >= 0).map(j => (ix.ids(j), dist(j)))
  }

  /** Single-task fused replay of [[kCorePeel]]'s bounded peel for
    * canonical edge sets under [[kernelEdgeLimit]]: the same `rounds`
    * synchronous drop-below-k/restrict steps and the same final
    * surviving-degree output — exact integers throughout. The
    * canonical dedup exchange + pin stay upstream (shared with the
    * loop); only the per-round degree aggregate + two semi-joins +
    * re-pin orchestration collapses.
    */
  private def kcoreKernel(e: DataFrame, k: Int, rounds: Int): DataFrame = {
    val sp = e.sparkSession
    import sp.implicits._
    val nodeT = widerIntegral(e.schema("a").dataType, e.schema("b").dataType)
    val out = e.select(col("a").cast("long"), col("b").cast("long"))
      .as[(Long, Long)].coalesce(1)
      .mapPartitions(rows => kcoreKernelBody(rows, k, rounds))
    out.toDF("node", "deg")
      .select(col("node").cast(nodeT).as("node"), col("deg"))
  }

  private def kcoreKernelBody(rows: Iterator[(Long, Long)], k: Int,
                              rounds: Int): Iterator[(Long, Long)] = {
    val ix = new NodeIndex
    val aB = new scala.collection.mutable.ArrayBuilder.ofInt
    val bB = new scala.collection.mutable.ArrayBuilder.ofInt
    while (rows.hasNext) {
      val (x, y) = rows.next()
      aB += ix(x); bB += ix(y)
    }
    var aa = aB.result(); var bb = bB.result()
    val n = ix.ids.length
    val deg = new Array[Long](n)
    var r = 0
    while (r < rounds) {
      java.util.Arrays.fill(deg, 0L)
      var e = 0
      while (e < aa.length) { deg(aa(e)) += 1; deg(bb(e)) += 1; e += 1 }
      // synchronous peel: survivors by CURRENT degree, then restrict
      val na = new scala.collection.mutable.ArrayBuilder.ofInt
      val nb = new scala.collection.mutable.ArrayBuilder.ofInt
      e = 0
      while (e < aa.length) {
        if (deg(aa(e)) >= k && deg(bb(e)) >= k) { na += aa(e); nb += bb(e) }
        e += 1
      }
      aa = na.result(); bb = nb.result()
      r += 1
    }
    java.util.Arrays.fill(deg, 0L)
    var e = 0
    while (e < aa.length) { deg(aa(e)) += 1; deg(bb(e)) += 1; e += 1 }
    Iterator.range(0, n).filter(deg(_) > 0L).map(j => (ix.ids(j), deg(j)))
  }

  /** Single-task fused replay of [[labelPropagation]]'s synchronous
    * min-tie-break vote for canonical edge sets under
    * [[kernelEdgeLimit]]: same init (own id), same per-round argmax
    * over neighbor-label counts with ties to the smallest community —
    * exact integers, no rounding posture. The canonical dedup + pin
    * stay upstream (shared with the loop); the per-round join +
    * count + window orchestration collapses.
    */
  private def lpaKernel(e: DataFrame, iters: Int): DataFrame = {
    val sp = e.sparkSession
    import sp.implicits._
    val nodeT = widerIntegral(e.schema("a").dataType, e.schema("b").dataType)
    val out = e.select(col("a").cast("long"), col("b").cast("long"))
      .as[(Long, Long)].coalesce(1)
      .mapPartitions(rows => lpaKernelBody(rows, iters))
    out.toDF("node", "community")
      .select(col("node").cast(nodeT).as("node"),
        col("community").cast(nodeT).as("community"))
  }

  private def lpaKernelBody(rows: Iterator[(Long, Long)],
                            iters: Int): Iterator[(Long, Long)] = {
    val ix = new NodeIndex
    val aB = new scala.collection.mutable.ArrayBuilder.ofInt
    val bB = new scala.collection.mutable.ArrayBuilder.ofInt
    while (rows.hasNext) {
      val (x, y) = rows.next()
      aB += ix(x); bB += ix(y)
    }
    val aa = aB.result(); val bb = bB.result()
    val n = ix.ids.length
    // undirected CSR (both directions, the loop's adj union)
    val deg = new Array[Int](n)
    var e = 0
    while (e < aa.length) { deg(aa(e)) += 1; deg(bb(e)) += 1; e += 1 }
    val off = new Array[Int](n + 1)
    var i = 0
    while (i < n) { off(i + 1) = off(i) + deg(i); i += 1 }
    val nbr = new Array[Int](aa.length * 2)
    val cur = java.util.Arrays.copyOf(off, n)
    e = 0
    while (e < aa.length) {
      nbr(cur(aa(e))) = bb(e); cur(aa(e)) += 1
      nbr(cur(bb(e))) = aa(e); cur(bb(e)) += 1
      e += 1
    }
    var labels = Array.tabulate(n)(j => ix.ids(j))
    val counts = new java.util.HashMap[java.lang.Long, Integer]()
    var round = 0
    while (round < iters) {
      val next = new Array[Long](n)
      i = 0
      while (i < n) {
        counts.clear()
        var p = off(i)
        while (p < off(i + 1)) {
          val l = java.lang.Long.valueOf(labels(nbr(p)))
          val c = counts.get(l)
          counts.put(l, if (c == null) 1 else c.intValue() + 1)
          p += 1
        }
        // argmax by (count desc, community asc) — scan is order-free
        var bestL = 0L; var bestC = -1
        val it = counts.entrySet().iterator()
        while (it.hasNext) {
          val en = it.next()
          val l = en.getKey.longValue(); val c = en.getValue.intValue()
          if (c > bestC || (c == bestC && l < bestL)) { bestL = l; bestC = c }
        }
        next(i) = bestL // deg >= 1 for every indexed node (canonical edges)
        i += 1
      }
      labels = next
      round += 1
    }
    Iterator.range(0, n).map(j => (ix.ids(j), labels(j)))
  }

  /** Canonical undirected edge set: (a, b) with a < b, self-loops and
    * nulls dropped, duplicates (either direction) collapsed.
    */
  /** HITS hubs & authorities (Kleinberg 1999, "Authoritative sources
    * in a hyperlinked environment"): `iters` rounds of the alternating
    * recurrence over the DIRECTED distinct edge set —
    *   a(v) = Σ_{u→v} h(u),  a ← a/|a|₂;
    *   h(u) = Σ_{u→v} a(v),  h ← h/|h|₂
    * from the uniform hub start h₀ = 1/sqrt(|srcs|). The
    * bibliometric dual of [[pageRank]]: hubs point at good
    * authorities, authorities are pointed at by good hubs — on a
    * bipartite interaction graph (orders→parts, users→documents) the
    * two sides get independently meaningful scores.
    *
    * Scale shape per half-step: ONE edges⋈scores equi-join plus one
    * destination aggregation (map-side partial) — the [[pageRank]]
    * join-agg kernel — and the L2 norm is a one-row aggregate
    * broadcast into the rescale. Score vectors pin per round (the
    * [[withCheckpointDir]] knob). Determinism: normalized scores
    * round to 8dp per half-step (the rounded-recurrence contract);
    * surfaced values are 6dp.
    *
    * Output: (node, hub 6dp, authority 6dp) — full outer over the
    * two roles; a node with no out-edges scores hub 0.0 (it lends no
    * endorsement), one with no in-edges authority 0.0 (it receives
    * none) — the limit values of the recurrence, not missing data.
    *
    * `materialized = true` declares the input a STORED, already
    * distinct (src, dst) table (the [[pageRank]] staged-edge
    * contract): the dedup exchange and the edge pin are skipped —
    * re-scanning a columnar table twice per iteration beats
    * writing+reading an executor-memory copy of it.
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String, iters: Int,
           materialized: Boolean = false,
           checkpointDir: Option[String] = None,
           sizingHint: Option[GraphSizing] = None): DataFrame = {
    require(iters >= 1 && iters <= 64, "iters in [1, 64]")
    val spark = edges.sparkSession
    val e0 = edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
    // |E| sizes the scale knobs (the rankLoop contract): partition
    // count tracks the data, pins go to disk past the threshold
    val eRows = sizingHint.map(_.edgeRows).getOrElse(e0.count())
    // FUSED KERNEL dispatch (round 17, see [[kernelEdgeLimit]]): a
    // small graph's alternating matvec runs as one task instead of
    // iters × (2 joins + 2 aggregates + 2 norm broadcasts + 2 pins)
    if (Fused.small(e0, Seq("src", "dst"), kernelEdgeLimit)(eRows))
      return hitsKernel(e0, iters, dedup = !materialized)
    val p = scaledPartitions(spark, eRows)
    val pin = pinner(spark, checkpointDir, eRows)
    val big = eRows >= coPartitionThreshold
    def inLoopConf[A](body: => A): A =
      if (big) withLoopPartitions(spark, p)(body) else body
    inLoopConf {
    // the edge table is consumed on BOTH keys each iteration (src for
    // the hub step, dst for the authority step) — cache one
    // co-partitioned copy per key so the alternating matvec never
    // re-exchanges edges: two edge shuffles per RUN instead of two
    // per ITERATION. Cache (compressed columnar, spills to disk),
    // not checkpoint: edge lineage is flat, only the per-round score
    // vectors need the truncation pin (the rankLoop rationale).
    val ded = if (materialized) e0 else e0.distinct()
    val (eS, eD) =
      if (big) {
        val s0 = ded.repartition(p, col("src")).persist()
        (s0, s0.repartition(p, col("dst")).persist())
      } else {
        val s0 = if (materialized) ded else pin(ded)
        (s0, s0)
      }
    val q8 = (c: Column) => Quantize.q(c, 8)
    val nSrc = eS.select(col("src")).distinct().count()
    require(nSrc > 0, "empty edge set")
    var h = eS.select(col("src").as("node")).distinct()
      .select(col("node"), lit(Quantize.qd(1.0 / math.sqrt(nSrc), 8)).as("s"))
    var a: DataFrame = null
    def normalized(raw: DataFrame): DataFrame = {
      val nrm = raw.agg(sqrt(sum(col("__v") * col("__v"))).as("__n"))
      pin(raw.crossJoin(broadcast(nrm))
        .select(col("node"), q8(col("__v") / col("__n")).as("s")))
    }
    for (_ <- 1 to iters) {
      a = normalized(eS.join(h, eS("src") === h("node"))
        .groupBy(eS("dst").as("node")).agg(sum(col("s")).as("__v")))
      h = normalized(eD.join(a.select(col("node").as("__an"), col("s")),
          eD("dst") === col("__an"))
        .groupBy(eD("src").as("node")).agg(sum(col("s")).as("__v")))
    }
    // h and a are pinned (eager) — the edge caches must not outlive
    // the call
    if (big) { eS.unpersist(blocking = false); eD.unpersist(blocking = false) }
    h.select(col("node"), col("s").as("__h"))
      .join(a.select(col("node"), col("s").as("__a")), Seq("node"), "full_outer")
      .select(col("node"),
        coalesce(Quantize.q(col("__h"), 6), lit(0.0)).as("hub"),
        coalesce(Quantize.q(col("__a"), 6), lit(0.0)).as("authority"))
    }
  }

  private def canonicalEdges(edges: DataFrame, srcCol: String,
                             dstCol: String): DataFrame =
    edges.select(col(srcCol).as("__s"), col(dstCol).as("__d"))
      .filter(col("__s").isNotNull && col("__d").isNotNull &&
        col("__s") =!= col("__d"))
      .select(least(col("__s"), col("__d")).as("a"),
        greatest(col("__s"), col("__d")).as("b"))
      .distinct()

  /** Per-node triangle participation counts over an undirected graph
    * — (node, n_triangles) for every node, 0 for triangle-free nodes.
    * The clustering signal of a co-occurrence graph (a node's
    * triangles are its neighbors that also know each other).
    *
    * Scale shape — the degree-ordered wedge join (Suri &
    * Vassilvitskii 2011's MR algorithm; Cohen 2009): edges are
    * ORIENTED from the lower-(degree, id) endpoint to the higher, and
    * wedges are enumerated only from each triangle's lowest-ranked
    * vertex. Oriented out-degree is bounded by O(sqrt(|E|)) for ANY
    * degree distribution — a hub of degree d contributes wedges only
    * through its (few) higher-ranked neighbors, so the join never
    * explodes quadratically on hot nodes the way a naive
    * common-neighbor self-join does. Three equi-joins total (wedge
    * build + closing-edge check), all on node/edge keys; counts are
    * exact integers, so any engine replays them bit-for-bit.
    */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String,
                     sizingHint: Option[GraphSizing] = None): DataFrame = {
    val pin = trianglePin(edges, sizingHint)
    val e = pin(canonicalEdges(edges, srcCol, dstCol))
    // FUSED KERNEL dispatch (round 17, see [[kernelEdgeLimit]]): the
    // canonical set is pinned, so the gate count is a cheap checkpoint
    // scan
    if (Fused.small(e, Seq("a", "b"), kernelEdgeLimit)(e.count()))
      return triangleKernel(e).select(col("node"), col("n_triangles"))
    triangleCountsOn(e, degreesOf(e), pin)
  }

  /** Pin strategy for the triangle/clustering family from catalog
    * sizing (the rank-loop consumption, task-7 round 15): a declared
    * edge table's row count decides memory vs disk checkpointing for
    * the TWO edge-sized pins these kernels make (canonical set +
    * oriented set) — pinning 2× a 100M-row edge table in executor
    * memory is the same heap bomb [[reliableEdgeThreshold]] guards in
    * the rank loops. No hint = the status quo local pin.
    */
  private def trianglePin(edges: DataFrame,
                          sizingHint: Option[GraphSizing]): DataFrame => DataFrame =
    pinner(edges.sparkSession, None,
      sizingHint.map(_.edgeRows).getOrElse(0L))

  /** Degrees of a canonical (a < b, deduped) edge set. */
  private def degreesOf(e: DataFrame): DataFrame =
    e.select(col("a").as("node"))
      .union(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))

  /** Wedge-join kernel over an ALREADY canonical, already pinned edge
    * set with its degree table — so [[clusteringCoefficient]] (which
    * needs both anyway) doesn't re-canonicalize, re-pin, and
    * re-aggregate degrees a second time inside this call.
    */
  private def triangleCountsOn(e: DataFrame, deg: DataFrame,
                               pin: DataFrame => DataFrame = _.localCheckpoint()
                              ): DataFrame = {
    // orient by (deg, node) rank: lower -> higher
    val withDeg = e
      .join(deg.select(col("node").as("a"), col("deg").as("__da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("__db")), Seq("b"))
    val oriented0 = withDeg.select(
        when(col("__da") < col("__db") ||
          (col("__da") === col("__db") && col("a") < col("b")),
          struct(col("a").as("lo"), col("b").as("hi")))
          .otherwise(struct(col("b").as("lo"), col("a").as("hi")))
          .as("__o"))
      .select(col("__o.lo").as("lo"), col("__o.hi").as("hi"))
    val oriented = pin(oriented0)
    // wedges from the lowest-ranked vertex x: (x->y1), (x->y2); the
    // closing edge y1-y2 is checked against the CANONICAL set (its
    // orientation relative to y1/y2 is unknown, their ids are not)
    val o2 = oriented.select(col("lo").as("lo2"), col("hi").as("hi2"))
    val wedges = oriented.join(o2, col("lo") === col("lo2"))
      .filter(col("hi") < col("hi2"))
      .select(col("lo").as("x"),
        col("hi").as("y1"), col("hi2").as("y2"))
    val tris = wedges.join(e,
      least(col("y1"), col("y2")) === col("a") &&
        greatest(col("y1"), col("y2")) === col("b"))
    val perNode = tris
      .select(explode(array(col("x"), col("y1"), col("y2"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
    deg.select(col("node"))
      .join(perNode, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
  }

  /** Single-task fused triangle counter for canonical edge sets under
    * [[kernelEdgeLimit]] (round 17, the rank/HITS-kernel family): the
    * distributed path pays two degree joins, an orientation pin, the
    * wedge self-join, the closing-edge join and two aggregates —
    * 15-20 sub-100ms jobs at audit scale — for EXACT-INTEGER
    * arithmetic one task replays with a CSR and a marker array: the
    * standard forward/node-iterator algorithm (Schank & Wagner 2005)
    * over adjacency oriented by the SAME (deg, id) rank rule as the
    * wedge join, so each triangle is found exactly once at its
    * lowest-ranked vertex. Returns (node, deg, n_triangles) for every
    * node of the canonical set; consumers project their surfaces with
    * the same Spark expressions as the distributed path — integer
    * recurrence, no rounding posture needed (GraphKernelSpec pins
    * kernel == distributed exact equality). Above the bound nothing
    * changes.
    */
  private def triangleKernel(e: DataFrame): DataFrame = {
    val sp = e.sparkSession
    import sp.implicits._
    val nodeT = widerIntegral(e.schema("a").dataType, e.schema("b").dataType)
    val out = e.select(col("a").cast("long"), col("b").cast("long"))
      .as[(Long, Long)].coalesce(1)
      .mapPartitions(rows => triangleKernelBody(rows))
    out.toDF("node", "deg", "n_triangles")
      .select(col("node").cast(nodeT).as("node"), col("deg"),
        col("n_triangles"))
  }

  private def triangleKernelBody(rows: Iterator[(Long, Long)]
                                ): Iterator[(Long, Long, Long)] = {
    val ix = new NodeIndex
    val aB = new scala.collection.mutable.ArrayBuilder.ofInt
    val bB = new scala.collection.mutable.ArrayBuilder.ofInt
    while (rows.hasNext) {
      val (x, y) = rows.next()
      aB += ix(x); bB += ix(y)
    }
    val aa = aB.result(); val bb = bB.result()
    val n = ix.ids.length
    val deg = new Array[Int](n)
    var e = 0
    while (e < aa.length) { deg(aa(e)) += 1; deg(bb(e)) += 1; e += 1 }
    // orient every edge from its lower (deg, id)-ranked endpoint —
    // the wedge join's exact rule, so per-node counts replay even for
    // rank ties
    def lowerRank(u: Int, v: Int): Boolean =
      deg(u) < deg(v) || (deg(u) == deg(v) && ix.ids(u) < ix.ids(v))
    val odeg = new Array[Int](n)
    e = 0
    while (e < aa.length) {
      if (lowerRank(aa(e), bb(e))) odeg(aa(e)) += 1 else odeg(bb(e)) += 1
      e += 1
    }
    val off = new Array[Int](n + 1)
    var i = 0
    while (i < n) { off(i + 1) = off(i) + odeg(i); i += 1 }
    val nbr = new Array[Int](aa.length)
    val cur = java.util.Arrays.copyOf(off, n)
    e = 0
    while (e < aa.length) {
      if (lowerRank(aa(e), bb(e))) { nbr(cur(aa(e))) = bb(e); cur(aa(e)) += 1 }
      else { nbr(cur(bb(e))) = aa(e); cur(bb(e)) += 1 }
      e += 1
    }
    val tri = new Array[Long](n)
    val mark = new Array[Int](n) // stamp = u + 1: no per-node clearing
    i = 0
    while (i < n) {
      var p = off(i)
      while (p < off(i + 1)) { mark(nbr(p)) = i + 1; p += 1 }
      p = off(i)
      while (p < off(i + 1)) {
        val v = nbr(p)
        var q = off(v)
        while (q < off(v + 1)) {
          val w = nbr(q)
          if (mark(w) == i + 1) { tri(i) += 1; tri(v) += 1; tri(w) += 1 }
          q += 1
        }
        p += 1
      }
      i += 1
    }
    Iterator.range(0, n).map(j => (ix.ids(j), deg(j).toLong, tri(j)))
  }

  /** Local clustering coefficient: for every node of degree >= 2,
    * 2 * triangles / (deg * (deg - 1)) — the fraction of a node's
    * neighbor pairs that are themselves connected, THE standard
    * "how community-like is this node's neighborhood" signal (a high
    * coefficient marks tight co-occurrence clusters; ~0 marks
    * hub-and-spoke). Composes [[triangleCounts]] with one degree
    * aggregate — same degree-ordered wedge economics; the ratio is a
    * codegen row expression rounded to 6dp.
    */
  def clusteringCoefficient(edges: DataFrame, srcCol: String,
                            dstCol: String,
                            sizingHint: Option[GraphSizing] = None): DataFrame = {
    val pin = trianglePin(edges, sizingHint)
    val e = pin(canonicalEdges(edges, srcCol, dstCol))
    // FUSED KERNEL dispatch (round 17): the kernel carries the degree
    // alongside the triangle count, and the ratio is computed with the
    // SAME Spark expression as the distributed path — exact integers
    // in, so the surfaces are bit-identical
    if (Fused.small(e, Seq("a", "b"), kernelEdgeLimit)(e.count()))
      return triangleKernel(e).filter(col("deg") >= 2)
        .select(col("node"), col("deg"), col("n_triangles"),
          round(lit(2.0) * col("n_triangles") /
            (col("deg") * (col("deg") - 1)), 6).as("clustering_coef"))
    val deg = degreesOf(e)
    deg.filter(col("deg") >= 2)
      .join(triangleCountsOn(e, deg, pin), Seq("node"))
      .select(col("node"), col("deg"), col("n_triangles"),
        round(lit(2.0) * col("n_triangles") /
          (col("deg") * (col("deg") - 1)), 6).as("clustering_coef"))
  }

  /** Common-neighbor link prediction (Adamic & Adar 2003): for every
    * NON-ADJACENT node pair sharing at least `minCommon` neighbors,
    * the common-neighbor count and the Adamic-Adar score
    * sum(1 / ln(deg(m))) over shared neighbors m — rarer mutual
    * friends weigh more. The standard "customers who share suppliers"
    * / collaborative-filtering candidate generator.
    *
    * Scale shape: candidate pairs are enumerated ONLY through shared
    * neighbors (adj ⋈ adj on the mid node — an equi-join, never an
    * all-pairs product), and `maxMidDegree` drops hub mids WHOLE
    * before the wedge join — the minhash maxBucket idiom. The cap is
    * principled here, not just protective: a degree-10^6 hub
    * contributes 1/ln(10^6) ≈ 0.07 per pair to a score where a
    * degree-10 mid contributes 0.43, while generating 10^12 wedges —
    * the signal-to-cost ratio is the worst in the graph. Scores are
    * rounded to 6dp so parallel sum order can't leak into the result.
    */
  def adamicAdar(edges: DataFrame, srcCol: String, dstCol: String,
                 maxMidDegree: Int, minCommon: Int = 1): DataFrame = {
    require(maxMidDegree >= 2, "maxMidDegree >= 2")
    require(minCommon >= 1, "minCommon >= 1")
    val e = canonicalEdges(edges, srcCol, dstCol).localCheckpoint()
    // undirected adjacency with the mid's degree riding each row
    val adj = e.select(col("a").as("mid"), col("b").as("nbr"))
      .union(e.select(col("b").as("mid"), col("a").as("nbr")))
    val deg = adj.groupBy(col("mid")).agg(count(lit(1)).as("__deg"))
      .filter(col("__deg") <= maxMidDegree && col("__deg") >= 2)
    val slim = adj.join(deg, Seq("mid"))
    val right = slim.select(col("mid"), col("nbr").as("nbr2"))
    val scored = slim.join(right, Seq("mid"))
      .filter(col("nbr") < col("nbr2"))
      .groupBy(col("nbr").as("node_a"), col("nbr2").as("node_b"))
      .agg(count(lit(1)).as("n_common"),
        round(sum(lit(1.0) / log(col("__deg"))), 6).as("adamic_adar"))
      .filter(col("n_common") >= minCommon)
    // prediction = NEW links only: drop pairs already adjacent
    scored.join(e, scored("node_a") === e("a") && scored("node_b") === e("b"),
      "left_anti")
  }

  /** Synchronous label propagation (Raghavan et al. 2007), the
    * near-linear community detector: every node starts as its own
    * community; each round it adopts the label most frequent among
    * its neighbors, ties broken by MIN label — the deterministic
    * variant (classic LPA breaks ties randomly; the min rule makes
    * every engine replay the same communities, the same determinism
    * trade the dedup-cluster min-label closure makes). Fixed `iters`
    * rounds, no convergence check — the bounded-superstep posture of
    * [[pageRank]].
    *
    * Scale shape per round: one (adjacency ⋈ labels) equi-join on the
    * neighbor key, one (node, label) count aggregate (map-side
    * partial), one per-node arg-max window (WindowGroupLimit pushes
    * rank<=1 into the sort). Labels are consumed once per round but
    * the plan would still deepen linearly with `iters`, so each
    * round's label table pins with localCheckpoint (or `checkpoint()`
    * under `checkpointDir`, the [[pageRank]] knob).
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       iters: Int,
                       checkpointDir: Option[String] = None): DataFrame = {
    require(iters >= 1 && iters <= 64, "iters in [1, 64]")
    val pin = withCheckpointDir(edges, checkpointDir)
    val e = canonicalEdges(edges, srcCol, dstCol).localCheckpoint()
    // FUSED KERNEL dispatch (round 17, see [[kernelEdgeLimit]]): the
    // canonical set is checkpointed, so the gate count is cheap; the
    // per-round join + count aggregate + window collapse to one task
    if (Fused.small(e, Seq("a", "b"), kernelEdgeLimit)(e.count()))
      return lpaKernel(e, iters)
    val adj = e.select(col("a").as("node"), col("b").as("nbr"))
      .union(e.select(col("b").as("node"), col("a").as("nbr")))
    var labels = adj.select(col("node")).distinct()
      .select(col("node"), col("node").as("community"))
    val w = Window.partitionBy(col("node"))
      .orderBy(col("__n").desc, col("community"))
    for (_ <- 1 to iters) {
      labels = pin(adj
        .join(labels.select(col("node").as("nbr"), col("community")),
          Seq("nbr"))
        .groupBy(col("node"), col("community"))
        .agg(count(lit(1)).as("__n"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("node"), col("community")))
    }
    labels
  }

  /** Multi-source BFS hop distance: for every node reachable from
    * `sources` within `maxHops` directed hops, the MINIMUM hop count
    * — the "how far is everything from these seeds" primitive behind
    * neighborhood sampling, blast-radius analysis and seed-expansion
    * labeling. Edges are treated as DIRECTED over (srcCol, dstCol);
    * pass a symmetric edge table for undirected semantics (the
    * [[pageRank]] staged-table contract). Output: (node, dist) with
    * dist 0 on the seeds themselves.
    *
    * Scale shape — frontier BFS, the textbook Pregel lowering: each
    * hop is ONE (frontier ⋈ edges) equi-join plus ONE anti-join
    * against the settled set, so per-hop work is proportional to the
    * edges incident to the CURRENT frontier, never |E|·hops. The
    * settled set and frontier pin per round (localCheckpoint, or
    * `checkpoint()` under `checkpointDir` — the [[pageRank]] knob);
    * an empty frontier short-circuits the remaining rounds (one
    * cheap isEmpty job per hop, on the frontier — the smallest frame
    * in the loop).
    */
  def shortestPaths(edges: DataFrame, srcCol: String, dstCol: String,
                    sources: Seq[Long], maxHops: Int,
                    checkpointDir: Option[String] = None): DataFrame = {
    require(sources.nonEmpty, "need at least one source")
    require(maxHops >= 1 && maxHops <= 64, "maxHops in [1, 64]")
    val pin = withCheckpointDir(edges, checkpointDir)
    val spark = edges.sparkSession
    import spark.implicits._
    // Edge set pinned ONCE (round 17): the loop previously recomputed
    // the `e` pipeline EVERY hop (the sssp entry's edge set is a
    // lineitem self-join — hops × the join's full cost), the one
    // sibling of kCorePeel / labelPropagation that never materialized
    // its canonical edges. Pinning narrow (src, dst) rows is the same
    // posture those two already take unconditionally, benefits both
    // paths (measured sf10full, 1.88M-edge co-order graph: the
    // per-hop-recompute loop read 5.25 s standalone; pin + fused
    // kernel reads ~2.5 s), and makes the kernel-dispatch count a
    // cheap checkpoint scan instead of a second pipeline compute.
    // (A first cut gated on an UNPINNED limit-count and let the
    // kernel's coalesce(1) re-execute the pipeline — measured 0.69×
    // at sf10full because the merge pulled the whole join into one
    // task; kept for the record.)
    val e = pin(edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull))
    // FUSED KERNEL dispatch (round 17, see [[kernelEdgeLimit]]):
    // below the bound the hops × (join + distinct + anti-join + pin)
    // orchestration collapses to one task over the pinned edges.
    if (Fused.small(e, Seq("src", "dst"), kernelEdgeLimit)(e.count()))
      return bfsKernel(e, sources, maxHops)
    var settled = pin(sources.distinct.toDF("node")
      .select(col("node"), lit(0L).as("dist")))
    var frontier = settled.select(col("node"))
    var hop = 1L
    var live = true
    while (live && hop <= maxHops) {
      val reached = e.join(frontier, e("src") === frontier("node"))
        .select(col("dst").as("node")).distinct()
      val fresh = pin(reached.join(settled.select(col("node")),
        Seq("node"), "left_anti"))
      if (fresh.isEmpty) live = false
      else {
        settled = pin(settled.union(
          fresh.select(col("node"), lit(hop).as("dist"))))
        frontier = fresh
        hop += 1
      }
    }
    settled
  }

  /** Fixed-round k-core peel (Seidman 1983's k-core by bounded
    * iteration): `rounds` times, drop every node whose degree in the
    * CURRENT graph is below `k` and restrict the edge set to the
    * survivors — the standard "strip the fringe" density filter that
    * isolates the tightly-connected kernel of a co-occurrence graph
    * (spam rings, core vocabularies, hub communities). Bounded
    * supersteps rather than peel-to-fixpoint, the [[pageRank]] /
    * [[labelPropagation]] posture: any engine replaying the same
    * `rounds` gets the identical node set. Output: (node, deg) —
    * survivors of the last peel with their degree in the peeled
    * graph (a node whose last neighbor was peeled disappears with
    * the edge that carried it).
    *
    * Scale shape per round: one degree aggregate (map-side partial)
    * plus two semi-joins restricting the edge set — all on node
    * keys, edge payload never widens; the shrinking edge table pins
    * per round so the `rounds`-deep plan never re-derives earlier
    * peels.
    */
  def kCorePeel(edges: DataFrame, srcCol: String, dstCol: String,
                k: Int, rounds: Int,
                checkpointDir: Option[String] = None,
                sizingHint: Option[GraphSizing] = None): DataFrame = {
    require(k >= 1, "k >= 1")
    require(rounds >= 1 && rounds <= 64, "rounds in [1, 64]")
    // the sizing hint picks the pin mode like the rank loops: the peel
    // re-pins a (shrinking) edge-sized table EVERY round, so a big
    // staged table auto-selects disk checkpointing instead of
    // holding `rounds` generations of executor-memory blocks
    val pin = pinner(edges.sparkSession, checkpointDir,
      sizingHint.map(_.edgeRows).getOrElse(0L))
    var e = pin(canonicalEdges(edges, srcCol, dstCol))
    // FUSED KERNEL dispatch (round 17, see [[kernelEdgeLimit]]): the
    // canonical set is pinned, so the gate count is a cheap checkpoint
    // scan; the per-round degree aggregate + two semi-joins + re-pin
    // collapse to one task below the bound
    if (Fused.small(e, Seq("a", "b"), kernelEdgeLimit)(e.count()))
      return kcoreKernel(e, k, rounds)
    for (_ <- 1 to rounds) {
      val keep = degreesOf(e).filter(col("deg") >= k)
        .select(col("node"))
      e = pin(e
        .join(keep.select(col("node").as("a")), Seq("a"), "left_semi")
        .join(keep.select(col("node").as("b")), Seq("b"), "left_semi")
        .select(col("a"), col("b")))
    }
    degreesOf(e)
  }

  /** Degree assortativity (Newman 2002): the Pearson correlation of
    * endpoint degrees over every undirected edge (each edge counted
    * in both directions, the standard convention) — positive means
    * hubs attach to hubs (social-network shape), negative means
    * hubs attach to leaves (bipartite / hub-and-spoke shape, e.g. a
    * customer-supplier co-purchase graph). The one-number structural
    * summary that says which join-skew regime the graph lives in.
    *
    * Scale shape: one degree aggregate, two (edge ⋈ degree)
    * equi-joins to put deg(src)/deg(dst) on each edge row, then a
    * single covariance/variance aggregate to one row — the explicit
    * covar/sqrt(var) form (the [[Profile.groupCorr]] convention) so
    * a degree-regular graph yields NULL, not NaN. Output: one row
    * (n_edges, assortativity).
    *
    * `materialized = true` declares the input ALREADY a symmetric,
    * deduped edge table (both directions present exactly once — the
    * staged-edge-table contract [[pageRank]] shares): the canonical
    * dedup exchange and its checkpoint pin are skipped, degrees come
    * straight off the stored table's scan (out-degree = degree on a
    * symmetric table). Measured 3.7x -> ~2x at 10x data on the
    * co-purchase graph.
    */
  def degreeAssortativity(edges: DataFrame, srcCol: String,
                          dstCol: String,
                          materialized: Boolean = false): DataFrame = {
    val both =
      if (materialized) edges.select(col(srcCol).as("a"), col(dstCol).as("b"))
      else {
        val e = canonicalEdges(edges, srcCol, dstCol).localCheckpoint()
        e.select(col("a"), col("b"))
          .union(e.select(col("b").as("a"), col("a").as("b")))
      }
    // degree vector pinned (|V| rows — it feeds BOTH endpoint joins)
    // and BROADCAST when it fits: the edge table then never shuffles —
    // two broadcast-hash probes ride the scan straight into the one-row
    // covariance aggregate. Past the broadcast bound the joins fall
    // back to shuffles (the honest web-scale price).
    val deg = both.groupBy(col("a").as("node"))
      .agg(count(lit(1)).as("deg")).localCheckpoint()
    val degA = deg.select(col("node").as("a"), col("deg").as("__dx"))
    val degB = deg.select(col("node").as("b"), col("deg").as("__dy"))
    val small = deg.count() <= assortativityBroadcastLimit
    val withDeg = both
      .join(if (small) broadcast(degA) else degA, Seq("a"))
      .join(if (small) broadcast(degB) else degB, Seq("b"))
      .select(col("__dx").cast("double").as("__dx"),
        col("__dy").cast("double").as("__dy"))
    withDeg.agg(
      (count(lit(1)) / 2).cast("long").as("n_edges"),
      round(when(var_pop(col("__dx")) > 0 && var_pop(col("__dy")) > 0,
        covar_pop(col("__dx"), col("__dy")) /
          (sqrt(var_pop(col("__dx"))) * sqrt(var_pop(col("__dy"))))), 4)
        .as("assortativity"))
  }
}
