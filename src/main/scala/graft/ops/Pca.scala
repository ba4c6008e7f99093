package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorExpressions.vector_dot
import graft.functions.WeightedVectorSumAggregator

/** Distributed principal components by power iteration with deflation
  * — the embedding-pipeline diagnostic/repair primitive (anisotropy
  * removal per Mu & Viswanath 2018 "All-but-the-Top", which removes
  * the top D directions, not just one; collapse detection; whitening)
  * computed WITHOUT ever materializing the d×d covariance or
  * shuffling per-dimension rows.
  *
  * The matvec trick: C·v for the (uncentered-data, centered-mean)
  * covariance C = (1/n) Σ (x_i - μ)(x_i - μ)ᵀ needs only
  *   Σ_i x_i·c_i  -  μ·(Σ_i c_i),   c_i = x_i·v - μ·v
  * i.e. ONE scan computing a per-row scalar (codegen `vector_dot`
  * against the broadcast iterate) and one (dim+1)-double aggregation
  * buffer ([[WeightedVectorSumAggregator]]) — per iteration the
  * cluster moves O(dim) bytes per task, never O(n·dim). The iterate
  * itself is O(dim) driver state, the same driver-scalar posture as
  * the PQ codebook Lloyd loop.
  *
  * Deflation (Hotelling): component j power-iterates the matrix
  * C_j = C - Σ_{l<j} λ_l v_l v_lᵀ. Because v_l and λ_l are O(dim)
  * driver state, the deflated matvec is the SAME one-scan C·v plus a
  * driver-side rank-m correction Σ λ_l (v_lᵀv) v_l — components cost
  * m × the dominant-component scans and nothing more.
  *
  * Determinism (the [[Graph.pageRank]] recurrence contract): v₀ =
  * 1/sqrt(dim) on every coordinate (exactly representable for
  * power-of-two dims), μ, each normalized iterate AND each deflation
  * eigenvalue round to 8dp — any engine replaying the same rounded
  * recurrence agrees to well beyond the 6dp surface. Power iteration
  * converges to the dominant (remaining) eigenvector at rate
  * (λ_{j+1}/λ_j)^t; `iters` is fixed (bounded supersteps), so the
  * result is "the t-step power-iteration estimate", exactly
  * replayable, converged or not.
  */
object Pca {

  private def r8(x: Double): Double = math.floor(x * 1e8 + 0.5) / 1e8
  private def f6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6

  /** Shared scan-side state: pinned vectors, n, 8dp mean, total
    * variance tr(C), and the one-scan matvec closure.
    */
  private final case class Core(xs: DataFrame, n: Long, mu: Array[Double],
                                totalVar: Double, dim: Int) {
    private val agg = new WeightedVectorSumAggregator(dim).toColumn
    /** (Σ x·c, Σ c) for c_i = x_i·v − μ·v — one codegen scan. */
    def matvec(v: Array[Double]): (Array[Double], Double) = {
      import xs.sparkSession.implicits._
      val vLit = array(v.map(lit): _*)
      val mv = mu.zip(v).map { case (m, c) => m * c }.sum
      xs.select(col("__v"), (vector_dot(col("__v"), vLit) - mv).as("__c"))
        .as[(Array[Float], Double)]
        .select(agg).head()
    }
  }

  private def core(xs: DataFrame, n: Long, dim: Int): Core = {
    val spark = xs.sparkSession
    import spark.implicits._
    // μ (8dp) and tr(C) = Σ|x|²/n − |μ|² from one stats pass each
    val mu: Array[Double] = xs.as[Array[Float]]
      .select(new graft.functions.VectorMeanAggregator(dim).toColumn)
      .head().map(r8)
    val sumSq = xs.agg(sum(vector_dot(col("__v"), col("__v"))))
      .head().getDouble(0)
    val muSq = mu.map(m => m * m).sum
    Core(xs, n, mu, sumSq / n - muSq, dim)
  }

  /** Fit result: 8dp mean, tr(C), row count and the m (8dp unit
    * vector, raw Rayleigh eigenvalue) pairs in variance order.
    */
  private final case class Fit(mu: Array[Double], totalVar: Double,
                               n: Long, comps: Seq[(Array[Double], Double)])

  /** Pin + count the vectors, then fit — as ONE fused task below
    * [[kernelRowLimit]] (3 jobs total), or per-step matvec jobs above
    * it (the honest streaming shape at scale).
    */
  private def fitAll(emb: DataFrame, vecCol: String, dim: Int, m: Int,
                     iters: Int): Fit = {
    validate(dim, m, iters)
    val spark = emb.sparkSession
    import spark.implicits._
    // vectors only, pinned: consumed (m × iters) + 2 times by the
    // per-step path, exactly once by the fused kernel
    val xs = emb.select(col(vecCol).as("__v")).localCheckpoint()
    val n = xs.count()
    require(n > 0, "empty embedding table")
    if (Fused.small(xs, Nil, kernelRowLimit)(n)) {
      val rows = xs.as[Array[Float]].coalesce(1)
        .mapPartitions(it => fusedFitBody(it, dim, m, iters, n))
        .collect()
      val muRow = rows.find(_._1 == 0).get
      Fit(muRow._2.toArray, muRow._3, n,
        rows.filter(_._1 > 0).sortBy(_._1)
          .map(r => (r._2.toArray, r._3)).toSeq)
    } else {
      val c = core(xs, n, dim)
      Fit(c.mu, c.totalVar, n, fit(c, m, iters))
    }
  }

  /** The fused task: buffer the (bounded) float matrix once, compute
    * μ / tr(C) and run the SAME [[fitSweep]] recurrence against an
    * in-memory matvec that replays [[Core.matvec]]'s exact per-row
    * arithmetic (float→double promotion, index-order dot, c = x·v −
    * μ·v, buffer += x·c). Emits (0, μ, tr(C)) then (j, v_j, λ_j).
    */
  private def fusedFitBody(it: Iterator[Array[Float]], dim: Int, m: Int,
                           iters: Int, n: Long): Iterator[(Int, Seq[Double], Double)] = {
    val buf = new scala.collection.mutable.ArrayBuffer[Array[Float]]()
    val muS = new Array[Double](dim)
    var nVec = 0L
    var sumSq = 0.0
    while (it.hasNext) {
      val v = it.next()
      if (v != null) { // null vectors skipped, the aggregator contract
        require(v.length == dim, s"expected dim $dim, got ${v.length}")
        var i = 0; var dp = 0.0
        while (i < dim) { muS(i) += v(i); dp += v(i).toDouble * v(i); i += 1 }
        sumSq += dp
        nVec += 1
        buf += v
      }
    }
    require(nVec > 0, "empty embedding table")
    val mu = new Array[Double](dim)
    var d = 0
    while (d < dim) { mu(d) = r8(muS(d) / nVec); d += 1 }
    val muSq = mu.map(x => x * x).sum
    val totalVar = sumSq / n - muSq
    def matvec(v: Array[Double]): (Array[Double], Double) = {
      val mv = mu.zip(v).map { case (a, b) => a * b }.sum
      val xc = new Array[Double](dim)
      var sc = 0.0
      var r = 0
      while (r < buf.length) {
        val x = buf(r)
        var i = 0; var dp = 0.0
        while (i < dim) { dp += x(i).toDouble * v(i); i += 1 }
        val c = dp - mv
        i = 0
        while (i < dim) { xc(i) += x(i) * c; i += 1 }
        sc += c
        r += 1
      }
      (xc, sc)
    }
    val comps = fitSweep(matvec, mu, n, dim, m, iters)
    Iterator((0, mu.toSeq, totalVar)) ++
      comps.zipWithIndex.iterator.map { case ((v, l), j) => (j + 1, v.toSeq, l) }
  }

  /** `iters` power-iteration steps against C deflated by `prior`
    * (vector, 8dp eigenvalue) pairs → (final 8dp unit iterate, raw
    * Rayleigh eigenvalue estimate). Pure recurrence over a pluggable
    * `matvec` (round 17): the SAME code runs driver-side against
    * [[Core.matvec]]'s per-step Spark jobs AND inside the fused
    * single-task kernel's in-memory matvec — one definition, so the
    * two paths cannot drift.
    */
  private def powerLoop(matvec: Array[Double] => (Array[Double], Double),
                        mu: Array[Double], n: Long, dim: Int,
                        prior: Seq[(Array[Double], Double)],
                        iters: Int): (Array[Double], Double) = {
    var v = Array.fill(dim)(1.0 / math.sqrt(dim))
    var lambda = 0.0
    for (_ <- 1 to iters) {
      val (xc, sc) = matvec(v)
      val w0 = xc.indices.map(d => (xc(d) - mu(d) * sc) / n).toArray
      // rank-|prior| deflation: subtract λ_l (v_l·v) v_l driver-side
      val w = prior.foldLeft(w0) { case (acc, (vl, lam8)) =>
        val dt = vl.zip(v).map { case (a, b) => a * b }.sum
        acc.indices.map(d => acc(d) - lam8 * dt * vl(d)).toArray
      }
      val nrm = math.sqrt(w.map(x => x * x).sum)
      require(nrm > 0, "zero matvec — degenerate (constant) embeddings")
      // Rayleigh estimate λ = vᵀ(C_j v) of the PREVIOUS unit iterate
      lambda = v.zip(w).map { case (a, b) => a * b }.sum
      v = w.map(x => r8(x / nrm))
    }
    (v, lambda)
  }

  /** One row per dimension: (dim_idx, loading 6dp) of the dominant
    * component after `iters` rounds, plus the (repeated) eigenvalue
    * estimate λ = Σc²/n and explained-variance ratio λ/tr(C), 6dp.
    */
  def dominantComponent(emb: DataFrame, vecCol: String, dim: Int,
                        iters: Int): DataFrame =
    components(emb, vecCol, dim, m = 1, iters)
      .drop("component")

  /** Top-`m` principal components by Hotelling deflation: one row per
    * (component 1..m, dim_idx), with each component's eigenvalue
    * estimate and explained-variance ratio repeated on its rows.
    * Components are mutually orthogonal up to power-iteration
    * convergence; eigenvalues decrease. `m` is driver state (O(dim·m)
    * doubles) — keep it the All-but-the-Top-sized handful it is for.
    */
  def components(emb: DataFrame, vecCol: String, dim: Int, m: Int,
                 iters: Int): DataFrame = {
    val f = fitAll(emb, vecCol, dim, m, iters)
    val spark = emb.sparkSession
    import spark.implicits._
    val rows = f.comps.zipWithIndex.flatMap { case ((v, lambda), j0 ) =>
      val lam6 = f6(lambda)
      val ratio6 = if (f.totalVar > 0) Some(f6(lambda / f.totalVar)) else None
      v.zipWithIndex.map { case (x, d) =>
        ((j0 + 1).toLong, d.toLong, f6(x), lam6, ratio6)
      }
    }
    spark.createDataset(rows)
      .toDF("component", "dim_idx", "loading", "eigenvalue", "explained_ratio")
  }

  /** The deflated power-iteration sweep: m (8dp unit vector, raw
    * Rayleigh eigenvalue) pairs, in variance order.
    */
  /** Argument gate, callable BEFORE any Spark job runs. */
  private def validate(dim: Int, m: Int, iters: Int): Unit = {
    require(dim > 0 && iters >= 1 && iters <= 64, "dim > 0, iters in [1,64]")
    require(m >= 1 && m <= 16, "m in [1, 16]")
  }

  /** The deflation sweep over a pluggable matvec — shared verbatim by
    * the per-step-job path and the fused kernel (see [[powerLoop]]).
    */
  private def fitSweep(matvec: Array[Double] => (Array[Double], Double),
                       mu: Array[Double], n: Long, dim: Int,
                       m: Int, iters: Int): Seq[(Array[Double], Double)] = {
    val done = scala.collection.mutable.ArrayBuffer.empty[(Array[Double], Double)]
    for (_ <- 1 to m) {
      val (v, lambda) = powerLoop(matvec, mu, n, dim,
        done.toSeq.map { case (vl, l) => (vl, r8(l)) }, iters)
      done += ((v, lambda))
    }
    done.toSeq
  }

  /** Row-count bound for the FUSED single-task fit (round 17, the
    * [[Graph]] kernel rationale applied to the power iteration): below
    * it the whole m × iters recurrence runs as ONE mapPartitions over
    * the pinned vectors instead of (m × iters) one-scan matvec jobs —
    * at sf0.1 each matvec job is ~50–80 ms of orchestration around
    * ~1 ms of arithmetic (2k rows × 64 dims), so q_emb_pca_top3 paid
    * 12 such jobs (plus μ/Σ|x|² passes, also folded in here). The
    * bound keeps the buffered float matrix small (200k × 64 ≈ 51 MB —
    * one comfortable task); above it the per-step jobs are the honest
    * distributed shape (the matvec streams, nothing is buffered).
    * Dispatched through [[Fused.small]]; `spark.graft.fusedKernels=false`
    * forces the per-step jobs for one session. Arithmetic is IDENTICAL
    * by construction: the kernel calls the same [[fitSweep]] /
    * [[powerLoop]] code with an in-memory matvec that replays
    * [[Core.matvec]]'s exact per-row expression
    * (float→double promotion, index-order accumulation); sum-order
    * wobble vs the distributed partial aggregates is absorbed by the
    * recurrence's own 8dp rounding, the [[Graph.pageRank]] posture.
    */
  private val kernelRowLimit: Long = 200L * 1000

  private def fit(c: Core, m: Int, iters: Int): Seq[(Array[Double], Double)] = {
    validate(c.dim, m, iters)
    fitSweep(c.matvec, c.mu, c.n, c.dim, m, iters)
  }

  /** All-but-the-Top embedding post-processing (Mu & Viswanath 2018):
    * remove the mean and the projections onto the top-`m` principal
    * components — x' = (x − μ) − Σ_{l≤m} c_l·v_l with
    * c_l = v_l·x − v_l·μ (8dp, the cross-engine quantization point) —
    * the standard anisotropy fix that makes cosine similarity
    * discriminative again on collapsed embedding spaces. Output:
    * every input row's `idCol` plus `corrected` (array<double>).
    *
    * Scale shape: the fit is the [[components]] recurrence (m × iters
    * one-scan matvecs, O(dim·m) driver state); the correction itself
    * is ONE map-side pass — m codegen dots against broadcast-literal
    * component vectors plus a per-dimension transform, no shuffle at
    * all. Downstream similarity/ANN reads the corrected vectors
    * exactly as it would the originals.
    */
  def removeTopComponents(emb: DataFrame, idCol: String, vecCol: String,
                          dim: Int, m: Int, iters: Int): DataFrame = {
    val f = fitAll(emb, vecCol, dim, m, iters)
    val muLit = array(f.mu.map(lit): _*)
    // c_l as a codegen dot against the literal component, mean part
    // folded in driver-side; 8dp so both engines reuse identical
    // projection coefficients
    val corrected = f.comps.foldLeft(
        zip_with(col(vecCol).cast("array<double>"), muLit,
          (x: Column, mu: Column) => x - mu)) { case (acc, (vl, _)) =>
      val vLit = array(vl.map(lit): _*)
      val mv = f.mu.zip(vl).map { case (a, b) => a * b }.sum
      val cl = Quantize.q(vector_dot(col(vecCol), vLit) - mv, 8)
      zip_with(acc, vLit, (a: Column, v: Column) => a - cl * v)
    }
    emb.select(col(idCol), corrected.as("corrected"))
  }
}
