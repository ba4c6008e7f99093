package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

class PcaSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def run(vecs: Seq[Array[Float]], dim: Int, iters: Int = 4) =
    Pca.dominantComponent(vecs.map(Tuple1(_)).toDF("embedding"),
        "embedding", dim, iters)
      .as[(Long, Double, Double, Double)].collect().sortBy(_._1)

  // all variance along e1 (0-indexed dim 1), mean zero
  private val oneAxis = Seq(-2f, -1f, 1f, 2f).map(t => Array(0f, t, 0f, 0f))
  // dim 0 spread +-3 (var 9), dim 2 spread +-1 (var 1)
  private val twoAxes = Seq(
    Array(3f, 0f, 1f, 0f), Array(-3f, 0f, -1f, 0f),
    Array(3f, 0f, -1f, 0f), Array(-3f, 0f, 1f, 0f))
  // axis variances: dim0 = 9, dim2 = 4, dim3 = 1 (mean zero each)
  private val threeAxes = Seq(
    Array(3f, 0f, 2f, 1f), Array(-3f, 0f, -2f, -1f),
    Array(3f, 0f, -2f, 1f), Array(-3f, 0f, 2f, -1f),
    Array(3f, 0f, 2f, -1f), Array(-3f, 0f, -2f, 1f),
    Array(3f, 0f, -2f, -1f), Array(-3f, 0f, 2f, 1f))
  private val ramp = (1 to 20).map(i =>
    Array(i.toFloat, (i % 3).toFloat, (i % 7).toFloat, 1f))

  test("one-dimensional data: the axis is recovered, ratio 1") {
    val r = run(oneAxis, dim = 4)
    val loadings = r.map(_._2)
    assert(math.abs(loadings(1)) == 1.0, loadings.toSeq.toString)
    assert(loadings(0) == 0.0 && loadings(2) == 0.0 && loadings(3) == 0.0)
    // var_pop along the axis = (4+1+1+4)/4 = 2.5; all variance explained
    assert(r.head._3 == 2.5, s"eigenvalue ${r.head._3}")
    assert(r.head._4 == 1.0, s"explained ${r.head._4}")
  }

  test("nonzero mean is centered out: a constant offset changes nothing") {
    val shifted = oneAxis.map(v => v.zipWithIndex.map {
      case (x, i) => x + (if (i == 2) 7f else 0f) })
    assert(run(oneAxis, 4).toSeq == run(shifted, 4).toSeq)
  }

  test("dominant of two axes wins; loadings are unit norm") {
    val vecs = twoAxes
    // 8 iterations: the e2 residual decays as (1/9)^t — at t=4 it
    // would still sit at ~1.5e-4 and the eigenvalue at 8.99998
    val r = run(vecs, 4, iters = 8)
    val l = r.map(_._2)
    assert(math.abs(l(0)) == 1.0, l.toSeq.toString)
    assert(math.abs(l(2)) < 1e-4, l.toSeq.toString)
    assert(math.abs(math.sqrt(l.map(x => x * x).sum) - 1.0) < 1e-5)
    // eigenvalue 9 of total 10
    assert(r.head._3 == 9.0 && r.head._4 == 0.9, r.head.toString)
  }

  test("top-m deflation recovers the axes in variance order, orthogonal") {
    val r = Pca.components(threeAxes.map(Tuple1(_)).toDF("embedding"),
        "embedding", dim = 4, m = 3, iters = 12)
      .as[(Long, Long, Double, Double, Double)].collect()
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (c, rows) =>
        (c, rows.sortBy(_._2).map(_._3), rows.head._4, rows.head._5) }
    assert(r.map(_._1) == Seq(1L, 2L, 3L))
    val Seq((_, l1, e1, x1), (_, l2, e2, _), (_, l3, e3, _)) = r
    // axes recovered in order dim0, dim2, dim3
    assert(math.abs(l1(0)) == 1.0 && math.abs(l1(2)) < 1e-3, l1.toString)
    assert(math.abs(l2(2)) > 0.999 && math.abs(l2(0)) < 1e-3, l2.toString)
    assert(math.abs(l3(3)) > 0.999, l3.toString)
    // eigenvalues descend toward the axis variances; ratios sum to ~1
    assert(e1 > e2 && e2 > e3, s"$e1 $e2 $e3")
    assert(math.abs(e1 - 9.0) < 1e-3 && math.abs(e2 - 4.0) < 1e-2 &&
      math.abs(e3 - 1.0) < 1e-2, s"$e1 $e2 $e3")
    assert(math.abs(x1 - 0.642857) < 1e-3, x1.toString) // 9/14
    // orthogonality up to convergence
    def dot(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (p, q) => p * q }.sum
    assert(math.abs(dot(l1, l2)) < 1e-3 && math.abs(dot(l1, l3)) < 1e-3 &&
      math.abs(dot(l2, l3)) < 1e-2)
  }

  test("components(m=1) matches dominantComponent exactly") {
    val vecs = ramp
    val dom = run(vecs, 4).toSeq
    val one = Pca.components(vecs.map(Tuple1(_)).toDF("embedding"),
        "embedding", 4, m = 1, iters = 4)
      .drop("component")
      .as[(Long, Double, Double, Double)].collect().sortBy(_._1).toSeq
    assert(dom == one)
  }

  test("removeTopComponents zeroes the mean and the removed directions") {
    // strong dim0 axis (var 9) + weak dim2 (var 1), mean offset on dim3
    val vecs = Seq(
      Array(3f, 0f, 1f, 5f), Array(-3f, 0f, -1f, 5f),
      Array(3f, 0f, -1f, 5f), Array(-3f, 0f, 1f, 5f))
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("vec_id", "embedding")
    val out = Pca.removeTopComponents(df, "vec_id", "embedding",
        dim = 4, m = 1, iters = 8)
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    assert(out.length == 4)
    // mean removed: per-dim average ~0 (dim3's constant 5 gone)
    val avg = out.map(_._2).transpose.map(c => c.sum / c.length)
    assert(avg.forall(a => math.abs(a) < 1e-6), avg.toSeq.toString)
    // dominant direction (dim0) removed: corrected dim0 ~0, dim2 intact
    out.foreach { case (i, v) =>
      assert(math.abs(v(0)) < 1e-3, s"row $i: ${v.toSeq}")
      assert(math.abs(math.abs(v(2)) - 1.0) < 1e-3, s"row $i: ${v.toSeq}")
    }
  }

  test("deterministic across runs; degenerate constant input rejected") {
    val vecs = ramp
    assert(run(vecs, 4).toSeq == run(vecs, 4).toSeq)
    intercept[Exception] {
      run(Seq.fill(3)(Array(1f, 1f, 1f, 1f)), 4)
    }
  }

  test("fused kernel fit == per-step matvec fit, exactly (m = 1 and m = 3 deflation)") {
    // the same fitSweep/powerLoop recurrence against an in-memory
    // matvec (kernel, <= 200k rows) or one Spark job per step (loop)
    def comps(vecs: Seq[Array[Float]], m: Int, iters: Int) =
      Pca.components(vecs.map(Tuple1(_)).toDF("embedding"),
          "embedding", dim = 4, m = m, iters = iters)
        .as[(Long, Long, Double, Double, Double)].collect()
        .sortBy(r => (r._1, r._2)).toSeq
    for ((vecs, m, iters) <- Seq((oneAxis, 1, 4), (twoAxes, 1, 8),
                                 (threeAxes, 3, 12), (ramp, 1, 4), (ramp, 3, 6))) {
      val kernel = comps(vecs, m, iters)
      val loop = withLoop(comps(vecs, m, iters))
      assert(kernel == loop, s"m=$m iters=$iters")
    }
  }
}
