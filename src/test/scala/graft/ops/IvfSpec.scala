package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

class IvfSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  // two well-separated clusters + an identical pair inside cluster A
  private lazy val vecs = {
    val rnd = new scala.util.Random(11)
    def around(center: Array[Double], jitter: Double) =
      center.map(c => (c + jitter * rnd.nextGaussian()).toFloat).toSeq
    val a = Array.fill(8)(rnd.nextGaussian() + 5.0)
    val b = Array.fill(8)(rnd.nextGaussian() - 5.0)
    val rows =
      (0L until 10L).map(i => (i, around(a, 0.2))) ++
      (10L until 20L).map(i => (i, around(b, 0.2))) :+
      (99L, around(a, 0.0)) // another A-cluster member
    rows.toDF("vec_id", "embedding")
  }

  test("build produces k centroids and assigns every vector") {
    val idx = Ivf.build(vecs, k = 2, iters = 4)
    assert(idx.centroids.count() == 2)
    assert(idx.assignments.count() == vecs.count())
    // the two planted clusters must separate
    val byCluster = idx.assignments
      .withColumn("expected", when(col("vec_id") < 10 || col("vec_id") === 99, "A").otherwise("B"))
      .groupBy("expected").agg(countDistinct("centroid_id").as("n"))
      .as[(String, Long)].collect().toMap
    assert(byCluster("A") == 1 && byCluster("B") == 1,
      s"each planted cluster should map to exactly one centroid: $byCluster")
  }

  test("codegen ranker matches the closure (CentroidTopIds parity)") {
    // the round-16 codegen E-step must reproduce the reference closure
    // BIT-FOR-BIT: same dots, same hoisted centroid norms, same
    // (cos desc, id asc) tie-breaks — on awkward inputs too (zero
    // vector, duplicate centroids that force ties)
    val rnd = new scala.util.Random(7)
    val cen: Ivf.Cen = Array.tabulate(5)(i =>
      (i, if (i == 4) Array.fill(8)(0.25) // duplicate of nothing; ties via zero vec
          else Array.fill(8)(rnd.nextDouble() - 0.5)))
    val dupCen: Ivf.Cen = cen.updated(3, (3, cen(1)._2.clone())) // exact tie 1 vs 3
    val rows = (0 until 50).map(i =>
      (i.toLong, if (i == 13) Seq.fill(8)(0.0) // zero-norm row
                 else Seq.fill(8)(rnd.nextDouble() - 0.5))) :+
      (50L, Seq.fill(8)(0.25)) // exact cosine-1 hit on centroid 4
    val df = rows.toDF("vec_id", "embedding")
    // BOTH execution paths (round-17 ADVICE): wholeStage=false runs the
    // hand-maintained interpreted nullSafeEval, wholeStage=true the
    // generated Java — a divergence between the two copies of the
    // kernel would otherwise never execute in any test
    for (codegen <- Seq("true", "false")) {
      spark.conf.set("spark.sql.codegen.wholeStage", codegen)
      try for (c <- Seq(cen, dupCen); m <- Seq(1, 3, 5)) {
        val ranker = Ivf.rankedCentroids(c)
        val expected = rows.map { case (id, v) => id -> ranker(v).take(m).toSeq }.toMap
        val cents = c.sortBy(_._1).map(_._2)
        val got = df.select(col("vec_id"),
            graft.functions.VectorExpressions.centroid_top_ids(
              col("embedding").cast("array<double>"), cents, m).as("ids"))
          .as[(Long, Seq[Int])].collect().toMap
        rows.foreach { case (id, _) =>
          assert(got(id) == expected(id),
            s"codegen=$codegen m=$m id=$id: ${got(id)} vs ${expected(id)}")
        }
      } finally spark.conf.unset("spark.sql.codegen.wholeStage")
    }
  }

  test("non-finite embeddings rank as cosine 0.0 on all three paths") {
    // a NaN/Inf element must not let a low-index centroid win every
    // rank (strict-> scans never advance past NaN); all paths define
    // the broken cosine as 0.0 — the den==0 total-order repair
    val rnd = new scala.util.Random(3)
    val cen: Ivf.Cen = Array.tabulate(4)(i => (i, Array.fill(4)(rnd.nextDouble() + 0.1)))
    val cents = cen.sortBy(_._1).map(_._2)
    val rows: Seq[(Long, Seq[Double])] = Seq(
      (0L, Seq(Double.NaN, 1.0, 1.0, 1.0)),
      (1L, Seq(Double.PositiveInfinity, 1.0, 1.0, 1.0)),
      (2L, Seq(Double.NegativeInfinity, 0.0, 0.0, 0.0)),
      (3L, Seq(0.9, 0.9, 0.9, 0.9))) // finite control row
    val df = rows.toDF("vec_id", "embedding")
    val ranker = Ivf.rankedCentroids(cen)
    for (codegen <- Seq("true", "false")) {
      spark.conf.set("spark.sql.codegen.wholeStage", codegen)
      try {
        val got = df.select(col("vec_id"),
            graft.functions.VectorExpressions.centroid_top_ids(
              col("embedding").cast("array<double>"), cents, 4).as("ids"))
          .as[(Long, Seq[Int])].collect().toMap
        rows.foreach { case (id, v) =>
          assert(got(id) == ranker(v).toSeq,
            s"codegen=$codegen id=$id: ${got(id)} vs ${ranker(v).toSeq}")
        }
        // every cosine NaN-repaired to 0.0 => pure (cos desc=all equal,
        // id asc) tie-break = identity order for the non-finite rows
        Seq(0L, 1L, 2L).foreach(id => assert(got(id) == Seq(0, 1, 2, 3),
          s"codegen=$codegen id=$id: ${got(id)}"))
      } finally spark.conf.unset("spark.sql.codegen.wholeStage")
    }
  }

  test("fused Lloyd kernel == per-step-job build, exactly (integer-valued vectors)") {
    // integer-valued elements make every E/M sum order-exact (doubles
    // holding integers < 2^53 add associatively), so the kernel and
    // the distributed build must produce BIT-IDENTICAL centroids and
    // assignments — the only nondeterminism class between the two
    // paths (sum order) is removed by construction and everything
    // else (sample order, init, argmax tie-breaks) is shared code
    val rnd = new scala.util.Random(19)
    val rows = (0L until 300L).map(i =>
      (i, Seq.fill(8)(rnd.nextInt(9).toFloat))) :+
      (300L, Seq.fill(8)(0.0f)) // zero vector: cosine-0 path
    val df = rows.toDF("vec_id", "embedding")
    def centroids(idx: Ivf.IvfIndex) = idx.centroids
      .as[(Int, Seq[Double])].collect().sortBy(_._1).toSeq
    def asg(idx: Ivf.IvfIndex) = idx.assignments
      .select($"vec_id", $"centroid_id").as[(Long, Int)].collect().toMap
    for (k <- Seq(2, 5); it <- Seq(0, 1, 3)) {
      val kIdx = Ivf.build(df, k, it)
      val lIdx = withLoop(Ivf.build(df, k, it))
      assert(centroids(kIdx) == centroids(lIdx), s"k=$k iters=$it centroids")
      assert(asg(kIdx) == asg(lIdx), s"k=$k iters=$it assignments")
    }
  }

  test("search finds same-cluster neighbors and matches brute force on top-1") {
    val idx = Ivf.build(vecs, k = 2, iters = 4)
    val probes = vecs.filter($"vec_id" === 0)
    val ivfTop = Ivf.search(idx, probes, topK = 3, nProbe = 1)
      .orderBy("rank").as[(Long, Long, Int, Double)].collect()
    val bruteTop = Similarity.bruteForceTopK(vecs, probes, 3)
      .orderBy("rank").as[(Long, Long, Int, Double)].collect()
    assert(ivfTop.nonEmpty)
    // nProbe=1 still searches the probe's own cluster, which contains
    // all true nearest neighbors in this construction
    assert(ivfTop.map(_._2).toSeq == bruteTop.map(_._2).toSeq,
      s"ivf=${ivfTop.toSeq} brute=${bruteTop.toSeq}")
  }
}
