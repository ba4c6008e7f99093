package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Round-17 fused rank kernel vs the distributed loop: EXACT equality
  * on every path (unweighted / weighted / personalized, dangling
  * nodes, duplicate and parallel edges, seeds absent from the graph).
  * Both replay the same rounded recurrence — round(.,8) each round —
  * so the kernel's single-task sums must land on the identical
  * doubles the loop's partitioned sums produce.
  */
class GraphKernelSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val digraph: Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    // ~300 edges over 40 nodes: dangling nodes (node 39 never a src),
    // duplicates, self-loop-free
    (1 to 300).map { _ =>
      val a = rnd.nextInt(39).toLong
      val b = (a + 1 + rnd.nextInt(39)) % 40
      (a, b)
    }
  }

  test("pageRank kernel == distributed loop, exactly") {
    val e = digraph.toDF("src", "dst")
    val k = Graph.pageRank(e, "src", "dst", iters = 6)
      .as[(Long, Double)].collect().toMap
    val l = withLoop(Graph.pageRank(e, "src", "dst", iters = 6))
      .as[(Long, Double)].collect().toMap
    assert(k == l, s"kernel $k vs loop $l")
    assert(math.abs(k.values.sum - 1.0) < 1e-5)
  }

  test("weightedPageRank kernel == loop on a fractional-weight multigraph") {
    val rnd = new scala.util.Random(7)
    val e = digraph.map { case (a, b) => (a, b, rnd.nextDouble() * 3.0) }
      .toDF("src", "dst", "w")
    val k = Graph.weightedPageRank(e, "src", "dst", "w", iters = 5)
      .as[(Long, Double)].collect().toMap
    val l = withLoop(Graph.weightedPageRank(e, "src", "dst", "w", iters = 5))
      .as[(Long, Double)].collect().toMap
    assert(k == l, s"kernel $k vs loop $l")
  }

  test("personalizedPageRank kernel == loop, including a seed absent from the graph") {
    val e = digraph.toDF("src", "dst")
    val seeds = Seq(1L, 5L, 999L) // 999 not a node: tele mass < 1, as the loop has it
    val k = Graph.personalizedPageRank(e, "src", "dst", seeds, iters = 4)
      .as[(Long, Double)].collect().toMap
    val l = withLoop(Graph.personalizedPageRank(e, "src", "dst", seeds, iters = 4))
      .as[(Long, Double)].collect().toMap
    assert(k == l, s"kernel $k vs loop $l")
  }

  test("symmetric contract: kernel == loop on a both-directions graph") {
    val sym = (digraph ++ digraph.map(_.swap)).toDF("src", "dst")
    val k = Graph.pageRank(sym, "src", "dst", iters = 4, symmetric = true)
      .as[(Long, Double)].collect().toMap
    val l = withLoop(Graph.pageRank(sym, "src", "dst", iters = 4, symmetric = true))
      .as[(Long, Double)].collect().toMap
    assert(k == l, s"kernel $k vs loop $l")
  }

  test("materialized path (dedup skipped in the kernel) == loop") {
    // the entries' exact shape: staged = already-deduped symmetric
    // table handed with materialized = true (kernel skips its dedup
    // set the way the loop skips distinct())
    val sym = (digraph ++ digraph.map(_.swap)).distinct.toDF("src", "dst")
    val k = Graph.pageRank(sym, "src", "dst", iters = 3,
        materialized = true, symmetric = true)
      .as[(Long, Double)].collect().toMap
    val l = withLoop(Graph.pageRank(sym, "src", "dst", iters = 3,
        materialized = true, symmetric = true))
      .as[(Long, Double)].collect().toMap
    assert(k == l, s"kernel $k vs loop $l")
    val rnd = new scala.util.Random(11)
    val wsym = digraph.distinct.map { case (a, b) => (a, b, 1.0 + rnd.nextInt(9)) }
      .toDF("src", "dst", "w")
    val kw = Graph.weightedPageRank(wsym, "src", "dst", "w", iters = 3,
        materialized = true)
      .as[(Long, Double)].collect().toMap
    val lw = withLoop(Graph.weightedPageRank(wsym, "src", "dst", "w",
        iters = 3, materialized = true))
      .as[(Long, Double)].collect().toMap
    assert(kw == lw, s"kernel $kw vs loop $lw")
  }

  test("integer node ids keep their type through the kernel") {
    val e = Seq((1, 2), (2, 1), (1, 3), (3, 1)).toDF("src", "dst")
    val out = Graph.pageRank(e, "src", "dst", iters = 2)
    assert(out.schema("node").dataType ==
      org.apache.spark.sql.types.IntegerType)
    val k = out.as[(Int, Double)].collect().toMap
    val l = withLoop(Graph.pageRank(e, "src", "dst", iters = 2))
      .as[(Int, Double)].collect().toMap
    assert(k == l)
  }

  test("hits kernel == distributed loop, exactly (dup edges, bipartite-ish)") {
    val e = digraph.toDF("src", "dst")
    val k = Graph.hits(e, "src", "dst", iters = 3)
      .as[(Long, Double, Double)].collect().toSet
    val l = withLoop(Graph.hits(e, "src", "dst", iters = 3))
      .as[(Long, Double, Double)].collect().toSet
    assert(k == l, s"kernel $k vs loop $l")
    // materialized path (dedup skipped in the kernel, like the loop)
    val ded = digraph.distinct.toDF("src", "dst")
    val km = Graph.hits(ded, "src", "dst", iters = 2, materialized = true)
      .as[(Long, Double, Double)].collect().toSet
    val lm = withLoop(Graph.hits(ded, "src", "dst", iters = 2,
        materialized = true))
      .as[(Long, Double, Double)].collect().toSet
    assert(km == lm, s"kernel $km vs loop $lm")
  }

  test("hits kernel covers src-only and dst-only roles like the loop's full outer") {
    // 1 -> 2 -> 3: node 1 is hub-only (authority 0.0), 3 authority-only
    val e = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val k = Graph.hits(e, "src", "dst", iters = 2)
      .as[(Long, Double, Double)].collect().toSet
    val l = withLoop(Graph.hits(e, "src", "dst", iters = 2))
      .as[(Long, Double, Double)].collect().toSet
    assert(k == l, s"kernel $k vs loop $l")
    assert(k.exists { case (n, h, a) => n == 1L && a == 0.0 && h > 0 })
    assert(k.exists { case (n, h, a) => n == 3L && h == 0.0 && a > 0 })
  }

  test("shortestPaths kernel == loop (absent seed, hop cap, unreachable nodes)") {
    val sym = (digraph ++ digraph.map(_.swap)).toDF("src", "dst")
    for (hops <- Seq(1, 2, 3)) {
      val k = Graph.shortestPaths(sym, "src", "dst",
          sources = Seq(4L, 8L, 4L, 999L), maxHops = hops)
        .as[(Long, Long)].collect().toSet
      val l = withLoop(Graph.shortestPaths(sym, "src", "dst",
          sources = Seq(4L, 8L, 4L, 999L), maxHops = hops))
        .as[(Long, Long)].collect().toSet
      assert(k == l, s"hops=$hops kernel $k vs loop $l")
      assert(k.contains((999L, 0L)), "absent seed keeps its dist-0 row")
    }
    // directed semantics: only forward edges expand
    val k1 = Graph.shortestPaths(digraph.toDF("src", "dst"), "src", "dst",
        sources = Seq(0L), maxHops = 2)
      .as[(Long, Long)].collect().toSet
    val l1 = withLoop(Graph.shortestPaths(digraph.toDF("src", "dst"),
        "src", "dst", sources = Seq(0L), maxHops = 2))
      .as[(Long, Long)].collect().toSet
    assert(k1 == l1, s"kernel $k1 vs loop $l1")
  }

  test("kCorePeel kernel == loop (self-loops, both-direction dups collapse)") {
    val messy = (digraph ++ digraph.map(_.swap) ++ Seq((5L, 5L)))
      .toDF("src", "dst")
    for ((k0, r) <- Seq((2, 1), (3, 3), (8, 2))) {
      val k = Graph.kCorePeel(messy, "src", "dst", k = k0, rounds = r)
        .as[(Long, Long)].collect().toSet
      val l = withLoop(Graph.kCorePeel(messy, "src", "dst", k = k0,
          rounds = r))
        .as[(Long, Long)].collect().toSet
      assert(k == l, s"k=$k0 rounds=$r kernel $k vs loop $l")
    }
  }

  test("labelPropagation kernel == loop (min tie-breaks, 1..3 rounds)") {
    val messy = (digraph ++ digraph.map(_.swap)).toDF("src", "dst")
    for (it <- Seq(1, 2, 3)) {
      val k = Graph.labelPropagation(messy, "src", "dst", iters = it)
        .as[(Long, Long)].collect().toSet
      val l = withLoop(Graph.labelPropagation(messy, "src", "dst",
          iters = it))
        .as[(Long, Long)].collect().toSet
      assert(k == l, s"iters=$it kernel $k vs loop $l")
    }
  }

  test("triangleCounts kernel == distributed wedge join (dups, reversed, self-loops)") {
    // pendant node 555 guarantees a zero-triangle row on both paths
    val messy = (digraph ++ digraph.map(_.swap) ++
        Seq((5L, 5L), (7L, 7L), (0L, 555L)))
      .toDF("src", "dst")
    val k = Graph.triangleCounts(messy, "src", "dst")
      .as[(Long, Long)].collect().toSet
    val l = withLoop(Graph.triangleCounts(messy, "src", "dst"))
      .as[(Long, Long)].collect().toSet
    assert(k == l, s"kernel $k vs loop $l")
    assert(k.contains((555L, 0L)), "zero-triangle nodes surface on both paths")
  }

  test("clusteringCoefficient kernel == distributed path (deg ties, ratio rounding)") {
    val messy = (digraph ++ digraph.map(_.swap)).toDF("src", "dst")
    val k = Graph.clusteringCoefficient(messy, "src", "dst")
      .as[(Long, Long, Long, Double)].collect().toSet
    val l = withLoop(Graph.clusteringCoefficient(messy, "src", "dst"))
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(k == l, s"kernel $k vs loop $l")
    // a hand-checked shape: K4 on 100..103 plus a pendant — every K4
    // node closes 3 of its (possibly 4-choose-2) pairs
    val k4 = (for (a <- 100L to 103L; b <- (a + 1) to 103L) yield (a, b)) ++
      Seq((103L, 104L))
    val got = Graph.clusteringCoefficient(k4.toDF("src", "dst"), "src", "dst")
      .as[(Long, Long, Long, Double)].collect()
      .map { case (n, d, t, c) => (n, (d, t, c)) }.toMap
    assert(got(100L) == ((3L, 3L, 1.0)))
    assert(got(103L) == ((4L, 3L, 0.5)))
  }

  test("integer ids keep their type through the non-rank kernels") {
    val e = Seq((1, 2), (2, 3), (3, 1), (2, 1)).toDF("src", "dst")
    val hits = Graph.hits(e, "src", "dst", iters = 2)
    assert(hits.schema("node").dataType ==
      org.apache.spark.sql.types.IntegerType)
    assert(hits.as[(Int, Double, Double)].collect().toSet ==
      withLoop(Graph.hits(e, "src", "dst", iters = 2))
        .as[(Int, Double, Double)].collect().toSet)
    val kc = Graph.kCorePeel(e, "src", "dst", k = 2, rounds = 1)
    assert(kc.schema("node").dataType ==
      org.apache.spark.sql.types.IntegerType)
    val lp = Graph.labelPropagation(e, "src", "dst", iters = 2)
    assert(lp.schema("community").dataType ==
      org.apache.spark.sql.types.IntegerType)
    assert(lp.as[(Int, Int)].collect().toSet ==
      withLoop(Graph.labelPropagation(e, "src", "dst", iters = 2))
        .as[(Int, Int)].collect().toSet)
    // sssp's node type is LongType by the loop's union promotion
    val sp = Graph.shortestPaths(e, "src", "dst", Seq(1L), maxHops = 2)
    assert(sp.schema("node").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(sp.as[(Long, Long)].collect().toSet ==
      withLoop(Graph.shortestPaths(e, "src", "dst", Seq(1L), maxHops = 2))
        .as[(Long, Long)].collect().toSet)
  }

  test("round8 matches Spark's round(col, 8) on adversarial values") {
    val xs = Seq(0.333333335, 0.3333333349999, 1.0 / 3.0, 2.0 / 3.0,
      0.000000005, 0.123456785, 0.99999999499, 1e-9, 0.0, 1.0,
      0.049999999999999996, 0.05000000000000001)
    val viaSpark = xs.toDF("x")
      .select(org.apache.spark.sql.functions.round(
        org.apache.spark.sql.functions.col("x"), 8))
      .as[Double].collect().toSeq
    assert(xs.map(Graph.round8) == viaSpark)
  }
}
