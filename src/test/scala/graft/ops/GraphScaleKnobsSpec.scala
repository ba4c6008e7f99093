package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** The round-13 scale knobs of the iterative graph loops: sizing
  * stats, sizing hints, and the `symmetric` caller contract must
  * never change RESULTS — they only change plans. These parity tests
  * are the guard that keeps a future plan tweak from silently
  * drifting the recurrence.
  */
class GraphScaleKnobsSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  // a small symmetric graph: both directions of every edge present
  private def symEdges = {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L), (4L, 5L))
      .toDF("src", "dst")
    e.union(e.select(col("dst").as("src"), col("src").as("dst")))
  }

  test("sizingOf returns the exact row count and sane node sketches") {
    val s = Graph.sizingOf(symEdges, "src", "dst")
    assert(s.edgeRows == 10L)
    // HLL at this cardinality is exact
    assert(s.srcNodesApprox == 5L && s.dstNodesApprox == 5L)
  }

  test("pageRank with a sizing hint == pageRank computing its own") {
    val hint = Graph.sizingOf(symEdges, "src", "dst")
    val a = Graph.pageRank(symEdges, "src", "dst", iters = 3)
      .orderBy("node").collect().toSeq
    val b = Graph.pageRank(symEdges, "src", "dst", iters = 3,
        sizingHint = Some(hint))
      .orderBy("node").collect().toSeq
    assert(a == b)
  }

  test("symmetric contract returns the identical rank vector") {
    val a = Graph.pageRank(symEdges, "src", "dst", iters = 3)
      .orderBy("node").collect().toSeq
    val b = Graph.pageRank(symEdges, "src", "dst", iters = 3,
        symmetric = true)
      .orderBy("node").collect().toSeq
    assert(a == b)
    val pa = Graph.personalizedPageRank(symEdges, "src", "dst",
        seeds = Seq(1L), iters = 3)
      .orderBy("node").collect().toSeq
    val pb = Graph.personalizedPageRank(symEdges, "src", "dst",
        seeds = Seq(1L), iters = 3, symmetric = true)
      .orderBy("node").collect().toSeq
    assert(pa == pb)
  }

  test("a wrong sizing hint changes only the plan, never the values") {
    // lie by orders of magnitude in BOTH directions: the loop may pick
    // a different regime/partitioning, but the rounded recurrence must
    // come out identical
    val tiny = Graph.GraphSizing(1L, 1L, 1L)
    val huge = Graph.GraphSizing(500L * 1000 * 1000,
      20L * 1000 * 1000, 20L * 1000 * 1000)
    val base = Graph.pageRank(symEdges, "src", "dst", iters = 2)
      .orderBy("node").collect().toSeq
    for (h <- Seq(tiny, huge)) {
      val r = Graph.pageRank(symEdges, "src", "dst", iters = 2,
          sizingHint = Some(h))
        .orderBy("node").collect().toSeq
      assert(r == base, s"hint $h changed values")
    }
  }

  test("hits with a sizing hint == hits without") {
    val e = Seq((1L, 10L), (1L, 11L), (2L, 10L), (3L, 12L)).toDF("src", "dst")
    val a = Graph.hits(e, "src", "dst", iters = 3).orderBy("node").collect().toSeq
    val b = Graph.hits(e, "src", "dst", iters = 3,
        sizingHint = Some(Graph.sizingOf(e, "src", "dst")))
      .orderBy("node").collect().toSeq
    assert(a == b)
  }

  test("triangles / clustering / k-core with a sizing hint == without") {
    // a graph with real triangles: ring + chords over 60 nodes
    val tri = (0L until 60L).flatMap(i => Seq(
      (i, (i + 1) % 60), (i, (i + 2) % 60))).toDF("src", "dst")
    val hint = Some(Graph.sizingOf(tri, "src", "dst"))
    assert(hint.exists(_.edgeRows == 120L))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("node").collect().toSeq
    assert(rows(Graph.triangleCounts(tri, "src", "dst", sizingHint = hint)) ==
      rows(Graph.triangleCounts(tri, "src", "dst")))
    assert(rows(Graph.clusteringCoefficient(tri, "src", "dst", sizingHint = hint)) ==
      rows(Graph.clusteringCoefficient(tri, "src", "dst")))
    assert(rows(Graph.kCorePeel(tri, "src", "dst", k = 3, rounds = 4,
        sizingHint = hint)) ==
      rows(Graph.kCorePeel(tri, "src", "dst", k = 3, rounds = 4)))
  }

  test("loop conf overrides are restored even when the body throws") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    intercept[IllegalArgumentException] {
      // iters out of range throws inside the public API before any
      // conf churn; a degenerate graph throws after it
      Graph.pageRank(symEdges, "src", "dst", iters = 0)
    }
    intercept[Exception] {
      Graph.pageRank(symEdges.filter(lit(false)), "src", "dst", iters = 1)
    }
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
    assert(spark.conf.get("spark.sql.join.preferSortMergeJoin", "true") == "true")
  }
}
