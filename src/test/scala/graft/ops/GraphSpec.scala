package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.lit

import graft.SparkTestBase

class GraphSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def ranks(edges: Seq[(Long, Long)], iters: Int): Map[Long, Double] =
    Graph.pageRank(edges.toDF("src", "dst"), "src", "dst", iters)
      .as[(Long, Double)].collect().toMap

  test("symmetric 2-cycle is the stationary uniform distribution") {
    val r = ranks(Seq((1L, 2L), (2L, 1L)), iters = 5)
    assert(r(1L) == 0.5 && r(2L) == 0.5, r.toString)
  }

  test("star with a dangling center: hand-computed first iteration, mass conserved") {
    // b -> a, c -> a; a has no out-edges (dangling)
    val r = ranks(Seq((2L, 1L), (3L, 1L)), iters = 1)
    // r(a) = 0.05 + 0.85*(1/3 + 1/3 + (1/3)/3); r(b) = r(c) =
    // 0.05 + 0.85*(1/3)/3 — dangling third redistributed uniformly
    assert(math.abs(r(1L) - (0.05 + 0.85 * (2.0 / 3 + 1.0 / 9))) < 1e-6, r.toString)
    assert(math.abs(r(2L) - (0.05 + 0.85 / 9)) < 1e-6, r.toString)
    assert(r(2L) == r(3L))
    assert(math.abs(r.values.sum - 1.0) < 1e-6, s"mass leaked: ${r.values.sum}")
  }

  test("mass stays 1 through many iterations with dangling nodes") {
    val rnd = new scala.util.Random(3)
    val edges = (1 to 60).map(_ => (rnd.nextInt(12).toLong, rnd.nextInt(12).toLong))
      .filter { case (a, b) => a != b }
    val r = ranks(edges, iters = 8)
    assert(math.abs(r.values.sum - 1.0) < 1e-5, s"sum=${r.values.sum}")
    assert(r.values.forall(_ > 0), "every node keeps the teleport floor")
  }

  test("duplicate edges count once") {
    val once = ranks(Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L)), 3)
    val duped = ranks(Seq((1L, 2L), (1L, 2L), (2L, 1L), (1L, 3L),
      (1L, 3L), (3L, 1L)), 3)
    assert(once == duped)
  }

  test("personalized pagerank concentrates mass near the seed") {
    // symmetric pair {1,2}, seed {1}: tele = (1, 0)
    // r1 = (0.15, 0.85); r2 = (0.15 + 0.85*0.85, 0.85*0.15)
    val e = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val r1 = Graph.personalizedPageRank(e, "src", "dst", Seq(1L), iters = 1)
      .as[(Long, Double)].collect().toMap
    assert(math.abs(r1(1L) - 0.15) < 1e-6 && math.abs(r1(2L) - 0.85) < 1e-6, r1.toString)
    val r2 = Graph.personalizedPageRank(e, "src", "dst", Seq(1L), iters = 2)
      .as[(Long, Double)].collect().toMap
    assert(math.abs(r2(1L) - 0.8725) < 1e-6 && math.abs(r2(2L) - 0.1275) < 1e-6, r2.toString)
    assert(math.abs(r2.values.sum - 1.0) < 1e-6)
  }

  test("personalized pagerank: dangling mass returns to the seeds") {
    // seed 1 -> 2, 2 is a sink: dangling mass teleports back to seed 1
    val e = Seq((1L, 2L)).toDF("src", "dst")
    val r = Graph.personalizedPageRank(e, "src", "dst", Seq(1L), iters = 4)
      .as[(Long, Double)].collect().toMap
    assert(math.abs(r.values.sum - 1.0) < 1e-5, s"mass leaked: ${r.values.sum}")
    assert(r(1L) > r(2L), "seed keeps more mass than the sink")
    intercept[IllegalArgumentException](
      Graph.personalizedPageRank(e, "src", "dst", Nil, 3))
  }

  test("empty graph and bad iteration counts rejected") {
    intercept[IllegalArgumentException](
      Graph.pageRank(Seq.empty[(Long, Long)].toDF("src", "dst"),
        "src", "dst", 0))
    intercept[IllegalArgumentException](
      ranks(Seq.empty[(Long, Long)], 3))
  }
  test("reliable checkpoint path computes the same ranks as localCheckpoint") {
    // checkpointDir swaps the per-round lineage pin from executor-
    // memory localCheckpoint (fast, dies with an executor) to a
    // recoverable filesystem checkpoint (the cluster-grade option for
    // long jobs); the rounded recurrence is identical either way
    val dir = tempDir("graft_ckpt").toString
    val e = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L)).toDF("src", "dst")
    val a = Graph.pageRank(e, "src", "dst", iters = 3)
      .as[(Long, Double)].collect().toMap
    val b = Graph.pageRank(e, "src", "dst", iters = 3,
      checkpointDir = Some(dir)).as[(Long, Double)].collect().toMap
    assert(a == b, s"$a vs $b")
    val q = Graph.personalizedPageRank(e, "src", "dst", Seq(1L), iters = 2)
      .as[(Long, Double)].collect().toMap
    val pR = Graph.personalizedPageRank(e, "src", "dst", Seq(1L), iters = 2,
      checkpointDir = Some(dir)).as[(Long, Double)].collect().toMap
    assert(q == pR, s"$q vs $pR")
    // same contract for the other loops sharing the withCheckpointDir
    // pin: BFS shortest paths and the k-core peel
    val g = Seq((1L, 2L), (2L, 3L), (3L, 4L), (2L, 4L), (4L, 5L),
      (1L, 3L)).toDF("src", "dst")
    val bfsL = Graph.shortestPaths(g, "src", "dst", Seq(1L), maxHops = 3)
      .as[(Long, Long)].collect().toMap
    val bfsR = Graph.shortestPaths(g, "src", "dst", Seq(1L), maxHops = 3,
      checkpointDir = Some(dir)).as[(Long, Long)].collect().toMap
    assert(bfsL == bfsR, s"$bfsL vs $bfsR")
    val kcL = Graph.kCorePeel(g, "src", "dst", k = 2, rounds = 2)
      .as[(Long, Long)].collect().toMap
    val kcR = Graph.kCorePeel(g, "src", "dst", k = 2, rounds = 2,
      checkpointDir = Some(dir)).as[(Long, Long)].collect().toMap
    assert(kcL == kcR, s"$kcL vs $kcR")
  }
  test("weightedPageRank: unit weights match pageRank; weights steer rank; " +
      "parallel edges sum; dangling mass conserved") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)).toDF("src", "dst")
    val unw = Graph.pageRank(e, "src", "dst", iters = 4)
      .as[(Long, Double)].collect().toMap
    val w1 = Graph.weightedPageRank(
        e.withColumn("w", lit(1.0)), "src", "dst", "w", iters = 4)
      .as[(Long, Double)].collect().toMap
    assert(unw == w1, s"$unw vs $w1")
    // A splits 9:1 between B and C instead of 1:1 — B must outrank C
    val wAsym = Seq((1L, 2L, 9.0), (1L, 3L, 1.0), (2L, 1L, 1.0),
        (3L, 1L, 1.0)).toDF("src", "dst", "w")
    val r = Graph.weightedPageRank(wAsym, "src", "dst", "w", iters = 6)
      .as[(Long, Double)].collect().toMap
    assert(r(2L) > r(3L), r.toString)
    assert(math.abs(r.values.sum - 1.0) < 1e-5, s"mass: ${r.values.sum}")
    // parallel edges collapse by summing: (1->2, 4)+(1->2, 5) == (1->2, 9)
    val par = Seq((1L, 2L, 4.0), (1L, 2L, 5.0), (1L, 3L, 1.0),
        (2L, 1L, 1.0), (3L, 1L, 1.0)).toDF("src", "dst", "w")
    val rp = Graph.weightedPageRank(par, "src", "dst", "w", iters = 6)
      .as[(Long, Double)].collect().toMap
    assert(rp == r, s"$rp vs $r")
    // a sink (dangling) node: mass still conserved via the teleport
    val dang = Seq((1L, 2L, 3.0), (1L, 3L, 1.0)).toDF("src", "dst", "w")
    val rd = Graph.weightedPageRank(dang, "src", "dst", "w", iters = 4)
      .as[(Long, Double)].collect().toMap
    assert(math.abs(rd.values.sum - 1.0) < 1e-5, s"mass: ${rd.values.sum}")
    assert(rd(2L) > rd(3L), rd.toString)
    // materialized contract: a table already in collapsed form
    // ((src, dst) unique, weights summed) reproduces the default
    // path bit-for-bit without the re-aggregate
    val rdm = Graph.weightedPageRank(dang, "src", "dst", "w", iters = 4,
        materialized = true)
      .as[(Long, Double)].collect().toMap
    assert(rdm == rd, s"$rdm vs $rd")
    // zero/negative-weight edges are dropped, not divided by
    val zw = Seq((1L, 2L, 1.0), (1L, 3L, 0.0), (2L, 1L, -1.0))
      .toDF("src", "dst", "w")
    val rz = Graph.weightedPageRank(zw, "src", "dst", "w", iters = 2)
      .as[(Long, Double)].collect().toMap
    assert(rz.keySet == Set(1L, 2L), rz.toString)
  }

  test("hits: star digraph concentrates authority on the hub target") {
    // 1,2,3 all point at 10; 1 also points at 11. Authorities: 10
    // dominates 11; hubs: 1 (two out-edges) dominates 2,3.
    val e = Seq((1L, 10L), (2L, 10L), (3L, 10L), (1L, 11L))
      .toDF("src", "dst")
    val r = Graph.hits(e, "src", "dst", iters = 8)
      .as[(Long, Double, Double)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    // roles: a pure sink (node 10 — no out-edges) scores hub 0.0, a
    // pure source (node 1 — no in-edges) authority 0.0: the limit
    // values of the recurrence, never null
    assert(r(10L)._1 == 0.0 && r(10L)._2 > 0.0, r.toString)
    assert(r(1L)._1 > 0.0 && r(1L)._2 == 0.0, r.toString)
    assert(r(10L)._2 > r(11L)._2, r.toString)
    assert(r(1L)._1 > r(2L)._1, r.toString)
    assert(r(2L)._1 == r(3L)._1, r.toString)
    // L2 norms of each role ~1
    val hubN = Seq(1L, 2L, 3L).map(r(_)._1).map(x => x * x).sum
    val autN = Seq(10L, 11L).map(r(_)._2).map(x => x * x).sum
    assert(math.abs(hubN - 1.0) < 1e-4 && math.abs(autN - 1.0) < 1e-4,
      s"$hubN $autN")
    // deterministic across runs
    val again = Graph.hits(e, "src", "dst", iters = 8)
      .as[(Long, Double, Double)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    assert(r == again)
    // a node in both roles gets both scores
    val cyc = Graph.hits(Seq((1L, 2L), (2L, 1L)).toDF("src", "dst"),
        "src", "dst", iters = 4)
      .as[(Long, Double, Double)].collect()
    assert(cyc.forall(t => t._2 > 0.0 && t._3 > 0.0), cyc.toSeq.toString)
    // materialized contract: an already-distinct stored-shape edge
    // table reproduces the default path bit-for-bit
    val rm = Graph.hits(e.distinct(), "src", "dst", iters = 8,
        materialized = true)
      .as[(Long, Double, Double)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    assert(rm == r, s"$rm vs $r")
    intercept[IllegalArgumentException](Graph.hits(e, "src", "dst", 0))
  }

  test("triangleCounts: hand-computed counts, zero for triangle-free nodes") {
    // K4 on {1,2,3,4} minus edge (3,4), plus pendant 5-1: triangles
    // {1,2,3} and {1,2,4} -> nodes 1,2 in two, 3,4 in one, 5 in none
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (5L, 1L)).toDF("src", "dst")
    val got = Graph.triangleCounts(e, "src", "dst")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 1L, 4L -> 1L, 5L -> 0L),
      got.toString)
  }

  test("triangleCounts: duplicate/reversed edges and self-loops don't inflate") {
    val e = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (3L, 1L),
      (2L, 2L)).toDF("src", "dst")
    val got = Graph.triangleCounts(e, "src", "dst")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L), got.toString)
  }

  test("adamicAdar: hand-computed score, adjacent pairs excluded, cap drops hubs") {
    // path 2-1-3 plus 2-4-3: pairs (2,3) share mids {1,4}, both deg 2
    // -> score 2/ln(2); (1,4) share mids {2,3} same score; all four
    // candidate pairs are non-adjacent
    val e = Seq((1L, 2L), (1L, 3L), (4L, 2L), (4L, 3L)).toDF("src", "dst")
    val got = Graph.adamicAdar(e, "src", "dst", maxMidDegree = 64)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    val s2 = math.floor(2.0 / math.log(2.0) * 1e6 + 0.5) / 1e6
    assert(got == Map((2L, 3L) -> ((2L, s2)), (1L, 4L) -> ((2L, s2))),
      got.toString)
    // adjacent pairs never surface even when they share a neighbor
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    assert(Graph.adamicAdar(tri, "src", "dst", maxMidDegree = 64).isEmpty)
    // the cap drops hub mids whole: star through one hub -> no pairs
    val star = Seq((9L, 1L), (9L, 2L), (9L, 3L)).toDF("src", "dst")
    assert(Graph.adamicAdar(star, "src", "dst", maxMidDegree = 2).isEmpty)
    assert(Graph.adamicAdar(star, "src", "dst", maxMidDegree = 3)
      .count() == 3L)
  }
  test("clusteringCoefficient: hand-computed ratios, degree-1 nodes excluded") {
    // K4 minus edge (3,4) plus pendant 5-1: deg(1)=4 (incl pendant),
    // deg(2)=3, deg(3)=deg(4)=2; triangles 1:2, 2:2, 3:1, 4:1.
    // coef(1) = 2*2/(4*3) = 1/3, coef(2) = 2*2/(3*2) = 2/3,
    // coef(3) = coef(4) = 2*1/(2*1) = 1; node 5 (deg 1) excluded
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (5L, 1L)).toDF("src", "dst")
    val got = Graph.clusteringCoefficient(e, "src", "dst")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == Map(
      1L -> ((4L, 2L, 0.333333)), 2L -> ((3L, 2L, 0.666667)),
      3L -> ((2L, 1L, 1.0)), 4L -> ((2L, 1L, 1.0))), got.toString)
  }

  test("degreeAssortativity: star -1, regular graph NULL, mixed hand value") {
    // perfect hub-and-spoke: every edge joins deg 3 to deg 1 -> -1
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("src", "dst")
    val Array(s) = Graph.degreeAssortativity(star, "src", "dst").collect()
    assert(s.getLong(0) == 3 && s.getDouble(1) == -1.0, s.toString)
    // triangle: every node deg 2, zero variance -> NULL (not NaN)
    val tri = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val Array(t) = Graph.degreeAssortativity(tri, "src", "dst").collect()
    assert(t.getLong(0) == 3 && t.isNullAt(1), t.toString)
    // triangle + pendant on node 3: hand-computed r = -0.3125/0.4375
    val mixed = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))
      .toDF("src", "dst")
    val Array(m) = Graph.degreeAssortativity(mixed, "src", "dst").collect()
    assert(m.getLong(0) == 4 && m.getDouble(1) == -0.7143, m.toString)
    // duplicate + reversed edges collapse before degrees are counted
    val dup = Seq((0L, 1L), (1L, 0L), (0L, 1L), (0L, 2L), (0L, 3L))
      .toDF("src", "dst")
    assert(Graph.degreeAssortativity(dup, "src", "dst")
      .collect()(0).getDouble(1) == -1.0)
    // materialized: a pre-symmetrized deduped table computes the same
    // answer without the canonical dedup exchange
    val sym = Seq((0L, 1L), (1L, 0L), (0L, 2L), (2L, 0L), (0L, 3L),
      (3L, 0L)).toDF("src", "dst")
    val Array(ms) = Graph.degreeAssortativity(sym, "src", "dst",
      materialized = true).collect()
    assert(ms.getLong(0) == 3 && ms.getDouble(1) == -1.0, ms.toString)
  }

  private def communities(edges: Seq[(Long, Long)],
                          iters: Int): Map[Long, Long] =
    Graph.labelPropagation(edges.toDF("src", "dst"), "src", "dst", iters)
      .as[(Long, Long)].collect().toMap

  test("labelPropagation: disjoint triangles converge to their min member") {
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (11L, 12L), (12L, 13L), (11L, 13L))
    val got = communities(e, iters = 2)
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      11L -> 11L, 12L -> 11L, 13L -> 11L), got.toString)
  }

  test("labelPropagation round 1 is min-neighbor; frequency wins round 2") {
    // star 0-{1,2,3}: round 1 -> center takes 1, leaves take 0
    val star = communities(Seq((0L, 1L), (0L, 2L), (0L, 3L)), iters = 1)
    assert(star == Map(0L -> 1L, 1L -> 0L, 2L -> 0L, 3L -> 0L),
      star.toString)
    // path 1-2-3 plus 3-4, 3-5: node 3's neighbors after round 1 carry
    // labels {1 (from 2), 3, 3} -> frequency beats the smaller label
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (3L, 5L))
    val r1 = communities(e, 1)
    assert(r1 == Map(1L -> 2L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 3L),
      r1.toString)
    val r2 = communities(e, 2)
    assert(r2(3L) == 3L, s"count-2 label 3 must beat label 1: $r2")
  }

  test("labelPropagation is deterministic across runs") {
    val rnd = new scala.util.Random(7)
    val e = (1 to 80).map(_ =>
      (rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
      .filter { case (a, b) => a != b }
    assert(communities(e, 3) == communities(e, 3))
  }

  private def sssp(edges: Seq[(Long, Long)], sources: Seq[Long],
                   maxHops: Int): Map[Long, Long] =
    Graph.shortestPaths(edges.toDF("src", "dst"), "src", "dst",
        sources, maxHops)
      .as[(Long, Long)].collect().toMap

  test("shortestPaths: path graph hand distances, hop bound respected") {
    // directed path 1->2->3->4->5
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val d = sssp(e, Seq(1L), maxHops = 3)
    assert(d == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L), d.toString)
  }

  test("shortestPaths: multi-source takes the MIN distance; cycles terminate") {
    // cycle 1->2->3->1 plus 3->4; sources {1, 4}
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))
    val d = sssp(e, Seq(1L, 4L), maxHops = 10)
    assert(d == Map(1L -> 0L, 4L -> 0L, 2L -> 1L, 3L -> 2L), d.toString)
  }

  test("shortestPaths: direction respected; unreachable nodes absent") {
    val e = Seq((2L, 1L), (3L, 4L)) // edge INTO the source only
    val d = sssp(e, Seq(1L), maxHops = 5)
    assert(d == Map(1L -> 0L), d.toString)
  }

  test("shortestPaths: early exit on an exhausted frontier matches full run") {
    val e = Seq((1L, 2L))
    assert(sssp(e, Seq(1L), 64) == Map(1L -> 0L, 2L -> 1L))
  }

  private def kcore(edges: Seq[(Long, Long)], k: Int,
                    rounds: Int): Map[Long, Long] =
    Graph.kCorePeel(edges.toDF("src", "dst"), "src", "dst", k, rounds)
      .as[(Long, Long)].collect().toMap

  test("kCorePeel: triangle survives k=2, pendant chain peels off round by round") {
    // triangle 1-2-3 with a tail 3-4-5
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
    // round 1 drops 5 (deg 1); round 2 drops 4 (deg 1 after 5 left)
    val r1 = kcore(e, k = 2, rounds = 1)
    assert(r1.keySet == Set(1L, 2L, 3L, 4L), r1.toString)
    val r2 = kcore(e, k = 2, rounds = 2)
    assert(r2 == Map(1L -> 2L, 2L -> 2L, 3L -> 2L), r2.toString)
    // already at fixpoint: more rounds change nothing
    assert(kcore(e, 2, 4) == r2)
  }

  test("kCorePeel: k above the max degree empties the graph") {
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L))
    assert(kcore(e, k = 3, rounds = 2).isEmpty)
  }

  test("kCorePeel: duplicate/reversed edges and self-loops don't inflate degrees") {
    val e = Seq((1L, 2L), (2L, 1L), (1L, 2L), (1L, 1L), (2L, 3L), (1L, 3L))
    // canonical: 1-2, 2-3, 1-3 — a triangle, all deg 2
    val r = kcore(e, k = 2, rounds = 1)
    assert(r == Map(1L -> 2L, 2L -> 2L, 3L -> 2L), r.toString)
  }
}
