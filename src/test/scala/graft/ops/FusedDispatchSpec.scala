package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, SparkTestBase}

/** The one fused-kernel dispatch gate ([[Fused.small]]) and its two
  * session keys: which inputs go to the one-task kernel, which stay on
  * the distributed loop, and that the switches are per session.
  */
class FusedDispatchSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val longIds = Seq((1L, 2L)).toDF("src", "dst")

  /** A by-name row count that records whether the gate forced it. */
  private final class Rows(n: Long) {
    var forced = 0
    def apply(): Long = { forced += 1; n }
  }

  test("integral ids with 0 < rows <= bound go to the kernel") {
    assert(Fused.small(longIds, Seq("src", "dst"), bound = 10)(10))
    assert(Fused.small(longIds, Seq("src", "dst"), bound = 10)(1))
    val narrow = Seq((1.toByte, 2.toShort, 3)).toDF("b", "s", "i")
    assert(Fused.small(narrow, Seq("b", "s", "i"), bound = 10)(3))
    // no id columns (the PCA fit): the row bound alone decides
    assert(Fused.small(longIds, Nil, bound = 10)(5))
  }

  test("string ids go to the loop without forcing the row count") {
    val strIds = Seq(("a", "b")).toDF("src", "dst")
    val rows = new Rows(1)
    assert(!Fused.small(strIds, Seq("src", "dst"), bound = 10)(rows()))
    assert(!Fused.small(longIds.withColumn("dst", $"dst".cast("decimal(20,0)")),
      Seq("src", "dst"), bound = 10)(rows()))
    assert(rows.forced == 0)
  }

  test("zero rows and rows above the bound go to the loop") {
    assert(!Fused.small(longIds, Seq("src", "dst"), bound = 10)(0))
    assert(!Fused.small(longIds, Seq("src", "dst"), bound = 10)(11))
  }

  test("the session switch off sends everything to the loop, count unforced") {
    val rows = new Rows(1)
    withLoop {
      assert(!Fused.small(longIds, Seq("src", "dst"), bound = 10)(rows()))
    }
    assert(rows.forced == 0)
    assert(Fused.small(longIds, Seq("src", "dst"), bound = 10)(rows()))
    assert(rows.forced == 1)
  }

  test("the switch is per session: another session's loop leaves this one on the kernel") {
    val sf = "/root/testdata/sf0.001"
    val other = spark.newSession()
    other.conf.set(Fused.switch, "false")
    val loop = SparkEntry.queries("q_pagerank")(other, sf)
      .queryExecution.executedPlan.toString
    val kernel = SparkEntry.queries("q_pagerank")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!loop.contains("Coalesce 1") && loop.contains("Scan ExistingRDD"), loop)
    assert(kernel.contains("MapPartitions") && kernel.contains("Coalesce 1"), kernel)
  }

  test("spark.graft.rank.checkSymmetric rejects a one-direction symmetric graph") {
    val oneWay = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    // opt-in: without the key the violated contract is not checked
    withLoop(Graph.pageRank(oneWay, "src", "dst", iters = 2, symmetric = true))
    spark.conf.set("spark.graft.rank.checkSymmetric", "true")
    try {
      val e = intercept[IllegalArgumentException](withLoop(
        Graph.pageRank(oneWay, "src", "dst", iters = 2, symmetric = true)))
      assert(e.getMessage.contains("symmetric contract violated"), e.getMessage)
    } finally spark.conf.unset("spark.graft.rank.checkSymmetric")
  }
}
