package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite with SparkTestBase {

  /** Counters of one `noop` write of `df`, read right after the action. */
  private def counted(c: QueryCounters)(df: => org.apache.spark.sql.DataFrame): Map[String, Double] = {
    c.reset()
    df.write.format("noop").mode("overwrite").save()
    c.snapshot().toMap
  }

  private def withCounters[A](body: QueryCounters => A): A = {
    val c = new QueryCounters(spark.sparkContext)
    try body(c) finally spark.sparkContext.removeSparkListener(c)
  }

  test("a narrow scan counts one job, one stage, one task per partition, no shuffle") {
    withCounters { c =>
      val m = counted(c)(spark.range(0, 1000, 1, 4).toDF())
      assert(m("jobs") == 1 && m("stages") == 1 && m("tasks") == 4, m)
      assert(m("shuffle_read_mb") == 0 && m("shuffle_write_mb") == 0, m)
      assert(m("task_s") >= m("max_task_s") && m("max_task_s") >= 0, m)
    }
  }

  test("an aggregation counts its shuffle stage and shuffle bytes") {
    withCounters { c =>
      val m = counted(c)(spark.range(0, 1000, 1, 4)
        .groupBy((col("id") % 10).as("k")).count())
      assert(m("stages") >= 2, m)
      assert(m("shuffle_write_mb") > 0 && m("shuffle_read_mb") > 0, m)
    }
  }

  test("reset starts every counter from zero") {
    withCounters { c =>
      counted(c)(spark.range(0, 1000, 1, 4).groupBy(col("id") % 7).count())
      c.reset()
      assert(c.snapshot().forall(_._2 == 0), c.snapshot())
      val m = counted(c)(spark.range(0, 10, 1, 2).toDF())
      assert(m("jobs") == 1 && m("stages") == 1 && m("tasks") == 2, m)
      assert(m("shuffle_write_mb") == 0, m)
    }
  }

  test("counts are complete right after the action, behind a slow listener") {
    // a listener ahead of the counters on the shared queue holds every
    // task-end event back; only the bus drain makes the read complete
    val slow = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Thread.sleep(100)
    }
    spark.sparkContext.addSparkListener(slow)
    try withCounters { c =>
      val m = counted(c)(spark.range(0, 1000, 1, 4).toDF())
      assert(m("jobs") == 1 && m("tasks") == 4, m)
    } finally spark.sparkContext.removeSparkListener(slow)
  }

  test("the sf0.1 full suite alone writes BENCH_LOCAL.json") {
    def name(sf: String, filtered: Boolean) =
      Bench.mirrorName(tools.ProbeNorms.normKey(sf, filtered))
    assert(name("sf0.1", filtered = false) == "BENCH_LOCAL.json")
    assert(name("sf0.1", filtered = true) == "BENCH_LOCAL.sf0.1.filtered.json")
    assert(name("sf1", filtered = false) == "BENCH_LOCAL.sf1.json")
    assert(name("sf10full", filtered = true) == "BENCH_LOCAL.sf10full.filtered.json")
  }
}
