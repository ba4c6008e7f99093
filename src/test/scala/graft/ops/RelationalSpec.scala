package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

class RelationalSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("mergeInto upserts: updates matching keys, inserts new ones") {
    val target = Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v")
    val source = Seq((2, "B"), (4, "d")).toDF("k", "v")
    val out = Relational.mergeInto(target, source, Seq("k"))
      .orderBy("k").as[(Int, String)].collect()
    assert(out.toSeq == Seq((1, "a"), (2, "B"), (3, "c"), (4, "d")))
  }

  test("mergeInto is idempotent") {
    val target = Seq((1, "a"), (2, "b")).toDF("k", "v")
    val source = Seq((2, "B")).toDF("k", "v")
    val once = Relational.mergeInto(target, source, Seq("k"))
    val twice = Relational.mergeInto(once, source, Seq("k"))
    assert(twice.orderBy("k").collect().toSeq ==
      once.orderBy("k").collect().toSeq)
  }

  test("mergeInto dedups a multi-row source deterministically") {
    val target = Seq((1, "a")).toDF("k", "v")
    val source = Seq((1, "x"), (1, "z"), (1, "y")).toDF("k", "v")
    val out = Relational.mergeInto(target, source, Seq("k")).as[(Int, String)].collect()
    assert(out.toSeq == Seq((1, "z"))) // max by remaining cols
  }

  test("insertIfAbsent only appends missing keys") {
    val target = Seq((1, "a")).toDF("k", "v")
    val source = Seq((1, "CLASH"), (2, "b")).toDF("k", "v")
    val out = Relational.insertIfAbsent(target, source, Seq("k"))
      .orderBy("k").as[(Int, String)].collect()
    assert(out.toSeq == Seq((1, "a"), (2, "b")))
  }

  test("dedupFirst keeps one row per key by ordering") {
    val df = Seq((1, 10, "old"), (1, 20, "new"), (2, 5, "only"))
      .toDF("k", "ts", "v")
    val out = Relational.dedupFirst(df, Seq("k"), Seq(col("ts").desc))
      .orderBy("k").as[(Int, Int, String)].collect()
    assert(out.toSeq == Seq((1, 20, "new"), (2, 5, "only")))
  }

  test("conjunction of empty predicate list is true") {
    val df = Seq(1, 2, 3).toDF("x")
    assert(df.filter(Relational.conjunction(Nil)).count() == 3)
  }

  test("snapshotDiff classifies inserted/deleted/updated, null-safe") {
    val old = Seq((1L, Option("a"), 10.0), (2L, Option("b"), 20.0),
      (3L, None: Option[String], 30.0), (4L, Option("d"), 40.0))
      .toDF("k", "s", "v")
    val neu = Seq((1L, Option("a"), 10.0),          // unchanged -> absent
      (2L, Option("b"), 21.0),                      // value updated
      (3L, Option("x"), 30.0),                      // NULL -> 'x' is an update
      (5L, Option("e"), 50.0))                      // inserted; 4 deleted
      .toDF("k", "s", "v")
    val got = Relational.snapshotDiff(old, neu, Seq("k"))
      .as[(Long, String)].collect().toMap
    assert(got == Map(2L -> "updated", 3L -> "updated",
      4L -> "deleted", 5L -> "inserted"), got.toString)
  }

  test("property: snapshotDiff of identical snapshots is empty; counts match mutations") {
    val rnd = new scala.util.Random(77)
    val base = (1L to 400L).map(k => (k, rnd.nextInt(5).toString, rnd.nextInt(100)))
      .toDF("k", "s", "v")
    assert(Relational.snapshotDiff(base, base, Seq("k")).count() == 0)
    // apply a known mutation mix and check the classification counts
    val deleted = (1L to 400L).filter(_ % 7 == 0)
    val updated = (1L to 400L).filter(k => k % 5 == 0 && k % 7 != 0)
    val inserted = (401L to 420L)
    val neu = base.filter(!col("k").isin(deleted: _*))
      .withColumn("v", when(col("k").isin(updated: _*), col("v") + 1000)
        .otherwise(col("v")))
      .unionByName(inserted.map(k => (k, "x", 1)).toDF("k", "s", "v"))
    val got = Relational.snapshotDiff(base, neu, Seq("k"))
      .groupBy("change").count().as[(String, Long)].collect().toMap
    assert(got == Map("deleted" -> deleted.size.toLong,
      "updated" -> updated.size.toLong, "inserted" -> inserted.size.toLong), got.toString)
  }

  test("scd2 compresses no-op changes and derives validity intervals") {
    def ts(m: Int) = new java.sql.Timestamp(m * 60000L)
    val log = Seq(
      (1L, ts(0), 1L, "bronze"), (1L, ts(5), 2L, "bronze"), // no-op
      (1L, ts(9), 3L, "silver"), (1L, ts(20), 4L, "gold"),
      (2L, ts(1), 5L, "gold"))
      .toDF("user_id", "ts", "event_id", "tier")
    val got = Relational.scd2(log, Seq("user_id"), "ts", "tier",
        tieBreak = Seq("event_id"))
      .select("user_id", "tier", "valid_from", "valid_to")
      .as[(Long, String, java.sql.Timestamp, Option[java.sql.Timestamp])]
      .collect().toSet
    assert(got == Set(
      (1L, "bronze", ts(0), Some(ts(9))),
      (1L, "silver", ts(9), Some(ts(20))),
      (1L, "gold", ts(20), None),
      (2L, "gold", ts(1), None)), got.toString)
  }

  test("unpivotMap explodes a map column to key/value rows") {
    val df = Seq((1, Map("a" -> "1", "b" -> "2"))).toDF("id", "m")
    val out = Relational.unpivotMap(df, "m", "field", "value")
      .orderBy("field").as[(Int, String, String)].collect()
    assert(out.toSeq == Seq((1, "a", "1"), (1, "b", "2")))
  }

  test("widen pivots field rows back to wide columns (round trip)") {
    val df = Seq((1, Map("a" -> "1", "b" -> "2")), (2, Map("a" -> "3")))
      .toDF("id", "m")
    val long = Relational.unpivotMap(df, "m", "field", "value")
    val wide = Relational.widen(long, Seq("id"), "field", "value")
      .orderBy("id")
    assert(wide.columns.toSeq == Seq("id", "a", "b"))
    val rows = wide.as[(Int, Option[String], Option[String])].collect()
    assert(rows.toSeq == Seq((1, Some("1"), Some("2")), (2, Some("3"), None)))
  }

  test("mergeInto equals last-writer-wins keyed-map semantics (property)") {
    // random merge sequences vs a Scala Map foldLeft model (SURVEY §5.3)
    val rnd = new scala.util.Random(5)
    for (_ <- 1 to 3) {
      val batches = Seq.fill(3)(Seq.fill(4)((rnd.nextInt(6), rnd.nextInt(100).toString)))
      val init = Seq((0, "z0"), (1, "z1")).toDF("k", "v")
      val model = batches.foldLeft(Map(0 -> "z0", 1 -> "z1")) { (m, b) =>
        // mergeInto dedups a multi-key source by max remaining cols
        m ++ b.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max }
      }
      val got = batches.foldLeft(init) { (df, b) =>
        Relational.mergeInto(df, b.toDF("k", "v"), Seq("k"))
      }.as[(Int, String)].collect().toMap
      assert(got == model, s"batches=$batches")
      // the same batches one row at a time, key 5 standing for NULL, over
      // a target holding a NULL key: a one-row local source (key filter +
      // union) and the same row behind repartition(1) (window + anti-join)
      // both give the sequential model, where a NULL key matches nothing
      val rows = batches.map(_.map { case (k, v) => (Option(k).filter(_ != 5), v) })
      val init1 = Seq((Option(0), "z0"), (Option(1), "z1"), (None, "zn"))
      val rowModel = rows.flatten.foldLeft(init1) { case (t, (k, v)) =>
        (if (k.isEmpty) t else t.filterNot(_._1 == k)) :+ (k -> v)
      }.sortBy(_.toString)
      for (spread <- Seq(false, true)) {
        val byRow = rows.foldLeft(init1) { (t, b) =>
          b.foldLeft(t.toDF("k", "v")) { (df, r) =>
            val src = Seq(r).toDF("k", "v")
            Relational.mergeInto(df, if (spread) src.repartition(1) else src, Seq("k"))
          }.as[(Option[Int], String)].collect().toSeq
        }.sortBy(_.toString)
        assert(byRow == rowModel, s"spread=$spread rows=$rows")
      }
    }
  }

  test("a one-row local merge source plans no Exchange") {
    val root = tempDir("graft_merge_")
    val dir = root.resolve("t").toString
    Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v").write.parquet(dir)
    val target = spark.read.parquet(dir)
    val row = Seq((2, "B")).toDF("k", "v")
    val one = Relational.mergeInto(target, row, Seq("k"))
    val plan = one.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(one.orderBy("k").as[(Int, String)].collect().toSeq ==
      Seq((1, "a"), (2, "B"), (3, "c")))
    // the general path over the same row still shuffles for its window
    val spread = Relational.mergeInto(target, row.repartition(1), Seq("k"))
    assert(spread.queryExecution.executedPlan.toString.contains("Exchange"))
    graft.engine.StoreSwap.deleteTree(root)
  }

  test("widen is monotone in the key set (X5 property)") {
    val d1 = Seq((1, Map("a" -> "1"))).toDF("id", "m")
    val d2 = Seq((1, Map("a" -> "1")), (2, Map("a" -> "2", "b" -> "3"))).toDF("id", "m")
    val w1 = Relational.widen(Relational.unpivotMap(d1, "m", "f", "v"), Seq("id"), "f", "v")
    val w2 = Relational.widen(Relational.unpivotMap(d2, "m", "f", "v"), Seq("id"), "f", "v")
    assert(w1.columns.toSet.subsetOf(w2.columns.toSet),
      "adding documents may only add columns, never remove them")
  }

  test("widen with knownKeys produces identical result without value scan") {
    val df = Seq((1, Map("a" -> "1", "b" -> "2"))).toDF("id", "m")
    val long = Relational.unpivotMap(df, "m", "field", "value")
    val a = Relational.widen(long, Seq("id"), "field", "value").orderBy("id").collect()
    val b = Relational.widen(long, Seq("id"), "field", "value", Seq("a", "b"))
      .orderBy("id").collect()
    assert(a.toSeq == b.toSeq)
  }
}
