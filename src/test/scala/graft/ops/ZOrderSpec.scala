package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

class ZOrderSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("spread interleaves bits exactly") {
    val rows = Seq(0L, 1L, 2L, 3L, 0xFFFFL, 0xAAAAL).toDF("x")
      .select(ZOrder.spread(col("x")).as("s")).as[Long].collect()
    assert(rows.toSeq == Seq(0L, 1L, 4L, 5L, 0x55555555L,
      java.lang.Long.parseLong("44444444", 16)))
  }

  test("zkey orders a grid so neighbors in both dims stay close") {
    // exact Morton order on a 4x4 grid (ranks scale to the 16-bit
    // range, so compare against the interleave of the scaled ranks)
    val df = (for (x <- 0 to 3; y <- 0 to 3) yield (x, y)).toDF("x", "y")
    val keyed = df.select(col("x"), col("y"),
      ZOrder.zkey(col("x"), lit(0), lit(3), col("y"), lit(0), lit(3)).as("z"))
      .orderBy("z").as[(Int, Int, Long)].collect()
    // first quadrant of the z-curve = the low (x<2, y<2) block
    assert(keyed.take(4).map(r => (r._1, r._2)).toSet ==
      Set((0, 0), (1, 0), (0, 1), (1, 1)), keyed.toSeq.toString)
    // strictly increasing keys, 16 distinct cells
    assert(keyed.map(_._3).distinct.length == 16)
  }

  test("z-clustered files bound BOTH dimensions' spans; linear sort does not") {
    val n = 4096
    // two independent uniform dims — the adversarial case for a plain
    // leading-column sort
    val df = (0 until n).map { i =>
      (i.toLong, (i * 2654435761L % n).toDouble)
    }.toDF("x", "y")
    val dir = tempDir("zorder").toString

    ZOrder.cluster(df, "x", "y", numFiles = 16)
      .write.mode("overwrite").parquet(s"$dir/z")
    def spans(path: String): Seq[(Double, Double)] = {
      val files = new java.io.File(path).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getPath).toSeq
      files.map { f =>
        val r = spark.read.parquet(f)
          .agg(max(col("x")) - min(col("x")), max(col("y")) - min(col("y")))
          .collect()(0)
        (r.getLong(0).toDouble / n, r.getDouble(1) / n)
      }
    }
    val zSpans = spans(s"$dir/z")
    assert(zSpans.size >= 8, s"expected ~16 files, got ${zSpans.size}")
    val (zx, zy) = (zSpans.map(_._1).sum / zSpans.size,
      zSpans.map(_._2).sum / zSpans.size)
    // 16 z-files over a 4x4 grid: each file should cover roughly a
    // quarter of each dim; 0.6 leaves slack for range-boundary overlap
    assert(zx < 0.6 && zy < 0.6, s"avg spans x=$zx y=$zy")

    // the baseline: a plain x-sort leaves y unbounded per file
    df.repartitionByRange(16, col("x")).sortWithinPartitions(col("x"))
      .write.mode("overwrite").parquet(s"$dir/linear")
    val ySpanLinear = spans(s"$dir/linear").map(_._2).sum / 16
    assert(ySpanLinear > 0.8,
      s"uniform y should span ~full range per x-sorted file: $ySpanLinear")
    assert(zy < ySpanLinear / 2,
      s"z-order must at least halve the y span: $zy vs $ySpanLinear")
  }
}
