package graft.tools

import org.apache.spark.sql.SparkSession

/** Drift-immune cross-scale ratio measurement: alternates the SAME
  * entry between two fixture dirs in ONE JVM (A,B,A,B… min-of-reps),
  * so co-tenant load lands on both scales equally and the RATIO —
  * the number every per-decade gate is about — survives a host that
  * poisons window-to-window comparisons (this round measured probe
  * spreads of 2–3.6× inside single filtered windows). The generic
  * same-JVM harness, over any [[graft.SparkEntry.queries]] entry.
  *
  * Run: sbt "runMain graft.tools.CrossSfAb .data/sf10full .data/sf30rel 2 q_pagerank q_j1_correlated_max"
  */
object CrossSfAb {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: CrossSfAb <dirA> <dirB> <reps> <query...>")
    val Array(dirA, dirB) = args.take(2)
    val reps = args(2).toInt
    val names = args.drop(3).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def release(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      System.gc()
    }
    def timed(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      release()
      dt
    }
    names.foreach { name =>
      // warm BOTH dirs (JIT + staging memos off the clock — staging is
      // ingestion-side work by the house convention, and min-of-reps
      // would hide it anyway; warming makes every rep steady-state)
      timed(name, dirA); timed(name, dirB)
      val as = scala.collection.mutable.ArrayBuffer[Double]()
      val bs = scala.collection.mutable.ArrayBuffer[Double]()
      (1 to reps).foreach { _ =>
        as += timed(name, dirA)
        bs += timed(name, dirB)
      }
      def show(xs: Seq[Double]) = xs.map(x => f"$x%.2f").mkString(" ")
      println(f"[crosssf] $name%-28s A(${dirA.split('/').last}): ${show(as.toSeq)} min=${as.min}%.2f | " +
        f"B(${dirB.split('/').last}): ${show(bs.toSeq)} min=${bs.min}%.2f | ratio ${bs.min / as.min}%.2f")
    }
    spark.stop()
  }
}
