package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole forked test JVM. */
object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkTestBase {
  lazy val spark: SparkSession = SparkTestBase.session

  /** Runs `body` with the fused kernels switched off for this session
    * (`spark.graft.fusedKernels=false`), so every kernel operator
    * takes its distributed loop. Dispatch happens when an operator
    * builds its DataFrame, so `body` only needs to cover that call.
    */
  def withLoop[A](body: => A): A = {
    spark.conf.set(graft.ops.Fused.switch, "false")
    try body finally spark.conf.unset(graft.ops.Fused.switch)
  }
}
