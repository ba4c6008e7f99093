package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

import graft.engine.StoreSwap

/** One shared local session for the whole forked test JVM, built with
  * [[GraftExtensions]] like the sessions of Bench, Verify and docbench.
  */
object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Every dir [[SparkTestBase.tempDir]] handed out, deleted again at
    * JVM exit: the shared SparkContext keeps a checkpoint dir a suite
    * set, and a later suite's reliable checkpoint recreates it.
    */
  private val issued = new ConcurrentLinkedQueue[Path]()
  sys.addShutdownHook(issued.forEach(d => StoreSwap.deleteTree(d)))

  private def issue(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    issued.add(dir)
    dir
  }
}

/** The shared session (built on first use) and the suite's temp dirs. */
trait SparkTestBase extends BeforeAndAfterAll { this: Suite =>
  lazy val spark: SparkSession = SparkTestBase.session

  private val tempDirs = new ConcurrentLinkedQueue[Path]()

  /** A fresh dir under the system temp dir, named `prefix` plus a
    * random suffix, deleted with everything in it after the suite.
    */
  def tempDir(prefix: String): Path = {
    val dir = SparkTestBase.issue(prefix)
    tempDirs.add(dir)
    dir
  }

  override protected def afterAll(): Unit =
    try super.afterAll() finally tempDirs.forEach(d => StoreSwap.deleteTree(d))

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
