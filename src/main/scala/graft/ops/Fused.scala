package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** The one dispatch gate for the fused single-task kernels (the
  * PageRank trio, HITS, BFS, k-core, label propagation, triangles /
  * clustering coefficient, the PCA fit and the IVF Lloyd build): below
  * a per-operator row bound the whole fixed-iteration recurrence runs
  * as ONE `coalesce(1).mapPartitions` task, above it the distributed
  * loop runs unchanged. Each kernel replays its loop's exact
  * recurrence (GraphKernelSpec, IvfSpec and PcaSpec pin kernel ==
  * loop).
  */
private[graft] object Fused {

  /** Session switch: `false` sends every operator of THIS session to
    * its distributed loop (tests forcing the loop, same-JVM A/Bs);
    * other sessions sharing the JVM keep dispatching.
    */
  val switch = "spark.graft.fusedKernels"

  /** True when every `idCols` column of `df` is integral (the kernels
    * intern node/row ids as longs — string or decimal ids stay on the
    * loop), the session has not turned [[switch]] off, and
    * `0 < rows <= bound` (an empty input keeps the loop's driver-side
    * errors). `rows` is evaluated last, so a site whose count is a job
    * pays it only when the kernel could run.
    */
  def small(df: DataFrame, idCols: Seq[String], bound: Long)(rows: => Long): Boolean =
    idCols.forall(c => df.schema(c).dataType match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    }) && df.sparkSession.conf.get(switch, "true").toBoolean && {
      val n = rows
      n > 0 && n <= bound
    }
}
