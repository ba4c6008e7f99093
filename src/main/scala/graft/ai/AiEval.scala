package graft.ai

import java.util.concurrent.{Callable, ExecutionException, Executors, Future, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.{ProjectExec, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graft.TaskContextBridge

/** The function of an AI UDF: the marker [[AiEvalStrategy]] plans by,
  * and the one entry [[AiEvalExec]] calls off the task thread with the
  * arguments already converted to Scala values.
  */
private[graft] trait AiCall extends Serializable {
  def call(args: Array[Any]): Any
}

private[ai] abstract class AiCall1[A, R] extends (A => R) with AiCall {
  final def call(args: Array[Any]): Any = apply(args(0).asInstanceOf[A])
}

private[ai] abstract class AiCall2[A, B, R] extends ((A, B) => R) with AiCall {
  final def call(args: Array[Any]): Any =
    apply(args(0).asInstanceOf[A], args(1).asInstanceOf[B])
}

/** Plans every `Project` holding AI UDFs as a `ProjectExec` over
  * [[AiEvalExec]]s, Spark's own shape for external UDFs
  * (`ExtractPythonUDFs` -> `BatchEvalPythonExec`). A nested call such
  * as `ai_extract(parse_document(content))` becomes one `AiEvalExec`
  * per level, so the inner call of a later row overlaps the outer call
  * of an earlier one. Only calls every row runs are moved: an AI UDF
  * under a conditional branch, the right side of AND/OR or a lambda
  * stays in the `ProjectExec`, which skips it where the row does.
  */
object AiEvalStrategy extends SparkStrategy {

  private def isAi(e: Expression): Boolean = e match {
    case u: ScalaUDF => u.function.isInstanceOf[AiCall]
    case _ => false
  }

  /** AI UDFs that every evaluation of `e` calls. */
  private def alwaysRun(e: Expression): Seq[ScalaUDF] = e match {
    case u: ScalaUDF if isAi(u) => u +: u.children.flatMap(alwaysRun)
    case c: ConditionalExpression => c.alwaysEvaluatedInputs.flatMap(alwaysRun)
    case And(l, _) => alwaysRun(l)
    case Or(l, _) => alwaysRun(l)
    case f: HigherOrderFunction => f.arguments.flatMap(alwaysRun)
    case other => other.children.flatMap(alwaysRun)
  }

  /** The calls whose inputs `available` already holds. */
  private def ready(exprs: Seq[Expression], available: Seq[Attribute]): Seq[ScalaUDF] = {
    val in = AttributeSet(available)
    exprs.flatMap(alwaysRun)
      .filter(u => !u.children.exists(_.exists(isAi)) && u.references.subsetOf(in))
      .distinctBy(_.canonicalized)
  }

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Project(projectList, child) if projectList.exists(alwaysRun(_).nonEmpty) =>
      // prune the child to what the projection reads, as a scan under
      // the Project would have been pruned
      val used = AttributeSet(projectList.flatMap(_.references))
      val input =
        if (child.output.forall(used.contains)) child
        else Project(child.output.filter(used.contains), child)
      var exprs: Seq[NamedExpression] = projectList
      var exec: SparkPlan = planLater(input)
      var calls = ready(exprs, exec.output)
      var n = 0
      while (calls.nonEmpty) {
        val attrs = calls.map { u =>
          n += 1
          AttributeReference(s"ai$n", u.dataType, u.nullable)()
        }
        val byCall = calls.map(_.canonicalized).zip(attrs).toMap
        exprs = exprs.map(_.transformDown {
          case u: ScalaUDF if byCall.contains(u.canonicalized) => byCall(u.canonicalized)
        }.asInstanceOf[NamedExpression])
        exec = AiEvalExec(calls, attrs, exec)
        calls = ready(exprs, exec.output)
      }
      ProjectExec(exprs, exec) :: Nil
    case _ => Nil
  }
}

/** Evaluates `calls` for every input row and appends their results as
  * `resultAttrs`, keeping up to [[AiEvalExec.MaxInFlight]] rows per
  * task in flight. Each call's inputs are computed on the task thread;
  * only the backend call runs on a shared daemon pool, with the task's
  * `TaskContext` set, so no expression evaluator is shared between
  * threads. Rows come out in input order. The window opens at one row
  * and grows by one per row emitted, so a consumer that stops after n
  * rows (a LIMIT) has started at most 2n - 1 rows' calls. In-flight
  * calls are cancelled when the task completes or is killed; the first
  * failed call fails the task with its exception when its row is due.
  */
case class AiEvalExec(calls: Seq[ScalaUDF], resultAttrs: Seq[Attribute], child: SparkPlan)
    extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output ++ resultAttrs
  override def producedAttributes: AttributeSet = AttributeSet(resultAttrs)
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override protected def doExecute(): RDD[InternalRow] = {
    val (calls, inputs, outputs) = (this.calls, child.output, output)
    child.execute().mapPartitionsWithIndex({ (part, rows) =>
      new AiEvalExec.Window(calls, inputs, outputs, part, rows)
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): AiEvalExec =
    copy(child = newChild)
}

object AiEvalExec {
  /** Rows per task whose calls may be in flight: the reference's batch
    * fan-out width, `min(8, max(2, cpus))` threads (BASELINE.md, app:881).
    */
  val MaxInFlight = 8

  private val threads = new AtomicInteger()
  private lazy val pool = Executors.newCachedThreadPool { (r: Runnable) =>
    val t = new Thread(r, s"graft-ai-eval-${threads.incrementAndGet()}")
    t.setDaemon(true)
    t
  }

  private final class Window(calls: Seq[ScalaUDF], inputs: Seq[Attribute],
                             outputs: Seq[Attribute], part: Int,
                             rows: Iterator[InternalRow]) extends Iterator[InternalRow] {
    private val tc = TaskContext.get()
    private val argExprs = calls.flatMap(_.children)
    private val args = MutableProjection.create(argExprs, inputs)
    args.initialize(part)
    private val argTypes = argExprs.map(_.dataType).toArray
    private val toScala = argTypes.map(CatalystTypeConverters.createToScalaConverter)
    private val toCatalyst =
      calls.map(u => CatalystTypeConverters.createToCatalystConverter(u.dataType)).toArray
    private val fns = calls.map(_.function.asInstanceOf[AiCall]).toArray
    private val arity = calls.map(_.children.size).toArray
    private val out = UnsafeProjection.create(outputs, outputs)
    private val joined = new JoinedRow
    private val results = new GenericInternalRow(fns.length)
    private val inFlight = new java.util.ArrayDeque[(InternalRow, Array[Future[Any]])]()
    private var emitted = 0L

    if (tc != null) tc.addTaskCompletionListener[Unit] { _ =>
      inFlight.forEach(_._2.foreach(_.cancel(true)))
      inFlight.clear()
    }

    private def start(row: InternalRow): (InternalRow, Array[Future[Any]]) = {
      val a = args(row)
      var k = 0
      val futures = Array.tabulate(fns.length) { i =>
        val xs = Array.tabulate[Any](arity(i)) { j =>
          toScala(k + j)(a.get(k + j, argTypes(k + j)))
        }
        k += arity(i)
        val fn = fns(i)
        pool.submit(new Callable[Any] {
          def call(): Any = TaskContextBridge.withTaskContext(tc)(fn.call(xs))
        })
      }
      (row.copy(), futures)
    }

    private def await(f: Future[Any]): Any = {
      var r: Option[Any] = None
      while (r.isEmpty) {
        try r = Some(f.get(100, TimeUnit.MILLISECONDS))
        catch {
          case _: TimeoutException => if (tc != null) TaskContextBridge.killIfInterrupted(tc)
          case e: ExecutionException => throw e.getCause
        }
      }
      r.get
    }

    override def hasNext: Boolean = !inFlight.isEmpty || rows.hasNext

    override def next(): InternalRow = {
      val window = math.min(MaxInFlight.toLong, emitted + 1)
      while (inFlight.size < window && rows.hasNext) inFlight.add(start(rows.next()))
      if (inFlight.isEmpty) throw new NoSuchElementException("next on an empty iterator")
      val (row, futures) = inFlight.poll()
      emitted += 1
      var i = 0
      while (i < futures.length) {
        results.update(i, toCatalyst(i)(await(futures(i))))
        i += 1
      }
      out(joined(row, results))
    }
  }
}
