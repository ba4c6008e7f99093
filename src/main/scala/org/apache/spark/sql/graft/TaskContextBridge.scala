package org.apache.spark.sql.graft

import org.apache.spark.TaskContext

/** `TaskContext.withTaskContext` and `killTaskIfInterrupted` are
  * private[spark]; this re-exports them so work a task hands to another
  * thread sees the task's context (local properties, partition id),
  * as `PythonRunner`'s writer thread does, and a task blocked on that
  * work still honours a kill (the [[ColumnBridge]] pattern).
  */
object TaskContextBridge {
  def withTaskContext[A](tc: TaskContext)(body: => A): A =
    TaskContext.withTaskContext(tc)(body)

  def killIfInterrupted(tc: TaskContext): Unit = tc.killTaskIfInterrupted()
}
