package graft.ai

/** Driver-side retry around an action (AI4, app:463-474): the
  * reference retries classification 5 x 0.5 s against an eventually-
  * consistent stage directory. Unnecessary on a local filesystem but
  * kept for parity with remote backends behind the DocAiBackend seam.
  */
object Retry {
  /** `retryIf`: predicate gating which failures are retried — a
    * PERMANENT error (4xx protocol failure, bad request shape) should
    * escape immediately rather than burn attempts × delay on a result
    * that cannot change. Default retries everything (the original
    * eventually-consistent-stage behavior). `delayOf`: the wait a
    * failure asks for (a server's `Retry-After`), else `delayMs`.
    */
  def withRetry[A](attempts: Int = 5, delayMs: Long = 500,
                   retryIf: Throwable => Boolean = _ => true,
                   delayOf: Throwable => Option[Long] = _ => None)(f: => A): A = {
    var last: Throwable = null
    var i = 0
    while (i < attempts) {
      try return f
      catch {
        // an interrupt is a cancellation signal (executor being killed,
        // task aborted), not a transient failure: restore the thread's
        // interrupt status and escape immediately — retrying would
        // swallow the kill and burn attempts x delay on a dying thread
        case e: InterruptedException =>
          Thread.currentThread().interrupt()
          throw e
        case e: Exception =>
          if (!retryIf(e)) throw e
          last = e
          i += 1
          if (i < attempts) Thread.sleep(delayOf(e).getOrElse(delayMs))
      }
    }
    throw last
  }
}
