package graft.core

/** Two independent Spark actions as two concurrent jobs: on a small
  * input one job's straggler tail leaves most cores idle, and the
  * other job fills them. */
object Concurrent {

  /** Run `a` on a new thread and `b` on this one, join both, then
    * rethrow the first failure. Both always run to completion, so no
    * half-finished job outlives the call. The thread inherits this
    * thread's Spark local properties (job attribution). */
  def both(a: => Unit, b: => Unit): Unit = {
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    def run(f: => Unit): Unit =
      try f catch { case t: Throwable => failure.compareAndSet(null, t) }
    val other = new Thread(() => run(a))
    other.start()
    run(b)
    other.join()
    if (failure.get != null) throw failure.get
  }
}
