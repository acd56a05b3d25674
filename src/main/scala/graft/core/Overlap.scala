package graft.core

import java.util.concurrent.{Callable, ExecutionException, Executors}

/** Fork-join for INDEPENDENT driver-side actions (the optimization
  * guide's §2.6): actions are only sequential because the driver calls
  * them sequentially, so submitting them together lets one job's task
  * tail back-fill with the others' tasks and overlaps their driver-side
  * plan and filesystem gaps.
  *
  * Contract, shared by every overlap in the engine:
  *   - a FRESH pool per call. Its threads are created by the calling
  *     thread, so they inherit its Spark local properties — the job
  *     group above all, which task cancellation relies on
  *     (`cancelJobGroup` must reach every overlapped job);
  *   - every thunk is awaited, even after one fails, so no sibling job
  *     outlives the call;
  *   - failures are rethrown in DECLARED order: the first-declared
  *     failing thunk's exception wins, the error the sequential order
  *     would have raised.
  *
  * Thread-local scopes ([[CacheScope]], [[Scratch]]) are NOT carried into
  * the thunks: a thunk must not `track`/`adopt`/`deleteOnExit`.
  */
object Overlap {

  /** Run `thunks` on one thread each; results in declared order. */
  def all[A](thunks: Seq[() => A]): Seq[A] = {
    val pool = Executors.newFixedThreadPool(math.max(1, thunks.size))
    try {
      val futures = thunks.map(t => pool.submit(new Callable[A] { def call(): A = t() }))
      val outcomes = futures.map { f =>
        try Right(f.get())
        catch { case e: ExecutionException => Left(e.getCause) }
      }
      outcomes.map {
        case Right(a) => a
        case Left(e) => throw e
      }
    } finally pool.shutdown()
  }

  def apply[A, B](fa: => A, fb: => B): (A, B) = {
    val r = all(Seq(() => fa, () => fb))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B])
  }

  def apply[A, B, C](fa: => A, fb: => B, fc: => C): (A, B, C) = {
    val r = all(Seq(() => fa, () => fb, () => fc))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B], r(2).asInstanceOf[C])
  }
}
