package graft.operators

import java.util.concurrent.{Callable, ExecutionException, ExecutorService, Executors, TimeUnit}

/** Independent driver-side work run side by side (overlap independent
  * jobs): a chain of small jobs leaves the executors idle through its
  * driver round-trips, and Spark runs concurrently submitted jobs FIFO,
  * so one chain's gaps back-fill another's. What each piece computes is
  * unchanged; only the submission timing is.
  *
  * `Concurrently { fork => ... }` creates a pool for this call only. Its
  * threads are created by the calling thread, so they inherit its
  * SparkContext local properties (job tags, job groups) and its active
  * session. `fork(body)` starts `body` on the pool and returns a join:
  * calling it waits for `body` and returns its result, or throws its own
  * exception (not the `ExecutionException` wrapper). The call returns
  * only after every forked body has finished, also when it throws, so no
  * job outlives it; the pool always shuts down.
  */
private[graft] object Concurrently {

  final class Forks private[Concurrently] (pool: ExecutorService) {
    def apply[T](body: => T): () => T = {
      val f = pool.submit(new Callable[T] { override def call(): T = body })
      () =>
        try f.get()
        catch { case e: ExecutionException => throw e.getCause }
    }
  }

  def apply[T](body: Forks => T): T = {
    val pool = Executors.newCachedThreadPool()
    try body(new Forks(pool))
    finally {
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
    }
  }
}
