package graft

/** Driver-side job overlap (optimization guide §2.6): Spark happily
  * runs several jobs at once inside one application — actions are
  * only sequential because driver code calls them sequentially.
  * Pipelines that run a handful of INDEPENDENT bounded actions
  * (per-table writes, key collects, read-back counts) submit them
  * from a small pool so the next job's tasks back-fill executors
  * freed by the current job's tail; at local bench scale this
  * collapses the per-job scheduling floor, at cluster scale it fills
  * stragglers' idle capacity. FIFO scheduling (the default) gives
  * exactly the back-fill behaviour. */
private[graft] object Threads {
  /** Run the thunks on up to `width` threads, return results in
    * order. The first thunk to fail (in completion order) cancels the
    * rest — thunks not yet started are dropped, running ones are
    * interrupted — and its own exception is rethrown, so a caller that
    * has already failed leaves no sink write running behind it. */
  def inParallel[T](work: Seq[() => T], width: Int = 4): Seq[T] = {
    if (work.size <= 1) work.map(_())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(width, work.size))
      val done = new java.util.concurrent.ExecutorCompletionService[T](pool)
      try {
        val futs = work.map(w => done.submit(
          new java.util.concurrent.Callable[T] { def call(): T = w() }))
        work.foreach { _ =>
          try done.take().get()
          catch {
            case e: java.util.concurrent.ExecutionException
                if e.getCause != null => throw e.getCause
          }
        }
        futs.map(_.get())
      } finally pool.shutdownNow()
    }
  }
}
