package graft.ops

/** Run INDEPENDENT driver-side actions concurrently — the optimization
  * guide's §2.6 "overlap independent jobs": Spark happily runs several
  * jobs at once inside one application, and actions are only sequential
  * because driver code calls them sequentially. Submitting independent
  * pipelines (e.g. the campaign composites' three per-family builds,
  * which touch disjoint persisted roots) from separate threads lets the
  * next pipeline's tasks back-fill executor cores freed by the current
  * one's straggler tail, instead of leaving the machine idle.
  *
  * Thunks must not depend on one another's side effects. A thunk that
  * writes under an index root captures its caller's [[Stage.Lease]] (the
  * text fold's concurrent publishes): the lease is a value, so the pool
  * thread's flips are fenced against the caller's root lease.
  *
  * The first failing thunk's exception propagates (unwrapped); remaining
  * threads are interrupted best-effort, matching the sequential form's
  * fail-fast semantics (a partially built composite state fails the
  * query either way).
  */
object Par {
  def run(thunks: (() => Unit)*): Unit = {
    if (thunks.sizeIs <= 1) { thunks.foreach(_.apply()); return }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(thunks.size)
    try {
      val futs = thunks.map { t =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = t()
        })
      }
      futs.foreach { f =>
        try f.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            throw e.getCause
        }
      }
    } finally pool.shutdownNow()
  }
}
