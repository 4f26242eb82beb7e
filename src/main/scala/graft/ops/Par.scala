package graft.ops

/** Concurrent INDEPENDENT Spark actions from driver threads — the
  * optimization guide's §2.6 "overlap independent jobs" recipe, scoped
  * to multi-leg operators (recall sweeps, per-band model fits) whose
  * legs are separate actions with no data dependency.
  *
  * Why this is safe and result-identical: Spark's scheduler runs
  * concurrently submitted jobs FIFO, each leg computes exactly the
  * frame it would compute sequentially (the legs share nothing but
  * OpCache holders — frames and memos — whose single-flight build is
  * monitor-serialized), and
  * the caller receives results in INPUT order — so the operator's
  * output is bit-identical to the sequential composition, only the
  * idle tail of each leg's stages is back-filled by the next leg's
  * tasks. At cluster scale the same overlap fills executors freed by a
  * leg's straggler tail; the pool is bounded so at most [[MaxLegs]]
  * jobs compete.
  *
  * Caller contract: a persisted frame the legs share is still lazy
  * until an action runs, so materialize it before forking (as
  * `Embeddings.pqCodebooks` does); otherwise every leg's first job
  * schedules the same input stage.
  */
private[ops] object Par {
  private val MaxLegs = 4

  /** Map `f` over `xs` with up to [[MaxLegs]] legs in flight; results
    * in input order; first failure rethrows after the pool drains. */
  def map[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    if (xs.lengthCompare(1) <= 0) return xs.map(f)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(MaxLegs, xs.length))
    try {
      val futures = xs.map(x => pool.submit(
        new java.util.concurrent.Callable[B] { def call(): B = f(x) }))
      futures.map { fu =>
        try fu.get()
        catch { // unwrap so callers see the leg's own exception type
          case e: java.util.concurrent.ExecutionException =>
            throw e.getCause
        }
      }
    } finally pool.shutdown()
  }
}
