package graft.plans

/** Run independent driver-side thunks from a small fixed pool — guide
  * §2.6: Spark happily runs several jobs at once inside one
  * application; actions are only sequential because the driver calls
  * them sequentially. Used where a build/report fans out into
  * independent actions over shared (cached) inputs: the values are
  * untouched, only the schedule changes, and later jobs back-fill
  * executor capacity freed by earlier jobs' stragglers.
  *
  * Blocks until EVERY thunk has finished, failed ones included, so a
  * caller's cleanup never races a sibling job still filling what it
  * releases. Then the first failure in input order rethrows unwrapped,
  * with the later ones attached as suppressed. Results keep input
  * order. Pool threads start inside the call, so they inherit the
  * caller's Spark local properties (job group, description) and active
  * session.
  */
object Par {
  def run[T](thunks: Seq[() => T], parallelism: Int = 4): Seq[T] = {
    if (thunks.isEmpty) return Seq.empty
    if (thunks.size == 1) return Seq(thunks.head())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(parallelism, thunks.size)))
    try {
      val futs = thunks.map(f => pool.submit(
        new java.util.concurrent.Callable[T] { def call(): T = f() }))
      val done = futs.map(fu =>
        try Right(fu.get())
        catch { case e: java.util.concurrent.ExecutionException =>
          Left(e.getCause) })
      done.collect { case Left(e) => e } match {
        case first +: rest =>
          rest.filterNot(_ eq first).foreach(first.addSuppressed)
          throw first
        case _ => done.collect { case Right(v) => v }
      }
    } finally pool.shutdown()
  }
}
