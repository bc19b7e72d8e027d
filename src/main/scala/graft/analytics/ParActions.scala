package graft.analytics

/** Overlap independent Spark ACTIONS from driver threads (the guide's
  * §2.6 back-fill recipe): Spark's scheduler happily runs several jobs
  * at once inside one application — actions are only sequential
  * because driver code calls them sequentially. The entry chains
  * (st22's seed staging pair, a fold's bands/shingles checkpoints and
  * writes) issue pairs of small independent jobs whose tasks nowhere
  * near fill local[32]; running each pair concurrently hides one
  * job's scheduling + write latency behind the other's.
  *
  * Safety: every thunk must be INDEPENDENT (no thunk reads state
  * another writes) — results are then identical to any sequential
  * order. Threads are per-call and joined before return, so no pool
  * outlives its call site; the first failure is rethrown unwrapped.
  * Each thread works in the caller's [[Materialize]] scope.
  */
private[graft] object ParActions {
  def run[T](thunks: Seq[() => T]): Seq[T] = {
    if (thunks.sizeIs <= 1) return thunks.map(_())
    val results = new Array[Either[Throwable, T]](thunks.size)
    val scope = Materialize.scope
    val ts = thunks.zipWithIndex.map { case (f, i) =>
      val t = new Thread(() => {
        results(i) =
          try Right(Materialize.within(scope)(f()))
          catch { case e: Throwable => Left(e) }
      }, s"graft-par-$i")
      t.setDaemon(true)
      t.start()
      t
    }
    ts.foreach(_.join())
    results.toSeq.map {
      case Right(v) => v
      case Left(e)  => throw e
    }
  }

  /** Two-action convenience. */
  def both[A, B](a: () => A, b: () => B): (A, B) = {
    val rs = run(Seq(() => a(): Any, () => b(): Any))
    (rs(0).asInstanceOf[A], rs(1).asInstanceOf[B])
  }
}
