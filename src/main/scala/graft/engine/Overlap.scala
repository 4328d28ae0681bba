package graft.engine

/** Run independent driver-side steps at the same time — the engine's
  * one overlap primitive (an engine pass's target apply beside its
  * state writes, the nightly's key-index writer beside its band-index
  * flows, a search collection's two index flows). Spark's scheduler
  * interleaves jobs submitted from several driver threads, so the
  * executors one step's tail leaves idle back-fill with the other's
  * tasks, and the per-job scheduling floor is paid side by side
  * instead of end to end.
  *
  * The first branch runs on the calling thread; every other branch
  * gets a FRESH thread per call, never a pooled one, because a new
  * thread inherits a copy of the caller's Spark local properties (job
  * group, the nightly's phase tag, any tracing tag a caller set) — a
  * pooled thread would carry whatever an earlier call left on it.
  *
  * Every branch is joined before the call returns, failed or not: a
  * branch still writing after its caller moved on would race the
  * caller's next step over the same files. The first failure in input
  * order is rethrown, with every later one attached as suppressed. */
object Overlap {

  /** Run `branches` concurrently; their results in input order. */
  def all[T](branches: Seq[() => T]): Seq[T] = {
    val outcomes = new Array[Either[Throwable, T]](branches.size)
    def attempt(i: Int): Unit =
      outcomes(i) =
        try Right(branches(i)())
        catch { case e: Throwable => Left(e) }
    val threads = branches.indices.drop(1).map { i =>
      val t = new Thread(() => attempt(i), s"graft-overlap-$i")
      t.setDaemon(true)
      t.start()
      t
    }
    if (branches.nonEmpty) attempt(0)
    threads.foreach(_.join())
    outcomes.collect { case Left(e) => e }.toList match {
      case Nil => outcomes.toSeq.map(_.toOption.get)
      case first :: rest =>
        rest.filterNot(_ eq first).foreach(first.addSuppressed)
        throw first
    }
  }

  /** Two branches of different result types. */
  def both[A, B](a: => A, b: => B): (A, B) = {
    val Seq(ra, rb) = all[Any](Seq(() => a, () => b))
    (ra.asInstanceOf[A], rb.asInstanceOf[B])
  }
}
