package graft

import java.util.concurrent.{Callable, ConcurrentLinkedQueue, Executors}

/** The one way graft overlaps independent Spark jobs from the driver. */
object Exec {

  /** Run `thunks` on a bounded pool of `n` threads and return their
    * results in order. The pool is new on each call, so its threads are
    * created by the caller and inherit its Spark local properties (job
    * group, description, scheduler pool). Every thunk settles before
    * anything propagates — no job may keep writing after control returns
    * to the caller — and then the first failure (in time) is rethrown
    * with the later ones attached as suppressed exceptions. */
  def overlap[T](n: Int)(thunks: Seq[() => T]): Seq[T] = {
    val failures = new ConcurrentLinkedQueue[Throwable]()
    val pool = Executors.newFixedThreadPool(
      math.max(1, math.min(n, thunks.size)))
    try {
      val jobs = thunks.map(t => pool.submit(new Callable[Option[T]] {
        override def call(): Option[T] =
          try Some(t()) catch { case e: Throwable => failures.add(e); None }
      }))
      val results = jobs.map(_.get())
      Option(failures.poll()).foreach { first =>
        failures.forEach(e => if (e ne first) first.addSuppressed(e))
        throw first
      }
      results.map(_.get)
    } finally pool.shutdown()
  }
}
