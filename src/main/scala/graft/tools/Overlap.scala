package graft.tools

/** Run independent Spark work items from a small thread pool (guide
  * §2.6: overlap independent jobs — Spark's scheduler runs concurrent
  * actions fine, and driver-side gaps of one leg hide behind the
  * other's jobs). 2-3 legs in flight is the sweet spot: enough to
  * fill the gaps, not a fight for cores. Failures rethrow to the
  * caller (first one). */
object Overlap {
  def concurrently[T](thunks: (() => T)*): Seq[T] = {
    if (thunks.sizeIs <= 1) return thunks.map(_())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(3, thunks.size))
    try {
      import scala.jdk.CollectionConverters._
      val done = pool.invokeAll(
        thunks.map(t => new java.util.concurrent.Callable[T] {
          override def call(): T = t()
        }).asJava)
      done.asScala.map(_.get()).toSeq // rethrows the first failure
    } catch {
      case e: java.util.concurrent.ExecutionException =>
        throw e.getCause
    } finally pool.shutdown()
  }

  /** Two legs of different result types, overlapped like
    * [[concurrently]]. */
  def concurrently2[A, B](a: () => A, b: () => B): (A, B) = {
    val Seq(x, y) = concurrently[Any](a, b)
    (x.asInstanceOf[A], y.asInstanceOf[B])
  }

  /** Three legs of different result types, overlapped like
    * [[concurrently]]. */
  def concurrently3[A, B, C](a: () => A, b: () => B, c: () => C)
      : (A, B, C) = {
    val Seq(x, y, z) = concurrently[Any](a, b, c)
    (x.asInstanceOf[A], y.asInstanceOf[B], z.asInstanceOf[C])
  }
}
