package graft.operators

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.Try

/**
 * Overlap INDEPENDENT eager blocks (spark_optimization_guide §2.6,
 * "Overlap independent jobs"): Spark's scheduler happily runs several
 * jobs at once inside one application — actions are only sequential
 * because driver code calls them sequentially. The verdict gates chain
 * dozens of small actions whose driver-side planning gaps leave every
 * executor idle (the r18/r19 profiles measured 30–40% of codestore-gate
 * wall BETWEEN jobs, and the driver's 8-vs-32-core scaling block shows
 * the gates gain nothing from cores); starting independent chains
 * concurrently backs one chain's planning onto another's execution — and
 * on a cluster additionally back-fills the tail of one job's stragglers
 * with the next job's tasks (the guide's stated reason). FIFO scheduling
 * keeps the first chain's resource priority; 2–3 blocks in flight is the
 * guide's recommended depth.
 *
 * Semantics are untouched: each block is the same code as the sequential
 * form, every block is awaited before returning, and a failure in ANY
 * block rethrows (first-listed block's failure wins when several fail).
 * Blocks must be INDEPENDENT — no block may depend on another's side
 * effects (store writes, catalog mutations) or ordering.
 */
private[graft] object Par {
  // daemon threads: a wedged block must never pin the JVM open; cached
  // pool, so idle gates hold zero threads
  private lazy val ec: ExecutionContext =
    ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newCachedThreadPool { r =>
        val t = new Thread(r, "graft-par")
        t.setDaemon(true)
        t
      })

  /** Run every block concurrently, await ALL (even on failure — a block
    * must never outlive the call and race its caller's next store
    * mutation), rethrow the first failure in declaration order. Each block
    * runs under the caller's Spark local properties (job group,
    * description, scheduler pool): a pool thread inherits them only when
    * it is created, so a reused thread would keep another caller's. */
  private def all[T](blocks: Seq[() => T]): Seq[T] = {
    import org.apache.spark.GraftLocalProperties.{capture, install}
    val caller = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(s => (s.sparkContext, capture(s.sparkContext)))
    val futures = blocks.map(b => Future {
      caller.foreach { case (sc, props) => install(sc, props) }
      Try(b())
    }(ec))
    val results = futures.map(Await.result(_, Duration.Inf))
    results.map(_.get)
  }

  def par2[A, B](a: => A, b: => B): (A, B) = {
    val r = all(Seq(() => a, () => b))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B])
  }

  def par3[A, B, C](a: => A, b: => B, c: => C): (A, B, C) = {
    val r = all(Seq(() => a, () => b, () => c))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B], r(2).asInstanceOf[C])
  }

  def par4[A, B, C, D](a: => A, b: => B, c: => C, d: => D): (A, B, C, D) = {
    val r = all(Seq(() => a, () => b, () => c, () => d))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B], r(2).asInstanceOf[C],
      r(3).asInstanceOf[D])
  }

}
