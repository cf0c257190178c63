package graft.core

import java.util.concurrent.Executors

import scala.concurrent.{ExecutionContext, Future}

/** Bounded fan-out, the engine's one idiom for `batchDistribution`
  * concurrency (loads, DDL rounds, DVT validations; the reference's
  * `max_active_tis_per_dag`): `f` over `items` on a fixed pool of
  * `min(n, items.size)` threads. The future holds the results in `items`
  * order, or fails if a call of `f` throws. The caller awaits it, so a
  * stack sample of the waiting thread names the caller's module. */
object Bounded {
  def map[A, B](items: Seq[A], n: Int)(f: A => B): Future[Seq[B]] = {
    val pool = Executors.newFixedThreadPool(math.max(1, math.min(n, items.size)))
    val onPool = ExecutionContext.fromExecutor(pool)
    // shutdown still runs every submitted item; the ordered join runs on
    // whichever thread finishes last, so it needs no pool thread
    try Future.sequence(items.map(a => Future(f(a))(onPool)))(implicitly, ExecutionContext.parasitic)
    finally pool.shutdown()
  }
}
