package graft.core

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.{Duration, HOURS}
import scala.util.{Success, Try}
import scala.util.control.NonFatal

/** Driver-side fan-out for independent Spark actions (guide §2.6:
  * "overlap independent jobs" — Spark's scheduler runs several jobs at
  * once inside one application; actions are only sequential because
  * driver code calls them sequentially). Used by the query paths that
  * construct several independent eager frames or model fits (m6's 8
  * family×fold fits, m9's 3 learning-curve arms, mm10's per-modality
  * fingerprint materializations) and by `RunPipeline`: stage 1 builds
  * its per-output branches at once (nested: the Apple branch fans its
  * records out to three builders), stages 2-3 write their artifacts
  * beside the next stage's work, and stage 6 fits its four model
  * families at once.
  *
  * Why not `ExecutionContext.global` + `Await.result(Duration.Inf)`:
  * blocking indefinitely on the shared global pool is a latent hang —
  * if a fit ever wedges the caller waits forever, and nested uses of
  * the global pool can starve each other. Each call here gets its own
  * small DAEMON pool (it cannot pin the JVM open) that is torn down in
  * a finally, and the await is bounded: a wedged action surfaces as a
  * TimeoutException naming the phase instead of a silent hang. The
  * bound is deliberately generous (hours — these thunks take seconds
  * locally and minutes at cluster scale).
  *
  * Failure: when a thunk throws, its siblings are not interrupted; the
  * call waits (within the same bound) for them to finish, then rethrows
  * the first failure. Sibling results are discarded.
  *
  * Determinism: the thunks must be independent (no shared mutable
  * state); each one's Spark actions are unaffected by sibling jobs, so
  * results are bit-identical to running the same thunks sequentially.
  * Results return in input order regardless of completion order. */
object Concurrency {
  private val maxWait = Duration(6, HOURS)

  def inParallel[T](name: String, thunks: Seq[() => T]): Seq[T] = {
    if (thunks.lengthCompare(1) <= 0) return thunks.map(_())
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      thunks.size,
      (r: Runnable) => {
        val t = new Thread(r, s"graft-$name-${n.getAndIncrement()}")
        t.setDaemon(true)
        t
      })
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val futures = thunks.map(t => Future(t()))
    try Await.result(Future.sequence(futures), maxWait)
    catch {
      case e: java.util.concurrent.TimeoutException =>
        throw new IllegalStateException(
          s"Concurrency.inParallel('$name'): ${thunks.size} task(s) still " +
            s"running after $maxWait — a Spark action appears wedged", e)
      case NonFatal(e) =>
        // The first failure surfaces only once every started sibling has
        // finished: shutdownNow would interrupt them mid-action, and an
        // interrupted eager checkpoint can leave partial blocks behind.
        Try(Await.ready(Future.sequence(futures.map(_.transform(Success(_)))),
          maxWait))
        throw e
    } finally pool.shutdownNow()
  }
}
