package graft.util

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Try}

/** Run INDEPENDENT Spark actions from driver threads so the scheduler
  * overlaps their jobs (optimization guide §2.6): actions are only
  * sequential because driver code calls them sequentially. Two
  * component writes of one composite-index build (separate MergeTable
  * directories, no data dependency) are the canonical case — the
  * second write's tasks back-fill the executor slots the first's task
  * tail leaves idle, and its driver-side planning/footer/manifest IO
  * overlaps the first's running job instead of extending the wall.
  *
  * FIFO scheduling (the default) gives the earlier-submitted job its
  * resources first — exactly the back-fill behaviour wanted here.
  *
  * Failure: EVERY branch is joined before anything propagates — the
  * first failure (in argument order) then rethrows its cause. Joining
  * first matters more than failing fast here: callers free the
  * localCheckpoint'd inputs in their `finally` blocks, and a sibling
  * still in flight when that free runs would see its blocks vanish
  * mid-scan (lineage is truncated — no recompute), or worse, commit to
  * a live component table while the caller is already retrying —
  * a second concurrent writer against a single-writer table. A failed
  * sibling's own partial output is unpublished (MergeTable batch dirs
  * / composite staging), so it is vacuum-reclaimable, never visible.
  */
object Par {
  // DEDICATED bounded pool, not ExecutionContext.global: every branch
  // here BLOCKS in a Spark action (collect/commit/write), and the
  // global pool's parallelism is sized to CPU count on the assumption
  // of non-blocking work — a composite build landing inside a Par
  // branch (nested Par, or a future caller fanning wider) could park
  // every global thread in Await and starve unrelated library users
  // of the same process-wide pool. Three threads is the guide §2.6
  // sizing ("2-3 jobs in flight is plenty"): enough to back-fill a
  // task tail, not enough to make concurrent jobs fight for executor
  // slots. Daemon + named so the pool never blocks JVM exit and shows
  // up legibly in driver thread dumps. Submission order is FIFO per
  // call site (both/three submit in argument order), preserving the
  // earlier-job-first back-fill behaviour.
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(
    3,
    new java.util.concurrent.ThreadFactory {
      private val n = new java.util.concurrent.atomic.AtomicInteger(0)
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"graft-par-${n.getAndIncrement()}")
        t.setDaemon(true)
        t
      }
    })
  private implicit val ec: ExecutionContext =
    ExecutionContext.fromExecutorService(pool)

  // A call made FROM a pool thread (a branch that itself calls both/
  // three) runs its branches inline, in argument order: submitting
  // them would queue behind the very threads that park awaiting them,
  // and a `three` whose branches each nest a `both` parks all three
  // threads forever. Inline keeps the join-all-then-fail contract.
  private def onPool: Boolean =
    Thread.currentThread.getName.startsWith("graft-par-")

  private def joinAll(branches: Seq[() => Any]): Seq[Any] = {
    // run or await every branch (never throws here) ...
    val results =
      if (onPool) branches.map(b => Try(b()))
      else branches.map(b => Future(b()))
        .map(f => Await.ready(f, Duration.Inf).value.get)
    // ... THEN surface the first failure, after all siblings settled
    results.collectFirst { case Failure(e) => throw e }
    results.map(_.get)
  }

  def both[A, B](a: => A, b: => B): (A, B) = {
    val r = joinAll(Seq(() => a, () => b))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B])
  }

  def three[A, B, C](a: => A, b: => B, c: => C): (A, B, C) = {
    val r = joinAll(Seq(() => a, () => b, () => c))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B], r(2).asInstanceOf[C])
  }
}
