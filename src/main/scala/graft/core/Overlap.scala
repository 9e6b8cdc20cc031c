package graft.core

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Try}

/** Independent Spark-driving legs on driver threads (guide §2.6
  * "overlap independent jobs"): the scheduler interleaves the legs'
  * jobs, so one leg's stage tails back-fill another's idle cores.
  * Results are deterministic — each leg's plan is unchanged; only job
  * SUBMISSION overlaps. One spelling for the catalog entries' paired
  * pipelines, the partitioned-state writes, and the engine's per-table
  * commit and per-reducer output legs.
  *
  * Each leg runs on a FRESH daemon thread. Spark keeps its local
  * properties (job group, job tags, SQL execution id, scheduler pool)
  * in an InheritableThreadLocal that is cloned from the creating thread
  * when a thread starts — a pooled thread keeps whichever caller
  * created it and stamps later callers' jobs with that stale identity.
  * A thread started by the submitting caller carries exactly the
  * caller's properties (and active session) for the leg's lifetime, so
  * every job is attributed to the caller that caused it; there is
  * nothing to restore because the thread ends with the leg. Fresh
  * threads also cannot starve: nested calls block their own submitter
  * in Await, never a bounded pool.
  *
  * Every leg is awaited even when one fails, so a failing leg never
  * leaves a sibling's Spark jobs running past the caller's boundary;
  * the first failure is rethrown with the others attached as
  * suppressed.
  */
object Overlap {

  private val freshThread: ExecutionContext = ExecutionContext.fromExecutor {
    (r: Runnable) =>
      val t = new Thread(r, "graft-driver-overlap")
      t.setDaemon(true)
      t.start()
  }

  /** Run every leg concurrently; results in leg order. */
  def all[A](legs: Seq[() => A]): Seq[A] = {
    val futures = legs.map(leg => Future(leg())(freshThread))
    val results = futures.map(f => Try(Await.result(f, Duration.Inf)))
    results.collect { case Failure(e) => e } match {
      case Seq() => results.map(_.get)
      case first +: rest =>
        rest.filter(_ ne first).foreach(first.addSuppressed)
        throw first
    }
  }

  /** The two-leg form. */
  def inParallel[A, B](fa: => A, fb: => B): (A, B) = {
    val Seq(a, b) = all(Seq[() => Any](() => fa, () => fb))
    (a.asInstanceOf[A], b.asInstanceOf[B])
  }
}
