package graft.pipeline

import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit}

import scala.util.{Failure, Try}

/** Runs independent Spark actions as concurrent jobs, so the scheduler
  * overlaps their stages instead of idling the executors between one
  * action's last task and the next action's first.
  *
  * Each call makes its own fixed pool of daemon threads, one per
  * action, and shuts it down before returning. The threads are created
  * inside the call because Spark copies the caller's local properties
  * (job group, description, scheduler pool) into a thread only when the
  * thread is created: a pool made earlier would tag these jobs with
  * whatever the caller had set then.
  */
private[pipeline] object Concurrently {

  /** Run every action; wait for all of them, then return their results
    * in input order. If any failed, rethrow the first failure in input
    * order, with the later ones added as suppressed. */
  def run[A](actions: Seq[() => A]): Seq[A] = {
    val pool = Executors.newFixedThreadPool(actions.size, (r: Runnable) => {
      val t = new Thread(r, "graft-pipeline-action")
      t.setDaemon(true)
      t
    })
    try {
      val futures = actions.map(a => pool.submit(new Callable[A] { def call(): A = a() }))
      val outcomes = futures.map(f => Try(f.get()).recoverWith {
        case e: ExecutionException => Failure(e.getCause)
      })
      outcomes.collect { case Failure(e) => e } match {
        case first +: rest =>
          rest.filterNot(_ eq first).foreach(first.addSuppressed)
          throw first
        case _ => outcomes.map(_.get)
      }
    } finally {
      pool.shutdownNow()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
    }
  }
}
