package graft

import java.util.concurrent.{Callable, ExecutionException, Executors}

import org.apache.spark.sql.SparkSession

/** Runs independent Spark actions concurrently on one bounded
  * pool, so a flow of many tiny jobs (sink writes, footer inference) keeps
  * every task slot busy instead of paying scheduling latency job after
  * job from a single thread.
  *
  *  - The pool holds `min(#tasks, defaultParallelism)` threads: beyond one
  *    in-flight job per task slot, extra concurrency only queues tasks in
  *    the scheduler and multiplies the memory held by live plans.
  *  - The pool is created per call and shut down before returning. Its
  *    threads are created on the caller's thread, so they inherit the
  *    caller's Spark local properties (job group, description, active
  *    session) as they are now; a long-lived pool would carry stale ones.
  *    They are non-daemon, which is why the pool never outlives the call.
  *  - Every task is awaited, even after one fails, so nothing it started
  *    is still running when the call returns or throws. The first error
  *    in submission order is rethrown; the others ride along as
  *    suppressed exceptions.
  *
  * Results come back in submission order, which is also the start order. */
private[graft] object FanOut {
  def apply[T](spark: SparkSession, tasks: Seq[() => T]): Seq[T] = {
    if (tasks.isEmpty) return Nil
    val pool = Executors.newFixedThreadPool(
      math.min(tasks.size, spark.sparkContext.defaultParallelism))
    try {
      val futures = tasks.map(t => pool.submit(new Callable[T] { def call(): T = t() }))
      val outcomes = futures.map { f =>
        try Right(f.get()) catch { case e: ExecutionException => Left(e.getCause) }
      }
      outcomes.collect { case Left(e) => e } match {
        case first +: rest =>
          rest.filter(_ ne first).foreach(first.addSuppressed)
          throw first
        case _ => outcomes.collect { case Right(v) => v }
      }
    } finally pool.shutdown()
  }
}
