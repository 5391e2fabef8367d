package graft.util

import java.util.concurrent.{ExecutionException, ExecutorCompletionService, Executors, TimeUnit, TimeoutException}

import org.apache.spark.sql.SparkSession

/** Execution guards — the reference's execute_with_time_limit
  * (ParaCOSM/CSM/utils/utils.h:19-36: run matching in a std::async future,
  * poll, set an atomic `reach_time_limit` that every search loop checks) and
  * max_num_results_ truncation (graphflow.cpp:302,328).
  *
  * Spark-native shape: the result limit is `.limit(k)` on the enumeration
  * (GraphMatcher.findMatches maxResults — Catalyst plans a partial-limit
  * per partition, so workers stop early, the analogue of the reference's
  * per-loop counter check). The TIME limit is a job group + a watchdog that
  * calls cancelJobGroup — Spark's cooperative cancellation interrupts
  * running tasks the way the atomic flag interrupts search loops. Combined
  * with StateStore's committed snapshots, a timed-out iterative job resumes
  * from `latestCompleted` (north rule resumability).
  */
object Limits {

  /** Run `body` (driver code that launches Spark jobs on `spark`) under a
    * wall-clock limit. Returns Some(result), or None if the limit fired —
    * in which case every job in the group has been cancelled. */
  def runWithTimeout[T](spark: SparkSession, groupId: String, timeoutMs: Long)
                       (body: => T): Option[T] = {
    val pool = Executors.newSingleThreadExecutor(r => {
      val t = new Thread(r, s"graft-limit-$groupId"); t.setDaemon(true); t
    })
    val fut = pool.submit(new java.util.concurrent.Callable[T] {
      override def call(): T = {
        // interruptOnCancel=true → tasks get Thread.interrupt, like the
        // reference's reach_time_limit checks inside every search loop
        spark.sparkContext.setJobGroup(groupId, s"limited:$groupId", interruptOnCancel = true)
        try body finally spark.sparkContext.clearJobGroup()
      }
    })
    try Some(fut.get(timeoutMs, TimeUnit.MILLISECONDS))
    catch {
      case _: TimeoutException =>
        spark.sparkContext.cancelJobGroup(groupId)
        fut.cancel(true)
        None
    } finally pool.shutdown()
  }

  /** Run `bodies` (driver code that launches Spark jobs on `spark`)
    * concurrently under one fresh job group and return their results in
    * order. On the first failure — or an interrupt of the calling thread,
    * e.g. from runWithTimeout — every job of the group, running or not yet
    * submitted, is cancelled, the other bodies are awaited, and the first
    * failure is rethrown: no job outlives the call. */
  def all[T](spark: SparkSession, groupId: String)(bodies: (() => T)*): Seq[T] = {
    val sc = spark.sparkContext
    val group = s"$groupId-${java.util.UUID.randomUUID()}"
    val pool = Executors.newFixedThreadPool(bodies.size, r => {
      val t = new Thread(r, s"graft-all-$groupId"); t.setDaemon(true); t
    })
    val done = new ExecutorCompletionService[T](pool)
    val futures = bodies.map(body => done.submit(() => {
      sc.setJobGroup(group, groupId, interruptOnCancel = true)
      try body() finally sc.clearJobGroup()
    }))
    try {
      bodies.foreach(_ => done.take().get())
      futures.map(_.get())
    } catch {
      case e: Throwable =>
        sc.cancelJobGroupAndFutureJobs(group)
        val interrupted = Thread.interrupted()
        futures.foreach(f => try f.get() catch { case _: Throwable => () })
        if (interrupted) Thread.currentThread().interrupt()
        throw (e match {
          case ee: ExecutionException if ee.getCause != null => ee.getCause
          case other => other
        })
    } finally pool.shutdown()
  }
}
