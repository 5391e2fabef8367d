package graft.util

import org.apache.spark.sql.SparkSession

/** Planner pinning for the continuous tier's per-batch actions.
  *
  * Every join in the maintained-state hot loop is explicitly broadcast
  * (LocalRelation or delta-sized build sides) and every per-batch aggregate
  * returns one row per (query, side) — there is nothing for adaptive
  * execution to improve, and its per-query-stage barriers serialize the
  * unioned count plan's branches and add a fixed driver round-trip per
  * stage (profiled at 40k-op batches on sf0.1: min action-sum 15.4s with
  * AQE on vs 5.8s off; the 126-node union plan builds ~50 query stages).
  * Batch application pins it OFF for the duration of one batch and
  * restores the caller's setting after.
  *
  * CONCURRENCY CONTRACT: the pin mutates session-global SQLConf, so it
  * assumes the session is driven by ONE thread while a batch is in flight —
  * an ad-hoc query planned concurrently in the same session during a batch
  * would lose AQE for that window, and a Limits.runWithTimeout cancellation
  * can leave the worker thread's deferred restore racing a subsequent pin.
  * The continuous tier's drivers (MultiQueryDriver, StreamGraph) are
  * single-threaded per session by construction, which is why the pin is a
  * conf flip and not a cloned session; callers that need concurrent ad-hoc
  * work during batches should hand the driver `spark.newSession()` (shared
  * context and state, independent SQLConf) instead.
  */
object BatchConf {

  private val Key = "spark.sql.adaptive.enabled"
  private val ExcludeKey = "spark.sql.optimizer.excludedRules"
  private val LocalFold =
    "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation"

  /** Run `f` with adaptive query execution disabled AND
    * ConvertToLocalRelation excluded, restoring the session's previous
    * settings afterwards. Reentrant-safe: nested calls re-pin the same
    * values.
    *
    * Why exclude ConvertToLocalRelation: the continuous tier's per-batch
    * plans embed |Δ|-sized LocalRelations (the collected delta's labeled
    * row slices), and every Project/Filter over one gets folded ON THE
    * DRIVER, single-threaded, with interpreted expressions, at every
    * optimization of every referencing plan — jstack samples during the
    * one-window sf0.1 bench put the driver inside
    * ConvertToLocalRelation/InterpretedMutableProjection for most of the
    * 3.6s 'applyDelta plans' phase. Excluded, those subtrees run as
    * LocalTableScan + codegen'd Filter inside the single count job, in
    * parallel, exactly once. */
  def withStaticPlan[T](spark: SparkSession)(f: => T): T = {
    val prev = spark.conf.get(Key, "true")
    val prevEx = spark.conf.get(ExcludeKey, "")
    spark.conf.set(Key, "false")
    spark.conf.set(ExcludeKey,
      if (prevEx.isEmpty) LocalFold
      else if (prevEx.contains(LocalFold)) prevEx
      else s"$prevEx,$LocalFold")
    try f finally {
      spark.conf.set(Key, prev)
      if (prevEx.isEmpty) spark.conf.unset(ExcludeKey)
      else spark.conf.set(ExcludeKey, prevEx)
    }
  }
}
