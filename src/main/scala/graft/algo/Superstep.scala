package graft.algo

import org.apache.spark.sql.{Column, DataFrame, GraftSqlShims, Row, SparkSession}

import graft.state.StateStore

/** The one superstep loop of the Dataset algorithms — Pregelix's iteration
  * operator (VLDB 2014) over (edges, vertex-state) tables. An algorithm
  * supplies its `step` plan (message, combine, apply) and its halt rule;
  * the driver owns the rest:
  *  - ONE SQL execution per superstep: the caller's aggregate columns are
  *    observed at the root of the step's plan (`Dataset.observe`) and the
  *    plan is checkpointed eagerly, so the convergence row is accumulated
  *    in the checkpoint's own result stage — the state is computed once
  *    and never re-scanned for convergence. Like Pregelix's per-superstep
  *    statistics, they come out of the superstep's dataflow, not a second
  *    pass over its result. The observation must stay at the root: result
  *    tasks apply their accumulator updates once per partition, map tasks
  *    below an exchange may apply them again on a stage retry;
  *  - the checkpoint (GraftSqlShims.checkpoint) keeps the step's final
  *    hash partitioning and caps its carried size estimate, so state chains
  *    may join the state with itself without the estimate multiplying
  *    every superstep;
  *  - SuperstepMetrics, read from the observed row's `rows`, `l1`, `linf`
  *    and `changed` fields (absent or null fields are 0, as on a step that
  *    returns no rows);
  *  - the optional StateStore commit, a side write of `commit(chk)`;
  *  - releasing each state's checkpoint, the caller's `init` included,
  *    once its successor is materialized (GraftSqlShims.release).
  * The loop continues from the checkpoint itself, with a store too. The
  * checkpoint leaf reports the hash partitioning the step left the state
  * in when it is an exchange's own layout (not an AQE-coalesced one), so
  * the next step joins a state partitioned like its edge table in place —
  * Pregelix's once-partitioned vertex state; otherwise the next step
  * re-exchanges it, as a snapshot `load` would. Persisting the state
  * instead made AQE spend extra jobs materializing the cache and measured
  * slower for every algorithm.
  */
object Superstep {

  private val Observed = "superstep"

  /** Iterate from `init` (materialized) while fewer than `maxIter`
    * supersteps have run (counting from `startIter`) and the last
    * one did not `halt`. `step(it, state, prev)` plans superstep `it` from
    * the current state and the previous superstep's observed row (None
    * before the first); the next state is `keep(checkpoint)`. `init` is
    * handed over: a checkpoint the loop releases like its own. */
  def run(spark: SparkSession, name: String, init: DataFrame, maxIter: Int,
          aggs: Seq[Column], keep: DataFrame => DataFrame,
          halt: SuperstepMetrics => Boolean = _.changed == 0,
          store: Option[StateStore] = None,
          commit: Option[DataFrame => DataFrame] = None,
          startIter: Int = 0)(
          step: (Int, DataFrame, Option[Row]) => DataFrame): AlgoResult = {
    var state = init
    var prev = Option.empty[Row]
    val metrics = scala.collection.mutable.ArrayBuffer.empty[SuperstepMetrics]
    var it = startIter
    while (it < maxIter && !metrics.lastOption.exists(halt)) {
      val t0 = System.nanoTime()
      val planned = step(it + 1, state, prev).observe(Observed, aggs.head, aggs.tail: _*)
      val chk = GraftSqlShims.checkpoint(planned)
      val row = planned.queryExecution.observedMetrics(Observed)
      val wallMs = (System.nanoTime() - t0) / 1000000L
      it += 1
      val m = SuperstepMetrics(it, wallMs, field(row, "rows", 0L), field(row, "l1", 0.0),
        field(row, "linf", 0.0), field(row, "changed", 0L))
      metrics += m
      store.foreach(_.commit(spark, name, it, commit.getOrElse(keep)(chk),
        m.deltaL1, m.deltaLinf, m.changed, wallMs))
      GraftSqlShims.release(state)
      state = keep(chk)
      prev = Some(row)
    }
    AlgoResult(state, it, metrics.toSeq)
  }

  private def field[T](row: Row, name: String, absent: T): T = {
    val i = row.schema.fieldNames.indexOf(name)
    if (i < 0 || row.isNullAt(i)) absent else row.getAs[T](i)
  }
}
