package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.state.StateStore

/** One superstep's observability record (the reference's pruning-funnel
  * counters reborn, ParaCOSM/CSM/matching/matching.h:25-33). */
final case class SuperstepMetrics(
    iteration: Int,
    wallMs: Long,
    rows: Long,
    deltaL1: Double,
    deltaLinf: Double,
    changed: Long)

final case class AlgoResult(state: DataFrame, iterations: Int, metrics: Seq[SuperstepMetrics])

/** The algorithm plug-in surface — the reference's `matching` virtual
  * interface (ParaCOSM/CSM/matching/matching.h:45-57) re-expressed for
  * join-aggregate supersteps over (edges, vertex-state) tables.
  *
  * Lineage control: every implementation runs its supersteps through
  * `Superstep`, which truncates per iteration (GraftSqlShims.checkpoint) and,
  * given a StateStore, commits each superstep (durable, resumable — north
  * rule). Without truncation the iteration-k plan references all k-1
  * predecessors (SURVEY.md §7.4-1).
  */
trait Algorithm {
  def name: String

  /** Run to convergence. `edges` must have (src: Long, dst: Long). */
  def run(spark: SparkSession, edges: DataFrame, vertices: DataFrame,
          store: Option[StateStore] = None): AlgoResult
}
