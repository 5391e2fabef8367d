package graft.algo

import org.apache.spark.sql.{DataFrame, GraftSqlShims, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph.GraphBuilder
import graft.graph.GraphBuilder.placed
import graft.state.StateStore

/** Synchronous label propagation (community detection).
  *
  * Per superstep every vertex adopts the MODE of its neighbors' labels with
  * a deterministic tie-break (smallest label wins) — determinism is
  * non-negotiable (north rule: exact label agreement across `local[8]` and
  * `local[32]`), so no randomized tie-breaking or async order sensitivity.
  * Isolated vertices keep their own label. Synchronous LP can oscillate on
  * bipartite-ish structures, so the loop stops at `maxIter` even when not
  * stable — again deterministically.
  *
  * Shape per superstep (GraphBuilder.placed's layout): the undirected
  * table sits hash-partitioned by src and the state by id, with the same
  * count, so the und ⋈ state join runs in place and its neighbour labels,
  * placed by id, are the superstep's one exchange. In place after it:
  * groupBy(id, label).count, then the per-id argmax max(struct(n, -label,
  * label)), whose lexicographic order encodes the (count desc, label asc)
  * tie-break. Both aggregates keep one fixed-size buffer per key and spill,
  * so a mega-hub with O(|V|) distinct neighbour labels costs one task time
  * and disk, not memory (a per-id `mode` keeps a label → count map per id
  * in one object that cannot spill). The state ⋈ argmax join reads the
  * state leaf on id, so the next superstep's state keeps hash(id). No
  * sort-based window anywhere (a per-vertex row_number window costs a sort
  * per partition and was the dominant superstep term at bench scale).
  */
final class LabelPropagation(maxIter: Int = 10) extends Algorithm {

  override def name: String = "labelprop"

  override def run(spark: SparkSession, edges: DataFrame, vertices: DataFrame,
                   store: Option[StateStore] = None): AlgoResult = {
    val und = GraftSqlShims.checkpoint(GraphBuilder.undirected(edges))
    val start = GraftSqlShims.checkpoint(placed(vertices.select(col("id")), "id").distinct()
      .withColumn("label", col("id")))
    val res = Superstep.run(spark, name, start, maxIter,
      aggs = Seq(
        sum(when(col("newLabel") =!= col("label"), 1L).otherwise(0L)).as("changed"),
        count(lit(1)).as("rows")),
      keep = _.select(col("id"), col("newLabel").as("label")),
      store = store) { (_, state, _) => step(und, state) }
    GraftSqlShims.release(und)
    res
  }

  /** One synchronous LP superstep: (id, label, newLabel). Exposed for the
    * single-step DuckDB-oracle query. */
  def step(und: DataFrame, state: DataFrame): DataFrame = {
    val nbrLabels = placed(und.join(state.hint("shuffle_hash"), und("src") === state("id"))
      .select(und("dst").as("id"), col("label")), "id")
    // hash(id) satisfies both aggregates' clustering: no further exchange
    val modes = nbrLabels.groupBy(col("id"), col("label")).agg(count(lit(1)).as("n"))
      .groupBy(col("id"))
      .agg(max(struct(col("n"), (-col("label")).as("negl"), col("label"))).as("m"))
      .select(col("id"), col("m.label").as("modeLabel"))
    state.join(modes.hint("shuffle_hash"), Seq("id"), "left_outer")
      .select(col("id"), col("label"),
        coalesce(col("modeLabel"), col("label")).as("newLabel"))
  }
}
