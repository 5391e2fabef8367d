package graft.algo

import org.apache.spark.sql.{DataFrame, GraftSqlShims, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph.GraphBuilder
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
  * Shape per superstep: groupBy(dst, label).count → per-dst argmax as a
  * SECOND algebraic aggregate — max over struct(n, -label, label), whose
  * lexicographic order encodes the (count desc, label asc) tie-break. Both
  * aggregates are partial-agg (map-side combined), so hub fan-in AND the
  * argmax are skew-free; no sort-based window anywhere (a per-vertex
  * row_number window costs a sort per partition and was the dominant
  * superstep term at bench scale).
  */
final class LabelPropagation(maxIter: Int = 10) extends Algorithm {

  override def name: String = "labelprop"

  override def run(spark: SparkSession, edges: DataFrame, vertices: DataFrame,
                   store: Option[StateStore] = None): AlgoResult = {
    // partitioned by src ONCE (GraphBuilder.undirected); the checkpoint
    // leaf keeps that partitioning, so the per-superstep join on src
    // exchanges only the state side and the undirected table stays put
    val und = GraftSqlShims.checkpoint(GraphBuilder.undirected(edges))
    val start = GraftSqlShims.checkpoint(vertices.select(col("id")).distinct()
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
    // shuffle-hash: the state side fits per-partition hash maps; SMJ would
    // re-sort the big und side every superstep
    val nbrLabels = und.join(state.hint("shuffle_hash"), und("src") === state("id"))
      .select(und("dst").as("id"), col("label"))
    val counts = nbrLabels.groupBy(col("id"), col("label")).agg(count(lit(1)).as("n"))
    // argmax by (n desc, label asc): max of struct(n, -label, label) —
    // lexicographic struct comparison, algebraic, no window/sort
    val mode = counts.groupBy(col("id"))
      .agg(max(struct(col("n"), (-col("label")).as("negl"), col("label"))).as("m"))
      .select(col("id"), col("m.label").as("modeLabel"))
    state.join(mode, Seq("id"), "left_outer")
      .select(col("id"), col("label"),
        coalesce(col("modeLabel"), col("label")).as("newLabel"))
  }
}
