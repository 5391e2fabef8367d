package graft.algo

import org.apache.spark.sql.{DataFrame, GraftSqlShims, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph.GraphBuilder
import graft.graph.GraphBuilder.placed

/** BFS frontier expansion — the access-operator family the reference derives
  * GetDiameter from (ParaCOSM/CSM/graph/graph.cpp:181-215: full BFS per
  * vertex, max eccentricity). One superstep per level:
  *
  *   next = (frontier ⋈ edges).select(dst).distinct  ANTI-JOIN  visited
  *
  * — the template SURVEY.md §2.3-A5 names for all our supersteps. Scale
  * shape (GraphBuilder.placed's layout): the undirected table is
  * checkpointed hash-partitioned by src and `visited` by id, with the same
  * count, so the frontier join, the anti-join against `visited` and the
  * union run in place; the one exchange per level is the `distinct` of the
  * found ids by id — the messages. `visited` grows monotonically and is
  * lineage-truncated per level.
  *
  * The reference's GetDiameter runs |V| BFS passes — fine row-at-a-time on
  * one box, catastrophic as |V| Spark jobs. We expose single/multi-source
  * depths; eccentricities from chosen sources are their maximum depth.
  */
object Bfs {

  /** Min-depth table (id, depth) for all vertices reachable from `sources`
    * over the UNDIRECTED view of `edges`, up to `maxDepth` levels. */
  def depths(spark: SparkSession, edges: DataFrame, sources: DataFrame,
             maxDepth: Int = 50): DataFrame = {
    val seeds = placed(sources.select(col("id")), "id").distinct()
      .withColumn("depth", lit(0L))
    levels(spark, edges, seeds, maxDepth).state
  }

  /** The BFS superstep loop: state `visited` (id, depth); the frontier is
    * the rows at the previous level. `changed` counts the rows found at each
    * level, so the loop halts on the first empty level. */
  private def levels(spark: SparkSession, edges: DataFrame, seeds: DataFrame,
                     maxDepth: Int): AlgoResult = {
    val und = GraftSqlShims.checkpoint(GraphBuilder.undirected(edges))
    val res = Superstep.run(spark, "bfs", GraftSqlShims.checkpoint(seeds), maxDepth,
      aggs = Seq(count(lit(1)).as("rows"),
        sum(when(col("fresh"), 1L).otherwise(0L)).as("changed")),
      keep = _.drop("fresh")) { (level, visited, _) =>
      val frontier = visited.where(col("depth") === level - 1)
      val next = und.join(frontier.hint("shuffle_hash"), und("src") === frontier("id"))
        .select(und("dst").as("id")).distinct()
        .join(visited.hint("shuffle_hash"), Seq("id"), "left_anti")
      visited.withColumn("fresh", lit(false))
        .union(next.withColumn("depth", lit(level.toLong)).withColumn("fresh", lit(true)))
    }
    GraftSqlShims.release(und)
    res
  }
}
