package graft.algo

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph.GraphBuilder

/** BFS frontier expansion — the access-operator family the reference derives
  * GetDiameter from (ParaCOSM/CSM/graph/graph.cpp:181-215: full BFS per
  * vertex, max eccentricity). One superstep per level:
  *
  *   next = (frontier ⋈ edges).select(dst).distinct  ANTI-JOIN  visited
  *
  * — the template SURVEY.md §2.3-A5 names for all our supersteps. Scale
  * shape: the frontier join shuffles on vertex id (AQE absorbs hub skew);
  * `visited` grows monotonically and is lineage-truncated per level.
  *
  * The reference's GetDiameter runs |V| BFS passes — fine row-at-a-time on
  * one box, catastrophic as |V| Spark jobs. We expose single/multi-source
  * depths; exact diameter stays a fixture-scale operation (documented), the
  * same way the reference only runs it on demand.
  */
object Bfs {

  /** Min-depth table (id, depth) for all vertices reachable from `sources`
    * over the UNDIRECTED view of `edges`, up to `maxDepth` levels. */
  def depths(spark: SparkSession, edges: DataFrame, sources: DataFrame,
             maxDepth: Int = 50): DataFrame = {
    val seeds = sources.select(col("id")).distinct().withColumn("depth", lit(0L))
    levels(spark, edges, seeds, Nil, maxDepth).state
  }

  /** Exact diameter by BFS from every vertex — reference semantics
    * (graph.cpp:181-215). Guarded for fixture scale: |V| supersteps-loops is
    * a driver-side loop of |V| jobs, so `maxVertices` refuses big inputs. */
  def diameterExact(spark: SparkSession, edges: DataFrame, vertices: DataFrame,
                    maxVertices: Int = 2000, maxDepth: Int = 50): Long = {
    import spark.implicits._
    val ids = vertices.select(col("id")).distinct().as[Long].collect()
    require(ids.length <= maxVertices,
      s"diameterExact is a fixture-scale operator (|V|=${ids.length} > $maxVertices); " +
        "run depths from sampled sources at scale")
    // all-source BFS in ONE loop: carry (root, id, depth) — |V| roots advance
    // together, so the job count is O(diameter), not O(|V|)
    val seeds = ids.toSeq.toDF("root").withColumn("id", col("root"))
      .withColumn("depth", lit(0L))
    val res = levels(spark, edges, seeds, Seq("root"), maxDepth)
    // an operator named "exact" must not silently return a truncated value:
    // a frontier still alive at the depth cutoff means diameter > maxDepth
    val live = res.metrics.lastOption.fold(ids.length.toLong)(_.changed)
    require(live == 0,
      s"diameterExact truncated at maxDepth=$maxDepth with a live frontier " +
        s"($live rows) — raise maxDepth (diameter exceeds it)")
    res.metrics.filter(_.changed > 0).lastOption.fold(0L)(_.iteration.toLong)
  }

  /** The keyed BFS superstep loop: state `visited` (keys, id, depth); the
    * frontier is the rows at the previous level. `changed` counts the rows
    * found at each level, so the loop halts on the first empty level. */
  private def levels(spark: SparkSession, edges: DataFrame, seeds: DataFrame,
                     keys: Seq[String], maxDepth: Int): AlgoResult = {
    // GraphBuilder.undirected's src partitioning is the per-level frontier
    // join key, and the persisted scan reports it: the undirected table is
    // exchanged once for the whole loop (the frontier, read from the
    // checkpointed state, is exchanged every level)
    val und = GraphBuilder.undirected(edges).persist()
    und.count()
    val res = Superstep.run(spark, "bfs", seeds.localCheckpoint(true), maxDepth,
      aggs = Seq(count(lit(1)).as("rows"),
        sum(when(col("fresh"), 1L).otherwise(0L)).as("changed")),
      keep = _.drop("fresh")) { (level, visited, _) =>
      val frontier = visited.where(col("depth") === level - 1)
      val next = frontier.join(und, frontier("id") === und("src"))
        .select(keys.map(frontier(_)) :+ und("dst").as("id"): _*).distinct()
        .join(visited, keys :+ "id", "left_anti")
      visited.withColumn("fresh", lit(false))
        .union(next.withColumn("depth", lit(level.toLong)).withColumn("fresh", lit(true)))
    }
    und.unpersist()
    res
  }
}
