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
  * depths and eccentricity; exact diameter stays a fixture-scale operation
  * (documented), the same way the reference only runs it on demand.
  */
object Bfs {

  /** Min-depth table (id, depth) for all vertices reachable from `sources`
    * over the UNDIRECTED view of `edges`, up to `maxDepth` levels. */
  def depths(spark: SparkSession, edges: DataFrame, sources: DataFrame,
             maxDepth: Int = 50): DataFrame = {
    // GraphBuilder.undirected's src partitioning is the per-level frontier
    // join key: one exchange for the whole loop
    val und = GraphBuilder.undirected(edges).persist()
    und.count()

    var visited = sources.select(col("id")).distinct()
      .withColumn("depth", lit(0L)).localCheckpoint(true)
    var frontier = visited.select(col("id"))
    var level = 0L
    var visitedCount = visited.count()
    var frontierSize = visitedCount

    // ONE action per level (round-3 ran three: eager next checkpoint, next
    // count, eager visited checkpoint — ~150 driver-synchronized jobs at
    // depth 50): both checkpoints are LAZY and counting the new visited
    // materializes them together; the frontier size is the count delta.
    while (frontierSize > 0 && level < maxDepth) {
      level += 1
      val next = frontier.join(und, frontier("id") === und("src"))
        .select(und("dst").as("id")).distinct()
        .join(visited, Seq("id"), "left_anti")
        .withColumn("depth", lit(level))
        .localCheckpoint(false)
      val newVisited = visited.union(next).localCheckpoint(false)
      val c = newVisited.count()
      frontierSize = c - visitedCount
      if (frontierSize > 0) {
        visited = newVisited
        visitedCount = c
        frontier = next.select(col("id"))
      }
    }
    und.unpersist()
    visited
  }

  /** Eccentricity of one source = max BFS depth reached. */
  def eccentricity(spark: SparkSession, edges: DataFrame, sourceId: Long,
                   maxDepth: Int = 50): Long = {
    import spark.implicits._
    val src = Seq(sourceId).toDF("id")
    depths(spark, edges, src, maxDepth).agg(max(col("depth"))).head().getLong(0)
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
        "use eccentricity sampling at scale")
    // all-source BFS in ONE loop: carry (root, id, depth) — |V| roots advance
    // together, so the job count is O(diameter), not O(|V|)
    val und = GraphBuilder.undirected(edges).persist()
    und.count()
    var visited = ids.toSeq.toDF("root").withColumn("id", col("root"))
      .withColumn("depth", lit(0L)).localCheckpoint(true)
    var frontier = visited.select(col("root"), col("id"))
    var level = 0L
    var visitedCount = visited.count()
    var n = visitedCount
    var maxSeen = 0L
    // same one-action-per-level fusion as depths()
    while (n > 0 && level < maxDepth) {
      level += 1
      val next = frontier.join(und, frontier("id") === und("src"))
        .select(col("root"), und("dst").as("id")).distinct()
        .join(visited, Seq("root", "id"), "left_anti")
        .withColumn("depth", lit(level))
        .localCheckpoint(false)
      val newVisited = visited.union(next).localCheckpoint(false)
      val c = newVisited.count()
      n = c - visitedCount
      if (n > 0) {
        maxSeen = level
        visited = newVisited
        visitedCount = c
        frontier = next.select(col("root"), col("id"))
      }
    }
    und.unpersist()
    // an operator named "exact" must not silently return a truncated value:
    // a frontier still alive at the depth cutoff means diameter > maxDepth
    require(n == 0,
      s"diameterExact truncated at maxDepth=$maxDepth with a live frontier " +
        s"($n rows) — raise maxDepth (diameter exceeds it)")
    maxSeen
  }
}
