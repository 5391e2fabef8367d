package graft.stream

import graft.SparkSpec
import graft.graph.GraphUpdate
import graft.matching.MatchFixtures.brute
import graft.matching.{MultiQueryDriver, QueryGraph}

/** Continuous subgraph matching over Structured Streaming: the
  * MultiQueryDriver attached to a stream through `Updates.attach` keeps
  * per-micro-batch maintained counts equal to a from-scratch recompute on
  * the final state. */
class StreamMatcherSpec extends SparkSpec {

  test("streamed CSM: materialized SJ-tree state mode tracks the stream") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext

    val verts0 = Map(0L -> 0, 1L -> 1, 2L -> 2, 3L -> 0, 4L -> 1)
    val edges0 = Set((0L, 1L, 0), (1L, 2L, 0))
    val qs = Map(
      "path" -> QueryGraph.path(Seq(Some(0), Some(1), Some(2)), Seq(None, None)),
      "tri" -> QueryGraph.triangle)
    val driver = new MultiQueryDriver(spark, qs,
      verts0.toSeq.toDF("id", "vlabel"), edges0.toSeq.toDF("src", "dst", "elabel"))

    val mem = MemoryStream[GraphUpdate]
    mem.addData(
      GraphUpdate(1, "e", 3L, 4L, 0), GraphUpdate(2, "e", 4L, 2L, 0), // new path 3-4-2
      GraphUpdate(3, "e", 0L, 2L, 0))                                 // triangle 0-1-2
    val q1 = Updates.attach(mem.toDS())(driver.applyBatchLocal)
    q1.awaitTermination(120000)

    val edges1 = edges0 ++ Set((3L, 4L, 0), (2L, 4L, 0), (0L, 2L, 0))
    assert(driver.counts("path") == brute(qs("path"), verts0, edges1))
    assert(driver.counts("tri") == brute(qs("tri"), verts0, edges1))
    assert(driver.counts("tri") == 6L) // one triangle, ordered embeddings

    mem.addData(GraphUpdate(4, "-e", 1L, 2L, 0)) // kills the triangle + a path
    val q2 = Updates.attach(mem.toDS())(driver.applyBatchLocal)
    q2.awaitTermination(120000)
    val edges2 = edges1 - ((1L, 2L, 0))
    assert(driver.counts("path") == brute(qs("path"), verts0, edges2))
    assert(driver.counts("tri") == 0L)
  }
}
