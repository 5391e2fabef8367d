package graft.stream

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.algo.ConnectedComponents
import graft.graph.{GraphBuilder, GraphUpdate}
import graft.pages.PagesFixture

/** CDC replay semantics (FIXTURES.md §4): replaying batches A (safe), B
  * (cross-site bridge, unsafe merge), C (deletes, always unsafe) through
  * StreamGraph must equal recompute-from-scratch on the final graph. */
class UpdatesSpec extends SparkSpec {

  private val S = 4
  private val P = 10

  private def freshGraph() = {
    import spark.implicits._
    val pages = spark.createDataset(PagesFixture.generate(S, P))
    val (v, e) = GraphBuilder.buildVerified(spark, pages)
    (v.toDF().localCheckpoint(true), e.toDF().localCheckpoint(true))
  }

  private def id(s: Int, k: Int): Long = {
    import spark.implicits._
    Seq(PagesFixture.url(s, k)).toDF("url").select(xxhash64(col("url"))).head().getLong(0)
  }

  private def labels(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("batch A: intra-component edge inserts are all safe; labels unchanged") {
    import spark.implicits._
    val (v, e) = freshGraph()
    val sg = new StreamGraph(spark, v, e)
    val before = labels(sg.ccState)
    // 10 inserts inside site 0 (already one component)
    val batchA = (0 until 10).map(i =>
      GraphUpdate(i.toLong, "e", id(0, i % P), id(0, (i + 3) % P), 0))
    sg.applyLocal(batchA)
    assert(sg.totalSafe == 10 && sg.totalUnsafe == 0)
    assert(sg.lastCcMetrics.isEmpty, "all-safe batch must skip supersteps entirely")
    assert(sg.edges.count() == e.count() + 10 - e.as[(Long, Long)].collect()
      .count(x => (0 until 10).exists(i => x == ((id(0, i % P), id(0, (i + 3) % P))))))
    assert(labels(sg.ccState) == before)
  }

  test("batch B: cross-component bridge is unsafe; warm merge equals recompute") {
    val (v, e) = freshGraph()
    val sg = new StreamGraph(spark, v, e)
    val nComp0 = sg.ccState.select("label").distinct().count()
    // bridge site-pair (0,1) to site-pair (2,3)
    sg.applyLocal(Seq(GraphUpdate(100L, "e", id(0, 5), id(2, 5), 0)))
    assert(sg.totalSafe == 0 && sg.totalUnsafe == 1)
    assert(sg.lastCcMetrics.nonEmpty)
    val scratch = labels(new ConnectedComponents().run(spark, sg.edges, sg.vertices).state)
    assert(labels(sg.ccState) == scratch, "warm-start merge must equal cold recompute")
    assert(sg.ccState.select("label").distinct().count() == nComp0 - 1)
  }

  test("batch C: deletes are always unsafe; cold recompute; replay == scratch") {
    val (v, e) = freshGraph()
    val sg = new StreamGraph(spark, v, e)
    // delete the (2,1)→(3,1) bridge edge and vertex (1,1)
    sg.applyLocal(Seq(
      GraphUpdate(200L, "-e", id(2, 1), id(3, 1), 0),
      GraphUpdate(201L, "-v", id(1, 1), 0L, 0)))
    assert(sg.totalSafe == 0 && sg.totalUnsafe == 2)
    assert(sg.vertices.where(col("id") === id(1, 1)).count() == 0)
    assert(sg.edges.where(col("src") === id(1, 1) || col("dst") === id(1, 1)).count() == 0)
    val scratch = labels(new ConnectedComponents().run(spark, sg.edges, sg.vertices).state)
    assert(labels(sg.ccState) == scratch)
  }

  test("compaction: within-batch add-then-delete nets to delete (last op wins)") {
    val (v, e) = freshGraph()
    val a = id(0, 0); val b = id(1, 7)
    val (_, e1) = Updates.applyBatchUnlabeledLocal(spark, v, e, Seq(
      GraphUpdate(1L, "e", a, b, 0),
      GraphUpdate(2L, "-e", a, b, 0)))
    assert(e1.where(col("src") === a && col("dst") === b).count() == 0)
    assert(e1.count() == e.count())
  }

  test("Structured Streaming ingestion: micro-batched updates reach the same state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (v, e) = freshGraph()
    val mem = MemoryStream[GraphUpdate]
    val sg = new StreamGraph(spark, v, e)
    // batch A (safe adds), then batch B (bridge)
    mem.addData((0 until 5).map(i => GraphUpdate(i.toLong, "e", id(0, i), id(0, (i + 4) % P), 0)))
    mem.addData(Seq(GraphUpdate(50L, "e", id(0, 2), id(2, 2), 0)))
    val q = Updates.attach(mem.toDS())(sg.applyLocal)
    q.processAllAvailable()
    q.stop()
    assert(sg.batchesSeen >= 1)
    assert(sg.totalSafe >= 5 && sg.totalUnsafe >= 1)
    val scratch = new ConnectedComponents().run(spark, sg.edges, sg.vertices).state
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sg.ccState.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == scratch)
  }
}
