package graft.stream

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec
import graft.algo.{ConnectedComponents, PageRank}
import graft.graph.{GraphBuilder, GraphUpdate}
import graft.pages.PagesFixture

/** StreamGraph's per-batch SQL executions. A CC or PageRank refresh already
  * returns a checkpoint leaf (`Superstep`'s state, or the scoped delete's
  * merged copy), so a batch must not copy it into a second checkpoint. And
  * its streamed triangle counters against a recount. */
class StreamGraphSpec extends SparkSpec {

  // the UpdatesSpec fixture: 4 sites × 10 pages
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

  /** Action names of the SQL executions that `body` runs, in order. */
  private def executions(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    org.apache.spark.GraftSparkShims.waitListenerBusEmpty(sc)
    val names = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        names.add(funcName); ()
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      body
      org.apache.spark.GraftSparkShims.waitListenerBusEmpty(sc)
      names.toArray(Array.empty[String]).toSeq
    } finally spark.listenerManager.unregister(l)
  }

  test("a warm-add and a delete batch run no checkpoint copy of the refreshed states") {
    val (v, e) = freshGraph()
    val sg = new StreamGraph(spark, v, e, maintainPageRank = true)
    def supersteps = sg.lastCcMetrics.size + sg.prIterations.last

    // warm add (a cross-component bridge), 9 setup executions: the CC label
    // probe, the CC run's undirected count and start checkpoint; PageRank's
    // directed-delta probe, updatePrepared's three checkpoints, the seed and
    // start checkpoints. Then one checkpoint per superstep, and no copy
    val bridge = Seq(GraphUpdate(100L, "e", id(0, 5), id(2, 5), 0))
    val add = executions(sg.applyLocal(bridge))
    assert(sg.lastCcMetrics.nonEmpty)
    assert(add.size == WarmAdd + supersteps, s"$supersteps supersteps: ${add.mkString(", ")}")

    // delete, 13 setup executions: the touched-label probe, the scope
    // checkpoint and count, the scoped CC run's undirected count and start
    // checkpoint, the merged checkpoint; PageRank as above plus the
    // vertex-membership probe
    val deletes = Seq(
      GraphUpdate(200L, "-e", id(2, 1), id(3, 1), 0),
      GraphUpdate(201L, "-v", id(1, 1), 0L, 0))
    val del = executions(sg.applyLocal(deletes))
    assert(sg.ccScopedRecomputes == 1)
    assert(del.size == Delete + supersteps, s"$supersteps supersteps: ${del.mkString(", ")}")

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.get(1))).toMap
    assert(rows(sg.ccState) == rows(new ConnectedComponents().run(spark, sg.edges, sg.vertices).state))
    val cold = new PageRank(tol = 1e-9).run(spark, sg.edges, sg.vertices).state
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val warm = sg.prRanks.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(warm.keySet == cold.keySet)
    warm.foreach { case (k, r) => assert(math.abs(r - cold(k)) < 1e-5, s"rank($k)") }
  }

  private val WarmAdd = 9
  private val Delete = 13

  test("persisted RDDs do not grow with the batch count: 6 delete batches hold what 2 do") {
    // the ScopedCcDeleteSpec fixture; each batch cuts one ring edge and
    // restores the one cut before, so every batch takes the scoped delete
    val (v, e) = ScopedCcDeleteSpec.graph(spark)
    val sg = new StreamGraph(spark, v, e)
    def batch(j: Long): Unit =
      sg.applyLocal(GraphUpdate(2 * j, "-e", j, j + 1, 0) +:
        (if (j == 0) Nil else Seq(GraphUpdate(2 * j + 1, "e", j - 1, j, 0))))
    // held strongly: the context holds persisted RDDs weakly, so one that
    // is unreachable could otherwise vanish between the two reads
    def persisted() = spark.sparkContext.getPersistentRDDs.toMap
    (0L until 2L).foreach(batch)
    val afterTwo = persisted()
    (2L until 6L).foreach(batch)
    val afterSix = persisted()
    assert(sg.ccScopedRecomputes == 6)
    assert(afterSix.size == afterTwo.size,
      s"${afterSix.size - afterTwo.size} more persisted RDDs after 6 batches than after 2")
    val ids = sg.vertices.select("id").collect().map(_.getLong(0)).toSeq
    val es = sg.edges.select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(sg.ccState.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      graft.Oracles.components(ids, es))
  }

  test("streaming triangle maintenance: delta-join counters track recompute") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx = spark.sqlContext
    // start: path 1-2-3-4; batch A closes two triangles; batch B deletes one
    val v0 = Seq(1L, 2L, 3L, 4L).toDF("id")
    val e0 = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val g = new StreamGraph(spark, v0, e0, maintainTriangles = true)
    assert(g.triangleCount == 0L)
    val stream = MemoryStream[GraphUpdate]
    stream.addData(
      GraphUpdate(1, "e", 1, 3, 0), GraphUpdate(2, "e", 2, 4, 0)) // two triangles
    val q = Updates.attach(stream.toDS(), Trigger.AvailableNow())(g.applyLocal)
    q.awaitTermination(120000)
    assert(g.triangleCount == 2L && g.trianglePositive == 2L)
    stream.addData(GraphUpdate(3, "-e", 2, 3, 0)) // kills both triangles
    val q2 = Updates.attach(stream.toDS(), Trigger.AvailableNow())(g.applyLocal)
    q2.awaitTermination(120000)
    assert(g.triangleCount == 0L && g.triangleNegative == 2L)
    // matches from-scratch recount of the final state
    val scratch = graft.algo.TriangleCount.countTriangles(spark, g.edges)
      .head().getLong(0)
    assert(g.triangleCount == scratch)
  }
}
