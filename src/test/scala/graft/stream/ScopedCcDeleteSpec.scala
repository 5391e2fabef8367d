package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkSpec
import graft.algo.ConnectedComponents
import graft.graph.GraphUpdate

/** Component-scoped CC maintenance on delete batches: a delete in a small
  * component must recompute ONLY that component — the giant component's
  * rows carry over and its edges never enter the CC superstep loop (pinned
  * via the scoped run's per-superstep row counts). */
class ScopedCcDeleteSpec extends SparkSpec {
  import ScopedCcDeleteSpec.{GiantN, SmallN}

  private def graph(): (DataFrame, DataFrame) = ScopedCcDeleteSpec.graph(spark)

  private def scratch(sg: StreamGraph): Set[(Long, Long)] =
    new ConnectedComponents().run(spark, sg.edges, sg.vertices).state
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def state(sg: StreamGraph): Set[(Long, Long)] =
    sg.ccState.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("delete inside a small component recomputes only that component") {
    val (v, e) = graph()
    val sg = new StreamGraph(spark, v, e)
    sg.applyLocal(Seq(GraphUpdate(1, "-e", 101L, 102L, 0))) // split small comp
    assert(sg.ccScopedRecomputes == 1 && sg.ccFullRecomputes == 0)
    assert(sg.lastCcScopeVertices == SmallN,
      s"scope should be the ${SmallN}-vertex component, got ${sg.lastCcScopeVertices}")
    // the giant ring's edges never reach the superstep loop
    assert(sg.lastCcMetrics.nonEmpty && sg.lastCcMetrics.forall(_.rows <= SmallN),
      s"superstep rows ${sg.lastCcMetrics.map(_.rows)} exceed the small component")
    assert(state(sg) == scratch(sg))
    // split produced two components among {100..103}
    assert(state(sg).filter(_._1 >= 100L).map(_._2) == Set(100L, 102L))
  }

  test("-v cascade in the small component stays scoped and matches scratch") {
    val (v, e) = graph()
    val sg = new StreamGraph(spark, v, e)
    sg.applyLocal(Seq(GraphUpdate(1, "-v", 101L, 0L, 0)))
    assert(sg.ccScopedRecomputes == 1)
    assert(sg.lastCcScopeVertices == SmallN) // scope is the OLD component
    assert(sg.lastCcMetrics.forall(_.rows <= SmallN))
    assert(state(sg) == scratch(sg))
    assert(!state(sg).exists(_._1 == 101L))
  }

  test("mixed batch bridging giant and small widens the scope and stays exact") {
    val (v, e) = graph()
    val sg = new StreamGraph(spark, v, e)
    sg.applyLocal(Seq(
      GraphUpdate(1, "-e", 102L, 103L, 0),
      GraphUpdate(2, "e", 0L, 100L, 0))) // merge giant with half the small comp
    assert(sg.ccScopedRecomputes == 1)
    assert(sg.lastCcScopeVertices == GiantN + SmallN) // both comps touched
    assert(state(sg) == scratch(sg))
  }

  test("scope above the broadcast limit falls back to the full recompute") {
    val (v, e) = graph()
    val sg = new StreamGraph(spark, v, e)
    sg.ccScopeBroadcastLimit = 2L // force the fallback
    sg.applyLocal(Seq(GraphUpdate(1, "-e", 101L, 102L, 0)))
    assert(sg.ccFullRecomputes == 1 && sg.ccScopedRecomputes == 0)
    assert(state(sg) == scratch(sg))
  }

  test("delete of a new-this-batch vertex's edge (unknown ids) stays exact") {
    val (v, e) = graph()
    val sg = new StreamGraph(spark, v, e)
    // add a fresh 2-vertex component, then delete its edge, same batch
    sg.applyLocal(Seq(
      GraphUpdate(1, "e", 200L, 201L, 0),
      GraphUpdate(2, "-e", 200L, 201L, 0)))
    assert(state(sg) == scratch(sg))
  }
}

object ScopedCcDeleteSpec {
  val GiantN = 60L // ring 0..59: one component, diameter-heavy
  val SmallN = 4L  // path 100-101-102-103

  def graph(spark: SparkSession): (DataFrame, DataFrame) = {
    import spark.implicits._
    val giantV = (0L until GiantN).map(i => (i, 0))
    val smallV = (100L to 103L).map(i => (i, 0))
    val giantE = (0L until GiantN).map(i => (i, (i + 1) % GiantN, 0))
    val smallE = Seq((100L, 101L, 0), (101L, 102L, 0), (102L, 103L, 0))
    ((giantV ++ smallV).toDF("id", "vlabel").localCheckpoint(true),
      (giantE ++ smallE).toDF("src", "dst", "elabel").localCheckpoint(true))
  }
}
