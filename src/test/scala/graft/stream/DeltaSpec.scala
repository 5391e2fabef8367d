package graft.stream

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.{Oracles => O}
import graft.graph.GraphUpdate
import graft.stream.{UpdateInterpreter => I}

/** Round-3 delta machinery: O(|Δ|)-shuffle edge-delta derivation
  * (Updates.edgeDeltaKeysCollected / edgeDeltaDirectedCollected), labeled
  * batch application, and the window-free triangle delta plans. */
class DeltaSpec extends SparkSpec {

  private def canonSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select(least(col("src"), col("dst")).as("l"), greatest(col("src"), col("dst")).as("h"))
      .where(col("l") =!= col("h")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** Unlabeled apply + collected canonical delta; checks the applied view
    * against the sequential interpreter. Returns (v1, e1, added, deleted). */
  private def applyAndDelta(v0: org.apache.spark.sql.DataFrame,
                            e0: org.apache.spark.sql.DataFrame, ops: Seq[GraphUpdate]) = {
    val (v1, e1) = Updates.applyBatchUnlabeledLocal(spark, v0, e0, ops)
    val e1c = e1.localCheckpoint(true)
    val want = I(I.graphOf(v0, e0), ops)
    assert(I.edgesOf(e1c).keySet == want.edges.keySet, "applied edges vs interpreter")
    val (added, deleted) = Updates.edgeDeltaKeysCollected(spark, e0, e1c, ops)
    (v1, e1c, added.toSet, deleted.toSet)
  }

  test("edgeDelta equals the true before/after diff (re-adds, -e, -v cascade)") {
    import spark.implicits._
    val v0 = (0L until 12L).toDF("id")
    val e0 = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 0L),
      (6L, 7L), (7L, 8L), (2L, 6L)).toDF("src", "dst")
    val batch = Seq(
      GraphUpdate(1, "e", 0L, 2L, 0),   // genuine add
      GraphUpdate(2, "e", 1L, 2L, 0),   // re-add of an existing edge: NO delta
      GraphUpdate(3, "e", 19L, 20L, 0), // add between fresh vertices
      GraphUpdate(4, "v", 19L, 0L, 0),
      GraphUpdate(5, "v", 20L, 0L, 0),
      GraphUpdate(6, "-e", 3L, 4L, 0),  // explicit delete
      GraphUpdate(7, "-v", 7L, 0L, 0),  // cascades (6,7) and (7,8)
      GraphUpdate(8, "e", 4L, 6L, 0))
    val (v1, e1c, added, deleted) = applyAndDelta(v0, e0, batch)
    val wantAdded = canonSet(e1c) -- canonSet(e0)
    val wantDeleted = canonSet(e0) -- canonSet(e1c)
    assert(added == wantAdded, s"added $added vs $wantAdded")
    assert(deleted == wantDeleted, s"deleted $deleted vs $wantDeleted")
    assert(wantAdded == Set((0L, 2L), (19L, 20L), (4L, 6L)))
    assert(wantDeleted == Set((3L, 4L), (6L, 7L), (7L, 8L)))
    assert(v1.count() == 13) // 12 + 19,20 - 7
  }

  test("edgeDelta: duplicate add must not mask a same-batch -v cascade delete") {
    import spark.implicits._
    // before has (6,7); batch re-adds it AND deletes vertex 7 — the edge is
    // gone after the batch and MUST be reported deleted (round-3 advice: the
    // 'a' key tag used to win over the -v incident check, yielding no delta)
    val v0 = (0L until 10L).toDF("id")
    val e0 = Seq((6L, 7L), (1L, 2L)).toDF("src", "dst")
    val batch = Seq(
      GraphUpdate(1, "e", 6L, 7L, 0),
      GraphUpdate(2, "-v", 7L, 0L, 0))
    val (_, e1c, added, deleted) = applyAndDelta(v0, e0, batch)
    assert(added == (canonSet(e1c) -- canonSet(e0)))
    assert(deleted == (canonSet(e0) -- canonSet(e1c)))
    assert(deleted == Set((6L, 7L)), "cascade delete masked by duplicate add")
    assert(added.isEmpty)
  }

  test("edgeDelta never shuffles the edge tables (broadcast-only joins)") {
    import spark.implicits._
    val v0 = (0L until 2000L).toDF("id")
    val e0 = (0L until 1999L).map(i => (i, i + 1)).toDF("src", "dst").localCheckpoint(true)
    val batch = Seq(
      GraphUpdate(1, "e", 5L, 500L, 0),
      GraphUpdate(2, "-e", 100L, 101L, 0),
      GraphUpdate(3, "-v", 1500L, 0L, 0))
    val (_, e1) = Updates.applyBatchUnlabeledLocal(spark, v0, e0, batch)
    val e1c = e1.localCheckpoint(true)
    // the probe action runs inside edgeDeltaKeysCollected: capture its plan.
    // Auto-broadcast off, so only the explicitly hinted broadcasts survive
    // (at warehouse scale the edge tables are over any threshold)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    ns: Long): Unit = { plans.add(qe.executedPlan.toString); () }
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                    e: Exception): Unit = ()
    }
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.listenerManager.register(listener)
    val (added, deleted) =
      try Updates.edgeDeltaKeysCollected(spark, e0, e1c, batch)
      finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (plans.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    spark.listenerManager.unregister(listener)
    assert(!plans.isEmpty, "no probe plan observed")
    plans.forEach { plan =>
      assert(!plan.contains("SortMergeJoin"), s"full-table sort-merge join in:\n$plan")
      assert(!plan.contains("ShuffledHashJoin"), s"full-table shuffled join in:\n$plan")
      assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
        s"delta derivation should be broadcast-join shaped:\n$plan")
    }
    // and the values are still right
    assert(added.toSet == Set((5L, 500L)))
    assert(deleted.toSet == Set((100L, 101L), (1499L, 1500L), (1500L, 1501L)))
  }

  test("applyBatchLabeled: upserted vertex labels, kept-edge semantics, cascade") {
    import spark.implicits._
    val v0 = Seq((0L, 0), (1L, 1), (2L, 2)).toDF("id", "vlabel")
    val e0 = Seq((0L, 1L, 5), (1L, 2L, 6)).toDF("src", "dst", "elabel")
    val batch = Seq(
      GraphUpdate(1, "v", 3L, 0L, 1),   // new labeled vertex
      GraphUpdate(2, "v", 0L, 0L, 7),   // upsert label of 0
      GraphUpdate(3, "e", 2L, 3L, 9),
      GraphUpdate(4, "e", 0L, 1L, 8),   // duplicate add: existing row (label 5) wins
      GraphUpdate(5, "-v", 1L, 0L, 0))  // cascades (0,1) and (1,2)
    val (v1, e1) = Updates.applyBatchLabeledLocal(spark, v0, e0, batch)
    val vs = v1.as[(Long, Int)].collect().toSet
    assert(vs == Set((0L, 7), (2L, 2), (3L, 1)))
    val es = e1.as[(Long, Long, Int)].collect().toSet
    assert(es == Set((2L, 3L, 9)))
    assert(I.graphOf(v1, e1) == I(I.graphOf(v0, e0), batch))
  }

  test("edgeDeltaDirected: orientation kept, cascade + dup-add mask covered") {
    import spark.implicits._
    val v0 = (0L until 12L).toDF("id")
    val e0 = Seq((1L, 0L), (2L, 1L), (6L, 7L), (8L, 7L)).toDF("src", "dst")
    val batch = Seq(
      GraphUpdate(1, "e", 0L, 2L, 0),   // genuine directed add 0→2
      GraphUpdate(2, "e", 2L, 1L, 0),   // re-add of existing 2→1: NO delta
      GraphUpdate(3, "e", 6L, 7L, 0),   // dup add masked by next op's cascade
      GraphUpdate(4, "-v", 7L, 0L, 0),  // cascades 6→7 and 8→7
      GraphUpdate(5, "-e", 1L, 0L, 0))
    val (_, e1) = Updates.applyBatchUnlabeledLocal(spark, v0, e0, batch)
    val e1c = e1.localCheckpoint(true)
    val (added, deleted) = Updates.edgeDeltaDirectedCollected(spark, e0, e1c, batch)
    assert(added.toSet == Set((0L, 2L)))
    assert(deleted.toSet == Set((6L, 7L), (8L, 7L), (1L, 0L)))
  }

  test("updatePrepared: warm restart == cold, base adj untouched, no extra exchange") {
    import spark.implicits._
    val n = 60L
    val ring = (0L until n).map(i => (i, (i + 1) % n))
    val e0df = (ring ++ Seq((0L, 30L), (7L, 22L))).toDF("src", "dst")
    val v0df = (0L until n).toDF("id")
    val g0 = graft.algo.PageRank.prepare(spark, e0df, v0df)

    // batch: 2 adds, 1 delete, 1 new vertex with an outgoing edge
    val added = Seq((3L, 40L), (60L, 5L)).toDF("src", "dst")
    val deleted = Seq((7L, 22L)).toDF("src", "dst")
    val e1df = (ring ++ Seq((0L, 30L), (3L, 40L), (60L, 5L))).toDF("src", "dst")
    val v1df = (0L until n).toDF("id").union(Seq(60L).toDF("id"))
    val g1 = graft.algo.PageRank.updatePrepared(spark, g0, added, deleted,
      newVertexIds = Seq(60L))
    assert(g1.adj eq g0.adj, "base adjacency must be reused, not rebuilt")
    assert(g1.patch.get.count() == 3)
    assert(g1.n == 61.0)

    // vertex state by arithmetic equals prepare-from-scratch
    val gFresh = graft.algo.PageRank.prepare(spark, e1df, v1df)
    def vset(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Boolean)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(vset(g1.verts) == vset(gFresh.verts))

    // warm restart over the patched Prepared converges to the cold ranks
    val cold = new graft.algo.PageRank(tol = 1e-9).run(spark, e1df, v1df)
    val prev = new graft.algo.PageRank(tol = 1e-9).run(spark, e0df, v0df).state
    val warm = new graft.algo.PageRank(tol = 1e-9)
      .runFromPrepared(spark, g1, prev)
    val want = cold.state.select("id", "rank").as[(Long, Double)].collect().toMap
    val got = warm.state.select("id", "rank").as[(Long, Double)].collect().toMap
    assert(got.keySet == want.keySet)
    want.foreach { case (id, r) =>
      assert(math.abs(got(id) - r) < 1e-6, s"rank($id): ${got(id)} vs $r")
    }
    assert(warm.iterations < cold.iterations,
      s"warm ${warm.iterations} should beat cold ${cold.iterations}")

    // the patched superstep introduces NO additional SHUFFLE exchange over
    // the static superstep (the single groupBy(dst) shuffle): the base
    // never re-shuffles and the patch joins by broadcast (BroadcastExchange
    // is expected and cheap — only shuffles are counted)
    def shuffles(g: graft.algo.PageRank.Prepared): Int = {
      val ranks = g.verts.select(col("id"), lit(1.0 / g.n).as("rank"),
        col("dangling"), col("outDeg")).localCheckpoint(true)
      val dm = graft.algo.PageRank.danglingMass(ranks)
      val step = graft.algo.PageRank.superstep(g, ranks, dm, 0.85)
      step.collect()
      "Exchange (hash|range)partitioning|Exchange SinglePartition".r
        .findAllIn(step.queryExecution.executedPlan.toString).size
    }
    assert(shuffles(g1) <= shuffles(gFresh),
      "patch overlay must not add shuffle exchanges over the static plan")
  }

  test("streamed PageRank maintenance: warm restart equals cold recompute, fewer supersteps") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // ring of 40 + a few chords; delta = 3 edge adds + 1 delete
    val n = 40L
    val ring = (0L until n).map(i => (i, (i + 1) % n))
    val e0 = (ring ++ Seq((0L, 20L), (5L, 25L))).toDF("src", "dst")
    val v0 = (0L until n).toDF("id")
    val g = new StreamGraph(spark, v0, e0, maintainPageRank = true, prTol = 1e-9)
    val coldInitIters = new graft.algo.PageRank(tol = 1e-9)
      .run(spark, e0, v0).iterations

    val mem = MemoryStream[GraphUpdate]
    mem.addData(GraphUpdate(1, "e", 10L, 30L, 0), GraphUpdate(2, "e", 2L, 12L, 0),
      GraphUpdate(3, "e", 7L, 37L, 0), GraphUpdate(4, "-e", 5L, 25L, 0))
    val q = Updates.attach(mem.toDS())(g.applyLocal)
    q.awaitTermination(120000)

    val cold = new graft.algo.PageRank(tol = 1e-9).run(spark, g.edges, g.vertices)
    val want = cold.state.select("id", "rank").as[(Long, Double)].collect().toMap
    val got = g.prRanks.select("id", "rank").as[(Long, Double)].collect().toMap
    assert(got.keySet == want.keySet)
    want.foreach { case (id, r) =>
      assert(math.abs(got(id) - r) < 1e-6, s"warm rank($id): ${got(id)} vs $r")
    }
    assert(g.prIterations.nonEmpty && g.prIterations.head < cold.iterations,
      s"warm ${g.prIterations} should beat cold ${cold.iterations} supersteps " +
        s"(initial cold run took $coldInitIters)")
  }

  test("triangle delta plans contain no Window node; bulk == seeded == oracle") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val edges = scala.collection.mutable.Set.empty[(Long, Long)]
    while (edges.size < 80) {
      val a = rnd.nextInt(20).toLong; val b = rnd.nextInt(20).toLong
      if (a < b) edges += ((a, b))
    }
    val all = edges.toSeq
    val adds = all.filter { case (a, b) => (a + b) % 4 == 0 }
    val dels = all.filter { case (a, b) => (a + b) % 4 == 1 }
    val base = all.filterNot(adds.contains)
    val allDF = all.toDF("src", "dst")
    val addsDF = adds.toDF("src", "dst")
    val delsDF = dels.toDF("src", "dst")

    // seeded path: assert NO Window in the optimized plan (round 2 ranked
    // delta edges through an un-partitioned row_number — a single-task sort)
    val (tri, rel) = graft.matching.DeltaTriangles.touchingRows(
      spark, allDF, Seq(addsDF, delsDF))
    val optimized = tri.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("Window"), s"Window node in touching plan:\n$optimized")
    val counts = tri.groupBy(col("tag")).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    rel.unpersist()

    // oracle values
    val tAll = O.triangles(all)
    val tBase = O.triangles(base)
    val tAfterDels = O.triangles(all.filterNot(dels.contains))
    assert(counts.getOrElse(0, 0L) == tAll - tBase, "seeded positive")
    assert(counts.getOrElse(1, 0L) == tAll - tAfterDels, "seeded negative")

    // bulk path agrees
    val (total, p, n) = graft.matching.DeltaTriangles.bulkCounts(
      spark, allDF, addsDF, delsDF)
    assert(total == tAll && p == tAll - tBase && n == tAll - tAfterDels,
      s"bulk ($total,$p,$n) vs oracle ($tAll,${tAll - tBase},${tAll - tAfterDels})")
  }
}
