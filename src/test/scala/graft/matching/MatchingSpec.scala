package graft.matching

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.{Oracles => O}

/** Matching-family specs, all pinned against brute-force plain-Scala
  * oracles on seeded random labeled graphs (the reference's
  * cross-implementation-agreement methodology). */
class MatchingSpec extends SparkSpec {

  /** Brute-force injective (or homomorphic) labeled match counter. */
  private def brute(q: QueryGraph, verts: Map[Long, Int],
                    edges: Set[(Long, Long, Int)], homo: Boolean = false): Long = {
    val und = edges.flatMap { case (a, b, l) => Seq((a, b, l), (b, a, l)) }
    val adj = und.map { case (a, b, _) => (a, b) }
    val elab = und.map { case (a, b, l) => (a, b) -> l }.toMap
    val names = q.vertices.map(_.name)
    def consistent(assign: Map[String, Long]): Boolean = q.edges.forall { e =>
      if (assign.contains(e.u) && assign.contains(e.v)) {
        val key = (assign(e.u), assign(e.v))
        adj.contains(key) && e.elabel.forall(_ == elab(key))
      } else true
    }
    def rec(i: Int, assign: Map[String, Long]): Long =
      if (i == names.size) 1L
      else {
        val nm = names(i)
        verts.keys.toSeq
          .filter(v => homo || !assign.valuesIterator.contains(v))
          .filter(v => q.byName(nm).vlabel.forall(_ == verts(v)))
          .map { v =>
            val a2 = assign + (nm -> v)
            if (consistent(a2)) rec(i + 1, a2) else 0L
          }.sum
      }
    rec(0, Map.empty)
  }

  private def randomLabeled(seed: Int, n: Int = 14, m: Int = 34)
      : (Map[Long, Int], Set[(Long, Long, Int)]) = {
    val rnd = new scala.util.Random(seed)
    val verts = (0L until n).map(v => v -> rnd.nextInt(3)).toMap
    val edges = scala.collection.mutable.Set.empty[(Long, Long, Int)]
    while (edges.size < m) {
      val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong
      if (a != b) {
        val (lo, hi) = if (a < b) (a, b) else (b, a)
        if (!edges.exists(e => e._1 == lo && e._2 == hi))
          edges += ((lo, hi, rnd.nextInt(2)))
      }
    }
    (verts, edges.toSet)
  }

  private def toDfs(verts: Map[Long, Int], edges: Set[(Long, Long, Int)]) = {
    import spark.implicits._
    (edges.toSeq.toDF("src", "dst", "elabel"),
      verts.toSeq.toDF("id", "vlabel"))
  }

  private val queries = Seq(
    "path3-labeled" -> QueryGraph.path(
      Seq(Some(0), Some(1), Some(2)), Seq(Some(1), Some(0))),
    "path3-wild" -> QueryGraph.path(Seq(None, None, None), Seq(None, None)),
    "triangle" -> QueryGraph.triangle,
    "clique4-l1" -> QueryGraph.clique(4, Some(1)),
    "tailed-triangle" -> QueryGraph(
      Seq(QVertex("a"), QVertex("b"), QVertex("c"), QVertex("d", Some(2))),
      Seq(QEdge("a", "b"), QEdge("b", "c"), QEdge("a", "c"), QEdge("c", "d"))))

  test("matcher equals brute force on random labeled graphs (iso + homo)") {
    for (seed <- Seq(1, 2); (name, q) <- queries) {
      val (verts, edges) = randomLabeled(seed)
      val (eDF, vDF) = toDfs(verts, edges)
      val got = GraphMatcher.countMatches(spark, q, eDF, vDF).head().getLong(0)
      val want = brute(q, verts, edges)
      assert(got == want, s"$name seed=$seed iso: got $got want $want")
      val gotH = GraphMatcher.countMatches(spark, q, eDF, vDF, homomorphic = true)
        .head().getLong(0)
      val wantH = brute(q, verts, edges, homo = true)
      assert(gotH == wantH, s"$name seed=$seed homo: got $gotH want $wantH")
    }
  }

  test("triangle query = 6x canonical triangle count; maxResults truncates") {
    val (verts, edges) = randomLabeled(7, n = 12, m = 30)
    val (eDF, vDF) = toDfs(verts, edges)
    val tri = O.triangles(edges.toSeq.map(e => (e._1, e._2)))
    val got = GraphMatcher.countMatches(spark, QueryGraph.triangle, eDF, vDF)
      .head().getLong(0)
    assert(got == 6 * tri)
    if (tri > 0) {
      val limited = GraphMatcher.findMatches(spark, QueryGraph.triangle, eDF, vDF,
        maxResults = Some(3)).count()
      assert(limited == 3L)
    }
  }

  test("candidate index prunes soundly (same counts with index on)") {
    for ((name, q) <- queries.take(4)) {
      val (verts, edges) = randomLabeled(11)
      val (eDF, vDF) = toDfs(verts, edges)
      val cand = CandidateIndex.buildOnRel(spark, q,
        GraphMatcher.materializedRelation(eDF, vDF), vDF, rounds = 2)
      val withIdx = GraphMatcher.findMatches(spark, q, eDF, vDF,
        candidates = Some(cand)).count()
      val without = GraphMatcher.findMatches(spark, q, eDF, vDF).count()
      assert(withIdx == without, s"$name: index changed the result")
    }
  }

  test("delta triangle maintenance: delta-join counters equal recompute") {
    val rnd = new scala.util.Random(5)
    val (_, all0) = randomLabeled(5, n = 16, m = 48)
    val all = all0.toSeq.map(e => (e._1, e._2))
    val adds = all.filter { case (a, b) => (a + b) % 5 == 0 }
    val base = all.filterNot(adds.contains)
    val dels = all.filter { case (a, b) => (a + b) % 5 == 2 }
    import spark.implicits._
    val row = DeltaTriangles.maintain(spark,
      base.toDF("src", "dst"), adds.toDF("src", "dst"), dels.toDF("src", "dst")).head()
    val tOld = O.triangles(base)
    val tAfterAdds = O.triangles(all)
    val tNew = O.triangles(all.filterNot(dels.contains))
    assert(row.getLong(0) == tOld)
    assert(row.getLong(1) == tAfterAdds - tOld, "positive counter")
    assert(row.getLong(2) == tAfterAdds - tNew, "negative counter")
    assert(row.getLong(3) == tNew, "maintained count equals recompute")
    assert(rnd != null)
  }

  test("countDeltaMatches: flagged batch delta equals count difference") {
    val (verts, edges) = randomLabeled(9, n = 14, m = 40)
    val newEdges = edges.filter(e => (e._1 + e._2) % 4 == 1)
    val oldEdges = edges -- newEdges
    import spark.implicits._
    val vDF = verts.toSeq.toDF("id", "vlabel")
    val flagged = edges.toSeq.map(e => (e._1, e._2, e._3, newEdges.contains(e)))
      .toDF("src", "dst", "elabel", "isNew")
    for ((name, q) <- Seq("triangle" -> QueryGraph.triangle,
      "path3-wild" -> QueryGraph.path(Seq(None, None, None), Seq(None, None)))) {
      val got = GraphMatcher.countDeltaMatches(spark, q, flagged, vDF).head().getLong(0)
      val want = brute(q, verts, edges) - brute(q, verts, oldEdges)
      assert(got == want, s"$name: got $got want $want")
    }
  }

  test("classifier: signature-miss updates are safe and route to no query") {
    val (verts, edges) = randomLabeled(3)
    val (eDF, vDF) = toDfs(verts, edges)
    // query listens only to (vlabel 0) -[elabel 1]- (vlabel 1)
    val q = QueryGraph(
      Seq(QVertex("a", Some(0)), QVertex("b", Some(1))),
      Seq(QEdge("a", "b", Some(1))))
    val driver = new MultiQueryDriver(spark, Map("q" -> q), vDF, eDF)
    // a NEW edge (absent in both orientations) between labels la and lb
    val taken = scala.collection.mutable.Set(edges.toSeq.map(t => (t._1, t._2)): _*)
    def fresh(la: Int, lb: Int): (Long, Long) = {
      val (a, b) = (for {
        a <- verts.keys.toSeq.sorted if verts(a) == la
        b <- verts.keys.toSeq.sorted if verts(b) == lb && a != b
        if !taken((a, b)) && !taken((b, a))
      } yield (a, b)).head
      taken += ((a, b))
      (a, b)
    }
    var live = edges
    def run(seq: Long, ab: (Long, Long), el: Int): Int = {
      live += ((ab._1, ab._2, el))
      driver.applyBatch(spark.createDataset(Seq(graft.graph.GraphUpdate(seq, "e", ab._1, ab._2, el)))(
        org.apache.spark.sql.Encoders.product[graft.graph.GraphUpdate]))._1
    }
    // wrong elabel and wrong vlabels: routed to no query, search skipped
    assert(run(1, fresh(0, 1), 0) == 0)
    assert(run(2, fresh(2, 2), 1) == 0)
    assert(driver.searchesSkipped == 2 && driver.searchesRun == 0)
    // the query's own signature runs the delta search
    assert(run(3, fresh(0, 1), 1) == 1)
    assert(driver.searchesRun == 1)
    // skipping stayed sound: the maintained count equals brute force
    assert(driver.counts("q") == brute(q, verts, live))
  }

  test("BFS depths match plain BFS on a path graph") {
    import spark.implicits._
    // path 0-1-2-...-7 plus a disconnected pair 100-101
    val path = (0L until 7L).map(i => (i, i + 1))
    val edges = (path :+ (100L, 101L)).toDF("src", "dst")
    val depths = graft.algo.Bfs.depths(spark, edges, Seq(0L).toDF("id"))
      .as[(Long, Long)].collect().toMap
    assert(depths == (0L to 7L).map(i => i -> i).toMap) // 100/101 unreachable
    val ecc3 = graft.algo.Bfs.depths(spark, edges, Seq(3L).toDF("id"))
      .agg(max("depth")).head().getLong(0)
    assert(ecc3 == 4L) // eccentricity of vertex 3
  }

  test("Limits.runWithTimeout cancels a deliberately slow job group") {
    import spark.implicits._
    val t0 = System.nanoTime()
    val res = graft.util.Limits.runWithTimeout(spark, "slow-test", timeoutMs = 2000) {
      spark.range(1000000000L).as[Long].map { x => Thread.sleep(0, 100); x }
        .agg(sum(col("value"))).head().getLong(0)
    }
    val elapsedMs = (System.nanoTime() - t0) / 1000000L
    assert(res.isEmpty, "slow job should have been cancelled")
    assert(elapsedMs < 60000, s"cancellation took ${elapsedMs}ms")
    // and a fast body completes under the same guard
    val ok = graft.util.Limits.runWithTimeout(spark, "fast-test", timeoutMs = 60000) {
      spark.range(10).count()
    }
    assert(ok.contains(10L))
  }

  test("Limits.all: a failing branch surfaces and leaves no sibling job running") {
    import spark.implicits._
    val sc = spark.sparkContext
    val boom = new IllegalStateException("boom")
    val t0 = System.nanoTime()
    val thrown = intercept[IllegalStateException] {
      graft.util.Limits.all(spark, "all-test")(
        // a long job that only cancellation ends
        () => spark.range(1000000000L).as[Long].map { x => Thread.sleep(0, 100); x }
          .agg(sum(col("value"))).head().getLong(0),
        // a chain of short jobs: later ones must not start after the cancel
        () => (1 to 100000).map(i => spark.range(i % 7 + 1).count()).sum,
        () => { Thread.sleep(1500); throw boom })
    }
    val elapsedMs = (System.nanoTime() - t0) / 1000000L
    assert(thrown eq boom)
    assert(elapsedMs < 60000, s"cancellation took ${elapsedMs}ms")
    // a cancelled job's end event reaches the status store just after its
    // waiter fails; a job that outlived the call would stay active
    val deadline = System.nanoTime() + 5000000000L
    while (sc.statusTracker.getActiveJobIds().nonEmpty && System.nanoTime() < deadline) {
      org.apache.spark.GraftSparkShims.waitListenerBusEmpty(sc)
      Thread.sleep(50)
    }
    assert(sc.statusTracker.getActiveJobIds().isEmpty, "a sibling job outlived the call")
    // and when every branch succeeds, results come back in order
    assert(graft.util.Limits.all(spark, "all-ok")(
      () => spark.range(3).count(), () => spark.range(5).count()) == Seq(3L, 5L))
  }
}
