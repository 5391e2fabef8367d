package graft.matching

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Round-3 matching features: automorphism breaking (J10 family), shell
  * combinatorial counting (J10/G6), cost-weighted ordering (X4) and the
  * shared-relation candidate index. All pinned against the brute-force
  * plain-Scala matcher. */
object MatchFixtures {
  /** Brute-force injective (or homomorphic) labeled match counter. */
  def brute(q: QueryGraph, verts: Map[Long, Int],
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

  def randomLabeled(seed: Int, n: Int = 14, m: Int = 34, nLabels: Int = 3)
      : (Map[Long, Int], Set[(Long, Long, Int)]) = {
    val rnd = new scala.util.Random(seed)
    val verts = (0L until n).map(v => v -> rnd.nextInt(nLabels)).toMap
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
}

class MatchingR3Spec extends SparkSpec {
  import MatchFixtures._

  private def toDfs(verts: Map[Long, Int], edges: Set[(Long, Long, Int)]) = {
    import spark.implicits._
    (edges.toSeq.toDF("src", "dst", "elabel"),
      verts.toSeq.toDF("id", "vlabel"))
  }

  test("automorphism groups: clique4 |Aut|=24, path3 |Aut|=2, tailed triangle |Aut|=2") {
    assert(GraphMatcher.automorphisms(QueryGraph.clique(4)).size == 24)
    assert(GraphMatcher.automorphisms(
      QueryGraph.path(Seq(None, None, None), Seq(None, None))).size == 2)
    val tailed = QueryGraph(
      Seq(QVertex("a"), QVertex("b"), QVertex("c"), QVertex("d", Some(2))),
      Seq(QEdge("a", "b"), QEdge("b", "c"), QEdge("a", "c"), QEdge("c", "d")))
    assert(GraphMatcher.automorphisms(tailed).size == 2) // a <-> b
    // labels break symmetry: a 2-path with distinct endpoint labels is rigid
    assert(GraphMatcher.automorphisms(
      QueryGraph.path(Seq(Some(0), Some(1), Some(2)), Seq(None, None))).size == 1)
  }

  test("countMatchesAuto (symmetry-broken x |Aut|) equals plain enumeration") {
    val qs = Seq(
      QueryGraph.clique(4, Some(1)),
      QueryGraph.triangle,
      QueryGraph.path(Seq(None, None, None), Seq(None, None)),
      QueryGraph(
        Seq(QVertex("a"), QVertex("b"), QVertex("c"), QVertex("d", Some(2))),
        Seq(QEdge("a", "b"), QEdge("b", "c"), QEdge("a", "c"), QEdge("c", "d"))))
    for (seed <- Seq(1, 4); q <- qs) {
      val (verts, edges) = randomLabeled(seed)
      val (eDF, vDF) = toDfs(verts, edges)
      val got = GraphMatcher.countMatchesAuto(spark, q, eDF, vDF).head().getLong(0)
      val want = brute(q, verts, edges)
      assert(got == want, s"auto seed=$seed q=${q.edges}: got $got want $want")
    }
  }

  private def star(centerL: Option[Int], leafLs: Seq[Option[Int]]): QueryGraph =
    QueryGraph(
      QVertex("u1", centerL) +: leafLs.zipWithIndex.map { case (l, i) => QVertex(s"u${i + 2}", l) },
      leafLs.indices.map(i => QEdge("u1", s"u${i + 2}")))

  test("countMatchesShell: falling-factorial shell counts equal enumeration") {
    for (seed <- Seq(2, 9)) {
      val (verts, edges) = randomLabeled(seed, n = 16, m = 40)
      val (eDF, vDF) = toDfs(verts, edges)
      // uniform star (one group), mixed-label star (two vlabel-disjoint
      // groups), wildcard star (one group, wildcard ok when alone)
      val cases = Seq(
        star(Some(1), Seq(Some(2), Some(2), Some(2))),
        star(Some(0), Seq(Some(1), Some(1), Some(2))),
        star(Some(1), Seq(None, None)),
        // core with an edge + shell: tailed triangle (d is the shell)
        QueryGraph(
          Seq(QVertex("a"), QVertex("b"), QVertex("c"), QVertex("d", Some(2))),
          Seq(QEdge("a", "b"), QEdge("b", "c"), QEdge("a", "c"), QEdge("c", "d"))))
      cases.foreach { q =>
        val got = GraphMatcher.countMatchesShell(spark, q, eDF, vDF)
        assert(got.isDefined, s"$q should be shell-countable")
        val n = got.get.head().getLong(0)
        val want = brute(q, verts, edges)
        assert(n == want, s"shell seed=$seed q=${q.edges}: got $n want $want")
        // homomorphic: plain product, no exclusions
        val gotH = GraphMatcher.countMatchesShell(spark, q, eDF, vDF, homomorphic = true)
        assert(gotH.get.head().getLong(0) == brute(q, verts, edges, homo = true),
          s"homo shell seed=$seed q=${q.edges}")
      }
    }
  }

  test("countMatchesShell refuses unsound decompositions (overlapping groups)") {
    val (verts, edges) = randomLabeled(3)
    val (eDF, vDF) = toDfs(verts, edges)
    // wildcard group + concrete group at the same attach: candidate sets
    // overlap, injective counting not expressible as a product
    assert(GraphMatcher.countMatchesShell(spark,
      star(Some(1), Seq(None, Some(2))), eDF, vDF).isEmpty)
    // single edge: no core
    assert(GraphMatcher.countMatchesShell(spark,
      QueryGraph(Seq(QVertex("a"), QVertex("b")), Seq(QEdge("a", "b"))), eDF, vDF).isEmpty)
    // but the same overlapping query IS homomorphically shell-countable
    assert(GraphMatcher.countMatchesShell(spark,
      star(Some(1), Seq(None, Some(2))), eDF, vDF, homomorphic = true).isDefined)
  }

  test("cost-weighted order (X4) beats greedy min-frequency on fan-out composition") {
    import spark.implicits._
    // 50 l0-srcs -> 1 l1-hub -> 100 l2-mids; 60 mids -> 60 l3-tails.
    // greedy seeds the rarest edge (l0-l1, 50) and immediately fans through
    // the hub (5000 intermediate rows); the cost order seeds l2-l3 (60) and
    // walks the 1:1 side first.
    val verts = ((0L until 50L).map(_ -> 0) ++ Seq(1000L -> 1) ++
      (2000L until 2100L).map(_ -> 2) ++ (3000L until 3060L).map(_ -> 3)).toMap
    val edges = ((0L until 50L).map(s => (s, 1000L, 0)) ++
      (2000L until 2100L).map(m => (1000L, m, 0)) ++
      (2000L until 2060L).map(m => (m, m + 1000L, 0))).toSet
    val (eDF, vDF) = toDfs(verts, edges)
    val q = QueryGraph.path(Seq(Some(0), Some(1), Some(2), Some(3)), Seq(None, None, None))

    val rel = GraphMatcher.materializedRelation(eDF, vDF)
    val stats = GraphMatcher.edgeStatistics(q, rel)
    val greedy = GraphMatcher.matchingOrder(q, stats.map { case (e, st) => e -> st.cnt })
    val cost = GraphMatcher.matchingOrderByCost(q, stats)
    assert(greedy.head == QEdge("u1", "u2"), "greedy seeds the min-frequency edge")
    assert(cost.head == QEdge("u3", "u4"), "cost order seeds the low-fan-out chain")

    // the join plan's intermediate rows after stage k are the injective
    // matches of the order's k-edge prefix subgraph, counted here in plain Scala
    def funnel(order: Seq[QEdge]): Seq[Long] = (1 to order.size).map { k =>
      val prefix = order.take(k)
      val bound = prefix.flatMap(e => Seq(e.u, e.v)).toSet
      brute(QueryGraph(q.vertices.filter(v => bound(v.name)), prefix), verts, edges)
    }
    val fGreedy = funnel(greedy)
    val fCost = funnel(cost)
    assert(fGreedy.last == fCost.last, "same final match count")
    assert(fCost.sum < fGreedy.sum,
      s"cost order total intermediate rows ${fCost.sum} !< greedy ${fGreedy.sum}")
    assert(fGreedy.max >= 5000L && fCost.max < 4000L,
      s"greedy peaks at ${fGreedy.max}, cost at ${fCost.max}")
    // matches found are identical
    val c1 = GraphMatcher.countMatches(spark, q, eDF, vDF).head().getLong(0)
    assert(c1 == brute(q, verts, edges))
  }

  test("findMatchesIndexed (shared relation) preserves results") {
    for ((q, seed) <- Seq(
      (QueryGraph.path(Seq(Some(0), Some(1), Some(2)), Seq(Some(1), Some(0))), 11),
      (QueryGraph.triangle, 12))) {
      val (verts, edges) = randomLabeled(seed)
      val (eDF, vDF) = toDfs(verts, edges)
      val withIdx = GraphMatcher.findMatchesIndexed(spark, q, eDF, vDF, rounds = 2).count()
      val without = GraphMatcher.findMatches(spark, q, eDF, vDF).count()
      assert(withIdx == without)
    }
  }
}
