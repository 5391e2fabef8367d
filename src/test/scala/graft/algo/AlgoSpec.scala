package graft.algo

import org.apache.spark.sql.{DataFrame, GraftSqlShims}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._

import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.{Seconds, Span}

import graft.{Oracles, SparkSpec}
import graft.graph.GraphBuilder
import graft.pages.PagesFixture
import graft.state.StateStore

/** Algorithm correctness vs plain-Scala oracles on the deterministic pages
  * fixture (FIXTURES.md §6.3-6.5) plus the golden micro-fixtures (§5). */
class AlgoSpec extends SparkSpec with TimeLimits {

  private implicit val signaler: Signaler = ThreadSignaler

  private val S = 6
  private val P = 15

  private lazy val fixture: (Seq[Long], Seq[(Long, Long)], DataFrame, DataFrame) = {
    import spark.implicits._
    val pages = spark.createDataset(PagesFixture.generate(S, P))
    val (vertices, edges) = GraphBuilder.buildVerified(spark, pages)
    val vDF = vertices.toDF().localCheckpoint(true)
    val eDF = edges.toDF().localCheckpoint(true)
    val vIds = vDF.select("id").as[Long].collect().toSeq
    val eIds = eDF.select("src", "dst").as[(Long, Long)].collect().toSeq
    (vIds, eIds, vDF, eDF)
  }

  // ------------------------------------------------------------- PageRank

  test("PageRank matches plain-Scala power iteration within 1e-6") {
    val (vIds, eIds, vDF, eDF) = fixture
    // step-delta tol must be tighter than the comparison tol: stopping at
    // L∞(step) < ε leaves up to ε·d/(1-d) ≈ 5.7ε to the true fixpoint
    val want = Oracles.pageRank(vIds, eIds, tol = 1e-12, maxIter = 500)
    val res = new PageRank(tol = 1e-8, maxIter = 500).run(spark, eDF, vDF)
    assert(res.iterations > 3 && res.iterations < 500)
    val got = res.state.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.size == vIds.size)
    vIds.foreach { v =>
      assert(math.abs(got(v) - want(v)) < 1e-6, s"rank($v)")
    }
  }

  test("PageRank mass conservation (dangling redistribution keeps Σr = 1)") {
    val (_, _, vDF, eDF) = fixture
    val res = new PageRank(tol = 1e-6).run(spark, eDF, vDF)
    val mass = res.state.agg(sum("rank")).head().getDouble(0)
    assert(math.abs(mass - 1.0) < 1e-9)
    // fixture guarantees exactly one dangling page — its mass must flow
    assert(res.metrics.nonEmpty && res.metrics.last.deltaLinf < 1e-6)
  }

  test("PageRank deterministic across shuffle-partition settings (within 1e-6)") {
    val (_, _, vDF, eDF) = fixture
    def runWith(parts: String): Map[Long, Double] = {
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      try new PageRank(tol = 1e-6).run(spark, eDF, vDF)
        .state.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      finally spark.conf.set("spark.sql.shuffle.partitions", "4")
    }
    val a = runWith("2")
    val b = runWith("16")
    a.keys.foreach(v => assert(math.abs(a(v) - b(v)) < 1e-6))
  }

  // ------------------------------------------------- Connected components

  test("CC labels exactly match BFS oracle; component count = ceil(S/2)") {
    val (vIds, eIds, vDF, eDF) = fixture
    val want = Oracles.components(vIds, eIds)
    val res = new ConnectedComponents(maxIter = 50).run(spark, eDF, vDF)
    val got = res.state.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
    // bridge rule pairs sites (0,1),(2,3),(4,5) → S/2 components for even S
    assert(got.values.toSet.size == (S + 1) / 2)
  }

  test("CC pointer jumping converges in far fewer supersteps than the diameter") {
    val (_, _, vDF, eDF) = fixture
    val res = new ConnectedComponents(maxIter = 50).run(spark, eDF, vDF)
    // per-site ring diameter is P/2 ≥ 7; two bridged rings ~ P; log2(2P)≈5
    assert(res.iterations <= 10, s"took ${res.iterations} supersteps")
  }

  test("CC on golden micro-fixtures (triangle, two 3-chains)") {
    import spark.implicits._
    // triangle.graph: 1 component
    val tri = Seq((0L, 1L), (1L, 2L), (0L, 2L)).toDF("src", "dst")
    val triV = Seq(0L, 1L, 2L).toDF("id")
    val r1 = new ConnectedComponents().run(spark, tri, triV)
    assert(r1.state.select("label").distinct().count() == 1)
    // two_components.graph: labels {0, 3}
    val two = Seq((0L, 1L), (1L, 2L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val twoV = (0L to 5L).toDF("id")
    val r2 = new ConnectedComponents().run(spark, two, twoV)
    val labels = r2.state.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L, 4L -> 3L, 5L -> 3L))
  }

  // ------------------------------------------------------ Label propagation

  test("LP single step matches plain-Scala oracle") {
    val (vIds, eIds, vDF, eDF) = fixture
    val und = GraphBuilder.undirected(eDF)
    val state0 = vDF.select(col("id")).withColumn("label", col("id"))
    val got = new LabelPropagation().step(und, state0)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val want = Oracles.lpStep(vIds.map(v => v -> v).toMap, eIds)
    assert(got == want)
  }

  test("LP deterministic across runs and partition settings") {
    val (_, _, vDF, eDF) = fixture
    def run(parts: String): Map[Long, Long] = {
      spark.conf.set("spark.sql.shuffle.partitions", parts)
      try new LabelPropagation(maxIter = 5).run(spark, eDF, vDF)
        .state.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      finally spark.conf.set("spark.sql.shuffle.partitions", "4")
    }
    assert(run("2") == run("16"))
  }

  // --------------------------------------------------------- Triangle count

  test("triangle count matches brute force on the fixture") {
    val (_, eIds, _, eDF) = fixture
    val want = Oracles.triangles(eIds)
    assert(want > 0, "fixture must contain triangles (k%7 seeds)")
    val got = TriangleCount.countTriangles(spark, eDF).head().getLong(0)
    assert(got == want)
  }

  test("triangle count on golden micro-fixtures") {
    import spark.implicits._
    val tri = Seq((0L, 1L), (1L, 2L), (0L, 2L)).toDF("src", "dst")
    assert(TriangleCount.countTriangles(spark, tri).head().getLong(0) == 1L)
    val chains = Seq((0L, 1L), (1L, 2L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    assert(TriangleCount.countTriangles(spark, chains).head().getLong(0) == 0L)
    // star5: hub with 5 spokes, no closures
    val star = (1L to 5L).map(i => (0L, i)).toDF("src", "dst")
    assert(TriangleCount.countTriangles(spark, star).head().getLong(0) == 0L)
  }

  test("triangle count invariant under edge direction (orientation is internal)") {
    import spark.implicits._
    val e = Seq((0L, 1L), (2L, 1L), (0L, 2L), (2L, 3L)).toDF("src", "dst") // same triangle, mixed dirs
    assert(TriangleCount.countTriangles(spark, e).head().getLong(0) == 1L)
  }

  // ------------------------------------------------------ superstep driver

  /** SQL executions that `body` posts. */
  private def executions[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    org.apache.spark.GraftSparkShims.waitListenerBusEmpty(sc)
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case _: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            n.incrementAndGet(); ()
          case _ => ()
        }
    }
    sc.addSparkListener(l)
    try {
      val r = body
      org.apache.spark.GraftSparkShims.waitListenerBusEmpty(sc)
      (r, n.get())
    } finally sc.removeSparkListener(l)
  }

  test("one SQL execution per superstep: CC, LP, PageRank, fixedIterations, BFS") {
    // the eager checkpoint is the superstep's only execution: it runs the
    // step's shuffle stages and accumulates the observed convergence row in
    // its result stage. Setup counts are fixed per algorithm.
    val (vIds, _, vDF, eDF) = fixture
    def check(what: String, setup: Int, supersteps: Int, seen: Int): Unit =
      assert(seen == setup + supersteps,
        s"$what: $seen SQL executions for $supersteps supersteps (setup $setup)")
    val (cc, ccN) = executions(new ConnectedComponents().run(spark, eDF, vDF))
    // checkpoints of the undirected view and of the initial labeling
    check("cc", 2, cc.iterations, ccN)
    val (lp, lpN) = executions(new LabelPropagation(maxIter = 5).run(spark, eDF, vDF))
    // checkpoints of the undirected view and of the initial labeling
    check("lp", 2, lp.iterations, lpN)
    // prepare: out-degree, adjacency and vertex-state checkpoints (the max
    // out-degree hub probe is observed on the first, |V| on the last); then
    // the initial ranks' checkpoint (their dangling mass observed on it)
    val (pr, prN) = executions(new PageRank(tol = 1e-6).run(spark, eDF, vDF))
    check("pagerank", 4, pr.iterations, prN)
    val (_, fiN) = executions(PageRank.fixedIterations(spark, eDF, vDF, iters = 10))
    check("fixedIterations", 4, 10, fiN)
    import spark.implicits._
    val (depths, bfsN) = executions(Bfs.depths(spark, eDF, Seq(vIds.min).toDF("id")))
    // one level per depth plus the empty level that halts the loop
    val levels = depths.agg(max("depth")).head().getLong(0).toInt + 1
    // checkpoints of the undirected view and of the sources
    check("bfs", 2, levels, bfsN)
  }

  test("a run leaves no checkpoint but its result's: PageRank, CC, LP, BFS") {
    // the setup tables, the initial state and every superstep but the last
    // are released by the algorithm; the caller releases the result
    val (vIds, _, vDF, eDF) = fixture
    import spark.implicits._
    val runs = Seq[(String, () => DataFrame)](
      "pagerank" -> (() => new PageRank().run(spark, eDF, vDF).state),
      "cc" -> (() => new ConnectedComponents().run(spark, eDF, vDF).state),
      "lp" -> (() => new LabelPropagation().run(spark, eDF, vDF).state),
      "bfs" -> (() => Bfs.depths(spark, eDF, Seq(vIds.min).toDF("id"))))
    for ((what, run) <- runs) {
      // held strongly: the context holds persisted RDDs weakly, so one that
      // is unreachable could otherwise vanish between the two reads
      val before = spark.sparkContext.getPersistentRDDs.toMap
      val state = run()
      assert(state.count() > 0, what)
      GraftSqlShims.release(state)
      val after = spark.sparkContext.getPersistentRDDs.keySet
      assert(after == before.keySet, s"$what left ${after -- before.keySet}")
    }
  }

  /** Final adaptive plans of the superstep checkpoints that `body` runs, in
    * superstep order. */
  private def superstepPlans[T](body: => T): (T, Seq[SparkPlan]) = {
    val (r, qes) = sqlExecutions(body)
    (r, qes.filter(_.observedMetrics.contains("superstep")).map(_.executedPlan))
  }

  test("checkpoints keep their hash partitioning: one exchange per PageRank superstep") {
    // adj (hash by src) and the rank state (hash by id) are co-partitioned:
    // only the contributions' groupBy(dst) shuffles — the messages
    val (vIds, eIds, vDF, eDF) = fixture
    val (pr, prPlans) = superstepPlans(new PageRank(tol = 1e-10, maxIter = 500).run(spark, eDF, vDF))
    assert(prPlans.size == pr.iterations && pr.iterations > 3)
    prPlans.zipWithIndex.drop(1).foreach { case (plan, k) =>
      assert(shuffles(plan).size == 1, s"superstep ${k + 1}:\n$plan")
    }
    val want = Oracles.pageRank(vIds, eIds, tol = 1e-12, maxIter = 500)
    val got = pr.state.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.size == vIds.size)
    vIds.foreach(v => assert(math.abs(got(v) - want(v)) < 1e-8, s"rank($v)"))
  }

  test("partition-stable supersteps: LP and BFS exchange once, CC at most twice, no leaf by its key") {
    // und stays hash(src) and the state hash(id): after the first
    // superstep only messages move (LP's and BFS's by id, CC's by id plus
    // the state by label for the pointer jump). An exchange keyed on src,
    // or an exchange keyed on id with no join below it, re-exchanges a
    // leaf: und, or the state
    val (vIds, _, vDF, eDF) = fixture
    import spark.implicits._
    def keys(e: ShuffleExchangeLike): Set[String] = e.outputPartitioning match {
      case h: HashPartitioning => h.references.map(_.name).toSet
      case _ => Set.empty[String]
    }
    val runs = Seq[(String, Int, () => Unit)](
      ("lp", 1, () => { new LabelPropagation(maxIter = 5).run(spark, eDF, vDF); () }),
      ("bfs", 1, () => { Bfs.depths(spark, eDF, Seq(vIds.min).toDF("id")); () }),
      ("cc", 2, () => { new ConnectedComponents().run(spark, eDF, vDF); () }))
    for ((what, most, run) <- runs) {
      val (_, plans) = superstepPlans(run())
      assert(plans.size > 2, s"$what ran ${plans.size} supersteps")
      for ((plan, k) <- plans.zipWithIndex.drop(1)) {
        val es = shuffles(plan)
        val where = s"$what superstep ${k + 1}:\n$plan"
        if (most == 1) assert(es.size == 1, where) else assert(es.size <= most, where)
        es.foreach { e =>
          assert(!keys(e).contains("src"), s"und re-exchanged; $where")
          assert(!(keys(e) == Set("id") && !e.child.exists(_.isInstanceOf[BaseJoinExec])),
            s"state re-exchanged by id; $where")
        }
      }
    }
  }

  test("one SQL execution per StateStore commit: PageRank and CC") {
    // the commit's parquet write is its only execution; its lineage comes
    // from the written footers, so nothing re-reads the snapshot
    val (_, _, vDF, eDF) = fixture
    def store() = Some(new StateStore(
      java.nio.file.Files.createTempDirectory("graft-algo-store").toString))
    for (algo <- Seq(new PageRank(tol = 1e-6), new ConnectedComponents())) {
      val (plain, plainN) = executions(algo.run(spark, eDF, vDF))
      val (stored, storedN) = executions(algo.run(spark, eDF, vDF, store()))
      assert(stored.iterations == plain.iterations, algo.name)
      assert(storedN == plainN + stored.iterations,
        s"${algo.name}: $storedN SQL executions with a store, $plainN without, " +
          s"${stored.iterations} supersteps")
    }
  }

  test("observed superstep metrics match a recount from consecutive snapshots: CC, PageRank") {
    import spark.implicits._
    val (_, _, vDF, eDF) = fixture
    def store() = new StateStore(
      java.nio.file.Files.createTempDirectory("graft-algo-store").toString)
    def snapshots[T](st: StateStore, name: String, iterations: Int)(
        read: DataFrame => Map[Long, T]): Seq[Map[Long, T]] =
      (1 to iterations).map(k => read(st.load(spark, name, k)))

    val ccStore = store()
    val cc = new ConnectedComponents().run(spark, eDF, vDF, Some(ccStore))
    assert(cc.iterations >= 2)
    val labels = snapshots(ccStore, "cc", cc.iterations)(
      _.select("id", "label").as[(Long, Long)].collect().toMap)
    for (m <- cc.metrics if m.iteration >= 2) {
      val (before, after) = (labels(m.iteration - 2), labels(m.iteration - 1))
      assert(m.rows == after.size, s"cc rows at ${m.iteration}")
      assert(m.changed == after.count { case (id, l) => before(id) != l },
        s"cc changed at ${m.iteration}")
    }

    val prStore = store()
    val pr = new PageRank(tol = 1e-6).run(spark, eDF, vDF, Some(prStore))
    assert(pr.iterations >= 2)
    val ranks = snapshots(prStore, "pagerank", pr.iterations)(
      _.select("id", "rank").as[(Long, Double)].collect().toMap)
    for (m <- pr.metrics if m.iteration >= 2) {
      val (before, after) = (ranks(m.iteration - 2), ranks(m.iteration - 1))
      val d = after.toSeq.map { case (id, r) => math.abs(r - before(id)) }
      assert(m.rows == after.size, s"pagerank rows at ${m.iteration}")
      assert(math.abs(m.deltaLinf - d.max) <= 1e-12, s"pagerank linf at ${m.iteration}")
      assert(math.abs(m.deltaL1 - d.sum) <= 1e-12, s"pagerank l1 at ${m.iteration}")
      // the state keeps its shuffle partitions: one lineage entry per
      // written partition file, summing to the manifest's row count
      val manifest = prStore.manifestJson("pagerank", m.iteration)
      val entries = """"partitionId":(\d+),"rowCount":(\d+)""".r.findAllMatchIn(manifest)
        .map(e => e.group(1).toInt -> e.group(2).toLong).toSeq
      val files = new java.io.File(
        s"${prStore.root}/pagerank/it=${m.iteration}/data").list().count(_.startsWith("part-"))
      assert(entries.size == 4 && entries.size == files, manifest)
      assert(entries.map(_._2).sum == m.rows && m.rows ==
        """"rowCount":(\d+)""".r.findFirstMatchIn(manifest).get.group(1).toLong, manifest)
    }
  }

  test("a superstep whose step returns no rows observes zero metrics") {
    import spark.implicits._
    val aggs = Seq(count(lit(1)).as("rows"), sum(col("id")).as("changed"),
      sum(col("id").cast("double")).as("l1"), max(col("id").cast("double")).as("linf"))
    // pruned by the optimizer, and empty only at run time
    for ((what, empty) <- Seq[(String, DataFrame => DataFrame)](
           "pruned" -> (_.where(lit(false))),
           "runtime" -> (_.where(col("id") > 100L)))) {
      // the loop takes over (and releases) its init: one per run
      val init = (1L to 8L).toDF("id").localCheckpoint(true)
      val res = Superstep.run(spark, "empty", init, maxIter = 3, aggs = aggs,
        keep = identity) { (_, state, _) => empty(state) }
      assert(res.iterations == 1, what)
      val m = res.metrics.head
      assert((m.rows, m.changed, m.deltaL1, m.deltaLinf) == (0L, 0L, 0.0, 0.0), what)
      assert(res.state.count() == 0, what)
    }
  }

  test("CC on 64 scrambled 64-vertex rings: exact, size estimate capped") {
    // ~30 supersteps: without capped checkpoint stats the estimate
    // multiplies every superstep and planning stalls in BigInteger math
    import spark.implicits._
    val perm = new scala.util.Random(17).shuffle((0L until 64L * 64).toVector)
    val eIds = for (r <- 0 until 64; i <- 0 until 64)
      yield (perm(r * 64 + i), perm(r * 64 + (i + 1) % 64))
    failAfter(Span(300, Seconds)) {
      val res = new ConnectedComponents(maxIter = 60)
        .run(spark, eIds.toDF("src", "dst"), perm.toDF("id"))
      val est = res.state.queryExecution.optimizedPlan.stats.sizeInBytes
      assert(est <= BigInt(Long.MaxValue), s"state size estimate of ${est.bitLength} bits")
      assert(res.iterations > 20, s"${res.iterations} supersteps")
      assert(res.state.as[(Long, Long)].collect().toMap == Oracles.components(perm, eIds))
    }
  }

  test("CC and LP through a StateStore: one manifest per superstep matching its metrics") {
    import spark.implicits._
    val (_, _, vDF, eDF) = fixture
    def field(json: String, name: String): Long =
      s""""$name":(\\d+)""".r.findFirstMatchIn(json).get.group(1).toLong
    for (algo <- Seq(new ConnectedComponents(), new LabelPropagation(maxIter = 5))) {
      val store = new StateStore(
        java.nio.file.Files.createTempDirectory("graft-algo-store").toString)
      val res = algo.run(spark, eDF, vDF, Some(store))
      assert(res.iterations > 0)
      assert(store.latestCompleted(algo.name) == res.iterations, algo.name)
      res.metrics.foreach { m =>
        val manifest = store.manifestJson(algo.name, m.iteration)
        assert(field(manifest, "changed") == m.changed, s"${algo.name} it ${m.iteration}")
        assert(field(manifest, "rowCount") == m.rows, s"${algo.name} it ${m.iteration}")
      }
      val last = store.load(spark, algo.name, res.iterations).as[(Long, Long)].collect().toMap
      assert(last == res.state.as[(Long, Long)].collect().toMap, algo.name)
    }
  }

  // ----------------------------------------------- permutation invariance

  test("vertex-id permutation invariance (CC component sizes, triangles, PR multiset)") {
    import spark.implicits._
    val (vIds, eIds, vDF, eDF) = fixture
    // permute ids by a fixed bijection
    val perm = vIds.sorted.zip(new scala.util.Random(7).shuffle(vIds.sorted)).toMap
    val pV = vIds.map(perm).toDF("id")
    val pE = eIds.map { case (a, b) => (perm(a), perm(b)) }.toDF("src", "dst")

    val t0 = TriangleCount.countTriangles(spark, eDF).head().getLong(0)
    val t1 = TriangleCount.countTriangles(spark, pE).head().getLong(0)
    assert(t0 == t1)

    val s0 = new ConnectedComponents().run(spark, eDF, vDF)
      .state.groupBy("label").count().select("count").as[Long].collect().sorted.toSeq
    val s1 = new ConnectedComponents().run(spark, pE, pV)
      .state.groupBy("label").count().select("count").as[Long].collect().sorted.toSeq
    assert(s0 == s1)
  }
}
