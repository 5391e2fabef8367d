package graft.matching

import graft.SparkSpec
import graft.graph.GraphUpdate
import graft.matching.MatchFixtures.brute

/** The reference's flagship composition (J11 end-to-end): N query graphs
  * over ONE replayed update stream, per-query counts MAINTAINED by routed
  * delta rules over stored SJ-tree stages — validated against from-scratch
  * recomputation after every batch (the reference's own oracle: maintained
  * counters equal recompute, BatchUpdates3 + cross-algorithm agreement). */
class MultiQuerySpec extends SparkSpec {

  private val queries = Map(
    "tri" -> QueryGraph.triangle,
    "path" -> QueryGraph.path(Seq(Some(0), Some(1), Some(2)), Seq(None, None)),
    "star" -> QueryGraph(
      Seq(QVertex("c", Some(1)), QVertex("l1", Some(0)), QVertex("l2", Some(0))),
      Seq(QEdge("c", "l1"), QEdge("c", "l2"))))

  /** Every query's stored final-stage relation equals a from-scratch
    * enumeration of the oracle graph. */
  private def assertStoredRows(driver: MultiQueryDriver, verts: Map[Long, Int],
                               edges: Set[(Long, Long, Int)], at: String): Unit = {
    import spark.implicits._
    val vDF = verts.toSeq.toDF("id", "vlabel")
    val eDF = edges.toSeq.toDF("src", "dst", "elabel")
    driver.queries.foreach { case (n, q) =>
      val st = driver.stateOf(n)
      val stored = st.matches
        .collect().map(_.toSeq.map(_.asInstanceOf[Long])).toSet
      val fresh = GraphMatcher.findMatches(spark, q, eDF, vDF)
        .select(st.boundAt.last.map(org.apache.spark.sql.functions.col): _*)
        .collect().map(_.toSeq.map(_.asInstanceOf[Long])).toSet
      assert(stored == fresh, s"$at, query $n stored rows drifted")
    }
  }

  test("materialized-state driver (J6): counts AND stored match rows equal recompute") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    var verts = (0L until 14L).map(v => v -> rnd.nextInt(3)).toMap
    var edges = Set((0L, 1L, 0), (1L, 2L, 1), (2L, 0L, 0), (3L, 4L, 1),
      (4L, 5L, 0), (5L, 3L, 1), (6L, 7L, 0), (8L, 9L, 1), (10L, 11L, 0))
    val driver = new MultiQueryDriver(spark, queries,
      verts.toSeq.toDF("id", "vlabel"), edges.toSeq.toDF("src", "dst", "elabel"),
      stateCompactEvery = 2) // compaction mid-suite
    queries.foreach { case (n, q) =>
      assert(driver.counts(n) == brute(q, verts, edges), s"initial $n")
    }
    val batches: Seq[Seq[GraphUpdate]] = Seq(
      // batch 1: adds only (one closes a triangle, one is label-noise)
      Seq(GraphUpdate(1, "e", 6L, 8L, 0), GraphUpdate(2, "e", 7L, 8L, 1),
        GraphUpdate(3, "e", 6L, 9L, 0)),
      // batch 2: vertex add + incident edges
      Seq(GraphUpdate(4, "v", 20L, 0L, 1), GraphUpdate(5, "e", 20L, 0L, 2),
        GraphUpdate(6, "e", 20L, 10L, 0)),
      // batch 3: deletes (edge + cascading vertex delete)
      Seq(GraphUpdate(7, "-e", 0L, 1L, 0), GraphUpdate(8, "-v", 4L, 0L, 0)),
      // batch 4: mixed adds and deletes in one window
      Seq(GraphUpdate(9, "e", 9L, 10L, 1), GraphUpdate(10, "-e", 6L, 7L, 0),
        GraphUpdate(11, "e", 11L, 12L, 2)))
    def applyOracle(batch: Seq[GraphUpdate]): Unit = batch.foreach { u =>
      u.op match {
        case "v" => verts += (u.id1 -> u.label)
        case "-v" =>
          verts -= u.id1
          edges = edges.filterNot(e => e._1 == u.id1 || e._2 == u.id1)
        case "e" =>
          val (a, b) = (math.min(u.id1, u.id2), math.max(u.id1, u.id2))
          if (!edges.exists(e => e._1 == a && e._2 == b)) edges += ((a, b, u.label))
        case "-e" =>
          val (a, b) = (math.min(u.id1, u.id2), math.max(u.id1, u.id2))
          edges = edges.filterNot(e => e._1 == a && e._2 == b)
      }
    }
    batches.zipWithIndex.foreach { case (b, i) =>
      driver.applyBatch(b.toDS())
      applyOracle(b)
      queries.foreach { case (n, q) =>
        val want = brute(q, verts, edges)
        assert(driver.counts(n) == want,
          s"batch ${i + 1}, query $n: maintained ${driver.counts(n)} vs recompute $want")
      }
      assertStoredRows(driver, verts, edges, s"batch ${i + 1}")
    }

    // routing skipped at least some (query, batch) searches, and ran some
    assert(driver.searchesRun > 0, "some delta searches must have run")
    assert(driver.searchesSkipped > 0,
      s"routing should skip label-mismatched work (safeFraction=${driver.safeFraction})")
    assert(driver.fullRecomputes == 0)
    info(f"safe fraction: ${driver.safeFraction}%.2f " +
      s"(${driver.searchesSkipped} skipped / ${driver.searchesRun} run)")
  }

  test("materialized-state driver: per-batch driver actions independent of query count") {
    import spark.implicits._
    // the round-3 scale-killer was SERIAL per-query driver round-trips
    // (up to 2·|E(Q)| limit-1 count actions per query per batch); the J6
    // driver runs ONE batched collect for every query's pos+neg counts, so
    // the number of driver-blocking Dataset actions (SQL executions) per
    // batch must not grow with the number of registered queries. (Raw
    // Spark JOB count is not the metric: AQE/broadcast stages inside the
    // one action spawn cheap concurrent sub-jobs that scale with plan
    // size, not with driver latency.)
    val verts = (0L until 20L).map(v => v -> (v % 3).toInt).toMap
    val edges = (0L until 19L).map(i => (i, i + 1, (i % 2).toInt)).toSet
    val batch = Seq(GraphUpdate(1, "e", 2L, 10L, 0), GraphUpdate(2, "-e", 5L, 6L, 1))
    def actionsForOneBatch(qs: Map[String, QueryGraph]): Int = {
      val driver = new MultiQueryDriver(spark, qs,
        verts.toSeq.toDF("id", "vlabel"), edges.toSeq.toDF("src", "dst", "elabel"))
      val counter = new java.util.concurrent.atomic.AtomicInteger
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
          e match {
            case _: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
              counter.incrementAndGet(); ()
            case _ => ()
          }
      }
      spark.sparkContext.addSparkListener(l)
      try {
        driver.applyBatch(batch.toDS())
        org.apache.spark.GraftSparkShims.waitListenerBusEmpty(spark.sparkContext)
        counter.get()
      } finally spark.sparkContext.removeSparkListener(l)
    }
    val p3 = (l: Int) => QueryGraph.path(
      Seq(Some(0), Some(1), Some(l % 3)), Seq(Some(l % 2), None))
    val small = Map("tri" -> QueryGraph.triangle, "p0" -> p3(0))
    val large = small ++ (1 to 4).map(i => s"p$i" -> p3(i)).toMap
    val aSmall = actionsForOneBatch(small)
    val aLarge = actionsForOneBatch(large)
    assert(aLarge <= aSmall,
      s"per-batch driver actions must not grow with query count: " +
        s"${small.size} queries → $aSmall actions, ${large.size} queries → $aLarge actions")
    // absolute pin for the fast path: one candidate probe, one endpoint
    // label probe, one unioned count action (no v-ops in this batch, so no
    // relabel probe); a couple spare for Spark-version event drift
    assert(aLarge <= 5,
      s"fast-path batch should post ~3 driver actions, saw $aLarge")
  }

  test("relabel hazard triggers a sound full recompute") {
    import spark.implicits._
    val verts = Map(0L -> 0, 1L -> 1, 2L -> 2, 3L -> 0)
    val edges = Set((0L, 1L, 0), (1L, 2L, 0), (2L, 3L, 0))
    val qs = Map("path" -> QueryGraph.path(Seq(Some(0), Some(1), Some(2)), Seq(None, None)))
    val driver = new MultiQueryDriver(spark, qs,
      verts.toSeq.toDF("id", "vlabel"), edges.toSeq.toDF("src", "dst", "elabel"))
    assert(driver.counts("path") == brute(qs("path"), verts, edges))
    // relabel vertex 3 from 0 to 2: creates a new (0,1,2) path 1-2-3
    driver.applyBatch(Seq(GraphUpdate(1, "v", 3L, 0L, 2)).toDS())
    val verts2 = verts + (3L -> 2)
    assert(driver.fullRecomputes == 1)
    assert(driver.counts("path") == brute(qs("path"), verts2, edges))
    // the rebuilt stages hold exactly the relabeled graph's matches
    assertStoredRows(driver, verts2, edges, "after the relabel")
  }
}
