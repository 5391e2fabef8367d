package graft.matching

import graft.SparkSpec
import graft.graph.GraphUpdate
import graft.matching.MatchFixtures.brute

/** Stage-size observability for the materialized SJ-tree state (the repo's
  * no-silent-caps discipline applied to its one documented memory hazard):
  * compaction refreshes the per-stage row-count funnel, and a stage beyond
  * the warn threshold logs loudly instead of growing silently. */
class SJTreeFunnelSpec extends SparkSpec {

  test("compaction records stage sizes and warns on a low-selectivity prefix") {
    import spark.implicits._
    // unlabeled 3-path on a dense-ish random graph: the 2-edge prefix is
    // low-selectivity by construction (every wedge is a partial match)
    val rnd = new scala.util.Random(7)
    val verts = (0L until 20L).map(v => v -> 0).toMap
    val edges = scala.collection.mutable.Set.empty[(Long, Long, Int)]
    while (edges.size < 60) {
      val a = rnd.nextInt(20).toLong; val b = rnd.nextInt(20).toLong
      if (a < b && !edges.exists(e => e._1 == a && e._2 == b)) edges += ((a, b, 0))
    }
    val qs = Map("p3" -> QueryGraph.path(Seq(None, None, None), Seq(None, None)))
    val driver = new MultiQueryDriver(spark, qs,
      verts.toSeq.toDF("id", "vlabel"), edges.toSeq.toDF("src", "dst", "elabel"),
      stateCompactEvery = 1) // compact every batch
    val st = driver.stateOf("p3")
    st.stageWarnThreshold = 1L // any stored stage with > 1 row warns

    // a fresh pair (not in the random initial set, so the delta is nonempty)
    val (fa, fb) = (for { a <- 0L until 20L; b <- a + 1 until 20L
      if !edges.exists(e => e._1 == a && e._2 == b) } yield (a, b)).head
    driver.applyBatchLocal(Seq(GraphUpdate(1, "e", fa, fb, 0)))
    assert(st.lastStageSizes.nonEmpty, "compaction must record the funnel")
    assert(st.stageWarnings > 0, "stored stage above threshold must warn")
    // the funnel's final entry IS the maintained match relation's size
    assert(st.lastStageSizes.last._2 == st.matchCount)
    // and the maintained count stays exact
    val e1 = edges.toSet + ((fa, fb, 0))
    assert(st.matchCount == brute(qs("p3"), verts, e1))

    // raising the threshold stops the warnings on the next compaction
    val warnsBefore = st.stageWarnings
    st.stageWarnThreshold = Long.MaxValue
    driver.applyBatchLocal(Seq(GraphUpdate(2, "-e", fa, fb, 0)))
    assert(st.stageWarnings == warnsBefore)
    assert(st.matchCount == brute(qs("p3"), verts, edges.toSet))
  }
}
