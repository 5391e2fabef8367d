package graft.algo

import org.apache.spark.sql.DataFrame

import graft.{Oracles, SparkSpec}
import graft.graph.GraphBuilder
import graft.pages.PagesFixture

/** Cross-implementation agreement (the reference's own oracle methodology,
  * SURVEY.md §5): the CSR-block PageRank and the Dataset-join PageRank are
  * independent implementations that must agree within 1e-6, and both must
  * match the plain-Scala power iteration. */
class CsrPageRankSpec extends SparkSpec {

  private val BuildExchanges = 13

  /** build + runPacked + toRows: (id, rank) rows, iterations, metrics. */
  private def packed(edges: DataFrame, vertices: DataFrame, tol: Double, maxIter: Int,
                     blockP: Option[Int] = None) = {
    val blocks = CsrPageRank.build(spark, edges, vertices, blockP)
    val (state, iters, m) = CsrPageRank.runPacked(spark, blocks, tol = tol, maxIter = maxIter)
    (CsrPageRank.toRows(spark, state, blocks.vertsOrFail), iters, m)
  }

  private def rankMap(df: DataFrame): Map[Long, Double] =
    df.select("id", "rank").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("CSR PageRank == plain-Scala oracle == Dataset-join PageRank (1e-6)") {
    import spark.implicits._
    val pages = spark.createDataset(PagesFixture.generate(6, 15))
    val (v, e) = GraphBuilder.buildVerified(spark, pages)
    val vDF = v.toDF().localCheckpoint(true)
    val eDF = e.toDF().localCheckpoint(true)
    val vIds = vDF.select("id").as[Long].collect().toSeq
    val eIds = eDF.select("src", "dst").as[(Long, Long)].collect().toSeq

    val want = Oracles.pageRank(vIds, eIds, tol = 1e-12, maxIter = 500)
    val (rowsDF, iters, metrics) = packed(eDF, vDF, tol = 1e-8, maxIter = 500)
    assert(iters > 3)
    assert(metrics.last.deltaLinf < 1e-8)
    val got = rowsDF.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.size == vIds.size)
    vIds.foreach(id => assert(math.abs(got(id) - want(id)) < 1e-6, s"rank($id)"))

    val dsJoin = new PageRank(tol = 1e-8, maxIter = 500).run(spark, eDF, vDF)
      .state.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    vIds.foreach(id => assert(math.abs(got(id) - dsJoin(id)) < 1e-6, s"ximpl rank($id)"))
  }

  test("CSR build: blocks partition the vertex set; edge arrays aligned") {
    import spark.implicits._
    val pages = spark.createDataset(PagesFixture.generate(4, 12))
    val (v, e) = GraphBuilder.buildVerified(spark, pages)
    val blocks = CsrPageRank.build(spark, e.toDF(), v.toDF())
    val nVerts = blocks.vertsOrFail.collect().map(_.ids.length).sum
    assert(nVerts == v.count())
    val nEdges = blocks.graph.collect().map(_.edgeSrcIdx.length.toLong).sum
    assert(nEdges == e.count())
    // every block's ids sorted & unique (dense index contract)
    blocks.vertsOrFail.collect().foreach { vb =>
      assert(vb.ids.toSeq == vb.ids.toSeq.sorted.distinct)
    }
    // mass of init state = 1
    val mass = blocks.init.collect().map(_.ranks.sum).sum
    assert(math.abs(mass - 1.0) < 1e-9)
  }

  test("CSR build: the vertex index is exchanged once, and its joins read it in place") {
    // the index is placed by id: the degree join (on id) and the edges'
    // lookups (srcRef on src, dstRef on dst: the leaf read twice under
    // renamed attributes) exchange only their other side. One exchange
    // more, of the index or of one of its renamed reads, fails the pin
    import spark.implicits._
    val pages = spark.createDataset(PagesFixture.generate(4, 12))
    val (v, e) = GraphBuilder.buildVerified(spark, pages)
    val (_, qes) = sqlExecutions(CsrPageRank.build(spark, e.toDF(), v.toDF()))
    val n = qes.map(qe => shuffles(qe.executedPlan).size).sum
    assert(n == BuildExchanges, s"$n shuffle exchanges in build")
  }

  test("CSR PageRank on the star5 golden fixture (hub mass, closed form)") {
    import spark.implicits._
    // hub 0 with spokes 1..5 (directed spokes → hub); hub dangles
    val e = (1L to 5L).map(i => (i, 0L)).toDF("src", "dst")
    val v = (0L to 5L).toDF("id")
    val (rows, _, _) = packed(e, v, tol = 1e-10, maxIter = 300)
    val got = rows.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = Oracles.pageRank(0L to 5L, (1L to 5L).map(i => (i, 0L)), tol = 1e-12, maxIter = 500)
    (0L to 5L).foreach(i => assert(math.abs(got(i) - want(i)) < 1e-6))
    assert(got(0L) > got(1L) * 3, "hub must concentrate rank")
  }

  // the standing parity check: block counts 1, 4 and adaptive, all within
  // 1e-8 of the Dataset-join loop (PageRank) and the plain-Scala oracle
  test("packed RDD loop == Dataset loop == oracle (the scaling kernel)") {
    import spark.implicits._
    val pages = spark.createDataset(PagesFixture.generate(6, 15))
    val (v, e) = GraphBuilder.buildVerified(spark, pages)
    val vDF = v.toDF().localCheckpoint(true)
    val eDF = e.toDF().localCheckpoint(true)
    val vIds = vDF.select("id").as[Long].collect().toSeq
    val eIds = eDF.select("src", "dst").as[(Long, Long)].collect().toSeq

    val want = Oracles.pageRank(vIds, eIds, tol = 1e-13, maxIter = 2000)
    val dsJoin = rankMap(new PageRank(tol = 1e-10, maxIter = 2000).run(spark, eDF, vDF).state)
    assert(dsJoin.keySet == vIds.toSet)
    Seq(Some(1), Some(4), None).foreach { p =>
      val (rows, _, m) = packed(eDF, vDF, tol = 1e-10, maxIter = 2000, blockP = p)
      assert(m.last.deltaLinf < 1e-10, s"P=$p did not converge")
      val got = rankMap(rows)
      assert(got.keySet == vIds.toSet, s"P=$p vertex set")
      vIds.foreach { id =>
        assert(math.abs(got(id) - want(id)) < 1e-8, s"P=$p rank($id) vs oracle")
        assert(math.abs(got(id) - dsJoin(id)) < 1e-8, s"P=$p rank($id) vs Dataset-join")
      }
    }
  }

  // the artifact path of Bench's scaling section: build → save → load feeds
  // runPacked exactly the blocks it was built with, minus the vertex ids
  test("save → load → runPacked: bit-identical ranks; loaded blocks carry no ids") {
    import spark.implicits._
    val pages = spark.createDataset(PagesFixture.generate(4, 12))
    val (v, e) = GraphBuilder.buildVerified(spark, pages)
    // one block: every float sum then has a fixed order (with several, the
    // dangling mass is merged in task-completion order)
    val built = CsrPageRank.build(spark, e.toDF(), v.toDF(), Some(1))
    val dir = java.nio.file.Files.createTempDirectory("graft-csr-artifact").toString
    CsrPageRank.save(built, dir)
    val loaded = CsrPageRank.load(spark, dir)
    assert((loaded.n, loaded.p) == ((built.n, built.p)))
    def ranks(b: CsrPageRank.Blocks) = {
      val (state, iters, _) = CsrPageRank.runPacked(spark, b, tol = 1e-10, maxIter = 500)
      (rankMap(CsrPageRank.toRows(spark, state, built.vertsOrFail)), iters)
    }
    val (want, wantIters) = ranks(built)
    val (got, gotIters) = ranks(loaded)
    assert(gotIters == wantIters && wantIters > 3)
    assert(got.size == v.count())
    assert(got.keySet == want.keySet)
    got.foreach { case (id, r) =>
      assert(java.lang.Double.doubleToRawLongBits(r) ==
        java.lang.Double.doubleToRawLongBits(want(id)), s"rank($id): $r vs ${want(id)}")
    }
    intercept[IllegalStateException](loaded.vertsOrFail)
  }
}
