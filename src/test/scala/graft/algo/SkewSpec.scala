package graft.algo

import org.apache.spark.sql.functions._

import graft.{Oracles, SparkSpec}

/** Skew-path correctness: the salted variants must produce EXACTLY the same
  * results as the plain plans on graphs engineered to trip them — a single
  * giant component (hot label for CC's pointer jump) and a mega-hub with
  * huge out-degree (hot src key for PageRank's contribution join). */
class SkewSpec extends SparkSpec {

  /** One giant component (chain + chords) plus a few small ones. */
  private def giantComponent(n: Int): Seq[(Long, Long)] = {
    val chain = (0L until (n - 1).toLong).map(i => (i, i + 1))
    val chords = (0L until n.toLong by 7).flatMap(i =>
      if (i + 13 < n) Some((i, i + 13)) else None)
    val small = Seq((10000L, 10001L), (10002L, 10003L), (10004L, 10005L))
    chain ++ chords ++ small
  }

  test("CC salted jump path fires on a giant component and stays exact") {
    import spark.implicits._
    val edges = giantComponent(600)
    val eDF = edges.toDF("src", "dst")
    val vIds = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val vDF = vIds.toDF("id")
    val want = Oracles.components(vIds, edges)

    val plain = new ConnectedComponents(maxIter = 60)
    val gotPlain = plain.run(spark, eDF, vDF).state
      .as[(Long, Long)].collect().toMap
    assert(gotPlain == want)
    assert(plain.saltedSupersteps == 0, "default threshold must not salt here")

    // low threshold + tiny salt: the giant component's label is hot
    val salted = new ConnectedComponents(maxIter = 60,
      hotLabelThreshold = 20L, saltK = 4)
    val gotSalted = salted.run(spark, eDF, vDF).state
      .as[(Long, Long)].collect().toMap
    assert(gotSalted == want, "salted jump changed the labeling")
    assert(salted.saltedSupersteps > 0,
      "concentrated label distribution should trigger the salted path")
  }

  test("LP on a mega-hub holding half of all in-edges matches the plain-Scala oracle") {
    import spark.implicits._
    // 1..300 → hub 0, plus a ring over 1..300: the hub's messages are half
    // of the superstep's, all on one id
    val edges = (1L to 300L).map(i => (i, 0L)) ++
      (1L to 300L).map(i => (i, if (i == 300L) 1L else i + 1))
    val vIds = 0L to 300L
    val maxIter = 6
    var want = vIds.map(v => v -> v).toMap
    var changed = true
    for (_ <- 1 to maxIter if changed) {
      val next = Oracles.lpStep(want, edges)
      changed = next != want
      want = next
    }
    val got = new LabelPropagation(maxIter).run(spark, edges.toDF("src", "dst"), vIds.toDF("id"))
      .state.as[(Long, Long)].collect().toMap
    assert(got == want)
  }

  test("PageRank hub salting fires on a mega-hub and agrees within 1e-9") {
    import spark.implicits._
    // hub 0 -> 1..400 plus a background ring, so one src key dominates
    val hub = (1L to 400L).map(i => (0L, i))
    val ring = (1L to 400L).map(i => (i, if (i == 400L) 1L else i + 1))
    val edges = (hub ++ ring).toDF("src", "dst")
    val verts = (0L to 400L).toDF("id")

    val plain = PageRank.prepare(spark, edges, verts)
    assert(plain.hotIds.isEmpty)
    val salted = PageRank.prepare(spark, edges, verts, hotDegThreshold = 100L, saltK = 4)
    assert(salted.hotIds.isDefined, "hub with outDeg 400 must be detected")
    assert(salted.hotIds.get.count() == 1)

    def iterate(g: PageRank.Prepared, iters: Int): Map[Long, Double] = {
      var ranks = g.verts.select(col("id"), lit(1.0 / g.n).as("rank"),
        col("dangling"), col("outDeg")).localCheckpoint(true)
      var dm = PageRank.danglingMass(ranks)
      for (_ <- 1 to iters) {
        ranks = PageRank.superstep(g, ranks, dm, 0.85)
          .select("id", "rank", "dangling", "outDeg").localCheckpoint(true)
        dm = PageRank.danglingMass(ranks)
      }
      ranks.select("id", "rank").as[(Long, Double)].collect().toMap
    }
    val a = iterate(plain, 8)
    val b = iterate(salted, 8)
    assert(a.keySet == b.keySet)
    a.foreach { case (id, r) =>
      assert(math.abs(r - b(id)) < 1e-9, s"rank($id): $r vs ${b(id)}")
    }
  }
}
