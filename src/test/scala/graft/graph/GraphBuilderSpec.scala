package graft.graph

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.pages.PagesFixture

class GraphBuilderSpec extends SparkSpec {

  private val S = 6
  private val P = 15

  test("extracted edge table equals the closed-form edge list (FIXTURES §6.2)") {
    import spark.implicits._
    val pages = spark.createDataset(PagesFixture.generate(S, P))
    val (vertices, edges) = GraphBuilder.buildVerified(spark, pages)

    // map hashed ids back to urls through the vertex dictionary
    val v = vertices.toDF()
    val got = edges.toDF()
      .join(v.select(col("id").as("src"), col("url").as("src_url")), "src")
      .join(v.select(col("id").as("dst"), col("url").as("dst_url")), "dst")
      .select("src_url", "dst_url").as[(String, String)].collect().toSet
    val want = PagesFixture.expectedEdges(S, P).toSet
    assert(got == want)
  }

  test("collision audit passes at test scale") {
    import spark.implicits._
    val pages = spark.createDataset(PagesFixture.generate(10, 40))
    GraphBuilder.collisionAudit(pages) // must not throw
  }

  test("buildSafe routes a forced id collision to the dense path; per-url PageRank identical") {
    import spark.implicits._
    val pages = spark.createDataset(PagesFixture.generate(S, P)).cache()

    // deliberately narrow id function: 90 urls into 16 buckets MUST collide
    val narrow = (c: org.apache.spark.sql.Column) => pmod(xxhash64(c), lit(16L))
    assert(GraphBuilder.idsCollide(pages, narrow))
    assert(!GraphBuilder.idsCollide(pages)) // real hash is clean at this scale

    val (vDense, eDense, usedDense) = GraphBuilder.buildSafe(spark, pages, narrow)
    assert(usedDense, "collision must route to the dense-dictionary build")
    val (vHash, eHash, usedDense2) = GraphBuilder.buildSafe(spark, pages)
    assert(!usedDense2)

    // ids are collision-free on the dense path
    val row = vDense.agg(countDistinct(col("url")), countDistinct(col("id"))).head()
    assert(row.getLong(0) == row.getLong(1))

    // per-URL ranks agree between the two id assignments
    def ranksByUrl(v: org.apache.spark.sql.Dataset[Vertex],
                   e: org.apache.spark.sql.Dataset[Edge]): Map[String, Double] =
      new graft.algo.PageRank(tol = 1e-9)
        .run(spark, e.toDF(), v.toDF()).state
        .join(v.toDF(), Seq("id"))
        .select(col("url"), col("rank")).as[(String, Double)].collect().toMap
    val a = ranksByUrl(vDense, eDense)
    val b = ranksByUrl(vHash, eHash)
    assert(a.keySet == b.keySet)
    a.foreach { case (url, r) =>
      assert(math.abs(r - b(url)) < 1e-9, s"rank($url): $r vs ${b(url)}")
    }
  }

  test("degree table matches closed form") {
    import spark.implicits._
    val pages = spark.createDataset(PagesFixture.generate(S, P))
    val (vertices, edges) = GraphBuilder.buildVerified(spark, pages)
    val want = PagesFixture.expectedEdges(S, P)
    val wantOut = want.groupBy(_._1).map { case (u, es) => u -> es.size.toLong }
    val wantIn = want.groupBy(_._2).map { case (u, es) => u -> es.size.toLong }

    val deg = GraphBuilder.degrees(edges.toDF())
      .join(vertices.toDF(), Seq("id"))
      .select("url", "outDeg", "inDeg").as[(String, Long, Long)].collect()
    assert(deg.nonEmpty)
    deg.foreach { case (url, o, i) =>
      assert(o == wantOut.getOrElse(url, 0L), s"outDeg($url)")
      assert(i == wantIn.getOrElse(url, 0L), s"inDeg($url)")
    }
    // the per-site hub (s,0) is the hot key: in-degree ≈ P-1
    val hub = deg.find(_._1 == PagesFixture.url(0, 0)).get
    assert(hub._3 >= P - 2)
  }

  test("hot-key detection finds the hubs") {
    import spark.implicits._
    val pages = spark.createDataset(PagesFixture.generate(S, P))
    val (_, edges) = GraphBuilder.buildVerified(spark, pages)
    val deg = GraphBuilder.degrees(edges.toDF())
    // hot keys: in-degree above the threshold (one hub per site)
    val hot = deg.where(col("inDeg") > P - 3).count()
    assert(hot == S.toLong) // one hub per site
  }

  test("undirected symmetrization: |und| == 2|simple| minus mutual-dup, no self loops") {
    import spark.implicits._
    val pages = spark.createDataset(PagesFixture.generate(S, P))
    val (_, edges) = GraphBuilder.buildVerified(spark, pages)
    val und = GraphBuilder.undirected(edges.toDF())
    assert(und.where(col("src") === col("dst")).count() == 0)
    val asSet = und.as[(Long, Long)].collect().toSet
    assert(asSet.forall { case (a, b) => asSet.contains((b, a)) })
  }
}
