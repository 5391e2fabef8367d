package graft.graph

import java.nio.file.Files

import graft.SparkSpec
import graft.{Oracles => O}

/** Reference text-format loader (S1/S2 parity, graph.cpp:217-285 grammar):
  * load a grammar-exact fixture, replay its update stream, and check the
  * reference's own oracle — maintained counts equal recompute (here for
  * Q = C₃, the triangle). */
class TextGraphSpec extends SparkSpec {

  private def write(name: String, lines: String): String = {
    val dir = Files.createTempDirectory("graft-textgraph")
    val p = dir.resolve(name)
    Files.writeString(p, lines)
    p.toString
  }

  test("loadGraph parses v/e lines, skips t headers, defaults missing elabel") {
    val path = write("g.txt",
      """t # 0
        |v 0 4
        |v 1 5
        |v 2 1
        |v 3 3
        |e 0 1 2
        |e 0 2 1
        |e 1 2
        |e 2 3 0
        |""".stripMargin)
    val (v, e) = TextGraph.loadGraph(spark, path)
    import spark.implicits._
    assert(v.as[(Long, Int)].collect().toSet ==
      Set((0L, 4), (1L, 5), (2L, 1), (3L, 3)))
    assert(e.as[(Long, Long, Int)].collect().toSet ==
      Set((0L, 1L, 2), (0L, 2L, 1), (1L, 2L, 0), (2L, 3L, 0)))
  }

  test("loadUpdates preserves file order as seq; ops map to the CDC schema") {
    val path = write("u.txt",
      """e 4 5 1
        |-e 0 1 2
        |v 9 7
        |-v 3 3
        |e 5 6 0
        |""".stripMargin)
    val ups = TextGraph.loadUpdates(spark, path).collect().sortBy(_.seq)
    assert(ups.map(_.op).toSeq == Seq("e", "-e", "v", "-v", "e"))
    assert(ups(0) == GraphUpdate(0, "e", 4, 5, 1))
    assert(ups(1) == GraphUpdate(1, "-e", 0, 1, 2))
    assert(ups(2) == GraphUpdate(2, "v", 9, 0, 7))
    assert(ups(3) == GraphUpdate(3, "-v", 3, 0, 3))
    assert(ups(4) == GraphUpdate(4, "e", 5, 6, 0))
  }

  test("replayed reference-format stream: triangle counts maintained == recompute") {
    // a C6 ring with one chord, then a stream that builds + breaks triangles
    val gPath = write("data.txt",
      (0 until 6).map(i => s"v $i 0").mkString("\n") + "\n" +
        Seq("e 0 1 0", "e 1 2 0", "e 2 3 0", "e 3 4 0", "e 4 5 0", "e 5 0 0",
          "e 0 2 0").mkString("\n") + "\n")
    val uPath = write("updates.txt",
      """e 1 3 0
        |e 0 3 0
        |-e 0 2 0
        |v 6 0
        |e 6 0 0
        |e 6 1 0
        |""".stripMargin)
    val (v0, e0) = TextGraph.loadGraph(spark, gPath)
    val ups = TextGraph.loadUpdates(spark, uPath)

    import spark.implicits._
    val sg = new graft.stream.StreamGraph(spark, v0.select("id"),
      e0.select("src", "dst"), maintainTriangles = true)
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[GraphUpdate]
    mem.addData(ups.collect().toSeq) // before start: AvailableNow snapshots
    val q = graft.stream.Updates.attach(mem.toDS())(sg.applyLocal)
    q.awaitTermination(120000)

    // oracle: recompute on the final edge set
    val finalEdges = Set((0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (5, 0),
      (1, 3), (0, 3), (6, 0), (6, 1)).map { case (a, b) => (a.toLong, b.toLong) }
    assert(sg.triangleCount == O.triangles(finalEdges.toSeq),
      s"maintained ${sg.triangleCount} (pos=${sg.trianglePositive}, neg=${sg.triangleNegative})")
    assert(sg.trianglePositive > 0 && sg.triangleNegative > 0)
  }
}
