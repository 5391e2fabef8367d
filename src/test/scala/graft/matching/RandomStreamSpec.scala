package graft.matching

import graft.SparkSpec
import graft.{Oracles => O}
import graft.graph.GraphUpdate
import graft.matching.MatchFixtures.brute

/** Randomized replay stress (the reference's strongest oracle, generalized:
  * maintained counters must equal from-scratch recompute under ARBITRARY
  * seeded update streams, not just hand-picked ones). */
class RandomStreamSpec extends SparkSpec {

  private def randomGraph(rnd: scala.util.Random, n: Int, m: Int)
      : (Map[Long, Int], Set[(Long, Long, Int)]) = {
    val verts = (0L until n.toLong).map(v => v -> rnd.nextInt(3)).toMap
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

  test("random delta batches: triangle maintenance equals recompute (20 instances)") {
    import spark.implicits._
    for (seed <- 1 to 20) {
      val rnd = new scala.util.Random(seed)
      val (_, all0) = randomGraph(rnd, 14 + rnd.nextInt(10), 30 + rnd.nextInt(30))
      val all = all0.toSeq.map(e => (e._1, e._2))
      val adds = all.filter(_ => rnd.nextInt(4) == 0)
      val base = all.filterNot(adds.contains)
      val dels = base.filter(_ => rnd.nextInt(4) == 0)
      val row = DeltaTriangles.maintain(spark,
        base.toDF("src", "dst"), adds.toDF("src", "dst"), dels.toDF("src", "dst")).head()
      val tOld = O.triangles(base)
      val tAll = O.triangles(all)
      val tNew = O.triangles(all.filterNot(dels.contains))
      assert((row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3)) ==
        ((tOld, tAll - tOld, tAll - tNew, tNew)), s"seed=$seed")
    }
  }

  test("random update streams: multi-query maintained counts equal recompute") {
    import spark.implicits._
    val qs = Map(
      "tri" -> QueryGraph.triangle,
      "path" -> QueryGraph.path(Seq(Some(0), Some(1), Some(2)), Seq(None, None)))
    for (seed <- Seq(3, 8, 5)) {
      val rnd = new scala.util.Random(seed)
      var (verts, edges) = randomGraph(rnd, 12, 24)
      val driver = new MultiQueryDriver(spark, qs,
        verts.toSeq.toDF("id", "vlabel"), edges.toSeq.toDF("src", "dst", "elabel"))
      var nextId = 100L
      var seq = 0L
      (1 to 4).foreach { _ =>
        val ops = scala.collection.mutable.ArrayBuffer.empty[GraphUpdate]
        (1 to 3 + rnd.nextInt(3)).foreach { _ =>
          seq += 1
          rnd.nextInt(4) match {
            case 0 => // add edge between existing vertices (canonical a < b,
              // so later -e ops address the stored orientation)
              val ids = verts.keys.toSeq.sorted
              val a = ids(rnd.nextInt(ids.size)); val b = ids(rnd.nextInt(ids.size))
              if (a != b) ops += GraphUpdate(seq, "e",
                math.min(a, b), math.max(a, b), rnd.nextInt(2))
            case 1 if edges.nonEmpty => // delete a random existing edge
              val sorted = edges.toSeq.sortBy(x => (x._1, x._2))
              val e = sorted(rnd.nextInt(sorted.size))
              ops += GraphUpdate(seq, "-e", e._1, e._2, e._3)
            case 2 => // fresh labeled vertex + an incident edge
              val v = nextId; nextId += 1
              ops += GraphUpdate(seq, "v", v, 0L, rnd.nextInt(3))
              seq += 1
              val ids = verts.keys.toSeq.sorted
              val o = ids(rnd.nextInt(ids.size))
              ops += GraphUpdate(seq, "e",
                math.min(v, o), math.max(v, o), rnd.nextInt(2))
            case _ if verts.size > 6 => // delete a vertex (cascade)
              val ids = verts.keys.toSeq.sorted
              ops += GraphUpdate(seq, "-v", ids(rnd.nextInt(ids.size)), 0L, 0)
            case _ => ()
          }
        }
        if (ops.nonEmpty) {
          driver.applyBatch(ops.toSeq.toDS())
          // plain-Scala oracle application (sequential semantics)
          ops.foreach { u =>
            u.op match {
              case "v" => verts += (u.id1 -> u.label)
              case "-v" =>
                verts -= u.id1
                edges = edges.filterNot(e => e._1 == u.id1 || e._2 == u.id1)
              case "e" =>
                if (verts.contains(u.id1) && verts.contains(u.id2) && u.id1 != u.id2) {
                  val (a, b) = (math.min(u.id1, u.id2), math.max(u.id1, u.id2))
                  if (!edges.exists(e => e._1 == a && e._2 == b))
                    edges += ((a, b, u.label))
                }
              case "-e" =>
                val (a, b) = (math.min(u.id1, u.id2), math.max(u.id1, u.id2))
                edges = edges.filterNot(e => e._1 == a && e._2 == b)
            }
          }
          qs.foreach { case (n, q) =>
            val want = brute(q, verts, edges)
            assert(driver.counts(n) == want,
              s"seed=$seed query=$n: maintained ${driver.counts(n)} vs $want " +
                s"(verts=$verts edges=$edges)")
          }
        }
      }
    }
  }
}
