package graft.util

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.graph.GraphUpdate
import graft.stream.Updates

/** DeltaDF's two leaf kinds must be observably identical. The sbt fixtures
  * are all far below the threshold, so without this spec the RDD-backed
  * path (the one every sf0.1 batch takes) would ship tested only by the
  * bench — here we pin (a) direct equivalence of the two leaves under the
  * plan shapes the hot path uses, and (b) the continuous tier end to end
  * with batches big enough to force RDD leaves everywhere. */
class DeltaDFSpec extends SparkSpec {

  test("leaf kinds agree: rows, schema, join/broadcast/anti behavior") {
    import spark.implicits._
    val rows = (0L until 20000L).map(i => (i, (i * 7) % 20000L, (i % 3).toInt))
    assert(rows.size > DeltaDF.threshold)
    val rdd = DeltaDF.of(spark, rows, "src", "dst", "elabel")
    val local = spark.createDataset(rows).toDF("src", "dst", "elabel")
    assert(rdd.schema.map(f => (f.name, f.dataType)) ==
      local.schema.map(f => (f.name, f.dataType)))
    assert(rdd.count() == local.count())
    // the hot path's shapes: union, broadcast semi/anti, aggregate
    val base = (0L until 5000L).map(i => (i * 3, i * 3 + 1, 0))
      .toDF("src", "dst", "elabel").localCheckpoint(true)
    def viaUnion(d: org.apache.spark.sql.DataFrame): Long =
      base.union(d).groupBy().count().head().getLong(0)
    def viaAnti(d: org.apache.spark.sql.DataFrame): Long =
      base.join(broadcast(d.select(col("src"), col("dst"))),
        Seq("src", "dst"), "left_anti").count()
    def viaSemi(d: org.apache.spark.sql.DataFrame): Long =
      d.join(broadcast(base.limit(100)), Seq("src", "dst"), "left_semi").count()
    assert(viaUnion(rdd) == viaUnion(local))
    assert(viaAnti(rdd) == viaAnti(local))
    assert(viaSemi(rdd) == viaSemi(local))
    // tiny inputs stay LocalRelation (zero-job collect path)
    val tiny = DeltaDF.of(spark, Seq((1L, 2L, 0)), "src", "dst", "elabel")
    assert(tiny.queryExecution.analyzed.collectLeaves().forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]))
    assert(rdd.queryExecution.analyzed.collectLeaves().forall(
      !_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]))
  }

  test("pure-edge fast path with an over-threshold batch equals the labeled path") {
    import spark.implicits._
    val ids = 300
    val rnd = new scala.util.Random(11)
    val v0 = (0 until ids).map(i => (i.toLong, i % 3)).toDF("id", "vlabel")
      .localCheckpoint(true)
    val e0 = (1 to ids * 3).map { _ =>
      (rnd.nextInt(ids).toLong, rnd.nextInt(ids).toLong, rnd.nextInt(3))
    }.filter(t => t._1 != t._2).groupBy(t => (t._1, t._2)).map(_._2.head).toSeq
      .toDF("src", "dst", "elabel").localCheckpoint(true)
    // > threshold ops so keysDf / newRows / delDirected all take RDD leaves
    val ops = (1 to 12000).map { i =>
      val a = rnd.nextInt(ids).toLong
      val b = (a + 1 + rnd.nextInt(ids - 1)) % ids
      if (rnd.nextInt(4) == 0) GraphUpdate(i.toLong, "-e", a, b, 0)
      else GraphUpdate(i.toLong, "e", a, b, rnd.nextInt(3))
    }
    assert(ops.size > DeltaDF.threshold)
    val (_, e1g) = Updates.applyBatchLabeledLocal(spark, v0, e0, ops)
    val e1gc = e1g.localCheckpoint(true)
    val general = Updates.edgeDeltaCollected(spark, e0, e1gc, ops)
    val (e1f, fast, _) = Updates.pureEdgeBatchLabeled(spark, e0, None, ops)
    assert(e1f.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet ==
      e1gc.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet)
    assert(fast.added.toSet == general.added.toSet)
    assert(fast.deleted.toSet == general.deleted.toSet)
    assert(fast.addedRows.toSet == general.addedRows.toSet)
    assert(fast.deletedRows.toSet == general.deletedRows.toSet)
  }

  test("maintained counts stay exact through an over-threshold micro-batch") {
    import spark.implicits._
    import graft.matching.{MultiQueryDriver, QueryGraph}
    import graft.matching.MatchFixtures.brute
    val ids = 120
    val rnd = new scala.util.Random(5)
    val verts = (0 until ids).map(i => i.toLong -> i % 3).toMap
    val e0 = scala.collection.mutable.Set.empty[(Long, Long, Int)]
    (1 to ids * 4).foreach { _ =>
      val x = rnd.nextInt(ids).toLong; val y = rnd.nextInt(ids).toLong
      val (a, b) = (math.min(x, y), math.max(x, y)) // canonical, like the bench stream
      if (a != b && !e0.exists(t => t._1 == a && t._2 == b))
        e0 += ((a, b, (a + b).toInt % 3))
    }
    val qs = Map(
      "p" -> QueryGraph.path(Seq(Some(0), Some(1), Some(2)), Seq(None, None)),
      "t" -> QueryGraph.triangle)
    val driver = new MultiQueryDriver(spark, qs,
      verts.toSeq.toDF("id", "vlabel"), e0.toSeq.toDF("src", "dst", "elabel"))
    // one big pure-edge batch (adds + deletes) above the leaf threshold
    val live = scala.collection.mutable.Set(e0.toSeq.map(t => (t._1, t._2)): _*)
    val ops = scala.collection.mutable.ArrayBuffer.empty[GraphUpdate]
    var i = 0L
    while (ops.size < 10000) {
      i += 1
      if (live.nonEmpty && rnd.nextInt(3) == 0) {
        val p = live.head; live -= p
        ops += GraphUpdate(i, "-e", p._1, p._2, 0)
      } else {
        val x = rnd.nextInt(ids).toLong; val y = rnd.nextInt(ids).toLong
        val (a, b) = (math.min(x, y), math.max(x, y))
        if (a != b && live.add((a, b))) ops += GraphUpdate(i, "e", a, b, (a + b).toInt % 3)
      }
    }
    assert(ops.size > DeltaDF.threshold)
    driver.applyBatchLocal(ops.toSeq)
    // final graph per the maintained algebra (canonical dedup on directed keys)
    val eFinal = scala.collection.mutable.Map(e0.toSeq.map(t => ((t._1, t._2), t._3)): _*)
    Updates.compactLocal(ops.toSeq).foreach { u =>
      if (u.op == "e") { if (!eFinal.contains((u.id1, u.id2))) eFinal((u.id1, u.id2)) = u.label }
      else eFinal.remove((u.id1, u.id2))
    }
    val eSet = eFinal.toSeq.map { case ((a, b), l) => (a, b, l) }.toSet
    assert(driver.counts("p") == brute(qs("p"), verts, eSet))
    assert(driver.counts("t") == brute(qs("t"), verts, eSet))
  }
}
