package graft.stream

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.graph.GraphUpdate
import graft.stream.{UpdateInterpreter => I}

/** The driver-local update path (compaction, labeled and unlabeled
  * application with -v segmentation, the pure-edge fast path, canonical and
  * directed edge deltas) against the plain-Scala sequential interpreter of
  * the reference's M1-M4 semantics — randomized over many op mixes, plus
  * hand-written self-loop cases. */
class UpdatesLocalSpec extends SparkSpec {

  private def randomBatch(seed: Int, n: Int, ids: Int): Seq[GraphUpdate] = {
    val rnd = new scala.util.Random(seed)
    (1 to n).map { i =>
      val a = rnd.nextInt(ids).toLong
      val b = (rnd.nextInt(ids - 1) + 1 + a) % ids
      rnd.nextInt(10) match {
        case 0 => GraphUpdate(i.toLong, "v", a, 0L, rnd.nextInt(3))
        case 1 => GraphUpdate(i.toLong, "-v", a, 0L, 0)
        case 2 | 3 => GraphUpdate(i.toLong, "-e", a, b, 0)
        case _ => GraphUpdate(i.toLong, "e", a, b, rnd.nextInt(3))
      }
    }
  }

  private def baseGraph(seed: Int, ids: Int) = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed + 1000)
    val verts = (0 until ids).map(i => (i.toLong, rnd.nextInt(3))).toDF("id", "vlabel")
    val edges = (1 to ids * 2).map { _ =>
      val a = rnd.nextInt(ids).toLong
      val b = rnd.nextInt(ids).toLong
      (a, b, rnd.nextInt(3))
    }.filter(t => t._1 != t._2).distinct
      .groupBy(t => (t._1, t._2)).map(_._2.head).toSeq // unique directed keys
      .toDF("src", "dst", "elabel")
    (verts.localCheckpoint(true), edges.localCheckpoint(true))
  }

  test("compactLocal equals the sequential interpreter's last-op-per-key (random batches)") {
    (0 until 5).foreach { s =>
      val ops = randomBatch(s, 60, 12)
      assert(Updates.compactLocal(ops) == I.lastPerKey(ops), s"seed $s")
    }
  }

  test("applyBatchLabeledLocal equals the sequential interpreter (random, with -v segments)") {
    (0 until 6).foreach { s =>
      val (v0, e0) = baseGraph(s, 10)
      val ops = randomBatch(s, 40, 10)
      val (vB, eB) = Updates.applyBatchLabeledLocal(spark, v0, e0, ops)
      val want = I(I.graphOf(v0, e0), ops)
      assert(I.graphOf(vB, eB) == want, s"diverges at seed $s")
    }
  }

  test("local apply is broadcast-only: no shuffle ever touches the graph tables") {
    import spark.implicits._
    // adversarial: kill auto-broadcast so ONLY explicitly-hinted broadcasts
    // survive — at warehouse scale the graph tables are far over any
    // auto-broadcast threshold, so the plan shape must not depend on it
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try testBroadcastOnly()
    finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  private def testBroadcastOnly(): Unit = {
    import spark.implicits._
    val v0 = (0L until 2000L).map(i => (i, (i % 3).toInt)).toDF("id", "vlabel")
      .localCheckpoint(true)
    val e0 = (0L until 1999L).map(i => (i, i + 1, (i % 2).toInt))
      .toDF("src", "dst", "elabel").localCheckpoint(true)
    val ops = Seq(
      GraphUpdate(1, "e", 5L, 500L, 1),
      GraphUpdate(2, "e", 7L, 8L, 0),      // duplicate of an existing edge
      GraphUpdate(3, "-e", 100L, 101L, 0),
      GraphUpdate(4, "v", 3000L, 0L, 2),
      GraphUpdate(5, "-v", 1500L, 0L, 0))
    val (vL, eL) = Updates.applyBatchLabeledLocal(spark, v0, e0, ops)
    val (vU, eU) = Updates.applyBatchUnlabeledLocal(spark,
      v0.select(col("id")), e0.select(col("src"), col("dst")), ops)
    Seq(vL, eL, vU, eU).foreach { df =>
      df.collect() // finalize AQE
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("SortMergeJoin"), s"full-table sort-merge join in:\n$plan")
      assert(!plan.contains("ShuffledHashJoin"), s"full-table shuffled join in:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"shuffle exchange in:\n$plan")
    }
  }

  test("applyBatchUnlabeledLocal equals the sequential interpreter (random, with -v segments)") {
    (0 until 6).foreach { s =>
      val (v0l, e0l) = baseGraph(s + 100, 10)
      val v0 = v0l.select(col("id")).localCheckpoint(true)
      val e0 = e0l.select(col("src"), col("dst")).localCheckpoint(true)
      val ops = randomBatch(s + 100, 40, 10)
      val (vB, eB) = Updates.applyBatchUnlabeledLocal(spark, v0, e0, ops)
      // unlabeled tables carry no labels: compare id sets and key sets
      val want = I(I.graphOf(v0, e0), ops)
      assert(vB.collect().map(_.getLong(0)).toSet == want.vertices.keySet,
        s"vertices diverge at seed $s")
      assert(I.edgesOf(eB).keySet == want.edges.keySet, s"edges diverge at seed $s")
    }
  }

  test("pureEdgeBatchLabeled equals the sequential interpreter (random pure-edge batches)") {
    (0 until 8).foreach { s =>
      val (v0, e0) = baseGraph(s + 200, 10)
      // pure-edge mix with dup adds, dels of absent edges, and canon twins
      val rnd = new scala.util.Random(s + 200)
      val ops = (1 to 40).map { i =>
        val a = rnd.nextInt(10).toLong
        val b = (rnd.nextInt(9) + 1 + a) % 10
        if (rnd.nextInt(10) < 3) GraphUpdate(i.toLong, "-e", a, b, 0)
        else GraphUpdate(i.toLong, "e", a, b, rnd.nextInt(3))
      }
      val before = I.graphOf(v0, e0)
      val after = I(before, ops)
      val want = I.canonicalDelta(before, after)

      val (e1f, fast, labels) = Updates.pureEdgeBatchLabeled(spark, e0, Some(v0), ops)
      assert(I.edgesOf(e1f) == after.edges, s"after view diverges at seed $s")
      assert(fast.added.toSet == want.added, s"added keys diverge at seed $s")
      assert(fast.deleted.toSet == want.deleted, s"deleted keys diverge at seed $s")
      assert(fast.addedRows.toSet == want.addedRows, s"added rows diverge at seed $s")
      assert(fast.deletedRows.toSet == want.deletedRows, s"deleted rows diverge at seed $s")
      val ids = ops.flatMap(u => Seq(u.id1, u.id2)).toSet
      assert(labels == before.vertices.filter(kv => ids(kv._1)), s"labels diverge at seed $s")
    }
  }

  test("pureEdgeBatchLabeled applies self-loop deletes (incl. self-loop-only batches)") {
    import spark.implicits._
    val v0 = (0L to 5L).map(i => (i, (i % 3).toInt)).toDF("id", "vlabel")
      .localCheckpoint(true)
    // base WITH pre-existing self-loop rows (the maintained algebra never
    // creates them, but an initialEdges table may carry them)
    val e0 = Seq((0L, 1L, 0), (1L, 2L, 1), (2L, 2L, 2), (3L, 3L, 0), (4L, 5L, 1))
      .toDF("src", "dst", "elabel").localCheckpoint(true)
    val before = I.graphOf(v0, e0)

    def parity(ops: Seq[GraphUpdate], tag: String): Unit = {
      val after = I(before, ops)
      val want = I.canonicalDelta(before, after)
      val (e1f, fast, _) = Updates.pureEdgeBatchLabeled(spark, e0, None, ops)
      assert(I.edgesOf(e1f) == after.edges, s"$tag: after view diverges")
      assert(fast.added.toSet == want.added, s"$tag: added keys diverge")
      assert(fast.deleted.toSet == want.deleted, s"$tag: deleted keys diverge")
    }

    // ONLY self-loop ops — hits the empty-candidate early return: the '-e 2 2'
    // must still delete the pre-existing loop row, the 'e 4 4' is dropped
    parity(Seq(GraphUpdate(1, "-e", 2L, 2L, 0), GraphUpdate(2, "e", 4L, 4L, 2)),
      "self-loop-only")
    // mixed: normal ops plus a self-loop delete and a self-loop add
    parity(Seq(GraphUpdate(1, "e", 0L, 2L, 1), GraphUpdate(2, "-e", 3L, 3L, 0),
      GraphUpdate(3, "-e", 0L, 1L, 0), GraphUpdate(4, "e", 5L, 5L, 1)), "mixed")
    // add-then-delete and delete-then-add on the same self-loop key compact
    // to the last op
    parity(Seq(GraphUpdate(1, "e", 2L, 2L, 1), GraphUpdate(2, "-e", 2L, 2L, 0)),
      "add-then-del")
    parity(Seq(GraphUpdate(1, "-e", 3L, 3L, 0), GraphUpdate(2, "e", 3L, 3L, 1)),
      "del-then-add")
  }

  test("edgeDeltaCollected and edgeDeltaDirectedCollected equal the sequential interpreter's diff (random)") {
    (0 until 6).foreach { s =>
      val (v0, e0) = baseGraph(s + 50, 10)
      val ops = randomBatch(s + 50, 40, 10)
      val before = I.graphOf(v0, e0)
      val after = I(before, ops)
      val (_, e1) = Updates.applyBatchLabeledLocal(spark, v0, e0, ops)
      val e1c = e1.localCheckpoint(true)

      val want = I.canonicalDelta(before, after)
      val local = Updates.edgeDeltaCollected(spark, e0, e1c, ops)
      assert(local.added.toSet == want.added, s"added keys diverge at seed $s")
      assert(local.deleted.toSet == want.deleted, s"deleted keys diverge at seed $s")
      assert(local.addedRows.toSet == want.addedRows, s"added rows diverge at seed $s")
      assert(local.deletedRows.toSet == want.deletedRows, s"deleted rows diverge at seed $s")

      val (wantA, wantD) = I.directedDelta(before, after)
      val (addD, delD) = Updates.edgeDeltaDirectedCollected(spark, e0, e1c, ops)
      assert(addD.toSet == wantA, s"directed adds diverge at seed $s")
      assert(delD.toSet == wantD, s"directed deletes diverge at seed $s")
    }
  }
}
