package graft.stream

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.graph.GraphUpdate

/** Update-stream (CDC) application and per-batch edge deltas.
  *
  * Reference semantics being reproduced (SURVEY.md §2.2, §2.5-P5, §3.3):
  *  - `InsertUnit {v|-v|e|-e}` records applied in stream order
  *    (ParaCOSM/CSM/utils/types.h:34-42, graph.cpp:251-285);
  *  - mutations are M1-M4 (AddVertex/RemoveVertex/AddEdge/RemoveEdge,
  *    graph.cpp:23-116) — here pure table algebra: union / anti-join over
  *    immutable tables, never in-place mutation.
  *
  * Batch compaction: within one micro-batch, the LAST op per key wins
  * (vertex key = id; edge key = (id1,id2)) — standard CDC log compaction.
  * Compaction is PER-KEY only: it is equivalent to sequential in-order
  * application whenever the batch has no vertex delete, because v/e/-e ops
  * touch only their own key. A `-v` interacts across keys (it cascades to
  * incident edges), so a batch mixing `-v` with other ops is applied as
  * seq-ordered SEGMENTS split at each vertex delete — exact sequential
  * semantics at the cost of one table-algebra pass per segment.
  *
  * Everything here is DRIVER-LOCAL: a micro-batch is tiny next to the
  * graph, and each Spark action pays a fixed scheduler + broadcast-build
  * cost, so the batch is collected once and compaction, segmentation and
  * delta candidacy are plain Scala over |Δ| rows. The graph tables are
  * touched only by (a) lazy overlay views whose delta sides are
  * LocalRelations (broadcast builds run on the driver, zero jobs) and
  * (b) ONE probe action for the before/after candidate scan. The test
  * sources pin every function against a sequential interpreter of the
  * reference's M1-M4 semantics (UpdatesLocalSpec).
  */
object Updates {

  /** Structured Streaming ingestion: attach `apply` to a streaming update
    * source. Each micro-batch is collected once (it is |Δ|-sized), sorted
    * into stream order and, when non-empty, handed to `apply` — for
    * example `StreamGraph.applyLocal` or `MultiQueryDriver.applyBatchLocal`,
    * whose state lives across batches on the driver. */
  def attach(updates: Dataset[GraphUpdate], trigger: Trigger = Trigger.AvailableNow())(
      apply: Seq[GraphUpdate] => Unit): StreamingQuery =
    updates.writeStream
      .trigger(trigger)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[GraphUpdate], _: Long) =>
        val ops = batch.collect().toSeq.sortBy(_.seq)
        if (ops.nonEmpty) apply(ops)
      }
      .start()

  /** Last op (max seq) per key, in seq order. One mutable-map pass (opt
    * round 6): the old groupBy built a per-key Seq and ran maxBy over it —
    * measured 1.2s on a 160k-op window, a pure driver-side term the
    * micro-batch wall pays before any job starts. */
  def compactLocal(ops: Seq[GraphUpdate]): Seq[GraphUpdate] = {
    val m = new java.util.HashMap[(Boolean, Long, Long), GraphUpdate](ops.size * 2)
    ops.foreach { u =>
      val k = if (u.op == "e" || u.op == "-e") (true, u.id1, u.id2) else (false, u.id1, 0L)
      val prev = m.get(k)
      if (prev == null || u.seq > prev.seq) m.put(k, u)
    }
    import scala.jdk.CollectionConverters._
    m.values().asScala.toSeq.sortBy(_.seq)
  }

  /** Seq-ordered segments split at each `-v` (the -v closes its segment). */
  def segmentsLocal(ops: Seq[GraphUpdate]): Seq[Seq[GraphUpdate]] = {
    val sorted = ops.sortBy(_.seq)
    val vDelSeqs = sorted.filter(_.op == "-v").map(_.seq)
    if (vDelSeqs.isEmpty || vDelSeqs.length == sorted.length) Seq(sorted)
    else {
      val segs = Seq.newBuilder[Seq[GraphUpdate]]
      var lo = Long.MinValue
      (vDelSeqs.map(Some(_)) :+ None).foreach { hi =>
        val seg = hi match {
          case Some(s) => sorted.filter(u => u.seq > lo && u.seq <= s)
          case None => sorted.filter(_.seq > lo)
        }
        if (seg.nonEmpty) segs += seg
        hi.foreach(s => lo = s)
      }
      segs.result()
    }
  }

  /** LAZY labeled batch application (the matching tier): vertices carry
    * vlabel, edges carry elabel. Per-segment compaction; vertex adds UPSERT
    * the label (reference AddVertex, graph.cpp:23-49), edge adds keep the
    * existing row on duplicates (sorted-insert dedup, graph.cpp:63-64),
    * self-loop adds are dropped and a -v cascades to its incident edges.
    * ZERO Spark actions: every segment delta is a LocalRelation and the
    * result stays a view over the input tables. The caller owns materialization
    * cadence (graft.util.Generations: roll per batch, compact every K). */
  def applyBatchLabeledLocal(spark: SparkSession, vertices: DataFrame,
                             edges: DataFrame, ops: Seq[GraphUpdate])
      : (DataFrame, DataFrame) = {
    import spark.implicits._
    var v = vertices.select(col("id"), col("vlabel"))
    var e = edges.select(col("src"), col("dst"), col("elabel"))
    segmentsLocal(ops).foreach { seg =>
      val c = compactLocal(seg)
      val vAdds = c.filter(_.op == "v").map(u => (u.id1, u.label))
      val vDels = c.filter(_.op == "-v").map(_.id1)
      val eAdds = c.filter(_.op == "e").map(u => (u.id1, u.id2, u.label))
      val eDels = c.filter(_.op == "-e").map(u => (u.id1, u.id2))

      if (vAdds.nonEmpty || vDels.nonEmpty) {
        val vAddDf = graft.util.DeltaDF.of(spark, vAdds, "id", "vlabel")
        val vDelDf = graft.util.DeltaDF.of(spark, vDels.map(Tuple1(_)), "id")
        var v1 = v
        if (vAdds.nonEmpty)
          v1 = v1.join(broadcast(vAddDf.select(col("id"))), Seq("id"), "left_anti")
            .union(vAddDf)
        if (vDels.nonEmpty)
          v1 = v1.join(broadcast(vDelDf), Seq("id"), "left_anti")
        v = v1
      }
      if (eAdds.nonEmpty || eDels.nonEmpty || vDels.nonEmpty) {
        var e1 = e
        if (eAdds.nonEmpty) {
          val eAddDf = graft.util.DeltaDF.of(spark,
            eAdds.filter(t => t._1 != t._2), "src", "dst", "elabel")
          // keep-existing-on-duplicate, broadcast-only: a LeftAnti with the
          // BIG table on the right cannot broadcast-build (BuildRight only),
          // so "adds not already present" is derived through a delta-sized
          // `present` probe: stream E once with the add keys broadcast, then
          // anti-join the adds against the (tiny) present set
          val present = e.join(broadcast(eAddDf.select(col("src"), col("dst"))),
            Seq("src", "dst"), "left_semi")
          e1 = e1.union(eAddDf.join(
            broadcast(present.select(col("src"), col("dst"))),
            Seq("src", "dst"), "left_anti"))
        }
        if (eDels.nonEmpty)
          e1 = e1.join(broadcast(graft.util.DeltaDF.of(spark, eDels, "src", "dst")),
            Seq("src", "dst"), "left_anti")
        if (vDels.nonEmpty) {
          val vDelDf = graft.util.DeltaDF.of(spark, vDels.map(Tuple1(_)), "id")
          e1 = e1
            .join(broadcast(vDelDf.withColumnRenamed("id", "src")), Seq("src"), "left_anti")
            .join(broadcast(vDelDf.withColumnRenamed("id", "dst")), Seq("dst"), "left_anti")
        }
        e = e1.select(col("src"), col("dst"), col("elabel"))
      }
    }
    (v, e)
  }

  /** LAZY UNLABELED batch application with ZERO Spark actions: the same
    * segmentation and per-segment algebra as `applyBatchLabeledLocal`, with
    * dedup as anti-join-the-adds (sound under the maintained no-duplicates
    * invariant, which this function preserves). */
  def applyBatchUnlabeledLocal(spark: SparkSession, vertices: DataFrame,
                               edges: DataFrame, ops: Seq[GraphUpdate])
      : (DataFrame, DataFrame) = {
    import spark.implicits._
    var v = vertices.select(col("id"))
    var e = edges.select(col("src"), col("dst"))
    segmentsLocal(ops).foreach { seg =>
      val c = compactLocal(seg)
      val vAdds = c.filter(_.op == "v").map(_.id1)
      val vDels = c.filter(_.op == "-v").map(_.id1)
      val eAdds = c.filter(_.op == "e").map(u => (u.id1, u.id2))
        .filter(t => t._1 != t._2)
      val eDels = c.filter(_.op == "-e").map(u => (u.id1, u.id2))

      // unlabeled rows ARE their keys, so upsert = delete-then-union — a
      // pure broadcast-anti + LocalRelation-union shape (the "append adds
      // not present" form would put the big table on an anti-join's right,
      // which cannot broadcast-build)
      if (vAdds.nonEmpty || vDels.nonEmpty) {
        var v1 = v
        if (vAdds.nonEmpty) {
          val vAddDf = graft.util.DeltaDF.of(spark, vAdds.map(Tuple1(_)), "id")
          v1 = v1.join(broadcast(vAddDf), Seq("id"), "left_anti").union(vAddDf)
        }
        if (vDels.nonEmpty)
          v1 = v1.join(broadcast(
            graft.util.DeltaDF.of(spark, vDels.map(Tuple1(_)), "id")), Seq("id"), "left_anti")
        v = v1
      }
      if (eAdds.nonEmpty || eDels.nonEmpty || vDels.nonEmpty) {
        var e1 = e
        if (eAdds.nonEmpty) {
          val eAddDf = graft.util.DeltaDF.of(spark, eAdds, "src", "dst")
          e1 = e1.join(broadcast(eAddDf), Seq("src", "dst"), "left_anti")
            .union(eAddDf)
        }
        if (eDels.nonEmpty)
          e1 = e1.join(broadcast(graft.util.DeltaDF.of(spark, eDels, "src", "dst")),
            Seq("src", "dst"), "left_anti")
        if (vDels.nonEmpty) {
          val vDelDf = graft.util.DeltaDF.of(spark, vDels.map(Tuple1(_)), "id")
          e1 = e1
            .join(broadcast(vDelDf.withColumnRenamed("id", "src")), Seq("src"), "left_anti")
            .join(broadcast(vDelDf.withColumnRenamed("id", "dst")), Seq("dst"), "left_anti")
        }
        e = e1.select(col("src"), col("dst"))
      }
    }
    (v, e)
  }

  /** Collected per-batch edge delta in CANONICAL UNDIRECTED space (lo < hi)
    * plus the labeled row slices, in ONE Spark action: added = canon(after)
    * \ canon(before) and deleted = canon(before) \ canon(after), derived
    * from the batch's own ops with broadcast-only joins — never by
    * anti-joining the full before/after tables (O(|E|) shuffle work for an
    * O(|Δ|) answer).
    *
    * Candidate keys come from the RAW ops (not the compacted ones: a mid-
    * batch `-v` cascades deletions even when the vertex's compacted final op
    * is a re-add). Add/delete candidacy is NON-EXCLUSIVE: an edge is an add
    * candidate (isA) when it has an `e` op, and a delete candidate (isD)
    * when it has a `-e` op OR is incident to any `-v` vertex — one edge can
    * be both (e.g. before has (6,7); batch = [e 6 7, -v 7]: the duplicate
    * add must not mask the cascade delete). The before and after tables are
    * each scanned exactly once, in the same job, and the |Δ|-bounded hit
    * rows come back to the driver:
    *   added     = canon keys isA-hit in after and not in before
    *   deleted   = canon keys isD-hit in before and not in after
    *   addedRows = after rows (directed, labeled) whose key was added
    *   deletedRows = before rows whose key was deleted.  */
  final case class EdgeDeltaLocal(added: Seq[(Long, Long)], deleted: Seq[(Long, Long)],
                                  addedRows: Seq[(Long, Long, Int)],
                                  deletedRows: Seq[(Long, Long, Int)])

  def edgeDeltaCollected(spark: SparkSession, before: DataFrame, after: DataFrame,
                         ops: Seq[GraphUpdate]): EdgeDeltaLocal = {
    import spark.implicits._
    def canon(s: Long, d: Long): (Long, Long) = if (s < d) (s, d) else (d, s)
    val eAddKeys = ops.filter(_.op == "e").map(u => canon(u.id1, u.id2))
      .filter(k => k._1 != k._2).toSet
    val eDelKeys = ops.filter(_.op == "-e").map(u => canon(u.id1, u.id2))
      .filter(k => k._1 != k._2).toSet
    val vDelIds = ops.filter(_.op == "-v").map(_.id1).toSet
    if (eAddKeys.isEmpty && eDelKeys.isEmpty && vDelIds.isEmpty)
      return EdgeDeltaLocal(Nil, Nil, Nil, Nil)

    val keysDf = graft.util.DeltaDF.of(spark,
      (eAddKeys.map(k => (k._1, k._2, true, eDelKeys(k))) ++
        (eDelKeys -- eAddKeys).map(k => (k._1, k._2, false, true))).toSeq,
      "lo", "hi", "kA", "kD")
    def probe(t: DataFrame, side: String): DataFrame = {
      val s = t.select(col("src"), col("dst"), col("elabel"),
          least(col("src"), col("dst")).as("lo"),
          greatest(col("src"), col("dst")).as("hi"))
        .where(col("lo") =!= col("hi"))
      val incident =
        if (vDelIds.isEmpty) lit(false)
        else col("lo").isin(vDelIds.toSeq: _*) || col("hi").isin(vDelIds.toSeq: _*)
      s.join(broadcast(keysDf), Seq("lo", "hi"), "left_outer")
        .withColumn("isA", coalesce(col("kA"), lit(false)))
        .withColumn("isD", coalesce(col("kD"), lit(false)) || incident)
        .where(col("isA") || col("isD"))
        .select(lit(side).as("side"), col("src"), col("dst"), col("elabel"),
          col("lo"), col("hi"), col("isA"), col("isD"))
    }
    val rows = probe(before, "b").unionByName(probe(after, "f")).collect()
    def keysOf(side: String, flag: String): Set[(Long, Long)] =
      rows.iterator.filter(r => r.getString(0) == side &&
        r.getBoolean(if (flag == "A") 6 else 7))
        .map(r => (r.getLong(4), r.getLong(5))).toSet
    val added = keysOf("f", "A") -- keysOf("b", "A")
    val deleted = keysOf("b", "D") -- keysOf("f", "D")
    def rowsOf(side: String, keys: Set[(Long, Long)]): Seq[(Long, Long, Int)] =
      rows.iterator.filter(r => r.getString(0) == side &&
        keys((r.getLong(4), r.getLong(5))))
        .map(r => (r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    EdgeDeltaLocal(added.toSeq, deleted.toSeq,
      rowsOf("f", added), rowsOf("b", deleted))
  }

  /** ONE-scan fast path for PURE-EDGE batches (every op is e/-e): probes
    * `edges` once with the batch's canonical candidate keys broadcast and
    * derives BOTH the collected delta (exact `edgeDeltaCollected`
    * semantics) and the after-view (exact `applyBatchLabeledLocal` algebra:
    * keep-existing adds by directed key, directed deletes) from the hit
    * rows. The general composition streams E three times inside the delta
    * probe action — the before scan, the after scan through the overlay,
    * and the keep-existing `present` subquery's broadcast build — where one
    * scan determines everything: the after side of every candidate key is
    * driver-computable from the before hits plus the (driver-known) batch.
    * The view's delta sides are LocalRelations (zero further actions).
    *
    * The endpoint-label probe is FOLDED into the same single action: when
    * `vertices` is given, the probe plan unions the E candidate-key scan
    * with a V semi-join over every id the batch's ops mention (a superset
    * of the delta's endpoints — sound, extra labels are simply unused), and
    * the third return value maps id → vlabel for every such id present in
    * V. The continuous tier's pure-edge batches drop from two probe actions
    * to one. Returns (afterView, delta, labels). */
  def pureEdgeBatchLabeled(spark: SparkSession, edges: DataFrame,
                           vertices: Option[DataFrame], ops: Seq[GraphUpdate])
      : (DataFrame, EdgeDeltaLocal, Map[Long, Int]) = {
    import spark.implicits._
    require(ops.forall(o => o.op == "e" || o.op == "-e"), "pure-edge batches only")
    def canon(s: Long, d: Long): (Long, Long) = if (s < d) (s, d) else (d, s)
    // flags come from the RAW ops (edgeDeltaCollected's candidate sets);
    // the view algebra uses the COMPACTED ops (applyBatchLabeledLocal's)
    val rawAddK = ops.filter(_.op == "e").map(u => canon(u.id1, u.id2))
      .filter(k => k._1 != k._2).toSet
    val rawDelK = ops.filter(_.op == "-e").map(u => canon(u.id1, u.id2))
      .filter(k => k._1 != k._2).toSet
    val e = edges.select(col("src"), col("dst"), col("elabel"))
    if (rawAddK.isEmpty && rawDelK.isEmpty) {
      // batch held only SELF-LOOP ops: no canonical delta (self-loops never
      // participate in matching), but applyBatchLabeledLocal applies the
      // compacted -e keys UNFILTERED — a '-e a a' must still delete a
      // pre-existing self-loop row from E (self-loop adds are dropped there
      // too, so only the delete side can act)
      val delSelf = compactLocal(ops).filter(_.op == "-e")
        .map(u => (u.id1, u.id2)).filter(t => t._1 == t._2)
      val e1 =
        if (delSelf.isEmpty) e
        else e.join(broadcast(delSelf.toDF("src", "dst")),
          Seq("src", "dst"), "left_anti")
      // empty delta: the caller short-circuits before consulting labels
      return (e1, EdgeDeltaLocal(Nil, Nil, Nil, Nil), Map.empty)
    }

    val c = compactLocal(ops)
    val addRows = c.filter(_.op == "e").map(u => (u.id1, u.id2, u.label))
      .filter(t => t._1 != t._2)
    val delDirected = c.filter(_.op == "-e").map(u => (u.id1, u.id2)).toSet

    // the ONE probe action: E rows whose canonical key is a candidate,
    // unioned (when a vertex table rides along) with the V label probe
    val keysDf = graft.util.DeltaDF.of(spark, (rawAddK ++ rawDelK).toSeq, "lo", "hi")
    val eProbe = e.where(col("src") =!= col("dst"))
      .join(broadcast(keysDf),
        least(col("src"), col("dst")) === col("lo") &&
          greatest(col("src"), col("dst")) === col("hi"), "left_semi")
      .select(lit(false).as("isV"), col("src").as("a"), col("dst").as("b"),
        col("elabel").as("l"))
    val probe = vertices match {
      case Some(v) =>
        val ids = ops.flatMap(u => Seq(u.id1, u.id2)).distinct
        val vProbe = v
          .join(broadcast(graft.util.DeltaDF.of(spark, ids.map(Tuple1(_)), "id")),
            Seq("id"), "left_semi")
          .select(lit(true).as("isV"), col("id").as("a"), col("id").as("b"),
            col("vlabel").as("l"))
        eProbe.unionByName(vProbe)
      case None => eProbe
    }
    val probeRows = probe.collect()
    val hits = probeRows.iterator.filter(!_.getBoolean(0))
      .map(r => (r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    val labels: Map[Long, Int] = probeRows.iterator.filter(_.getBoolean(0))
      .map(r => r.getLong(1) -> r.getInt(3)).toMap

    val presentDirected = hits.map(t => (t._1, t._2)).toSet
    val newRows = addRows.filterNot(t => presentDirected((t._1, t._2)))
    // after-side candidate rows, driver-derived: surviving before hits plus
    // the new adds (adds-then-deletes order, matching the view below)
    val afterHits = (hits ++ newRows).filterNot(t => delDirected((t._1, t._2)))
    def keysOf(rows: Seq[(Long, Long, Int)], flags: Set[(Long, Long)]) =
      rows.iterator.map(t => canon(t._1, t._2)).filter(flags).toSet
    val added = keysOf(afterHits, rawAddK) -- keysOf(hits, rawAddK)
    val deleted = keysOf(hits, rawDelK) -- keysOf(afterHits, rawDelK)
    val addedRows = afterHits.filter(t => added(canon(t._1, t._2)))
    val deletedRows = hits.filter(t => deleted(canon(t._1, t._2)))

    var e1 = if (newRows.isEmpty) e
      else e.union(graft.util.DeltaDF.of(spark, newRows, "src", "dst", "elabel"))
    if (delDirected.nonEmpty)
      e1 = e1.join(broadcast(
          graft.util.DeltaDF.of(spark, delDirected.toSeq, "src", "dst")),
        Seq("src", "dst"), "left_anti")
    (e1.select(col("src"), col("dst"), col("elabel")),
      EdgeDeltaLocal(added.toSeq, deleted.toSeq, addedRows, deletedRows), labels)
  }

  /** Keys-only `edgeDeltaCollected` for UNLABELED edge tables. */
  def edgeDeltaKeysCollected(spark: SparkSession, before: DataFrame, after: DataFrame,
                             ops: Seq[GraphUpdate])
      : (Seq[(Long, Long)], Seq[(Long, Long)]) = {
    val d = edgeDeltaCollected(spark,
      before.select(col("src"), col("dst")).withColumn("elabel", lit(0)),
      after.select(col("src"), col("dst")).withColumn("elabel", lit(0)), ops)
    (d.added, d.deleted)
  }

  /** DIRECTED collected delta (the PageRank maintenance path): the
    * `edgeDeltaCollected` derivation — candidacy from the RAW ops,
    * non-exclusive isA/isD, `-v` incidence — with keys keeping their
    * (src, dst) orientation (canonicalizing would flip edges); one probe
    * action over before and after, hits collected. */
  def edgeDeltaDirectedCollected(spark: SparkSession, before: DataFrame,
                                 after: DataFrame, ops: Seq[GraphUpdate])
      : (Seq[(Long, Long)], Seq[(Long, Long)]) = {
    import spark.implicits._
    val eAddKeys = ops.filter(_.op == "e").map(u => (u.id1, u.id2))
      .filter(k => k._1 != k._2).toSet
    val eDelKeys = ops.filter(_.op == "-e").map(u => (u.id1, u.id2))
      .filter(k => k._1 != k._2).toSet
    val vDelIds = ops.filter(_.op == "-v").map(_.id1).toSet
    if (eAddKeys.isEmpty && eDelKeys.isEmpty && vDelIds.isEmpty)
      return (Nil, Nil)
    val keysDf = graft.util.DeltaDF.of(spark,
      (eAddKeys.map(k => (k._1, k._2, true, eDelKeys(k))) ++
        (eDelKeys -- eAddKeys).map(k => (k._1, k._2, false, true))).toSeq,
      "src", "dst", "kA", "kD")
    def probe(t: DataFrame, side: String): DataFrame = {
      val s = t.select(col("src"), col("dst")).where(col("src") =!= col("dst"))
      val incident =
        if (vDelIds.isEmpty) lit(false)
        else col("src").isin(vDelIds.toSeq: _*) || col("dst").isin(vDelIds.toSeq: _*)
      s.join(broadcast(keysDf), Seq("src", "dst"), "left_outer")
        .withColumn("isA", coalesce(col("kA"), lit(false)))
        .withColumn("isD", coalesce(col("kD"), lit(false)) || incident)
        .where(col("isA") || col("isD"))
        .select(lit(side).as("side"), col("src"), col("dst"), col("isA"), col("isD"))
    }
    val rows = probe(before, "b").unionByName(probe(after, "f")).collect()
    def keysOf(side: String, idx: Int): Set[(Long, Long)] =
      rows.iterator.filter(r => r.getString(0) == side && r.getBoolean(idx))
        .map(r => (r.getLong(1), r.getLong(2))).toSet
    val added = (keysOf("f", 3) -- keysOf("b", 3)).toSeq
    val deleted = (keysOf("b", 4) -- keysOf("f", 4)).toSeq
    (added, deleted)
  }
}
