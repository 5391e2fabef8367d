package graft.matching

import org.apache.spark.sql.{DataFrame, Dataset, GraftSqlShims, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph.GraphUpdate
import graft.stream.Updates
import graft.util.Generations

/** Multi-query CONTINUOUS matching driver — the reference's flagship
  * composition (NewSP's updateEdgeFindQuery routing, newSP.h:12-100, glued
  * to the BatchUpdates3 window protocol, main.cpp:253-397): N query graphs
  * listen to ONE update stream and their match counts are MAINTAINED, never
  * recomputed:
  *
  *  1. the micro-batch is applied to the labeled graph (table algebra,
  *     M1-M4) and the exact canonical edge delta is derived from the batch's
  *     own ops (Updates.edgeDeltaCollected — broadcast joins, one probe
  *     action, O(|Δ|) shuffle);
  *  2. ROUTING (F2/J11): a query is affected only if some delta edge's
  *     label signature (srcLabel, dstLabel, elabel) is in its signature set
  *     — checked driver-side over the tiny labeled delta. Unaffected queries
  *     skip search entirely (the reference measures ~90% of updates safe);
  *  3. every query keeps its SJ-Tree partial-match stage relations
  *     (SJTreeState, J6), maintained by the exact two-term delta rule over
  *     the symmetric labeled relation, which is itself maintained by delta
  *     union/anti-join (never rebuilt). Non-seed join stages probe STORED
  *     state instead of re-deriving the prefix from E, and counts fall out
  *     of the maintained final stage:
  *     cnt' = cnt + |new final-stage rows| − |deleted final-stage rows|.
  *     EVERY affected query's pos+neg counts run in ONE Spark action (the
  *     tagged per-match rows are unioned under one grouped count), so the
  *     per-batch job count is independent of the number of registered
  *     queries.
  *
  * Restriction (documented): re-labeling an EXISTING vertex changes match
  * sets with no edge delta; such batches rebuild the relation and every
  * query's stages (the reference's streams never relabel — `v` ops only
  * introduce vertices, README.md:67-83).
  *
  * `materializeState` names the one mode (J6). It remains a parameter only
  * for callers that pass `materializeState = true` by name; `false` is
  * refused.
  */
final class MultiQueryDriver(spark: SparkSession,
                             val queries: Map[String, QueryGraph],
                             initialVertices: DataFrame, // (id, vlabel)
                             initialEdges: DataFrame,    // (src, dst, elabel)
                             materializeState: Boolean = true,
                             stateCompactEvery: Int = 8) {
  require(materializeState,
    "MultiQueryDriver maintains the SJ-tree stage state (J6); there is no other mode")

  var vertices: DataFrame = GraftSqlShims.checkpoint(initialVertices)
  var edges: DataFrame = GraftSqlShims.checkpoint(initialEdges)

  /** Maintained symmetric labeled relation, built here and on a relabel.
    * The narrow coalesce keeps its leaf from claiming a hash partitioning,
    * which the SJ-tree's delta caches would miss (GraftSqlShims.checkpoint). */
  private def relationOf(e: DataFrame, v: DataFrame): DataFrame = GraftSqlShims.checkpoint(
    GraphMatcher.relation(e, v).coalesce(spark.sessionState.conf.numShufflePartitions))
  private var rel: DataFrame = relationOf(edges, vertices)

  /** J6 stage state per query. Matching orders are fixed at registration
    * (per-batch statistics jobs would defeat the one-action batching). */
  private val states: Map[String, SJTreeState] = queries.map { case (n, q) =>
    val st = new SJTreeState(spark, q, GraphMatcher.chooseOrder(q, rel),
      compactEvery = stateCompactEvery)
    st.init(rel)
    n -> st
  }

  /** Maintained per-query match counts (G2's counters). */
  val counts: scala.collection.mutable.Map[String, Long] =
    scala.collection.mutable.Map(states.map { case (n, st) => n -> st.matchCount }.toSeq: _*)

  var searchesRun: Long = 0L      // (query, batch) pairs that paid a delta join
  var searchesSkipped: Long = 0L  // (query, batch) pairs skipped by routing
  var fullRecomputes: Long = 0L   // relabel hazard fallbacks

  /** Rolling generations of the maintained state tables (Generations): each
    * batch rolls vertices (on batches with vertex ops), edges and rel to
    * persisted leaves; every `stateCompactEvery` rolls (graph: counted on
    * the edge table) an eager checkpoint bounds their lineage. Vertices
    * with no roll since the last one are that checkpoint already: copying
    * an unchanged V again would cost a full copy per window. */
  private val vertexGens = new Generations(stateCompactEvery)
  private val edgeGens = new Generations(stateCompactEvery)
  private val relGens = new Generations(stateCompactEvery)

  /** Apply one micro-batch; returns (nAffectedQueries, addedCount, deletedCount).
    * The batch is collected ONCE (it is |Δ|-sized by definition) and the whole
    * per-batch protocol runs on the driver-local fast path — see
    * applyBatchLocal. */
  def applyBatch(batch: Dataset[GraphUpdate]): (Int, Long, Long) =
    applyBatchLocal(batch.collect().toSeq)

  /** The continuous tier's hot loop, driven by a driver-collected batch,
    * with the planner pinned static for the batch (every join is already
    * an explicit broadcast and every aggregate one row — AQE's query-stage
    * barriers only serialize the unioned count plan, BatchConf).
    *
    * Per-batch Spark actions are the scale story here (measured: each action
    * pays a fixed scheduler + broadcast-build cost that dominated the old
    * 20-action protocol), so everything |Δ|-bounded happens in plain Scala:
    * segmentation/compaction, the relabel hazard check's candidate set,
    * routing signatures and the relation delta rows.
    * The remaining actions per batch:
    *   1. the relabel probe over V          (only when the batch has v-ops)
    *   2. the before/after candidate probe  (one job; for PURE-EDGE batches
    *      the endpoint-label probe over V rides in the SAME action)
    *   3. the endpoint-label probe over V   (one job, mixed batches only)
    *   4. the per-query delta-count union   (one job)
    *   5. amortized: graph/rel/stage compaction every stateCompactEvery
    * — independent of query count AND of graph size in job count; the
    * probes stream V/E once with delta-sized broadcasts (no shuffle). */
  def applyBatchLocal(ops: Seq[GraphUpdate]): (Int, Long, Long) =
    graft.util.BatchConf.withStaticPlan(spark)(applyBatchLocalImpl(ops))

  private def applyBatchLocalImpl(ops: Seq[GraphUpdate]): (Int, Long, Long) = {
    import spark.implicits._
    val v0 = vertices
    val e0 = edges
    // PURE-EDGE fast path: one probe of e0 yields the delta AND the after
    // view (Updates.pureEdgeBatchLabeled); V is untouched, so neither rolled
    // nor re-checkpointed. The general path streams E three times in the
    // probe action and copies V per batch.
    val pureEdge = ops.nonEmpty && ops.forall(o => o.op == "e" || o.op == "-e")
    val (v1, e1, fastDelta, fastLabels) =
      if (pureEdge) {
        // the endpoint-label probe rides INSIDE the same single action
        val (e1v, d, lbl) = Updates.pureEdgeBatchLabeled(spark, e0, Some(v0), ops)
        (v0, e1v, Some(d), Some(lbl))
      } else {
        val (v1g, e1g) = Updates.applyBatchLabeledLocal(spark, v0, e0, ops)
        (v1g, e1g, None, None)
      }

    // relabel hazard: an existing vertex whose label changed (driver-side
    // candidates; one tiny semi-join probe of V only when v-ops exist)
    val vOps = ops.filter(_.op == "v")
    val relabeled = vOps.nonEmpty && {
      val oldL = v0.join(broadcast(vOps.map(_.id1).distinct.toDF("id")), Seq("id"), "left_semi")
        .select(col("id"), col("vlabel")).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      val newL = vOps.groupBy(_.id1).map { case (id, us) => id -> us.maxBy(_.seq).label }
      newL.exists { case (id, l) => oldL.get(id).exists(_ != l) }
    }

    if (!pureEdge) vertices = vertexGens.roll(v1).head
    edges = edgeGens.roll(e1).head
    if (edgeGens.due || relabeled) {
      // a relabel has v-ops, so its vertices have rolled
      if (vertexGens.rolledSinceCompact) vertices = vertexGens.compact(vertices).head
      edges = edgeGens.compact(edges).head
    }
    val v1c = vertices
    val e1c = edges

    if (relabeled) {
      fullRecomputes += 1
      relGens.clear()
      rel = relationOf(e1c, v1c)
      states.foreach { case (n, st) =>
        st.init(rel)
        counts(n) = st.matchCount
      }
      return (queries.size, -1L, -1L)
    }

    // ONE action: before/after candidate probe → the exact canonical delta
    // plus its labeled row slices, all collected (|Δ|-bounded)
    val delta = fastDelta.getOrElse(Updates.edgeDeltaCollected(spark, e0, e1c, ops))
    val nAdd = delta.added.size.toLong
    val nDel = delta.deleted.size.toLong
    if (nAdd == 0 && nDel == 0) {
      searchesSkipped += queries.size
      return (0, 0L, 0L)
    }

    // Endpoint labels, ONE probe action: v1 labels for every delta endpoint
    // plus v0 ghost labels for the batch's -v ids (deleted endpoints keep
    // their old labels unless re-added in the same batch).
    val (newLabels, oldLabels) = fastLabels match {
      case Some(lbl) =>
        // pure-edge: labels already collected inside the one probe action
        // (a superset of the delta's endpoints; no -v ops ⇒ no ghosts)
        (lbl, Map.empty[Long, Int])
      case None =>
        val vDelIds = ops.filter(_.op == "-v").map(_.id1).distinct
        val endpointIds = (delta.addedRows ++ delta.deletedRows)
          .flatMap(r => Seq(r._1, r._2)).distinct
        val labelRows = {
          val probeNew = v1c.join(broadcast(
            graft.util.DeltaDF.of(spark, endpointIds.map(Tuple1(_)), "id")),
            Seq("id"), "left_semi")
            .select(lit("n").as("w"), col("id"), col("vlabel"))
          val probe = if (vDelIds.isEmpty) probeNew
            else probeNew.unionByName(
              v0.join(broadcast(vDelIds.toDF("id")), Seq("id"), "left_semi")
                .select(lit("o").as("w"), col("id"), col("vlabel")))
          probe.collect()
        }
        (labelRows.filter(_.getString(0) == "n")
          .map(r => r.getLong(1) -> r.getInt(2)).toMap,
          labelRows.filter(_.getString(0) == "o")
            .map(r => r.getLong(1) -> r.getInt(2)).toMap)
    }
    def labelOf(id: Long): Option[Int] = newLabels.get(id).orElse(oldLabels.get(id))

    // ROUTING, driver-side: which queries listen to any delta edge's label
    // signature? (endpoints with unknown labels can match no labeled
    // relation row and are dropped)
    val sigsLocal: Map[String, Seq[(Int, Int, Int)]] = queries.map { case (n, q) =>
      n -> q.edges.map { qe =>
        val lu = q.byName(qe.u).vlabel.getOrElse(-1)
        val lv = q.byName(qe.v).vlabel.getOrElse(-1)
        val (a, b) = if (lu <= lv) (lu, lv) else (lv, lu)
        (a, b, qe.elabel.getOrElse(-1))
      }.distinct
    }
    val deltaSigs = (delta.addedRows ++ delta.deletedRows).flatMap { case (s, d, el) =>
      for (l1 <- labelOf(s); l2 <- labelOf(d))
        yield (math.min(l1, l2), math.max(l1, l2), el)
    }.distinct
    val affected = queries.keys.filter { n =>
      sigsLocal(n).exists { case (s1, s2, sel) =>
        deltaSigs.exists { case (lo, hi, el) =>
          (s1 == -1 || s1 == lo) && (s2 == -1 || s2 == hi) && (sel == -1 || sel == el)
        }
      }
    }.toSet

    // maintain the symmetric relation by delta (union the added rows,
    // anti-join the deleted keys — never rebuilt). LAZY overlay views over
    // the checkpointed base with LOCAL delta sides: the relation rows are
    // |Δ|-bounded and label-resolved on the driver (exact mirror of
    // GraphMatcher.relation over the delta slice: both orientations, inner
    // label join, dedup on (src,dst)), so the overlay costs ZERO actions.
    // The deleted rows' labels are the stored ones: the relation's label
    // copies are immutable, as relabels take the rebuild path above.
    def relRowsLocal(rows: Seq[(Long, Long, Int)]): DataFrame = {
      val seen = scala.collection.mutable.Set.empty[(Long, Long)]
      val out = Seq.newBuilder[(Long, Long, Int, Int, Int)]
      rows.foreach { case (s, d, el) =>
        for (ls <- labelOf(s); ld <- labelOf(d)) {
          if (seen.add((s, d))) out += ((s, d, el, ls, ld))
          if (seen.add((d, s))) out += ((d, s, el, ld, ls))
        }
      }
      graft.util.DeltaDF.of(spark, out.result(), "src", "dst", "elabel", "slabel", "dlabel")
    }
    val addedRelRows = relRowsLocal(delta.addedRows)
    val deletedRelRows = relRowsLocal(delta.deletedRows)
    val relAfterAdds = rel.union(addedRelRows)
    val delK = graft.util.DeltaDF.of(spark, delta.deleted, "lo", "hi")
    val relFinal = relAfterAdds.join(broadcast(delK),
        least(relAfterAdds("src"), relAfterAdds("dst")) === delK("lo") &&
          greatest(relAfterAdds("src"), relAfterAdds("dst")) === delK("hi"), "left_anti")
      .select(relAfterAdds("src"), relAfterAdds("dst"), relAfterAdds("elabel"),
        relAfterAdds("slabel"), relAfterAdds("dlabel"))

    // feed the delta through every affected query's stored stages; collect
    // ALL pos/neg counts in one action
    val aggs = queries.keys.toSeq.sorted.flatMap { name =>
      if (!affected(name)) { searchesSkipped += 1; Seq.empty }
      else {
        searchesRun += 1
        states(name).applyDelta(name, relAfterAdds,
          addedRelRows, deletedRelRows, hasAdds = nAdd > 0, hasDels = nDel > 0)
      }
    }
    if (aggs.nonEmpty) {
      // one exchange for every query's pos+neg counts: the tagged
      // per-match rows union and a single (q, side) grouped count
      // (map-side partial agg keeps the shuffled rows ≤ 2·N_queries)
      val countPlan = aggs.reduce(_ unionByName _)
        .groupBy(col("q"), col("side")).agg(count(lit(1)).as("c"))
      val bySide = countPlan.collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      affected.foreach { name =>
        states(name).commitCounts(bySide.getOrElse((name, "pos"), 0L),
          bySide.getOrElse((name, "neg"), 0L))
        counts(name) = states(name).matchCount
      }
    }
    rel = relGens.roll(relFinal).head
    if (relGens.due) rel = relGens.compact(rel).head
    // every query's seed stage re-anchors on the committed rel (content is
    // unchanged for unaffected queries — routing guarantees it — but the
    // anchor keeps seed lineage at the maintained base, not the overlay)
    states.values.foreach(_.anchorSeed(rel))
    (affected.size, nAdd, nDel)
  }

  /** The maintained SJ-Tree state for a query. */
  def stateOf(name: String): SJTreeState = states(name)

  /** Fraction of (query, batch) pairs that skipped search — the reference's
    * headline safe-update statistic (~90% on its Amazon stream). */
  def safeFraction: Double =
    if (searchesRun + searchesSkipped == 0) 1.0
    else searchesSkipped.toDouble / (searchesRun + searchesSkipped)
}
