package graft.matching

import org.apache.spark.sql.{Column, DataFrame, GraftSqlShims, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental (delta-join) triangle count maintenance — J3/J4: the
  * reference maintains match counts under edge adds/deletes by joining the
  * DELTA edge against the graph instead of recomputing
  * (Graphflow::AddEdge positive results, ParaCOSM/CSM/matching/GraphFlow/
  * graphflow.cpp:289-355; RemoveEdge negative results, :357-416).
  *
  * Batched delta with exact once-per-triangle counting: the reference
  * processes one update at a time, so a new triangle trivially contains
  * exactly one new edge; a BATCH of delta edges can form triangles with 2-3
  * delta edges, which naive per-edge seeding would double count. We charge
  * each triangle to its LEXICOGRAPHICALLY-SMALLEST delta edge: seed from
  * each delta edge (a,b) with canonical key k0 = struct(lo,hi), close the
  * wedge through both incident edges, and require every OTHER delta edge in
  * the triangle to have a strictly larger key (non-delta edges always pass).
  * Each new/dead triangle is then counted exactly once, the join has the
  * scale-right shape |Δ| ⋈ E ⋈ E (delta-seeded, never a full
  * re-enumeration), and — unlike a row_number over an un-partitioned
  * Window — nothing ever funnels through a single-task global sort: the key
  * IS the edge's own (lo,hi), no ranking pass exists at all.
  *
  * positive = touching(E_after_adds, Δadd)
  * negative = touching(E_after_adds, Δdel)   (adds applied first, dels ⊆ that)
  * newCount = oldCount + positive − negative (G2's counters).
  */
object DeltaTriangles {

  private def canon(df: DataFrame): DataFrame = df.select(
    least(col("src"), col("dst")).as("lo"), greatest(col("src"), col("dst")).as("hi"))
    .where(col("lo") =!= col("hi")).distinct()

  /** Symmetric relation of `edges` with per-edge canonical key `k` and the
    * delta flags of `marks` (flag column names -> canonical delta sets). */
  private def flaggedRel(edges: DataFrame, marks: Seq[(String, DataFrame)]): DataFrame = {
    var m = canon(edges)
    marks.foreach { case (flag, d) =>
      m = m.join(canon(d).withColumn(flag, lit(true)), Seq("lo", "hi"), "left_outer")
    }
    val marked = marks.foldLeft(m) { case (df, (flag, _)) =>
      df.withColumn(flag, coalesce(col(flag), lit(false)))
    }
    val flagCols = marks.map(x => col(x._1))
    marked.select(Seq(col("lo").as("src"), col("hi").as("dst"),
        struct(col("lo"), col("hi")).as("k")) ++ flagCols: _*)
      .union(marked.select(Seq(col("hi").as("src"), col("lo").as("dst"),
        struct(col("lo"), col("hi")).as("k")) ++ flagCols: _*))
  }

  /** Count triangles of `edges` containing >= 1 edge of each delta set, one
    * aggregate per delta set, all in ONE wedge-join job over one persisted
    * relation. Returns counts aligned with `deltas`. */
  def countTouchingAll(spark: SparkSession, edges: DataFrame,
                       deltas: Seq[DataFrame]): Seq[Long] = {
    if (deltas.isEmpty) return Seq.empty
    val (tri, rel) = touchingRows(spark, edges, deltas)
    try {
      val aggs = deltas.indices.map(i =>
        sum(when(col("tag") === i, 1L).otherwise(0L)).as(s"n$i"))
      val row = tri.agg(aggs.head, aggs.tail: _*).head()
      deltas.indices.map(i => if (row.isNullAt(i)) 0L else row.getLong(i))
    } finally { rel.unpersist(); () }
  }

  /** The tagged touching-triangle rows (column `tag` = delta-set index) and
    * the persisted relation backing them (caller unpersists). Package-
    * visible so tests can assert the PLAN shape (no Window node — the
    * charging key is the edge's own (lo,hi), never a ranking pass). */
  private[graft] def touchingRows(spark: SparkSession, edges: DataFrame,
                                  deltas: Seq[DataFrame]): (DataFrame, DataFrame) = {
    val flags = deltas.indices.map(i => s"_d$i")
    val rel = flaggedRel(edges, flags.zip(deltas)).persist()
    // seeds: one tagged row per (delta set, canonical delta edge)
    val anyFlag = flags.map(col).reduce(_ || _)
    val base = rel.where(col("src") < col("dst") && anyFlag)
    val seed = flags.zipWithIndex.map { case (f, i) =>
      base.where(col(f)).select(col("src").as("a"), col("dst").as("b"),
        col("k").as("k0"), lit(i).as("tag"))
    }.reduce(_ union _)
    val viaA = rel.select(Seq(col("src").as("a"), col("dst").as("c"),
      col("k").as("k1")) ++ flags.map(f => col(f).as(s"${f}_1")): _*)
    val viaB = rel.select(Seq(col("src").as("b2"), col("dst").as("c2"),
      col("k").as("k2")) ++ flags.map(f => col(f).as(s"${f}_2")): _*)
    // per-tag charging: only delta edges OF THE SEED'S OWN SET compete on k
    def pass(side: Int, kCol: Column): Column =
      flags.zipWithIndex.map { case (f, i) =>
        (col("tag") === i) && (!col(s"${f}_$side") || (kCol > col("k0")))
      }.reduce(_ || _)
    val tri = seed
      .join(viaA, Seq("a"))
      .where(col("c") =!= col("b") && pass(1, col("k1")))
      .join(viaB, col("b") === col("b2") && col("c") === col("c2"))
      .where(pass(2, col("k2")))
    (tri, rel)
  }

  /** Count of triangles of `edges` (undirected, any orientation) containing
    * at least one edge of `delta`, each counted once. */
  def countTouching(spark: SparkSession, edges: DataFrame, delta: DataFrame): Long =
    countTouchingAll(spark, edges, Seq(delta)).head

  /** ONE flagged degree-oriented enumeration producing (total triangles of
    * `edges`, triangles containing an add, triangles containing a del) in a
    * single wedge-join job — the right shape when the delta is a sizable
    * fraction of the graph (the delta-seeded path re-pays the full wedge
    * cost anyway once |Δ|·deg approaches |wedges|). Degree orientation keeps
    * every triangle enumerated exactly once as a→b→c (TriangleCount's J1
    * plan) with the flags ridden along, so no per-triangle charging logic is
    * needed at all. */
  def bulkCounts(spark: SparkSession, edges: DataFrame,
                 adds: DataFrame, dels: DataFrame): (Long, Long, Long) = {
    // canonical flagged edge set — ONE exchange (opt round 6, guide §2.4):
    // a tagged union + groupBy replaces the old distinct + two (lo,hi)
    // joins (three exchanges over the full edge set). Keys must come from
    // `edges` (max(isE)) so a delta row absent from the edge set is dropped
    // exactly as the old left-outer join dropped it.
    def c(df: DataFrame): DataFrame = df.select(
      least(col("src"), col("dst")).as("lo"), greatest(col("src"), col("dst")).as("hi"))
      .where(col("lo") =!= col("hi"))
    val e = GraftSqlShims.checkpoint(c(edges).select(col("lo"), col("hi"),
        lit(true).as("isE"), lit(false).as("isA"), lit(false).as("isD"))
      .union(c(adds).select(col("lo"), col("hi"),
        lit(false).as("isE"), lit(true).as("isA"), lit(false).as("isD")))
      .union(c(dels).select(col("lo"), col("hi"),
        lit(false).as("isE"), lit(false).as("isA"), lit(true).as("isD")))
      .groupBy(col("lo"), col("hi"))
      .agg(max(col("isE")).as("isE"), max(col("isA")).as("isA"), max(col("isD")).as("isD"))
      .where(col("isE"))
      .select(col("lo"), col("hi"), col("isA"), col("isD")))
    // degree orientation (TriangleCount.orient with flags carried)
    val und = e.select(col("lo").as("src"), col("hi").as("dst"), col("isA"), col("isD"))
      .union(e.select(col("hi").as("src"), col("lo").as("dst"), col("isA"), col("isD")))
    val deg = und.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
    val o = GraftSqlShims.checkpoint(und
      .join(deg.withColumnRenamed("id", "src").withColumnRenamed("deg", "sdeg"), "src")
      .join(deg.withColumnRenamed("id", "dst").withColumnRenamed("deg", "ddeg"), "dst")
      .where(col("sdeg") < col("ddeg") ||
        (col("sdeg") === col("ddeg") && col("src") < col("dst")))
      .select(col("src"), col("dst"), col("isA"), col("isD")))
    GraftSqlShims.release(e)
    // Flag-aware triangle enumeration (opt round 6 rewrite, guide §2.3 —
    // shuffle/carry fewer bytes): the old shape collected THREE adjacency
    // arrays per vertex (nb + flag-restricted nbA/nbD) and dragged all six
    // through both joins — ~3× the array payload of q_triangles' plan for
    // the same intersections (measured 11.6s of the 25s bulkCounts wall at
    // sf0.1, vs ~1.5s for the unflagged twin). Now: plain adjacency only,
    // one intersect per oriented edge, then the (avg |i| = triangles/edges
    // ≈ 1.6) closing sets EXPLODE into triangle rows (a,b,c) and the two
    // non-seed edges' flags resolve via joins against the tiny flagged-edge
    // subset of `o` (AQE broadcasts it; a triangle through (a,b) closes via
    // edges (a,c)/(b,c), both oriented FROM a/b — so the (src,dst) lookup
    // is exact). A triangle contains an add iff its seed OR either closing
    // edge is add-flagged; same for deletes.
    val adj = o.groupBy(col("src").as("id"))
      .agg(collect_list(col("dst")).as("nb"))
    val withI = o
      .join(adj.select(col("id").as("src"), col("nb").as("snb")), Seq("src"))
      .join(adj.select(col("id").as("dst"), col("nb").as("dnb")), Seq("dst"), "left_outer")
      .select(col("src").as("a"), col("dst").as("b"), col("isA"), col("isD"),
        array_intersect(col("snb"), coalesce(col("dnb"), array())).as("ia"))
    val tri = withI.select(col("a"), col("b"), col("isA"), col("isD"),
      explode(col("ia")).as("c"))
    val fo = o.where(col("isA") || col("isD"))
      .select(col("src"), col("dst"), col("isA").as("fA"), col("isD").as("fD"))
    val withFlags = tri
      .join(fo.select(col("src").as("a"), col("dst").as("c"),
        col("fA").as("acA"), col("fD").as("acD")), Seq("a", "c"), "left_outer")
      .join(fo.select(col("src").as("b"), col("dst").as("c"),
        col("fA").as("bcA"), col("fD").as("bcD")), Seq("b", "c"), "left_outer")
    val row = withFlags.agg(
      count(lit(1)).as("t"),
      coalesce(sum(when(col("isA") || coalesce(col("acA"), lit(false)) ||
        coalesce(col("bcA"), lit(false)), 1L).otherwise(0L)), lit(0L)).as("p"),
      coalesce(sum(when(col("isD") || coalesce(col("acD"), lit(false)) ||
        coalesce(col("bcD"), lit(false)), 1L).otherwise(0L)), lit(0L)).as("n")).head()
    GraftSqlShims.release(o)
    (row.getLong(0), row.getLong(1), row.getLong(2))
  }

  /** Full maintenance step: from `base` edges apply `adds` then `dels`
    * (disjoint sets), return one row
    * (t_old, positive, negative, t_new = t_old + pos − neg).
    * `tOld` lets a caller that already maintains the running count (G2's
    * counters — e.g. StreamGraph) skip the one from-scratch count.
    *
    * Two physical routes, auto-selected by delta fraction:
    *  - SMALL delta (the streaming case): one from-scratch count (or the
    *    caller's tOld) plus ONE |Δ|-seeded delta-join job shared by
    *    positive and negative;
    *  - LARGE delta (>2% of edges): one flagged oriented enumeration of the
    *    after-adds graph yields total/pos/neg together, and
    *    t_old = total − positive, t_new = total − negative fall out with no
    *    second pass. */
  def maintain(spark: SparkSession, base: DataFrame, adds: DataFrame,
               dels: DataFrame, tOld: Option[Long] = None): DataFrame = {
    import graft.algo.TriangleCount
    // no dedup/materialization here: both routes canonicalize (and thereby
    // dedup) the union exactly once inside their flagged relation
    val afterAdds = base.select(col("src"), col("dst"))
      .union(adds.select(col("src"), col("dst")))
    // route-selection counts in ONE action (opt round 6): three separate
    // .count() jobs each paid a driver round-trip over the same
    // checkpointed input
    val cnts = base.select(lit(0).as("t")).union(adds.select(lit(1).as("t")))
      .union(dels.select(lit(2).as("t")))
      .groupBy(col("t")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val nDelta = cnts.getOrElse(1, 0L) + cnts.getOrElse(2, 0L)
    val nBase = cnts.getOrElse(0, 0L)
    val (t0, pos, neg) =
      if (nDelta > 0.02 * nBase) {
        val (tAfter, p, n) = bulkCounts(spark, afterAdds, adds, dels)
        (tOld.getOrElse(tAfter - p), p, n)
      } else {
        val t0v = tOld.getOrElse(
          TriangleCount.countTriangles(spark, base).head().getLong(0))
        val Seq(p, n) = countTouchingAll(spark, afterAdds, Seq(adds, dels))
        (t0v, p, n)
      }
    val spark2 = spark
    import spark2.implicits._
    Seq((t0, pos, neg, t0 + pos - neg))
      .toDF("t_old", "positive", "negative", "t_new")
  }
}
