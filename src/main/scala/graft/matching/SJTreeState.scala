package graft.matching

import org.apache.spark.sql.{DataFrame, GraftSqlShims, SparkSession}
import org.apache.spark.sql.functions._

/** SJ-Tree materialized partial-match state — the full J6 (reference
  * SJTree::AddSingleMatch / ExpandSJTreeNode,
  * ParaCOSM/CSM/matching/SJTree/sj_tree.cpp:184-320: each join-tree node
  * keeps its partial-match relation in hash state; an update inserts into
  * the node, probes the sibling, and propagates upward).
  *
  * Tabular form: for a registered query with left-deep order e1..ek, stage
  * relation S_i = partial matches of the prefix e1..e_i (one column per
  * bound query vertex, injectivity predicates applied as in
  * GraphMatcher.plan). The stages are MATERIALIZED and maintained per
  * micro-batch by the exact two-term delta rule, never recomputed:
  *
  *   ΔS_1⁺ = seed(addedRel)
  *   ΔS_i⁺ = step(ΔS_{i-1}⁺, relNew)  ∪  step(S_{i-1}^old, addedRel)
  *     (disjoint: term 1 has a new prefix, term 2 an old prefix)
  *   S_i^A = S_i^old ∪ ΔS_i⁺                       (adds applied first)
  *   D_1   = seed(deletedRel)
  *   D_i   = step(D_{i-1}, relA)  ∪  step(S_{i-1}^A ∖ D_{i-1}, deletedRel)
  *   S_i'  = S_i^A ∖ D_i                           (then deletes)
  *   count' = count + |ΔS_k⁺| − |D_k|
  *
  * Per-batch work shape: every delta-side join streams the big side ONCE
  * with the tiny side broadcast — no shuffle ever touches the full relation
  * or the stored stages; at warehouse scale the stage/relation scans prune
  * further via bucketing on the probe keys. Stage 0 is only a label filter
  * over the maintained relation and stays a VIEW re-anchored on it each
  * batch (anchorSeed); the probed join stages roll per batch to persisted
  * leaves over cached per-batch deltas (graft.util.Generations), and every
  * join stage is eagerly checkpointed every `compactEvery` batches as the
  * lineage bound — the Spark rendering of the reference's in-place
  * hash-state mutation, with the delta caches playing the role of the
  * freshly-inserted hash entries.
  *
  * Memory note: like the reference's SJ-tree (its documented weakness —
  * README.md's intermediate-result blowup discussion), stage relations can
  * be large for low-selectivity prefixes; the order is chosen
  * smallest-first (X4), and compaction logs the stage sizes.
  */
final class SJTreeState(spark: SparkSession, val query: QueryGraph,
                        val order: Seq[QEdge],
                        homomorphic: Boolean = false,
                        compactEvery: Int = 8) {

  /** Bound query-vertex columns after each stage (closing stages keep the
    * previous set). */
  val boundAt: Vector[Vector[String]] = {
    var b = Vector(order.head.u, order.head.v)
    Vector(b) ++ order.tail.map { e =>
      if (!(b.contains(e.u) && b.contains(e.v)))
        b = b :+ (if (b.contains(e.u)) e.v else e.u)
      b
    }.toVector
  }

  private var stages: Vector[DataFrame] = Vector.empty
  /** The probed interior stages' rolled generations. They roll on the
    * batches between compactions, one fewer than `compactEvery`. */
  private val gens = new graft.util.Generations(compactEvery - 1)
  private val storage = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
  /** Per-batch delta caches embedded in the current stage views. A batch's
    * deltas materialize inside ITS count action and are last read when the
    * NEXT batch's action materializes the stage leaves that embed them —
    * released one commit later (see commitCounts). */
  private val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
  private val deltaGens =
    scala.collection.mutable.Queue.empty[Seq[DataFrame]]
  /** FINAL-stage delta caches, pinned until compaction: the final stage is
    * never probed by the next batch's delta rule (only stages 0..k-2 feed
    * t2/clean), so it stays a lazy chain of these cached deltas — each one
    * materializes inside its own batch's count action (posD/negD.last ARE
    * the counted relations) and the chain costs zero per-batch work. */
  private val pinned = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  private def releaseDeltas(): Unit = {
    cached.foreach(_.unpersist(false)); cached.clear()
    pinned.foreach(_.unpersist(false)); pinned.clear()
    deltaGens.foreach(_.foreach(_.unpersist(false))); deltaGens.clear()
  }

  /** Maintained |S_k| (G1's counter). */
  var matchCount: Long = -1L

  /** Stage-size funnel (G3 applied to the STORED state): row count per
    * materialized stage, refreshed at every compaction from the just-
    * checkpointed stages in ONE union-count job (stage 0 is a filter view
    * over the maintained relation, not stored state — excluded). A stage
    * above `stageWarnThreshold` logs loudly and bumps `stageWarnings`: the
    * SJ-tree's documented memory hazard (a low-selectivity prefix inflating
    * an interior relation, reference README's intermediate-result blowup)
    * must never grow silently — the repo's no-silent-caps discipline. */
  @volatile var lastStageSizes: Seq[(Int, Long)] = Seq.empty
  var stageWarnThreshold: Long = 10000000L
  @volatile var stageWarnings: Long = 0L
  private var lastName: String = query.toString.take(40)

  /** Stage-filtered relation side for edge index i, oriented (known → src). */
  private def relSideFor(i: Int, rel: DataFrame): DataFrame = {
    val e = order(i)
    val (u, v) =
      if (i == 0) (e.u, e.v)
      else {
        val prev = boundAt(i - 1)
        if (prev.contains(e.u) && prev.contains(e.v)) (e.u, e.v)
        else if (prev.contains(e.u)) (e.u, e.v)
        else (e.v, e.u)
      }
    val el = e.elabel.map(l => rel("elabel") === l).getOrElse(lit(true))
    val sl = query.byName(u).vlabel.map(l => rel("slabel") === l).getOrElse(lit(true))
    val dl = query.byName(v).vlabel.map(l => rel("dlabel") === l).getOrElse(lit(true))
    rel.where(el && sl && dl)
  }

  /** Seed stage: matches of e1 drawn from `relSide` (symmetric relation —
    * one orientation covers both, as in GraphMatcher.plan). */
  private def seed(relSide: DataFrame): DataFrame = {
    val e0 = order.head
    relSideFor(0, relSide)
      .select(col("src").as(e0.u), col("dst").as(e0.v))
  }

  /** One stage transition for an arbitrary left input: extension (inner
    * join + injectivity) or closing (left-semi), mirroring
    * GraphMatcher.plan's per-edge step. `tinyLeft`/`tinyRel` mark which side
    * is delta-sized, to pin the broadcast. */
  private def step(i: Int, left: DataFrame, rel: DataFrame,
                   tinyLeft: Boolean): DataFrame = {
    val e = order(i)
    val prev = boundAt(i - 1)
    val alias = s"j$i"
    val r0 = relSideFor(i, rel).as(alias)
    val r = if (tinyLeft) r0 else broadcast(r0)
    val l = if (tinyLeft) broadcast(left) else left
    if (prev.contains(e.u) && prev.contains(e.v)) {
      l.join(r, l(e.u) === col(s"$alias.src") && l(e.v) === col(s"$alias.dst"),
        "left_semi")
    } else {
      val (known, newV) = if (prev.contains(e.u)) (e.u, e.v) else (e.v, e.u)
      val joined = l.join(r, l(known) === col(s"$alias.src"))
      val inj =
        if (homomorphic) joined
        else joined.where(prev.filter(_ != known)
          .map(b => col(s"$alias.dst") =!= l(b))
          .foldLeft(col(s"$alias.dst") =!= l(known))(_ && _))
      inj.select(prev.map(l(_)) :+ col(s"$alias.dst").as(newV): _*)
    }
  }

  private def cols(df: DataFrame, i: Int): DataFrame =
    df.select(boundAt(i).map(col): _*)

  /** Build all stages from scratch over the materialized relation (query
    * registration, or the relabel-hazard fallback). */
  def init(rel: DataFrame): Unit = {
    releaseDeltas()
    gens.clear()
    // Stage 0 is ONLY a label filter over the maintained relation — stored
    // as a VIEW anchored on the caller's (checkpointed) rel, never copied:
    // materializing it would re-write a relation-sized table at every
    // compaction for state the relation already holds. Join stages (>= 1)
    // are the genuinely materialized per-node state.
    var s = seed(rel)
    val built = Vector.newBuilder[DataFrame]
    built += s
    (1 until order.size).foreach { i =>
      s = GraftSqlShims.checkpoint(cols(step(i, s, rel, tinyLeft = false), i))
      built += s
    }
    stages = built.result()
    matchCount = stages.last.count()
  }

  /** Re-anchor the seed-stage view on the CURRENT maintained relation (the
    * driver calls this after committing/compacting rel each batch, for every
    * registered query — routing guarantees an unaffected query's seed
    * content is unchanged, and anchoring keeps its lineage at the compacted
    * base instead of the pre-batch overlay). */
  def anchorSeed(rel: DataFrame): Unit =
    if (stages.nonEmpty) stages = seed(rel) +: stages.tail

  /** Apply one micro-batch's delta. `relNew` = the maintained symmetric
    * relation AFTER adds (A = old ∪ added); `addedRel` / `deletedRel` =
    * its delta-sized slices for added / deleted edges (both orientations).
    * `hasAdds`/`hasDels` let a one-sided batch SKIP the other pass entirely
    * (an adds-only crawl batch pays zero delete-side scans and vice versa).
    * Returns the computed sides as LAZY (q, side)-tagged per-match-row
    * frames: the driver unions them across ALL queries and runs ONE
    * groupBy(q, side).count — one exchange and one final stage total,
    * instead of a SinglePartition exchange per (query, side) branch; the
    * caller MUST then feed the collected counts back through commitCounts()
    * (absent sides count 0). */
  def applyDelta(name: String, relNew: DataFrame, addedRel: DataFrame,
                 deletedRel: DataFrame, hasAdds: Boolean = true,
                 hasDels: Boolean = true): Seq[DataFrame] = {
    require(stages.nonEmpty, "init() first")
    require(hasAdds || hasDels, "empty delta — skip applyDelta entirely")
    lastName = name
    val k = order.size

    // All per-batch derivations stay LAZY — zero driver actions here (a
    // per-stage localCheckpoint, even a lazy one, posts a Dataset action
    // per stage per query and would make per-batch driver work scale with
    // the query count). Every per-stage delta is PERSISTED (lazily — it
    // materializes once, inside the caller's single count action) because
    // the new stage views embed it and the NEXT batch's t2/clean terms
    // re-reference the previous stage views in several subtrees: without
    // the cache the unfolded plan tree grows multiplicatively per batch
    // (measured: +3-4s per batch at sf0.1 until the compaction reset).
    // With it, each stage is a shallow chain of cached-delta overlays whose
    // depth the compaction cadence bounds.
    // Seed-delta persists are CONDITIONAL on the delta's leaf kind. For a
    // LocalRelation-backed delta, the persist is the InMemoryRelation
    // barrier that stops Catalyst's ConvertToLocalRelation from re-folding
    // the pure-local subtree ON THE DRIVER (single-threaded, interpreted)
    // at every optimization of every referencing plan — measured +15-30s
    // per sf0.1 count action when such seeds were left lazy. For an
    // RDD-backed delta (DeltaDF above its threshold — every big batch) the
    // fold is structurally impossible (no LocalRelation to fold) and the
    // batch path additionally excludes the rule (BatchConf), so the seed
    // stays a LAZY filter over the RDD leaf: re-running it per scan is a
    // cheap executor-side pass, and dropping the persist removes one
    // CacheManager planning round-trip (~0.1-0.2s driver) per seed.

    // NOTE on the missing cols() re-selects: every frame below already has
    // exactly boundAt(i)'s columns in boundAt(i)'s order — seed() selects
    // them explicitly, step()'s extension branch selects prev :+ newV from
    // boundAt, its closing branch and the USING anti-joins keep the left
    // side's output order, and union/truncate/checkpoint preserve order —
    // so a defensive re-select per term only buys an extra analyzer pass
    // per op (measured: plan construction is a per-batch driver cost).

    def localBacked(df: DataFrame): Boolean =
      df.queryExecution.analyzed.collectLeaves().exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])

    // positive pass (prefix-new ∪ prefix-old-edge-new, disjoint)
    val (sA, posLast) =
      if (!hasAdds) (stages.toVector, None)
      else {
        val dPrev0 = seed(addedRel)
        val dPrev0p =
          if (localBacked(addedRel)) { val x = dPrev0.persist(storage); cached += x; x }
          else dPrev0
        var dPrev = dPrev0p
        var acc = Vector(stages(0).unionByName(dPrev))
        (1 until k).foreach { i =>
          val t1 = step(i, dPrev, relNew, tinyLeft = true)
          val t2 = step(i, stages(i - 1), addedRel, tinyLeft = false)
          dPrev = t1.unionByName(t2).persist(storage)
          cached += dPrev
          acc = acc :+ stages(i).unionByName(dPrev)
        }
        (acc, Some(dPrev))
      }

    // negative pass over A (prefix-deleted ∪ clean-prefix-edge-deleted)
    val (negD, negLast) =
      if (!hasDels) (Vector.empty[DataFrame], None)
      else {
        val nPrev00 = seed(deletedRel)
        val nPrev0 =
          if (localBacked(deletedRel)) { val x = nPrev00.persist(storage); cached += x; x }
          else nPrev00
        var nPrev = nPrev0
        var acc = Vector(nPrev)
        (1 until k).foreach { i =>
          val t1 = step(i, nPrev, relNew, tinyLeft = true)
          val clean = sA(i - 1).join(broadcast(acc(i - 1)),
            boundAt(i - 1), "left_anti")
          val t2 = step(i, clean, deletedRel, tinyLeft = false)
          nPrev = t1.unionByName(t2).persist(storage)
          cached += nPrev
          acc = acc :+ nPrev
        }
        (acc, Some(nPrev))
      }

    // New stages = (old ∪ Δ⁺) ∖ D, as views until commitCounts rolls or
    // compacts them.
    stages = (0 until k).map { i =>
      if (!hasDels) sA(i)
      else sA(i).join(broadcast(negD(i)), boundAt(i), "left_anti")
    }.toVector
    posLast.foreach { d => cached -= d; pinned += d }
    negLast.foreach { d => cached -= d; pinned += d }
    deltaGens.enqueue(cached.toSeq); cached.clear()

    val out = posLast.map(_.select(lit(name).as("q"), lit("pos").as("side"))).toSeq ++
      negLast.map(_.select(lit(name).as("q"), lit("neg").as("side"))).toSeq
    out
  }

  /** Commit the collected delta counts, then roll the probed stages or (on
    * cadence) compact every join stage — after the caller's count action,
    * so the checkpoints read this batch's materialized delta caches and the
    * roll releases the generation before last once the last has
    * materialized in that action.
    *
    * Only the PROBED interior stages (1..k-2) roll to persisted leaves: the
    * overlay's logical tree references the previous stage and this batch's
    * deltas in several subtrees, so left as a view the analyzed tree grows
    * ~3× per batch (measured super-linear driver cost within a compaction
    * window). The next batch's t2/clean terms materialize them. The FINAL
    * stage is probed by nothing until the compaction checkpoint, so a
    * persisted leaf there never materializes and the checkpoint would
    * re-execute the whole chain of copies (measured: compaction cost grew
    * linearly with the cadence). It stays a lazy chain over the PINNED
    * last-level delta caches: zero per-batch work, and the compaction
    * executes one pass over base + cached deltas. */
  def commitCounts(pos: Long, neg: Long): Unit = {
    matchCount = matchCount + pos - neg
    val k = stages.size
    if (!gens.due) {
      val rolled = gens.roll(stages.slice(1, k - 1): _*)
      stages = stages.take(1) ++ rolled ++ stages.drop(1).takeRight(1)
      // keep the newest delta generation (feeding the just-rolled stages)
      while (deltaGens.size > 1) deltaGens.dequeue().foreach(_.unpersist(false))
    } else {
      // stage 0 is excluded: anchorSeed re-derives it from the compacted
      // rel. The final stage's checkpoint executes its pinned-delta chain
      // (one pass over the previous checkpoint plus cached deltas).
      stages = stages.take(1) ++ gens.compact(stages.drop(1): _*)
      releaseDeltas()
      // stage-size funnel: one union-count job over the just-checkpointed
      // stages (in-memory scans; amortized 1/compactEvery per batch)
      val stored = stages.zipWithIndex.drop(1) // empty for single-edge queries
      val sizes =
        if (stored.isEmpty) Seq.empty[(Int, Long)]
        else stored.map { case (s, i) =>
          s.groupBy().agg(count(lit(1)).as("n")).select(lit(i).as("stage"), col("n"))
        }.reduce(_ unionByName _).collect()
          .map(r => (r.getInt(0), r.getLong(1))).toSeq.sortBy(_._1)
      lastStageSizes = sizes
      sizes.filter(_._2 > stageWarnThreshold).foreach { case (i, n) =>
        stageWarnings += 1
        System.err.println(s"[sjtree] WARN query=$lastName stage=$i rows=$n " +
          s"> threshold=$stageWarnThreshold — low-selectivity prefix is " +
          "inflating stored state; a more label-selective query keeps " +
          "its stages smaller")
      }
    }
  }

  /** The maintained final-stage match relation (for tests / sinks). */
  def matches: DataFrame = stages.last
}
