package graft.algo

import org.apache.spark.sql.{Column, DataFrame, GraftSqlShims, SparkSession}
import org.apache.spark.sql.GraftSqlShims.{checkpoint, release}
import org.apache.spark.sql.functions._

import graft.graph.GraphBuilder.placed
import graft.state.StateStore

/** PageRank as join-aggregate supersteps (the flagship, SURVEY.md §7.1-4).
  *
  * Probability convention: ranks sum to 1. Per superstep:
  *   r'(v) = (1-d)/N + d * ( Σ_{u→v} r(u)/outDeg(u)  +  danglingMass/N )
  * where danglingMass = Σ r(u) over vertices with outDeg(u)=0. Convergence:
  * L∞(r' − r) < tol.
  *
  * Physical shape — ONE exchange per hub-free superstep, the groupBy(dst)
  * partial+final sum: the messages. Like Pregelix's (VLDB 2014), the edges
  * and the vertex state are partitioned by vertex id once and stay put.
  * Every checkpoint here is GraftSqlShims.checkpoint, whose leaf keeps the
  * hash partitioning it was built with:
  *  - `adj` (src, dst, salt) is hash-partitioned by src ONCE and
  *    checkpointed; the state is hash-partitioned by id (`verts`, and every
  *    superstep's state inherits the ranks side's partitioning), with the
  *    same count. So the adj ⋈ ranks join and the ranks ⋈ contribs join run
  *    in place, and the state keeps spark.sql.shuffle.partitions partitions.
  *  - the r(u)/outDeg(u) division happens on the RANK side (state carries
  *    outDeg), so adjacency rows are degree-free and IMMUTABLE — which is
  *    what makes the streaming tier's base+patch maintenance possible
  *    (updatePrepared): out-degree changes touch only the vertex state.
  *  - the state carries a precomputed `dangling` flag, so the next
  *    iteration's dangling mass and the delta norms are observed on the
  *    superstep's own checkpoint (Superstep) — no extra scan or job.
  *  - joins take shuffle-hash hints: state fits per-partition hash maps and
  *    avoids re-sorting 10⁷-row inputs every superstep (SMJ would).
  *  - hub in-degree skew is absorbed by map-side partial aggregation (sum is
  *    algebraic) — the reference's thread-local-counter + reduce pattern
  *    (ParaCOSM parallel_graphflow.cpp:988-990) is Spark's default physical agg.
  *  - lineage is truncated every superstep (Superstep's checkpoint) —
  *    mandatory for iterative Catalyst plans (SURVEY.md §7.4-1).
  *
  * Streaming maintenance (the per-batch O(|Δ|) discipline): `Prepared` can
  * carry a signed PATCH overlay (src, dst, w ∈ {−1, +1}) over a FIXED base
  * adjacency. A superstep then sums base contributions (the adj ⋈ ranks
  * join, untouched) plus w-weighted patch contributions (broadcast of the tiny
  * patch) — deleted base edges cancel exactly, added edges contribute once.
  * `updatePrepared` maintains the vertex/out-degree state by pure arithmetic
  * on the delta (never rescanning E) and compacts the patch; the stream
  * driver rebuilds the base only when the patch outgrows a threshold.
  */
final class PageRank(
    damping: Double = 0.85,
    tol: Double = 1e-6,
    maxIter: Int = 100) extends Algorithm {

  override def name: String = "pagerank"

  override def run(spark: SparkSession, edges: DataFrame, vertices: DataFrame,
                   store: Option[StateStore] = None): AlgoResult =
    loop(spark, PageRank.prepare(spark, edges, vertices), store,
      startIter = 0, startRanks = None, ownPrepared = true)

  /** Resume from the last committed superstep (north rule: a killed job
    * resumes mid-iteration from `latestCompleted`; torn snapshots without a
    * manifest are skipped by the store). */
  def resume(spark: SparkSession, edges: DataFrame, vertices: DataFrame,
             store: StateStore): AlgoResult = {
    val last = store.latestCompleted(name)
    if (last < 0) run(spark, edges, vertices, Some(store))
    else loop(spark, PageRank.prepare(spark, edges, vertices), Some(store), last,
      Some(store.load(spark, name, last)), ownPrepared = true)
  }

  /** WARM-start on a (possibly updated) graph: previous ranks seed the
    * iteration — new vertices enter at 1/n, the vector is renormalized to
    * unit mass, dangling/outDeg are re-derived from the NEW prepared state.
    * Power iteration contracts to a unique fixpoint, so the warm run
    * converges to the same ranks as a cold run (within tol) in far fewer
    * supersteps when the update delta is small. */
  def runFrom(spark: SparkSession, edges: DataFrame, vertices: DataFrame,
              prevRanks: DataFrame): AlgoResult =
    seeded(spark, PageRank.prepare(spark, edges, vertices), prevRanks,
      ownPrepared = true)

  /** Cold run over a caller-owned Prepared (base+patch): the streaming
    * tier's initializer. The Prepared is NOT released. */
  def runOnPrepared(spark: SparkSession, g: PageRank.Prepared): AlgoResult =
    loop(spark, g, None, startIter = 0, startRanks = None, ownPrepared = false)

  /** Warm restart over a caller-owned, incrementally-maintained Prepared —
    * the streaming per-batch path: no prepare(), no full-E shuffle, just the
    * seed normalization plus the usual one-shuffle supersteps. */
  def runFromPrepared(spark: SparkSession, g: PageRank.Prepared,
                      prevRanks: DataFrame): AlgoResult =
    seeded(spark, g, prevRanks, ownPrepared = false)

  private def seeded(spark: SparkSession, g: PageRank.Prepared,
                     prevRanks: DataFrame, ownPrepared: Boolean): AlgoResult = {
    val (joined, total) = PageRank.checkpointObserving(g.verts.select(col("id"))
      .join(prevRanks.select(col("id"), col("rank")), Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("rank"), lit(1.0 / g.n)).as("rank")),
      sum(col("rank")))
    val res = loop(spark, g, None, startIter = 0,
      startRanks = Some(joined.select(col("id"), (col("rank") / total).as("rank"))),
      ownPrepared = ownPrepared)
    release(joined)
    res
  }

  private def loop(spark: SparkSession, g: PageRank.Prepared,
                   store: Option[StateStore], startIter: Int,
                   startRanks: Option[DataFrame], ownPrepared: Boolean): AlgoResult = {
    val n = g.n
    val (start, dm0) = PageRank.checkpointObserving(startRanks match {
      // seeds/snapshots carry (id, rank); dangling + outDeg come from the
      // prepared vertex state (ids are verts-exact by construction)
      case Some(df) => g.verts.select(col("id"), col("outDeg"), col("dangling"))
        .join(placed(df.select(col("id"), col("rank")), "id").hint("shuffle_hash"),
          Seq("id"), "left_outer")
        .select(col("id"), coalesce(col("rank"), lit(1.0 / n)).as("rank"),
          col("dangling"), col("outDeg"))
      case None => g.verts.select(col("id"), lit(1.0 / n).as("rank"),
        col("dangling"), col("outDeg"))
    }, PageRank.danglingSum)
    // one scan of each fresh state: delta norms + the next dangling mass
    val res = Superstep.run(spark, name, start, maxIter,
      aggs = Seq(sum(col("d")).as("l1"), max(col("d")).as("linf"),
        PageRank.danglingSum.as("dm"),
        count(lit(1)).as("rows")),
      keep = _.select("id", "rank", "dangling", "outDeg"),
      halt = _.deltaLinf < tol,
      store = store, commit = Some(_.select("id", "rank", "dangling")),
      startIter = startIter) { (_, ranks, prev) =>
      PageRank.superstep(g, ranks, prev.fold(dm0)(_.getAs[Double]("dm")), damping)
        .withColumn("d", abs(col("rank") - col("prev")))
        .select(col("id"), col("rank"), col("dangling"), col("outDeg"), col("d"))
    }
    if (ownPrepared) g.release()
    res.copy(state = res.state.select("id", "rank"))
  }
}

object PageRank {

  /** Prepared graph: hash-partitioned, checkpointed inputs reused by every
    * superstep. `adj` is degree-free (src, dst, salt); `verts` carries
    * (id, outDeg, dangling). `hotIds` is Some(tiny table of hub ids) iff
    * some vertex's out-degree exceeds the skew threshold — then `adj`
    * carries a real `salt` and the contribution join runs salted (see
    * superstep). `patch` is the streaming tier's signed delta overlay. */
  final case class Prepared(adj: DataFrame, verts: DataFrame, n: Double,
                            hotIds: Option[DataFrame] = None, saltK: Int = 16,
                            patch: Option[DataFrame] = None) {
    /** Drop the blocks of every checkpoint this Prepared holds. */
    def release(): Unit = (Seq(adj, verts) ++ hotIds ++ patch).foreach(GraftSqlShims.release)
  }

  /** Hub skew handling (north rule): a vertex with out-degree >
    * `hotDegThreshold` concentrates that many rows on one `src` shuffle key
    * in the per-superstep contribution join. Detected ONCE here (degree is
    * static): such adj rows get a deterministic salt from xxhash64(dst), and
    * every superstep broadcast-replicates the hubs' rank rows per salt —
    * bounded per-key rows, one tiny broadcast, no change when no hubs exist
    * (web out-degree is usually moderate; transposed/social graphs are the
    * hub case). */
  def prepare(spark: SparkSession, edges: DataFrame, vertices: DataFrame,
              hotDegThreshold: Long = 2000000L, saltK: Int = 16): Prepared = {
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // the hub probe is observed on the out-degree checkpoint: no second job
    val (outDeg, maxOutDeg) = checkpointObserving(
      edges.groupBy(col("src").as("id")).agg(count(lit(1)).as("outDeg")),
      coalesce(max(col("outDeg")), lit(0L)).cast("double"))
    val hasHot = maxOutDeg > hotDegThreshold
    val hot = outDeg.where(col("outDeg") > hotDegThreshold).select(col("id"))
    val adjBase =
      if (hasHot)
        edges.select(col("src"), col("dst"))
          .join(broadcast(hot.withColumn("isHot", lit(true)))
              .withColumnRenamed("id", "src"), Seq("src"), "left_outer")
          .select(col("src"), col("dst"),
            when(col("isHot"),
              pmod(xxhash64(col("dst")), lit(saltK.toLong))).otherwise(lit(0L)).as("salt"))
      else edges.select(col("src"), col("dst"), lit(0L).as("salt"))
    val adj = checkpoint(
      if (hasHot) adjBase.repartition(parts, col("src"), col("salt"))
      else placed(adjBase, "src"))
    val (verts, n) = checkpointObserving(placed(vertices.select(col("id")).distinct()
      .join(outDeg.hint("shuffle_hash"), Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("outDeg"), lit(0L)).as("outDeg"),
        col("outDeg").isNull.as("dangling")), "id"),
      count(lit(1)).cast("double"))
    require(n > 0, "empty vertex set")
    val g = Prepared(adj, verts, n, if (hasHot) Some(checkpoint(hot)) else None, saltK)
    release(outDeg)
    g
  }

  /** Incremental Prepared maintenance for the streaming tier — O(|Δ|)
    * compute, ZERO scans or shuffles of the edge table:
    *  - vertex/out-degree state updated by pure arithmetic on the per-src
    *    delta counts (broadcast join against the old verts), hash-partitioned
    *    by id like prepare()'s, so the warm supersteps keep their single
    *    exchange; |V| is observed on its checkpoint;
    *  - the base adjacency is reused UNCHANGED; the delta folds into the
    *    signed patch (w = +1 add, −1 delete), compacted so weights stay in
    *    {−1, +1} (a delete of a base edge later re-added nets to 0, etc).
    * `addedEdges`/`deletedEdges` are DIRECTED (src, dst) deltas
    * (Updates.edgeDeltaDirectedCollected); vertex membership changes come
    * as tiny driver-side id lists. The caller rebuilds via prepare() when the patch
    * outgrows its threshold (StreamGraph does this). */
  def updatePrepared(spark: SparkSession, prev: Prepared,
                     addedEdges: DataFrame, deletedEdges: DataFrame,
                     newVertexIds: Seq[Long] = Seq.empty,
                     deletedVertexIds: Seq[Long] = Seq.empty): Prepared = {
    import spark.implicits._
    val dd = checkpoint(addedEdges.select(col("src").as("id"), lit(1L).as("d"))
      .unionByName(deletedEdges.select(col("src").as("id"), lit(-1L).as("d")))
      .groupBy(col("id")).agg(sum(col("d")).as("dd")))
    val survivors =
      if (deletedVertexIds.isEmpty) prev.verts
      else prev.verts.where(!col("id").isin(deletedVertexIds: _*))
    val updated = survivors
      .join(broadcast(dd), Seq("id"), "left_outer")
      .select(col("id"), (col("outDeg") + coalesce(col("dd"), lit(0L))).as("outDeg"))
    val fresh = newVertexIds.toDF("id")
      .join(dd, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("dd"), lit(0L)).as("outDeg"))
    val (verts, n) = checkpointObserving(placed(updated.unionByName(fresh)
      .select(col("id"), col("outDeg"), (col("outDeg") === 0L).as("dangling")), "id"),
      count(lit(1)).cast("double"))
    release(dd)
    val deltas = addedEdges.select(col("src"), col("dst"), lit(1L).as("w"))
      .unionByName(deletedEdges.select(col("src"), col("dst"), lit(-1L).as("w")))
    val patch = checkpoint(prev.patch.map(_.unionByName(deltas)).getOrElse(deltas)
      .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
      .where(col("w") =!= 0L))
    prev.copy(verts = verts, n = n, patch = Some(patch))
  }

  def danglingMass(ranks: DataFrame): Double = ranks.agg(danglingSum).head().getDouble(0)

  private def danglingSum: Column = sum(when(col("dangling"), col("rank")).otherwise(0.0))

  /** `checkpoint(df)` and the value of `agg` over it, from ONE SQL
    * execution: `agg` is observed at the plan's root, so it is accumulated
    * in the checkpoint's own result stage (see Superstep). */
  private def checkpointObserving(df: DataFrame, agg: Column): (DataFrame, Double) = {
    val observed = df.observe("setup", agg.as("v"))
    val chk = checkpoint(observed)
    (chk, observed.queryExecution.observedMetrics("setup").getDouble(0))
  }

  /** One superstep: returns (id, rank, prev, dangling, outDeg) — NOT yet
    * materialized. Over checkpointed inputs `adj` (hash by src) and `ranks`
    * (hash by id, same count) a hub-free superstep runs ONE exchange, the
    * groupBy(dst) sum; both joins run in place (see the class doc). The
    * salted hub join and the patch overlay add their own exchanges. */
  def superstep(g: Prepared, ranks: DataFrame, danglingMass: Double,
                damping: Double): DataFrame = {
    val n = g.n
    // r(u)/outDeg(u) computed ONCE per vertex on the rank side; a vertex
    // whose degree dropped to 0 contributes 0 here and its mass flows
    // through the dangling term instead (also keeps base/patch cancellation
    // exact: both sides of a deleted edge use the identical 0)
    val rod = ranks.select(col("id"),
      when(col("outDeg") > 0, col("rank") / col("outDeg")).otherwise(lit(0.0)).as("rod"))
    val joined = g.hotIds match {
      case None =>
        // hub-free: the join key is src alone, adj's one-time partitioning,
        // co-partitioned with the ranks side — no exchange
        g.adj.join(rod.hint("shuffle_hash"), g.adj("src") === rod("id"))
      case Some(hot) =>
        // broadcast the hot-vertex frontier: hub rank rows replicated per
        // salt, join key (src, salt) is adj's (src, salt) partitioning key
        val rHot = rod.join(broadcast(hot), Seq("id"), "left_semi")
          .withColumn("rsalt", explode(array((0 until g.saltK).map(s => lit(s.toLong)): _*)))
        val rCold = rod.join(broadcast(hot), Seq("id"), "left_anti")
          .withColumn("rsalt", lit(0L))
        val rankSide = rCold.unionByName(rHot)
        g.adj.join(rankSide.hint("shuffle_hash"),
          g.adj("src") === rankSide("id") && g.adj("salt") === rankSide("rsalt"))
    }
    val baseContrib = joined.select(col("dst"), col("rod"))
    val allContrib = g.patch match {
      case Some(p) =>
        // tiny signed overlay: broadcast the patch against the rank side —
        // w = +1 adds an edge's contribution, −1 cancels a base row's
        baseContrib.unionByName(
          rod.join(broadcast(p), rod("id") === p("src"))
            .select(p("dst").as("dst"), (col("w") * col("rod")).as("rod")))
      case None => baseContrib
    }
    val contribs = allContrib
      .groupBy(col("dst").as("id"))
      .agg(sum(col("rod")).as("contrib"))
    ranks.select(col("id"), col("rank").as("prev"), col("dangling"), col("outDeg"))
      .join(contribs.hint("shuffle_hash"), Seq("id"), "left_outer")
      .select(col("id"),
        (lit((1.0 - damping) / n) +
          lit(damping) * (coalesce(col("contrib"), lit(0.0)) +
            lit(danglingMass / n))).as("rank"),
        col("prev"), col("dangling"), col("outDeg"))
  }

  /** Fixed-iteration variant used by the DuckDB-oracle query: the oracle SQL
    * unrolls the identical recurrence k times (floating convergence loops
    * can't cross engines; a fixed iteration count can, with rounding). */
  def fixedIterations(spark: SparkSession, edges: DataFrame, vertices: DataFrame,
                      iters: Int, damping: Double = 0.85): DataFrame =
    new PageRank(damping, tol = 0.0, maxIter = iters).run(spark, edges, vertices).state
}
