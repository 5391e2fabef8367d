package graft.algo

import org.apache.spark.sql.{DataFrame, GraftSqlShims, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph.GraphBuilder
import graft.state.StateStore

/** Connected components by iterative min-label join with pointer jumping.
  *
  * Plain min-label propagation (each vertex takes the min label among itself
  * and its neighbors) needs O(diameter) supersteps — fatal on ring/chain
  * graphs (our fixture sites are rings of P pages). We add the classic
  * pointer-jumping step: after the neighbor-min, each vertex also looks up
  * its OLD label's current label (labels are always vertex ids of the same
  * component, so this is sound) — path compression that converges in
  * O(log n) supersteps instead.
  *
  * Invariants (tested): labels only decrease; a label is always the id of a
  * vertex in the same component; fixpoint ⇒ label is constant per component
  * ⇒ label = component-min id (exact, as the north rule requires — not
  * approximate).
  *
  * Scale notes: two shuffles per superstep (neighbor groupBy-min + the jump
  * join on label). The neighbor min is algebraic ⇒ partial aggregation
  * absorbs hub skew. The JUMP join is the skew hazard: its key is `label`,
  * whose distribution collapses toward one hot key per component as
  * convergence approaches — on a web graph (one giant component) that is a
  * single key carrying O(|V|) rows. Mitigation (north rule "key salting +
  * broadcast of the hot frontier"): once the label distribution concentrates
  * (approx distinct labels ≪ rows, tracked for free in the per-superstep
  * aggregate), labels with count > `hotLabelThreshold` are detected by an
  * algebraic groupBy (itself skew-free), the probe side gets a deterministic
  * salt in [0, saltK) from xxhash64(id), and the tiny hot slice of the
  * (unique-key) build side is broadcast-replicated once per salt — per-key
  * shuffle rows are bounded by max(hotLabelThreshold, rows/saltK).
  *
  * The edge table is persisted once; state is lineage-truncated per
  * superstep. This is the tabular form of union-find — the reference has no
  * CC, but its iterative index-propagation loops (SymBi InsertionTopDown
  * queues, symbi.cpp:404-468) are the same propagate-until-no-change shape.
  */
final class ConnectedComponents(maxIter: Int = 50,
                                hotLabelThreshold: Long = 1000000L,
                                saltK: Int = 16) extends Algorithm {

  /** Supersteps that took the salted-jump path (visible for tests/metrics). */
  @volatile var saltedSupersteps: Int = 0

  override def name: String = "cc"

  override def run(spark: SparkSession, edges: DataFrame, vertices: DataFrame,
                   store: Option[StateStore] = None): AlgoResult =
    loop(spark, edges, vertices, store, None)

  /** Warm-start from an existing labeling (incremental CC after edge ADDS:
    * old labels are per-part component minima, so min-propagation from them
    * converges to the merged component's min — sound only for inserts;
    * deletes require a cold run, see graft.stream.Updates). */
  def runFrom(spark: SparkSession, edges: DataFrame, vertices: DataFrame,
              init: DataFrame): AlgoResult =
    loop(spark, edges, vertices, None, Some(init))

  private def loop(spark: SparkSession, edges: DataFrame, vertices: DataFrame,
                   store: Option[StateStore], init: Option[DataFrame]): AlgoResult = {
    // Undirected view: propagate along both directions. Partitioned by src
    // ONCE (GraphBuilder.undirected) and persisted: the cached scan reports
    // that partitioning, which satisfies the per-superstep neighbor-min
    // join on src, so the full undirected table does not re-exchange per
    // superstep. The state side does, unless its checkpoint leaf kept an
    // id partitioning (GraftSqlShims.checkpoint).
    val und = GraphBuilder.undirected(edges).persist()
    // hint joins shuffle_hash only past a size floor (opt round 6): on a
    // fixture-scale graph the forced hint blocks AQE's broadcast choice and
    // costs ~12 needless small shuffles per run; on a big graph it stops
    // SMJ re-sorting the edge table every superstep. The count is free —
    // it materializes the persist either way.
    val bigGraph = und.count() > 100000L
    def sh(df: DataFrame): DataFrame = if (bigGraph) df.hint("shuffle_hash") else df

    val start = GraftSqlShims.checkpoint(init.getOrElse(vertices.select(col("id")).distinct()
      .withColumn("label", col("id"))))
    saltedSupersteps = 0
    // the last hot-label table, released once its superstep materialized
    var hotChk = Option.empty[DataFrame]
    // `labels` (approx distinct) and `rows` of the previous superstep's
    // aggregate drive the hot-label probe below
    val res = Superstep.run(spark, name, start, maxIter,
      aggs = Seq(
        sum(when(col("newLabel") =!= col("label"), 1L).otherwise(0L)).as("changed"),
        count(lit(1)).as("rows"),
        approx_count_distinct(col("newLabel")).as("labels")),
      keep = _.select(col("id"), col("newLabel").as("label")),
      store = store) { (_, state, prev) =>
      hotChk.foreach(GraftSqlShims.release)
      // (1) neighbor min: for each dst, min over labels of its in-neighbors.
      // shuffle-hash (opt round 6, guide §3.1): state fits per-partition
      // hash maps; SMJ would re-sort the big und side every superstep.
      val nbrMin = und.join(sh(state), und("src") === state("id"))
        .groupBy(und("dst").as("id")).agg(min(col("label")).as("nbrMin"))
      val cand = state.join(sh(nbrMin), Seq("id"), "left_outer")
        .select(col("id"), col("label"),
          least(col("label"), coalesce(col("nbrMin"), col("label"))).as("cand"))
      // (2) pointer jump: label(label(v)) — compresses label chains. Probe
      // key = `label` (concentrates as components merge); build side is
      // unique-key. Salted once the distribution is provably concentrated.
      val ptr = state.select(col("id").as("lid"), col("label").as("plabel"))
      // a hot label needs > hotLabelThreshold member rows, impossible when
      // the whole state has fewer — skip the per-superstep hot probe (a
      // full groupBy + checkpoint + count, 2 extra jobs) below that size:
      // small/mid graphs pay zero probes, the 100 TB regime still probes
      val concentrated = prev.exists { r =>
        val rows = r.getAs[Long]("rows")
        rows > hotLabelThreshold && r.getAs[Long]("labels") < rows / 4
      }
      def plainJump(): DataFrame =
        cand.join(sh(ptr), cand("label") === ptr("lid"), "left_outer")
          .select(col("id"), col("label"),
            least(col("cand"), coalesce(col("plabel"), col("cand"))).as("newLabel"))
      // hot labels by algebraic count (partial agg absorbs the hot key);
      // only probed in the concentrated regime, and the salted plan only
      // replaces the plain one when a label actually exceeds the threshold
      hotChk = if (!concentrated) None else Some(GraftSqlShims.checkpoint(
        state.groupBy(col("label")).agg(count(lit(1)).as("n"))
          .where(col("n") > hotLabelThreshold).select(col("label").as("hl"))))
      if (hotChk.forall(_.limit(1).count() == 0)) plainJump()
      else {
        val hot = hotChk.get
        saltedSupersteps += 1
        val candS = cand
          .join(broadcast(hot), cand("label") === col("hl"), "left_outer")
          .withColumn("salt",
            when(col("hl").isNotNull, pmod(xxhash64(col("id")), lit(saltK.toLong)))
              .otherwise(lit(0L)))
        // build side: cold rows once at salt 0; hot-label rows replicated
        // per salt (the broadcast-the-hot-frontier half of the rule)
        val ptrHot = ptr.join(broadcast(hot), ptr("lid") === col("hl"), "left_semi")
          .withColumn("psalt", explode(array((0 until saltK).map(s => lit(s.toLong)): _*)))
        val ptrCold = ptr.join(broadcast(hot), ptr("lid") === col("hl"), "left_anti")
          .withColumn("psalt", lit(0L))
        val ptr2 = ptrCold.unionByName(ptrHot)
        candS.join(ptr2,
            candS("label") === ptr2("lid") && candS("salt") === ptr2("psalt"),
            "left_outer")
          .select(candS("id"), candS("label"),
            least(col("cand"), coalesce(col("plabel"), col("cand"))).as("newLabel"))
      }
    }

    hotChk.foreach(GraftSqlShims.release)
    und.unpersist()
    res
  }
}
