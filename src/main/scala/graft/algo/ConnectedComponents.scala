package graft.algo

import org.apache.spark.sql.{DataFrame, GraftSqlShims, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph.GraphBuilder
import graft.graph.GraphBuilder.placed
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
  * Scale notes (GraphBuilder.placed's layout): the undirected table
  * is checkpointed hash-partitioned by src and the state by id, with the
  * same count, and stay put. A superstep exchanges only messages: the
  * state by `label`, as jump edges label(v) → v that join the state in
  * place together with und (one join sends both message kinds), then the
  * messages themselves, ONE min per id. That min is algebraic ⇒
  * partial aggregation absorbs hub skew, and the state ⋈ min join reads the
  * state leaf, so the next state keeps hash(id). The JUMP join is the skew
  * hazard: its probe key is `label`, whose distribution collapses toward
  * one hot key per component as convergence approaches — on a web graph
  * (one giant component) that is a single key carrying O(|V|) rows.
  * Mitigation (north rule "key salting + broadcast of the hot frontier"):
  * once the label distribution concentrates (approx distinct labels ≪
  * rows, tracked for free in the per-superstep aggregate), labels with
  * count > `hotLabelThreshold` are detected by an algebraic groupBy (itself
  * skew-free), the probe side gets a deterministic salt in [0, saltK) from
  * xxhash64(id), and the tiny hot slice of the (unique-key) build side is
  * broadcast-replicated once per salt — per-key shuffle rows are bounded by
  * max(hotLabelThreshold, rows/saltK). The salted messages join the same
  * union, so the superstep still ends in the in-place state ⋈ min join.
  *
  * Join hints, the same rule in LP and BFS: a shuffle-hash build side is
  * always unique-key and placed by id — the state, its frontier slice or
  * the per-id aggregate of the messages — so at most |V|/partitions rows
  * per task; a hub or a giant component concentrates the probe side, never
  * a hash build. The hint on the state ⋈ min join keeps it in place
  * without AQE's broadcast job. No size gate: the rule holds at any |E|.
  *
  * This is the tabular form of union-find — the reference has no
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
    // undirected view, hash-partitioned by src (GraphBuilder.undirected);
    // the initial state by id with the same count (GraphBuilder.placed)
    val und = GraftSqlShims.checkpoint(GraphBuilder.undirected(edges))
    val start = GraftSqlShims.checkpoint(init.map(placed(_, "id")).getOrElse(
      placed(vertices.select(col("id")), "id").distinct().withColumn("label", col("id"))))
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
      // every message is a vertex's label sent along an edge (src → dst),
      // joined with the state in place: edge tables sit placed by src
      def send(edges: DataFrame): DataFrame =
        edges.join(state.hint("shuffle_hash"), col("src") === col("id"))
          .select(col("dst").as("id"), col("label").as("m"))
      // a hot label needs > hotLabelThreshold member rows, impossible when
      // the whole state has fewer — skip the per-superstep hot probe (a
      // full groupBy + checkpoint + count, 2 extra jobs) below that size:
      // small/mid graphs pay zero probes, the 100 TB regime still probes
      val concentrated = prev.exists { r =>
        val rows = r.getAs[Long]("rows")
        rows > hotLabelThreshold && r.getAs[Long]("labels") < rows / 4
      }
      // hot labels by algebraic count (partial agg absorbs the hot key);
      // only probed in the concentrated regime, and the salted plan only
      // replaces the plain one when a label actually exceeds the threshold
      hotChk = if (!concentrated) None else Some(GraftSqlShims.checkpoint(
        state.groupBy(col("label")).agg(count(lit(1)).as("n"))
          .where(col("n") > hotLabelThreshold).select(col("label").as("hl"))))
      val msgs =
        if (hotChk.forall(_.limit(1).count() == 0)) {
          // (1) neighbour messages along und, and (2) the pointer jump
          // label(label(v)) as messages along the edges label(v) → v:
          // the state exchanged by label is the only row movement before
          // the send, and both edge kinds share one in-place join
          val jumps = placed(
            state.select(col("label"), col("id").as("dst")), "label")
          send(und.select(col("src"), col("dst")).union(jumps))
        } else {
          // the salted jump: the probe side is the state keyed by label,
          // salted from xxhash64(id) for hot labels; the build side `ptr`
          // (the state by id) has cold rows once at salt 0 and hot-label
          // rows replicated per salt (the broadcast-the-hot-frontier half
          // of the rule)
          val hot = hotChk.get
          saltedSupersteps += 1
          val ptr = state.select(col("id").as("lid"), col("label").as("plabel"))
          val stateS = state
            .join(broadcast(hot), state("label") === col("hl"), "left_outer")
            .withColumn("salt",
              when(col("hl").isNotNull, pmod(xxhash64(col("id")), lit(saltK.toLong)))
                .otherwise(lit(0L)))
          val ptrHot = ptr.join(broadcast(hot), ptr("lid") === col("hl"), "left_semi")
            .withColumn("psalt", explode(array((0 until saltK).map(s => lit(s.toLong)): _*)))
          val ptrCold = ptr.join(broadcast(hot), ptr("lid") === col("hl"), "left_anti")
            .withColumn("psalt", lit(0L))
          val ptr2 = ptrCold.unionByName(ptrHot)
          send(und).unionByName(stateS.join(ptr2,
              stateS("label") === ptr2("lid") && stateS("salt") === ptr2("psalt"))
            .select(stateS("id"), col("plabel").as("m")))
        }
      val msgMin = msgs.groupBy(col("id")).agg(min(col("m")).as("m"))
      state.join(msgMin.hint("shuffle_hash"), Seq("id"), "left_outer")
        .select(col("id"), col("label"),
          least(col("label"), coalesce(col("m"), col("label"))).as("newLabel"))
    }

    hotChk.foreach(GraftSqlShims.release)
    GraftSqlShims.release(und)
    res
  }
}
