package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.GraftSqlShims.checkpoint
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.algo.{ConnectedComponents, LabelPropagation, PageRank, TriangleCount}
import graft.graph.GraphBuilder
import graft.ops.{Dedup, Hashing, Multimodal, Similarity, TextAnalysis}

/** The driver-facing query catalogue: one entry per implemented operator
  * (SparkEntry.queries) and, for everything ANSI-SQL-expressible, a DuckDB
  * oracle over the same parquet tables (SparkEntry.oracleSql).
  *
  * Link graphs are derived deterministically from the TPC-H-ish testdata so
  * that BOTH engines can construct the identical graph:
  *  - "procurement graph": customer → supplier (+ID_OFFSET) via orders ⋈
  *    lineitem — directed bipartite; suppliers are all dangling (PageRank's
  *    dangling-mass path is exercised on every run).
  *  - "co-purchase graph": part —— part when two parts share an order,
  *    canonical src < dst — the triangle-rich undirected graph.
  *
  * Cross-engine float discipline: every floating output is rounded (6-8
  * decimals) AFTER all arithmetic, and every ranking orders by the rounded
  * value with an integer tie-break, so shuffle/summation order can never
  * flip a comparison (SURVEY.md §7.4-2).
  */
object GraftQueries {

  private val ID_OFFSET = 1000000L

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")


  /** Train every data-dependent oracle artifact for `dir` (currently: the
    * IVF quantizer) so oracleSql emits literals consistent with what the
    * queries used. Verify calls this before dumping oracle_sql.json;
    * running q_ann_ivf itself also populates the same memoized model. */
  def prepareOracles(spark: SparkSession, dir: String): Unit = {
    IvfModel.centroids(spark, dir); ()
  }

  // ------------------------------------------------------- graph derivation

  /** customer → supplier edges (directed, distinct). */
  def procurementEdges(spark: SparkSession, dir: String): DataFrame = {
    val o = table(spark, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val l = table(spark, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
    o.join(l, o("o_orderkey") === l("l_orderkey"))
      .select(col("o_custkey").as("src"), (col("l_suppkey") + ID_OFFSET).as("dst"))
      .distinct()
  }

  private val procurementEdgesSql =
    "SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst " +
      "FROM orders JOIN lineitem ON o_orderkey = l_orderkey"

  /** part —— part co-purchase edges (src < dst, distinct). */
  def copurchaseEdges(spark: SparkSession, dir: String): DataFrame = {
    val l = table(spark, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
    l.as("a").join(l.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
      .distinct()
  }

  private val copurchaseEdgesSql =
    "SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst FROM lineitem a " +
      "JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey"

  private def edgeVertices(edges: DataFrame): DataFrame =
    edges.select(col("src").as("id")).union(edges.select(col("dst").as("id"))).distinct()

  /** Deterministic LABELED graph for the subgraph-matching queries — both
    * engines derive identical labels: vlabel = p_partkey % 4 over parts,
    * elabel = (src + dst) % 3 over co-purchase edges. */
  private def labeledParts(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val e = copurchaseEdges(s, d)
      .withColumn("elabel", ((col("src") + col("dst")) % 3).cast("int"))
    val v = table(s, d, "part")
      .select(col("p_partkey").as("id"), (col("p_partkey") % 4).cast("int").as("vlabel"))
    (e, v)
  }

  /** Shared labeled-relation CTEs for the matching oracles (mirror of
    * GraphMatcher.relation over labeledParts). */
  private val labeledRelCte =
    s"e AS MATERIALIZED ($copurchaseEdgesSql), " +
      "lv AS MATERIALIZED (SELECT p_partkey AS id, p_partkey % 4 AS vlabel FROM part), " +
      "ue AS MATERIALIZED (SELECT src, dst, (src + dst) % 3 AS elabel FROM e " +
      "UNION ALL SELECT dst AS src, src AS dst, (src + dst) % 3 AS elabel FROM e), " +
      "r AS MATERIALIZED (SELECT ue.src, ue.dst, ue.elabel, a.vlabel AS sl, b.vlabel AS dl " +
      "FROM ue JOIN lv a ON a.id = ue.src JOIN lv b ON b.id = ue.dst)"

  // ---------------------------------------------------------- the catalogue

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- sources / graph build (SURVEY §2.1-2.3) ---
    "q_edges" -> ((s, d) => procurementEdges(s, d).orderBy("src", "dst")),
    "q_degrees" -> ((s, d) =>
      GraphBuilder.degrees(procurementEdges(s, d))
        .select(col("id"), col("outDeg").as("out_deg"), col("inDeg").as("in_deg"))
        .orderBy("id")),

    // --- iterative algorithms (SURVEY §2.4-2.5; north rule) ---
    "q_pagerank" -> ((s, d) => {
      val e = procurementEdges(s, d)
      PageRank.fixedIterations(s, e, edgeVertices(e), iters = 10)
        .select(col("id"), round(col("rank"), 8).as("pr"))
        .orderBy("id")
    }),
    "q_cc" -> ((s, d) => {
      val e = procurementEdges(s, d)
      new ConnectedComponents(maxIter = 60).run(s, e, edgeVertices(e)).state
        .orderBy("id")
    }),
    "q_cc_sizes" -> ((s, d) => {
      val e = procurementEdges(s, d)
      new ConnectedComponents(maxIter = 60).run(s, e, edgeVertices(e)).state
        .groupBy(col("label")).agg(count(lit(1)).as("n"))
        .orderBy("label")
    }),
    "q_triangles" -> ((s, d) => TriangleCount.countTriangles(s, copurchaseEdges(s, d))),

    // --- general labeled subgraph matching (the reference's core, J1-J5) ---
    "q_match_path3" -> ((s, d) => {
      import graft.matching.{GraphMatcher, QueryGraph}
      val (e, v) = labeledParts(s, d)
      val q = QueryGraph.path(
        vlabels = Seq(Some(0), Some(1), Some(2)),
        elabels = Seq(Some(1), Some(2)))
      GraphMatcher.findMatches(s, q, e, v)
        .groupBy(col("u1")).agg(count(lit(1)).as("n"))
        .orderBy("u1")
    }),
    "q_match_clique4" -> ((s, d) => {
      // automorphism breaking (J10 family): enumerate only canonical
      // embeddings (u1<u2<u3<u4 falls out of the lex-leader predicates) and
      // multiply by |Aut| = 24 — same ordered-embedding count as the oracle
      // for 24x less join work
      import graft.matching.{GraphMatcher, QueryGraph}
      val (e, v) = labeledParts(s, d)
      GraphMatcher.countMatchesAuto(s, QueryGraph.clique(4, vlabel = Some(1)), e, v)
    }),
    "q_match_path3_idx" -> ((s, d) => {
      // same query THROUGH the candidate-pruning index (X2 semi-join
      // reduction) — shares q_match_path3's oracle, so the pruned plan is
      // oracle-gated to be exactly result-preserving. One materialized
      // relation is shared between stats, index build and the join plan.
      import graft.matching.{GraphMatcher, QueryGraph}
      val (e, v) = labeledParts(s, d)
      val q = QueryGraph.path(
        vlabels = Seq(Some(0), Some(1), Some(2)),
        elabels = Seq(Some(1), Some(2)))
      GraphMatcher.findMatchesIndexed(s, q, e, v, rounds = 1)
        .groupBy(col("u1")).agg(count(lit(1)).as("n"))
        .orderBy("u1")
    }),
    "q_match_star" -> ((s, d) => {
      // hub star counted COMBINATORIALLY (J10/G6, CaLiG shellCand/numAdd):
      // the three degree-1 leaves are never enumerated — per center the
      // count is the falling factorial n(n-1)(n-2) of its matching-neighbor
      // count; the oracle enumerates the same thing as a 3-way self-join
      import graft.matching.{GraphMatcher, QueryGraph, QVertex, QEdge}
      val (e, v) = labeledParts(s, d)
      val star = QueryGraph(
        Seq(QVertex("u1", Some(1)), QVertex("u2", Some(2)),
          QVertex("u3", Some(2)), QVertex("u4", Some(2))),
        Seq(QEdge("u1", "u2"), QEdge("u1", "u3"), QEdge("u1", "u4")))
      GraphMatcher.countMatchesShell(s, star, e, v)
        .getOrElse(sys.error("star query must be shell-countable"))
    }),
    "q_match_path3_sjt" -> ((s, d) => {
      // q_match_path3 answered FROM the materialized SJ-tree stage state
      // (J6): init builds the stored per-stage partial-match relations and
      // the final stage IS the match relation — shares q_match_path3's
      // oracle, so the stored-state machinery is result-gated end to end
      // (the per-batch delta rule is stress-tested in sbt)
      import graft.matching.{GraphMatcher, QueryGraph, SJTreeState}
      val (e, v) = labeledParts(s, d)
      val q = QueryGraph.path(
        vlabels = Seq(Some(0), Some(1), Some(2)),
        elabels = Seq(Some(1), Some(2)))
      val rel = GraphMatcher.materializedRelation(e, v, Some(q))
      val st = new SJTreeState(s, q, GraphMatcher.chooseOrder(q, rel))
      st.init(rel)
      st.matches.groupBy(col("u1")).agg(count(lit(1)).as("n")).orderBy("u1")
    }),
    "q_match_path3_delta" -> ((s, d) => {
      // J3/J4 for an arbitrary (non-triangle) query: matches using at least
      // one flagged edge; the oracle computes full-minus-unflagged counts
      import graft.matching.{GraphMatcher, QueryGraph}
      val (e, v) = labeledParts(s, d)
      val q = QueryGraph.path(
        vlabels = Seq(Some(0), Some(1), Some(2)),
        elabels = Seq(Some(1), Some(2)))
      val flagged = e.withColumn("isNew", (col("src") + col("dst")) % 10 === 0)
      GraphMatcher.countDeltaMatches(s, q, flagged, v)
    }),
    "q_csm_maintained" -> ((s, d) => {
      // The CONTINUOUS tier end-to-end under the oracle gate (J6+J11): seed
      // the materialized-state multi-query driver with a hash-slice of the
      // labeled graph, replay a deterministic add/delete stream in three
      // micro-batches through the driver-local fast path, and return the
      // MAINTAINED counts — the oracle recomputes them from scratch over
      // the FINAL edge set, so routing, delta derivation, and the stored
      // stage delta rule are all cross-engine result-gated (the per-batch
      // invariants are sbt stress-pinned; this pins the end state).
      import graft.matching.{MultiQueryDriver, QueryGraph}
      import graft.graph.GraphUpdate
      val (e, v) = labeledParts(s, d)
      val h = (col("src") * 31 + col("dst")) % 10
      val eInit = e.where(h < 7)
      val qs = Map(
        "p012" -> QueryGraph.path(Seq(Some(0), Some(1), Some(2)), Seq(Some(1), Some(2))),
        "p123" -> QueryGraph.path(Seq(Some(1), Some(2), Some(3)), Seq(Some(0), Some(1))),
        // 3 stages incl. a CLOSING edge: the stored-state delta rule's
        // semi-join step form is oracle-exercised, not just path extensions
        "tri1" -> QueryGraph.clique(3, Some(1)))
      val driver = new MultiQueryDriver(s, qs, v, eInit)
      val adds = e.where(h === 7 || h === 8)
        .select(col("src"), col("dst"), col("elabel")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(t => (t._1, t._2))
      val dels = e.where(h === 0).select(col("src"), col("dst")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted
      var seq = 0L
      val ops =
        adds.map { case (a, b, l) => seq += 1; GraphUpdate(seq, "e", a, b, l) } ++
          dels.map { case (a, b) => seq += 1; GraphUpdate(seq, "-e", a, b, 0) }
      (0 until 3).foreach { k =>
        driver.applyBatchLocal(ops.filter(u => (u.id1 + u.id2) % 3 == k).toSeq)
      }
      import s.implicits._
      driver.counts.toSeq.sortBy(_._1).toDF("qname", "cnt").orderBy("qname")
    }),
    "q_stream_maintained" -> ((s, d) => {
      // The STREAMED graph tier end-to-end under the oracle gate: replay the
      // same deterministic add/delete stream through StreamGraph.applyLocal
      // (safe/unsafe CC protocol + per-batch triangle delta counters) and
      // return the MAINTAINED results — the oracle recomputes connected
      // components (WITH RECURSIVE, isolated vertices included), the edge
      // count, and the triangle count from scratch over the FINAL edge set.
      import graft.stream.StreamGraph
      import graft.graph.GraphUpdate
      val all = copurchaseEdges(s, d)
      val h = (col("src") * 31 + col("dst")) % 10
      val eInit = all.where(h < 7)
      val verts = edgeVertices(all) // every endpoint exists up front
      val sg = new StreamGraph(s, verts, eInit, maintainTriangles = true)
      val adds = all.where(h === 7 || h === 8)
        .select(col("src"), col("dst")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted
      val dels = all.where(h === 0)
        .select(col("src"), col("dst")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted
      var seq = 0L
      val ops =
        adds.map { case (a, b) => seq += 1; GraphUpdate(seq, "e", a, b, 0) } ++
          dels.map { case (a, b) => seq += 1; GraphUpdate(seq, "-e", a, b, 0) }
      (0 until 3).foreach { k =>
        sg.applyLocal(ops.filter(u => (u.id1 + u.id2) % 3 == k).toSeq)
      }
      import s.implicits._
      val ccComponents = sg.ccState
        .agg(countDistinct(col("label"))).head().getLong(0)
      Seq(
        ("cc_components", ccComponents),
        ("edges", sg.edges.count()),
        ("triangles", sg.triangleCount))
        .toDF("metric", "value").orderBy("metric")
    }),
    "q_match_tailtri" -> ((s, d) => {
      // tailed triangle: label-1 triangle core with a label-2 pendant —
      // exercises the MIXED kernel-and-shell path (enumerated core × one
      // combinatorial shell group with a disjoint label, so no core-image
      // exclusion fires); the oracle enumerates the same ordered embeddings
      import graft.matching.{GraphMatcher, QueryGraph, QVertex, QEdge}
      val (e, v) = labeledParts(s, d)
      val q = QueryGraph(
        Seq(QVertex("x", Some(1)), QVertex("y", Some(1)), QVertex("z", Some(1)),
          QVertex("w", Some(2))),
        Seq(QEdge("x", "y"), QEdge("y", "z"), QEdge("x", "z"), QEdge("x", "w")))
      GraphMatcher.countMatchesShell(s, q, e, v)
        .getOrElse(sys.error("tailed triangle must be shell-countable"))
    }),
    // incremental (delta-join) triangle maintenance: J3/J4 positive/negative
    // counters; the oracle recomputes all three graph versions from scratch
    "q_tri_delta" -> ((s, d) => {
      import graft.matching.DeltaTriangles
      val all = checkpoint(copurchaseEdges(s, d))
      val adds = all.where((col("src") + col("dst")) % 10 === 0)
      val base = all.join(adds, Seq("src", "dst"), "left_anti")
      val dels = all.where((col("src") + col("dst")) % 10 === 5)
      DeltaTriangles.maintain(s, base, adds, dels)
    }),
    // BFS depths from the min-id vertex (A5's frontier-expansion operator)
    "q_bfs_depths" -> ((s, d) => {
      import graft.algo.Bfs
      val e = procurementEdges(s, d)
      val sources = e.agg(min(col("src")).as("id"))
      Bfs.depths(s, e, sources, maxDepth = 50).orderBy("id")
    }),
    "q_lp_step" -> ((s, d) => {
      val und = GraphBuilder.undirected(copurchaseEdges(s, d))
      val state0 = edgeVertices(und).withColumn("label", col("id"))
      new LabelPropagation().step(und, state0)
        .select(col("id"), col("newLabel").as("new_label"))
        .orderBy("id")
    }),
    "q_labelprop" -> ((s, d) => {
      // full sync LP, 5 supersteps (early-stop at changed==0 is a no-op for
      // the unrolled-SQL oracle: a stable labeling is a fixpoint of step)
      val e = copurchaseEdges(s, d)
      new LabelPropagation(maxIter = 5).run(s, e, edgeVertices(e)).state.orderBy("id")
    }),

    "q_pagerank_csr" -> ((s, d) => {
      // same 10-iteration recurrence through the CSR-block engine's PACKED
      // loop (the scaling kernel, CsrPageRank.runPacked) — shares
      // q_pagerank's DuckDB oracle, so the packed path is oracle-gated too
      val e = procurementEdges(s, d)
      val blocks = graft.algo.CsrPageRank.build(s, e, edgeVertices(e))
      val (state, _, _) = graft.algo.CsrPageRank.runPacked(s, blocks, tol = 0.0, maxIter = 10)
      graft.algo.CsrPageRank.toRows(s, state, blocks.vertsOrFail)
        .select(col("id"), round(col("rank"), 8).as("pr"))
        .orderBy("id")
    }),

    // full pages pipeline on the closed-form fixture (html → extraction →
    // xxhash64 graph → CC + triangles + dangling): the oracle is the
    // closed-form expectation computed by the independent plain-Scala
    // fixture math (FIXTURES.md §2), emitted as SQL literals
    "q_pages_stats" -> ((s, _) => {
      import s.implicits._
      val pages = s.createDataset(graft.pages.PagesFixture.generate(20, 50))
      val (v, e) = GraphBuilder.buildVerified(s, pages)
      val vDF = checkpoint(v.toDF())
      val eDF = checkpoint(e.toDF())
      val nPages = vDF.count()
      val nEdges = eDF.count()
      // the three independent statistics overlap as concurrent jobs (opt
      // round 6, guide §2.6): each is a chain of small jobs over the two
      // checkpointed tables, and the fixture graph is far below the
      // cluster's parallelism — results are unchanged, the driver just
      // stops serializing ~12 sub-second jobs. A failing branch cancels
      // the others' jobs before its exception surfaces.
      val Seq(nComps, nTris, nDangling) = graft.util.Limits.all(s, "q_pages_stats")(
        () => new ConnectedComponents(maxIter = 60).run(s, eDF, vDF)
          .state.select("label").distinct().count(),
        () => TriangleCount.countTriangles(s, eDF).head().getLong(0),
        () => vDF.join(eDF.select(col("src").as("id")), Seq("id"), "left_anti").count())
      Seq((nPages, nEdges, nComps, nTris, nDangling))
        .toDF("n_pages", "n_edges", "n_components", "n_triangles", "n_dangling")
    }),

    // --- dedup family (training-data pipeline) ---
    "q_dedup_groups" -> ((s, d) =>
      Dedup.exactGroups(table(s, d, "documents")).orderBy("fp")),
    "q_dedup_jaccard" -> ((s, d) =>
      Dedup.jaccardPairs(table(s, d, "documents"), n = 1, threshold = 0.5,
        maxShingleFreq = Long.MaxValue).orderBy("a", "b")),
    "q_dedup_minhash" -> ((s, d) =>
      // word 3-gram shingles: distinctive on small-vocab corpora (token sets
      // would make nearly every pair an LSH candidate — quadratic blowup).
      // md5-family hashes so the DuckDB oracle mirrors the FULL pipeline
      // (signatures → banding → candidates → exact verify) bit-for-bit;
      // the default xxhash64 family is the cheaper 100 TB configuration.
      Dedup.minhashNearDups(table(s, d, "documents"), n = 3, threshold = 0.8,
        shingleHash = (c, i) => Hashing.mdHash64Seeded(c, i),
        bandHash = cols => Hashing.mdHash64(concat_ws("|", cols: _*)))
        .orderBy("a", "b")),
    "q_dedup_jaccard_capped" -> ((s, d) =>
      // the SCALE-SAFE configuration of q_dedup_jaccard: hot shingles
      // (df > 50 of 500 docs) are dropped before the inverted-index
      // self-join, bounding its fan-out; oracle applies the same cap
      Dedup.jaccardPairs(table(s, d, "documents"), n = 1, threshold = 0.5,
        maxShingleFreq = 50L).orderBy("a", "b")),
    "q_dedup_simhash" -> ((s, d) =>
      Dedup.simhashNearDups(table(s, d, "documents"), maxDist = 3,
        tokHash = Hashing.mdHash64(_))
        .select(col("a"), col("b"), col("dist").cast("long").as("dist"))
        .orderBy("a", "b")),

    // --- text analysis (training-data pipeline) ---
    "q_doc_tokens" -> ((s, d) =>
      table(s, d, "documents").select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextAnalysis.subwordCount(col("text")).cast("long").as("n_subwords"))
        .orderBy("doc_id")),
    "q_doc_quality" -> ((s, d) =>
      TextAnalysis.qualityColumns(table(s, d, "documents"))
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
          col("punct_cnt").cast("long").as("punct_cnt"),
          col("alpha_ratio"), col("avg_token_len"))
        .orderBy("doc_id")),
    "q_langid" -> ((s, d) =>
      TextAnalysis.langIdColumns(table(s, d, "documents"))
        .select(col("doc_id"), col("s_de").cast("long").as("s_de"),
          col("s_en").cast("long").as("s_en"), col("s_es").cast("long").as("s_es"),
          col("s_fr").cast("long").as("s_fr"), col("s_zh").cast("long").as("s_zh"),
          col("pred_lang"))
        .orderBy("doc_id")),
    "q_fingerprint" -> ((s, d) =>
      table(s, d, "documents").select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp")).orderBy("doc_id")),

    // --- similarity search ---
    "q_ann_topk" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 5), k = 10)
        .select(col("qid"), col("nid"), col("cos"), col("rk").cast("long").as("rk"))
        .orderBy("qid", "rk")
    }),
    "q_ann_lsh" -> ((s, d) => {
      val emb = table(s, d, "embeddings")
      Similarity.lshTopK(emb, emb.where(col("vec_id") < 5), k = 10,
        nBits = 6, nTables = 8)
        .select(col("qid"), col("nid"), col("cos"), col("rk").cast("long").as("rk"))
        .orderBy("qid", "rk")
    }),
    "q_ann_ivf" -> ((s, d) => {
      // IVF-flat scale path: k-means-trained coarse quantizer (driver-side
      // spherical Lloyd on a deterministic sample, memoized per dir),
      // nearest-centroid buckets, 4-probe exact rescoring — the
      // data-adaptive complement to sign-sketch LSH. The trained centroids
      // are inlined as literals into both the plan and the oracle SQL.
      val emb = table(s, d, "embeddings")
      Similarity.ivfTopK(emb, emb.where(col("vec_id") < 5), k = 10,
        nProbe = IvfModel.nProbe, centroids = Some(IvfModel.centroids(s, d)))
        .select(col("qid"), col("nid"), col("cos"), col("rk").cast("long").as("rk"))
        .orderBy("qid", "rk")
    }),
    "q_embed_sim_pairs" -> ((s, d) =>
      Similarity.cosineNearDups(table(s, d, "embeddings"), threshold = 0.35)
        .orderBy("a", "b")),
    "q_embed_sim_lsh" -> ((s, d) =>
      // the scale path for embedding near-dup: sign-sketch bucket self-join
      // instead of all-pairs; oracle replicates the sketches (plane literals
      // inlined into the SQL) so candidates AND scores are both gated
      Similarity.lshNearDups(table(s, d, "embeddings"), threshold = 0.35,
        nBits = 8, nTables = 6, dim = 64, seed = 42L)
        .orderBy("a", "b")),

    // --- multimodal plumbing (stubbed decode; real schema/batch shape) ---
    "q_media_meta" -> ((s, d) => {
      val media = Multimodal.fakePayload(table(s, d, "documents"), "doc_id", "text")
      Multimodal.decodeMeta(s, media).toDF()
        .select(col("doc_id"), col("n_bytes"), col("format"),
          col("width").cast("long").as("width"), col("height").cast("long").as("height"),
          col("n_frames").cast("long").as("n_frames"))
        .orderBy("doc_id")
    }),

    // --- windowed / sessionized event analytics (streaming semantics, batch) ---
    "q_events_window" -> ((s, d) =>
      table(s, d, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 6).as("sum_value"))
        .orderBy("hour", "event_type")),
    "q_events_sessions" -> ((s, d) => {
      val ev = table(s, d, "events")
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      // cast("double") = fractional epoch seconds, matching DuckDB's epoch(ts)
      // (unix_timestamp truncates to whole seconds and misclassifies gaps
      // within ±1s of the 1800s session boundary on microsecond data)
      ev.withColumn("prev", lag(col("ts").cast("timestamp").cast("double"), 1).over(w))
        .withColumn("new_s",
          when(col("prev").isNull ||
            col("ts").cast("timestamp").cast("double") - col("prev") > 1800, 1L).otherwise(0L))
        .groupBy(col("user_id"))
        .agg(sum(col("new_s")).as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy("user_id")
    })
  )

  // --------------------------------------------------------------- oracles

  /** Unrolled fixed-iteration PageRank in ANSI SQL (same recurrence as
    * PageRank.fixedIterations; rounding bridges float noise). */
  private def pagerankSql(iters: Int): String = {
    // MATERIALIZED: the unrolled chain references `e`/`deg` 10× each — without
    // materialization DuckDB inlines the CTE and re-opens the parquet files
    // per reference, tripping "too many open files" under a low ulimit.
    val sb = new StringBuilder
    sb ++= s"WITH e AS MATERIALIZED ($procurementEdgesSql), "
    sb ++= "v AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst AS id FROM e), "
    sb ++= "nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM v), "
    sb ++= "deg AS MATERIALIZED (SELECT src AS id, CAST(count(*) AS DOUBLE) AS outdeg FROM e GROUP BY src), "
    sb ++= "r0 AS MATERIALIZED (SELECT id, 1.0 / (SELECT n FROM nn) AS pr FROM v)"
    for (i <- 1 to iters) {
      sb ++= s", d$i AS MATERIALIZED (SELECT COALESCE(SUM(r.pr), 0.0) AS mass FROM r${i - 1} r " +
        "LEFT JOIN deg ON r.id = deg.id WHERE deg.id IS NULL)"
      sb ++= s", c$i AS MATERIALIZED (SELECT e.dst AS id, SUM(r.pr / deg.outdeg) AS contrib " +
        s"FROM e JOIN r${i - 1} r ON e.src = r.id JOIN deg ON e.src = deg.id GROUP BY e.dst)"
      sb ++= s", r$i AS MATERIALIZED (SELECT v.id, CAST(0.15 AS DOUBLE) / (SELECT n FROM nn) + " +
        s"CAST(0.85 AS DOUBLE) * (COALESCE(c.contrib, 0.0) + (SELECT mass FROM d$i) / " +
        s"(SELECT n FROM nn)) AS pr FROM v LEFT JOIN c$i c ON v.id = c.id)"
    }
    sb ++= s" SELECT id, ROUND(pr, 8) AS pr FROM r$iters ORDER BY id"
    sb.toString
  }

  /** Unrolled fixed-iteration synchronous label propagation (same superstep
    * as LabelPropagation.step; deterministic mode tie-break n DESC, label
    * ASC). */
  private def labelpropSql(iters: Int): String = {
    val sb = new StringBuilder
    sb ++= s"WITH e AS MATERIALIZED ($copurchaseEdgesSql), "
    sb ++= "u AS MATERIALIZED (SELECT src, dst FROM e UNION SELECT dst AS src, src AS dst FROM e), "
    sb ++= "v AS MATERIALIZED (SELECT DISTINCT src AS id FROM u), "
    sb ++= "l0 AS MATERIALIZED (SELECT id, id AS label FROM v)"
    for (i <- 1 to iters) {
      sb ++= s", c$i AS MATERIALIZED (SELECT u.dst AS id, l.label, count(*) AS n " +
        s"FROM u JOIN l${i - 1} l ON u.src = l.id GROUP BY u.dst, l.label)"
      sb ++= s", p$i AS MATERIALIZED (SELECT id, label FROM (SELECT id, label, " +
        "ROW_NUMBER() OVER (PARTITION BY id ORDER BY n DESC, label ASC) AS rn " +
        s"FROM c$i) WHERE rn = 1)"
      sb ++= s", l$i AS MATERIALIZED (SELECT s.id, COALESCE(p.label, s.label) AS label " +
        s"FROM l${i - 1} s LEFT JOIN p$i p ON s.id = p.id)"
    }
    sb ++= s" SELECT id, label FROM l$iters ORDER BY id"
    sb.toString
  }

  /** Word n-gram shingle CTEs shared by the dedup oracles: `w` (token
    * lists), `sh` (distinct (doc_id, shingle)). Mirrors Dedup.shingles. */
  private def shingleCte(n: Int): String = {
    val shingleExpr =
      if (n == 1) "unnest(ws)"
      else s"unnest([array_to_string(ws[i:i+${n - 1}], ' ') " +
        s"for i in range(1, greatest(len(ws)-${n - 2}, 1))])"
    "w AS MATERIALIZED (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws " +
      "FROM documents), " +
      "sh AS MATERIALIZED (SELECT DISTINCT doc_id, shingle FROM " +
      s"(SELECT doc_id, $shingleExpr AS shingle FROM w) WHERE shingle <> '')"
  }

  /** Full MinHash+LSH pipeline in DuckDB: md5-seeded per-permutation mins →
    * '|'-joined band hashes → bucket self-join candidates → exact Jaccard
    * verification. Bit-identical mirror of Dedup.minhashNearDups with the
    * md5 hash family. */
  private def minhashOracleSql(n: Int, threshold: Double, numPerm: Int, bands: Int): String = {
    val rpb = numPerm / bands
    val mhs = (0 until numPerm)
      .map(i => s"min(${Hashing.mdHash64SeededSql("shingle", i)}) AS mh$i").mkString(", ")
    val bandSelects = (0 until bands).map { b =>
      val cols = (b * rpb until b * rpb + rpb).map(r => s"mh$r").mkString(", ")
      s"SELECT doc_id, $b AS band, ${Hashing.mdHash64Sql(s"concat_ws('|', $cols)")} AS bh FROM sig"
    }.mkString(" UNION ALL ")
    s"WITH ${shingleCte(n)}, " +
      s"sig AS MATERIALIZED (SELECT doc_id, $mhs FROM sh GROUP BY doc_id), " +
      s"bk AS MATERIALIZED ($bandSelects), " +
      "cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM bk x JOIN bk y " +
      "ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id), " +
      "sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id), " +
      "i AS (SELECT c.a, c.b, count(*) AS inter FROM cand c " +
      "JOIN sh sa ON sa.doc_id = c.a JOIN sh sb ON sb.doc_id = c.b AND sa.shingle = sb.shingle " +
      "GROUP BY c.a, c.b) " +
      "SELECT a, b, ROUND(CAST(inter AS DOUBLE) / (sza.sz + szb.sz - inter), 6) AS jaccard " +
      "FROM i JOIN sz sza ON i.a = sza.doc_id JOIN sz szb ON i.b = szb.doc_id " +
      s"WHERE ROUND(CAST(inter AS DOUBLE) / (sza.sz + szb.sz - inter), 6) >= $threshold " +
      "ORDER BY a, b"
  }

  /** 60-bit SimHash in DuckDB (md5 token hashes; bits 60-63 of the Spark
    * side are provably 0). Pigeonhole chunk-LSH has recall exactly 1.0 at
    * maxDist < nChunks, so the Spark output equals ALL pairs with Hamming
    * distance <= maxDist — which is what this computes. */
  private def simhashOracleSql(maxDist: Int): String = {
    val sums = (0 until 60)
      .map(b => s"SUM(CASE WHEN (h // ${1L << b}) % 2 = 1 THEN 1 ELSE -1 END) AS s$b")
      .mkString(", ")
    val sig = (0 until 60).map(b => s"CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END")
      .mkString(" + ")
    "WITH t AS MATERIALIZED (SELECT doc_id, " +
      "unnest(string_split_regex(trim(text), '\\s+')) AS tok FROM documents), " +
      s"tk AS MATERIALIZED (SELECT doc_id, ${Hashing.mdHash64Sql("tok")} AS h " +
      "FROM t WHERE tok <> ''), " +
      s"sums AS MATERIALIZED (SELECT doc_id, $sums FROM tk GROUP BY doc_id), " +
      s"sg AS MATERIALIZED (SELECT doc_id, $sig AS simhash FROM sums) " +
      "SELECT x.doc_id AS a, y.doc_id AS b, " +
      "CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS dist " +
      "FROM sg x JOIN sg y ON x.doc_id < y.doc_id " +
      s"WHERE bit_count(xor(x.simhash, y.simhash)) <= $maxDist ORDER BY a, b"
  }

  /** Capped n-gram Jaccard (the scale-safe twin): same as q_dedup_jaccard's
    * oracle but shingles with document frequency > cap are dropped BEFORE
    * the self-join, and sizes come from the same filtered universe. */
  private def jaccardCappedSql(threshold: Double, cap: Long): String =
    "WITH raw AS (SELECT DISTINCT doc_id, " +
      "unnest(string_split_regex(trim(text), '\\s+')) AS tok FROM documents), " +
      "t AS (SELECT doc_id, tok FROM raw WHERE tok <> ''), " +
      s"hot AS (SELECT tok FROM t GROUP BY tok HAVING count(*) > $cap), " +
      "k AS (SELECT doc_id, tok FROM t WHERE tok NOT IN (SELECT tok FROM hot)), " +
      "sz AS (SELECT doc_id, count(*) AS sz FROM k GROUP BY doc_id), " +
      "i AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter FROM k x " +
      "JOIN k y ON x.tok = y.tok AND x.doc_id < y.doc_id GROUP BY x.doc_id, y.doc_id) " +
      "SELECT a, b, ROUND(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) AS jaccard " +
      "FROM i JOIN sz sa ON i.a = sa.doc_id JOIN sz sb ON i.b = sb.doc_id " +
      s"WHERE ROUND(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) >= $threshold " +
      "ORDER BY a, b"

  /** Sign-sketch bucket expression for one LSH table, planes inlined as SQL
    * double literals (the same doubles Similarity.hyperplanes feeds Spark —
    * both engines parse the decimal literal to the identical IEEE double). */
  private def sketchSql(vecExpr: String, planes: Array[Array[Double]]): String =
    planes.zipWithIndex.map { case (p, i) =>
      val lits = p.mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product(list_transform($vecExpr, x -> CAST(x AS DOUBLE)), " +
        s"$lits) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")

  /** UNION ALL of per-table sketch buckets over `rel` (id column `idAs`). */
  private def bucketsSql(rel: String, idCol: String, idAs: String,
                         nBits: Int, nTables: Int, dim: Int, seed: Long): String =
    (0 until nTables).map { t =>
      val sk = sketchSql("embedding", Similarity.hyperplanes(nBits, dim, seed + t))
      s"SELECT $idCol AS $idAs, $t AS tbl, $sk AS bkt FROM $rel"
    }.mkString(" UNION ALL ")

  /** q_ann_lsh oracle: replicate the sign-LSH bucketing, then exact cosine +
    * top-k on candidates only — q_ann_topk's scoring restricted to the
    * LSH candidate set. */
  private def annLshSql(k: Int, nBits: Int, nTables: Int, dim: Int, seed: Long): String = {
    val qb = bucketsSql("q", "vec_id", "qid", nBits, nTables, dim, seed)
    val cb = bucketsSql("embeddings", "vec_id", "nid", nBits, nTables, dim, seed)
    "WITH q AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5), " +
      s"qb AS MATERIALIZED ($qb), cb AS MATERIALIZED ($cb), " +
      "cand AS MATERIALIZED (SELECT DISTINCT qid, nid FROM qb JOIN cb USING (tbl, bkt) " +
      "WHERE qid <> nid), " +
      "qx AS (SELECT vec_id AS qid, generate_subscripts(embedding, 1) AS idx, " +
      "unnest(embedding) AS val FROM q), " +
      "cx AS (SELECT vec_id AS nid, generate_subscripts(embedding, 1) AS idx, " +
      "unnest(embedding) AS val FROM embeddings), " +
      "dots AS (SELECT qid, nid, SUM(CAST(qx.val AS DOUBLE) * CAST(cx.val AS DOUBLE)) AS dot " +
      "FROM qx JOIN cx USING (idx) JOIN cand USING (qid, nid) GROUP BY qid, nid), " +
      "norms AS (SELECT vec_id AS id, SQRT(SUM(CAST(val AS DOUBLE) * CAST(val AS DOUBLE))) " +
      "AS nrm FROM (SELECT vec_id, unnest(embedding) AS val FROM embeddings) GROUP BY vec_id), " +
      "scored AS (SELECT qid, nid, ROUND(dot / (nq.nrm * nc.nrm), 6) AS cos FROM dots " +
      "JOIN norms nq ON qid = nq.id JOIN norms nc ON nid = nc.id), " +
      "ranked AS (SELECT qid, nid, cos, ROW_NUMBER() OVER (PARTITION BY qid " +
      "ORDER BY cos DESC, nid ASC) AS rk FROM scored) " +
      s"SELECT qid, nid, cos, rk FROM ranked WHERE rk <= $k ORDER BY qid, rk"
  }

  /** q_ann_ivf oracle for the TRAINED quantizer: centroid vectors inlined as
    * DuckDB list literals (the exact doubles Spark planned with — both
    * engines parse the shortest-round-trip decimal to the identical IEEE
    * double, the hyperplane-literal contract), assignment = argmax rounded
    * cosine (tie: min cid), probes = top nProbe, exact rescoring on
    * candidate buckets only. */
  private def annIvfTrainedSql(k: Int, nProbe: Int,
                               cents: Array[Array[Double]]): String = {
    val values = cents.zipWithIndex.map { case (c, i) =>
      s"(CAST($i AS BIGINT), ${c.mkString("[", ", ", "]")})"
    }.mkString(", ")
    s"WITH cent AS MATERIALIZED (SELECT cid, cvec FROM (VALUES $values) AS t(cid, cvec)), " +
      "ev AS MATERIALIZED (SELECT vec_id, " +
      "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), " +
      "norms AS MATERIALIZED (SELECT vec_id AS id, SQRT(list_dot_product(v, v)) AS nrm FROM ev), " +
      "cnorm AS MATERIALIZED (SELECT cid, SQRT(list_dot_product(cvec, cvec)) AS cnrm FROM cent), " +
      "cscore AS MATERIALIZED (SELECT ev.vec_id AS id, cent.cid, " +
      "ROUND(list_dot_product(ev.v, cent.cvec) / (norms.nrm * cnorm.cnrm), 6) AS ccos " +
      "FROM ev CROSS JOIN cent JOIN norms ON ev.vec_id = norms.id " +
      "JOIN cnorm ON cent.cid = cnorm.cid), " +
      "assigned AS (SELECT id AS nid, cid FROM (SELECT id, cid, ROW_NUMBER() OVER " +
      "(PARTITION BY id ORDER BY ccos DESC, cid ASC) AS crk FROM cscore) WHERE crk = 1), " +
      "probes AS (SELECT id AS qid, cid FROM (SELECT id, cid, ROW_NUMBER() OVER " +
      "(PARTITION BY id ORDER BY ccos DESC, cid ASC) AS crk FROM cscore WHERE id < 5) " +
      s"WHERE crk <= $nProbe), " +
      "cand AS (SELECT DISTINCT qid, nid FROM probes JOIN assigned USING (cid) " +
      "WHERE qid <> nid), " +
      "dots AS (SELECT qid, nid, list_dot_product(q.v, n.v) AS dot FROM cand " +
      "JOIN ev q ON q.vec_id = qid JOIN ev n ON n.vec_id = nid), " +
      "scored AS (SELECT qid, nid, ROUND(dot / (nq.nrm * nc.nrm), 6) AS cos FROM dots " +
      "JOIN norms nq ON qid = nq.id JOIN norms nc ON nid = nc.id), " +
      "ranked AS (SELECT qid, nid, cos, ROW_NUMBER() OVER (PARTITION BY qid " +
      "ORDER BY cos DESC, nid ASC) AS rk FROM scored) " +
      s"SELECT qid, nid, cos, rk FROM ranked WHERE rk <= $k ORDER BY qid, rk"
  }

  /** q_ann_ivf oracle (PLACEHOLDER quantizer fallback, matching
    * ivfTopK(centroids = None)): centroids = lowest nCentroids ids,
    * assignment = argmax rounded cosine (tie: min cid), probes = top nProbe
    * centroids per query, exact rescoring on candidate buckets only. */
  private def annIvfSql(k: Int, nCentroids: Int, nProbe: Int): String =
    s"WITH cent AS MATERIALIZED (SELECT vec_id AS cid, embedding AS cvec " +
      s"FROM embeddings ORDER BY vec_id LIMIT $nCentroids), " +
      "cx AS MATERIALIZED (SELECT cid, generate_subscripts(cvec, 1) AS idx, " +
      "unnest(cvec) AS val FROM cent), " +
      "ex AS MATERIALIZED (SELECT vec_id, generate_subscripts(embedding, 1) AS idx, " +
      "unnest(embedding) AS val FROM embeddings), " +
      "norms AS MATERIALIZED (SELECT vec_id AS id, " +
      "SQRT(SUM(CAST(val AS DOUBLE) * CAST(val AS DOUBLE))) AS nrm FROM ex GROUP BY vec_id), " +
      // corpus-to-centroid (and query-to-centroid) cosines
      "cdots AS MATERIALIZED (SELECT ex.vec_id AS id, cx.cid, " +
      "SUM(CAST(ex.val AS DOUBLE) * CAST(cx.val AS DOUBLE)) AS dot " +
      "FROM ex JOIN cx USING (idx) GROUP BY ex.vec_id, cx.cid), " +
      "cscore AS MATERIALIZED (SELECT cdots.id, cid, " +
      "ROUND(dot / (n1.nrm * n2.nrm), 6) AS ccos FROM cdots " +
      "JOIN norms n1 ON cdots.id = n1.id JOIN norms n2 ON cid = n2.id), " +
      "assigned AS (SELECT id AS nid, cid FROM (SELECT id, cid, ROW_NUMBER() OVER " +
      "(PARTITION BY id ORDER BY ccos DESC, cid ASC) AS crk FROM cscore) WHERE crk = 1), " +
      "probes AS (SELECT id AS qid, cid FROM (SELECT id, cid, ROW_NUMBER() OVER " +
      "(PARTITION BY id ORDER BY ccos DESC, cid ASC) AS crk FROM cscore WHERE id < 5) " +
      s"WHERE crk <= $nProbe), " +
      "cand AS (SELECT DISTINCT qid, nid FROM probes JOIN assigned USING (cid) " +
      "WHERE qid <> nid), " +
      "dots AS (SELECT qid, nid, SUM(CAST(qx.val AS DOUBLE) * CAST(nx.val AS DOUBLE)) AS dot " +
      "FROM ex qx JOIN ex nx ON qx.idx = nx.idx " +
      "JOIN cand ON qx.vec_id = cand.qid AND nx.vec_id = cand.nid GROUP BY qid, nid), " +
      "scored AS (SELECT qid, nid, ROUND(dot / (nq.nrm * nc.nrm), 6) AS cos FROM dots " +
      "JOIN norms nq ON qid = nq.id JOIN norms nc ON nid = nc.id), " +
      "ranked AS (SELECT qid, nid, cos, ROW_NUMBER() OVER (PARTITION BY qid " +
      "ORDER BY cos DESC, nid ASC) AS rk FROM scored) " +
      s"SELECT qid, nid, cos, rk FROM ranked WHERE rk <= $k ORDER BY qid, rk"

  /** q_embed_sim_lsh oracle: sign-LSH candidate pairs (a < b), exact rounded
    * cosine >= threshold — q_embed_sim_pairs' scoring on candidates only. */
  private def embedLshSql(threshold: Double, nBits: Int, nTables: Int,
                          dim: Int, seed: Long): String = {
    val bk = bucketsSql("embeddings", "vec_id", "id", nBits, nTables, dim, seed)
    s"WITH bk AS MATERIALIZED ($bk), " +
      "cand AS MATERIALIZED (SELECT DISTINCT x.id AS a, y.id AS b FROM bk x JOIN bk y " +
      "ON x.tbl = y.tbl AND x.bkt = y.bkt AND x.id < y.id), " +
      "x AS MATERIALIZED (SELECT vec_id, generate_subscripts(embedding, 1) AS idx, " +
      "unnest(embedding) AS val FROM embeddings), " +
      "norms AS MATERIALIZED (SELECT vec_id AS id, " +
      "SQRT(SUM(CAST(val AS DOUBLE) * CAST(val AS DOUBLE))) AS nrm FROM x GROUP BY vec_id), " +
      "dots AS (SELECT a, b, SUM(CAST(xa.val AS DOUBLE) * CAST(xb.val AS DOUBLE)) AS dot " +
      "FROM cand JOIN x xa ON xa.vec_id = a JOIN x xb ON xb.vec_id = b AND xa.idx = xb.idx " +
      "GROUP BY a, b) " +
      "SELECT a, b, ROUND(dot / (na.nrm * nb.nrm), 6) AS cos FROM dots " +
      "JOIN norms na ON a = na.id JOIN norms nb ON b = nb.id " +
      s"WHERE ROUND(dot / (na.nrm * nb.nrm), 6) >= $threshold ORDER BY a, b"
  }

  /** q_media_meta oracle: the StubCodec arithmetic in plain SQL — payload =
    * sha256 bytes of (doc_id || text), h = 60-bit md5 of its uppercase hex
    * (equal to Spark's hex(payload)), fake properties by integer ops. */
  private val mediaMetaSql =
    "WITH p AS (SELECT doc_id, upper(sha256(concat(CAST(doc_id AS VARCHAR), text))) AS hx " +
      "FROM documents), " +
      s"h AS (SELECT doc_id, ${Hashing.mdHash64Sql("hx")} AS h FROM p) " +
      "SELECT doc_id, CAST(32 AS BIGINT) AS n_bytes, " +
      "CASE h % 3 WHEN 0 THEN 'img' WHEN 1 THEN 'audio' ELSE 'video' END AS format, " +
      "16 + (h // 256) % 64 AS width, 16 + (h // 65536) % 64 AS height, " +
      "1 + (h // 16777216) % 30 AS n_frames FROM h ORDER BY doc_id"

  def oracleSql: Map[String, String] = Map(
    "q_edges" -> s"SELECT src, dst FROM ($procurementEdgesSql) ORDER BY src, dst",

    "q_degrees" -> (s"WITH e AS ($procurementEdgesSql), " +
      "o AS (SELECT src AS id, count(*) AS c FROM e GROUP BY src), " +
      "i AS (SELECT dst AS id, count(*) AS c FROM e GROUP BY dst) " +
      "SELECT COALESCE(o.id, i.id) AS id, COALESCE(o.c, 0) AS out_deg, " +
      "COALESCE(i.c, 0) AS in_deg FROM o FULL OUTER JOIN i ON o.id = i.id ORDER BY id"),

    "q_pagerank" -> pagerankSql(10),

    "q_pagerank_csr" -> pagerankSql(10),

    // closed-form fixture expectations (computed independently by the
    // plain-Scala fixture math over FIXTURES.md §2; S=20, P=50)
    "q_pages_stats" -> ("SELECT CAST(1000 AS BIGINT) AS n_pages, " +
      "CAST(2128 AS BIGINT) AS n_edges, CAST(10 AS BIGINT) AS n_components, " +
      "CAST(1218 AS BIGINT) AS n_triangles, CAST(1 AS BIGINT) AS n_dangling"),

    "q_cc" -> (s"WITH RECURSIVE e AS ($procurementEdgesSql), " +
      "u AS (SELECT src, dst FROM e UNION SELECT dst AS src, src AS dst FROM e), " +
      "v AS (SELECT DISTINCT src AS id FROM u), " +
      "reach(id, label) AS (SELECT id, id FROM v UNION " +
      "SELECT u.dst, r.label FROM reach r JOIN u ON u.src = r.id) " +
      "SELECT id, min(label) AS label FROM reach GROUP BY id ORDER BY id"),

    "q_cc_sizes" -> (s"WITH RECURSIVE e AS ($procurementEdgesSql), " +
      "u AS (SELECT src, dst FROM e UNION SELECT dst AS src, src AS dst FROM e), " +
      "v AS (SELECT DISTINCT src AS id FROM u), " +
      "reach(id, label) AS (SELECT id, id FROM v UNION " +
      "SELECT u.dst, r.label FROM reach r JOIN u ON u.src = r.id), " +
      "cc AS (SELECT id, min(label) AS label FROM reach GROUP BY id) " +
      "SELECT label, count(*) AS n FROM cc GROUP BY label ORDER BY label"),

    "q_triangles" -> (s"WITH e AS ($copurchaseEdgesSql) " +
      "SELECT count(*) AS triangles FROM e e1 " +
      "JOIN e e2 ON e1.dst = e2.src " +
      "JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst"),

    "q_labelprop" -> labelpropSql(5),

    // labeled 3-path embeddings grouped by the first vertex: 2-way self-join
    // of the labeled relation with label filters + the injectivity predicate
    "q_match_path3" -> (s"WITH $labeledRelCte, " +
      "m AS (SELECT r1.src AS u1, r1.dst AS u2, r2.dst AS u3 " +
      "FROM r r1 JOIN r r2 ON r2.src = r1.dst " +
      "WHERE r1.sl = 0 AND r1.dl = 1 AND r1.elabel = 1 " +
      "AND r2.dl = 2 AND r2.elabel = 2 AND r2.dst <> r1.src) " +
      "SELECT u1, count(*) AS n FROM m GROUP BY u1 ORDER BY u1"),

    // identical result contract through the candidate index
    "q_match_path3_idx" -> (s"WITH $labeledRelCte, " +
      "m AS (SELECT r1.src AS u1, r1.dst AS u2, r2.dst AS u3 " +
      "FROM r r1 JOIN r r2 ON r2.src = r1.dst " +
      "WHERE r1.sl = 0 AND r1.dl = 1 AND r1.elabel = 1 " +
      "AND r2.dl = 2 AND r2.elabel = 2 AND r2.dst <> r1.src) " +
      "SELECT u1, count(*) AS n FROM m GROUP BY u1 ORDER BY u1"),

    // label-1 4-clique embeddings (ordered, injective — 24 per clique, same
    // count semantics as GraphMatcher): 6-way self-join
    "q_match_clique4" -> (s"WITH $labeledRelCte, " +
      "rr AS MATERIALIZED (SELECT src, dst FROM r WHERE sl = 1 AND dl = 1) " +
      "SELECT count(*) AS matches FROM rr a " +
      "JOIN rr b ON b.src = a.src AND b.dst <> a.dst " +
      "JOIN rr c ON c.src = a.src AND c.dst <> a.dst AND c.dst <> b.dst " +
      "JOIN rr ab ON ab.src = a.dst AND ab.dst = b.dst " +
      "JOIN rr ac ON ac.src = a.dst AND ac.dst = c.dst " +
      "JOIN rr bc ON bc.src = b.dst AND bc.dst = c.dst"),

    // label-(1,2,2,2) star, ordered injective count via 3-way self-join —
    // the Spark side computes it without enumerating a single leaf
    "q_match_star" -> (s"WITH $labeledRelCte, " +
      "rr AS MATERIALIZED (SELECT src, dst FROM r WHERE sl = 1 AND dl = 2) " +
      "SELECT count(*) AS matches FROM rr a " +
      "JOIN rr b ON b.src = a.src AND b.dst <> a.dst " +
      "JOIN rr c ON c.src = a.src AND c.dst <> a.dst AND c.dst <> b.dst"),

    // identical result contract from the stored SJ-tree final stage
    "q_match_path3_sjt" -> (s"WITH $labeledRelCte, " +
      "m AS (SELECT r1.src AS u1, r1.dst AS u2, r2.dst AS u3 " +
      "FROM r r1 JOIN r r2 ON r2.src = r1.dst " +
      "WHERE r1.sl = 0 AND r1.dl = 1 AND r1.elabel = 1 " +
      "AND r2.dl = 2 AND r2.elabel = 2 AND r2.dst <> r1.src) " +
      "SELECT u1, count(*) AS n FROM m GROUP BY u1 ORDER BY u1"),

    // delta matches = full count minus unflagged-only count ((src+dst)%10=0
    // is orientation-symmetric, so filtering r rows is exact)
    "q_match_path3_delta" -> (s"WITH $labeledRelCte, " +
      "m AS (SELECT r1.src + r1.dst AS k1, r2.src + r2.dst AS k2 " +
      "FROM r r1 JOIN r r2 ON r2.src = r1.dst " +
      "WHERE r1.sl = 0 AND r1.dl = 1 AND r1.elabel = 1 " +
      "AND r2.dl = 2 AND r2.elabel = 2 AND r2.dst <> r1.src) " +
      "SELECT count(*) AS delta_matches FROM m " +
      "WHERE k1 % 10 = 0 OR k2 % 10 = 0"),

    // maintained continuous-tier counts == from-scratch counts over the
    // FINAL edge set: init slice h<7, stream adds h in {7,8}, stream
    // deletes h=0 -> final h in 1..8 (h = (src*31+dst)%10 on canonical
    // src<dst edges)
    "q_csm_maintained" -> (s"WITH e AS MATERIALIZED ($copurchaseEdgesSql), " +
      "lv AS MATERIALIZED (SELECT p_partkey AS id, p_partkey % 4 AS vlabel FROM part), " +
      "e2 AS MATERIALIZED (SELECT src, dst FROM e WHERE (src * 31 + dst) % 10 BETWEEN 1 AND 8), " +
      "ue AS MATERIALIZED (SELECT src, dst, (src + dst) % 3 AS elabel FROM e2 " +
      "UNION ALL SELECT dst AS src, src AS dst, (src + dst) % 3 AS elabel FROM e2), " +
      "r AS MATERIALIZED (SELECT ue.src, ue.dst, ue.elabel, a.vlabel AS sl, b.vlabel AS dl " +
      "FROM ue JOIN lv a ON a.id = ue.src JOIN lv b ON b.id = ue.dst), " +
      "m1 AS (SELECT count(*) AS c FROM r r1 JOIN r r2 ON r2.src = r1.dst " +
      "WHERE r1.sl = 0 AND r1.dl = 1 AND r1.elabel = 1 " +
      "AND r2.dl = 2 AND r2.elabel = 2 AND r2.dst <> r1.src), " +
      "m2 AS (SELECT count(*) AS c FROM r r1 JOIN r r2 ON r2.src = r1.dst " +
      "WHERE r1.sl = 1 AND r1.dl = 2 AND r1.elabel = 0 " +
      "AND r2.dl = 3 AND r2.elabel = 1 AND r2.dst <> r1.src), " +
      "m3 AS (SELECT count(*) AS c FROM r r1 " +
      "JOIN r r2 ON r2.src = r1.dst AND r2.dst <> r1.src " +
      "JOIN r r3 ON r3.src = r2.dst AND r3.dst = r1.src " +
      "WHERE r1.sl = 1 AND r1.dl = 1 AND r2.dl = 1) " +
      "SELECT 'p012' AS qname, c AS cnt FROM m1 " +
      "UNION ALL SELECT 'p123' AS qname, c AS cnt FROM m2 " +
      "UNION ALL SELECT 'tri1' AS qname, c AS cnt FROM m3 ORDER BY qname"),

    // maintained streamed-graph results == from-scratch over the FINAL edge
    // set (same h-slice protocol as q_csm_maintained): components via
    // recursive reachability seeded from ALL initial endpoints (isolated
    // vertices stay their own components), canonical oriented triangles
    "q_stream_maintained" -> (s"WITH RECURSIVE e AS MATERIALIZED ($copurchaseEdgesSql), " +
      "verts AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst FROM e), " +
      "e2 AS MATERIALIZED (SELECT src, dst FROM e WHERE (src * 31 + dst) % 10 BETWEEN 1 AND 8), " +
      "u AS (SELECT src, dst FROM e2 UNION SELECT dst AS src, src AS dst FROM e2), " +
      "reach(id, label) AS (SELECT id, id FROM verts UNION " +
      "SELECT u.dst, r.label FROM reach r JOIN u ON u.src = r.id), " +
      "cc AS (SELECT id, min(label) AS label FROM reach GROUP BY id), " +
      "tri AS (SELECT count(*) AS c FROM e2 t1 " +
      "JOIN e2 t2 ON t1.dst = t2.src " +
      "JOIN e2 t3 ON t3.src = t1.src AND t3.dst = t2.dst) " +
      "SELECT 'cc_components' AS metric, count(DISTINCT label) AS value FROM cc " +
      "UNION ALL SELECT 'edges' AS metric, count(*) AS value FROM e2 " +
      "UNION ALL SELECT 'triangles' AS metric, c AS value FROM tri " +
      "ORDER BY metric"),

    // ordered injective tailed-triangle count: label-1 triangle via the
    // clique-style self-joins, label-2 pendant on x (w is label-disjoint
    // from the core, so no extra <> predicates are needed)
    "q_match_tailtri" -> (s"WITH $labeledRelCte, " +
      "rr AS MATERIALIZED (SELECT src, dst FROM r WHERE sl = 1 AND dl = 1), " +
      "rt AS MATERIALIZED (SELECT src, dst FROM r WHERE sl = 1 AND dl = 2) " +
      "SELECT count(*) AS matches FROM rr a " +
      "JOIN rr b ON b.src = a.dst AND b.dst <> a.src " +
      "JOIN rr c ON c.src = a.src AND c.dst = b.dst " +
      "JOIN rt t ON t.src = a.src"),

    // from-scratch counts of all three graph versions; the Spark side must
    // reproduce them through the delta joins alone
    "q_tri_delta" -> (s"WITH e AS MATERIALIZED ($copurchaseEdgesSql), " +
      "g0 AS MATERIALIZED (SELECT * FROM e WHERE (src + dst) % 10 <> 0), " +
      "g2 AS MATERIALIZED (SELECT * FROM e WHERE (src + dst) % 10 <> 5), " +
      "t1 AS (SELECT count(*) AS c FROM e e1 JOIN e e2 ON e1.dst = e2.src " +
      "JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst), " +
      "t0 AS (SELECT count(*) AS c FROM g0 e1 JOIN g0 e2 ON e1.dst = e2.src " +
      "JOIN g0 e3 ON e3.src = e1.src AND e3.dst = e2.dst), " +
      "t2 AS (SELECT count(*) AS c FROM g2 e1 JOIN g2 e2 ON e1.dst = e2.src " +
      "JOIN g2 e3 ON e3.src = e1.src AND e3.dst = e2.dst) " +
      "SELECT t0.c AS t_old, t1.c - t0.c AS positive, t1.c - t2.c AS negative, " +
      "t2.c AS t_new FROM t0, t1, t2"),

    "q_bfs_depths" -> (s"WITH RECURSIVE e AS ($procurementEdgesSql), " +
      "u AS (SELECT src, dst FROM e UNION SELECT dst AS src, src AS dst FROM e), " +
      "s AS (SELECT min(src) AS id FROM e), " +
      "reach(id, d) AS (SELECT id, 0 FROM s UNION " +
      // r.d < 50 so the oracle can reach depth 50, matching Bfs.depths(maxDepth=50)
      "SELECT u.dst, r.d + 1 FROM reach r JOIN u ON u.src = r.id WHERE r.d < 50) " +
      "SELECT id, CAST(min(d) AS BIGINT) AS depth FROM reach GROUP BY id ORDER BY id"),

    "q_dedup_minhash" -> minhashOracleSql(n = 3, threshold = 0.8, numPerm = 32, bands = 8),

    "q_dedup_simhash" -> simhashOracleSql(maxDist = 3),

    "q_dedup_jaccard_capped" -> jaccardCappedSql(threshold = 0.5, cap = 50L),

    "q_ann_lsh" -> annLshSql(k = 10, nBits = 6, nTables = 8, dim = 64, seed = 42L),

    // trained-quantizer oracle when a model has been trained in this JVM
    // (Verify calls prepareOracles before dumping; the query itself also
    // trains); placeholder-quantizer SQL only if nothing was ever trained —
    // in that case ivfTopK(centroids = None) is the matching query form.
    "q_ann_ivf" -> IvfModel.trained
      .map(cs => annIvfTrainedSql(k = 10, nProbe = IvfModel.nProbe, cents = cs))
      .getOrElse(annIvfSql(k = 10, nCentroids = 16, nProbe = 4)),

    "q_embed_sim_lsh" -> embedLshSql(threshold = 0.35, nBits = 8, nTables = 6,
      dim = 64, seed = 42L),

    "q_media_meta" -> mediaMetaSql,

    "q_lp_step" -> (s"WITH e AS ($copurchaseEdgesSql), " +
      "u AS (SELECT src, dst FROM e UNION SELECT dst AS src, src AS dst FROM e), " +
      "cnt AS (SELECT dst AS id, src AS label, count(*) AS n FROM u GROUP BY dst, src), " +
      "pick AS (SELECT id, label, ROW_NUMBER() OVER " +
      "(PARTITION BY id ORDER BY n DESC, label ASC) AS rn FROM cnt) " +
      "SELECT id, label AS new_label FROM pick WHERE rn = 1 ORDER BY id"),

    "q_dedup_groups" -> ("SELECT md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp, " +
      "min(doc_id) AS keep_id, count(*) AS n_dups FROM documents GROUP BY fp ORDER BY fp"),

    "q_dedup_jaccard" -> ("WITH raw AS (SELECT DISTINCT doc_id, " +
      "unnest(string_split_regex(trim(text), '\\s+')) AS tok FROM documents), " +
      "t AS (SELECT doc_id, tok FROM raw WHERE tok <> ''), " +
      "sz AS (SELECT doc_id, count(*) AS sz FROM t GROUP BY doc_id), " +
      "i AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter FROM t x " +
      "JOIN t y ON x.tok = y.tok AND x.doc_id < y.doc_id GROUP BY x.doc_id, y.doc_id) " +
      "SELECT a, b, ROUND(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) AS jaccard " +
      "FROM i JOIN sz sa ON i.a = sa.doc_id JOIN sz sb ON i.b = sb.doc_id " +
      "WHERE ROUND(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 6) >= 0.5 ORDER BY a, b"),

    "q_doc_tokens" -> ("SELECT doc_id, " +
      "length(regexp_extract_all(text, '\\S+')) AS n_tokens, " +
      "length(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_subwords " +
      "FROM documents ORDER BY doc_id"),

    "q_doc_quality" -> ("SELECT doc_id, " +
      "length(regexp_extract_all(text, '\\S+')) AS n_tokens, " +
      "length(regexp_extract_all(text, '[.,!?;:]')) AS punct_cnt, " +
      "ROUND(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) " +
      "/ length(text), 6) AS alpha_ratio, " +
      "ROUND(CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) " +
      "/ length(regexp_extract_all(text, '\\S+')), 6) AS avg_token_len " +
      "FROM documents ORDER BY doc_id"),

    "q_langid" -> ("SELECT doc_id, " +
      "length(regexp_extract_all(text, '\\b(der|und|die|das|nicht)\\b')) AS s_de, " +
      "length(regexp_extract_all(text, '\\b(the|and|of|to|is)\\b')) AS s_en, " +
      "length(regexp_extract_all(text, '\\b(el|la|de|que|y)\\b')) AS s_es, " +
      "length(regexp_extract_all(text, '\\b(le|les|et|est|une)\\b')) AS s_fr, " +
      "length(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS s_zh, " +
      "CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de' " +
      "WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en' " +
      "WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es' " +
      "WHEN s_fr >= s_zh THEN 'fr' ELSE 'zh' END AS pred_lang " +
      "FROM documents ORDER BY doc_id"),

    "q_fingerprint" -> ("SELECT doc_id, md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) " +
      "AS fp FROM documents ORDER BY doc_id"),

    "q_ann_topk" -> ("WITH q AS (SELECT vec_id AS qid, embedding AS e FROM embeddings " +
      "WHERE vec_id < 5), " +
      "qx AS (SELECT qid, generate_subscripts(e, 1) AS idx, unnest(e) AS val FROM q), " +
      "cx AS (SELECT vec_id AS nid, generate_subscripts(embedding, 1) AS idx, " +
      "unnest(embedding) AS val FROM embeddings), " +
      "dots AS (SELECT qid, nid, SUM(CAST(qx.val AS DOUBLE) * CAST(cx.val AS DOUBLE)) AS dot " +
      "FROM qx JOIN cx USING (idx) GROUP BY qid, nid), " +
      "norms AS (SELECT vec_id AS id, SQRT(SUM(CAST(val AS DOUBLE) * CAST(val AS DOUBLE))) " +
      "AS nrm FROM (SELECT vec_id, unnest(embedding) AS val FROM embeddings) GROUP BY vec_id), " +
      "scored AS (SELECT qid, nid, ROUND(dot / (nq.nrm * nc.nrm), 6) AS cos FROM dots " +
      "JOIN norms nq ON qid = nq.id JOIN norms nc ON nid = nc.id WHERE qid <> nid), " +
      "ranked AS (SELECT qid, nid, cos, ROW_NUMBER() OVER (PARTITION BY qid " +
      "ORDER BY cos DESC, nid ASC) AS rk FROM scored) " +
      "SELECT qid, nid, cos, rk FROM ranked WHERE rk <= 10 ORDER BY qid, rk"),

    "q_embed_sim_pairs" -> ("WITH x AS MATERIALIZED (SELECT vec_id, " +
      "generate_subscripts(embedding, 1) AS idx, unnest(embedding) AS val FROM embeddings), " +
      "norms AS MATERIALIZED (SELECT vec_id AS id, " +
      "SQRT(SUM(CAST(val AS DOUBLE) * CAST(val AS DOUBLE))) AS nrm FROM x GROUP BY vec_id), " +
      "dots AS (SELECT a.vec_id AS a, b.vec_id AS b, " +
      "SUM(CAST(a.val AS DOUBLE) * CAST(b.val AS DOUBLE)) AS dot FROM x a " +
      "JOIN x b ON a.idx = b.idx AND a.vec_id < b.vec_id GROUP BY a.vec_id, b.vec_id) " +
      "SELECT a, b, ROUND(dot / (na.nrm * nb.nrm), 6) AS cos FROM dots " +
      "JOIN norms na ON a = na.id JOIN norms nb ON b = nb.id " +
      "WHERE ROUND(dot / (na.nrm * nb.nrm), 6) >= 0.35 ORDER BY a, b"),

    "q_events_window" -> ("SELECT date_trunc('hour', ts) AS hour, event_type, " +
      "count(*) AS n, ROUND(SUM(value), 6) AS sum_value FROM events " +
      "GROUP BY 1, 2 ORDER BY 1, 2"),

    "q_events_sessions" -> ("WITH x AS (SELECT user_id, " +
      "CASE WHEN LAG(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL " +
      "OR epoch(ts) - LAG(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800 " +
      "THEN 1 ELSE 0 END AS new_s FROM events) " +
      // CAST: DuckDB SUM(INTEGER) yields HUGEINT (decimal128 over arrow) while
      // Spark sum(long) is int64 — values agree, wire type must too.
      "SELECT user_id, CAST(SUM(new_s) AS BIGINT) AS n_sessions, count(*) AS n_events FROM x " +
      "GROUP BY user_id ORDER BY user_id")
  )
}

/** Trained IVF coarse quantizer, memoized per data dir. Training is
  * deterministic (seedless but sample- and order-fixed: lowest-id sample,
  * stride init, min-index tie-breaks — Similarity.trainCentroids), so the
  * query plan and the oracle SQL literals always agree for a given dir. */
object IvfModel {
  val nCentroids = 16
  val nProbe = 4
  val sampleSize = 512
  val iters = 8
  private val cache = scala.collection.concurrent.TrieMap.empty[String, Array[Array[Double]]]
  @volatile private var last: Option[Array[Array[Double]]] = None

  def centroids(spark: SparkSession, dir: String): Array[Array[Double]] = {
    val c = cache.getOrElseUpdate(dir, Similarity.trainCentroids(
      GraftQueries.table(spark, dir, "embeddings"), nCentroids, sampleSize, iters))
    last = Some(c)
    c
  }

  /** Most recently trained model — what oracleSql inlines as literals. */
  def trained: Option[Array[Array[Double]]] = last
}
