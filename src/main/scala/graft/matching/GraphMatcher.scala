package graft.matching

import org.apache.spark.sql.{Column, DataFrame, GraftSqlShims, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph.GraphBuilder

/** General labeled subgraph matching — the reference's core capability
  * (ParaCOSM is a Continuous Subgraph Matching framework; the static search
  * is Graphflow::FindMatches, ParaCOSM/CSM/matching/GraphFlow/graphflow.cpp:
  * 181-265), re-expressed as a selectivity-ordered LEFT-DEEP JOIN PLAN over
  * the labeled edge relation instead of row-at-a-time backtracking:
  *
  *  - matching order: per-query-edge statistics in ONE scan (the reference's
  *    BuildDAG frequency pass, SymBi symbi.cpp:126-176), then either greedy
  *    min-frequency expansion (X1) or COST-WEIGHTED ordering that composes
  *    per-step fan-out estimates leaf-up (the TurboFlux explicit-path-count
  *    idea, turboflux.cpp:383-470) — the cost order is the default because
  *    single-edge frequency ignores join fan-out composition;
  *  - an edge whose far endpoint is unbound EXTENDS the partial-match
  *    relation (inner join, J1's candidate scan); an edge with both
  *    endpoints bound is a CLOSING existence check (left-semi join, J1's
  *    joinability binary search, graphflow.cpp:223-242);
  *  - injectivity (subgraph isomorphism's visited check, graphflow.cpp:247)
  *    = inequality predicates between the new column and every bound column;
  *    `homomorphic = true` drops them (the reference's --homo flag);
  *  - SYMMETRY BREAKING for count queries: compute Aut(Q) driver-side, add
  *    one canonical-order predicate per non-identity automorphism (lex-leader
  *    — each orbit keeps exactly its lexicographically-least embedding), and
  *    multiply the count by |Aut| — a 4-clique does 24x less join work;
  *  - SHELL COUNTING (the reference's kernel-and-shell combinatorial
  *    completion, CaLiG calig.cpp:467-514 shellCand/numAdd; NewSP leaf
  *    weights newSP.h:66): degree-1 query vertices are never enumerated —
  *    their assignments are counted as falling-factorial products of
  *    per-embedding candidate-set sizes. A star on a 10^4-degree hub costs
  *    one aggregate instead of 10^4k join rows;
  *  - count-only queries never materialize match rows past the last join
  *    (late materialization, calig.cpp:495-514);
  *  - `maxResults` truncates enumeration (the reference's max_num_results_
  *    guard, F6/O3).
  *
  * Scale shape: every extension is an equi-join partial(u) = rel(src) — the
  * shuffle key is a vertex id, so AQE skew-join handles power-law hubs; the
  * per-edge label filters reach the scan as pushed predicates; the rel table
  * is built once per run (GraftSqlShims.checkpoint — materialized,
  * lineage-truncated, NOT a CacheManager entry that would leak on streaming
  * callers) and reused by every join. The returned frames read it, so its
  * blocks go when the garbage collector finds them unreachable; a caller
  * that replaces its relation releases it (MultiQueryDriver).
  */
object GraphMatcher {

  /** Labeled, symmetrized data relation every query edge filters from:
    * (src, dst, elabel, slabel, dlabel). Vertices: (id, vlabel). Edges are
    * undirected (reference graph.h:63) — both orientations materialized so
    * every join is a plain equi-join on src. `carry` columns (delta flags)
    * ride through the symmetrization and come last. */
  def relation(edges: DataFrame, vertices: DataFrame, carry: String*): DataFrame = {
    // one exchange (GraphBuilder.undirected): hash(src) also satisfies the
    // src-side label join, and the relation comes out pre-partitioned on
    // src, the probe key of every extension join in the match plans
    val vl = vertices.select(col("id"), col("vlabel"))
    GraphBuilder.undirected(edges, "elabel" +: carry: _*)
      .join(vl.withColumnRenamed("id", "src").withColumnRenamed("vlabel", "slabel"), Seq("src"))
      .join(vl.withColumnRenamed("id", "dst").withColumnRenamed("vlabel", "dlabel"), Seq("dst"))
      .select((Seq("src", "dst", "elabel", "slabel", "dlabel") ++ carry).map(col): _*)
  }

  /** Per-edge filter with `u` matched at src and `v` at dst (rel is
    * symmetric, so this one orientation covers both). */
  private def edgeCond(q: QueryGraph, e: QEdge, rel: DataFrame): Column = {
    val el = e.elabel.map(l => rel("elabel") === l).getOrElse(lit(true))
    val sl = q.byName(e.u).vlabel.map(l => rel("slabel") === l).getOrElse(lit(true))
    val dl = q.byName(e.v).vlabel.map(l => rel("dlabel") === l).getOrElse(lit(true))
    el && sl && dl
  }

  /** Per-query-edge statistics in ONE scan (X1 + the fan-out inputs X4
    * needs): (matching edge count, ~distinct src images, ~distinct dst
    * images). Distincts are HLL estimates — they only steer ordering. */
  final case class EdgeStats(cnt: Long, dSrc: Long, dDst: Long)

  def edgeStatistics(query: QueryGraph, rel: DataFrame): Map[QEdge, EdgeStats] = {
    val aggs = query.edges.zipWithIndex.flatMap { case (e, i) =>
      val c = edgeCond(query, e, rel)
      Seq(sum(when(c, 1L).otherwise(0L)).as(s"f$i"),
        approx_count_distinct(when(c, col("src"))).as(s"s$i"),
        approx_count_distinct(when(c, col("dst"))).as(s"d$i"))
    }
    val row = rel.agg(aggs.head, aggs.tail: _*).head()
    query.edges.zipWithIndex.map { case (e, i) =>
      val cnt = if (row.isNullAt(3 * i)) 0L else row.getLong(3 * i)
      e -> EdgeStats(cnt, math.max(1L, row.getLong(3 * i + 1)),
        math.max(1L, row.getLong(3 * i + 2)))
    }.toMap
  }

  /** Greedy selectivity order (X1): rarest edge first, then always the
    * min-frequency edge touching the bound set (left-deep; closing edges
    * are picked as soon as both endpoints are bound — they only shrink). */
  def matchingOrder(query: QueryGraph, freq: Map[QEdge, Long]): Seq[QEdge] = {
    require(query.edges.nonEmpty, "query graph has no edges")
    val remaining = scala.collection.mutable.Set(query.edges: _*)
    val order = scala.collection.mutable.ArrayBuffer.empty[QEdge]
    val bound = scala.collection.mutable.Set.empty[String]
    val first = query.edges.minBy(e => (freq(e), e.u, e.v))
    order += first; remaining -= first; bound += first.u; bound += first.v
    while (remaining.nonEmpty) {
      val closing = remaining.filter(e => bound(e.u) && bound(e.v))
      val next =
        if (closing.nonEmpty) closing.minBy(e => (freq(e), e.u, e.v))
        else {
          val touching = remaining.filter(e => bound(e.u) || bound(e.v))
          require(touching.nonEmpty, "query graph must be connected")
          touching.minBy(e => (freq(e), e.u, e.v))
        }
      order += next; remaining -= next; bound += next.u; bound += next.v
    }
    order.toSeq
  }

  /** Cost-weighted order (X4, the TurboFlux path-count idea in tabular
    * form): for every seed edge, complete the order greedily by minimum
    * ESTIMATED partial-match cardinality — an extension multiplies the
    * running estimate by the edge's average fan-out from its bound side, a
    * closing edge multiplies by its (capped) selectivity — and keep the seed
    * whose completed order has the least total intermediate rows. Greedy
    * single-edge frequency ignores exactly this composition (a rare edge
    * whose matches concentrate on one hub explodes the SECOND join). */
  def matchingOrderByCost(query: QueryGraph, stats: Map[QEdge, EdgeStats]): Seq[QEdge] = {
    require(query.edges.nonEmpty, "query graph has no edges")

    def complete(seed: QEdge): (Seq[QEdge], Double) = {
      val remaining = scala.collection.mutable.Set(query.edges.filterNot(_ == seed): _*)
      val order = scala.collection.mutable.ArrayBuffer(seed)
      val bound = scala.collection.mutable.Set(seed.u, seed.v)
      var est = stats(seed).cnt.toDouble
      var totalCost = est
      while (remaining.nonEmpty) {
        val candidates = remaining.toSeq
          .filter(e => bound(e.u) || bound(e.v))
        require(candidates.nonEmpty, "query graph must be connected")
        val scored = candidates.map { e =>
          val st = stats(e)
          val newEst =
            if (bound(e.u) && bound(e.v)) // closing: a selectivity filter
              est * math.min(1.0, st.cnt.toDouble / (st.dSrc.toDouble * st.dDst))
            else {
              // extension from whichever endpoint is bound; rel is
              // symmetric, so the u-side stats describe both orientations
              val fan = st.cnt.toDouble / (if (bound(e.u)) st.dSrc else st.dDst)
              est * fan
            }
          (newEst, e)
        }
        // closing edges first (they only shrink), then min estimate
        val (newEst, next) = scored.minBy { case (c, e) =>
          (if (bound(e.u) && bound(e.v)) 0 else 1, c, e.u, e.v)
        }
        order += next; remaining -= next; bound += next.u; bound += next.v
        est = newEst
        totalCost += newEst
      }
      (order.toSeq, totalCost)
    }

    query.edges.map(e => (complete(e), e))
      .minBy { case ((_, cost), e) => (cost, e.u, e.v) }._1._1
  }

  /** Materialized relation shared by stats, index build and the join plan
    * (GraftSqlShims.checkpoint: eager, lineage-truncated; see the object
    * doc for its release).
    *
    * `forQuery`: prune the materialization to rows matching SOME query edge
    * in SOME orientation before checkpointing — for label-selective queries
    * this shrinks the checkpoint and every downstream scan (stats, index
    * rounds, every join stage) by the label selectivity. Sound for the join
    * plan (each stage filters to one edgeCond, which implies the OR) and
    * for the candidate index (pruneRound only consults rows whose elabel
    * matches a query edge AND whose endpoints sit in label-filtered
    * candidate sets). Unlabeled queries degenerate to lit(true) — no-op. */
  def materializedRelation(edges: DataFrame, vertices: DataFrame,
                           forQuery: Option[QueryGraph] = None): DataFrame = {
    val r = relation(edges, vertices)
    val pruned = forQuery match {
      case Some(q) =>
        val any = q.edges.flatMap(e =>
          Seq(edgeCond(q, e, r), edgeCond(q, QEdge(e.v, e.u, e.elabel), r)))
          .reduce(_ || _)
        r.where(any)
      case None => r
    }
    GraftSqlShims.checkpoint(pruned)
  }

  /** Join-order selection with the tiny-query fast path: for ≤ 2 query
    * edges every connected left-deep order is the same join, so the HLL
    * statistics pass would cost more than the query it steers (round-3
    * bench: q_match_path3 2.7× regression) — use a fixed deterministic
    * order with ZERO statistics jobs; larger queries pay one aggregate scan
    * for the cost-weighted order (X4). */
  def chooseOrder(query: QueryGraph, rel: DataFrame): Seq[QEdge] =
    if (query.edges.size <= 2)
      matchingOrder(query, query.edges.map(_ -> 0L).toMap)
    else matchingOrderByCost(query, edgeStatistics(query, rel))

  /** Enumerate all matches: one column per query vertex (named), one row per
    * embedding. Isomorphic (injective) by default. */
  def findMatches(spark: SparkSession, query: QueryGraph,
                  edges: DataFrame, vertices: DataFrame,
                  homomorphic: Boolean = false,
                  maxResults: Option[Int] = None,
                  candidates: Option[Map[String, DataFrame]] = None,
                  preRel: Option[DataFrame] = None): DataFrame = {
    val rel = preRel.getOrElse(materializedRelation(edges, vertices, Some(query)))
    val order = chooseOrder(query, rel)
    val out = plan(query, rel, order, homomorphic, carryFlag = false, candidates)
    maxResults.map(out.limit).getOrElse(out)
  }

  /** findMatches THROUGH the candidate-pruning index, sharing ONE
    * materialized relation between statistics, index build and the join
    * plan (round-2's version built rel twice and ran per-vertex count jobs
    * per pruning round — the index cost 10x the query it pruned). */
  def findMatchesIndexed(spark: SparkSession, query: QueryGraph,
                         edges: DataFrame, vertices: DataFrame,
                         rounds: Int = 2,
                         homomorphic: Boolean = false): DataFrame = {
    val rel = materializedRelation(edges, vertices, Some(query))
    val cands = CandidateIndex.buildOnRel(spark, query, rel, vertices, rounds)
    findMatches(spark, query, edges, vertices, homomorphic,
      candidates = Some(cands), preRel = Some(rel))
  }

  /** Count of matches as a 1-row DataFrame (count-only late
    * materialization — G6). Column name `matches`. */
  def countMatches(spark: SparkSession, query: QueryGraph,
                   edges: DataFrame, vertices: DataFrame,
                   homomorphic: Boolean = false): DataFrame =
    findMatches(spark, query, edges, vertices, homomorphic)
      .agg(count(lit(1)).as("matches"))

  // ------------------------------------------------ symmetry breaking (J10)

  /** All automorphisms of Q (label- and adjacency-preserving bijections),
    * driver-side backtracking — query graphs are tiny (3-25 vertices). */
  def automorphisms(q: QueryGraph): Seq[Map[String, String]] = {
    val names = q.vertices.map(_.name)
    val adj: Map[(String, String), Option[Int]] =
      q.edges.flatMap(e => Seq((e.u, e.v) -> e.elabel, (e.v, e.u) -> e.elabel)).toMap
    val degs = names.map(n => n -> q.degree(n)).toMap
    val out = scala.collection.mutable.ArrayBuffer.empty[Map[String, String]]
    def bt(i: Int, m: Map[String, String], used: Set[String]): Unit = {
      if (i == names.length) { out += m; return }
      val u = names(i)
      names.foreach { v =>
        if (!used(v) && q.byName(u).vlabel == q.byName(v).vlabel &&
          degs(u) == degs(v) &&
          m.forall { case (a, b) =>
            adj.get((u, a)) == adj.get((v, b)) // same edge (and elabel) or both absent
          }) bt(i + 1, m + (u -> v), used + v)
      }
    }
    bt(0, Map.empty, Set.empty)
    out.toSeq
  }

  /** Lex-leader symmetry-breaking predicates: one (a, b) pair per
    * non-identity automorphism phi, meaning "require m[a] < m[b]" where a is
    * the first vertex (in declaration order) phi moves. Injective embeddings
    * satisfying ALL pairs are exactly the lexicographically-least member of
    * each Aut-orbit, so canonicalCount * |Aut| = ordered-embedding count. */
  def symmetryBreaking(q: QueryGraph): (Seq[(String, String)], Long) = {
    val order = q.vertices.map(_.name)
    val auts = automorphisms(q)
    val pairs = auts.flatMap { phi =>
      order.find(n => phi(n) != n).map(n => (n, phi(n)))
    }.distinct
    (pairs, auts.size.toLong)
  }

  /** Count matches with automorphism breaking: enumerate only canonical
    * embeddings (the lex-leader predicates prune inside the join cascade as
    * soon as both columns are bound) and multiply by |Aut|. Injective
    * counting only — homomorphic embeddings need not be orbit-free. */
  def countMatchesAuto(spark: SparkSession, query: QueryGraph,
                       edges: DataFrame, vertices: DataFrame): DataFrame = {
    val (pairs, nAut) = symmetryBreaking(query)
    val rel = materializedRelation(edges, vertices, Some(query))
    val order = chooseOrder(query, rel)
    val canonical = plan(query, rel, order, homomorphic = false,
      carryFlag = false, None, ltConstraints = pairs)
    canonical.agg((count(lit(1)) * nAut).as("matches"))
  }

  // ---------------------------------------------- shell counting (J10/G6)

  private final case class ShellGroup(attach: String, elabel: Option[Int],
                                      vlabel: Option[Int], members: Seq[String])

  /** Count matches WITHOUT enumerating degree-1 ("shell") query vertices:
    * enumerate the core, then aggregate falling-factorial products of
    * per-embedding candidate counts (the reference's CaLiG shellCand/numAdd
    * combinatorial completion, calig.cpp:467-514). Returns None when the
    * decomposition is not provably sound for injective counting:
    *  - within one attach vertex, groups must be vertex-disjoint (distinct
    *    concrete elabels — a simple graph gives each neighbor exactly one
    *    edge — or distinct concrete vlabels);
    *  - across attach vertices, groups must have distinct concrete vlabels
    *    (elabels don't separate VERTEX sets across different hubs).
    * Homomorphic counting skips both rules (no injectivity to respect). */
  def countMatchesShell(spark: SparkSession, query: QueryGraph,
                        edges: DataFrame, vertices: DataFrame,
                        homomorphic: Boolean = false): Option[DataFrame] = {
    val shellNames = query.vertices.map(_.name).filter(n => query.degree(n) == 1)
    if (shellNames.isEmpty) return None
    val coreNames = query.vertices.map(_.name).filterNot(shellNames.contains)
    if (coreNames.isEmpty) return None // e.g. a single-edge query: no core to seed

    val shellSet = shellNames.toSet
    val groups = query.edges.filter(e => shellSet(e.u) || shellSet(e.v))
      .map { e =>
        val (s, c) = if (shellSet(e.u)) (e.u, e.v) else (e.v, e.u)
        ((c, e.elabel, query.byName(s).vlabel), s)
      }
      .groupBy(_._1).toSeq
      .map { case ((c, el, vl), xs) => ShellGroup(c, el, vl, xs.map(_._2).sorted) }
      .sortBy(g => (g.attach, g.elabel.getOrElse(-1), g.vlabel.getOrElse(-1)))

    if (!homomorphic) {
      def disjoint(a: ShellGroup, b: ShellGroup): Boolean = {
        val vlabelsSplit = a.vlabel.isDefined && b.vlabel.isDefined && a.vlabel != b.vlabel
        val elabelsSplit = a.elabel.isDefined && b.elabel.isDefined && a.elabel != b.elabel
        if (a.attach == b.attach) vlabelsSplit || elabelsSplit else vlabelsSplit
      }
      val ok = groups.combinations(2).forall { case Seq(a, b) => disjoint(a, b) }
      if (!ok) return None
    }

    val rel = materializedRelation(edges, vertices, Some(query))
    val coreEdges = query.edges.filter(e => !shellSet(e.u) && !shellSet(e.v))
    val coreQ = QueryGraph(query.vertices.filter(v => coreNames.contains(v.name)), coreEdges)

    // core embeddings: a join plan if the core has edges, else the single
    // core vertex's label-filtered candidates
    val core: DataFrame =
      if (coreEdges.nonEmpty)
        plan(coreQ, rel, chooseOrder(coreQ, rel),
          homomorphic, carryFlag = false, None)
      else {
        val c = coreNames.head
        val base = query.byName(c).vlabel match {
          case Some(l) => vertices.where(col("vlabel") === l)
          case None => vertices
        }
        base.select(col("id").as(c))
      }

    // per-group candidate counts: neighbors of the attach image via matching
    // labels — ONE groupBy per distinct (elabel, vlabel) pattern
    var df = core
    groups.zipWithIndex.foreach { case (g, gi) =>
      val el = g.elabel.map(l => col("elabel") === l).getOrElse(lit(true))
      val dl = g.vlabel.map(l => col("dlabel") === l).getOrElse(lit(true))
      val cnt = rel.where(el && dl)
        .groupBy(col("src").as(s"_id$gi")).agg(count(lit(1)).as(s"_n$gi"))
      df = df.join(cnt, df(g.attach) === cnt(s"_id$gi"), "left_outer")
        .drop(s"_id$gi")
        .withColumn(s"_n$gi", coalesce(col(s"_n$gi"), lit(0L)))
      if (!homomorphic) {
        // exclude core images from the candidate set: for every other core
        // vertex w, subtract 1 iff (m[attach], m[w]) is an edge matching the
        // group's labels (then m[w] sits inside the candidate set).
        // Label-disjointness fast path (opt round 6, guide §2.4 — remove
        // shuffles outright): when the group's vertex label and w's label
        // are BOTH concrete and different, m[w] can never sit inside the
        // group's candidate set (candidates require dlabel = g.vlabel and a
        // vertex has exactly one label), so the correction join is provably
        // zero — skip it. For q_match_tailtri this removes two full-relation
        // SortMergeJoins + four Exchanges over the core-embedding relation.
        coreNames.filter(w => w != g.attach &&
            !(g.vlabel.isDefined && query.byName(w).vlabel.isDefined &&
              g.vlabel != query.byName(w).vlabel))
          .zipWithIndex.foreach { case (w, wi) =>
          val hit = rel.where(el && dl).select(
            col("src").as(s"_hs$gi$wi"), col("dst").as(s"_hd$gi$wi"),
            lit(1L).as(s"_hit$gi$wi"))
          df = df.join(hit,
              df(g.attach) === col(s"_hs$gi$wi") && df(w) === col(s"_hd$gi$wi"),
              "left_outer")
            .drop(s"_hs$gi$wi", s"_hd$gi$wi")
            .withColumn(s"_n$gi",
              col(s"_n$gi") - coalesce(col(s"_hit$gi$wi"), lit(0L)))
            .drop(s"_hit$gi$wi")
        }
      }
    }

    // per-embedding weight = product over groups of the falling factorial
    // n * (n-1) * ... * (n-k+1) (plain product when homomorphic)
    val weight = groups.zipWithIndex.map { case (g, gi) =>
      val k = g.members.size
      (0 until k).map { j =>
        val term = if (homomorphic) col(s"_n$gi") else col(s"_n$gi") - j
        greatest(term, lit(0L))
      }.reduce(_ * _)
    }.reduce(_ * _)

    Some(df.agg(coalesce(sum(weight), lit(0L)).as("matches")))
  }

  /** Count of matches using at least one delta edge — the positive/negative
    * result maintenance join (J3/J4, graphflow.cpp:289-416), batched: edges
    * carry an `isNew` boolean; closing checks become inner joins so every
    * query edge's flag survives to the final any-flag filter. Each embedding
    * is still counted once (the relation is unique on (src,dst)). */
  def countDeltaMatches(spark: SparkSession, query: QueryGraph,
                        edges: DataFrame, vertices: DataFrame,
                        homomorphic: Boolean = false): DataFrame = {
    // The isNew flag rides THROUGH the symmetrize+dedup+label pipeline
    // (opt round 6, guide §2.4): re-joining a separately symmetrized flag
    // table on (src,dst) would cost a second full-relation exchange+join
    // for a column the input already carries. The relation is also pruned
    // to rows matching SOME query edge in SOME orientation before the
    // checkpoint (materializedRelation's forQuery rule — sound for the join
    // plan, and the any-flag filter only consults rows the plan matched).
    val r0 = relation(edges, vertices, "isNew")
    val any = query.edges.flatMap(e =>
      Seq(edgeCond(query, e, r0), edgeCond(query, QEdge(e.v, e.u, e.elabel), r0)))
      .reduce(_ || _)
    val rel = GraftSqlShims.checkpoint(r0.where(any))
    val order = chooseOrder(query, rel)
    val matches = plan(query, rel, order, homomorphic, carryFlag = true, None)
    val anyNew = (0 until query.edges.size).map(i => col(s"_f$i")).reduce(_ || _)
    matches.where(anyNew).agg(count(lit(1)).as("delta_matches"))
  }

  /** The left-deep join plan over an ordered edge list. `ltConstraints` are
    * symmetry-breaking m[a] < m[b] predicates, each applied at the earliest
    * stage where both columns are bound (pruning inside the cascade). */
  private def plan(query: QueryGraph, rel: DataFrame, order: Seq[QEdge],
                   homomorphic: Boolean, carryFlag: Boolean,
                   candidates: Option[Map[String, DataFrame]],
                   ltConstraints: Seq[(String, String)] = Seq.empty): DataFrame = {

    def filtered(e: QEdge, u: String, v: String, alias: String): DataFrame = {
      // u at src, v at dst; optional candidate-index semi-joins (X2)
      var r = rel.where(edgeCond(query, QEdge(u, v, e.elabel), rel))
      candidates.foreach { c =>
        c.get(u).foreach(cu => r = r.join(
          cu.select(col("id").as("src")), Seq("src"), "left_semi"))
        c.get(v).foreach(cv => r = r.join(
          cv.select(col("id").as("dst")), Seq("dst"), "left_semi"))
      }
      r.as(alias)
    }

    val pending = scala.collection.mutable.Set(ltConstraints: _*)
    def applyConstraints(df: DataFrame, bound: Vector[String]): DataFrame = {
      val ready = pending.filter { case (a, b) => bound.contains(a) && bound.contains(b) }
      if (ready.isEmpty) df
      else {
        pending --= ready
        df.where(ready.toSeq.sortBy(identity)
          .map { case (a, b) => col(a) < col(b) }.reduce(_ && _))
      }
    }

    val e0 = order.head
    val flagCols0 = if (carryFlag) Seq(col("r0.isNew").as("_f0")) else Seq.empty
    var partial = filtered(e0, e0.u, e0.v, "r0")
      .select(Seq(col("r0.src").as(e0.u), col("r0.dst").as(e0.v)) ++ flagCols0: _*)
    var bound = Vector(e0.u, e0.v)
    partial = applyConstraints(partial, bound)
    var flagIdx = 1

    order.tail.foreach { e =>
      val alias = s"r$flagIdx"
      val bothBound = bound.contains(e.u) && bound.contains(e.v)
      if (bothBound) {
        val r = filtered(e, e.u, e.v, alias)
        if (carryFlag) {
          val joined = partial.join(r,
            partial(e.u) === col(s"$alias.src") && partial(e.v) === col(s"$alias.dst"))
          partial = joined.select(
            bound.map(partial(_)) ++
              (0 until flagIdx).map(i => partial(s"_f$i")) :+
              col(s"$alias.isNew").as(s"_f$flagIdx"): _*)
        } else {
          partial = partial.join(r,
            partial(e.u) === col(s"$alias.src") && partial(e.v) === col(s"$alias.dst"),
            "left_semi")
        }
      } else {
        val (known, newV) = if (bound.contains(e.u)) (e.u, e.v) else (e.v, e.u)
        val r = filtered(e, known, newV, alias)
        val joined = partial.join(r, partial(known) === col(s"$alias.src"))
        val inj =
          if (homomorphic) joined
          else joined.where(bound.filter(_ != known)
            .map(b => col(s"$alias.dst") =!= partial(b))
            .foldLeft(col(s"$alias.dst") =!= partial(known))(_ && _))
        val flagCols =
          if (carryFlag)
            (0 until flagIdx).map(i => partial(s"_f$i")) :+
              col(s"$alias.isNew").as(s"_f$flagIdx")
          else Seq.empty
        partial = inj.select(
          bound.map(partial(_)) ++ Seq(col(s"$alias.dst").as(newV)) ++ flagCols: _*)
        bound = bound :+ newV
        partial = applyConstraints(partial, bound)
      }
      flagIdx += 1
    }
    partial
  }
}
