package graft.graph

import org.apache.spark.sql.{DataFrame, Dataset, GraftSqlShims, SparkSession}
import org.apache.spark.sql.functions._

import graft.pages.{Extract, Page}

/** pages table → (vertices, edges, degrees): the engine's load path.
  *
  * Reference analogue: Graph::LoadFromFile + AddVertex/AddEdge
  * (ParaCOSM/CSM/graph/graph.cpp:217-249, 23-93) — but instead of parsing
  * v/e text lines into mutable adjacency arrays, we flatMap links out of an
  * `input_hint`-shaped pages table and keep everything as immutable Datasets
  * that Catalyst can plan (predicate pushdown, partial aggregation, AQE).
  *
  * Vertex ids are `xxhash64(url)`. At 10^12-document design scale a single
  * 64-bit hash collides with near-certainty (birthday bound ~2^32 docs), so
  * `buildVerified` performs a collision audit (distinct urls == distinct
  * ids) — the documented escape hatch is a 2-column 128-bit key; at every
  * test/bench scale here the audit passes (SURVEY.md §7.4-4).
  */
object GraphBuilder {

  /** Directed edge list extracted ONLY via the html extractor (the
    * closed-form fixture list is compared against this in tests, never used
    * here). Dedup on (src,dst) mirrors the reference's sorted-insert dedup
    * (graph.cpp:63-64). Self-loops dropped (reference never creates them). */
  def edgesFromPages(spark: SparkSession, pages: Dataset[Page]): Dataset[Edge] = {
    import spark.implicits._
    val links = pages.flatMap { p =>
      Extract.extractLinks(p.html, p.url).map(t => (p.url, t))
    }.toDF("src_url", "dst_url")
    links
      .select(xxhash64(col("src_url")).as("src"), xxhash64(col("dst_url")).as("dst"))
      .where(col("src") =!= col("dst"))
      .dropDuplicates("src", "dst")
      .as[Edge]
  }

  /** Vertex dictionary: id → (url, lang) for result readback. */
  def verticesFromPages(spark: SparkSession, pages: Dataset[Page]): Dataset[Vertex] = {
    import spark.implicits._
    pages.select(xxhash64(col("url")).as("id"), col("url"), col("lang")).as[Vertex]
  }

  /** Fails fast if xxhash64(url) collides at this scale. */
  def collisionAudit(pages: Dataset[Page]): Unit = {
    val row = pages.agg(
      countDistinct(col("url")).as("urls"),
      countDistinct(xxhash64(col("url"))).as("ids")).head()
    require(row.getLong(0) == row.getLong(1),
      s"xxhash64(url) collision: ${row.getLong(0)} urls -> ${row.getLong(1)} ids; " +
        "switch to buildSafe's dense-dictionary path")
  }

  /** Non-throwing audit twin (parameterized so tests can force the
    * collision regime with a deliberately narrow id function). */
  def idsCollide(pages: Dataset[Page],
                 idExpr: org.apache.spark.sql.Column => org.apache.spark.sql.Column
                   = xxhash64(_)): Boolean = {
    val row = pages.agg(
      countDistinct(col("url")).as("urls"),
      countDistinct(idExpr(col("url"))).as("ids")).head()
    row.getLong(0) != row.getLong(1)
  }

  /** Build all graph tables with the collision audit on. */
  def buildVerified(spark: SparkSession, pages: Dataset[Page])
      : (Dataset[Vertex], Dataset[Edge]) = {
    collisionAudit(pages)
    (verticesFromPages(spark, pages), edgesFromPages(spark, pages))
  }

  /** COLLISION-SAFE build — the 10^12-document path (the birthday bound
    * makes a single 64-bit hash collide with near-certainty around 2^32
    * urls): every distinct url (pages AND link targets) is remapped to a
    * DENSE long via a dictionary, so ids are collision-free by construction
    * and every downstream algorithm keeps its single-long join key (a
    * (hi, lo) 128-bit key would double every shuffle's key bytes instead).
    * The dictionary costs one distinct + zipWithUniqueId pass at build time
    * — one-time, amortized over every superstep; at warehouse scale it is
    * itself a persisted table. Id VALUES are assignment-dependent, but all
    * results are read back per url through the vertex dictionary, so
    * url-keyed outputs are independent of the assignment (test-pinned
    * against the hash path). */
  def buildDense(spark: SparkSession, pages: Dataset[Page])
      : (Dataset[Vertex], Dataset[Edge]) = {
    import spark.implicits._
    val links = GraftSqlShims.checkpoint(pages.flatMap { p =>
      Extract.extractLinks(p.html, p.url).map(t => (p.url, t))
    }.toDF("src_url", "dst_url"))
    val urls = pages.select(col("url"))
      .union(links.select(col("src_url").as("url")))
      .union(links.select(col("dst_url").as("url")))
      .distinct()
    val dict = GraftSqlShims.checkpoint(urls.as[String].rdd.zipWithUniqueId().toDF("url", "id"))
    val verts = pages.select(col("url"), col("lang"))
      .join(dict, Seq("url"))
      .select(col("id"), col("url"), col("lang")).as[Vertex]
    val edges = links
      .join(dict.select(col("url").as("src_url"), col("id").as("src")), Seq("src_url"))
      .join(dict.select(col("url").as("dst_url"), col("id").as("dst")), Seq("dst_url"))
      .select(col("src"), col("dst"))
      .where(col("src") =!= col("dst"))
      .dropDuplicates("src", "dst")
      .as[Edge]
    (verts, edges)
  }

  /** Audit-then-route build: the 64-bit hash path while it is provably
    * collision-free at this scale, the dense-dictionary path once it is
    * not. Returns (vertices, edges, usedDensePath). */
  def buildSafe(spark: SparkSession, pages: Dataset[Page],
                idExpr: org.apache.spark.sql.Column => org.apache.spark.sql.Column
                  = xxhash64(_)): (Dataset[Vertex], Dataset[Edge], Boolean) = {
    if (!idsCollide(pages, idExpr))
      (verticesFromPages(spark, pages), edgesFromPages(spark, pages), false)
    else {
      val (v, e) = buildDense(spark, pages)
      (v, e, true)
    }
  }

  /** Degree table (reference GetDegree, graph.cpp:176-179 — here for the
    * whole graph at once): id, outDeg, inDeg. */
  def degrees(edges: DataFrame): DataFrame = {
    val out = edges.groupBy(col("src").as("id")).agg(count(lit(1)).as("outDeg"))
    val in  = edges.groupBy(col("dst").as("id")).agg(count(lit(1)).as("inDeg"))
    out.join(in, Seq("id"), "full_outer")
      .select(col("id"),
        coalesce(col("outDeg"), lit(0L)).as("outDeg"),
        coalesce(col("inDeg"), lit(0L)).as("inDeg"))
  }

  /** Symmetrize a directed edge list — the ONE undirected build (CC, LP,
    * BFS, triangles and the matching relation all read it; the reference
    * graph is undirected, graph.h:63): both orientations, self-loops
    * dropped, one row per (src, dst). `carry` columns ride along unchanged
    * (edge labels, delta flags); of duplicate (src, dst) rows one is kept.
    * Callers own materialization (persist or GraftSqlShims.checkpoint). */
  def undirected(edges: DataFrame, carry: String*): DataFrame = {
    // one exchange (opt round 6): placed by src FIRST — hash(src)
    // satisfies the (src,dst) dedup's clustering, so dropDuplicates runs
    // in place, and the result comes out pre-positioned for every
    // src-keyed consumer (superstep joins, degree groupBy, label joins) that
    // reads it through `persist` or GraftSqlShims.checkpoint (both report
    // the partitioning)
    val rest = carry.map(col)
    placed(edges.select(col("src") +: col("dst") +: rest: _*)
      .union(edges.select(col("dst").as("src") +: col("src").as("dst") +: rest: _*))
      .where(col("src") =!= col("dst")), "src")
      .dropDuplicates("src", "dst")
  }

  /** `df` exchanged by `key` into the session's shuffle-partition count —
    * the one layout of the partition-stable superstep loops' tables: edge
    * tables by src (`undirected`, PageRank's adjacency), vertex state by id.
    * Two tables placed this way join on those keys in place, and a
    * GraftSqlShims.checkpoint of either keeps the layout. An explicit
    * count: AQE does not coalesce the exchange. */
  def placed(df: DataFrame, key: String): DataFrame =
    df.repartition(df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt, col(key))
}
