package graft.matching

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.GraftSqlShims.{checkpoint, release}
import org.apache.spark.sql.functions._

/** Candidate-pruning index: the DCS-family semi-join reduction (reference
  * SymBi::BuildDCS, ParaCOSM/CSM/matching/SymBi/symbi.cpp:259-372; CaLiG's
  * candidate bitmaps, calig.cpp:246-271) as ONE materialized (qv, id) table
  * per pruning round.
  *
  * Base set (round 0) for query vertex u = data vertices with u's label.
  * One pruning round: u keeps v iff for EVERY query edge (u,u'), v has at
  * least one neighbor (via a matching edge label) in the PREVIOUS round's
  * candidate set of u'. Rounds iterate a bounded number of times — repeated
  * semi-join reduction, the tabular form of the reference's
  * top-down/bottom-up DCS passes. Stopping early keeps a SUPERSET of the
  * true candidates, so feeding the last round to GraphMatcher is always
  * sound and only prunes.
  *
  * Cost shape (fixed in round 3 — the round-2 build ran per-vertex eager
  * checkpoints and per-vertex count() jobs per round, costing 10x the query
  * it pruned): each round is |incidences| semi-joins funneled into ONE
  * groupBy-count aggregation and ONE checkpoint; the relation is built once
  * by the caller and shared with the join plan (GraphMatcher
  * .findMatchesIndexed).
  */
object CandidateIndex {

  /** Directed incidences (u, other, elabel, tag) of the query graph. */
  private def incidences(q: QueryGraph): Seq[(String, String, Option[Int], Int)] =
    q.edges.zipWithIndex.flatMap { case (e, i) =>
      Seq((e.u, e.v, e.elabel, 2 * i), (e.v, e.u, e.elabel, 2 * i + 1))
    }

  /** Round-0 label base as one tagged table. */
  private def labelBase(q: QueryGraph, vertices: DataFrame): DataFrame =
    q.vertices.map { qv =>
      val base = qv.vlabel match {
        case Some(l) => vertices.where(col("vlabel") === l)
        case None => vertices
      }
      base.select(lit(qv.name).as("qv"), col("id"))
    }.reduce(_ union _)

  /** One pruning round over the (qv, id) table `prev`: the rows whose every
    * incident query edge has support in `prev`. */
  private def pruneRound(q: QueryGraph, rel: DataFrame, prev: DataFrame): DataFrame = {
    val supports = incidences(q).map { case (u, other, elabel, tag) =>
      val el = elabel.map(l => col("elabel") === l).getOrElse(lit(true))
      rel.where(el)
        .join(prev.where(col("qv") === other).select(col("id").as("dst")),
          Seq("dst"), "left_semi")
        .select(col("src").as("id"), lit(u).as("qv"), lit(tag).as("etag"))
    }.reduce(_ union _)
    val reqDf = q.vertices.map(v => (v.name, q.degree(v.name).toLong))
    val spark = rel.sparkSession
    import spark.implicits._
    val req = broadcast(reqDf.toDF("qv", "req"))
    supports
      .join(prev.select(col("qv"), col("id")), Seq("qv", "id"), "left_semi")
      .groupBy(col("qv"), col("id"))
      .agg(countDistinct(col("etag")).as("nsup"))
      .join(req, Seq("qv"))
      .where(col("nsup") === col("req"))
      .select(col("qv"), col("id"))
  }

  /** Build over a pre-materialized relation (share it with the join plan!):
    * the last round's candidate ids per query vertex, for GraphMatcher's
    * `candidates`. */
  def buildOnRel(spark: SparkSession, query: QueryGraph, rel: DataFrame,
                 vertices: DataFrame, rounds: Int = 2): Map[String, DataFrame] = {
    val last = (1 to rounds).foldLeft(checkpoint(labelBase(query, vertices))) { (prev, _) =>
      val next = checkpoint(pruneRound(query, rel, prev))
      release(prev)
      next
    }
    query.vertices.map { v =>
      v.name -> last.where(col("qv") === v.name).select(col("id"))
    }.toMap
  }
}
