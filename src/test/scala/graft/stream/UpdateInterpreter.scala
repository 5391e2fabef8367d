package graft.stream

import org.apache.spark.sql.{DataFrame, Row}

import graft.graph.GraphUpdate

/** Plain-Scala sequential interpreter of the reference's M1-M4 update
  * semantics (AddVertex / RemoveVertex / AddEdge / RemoveEdge,
  * graph.cpp:23-116) — the oracle the driver-local update path is pinned
  * against:
  *  - ops apply in seq order, cut into segments: each `-v` closes its
  *    segment, and at the segment's end it cascades to every incident edge;
  *  - within a segment the last op per key wins (vertex key = id, edge key
  *    = directed (id1, id2));
  *  - a vertex add sets the vertex's label, replacing an old one;
  *  - an edge add keeps an existing row (and its label) and never creates a
  *    self-loop; an edge delete removes the row, self-loops included.
  * Unlabeled tables are read with label 0 everywhere. */
object UpdateInterpreter {

  final case class Graph(vertices: Map[Long, Int], edges: Map[(Long, Long), Int])

  def lastPerKey(ops: Seq[GraphUpdate]): Seq[GraphUpdate] =
    ops.groupBy(u => if (u.op == "e" || u.op == "-e") (true, u.id1, u.id2) else (false, u.id1, 0L))
      .values.map(_.maxBy(_.seq)).toSeq.sortBy(_.seq)

  def segments(ops: Seq[GraphUpdate]): Seq[Seq[GraphUpdate]] = {
    val out = Seq.newBuilder[Seq[GraphUpdate]]
    var cur = Vector.empty[GraphUpdate]
    ops.sortBy(_.seq).foreach { u =>
      cur :+= u
      if (u.op == "-v") { out += cur; cur = Vector.empty }
    }
    if (cur.nonEmpty) out += cur
    out.result()
  }

  def apply(g: Graph, ops: Seq[GraphUpdate]): Graph =
    segments(ops).foldLeft(g) { (g0, seg) =>
      var v = g0.vertices
      var e = g0.edges
      val c = lastPerKey(seg)
      c.foreach { u =>
        u.op match {
          case "v" => v += u.id1 -> u.label
          case "-v" => v -= u.id1
          case "e" => if (u.id1 != u.id2 && !e.contains((u.id1, u.id2))) e += (u.id1, u.id2) -> u.label
          case "-e" => e -= ((u.id1, u.id2))
        }
      }
      val dead = c.filter(_.op == "-v").map(_.id1).toSet
      Graph(v, e.filterNot { case ((s, d), _) => dead(s) || dead(d) })
    }

  private def canon(k: (Long, Long)): (Long, Long) = if (k._1 < k._2) k else k.swap

  private def canonKeys(g: Graph): Set[(Long, Long)] =
    g.edges.keySet.filter(k => k._1 != k._2).map(canon)

  private def slice(g: Graph, keys: Set[(Long, Long)]): Set[(Long, Long, Int)] =
    g.edges.collect { case (k, l) if k._1 != k._2 && keys(canon(k)) => (k._1, k._2, l) }.toSet

  /** The true before → after diff in canonical undirected space (lo < hi,
    * no self-loops), with the directed labeled rows of each side. */
  final case class CanonDelta(added: Set[(Long, Long)], deleted: Set[(Long, Long)],
                              addedRows: Set[(Long, Long, Int)],
                              deletedRows: Set[(Long, Long, Int)])

  def canonicalDelta(before: Graph, after: Graph): CanonDelta = {
    val added = canonKeys(after) -- canonKeys(before)
    val deleted = canonKeys(before) -- canonKeys(after)
    CanonDelta(added, deleted, slice(after, added), slice(before, deleted))
  }

  /** The true before → after diff of directed edge keys (no self-loops). */
  def directedDelta(before: Graph, after: Graph): (Set[(Long, Long)], Set[(Long, Long)]) = {
    def keys(g: Graph) = g.edges.keySet.filter(k => k._1 != k._2)
    (keys(after) -- keys(before), keys(before) -- keys(after))
  }

  /** Reads (id[, vlabel]) and (src, dst[, elabel]) tables; a duplicate key
    * fails, since the maintained tables never hold one. */
  def graphOf(vertices: DataFrame, edges: DataFrame): Graph =
    Graph(keyed(vertices, 1)(r => r.getLong(0)), edgesOf(edges))

  def edgesOf(edges: DataFrame): Map[(Long, Long), Int] =
    keyed(edges, 2)(r => (r.getLong(0), r.getLong(1)))

  private def keyed[K](df: DataFrame, labelCol: Int)(key: Row => K): Map[K, Int] = {
    val rows = df.collect()
    val m = rows.map(r => key(r) -> (if (r.size > labelCol) r.getInt(labelCol) else 0)).toMap
    require(m.size == rows.length, s"duplicate key in ${df.columns.mkString(",")}")
    m
  }
}
