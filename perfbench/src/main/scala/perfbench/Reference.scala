package perfbench

import scala.collection.mutable

/** Plain-Scala reference results. They are computed outside every timed
  * region and never call the engine. */
object Reference {

  /** Simple undirected adjacency (no self-loops, no duplicates). */
  def undirected(ids: Iterable[Long], edges: Iterable[(Long, Long)]): Map[Long, Array[Long]] = {
    val adj = mutable.HashMap.empty[Long, mutable.Set[Long]]
    ids.foreach(v => adj.getOrElseUpdate(v, mutable.Set.empty))
    edges.foreach { case (a, b) =>
      if (a != b) {
        adj.getOrElseUpdate(a, mutable.Set.empty) += b
        adj.getOrElseUpdate(b, mutable.Set.empty) += a
      }
    }
    adj.view.mapValues(_.toArray.sorted).toMap
  }

  /** Power iteration with uniform dangling redistribution; stops when the
    * L∞ change drops below `tol`. Returns (ranks, supersteps). */
  def pageRank(ids: Seq[Long], edges: Iterable[(Long, Long)], d: Double = 0.85,
               tol: Double = 1e-6, maxIter: Int = 100): (Map[Long, Double], Int) = {
    val idx = ids.zipWithIndex.toMap
    val n = ids.size
    val e = edges.toSeq.distinct.filter { case (a, b) => a != b }.map { case (a, b) => (idx(a), idx(b)) }
    val outDeg = new Array[Int](n)
    e.foreach { case (a, _) => outDeg(a) += 1 }
    var r = Array.fill(n)(1.0 / n)
    var it = 0
    var linf = Double.MaxValue
    while (it < maxIter && linf >= tol) {
      var dm = 0.0
      var i = 0
      while (i < n) { if (outDeg(i) == 0) dm += r(i); i += 1 }
      val acc = new Array[Double](n)
      e.foreach { case (a, b) => acc(b) += r(a) / outDeg(a) }
      val next = Array.tabulate(n)(v => (1.0 - d) / n + d * (acc(v) + dm / n))
      linf = next.indices.map(v => math.abs(next(v) - r(v))).max
      r = next
      it += 1
    }
    (ids.zip(r).toMap, it)
  }

  /** Component label = smallest id in the component. */
  def components(adj: Map[Long, Array[Long]]): Map[Long, Long] = {
    val label = mutable.HashMap.empty[Long, Long]
    adj.keys.toSeq.sorted.foreach { s =>
      if (!label.contains(s)) {
        label(s) = s
        val q = mutable.Queue(s)
        while (q.nonEmpty) adj(q.dequeue()).foreach { w => if (!label.contains(w)) { label(w) = s; q += w } }
      }
    }
    label.toMap
  }

  /** Synchronous label propagation: every vertex takes the most frequent
    * neighbor label, smallest label on ties; isolated vertices keep theirs.
    * Stops after `maxIter` supersteps or when nothing changes. */
  def labelPropagation(adj: Map[Long, Array[Long]], maxIter: Int = 10): (Map[Long, Long], Int) = {
    var label: Map[Long, Long] = adj.keys.map(v => v -> v).toMap
    var it = 0
    var changed = 1L
    while (it < maxIter && changed > 0) {
      val next = adj.map { case (v, nbrs) =>
        if (nbrs.isEmpty) v -> label(v)
        else {
          val counts = nbrs.groupBy(label).view.mapValues(_.length)
          v -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
        }
      }
      changed = next.count { case (v, l) => label(v) != l }
      label = next
      it += 1
    }
    (label, it)
  }

  /** Multi-source BFS depth of every vertex reachable within `maxDepth`. */
  def bfs(adj: Map[Long, Array[Long]], sources: Seq[Long], maxDepth: Int): Map[Long, Long] = {
    val depth = mutable.HashMap.from(sources.distinct.map(_ -> 0L))
    var frontier = sources.distinct
    var level = 0L
    while (frontier.nonEmpty && level < maxDepth) {
      level += 1
      frontier = frontier.flatMap(adj(_)).distinct.filterNot(depth.contains)
      frontier.foreach(v => depth(v) = level)
    }
    depth.toMap
  }

  def triangles(adj: Map[Long, Array[Long]]): Long = {
    var t = 0L
    adj.foreach { case (u, nu) =>
      val nuSet = nu.toSet
      nu.foreach { v => if (v > u) adj(v).foreach { w => if (w > v && nuSet(w)) t += 1 } }
    }
    t
  }

  /** Count of the labeled 3-vertex path (l0 -[e01]- l1 -[e12]- l2) over an
    * undirected edge set with distinct end labels, as the continuous
    * matcher counts it: one per (u, v, w) with v in the middle. */
  def pathCount(edges: Iterable[(Long, Long)], vlabel: Long => Int, elabel: (Long, Long) => Int,
                l0: Int, l1: Int, l2: Int, e01: Int, e12: Int): Long = {
    val left = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
    val right = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
    edges.foreach { case (a, b) =>
      Seq((a, b), (b, a)).foreach { case (mid, end) =>
        if (vlabel(mid) == l1) {
          if (vlabel(end) == l0 && elabel(a, b) == e01) left(mid) += 1
          if (vlabel(end) == l2 && elabel(a, b) == e12) right(mid) += 1
        }
      }
    }
    left.keys.iterator.map(v => left(v) * right(v)).sum
  }
}
