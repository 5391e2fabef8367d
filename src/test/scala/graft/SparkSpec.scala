package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestSession.spark

  /** `body`'s result and the SQL executions it ran to success, in order. */
  protected def sqlExecutions[T](body: => T): (T, Seq[QueryExecution]) = {
    val qes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val l = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        qes.add(qe); ()
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      val r = body
      org.apache.spark.GraftSparkShims.waitListenerBusEmpty(spark.sparkContext)
      (r, qes.toArray(Array.empty[QueryExecution]).toSeq)
    } finally spark.listenerManager.unregister(l)
  }

  /** The shuffle exchanges that ran for `plan`, query stages included; a
    * reused exchange is not one. */
  protected def shuffles(plan: SparkPlan): Seq[ShuffleExchangeLike] = plan match {
    case a: AdaptiveSparkPlanExec => shuffles(a.executedPlan)
    case s: QueryStageExec => shuffles(s.plan)
    case e: ShuffleExchangeLike => e +: e.children.flatMap(shuffles)
    case p => p.children.flatMap(shuffles)
  }
}

/** Plain-Scala oracles (FIXTURES.md §6, SURVEY.md §5): independent
  * single-threaded implementations the distributed engine must agree with —
  * the reference's cross-algorithm-agreement methodology
  * (benchmark/P_gf.txt vs P_tf.txt identical counts). */
object Oracles {

  /** Power-iteration PageRank, same convention as graft.algo.PageRank. */
  def pageRank(vertices: Seq[Long], edges: Seq[(Long, Long)], damping: Double = 0.85,
               tol: Double = 1e-6, maxIter: Int = 100): Map[Long, Double] = {
    val n = vertices.size.toDouble
    val out = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toDouble }
    val inEdges = edges.groupBy(_._2)
    var r = vertices.map(_ -> 1.0 / n).toMap
    var it = 0
    var linf = Double.MaxValue
    while (it < maxIter && linf >= tol) {
      val dangling = vertices.filter(v => !out.contains(v)).map(r).sum
      val r2 = vertices.map { v =>
        val contrib = inEdges.getOrElse(v, Seq.empty).map { case (s, _) => r(s) / out(s) }.sum
        v -> ((1.0 - damping) / n + damping * (contrib + dangling / n))
      }.toMap
      linf = vertices.map(v => math.abs(r2(v) - r(v))).max
      r = r2
      it += 1
    }
    r
  }

  /** BFS connected components over the undirected view: id → min id of its
    * component. */
  def components(vertices: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = scala.collection.mutable.Map.empty[Long, List[Long]].withDefaultValue(Nil)
    edges.foreach { case (a, b) => adj(a) ::= b; adj(b) ::= a }
    val label = scala.collection.mutable.Map.empty[Long, Long]
    vertices.sorted.foreach { v =>
      if (!label.contains(v)) {
        val queue = scala.collection.mutable.Queue(v)
        label(v) = v
        while (queue.nonEmpty) {
          val u = queue.dequeue()
          adj(u).foreach { w => if (!label.contains(w)) { label(w) = v; queue += w } }
        }
      }
    }
    label.toMap
  }

  /** Brute-force triangle count on the undirected simple graph. */
  def triangles(edges: Seq[(Long, Long)]): Long = {
    val und = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .filter { case (a, b) => a != b }.toSet
    val verts = und.map(_._1).toSeq.sorted
    val adj = und.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
    var count = 0L
    for {
      a <- verts
      b <- adj.getOrElse(a, Set.empty) if b > a
      c <- adj.getOrElse(b, Set.empty) if c > b
      if und.contains((a, c))
    } count += 1
    count
  }

  /** One synchronous LP step: mode of neighbor labels, ties to min. */
  def lpStep(labels: Map[Long, Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val und = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .filter { case (a, b) => a != b }.distinct
    val nbrs = und.groupBy(_._2).map { case (v, es) => v -> es.map(_._1) }
    labels.map { case (v, l) =>
      nbrs.get(v) match {
        case None => v -> l
        case Some(ns) =>
          val counts = ns.map(labels).groupBy(identity).map { case (k, vs) => (k, vs.size) }
          val best = counts.toSeq.minBy { case (lbl, n) => (-n, lbl) }._1
          v -> best
      }
    }
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i).toDouble
      na += a(i).toDouble * a(i).toDouble
      nb += b(i).toDouble * b(i).toDouble
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    a.intersect(b).size.toDouble / a.union(b).size.toDouble
}
