package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions.{col, countDistinct}
import org.apache.spark.unsafe.types.UTF8String

import graft.algo._
import graft.graph.{GraphBuilder, GraphUpdate}
import graft.matching.{MultiQueryDriver, QueryGraph}
import graft.pages.{Extract, Page}
import graft.state.StateStore
import graft.stream.StreamGraph

/** What one pass leaves behind: its reference check (run after the timed
  * region), the per-layer numbers it produced, and its own clean-up. */
final case class Outcome(
    units: Int,
    check: () => Seq[String],
    numbers: () => Map[String, Double],
    cleanup: () => Unit = () => ())

trait Workload {
  /** Build the inputs (and any long-lived engine state) from the seed. */
  def setup(): Unit
  /** Untimed work before a pass, e.g. drawing its batches. */
  def prepare(): Unit = ()
  /** One pass: the timed region. A warm-up pass (`warm`) runs every plan
    * shape of a pass with each superstep loop capped at one iteration, so
    * JIT and code generation are warm when timing starts for a fraction of
    * a full pass's cost; its results are not checked. */
  def runPass(pass: Int, warm: Boolean): Outcome
  /** Nominal seconds of one pass; a run makes about --seconds / this
    * timed passes, the same number on every machine. */
  def nominalPassSeconds: Double
  /** False when passes share engine state that set-up created. */
  def releasePerPass: Boolean = true
  /** Whether to run an untimed warm-up pass before the timed ones. */
  def warmUp: Boolean = true
}

object Workloads {
  def apply(name: String, spark: SparkSession, tracer: Tracer, seed: Long, work: Path): Workload =
    name match {
      case "crawl_pages" => new CrawlPages(spark, tracer, seed, work)
      case "ring_graph" => new RingGraph(spark, tracer, seed)
      case "update_stream" => new UpdateStream(spark, tracer, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Mean of the faster half of xs. */
  def fasterHalfMean(xs: Seq[Double]): Double = {
    val fast = xs.sorted.take((xs.size + 1) / 2)
    fast.sum / fast.size
  }

  /** PageRank edges per second of superstep wall, from the per-superstep
    * walls PageRank returns. They cover each superstep's compute and leave
    * out preparation and StateStore commits, which pass_s and state.*
    * cover. The wall is the mean of the faster half of the supersteps: on a
    * shared host, bursts of CPU steal stretch some supersteps, and the
    * faster half still shows the engine's own superstep cost. */
  def edgesPerSecond(edges: Long, m: Seq[SuperstepMetrics]): Double =
    edges.toDouble / (fasterHalfMean(m.map(_.wallMs.toDouble)) / 1e3)

  /** Σchanged / Σrows over an algorithm's supersteps. */
  def changedRatio(m: Seq[SuperstepMetrics]): Double =
    m.map(_.changed).sum.toDouble / math.max(1L, m.map(_.rows).sum)

  def idRank(df: DataFrame): Map[Long, Double] =
    df.select("id", "rank").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  def idLabel(df: DataFrame): Map[Long, Long] =
    df.select("id", "label").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  def mismatches[K, V](what: String, got: Map[K, V], want: Map[K, V])(same: (V, V) => Boolean): Seq[String] = {
    val bad = want.count { case (k, v) => !got.get(k).exists(same(_, v)) } + (got.keySet -- want.keySet).size
    if (bad == 0) Nil else Seq(s"$what: $bad of ${want.size} keys differ from the reference")
  }

  def expect[T](what: String, got: T, want: T): Seq[String] =
    if (got == want) Nil else Seq(s"$what: got $got, reference $want")

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
    finally s.close()
  }
}

import Workloads._

/** The north-star pipeline over a seeded crawl written to parquet in
  * set-up: extraction, graph build, PageRank committed through StateStore,
  * connected components, label propagation and triangles. */
final class CrawlPages(spark: SparkSession, tracer: Tracer, seed: Long, work: Path) extends Workload {
  val Sites = 160
  val PagesPerSite = 40
  val CrossLinks = 2

  private var specs: IndexedSeq[Gen.PageSpec] = _
  private var pagesPath: Path = _
  private var setups = 0

  private def id(url: String): Long = XXH64.hashUTF8String(UTF8String.fromString(url), 42L)

  def setup(): Unit = {
    import spark.implicits._
    setups += 1
    specs = Gen.crawl(seed, Sites, PagesPerSite, CrossLinks)
    val ts = new Timestamp(1700000000000L)
    val path = work.resolve(s"pages-$setups.parquet")
    spark.createDataset(specs.map(p => Page(p.url, ts, p.html.getBytes(UTF_8), p.text, p.lang)))
      .write.parquet(path.toString)
    if (pagesPath != null) deleteTree(pagesPath)
    pagesPath = path
    reference = None
  }

  /** (ids, edges, PageRank, components, label propagation, triangles) */
  private var reference: Option[(Seq[Long], Set[(Long, Long)], (Map[Long, Double], Int),
    Map[Long, Long], Map[Long, Long], Long)] = None

  private def ref = reference.getOrElse {
    val ids = specs.map(p => id(p.url))
    val edges = specs.flatMap(p => p.links.map(l => (id(p.url), id(l)))).filter { case (a, b) => a != b }.toSet
    val adj = Reference.undirected(ids, edges)
    val r = (ids, edges, Reference.pageRank(ids, edges), Reference.components(adj),
      Reference.labelPropagation(adj)._1, Reference.triangles(adj))
    reference = Some(r)
    r
  }

  def nominalPassSeconds: Double = 25

  def runPass(pass: Int, warm: Boolean): Outcome = {
    import spark.implicits._
    val cap = if (warm) 1 else Int.MaxValue
    val pages = spark.read.parquet(pagesPath.toString).as[Page]
    val texts = tracer.span("pages.extract") {
      pages.map(p => (p.url, Extract.extractText(p.html))).collect()
    }
    val (verts, edges) = tracer.span("graph.build") {
      val (v, e) = GraphBuilder.buildVerified(spark, pages)
      (v.select("id").localCheckpoint(true), e.toDF().localCheckpoint(true))
    }
    val storeDir = work.resolve(s"state-$pass")
    val store = new StateStore(storeDir.toString)
    val pr = tracer.span("algo.pagerank") {
      val r = new PageRank(maxIter = math.min(cap, 100)).run(spark, edges, verts, Some(store))
      (idRank(r.state), r.iterations, r.metrics)
    }
    val cc = tracer.span("algo.cc") {
      val r = new ConnectedComponents(maxIter = math.min(cap, 50)).run(spark, edges, verts)
      (idLabel(r.state), r.iterations, r.metrics)
    }
    val lp = tracer.span("algo.lp") {
      val r = new LabelPropagation(maxIter = math.min(cap, 10)).run(spark, edges, verts)
      (idLabel(r.state), r.iterations, r.metrics)
    }
    val tri = tracer.span("algo.triangles") {
      TriangleCount.countTriangles(spark, edges).head().getLong(0)
    }
    if (warm) return Outcome(0, () => Nil, () => Map.empty, () => deleteTree(storeDir))
    lazy val edgeSet = edges.select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    Outcome(1,
      check = () => {
        val (ids, refEdges, (refPr, _), refCc, refLp, refTri) = ref
        mismatches("extracted text", texts.toMap, specs.map(p => p.url -> p.text).toMap)(_ == _) ++
          expect("extracted edges", edgeSet, refEdges) ++
          mismatches("pagerank", pr._1, refPr)((a, b) => math.abs(a - b) <= 1e-6) ++
          mismatches("cc", cc._1, refCc)(_ == _) ++
          mismatches("labelprop", lp._1, refLp)(_ == _) ++
          expect("triangles", tri, refTri) ++
          expect("vertices", verts.count(), ids.size.toLong)
      },
      numbers = () => {
        val commits = store.latestCompleted("pagerank")
        val bytes = (1 to commits).map { it =>
          """"byteSize":(\d+)""".r.findFirstMatchIn(store.manifestJson("pagerank", it)).get.group(1).toLong
        }.sum
        Map(
          "graph.edges" -> edgeSet.size.toDouble,
          "algo.pagerank_supersteps" -> pr._2.toDouble,
          "algo.pagerank_superstep_ms_p50" -> median(pr._3.map(_.wallMs.toDouble)),
          "state.commits" -> commits.toDouble,
          "state.bytes_written" -> bytes.toDouble,
          "algo.cc_supersteps" -> cc._2.toDouble,
          "algo.cc_changed_ratio" -> changedRatio(cc._3),
          "algo.lp_supersteps" -> lp._2.toDouble,
          "algo.lp_changed_ratio" -> changedRatio(lp._3),
          "edges_per_s" -> edgesPerSecond(edgeSet.size, pr._3))
      },
      cleanup = () => deleteTree(storeDir))
  }
}

/** Many short rings joined in pairs: a long diameter, so most supersteps
  * change few vertices and the fixed cost of a superstep dominates. No
  * extraction, no StateStore; checkpoints stay in memory. */
final class RingGraph(spark: SparkSession, tracer: Tracer, seed: Long) extends Workload {
  val Rings = 512
  val RingLen = 16
  val MaxDepth = 100
  /** The packed PageRank loop converges in well under a second here, so
    * it runs to a tighter tolerance than crawl_pages' and eight times per
    * pass on the same blocks; edges_per_s pools the supersteps of all
    * eight. */
  val PageRankTol = 1e-10
  val PageRankRuns = 8

  private var g: Gen.RingGraph = _
  private var edges: DataFrame = _
  private var verts: DataFrame = _
  private var sources: DataFrame = _
  private var reference: Option[(Map[Long, Long], Map[Long, Long], Map[Long, Long], Map[Long, Double])] = None

  def setup(): Unit = {
    import spark.implicits._
    g = Gen.rings(seed, Rings, RingLen)
    edges = g.edges.toSeq.toDF("src", "dst").localCheckpoint(true)
    verts = g.ids.toSeq.toDF("id").localCheckpoint(true)
    sources = g.sources.toSeq.toDF("id").localCheckpoint(true)
    reference = None
  }

  private def ref = reference.getOrElse {
    val adj = Reference.undirected(g.ids, g.edges)
    val r = (Reference.components(adj), Reference.labelPropagation(adj)._1,
      Reference.bfs(adj, g.sources, MaxDepth), Reference.pageRank(g.ids, g.edges, tol = PageRankTol)._1)
    reference = Some(r)
    r
  }

  def nominalPassSeconds: Double = 20

  def runPass(pass: Int, warm: Boolean): Outcome = {
    val cap = if (warm) 1 else Int.MaxValue
    val cc = tracer.span("algo.cc") {
      val r = new ConnectedComponents(maxIter = math.min(cap, 50)).run(spark, edges, verts)
      (idLabel(r.state), r.iterations, r.metrics)
    }
    val lp = tracer.span("algo.lp") {
      val r = new LabelPropagation(maxIter = math.min(cap, 10)).run(spark, edges, verts)
      (idLabel(r.state), r.iterations, r.metrics)
    }
    val bfs = tracer.span("algo.bfs") {
      Bfs.depths(spark, edges, sources, math.min(cap, MaxDepth)).select("id", "depth").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val blocks = tracer.span("algo.csr_build")(CsrPageRank.build(spark, edges, verts))
    // the loop ends on an action, so its state is materialized here
    val csrRuns = (1 to (if (warm) 1 else PageRankRuns)).map { _ =>
      tracer.span("algo.csr_pagerank")(
        CsrPageRank.runPacked(spark, blocks, tol = PageRankTol, maxIter = math.min(cap, 100)))
    }
    val (state, csrIt, csrM) = csrRuns.last
    val ranks = tracer.span("algo.csr_readback") {
      idRank(CsrPageRank.toRows(spark, state, blocks.vertsOrFail))
    }
    if (warm) return Outcome(0, () => Nil, () => Map.empty)
    Outcome(1,
      check = () => {
        val (refCc, refLp, refBfs, refPr) = ref
        mismatches("cc", cc._1, refCc)(_ == _) ++
          mismatches("labelprop", lp._1, refLp)(_ == _) ++
          mismatches("bfs", bfs, refBfs)(_ == _) ++
          mismatches("csr pagerank", ranks, refPr)((a, b) => math.abs(a - b) <= 1e-6)
      },
      numbers = () => {
        val deepest = bfs.values.max
        Map(
          "graph.edges" -> g.edges.length.toDouble,
          "algo.cc_supersteps" -> cc._2.toDouble,
          "algo.cc_changed_ratio" -> changedRatio(cc._3),
          "algo.lp_supersteps" -> lp._2.toDouble,
          "algo.lp_changed_ratio" -> changedRatio(lp._3),
          // the last level finds nothing new, unless the depth cap stopped it
          "algo.bfs_supersteps" -> (if (deepest < MaxDepth) deepest + 1 else deepest).toDouble,
          "algo.csr_supersteps" -> csrIt.toDouble,
          "algo.csr_superstep_ms_p50" -> median(csrM.map(_.wallMs.toDouble)),
          "edges_per_s" -> edgesPerSecond(g.edges.length, csrRuns.flatMap(_._3)))
      })
  }
}

/** Continuous matching on a labeled co-purchase graph: a seeded stream of
  * edge adds and deletes in fixed-size batches, each applied to a
  * MultiQueryDriver (materialized state, queries p012 and p123) and to a
  * StreamGraph (components and triangles). One client in a closed loop: a
  * batch is submitted when the previous one returns. A pass is
  * `BatchesPerPass` batches, so the compaction every 8th batch falls inside
  * every pass. */
final class UpdateStream(spark: SparkSession, tracer: Tracer, seed: Long) extends Workload {
  val Parts = 2000
  val Orders = 1000
  val BatchSize = 100
  val DeleteShare = 0.3
  val BatchesPerPass = 9
  /** Latency beyond which a batch counts as failed. */
  val BatchTimeoutS = 30.0

  private val queries = Map(
    "p012" -> QueryGraph.path(Seq(Some(0), Some(1), Some(2)), Seq(Some(1), Some(2))),
    "p123" -> QueryGraph.path(Seq(Some(1), Some(2), Some(3)), Seq(Some(0), Some(1))))

  private var stream: Gen.EdgeStream = _
  private var mq: MultiQueryDriver = _
  private var sg: StreamGraph = _
  private var batches: Seq[Seq[GraphUpdate]] = Nil

  override def releasePerPass: Boolean = false
  // the five set-ups already run the drivers' initial plans, and a
  // warm-up pass would cost nine more batches
  override def warmUp: Boolean = false

  def setup(): Unit = {
    import spark.implicits._
    val initial = Gen.copurchase(seed, Parts, Orders)
    stream = new Gen.EdgeStream(seed, Parts, initial, DeleteShare)
    val v = (0 until Parts).map(i => (i.toLong, Gen.vlabel(i))).toDF("id", "vlabel")
    val e = initial.toSeq.sorted.map { case (a, b) => (a, b, Gen.elabel(a, b)) }.toDF("src", "dst", "elabel")
    mq = tracer.span("matching.setup")(new MultiQueryDriver(spark, queries, v, e, materializeState = true))
    sg = tracer.span("stream.setup")(
      new StreamGraph(spark, v.select("id"), e.select("src", "dst"), maintainTriangles = true))
  }

  def nominalPassSeconds: Double = 60

  override def prepare(): Unit =
    batches = Seq.fill(BatchesPerPass)(stream.nextBatch(BatchSize))

  def runPass(pass: Int, warm: Boolean): Outcome = {
    val (run0, skip0) = (mq.searchesRun, mq.searchesSkipped)
    val (safe0, unsafe0) = (sg.totalSafe, sg.totalUnsafe)
    val (scoped0, full0) = (sg.ccScopedRecomputes, sg.ccFullRecomputes)
    batches.foreach { ops =>
      tracer.span("batch") {
        tracer.span("matching.apply")(mq.applyBatchLocal(ops))
        tracer.span("stream.apply")(sg.applyLocal(ops.map(_.copy(label = 0))))
      }
    }
    val ops = batches.map(_.size).sum
    val counts = mq.counts.toMap
    val tri = sg.triangleCount
    val ccState = sg.ccState
    val numbers = Map(
      "matching.safe_fraction" ->
        (mq.searchesSkipped - skip0).toDouble /
          math.max(1L, mq.searchesSkipped - skip0 + mq.searchesRun - run0),
      "stream.safe_ops" -> (sg.totalSafe - safe0).toDouble,
      "stream.unsafe_ops" -> (sg.totalUnsafe - unsafe0).toDouble,
      "stream.safe_op_fraction" ->
        (sg.totalSafe - safe0).toDouble / math.max(1L, sg.totalSafe - safe0 + sg.totalUnsafe - unsafe0),
      "stream.cc_scoped_recomputes" -> (sg.ccScopedRecomputes - scoped0).toDouble,
      "stream.cc_full_recomputes" -> (sg.ccFullRecomputes - full0).toDouble,
      "stream.ops" -> ops.toDouble)
    val truth = stream.edges
    Outcome(batches.size,
      check = () => {
        val slow = tracer.ofPass(pass).filter(s => s.name == "batch" && s.seconds > BatchTimeoutS)
        val adj = Reference.undirected((0 until Parts).map(_.toLong), truth)
        slow.map(s => f"a batch took ${s.seconds}%.1f s, over the $BatchTimeoutS%.0f s limit") ++
        expect("p012", counts("p012"),
          Reference.pathCount(truth, Gen.vlabel, Gen.elabel, 0, 1, 2, 1, 2)) ++
          expect("p123", counts("p123"),
            Reference.pathCount(truth, Gen.vlabel, Gen.elabel, 1, 2, 3, 0, 1)) ++
          expect("triangles", tri, Reference.triangles(adj)) ++
          expect("components", ccState.agg(countDistinct(col("label"))).head().getLong(0),
            Reference.components(adj).values.toSet.size.toLong)
      },
      numbers = () => {
        val secs = tracer.ofPass(pass).filter(_.name == "batch").map(_.seconds).sum
        numbers + ("edges_per_s" -> ops / secs)
      })
  }
}
