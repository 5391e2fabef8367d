package perfbench

import scala.collection.mutable
import scala.util.Random

/** Seeded input generators. The engine only ever sees the tables built from
  * these; the reference checks use the generators' own ground truth. */
object Gen {

  /** Samples ranks 0..n-1 with P(r) ∝ 1/(r+1)^a. */
  final class Zipf(n: Int, a: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, a))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def sample(rng: Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  // ------------------------------------------------------------ crawl_pages

  /** One page as generated: `text` is what text extraction must return
    * byte for byte, `links` the absolute urls its live anchors point to. */
  final case class PageSpec(url: String, html: String, text: String, lang: String, links: Seq[String])

  private val Words = Seq("graph", "page", "rank", "crawl", "link", "table", "spark", "stream",
    "vertex", "edge", "match", "query", "delta", "batch", "label", "state", "hub", "site",
    "ring", "commit", "join", "shuffle", "plan", "index")

  private def words(rng: Random, n: Int): String = Seq.fill(n)(Words(rng.nextInt(Words.size))).mkString(" ")

  /** Sites whose pages link in a ring (page i → page i+1), plus power-law
    * cross-site links, so a few hub pages hold most in-links. Anchors use
    * every href form the extractor resolves (absolute, protocol-relative,
    * root-relative, relative, with fragments), and the html carries anchors
    * the extractor must drop (comments, javascript:, mailto:, bare
    * fragments). About 2% of pages have their only anchors commented out,
    * so they are dangling.
    *
    * The link structure comes from a fixed generator, so superstep counts
    * do not move with the seed; the seed draws every url (site names), the
    * href forms, the anchor order and the text, hence all vertex ids,
    * partitioning and the id order that component labels follow. */
  def crawl(seed: Long, sites: Int, pagesPerSite: Int, crossLinks: Int): IndexedSeq[PageSpec] = {
    val shape = new Random(0xC0FFEEL)
    val rng = new Random(seed)
    val n = sites * pagesPerSite
    val siteName = rng.shuffle((0 until sites).toVector)
    def path(i: Int) = s"/d${i % 4}/p$i"
    def url(s: Int, i: Int) = s"http://site${siteName(s)}.example${path(i)}"
    // hub order: a permutation of all pages, sampled by Zipf rank
    val hubs = shape.shuffle((0 until n).toVector)
    val zipf = new Zipf(n, 1.1)
    for (s <- 0 until sites; i <- 0 until pagesPerSite) yield {
      val me = url(s, i)
      val j = (i + 1) % pagesPerSite
      val ringHref = rng.nextInt(5) match {
        case 0 => url(s, j)
        case 1 => s"//site${siteName(s)}.example${path(j)}"
        case 2 if i % 4 == j % 4 => s"p$j"
        case 3 => path(j) + "#top"
        case _ => path(j)
      }
      val dangling = shape.nextInt(50) == 0
      val pieces = mutable.ArrayBuffer.empty[(String, Option[String])] // (html, text)
      val links = mutable.ArrayBuffer.empty[String]
      pieces += ((s"<p>${words(rng, 4 + rng.nextInt(8))}</p>", None))
      if (dangling) pieces += ((s"""<!-- <a href="$ringHref">next</a> -->""", None))
      else {
        pieces += ((s"""<a href="$ringHref">next</a>""", Some("next")))
        links += url(s, j)
        (0 until shape.nextInt(2 * crossLinks + 1)).foreach { _ =>
          val t = hubs(zipf.sample(shape))
          val tu = url(t / pagesPerSite, t % pagesPerSite)
          val label = words(rng, 1 + rng.nextInt(3))
          pieces += ((s"""<a class="x" href="$tu">$label</a>""", Some(label)))
          links += tu
        }
        if (rng.nextInt(3) == 0) pieces += ((s"""<a href="javascript:void(0)">js</a>""", Some("js")))
        if (rng.nextInt(3) == 0) pieces += ((s"""<a href="mailto:ops@site$s.example">mail</a>""", Some("mail")))
        if (rng.nextInt(3) == 0) pieces += ((s"""<a href="#top">top</a>""", Some("top")))
        if (rng.nextInt(4) == 0) pieces += ((s"""<!-- <a href="${path(0)}">old</a> -->""", None))
      }
      pieces += ((s"<div><span>${words(rng, 3 + rng.nextInt(6))}</span></div>", None))
      val shuffled = pieces.head +: rng.shuffle(pieces.tail.toVector)
      val title = s"site ${siteName(s)} page $i"
      val body = shuffled.map(_._1).mkString("\n  ")
      val html = s"<html><head><title>$title</title></head>\n<body class=\"b\">\n  $body\n</body></html>"
      // text = title, then every tag-free body segment in document order
      val segs = shuffled.flatMap {
        case (_, Some(t)) => Seq(t)
        case (h, None) if h.startsWith("<!--") => Seq.empty
        case (h, None) => Seq(h.replaceAll("<[^>]*>", ""))
      }
      val lang = Seq("en", "de", "fr")(s % 3)
      PageSpec(me, html, (title +: segs).mkString("\n"), lang, links.toSeq)
    }
  }

  // ------------------------------------------------------------- ring_graph

  final case class RingGraph(ids: Array[Long], edges: Array[(Long, Long)], sources: Array[Long])

  /** `rings` rings of `ringLen` vertices, joined in pairs by one bridge
    * between their first vertices; one BFS source per pair. Every third
    * ring edge points backwards, so PageRank has sources and sinks. Ids
    * within a ring follow one fixed scrambled order, so component minima
    * sit mid-ring and label propagation needs many supersteps. The seed
    * draws each ring's id range and nothing else: every seed gives the same
    * structure, so superstep counts do not depend on the seed while ids,
    * partitioning and which ring of a pair holds the minimum do. */
  def rings(seed: Long, rings: Int, ringLen: Int): RingGraph = {
    val rng = new Random(seed)
    val order = rng.shuffle((0 until rings).toVector)
    val scramble = new Random(16L).shuffle((0 until ringLen).toVector)
    def v(r: Int, p: Int) = (order(r).toLong * ringLen + scramble(p)) * 3 + 1
    val edges = mutable.ArrayBuffer.empty[(Long, Long)]
    for (r <- 0 until rings; p <- 0 until ringLen) {
      val (a, b) = (v(r, p), v(r, (p + 1) % ringLen))
      edges += (if (p % 3 == 0) (b, a) else (a, b))
    }
    for (r <- 0 until rings - 1 by 2) edges += ((v(r, 0), v(r + 1, 0)))
    val ids = (for (r <- 0 until rings; p <- 0 until ringLen) yield v(r, p)).toArray
    RingGraph(ids, edges.toArray, (0 until rings by 2).map(v(_, ringLen / 2)).toArray)
  }

  // ---------------------------------------------------------- update_stream

  def vlabel(id: Long): Int = (id % 4).toInt
  def elabel(a: Long, b: Long): Int = ((a + b) % 3).toInt

  /** A TPC-H-shaped co-purchase graph: `orders` orders of 1-7 line items
    * over `parts` uniformly drawn parts; every two parts of one order are an
    * edge (src < dst). */
  def copurchase(seed: Long, parts: Int, orders: Int): Set[(Long, Long)] = {
    val rng = new Random(seed)
    val e = mutable.Set.empty[(Long, Long)]
    (0 until orders).foreach { _ =>
      val items = Seq.fill(1 + rng.nextInt(7))(rng.nextInt(parts).toLong).distinct.sorted
      for (i <- items.indices; j <- i + 1 until items.size) e += ((items(i), items(j)))
    }
    e.toSet
  }

  /** A seeded stream of edge adds and deletes over a live edge set (about
    * `deleteShare` deletes). Within one batch an edge is touched at most
    * once, every delete removes a present edge and every add a new one, so
    * each batch means the same thing however the engine orders it. `edges`
    * is the ground truth after the batches generated so far. */
  final class EdgeStream(seed: Long, parts: Int, initial: Set[(Long, Long)], deleteShare: Double) {
    private val rng = new Random(seed ^ 0x5DEECE66DL)
    private val live = mutable.ArrayBuffer.from(initial.toSeq.sorted)
    private val pos = mutable.HashMap.from(live.zipWithIndex)
    private var seq = 0L

    def edges: Set[(Long, Long)] = live.toSet

    private def remove(e: (Long, Long)): Unit = {
      val i = pos.remove(e).get
      val last = live.remove(live.size - 1)
      if (last != e) { live(i) = last; pos(last) = i }
    }

    def nextBatch(size: Int): Seq[graft.graph.GraphUpdate] = {
      val touched = mutable.Set.empty[(Long, Long)]
      val ops = mutable.ArrayBuffer.empty[(String, (Long, Long))]
      while (ops.size < size) {
        if (rng.nextDouble() < deleteShare && live.nonEmpty) {
          val e = live(rng.nextInt(live.size))
          if (!touched(e)) { touched += e; ops += (("-e", e)) }
        } else {
          val a = rng.nextInt(parts).toLong
          val b = rng.nextInt(parts).toLong
          val e = (math.min(a, b), math.max(a, b))
          if (a != b && !touched(e) && !pos.contains(e)) { touched += e; ops += (("e", e)) }
        }
      }
      ops.map { case (op, e @ (a, b)) =>
        if (op == "e") { pos(e) = live.size; live += e } else remove(e)
        seq += 1
        graft.graph.GraphUpdate(seq, op, a, b, if (op == "e") elabel(a, b) else 0)
      }.toSeq
    }
  }
}
