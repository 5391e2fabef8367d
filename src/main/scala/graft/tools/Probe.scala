package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Builder-side profiling aid: phase timings for the heavy bench queries
  * (not part of the driver contract; kept for future rounds' perf work). */
object Probe {
  def t[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[probe] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2fs")
    r
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val what = args.headOption.getOrElse("tri_delta")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    what match {
      case "tri_delta" =>
        val all = t("copurchase+checkpoint") {
          graft.queries.GraftQueries.copurchaseEdges(spark, sfDir).localCheckpoint(true)
        }
        val adds = all.where((col("src") + col("dst")) % 10 === 0)
        val base = t("base anti-join+checkpoint") {
          all.join(adds, Seq("src", "dst"), "left_anti").localCheckpoint(true)
        }
        val dels = all.where((col("src") + col("dst")) % 10 === 5)
        val bulk = t("bulkCounts(all)") {
          graft.matching.DeltaTriangles.bulkCounts(spark, base.union(adds), adds, dels)
        }
        println(s"[probe] bulk total/pos/neg=$bulk")
        val counts = t("nDelta+nBase counts") { (adds.count(), dels.count(), base.count()) }
        println(s"[probe] counts=$counts")

      case "match_idx" =>
        import graft.matching.{CandidateIndex, GraphMatcher, QueryGraph}
        val (e, v) = (graft.queries.GraftQueries.copurchaseEdges(spark, sfDir)
          .withColumn("elabel", ((col("src") + col("dst")) % 3).cast("int")),
          graft.queries.GraftQueries.table(spark, sfDir, "part")
            .select(col("p_partkey").as("id"), (col("p_partkey") % 4).cast("int").as("vlabel")))
        val q = QueryGraph.path(
          vlabels = Seq(Some(0), Some(1), Some(2)),
          elabels = Seq(Some(1), Some(2)))
        val rel = t("materializedRelation") {
          GraphMatcher.materializedRelation(e, v)
        }
        val idx = t("buildOnRel") {
          CandidateIndex.buildOnRel(spark, q, rel, v, rounds = 2)
        }
        t("index sizes job") { println(s"[probe] sizes=${idx.sizes}") }
        val stats = t("edgeStatistics") { GraphMatcher.edgeStatistics(q, rel) }
        println(s"[probe] stats=$stats")
        t("plan+count") {
          val n = GraphMatcher.findMatches(spark, q, e, v,
            candidates = Some(idx.candidates), preRel = Some(rel))
            .groupBy(col("u1")).agg(count(lit(1)).as("n")).count()
          println(s"[probe] groups=$n")
        }

      case "minhash" =>
        t("q_dedup_minhash") {
          graft.queries.GraftQueries.queries("q_dedup_minhash")(spark, sfDir).count()
        }
        t("q_dedup_minhash 2nd") {
          graft.queries.GraftQueries.queries("q_dedup_minhash")(spark, sfDir).count()
        }

      case "ab_minhash" =>
        import graft.ops.{Dedup, Hashing}
        val docs = graft.queries.GraftQueries.table(spark, sfDir, "documents")
        val sh = Dedup.shingles(docs, 3).localCheckpoint(true)
        println(s"[probe] sh rows=${sh.count()}")
        def oldSigs(): Unit = {
          val aggs = (0 until 32).map(i =>
            min(Hashing.mdHash64Seeded(col("shingle"), i)).as(s"mh$i"))
          val n = sh.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*).count()
          assert(n > 0)
        }
        def newSigs(): Unit = {
          val n = Dedup.signaturesFromShingles(sh, 32,
            (c, i) => Hashing.mdHash64Seeded(c, i)).count()
          assert(n > 0)
        }
        (1 to 3).foreach { r =>
          t(s"old inline sigs r$r") { oldSigs() }
          t(s"new distinct sigs r$r") { newSigs() }
        }

      case "ab_shingles" =>
        import graft.ops.Dedup
        val docs = graft.queries.GraftQueries.table(spark, sfDir, "documents")
          .localCheckpoint(true)
        println(s"[probe] docs=${docs.count()}")
        def oldSh(): Unit = {
          val n = 3
          val shc = explode(expr(
            s"""transform(sequence(0, greatest(size(split(regexp_replace(trim(text),
               |'\\\\s+', ' '), ' ')) - $n, -1)),
               | i -> concat_ws(' ', slice(split(regexp_replace(trim(text),
               |'\\\\s+', ' '), ' '), i + 1, $n)))""".stripMargin.replaceAll("\n", " "))).as("shingle")
          val cnt = docs.select(col("doc_id"), shc)
            .where(col("shingle") =!= "").distinct().count()
          assert(cnt > 0)
        }
        def newSh(): Unit = { assert(Dedup.shingles(docs, 3).count() > 0) }
        (1 to 3).foreach { r =>
          t(s"old shingles r$r") { oldSh() }
          t(s"new shingles r$r") { newSh() }
        }

      case "bulk_phases" =>
        val all = graft.queries.GraftQueries.copurchaseEdges(spark, sfDir).localCheckpoint(true)
        val adds = all.where((col("src") + col("dst")) % 10 === 0)
        val base = all.join(adds, Seq("src", "dst"), "left_anti")
        val dels = all.where((col("src") + col("dst")) % 10 === 5)
        val edges = base.union(adds)
        def canon(df: org.apache.spark.sql.DataFrame) = df.select(
          least(col("src"), col("dst")).as("lo"), greatest(col("src"), col("dst")).as("hi"))
          .where(col("lo") =!= col("hi")).distinct()
        val e = t("canon+flags checkpoint") {
          canon(edges)
            .join(canon(adds).withColumn("isA", lit(true)), Seq("lo", "hi"), "left_outer")
            .join(canon(dels).withColumn("isD", lit(true)), Seq("lo", "hi"), "left_outer")
            .select(col("lo"), col("hi"),
              coalesce(col("isA"), lit(false)).as("isA"),
              coalesce(col("isD"), lit(false)).as("isD"))
            .localCheckpoint(true)
        }
        val o = t("orient checkpoint") {
          val und = e.select(col("lo").as("src"), col("hi").as("dst"), col("isA"), col("isD"))
            .union(e.select(col("hi").as("src"), col("lo").as("dst"), col("isA"), col("isD")))
          val deg = und.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
          und
            .join(deg.withColumnRenamed("id", "src").withColumnRenamed("deg", "sdeg"), "src")
            .join(deg.withColumnRenamed("id", "dst").withColumnRenamed("deg", "ddeg"), "dst")
            .where(col("sdeg") < col("ddeg") ||
              (col("sdeg") === col("ddeg") && col("src") < col("dst")))
            .select(col("src"), col("dst"), col("isA"), col("isD"))
            .localCheckpoint(true)
        }
        val adj = t("adjacency checkpoint") {
          o.groupBy(col("src").as("id"))
            .agg(collect_list(col("dst")).as("nb")).localCheckpoint(true)
        }
        val tri = t("intersect+explode checkpoint") {
          o.join(adj.select(col("id").as("src"), col("nb").as("snb")), Seq("src"))
            .join(adj.select(col("id").as("dst"), col("nb").as("dnb")), Seq("dst"), "left_outer")
            .select(col("src").as("a"), col("dst").as("b"), col("isA"), col("isD"),
              explode(array_intersect(col("snb"), coalesce(col("dnb"), array()))).as("c"))
            .localCheckpoint(true)
        }
        t("flag joins + agg") {
          val fo = o.where(col("isA") || col("isD"))
            .select(col("src"), col("dst"), col("isA").as("fA"), col("isD").as("fD"))
          val withFlags = tri
            .join(fo.select(col("src").as("a"), col("dst").as("c"),
              col("fA").as("acA"), col("fD").as("acD")), Seq("a", "c"), "left_outer")
            .join(fo.select(col("src").as("b"), col("dst").as("c"),
              col("fA").as("bcA"), col("fD").as("bcD")), Seq("b", "c"), "left_outer")
          println("[probe] row=" + withFlags.agg(
            count(lit(1)),
            coalesce(sum(when(col("isA") || coalesce(col("acA"), lit(false)) ||
              coalesce(col("bcA"), lit(false)), 1L).otherwise(0L)), lit(0L)),
            coalesce(sum(when(col("isD") || coalesce(col("acD"), lit(false)) ||
              coalesce(col("bcD"), lit(false)), 1L).otherwise(0L)), lit(0L))).head())
        }

      case "minhash_phases" =>
        import graft.ops.{Dedup, Hashing}
        val docs = graft.queries.GraftQueries.table(spark, sfDir, "documents")
        val sh = t("shingles+checkpoint") {
          Dedup.shingles(docs, 3).localCheckpoint(true)
        }
        println(s"[probe] sh rows=${sh.count()}")
        val sigs = t("signatures (32 md5 mins)") {
          Dedup.signaturesFromShingles(sh, 32,
            (c, i) => Hashing.mdHash64Seeded(c, i)).localCheckpoint(true)
        }
        val cands = t("lsh buckets+cands") {
          Dedup.lshCandidates(sigs, 8, 4,
            cols => Hashing.mdHash64(concat_ws("|", cols: _*))).localCheckpoint(true)
        }
        println(s"[probe] cands=${cands.count()}")
        t("exact verify") {
          val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
          val interCnt = cands
            .join(sh.withColumnRenamed("doc_id", "a").withColumnRenamed("shingle", "sa"), "a")
            .join(sh.withColumnRenamed("doc_id", "b").withColumnRenamed("shingle", "sb"), "b")
            .where(col("sa") === col("sb"))
            .groupBy(col("a"), col("b")).agg(count(lit(1)).as("inter"))
          println("[probe] verified=" + interCnt
            .join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("sz", "sza"), "a")
            .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("sz", "szb"), "b")
            .count())
        }

      case "labelprop_phases" =>
        val e = t("copurchase") {
          graft.queries.GraftQueries.copurchaseEdges(spark, sfDir).localCheckpoint(true)
        }
        val verts = e.select(col("src").as("id"))
          .union(e.select(col("dst").as("id"))).distinct()
        val res = t("run 5 iters") {
          new graft.algo.LabelPropagation(maxIter = 5).run(spark, e, verts)
        }
        res.metrics.foreach(m => println(s"[probe] superstep ${m.iteration}: ${m.wallMs}ms"))
        t("orderBy count") { println("[probe] rows=" + res.state.orderBy("id").count()) }

      case "cc_phases" =>
        val e = t("procurement") {
          graft.queries.GraftQueries.procurementEdges(spark, sfDir).localCheckpoint(true)
        }
        val verts = e.select(col("src").as("id"))
          .union(e.select(col("dst").as("id"))).distinct()
        val res = t("run cc") {
          new graft.algo.ConnectedComponents(maxIter = 60).run(spark, e, verts)
        }
        res.metrics.foreach(m => println(s"[probe] superstep ${m.iteration}: ${m.wallMs}ms"))

      case "ab_copurchase" =>
        val l = graft.queries.GraftQueries.table(spark, sfDir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey")).localCheckpoint(true)
        println(s"[probe] lineitem=${l.count()}")
        def selfJoin(): Long =
          l.as("a").join(l.as("b"),
              col("a.l_orderkey") === col("b.l_orderkey") &&
                col("a.l_partkey") < col("b.l_partkey"))
            .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
            .distinct().count()
        def pairs(): Long =
          l.groupBy(col("l_orderkey"))
            .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
            .select(explode(expr(
              "flatten(transform(ps, (x, i) -> transform(slice(ps, i + 2, size(ps)), y -> struct(x as src, y as dst))))")).as("p"))
            .select(col("p.src"), col("p.dst")).distinct().count()
        (1 to 3).foreach { r =>
          t(s"self-join r$r") { println("[probe] n=" + selfJoin()) }
          t(s"groupBy-pairs r$r") { println("[probe] n=" + pairs()) }
        }

      case "copurchase" =>
        t("copurchase self-join count") {
          println("[probe] n=" + graft.queries.GraftQueries.copurchaseEdges(spark, sfDir).count())
        }
        t("copurchase groupBy-pairs count") {
          val l = graft.queries.GraftQueries.table(spark, sfDir, "lineitem")
            .select(col("l_orderkey"), col("l_partkey"))
          val pairs = l.groupBy(col("l_orderkey"))
            .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
            .select(explode(expr(
              "flatten(transform(ps, (x, i) -> transform(slice(ps, i + 2, size(ps)), y -> struct(x as src, y as dst))))")).as("p"))
            .select(col("p.src"), col("p.dst")).distinct()
          println("[probe] n=" + pairs.count())
        }
        t("copurchase self-join count 2nd") {
          println("[probe] n=" + graft.queries.GraftQueries.copurchaseEdges(spark, sfDir).count())
        }

      case "tailtri_phases" =>
        import graft.matching.{GraphMatcher, QueryGraph, QVertex, QEdge}
        val e = graft.queries.GraftQueries.copurchaseEdges(spark, sfDir)
          .withColumn("elabel", ((col("src") + col("dst")) % 3).cast("int"))
        val v = graft.queries.GraftQueries.table(spark, sfDir, "part")
          .select(col("p_partkey").as("id"), (col("p_partkey") % 4).cast("int").as("vlabel"))
        val q = QueryGraph(
          Seq(QVertex("x", Some(1)), QVertex("y", Some(1)), QVertex("z", Some(1)),
            QVertex("w", Some(2))),
          Seq(QEdge("x", "y"), QEdge("y", "z"), QEdge("x", "z"), QEdge("x", "w")))
        t("countMatchesShell full") {
          println("[probe] matches=" + GraphMatcher.countMatchesShell(spark, q, e, v)
            .get.head().getLong(0))
        }

      case "csr_parity" =>
        // q_pagerank_csr (packed loop, adaptive P) vs q_pagerank (Dataset
        // join loop) at this SF: both share one DuckDB oracle; rounded-8
        // outputs must agree exactly
        val a = graft.queries.GraftQueries.queries("q_pagerank_csr")(spark, sfDir)
          .select(col("id"), col("pr").as("pa")).localCheckpoint(true)
        val b = graft.queries.GraftQueries.queries("q_pagerank")(spark, sfDir)
          .select(col("id"), col("pr").as("pb")).localCheckpoint(true)
        val joined = a.join(b, Seq("id"), "full_outer")
        val bad = joined.where(col("pa").isNull || col("pb").isNull ||
          col("pa") =!= col("pb")).count()
        println(s"[probe] rows=${a.count()}/${b.count()} mismatches=$bad")
        require(bad == 0, "csr/dataset pagerank parity violated")

      case "ab_pages" =>
        import graft.graph.GraphBuilder
        import graft.algo.{ConnectedComponents, TriangleCount}
        def current(): Unit = {
          graft.queries.GraftQueries.queries("q_pages_stats")(spark, sfDir).count(); ()
        }
        def sequential(): Unit = {
          import spark.implicits._
          val pages = spark.createDataset(graft.pages.PagesFixture.generate(20, 50))
          val (v, e) = GraphBuilder.buildVerified(spark, pages)
          val vDF = v.toDF().localCheckpoint(true)
          val eDF = e.toDF().localCheckpoint(true)
          val r = (vDF.count(), eDF.count(),
            new ConnectedComponents(maxIter = 60).run(spark, eDF, vDF)
              .state.select("label").distinct().count(),
            TriangleCount.countTriangles(spark, eDF).head().getLong(0),
            vDF.join(eDF.select(col("src").as("id")), Seq("id"), "left_anti").count())
          println(s"[probe] seq=$r")
        }
        (1 to 3).foreach { r =>
          t(s"pages current(concurrent) r$r") { current() }
          t(s"pages sequential r$r") { sequential() }
        }

      case "ab_csr" =>
        val e = graft.queries.GraftQueries.procurementEdges(spark, sfDir).localCheckpoint(true)
        val verts = e.select(col("src").as("id"))
          .union(e.select(col("dst").as("id"))).distinct().localCheckpoint(true)
        println(s"[probe] edges=${e.count()} verts=${verts.count()}")
        def full(ovr: Option[Int]): Long = {
          val blocks = graft.algo.CsrPageRank.build(spark, e, verts, ovr)
          val (state, _, _) = graft.algo.CsrPageRank.runPacked(spark, blocks, tol = 0.0, maxIter = 10)
          graft.algo.CsrPageRank.toRows(spark, state, blocks.vertsOrFail).count()
        }
        (1 to 3).foreach { r =>
          t(s"csr P=32 r$r") { println("[probe] n=" + full(Some(32))) }
          t(s"csr P=adaptive r$r") { println("[probe] n=" + full(None)) }
          t(s"csr P=4 r$r") { println("[probe] n=" + full(Some(4))) }
        }
    }
    spark.stop()
  }
}
