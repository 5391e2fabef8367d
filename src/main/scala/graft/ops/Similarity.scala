package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftSqlShims.checkpoint
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Two tiers, per the scale plan:
  *  - `bruteForceTopK`: exact cosine top-k — the baseline and the oracle.
  *    Dot products run as codegen'd `zip_with`+`aggregate` array expressions
  *    (no UDF, no posexplode shuffle): one broadcast of the (small) query
  *    set against a linear scan of the corpus.
  *  - `lshTopK`: random-hyperplane LSH (sign sketch) — corpus and queries
  *    hash to sign-pattern buckets; only same-bucket (or near-bucket via
  *    multiple tables) pairs pay the exact cosine. This is the 100 TB path:
  *    bucket join instead of cross join.
  *
  * Hyperplanes are generated driver-side from a fixed seed — deterministic
  * across runs and parallelism levels.
  */
object Similarity {

  /** Cosine similarity between two float-array columns as a double Column
    * (computed in double; arrays must be same length). */
  def cosine(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val na = sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v))
    val nb = sqrt(aggregate(transform(b, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v))
    dot / (na * nb)
  }

  /** Exact top-k cosine neighbors of each query vector (queries = rows of
    * `queries` DataFrame with (qid, embedding)). Excludes self-matches by
    * id. Scores rounded to 6 decimals BEFORE ranking so results are
    * deterministic across summation orders (and across engines — the DuckDB
    * oracle computes the same rounded value); ties break by neighbor id. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qvec"))
    val c = corpus.select(col(idCol).as("nid"), col(vecCol).as("nvec"))
    val scored = q.crossJoin(c)
      .where(col("qid") =!= col("nid"))
      .withColumn("cos", round(cosine(col("qvec"), col("nvec")), 6))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid").asc)
    scored.withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("qid"), col("nid"), col("cos"), col("rk"))
  }

  /** Deterministic random hyperplanes: `nPlanes` × `dim`, seeded. */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nPlanes, dim)(rnd.nextGaussian())
  }

  /** Sign-sketch bucket id for a vector column under the given hyperplanes:
    * bit i = sign(v · h_i). Pure column expression (planes inlined as array
    * literals — small, broadcast with the plan). */
  def signSketch(vec: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      val planeLit = array(p.map(lit): _*)
      val dot = aggregate(zip_with(vec, planeLit, (x, h) => x.cast("double") * h),
        lit(0.0), (acc, v) => acc + v)
      when(dot >= 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** LSH-bucketed approximate top-k: `nTables` independent sign sketches of
    * `nBits` planes each; candidates = same (table, bucket); exact cosine +
    * per-query top-k on candidates only. Recall grows with nTables; cost is
    * bucket-join-shaped, never all-pairs. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nBits: Int = 12, nTables: Int = 4, dim: Int = 64, seed: Long = 42L,
              idCol: String = "vec_id", vecCol: String = "embedding",
              maxBucketSize: Long = 100000L): DataFrame = {
    def buckets(df: DataFrame, id: String, vec: String): DataFrame = {
      val tableCols = (0 until nTables).map { t =>
        struct(lit(t).as("tbl"),
          signSketch(col(vec), hyperplanes(nBits, dim, seed + t)).as("bkt"))
      }
      df.select(col(id), col(vec), explode(array(tableCols: _*)).as("tb"))
        .select(col(id), col(vec), col("tb.tbl").as("tbl"), col("tb.bkt").as("bkt"))
    }
    val qb = buckets(queries.select(col(idCol).as("qid"), col(vecCol).as("qvec")), "qid", "qvec")
    // cap the CORPUS side: a degenerate bucket (e.g. all-zero vectors) would
    // otherwise fan every query colliding with it across the whole corpus.
    // The sketch computation (nTables x nBits dot products per vector) is
    // materialized once so the cap scan doesn't re-evaluate it.
    // corpus side spread over the cluster before the sketch pass (opt
    // round 6): a compact corpus arrives as one input split and the
    // nTables x nBits dot products per vector ran in a single task
    val parts = corpus.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val cb = Dedup.capBucketsLogged(
      checkpoint(buckets(corpus.select(col(idCol).as("nid"), col(vecCol).as("nvec"))
        .repartition(parts, col("nid")), "nid", "nvec")),
      Seq("tbl", "bkt"), maxBucketSize, "sign-lsh topk corpus")
    val cands = qb.join(cb, Seq("tbl", "bkt"))
      .where(col("qid") =!= col("nid"))
      .select(col("qid"), col("qvec"), col("nid"), col("nvec"))
      .dropDuplicates("qid", "nid")
    val scored = cands.withColumn("cos", round(cosine(col("qvec"), col("nvec")), 6))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid").asc)
    scored.withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("qid"), col("nid"), col("cos"), col("rk"))
  }

  /** Spherical k-means coarse quantizer, trained DRIVER-SIDE on a
    * deterministic sample (the `sampleSize` lowest ids — reproducible across
    * runs, parallelism levels, and engines). Lloyd iterations in double with
    * lowest-index tie-breaking; empty clusters keep their previous centroid.
    * The returned centroids are plain doubles meant to be inlined as LITERALS
    * into both the Spark plan and the DuckDB oracle SQL (the same contract as
    * `hyperplanes`): both engines then consume bit-identical values, so the
    * trained quantizer stays fully oracle-gated. Driver-side training is the
    * right scale call: the sample is tiny and fixed (training cost is O(S·K·d·T),
    * independent of corpus size); only assignment runs distributed. */
  def trainCentroids(corpus: DataFrame, nCentroids: Int, sampleSize: Int = 512,
                     iters: Int = 8, idCol: String = "vec_id",
                     vecCol: String = "embedding"): Array[Array[Double]] = {
    val sample = corpus.select(col(idCol), col(vecCol))
      .orderBy(col(idCol)).limit(sampleSize)
      .collect().map(_.getSeq[Float](1).toArray.map(_.toDouble))
    require(sample.nonEmpty, "trainCentroids: empty corpus")
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0.0) v else v.map(_ / n)
    }
    val pts = sample.map(unit)
    val k = math.min(nCentroids, pts.length)
    val dim = pts.head.length
    var cents = Array.tabulate(k)(i => pts((i.toLong * pts.length / k).toInt).clone())
    (0 until iters).foreach { _ =>
      val sums = Array.fill(k)(new Array[Double](dim))
      val cnt = new Array[Int](k)
      pts.foreach { p =>
        var best = 0
        var bestDot = Double.NegativeInfinity
        var c = 0
        while (c < k) {
          var d = 0.0; var i = 0
          while (i < dim) { d += p(i) * cents(c)(i); i += 1 }
          if (d > bestDot) { bestDot = d; best = c } // strict > : min-index tie-break
          c += 1
        }
        var i = 0
        while (i < dim) { sums(best)(i) += p(i); i += 1 }
        cnt(best) += 1
      }
      cents = Array.tabulate(k)(c => if (cnt(c) == 0) cents(c) else unit(sums(c)))
    }
    cents
  }

  /** IVF-flat approximate top-k — the inverted-file ANN scale path: a small
    * COARSE QUANTIZER partitions the corpus into buckets by nearest-centroid
    * assignment (one broadcast pass); each query probes its `nProbe` nearest
    * centroids and pays exact cosine only inside those buckets. Complements
    * sign-sketch LSH: IVF buckets adapt to the data distribution, LSH buckets
    * are data-independent.
    *
    * `centroids = Some(...)` (from `trainCentroids`) inlines trained centroid
    * vectors as literals (cid = array index); `None` falls back to the
    * deterministic placeholder quantizer (the nCentroids lowest-id corpus
    * vectors). Assignment is a WINDOW-FREE algebraic argmax:
    * `max(struct(ccos, -cid))` per vector for n = 1 (map-side combined, no
    * sort), and a bounded `slice(sort_array(collect_list(...)))` top-n for
    * probes (buffer ≤ K centroids per group — never a shuffle-wide sort; the
    * round-3 window form shuffled and sorted K × |corpus| rows). */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nCentroids: Int = 16, nProbe: Int = 4,
              idCol: String = "vec_id", vecCol: String = "embedding",
              centroids: Option[Array[Array[Double]]] = None): DataFrame = {
    val cent = centroids match {
      case Some(cs) =>
        val rows = cs.zipWithIndex.map { case (cvec, i) =>
          struct(lit(i.toLong).as("cid"), array(cvec.map(lit): _*).as("cvec"))
        }
        broadcast(corpus.sparkSession.range(1)
          .select(explode(array(rows: _*)).as("r"))
          .select(col("r.cid").as("cid"), col("r.cvec").as("cvec")))
      case None =>
        broadcast(corpus.select(col(idCol).as("cid"), col(vecCol).as("cvec"))
          .orderBy(col("cid")).limit(nCentroids))
    }
    def nearestCentroids(df: DataFrame, id: String, vec: String, n: Int): DataFrame = {
      val scored = df.crossJoin(cent)
        .withColumn("ccos", round(cosine(col(vec), col("cvec")), 6))
        .select(col(id), col(vec),
          struct(col("ccos"), (-col("cid")).as("ncid"), col("cid")).as("sc"))
      if (n == 1)
        scored.groupBy(col(id), col(vec))
          .agg(max(col("sc")).as("top1"))
          .select(col(id), col(vec), col("top1.cid").as("cid"))
      else
        scored.groupBy(col(id), col(vec))
          .agg(slice(sort_array(collect_list(col("sc")), asc = false), 1, n).as("top"))
          .select(col(id), col(vec), explode(col("top")).as("sc"))
          .select(col(id), col(vec), col("sc.cid").as("cid"))
    }
    val parts = corpus.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val assigned = nearestCentroids(
      corpus.select(col(idCol).as("nid"), col(vecCol).as("nvec"))
        .repartition(parts, col("nid")), "nid", "nvec", 1)
    val probes = nearestCentroids(
      queries.select(col(idCol).as("qid"), col(vecCol).as("qvec")), "qid", "qvec", nProbe)
    val cands = probes.join(assigned, Seq("cid"))
      .where(col("qid") =!= col("nid"))
      .select(col("qid"), col("qvec"), col("nid"), col("nvec"))
      .dropDuplicates("qid", "nid")
    val scored = cands.withColumn("cos", round(cosine(col("qvec"), col("nvec")), 6))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid").asc)
    scored.withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("qid"), col("nid"), col("cos"), col("rk"))
  }

  /** Embedding-cosine near-duplicate pairs (a < b, cosine ≥ threshold).
    * Exact (cross-join) — use for verification scales; the LSH variant
    * (`lshNearDups`) is the scale path. */
  def cosineNearDups(corpus: DataFrame, threshold: Double,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val a = corpus.select(col(idCol).as("a"), col(vecCol).as("va"))
    val b = corpus.select(col(idCol).as("b"), col(vecCol).as("vb"))
    a.crossJoin(b).where(col("a") < col("b"))
      .withColumn("cos", round(cosine(col("va"), col("vb")), 6))
      .where(col("cos") >= threshold)
      .select(col("a"), col("b"), col("cos"))
  }

  /** LSH-bucketed near-dup pairs — same output contract as cosineNearDups
    * but candidates from sign-sketch buckets (approximate recall). */
  def lshNearDups(corpus: DataFrame, threshold: Double,
                  nBits: Int = 8, nTables: Int = 6, dim: Int = 64, seed: Long = 42L,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  maxBucketSize: Long = 100000L): DataFrame = {
    val tableCols = (0 until nTables).map { t =>
      struct(lit(t).as("tbl"),
        signSketch(col(vecCol), hyperplanes(nBits, dim, seed + t)).as("bkt"))
    }
    // sketches materialized once (cap scan + both self-join sides reuse);
    // spread over the cluster first (opt round 6 — single-split corpus)
    val parts = corpus.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val raw = checkpoint(corpus.select(col(idCol), col(vecCol))
      .repartition(parts, col(idCol))
      .select(col(idCol).as("id"), col(vecCol).as("vec"),
        explode(array(tableCols: _*)).as("tb"))
      .select(col("id"), col("vec"), col("tb.tbl").as("tbl"), col("tb.bkt").as("bkt")))
    val bk = Dedup.capBucketsLogged(raw, Seq("tbl", "bkt"), maxBucketSize, "sign-lsh near-dup")
    bk.as("x").join(bk.as("y"),
        col("x.tbl") === col("y.tbl") && col("x.bkt") === col("y.bkt") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("a"), col("y.id").as("b"),
        col("x.vec").as("va"), col("y.vec").as("vb"))
      .dropDuplicates("a", "b")
      .withColumn("cos", round(cosine(col("va"), col("vb")), 6))
      .where(col("cos") >= threshold)
      .select(col("a"), col("b"), col("cos"))
  }
}
