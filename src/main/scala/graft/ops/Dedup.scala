package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftSqlShims.checkpoint
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators over the `documents` table — exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard. All are shuffle-shaped the way they must be
  * at 100 TB: exact dedup is a single hash groupBy; the near-dup families
  * NEVER do an all-pairs join — candidates come from LSH bucket self-joins
  * (band hash / simhash chunk equality), and only candidates pay the exact
  * verification cost. The reference's analogous pattern is its safe-update
  * classification: a cheap signature filter in front of expensive search
  * (ParaCOSM parallel_graphflow.cpp:1990-2016).
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact dedup keeper list: one representative (min doc_id) per canonical
    * text fingerprint, plus the duplicate count. One algebraic groupBy —
    * partial aggregation absorbs any hot fingerprint. */
  def exactGroups(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(TextAnalysis.fingerprint(col(textCol)).as("fp"), col(idCol))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Documents surviving exact dedup (the keepers). */
  def exactKeepers(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.join(exactGroups(docs, idCol, textCol).select(col("keep_id").as(idCol)), Seq(idCol), "left_semi")

  // ------------------------------------------------------------- shingles

  /** Word n-gram shingle table: (doc_id, shingle) distinct. n=1 gives token
    * sets (the SQL-oracle-friendly case); n≥2 gives true shingles.
    *
    * Physical shape (opt round 6, guide §1.2/§2.5): the doc table is hash-
    * repartitioned by id BEFORE tokenization — a compact corpus arrives as
    * ONE parquet split, and without the exchange the whole regexp+explode
    * pass runs in a single task (measured 9.0s of the 12s minhash wall at
    * sf0.1). The token array is computed ONCE per row behind that exchange;
    * the old inline expr re-ran split(regexp_replace(...)) INSIDE the
    * per-shingle lambda — O(tokens) regexp passes per document. Values are
    * unchanged (same transform/slice arithmetic over the same array). */
  def shingles(docs: DataFrame, n: Int, idCol: String = "doc_id",
               textCol: String = "text"): DataFrame = {
    val parts = docs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val toks = split(regexp_replace(trim(col(textCol)), "\\s+", " "), " ")
    val withWs = docs.select(col(idCol).as("doc_id"), col(textCol))
      .repartition(parts, col("doc_id"))
      .select(col("doc_id"), toks.as("ws"))
    val sh =
      if (n == 1) explode(col("ws")).as("shingle")
      else explode(expr(
        s"transform(sequence(0, greatest(size(ws) - $n, -1)), " +
          s"i -> concat_ws(' ', slice(ws, i + 1, $n)))")).as("shingle")
    withWs.select(col("doc_id"), sh).where(col("shingle") =!= "").distinct()
  }

  // ------------------------------------------------------- n-gram Jaccard

  /** Exact n-gram Jaccard near-dup pairs (a < b, jaccard ≥ threshold),
    * computed WITHOUT an all-pairs join: docs only meet if they share a
    * shingle (inverted-index self-join), then |A∩B| is one groupBy away and
    * |A| comes from per-doc shingle counts. Hot shingles (stopword-only
    * grams) fan out quadratically — `maxShingleFreq` drops shingles shared
    * by more than that many docs (a standard, publicly-documented trick).
    * Intersection and set sizes both come from the filtered universe, so the
    * score is the exact Jaccard of the FILTERED shingle sets; filtering can
    * only lower recall for pairs that share ONLY ubiquitous grams. */
  def jaccardPairs(docs: DataFrame, n: Int, threshold: Double,
                   maxShingleFreq: Long = 1000L): DataFrame = {
    val sh = checkpoint(shingles(docs, n))
    val freq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val kept = sh.join(freq.where(col("df") <= maxShingleFreq), Seq("shingle"), "left_semi")
    // sizes from the FILTERED universe too, so the value is the exact Jaccard
    // of the filtered sets (identical docs score 1.0 even when a hot shingle
    // is dropped), not a deflated lower bound
    val sizes = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))

    val inter = kept.as("x").join(kept.as("y"),
        col("x.shingle") === col("y.shingle") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("inter"))

    val res = inter
      .join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("sz", "sza"), "a")
      .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("sz", "szb"), "b")
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("sza") + col("szb") - col("inter")), 6))
      .where(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
    res
  }

  // ------------------------------------------------------------ bucket cap

  /** Drop LSH buckets with more than `cap` members before a bucket
    * self-join — the hot-shingle cap generalized to every bucket join: ONE
    * degenerate bucket (near-empty docs all hashing alike, an adversarial
    * band collision) re-introduces the quadratic all-pairs blowup the LSH
    * exists to avoid. Recall loss is confined to pairs that ONLY collide in
    * over-full buckets; at 100 TB the cap is what bounds worst-case cost.
    * `keyCols` identify the bucket. */
  def capBuckets(buckets: DataFrame, keyCols: Seq[String], cap: Long): DataFrame = {
    val sizes = buckets.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("_bn"))
    buckets.join(sizes.where(col("_bn") <= cap).select(keyCols.map(col): _*),
      keyCols, "left_semi")
  }

  /** capBuckets with MANDATORY accounting — "no silent caps" (round-3
    * advice: the default cap silently changed public-API results while the
    * DuckDB oracles don't model it): one aggregate over the (materialized)
    * bucket table, a loud stderr line whenever anything was dropped, and
    * the (kept, dropped) counts surfaced to the caller. A dropped>0 at
    * oracle scale will fail the oracle hash compare — the log line is the
    * explanation the operator reads next to the red row. */
  def capBucketsLogged(buckets: DataFrame, keyCols: Seq[String], cap: Long,
                       tag: String): DataFrame = {
    val (kept, dropped) = bucketCapStats(buckets, keyCols, cap)
    if (dropped > 0)
      System.err.println(s"[dedup-cap] $tag: cap=$cap DROPPED $dropped of " +
        s"${kept + dropped} buckets (recall loss confined to pairs colliding " +
        "only in over-full buckets; uncapped oracles will diverge)")
    capBuckets(buckets, keyCols, cap)
  }

  /** Diagnostic twin of capBuckets: (kept buckets, dropped buckets) counts —
    * "no silent caps": callers log what was dropped. One aggregate job. */
  def bucketCapStats(buckets: DataFrame, keyCols: Seq[String], cap: Long): (Long, Long) = {
    val row = buckets.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("_bn"))
      .agg(sum(when(col("_bn") <= cap, 1L).otherwise(0L)),
        sum(when(col("_bn") > cap, 1L).otherwise(0L))).head()
    (if (row.isNullAt(0)) 0L else row.getLong(0),
      if (row.isNullAt(1)) 0L else row.getLong(1))
  }

  // ----------------------------------------------------------- MinHash+LSH

  /** Default (scale-path) seeded shingle hash: xxhash64(shingle, seed). The
    * md5 family (Hashing.mdHash64Seeded) is the DuckDB-sharable swap-in —
    * same operator shape, oracle-computable constants. */
  val xxShingleHash: (Column, Int) => Column = (c, i) => xxhash64(c, lit(i))

  /** Default band hash; md5 swap-in hashes the '|'-joined mins instead. */
  val xxBandHash: Seq[Column] => Column = cols => xxhash64(cols: _*)

  /** MinHash signature columns mh0..mh{numPerm-1}: per permutation i the min
    * over shingles of shingleHash(shingle, i). One explode + one groupBy with
    * numPerm algebraic min aggregates (a single shuffle). */
  def minhashSignatures(docs: DataFrame, n: Int, numPerm: Int,
                        shingleHash: (Column, Int) => Column = xxShingleHash): DataFrame =
    signaturesFromShingles(shingles(docs, n), numPerm, shingleHash)

  /** Signatures over an already-materialized (doc_id, shingle) table — lets
    * the near-dup pipeline compute shingles ONCE and share them between the
    * signature pass and the exact-verify pass without relying on
    * CacheManager plan-matching.
    *
    * Measured non-change (opt round 6): hashing each DISTINCT shingle once
    * and joining back (round-5 verdict's suggestion #4, generalized) was
    * A/B-probed at sf0.1 — the inline min-aggregate runs 0.35-0.8s warm
    * while the distinct+join variant costs 2.4-3.6s: the md5 chain
    * parallelizes across cores and is NOT the dominant term; the extra
    * distinct exchange + join is. Kept inline (guide §1.1: measure first). */
  def signaturesFromShingles(sh: DataFrame, numPerm: Int,
                             shingleHash: (Column, Int) => Column = xxShingleHash): DataFrame = {
    val aggs = (0 until numPerm).map(i =>
      min(shingleHash(col("shingle"), i)).as(s"mh$i"))
    sh.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH candidate pairs via banding: split the signature into `bands` bands
    * of `rowsPerBand` mins, hash each band, self-join on (band index, band
    * hash). Returns distinct (a, b) with a < b. */
  def lshCandidates(sigs: DataFrame, bands: Int, rowsPerBand: Int,
                    bandHash: Seq[Column] => Column = xxBandHash,
                    maxBucketSize: Long = 100000L): DataFrame = {
    val bandCols = (0 until bands).map { bIdx =>
      val cols = (0 until rowsPerBand).map(r => col(s"mh${bIdx * rowsPerBand + r}"))
      struct(lit(bIdx).as("band"), bandHash(cols).as("bh"))
    }
    // materialize the bucket table ONCE: the signature pipeline above it is
    // the expensive part (numPerm hash-min aggregates per shingle), and the
    // cap scan + both self-join sides would otherwise re-evaluate it 3x
    val raw = checkpoint(sigs.select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bh").as("bh")))
    val buckets = capBucketsLogged(raw, Seq("band", "bh"), maxBucketSize, "minhash-lsh bands")
    buckets.as("x").join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
  }

  /** Full MinHash-LSH near-dup pipeline: LSH candidates, then EXACT Jaccard
    * verification on candidates only (so output precision is exact; LSH only
    * bounds recall — tune bands/rows to the threshold's S-curve). */
  def minhashNearDups(docs: DataFrame, n: Int, threshold: Double,
                      numPerm: Int = 32, bands: Int = 8,
                      shingleHash: (Column, Int) => Column = xxShingleHash,
                      bandHash: Seq[Column] => Column = xxBandHash,
                      maxBucketSize: Long = 100000L): DataFrame = {
    val rowsPerBand = numPerm / bands
    // one materialized shingle table feeds BOTH the signature pipeline and
    // the exact-Jaccard verification (the expensive tokenize+distinct pass
    // runs once)
    val sh = checkpoint(shingles(docs, n))
    val cands = lshCandidates(signaturesFromShingles(sh, numPerm, shingleHash),
      bands, rowsPerBand, bandHash, maxBucketSize)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val interCnt = cands
      .join(sh.withColumnRenamed("doc_id", "a").withColumnRenamed("shingle", "sa"), "a")
      .join(sh.withColumnRenamed("doc_id", "b").withColumnRenamed("shingle", "sb"), "b")
      .where(col("sa") === col("sb"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("inter"))
    interCnt
      .join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("sz", "sza"), "a")
      .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("sz", "szb"), "b")
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("sza") + col("szb") - col("inter")), 6))
      .where(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
  }

  // --------------------------------------------------------------- SimHash

  /** 64-bit SimHash per document: per token-hash bit, vote ±1; sign of the
    * per-bit sum becomes the bit. Implemented as one explode + 64 algebraic
    * sums (single shuffle), then bit assembly — no UDF. */
  def simhash(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
              tokHash: Column => Column = xxhash64(_)): DataFrame = {
    // repartition before tokenize+hash (opt round 6, same rationale as
    // shingles(): a compact corpus arrives as one input split)
    val parts = docs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val toks = docs.select(col(idCol).as("doc_id"), col(textCol))
      .repartition(parts, col("doc_id"))
      .select(col("doc_id"),
        explode(split(regexp_replace(trim(col(textCol)), "\\s+", " "), " ")).as("tok"))
      .where(col("tok") =!= "")
      .withColumn("h", tokHash(col("tok")))
    val bitSums = (0 until 64).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)).as(s"s$b")
    }
    val sums = toks.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until 64).map { b =>
      when(col(s"s$b") > 0, shiftleft(lit(1L), b)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    sums.select(col("doc_id"), sig.as("simhash"))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxDist, candidates from
    * 16-bit chunk equality (pigeonhole: distance ≤ 3 ⇒ at least one of 4
    * chunks equal), verified by exact popcount. */
  def simhashNearDups(docs: DataFrame, maxDist: Int = 3,
                      tokHash: Column => Column = xxhash64(_),
                      maxBucketSize: Long = 100000L): DataFrame = {
    val sigs = checkpoint(simhash(docs, tokHash = tokHash))
    val raw = sigs.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(c =>
        struct(lit(c).as("c"),
          shiftright(col("simhash"), c * 16).bitwiseAND(lit(0xFFFFL)).as("v"))): _*)).as("ck"))
      .select(col("doc_id"), col("simhash"), col("ck.c").as("c"), col("ck.v").as("v"))
    val chunks = capBucketsLogged(raw, Seq("c", "v"), maxBucketSize, "simhash chunks")
    val cand = chunks.as("x").join(chunks.as("y"),
        col("x.c") === col("y.c") && col("x.v") === col("y.v") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        col("x.simhash").as("ha"), col("y.simhash").as("hb"))
      .distinct()
    cand.withColumn("dist", bit_count(col("ha").bitwiseXOR(col("hb"))))
      .where(col("dist") <= maxDist)
      .select(col("a"), col("b"), col("dist"))
  }
}
