package org.apache.spark.sql

import org.apache.spark.sql.classic.{Dataset => CDataset, SparkSession => CSparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap, AttributeSet}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, HashPartitioningLike, Partitioning, PartitioningCollection}
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, ExchangeQueryStageExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.storage.StorageLevel

/** The one state-management layer of the engine's Dataset plans (private[sql]
  * access for the leaves): `checkpoint` cuts lineage eagerly, `roll` lazily
  * (the continuous tier's per-batch state, graft.util.Generations), and
  * `release` frees the blocks of either leaf. `Dataset.unpersist` frees
  * neither: they are no CacheManager entries. A leaf nothing releases keeps
  * its blocks until the garbage collector finds it unreachable. */
object GraftSqlShims {

  /** Eager `localCheckpoint` of `ds` that keeps the hash partitioning it
    * was built with and whose size statistics are capped at Long.MaxValue.
    * Eager: the checkpoint is the plan's one SQL execution, so metrics
    * observed at `ds`'s root are in `ds.queryExecution.observedMetrics`
    * when this returns.
    *
    * Why the partitioning: under AQE the leaf of a plain `localCheckpoint`
    * reports UnknownPartitioning (AdaptiveSparkPlanExec does not expose its
    * final partitioning), so every plan that reads it re-exchanges it —
    * every superstep loop's edge table and state, every superstep. Here
    * the leaf reports the final adaptive plan's hash layouts that a fresh
    * exchange of the same count would reproduce (see `hashLayout`); then a
    * join against another input hash-partitioned on one of those keys runs
    * in place. The claim keeps its attribute ids when Catalyst
    * canonicalizes the leaf, so a plan reading a renamed copy of it misses
    * a Dataset cache over it, and two renamed reads share no exchange.
    *
    * Why the cap: the checkpoint's `LogicalRDD` carries the origin plan's
    * statistics, and Catalyst's size-only estimate of a join is the
    * PRODUCT of its children. A state chain that joins the state with
    * itself therefore multiplies the BigInt estimate every superstep, and
    * after ~20 CC supersteps the driver spends minutes in
    * BigInteger.multiply. An estimate above Long.MaxValue already rules
    * out every broadcast, so the cap changes no join choice; estimates
    * below it are untouched. */
  def checkpoint[T](ds: Dataset[T]): Dataset[T] = {
    val cds = ds.asInstanceOf[CDataset[T]]
    val chk = cds.localCheckpoint(true).asInstanceOf[CDataset[T]]
    val leaf = chk.logicalPlan.asInstanceOf[LogicalRDD]
    val partitioning = cds.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec if a.isFinalPlan =>
        hashLayout(a.executedPlan, leaf.output, leaf.rdd.getNumPartitions)
          .getOrElse(leaf.outputPartitioning)
      case _ => leaf.outputPartitioning
    }
    val stats = leaf.computeStats()
    val cap = BigInt(Long.MaxValue)
    if (partitioning == leaf.outputPartitioning &&
        stats.sizeInBytes <= cap && stats.rowCount.forall(_ <= cap)) chk
    else {
      val capped = stats.copy(sizeInBytes = stats.sizeInBytes.min(cap),
        rowCount = stats.rowCount.map(_.min(cap)))
      val spark = chk.sparkSession
      CDataset[T](spark, leaf.copy(outputPartitioning = partitioning)(
        spark, Some(capped), Some(leaf.constraints)))(cds.encoder)
    }
  }

  /** `df` as a lazily persisted leaf, materialized by the first downstream
    * scan. The continuous tier's state tables are updated per micro-batch
    * by tiny overlays: left as views, every batch adds a full-stream pass
    * per scan, and a `localCheckpoint` per table and batch would post
    * tracked actions that scale with the registered queries. `toRdd` +
    * `internalCreateDataFrame` cuts the same lineage with ZERO tracked
    * actions and no Row<->InternalRow conversion; the copy() is mandatory
    * (operators reuse UnsafeRow instances — cached uncopied rows alias). */
  def roll(df: DataFrame): DataFrame = {
    val cdf = df.asInstanceOf[CDataset[Row]]
    val spark = cdf.sparkSession.asInstanceOf[CSparkSession]
    // coalesce (narrow) to the session's shuffle parallelism: the overlay
    // plans UNION the previous leaf with per-batch deltas, so without it
    // every roll ADDS partitions and per-scan task count grows without
    // bound (measured: 546 → 3 681 cached partitions over 6 batches)
    val parts = spark.sessionState.conf.numShufflePartitions
    val rdd = cdf.queryExecution.toRdd.map(_.copy())
      .coalesce(parts).persist(StorageLevel.MEMORY_AND_DISK)
    spark.internalCreateDataFrame(rdd, cdf.schema)
  }

  /** Drop the blocks of the one checkpoint or roll leaf `ds` reads, also
    * through projections (Superstep's `keep(chk)`), once nothing reads it
    * again: a released checkpoint cannot be recomputed (so it skips
    * `RDD.unpersist`, which warns about that), a released roll leaf is
    * recomputed uncached. Throws when `ds` reads none or several — a
    * release must not silently free nothing. */
  def release(ds: Dataset[_]): Unit = {
    val leaves = ds.asInstanceOf[CDataset[_]].logicalPlan.collect {
      case l: LogicalRDD if l.rdd.getStorageLevel != StorageLevel.NONE => l.rdd
    }.distinctBy(_.id)
    require(leaves.size == 1,
      s"release needs a frame over one checkpoint or roll leaf; it reads ${leaves.size}")
    leaves.foreach(r =>
      if (r.isCheckpointed) r.sparkContext.unpersistRDD(r.id, blocking = false)
      else r.unpersist(blocking = false))
  }

  /** The hash partitioning over `output` that the rows of `plan`, an
    * executed adaptive plan with `parts` partitions, are laid out in, if
    * any. Claimed only when partition i holds exactly the keys with
    * pmod(hash, parts) = i, the layout a fresh exchange of `parts`
    * partitions produces and a join takes as co-partitioned: a single
    * partition, or a partitioning that comes from an uncoalesced exchange
    * (`followsHash`). A coalesced AQE read also reports a hash
    * partitioning of its keys, but its partitions are ranges of the
    * exchange's buckets: claimed, a join against a fresh exchange of the
    * coalesced count would pair the wrong rows. Every such layout over
    * `output` is claimed: a plan reports several when one key is also
    * output under an alias (LP's and CC's initial `label` is `id`) or when
    * an inner join or a union lines up its children's keys; claiming only
    * one of them would lose the others' in-place joins. */
  private def hashLayout(plan: SparkPlan, output: Seq[Attribute],
                         parts: Int): Option[Partitioning] = {
    def leaves(p: Partitioning): Seq[Partitioning] = p match {
      case PartitioningCollection(ps) => ps.flatMap(leaves)
      case p => Seq(p)
    }
    val byId = AttributeMap(output.map(a => a -> a))
    val claims = leaves(plan.outputPartitioning).collect {
      case h: HashPartitioningLike if h.numPartitions == parts &&
          h.references.subsetOf(AttributeSet(output)) =>
        HashPartitioning(h.expressions.map(_.transform { case a: Attribute => byId(a) }), parts)
    }.distinct
    if (claims.isEmpty || !(parts == 1 || followsHash(plan))) None
    else if (claims.size == 1) Some(claims.head)
    else Some(PartitioningCollection(claims))
  }

  /** True when no AQE shuffle read (coalesced, skew-split or local) sits
    * between `plan`'s root and the exchanges or scans it reads: then every
    * hash partitioning it reports is an exchange's own. Exchange stages are
    * exchanges already run; the result stage that wraps the final plan is
    * looked through; a scan reports only what its source guarantees — for
    * checkpoint leaves, what `hashLayout` accepted. */
  private def followsHash(plan: SparkPlan): Boolean = plan match {
    case _: AQEShuffleReadExec => false
    case _: ExchangeQueryStageExec | _: ShuffleExchangeLike => true
    case s: QueryStageExec => followsHash(s.plan)
    case p => p.children.forall(followsHash)
  }
}
