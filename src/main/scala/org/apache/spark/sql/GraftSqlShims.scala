package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.{DataFrame => CDataFrame, Dataset => CDataset, SparkSession => CSparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** private[sql] access for graft's plan leaves. */
object GraftSqlShims {

  /** Plan → lazily persisted InternalRow RDD + leaf DataFrame over it.
    * Materializes on first downstream scan (inside the caller's next
    * action); the caller owns unpersist of the returned RDD.
    *
    * Why: the continuous tier's maintained state tables (graph, symmetric
    * relation, SJ-tree stages) are updated per micro-batch by tiny
    * overlays. Left as Catalyst views, every batch adds a full-stream pass
    * per scan (and the analyzed tree re-expands per reference);
    * `localCheckpoint` truncates but posts a tracked Dataset action per
    * call — per-state-table per-batch actions would scale with the number
    * of registered queries. `queryExecution.toRdd` +
    * `internalCreateDataFrame` performs the same truncation with ZERO
    * tracked actions and no Row<->InternalRow double conversion; the copy()
    * is mandatory (operators reuse UnsafeRow instances within a partition —
    * caching uncopied rows aliases them). */
  def truncated(df: DataFrame,
                level: StorageLevel = StorageLevel.MEMORY_AND_DISK)
      : (DataFrame, RDD[InternalRow]) = {
    val cdf = df.asInstanceOf[CDataFrame]
    val spark = cdf.sparkSession.asInstanceOf[CSparkSession]
    // coalesce (narrow) to the session's shuffle parallelism: the overlay
    // plans UNION the previous leaf with per-batch deltas, so without it
    // every roll ADDS partitions and per-scan task count grows without
    // bound (measured: 546 → 3 681 cached partitions over 6 batches)
    val parts = spark.sessionState.conf.numShufflePartitions
    val rdd = cdf.queryExecution.toRdd.map(_.copy())
      .coalesce(parts).persist(level)
    (spark.internalCreateDataFrame(rdd, cdf.schema), rdd)
  }

  /** Eager `localCheckpoint` of `df` whose size statistics are capped at
    * Long.MaxValue, plus the checkpoint's RDD (the caller releases it).
    * Eager: the checkpoint is the plan's one SQL execution, so metrics
    * observed at `df`'s root are in `df.queryExecution.observedMetrics`
    * when this returns.
    *
    * Why the cap: the checkpoint's `LogicalRDD` carries the origin plan's
    * statistics, and Catalyst's size-only estimate of a join is the
    * PRODUCT of its children. A state chain that joins the state with
    * itself therefore multiplies the BigInt estimate every superstep, and
    * after ~20 CC supersteps the driver spends minutes in
    * BigInteger.multiply. An estimate above Long.MaxValue already rules
    * out every broadcast, so the cap changes no join choice; estimates
    * below it are untouched.
    * `copy` keeps the leaf's RDD and outputPartitioning. Under AQE that
    * partitioning is UnknownPartitioning: the adaptive plan does not report
    * its final partitioning, so consumers re-exchange the state. */
  def checkpoint(df: DataFrame): (DataFrame, RDD[InternalRow]) = {
    val chk = df.localCheckpoint(true).asInstanceOf[CDataFrame]
    val leaf = chk.logicalPlan.asInstanceOf[LogicalRDD]
    val stats = leaf.computeStats()
    val cap = BigInt(Long.MaxValue)
    if (stats.sizeInBytes <= cap && stats.rowCount.forall(_ <= cap)) (chk, leaf.rdd)
    else {
      val capped = stats.copy(sizeInBytes = stats.sizeInBytes.min(cap),
        rowCount = stats.rowCount.map(_.min(cap)))
      val spark = chk.sparkSession
      (CDataset.ofRows(spark, leaf.copy()(spark, Some(capped), Some(leaf.constraints))),
        leaf.rdd)
    }
  }

  /** Drop a checkpoint's blocks once nothing reads them. `RDD.unpersist`
    * does the same but logs a warning for every locally checkpointed RDD. */
  def release(rdd: RDD[_]): Unit = rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
