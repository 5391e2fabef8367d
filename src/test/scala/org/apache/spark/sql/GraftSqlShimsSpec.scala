package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, PartitioningCollection}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** GraftSqlShims.checkpoint's leaf claims a hash partitioning only where a
  * fresh exchange of the same count would lay the rows out the same way,
  * and `release` drops exactly the leaf a frame reads. */
class GraftSqlShimsSpec extends SparkSpec {

  /** 400 keys; the keys of hash bucket 0 (of 4) carry 40 rows each, the
    * others one. */
  private def skewed: DataFrame =
    spark.range(0, 400).select(col("id").as("key"))
      .withColumn("rep", when(expr("pmod(hash(key), 4)") === 0, 40).otherwise(1))
      .select(col("key"), explode(sequence(lit(1), col("rep"))).as("i"))

  private def keyPairs(df: DataFrame): Seq[(Long, Int)] =
    df.select("key", "i").collect().map(r => (r.getLong(0), r.getInt(1))).toSeq

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("checkpoint of an uncoalesced exchange keeps its hash partitioning") {
    val chk = GraftSqlShims.checkpoint(skewed.repartition(4, col("key")))
    chk.queryExecution.executedPlan.outputPartitioning match {
      case h: HashPartitioning =>
        assert(h.numPartitions == 4 && h.references.map(_.name).toSeq == Seq("key"))
      case p => fail(s"leaf reports $p")
    }
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val other = spark.range(0, 400).select(col("id").as("key"), (col("id") * 2).as("v"))
        .repartition(4, col("key"))
      val joined = chk.join(other, "key").select("key", "i", "v")
      val want = keyPairs(skewed).map { case (k, i) => (k, i, k * 2) }.sorted
      assert(joined.collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted == want)
      // the leaf joins in place: the only exchange is the other side's
      assert(shuffles(joined.queryExecution.executedPlan).size == 1)
    }
    GraftSqlShims.release(chk)
  }

  test("checkpoint claims every hash layout of its rows: a key and its alias") {
    // LP's and CC's initial state has label = id: both columns lay the
    // rows out, and a join on either runs in place
    val chk = GraftSqlShims.checkpoint(skewed.repartition(4, col("key"))
      .select(col("key"), col("key").as("alias"), col("i")))
    chk.queryExecution.executedPlan.outputPartitioning match {
      case PartitioningCollection(ps) =>
        assert(ps.map(_.asInstanceOf[HashPartitioning].references.map(_.name).toSeq).toSet ==
          Set(Seq("key"), Seq("alias")))
      case p => fail(s"leaf reports $p")
    }
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val other = spark.range(0, 400).select(col("id").as("k"), (col("id") * 2).as("v"))
        .repartition(4, col("k"))
      val want = keyPairs(skewed).map { case (k, i) => (k, i, k * 2) }.sorted
      for (c <- Seq("key", "alias")) {
        val joined = chk.join(other, chk(c) === other("k")).select(c, "i", "v")
        assert(joined.collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted == want, c)
        assert(shuffles(joined.queryExecution.executedPlan).size == 1, c)
      }
    }
    GraftSqlShims.release(chk)
  }

  test("a checkpoint of an AQE-coalesced read claims no hash partitioning") {
    val chk = withConf(
        "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8000") {
      // repartition by column only: AQE may coalesce its 4 buckets
      GraftSqlShims.checkpoint(skewed.repartition(col("key")))
    }
    // bucket 0 stays alone, buckets 1-3 merge: partition 1 is not pmod(hash, 2) = 1
    assert(chk.queryExecution.toRdd.getNumPartitions == 2,
      "AQE did not coalesce 4 -> 2; the test needs it")
    chk.queryExecution.executedPlan.outputPartitioning match {
      case h: HashPartitioning => fail(s"coalesced leaf claims $h")
      case _ =>
    }
    withConf("spark.sql.shuffle.partitions" -> "2",
             "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val other = spark.range(0, 400).select(col("id").as("key"), (col("id") * 2).as("v"))
        .repartition(2, col("key"))
      val got = chk.join(other, "key").select("key", "i", "v").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted
      assert(got == keyPairs(skewed).map { case (k, i) => (k, i, k * 2) }.sorted)
    }
    GraftSqlShims.release(chk)
  }

  /** The ids of the persisted RDDs, held strongly: the context keeps them
    * weakly, so an unreachable one could vanish between two reads. */
  private def persisted(): Map[Int, org.apache.spark.rdd.RDD[_]] =
    spark.sparkContext.getPersistentRDDs.toMap

  test("release drops exactly the checkpoint or roll leaf a frame reads") {
    def leafId(df: DataFrame): Int =
      df.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l.rdd.id }.get
    val before = persisted()
    val chk = GraftSqlShims.checkpoint(skewed.repartition(4, col("key")))
    val rolled = GraftSqlShims.roll(skewed.where(col("i") === 1))
    assert(rolled.count() == 400)
    assert(persisted().keySet == before.keySet + leafId(chk) + leafId(rolled))
    // through a filter and a projection, like Superstep's keep(chk)
    GraftSqlShims.release(chk.where(col("i") > 1).select(col("key")))
    assert(persisted().keySet == before.keySet + leafId(rolled))
    GraftSqlShims.release(rolled)
    assert(persisted().keySet == before.keySet)
  }

  test("release of a frame over no checkpoint or roll leaf, or over two, throws") {
    val a = GraftSqlShims.checkpoint(skewed)
    val b = GraftSqlShims.checkpoint(skewed)
    intercept[IllegalArgumentException](GraftSqlShims.release(skewed))
    intercept[IllegalArgumentException](GraftSqlShims.release(spark.range(3).toDF()))
    intercept[IllegalArgumentException](GraftSqlShims.release(a.union(b)))
    GraftSqlShims.release(a)
    GraftSqlShims.release(b)
  }
}
