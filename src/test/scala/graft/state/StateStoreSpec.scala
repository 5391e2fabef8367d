package graft.state

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftSparkShims
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.algo.PageRank
import graft.graph.GraphBuilder
import graft.pages.PagesFixture

class StateStoreSpec extends SparkSpec {

  private def tmpDir(): String =
    Files.createTempDirectory("graft-store").toString

  /** Spark jobs that `body` starts. */
  private def jobs(body: => Unit): Int = {
    val sc = spark.sparkContext
    GraftSparkShims.waitListenerBusEmpty(sc)
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    }
    sc.addSparkListener(l)
    try {
      body
      GraftSparkShims.waitListenerBusEmpty(sc)
      n.get()
    } finally sc.removeSparkListener(l)
  }

  private def manifestParts(json: String): Map[Int, Long] = {
    val entries = """\{"partitionId":(\d+),"rowCount":(\d+)\}""".r
      .findAllMatchIn(json).map(m => m.group(1).toInt -> m.group(2).toLong).toSeq
    assert(entries.map(_._1).distinct.size == entries.size, s"partition ids repeat: $json")
    entries.toMap
  }

  /** Row count of each stored data file, keyed by the partition id in its
    * name, counted by reading the file back. */
  private def storedParts(root: String, name: String, it: Int): Map[Int, Long] = {
    val data = Paths.get(root, name, s"it=$it", "data")
    listNames(data).filter(_.startsWith("part-")).map { f =>
      f.stripPrefix("part-").takeWhile(_ != '-').toInt ->
        spark.read.parquet(data.resolve(f).toString).count()
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  private def listNames(dir: Path): Seq[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toSeq finally s.close()
  }

  private def commitOneJob(df: DataFrame, rows: Long): Unit = {
    val root = tmpDir()
    val store = new StateStore(root)
    assert(jobs(store.commit(spark, "s", 1, df)) == 1)
    val m = store.manifestJson("s", 1)
    val parts = manifestParts(m)
    assert(parts.nonEmpty && parts == storedParts(root, "s", 1), m)
    assert(parts.values.sum == rows && m.contains(s""""rowCount":$rows,"""), m)
    val back = store.load(spark, "s", 1)
    assert(back.schema.map(f => f.name -> f.dataType) == df.schema.map(f => f.name -> f.dataType))
    assert(back.count() == rows)
  }

  test("commit → latestCompleted → load roundtrip; manifest has lineage") {
    import spark.implicits._
    val store = new StateStore(tmpDir())
    val df = Seq((1L, 0.5), (2L, 0.5)).toDF("id", "rank")
    store.commit(spark, "pr", 1, df, deltaL1 = 0.1, deltaLinf = 0.05, changed = 2L, wallMs = 7L)
    assert(store.latestCompleted("pr") == 1)
    val back = store.load(spark, "pr", 1).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(back == Map(1L -> 0.5, 2L -> 0.5))
    val m = store.manifestJson("pr", 1)
    assert(m.contains("\"iteration\":1") && m.contains("\"rowCount\":2") &&
      m.contains("partitionId") && m.contains("\"deltaLinf\":0.05"))
  }

  test("torn snapshot (data without manifest) is invisible to resume") {
    import spark.implicits._
    val root = tmpDir()
    val store = new StateStore(root)
    store.commit(spark, "pr", 1, Seq((1L, 1.0)).toDF("id", "rank"))
    // simulate a kill mid-iteration-2: data dir exists, manifest missing
    val torn = Paths.get(root, "pr", "it=2")
    Files.createDirectories(torn)
    Seq((1L, 9.9)).toDF("id", "rank").write.parquet(torn.resolve("data").toString)
    assert(store.latestCompleted("pr") == 1)
  }

  test("PageRank resumed from checkpoint equals uninterrupted run (FIXTURES §6.6)") {
    import spark.implicits._
    val pages = spark.createDataset(PagesFixture.generate(4, 10))
    val (v, e) = GraphBuilder.buildVerified(spark, pages)
    val vDF = v.toDF().localCheckpoint(true)
    val eDF = e.toDF().localCheckpoint(true)

    val full = new PageRank(tol = 1e-6).run(spark, eDF, vDF)
      .state.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

    // run only 3 supersteps into a store (simulated kill), then resume
    val store = new StateStore(tmpDir())
    new PageRank(tol = 1e-6, maxIter = 3).run(spark, eDF, vDF, Some(store))
    assert(store.latestCompleted("pagerank") == 3)
    val resumed = new PageRank(tol = 1e-6).resume(spark, eDF, vDF, store)
      .state.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

    assert(resumed.keySet == full.keySet)
    full.keys.foreach(k => assert(math.abs(resumed(k) - full(k)) < 1e-6))
  }

  test("every superstep committed through a store leaves a manifest chain") {
    import spark.implicits._
    val pages = spark.createDataset(PagesFixture.generate(3, 8))
    val (v, e) = GraphBuilder.buildVerified(spark, pages)
    val store = new StateStore(tmpDir())
    val res = new PageRank(tol = 1e-4).run(spark, e.toDF(), v.toDF(), Some(store))
    (1 to res.iterations).foreach { i =>
      val m = store.manifestJson("pagerank", i)
      assert(m.contains(s"\"iteration\":$i"))
    }
    // delta norms must be monotonically shrinking-ish: last < first
    assert(res.metrics.last.deltaLinf < res.metrics.head.deltaLinf)
  }

  test("commit is one Spark job; lineage from the written footers, one entry per written partition") {
    import spark.implicits._
    // partitions 0 and 2 empty: Spark still writes partition 0's file
    val rdd = spark.sparkContext.parallelize(Seq(Seq.empty[Long], Seq(1L, 2L, 3L),
      Seq.empty[Long], Seq(4L, 5L)), 4).flatMap(identity)
    val fourParts = rdd.toDF("id").withColumn("rank", $"id" * 0.5)
    assert(fourParts.rdd.getNumPartitions == 4)
    commitOneJob(fourParts, 5L)
    commitOneJob(Seq.empty[(Long, Double)].toDF("id", "rank"), 0L)
  }

  test("a failed commit rethrows, leaves no tmp directory and keeps latestCompleted") {
    import spark.implicits._
    val root = tmpDir()
    val store = new StateStore(root)
    store.commit(spark, "pr", 1, Seq((1L, 1.0)).toDF("id", "rank"))
    val boom = udf { (id: Long) =>
      if (id >= 0) throw new IllegalArgumentException(s"boom $id"); id.toDouble }
    // one task, so no sibling task is still writing when the commit cleans up
    val bad = Seq(1L, 2L).toDF("id").coalesce(1).select($"id", boom($"id").as("rank"))
    val e = intercept[Exception](store.commit(spark, "pr", 2, bad))
    // the write's own exception, not one raised by the clean-up
    val direct = intercept[Exception](bad.write.parquet(tmpDir() + "/direct"))
    assert(e.getClass == direct.getClass, e)
    def causes(t: Throwable): Seq[Throwable] = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes(e).exists(c => c.isInstanceOf[IllegalArgumentException] &&
      c.getMessage.startsWith("boom")), e)
    assert(store.latestCompleted("pr") == 1)
    val left = listNames(Paths.get(root, "pr"))
    assert(!left.exists(_.startsWith(".tmp-")), left)
  }
}
