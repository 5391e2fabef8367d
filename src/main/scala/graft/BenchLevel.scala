package graft

import org.apache.spark.sql.SparkSession

/** One parallelism level of the scaling protocol, run as its OWN JVM
  * (spawned under `taskset -c 0..k-1` by Bench) so that
  * EVERYTHING — task threads, GC, JIT, shuffle IO — is confined to k cores,
  * the way a k-core executor is on a real cluster. Measuring all levels
  * inside one 32-core JVM lets GC/JIT threads of a `local[2]` session run
  * on the other 30 cores, inflating the small-N baseline and understating
  * scaling efficiency (observed: ~11% of local[2] wall was GC running on
  * free cores).
  *
  * Prints exactly one line to stdout: `LEVEL_BEST_MS <millis>`. */
object BenchLevel {
  def main(args: Array[String]): Unit = {
    val Array(blockPath, coresS, blockPS, itersS, warmS) = args
    val (cores, blockP, iters, warm) = (coresS.toInt, blockPS.toInt, itersS.toInt, warmS.toInt)
    // shuffle dirs on tmpfs: the per-superstep message shuffle (~2 GB) is
    // otherwise bottlenecked on this VM's shared disk — a constant that no
    // core count amortizes (a real executor has local NVMe; tmpfs is the
    // closest single-box analogue)
    val shuffleDir = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("/dev/shm"), "graft-lvl").toString
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-level-$cores")
      .config("spark.sql.shuffle.partitions", blockP.toString)
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.local.dir", shuffleDir)
      // the packed loop shuffles Msg objects through the RDD serializer —
      // Kryo handles the primitive arrays at Tungsten-comparable speed
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val blocks = graft.algo.CsrPageRank.load(spark, blockPath)
    // runPacked: the RDD-loop kernel (a Dataset loop would pay ~1.4 s/
    // superstep of per-iteration Catalyst planning — see CsrPageRank.runPacked
    // doc — which is exactly the fixed serial term the N-vs-4N criterion
    // punishes)
    val (_, _, m) = graft.algo.CsrPageRank.runPacked(spark, blocks, tol = 0.0,
      maxIter = warm + iters)
    spark.stop()
    // clean the tmpfs dir (RAM is the scarce resource it occupies)
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(shuffleDir))
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    } finally walk.close()
    println(s"LEVEL_BEST_MS ${m.drop(warm).map(_.wallMs).min}")
  }
}
