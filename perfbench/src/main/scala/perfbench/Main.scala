package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import Workloads.median

/** One benchmark run: set-up (repeated, median reported), one untimed
  * warm-up pass, then a fixed number of timed passes: `--passes`, or about
  * `--seconds` divided by the workload's nominal pass length, so both
  * sides of a comparison do the same work. Every timed pass is checked
  * against the plain-Scala reference after its timed region. The last
  * stdout line is the result JSON; lines before it that start with "# "
  * are the readable report. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        passes: Option[Int], setups: Int, root: Path)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m("workload"), m.getOrElse("seed", "1").toLong, m.getOrElse("seconds", "10").toDouble,
      m.getOrElse("trace", "0") == "1", m.get("passes").map(_.toInt),
      m.getOrElse("setups", "5").toInt, Paths.get(m.getOrElse("root", ".")).toAbsolutePath)
  }

  /** Time of a one-unit pass beyond which it counts as failed (a pass of
    * batches checks each batch instead). */
  val PassTimeoutS = 60.0

  private def say(s: String): Unit = println(s"# $s")

  private def fmt(x: Double): String = java.lang.Double.toString(x)

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val work = args.root.resolve("perfbench").resolve(".work")
    Workloads.deleteTree(work)
    Files.createDirectories(work)
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      // as graft.Bench configures its sessions: one shuffle partition per
      // core, AQE on, Kryo for the packed CSR loop's messages
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val code =
      try run(args, spark, work)
      finally { spark.stop(); Workloads.deleteTree(work) }
    sys.exit(code)
  }

  private def persistentIds(spark: SparkSession): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Unpersist what was persisted after `before` was taken, and nothing
    * else: inputs checkpointed in set-up must outlive every pass. */
  private def release(spark: SparkSession, before: Set[Int]): Unit =
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before(id)) rdd.unpersist(blocking = true)
    }

  final case class PassRecord(pass: Int, seconds: Double, units: Int, failed: Int,
                              numbers: Map[String, Double], timed: Boolean)

  def run(args: Args, spark: SparkSession, work: Path): Int = {
    val tracer = new Tracer(spark.sparkContext, args.trace)
    val wl = Workloads(args.workload, spark, tracer, args.seed, work)

    // set-up, several times; each one replaces (and releases) the previous
    val setupSeconds = mutable.ArrayBuffer.empty[Double]
    var setupRdds = Set.empty[Int]
    (1 to args.setups).foreach { _ =>
      release(spark, persistentIds(spark) -- setupRdds)
      val before = persistentIds(spark)
      setupSeconds += tracer.time("setup")(wl.setup())
      setupRdds = persistentIds(spark) -- before
    }

    val records = mutable.ArrayBuffer.empty[PassRecord]
    def onePass(pass: Int, timed: Boolean): Unit = {
      wl.prepare()
      tracer.pass = pass
      val before = persistentIds(spark)
      var outcome: Option[Outcome] = None
      val errors = mutable.ArrayBuffer.empty[String]
      val seconds = tracer.time("pass") {
        try outcome = Some(wl.runPass(pass, warm = !timed))
        catch { case e: Exception => errors += s"pass threw ${e.getClass.getSimpleName}: ${e.getMessage}" }
      }
      tracer.pass = -1
      var numbers = Map.empty[String, Double]
      outcome.foreach { o =>
        try { errors ++= o.check(); numbers = o.numbers() }
        catch { case e: Exception => errors += s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}" }
        o.cleanup()
      }
      if (outcome.exists(_.units == 1) && seconds > PassTimeoutS)
        errors += f"pass took $seconds%.1f s, over the $PassTimeoutS%.0f s limit"
      if (wl.releasePerPass) release(spark, before)
      errors.foreach(e => System.err.println(s"[perfbench] pass $pass: $e"))
      val units = outcome.map(_.units).getOrElse(1)
      records += PassRecord(pass, seconds, units, if (errors.isEmpty) 0 else units, numbers, timed)
      if (args.trace && timed) reportPass(tracer, pass)
    }

    if (wl.warmUp) onePass(0, timed = false)
    val passes = args.passes.getOrElse(
      math.max(1, math.round(args.seconds / wl.nominalPassSeconds).toInt))
    (1 to passes).foreach(p => onePass(p, timed = true))

    val timed = records.filter(_.timed).toSeq
    val attempted = records.map(_.units).sum
    val failed = records.map(_.failed).sum
    val e2e = endToEnd(args, tracer, setupSeconds.toSeq, timed, attempted, failed)
    val (defs, metrics) =
      if (!args.trace) (Metrics.endToEnd, e2e)
      else (Metrics.perLayer, perLayer(args, tracer, timed))
    if (args.trace) {
      val out = args.root.resolve("perfbench").resolve("out")
        .resolve(s"spans-${args.workload}-seed${args.seed}.jsonl")
      tracer.writeJsonLines(out)
      say(s"spans written to ${args.root.relativize(out)}")
    }
    val body = defs.map { m =>
      s""""${m.name}": {"value": ${fmt(metrics(m.name))}, "unit": "${m.unit}"}"""
    }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
    0
  }

  /** Per-layer self time of every span in a pass, by span name. */
  private def reportPass(tracer: Tracer, pass: Int): Unit = {
    val spans = tracer.ofPass(pass)
    val passSpan = tracer.all.filter(s => s.name == "pass" && s.pass == pass).last
    val self = spans.groupBy(_.name).view.mapValues(_.map(tracer.selfSeconds).sum).toSeq.sortBy(_._1)
    val covered = spans.filter(s => tracer.children(s).isEmpty).map(_.seconds).sum / passSpan.seconds
    say(f"pass $pass: wall ${passSpan.seconds}%.3f s, layer spans cover ${100 * covered}%.1f%%" +
      (if (covered >= 0.9) "" else " (BELOW 90%)"))
    self.foreach { case (n, s) => say(f"  self $n%-22s $s%.3f s") }
  }

  private def endToEnd(args: Args, tracer: Tracer, setup: Seq[Double], timed: Seq[PassRecord],
                       attempted: Int, failed: Int): Map[String, Double] = {
    val rss = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    val m = mutable.LinkedHashMap(
      "setup_s" -> median(setup),
      "pass_s" -> median(timed.map(_.seconds)),
      "edges_per_s" -> median(timed.map(_.numbers.getOrElse("edges_per_s", Double.NaN))),
      "peak_rss_mb" -> rss,
      "error_rate" -> failed.toDouble / attempted)
    if (args.workload == "update_stream") {
      val batches = timed.flatMap(r => tracer.ofPass(r.pass).filter(_.name == "batch").map(_.seconds))
      val ops = timed.map(_.numbers.getOrElse("stream.ops", 0.0)).sum
      val (p, tail) = Metrics.tail(batches)
      m("updates_per_s") = ops / batches.sum
      m("batch_latency_p50_s") = median(batches)
      m("batch_latency_tail_s") = tail
      say(s"batch_latency_tail_s is the p$p of ${batches.size} timed batches")
    }
    say(s"${args.workload} seed ${args.seed}: ${timed.size} timed passes, " +
      s"${setup.size} set-ups, $attempted attempted, $failed failed")
    val units = (Metrics.endToEnd ++ Metrics.readableEndToEnd).map(d => d.name -> d.unit).toMap
    m.foreach { case (k, v) => say(f"$k%-22s ${fmt(v)} ${units(k)}") }
    m.toMap
  }

  /** Every per-layer number of the workload, printed with its unit; the
    * result JSON takes the BENCHMARK.json subset. */
  private def perLayer(args: Args, tracer: Tracer, timed: Seq[PassRecord]): Map[String, Double] = {
    val rows = mutable.LinkedHashMap.empty[String, (Double, MetricDef)]
    def put(d: MetricDef, v: Double): Unit = rows(d.name) = (v, d)
    def secs(name: String) = MetricDef(name, "s")
    val first = timed.head
    def passSpan(p: Int) = tracer.all.filter(s => s.name == "pass" && s.pass == p).last
    def leaves(p: Int) = tracer.ofPass(p).filter(s => tracer.children(s).isEmpty)
    // per pass and layer call: (seconds, counters, driver wait seconds)
    val calls = timed.map { r =>
      r.pass -> leaves(r.pass).groupBy(_.name).map { case (n, ss) =>
        val c = new Counters
        ss.foreach(s => c.add(tracer.counters(s)))
        n -> (ss.map(_.seconds).sum, c, ss.map(_.seconds).sum - c.stageBusySeconds)
      }
    }.toMap

    Seq("matching.setup", "stream.setup").foreach { n =>
      val xs = tracer.all.filter(s => s.pass == -1 && s.name == n).map(_.seconds)
      if (xs.nonEmpty) put(secs(n + "_s"), median(xs))
    }
    // counts come from the first timed pass, a fixed point in every run, so
    // they repeat exactly for a seed whatever the number of passes
    calls(first.pass).keys.toSeq.sorted.foreach { call =>
      val per = timed.map(r => calls(r.pass)(call))
      val c0 = per.head._2
      if (call == "matching.apply" || call == "stream.apply") {
        val layer = call.takeWhile(_ != '.')
        val batches = timed.flatMap(r => tracer.ofPass(r.pass).filter(_.name == call).map(_.seconds))
        put(secs(s"$layer.batch_s_p50"), median(batches))
        put(secs(s"$layer.batch_s_max"), batches.max)
      } else put(secs(call + "_s"), median(per.map(_._1)))
      put(MetricDef(s"$call.jobs", "count"), c0.jobs.toDouble)
      put(MetricDef(s"$call.tasks", "count"), c0.tasks.toDouble)
      put(secs(s"$call.executor_s"), median(per.map(_._2.executorMs / 1e3)))
      put(secs(s"$call.driver_wait_s"), median(per.map(_._3)))
      put(MetricDef(s"$call.shuffle_write_bytes", "bytes"), c0.shuffleWriteBytes.toDouble)
      put(MetricDef(s"$call.spill_bytes", "bytes"), c0.spillBytes.toDouble)
    }
    Metrics.passNumbers.foreach { d =>
      if (first.numbers.contains(d.name))
        put(d, if (d.unit == "ms") median(timed.map(_.numbers(d.name))) else first.numbers(d.name))
    }

    val totals = timed.map { r =>
      val c = new Counters
      calls(r.pass).values.foreach(x => c.add(x._2))
      (c, calls(r.pass).values.map(_._3).sum,
        leaves(r.pass).map(_.seconds).sum / passSpan(r.pass).seconds)
    }
    val t = Metrics.trace.map(d => d.name -> d).toMap
    put(t("trace.pass_s"), median(timed.map(_.seconds)))
    put(t("trace.jobs"), totals.head._1.jobs.toDouble)
    put(t("trace.tasks"), totals.head._1.tasks.toDouble)
    put(t("trace.executor_s"), median(totals.map(_._1.executorMs / 1e3)))
    put(t("trace.driver_wait_s"), median(totals.map(_._2)))
    put(t("trace.shuffle_write_bytes"), totals.head._1.shuffleWriteBytes.toDouble)
    put(t("trace.spill_bytes"), totals.head._1.spillBytes.toDouble)
    put(t("trace.span_coverage"), totals.map(_._3).min)

    say(s"${args.workload} seed ${args.seed}: per-layer numbers over ${timed.size} timed passes " +
      "(times are medians; counts and bytes are the first timed pass's)")
    rows.foreach { case (n, (v, d)) =>
      say(f"$n%-34s ${fmt(v)} ${d.unit}${if (d.exact) " (exact)" else ""}")
    }
    if (rows("trace.span_coverage")._1 < 0.9) say("layer spans cover less than 90% of a pass")
    Metrics.perLayer.map(d => d.name -> rows.get(d.name).map(_._1).getOrElse(0.0)).toMap
  }
}
