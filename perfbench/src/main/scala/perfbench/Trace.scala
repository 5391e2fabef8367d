package perfbench

import scala.collection.mutable

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._

/** One timed region at a layer boundary. `pass` is -1 during set-up. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long, parent: Int, pass: Int) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one span's job group. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var executorMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  /** (submitted, completed) epoch-ms of every stage that ran */
  val stages = mutable.ArrayBuffer.empty[(Long, Long)]

  def add(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; executorMs += o.executorMs
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    stages ++= o.stages
  }

  /** Seconds in which at least one stage of this group was running. */
  def stageBusySeconds: Double = {
    var busy = 0L
    var end = Long.MinValue
    stages.sortBy(_._1).foreach { case (s, e) =>
      if (e > end) { busy += e - math.max(s, end); end = e }
    }
    busy / 1e3
  }
}

/** Attributes jobs, tasks and stages to the job group that was set when
  * each job started. */
final class LayerListener extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val groups = mutable.Map.empty[String, Counters]

  private def acc(g: String): Counters = groups.getOrElseUpdate(g, new Counters)

  def of(group: String): Counters = synchronized(groups.getOrElse(group, new Counters))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    acc(g).jobs += 1
    e.stageIds.foreach(s => stageGroup(s) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime)
      acc(stageGroup.getOrElse(i.stageId, "")).stages += ((s, c))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageGroup.getOrElse(e.stageId, ""))
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.executorMs += m.executorRunTime
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}

/** Spans at the benchmark's calls into each layer, kept in memory. With
  * tracing on, every span also runs under a Spark job group of its own, and
  * a listener counts the work each group did. With tracing off only the
  * span clock runs, which is what the end-to-end metrics are read from. */
final class Tracer(sc: SparkContext, val traced: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0
  var pass: Int = -1

  private val listener: Option[LayerListener] =
    if (traced) { val l = new LayerListener; sc.addSparkListener(l); Some(l) } else None

  private def group(id: Int): String = s"perfbench-$id"

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    if (traced) sc.setJobGroup(group(id), name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try body
    finally {
      val done = Span(id, name, t0, System.nanoTime(), parent, pass)
      spans += done
      System.err.println(f"[perfbench] pass $pass%d $name%s ${done.seconds}%.3f s")
      open = open.tail
      if (traced) open.headOption match {
        case Some(p) => sc.setJobGroup(group(p), "", interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Seconds of `body`, recorded as a span. */
  def time(name: String)(body: => Unit): Double = {
    span(name)(body)
    spans.last.seconds
  }

  def all: Seq[Span] = spans.toSeq
  def ofPass(p: Int): Seq[Span] = spans.filter(_.pass == p).toSeq
  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq
  def selfSeconds(s: Span): Double = s.seconds - children(s).map(_.seconds).sum

  /** Counters of a span and every span nested in it (tracing on only). */
  def counters(s: Span): Counters = {
    val c = new Counters
    listener.foreach { l =>
      PerfbenchBus.drain(sc)
      def walk(x: Span): Unit = { c.add(l.of(group(x.id))); children(x).foreach(walk) }
      walk(s)
    }
    c
  }

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""parent":${s.parent},"pass":${s.pass}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
