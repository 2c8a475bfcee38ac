package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

import scala.collection.mutable

/** Spans around the benchmark's own calls into each layer, kept in memory
  * and written once at exit. A span's id doubles as the Spark job group of
  * the work it triggers, so [[SparkCounts]] attributes jobs, stages and
  * tasks to the innermost open span. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

final class Tracer(val sc: SparkContext) {
  private val done = mutable.ArrayBuffer[Span]()
  private var open: List[(Int, String)] = Nil
  private var nextId = 1

  def spans: Seq[Span] = done.toSeq

  def span[T](name: String, op: Int)(f: => T): T = {
    val id = nextId; nextId += 1
    val parent = open.headOption.map(_._1).getOrElse(0)
    open = (id, name) :: open
    sc.setJobGroup(s"span-$id", name, interruptOnCancel = false)
    val start = System.nanoTime()
    try f
    finally {
      done += Span(id, name, parent, op, start, System.nanoTime())
      open = open.tail
      open.headOption match {
        case Some((pid, pname)) =>
          sc.setJobGroup(s"span-$pid", pname, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  def write(file: java.nio.file.Path): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val arr = mapper.createArrayNode()
    done.foreach { s =>
      arr.addObject().put("id", s.id).put("name", s.name)
        .put("parent", s.parent).put("op", s.op)
        .put("start_ns", s.startNs).put("end_ns", s.endNs)
    }
    java.nio.file.Files.createDirectories(file.getParent)
    mapper.writerWithDefaultPrettyPrinter().writeValue(file.toFile, arr)
  }
}

object Trace {

  /** Self time: the span's duration minus the part of its interval that
    * its children cover (overlapping children are counted once). */
  def selfSeconds(span: Span, children: Seq[Span]): Double = {
    val clipped = children
      .map(c => (math.max(c.startNs, span.startNs), math.min(c.endNs, span.endNs)))
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    (span.endNs - span.startNs - covered) / 1e9
  }

  /** Wall time covered by a set of intervals (nanoseconds), overlaps once. */
  def unionSeconds(intervals: Seq[(Long, Long)]): Double = {
    if (intervals.isEmpty) 0.0
    else {
      val lo = intervals.map(_._1).min; val hi = intervals.map(_._2).max
      val whole = Span(0, "", 0, 0, lo, hi)
      whole.seconds - selfSeconds(whole,
        intervals.map { case (s, e) => Span(0, "", 0, 0, s, e) })
    }
  }

  /** The tail rule: the highest nearest-rank percentile that still has at
    * least ten samples above it. None below 20 samples, where that
    * percentile would fall under the median. Returns (percentile, value). */
  def tail(samples: Seq[Double]): Option[(Double, Double)] = {
    val n = samples.size
    if (n < 20) None
    else {
      val sorted = samples.sorted
      Some((100.0 * (n - 10) / n, sorted(n - 11)))
    }
  }

  final case class Scan(rows: Long, files: Long, bytes: Long)

  /** What the leaf scans of an executed plan read, from their SQL metrics:
    * rows out of the scan, files read and their bytes (the latter two are
    * 0 for a scan that reads no files, such as an in-memory one). */
  def scanFigures(plan: SparkPlan): Scan = {
    def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
      case q: QueryStageExec => leaves(q.plan)
      case _ if p.children.isEmpty => Seq(p)
      case _ => p.children.flatMap(leaves)
    }
    val ls = leaves(plan)
    def sum(key: String): Long = ls.flatMap(_.metrics.get(key)).map(_.value).sum
    Scan(sum("numOutputRows"), sum("numFiles"), sum("filesSize"))
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** Per-span Spark counters from a listener, keyed by job group. */
final class SparkCounts extends SparkListener {
  final class Acc {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var schedWaitMs = 0L; var runMs = 0L; var gcMs = 0L
    var shuffleBytes = 0L
  }
  private val byGroup = mutable.Map[String, Acc]()
  private val stageGroup = mutable.Map[Int, String]()
  private val stageSubmit = mutable.Map[Int, Long]()
  @volatile private var drained = Set.empty[Int]

  private def acc(g: String): Acc = byGroup.getOrElseUpdate(g, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    acc(g).jobs += 1
    e.stageIds.foreach(s => stageGroup(s) = g)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    drained += e.jobId
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val id = e.stageInfo.stageId
      stageSubmit(id) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      acc(stageGroup.getOrElse(id, "")).stages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageGroup.getOrElse(e.stageId, ""))
    a.tasks += 1
    stageSubmit.get(e.stageId).foreach(s =>
      a.schedWaitMs += math.max(0L, e.taskInfo.launchTime - s))
    Option(e.taskMetrics).foreach { m =>
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
    }
  }

  def forSpans(ids: Seq[Int]): Acc = synchronized {
    val out = new Acc
    ids.flatMap(i => byGroup.get(s"span-$i")).foreach { a =>
      out.jobs += a.jobs; out.stages += a.stages; out.tasks += a.tasks
      out.schedWaitMs += a.schedWaitMs; out.runMs += a.runMs
      out.gcMs += a.gcMs; out.shuffleBytes += a.shuffleBytes
    }
    out
  }

  /** Listener events arrive asynchronously: run a marker job and wait
    * until its end event has been delivered, so every earlier event has. */
  def drain(sc: SparkContext): Unit = {
    sc.clearJobGroup()
    val before = System.nanoTime()
    val id = sc.submitJob(sc.parallelize(Seq(1), 1),
      (it: Iterator[Int]) => it.size, Seq(0), (_: Int, _: Int) => (), ())
      .jobIds.head
    while (!drained.contains(id) && System.nanoTime() - before < 30e9.toLong)
      Thread.sleep(5)
  }
}
