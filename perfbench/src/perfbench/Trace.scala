package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One benchmark-side span: a call the benchmark made into a layer's
  * public function. `op` names the query or mutation; `attrs` carries
  * the query shape and phase.
  */
final case class Span(id: Long, parent: Long, name: String, op: String,
                      attrs: Map[String, String], startMs: Double, endMs: Double,
                      thread: String) {
  def ms: Double = endMs - startMs
}

/** One Spark job, attributed to the span whose id was the submitting
  * thread's `perfbench.span` local property. `warm` marks jobs run by
  * LucyStore's background warm thread: that thread copies the local
  * properties of the thread that created it, so it is created under a
  * marker value (`Tracer.asWarmThread`) and its jobs are never charged to
  * a span.
  */
final case class Job(id: Int, span: Long, warm: Boolean, startMs: Long, stageIds: Seq[Int]) {
  @volatile var endMs: Long = -1L
}

/** Task totals of one stage. */
final class StageAgg {
  var submitMs: Long = -1L
  var tasks: Long = 0L
  var cpuNs: Long = 0L
  var gcMs: Long = 0L
  var shuffleWrite: Long = 0L
  var spill: Long = 0L
  var waitMs: Long = 0L
}

/** Spans plus a SparkListener. Disabled (the untraced run), `span` is a
  * plain call: no local property, no listener, nothing recorded.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) extends SparkListener {
  private val SpanKey = "perfbench.span"
  private val WarmMarker = "warm"
  private val ids = new AtomicLong(0L)
  private val spanBuf = new ConcurrentLinkedQueue[Span]()
  private val parentOf = new ThreadLocal[Long] { override def initialValue(): Long = 0L }
  private val jobMap = TrieMap[Int, Job]()
  private val stageMap = TrieMap[Int, StageAgg]()
  private val stageJob = TrieMap[Int, Int]()
  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()

  /** Wall clock in epoch ms at nanoTime resolution (Spark's event times
    * are epoch ms). */
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  if (enabled) sc.addSparkListener(this)

  def span[T](name: String, op: String = "", attrs: Map[String, String] = Map.empty,
              parent: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val p = if (parent >= 0) parent else parentOf.get
      val prevParent = parentOf.get
      val prevProp = sc.getLocalProperty(SpanKey)
      parentOf.set(id)
      sc.setLocalProperty(SpanKey, id.toString)
      val t0 = nowMs
      try body
      finally {
        spanBuf.add(Span(id, p, name, op, attrs, t0, nowMs, Thread.currentThread.getName))
        parentOf.set(prevParent)
        sc.setLocalProperty(SpanKey, prevProp)
      }
    }

  /** Runs `body` with the span property set to the warm-thread marker:
    * a thread it creates inherits the marker, and its jobs count as warm
    * jobs. */
  def asWarmThread[T](body: => T): T = {
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, WarmMarker)
    try body finally sc.setLocalProperty(SpanKey, prev)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val prop = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
    val warm = prop.contains(WarmMarker)
    jobMap(e.jobId) = Job(e.jobId, if (warm) 0L else prop.map(_.toLong).getOrElse(0L),
      warm, e.time, e.stageIds)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobMap.get(e.jobId).foreach(_.endMs = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageMap.getOrElseUpdate(e.stageInfo.stageId, new StageAgg).submitMs =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stageMap.getOrElseUpdate(e.stageId, new StageAgg)
    s.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
    if (s.submitMs >= 0) s.waitMs += math.max(0L, e.taskInfo.launchTime - s.submitMs)
  }

  // ---- analysis (after `drain`) ----

  def drain(): Unit = if (enabled) org.apache.spark.perfbenchaccess.Bus.drain(sc)

  lazy val spans: Seq[Span] = spanBuf.asScala.toSeq.sortBy(_.startMs)
  lazy val jobs: Seq[Job] = jobMap.values.toSeq.sortBy(_.id)
  private lazy val children: Map[Long, Seq[Span]] = spans.groupBy(_.parent)
  private lazy val jobsBySpan: Map[Long, Seq[Job]] = jobs.filterNot(_.warm).groupBy(_.span)

  def named(name: String): Seq[Span] = spans.filter(_.name == name)

  /** The span and all its descendants. */
  def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(subtree)

  /** Jobs submitted under the span or any descendant (warm jobs never). */
  def jobsUnder(s: Span): Seq[Job] = subtree(s).flatMap(x => jobsBySpan.getOrElse(x.id, Nil))

  def warmJobs: Seq[Job] = jobs.filter(_.warm)

  def stageTotals(js: Seq[Job]): StageAgg = {
    val out = new StageAgg
    val ids = js.map(_.id).toSet
    stageJob.iterator.filter { case (_, j) => ids(j) }.foreach { case (sid, _) =>
      stageMap.get(sid).foreach { s =>
        out.tasks += s.tasks; out.cpuNs += s.cpuNs; out.gcMs += s.gcMs
        out.shuffleWrite += s.shuffleWrite; out.spill += s.spill; out.waitMs += s.waitMs
      }
    }
    out
  }

  private def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var a0 = Double.NaN
    var b0 = Double.NaN
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (a0.isNaN || a > b0) { if (!a0.isNaN) total += b0 - a0; a0 = a; b0 = b }
      else b0 = math.max(b0, b)
    }
    if (!a0.isNaN) total += b0 - a0
    total
  }

  /** Span time covered by its jobs (interval union, clipped to the span). */
  def jobCoveredMs(s: Span): Double =
    unionMs(jobsUnder(s).filter(_.endMs >= 0)
      .map(j => (math.max(j.startMs.toDouble, s.startMs), math.min(j.endMs.toDouble, s.endMs))))

  /** Busy time of a job set: union of their [start, end] intervals. */
  def busyMs(js: Seq[Job]): Double =
    unionMs(js.filter(_.endMs >= 0).map(j => (j.startMs.toDouble, j.endMs.toDouble)))

  def selfMs(s: Span): Double = s.ms - jobCoveredMs(s)

  /** Spans and jobs as JSON lines. */
  def write(path: java.nio.file.Path): Unit = if (enabled) {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val lines = spans.map { s =>
      val attrs = s.attrs.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString(",")
      s"""{"span":${s.id},"parent":${s.parent},"name":${q(s.name)},"op":${q(s.op)},""" +
        s""""attrs":{$attrs},"start_ms":${s.startMs},"end_ms":${s.endMs},"self_ms":${selfMs(s)},""" +
        s""""thread":${q(s.thread)},"jobs":[${jobsBySpan.getOrElse(s.id, Nil).map(_.id).mkString(",")}]}"""
    } ++ jobs.map { j =>
      s"""{"job":${j.id},"span":${j.span},"warm":${j.warm},"start_ms":${j.startMs},"end_ms":${j.endMs}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}
