package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable.ArrayBuffer

/** One completed stage: wall interval (epoch ms) and its task times. */
final case class StageRec(submitMs: Long, completeMs: Long, taskMs: Seq[Long])

/** Cumulative Spark counters at one instant; `stageIdx` is how many
  * [[StageRec]]s the listener held, so two snapshots bracket the
  * stages that completed between them.
  */
final case class Counts(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    inputBytes: Long = 0, inputRecords: Long = 0, scanTaskMs: Long = 0,
    shuffleWriteBytes: Long = 0, shuffleReadBytes: Long = 0,
    fetchWaitMs: Long = 0, spillBytes: Long = 0,
    cpuNs: Long = 0, runMs: Long = 0, gcMs: Long = 0,
    stageIdx: Int = 0) {
  def -(o: Counts): Counts = Counts(
    jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    inputBytes - o.inputBytes, inputRecords - o.inputRecords, scanTaskMs - o.scanTaskMs,
    shuffleWriteBytes - o.shuffleWriteBytes, shuffleReadBytes - o.shuffleReadBytes,
    fetchWaitMs - o.fetchWaitMs, spillBytes - o.spillBytes,
    cpuNs - o.cpuNs, runMs - o.runMs, gcMs - o.gcMs)
}

/** SparkListener that keeps running totals; registered only in traced
  * runs, so untraced timings carry no listener cost.
  */
final class LayerListener(sc: SparkContext) extends SparkListener {
  private var c = Counts()
  private val stageRecs = ArrayBuffer[StageRec]()
  private val taskMs = scala.collection.mutable.HashMap[Int, ArrayBuffer[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    c = c.copy(jobs = c.jobs + 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    taskMs.getOrElseUpdate(e.stageId, ArrayBuffer[Long]()) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      val in = m.inputMetrics.bytesRead
      c = c.copy(
        tasks = c.tasks + 1,
        inputBytes = c.inputBytes + in,
        inputRecords = c.inputRecords + m.inputMetrics.recordsRead,
        scanTaskMs = c.scanTaskMs + (if (in > 0) m.executorRunTime else 0L),
        shuffleWriteBytes = c.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
        shuffleReadBytes = c.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
        fetchWaitMs = c.fetchWaitMs + m.shuffleReadMetrics.fetchWaitTime,
        spillBytes = c.spillBytes + m.diskBytesSpilled,
        cpuNs = c.cpuNs + m.executorCpuTime,
        runMs = c.runMs + m.executorRunTime,
        gcMs = c.gcMs + m.jvmGCTime)
    } else c = c.copy(tasks = c.tasks + 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val ts = taskMs.remove(si.stageId).map(_.toSeq).getOrElse(Seq.empty)
    stageRecs += StageRec(si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L), ts)
    c = c.copy(stages = c.stages + 1)
  }

  /** Totals after every event posted so far has been delivered. */
  def snapshot(): Counts = {
    org.apache.spark.perfbench.BusDrain(sc)
    synchronized(c.copy(stageIdx = stageRecs.size))
  }

  def stagesBetween(a: Counts, b: Counts): Seq[StageRec] =
    synchronized(stageRecs.slice(a.stageIdx, b.stageIdx).toSeq)
}

/** A span around one call into a layer. Times are nanoTime; the wall
  * (epoch ms) bounds line spans up with stage intervals.
  */
final case class Span(
    id: Int, name: String, parent: Int, op: Int, pass: Int,
    startNs: Long, endNs: Long, wallStartMs: Long, wallEndMs: Long,
    delta: Counts, stages: Seq[StageRec], attrs: Map[String, Double]) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Collects spans in memory while a traced pass runs. With no listener
  * (untraced passes) every call is a plain pass-through.
  */
final class Tracer(listener: Option[LayerListener]) {
  val spans = ArrayBuffer[Span]()
  private var nextId = 0
  private var stack = List.empty[Int]
  private var curOp = -1
  var pass = 0

  def enabled: Boolean = listener.isDefined

  /** Root span of one timed operation. */
  def op[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      curOp = nextId
      span(name)(body)
    }

  def span[T](name: String)(body: => T): T =
    listener match {
      case None => body
      case Some(l) =>
        val id = nextId
        nextId += 1
        val parent = stack.headOption.getOrElse(-1)
        stack = id :: stack
        val c0 = l.snapshot()
        val w0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        try body
        finally {
          val t1 = System.nanoTime()
          val w1 = System.currentTimeMillis()
          val c1 = l.snapshot()
          stack = stack.tail
          spans += Span(id, name, parent, curOp, pass, t0, t1, w0, w1,
            c1 - c0, l.stagesBetween(c0, c1), Map.empty)
        }
    }

  /** Attach measured attributes (file counts) to the latest span named `name`. */
  def annotate(name: String, attrs: Map[String, Double]): Unit =
    if (enabled) spans.lastIndexWhere(_.name == name) match {
      case -1 =>
      case i => spans(i) = spans(i).copy(attrs = spans(i).attrs ++ attrs)
    }
}

object Trace {
  /** Length of the union of intervals, each clipped to [lo, hi]. */
  def unionMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Action wall time not covered by any of its stages: job submission,
    * planning done inside the action, result collection.
    */
  def gapMs(s: Span): Double =
    math.max(0.0, s.ms - unionMs(s.stages.map(r => (r.submitMs, r.completeMs)),
      s.wallStartMs, s.wallEndMs))

  /** max/median task time in the span's longest stage (1 with no tasks). */
  def skew(s: Span): Double =
    if (s.stages.isEmpty) 1.0
    else {
      val longest = s.stages.maxBy(r => r.completeMs - r.submitMs)
      val ts = longest.taskMs.sorted
      if (ts.isEmpty) 1.0
      else ts.last.toDouble / math.max(1L, ts(ts.size / 2)).toDouble
    }

  /** Self time per span name: duration minus the part its children cover. */
  def selfMs(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = unionMs(kids.getOrElse(s.id, Seq.empty).map(k => (k.startNs, k.endNs)),
          s.startNs, s.endNs)
        (s.endNs - s.startNs - covered) / 1e6
      }.sum
    }
  }
}
