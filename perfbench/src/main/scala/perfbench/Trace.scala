package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Scheduler and executor counters, summed over the jobs of one job group
  * (one span) or over a whole pass. Times in ms (cpu in ns), sizes in bytes. */
final class Counters {
  var jobs, stages, stagesSkipped, tasks, tasksFailed = 0L
  var taskRunMs, taskCpuNs, gcMs = 0L
  var shuffleRead, shuffleWrite, spill, input = 0L
  var maxTaskShuffleRead, peakExecMem = 0L
  /** Jobs whose result stage is a treeReduce/treeAggregate: one per
    * round of a driver-state loop such as SGD. */
  var treeJobs = 0L

  def copy: Counters = { val c = new Counters; c.add(this); c }

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; stagesSkipped += o.stagesSkipped
    tasks += o.tasks; tasksFailed += o.tasksFailed
    taskRunMs += o.taskRunMs; taskCpuNs += o.taskCpuNs; gcMs += o.gcMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill; input += o.input; treeJobs += o.treeJobs
    maxTaskShuffleRead = math.max(maxTaskShuffleRead, o.maxTaskShuffleRead)
    peakExecMem = math.max(peakExecMem, o.peakExecMem)
  }

  /** this − earlier, for the additive counters. Maxima cannot be
    * differenced, so the listener resets them at every pass start. */
  def minus(o: Counters): Counters = {
    val c = copy
    c.jobs -= o.jobs; c.stages -= o.stages; c.stagesSkipped -= o.stagesSkipped
    c.tasks -= o.tasks; c.tasksFailed -= o.tasksFailed
    c.taskRunMs -= o.taskRunMs; c.taskCpuNs -= o.taskCpuNs; c.gcMs -= o.gcMs
    c.shuffleRead -= o.shuffleRead; c.shuffleWrite -= o.shuffleWrite
    c.spill -= o.spill; c.input -= o.input; c.treeJobs -= o.treeJobs
    c
  }
}

/** The benchmark's own scheduler listener. Every job is attributed to
  * the job group open when it started, which the [[Tracer]] sets to the
  * path of the innermost open span. */
final class SchedulerCounters extends SparkListener {
  private val byGroup = mutable.Map.empty[String, Counters]
  private val groupOfStage = mutable.Map.empty[Int, String]
  private val jobStages = mutable.Map.empty[Int, Seq[Int]]
  private val jobGroup = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val submitted = mutable.Set.empty[Int]
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

  private def of(group: String): Counters = byGroup.getOrElseUpdate(group, new Counters)
  private def ofStage(stageId: Int): Counters = of(groupOfStage.getOrElse(stageId, ""))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    val stages = e.stageInfos.map(_.stageId)
    stages.foreach(s => groupOfStage.getOrElseUpdate(s, group))
    jobStages(e.jobId) = stages
    jobGroup(e.jobId) = group
    jobStart(e.jobId) = e.time
    val c = of(group)
    c.jobs += 1
    if (e.stageInfos.nonEmpty) {
      val resultStage = e.stageInfos.maxBy(_.stageId).name
      if (resultStage.startsWith("treeReduce") || resultStage.startsWith("treeAggregate"))
        c.treeJobs += 1
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    submitted += e.stageInfo.stageId
    ofStage(e.stageInfo.stageId).stages += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val stages = jobStages.remove(e.jobId).getOrElse(Nil)
    val group = jobGroup.remove(e.jobId).getOrElse("")
    of(group).stagesSkipped += stages.count(s => !submitted(s))
    jobStart.remove(e.jobId).foreach(t0 => intervals += ((t0, e.time)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = ofStage(e.stageId)
    c.tasks += 1
    if (e.taskInfo != null && e.taskInfo.failed) c.tasksFailed += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskRunMs += m.executorRunTime
      c.taskCpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      val sr = m.shuffleReadMetrics.totalBytesRead
      c.shuffleRead += sr
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.diskBytesSpilled
      c.input += m.inputMetrics.bytesRead
      c.maxTaskShuffleRead = math.max(c.maxTaskShuffleRead, sr)
      c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
    }
  }

  def snapshot(): Map[String, Counters] = synchronized {
    byGroup.map { case (g, c) => g -> c.copy }.toMap
  }

  /** Starts a new interval record and per-pass maxima. */
  def resetPass(): Unit = synchronized {
    intervals.clear()
    byGroup.values.foreach { c => c.maxTaskShuffleRead = 0L; c.peakExecMem = 0L }
  }

  /** Time in ms covered by at least one job since [[resetPass]]. */
  def jobUnionMs(): Long = synchronized {
    var covered = 0L
    var end = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (e > end) { covered += e - math.max(s, end); end = e }
    }
    covered
  }
}

/** Catalyst phase times, read from each finished query's planning tracker. */
final class SqlCounters extends QueryExecutionListener {
  var executions, analysisMs, optimizationMs, planningMs = 0L

  private def record(qe: QueryExecution): Unit = synchronized {
    executions += 1
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
    analysisMs += ms("analysis")
    optimizationMs += ms("optimization")
    planningMs += ms("planning")
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  def snapshot(): Array[Long] = synchronized(Array(executions, analysisMs, optimizationMs, planningMs))
}

/** One closed span: `path` is its name prefixed by its parents' names. */
final case class Span(name: String, path: String, parent: String, pass: Int,
    startMs: Double, endMs: Double, planOnly: Boolean)

/** What the traced part of one pass measured. */
final case class PassTrace(wallS: Double, total: Counters, spans: Map[String, (Double, Counters)],
    notes: Map[String, Double], sql: Array[Long], jobUnionS: Double)

/**
 * Spans around the benchmark's calls into the engine's public
 * functions, plus the listeners that attribute Spark work to them.
 * The listeners are registered for traced passes only; outside them a
 * span is a plain call that sets no job group.
 */
final class Tracer(spark: SparkSession, enabled: Boolean) {
  private val sc = spark.sparkContext
  private val sched = new SchedulerCounters
  private val sql = new SqlCounters
  private val stack = mutable.Stack.empty[String]
  private val spanTimes = mutable.LinkedHashMap.empty[String, Double]
  private val notes = mutable.LinkedHashMap.empty[String, Double]
  val spans = mutable.ArrayBuffer.empty[Span]
  private val t0 = System.nanoTime()
  private var pass = 0
  private var active = false

  private def nowMs = (System.nanoTime() - t0) / 1e6

  /** Runs `body` as span `name`. Jobs it starts carry the span path as
    * their job group. `planOnly` marks a lazy call whose span covers
    * plan building only: its jobs run, and are counted, in the span of
    * the action that consumes its output. */
  def span[T](name: String, planOnly: Boolean = false)(body: => T): T = {
    if (!active) return body
    val parent = stack.headOption.getOrElse("")
    val path = if (parent.isEmpty) name else s"$parent/$name"
    stack.push(path)
    sc.setJobGroup(path, name, interruptOnCancel = false)
    val start = nowMs
    try body
    finally {
      val end = nowMs
      stack.pop()
      if (stack.isEmpty) sc.clearJobGroup() else sc.setJobGroup(stack.head, stack.head, false)
      spans += Span(name, path, parent, pass, start, end, planOnly)
      spanTimes(name) = spanTimes.getOrElse(name, 0.0) + (end - start) / 1e3
    }
  }

  /** Whether a span named `name` is open. */
  def inside(name: String): Boolean = stack.headOption.exists(_.split('/').contains(name))

  /** A per-pass value read from the engine's public state (rounds). */
  def note(name: String, value: Double): Unit =
    if (active) notes(name) = notes.getOrElse(name, 0.0) + value

  private var before: Map[String, Counters] = Map.empty
  private var sqlBefore: Array[Long] = Array.fill(4)(0L)

  /** Opens a pass; `traced = false` runs it without spans or listeners. */
  def beginPass(traced: Boolean): Unit = {
    active = enabled && traced
    if (active) {
      sc.addSparkListener(sched)
      spark.listenerManager.register(sql)
      PerfbenchBus.drain(sc)
      sched.resetPass()
      before = sched.snapshot()
      sqlBefore = sql.snapshot()
      spanTimes.clear(); notes.clear()
      pass += 1
    }
  }

  def endPass(wallS: Double): Option[PassTrace] = {
    if (!active) return None
    active = false
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(sched)
    spark.listenerManager.unregister(sql)
    val after = sched.snapshot()
    val delta = after.map { case (g, c) => g -> before.get(g).map(c.minus).getOrElse(c) }
    val total = new Counters
    delta.values.foreach(total.add)
    // a span's counters include those of the spans nested inside it
    val perSpan = spanTimes.map { case (name, secs) =>
      val c = new Counters
      delta.foreach { case (g, gc) =>
        if (g.split('/').contains(name)) c.add(gc)
      }
      name -> (secs, c)
    }.toMap
    val sqlNow = sql.snapshot()
    Some(PassTrace(wallS, total, perSpan, notes.toMap,
      sqlNow.zip(sqlBefore).map { case (a, b) => a - b }, sched.jobUnionMs() / 1e3))
  }

}
