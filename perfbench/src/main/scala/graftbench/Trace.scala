package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed interval around a call into a layer. Times are epoch
  * nanoseconds (see [[Clock]]); `parent` is 0 for a root span. */
final case class Span(id: Long, name: String, start: Long, end: Long,
                      parent: Long, run: String)

/** A monotonic clock in epoch nanoseconds, so spans (nanoTime) and
  * scheduler events (epoch millis) share one time base. */
object Clock {
  private val epochNs0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  def now(): Long = epochNs0 + (System.nanoTime() - nano0)
  def fromEpochMs(ms: Long): Long = ms * 1000000L
}

/** In-memory span recorder. Until enabled, [[span]] only runs its body:
  * untraced measurements pay nothing for it. */
final class Tracer(val run: String) {
  @volatile var enabled = false
  private val ids = new AtomicLong(1)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.getAndIncrement()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val t0 = Clock.now()
      try body
      finally {
        done.add(Span(id, name, t0, Clock.now(), parent, run))
        stack.set(stack.get.tail)
      }
    }

  /** Add an interval measured elsewhere (a streaming trigger, a call
    * on Spark's stream thread); returns its id, 0 when disabled. */
  def record(name: String, start: Long, end: Long, parent: Long): Long =
    if (!enabled) 0L
    else {
      val id = ids.getAndIncrement()
      done.add(Span(id, name, start, end, parent, run))
      id
    }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(s => (s.start, s.id))
}

/** Per-task facts from the scheduler, in the [[Clock]] time base. */
final case class TaskFacts(launch: Long, finish: Long, runMs: Long, cpuMs: Double,
                           gcMs: Long, schedDelayMs: Long, shuffleWrite: Long,
                           shuffleRead: Long, spill: Long, peakMem: Long)

/** Scheduler counts, kept in memory and attributed to spans afterwards
  * by time: the benchmark drives one call at a time, so the jobs,
  * stages and tasks that start inside a call's span belong to it. */
final class EngineListener extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[Long]()
  val stages = new ConcurrentLinkedQueue[Long]()
  val tasks = new ConcurrentLinkedQueue[TaskFacts]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.add(Clock.fromEpochMs(e.time))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stages.add(Clock.fromEpochMs(
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = e.taskMetrics
    if (m != null) {
      val duration = i.finishTime - i.launchTime
      val gettingResult =
        if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
      // the Spark UI's definition of scheduler delay
      val delay = math.max(0L, duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
      val sr = m.shuffleReadMetrics
      tasks.add(TaskFacts(Clock.fromEpochMs(i.launchTime), Clock.fromEpochMs(i.finishTime),
        m.executorRunTime, m.executorCpuTime / 1e6, m.jvmGCTime, delay,
        m.shuffleWriteMetrics.bytesWritten,
        sr.remoteBytesRead + sr.localBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory))
    }
  }

  /** What the scheduler did inside [start, end]. */
  def within(start: Long, end: Long): EngineCounts = {
    def in(t: Long) = t >= start && t <= end
    val ts = tasks.asScala.filter(t => in(t.launch)).toSeq
    EngineCounts(jobs.asScala.count(in), stages.asScala.count(in), ts)
  }
}

final case class EngineCounts(jobs: Int, stages: Int, tasks: Seq[TaskFacts]) {
  def runMs: Double = tasks.map(_.runMs).sum.toDouble
  def cpuMs: Double = tasks.map(_.cpuMs).sum
  def gcMs: Double = tasks.map(_.gcMs).sum.toDouble
  def schedDelayMs: Double = tasks.map(_.schedDelayMs).sum.toDouble
  def shuffleWrite: Double = tasks.map(_.shuffleWrite).sum.toDouble
  def shuffleRead: Double = tasks.map(_.shuffleRead).sum.toDouble
  def spill: Double = tasks.map(_.spill).sum.toDouble

  /** Wall time of [start, end] during which no task was running. */
  def idleMs(start: Long, end: Long): Double = {
    val iv = tasks.map(t => (math.max(t.launch, start), math.min(t.finish, end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    (end - start - covered) / 1e6
  }
}
