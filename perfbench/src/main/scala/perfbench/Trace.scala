package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One closed interval at a layer boundary. `parent` is 0 for a root. */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long,
                      runId: String, thread: String) {
  def durNs: Long = endNs - startNs
}

/** Span recorder for the traced run. Every call into a layer's public
  * functions is wrapped in [[span]]; while tracing is on, the span name is
  * also set as the thread's only Spark job tag, so [[SparkCounters]] can
  * attribute every job, stage, task and SQL execution to the innermost
  * span that caused it. Worker threads started inside a span (the
  * resumable runner's partition pool) inherit both the span parent and the
  * job tag. With tracing off, [[span]] only runs its body. */
final class Tracer(sc: SparkContext, val runId: String, @volatile var enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(1)
  private val stack = new InheritableThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.getAndIncrement()
      val outer = stack.get
      val outerTags = sc.getJobTags()
      stack.set(id :: outer)
      sc.clearJobTags()
      sc.addJobTag(Tracer.TagPrefix + name)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(outer)
        sc.clearJobTags()
        outerTags.foreach(sc.addJobTag)
        spans.add(Span(id, outer.headOption.getOrElse(0L), name, t0, t1, runId,
          Thread.currentThread.getName))
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** Self time: a span's duration minus the union of its children's
    * intervals (children may overlap when they run on worker threads). */
  def selfNs(s: Span, children: Seq[Span]): Long = {
    val iv = children.map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curA = Long.MinValue; var curB = Long.MinValue
    for ((a, b) <- iv) {
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    s.durNs - covered
  }

  /** The span tree as JSON lines: name, start/end (ns, relative to the
    * first span), parent, run id, self time. */
  def toJsonLines: Seq[String] = {
    val ss = all
    val t0 = ss.headOption.map(_.startNs).getOrElse(0L)
    val byParent = ss.groupBy(_.parent)
    ss.map { s =>
      val self = selfNs(s, byParent.getOrElse(s.id, Nil))
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.startNs - t0},""" +
        s""""end_ns":${s.endNs - t0},"self_ns":$self,"run":"${s.runId}","thread":"${s.thread}"}"""
    }
  }
}

object Tracer {
  val TagPrefix = "pb:"
  /** Jobs of streaming micro-batches run on the query's own thread and
    * carry its query id instead of a benchmark tag. */
  val StreamTag = "stream.query"
  val Untagged = "untagged"
}

/** Spark task counters summed per span tag; see [[Tracer]]. */
final class Counts {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskMs = 0L; var schedDelayMs = 0L; var planMs = 0L
  var shuffleWriteB = 0L; var shuffleReadB = 0L; var shuffleRecords = 0L
  var spillB = 0L; var peakExecMemB = 0L
  /** max ÷ median task duration of the worst stage */
  var taskSkew = 0.0
  /** max ÷ median records read per task (input plus shuffle) of the worst
    * stage: a hot key's rows all land in one task */
  var inputSkew = 0.0

  def add(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskMs += o.taskMs; schedDelayMs += o.schedDelayMs; planMs += o.planMs
    shuffleWriteB += o.shuffleWriteB; shuffleReadB += o.shuffleReadB
    shuffleRecords += o.shuffleRecords; spillB += o.spillB
    peakExecMemB = math.max(peakExecMemB, o.peakExecMemB)
    taskSkew = math.max(taskSkew, o.taskSkew)
    inputSkew = math.max(inputSkew, o.inputSkew)
  }
}

object Counts {
  /** max ÷ median, 0 for fewer than two values or a zero median */
  def skew(xs: collection.Seq[Long]): Double = {
    val sorted = xs.sorted
    val med = if (sorted.isEmpty) 0L else sorted(sorted.size / 2)
    if (sorted.size > 1 && med > 0) sorted.last.toDouble / med else 0.0
  }
}

/** Listener summing job/stage/task metrics per span tag. Read it only
  * after [[drain]], which waits on the listener bus itself. */
final class SparkCounters(sc: SparkContext) extends SparkListener {
  private val byTag = mutable.Map.empty[String, Counts]
  private val stageTag = mutable.Map.empty[Int, String]
  private val execTag = mutable.Map.empty[Long, String]
  /** per stage attempt: each task's duration and records read */
  private val stageTasks = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[(Long, Long)]]
  private var openJobs = Set.empty[Int]

  private def counts(tag: String): Counts = byTag.getOrElseUpdate(tag, new Counts)

  private def tagOf(props: java.util.Properties): String = {
    val tags = Option(props).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .toSeq.flatMap(_.split(","))
    tags.find(_.startsWith(Tracer.TagPrefix)).map(_.stripPrefix(Tracer.TagPrefix))
      .orElse(Option(props).flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
        .map(_ => Tracer.StreamTag))
      .getOrElse(Tracer.Untagged)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = tagOf(e.properties)
    openJobs += e.jobId
    counts(tag).jobs += 1
    e.stageIds.foreach(s => stageTag.getOrElseUpdate(s, tag))
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(_.toLongOption).foreach(id => execTag.getOrElseUpdate(id, tag))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { openJobs -= e.jobId }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val c = counts(stageTag.getOrElse(e.stageId, Tracer.Untagged))
      c.tasks += 1
      c.taskMs += m.executorRunTime
      val info = e.taskInfo
      c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      c.spillB += m.diskBytesSpilled
      c.peakExecMemB = math.max(c.peakExecMemB, m.peakExecutionMemory)
      stageTasks.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
        (info.duration -> (m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val c = counts(stageTag.getOrElse(si.stageId, Tracer.Untagged))
    c.stages += 1
    stageTasks.remove((si.stageId, si.attemptNumber())).foreach { ts =>
      c.taskSkew = math.max(c.taskSkew, Counts.skew(ts.map(_._1)))
      c.inputSkew = math.max(c.inputSkew, Counts.skew(ts.map(_._2)))
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      s.jobTags.find(_.startsWith(Tracer.TagPrefix))
        .foreach(t => execTag.getOrElseUpdate(s.executionId, t.stripPrefix(Tracer.TagPrefix)))
    }
    case end: SparkListenerSQLExecutionEnd => synchronized {
      val phasesMs = org.apache.spark.sql.PerfbenchSqlBridge.planningMs(end)
      counts(execTag.getOrElse(end.executionId, Tracer.Untagged)).planMs += phasesMs
    }
    case _ => ()
  }

  /** Block until every event posted so far has been delivered, then until
    * no job is still open (a job's end event is posted before its caller
    * returns, so the second wait is a guard, bounded at 30 s). */
  def drain(): Unit = {
    org.apache.spark.PerfbenchBridge.drainListenerBus(sc)
    val deadline = System.nanoTime() + 30000000000L
    while (synchronized(openJobs.nonEmpty) && System.nanoTime() < deadline) {
      Thread.sleep(5)
      org.apache.spark.PerfbenchBridge.drainListenerBus(sc)
    }
  }

  def snapshot(): Map[String, Counts] = synchronized {
    byTag.map { case (k, v) => val c = new Counts; c.add(v); k -> c }.toMap
  }

  def reset(): Unit = synchronized { byTag.clear() }
}
