package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** One timed interval. Times are epoch milliseconds; `parent` is -1 for
  * the root span of a trace (one query or batch). */
final case class Span(trace: String, id: Int, parent: Int, name: String,
    startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** Spark-side events the benchmark's own listeners record while
  * `active`. Each carries the time used to attribute it to an operation. */
final case class JobEv(startMs: Long, endMs: Long)
final case class TaskEv(finishMs: Long, runMs: Long, cpuNs: Long, deserMs: Long,
    shuffleWrite: Long, shuffleRead: Long, fetchWaitMs: Long, spill: Long,
    inBytes: Long, inRows: Long)
final case class StageEv(endMs: Long)
final case class PlanEv(atMs: Long, phases: Map[String, Long])
final case class TriggerEv(startMs: Long, durations: Map[String, Long], inputRows: Long,
    stateRows: Long, stateCommitMs: Long)

/** Records spans from the harness and events from a SparkListener, a
  * QueryExecutionListener and a StreamingQueryListener. Spans stay in
  * memory until `writeSpans` at the end of the run. */
final class Tracer(spark: SparkSession) {
  @volatile var active = false
  private val wallOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
  def nowMs: Double = System.nanoTime() / 1e6 + wallOffsetMs

  val jobs = new ConcurrentLinkedQueue[JobEv]()
  val tasks = new ConcurrentLinkedQueue[TaskEv]()
  val stages = new ConcurrentLinkedQueue[StageEv]()
  val plans = new ConcurrentLinkedQueue[PlanEv]()
  val triggers = new ConcurrentLinkedQueue[TriggerEv]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (active) jobStarts.put(e.jobId, e.time)
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val s = jobStarts.remove(e.jobId)
      if (active && s != 0L) jobs.add(JobEv(s, e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (active) stages.add(StageEv(e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (active && e.taskMetrics != null) {
      val m = e.taskMetrics
      tasks.add(TaskEv(e.taskInfo.finishTime, m.executorRunTime, m.executorCpuTime,
        m.executorDeserializeTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.fetchWaitTime,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (active) plans.add(PlanEv(System.currentTimeMillis(),
        qe.tracker.phases.map { case (k, v) => k -> v.durationMs }))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = if (active) {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      triggers.add(TriggerEv(start,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows,
        p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.commitTimeMs).sum))
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  /** Waits until every posted listener event has been handled. */
  def drain(): Unit = org.apache.spark.graftbench.Drain(spark.sparkContext)

  // ---- spans --------------------------------------------------------
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var stack: List[Span] = Nil

  /** Times `body` as a span under the innermost open span. With no open
    * span it starts a new trace named `trace`. */
  def span[A](name: String, trace: String = "")(body: => A): A =
    if (!active) body
    else {
      val parent = stack.headOption
      val id = nextId; nextId += 1
      val open = Span(parent.map(_.trace).getOrElse(trace), id,
        parent.map(_.id).getOrElse(-1), name, nowMs, 0)
      stack = open :: stack
      try body
      finally {
        stack = stack.tail
        spans += open.copy(endMs = nowMs)
      }
    }

  def allSpans: Seq[Span] = spans.toSeq

  /** Adds one span per Spark job and per streaming trigger under the
    * root span whose interval holds it. */
  def attachSparkSpans(): Unit = {
    val roots = spans.filter(_.parent == -1).sortBy(_.startMs).toVector
    def rootAt(t: Double): Option[Span] = roots.find(r => r.startMs <= t && t <= r.endMs)
    jobs.asScala.toSeq.sortBy(_.startMs).foreach { j =>
      rootAt(j.startMs.toDouble).foreach { r =>
        val id = nextId; nextId += 1
        spans += Span(r.trace, id, innermost(r, j.startMs.toDouble), "spark.job",
          j.startMs.toDouble, j.endMs.toDouble)
      }
    }
    triggers.asScala.toSeq.foreach { t =>
      rootAt(t.startMs.toDouble).foreach { r =>
        val id = nextId; nextId += 1
        val end = t.startMs + t.durations.getOrElse("triggerExecution", 0L)
        spans += Span(r.trace, id, innermost(r, t.startMs.toDouble), "streaming.trigger",
          t.startMs.toDouble, end.toDouble)
      }
    }
  }

  /** The deepest harness span of trace `root` that holds time `t`. */
  private def innermost(root: Span, t: Double): Int = {
    val inTrace = spans.filter(s => s.trace == root.trace && s.name != "spark.job" &&
      s.name != "streaming.trigger" && s.startMs <= t && t <= s.endMs)
    if (inTrace.isEmpty) root.id else inTrace.maxBy(_.startMs).id
  }

  /** Self time per span name: duration minus the part of it covered by
    * the union of its children's intervals. Returns name -> (count, total ms, self ms). */
  def selfTimes(): Map[String, (Int, Double, Double)] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      val self = ss.map { s =>
        val kids = children.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0.0; var curA = Double.NaN; var curB = Double.NaN
        kids.foreach { case (a, b) =>
          if (curA.isNaN) { curA = a; curB = b }
          else if (a <= curB) curB = math.max(curB, b)
          else { covered += curB - curA; curA = a; curB = b }
        }
        if (!curA.isNaN) covered += curB - curA
        s.durMs - covered
      }.sum
      name -> ((ss.size, ss.map(_.durMs).sum, self))
    }
  }

  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.startMs).map { s =>
      Json.write(Map("trace" -> s.trace, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs))
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** JSON for the result and span files: Scala maps, sequences and values. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
}

/** JVM-level counters read around the traced region. */
object Jvm {
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(b.getCollectionTime, 0L)).sum
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  def resetPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def peakHeapMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
  def maxHeapMb(): Double = Runtime.getRuntime.maxMemory / 1048576.0
}
