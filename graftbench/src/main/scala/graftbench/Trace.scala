package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call. `name` is the layer call (`versioned.commit.append`,
  * `text.curate`, …) or the closed-loop op (`op.<kind>`); `op` ties the
  * spans of one op together. The engine counters are attributed after
  * the run from Spark's listener events, by time window. */
final class Span(val id: Int, val parent: Int, val op: Long,
    val name: String, val layer: String) {
  val startMs: Long = System.currentTimeMillis()
  private val startNs = System.nanoTime()
  private val compiles0 = Trace.compiles()
  var endMs: Long = 0L
  var durMs: Double = 0.0
  var compiles: Long = 0L
  val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
  // own (exclusive) engine counters, filled by Trace.attribute
  var jobs = 0L
  var tasks = 0L
  var taskRunMs = 0.0
  var taskGcMs = 0.0
  var shuffleBytes = 0L
  var spillBytes = 0L
  var peakExecMem = 0L
  var planningMs = 0.0
  var jobIntervals: List[(Long, Long)] = Nil

  def close(): Unit = {
    endMs = System.currentTimeMillis()
    durMs = (System.nanoTime() - startNs) / 1e6
    compiles = Trace.compiles() - compiles0
  }
}

/** The traced run's recorder: spans kept in memory and written out at
  * the end, plus one SparkListener and one QueryExecutionListener whose
  * events are buffered and attributed to the innermost span whose time
  * window holds them. The loop has a single client, so windows of
  * sibling spans do not overlap. With tracing off, [[span]] only runs
  * its body. */
object Trace {
  @volatile var enabled = false
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer()
  private val stack = mutable.Stack[Span]()
  private var nextId = 0
  var op: Long = 0L
  /** Ops numbered above this ran in the timed loop. */
  var timedAfter: Long = Long.MaxValue

  private final case class Job(id: Int, startMs: Long, stages: Seq[Int])
  private final case class Task(stage: Int, runMs: Long, gcMs: Long,
      shuffleBytes: Long, spillBytes: Long, peakMem: Long)
  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val jobEnds = new ConcurrentHashMap[Int, Long]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val execStarts = new ConcurrentHashMap[Long, Long]()
  private val planning = new ConcurrentLinkedQueue[(Long, Long, Double)]()

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Mean Janino compile time over Spark's recent-compile reservoir;
    * a compile count times this estimates compile ms (Spark exposes the
    * count exactly but not the sum). */
  def compileMeanMs(): Double =
    CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean

  def install(spark: SparkSession): Unit = {
    enabled = true
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Job(e.jobId, e.time, e.stageIds))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobEnds.put(e.jobId, e.time)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) tasks.add(Task(e.stageId, m.executorRunTime,
          m.jvmGCTime,
          m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.peakExecutionMemory))
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          execStarts.put(s.executionId, s.time)
        case _ =>
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      private def rec(qe: QueryExecution): Unit = planning.add((qe.id,
        System.currentTimeMillis(),
        qe.tracker.phases.values.map(_.durationMs.toDouble).sum))
      override def onSuccess(f: String, qe: QueryExecution,
          ns: Long): Unit = rec(qe)
      override def onFailure(f: String, qe: QueryExecution,
          ex: Exception): Unit = rec(qe)
    })
  }

  /** Run `body` inside a span; a no-op wrapper when tracing is off. */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = if (stack.isEmpty) -1 else stack.top.id
      val s = new Span(nextId, parent, op, name, layer)
      nextId += 1
      spans += s
      stack.push(s)
      try body
      finally { s.close(); stack.pop() }
    }

  /** Spans named `prefix…` inside timed-loop ops. */
  def timed(prefix: String): Seq[Span] =
    spans.filter(s => s.op > timedAfter && s.name.startsWith(prefix)).toSeq

  /** The span that closed last. */
  def lastClosed: Span = spans.filter(_.endMs > 0).maxBy(_.endMs)

  /** After the bus is drained: give every buffered job, task and
    * planning record to the innermost span whose window holds its
    * start. */
  def attribute(): Unit = {
    val byStart = spans.sortBy(s => (s.startMs, s.id)).toArray
    def owner(t: Long): Option[Span] =
      byStart.iterator.filter(s => s.startMs <= t && t <= s.endMs)
        .maxByOption(_.id)
    val stageOwner = mutable.HashMap[Int, Span]()
    jobs.asScala.foreach { j =>
      owner(j.startMs).foreach { s =>
        s.jobs += 1
        val end = Option(jobEnds.get(j.id)).getOrElse(j.startMs)
        s.jobIntervals ::= ((j.startMs, end))
        j.stages.foreach(st => stageOwner.getOrElseUpdate(st, s))
      }
    }
    tasks.asScala.foreach { t =>
      stageOwner.get(t.stage).foreach { s =>
        s.tasks += 1
        s.taskRunMs += t.runMs
        s.taskGcMs += t.gcMs
        s.shuffleBytes += t.shuffleBytes
        s.spillBytes += t.spillBytes
        s.peakExecMem = math.max(s.peakExecMem, t.peakMem)
      }
    }
    planning.asScala.foreach { case (id, seenMs, ms) =>
      val at = Option(execStarts.get(id)).getOrElse(seenMs)
      owner(at).foreach(_.planningMs += ms)
    }
  }

  /** Engine counters of a span including its descendants. */
  final case class Incl(durMs: Double, selfMs: Double, jobs: Long,
      tasks: Long, jobWallMs: Double, driverGapMs: Double,
      taskRunMs: Double, taskGcMs: Double, shuffleBytes: Long,
      spillBytes: Long, peakExecMem: Long, planningMs: Double,
      compiles: Long)

  def inclusive(): Map[Int, Incl] = {
    val kids = spans.groupBy(_.parent)
    val memo = mutable.HashMap[Int, (Seq[Span])]()
    def subtree(s: Span): Seq[Span] = memo.getOrElseUpdate(s.id,
      s +: kids.getOrElse(s.id, Nil).flatMap(subtree).toSeq)
    spans.map { s =>
      val all = subtree(s)
      val ivs = all.flatMap(_.jobIntervals)
        .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      // union length of the job windows: the rest of the span is
      // driver-side work between (or around) jobs
      var covered = 0L; var curA = -1L; var curB = -1L
      ivs.foreach { case (a, b) =>
        if (a > curB) { covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      covered += curB - curA
      val childMs = kids.getOrElse(s.id, Nil).map(_.durMs).sum
      s.id -> Incl(s.durMs, math.max(0.0, s.durMs - childMs),
        all.map(_.jobs).sum, all.map(_.tasks).sum, covered.toDouble,
        math.max(0.0, s.durMs - covered), all.map(_.taskRunMs).sum,
        all.map(_.taskGcMs).sum, all.map(_.shuffleBytes).sum,
        all.map(_.spillBytes).sum,
        if (all.isEmpty) 0L else all.map(_.peakExecMem).max,
        all.map(_.planningMs).sum, s.compiles)
    }.toMap
  }

  def writeSpans(path: String, incl: Map[Int, Incl]): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      val i = incl(s.id)
      val fields = Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString,
        "op" -> s.op.toString, "name" -> Json.str(s.name),
        "layer" -> Json.str(s.layer), "start_ms" -> s.startMs.toString,
        "end_ms" -> s.endMs.toString, "dur_ms" -> Json.num(s.durMs),
        "self_ms" -> Json.num(i.selfMs), "jobs" -> i.jobs.toString,
        "tasks" -> i.tasks.toString, "job_wall_ms" -> Json.num(i.jobWallMs),
        "driver_gap_ms" -> Json.num(i.driverGapMs),
        "task_run_ms" -> Json.num(i.taskRunMs),
        "planning_ms" -> Json.num(i.planningMs),
        "codegen_compiles" -> i.compiles.toString,
        "shuffle_bytes" -> i.shuffleBytes.toString) ++
        s.attrs.map { case (k, v) => k -> Json.num(v) }
      w.println(Json.obj(fields))
    } finally w.close()
  }
}
