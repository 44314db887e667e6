package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchSql, SparkSession}
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Wall clock in epoch microseconds, read from the monotonic clock so
  * span durations never jump; listener events carry epoch milliseconds
  * from the same host clock, so both attribute onto one time line. */
object Clock {
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def us(): Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

final case class Span(id: Int, name: String, parent: Int, startUs: Long,
    endUs: Long, pinnedMb: Double, rows: Long)

/** Timed operations of one run and the spans around every call the
  * benchmark makes into the program. Spans are kept in memory and
  * written when the run ends. The stack is process-wide, not per
  * thread: a `foreachBatch` body runs on the stream's thread while the
  * client thread waits in `processAllAvailable`, and its span belongs
  * under the client's. */
final class Recorder {
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, Long)]
  private var nextId = 0
  private var resultRows = 0L

  /** MB of cached plus checkpointed blocks the session holds now. */
  def pinnedMb(): Double = org.apache.spark.PerfbenchBus.rddBlockBytes() / 1e6

  /** Rows the current call returned to the client; every open span
    * counts them. */
  def returned(n: Long): Unit = synchronized { resultRows += n }

  def span[A](name: String)(body: => A): A = {
    val (id, parent) = synchronized {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack = (id, Clock.us()) :: stack
      (id, parent)
    }
    val rowsBefore = synchronized(resultRows)
    try body
    finally {
      val end = Clock.us()
      val mb = pinnedMb()
      synchronized {
        val start = stack.find(_._1 == id).get._2
        stack = stack.filterNot(_._1 == id)
        spans += Span(id, name, parent, start, end, mb,
          resultRows - rowsBefore)
      }
    }
  }

  def all: Seq[Span] = synchronized(spans.toList)
}

/** The traced run's collector: Spark jobs and stages, SQL executions
  * with their planning phases and write/window metrics, and streaming
  * trigger progress — raw intervals and counts only. Attribution to
  * spans and interval unions are computed after the run. */
final class Collector extends SparkListener {
  import Collector._

  val jobs = new ConcurrentHashMap[Int, Job]()
  val stages = new ConcurrentHashMap[Int, Stage]()
  val execs = new ConcurrentHashMap[Long, Exec]()
  val planned = new ConcurrentHashMap[Long, Planned]()
  val triggers = new java.util.concurrent.ConcurrentLinkedQueue[Trigger]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    // The result stage is created last and is named after the job's call
    // site, e.g. `localCheckpoint at Tables.scala:233`.
    val site = e.stageInfos.maxByOption(_.stageId).map(_.name).getOrElse("")
    jobs.put(e.jobId, Job(e.jobId, e.time, -1L,
      prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L), site,
      e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    stages.put(i.stageId, Stage(i.stageId, i.numTasks,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.diskBytesSpilled))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execs.put(s.executionId, Exec(s.executionId, s.time, -1L))
    case s: SparkListenerSQLExecutionEnd =>
      Option(execs.get(s.executionId)).foreach(_.endMs = s.time)
      PerfbenchSql.queryExecution(s).foreach(qe =>
        record(s.executionId, PerfbenchSql.name(s), qe))
    case _ =>
  }

  private def record(id: Long, func: String, qe: QueryExecution): Unit = {
    val planMs = Seq("analysis", "optimization", "planning")
      .flatMap(qe.tracker.phases.get)
      .map(p => p.endTimeMs - p.startTimeMs).sum
    val nodes = Collector.nodes(qe.executedPlan)
    val writes = nodes.filter(n => n.isInstanceOf[DataWritingCommandExec] ||
      n.isInstanceOf[V2TableWriteExec])
    def metric(n: SparkPlan, k: String) = n.metrics.get(k).map(_.value)
    planned.put(id, Planned(id, func, planMs, writes.nonEmpty,
      writes.flatMap(metric(_, "numOutputBytes")).sum,
      writes.flatMap(metric(_, "numFiles")).sum,
      Collector.windowRows(nodes)))
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      triggers.add(Trigger(Clock.us(), p.batchId,
        Option(p.durationMs.get("triggerExecution")).map(_.longValue)
          .getOrElse(0L), p.numInputRows))
    }
  }
}

object Collector {
  final case class Job(id: Int, startMs: Long, var endMs: Long,
      execId: Long, site: String, stages: Seq[Int])
  final case class Stage(id: Int, tasks: Int, shuffleWrite: Long,
      spill: Long)
  final case class Exec(id: Long, startMs: Long, var endMs: Long)
  final case class Planned(id: Long, func: String, planMs: Long,
      write: Boolean, outBytes: Long, files: Long, windowRows: Long)
  final case class Trigger(endUs: Long, batchId: Long, triggerMs: Long,
      rows: Long)

  /** Every physical node of an executed plan, through adaptive
    * execution's final plan, query stages and subqueries. */
  def nodes(plan: SparkPlan): Seq[SparkPlan] = {
    def expand(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => a +: expand(a.executedPlan)
      case q: QueryStageExec => q +: expand(q.plan)
      case c: CommandResultExec => c +: expand(c.commandPhysicalPlan)
      case other => other +: (other.children ++ other.subqueries)
          .flatMap(expand)
    }
    expand(plan)
  }

  /** Rows through window operators: each Window node's output rows plus
    * the rows its feeding Sort emitted (the first `numOutputRows` found
    * below the window, through sorts, exchanges and stage wrappers). */
  def windowRows(all: Seq[SparkPlan]): Long = {
    def rows(p: SparkPlan): Option[Long] =
      p.metrics.get("numOutputRows").map(_.value).orElse(
        p.metrics.get("recordsWritten").map(_.value))
    def below(p: SparkPlan): Long = p.children.headOption match {
      case Some(c) => rows(c).getOrElse(below(c))
      case None => 0L
    }
    all.filter(_.nodeName.startsWith("Window")).map { w =>
      val in = below(w)
      in + rows(w).getOrElse(in)
    }.sum
  }

  def attach(spark: SparkSession, c: Collector): Unit = {
    spark.sparkContext.addSparkListener(c)
    spark.streams.addListener(c.streaming)
  }
}
