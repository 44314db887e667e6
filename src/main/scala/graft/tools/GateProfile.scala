package graft.tools

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

import graft.SparkEntry
import graft.core.EngineSession

/** Per-job wall-time attribution for one or more declared gates (guide
  * §1.1/§1.5: find where the time goes before touching anything). Runs
  * each named query exactly the way Bench does (`foreach(noop row sink)`,
  * cache release after) under a listener that records every Spark job's
  * duration, call site and shuffle volume, then prints the jobs sorted
  * by cost. The run is NOT a timing record — it is the attribution
  * instrument; Bench stays the number of record.
  *
  * Usage: `runMain graft.tools.GateProfile <sfDir> <query> [query ...]`
  */
object GateProfile {

  /** Seconds covered by at least one of the `[start, end]` millisecond
    * intervals. Jobs overlap under `Par.run` and the concurrent DAG
    * scheduler, so the plain sum of job durations can exceed the wall
    * and drive the driver gap negative; the union cannot. An interval
    * that never ended (`end <= start`) covers nothing. */
  private[graft] def busySeconds(intervals: Seq[(Long, Long)]): Double = {
    val (total, _) = intervals.filter { case (s, e) => e > s }.sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (s, e)) =>
        if (e <= reach) (sum, reach)
        else (sum + e - math.max(s, reach), e)
      }
    total / 1e3
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSeq
    require(names.nonEmpty, "usage: GateProfile <sfDir> <query> [query ...]")
    val spark = EngineSession()

    case class Job(id: Int, site: String, desc: String) {
      var start = 0L; var end = 0L
      var shufRead = 0L; var shufWrite = 0L; var input = 0L; var tasks = 0
    }
    val jobs = mutable.LinkedHashMap[Int, Job]()
    val stageToJob = mutable.HashMap[Int, Int]()
    val execDesc = mutable.HashMap[Long, String]()
    val execSpan = mutable.LinkedHashMap[Long, (Long, Long)]()
    val listener = new SparkListener {
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          execDesc.synchronized { execDesc(s.executionId) = s.description }
          execSpan.synchronized { execSpan(s.executionId) = (s.time, 0L) }
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
          execSpan.synchronized {
            execSpan.get(s.executionId).foreach { case (t0, _) =>
              execSpan(s.executionId) = (t0, s.time) }
          }
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String): Option[String] = Option(e.properties)
          .flatMap(p => Option(p.getProperty(k)))
        val site = prop("callSite.short").orElse(prop("spark.callSite.short"))
          .orElse(prop("spark.sql.execution.id").map { id =>
            execDesc.synchronized {
              execDesc.getOrElse(id.toLong, s"sqlExec $id") }
          })
          .getOrElse("non-SQL job")
        val desc = prop("spark.job.description").getOrElse("")
        val j = Job(e.jobId, site, desc)
        j.start = e.time
        jobs.synchronized { jobs(e.jobId) = j }
        e.stageIds.foreach(s => stageToJob.synchronized { stageToJob(s) = e.jobId })
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(e.jobId).foreach(_.end = e.time) }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val m = e.stageInfo.taskMetrics
        stageToJob.synchronized { stageToJob.get(e.stageInfo.stageId) }
          .foreach { jid => jobs.synchronized {
            jobs.get(jid).foreach { j =>
              j.shufRead += m.shuffleReadMetrics.totalBytesRead
              j.shufWrite += m.shuffleWriteMetrics.bytesWritten
              j.input += m.inputMetrics.bytesRead
              j.tasks += e.stageInfo.numTasks
            }
          }}
      }
    }

    // Warmup identical to Bench so JIT/datasource init is not attributed
    // to the first profiled gate.
    try SparkEntry.queries("q01_pricing_summary")(spark, dir).count()
    catch { case scala.util.control.NonFatal(t) =>
      System.err.println(s"warmup failed (continuing): $t") }

    names.foreach { name =>
      jobs.synchronized { jobs.clear() }; stageToJob.synchronized { stageToJob.clear() }
      execSpan.synchronized { execSpan.clear() }
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir).foreach(_ => ())
      val wall = (System.nanoTime() - t0) / 1e9
      graft.core.Caches.releaseAll()
      spark.sparkContext.removeSparkListener(listener)
      // best-effort flush of pending listener events (the bus is
      // private[spark]; an attribution instrument can afford a beat)
      Thread.sleep(500)
      val snap = jobs.synchronized { jobs.values.toSeq }
      val jobSum = snap.map(j => (j.end - j.start) / 1e3).sum
      val busy = busySeconds(snap.map(j => (j.start, j.end)))
      println(f"\n===== $name%s wall=$wall%.2f s jobs=${snap.size}%d jobSum=$jobSum%.2f s busy=$busy%.2f s (gaps=${wall - busy}%.2f s driver/plan) =====")
      val bySite = snap.groupBy(j => if (j.desc.nonEmpty) j.desc else j.site)
        .map { case (site, js) =>
          (site, js.map(j => (j.end - j.start) / 1e3).sum, js.size,
            js.map(_.shufWrite).sum, js.map(_.input).sum, js.map(_.tasks).sum)
        }.toSeq.sortBy(-_._2)
      bySite.foreach { case (site, s, n, sw, in, tk) =>
        println(f"  $s%8.2f s  n=$n%-3d tasks=$tk%-5d shufW=${sw / 1e6}%9.1f MB in=${in / 1e6}%9.1f MB  $site%s")
      }
      // Per-SQL-execution wall vs in-execution job time: the difference
      // is driver-side work INSIDE the execution (planning, codegen,
      // AQE replanning, broadcast building); gaps between executions are
      // driver work OUTSIDE any execution (plan construction, catalog).
      val jobsByDesc = snap.groupBy(j => if (j.desc.nonEmpty) j.desc else j.site)
        .view.mapValues(js => js.map(j => (j.end - j.start) / 1e3).sum).toMap
      val spans = execSpan.synchronized { execSpan.toSeq }
      val descs = execDesc.synchronized { execDesc.toMap }
      val byExec = spans.collect { case (id, (t0, t1)) if t1 > 0 =>
        val d = descs.getOrElse(id, s"exec $id")
        (d, (t1 - t0) / 1e3)
      }.groupBy(_._1).view.mapValues(v => (v.map(_._2).sum, v.size)).toSeq
        .sortBy(-_._2._1).take(12)
      println("  -- executions (wall | jobs-in-exec | n) --")
      byExec.foreach { case (d, (w, n)) =>
        val jt = jobsByDesc.getOrElse(d, 0.0)
        println(f"  $w%8.2f s  jobs=$jt%7.2f s  n=$n%-3d $d%s")
      }
    }
    spark.stop()
  }
}
