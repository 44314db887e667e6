package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: runs one workload against a generated input
  * directory and writes the run record (`run.json`) — environment,
  * set-up times, timed operations, output checks, spans and, when
  * traced, the raw listener data. Metrics are computed from the record
  * by the benchmark's Python front end (`perfbench/run.py`).
  *
  * Usage: Main <workload> <inputDir> <outDir> <seconds> <trace 0|1>
  *   <seed> <cpus> [key=value ...]
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, input, out, seconds, trace, seed, cpus) = args.take(7)
    val plan = args.drop(7).map { kv =>
      val i = kv.indexOf('=')
      kv.take(i) -> kv.drop(i + 1)
    }.toMap
    val shufflePartitions = 32
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .config("spark.local.dir", s"$out/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val collector = if (trace == "1") {
      val c = new Collector
      Collector.attach(spark, c)
      Some(c)
    } else None
    val rec = new Recorder
    val ctx = new Ctx(spark, rec, input, out, seconds.toDouble, seed.toLong,
      plan)
    Workloads.run(ctx, workload)
    graft.core.Caches.releaseAll()
    PerfbenchBus.drain(spark.sparkContext)

    val env = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "master" -> spark.sparkContext.master,
      "default_parallelism" -> spark.sparkContext.defaultParallelism,
      "shuffle_partitions" ->
        spark.conf.get("spark.sql.shuffle.partitions").toInt,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${
        System.getProperty("java.version")}",
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1L << 20),
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "session_conf" -> spark.conf.getAll.toSeq.sortBy(_._1).toMap)
    val runId = s"$workload-$seed-${ProcessHandle.current().pid()}"
    val record = Map(
      "run" -> runId,
      "workload" -> workload,
      "seed" -> seed.toLong,
      "seconds" -> seconds.toDouble,
      "traced" -> (trace == "1"),
      "env" -> env,
      "setup" -> Map("session_s" -> sessionS, "warmup_s" -> ctx.setupS),
      "ops" -> ctx.ops.map(o => Map("id" -> o.id, "kind" -> o.kind,
        "name" -> o.name, "phase" -> o.phase, "span" -> o.spanId,
        "start_us" -> o.startUs, "end_us" -> o.endUs, "error" -> o.error)),
      "checks" -> ctx.checks.map(k => Map("name" -> k.name, "op" -> k.op,
        "ok" -> k.ok, "detail" -> k.detail)),
      "info" -> ctx.info,
      "spans" -> rec.all.map(s => Map("run" -> runId, "id" -> s.id,
        "name" -> s.name,
        "parent" -> s.parent, "start_us" -> s.startUs, "end_us" -> s.endUs,
        "pinned_mb" -> s.pinnedMb, "rows" -> s.rows)),
      "trace" -> collector.map(traceRecord))
    Files.writeString(Paths.get(s"$out/run.json"),
      new ObjectMapper().registerModule(DefaultScalaModule)
        .writeValueAsString(record))
    spark.stop()
  }

  private def traceRecord(c: Collector): Map[String, Any] = Map(
    "jobs" -> c.jobs.values.asScala.toSeq.sortBy(_.id).map(j => Map(
      "id" -> j.id, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
      "exec" -> j.execId, "site" -> j.site, "stages" -> j.stages)),
    "stages" -> c.stages.values.asScala.toSeq.sortBy(_.id).map(s => Map(
      "id" -> s.id, "tasks" -> s.tasks, "shuffle_write" -> s.shuffleWrite,
      "spill" -> s.spill)),
    "execs" -> c.execs.values.asScala.toSeq.sortBy(_.id).map(e => Map(
      "id" -> e.id, "start_ms" -> e.startMs, "end_ms" -> e.endMs)),
    "planned" -> c.planned.values.asScala.toSeq.sortBy(_.id).map(p => Map(
      "id" -> p.id, "func" -> p.func, "plan_ms" -> p.planMs,
      "write" -> p.write, "out_bytes" -> p.outBytes, "files" -> p.files,
      "window_rows" -> p.windowRows)),
    "triggers" -> c.triggers.asScala.toSeq.map(t => Map(
      "end_us" -> t.endUs, "batch" -> t.batchId,
      "trigger_ms" -> t.triggerMs, "rows" -> t.rows)))
}
