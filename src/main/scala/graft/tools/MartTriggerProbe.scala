package graft.tools

import java.io.File
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.core.{EngineSession, Tables}
import graft.streaming.EventsStream

/** Per-trigger profile of the st04 incremental mart: pins the scaladoc
  * claim that `hourlyMart`'s per-trigger cost is proportional to the
  * DAYS THE TRIGGER TOUCHES, not to the mart's accumulated size.
  *
  * The feed is K time-shifted replicas of the events table (the
  * StreamScaleProbe layout: same users, each replica one month-span
  * later, one file per replica → one micro-batch per replica in
  * event-time order). Trigger k therefore updates only replica k's
  * ~month of days while the mart holds k months — if per-trigger wall
  * stays flat and the set of rewritten day partitions equals the set of
  * days in the trigger's batch, the claim holds; a trigger rewriting
  * days outside its batch (or walls growing with k) is the scale
  * red-flag the probe exists to catch.
  *
  * Each trigger runs the PRODUCTION merge (`EventsStream.mergeHourly` —
  * the same function st04's `hourlyMart` wires into foreachBatch)
  * wrapped with a filesystem snapshot of the mart's `day=` partitions
  * before/after, so "rewritten" is observed from disk (part-file name
  * sets change under dynamic overwrite), not inferred from the plan.
  * Ends with a full-feed batch-twin comparison of the mart contents.
  *
  * Run: `runMain graft.tools.MartTriggerProbe <sfDir> <K>`.
  */
object MartTriggerProbe {

  /** day-partition → set of part filenames (dynamic overwrite writes
    * fresh random part names, so any rewrite changes the set). */
  private def snapshot(path: String): Map[String, Set[String]] = {
    val root = new File(path)
    if (!root.exists()) Map.empty
    else root.listFiles().filter(f => f.isDirectory && f.getName.startsWith("day="))
      .map(d => d.getName ->
        d.listFiles().map(_.getName).filter(_.startsWith("part-")).toSet)
      .toMap
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = args.lift(1).map(_.toInt).getOrElse(12)
    val spark = EngineSession()
    import spark.implicits._

    val ev = Tables(spark, dir, "events")
    val Array(minUs, maxUs) = ev
      .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    // Replica spacing: full span + 4h (> the 2h hourlyAgg watermark), so
    // a replica's days are closed before the next replica's trigger.
    val spanUs = (maxUs - minUs) + 4L * 3600L * 1000000L
    val feedDir = Files.createTempDirectory("graft-mart-feed").toString
    (0 until k).foreach { i =>
      ev.select(
        (col("event_id") + lit(i * 1000000000L)).as("event_id"),
        ((unix_micros(col("ts")) + lit(i * spanUs)) * 1000L).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
        .coalesce(1).write.mode("append").parquet(feedDir)
    }

    val mart = Files.createTempDirectory("graft-mart").resolve("hourly")
      .toString
    // (batchId, batchRows, touchedDays, rewrittenDays, strayRewrites,
    //  martDaysTotal, mergeWallSec)
    val rows = ArrayBuffer.empty[(Long, Long, Int, Int, Int, Int, Double)]

    val q = EventsStream
      .hourlyAgg(EventsStream.read(spark, feedDir, maxFilesPerTrigger = Some(1)))
      .writeStream.outputMode("update")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val b = batch.persist()
        val touched = b.select(to_date(col("hour")).cast("string"))
          .distinct().as[String].collect().map("day=" + _).toSet
        val before = snapshot(mart)
        val t0 = System.nanoTime()
        EventsStream.mergeHourly(b, mart)
        val wall = (System.nanoTime() - t0) / 1e9
        val after = snapshot(mart)
        val rewritten = after.keySet.filter(d => before.get(d) != Some(after(d)))
        val stray = rewritten -- touched
        rows += ((id, b.count(), touched.size, rewritten.size, stray.size,
          after.size, wall))
        b.unpersist()
        (): Unit
      }
      .option("checkpointLocation",
        Files.createTempDirectory("graft-mart-ckpt").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    println(f"${"trigger"}%7s ${"aggRows"}%8s ${"touchedDays"}%12s " +
      f"${"rewrittenDays"}%14s ${"strayRewrites"}%14s ${"martDays"}%9s " +
      f"${"merge_s"}%8s")
    rows.foreach { case (id, n, t, r, s, m, w) =>
      println(f"$id%7d $n%8d $t%12d $r%14d $s%14d $m%9d $w%8.2f")
    }
    val totalStray = rows.map(_._5).sum
    println(if (totalStray == 0)
      "OK: every trigger rewrote exactly the day partitions its batch touched"
    else s"FLAG: $totalStray day partitions rewritten OUTSIDE their trigger's batch")

    // Batch twin over the whole feed must equal the mart read-back.
    val layout = graft.core.EventsLayout.sniff(spark, feedDir)
    val twin = EventsStream.hourlyAggBatch(
      layout.normalize(spark.read.parquet(feedDir)))
    val back = spark.read.parquet(mart)
      .select(col("hour").cast("timestamp").as("hour"), col("event_type"),
        col("n_events"), col("sum_value"))
    val diff = twin.exceptAll(back).count() + back.exceptAll(twin).count()
    println(if (diff == 0) s"OK: mart equals batch twin (${back.count()} rows)"
      else s"FLAG: mart/batch-twin diff = $diff rows")
    spark.stop()
  }
}
