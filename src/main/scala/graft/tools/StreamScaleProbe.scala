package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.core.{EngineSession, Tables}
import graft.streaming.EventsStream

/** Streaming-tier scale probe: the 100 TB question for a stream is not
  * corpus size but STATE growth — an unbounded log must run with state
  * bounded by watermark horizon × active keys, never by history length.
  *
  * The probe replays the events table K× TIME-SHIFTED (same user
  * population, each replica one `span` later, one file per replica →
  * one micro-batch per replica in event-time order): the log grows K×
  * while the active window stays one replica wide. For each stateful
  * topology it records wall time and the state store's row/byte
  * high-water mark across all K triggers (from StreamingQueryProgress).
  * Bounded state ⇒ the high-water mark stays ~flat as K grows while
  * wall grows ~linearly; state growing WITH K would be the scale-killer
  * (history never evicted).
  *
  * st07's "state" is the upsert parquet table itself — bounded by
  * |keys|, measured as final rows + bytes on disk.
  *
  * Run manually: `runMain graft.tools.StreamScaleProbe <sfDir> <K[,K…]>`.
  */
object StreamScaleProbe {

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val ks = args.lift(1).map(_.split(',').map(_.trim.toInt).toSeq)
      .getOrElse(Seq(1, 10, 50))
    // Progress history must cover every trigger (one per replica).
    val spark = EngineSession("spark.sql.streaming.numRecentProgressUpdates"
      -> (ks.max + 8).toString)
    println(f"${"op"}%-22s ${"K"}%4s ${"events"}%9s ${"wall_s"}%8s " +
      f"${"stateRowsMax"}%13s ${"stateMB_max"}%12s")
    ks.foreach(k => runAt(spark, dir, k))
    spark.stop()
  }

  private def runAt(spark: SparkSession, dir: String, k: Int): Unit = {
    val ev = Tables(spark, dir, "events")
    // Replica spacing: full span + 4h buffer (> 2h watermark + 1h join
    // horizon + 30min session gap), so no state bridges replicas.
    val Array(minUs, maxUs) = ev
      .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    val spanUs = (maxUs - minUs) + 4L * 3600L * 1000000L
    val feedDir = Files.createTempDirectory("graft-stream-probe").toString
    (0 until k).foreach { i =>
      ev.select(
        (col("event_id") + lit(i * 1000000000L)).as("event_id"),
        // Written as epoch-nanos longs, shifted i replicas forward —
        // one of the encodings EventsStream.read's layout sniff accepts.
        ((unix_micros(col("ts")) + lit(i * spanUs)) * 1000L).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
        .coalesce(1).write.mode("append").parquet(feedDir)
    }
    val nEvents = spark.read.parquet(feedDir).count()

    def feed() =
      EventsStream.read(spark, feedDir, maxFilesPerTrigger = Some(1))

    def probeStateful(label: String, out: DataFrame, mode: String): Unit = {
      val t0 = System.nanoTime()
      val q = EventsStream.feedSized(spark, feedDir) {
        out.writeStream.format("noop").outputMode(mode)
          .option("checkpointLocation",
            Files.createTempDirectory("graft-sp-ckpt").toString)
          .trigger(Trigger.AvailableNow()).start()
      }
      q.awaitTermination()
      val wall = (System.nanoTime() - t0) / 1e9
      val states = q.recentProgress.toSeq.flatMap(_.stateOperators.toSeq)
      val rowsMax = if (states.isEmpty) 0L else states.map(_.numRowsTotal).max
      val memMax =
        if (states.isEmpty) 0L else states.map(_.memoryUsedBytes).max
      println(f"$label%-22s $k%4d $nEvents%9d $wall%8.1f " +
        f"$rowsMax%13d ${memMax / 1e6}%12.2f")
    }

    probeStateful("st03 sessionize",
      EventsStream.sessionize(feed()).toDF(), "append")
    probeStateful("st05 view-click join",
      EventsStream.viewClickJoin(feed()), "append")
    probeStateful("st08 session_window",
      EventsStream.sessionWindowAgg(feed()), "append")
    // st09: the transformWithState path needs the RocksDB provider; the
    // conf is captured at query start — restore after so st07 below
    // keeps the default store.
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val priorProvider = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey, "org.apache.spark.sql.execution." +
      "streaming.state.RocksDBStateStoreProvider")
    try probeStateful("st09 sessionize tws",
      EventsStream.sessionizeTws(feed()).toDF(), "append")
    finally priorProvider match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None => spark.conf.unset(providerKey)
    }

    // st07 keyed upsert: foreachBatch MERGE — state is the parquet
    // table, bounded by |keys| whatever the log length.
    val statePath =
      Files.createTempDirectory("graft-sp-upsert").toString + "/state"
    val t0 = System.nanoTime()
    val q = EventsStream.feedSized(spark, feedDir) {
      EventsStream.latestStateUpsert(feed(), statePath)
        .option("checkpointLocation",
          Files.createTempDirectory("graft-sp-ckpt7").toString)
        .trigger(Trigger.AvailableNow()).start()
    }
    q.awaitTermination()
    val wall = (System.nanoTime() - t0) / 1e9
    val stateRows = spark.read.parquet(statePath).count()
    val stateBytes = {
      val p = new org.apache.hadoop.fs.Path(statePath)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.getContentSummary(p).getLength
    }
    println(f"${"st07 keyed upsert"}%-22s $k%4d $nEvents%9d $wall%8.1f " +
      f"$stateRows%13d ${stateBytes / 1e6}%12.2f")
  }
}
