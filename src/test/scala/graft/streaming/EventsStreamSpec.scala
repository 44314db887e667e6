package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.core.{EventsLayout, Tables}

class EventsStreamSpec extends SparkSuite {

  private val srcFile = "/root/testdata/sf0.001/events.parquet"

  private def stageDir(copies: Int): String = {
    val dir = Files.createTempDirectory("graft-stream").toString
    (1 to copies).foreach { i =>
      Files.copy(Paths.get(srcFile), Paths.get(s"$dir/events_$i.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    dir
  }

  test("streaming hourly aggregation equals the batch computation") {
    val dir = stageDir(1)
    val q = EventsStream.feedSized(spark, dir) {
      EventsStream.hourlyAgg(EventsStream.read(spark, dir))
        .writeStream.format("memory").queryName("hourly")
        .outputMode("complete").start()
    }
    try {
      q.processAllAvailable()
      val streamed = spark.table("hourly")
        .orderBy(col("hour"), col("event_type")).collect()
      val batch = EventsStream
        .hourlyAggBatch(Tables(spark, "/root/testdata/sf0.001", "events"))
        .orderBy(col("hour"), col("event_type")).collect()
      assert(streamed.length == batch.length)
      assert(streamed.map(_.toSeq).toSeq == batch.map(_.toSeq).toSeq)
    } finally q.stop()
  }

  test("foreachBatch hourly mart equals the batch aggregation after two files") {
    val dir = stageDir(1)
    val mart = Files.createTempDirectory("graft-mart").toString + "/hourly"
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    val q = EventsStream.feedSized(spark, dir) {
      EventsStream.hourlyMart(EventsStream.read(spark, dir), mart)
        .option("checkpointLocation", ckpt).start()
    }
    try {
      q.processAllAvailable()
      def readMart() = spark.read.parquet(mart)
        .select(col("hour").cast("timestamp").as("hour"), col("event_type"),
          col("n_events"), col("sum_value"))
      val streamed = readMart()
        .orderBy(col("hour"), col("event_type")).collect().toSeq.map(_.toSeq)
      val expected = EventsStream
        .hourlyAggBatch(Tables(spark, "/root/testdata/sf0.001", "events"))
        .orderBy(col("hour"), col("event_type")).collect().toSeq.map(_.toSeq)
      assert(streamed.nonEmpty)
      assert(streamed == expected)

      // Re-delivery of the same file: events behind the watermark are
      // dropped by the aggregation, and updated windows OVERWRITE their
      // hour partitions — either way the mart must keep exactly one row
      // per (hour, event_type), never append duplicates.
      Files.copy(Paths.get(srcFile), Paths.get(s"$dir/events_2.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      q.processAllAvailable()
      val keyed = readMart().groupBy("hour", "event_type").count()
      assert(keyed.filter(col("count") > 1).isEmpty,
        "re-delivery must not create duplicate mart rows")
    } finally q.stop()
  }

  // ---- Checkpoint recovery: the exactly-once claim of the foreachBatch
  // sinks. A crash AFTER the sink write but BEFORE the checkpoint commit
  // is the at-least-once window foreachBatch leaves open — on restart
  // the batch REPLAYS over a sink that already holds its effects, so the
  // sink merge must be idempotent. Both specs split the feed into
  // multiple micro-batches, apply the production merge, throw right
  // after a mid-run batch's write, restart from the same checkpoint, and
  // demand the final sink equals the batch-twin oracle exactly.

  private def splitFeed(parts: Int, byTime: Boolean = false): String = {
    val feedDir = Files.createTempDirectory("graft-recov-feed").toString
    // Raw read preserves the source's ts encoding in the split files.
    EventsLayout.sniff(spark, srcFile)
    val raw = spark.read.parquet(srcFile)
    if (byTime) {
      // Time-ordered slices, written oldest first (the file source
      // triggers in modification-time order): a watermark-bounded
      // pipeline then never sees behind-watermark events, so the
      // streamed result must EQUAL the batch twin — the equality a
      // random split would (correctly) break via late-drop.
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("ts"))
      val sliced = raw.withColumn("slice", ntile(parts).over(w)).cache()
      (1 to parts).foreach(i =>
        sliced.filter(col("slice") === i).drop("slice")
          .coalesce(1).write.mode("append").parquet(feedDir))
      sliced.unpersist()
    } else
      (0 until parts).foreach(i =>
        raw.filter(col("event_id") % parts === i)
          .coalesce(1).write.mode("append").parquet(feedDir))
    feedDir
  }

  test("checkpoint recovery mid-batch: hourly mart replays to the exact " +
      "batch result") {
    import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
    val feedDir = splitFeed(3, byTime = true)
    val mart = Files.createTempDirectory("graft-recov-mart").toString + "/h"
    val ckpt = Files.createTempDirectory("graft-recov-ckpt").toString
    @volatile var crashed = false
    def start() = EventsStream.feedSized(spark, feedDir) { EventsStream
      .hourlyAgg(EventsStream.read(spark, feedDir,
        maxFilesPerTrigger = Some(1)))
      .writeStream.outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        EventsStream.mergeHourly(b, mart)
        // Crash in the at-least-once window: write landed, commit not.
        if (id == 1 && !crashed) {
          crashed = true
          throw new RuntimeException("injected crash after sink write")
        }
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start() }
    intercept[StreamingQueryException] { start().awaitTermination() }
    assert(crashed, "the injected crash never fired")
    // Restart from the checkpoint: batch 1 replays (its effects are
    // already in the mart), batch 2 runs fresh.
    start().awaitTermination()
    val streamed = spark.read.parquet(mart)
      .select(col("hour").cast("timestamp").as("hour"), col("event_type"),
        col("n_events"), col("sum_value"))
      .orderBy(col("hour"), col("event_type")).collect().toSeq.map(_.toSeq)
    val expected = EventsStream
      .hourlyAggBatch(Tables(spark, "/root/testdata/sf0.001", "events"))
      .orderBy(col("hour"), col("event_type")).collect().toSeq.map(_.toSeq)
    assert(streamed.nonEmpty && streamed == expected,
      "recovered mart diverged from the batch twin")
  }

  test("checkpoint recovery mid-batch: keyed upsert replays idempotently") {
    import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
    val feedDir = splitFeed(2)
    val state = Files.createTempDirectory("graft-recov-state").toString + "/s"
    val ckpt = Files.createTempDirectory("graft-recov-ckpt2").toString
    @volatile var crashed = false
    def start() = EventsStream.feedSized(spark, feedDir) { EventsStream
      .read(spark, feedDir, maxFilesPerTrigger = Some(1))
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        EventsStream.upsertLatest(b, state)
        if (id == 0 && !crashed) {
          crashed = true
          throw new RuntimeException("injected crash after sink write")
        }
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start() }
    intercept[StreamingQueryException] { start().awaitTermination() }
    assert(crashed, "the injected crash never fired")
    start().awaitTermination()
    val got = spark.read.parquet(state)
      .select(col("user_id"), col("us"), col("event_id"))
      .orderBy(col("user_id")).collect().toSeq.map(_.toSeq)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us").desc, col("event_id").desc)
    val expected = Tables(spark, "/root/testdata/sf0.001", "events")
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
      .orderBy(col("user_id")).collect().toSeq.map(_.toSeq)
    assert(got.nonEmpty && got == expected,
      "recovered state table diverged from the batch twin")
  }

  test("day-partitioned mart: one dir per day; untouched hours survive " +
      "a partial update") {
    val dir = stageDir(1)
    val mart = Files.createTempDirectory("graft-mart-day").toString + "/hourly"
    val ckpt = Files.createTempDirectory("graft-ckpt-day").toString
    val q = EventsStream.feedSized(spark, dir) {
      EventsStream.hourlyMart(EventsStream.read(spark, dir), mart)
        .option("checkpointLocation", ckpt).start()
    }
    try {
      q.processAllAvailable()
      // Layout: day-granularity directories (hour is a data column) —
      // 24× fewer dirs than an hour-partitioned mart; the small-files
      // rationale in EventsStream.hourlyMart.
      val dayDirs = new java.io.File(mart).listFiles
        .filter(_.getName.startsWith("day=")).length
      val nDays = spark.read.parquet(mart)
        .select(to_date(col("hour"))).distinct().count()
      val nHours = spark.read.parquet(mart).select("hour").distinct().count()
      assert(dayDirs.toLong == nDays)
      assert(nDays < nHours)
      val before = spark.read.parquet(mart)
        .select("hour", "event_type").collect().map(_.toSeq).toSet

      // A late-but-admissible tail: the feed shifted +1 hour. Only events
      // above the watermark survive, so the update touches a strict
      // subset of the final day's hours — and the day-granular overwrite
      // must carry that day's UNTOUCHED hours through the rewrite.
      val layout = EventsLayout.sniff(spark, srcFile)
      spark.read.schema(layout.schema).parquet(srcFile)
        .withColumn("ts", layout.shiftTsSeconds(col("ts"), 3600L))
        .write.mode("append").parquet(dir)
      q.processAllAvailable()
      val after = spark.read.parquet(mart)
        .select("hour", "event_type").collect().map(_.toSeq).toSet
      assert(before.subsetOf(after),
        s"day rewrite dropped ${(before -- after).size} existing hour rows")
    } finally q.stop()
  }

  test("stateful sessionization matches the batch gaps-and-islands result") {
    val dir = stageDir(1)
    val q = EventsStream.feedSized(spark, dir) {
      EventsStream.sessionize(EventsStream.read(spark, dir))
        .writeStream.format("memory").queryName("sessions")
        .outputMode("append").start()
    }
    try {
      q.processAllAvailable()
      // Advance the watermark far past every session's gap horizon so
      // event-time timeouts flush the remaining open sessions. The
      // sentinel must be written in the stream's RAW ts encoding
      // (whatever the sniffed feed layout is), not the Tables-converted
      // one.
      val batch = Tables(spark, "/root/testdata/sf0.001", "events")
      val layout = EventsLayout.sniff(spark, srcFile)
      val sentinel = spark.read.schema(layout.schema)
        .parquet(srcFile).limit(1)
        .withColumn("user_id", lit(-1L))
        .withColumn("ts", layout.shiftTsDays(col("ts"), 365L))
      sentinel.write.mode("append").parquet(dir)
      q.processAllAvailable()
      q.processAllAvailable() // one more trigger for the timeout batch

      // sum_s4 is an exact scaled long — streamed and batch results must
      // be bit-identical, no rounding tolerance.
      def canon(df: org.apache.spark.sql.DataFrame) = df
        .filter(col("user_id") >= 0)
        .select(col("user_id"), col("start_us"), col("end_us"),
          col("n_events").cast("long").as("n_events"), col("sum_s4"))
        .orderBy(col("user_id"), col("start_us"))
        .collect().toSeq.map(_.toSeq)

      val streamed = canon(spark.table("sessions"))
      val expected = canon(EventsStream.sessionizeBatch(batch))
      assert(streamed.nonEmpty)
      assert(streamed == expected)
    } finally q.stop()
  }

  test("transformWithState sessionization matches the batch result " +
      "(and therefore the v1 custom-state path)") {
    val dir = stageDir(1)
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey, "org.apache.spark.sql.execution." +
      "streaming.state.RocksDBStateStoreProvider")
    try {
      val q = EventsStream.feedSized(spark, dir) {
        EventsStream.sessionizeTws(EventsStream.read(spark, dir))
          .writeStream.format("memory").queryName("sessions_tws")
          .outputMode("append").start()
      }
      try {
        q.processAllAvailable()
        // Same sentinel protocol as the v1 test: advance the watermark
        // past every gap horizon so the TIMER path (handleExpiredTimer)
        // flushes the remaining sessions.
        val batch = Tables(spark, "/root/testdata/sf0.001", "events")
        val layout = EventsLayout.sniff(spark, srcFile)
        spark.read.schema(layout.schema)
          .parquet(srcFile).limit(1)
          .withColumn("user_id", lit(-1L))
          .withColumn("ts", layout.shiftTsDays(col("ts"), 365L))
          .write.mode("append").parquet(dir)
        q.processAllAvailable()
        q.processAllAvailable() // one more trigger for the timer batch

        def canon(df: org.apache.spark.sql.DataFrame) = df
          .filter(col("user_id") >= 0)
          .select(col("user_id"), col("start_us"), col("end_us"),
            col("n_events").cast("long").as("n_events"), col("sum_s4"))
          .orderBy(col("user_id"), col("start_us"))
          .collect().toSeq.map(_.toSeq)

        val streamed = canon(spark.table("sessions_tws"))
        val expected = canon(EventsStream.sessionizeBatch(batch))
        assert(streamed.nonEmpty)
        assert(streamed == expected)
      } finally q.stop()
    } finally prior match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None => spark.conf.unset(providerKey)
    }
  }

  test("session_window gap boundary: inclusive merge, end = last + gap") {
    // Pins the two contract points the st08 oracle depends on, verified
    // against the REAL operator (not assumed from the docs): an event
    // exactly `gap` after its predecessor still MERGES (Spark's session
    // state merges start ≤ current end, inclusive — the same rule as the
    // custom sessionize path, so st03/st08 share a break condition), and
    // the emitted end is last event + gap. An event gap+1µs after breaks.
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-swb").toString
    val t0 = 1700000000L * 1000000000L // epoch nanos
    val gapNs = 1800L * 1000000000L
    Seq(
      // user 1: second event EXACTLY gap after the first — merges.
      (1L, t0, 1L, "view", 1.0, "{}"),
      (2L, t0 + gapNs, 1L, "view", 2.0, "{}"),
      // user 2: 1µs PAST the gap — breaks into two sessions.
      (3L, t0, 2L, "view", 3.0, "{}"),
      (4L, t0 + gapNs + 1000L, 2L, "view", 4.0, "{}"),
      // sentinel: advances the final watermark so append mode flushes.
      (5L, t0 + 365L * 86400L * 1000000000L, -1L, "view", 0.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("append").parquet(dir)

    def runStream(out: org.apache.spark.sql.DataFrame, name: String) = {
      val q = EventsStream.feedSized(spark, dir) {
        out.writeStream.format("memory").queryName(name)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      }
      q.awaitTermination()
      spark.table(name).filter(col("user_id") >= 0)
    }

    val t0us = t0 / 1000L
    val gapUs = gapNs / 1000L
    val native = runStream(
      EventsStream.sessionWindowAgg(EventsStream.read(spark, dir)), "swb_n")
      .select("user_id", "start_us", "end_us", "n_events")
      .orderBy("user_id", "start_us").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(native.toSeq == Seq(
      (1L, t0us, t0us + 2 * gapUs, 2L), // diff == gap: ONE session
      (2L, t0us, t0us + gapUs, 1L),     // diff == gap + 1µs: split,
      (2L, t0us + gapUs + 1L, t0us + 2 * gapUs + 1L, 1L)))

    val custom = runStream(
      EventsStream.sessionize(EventsStream.read(spark, dir)).toDF(), "swb_c")
      .select("user_id", "start_us", "end_us", "n_events")
      .orderBy("user_id", "start_us").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(custom.toSeq == Seq(
      (1L, t0us, t0us + gapUs, 2L), // same sessions, end = LAST EVENT
      (2L, t0us, t0us, 1L),
      (2L, t0us + gapUs + 1L, t0us + gapUs + 1L, 1L)))
  }

  test("keyed upsert never regresses a key on out-of-order batches") {
    import spark.implicits._
    val path = java.nio.file.Files
      .createTempDirectory("graft-upsert").resolve("state").toString
    def batch(rows: Seq[(Long, String, Long, String, Double)]) =
      rows.toDF("user_id", "tss", "event_id", "event_type", "value")
        .select(col("user_id"), to_timestamp(col("tss")).as("ts"),
          col("event_id"), col("event_type"), col("value"))
    // Batch 1 carries user 1's NEWEST event; batch 2 replays an older
    // one (late file, replay, compaction) — the stored newer row must
    // win the merge, and user 2's state must still advance.
    EventsStream.upsertLatest(batch(Seq(
      (1L, "2024-01-01 10:00:00", 100L, "click", 1.0),
      (2L, "2024-01-01 09:00:00", 90L, "view", 2.0))), path)
    EventsStream.upsertLatest(batch(Seq(
      (1L, "2024-01-01 08:00:00", 80L, "view", 3.0),
      (2L, "2024-01-01 11:00:00", 110L, "click", 4.0))), path)
    val state = spark.read.parquet(path)
      .select("user_id", "event_id").as[(Long, Long)].collect().toMap
    assert(state == Map(1L -> 100L, 2L -> 110L))
  }

  test("dropDuplicatesWithinWatermark deduplicates replayed files") {
    val dir = stageDir(2) // the same events delivered twice
    val q = EventsStream.feedSized(spark, dir) {
      EventsStream.deduped(EventsStream.read(spark, dir))
        .writeStream.format("memory").queryName("deduped")
        .outputMode("append").start()
    }
    try {
      q.processAllAvailable()
      val n = spark.table("deduped").count()
      val distinct = Tables(spark, "/root/testdata/sf0.001", "events")
        .select("event_id").distinct().count()
      assert(n == distinct)
    } finally q.stop()
  }

  test("sessionize timer guard: only the recorded timer's firing may " +
      "clear the registration record") {
    // The e2e paths can't force Spark to deliver a stale (deleted)
    // timer, so the guard's decision is pure and pinned here: clearing
    // on a mismatched firing would orphan the successor registration
    // (emitAndArm deletes the recorded timer before re-arming) and the
    // key would never flush on the timer path again.
    assert(SessionizeProcessor.firedTimerIsOurs(Some(100L), 100L))
    assert(!SessionizeProcessor.firedTimerIsOurs(Some(200L), 100L),
      "a stale firing must not clear the live registration")
    assert(!SessionizeProcessor.firedTimerIsOurs(None, 100L),
      "a firing with no live registration must be a no-op")
  }
}
