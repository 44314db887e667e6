package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One closed user session: events gapped ≤ the inactivity gap apart,
  * keyed by user. Timestamps are epoch micros (stable encoder, no TZ
  * dependence); `sum_s4` is the exact DECIMAL(·,4) event-value sum as a
  * scaled long (×10⁴) — state accumulation must be exact integers, not
  * doubles, so the emitted sessions are bit-identical regardless of
  * micro-batch order / replay (float addition is not associative).
  * Top-level so the product encoder codegen needs no outer instance. */
final case class Session(
    user_id: Long, start_us: Long, end_us: Long,
    n_events: Long, sum_s4: Long)

/** One session summary inside [[SessionsState]]. */
final case class SessionState(
    start_us: Long, end_us: Long, n_events: Long, sum_s4: Long)

/** Per-user state for [[EventsStream.sessionize]]: every session whose gap
  * horizon the watermark has not yet passed, ordered by start. More than
  * one can be live at once — a gap observed inside a micro-batch is not
  * yet final, because an out-of-order event still above the watermark may
  * land inside it and bridge the two sides. */
final case class SessionsState(sessions: Seq[SessionState])

/** Shared session-merge fold for the two custom-state sessionizers
  * ([[EventsStream.sessionize]] v1, [[SessionizeProcessor]] tws): each
  * event enters as a singleton session; sorting by start and folding
  * adjacent-within-gap summaries reproduces sequential event-time-order
  * accumulation and handles bridging (an event between two prior
  * sessions merges all three). Group sizes are bounded by per-user
  * activity inside the watermark horizon — row-local and tiny.
  * Top-level serializable object: it is referenced from inside executor
  * closures, which must never drag the (non-serializable) EventsStream
  * module into the task. */
private[streaming] object SessionMerge extends Serializable {
  def apply(prior: Seq[SessionState], incoming: Seq[SessionState],
      gapUs: Long): Seq[SessionState] = {
    val merged = scala.collection.mutable.ArrayBuffer.empty[SessionState]
    (prior ++ incoming).sortBy(s => (s.start_us, s.end_us)).foreach { s =>
      if (merged.nonEmpty && s.start_us - merged.last.end_us <= gapUs) {
        val l = merged.last
        merged(merged.length - 1) = SessionState(
          l.start_us, math.max(l.end_us, s.end_us),
          l.n_events + s.n_events, l.sum_s4 + s.sum_s4)
      } else merged += s
    }
    merged.toSeq
  }
}

/** Structured Streaming path for the `events` table — the reference is
  * batch-only (hourly cron re-runs, SURVEY §2.6), so this is the
  * engine-level extension that replaces "re-run the batch hourly" with an
  * incremental pipeline: file source → watermark → windowed aggregation /
  * exactly-once dedup → sink. At scale the same topology runs off a log
  * (Kafka source) with identical transform code — not just a claim:
  * LogSourceSpec runs hourlyAgg and the dedup replay off an offset-based
  * row-by-row source (MemoryStream, the same DSv2 micro-batch path a
  * Kafka topic feeds; the Kafka connector jar itself is not in this
  * environment) and pins the results to the batch twins.
  */
object EventsStream {

  /** File-source stream over a directory of event parquet files. The
    * file source needs an explicit schema; batch-sniff the directory's
    * parquet footer once (`EventsLayout` — handles both the legacy
    * int64-nanos and the current timestamp[us] encodings) and normalize
    * `ts` to a session timestamp the same way the batch path does. */
  def read(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val layout = graft.core.EventsLayout.sniff(spark, dir)
    val reader = spark.readStream.schema(layout.schema)
    // Bounding files-per-trigger slices a backlog into multiple micro-
    // batches (AvailableNow honors source limits) — gates use it to
    // exercise merge-over-existing-state paths, production uses it to
    // bound per-trigger memory during backfill.
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    layout.normalize(reader.parquet(dir))
  }

  /** Scale-adaptive shuffle/state partition count for a stream over a
    * staged feed ("size partitions to the data"): stateful
    * streaming disables AQE, so nothing coalesces post-shuffle
    * partitions at runtime, and the state-store partition count is
    * FIXED at checkpoint creation from `spark.sql.shuffle.partitions` —
    * whatever the session default is. That default is sized for the
    * whole batch inventory, so a small feed pays (default × state
    * stores per operator) file-backed store opens/commits PER TRIGGER
    * of pure fixed cost (measured: st05's two micro-batches each ran 32
    * near-empty tasks for ~2–2.6 s; the 8-core probe, whose r17 binary
    * tied state partitions to the core count, reproduced r16-level
    * times — the regression was exactly this fixed cost). Deriving the
    * count from feed bytes / AQE's advisory partition size is the same
    * sizing AQE would pick for the equivalent batch exchange: a tiny
    * feed runs 1 partition, a 100 TB log fans out to
    * bytes/advisory-size partitions with NO upper cap — nothing here is
    * tuned to the local core count. Restored after the query completes
    * so batch gates keep the session default.
    *
    * The count is fixed when a query STARTS (the stream clones the
    * session conf then), so `body` must start the stream — every
    * stateful writer here ([[hourlyAgg]]/[[hourlyMart]],
    * [[latestStateUpsert]], [[sessionize]], [[deduped]],
    * [[viewClickJoin]]) is started inside it; once started, the query
    * keeps its count after the restore. */
  def feedSized[T](spark: SparkSession, feedDir: String)
      (body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prior = spark.conf.get(key)
    val p = new org.apache.hadoop.fs.Path(feedDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.listStatus(p).filter(_.isFile).map(_.getLen).sum
    val advisory = spark.sessionState.conf.getConf(
      org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    val n = math.max(1L, (bytes + advisory - 1) / advisory).toInt
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, prior)
  }

  /** Tumbling 1-hour windows per event type; the 2-hour watermark bounds
    * state while absorbing late files. */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,4)")).as("sum_value"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Exactly-once ingestion in the presence of replays: drop duplicate
    * event_ids, with state expired past the watermark horizon. */
  def deduped(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")

  /** Batch-equivalent of [[hourlyAgg]] (same expressions over a static
    * frame) — used to pin streaming/batch consistency. */
  def hourlyAggBatch(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,4)")).as("sum_value"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Streaming upsert into an hourly mart: `hourlyAgg` in update mode +
    * `foreachBatch`, where each micro-batch overwrites exactly the DAY
    * partitions it touched (dynamic partition overwrite — the same
    * mechanism as the engine's incremental materialization). This replaces
    * the reference's "re-run the whole batch hourly via cron task"
    * (setup/task.sql:1-6) with an incremental pipeline whose per-trigger
    * write cost is proportional to the days that changed, not the mart.
    *
    * Partition granularity is `day` (with `hour` as a data column), not
    * `hour`: an hourly mart makes one directory per hour — years of
    * history become tens of thousands of tiny partition dirs, and at
    * scale the sink's cost shifts from data to filesystem metadata (the
    * classic small-files problem; object-store listings amortize far
    * better over day dirs). A watermark-bounded stream touches at most
    * two days per trigger, so the rewrite amplification of the coarser
    * partition is bounded by one day of aggregate rows — 24 rows per
    * event type, noise next to the metadata saved.
    *
    * Start it inside [[feedSized]]: the update-mode aggregation's state
    * partitions, and every merge shuffle of the micro-batches (streaming
    * runs them with AQE off), take the count it sizes from the feed.
    */
  def hourlyMart(events: DataFrame, path: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[
          org.apache.spark.sql.Row] =
    hourlyAgg(events).writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        mergeHourly(batch, path)
      }

  /** One trigger of [[hourlyMart]]: the batch holds the UPDATED hour
    * rows; rewriting a touched day needs that day's other hours too, so
    * merge batch rows over the mart's current rows for exactly the
    * touched days. (At most watermark-horizon days are live per trigger;
    * closed days are never read or written.) IDEMPOTENT per batch
    * content: re-applying the same updated rows rewrites the same day
    * partitions to the same contents — which is what makes the
    * foreachBatch at-least-once window (crash after the sink write,
    * before the checkpoint commit; the batch replays on restart) safe.
    * Factored out so the recovery spec can drive exactly that window
    * (and so a per-trigger profile times exactly this merge: SCALEPROBE.md,
    * "Round 10: st04 per-trigger profile"). */
  private[graft] def mergeHourly(batch: DataFrame, path: String): Unit = {
    val spark = batch.sparkSession
    val updated = batch.withColumn("day", to_date(col("hour")))
    // Bounded driver-side collect BY CONTRACT: a watermark-bounded
    // trigger touches at most horizon days (1-2 at production cadence).
    // Naming the touched day DIRECTORIES makes the merge read O(touched
    // days): reading the mart ROOT instead — even filtered or semi-joined
    // on `day` — lists and plans over every partition ever written, an
    // O(mart-age) term per trigger that SCALEPROBE.md's "Round 10: st04
    // per-trigger profile" measured growing (7.8 s for an EMPTY trigger
    // against a 362-day mart; `tools/MartTriggerProbe`, last at commit
    // 68d271a).
    // Collected as yyyy-MM-dd STRINGS (the partition-dir spelling):
    // decoding DateType rows on the streaming microbatch thread trips a
    // MethodHandles lookup in Spark's date deserializer.
    val days = updated.select(col("day").cast("string"))
      .distinct().collect().map(_.getString(0))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Existence is checked per day dir (a new day has no dir yet), so
    // "no mart yet" needs no exception fallback — and an
    // AnalysisException from column resolution (schema drift in an
    // existing mart) still ABORTS the trigger rather than letting the
    // dynamic overwrite replace touched days with batch-only rows.
    val existingDirs = days.map(d => s"$path/day=$d")
      .filter(p => fs.exists(new org.apache.hadoop.fs.Path(p)))
    val current =
      if (existingDirs.isEmpty) updated.limit(0)
      else spark.read.option("basePath", path)
        .parquet(existingDirs.toIndexedSeq: _*)
        .join(updated.select("hour", "event_type"),
          Seq("hour", "event_type"), "left_anti")
    val merged = updated.unionByName(
        current.select(updated.columns.map(col): _*))
      // The write overwrites the very path `current` reads; truncate
      // lineage first (day-scale aggregate rows — bounded and tiny).
      .transform(graft.core.Checkpoints.truncate)
    merged.write.mode("overwrite")
      // Writer-scoped dynamic overwrite — a session-wide conf toggle
      // would race with concurrent writers (see Runner).
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("day").parquet(path)
    // Dead after the write — free per trigger, or an always-on stream
    // accumulates one pinned frame per micro-batch.
    graft.core.Caches.release(merged)
  }

  /** Streaming keyed upsert (`foreachBatch` MERGE) — the CDC-into-
    * warehouse topology: maintain exactly ONE row per user_id holding
    * that user's LATEST event. Each micro-batch first reduces to its own
    * per-key latest (one row per key per trigger, however many events
    * arrived), then merges over the table's current rows with an
    * anti-join on the key + union — rows for unseen keys flow through
    * untouched. On a lakehouse table format the merge step is literally
    * `MERGE INTO ... WHEN MATCHED UPDATE`; on plain parquet it is the
    * same read-merge-replace the engine's key-merge incremental uses.
    * State table size is |keys|, never |events| — the property that
    * keeps the sink bounded on an infinite log.
    *
    * Start it inside [[feedSized]]: each merge's ranking shuffle runs in
    * the stream's session (AQE off) at the count it sizes from the feed.
    */
  def latestStateUpsert(events: DataFrame, path: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[
          org.apache.spark.sql.Row] =
    events.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        upsertLatest(batch, path)
      }

  /** One merge step of [[latestStateUpsert]]: batch reduces to its
    * per-key latest, unions the table's current rows, and the SAME
    * ranking picks each key's winner — so a replayed or out-of-order
    * batch can never regress a key to an older event (the stored row
    * wins the rank when it is newer). Factored out so specs drive the
    * merge with hand-ordered batches. */
  private[streaming] def upsertLatest(batch: DataFrame, path: String): Unit = {
    val spark = batch.sparkSession
    def latestPerUser(df: DataFrame): DataFrame =
      graft.core.TopK.perKey(df, Seq(col("user_id")),
        Seq(col("us").desc, col("event_id").desc), 1, "rn").drop("rn")
    val latest = batch
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"), col("value"))
      .transform(latestPerUser)
    val current = try spark.read.parquet(path)
      catch { case _: org.apache.spark.sql.AnalysisException =>
        latest.limit(0) // first trigger: no state table yet
      }
    // The write overwrites the very path `current` reads; truncate
    // lineage first (|keys| + |batch keys| rows — bounded by design).
    val merged = latest.unionByName(
        current.select(latest.columns.map(col): _*))
      .transform(latestPerUser)
      .transform(graft.core.Checkpoints.truncate)
    merged.write.mode("overwrite").parquet(path)
    // Dead after the write — free per trigger (bounded-registry rule).
    graft.core.Caches.release(merged)
  }

  /** Stream-stream interval join — attribution (each click joined to the
    * same user's views in the preceding hour), the canonical two-stream
    * stateful topology. Both sides carry a 2-hour watermark and the join
    * condition bounds click time against view time, so Spark derives a
    * state-eviction horizon for BOTH sides: state never grows past
    * (watermark + horizon), the property that keeps a two-log join alive
    * indefinitely at scale. The join itself is a key-partitioned
    * symmetric hash join — one shuffle per side on user_id, exactly the
    * batch join's shape but incremental. Inner-join matches emit as soon
    * as both sides have arrived (no watermark-final wait, unlike outer
    * stream joins).
    */
  def viewClickJoin(events: DataFrame, horizonMinutes: Int = 60)
      : DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", "2 hours")
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("click_user"),
        col("event_id").as("click_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "2 hours")
    views.join(clicks,
        col("user_id") === col("click_user") &&
          col("click_ts") >= col("view_ts") &&
          col("click_ts") <=
            col("view_ts") + expr(s"interval $horizonMinutes minutes"))
      .select(col("user_id"), col("view_id"), col("click_id"),
        (unix_micros(col("click_ts")) - unix_micros(col("view_ts")))
          .as("lag_us"))
  }

  /** Key the events frame for the custom-state sessionizers: (user_id,
    * micros, exact ×10⁴-scaled value — see [[Session]] for why integer). */
  private def keyedForSessions(events: DataFrame)
      : org.apache.spark.sql.KeyValueGroupedDataset[
          Long, org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.{Encoders, Row}
    events
      .withWatermark("ts", "2 hours")
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        (col("value").cast("decimal(18,4)") * lit(10000)).cast("long")
          .as("v_s4"),
        col("ts"))
      .groupByKey((r: Row) => r.getLong(0))(Encoders.scalaLong)
  }

  /** Custom-state sessionization via `flatMapGroupsWithState`: per user,
    * coalesce events into sessions closed by a 30-minute inactivity gap.
    *
    * A session is only EMITTED once the watermark has passed its gap
    * horizon (`end + gap`): a gap observed inside one micro-batch is not
    * final — an out-of-order event still admissible under the 2-hour
    * watermark can land inside it later and bridge the two sides, which
    * is exactly what [[sessionizeBatch]] (global event-time order) would
    * have produced. Until then the state holds every unflushed session
    * summary; new events merge into / bridge them exactly like the
    * classic session-window merge. Any event that could still change an
    * emitted session would carry event time ≤ its gap horizon ≤ the
    * watermark, i.e. it is late beyond the watermark and excluded by
    * contract — so emitted sessions are final.
    *
    * State per user is the handful of sessions inside the watermark
    * horizon (bounded by watermark delay / gap, not by history), expired
    * via `GroupStateTimeout.EventTimeTimeout`; the timeout path flushes
    * sessions for users that simply stop sending. Start its query inside
    * [[feedSized]] so the state-store count follows the feed.
    */
  def sessionize(events: DataFrame, gapMinutes: Int = 30)
      : org.apache.spark.sql.Dataset[Session] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.{Encoders, Row}
    val gapUs = gapMinutes * 60L * 1000000L
    implicit val sessEnc = Encoders.product[Session]
    implicit val stateEnc = Encoders.product[SessionsState]

    def flush(
        key: Long, rows: Iterator[Row],
        state: GroupState[SessionsState]): Iterator[Session] = {
      val prior = state.getOption.map(_.sessions).getOrElse(Seq.empty)
      val incoming = rows.map { r =>
        val us = r.getLong(1)
        SessionState(us, us, 1L, r.getLong(2))
      }.toSeq
      val merged = SessionMerge(prior, incoming, gapUs)
      val wm = state.getCurrentWatermarkMs()
      def horizonMs(s: SessionState): Long = (s.end_us + gapUs) / 1000L
      val (ripe, live) = merged.partition(horizonMs(_) < wm)
      if (live.isEmpty) state.remove()
      else {
        state.update(SessionsState(live.toSeq))
        // Wake when the watermark passes the earliest live horizon (must
        // be strictly ahead of the current watermark to be settable).
        state.setTimeoutTimestamp(math.max(live.map(horizonMs).min, wm + 1))
      }
      ripe.iterator.map(s =>
        Session(key, s.start_us, s.end_us, s.n_events, s.sum_s4))
    }

    keyedForSessions(events).flatMapGroupsWithState(
      OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(flush)
  }

  /** Sessionization on `transformWithState` — Spark 4's arbitrary-state
    * API, the successor to `flatMapGroupsWithState` and the third of the
    * three real API choices for custom streaming state (v1 custom state
    * [[sessionize]], declarative [[sessionWindowAgg]], this). Semantics
    * are pinned IDENTICAL to [[sessionize]] (same merge fold, same
    * watermark-passed-horizon emission), so the three paths stay
    * interchangeable; what the new API buys at scale is the typed state
    * handle model (named states + timers per key, TTL support) and the
    * RocksDB state store it requires — changelog-checkpointed,
    * spillable-to-disk state, the right backend when per-key state ×
    * keys no longer fits an executor heap.
    *
    * Timers: exactly one live event-time timer per key, re-registered as
    * the earliest live-session gap horizon moves — `handleExpiredTimer`
    * flushes sessions for users that simply stop sending (the timeout
    * path `AvailableNow` replays drive through the final watermark).
    */
  def sessionizeTws(events: DataFrame, gapMinutes: Int = 30)
      : org.apache.spark.sql.Dataset[Session] = {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    implicit val sessEnc = Encoders.product[Session]
    keyedForSessions(events).transformWithState(
      new SessionizeProcessor(gapMinutes * 60L * 1000000L),
      TimeMode.EventTime(), OutputMode.Append())
  }

  /** Native merging session windows (`session_window`) — the DECLARATIVE
    * twin of [[sessionize]]: Spark's built-in session-window state store
    * does the merge/flush bookkeeping the custom `flatMapGroupsWithState`
    * path hand-rolls, with the same one-shuffle-on-key shape. Kept as a
    * separate gated operator because the two paths are the real API
    * choice a user makes (built-in windows vs custom state).
    *
    * Boundary semantics MATCH [[sessionize]] (verified empirically, and
    * pinned by the EventsStreamSpec boundary test): an event exactly
    * `gap` after its predecessor still merges — Spark's session-window
    * state merges sessions whose start is ≤ the current end (inclusive),
    * not only strictly-overlapping windows. The one contract difference
    * from the custom path is the emitted window end: last event + gap,
    * not the last event time.
    *
    * Value sums accumulate as DECIMAL(18,4) — exact, so emitted sessions
    * are independent of micro-batch slicing / replay order. */
  def sessionWindowAgg(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$gapMinutes minutes"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,4)")).as("sum_value"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("start_us"),
        unix_micros(col("session_window.end")).as("end_us"),
        col("n_events"), col("sum_value"))

  /** Batch-equivalent sessionization (window lag + cumulative session ids)
    * — the classic gaps-and-islands formulation; pins [[sessionize]] and
    * [[sessionizeTws]]. */
  def sessionizeBatch(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gapUs = gapMinutes * 60L * 1000000L
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
    events
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        (col("value").cast("decimal(18,4)") * lit(10000)).cast("long")
          .as("v_s4"))
      .withColumn("prev_us", lag(col("us"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_us").isNull ||
          col("us") - col("prev_us") > gapUs, 1L).otherwise(0L))
      .withColumn("sess_id", sum(col("new_sess")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sess_id"))
      .agg(min(col("us")).as("start_us"), max(col("us")).as("end_us"),
        count(lit(1)).as("n_events"), sum(col("v_s4")).as("sum_s4"))
      .select(col("user_id"), col("start_us"), col("end_us"),
        col("n_events"), col("sum_s4"))
  }
}

/** The `transformWithState` processor behind
  * [[EventsStream.sessionizeTws]]: per-key state = every session summary
  * whose gap horizon the watermark has not passed ([[SessionsState]],
  * same shape as the v1 path), plus the one registered timer timestamp
  * (so re-registration can delete the stale timer instead of leaking a
  * firing per obsolete horizon). Both live in named state handles —
  * RocksDB-backed, so state size is bounded by disk, not heap.
  *
  * Emission contract (identical to the v1 `flush`): a session is emitted
  * exactly once, when the watermark passes `end + gap`; anything that
  * could still change it would be behind the watermark and is excluded
  * by contract. `handleInputRows` merges and emits on data;
  * `handleExpiredTimer` emits for keys with no new data. Top-level class
  * (serialized into the query plan — no outer instance capture).
  */
final class SessionizeProcessor(gapUs: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, org.apache.spark.sql.Row, Session] {
  import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode,
    TimeMode, TimerValues, TTLConfig, ValueState}
  import org.apache.spark.sql.{Encoders, Row}

  @transient private var sessions: ValueState[SessionsState] = _
  @transient private var timerAt: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    sessions = getHandle.getValueState[SessionsState]("sessions",
      Encoders.product[SessionsState], TTLConfig.NONE)
    timerAt = getHandle.getValueState[Long]("timerAt",
      Encoders.scalaLong, TTLConfig.NONE)
  }

  private def horizonMs(s: SessionState): Long = (s.end_us + gapUs) / 1000L

  /** Partition merged sessions on the watermark, persist the live rest,
    * and keep exactly one timer at the earliest live horizon. */
  private def emitAndArm(key: Long, merged: Seq[SessionState],
      watermarkMs: Long): Iterator[Session] = {
    val (ripe, live) = merged.partition(horizonMs(_) < watermarkMs)
    if (timerAt.exists()) { getHandle.deleteTimer(timerAt.get()); timerAt.clear() }
    if (live.isEmpty) sessions.clear()
    else {
      sessions.update(SessionsState(live))
      // Strictly ahead of the current watermark, like the v1 path's
      // setTimeoutTimestamp contract.
      val at = math.max(live.map(horizonMs).min, watermarkMs + 1)
      getHandle.registerTimer(at)
      timerAt.update(at)
    }
    ripe.iterator.map(s =>
      Session(key, s.start_us, s.end_us, s.n_events, s.sum_s4))
  }

  override def handleInputRows(key: Long, rows: Iterator[Row],
      timers: TimerValues): Iterator[Session] = {
    val prior =
      if (sessions.exists()) sessions.get().sessions else Seq.empty
    val incoming = rows.map { r =>
      val us = r.getLong(1)
      SessionState(us, us, 1L, r.getLong(2))
    }.toSeq
    emitAndArm(key, SessionMerge(prior, incoming, gapUs),
      timers.getCurrentWatermarkInMs())
  }

  override def handleExpiredTimer(key: Long, timers: TimerValues,
      expired: ExpiredTimerInfo): Iterator[Session] = {
    val prior =
      if (sessions.exists()) sessions.get().sessions else Seq.empty
    // The fired timer is gone from the timer store; drop our record of
    // it so emitAndArm doesn't delete a successor's registration — but
    // ONLY if the firing matches our record. A stale firing (a timer
    // deleted this batch, should Spark ever deliver one) must not orphan
    // the live registration we just armed.
    if (SessionizeProcessor.firedTimerIsOurs(
        if (timerAt.exists()) Some(timerAt.get()) else None,
        expired.getExpiryTimeInMs()))
      timerAt.clear()
    emitAndArm(key, prior, timers.getCurrentWatermarkInMs())
  }
}

object SessionizeProcessor {
  /** The stale-firing guard's decision, pure so the invariant is
    * unit-pinned: the record of the registered timer may be dropped
    * ONLY when the firing IS that timer — a stale firing (deleted this
    * batch, delivered anyway) or a firing with no live registration
    * must leave the record alone, else `emitAndArm`'s delete-then-
    * re-register would orphan the successor timer and the key would
    * never flush on the timer path again. */
  private[streaming] def firedTimerIsOurs(recorded: Option[Long],
      firedMs: Long): Boolean = recorded.contains(firedMs)
}
