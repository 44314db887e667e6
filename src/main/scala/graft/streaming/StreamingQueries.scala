package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.core.{Q, QueryPack, Tables}
import graft.operators.CorpusPipeline

/** One document on the st10 ingest log. */
final case class ArrivingDoc(doc_id: Long, text: String)

/** One query vector on the st12 serving stream. */
final case class QueryVec(vec_id: Long, embedding: Seq[Double])

/** One takedown request on the st13 removal feed. */
final case class TakedownReq(doc_id: Long)

/** One embedding row on the st14 semantic-ingest log. */
final case class EmbRow(vec_id: Long, embedding: Array[Float])

/** One crawled edge on the st15 link-graph ingest log. */
final case class EdgeRow(src: Long, dst: Long)

/** Driver-gated Structured Streaming queries: each runs a real streaming
  * query (file source → stateful transform → memory sink) to completion
  * with `Trigger.AvailableNow`, then returns the sink table — so the
  * DuckDB oracle checks the STREAMING path end to end, not a batch twin.
  * On a cluster the same topologies run unbounded off a log source with
  * identical transform code; AvailableNow is Spark's own batch-replay
  * execution of exactly that pipeline.
  *
  * Determinism: st01 uses complete output mode (the final state of the
  * aggregation is independent of file/micro-batch order); st02's dedup
  * keeps one row per event_id regardless of which replica a batch sees
  * first (replicas are byte-identical). Decimal outputs serialize to
  * VARCHAR on both sides (driver hash rule — RelationalQueries.dsumStr).
  */
object StreamingQueries extends QueryPack {

  private def runToCompletion(out: DataFrame, name: String,
      mode: String): DataFrame = {
    val spark = out.sparkSession
    val q = out.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(mode)
      .option("checkpointLocation",
        Files.createTempDirectory(s"graft_${name}_ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name)
  }

  /** Stage the events table into a fresh feed directory for the file
    * source. Handles both layouts: a single parquet FILE (driver
    * testdata) and a DIRECTORY of part files (replicated bench builds).
    * `copies` > 1 stages the whole feed again (replay scenarios). */
  private def stageFeed(dir: String, tag: String, copies: Int = 1): String = {
    val feedDir = Files.createTempDirectory(tag)
    val src = Paths.get(s"$dir/events.parquet")
    val parts: Seq[java.nio.file.Path] =
      if (Files.isDirectory(src)) {
        import scala.jdk.CollectionConverters._
        // Files.list holds an open DirectoryStream — close it or every
        // staged gate leaks a directory fd for the JVM's lifetime.
        val st = Files.list(src)
        try st.iterator().asScala.toSeq
          .filter(_.getFileName.toString.endsWith(".parquet")).sorted
        finally st.close()
      } else Seq(src)
    (0 until copies).foreach { c =>
      parts.zipWithIndex.foreach { case (p, i) =>
        Files.copy(p, feedDir.resolve(s"part-$c-$i.parquet"),
          StandardCopyOption.REPLACE_EXISTING)
      }
    }
    feedDir.toString
  }

  def queries: Seq[Q] = Seq(
    // Watermarked tumbling-window aggregation, streamed file-by-file and
    // emitted as the complete final state.
    Q("st01_stream_hourly",
      (s, dir) => {
        // The file source wants a directory to list; stage the feed file.
        val feedDir = stageFeed(dir, "graft_st01_feed")
        val agg = EventsStream.hourlyAgg(
          EventsStream.read(s, feedDir))
        EventsStream.feedSized(s, feedDir) {
          runToCompletion(agg, "st01_stream_hourly_sink", "complete")
        }
          .select(col("hour"), col("event_type"), col("n_events"),
            col("sum_value").cast("decimal(38,4)").cast("string")
              .as("sum_value"))
          .orderBy(col("hour"), col("event_type"))
      },
      Some("""SELECT date_trunc('hour', ts) AS hour, event_type,
             | COUNT(*) AS n_events,
             | CAST(CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(18,4)))
             |   AS DECIMAL(38,4)) AS VARCHAR) AS sum_value
             |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin)),

    // Exactly-once ingestion under replay: the source directory holds TWO
    // byte-identical copies of the feed (a full replay, the at-least-once
    // delivery failure mode); watermark-scoped dedup state must emit each
    // event exactly once — the oracle is simply the original feed.
    Q("st02_stream_dedup_replay",
      (s, dir) => {
        val replayDir = stageFeed(dir, "graft_st02_feed", copies = 2)
        val deduped = EventsStream.deduped(
          EventsStream.read(s, replayDir))
        EventsStream.feedSized(s, replayDir) {
          runToCompletion(deduped, "st02_stream_dedup_sink", "append")
        }
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT event_id, user_id, event_type, value
             |FROM events ORDER BY event_id""".stripMargin)),

    // foreachBatch incremental mart: update-mode hourly agg where each
    // micro-batch dynamically overwrites exactly the DAY partitions it
    // touched (hour rides as a data column — see EventsStream.hourlyMart
    // for the day-over-hour partition-granularity rationale). The gate
    // reads the MART PARQUET back — so the oracle checks the materialized
    // incremental table, not the in-flight stream.
    Q("st04_stream_incremental_mart",
      (s, dir) => {
        val feedDir = stageFeed(dir, "graft_st04_feed")
        val mart = Files.createTempDirectory("graft_st04_mart")
          .resolve("hourly").toString
        EventsStream.feedSized(s, feedDir) {
          val q = EventsStream
            .hourlyMart(EventsStream.read(s, feedDir), mart)
            .option("checkpointLocation",
              Files.createTempDirectory("graft_st04_ckpt").toString)
            .trigger(Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        s.read.parquet(mart)
          .select(col("hour").cast("timestamp").as("hour"), col("event_type"),
            col("n_events"),
            col("sum_value").cast("decimal(38,4)").cast("string")
              .as("sum_value"))
          .orderBy(col("hour"), col("event_type"))
      },
      Some("""SELECT date_trunc('hour', ts) AS hour, event_type,
             | COUNT(*) AS n_events,
             | CAST(CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(18,4)))
             |   AS DECIMAL(38,4)) AS VARCHAR) AS sum_value
             |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin)),

    // Stream-stream interval join (view→click attribution within an
    // hour): both sides watermarked, state bounded by the interval
    // condition; inner matches emit incrementally. The oracle is the
    // equivalent batch interval self-join.
    Q("st05_stream_stream_join",
      (s, dir) => {
        val feedDir = stageFeed(dir, "graft_st05_feed")
        val joined = EventsStream.viewClickJoin(
          EventsStream.read(s, feedDir))
        EventsStream.feedSized(s, feedDir) {
          runToCompletion(joined, "st05_stream_join_sink", "append")
        }
          .orderBy(col("user_id"), col("view_id"), col("click_id"))
      },
      Some("""WITH e AS (
             |  SELECT user_id, event_id, event_type,
             |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
             |  FROM events)
             |SELECT v.user_id, v.event_id AS view_id,
             | c.event_id AS click_id, c.us - v.us AS lag_us
             |FROM e v JOIN e c ON v.user_id = c.user_id
             | AND v.event_type = 'view' AND c.event_type = 'click'
             | -- the join predicate must compare the MICROS the Spark side
             | -- joins on, not the source's raw ts encoding: a pair within
             | -- ~1µs of either bound would otherwise diverge across engines
             | AND c.us >= v.us AND c.us <= v.us + 3600000000
             |ORDER BY v.user_id, view_id, click_id""".stripMargin)),

    // Stream-static join (dimension enrichment): each streamed event
    // joins a STATIC per-user profile frame (broadcast — stateless, no
    // watermark needed; the static side is re-planned per micro-batch,
    // which is how Spark picks up slowly-changing dims). The canonical
    // "enrich the log with the dimension table" topology.
    // foreachBatch keyed upsert (CDC-into-warehouse): one row per
    // user_id holding that user's LATEST event. The feed is split into
    // two files with maxFilesPerTrigger=1, so the second micro-batch
    // MERGES over state the first one wrote — the per-key replace path,
    // not just initialization. The oracle is the batch latest-per-key.
    Q("st07_keyed_upsert",
      (s, dir) => {
        val feedDir = Files.createTempDirectory("graft_st07_feed").toString
        // Raw (un-normalized) read+rewrite: the split files keep the
        // source's own ts encoding, whatever it is — the sniff in
        // EventsStream.read adapts when the stream reads them back.
        graft.core.EventsLayout.sniff(s, s"$dir/events.parquet")
        val raw = s.read.parquet(s"$dir/events.parquet")
        raw.filter(col("event_id") % 2 === 0)
          .coalesce(1).write.mode("append").parquet(feedDir)
        raw.filter(col("event_id") % 2 === 1)
          .coalesce(1).write.mode("append").parquet(feedDir)
        val statePath = Files.createTempDirectory("graft_st07_state")
          .resolve("state").toString
        EventsStream.feedSized(s, feedDir) {
          val q = EventsStream.latestStateUpsert(
              EventsStream.read(s, feedDir, maxFilesPerTrigger = Some(1)),
              statePath)
            .option("checkpointLocation",
              Files.createTempDirectory("graft_st07_ckpt").toString)
            .trigger(Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
        s.read.parquet(statePath)
          .select(col("user_id"), col("us"), col("event_id"),
            col("event_type"), col("value"))
          .orderBy(col("user_id"))
      },
      Some("""WITH e AS (
             |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) us,
             |    event_id, event_type, value
             |  FROM events),
             |r AS (
             |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
             |    ORDER BY us DESC, event_id DESC) rn
             |  FROM e)
             |SELECT user_id, us, event_id, event_type, value
             |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin)),

    Q("st06_stream_static_join",
      (s, dir) => {
        val feedDir = stageFeed(dir, "graft_st06_feed")
        val profile = graft.core.Tables(s, dir, "events")
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_user_events"))
        val enriched = EventsStream.read(s, feedDir)
          .join(broadcast(profile), "user_id")
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("n_user_events"))
        runToCompletion(enriched, "st06_stream_static_sink", "append")
          .orderBy(col("event_id"))
      },
      Some("""SELECT event_id, e.user_id, event_type,
             | (SELECT COUNT(*) FROM events u
             |   WHERE u.user_id = e.user_id) AS n_user_events
             |FROM events e ORDER BY event_id""".stripMargin)),

    // Custom-state sessionization (flatMapGroupsWithState, event-time
    // timeout) against the batch gaps-and-islands oracle. A sentinel event
    // far in the future (user_id = -1, filtered out below) advances the
    // final watermark past every real session's gap horizon, so the
    // stream's own timeout path — not a batch twin — flushes every
    // session before AvailableNow terminates.
    Q("st03_stream_sessionize",
      (s, dir) => {
        val feedDir = stageFeed(dir, "graft_st03_feed")
        // Sentinel must be written in the feed's RAW ts encoding (the
        // stream reads every file under one sniffed schema).
        val layout = graft.core.EventsLayout.sniff(s, s"$dir/events.parquet")
        s.read.schema(layout.schema)
          .parquet(s"$dir/events.parquet").limit(1)
          .withColumn("user_id", lit(-1L))
          .withColumn("ts", layout.shiftTsDays(col("ts"), 3650L))
          .write.mode("append").parquet(feedDir.toString)
        val sessions = EventsStream.sessionize(
          EventsStream.read(s, feedDir)).toDF()
        EventsStream.feedSized(s, feedDir) {
          runToCompletion(sessions, "st03_stream_sessionize_sink", "append")
        }
          .filter(col("user_id") >= 0)
          .select(col("user_id"), col("start_us"), col("end_us"),
            col("n_events"),
            (col("sum_s4").cast("decimal(38,4)") / lit(10000))
              .cast("decimal(38,4)").cast("string").as("sum_value"))
          .orderBy(col("user_id"), col("start_us"))
      },
      Some("""WITH e AS (
             |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
             |    CAST(CAST(value AS VARCHAR) AS DECIMAL(18,4)) AS v
             |  FROM events),
             |g AS (
             |  SELECT *, CASE WHEN lag(us) OVER w IS NULL
             |      OR us - lag(us) OVER w > 1800000000
             |    THEN 1 ELSE 0 END AS brk
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
             |s AS (
             |  SELECT *, CAST(SUM(brk) OVER (
             |    PARTITION BY user_id ORDER BY us
             |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_id
             |  FROM g)
             |SELECT user_id, MIN(us) AS start_us, MAX(us) AS end_us,
             |  COUNT(*) AS n_events,
             |  CAST(CAST(SUM(v) AS DECIMAL(38,4)) AS VARCHAR) AS sum_value
             |FROM s GROUP BY user_id, sess_id
             |ORDER BY user_id, start_us""".stripMargin)),

    // Sessionization #3: the transformWithState arbitrary-state API
    // (Spark 4's successor to flatMapGroupsWithState) over the RocksDB
    // state store it requires — same merge fold, same oracle as st03, so
    // the three sessionization paths (v1 custom state, native
    // session_window, new API) are pinned interchangeable. The provider
    // conf is captured at query START; it is restored right after
    // completion so no other gate silently inherits RocksDB.
    Q("st09_sessionize_tws",
      (s, dir) => {
        val feedDir = stageFeed(dir, "graft_st09_feed")
        val layout = graft.core.EventsLayout.sniff(s, s"$dir/events.parquet")
        s.read.schema(layout.schema)
          .parquet(s"$dir/events.parquet").limit(1)
          .withColumn("user_id", lit(-1L))
          .withColumn("ts", layout.shiftTsDays(col("ts"), 3650L))
          .write.mode("append").parquet(feedDir.toString)
        val providerKey = "spark.sql.streaming.stateStore.providerClass"
        val prior = s.conf.getOption(providerKey)
        s.conf.set(providerKey, "org.apache.spark.sql.execution." +
          "streaming.state.RocksDBStateStoreProvider")
        try {
          val sessions = EventsStream.sessionizeTws(
            EventsStream.read(s, feedDir)).toDF()
          EventsStream.feedSized(s, feedDir) {
            runToCompletion(sessions, "st09_sessionize_tws_sink", "append")
          }
            .filter(col("user_id") >= 0)
            .select(col("user_id"), col("start_us"), col("end_us"),
              col("n_events"),
              (col("sum_s4").cast("decimal(38,4)") / lit(10000))
                .cast("decimal(38,4)").cast("string").as("sum_value"))
            .orderBy(col("user_id"), col("start_us"))
        } finally prior match {
          case Some(v) => s.conf.set(providerKey, v)
          case None => s.conf.unset(providerKey)
        }
      },
      Some("""WITH e AS (
             |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
             |    CAST(CAST(value AS VARCHAR) AS DECIMAL(18,4)) AS v
             |  FROM events),
             |g AS (
             |  SELECT *, CASE WHEN lag(us) OVER w IS NULL
             |      OR us - lag(us) OVER w > 1800000000
             |    THEN 1 ELSE 0 END AS brk
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
             |s AS (
             |  SELECT *, CAST(SUM(brk) OVER (
             |    PARTITION BY user_id ORDER BY us
             |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_id
             |  FROM g)
             |SELECT user_id, MIN(us) AS start_us, MAX(us) AS end_us,
             |  COUNT(*) AS n_events,
             |  CAST(CAST(SUM(v) AS DECIMAL(38,4)) AS VARCHAR) AS sum_value
             |FROM s GROUP BY user_id, sess_id
             |ORDER BY user_id, start_us""".stripMargin)),

    // Native merging session windows (session_window) — the built-in
    // declarative alternative to st03's custom state. Same sentinel trick
    // to advance the final watermark, same inclusive gap rule (boundary
    // pinned by EventsStreamSpec); the oracle differs from st03's only in
    // the operator's end contract: window end = last event + gap.
    Q("st08_session_window",
      (s, dir) => {
        val feedDir = stageFeed(dir, "graft_st08_feed")
        val layout = graft.core.EventsLayout.sniff(s, s"$dir/events.parquet")
        s.read.schema(layout.schema)
          .parquet(s"$dir/events.parquet").limit(1)
          .withColumn("user_id", lit(-1L))
          .withColumn("ts", layout.shiftTsDays(col("ts"), 3650L))
          .write.mode("append").parquet(feedDir.toString)
        val sessions = EventsStream.sessionWindowAgg(
          EventsStream.read(s, feedDir))
        EventsStream.feedSized(s, feedDir) {
          runToCompletion(sessions, "st08_session_window_sink", "append")
        }
          .filter(col("user_id") >= 0)
          .select(col("user_id"), col("start_us"), col("end_us"),
            col("n_events"),
            col("sum_value").cast("decimal(38,4)").cast("string")
              .as("sum_value"))
          .orderBy(col("user_id"), col("start_us"))
      },
      Some("""WITH e AS (
             |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
             |    CAST(CAST(value AS VARCHAR) AS DECIMAL(18,4)) AS v
             |  FROM events),
             |g AS (
             |  SELECT *, CASE WHEN lag(us) OVER w IS NULL
             |      OR us - lag(us) OVER w > 1800000000
             |    THEN 1 ELSE 0 END AS brk
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
             |s AS (
             |  SELECT *, CAST(SUM(brk) OVER (
             |    PARTITION BY user_id ORDER BY us
             |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_id
             |  FROM g)
             |SELECT user_id, MIN(us) AS start_us,
             |  MAX(us) + 1800000000 AS end_us,
             |  COUNT(*) AS n_events,
             |  CAST(CAST(SUM(v) AS DECIMAL(38,4)) AS VARCHAR) AS sum_value
             |FROM s GROUP BY user_id, sess_id
             |ORDER BY user_id, start_us""".stripMargin)),

    // STREAMED full-recipe ingest ([[CorpusPipeline.appendBatchFull]]
    // driven from foreachBatch over an offset-based stream): p08's
    // lifecycle with the append side arriving as THREE id-ordered
    // micro-batches — micro-batch id = store batch id, so the
    // at-least-once replay window lines up with the seven-table state's
    // partition-per-batch idempotency. MemoryStream is the offset-based
    // DSv2 path a Kafka topic feeds (LogSourceSpec), and chunked
    // `addData` + `processAllAvailable` pins the id-ordering contract a
    // crawl log delivers for free. Oracle: p08's full recompute — the
    // streamed accumulation must be indistinguishable from the one-shot
    // pass over the union, training still restricted to the history
    // slice (the frozen-codebook contract).
    Q("st10_stream_full_recipe",
      (s, dir) => {
        import s.implicits._
        val docs = Tables(s, dir, "documents")
        val corpus = docs.filter(col("doc_id") % 5 =!= 0)
        val bench = docs.filter(col("doc_id") % 5 === 0)
        val cEmb = Tables(s, dir, "embeddings")
          .filter(col("vec_id") % 5 =!= 0)
        val cut = corpus.agg(max(col("doc_id"))).head.getLong(0) * 4 / 5
        val st = CorpusPipeline.FullState("stream_full_gate")
        CorpusPipeline.buildHistoryFull(s,
          corpus.filter(col("doc_id") <= cut),
          cEmb.filter(col("vec_id") <= cut), bench,
          "doc_id", "text", "vec_id", "embedding", st)
        val arriving = corpus.filter(col("doc_id") > cut)
          .select(col("doc_id"), col("text")).as[ArrivingDoc]
          .collect().sortBy(_.doc_id).toSeq
        val input = MemoryStream[ArrivingDoc](s)
        val q = input.toDF().writeStream
          .foreachBatch { (b: DataFrame, id: Long) =>
            CorpusPipeline.appendBatchFull(s, b, cEmb, "doc_id", "text",
              "vec_id", "embedding", st, s"s$id")
          }
          .outputMode("append").start()
        try {
          arriving.grouped(math.max(1, arriving.size / 3 + 1)).foreach {
            c => input.addData(c); q.processAllAvailable()
          }
        } finally q.stop()
        CorpusPipeline.readManifest(s, st.base).orderBy(col("pack_id"))
      },
      Some(graft.operators.PipelineQueries.fullRecipeOracle(
        """vec_id % 5 <> 0 AND vec_id <= (SELECT MAX(doc_id) * 4 // 5
          |    FROM documents WHERE doc_id % 5 <> 0)""".stripMargin))),

    // STREAMED span-store ingest ([[graft.operators.SpanStore
    // .appendBatch]] from foreachBatch over an offset-based stream) —
    // d21's incremental substring dedup driven by the streaming
    // runtime: history on the first 60% of the id range, the remainder
    // arriving as id-ordered micro-batches (micro-batch id = store
    // batch id, so at-least-once replay lands in the same partition).
    // Each batch's rewrite appends to a parquet sink INSIDE its epoch —
    // the rewrite plan is pinned to the call-time history snapshot, and
    // sinking per epoch is what a production ingest does anyway.
    // Oracle: d21's one-shot recompute over the whole corpus restricted
    // to the streamed slice — streamed accumulation must be
    // indistinguishable from the batch pass.
    Q("st11_stream_span_ingest",
      (s, dir) => {
        import s.implicits._
        val docs = Tables(s, dir, "documents")
        val cut = docs.agg(max(col("doc_id"))).head.getLong(0) * 3 / 5
        val store = graft.operators.SpanStore("stream_span_gate")
        graft.operators.SpanStore.build(s,
          docs.filter(col("doc_id") <= cut), "doc_id", "text", k = 5,
          store)
        // Bounded driver collect: the streamed slice (40% of documents
        // at gate SF) — the MemoryStream feed, not an operator step; on
        // a cluster this is the log source itself.
        val arriving = docs.filter(col("doc_id") > cut)
          .select(col("doc_id"), col("text")).as[ArrivingDoc]
          .collect().sortBy(_.doc_id).toSeq
        val sink = Files.createTempDirectory("graft_st11_sink").toString
        val input = MemoryStream[ArrivingDoc](s)
        val q = input.toDF().writeStream
          .foreachBatch { (b: DataFrame, id: Long) =>
            graft.operators.SpanStore.appendBatch(s, b, "doc_id", "text",
                k = 5, store, s"s$id")
              .write.mode("append").parquet(sink)
          }
          .outputMode("append").start()
        try {
          arriving.grouped(math.max(1, arriving.size / 3 + 1)).foreach {
            c => input.addData(c); q.processAllAvailable()
          }
        } finally q.stop()
        s.read.parquet(sink).orderBy(col("doc_id"))
      },
      Some(raw"""WITH toks AS (
             |  SELECT doc_id,
             |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
             |         ELSE regexp_split_to_array(trim(text), '\s+') END w
             |  FROM documents),
             |g AS (
             |  SELECT doc_id, i, md5(array_to_string(w[i:i+4], ' ')) gh
             |  FROM toks, UNNEST(range(1, len(w) - 3)) AS t(i)
             |  WHERE len(w) >= 5),
             |fdoc AS (SELECT gh, MIN(doc_id) fd FROM g GROUP BY gh),
             |f AS (SELECT g.gh, fdoc.fd, MIN(g.i) fs
             |      FROM g JOIN fdoc ON g.gh = fdoc.gh AND g.doc_id = fdoc.fd
             |      GROUP BY g.gh, fdoc.fd),
             |dup AS (SELECT g.doc_id, g.i FROM g JOIN f USING (gh)
             |        WHERE NOT (g.doc_id = f.fd AND g.i = f.fs)),
             |cov AS (SELECT DISTINCT doc_id, i + o AS p
             |        FROM dup, UNNEST(range(0, 5)) AS u(o)),
             |cova AS (SELECT doc_id, list(p) ps, COUNT(*) nr
             |         FROM cov GROUP BY doc_id)
             |SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_tokens,
             |  CAST(COALESCE(c.nr, 0) AS BIGINT) AS n_removed,
             |  md5(COALESCE(array_to_string(
             |    list_transform(
             |      list_filter(range(1, len(t.w) + 1),
             |        p -> NOT list_contains(
             |          COALESCE(c.ps, CAST([] AS BIGINT[])), p)),
             |      p -> t.w[p]), ' '), '')) AS kept_md5
             |FROM toks t LEFT JOIN cova c USING (doc_id)
             |WHERE t.doc_id > (SELECT MAX(doc_id) * 3 // 5 FROM documents)
             |ORDER BY t.doc_id""".stripMargin)),

    // Streamed ANN SERVING off the persisted index — the online half
    // of the v14 lifecycle: the IVF-PQ index is built ONCE (static,
    // frozen codebook), then queries arrive as a stream and every
    // micro-batch probes the same persisted codes via foreachBatch,
    // results accumulating in the serving sink. Per-query top-k is
    // independent across queries, so the streamed accumulation must
    // equal the one-shot probe over all queries — v11/v14's exact
    // IvfPqOracle verbatim. On a cluster this is the query-log →
    // retrieval topology: index partitions stay put, only the (tiny)
    // query batches move.
    // STREAMED takedown ([[graft.operators.StoreRetention.deleteDocs]]
    // from foreachBatch) — the removal FEED as a stream: production
    // takedown queues (DMCA, GDPR, opt-outs) are exactly this topology,
    // requests arriving continuously and each micro-batch driving a
    // partition-scoped delete against the persisted dedup store. With
    // st10/st11 (ingest) and st12 (serving) this closes the streamed
    // store lifecycle. deleteDocs is idempotent and micro-batches are
    // disjoint id sets, so at-least-once replay of a batch rewrites the
    // same partitions to the same state — and the accumulated deletes
    // must equal d12's ONE-SHOT delete of the union: the gate reads
    // back the store's verified pairs against the same survivor oracle
    // (shared text via [[graft.operators.DedupQueries
    // .jaccardOracleExcluding]], so the batch and streamed delete paths
    // cannot silently fork).
    Q("st13_stream_takedown",
      (s, dir) => {
        import s.implicits._
        val docs = Tables(s, dir, "documents")
        val store = graft.operators.DedupStore("stream_takedown_gate")
        graft.operators.DedupStore.reset(s, store)
        graft.operators.DedupStore.build(s,
          docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
          graft.operators.DedupQueries.Threshold, store)
        graft.operators.DedupStore.appendBatch(s,
          docs.filter(col("doc_id") % 2 === 1), "doc_id", "text",
          graft.operators.DedupQueries.Threshold, store, "b1")
        // Bounded driver collect: the takedown feed (10% of ids at gate
        // SF) — the MemoryStream input, not an operator step; on a
        // cluster this is the removal queue itself.
        val victims = docs.filter(col("doc_id") % 10 === 7)
          .select(col("doc_id")).as[TakedownReq]
          .collect().sortBy(_.doc_id).toSeq
        val input = MemoryStream[TakedownReq](s)
        val q = input.toDF().writeStream
          .foreachBatch { (b: DataFrame, _: Long) =>
            graft.operators.StoreRetention.deleteDocs(s, store,
              b.select(col("doc_id")))
            ()
          }
          .outputMode("append").start()
        try {
          victims.grouped(math.max(1, victims.size / 3 + 1)).foreach {
            c => input.addData(c); q.processAllAvailable()
          }
        } finally q.stop()
        graft.operators.DedupStore.allPairs(s, store)
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some(graft.operators.DedupQueries
        .jaccardOracleExcluding("doc_id % 10 = 7"))),

    // STREAMED semantic-store ingest ([[graft.operators.SemanticStore
    // .append]] from foreachBatch) — d14's embedding-space dedup store
    // driven by the streaming runtime: codebook trained ONCE on the
    // first 80% of the id range and frozen, the remaining 20% arriving
    // as id-ordered micro-batches, each assigning row-locally against
    // the frozen centroids and probing only the store's matching
    // clusters. Frozen clusters + id-ordered batches make every
    // verdict FINAL on write, so the streamed accumulation must equal
    // d14's one-shot append — the gate shares d14's oracle TEXT
    // ([[graft.operators.DedupQueries.semanticStoreOracle]]) so the
    // batch and streamed append paths cannot silently fork. With
    // st10/st11 (document tiers), st13 (takedown) and st12 (serving),
    // every persisted-store lifecycle verb now has a streamed gate.
    Q("st14_stream_semantic_ingest",
      (s, dir) => {
        import s.implicits._
        val emb = Tables(s, dir, "embeddings")
        val cut = emb.agg(max(col("vec_id"))).head.getLong(0) * 4 / 5
        val store = graft.operators.SemanticStore("stream_sem_gate")
        graft.operators.SemanticStore.reset(s, store)
        graft.operators.SemanticStore.build(s,
          emb.filter(col("vec_id") <= cut), "vec_id", "embedding",
          k = 10, iters = 3, threshold = 0.45, store)
        // Bounded driver collect: the streamed slice (20% of vectors
        // at gate SF) — the MemoryStream feed, not an operator step.
        val arriving = emb.filter(col("vec_id") > cut)
          .select(col("vec_id"), col("embedding")).as[EmbRow]
          .collect().sortBy(_.vec_id).toSeq
        val input = MemoryStream[EmbRow](s)
        val q = input.toDF().writeStream
          .foreachBatch { (b: DataFrame, id: Long) =>
            graft.operators.SemanticStore.append(s, b, "vec_id",
              "embedding", store, s"s$id")
          }
          .outputMode("append").start()
        try {
          arriving.grouped(math.max(1, arriving.size / 3 + 1)).foreach {
            c => input.addData(c); q.processAllAvailable()
          }
        } finally q.stop()
        graft.operators.SemanticStore.keeps(s, store, "vec_id")
          .orderBy(col("vec_id"))
      },
      Some(graft.operators.DedupQueries.semanticStoreOracle)),

    Q("st12_stream_ann_serving",
      (s, dir) => {
        import s.implicits._
        val emb = Tables(s, dir, "embeddings")
        val index = graft.operators.VectorIndex("stream_ann_gate")
        graft.operators.VectorIndex.build(s, emb, "vec_id", "embedding",
          index)
        // Bounded driver collect: the 5-query serving feed — the
        // MemoryStream input, not an operator step.
        val queries = emb.filter(col("vec_id") < 5)
          .select(col("vec_id"),
            col("embedding").cast("array<double>").as("embedding"))
          .as[QueryVec].collect().sortBy(_.vec_id).toSeq
        val sink = Files.createTempDirectory("graft_st12_sink").toString
        val input = MemoryStream[QueryVec](s)
        val q = input.toDF().writeStream
          .foreachBatch { (b: DataFrame, _: Long) =>
            graft.operators.VectorIndex.topK(s, b, "vec_id", "embedding",
                index, k = 5)
              .write.mode("append").parquet(sink)
          }
          .outputMode("append").start()
        try {
          queries.grouped(2).foreach { c =>
            input.addData(c); q.processAllAvailable()
          }
        } finally q.stop()
        s.read.parquet(sink).orderBy(col("qid"), col("rn"))
      },
      Some(graft.operators.VectorQueries.IvfPqOracle)),

    // Streamed link-graph ingest ([[graft.operators.LinkGraphStore]]):
    // the crawl's edge log arrives as micro-batches; each foreachBatch
    // lands one edge partition and warm-starts 3 PageRank rounds from
    // the PREVIOUS batch's persisted 12dp vector — the streamed twin of
    // g06's batch append, chained across batches (fromBatch follows the
    // micro-batch sequence). Oracle replays the whole build + 2-batch
    // history as one unrolled 9-round chain whose edge set grows at
    // rounds 4 and 7 ([[graft.operators.GraphQueries.St15Oracle]]), so
    // streamed ingest ≡ batch replay to the bit.
    Q("st15_stream_linkgraph",
      (s, dir) => {
        import s.implicits._
        val docs = Tables(s, dir, "documents")
          .select(col("doc_id").as("id"))
        val n = docs.count()
        def linkEdges(pred: org.apache.spark.sql.Column) =
          graft.operators.GraphQueries
            .syntheticEdges(docs.filter(pred), n)
        val store = graft.operators.LinkGraphStore("stream_link_gate")
        graft.operators.LinkGraphStore.build(s, docs,
          linkEdges(col("id") % 5 =!= 0), iters = 3, store)
        // Bounded driver collect: the streamed edge slices (the
        // dangling fifth of the synthetic graph at gate SF) — the
        // MemoryStream feed, not an operator step.
        def slice(pred: org.apache.spark.sql.Column): Seq[EdgeRow] =
          linkEdges(pred).as[EdgeRow].collect()
            .sortBy(e => (e.src, e.dst)).toSeq
        val chunks = Seq(slice(col("id") % 10 === 0),
          slice(col("id") % 10 === 5))
        val input = MemoryStream[EdgeRow](s)
        // fromBatch derives from the micro-batch id — stable across a
        // checkpoint replay — NOT from mutable driver state: a crashed
        // driver loses a `var last`, and a replay that chained off it
        // would warm-start a batch from its own checkpoint (6 rounds
        // instead of 3 — a wrong answer). StreamCrashReplaySpec kills
        // this seam and proves the id-derived chain absorbs the replay.
        val q = input.toDF().writeStream
          .foreachBatch { (b: DataFrame, id: Long) =>
            graft.operators.LinkGraphStore.appendAndRank(s, docs, b,
              iters = 3, store, s"s$id",
              fromBatch = if (id == 0L) "base" else s"s${id - 1}")
          }
          .outputMode("append").start()
        try chunks.foreach { c =>
          input.addData(c); q.processAllAvailable()
        } finally q.stop()
        graft.operators.LinkGraphStore.ranks(s, store, "s1")
          .select(col("id").as("doc_id"), col("pagerank"))
          .orderBy(col("doc_id"))
      },
      Some(graft.operators.GraphQueries.St15Oracle)),

    // Streamed block-dedup ingest ([[graft.operators.BlockStore]]):
    // daily crawl snapshots arrive as micro-batches in id order; each
    // foreachBatch excises blocks already in the fingerprint table
    // (one anti-join, history text never re-read), resolves its novel
    // blocks batch-locally, and lands both partitions — the streamed
    // twin of d30's batch append. Partition-per-batch overwrite makes
    // the at-least-once replay idempotent (the StreamCrashReplaySpec
    // discipline). Oracle = d29's one-shot SQL over the accumulated
    // corpus: streamed ingest ≡ batch append ≡ one-shot.
    Q("st16_stream_block_dedup",
      (s, dir) => {
        import s.implicits._
        val docs = Tables(s, dir, "documents")
        // Corpus-derived cut (the d30 fix): a hardcoded id above the
        // corpus max would leave the streamed leg EMPTY and silently
        // degenerate this gate to re-testing the one-shot build.
        val cut = docs.agg(max(col("doc_id"))).head.getLong(0) * 3 / 5
        val store = graft.operators.BlockStore("stream_block_gate")
        graft.operators.BlockStore.build(s,
          docs.filter(col("doc_id") <= cut), "doc_id", "text", 16,
          store)
        // Bounded driver collect: the streamed snapshot slice at gate
        // SF — the MemoryStream feed, not an operator step. Chunks are
        // id-ordered so canonical-first-occurrence matches the oracle.
        val arriving = docs.filter(col("doc_id") > cut)
          .select(col("doc_id"), col("text")).as[ArrivingDoc]
          .collect().sortBy(_.doc_id).toSeq
        val input = MemoryStream[ArrivingDoc](s)
        val q = input.toDF().writeStream
          .foreachBatch { (b: DataFrame, id: Long) =>
            graft.operators.BlockStore.append(s, b, "doc_id", "text",
              16, store, s"s$id")
          }
          .outputMode("append").start()
        try arriving.grouped(arriving.size / 2 + 1).foreach { c =>
          input.addData(c); q.processAllAvailable()
        } finally q.stop()
        graft.operators.BlockStore.deduped(s, store)
          .select(col("id").as("doc_id"), col("n_blocks"),
            col("kept_blocks"), col("text_deduped"))
          .orderBy(col("doc_id"))
      },
      Some(graft.operators.DedupQueries.BlockDedupOracle)),

    // Streamed BM25 postings ingest ([[graft.operators.PostingsStore]])
    // — t26's streamed twin: crawl batches arrive as micro-batches,
    // each foreachBatch tokenizes ONLY its batch and lands one
    // partition pair (postings + doc_lengths); stored text is never
    // re-read. A document lives in exactly one batch, so the partition
    // union equals the one-shot tokenization regardless of chunking —
    // the ranking over the streamed store must hash-match t24's
    // one-shot oracle, query terms self-derived from the persisted
    // rows. The at-least-once seam is killed by StreamCrashReplaySpec.
    Q("st17_stream_bm25_ingest",
      (s, dir) => {
        import s.implicits._
        val docs = Tables(s, dir, "documents")
        val cut = docs.agg(max(col("doc_id"))).head.getLong(0) * 3 / 5
        val store = graft.operators.PostingsStore("stream_bm25_gate")
        graft.operators.PostingsStore.build(s,
          docs.filter(col("doc_id") <= cut), "doc_id", "text", store)
        // Bounded driver collect: the streamed snapshot slice at gate
        // SF — the MemoryStream feed, not an operator step.
        val arriving = docs.filter(col("doc_id") > cut)
          .select(col("doc_id"), col("text")).as[ArrivingDoc]
          .collect().sortBy(_.doc_id).toSeq
        val input = MemoryStream[ArrivingDoc](s)
        val q = input.toDF().writeStream
          .foreachBatch { (b: DataFrame, id: Long) =>
            graft.operators.PostingsStore.append(s, b, "doc_id", "text",
              store, s"s$id")
          }
          .outputMode("append").start()
        try arriving.grouped(arriving.size / 2 + 1).foreach { c =>
          input.addData(c); q.processAllAvailable()
        } finally q.stop()
        graft.operators.PostingsStore.selfTopK(s, store, k = 5)
          .orderBy(col("token"), col("rk"))
      },
      Some(graft.operators.TextQueries.Bm25Oracle)),

    // Streamed COMPONENT ingest ([[graft.operators.LinkGraphStore]]
    // components lifecycle): the crawl's edge log arrives as
    // micro-batches; each foreachBatch lands one edge partition and
    // re-converges the component labels FROM the previous batch's
    // persisted assignment — the streamed twin of g12's batch append,
    // chained through the replay-stable micro-batch id (the st15
    // discipline: never a driver `var`). Mid-history the dead label
    // checkpoints prune ([[graft.operators.LinkGraphStore
    // .pruneComponentCheckpoints]] — an assignment is only ever read
    // by name as a warm-start base, so once s1 exists base/s0 are dead
    // state), invisible to the oracle: streamed ingest ≡ batch append
    // ≡ cold recompute over the union graph (g12's recursive-closure
    // oracle, to the bit).
    Q("st18_stream_components",
      (s, dir) => {
        import s.implicits._
        val docs = Tables(s, dir, "documents")
          .select(col("doc_id").as("id"))
        val store = graft.operators.LinkGraphStore("stream_cc_gate")
        graft.operators.LinkGraphStore.buildEdges(s,
          graft.operators.GraphQueries.blockStars(docs), store)
        graft.operators.LinkGraphStore.labelComponents(s, docs, store,
          "base")
        // Bounded driver collect: the streamed hub-chain slices at
        // gate SF — the MemoryStream feed, not an operator step.
        def slice(pred: org.apache.spark.sql.Column): Seq[EdgeRow] =
          graft.operators.GraphQueries.hubChains(docs).filter(pred)
            .as[EdgeRow].collect().sortBy(e => (e.src, e.dst)).toSeq
        val chunks = Seq(slice(col("src") % 64 === 16),
          slice(col("src") % 64 =!= 16))
        val input = MemoryStream[EdgeRow](s)
        val q = input.toDF().writeStream
          .foreachBatch { (b: DataFrame, id: Long) =>
            graft.operators.LinkGraphStore.appendAndLabel(s, b, store,
              s"s$id", fromBatch = if (id == 0L) "base" else s"s${id - 1}")
          }
          .outputMode("append").start()
        try chunks.foreach { c =>
          input.addData(c); q.processAllAvailable()
        } finally q.stop()
        graft.operators.LinkGraphStore
          .pruneComponentCheckpoints(s, store, keep = Set("s1"))
        graft.operators.LinkGraphStore.components(s, store, "s1")
          .select(col("id").as("doc_id"), col("component"))
          .orderBy(col("doc_id"))
      },
      Some(graft.operators.GraphQueries.componentsOracle(None))),

    // STREAMED community ingest ([[graft.operators.LinkGraphStore
    // .appendAndPropagate]] under foreachBatch) — st18's protocol for
    // the LPA tier: the base graph propagates cold, then each
    // micro-batch lands an edge partition and runs 2 MORE warm rounds
    // from the previous batch's persisted assignment, chained through
    // the replay-stable micro-batch id (never a driver var — the
    // at-least-once seam StreamCrashReplaySpec kills, its NINTH
    // streamed path). Mid-lifecycle the community checkpoints prune
    // to the head. LPA's fixed point is start-dependent, so streamed
    // ≡ the SAME chain as batch appends — which is exactly what the
    // oracle unrolls (6 rounds, edge view growing at rounds 3 and 5).
    Q("st19_stream_communities",
      (s, dir) => {
        import s.implicits._
        val docs = Tables(s, dir, "documents")
          .select(col("doc_id").as("id"))
        val n = docs.count()
        val store = graft.operators.LinkGraphStore("stream_lpa_gate")
        graft.operators.LinkGraphStore.buildEdges(s,
          graft.operators.GraphQueries.syntheticEdges(docs, n), store)
        graft.operators.LinkGraphStore.propagateCommunities(s, docs,
          store, "base")
        // Bounded driver collect: the streamed block-star slices at
        // gate SF — the MemoryStream feed, not an operator step.
        def slice(pred: org.apache.spark.sql.Column): Seq[EdgeRow] =
          graft.operators.GraphQueries.blockStars(docs).filter(pred)
            .as[EdgeRow].collect().sortBy(e => (e.src, e.dst)).toSeq
        val chunks = Seq(slice(col("src") % 2 === 1),
          slice(col("src") % 2 === 0))
        val input = MemoryStream[EdgeRow](s)
        val q = input.toDF().writeStream
          .foreachBatch { (b: DataFrame, id: Long) =>
            graft.operators.LinkGraphStore.appendAndPropagate(s, b,
              store, s"s$id",
              fromBatch = if (id == 0L) "base" else s"s${id - 1}")
          }
          .outputMode("append").start()
        try chunks.foreach { c =>
          input.addData(c); q.processAllAvailable()
        } finally q.stop()
        graft.operators.LinkGraphStore
          .pruneCommunityCheckpoints(s, store, keep = Set("s1"))
        graft.operators.LinkGraphStore.communities(s, store, "s1")
          .select(col("id").as("doc_id"), col("community"))
          .orderBy(col("doc_id"))
      },
      Some(graft.operators.GraphQueries.StreamCommunitiesOracle))
  )
}
