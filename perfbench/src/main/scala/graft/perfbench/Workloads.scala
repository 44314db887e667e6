package graft.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.core.{Caches, Tables}
import graft.model._
import graft.operators.{CorpusPipeline, PipelineQueries, TpchProject}
import graft.streaming.ArrivingDoc

/** One timed operation of the closed loop: `phase` is `first` for the
  * workload's one-shot cold phase and `loop` for the repeated ones. */
final case class Op(id: Int, kind: String, name: String, phase: String,
    spanId: Int, startUs: Long, endUs: Long, var error: Option[String])

/** An output check; a failed check fails the operation it checks. */
final case class Check(name: String, op: Int, ok: Boolean, detail: String)

/** What every workload gets: the session, the recorder, the generated
  * inputs, the run's time budget and the seed. Operations and checks
  * accumulate here and are written with the run record. */
final class Ctx(val spark: SparkSession, val rec: Recorder,
    val input: String, val out: String, val seconds: Double,
    val seed: Long, val plan: Map[String, String]) {
  val data = s"$input/data"
  val ops = ArrayBuffer.empty[Op]
  val checks = ArrayBuffer.empty[Check]
  val info = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  private var startUs = 0L
  var setupS = 0.0

  /** Set-up after the session starts — loading what the workload runs
    * and the warm-up — timed into `setup_s`, outside every operation. */
  def setup[A](body: => A): A = {
    val t0 = Clock.us()
    try rec.span("setup")(body)
    finally setupS += (Clock.us() - t0) / 1e6
  }

  def startClock(): Unit = startUs = Clock.us()
  def elapsed: Double = (Clock.us() - startUs) / 1e6

  /** Run `body` as one timed operation; a throw is recorded against it
    * and the loop continues. */
  def op[A](kind: String, name: String, phase: String)(
      body: => A): (Op, Option[A]) = {
    var result: Option[A] = None
    var err: Option[String] = None
    val t0 = Clock.us()
    rec.span(s"op.$kind") {
      try result = Some(body)
      catch { case NonFatal(e) =>
        // The whole cause chain: a boxed error names only its wrapper.
        val chain = Iterator.iterate[Throwable](e)(_.getCause)
          .takeWhile(_ != null).map(_.toString).mkString(" <- ")
        err = Some(chain.replaceAll("\\s+", " ").take(1000)) }
    }
    val s = rec.all.last
    val o = Op(ops.size, kind, name, phase, s.id, t0, s.endUs, err)
    ops += o
    (o, result)
  }

  def check(name: String, o: Op, ok: Boolean, detail: String): Unit = {
    checks += Check(name, o.id, ok, detail)
    if (!ok && o.error.isEmpty) o.error = Some(s"check $name: $detail")
  }

  /** Loop until the run's seconds are spent, but at least `min` times so
    * every repeated metric has more than one sample. */
  def more(done: Int, min: Int = 2): Boolean = done < min || elapsed < seconds
}

object Workloads {

  def run(c: Ctx, workload: String): Unit = workload match {
    case "dag_refresh" => dagRefresh(c)
    case "corpus_takedown" => corpusTakedown(c)
    case "query_serving" => queryServing(c)
  }

  /** Untimed warm-up, as `graft.Bench` runs one: a small gate over the
    * workload's own inputs and a catalog write round trip JIT the scan,
    * aggregate, join and write paths and initialise the data sources, so
    * the first timed operation is not charged for them. */
  private def warmUp(c: Ctx, gate: String): Unit = c.rec.span("warmup") {
    SparkEntry.queries(gate)(c.spark, c.data).count()
    c.spark.range(1000).selectExpr("id", "id % 7 AS k")
      .write.saveAsTable("perfbench_warmup")
    c.spark.table("perfbench_warmup").groupBy("k").count().collect()
    c.spark.sql("DROP TABLE perfbench_warmup")
    Caches.releaseAll()
  }

  // ---- dag_refresh -----------------------------------------------------

  /** Incremental models declared next to the tpch project, one per
    * incremental strategy the scheduled run exercises. */
  private def incrementalModels: Seq[Model] = Seq(
    SqlModel("events_daily",
      """SELECT day, event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(38,4))
        |    AS sum_value
        |FROM (SELECT CAST(CAST(date_trunc('day', ts) AS DATE) AS STRING)
        |        AS day, event_type, value
        |      FROM {{ source('ev', 'events') }}) e
        |WHERE {{ incremental_filter('day') }}
        |GROUP BY day, event_type""".stripMargin,
      Materialization.IncrementalByPartition(Seq("day"))),
    // `o_orderkey` here is the customer's latest order key: the
    // watermark the increment filter compares new orders against.
    SqlModel("customer_activity",
      """SELECT o_custkey AS customer_id, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2))
        |    AS total_spend,
        |  MAX(o_orderkey) AS o_orderkey
        |FROM {{ source('tpch', 'orders') }}
        |WHERE o_custkey IN (
        |  SELECT o_custkey FROM {{ source('tpch', 'orders') }}
        |  WHERE {{ incremental_filter('o_orderkey') }})
        |GROUP BY o_custkey""".stripMargin,
      Materialization.IncrementalByKey(Seq("customer_id"))),
    SqlModel("events_hourly_mb",
      """SELECT date_trunc('hour', ts) AS hour, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(38,4))
        |    AS sum_value
        |FROM {{ source('ev', 'events') }}
        |GROUP BY 1""".stripMargin,
      Materialization.Microbatch("hour", "day"),
      eventTime = Some("hour")),
    SqlModel("customer_orders_snapshot",
      """SELECT o_custkey AS customer_id, COUNT(*) AS n_orders,
        |  MAX(o_orderkey) AS updated_at
        |FROM {{ source('tpch', 'orders') }}
        |GROUP BY o_custkey""".stripMargin,
      Materialization.Snapshot("customer_id", "updated_at")))

  private def dagProject(c: Ctx): Project = {
    val base = c.rec.span("model.load")(TpchProject.project(c.data))
    val events = SourceDef("ev", "events",
      s => Tables(s, c.data, "events"), eventTimeField = Some("ts"))
    base.copy(sources = base.sources :+ events,
      models = base.models ++ incrementalModels)
  }

  /** Land slice `k` in the sources: its orders, line items and events
    * become new part files of the input tables. */
  private def land(c: Ctx, k: Int): Unit =
    Seq("orders", "lineitem", "events").foreach { t =>
      Files.move(Paths.get(f"${c.input}/slices/$k%03d/$t.parquet/part-0.parquet"),
        Paths.get(f"${c.data}/$t.parquet/slice-$k%03d.parquet"),
        StandardCopyOption.ATOMIC_MOVE)
    }

  private def testFailures(c: Ctx, r: Runner): Seq[(String, Long)] = {
    val rows = c.rec.span("model.test")(r.testReport(c.spark).collect())
    c.rec.returned(rows.length)
    rows.map(x => x.getString(0) -> x.getLong(1)).filter(_._2 != 0).toSeq
  }

  /** DuckDB oracles for the marts a refresh cycle rebuilds: the expected
    * columns of each and the SQL that computes them from the sources.
    * Decimals travel as strings and arrays as `|`-joined strings on both
    * sides, as the m-gates compare them. */
  private val martOracles: Seq[(String, Seq[String], String)] = Seq(
    ("customer_order_metrics", Seq("customer_id", "customer_name",
      "segment", "priorities", "total_sales", "n_orders"),
      SparkEntry.oracleSql("m01_customer_order_metrics")),
    ("events_daily", Seq("day", "event_type", "n_events", "sum_value"),
      """SELECT CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS day,
        |  event_type, COUNT(*) AS n_events,
        |  CAST(CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(18,4)))
        |    AS DECIMAL(38,4)) AS VARCHAR) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin),
    ("customer_activity", Seq("customer_id", "n_orders", "total_spend",
      "o_orderkey"),
      """SELECT o_custkey AS customer_id, COUNT(*) AS n_orders,
        |  CAST(CAST(SUM(CAST(CAST(o_totalprice AS VARCHAR) AS DECIMAL(18,2)))
        |    AS DECIMAL(38,2)) AS VARCHAR) AS total_spend,
        |  MAX(o_orderkey) AS o_orderkey
        |FROM orders GROUP BY 1""".stripMargin),
    ("events_hourly_mb", Seq("hour", "n_events", "sum_value"),
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
        |  COUNT(*) AS n_events,
        |  CAST(CAST(SUM(CAST(CAST(value AS VARCHAR) AS DECIMAL(18,4)))
        |    AS DECIMAL(38,4)) AS VARCHAR) AS sum_value
        |FROM events GROUP BY 1""".stripMargin),
    // The snapshot's current rows, i.e. those with no valid_to yet.
    ("customer_orders_snapshot", Seq("customer_id", "n_orders",
      "updated_at"),
      """SELECT o_custkey AS customer_id, COUNT(*) AS n_orders,
        |  MAX(o_orderkey) AS updated_at
        |FROM orders GROUP BY 1""".stripMargin))

  /** A mart's rows in its oracle's shape. */
  private def comparable(t: DataFrame, columns: Seq[String]): DataFrame = {
    val current =
      if (t.columns.contains("valid_to")) t.filter(col("valid_to").isNull)
      else t
    current.select(columns.map { c =>
      current.schema(c).dataType match {
        case _: org.apache.spark.sql.types.DecimalType =>
          col(c).cast("string").as(c)
        case _: org.apache.spark.sql.types.ArrayType =>
          array_join(col(c), "|").as(c)
        case _ => col(c)
      }
    }: _*)
  }

  private def dagRefresh(c: Ctx): Unit = {
    val project = c.setup {
      warmUp(c, "q01_pricing_summary")
      dagProject(c)
    }
    val runner = new Runner(project, Target.dev, new CatalogMaterializer)
    // The scheduled run selects what the reference's hourly task does
    // (`run --select customer_loyalty_metrics`): the customer mart, plus
    // the incremental models, with their staging views. The first cycle
    // builds that selection from scratch; the marts outside it are never
    // refreshed, so building them would only lengthen every run.
    val select = Some(martOracles.map("+" + _._1).mkString(" "))
    def cycle(kind: String, phase: String, full: Boolean): Op = {
      val (o, failing) = c.op(kind, kind, phase) {
        val nodes = c.rec.span("model.run")(
          runner.run(c.spark, select = select, fullRefresh = full))
        c.info(s"node_ms_$kind") = nodes.map(n => n.name -> n.millis).toMap
        testFailures(c, runner)
      }
      failing.foreach(f => c.check("data_tests", o, f.isEmpty,
        f.map { case (t, n) => s"$t=$n" }.mkString(",")))
      o
    }
    c.startClock()
    var last = cycle("build", "first", full = true)
    val slices = c.plan("slices").toInt
    var k = 0
    while (k < slices && c.more(k, min = 3)) {
      land(c, k)
      last = cycle("refresh", "loop", full = false)
      k += 1
    }
    c.info("refresh_cycles") = k
    // After the last refresh every refreshed mart must equal its model
    // evaluated over the same sources by DuckDB, which the benchmark's
    // front end runs on the results written here.
    martOracles.foreach { case (name, columns, _) =>
      comparable(c.spark.table(runner.relationOf(project.model(name))),
        columns).coalesce(1).write.parquet(s"${c.out}/results/$name")
    }
    c.info("oracle_sql") = martOracles.map { case (n, _, sql) => n -> sql }
      .toMap
    c.info("verify_op") = last.id
  }

  // ---- corpus_takedown -------------------------------------------------

  private def corpusTakedown(c: Ctx): Unit = {
    val s = c.spark
    import s.implicits._
    val docs = Tables(s, c.data, "documents")
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val bench = docs.filter(col("doc_id") % 5 === 0)
    val cEmb = Tables(s, c.data, "embeddings").filter(col("vec_id") % 5 =!= 0)
    val cut = c.plan("history_cut").toLong
    val batches = c.setup {
      warmUp(c, "d01_exact_dedup")
      c.plan("batches").split(",").toSeq.map { b =>
        val Array(lo, hi) = b.split("-").map(_.toLong)
        corpus.filter(col("doc_id").between(lo, hi))
          .select(col("doc_id"), col("text")).as[ArrivingDoc]
          .collect().sortBy(_.doc_id).toSeq
      }
    }
    val victimSets = c.plan("victims").split(";").toSeq
      .map(_.split(",").map(_.toLong).toSeq)
    val st = CorpusPipeline.FullState("bench_corpus")

    c.startClock()
    c.op("history", "buildHistoryFull", "first") {
      c.rec.span("operators.history")(CorpusPipeline.buildHistoryFull(s,
        corpus.filter(col("doc_id") <= cut),
        cEmb.filter(col("vec_id") <= cut), bench,
        "doc_id", "text", "vec_id", "embedding", st))
    }
    val input = MemoryStream[ArrivingDoc](s)
    val query = input.toDF().writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        c.rec.span("operators.append")(CorpusPipeline.appendBatchFull(s, b,
          cEmb, "doc_id", "text", "vec_id", "embedding", st, s"s$id"))
      }
      .outputMode("append").start()
    val t0 = Clock.us()
    try batches.foreach { b =>
      c.op("append", s"${b.size} docs", "first") {
        c.rec.span("streaming.batch") {
          input.addData(b)
          query.processAllAvailable()
        }
      }
    } finally query.stop()
    c.info("appended_docs") = batches.map(_.size).sum
    c.info("append_wall_s") = (Clock.us() - t0) / 1e6

    val applied = ArrayBuffer.empty[Long]
    var k = 0
    while (k < victimSets.size && c.more(k, min = 3)) {
      val victims = victimSets(k).toDF("doc_id")
      c.op("takedown", victimSets(k).mkString(","), "loop") {
        c.rec.span("operators.delete")(
          CorpusPipeline.deleteFull(s, st, victims, cEmb, "vec_id",
            "embedding"))
      }
      applied ++= victimSets(k)
      k += 1
    }
    val (mop, manifest) = c.op("manifest", "readManifest", "check") {
      val rows = c.rec.span("operators.manifest")(
        CorpusPipeline.readManifest(s, st.base).collect())
      c.rec.returned(rows.length)
      rows
    }
    manifest.foreach(rows => writeRows(c, "manifest", rows,
      CorpusPipeline.readManifest(s, st.base).schema))
    c.info("victims") = applied.toSeq
    c.info("manifest_op") = mop.id
    c.info("oracle_sql") = PipelineQueries.fullRecipeOracle(
      s"vec_id % 5 <> 0 AND vec_id <= $cut",
      famPred = if (applied.isEmpty) "FALSE"
        else s"doc_id IN (${applied.mkString(", ")})")
  }

  // ---- query_serving ---------------------------------------------------

  /** The read-only call pool: relational q-gates and the vector and
    * BM25 ranking gates. None of them writes. */
  val pool: Seq[(String, String)] = Seq(
    "sql" -> "q01_pricing_summary",
    "sql" -> "q03_star_join_revenue",
    "sql" -> "q05_anti_join",
    "sql" -> "q10_window_topk",
    "sql" -> "q11_window_running",
    "sql" -> "q17_events_hourly",
    "topk" -> "v01_cosine_topk",
    "topk" -> "v04_ann_ivf",
    "topk" -> "v12_rerank_topk",
    "topk" -> "v23_knn_graph",
    "topk" -> "v24_knn_graph_auto",
    "topk" -> "t24_bm25_topk")

  private def queryServing(c: Ctx): Unit = {
    val rnd = new scala.util.Random(c.seed)
    val firstOp = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    c.setup(warmUp(c, "q01_pricing_summary"))
    c.startClock()
    var round = 0
    var loopCalls = 0
    def going = round == 0 || c.more(loopCalls, min = pool.size)
    while (going) {
      val phase = if (round == 0) "first" else "loop"
      for ((kind, gate) <- rnd.shuffle(pool) if going) {
        val fn = SparkEntry.queries(gate)
        var schema: org.apache.spark.sql.types.StructType = null
        val (o, rows) = c.op(kind, gate, phase) {
          c.rec.span(s"query.$kind") {
            val df = fn(c.spark, c.data)
            schema = df.schema
            val r = df.collect()
            c.rec.returned(r.length)
            r
          }
        }
        Caches.releaseAll()
        if (round > 0) loopCalls += 1
        if (!firstOp.contains(gate)) {
          firstOp(gate) = o.id
          rows.foreach(r => writeRows(c, gate, r, schema))
        }
      }
      round += 1
    }
    c.info("first_ops") = firstOp
    c.info("oracle_sql") = pool.map(_._2).distinct
      .map(g => g -> SparkEntry.oracleSql(g)).toMap
  }

  /** A call's result rows as one parquet file, for the oracle compare. */
  private def writeRows(c: Ctx, name: String, rows: Array[Row],
      schema: org.apache.spark.sql.types.StructType): Unit =
    c.spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(s"${c.out}/results/$name")
}
