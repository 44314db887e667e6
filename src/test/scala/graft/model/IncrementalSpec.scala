package graft.model

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import graft.SparkSuite

/** Incremental materialization: each run must replace exactly the
  * partitions present in the increment and leave every other partition's
  * files untouched on disk (the 100 TB property — an hourly run writes one
  * partition, not the mart).
  */
class IncrementalSpec extends SparkSuite {

  import spark.implicits._

  private def partitionFiles(base: String, part: String): Map[String, Long] = {
    val dir = Paths.get(base, "dev_daily_inc", s"event_date=$part")
    Files.list(dir).iterator().asScala
      .filter(_.toString.endsWith(".parquet"))
      .map((p: Path) => p.toString -> Files.getLastModifiedTime(p).toMillis)
      .toMap
  }

  test("incremental run overwrites only the new partitions") {
    val base = Files.createTempDirectory("graft-inc").toString
    var sourceData = Seq(
      ("2024-01-01", 1L, 10.0), ("2024-01-01", 2L, 20.0),
      ("2024-01-02", 3L, 30.0), ("2024-01-02", 4L, 40.0), ("2024-01-02", 5L, 50.0))
      .toDF("event_date", "id", "v")

    val model = SqlModel(
      "daily_inc",
      """SELECT event_date, COUNT(*) AS n,
        |  CAST(SUM(CAST(v AS DECIMAL(10,2))) AS DECIMAL(38,2)) AS sv
        |FROM {{ source('t', 'ev') }}
        |WHERE {{ incremental_filter('event_date') }}
        |GROUP BY event_date""".stripMargin,
      Materialization.IncrementalByPartition(Seq("event_date")))
    val project = Project(
      Seq(SourceDef("t", "ev", _ => sourceData)), Seq(model))
    val runner = new Runner(project, Target.dev, new PathMaterializer(base))

    runner.run(spark)
    val afterRun1 = spark.table("dev_daily_inc")
      .select("event_date", "n").as[(String, Long)].collect().toMap
    assert(afterRun1 == Map("2024-01-01" -> 2L, "2024-01-02" -> 3L))
    val day1Files = partitionFiles(base, "2024-01-01")

    // Day 3 arrives; day 1 is also RESTATED at the source, but the
    // incremental filter (event_date > max existing) excludes it — run 2
    // must only write the day-3 partition.
    sourceData = sourceData
      .filter(col("event_date") =!= "2024-01-01")
      .union(Seq(
        ("2024-01-01", 99L, 999.0),
        ("2024-01-03", 6L, 60.0), ("2024-01-03", 7L, 70.0),
        ("2024-01-03", 8L, 80.0), ("2024-01-03", 9L, 90.0))
        .toDF("event_date", "id", "v"))
    runner.run(spark)

    val afterRun2 = spark.table("dev_daily_inc")
      .select("event_date", "n").as[(String, Long)].collect().toMap
    assert(afterRun2 == Map(
      "2024-01-01" -> 2L, "2024-01-02" -> 3L, "2024-01-03" -> 4L))
    assert(partitionFiles(base, "2024-01-01") == day1Files,
      "day-1 partition files must be untouched by the incremental run")
  }

  test("microbatch processes day batches and honors lookback on re-run") {
    val base = Files.createTempDirectory("graft-mb").toString
    def feed(rows: Seq[(String, Double)]) = rows.toDF("tss", "v")
      .select(to_timestamp(col("tss")).as("ts"), col("v"))
    var sourceData = feed(Seq(
      ("2024-01-01 05:00:00", 1.0), ("2024-01-01 06:00:00", 2.0),
      ("2024-01-02 05:00:00", 3.0),
      ("2024-01-03 05:00:00", 4.0)))
    val model = SqlModel("mb_daily",
      """SELECT ts, CAST(v AS DECIMAL(10,2)) AS v
        |FROM {{ source('t', 'ev') }}""".stripMargin,
      Materialization.Microbatch("ts", "day", lookback = 1),
      eventTime = Some("ts"))
    val runner = new Runner(
      Project(Seq(SourceDef("t", "ev", _ => sourceData,
        eventTimeField = Some("ts"))), Seq(model)),
      Target.dev, new PathMaterializer(base))

    runner.run(spark)
    assert(spark.table("dev_mb_daily").count() == 4)
    // Partition-column type inference reads batch_start back as a
    // timestamp; compare through its string form.
    assert(spark.table("dev_mb_daily")
      .select(col("batch_start").cast("string")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq ==
      Seq("2024-01-01 00:00:00", "2024-01-02 00:00:00",
        "2024-01-03 00:00:00"))
    def files(prefix: String): Map[String, Long] = {
      val root = Paths.get(base, "dev_mb_daily")
      Files.list(root).iterator().asScala
        .filter(_.getFileName.toString.startsWith(prefix))
        .flatMap(d => Files.list(d).iterator().asScala)
        .filter(_.toString.endsWith(".parquet"))
        .map((p: Path) =>
          p.toString -> Files.getLastModifiedTime(p).toMillis)
        .toMap
    }
    val day1Files = files("batch_start=2024-01-01")

    // Day 1 AND day 2 are restated; day 4 arrives. With lookback=1 the
    // re-run starts at (last batch = day 3) − 1 = day 2: the day-2
    // restatement and day 4 land, the day-1 restatement is outside the
    // late-data window and must NOT be picked up.
    sourceData = feed(Seq(
      ("2024-01-01 05:00:00", 99.0),
      ("2024-01-02 05:00:00", 3.5),
      ("2024-01-03 05:00:00", 4.0),
      ("2024-01-04 05:00:00", 5.0)))
    runner.run(spark)
    val byDay = spark.table("dev_mb_daily")
      .groupBy(col("batch_start").cast("string").as("bs"))
      .agg(sum(col("v")).cast("string").as("sv"))
      .collect().map(r => r.getString(0).take(10) -> r.getString(1)).toMap
    assert(byDay == Map(
      "2024-01-01" -> "3.00", // original rows — restatement not visible
      "2024-01-02" -> "3.50", // lookback window picked up the restatement
      "2024-01-03" -> "4.00",
      "2024-01-04" -> "5.00"))
    assert(files("batch_start=2024-01-01") == day1Files,
      "day-1 batch partition must be untouched by the lookback re-run")
  }

  test("append strategy adds increments without touching existing files") {
    val base = Files.createTempDirectory("graft-append").toString
    var src = Seq(("d1", 1L)).toDF("event_date", "id")
    def runner = new Runner(
      Project(Seq(SourceDef("t", "ev", _ => src)),
        Seq(SqlModel("app_inc", "SELECT * FROM {{ source('t', 'ev') }}",
          Materialization.IncrementalAppend()))),
      Target.dev, new PathMaterializer(base))
    runner.run(spark)
    val firstFiles = Files.list(Paths.get(base, "dev_app_inc"))
      .iterator().asScala.map(_.toString)
      .filter(_.endsWith(".parquet"))
      .map(f => f -> Files.getLastModifiedTime(Paths.get(f)).toMillis).toMap
    src = Seq(("d2", 2L)).toDF("event_date", "id")
    runner.run(spark)
    assert(spark.table("dev_app_inc").count() == 2)
    val after = Files.list(Paths.get(base, "dev_app_inc"))
      .iterator().asScala.map(_.toString)
      .filter(_.endsWith(".parquet"))
      .map(f => f -> Files.getLastModifiedTime(Paths.get(f)).toMillis).toMap
    // Every first-run file survives untouched; new files arrived next to
    // them (append never rewrites a byte).
    firstFiles.foreach { case (f, t) => assert(after.get(f).contains(t)) }
    assert(after.size > firstFiles.size)
  }

  test("--full-refresh rebuilds an incremental model, picking up restated history") {
    val base = Files.createTempDirectory("graft-fullref").toString
    var src = Seq(("2024-01-01", 1L), ("2024-01-01", 2L))
      .toDF("event_date", "id")
    def runner = new Runner(
      Project(Seq(SourceDef("t", "ev", _ => src)),
        Seq(SqlModel("fr_inc",
          """SELECT event_date, COUNT(*) AS n FROM {{ source('t', 'ev') }}
            |WHERE {{ incremental_filter('event_date') }}
            |GROUP BY event_date""".stripMargin,
          Materialization.IncrementalByPartition(Seq("event_date"))))),
      Target.dev, new PathMaterializer(base))
    runner.run(spark)
    // Day 1 is RESTATED (3 rows now) and day 2 arrives. The incremental
    // filter excludes the restatement; only --full-refresh can see it.
    src = Seq(("2024-01-01", 1L), ("2024-01-01", 2L), ("2024-01-01", 9L),
      ("2024-01-02", 3L)).toDF("event_date", "id")
    runner.run(spark)
    def counts = spark.table("dev_fr_inc")
      .select("event_date", "n").as[(String, Long)].collect().toMap
    assert(counts == Map("2024-01-01" -> 2L, "2024-01-02" -> 1L))
    runner.run(spark, fullRefresh = true)
    assert(counts == Map("2024-01-01" -> 3L, "2024-01-02" -> 1L))
  }

  test("cluster_by lays a mart out in disjoint per-file ranges") {
    val base = Files.createTempDirectory("graft-cluster").toString
    // Keys arrive pseudo-shuffled; the range layout must still give each
    // output file a disjoint key interval (what makes parquet min/max
    // row-group stats selective at scale).
    val model = DfModel("clustered", Nil,
      (s, _) => s.range(0, 10000).select(
        pmod(col("id") * 2654435761L, lit(10000L)).as("k"),
        col("id").as("v")),
      clusterBy = Seq("k"))
    // AQE rightly coalesces a 10k-row shuffle into one partition; pin it
    // off so the spec sees the multi-file layout a real mart would get.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try new Runner(Project(Nil, Seq(model)), Target.dev,
      new PathMaterializer(base)).run(spark)
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    val files = Files.list(Paths.get(base, "dev_clustered"))
      .iterator().asScala.map(_.toString)
      .filter(_.endsWith(".parquet")).toSeq
    assert(files.size > 1, "range layout should produce multiple files")
    val ranges = files.map { f =>
      val r = spark.read.parquet(f).agg(min(col("k")), max(col("k"))).head
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach { case Seq((_, hi), (lo, _)) =>
      assert(hi < lo, s"file ranges overlap: $ranges")
    }
  }

  test("on_schema_change=ignore: target schema wins over a drifted increment") {
    val base = Files.createTempDirectory("graft-osc-ignore").toString
    var src = Seq(("d1", 1L, "x")).toDF("event_date", "id", "v")
    def model = SqlModel("osc_ig",
      "SELECT * FROM {{ source('t', 'ev') }}",
      Materialization.IncrementalByPartition(Seq("event_date")))
    def runner = new Runner(
      Project(Seq(SourceDef("t", "ev", _ => src)), Seq(model)),
      Target.dev, new PathMaterializer(base))
    runner.run(spark)
    // Increment drifts: drops v, adds extra. ignore ⇒ extra is dropped,
    // v null-fills; the relation keeps its original shape.
    src = Seq(("d2", 2L, true)).toDF("event_date", "id", "extra")
    runner.run(spark)
    val out = spark.table("dev_osc_ig")
    assert(out.columns.sorted.toSeq == Seq("event_date", "id", "v"))
    assert(out.filter(col("event_date") === "d2")
      .select("v").collect().map(_.isNullAt(0)).toSeq == Seq(true))
  }

  test("on_schema_change=append_new_columns evolves path and catalog targets") {
    // Path-backed: history partitions read NULL for the appended column.
    val base = Files.createTempDirectory("graft-osc-app").toString
    var src = Seq(("d1", 1L)).toDF("event_date", "id")
    def model(rel: String, schema: Option[String] = None) = SqlModel(rel,
      "SELECT * FROM {{ source('t', 'ev') }}",
      Materialization.IncrementalByPartition(Seq("event_date"),
        onSchemaChange = "append_new_columns"),
      customSchema = schema)
    def pathRunner = new Runner(
      Project(Seq(SourceDef("t", "ev", _ => src)), Seq(model("osc_ap"))),
      Target.dev, new PathMaterializer(base))
    pathRunner.run(spark)
    src = Seq(("d2", 2L, "new")).toDF("event_date", "id", "tag")
    pathRunner.run(spark)
    val out = spark.table("dev_osc_ap")
    assert(out.columns.contains("tag"))
    assert(out.filter(col("event_date") === "d1")
      .select("tag").collect().map(_.isNullAt(0)).toSeq == Seq(true))

    // Catalog-backed: ALTER TABLE ADD COLUMNS, then the insert.
    src = Seq(("d1", 1L)).toDF("event_date", "id")
    val catRunner = new Runner(
      Project(Seq(SourceDef("t", "ev", _ => src)),
        Seq(model("osc_cat", Some("osctest")))),
      Target.dev, new CatalogMaterializer)
    spark.sql("DROP TABLE IF EXISTS osctest.osc_cat")
    catRunner.run(spark)
    src = Seq(("d2", 2L, "new")).toDF("event_date", "id", "tag")
    catRunner.run(spark)
    val cat = spark.table("osctest.osc_cat")
    assert(cat.columns.contains("tag"))
    assert(cat.filter(col("event_date") === "d1")
      .select("tag").collect().map(_.isNullAt(0)).toSeq == Seq(true))
    assert(cat.filter(col("event_date") === "d2")
      .select("tag").collect().map(_.getString(0)).toSeq == Seq("new"))
  }

  test("on_schema_change=fail aborts the node on drift") {
    val base = Files.createTempDirectory("graft-osc-fail").toString
    var src = Seq(("d1", 1L)).toDF("event_date", "id")
    def runner = new Runner(
      Project(Seq(SourceDef("t", "ev", _ => src)),
        Seq(SqlModel("osc_fl", "SELECT * FROM {{ source('t', 'ev') }}",
          Materialization.IncrementalByPartition(Seq("event_date"),
            onSchemaChange = "fail")))),
      Target.dev, new PathMaterializer(base))
    runner.run(spark)
    src = Seq(("d2", 2L, "boom")).toDF("event_date", "id", "extra")
    val e = intercept[RuntimeException](runner.run(spark))
    assert(e.getMessage.contains("osc_fl"))
  }

  test("incremental merge honors on_schema_change=append_new_columns") {
    val base = Files.createTempDirectory("graft-osc-merge").toString
    var src = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    def model(policy: String) = SqlModel("osc_mrg",
      "SELECT * FROM {{ source('t', 'ev') }}",
      Materialization.IncrementalByKey(Seq("id"), policy))
    def runner(policy: String) = new Runner(
      Project(Seq(SourceDef("t", "ev", _ => src)), Seq(model(policy))),
      Target.dev, new PathMaterializer(base))
    runner("append_new_columns").run(spark)
    src = Seq((2L, "b2", 9L)).toDF("id", "v", "score")
    runner("append_new_columns").run(spark)
    val out = spark.table("dev_osc_mrg").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    assert(out == Seq((1L, "a", -1L), (2L, "b2", 9L)))
  }

  test("incremental model works through the catalog materializer too") {
    var sourceData = Seq(("2024-02-01", 1L), ("2024-02-02", 2L))
      .toDF("event_date", "id")
    val model = SqlModel(
      "cat_inc",
      """SELECT event_date, COUNT(*) AS n FROM {{ source('t', 'ev') }}
        |WHERE {{ incremental_filter('event_date') }}
        |GROUP BY event_date""".stripMargin,
      Materialization.IncrementalByPartition(Seq("event_date")),
      customSchema = Some("inctest"))
    val project = Project(
      Seq(SourceDef("t", "ev", _ => sourceData)), Seq(model))
    val runner = new Runner(project, Target.dev, new CatalogMaterializer)
    spark.sql("DROP TABLE IF EXISTS inctest.cat_inc")

    runner.run(spark)
    sourceData = Seq(("2024-02-03", 3L), ("2024-02-03", 4L))
      .toDF("event_date", "id")
    runner.run(spark)

    val rows = spark.table("inctest.cat_inc")
      .select("event_date", "n").as[(String, Long)].collect().toMap
    assert(rows == Map(
      "2024-02-01" -> 1L, "2024-02-02" -> 1L, "2024-02-03" -> 2L))
  }

  test("switching a table model to incremental demands --full-refresh") {
    var src = Seq(("2024-01-01", 1L)).toDF("event_date", "id")
    def proj(m: Materialization) = Project(
      Seq(SourceDef("t", "ev", _ => src)),
      Seq(SqlModel("sw_m",
        "SELECT event_date, id FROM {{ source('t', 'ev') }}", m)))
    val mat = new CatalogMaterializer
    new Runner(proj(Materialization.Table), Target.dev, mat).run(spark)
    val inc = new Runner(
      proj(Materialization.IncrementalByPartition(Seq("event_date"))),
      Target.dev, mat)
    // In-place increments against a pointer-backed (table-era) relation
    // would go stale-on-repair or truncate outright — refuse loudly.
    val e = intercept[RuntimeException](inc.run(spark))
    assert(e.getMessage.contains("full-refresh"))
    inc.run(spark, fullRefresh = true)
    assert(spark.table("dev.sw_m").count() == 1)
    // The pointer is gone with the full refresh: plain increments work.
    src = Seq(("2024-01-02", 2L)).toDF("event_date", "id")
    inc.run(spark)
    assert(spark.table("dev.sw_m").count() == 2)
    mat.dropRelation(spark, "dev.sw_m")
  }

  test("microbatch mid-day begin truncates to the batch boundary") {
    def feed(rows: Seq[(String, Double)]) = rows.toDF("tss", "v")
      .select(to_timestamp(col("tss")).as("ts"), col("v"))
    // Two rows per day straddling 06:00. An un-truncated 06:00 begin
    // makes 06:00→06:00 windows: consecutive windows both contain rows
    // of the SAME calendar day, so dynamic partition overwrite silently
    // drops the earlier window's rows from that date partition.
    val sourceData = feed((4 to 8).flatMap(d => Seq(
      (s"2024-01-0$d 05:00:00", d + 0.25),
      (s"2024-01-0$d 07:00:00", d + 0.5))))
    def project(begin: String) = Project(
      Seq(SourceDef("t", "ev", _ => sourceData, eventTimeField = Some("ts"))),
      Seq(SqlModel("mb_begin", "SELECT ts, v FROM {{ source('t', 'ev') }}",
        Materialization.Microbatch("ts", "day", lookback = 1,
          begin = Some(begin)),
        eventTime = Some("ts"))))
    new Runner(project("2024-01-05 06:00:00"), Target.dev,
      new PathMaterializer(Files.createTempDirectory("graft-mbb").toString))
      .run(spark)
    val byDay = spark.table("dev_mb_begin")
      .groupBy(col("batch_start").cast("string").substr(1, 10).as("d"))
      .count().as[(String, Long)].collect().toMap
    assert(byDay == Map(
      "2024-01-05" -> 2L, "2024-01-06" -> 2L,
      "2024-01-07" -> 2L, "2024-01-08" -> 2L),
      "begin truncates to the day boundary: no partition overwrite " +
        "loss, no pre-begin day-4 batch")

    // Date-only begin (the common dbt form) parses via the LocalDate
    // fallback instead of throwing.
    new Runner(project("2024-01-06"), Target.dev,
      new PathMaterializer(Files.createTempDirectory("graft-mbb2").toString))
      .run(spark)
    assert(spark.table("dev_mb_begin").count() == 6)
  }

  test("an empty recomputed microbatch period clears its partition") {
    def feed(rows: Seq[(String, Double)]) = rows.toDF("tss", "v")
      .select(to_timestamp(col("tss")).as("ts"), col("v"))
    var sourceData = feed(Seq(
      ("2024-01-01 05:00:00", 1.0),
      ("2024-01-02 05:00:00", 2.0), ("2024-01-02 06:00:00", 2.5),
      ("2024-01-03 05:00:00", 3.0)))
    val runner = new Runner(
      Project(Seq(SourceDef("t", "ev", _ => sourceData,
          eventTimeField = Some("ts"))),
        Seq(SqlModel("mb_empty",
          "SELECT ts, v FROM {{ source('t', 'ev') }}",
          Materialization.Microbatch("ts", "day", lookback = 1),
          eventTime = Some("ts")))),
      Target.dev,
      new PathMaterializer(Files.createTempDirectory("graft-mbe").toString))
    runner.run(spark)
    assert(spark.table("dev_mb_empty").count() == 4)
    // Day 2's rows are DELETED upstream (bad-data correction) while day
    // 3 gains one: the lookback re-run recomputes day 2 as empty and
    // must CLEAR its partition — dynamic overwrite alone would leave
    // the two stale rows in place with a successful run.
    sourceData = feed(Seq(
      ("2024-01-01 05:00:00", 1.0),
      ("2024-01-03 05:00:00", 3.0), ("2024-01-03 06:00:00", 3.5)))
    runner.run(spark)
    val days = spark.table("dev_mb_empty")
      .groupBy(col("batch_start").cast("string").substr(1, 10).as("d"))
      .count().as[(String, Long)].collect().toMap
    assert(days == Map("2024-01-01" -> 1L, "2024-01-03" -> 2L),
      s"day-2 partition must be cleared, saw $days")
  }

  test("incremental-era partition metadata never shadows a table swap") {
    var src = Seq(("2024-01-01", 1L), ("2024-01-02", 2L))
      .toDF("event_date", "id")
    def proj(m: Materialization) = Project(
      Seq(SourceDef("t", "ev", _ => src)),
      Seq(SqlModel("sw_t",
        "SELECT event_date, id FROM {{ source('t', 'ev') }}", m)))
    val mat = new CatalogMaterializer
    new Runner(proj(
        Materialization.IncrementalByPartition(Seq("event_date"))),
      Target.dev, mat).run(spark)
    assert(spark.table("dev.sw_t").count() == 2)
    // Switch to materialized='table' (dbt: CREATE OR REPLACE just
    // works). The catalog entry must not retain the incremental era's
    // partition metadata, or reads resolve stale partition entries.
    src = Seq(("2024-01-03", 3L)).toDF("event_date", "id")
    new Runner(proj(Materialization.Table), Target.dev, mat).run(spark)
    assert(spark.table("dev.sw_t").collect().map(_.getLong(1)).toSeq ==
      Seq(3L), "reads must see the table-era contents only")
    mat.dropRelation(spark, "dev.sw_t")
  }

  test("path twin refuses partitioned writes over unpartitioned files") {
    var src = Seq(("2024-01-01", 1L)).toDF("event_date", "id")
    def proj(m: Materialization) = Project(
      Seq(SourceDef("t", "ev", _ => src)),
      Seq(SqlModel("sw_p",
        "SELECT event_date, id FROM {{ source('t', 'ev') }}", m)))
    val base = Files.createTempDirectory("graft-swp").toString
    new Runner(proj(Materialization.Table), Target.dev,
      new PathMaterializer(base)).run(spark)
    val inc = new Runner(proj(
        Materialization.IncrementalByPartition(Seq("event_date"))),
      Target.dev, new PathMaterializer(base))
    val e = intercept[RuntimeException](inc.run(spark))
    assert(e.getMessage.contains("full-refresh"))
    inc.run(spark, fullRefresh = true)
    assert(spark.table("dev_sw_p").count() == 1)
  }

  test("microbatch input bounds resolve refs through --defer") {
    def feed(rows: Seq[(String, Double)]) = rows.toDF("tss", "v")
      .select(to_timestamp(col("tss")).as("ts"), col("v"))
    val sourceData = feed(Seq(
      ("2024-01-01 05:00:00", 1.0), ("2024-01-02 05:00:00", 2.0)))
    val up = SqlModel("mbd_up", "SELECT ts, v FROM {{ source('t', 'ev') }}",
      Materialization.Table, eventTime = Some("ts"))
    val mb = SqlModel("mbd_mart", "SELECT ts, v FROM {{ ref('mbd_up') }}",
      Materialization.Microbatch("ts", "day"), eventTime = Some("ts"))
    val project = Project(Seq(SourceDef("t", "ev", _ => sourceData)),
      Seq(up, mb))
    val mat = new PathMaterializer(
      Files.createTempDirectory("graft-mbd").toString)
    // prod has the upstream; dev does not. A dev run of ONLY the
    // microbatch model must read its input min/max bounds through the
    // deferred prod relation, exactly as renderSql defers the same ref.
    new Runner(project, Target.prod, mat).run(spark, Some("mbd_up"))
    new Runner(project, Target.dev, mat, Map.empty, Some(Target.prod))
      .run(spark, Some("mbd_mart"))
    assert(spark.table("dev_mbd_mart").count() == 2)
  }

  test("dropPartition of the only partition leaves an empty readable " +
      "relation (path twin)") {
    val base = Files.createTempDirectory("graft-dpg").toString
    val mat = new PathMaterializer(base)
    val rel = "dev_dp_only"
    mat.materializeIncremental(spark,
      rel, Seq(("2024-01-01", 1L)).toDF("day", "v"), Seq("day"))
    assert(spark.table(rel).count() == 1)
    // Pre-guard this threw "unable to infer schema" from the root
    // re-read and aborted the microbatch run; the catalog twin's ALTER
    // TABLE path always handled it.
    mat.dropPartition(spark, rel, "day", "2024-01-01")
    assert(spark.table(rel).count() == 0)
    assert(spark.table(rel).columns.toSet == Set("day", "v"))
  }

  test("catalog dropPartition escapes a quoted partition value") {
    val mat = new CatalogMaterializer
    val rel = "dpgate.quoted"
    mat.materializeIncremental(spark, rel,
      Seq(("O'Brien", 1L), ("plain", 2L)).toDF("k", "v"), Seq("k"))
    // Pre-escape the embedded quote broke out of the SQL string literal
    // and the ALTER TABLE statement failed to parse.
    mat.dropPartition(spark, rel, "k", "O'Brien")
    assert(spark.table(rel).select("k").collect()
      .map(_.getString(0)).toSeq == Seq("plain"))
  }

  test("the four incremental strategies refresh concurrently to the " +
      "marts of a full rebuild") {
    // Orders arrive with ever larger keys, ten to a customer, so each
    // slice updates one existing customer and adds new ones; events
    // arrive one new day per slice.
    def orders(keys: Range) = keys.map(k => (k.toLong, k / 10L, k * 1.25))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
    def events(day: Int) = (0 until 24 by 5)
      .map(h => (f"2024-01-$day%02d $h%02d:30:00",
        if (h % 2 == 0) "view" else "click", day + h / 8.0))
      .toDF("tss", "event_type", "value")
      .select(to_timestamp(col("tss")).as("ts"), col("event_type"),
        col("value"))
    var srcOrders = orders(1 to 40)
    var srcEvents = events(1)
    val models = Seq(
      SqlModel("cs_events_daily",
        """SELECT day, event_type, COUNT(*) AS n_events,
          |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(38,4))
          |    AS sum_value
          |FROM (SELECT CAST(CAST(date_trunc('day', ts) AS DATE) AS STRING)
          |        AS day, event_type, value
          |      FROM {{ source('ev', 'events') }}) e
          |WHERE {{ incremental_filter('day') }}
          |GROUP BY day, event_type""".stripMargin,
        Materialization.IncrementalByPartition(Seq("day"))),
      SqlModel("cs_customer_activity",
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
      SqlModel("cs_events_hourly_mb",
        """SELECT date_trunc('hour', ts) AS hour, COUNT(*) AS n_events,
          |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DECIMAL(38,4))
          |    AS sum_value
          |FROM {{ source('ev', 'events') }}
          |GROUP BY 1""".stripMargin,
        Materialization.Microbatch("hour", "day"),
        eventTime = Some("hour")),
      SqlModel("cs_customer_orders_snapshot",
        """SELECT o_custkey AS customer_id, COUNT(*) AS n_orders,
          |  MAX(o_orderkey) AS updated_at
          |FROM {{ source('tpch', 'orders') }}
          |GROUP BY o_custkey""".stripMargin,
        Materialization.Snapshot("customer_id", "updated_at")))
    val project = Project(Seq(
      SourceDef("tpch", "orders", _ => srcOrders),
      SourceDef("ev", "events", _ => srcEvents,
        eventTimeField = Some("ts"))), models)
    def succeeded(results: Seq[NodeResult]) = {
      assert(results.map(_.name).toSet == models.map(_.name).toSet)
      assert(results.forall(_.status == "success"), results.mkString("\n"))
    }
    // A snapshot is compared by its current rows.
    def current(r: Runner, m: String) = {
      val t = r.table(spark, m)
      if (t.columns.contains("valid_to")) t.filter(col("valid_to").isNull)
      else t
    }
    val mat = new CatalogMaterializer
    def runner(t: Target) = {
      val r = new Runner(project, t, mat)
      // A relation an earlier JVM left in the warehouse would be adopted
      // (a snapshot keeps its history under --full-refresh): drop them.
      models.foreach(m => mat.dropRelation(spark, r.relationOf(m)))
      r
    }
    val dev = runner(Target.dev)
    succeeded(dev.run(spark, fullRefresh = true))
    (1 to 2).foreach { k =>
      srcOrders = srcOrders.union(orders(40 * k + 1 to 40 * k + 40))
      srcEvents = srcEvents.union(events(1 + k))
      succeeded(dev.run(spark))
      val rebuild = runner(Target(s"cs_rebuild$k", s"cs_rebuild$k"))
      succeeded(rebuild.run(spark, fullRefresh = true))
      models.map(_.name).foreach { m =>
        val got = current(dev, m)
        val want = current(rebuild, m).select(got.columns.map(col): _*)
        assert(got.count() > 0 && got.count() == want.count() &&
          got.exceptAll(want).isEmpty, s"$m after refresh $k")
      }
    }
  }
}
