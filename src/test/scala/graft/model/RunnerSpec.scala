package graft.model

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, explode}

import graft.SparkSuite
import graft.operators.TpchProject

class RunnerSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  test("full run materializes staging views + marts and writes run_results") {
    val runner = TpchProject.runner(dir)
    val resultsPath = "/tmp/graft-test/run_results.json"
    val results = runner.run(spark,
      runResultsPath = Some(resultsPath))
    assert(results.size == TpchProject.project(dir).models.size)
    assert(results.forall(_.status == "success"))
    // staging views precede marts in execution order
    val names = results.map(_.name)
    assert(names.indexOf("stg_orders") <
      names.indexOf("customer_order_metrics"))
    assert(runner.table(spark, "customer_order_metrics").count() > 0)
    assert(runner.table(spark, "sales_by_region").count() == 25) // nations
    val json = Files.readString(Paths.get(resultsPath))
    assert(json.contains("\"status\":\"success\""))
    assert(json.contains("customer_order_metrics"))
  }

  test("--select runs only the chosen subgraph") {
    val runner = TpchProject.runner(dir)
    val results = runner.run(spark, select = Some("+customer_order_metrics"))
    assert(results.map(_.name).toSet ==
      Set("stg_customer", "stg_orders", "customer_order_metrics"))
  }

  test("tag: atom selects tagged models and composes with graph ops") {
    val a = SqlModel("t_a", "SELECT 1 AS x", Materialization.View,
      tags = Seq("nightly"))
    val b = SqlModel("t_b", "SELECT * FROM {{ ref('t_a') }}",
      Materialization.View, tags = Seq("hourly"))
    val c = SqlModel("t_c", "SELECT * FROM {{ ref('t_b') }}",
      Materialization.View)
    def runner = new Runner(Project(Nil, Seq(a, b, c)), Target.dev,
      new PathMaterializer(
        Files.createTempDirectory("graft-tags").toString))
    assert(runner.run(spark, select = Some("+tag:hourly"))
      .map(_.name).toSet == Set("t_a", "t_b"))
    assert(runner.run(spark, select = Some("tag:nightly+"))
      .map(_.name).toSet == Set("t_a", "t_b", "t_c"))
    assert(runner.run(spark, exclude = Some("tag:hourly+"))
      .map(_.name).toSet == Set("t_a"))
    // Unknown tag selects nothing (dbt behavior), not an error.
    assert(runner.run(spark, select = Some("tag:nope")).isEmpty)
  }

  test("contract enforces exact columns and types before materialization") {
    def model(contract: Seq[ColumnContract]) = SqlModel("c_m",
      "SELECT CAST(1 AS BIGINT) AS id, 'x' AS label",
      Materialization.Table, contract = contract)
    def runner(contract: Seq[ColumnContract]) =
      new Runner(Project(Nil, Seq(model(contract))), Target.dev,
        new PathMaterializer(
          Files.createTempDirectory("graft-contract").toString))
    val ok = Seq(ColumnContract("id", "bigint"),
      ColumnContract("label", "string"))
    assert(runner(ok).run(spark).head.status == "success")

    def failure(c: Seq[ColumnContract]): String = {
      val e = intercept[RuntimeException] { runner(c).run(spark) }
      e.getMessage
    }
    // Type drift, missing declared column, undeclared extra column.
    assert(failure(Seq(ColumnContract("id", "int"),
      ColumnContract("label", "string"))).contains("type drift"))
    assert(failure(ok :+ ColumnContract("ghost", "string"))
      .contains("missing [ghost]"))
    assert(failure(Seq(ColumnContract("id", "bigint")))
      .contains("undeclared [label]"))
  }

  test("analyses compile against the project but never run") {
    val runner = TpchProject.runner(dir)
    val rendered = runner.compileAnalysis(
      "SELECT COUNT(*) FROM {{ ref('stg_orders') }} " +
        "WHERE o_totalprice > {{ var('cut', 100) }}")
    assert(rendered == "SELECT COUNT(*) FROM dev_stg_orders " +
      "WHERE o_totalprice > 100")
    intercept[NoSuchElementException] {
      runner.compileAnalysis("SELECT * FROM {{ ref('ghost') }}")
    }
    // Round-trip through a real analyses dir.
    val d = Files.createTempDirectory("graft-analyses")
    Files.writeString(d.resolve("daily_check.sql"),
      "SELECT 1 FROM {{ ref('stg_nation') }}")
    val loaded = ProjectLoader.loadAnalyses(d.toString)
    assert(loaded.map(_._1) == Seq("daily_check"))
    assert(runner.compileAnalysis(loaded.head._2) ==
      "SELECT 1 FROM dev_stg_nation")
  }

  test("source: atom selects the models reading a source") {
    val runner = TpchProject.runner(dir)
    // stg_nation is the only model reading tpch.nation directly.
    assert(runner.run(spark, select = Some("source:tpch.nation"))
      .map(_.name) == Seq("stg_nation"))
    // Whole-source form + downstream closure: every model the refreshed
    // tpch feed can touch (= the full project here).
    assert(runner.run(spark, select = Some("source:tpch+"))
      .map(_.name).toSet ==
      TpchProject.project(dir).models.map(_.name).toSet)
  }

  test("--defer resolves unbuilt upstream refs to the deferred target") {
    val base = Files.createTempDirectory("graft-defer").toString
    val up = SqlModel("df_up", "SELECT 7 AS x", Materialization.Table)
    val down = SqlModel("df_down",
      "SELECT x * 2 AS y FROM {{ ref('df_up') }}", Materialization.Table)
    def models = Project(Nil, Seq(up, down))
    // Prod holds the upstream; dev builds ONLY the downstream.
    new Runner(models, Target.prod, new PathMaterializer(base))
      .run(spark, select = Some("df_up"))
    spark.catalog.dropTempView("dev_df_up") // stale from other specs, if any
    val dev = new Runner(models, Target.dev, new PathMaterializer(base),
      defer = Some(Target.prod))
    dev.run(spark, select = Some("df_down"))
    assert(dev.table(spark, "df_down").head().getInt(0) == 14)
    // Without defer the unbuilt dev upstream is a hard error.
    intercept[RuntimeException] {
      new Runner(models, Target.dev,
        new PathMaterializer(Files.createTempDirectory("graft-d2").toString))
        .run(spark, select = Some("df_down"))
    }
  }

  test("fail-fast aborts pending nodes; retry selects the unfinished set") {
    val a = SqlModel("ff_a", "SELECT 1 AS x", Materialization.View)
    val bad = SqlModel("ff_bad", "SELECT * FROM nonexistent_relation",
      Materialization.View)
    val dep = SqlModel("ff_dep", "SELECT * FROM {{ ref('ff_bad') }}",
      Materialization.View)
    val z = SqlModel("ff_z", "SELECT 2 AS y", Materialization.View)
    def runWith(ff: Boolean): Option[String] = {
      val rr = Files.createTempDirectory("graft-ff").toString +
        "/run_results.json"
      val r = new Runner(Project(Nil, Seq(a, bad, dep, z)), Target.dev,
        new PathMaterializer(
          Files.createTempDirectory("graft-ff-m").toString))
      intercept[RuntimeException] {
        r.run(spark, runResultsPath = Some(rr), threads = Some(1),
          failFast = ff)
      }
      r.retrySelection(rr)
    }
    // Topo order: ff_a, ff_bad, ff_dep, ff_z. Default: independent ff_z
    // still builds; fail-fast: it aborts as skipped and joins the retry.
    assert(runWith(ff = false).contains("ff_bad ff_dep"))
    assert(runWith(ff = true).contains("ff_bad ff_dep ff_z"))
  }

  test("exposures validate their anchors and reject unknown names") {
    intercept[IllegalArgumentException] {
      new Runner(Project(Nil,
        Seq(SqlModel("e_m", "SELECT 1 AS x", Materialization.View)),
        exposures = Seq(Exposure("dash", "dashboard", Seq("ghost")))),
        Target.dev, new PathMaterializer("/tmp/graft-expo-spec"))
    }
    val r = new Runner(Project(Nil,
      Seq(SqlModel("e_m", "SELECT 1 AS x", Materialization.View)),
      exposures = Seq(Exposure("dash", "dashboard", Seq("e_m")))),
      Target.dev, new PathMaterializer("/tmp/graft-expo-spec"))
    intercept[NoSuchElementException] {
      r.run(spark, select = Some("exposure:nope"))
    }
    assert(r.run(spark, select = Some("+exposure:dash"))
      .map(_.name) == Seq("e_m"))
  }

  test("unit tests mock ephemeral refs and reject un-mocked inputs") {
    val eph = SqlModel("u_eph", "SELECT 1 AS a", Materialization.Ephemeral)
    val m = SqlModel("u_m",
      "SELECT a * 2 AS b FROM {{ ref('u_eph') }}", Materialization.Table)
    def runner(uts: Seq[UnitTest]) = new Runner(
      Project(Nil, Seq(eph, m), unitTests = uts), Target.dev,
      new PathMaterializer(
        Files.createTempDirectory("graft-ut").toString))
    // Ephemeral inputs are mocked directly (no CTE inlining in tests).
    val ok = runner(Seq(UnitTest("u_pass", "u_m",
      Map("u_eph" -> "a\n3\n4"), "b\n6\n8"))).runUnitTests(spark)
    assert(ok.collect().map(r => (r.getString(0), r.getString(2))).toSeq ==
      Seq(("u_pass", "pass")))
    intercept[IllegalArgumentException] {
      runner(Seq(UnitTest("u_bad", "u_m", Map.empty, "b\n6")))
        .runUnitTests(spark).collect()
    }
  }

  test("target switches output namespace (dev/prod isolation)") {
    val dev = new Runner(TpchProject.project(dir), Target.dev,
      new PathMaterializer("/tmp/graft-test/marts"))
    val prod = new Runner(TpchProject.project(dir), Target.prod,
      new PathMaterializer("/tmp/graft-test/marts"))
    assert(dev.relationOf(TpchProject.customerOrderMetrics) ==
      "dev_customer_order_metrics")
    assert(prod.relationOf(TpchProject.customerOrderMetrics) ==
      "prod_customer_order_metrics")
  }

  test("catalog materializer persists marts as real tables") {
    val runner = new Runner(TpchProject.project(dir), Target.dev,
      new CatalogMaterializer)
    runner.run(spark, select = Some("+customer_order_metrics"))
    assert(spark.catalog.tableExists("dev.customer_order_metrics"))
    assert(spark.table("dev.customer_order_metrics").count() > 0)
  }

  test("seeds load as ref-able DAG roots and fingerprint by content") {
    val seeds = ProjectLoader.loadSeeds("seeds/tpch")
    assert(seeds.map(_.name) == Seq("priority_tiers"))
    val mart = SqlModel("tier_counts",
      """SELECT tier, COUNT(*) AS n
        |FROM {{ ref('priority_tiers') }} GROUP BY tier""".stripMargin,
      Materialization.Table)
    val base = Files.createTempDirectory("graft-seed-spec").toString
    val r = new Runner(Project(Nil, seeds :+ mart), Target.dev,
      new PathMaterializer(base))
    assert(r.run(spark).forall(_.status == "success"))
    assert(r.table(spark, "priority_tiers").count() == 5)
    assert(r.table(spark, "tier_counts").count() == 3) // hot/mid/low
    // dbt checksums seed CONTENT: an edited CSV must flip state:modified
    // even though the model definition is unchanged.
    val f1 = r.fingerprints("priority_tiers")
    val edited = Files.createTempDirectory("graft-seed-edit")
    Files.writeString(edited.resolve("priority_tiers.csv"),
      "priority,tier,weight\n1-URGENT,hot,9\n")
    val r2 = new Runner(
      Project(Nil, ProjectLoader.loadSeeds(edited.toString)),
      Target.dev, new PathMaterializer(base))
    assert(r2.fingerprints("priority_tiers") != f1)
  }

  test("docs artifacts: manifest nodes + parent map, catalog columns") {
    val runner = TpchProject.runner(dir)
    runner.run(spark)
    val tmp = Files.createTempDirectory("graft-docs-spec")
    runner.writeDocs(spark, tmp.resolve("manifest.json").toString,
      tmp.resolve("catalog.json").toString)
    val manifest = spark.read.json(tmp.resolve("manifest.json").toString)
    val nModels = TpchProject.project(dir).models.size
    import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, explode}
    assert(manifest.select(explode(col("nodes"))).count() == nModels)
    val parents = manifest
      .select(col("parent_map.customer_order_metrics")).head
      .getSeq[String](0).sorted
    assert(parents == Seq("stg_customer", "stg_orders"))
    val catalog = spark.read.json(tmp.resolve("catalog.json").toString)
    assert(catalog.select(explode(col("relations"))).count() == nModels)
    val martCols = catalog.select(explode(col("relations")).as("r"))
      .filter(col("r.relation") === "dev_customer_order_metrics")
      .select(explode(col("r.columns")).as("c"))
      .select("c.name").collect().map(_.getString(0)).toSet
    assert(martCols.contains("total_sales") && martCols.contains("priorities"))
  }

  test("compileSql renders refs/sources without executing") {
    val runner = TpchProject.runner(dir)
    val sql = runner.compileSql(TpchProject.customerOrderMetrics)
    assert(!sql.contains("{{"))
    assert(sql.contains("dev_stg_customer"))
  }

  test("all declared data tests pass on the testdata") {
    val runner = TpchProject.runner(dir)
    runner.run(spark, select = Some("+customer_order_metrics"))
    val report = runner.testReport(spark).collect()
    assert(report.length == TpchProject.tests.size)
    val failing = report.filter(_.getLong(1) != 0L)
    assert(failing.isEmpty,
      s"failing tests: ${failing.map(_.getString(0)).mkString(", ")}")
  }

  test("parallel run (threads=4) produces the same marts as sequential") {
    val runner = TpchProject.runner(dir)
    val results = runner.run(spark, threads = Some(4))
    assert(results.size == TpchProject.project(dir).models.size)
    assert(results.forall(_.status == "success"))
    // topological order preserved in the report
    assert(results.map(_.name).indexOf("stg_orders") <
      results.map(_.name).indexOf("customer_order_metrics"))
    assert(runner.table(spark, "sales_by_region").count() == 25)
  }

  test("the default width overlaps independent nodes and names their jobs") {
    // Each build waits for the other at one barrier: a run that builds
    // one node at a time times out there and fails both.
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val descriptions =
      new java.util.concurrent.ConcurrentHashMap[String, String]
    def meet(name: String) = DfModel(name, Nil, (s, _) => {
      descriptions.put(name,
        s.sparkContext.getLocalProperty("spark.job.description"))
      barrier.await(30, java.util.concurrent.TimeUnit.SECONDS)
      s.range(1).toDF("x")
    }, Materialization.View)
    val runner = new Runner(Project(Nil, Seq(meet("ov_a"), meet("ov_b"))),
      Target.dev, new PathMaterializer(
        Files.createTempDirectory("graft-overlap").toString))
    assert(runner.run(spark).map(r => r.name -> r.status) ==
      Seq("ov_a" -> "success", "ov_b" -> "success"))
    assert(descriptions.get("ov_a") == "ov_a" &&
      descriptions.get("ov_b") == "ov_b")
  }

  test("parallel run skips downstream of a failure but finishes siblings") {
    val bad = Project(
      TpchProject.sources(dir),
      Seq(
        SqlModel("ok_root", "SELECT * FROM {{ source('tpch','nation') }}"),
        SqlModel("boom2", "SELECT no_col FROM {{ source('tpch','orders') }}",
          Materialization.Table),
        SqlModel("down", "SELECT * FROM {{ ref('boom2') }}",
          Materialization.Table),
        SqlModel("indep", "SELECT * FROM {{ ref('ok_root') }}",
          Materialization.Table)))
    val runner = new Runner(bad, Target.dev,
      new PathMaterializer("/tmp/graft-test/marts-par"))
    val e = intercept[RuntimeException] {
      runner.run(spark, threads = Some(4))
    }
    assert(e.getMessage.contains("boom2"))
    // independent branch still materialized (nation = 25 rows)
    assert(spark.table("dev_indep").count() == 25)
  }

  test("serial run skips downstream of a failure but finishes siblings") {
    val bad = Project(
      TpchProject.sources(dir),
      Seq(
        SqlModel("ok_root_s", "SELECT * FROM {{ source('tpch','nation') }}"),
        SqlModel("boom_s", "SELECT no_col FROM {{ source('tpch','orders') }}",
          Materialization.Table),
        SqlModel("down_s", "SELECT * FROM {{ ref('boom_s') }}",
          Materialization.Table),
        SqlModel("down2_s", "SELECT * FROM {{ ref('down_s') }}",
          Materialization.Table),
        SqlModel("indep_s", "SELECT * FROM {{ ref('ok_root_s') }}",
          Materialization.Table)))
    val runner = new Runner(bad, Target.dev,
      new PathMaterializer("/tmp/graft-test/marts-ser"))
    val e = intercept[RuntimeException] {
      runner.run(spark, threads = Some(1))
    }
    assert(e.getMessage.contains("boom_s"))
    // independent branch still materialized (nation = 25 rows)…
    assert(spark.table("dev_indep_s").count() == 25)
    // …while the failed node's descendants (transitively) were skipped,
    // never executed against a stale relation.
    assert(!spark.catalog.tableExists("dev_down_s"))
    assert(!spark.catalog.tableExists("dev_down2_s"))
  }

  test("--exclude removes its subgraph from the run") {
    val runner = TpchProject.runner(dir)
    val results = runner.run(spark,
      select = Some("+customer_order_metrics"),
      exclude = Some("customer_order_metrics"))
    assert(results.map(_.name).toSet == Set("stg_customer", "stg_orders"))
    assert(results.forall(_.status == "success"))
  }

  test("state:modified selects changed models against a prior manifest") {
    val runner = TpchProject.runner(dir)
    val manifest = "/tmp/graft-test/state/manifest.json"
    runner.writeManifest(manifest)

    // Unchanged project: nothing is modified, so a state:modified run is
    // an empty (but valid) invocation.
    assert(runner.run(spark, select = Some("state:modified"),
      state = Some(manifest)).isEmpty)

    // Change one mart's SQL: it and (with the + suffix) its descendants
    // are selected; everything untouched is not.
    val changed = TpchProject.project(dir)
    val patched = Project(
      changed.sources,
      changed.models.map {
        case s: SqlModel if s.name == "stg_orders" =>
          s.copy(sql = s.sql + " WHERE o_orderkey IS NOT NULL")
        case m => m
      },
      changed.tests)
    val r2 = new Runner(patched, Target.dev,
      new PathMaterializer("/tmp/graft-test/marts-state"))
    val results = r2.run(spark, select = Some("state:modified+"),
      state = Some(manifest))
    val names = results.map(_.name).toSet
    assert(names.contains("stg_orders"))
    assert(names.contains("customer_order_metrics")) // downstream
    assert(!names.contains("stg_region")) // untouched branch
    assert(results.forall(_.status == "success"))

    // state:new: a model added to the project (absent from the manifest).
    val withNew = Project(changed.sources,
      changed.models :+ SqlModel("brand_new",
        "SELECT * FROM {{ ref('stg_nation') }}"), changed.tests)
    val r3 = new Runner(withNew, Target.dev,
      new PathMaterializer("/tmp/graft-test/marts-state"))
    assert(r3.run(spark, select = Some("state:new"), state = Some(manifest))
      .map(_.name) == Seq("brand_new"))

    intercept[IllegalArgumentException](
      runner.run(spark, select = Some("state:modified")))
  }

  /** `body`'s result and the descriptions of the Spark jobs it started
    * (on its thread or on threads it spawned). */
  private def jobDescriptions[A](body: => A): (A, Seq[String]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"runner-spec-${java.util.UUID.randomUUID}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties)
          .filter(_.getProperty("spark.jobGroup.id") == group)
          .foreach(p => seen.add(
            String.valueOf(p.getProperty("spark.job.description"))))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val a = body
      org.apache.spark.ListenerBusDrain(sc)
      (a, seen.toArray.map(_.toString).toSeq)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("a microbatch model's source is loaded once per run") {
    import spark.implicits._
    val loads = new java.util.concurrent.atomic.AtomicInteger
    val descriptions = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val feed = Seq(("2024-01-01 05:00:00", 1.0), ("2024-01-02 05:00:00", 2.0))
      .toDF("tss", "v")
      .select(org.apache.spark.sql.functions.to_timestamp(col("tss"))
        .as("ts"), col("v"))
    def counted(table: String, df: DataFrame) = SourceDef("t", table, s => {
      if (table == "mb_ev") loads.incrementAndGet()
      descriptions.add(s.sparkContext.getLocalProperty("spark.job.description"))
      df
    }, eventTimeField = Some("ts"))
    val mb = SqlModel("mb_once", "SELECT ts, v FROM {{ source('t', 'mb_ev') }}",
      Materialization.Microbatch("ts", "day"), eventTime = Some("ts"))
    val runner = new Runner(
      Project(Seq(counted("mb_ev", feed), counted("mb_side", feed)), Seq(mb)),
      Target.dev, new PathMaterializer(
        Files.createTempDirectory("graft-mb-once").toString))
    val sc = spark.sparkContext
    sc.setJobDescription("caller")
    try {
      runner.run(spark)
      assert(loads.get == 1)
      assert(spark.table("dev_mb_once").count() == 2)
      runner.run(spark)
      assert(loads.get == 2)
      assert(sc.getLocalProperty("spark.job.description") == "caller")
    } finally sc.setJobDescription(null)
    assert(descriptions.toArray.toSet ==
      Set("source t.mb_ev", "source t.mb_side"))
  }

  test("testReport right after run runs no source inference job") {
    val src = Files.createTempDirectory("graft-src-memo")
    Seq("orders", "customer", "lineitem", "nation", "region").foreach { t =>
      Files.copy(Paths.get(s"$dir/$t.parquet"), src.resolve(s"$t.parquet"))
    }
    val runner = TpchProject.runner(src.toString)
    val (results, runJobs) = jobDescriptions(runner.run(spark))
    assert(results.forall(_.status == "success"))
    // A cold load infers each file source's schema, in a named job.
    assert(Seq("orders", "customer", "lineitem", "nation", "region")
      .forall(t => runJobs.contains(s"source tpch.$t")), runJobs)
    val (report, testJobs) = jobDescriptions(runner.testReport(spark))
    assert(testJobs.isEmpty, testJobs)
    assert(report.filter(col("violations") =!= 0).count() == 0)
  }

  test("source freshness reports max(loaded_at) and age per source") {
    val runner = TpchProject.runner(dir)
    runner.registerSources(spark)
    val rows = runner.freshnessReport(spark).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("tpch.orders"))
    assert(rows.head.get(1) != null) // max(o_orderdate) on real data
    assert(rows.head.getLong(2) > 0) // historical data ⇒ positive age
    assert(rows.head.getString(3) == "error") // decades stale vs 2h/24h
  }

  test("freshness verdicts: pass / warn / error / no-policy boundaries") {
    import org.apache.spark.sql.functions.{current_timestamp, expr}
    def src(name: String, lag: String, policy: Option[FreshnessPolicy]) =
      SourceDef("fx", name,
        s => s.range(1).select(
          (current_timestamp() - expr(s"INTERVAL $lag")).as("loaded_at")),
        Some("loaded_at"), policy)
    val policy = Some(FreshnessPolicy(2L * 3600, 24L * 3600))
    val p = Project(Seq(
      src("fresh", "10 MINUTE", policy),   // age < warn_after  -> pass
      src("stale", "3 HOUR", policy),      // warn < age < err  -> warn
      src("dead", "48 HOUR", policy),      // age > error_after -> error
      src("nopolicy", "48 HOUR", None)),   // no thresholds     -> pass
      Seq(SqlModel("unused_fx", "SELECT * FROM {{ source('fx','fresh') }}")))
    val verdicts = new Runner(p, Target.dev,
      new PathMaterializer("/tmp/graft-test/marts-fx"))
      .freshnessReport(spark).collect()
      .map(r => r.getString(0) -> r.getString(3)).toMap
    assert(verdicts == Map("fx.fresh" -> "pass", "fx.stale" -> "warn",
      "fx.dead" -> "error", "fx.nopolicy" -> "pass"))
  }

  test("unit tests distinguish NULL from the literal string 'null'") {
    val in = SqlModel("un_in", "SELECT 1 AS a", Materialization.Table)
    val m = SqlModel("un_m",
      "SELECT a, CAST(NULL AS STRING) AS b FROM {{ ref('un_in') }}",
      Materialization.Table)
    def run(uts: Seq[UnitTest]) = new Runner(
      Project(Nil, Seq(in, m), unitTests = uts), Target.dev,
      new PathMaterializer(Files.createTempDirectory("graft-utn").toString))
      .runUnitTests(spark).collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    // a NULL output must NOT match an expected literal 'null' string...
    assert(run(Seq(UnitTest("u_lit", "un_m",
      Map("un_in" -> "a\n1"), "a,b\n1,null")))("u_lit") == "fail")
    // ...but matches an expected empty (NULL) cell.
    assert(run(Seq(UnitTest("u_null", "un_m",
      Map("un_in" -> "a\n1"), "a,b\n1,")))("u_null") == "pass")
  }

  test("show path: preview evaluates without materializing the target") {
    val up = SqlModel("pv_up", "SELECT 1 AS a", Materialization.Table)
    val m = SqlModel("pv_m", "SELECT a * 2 AS b FROM {{ ref('pv_up') }}",
      Materialization.Table)
    val base = Files.createTempDirectory("graft-pv").toString
    val runner = new Runner(Project(Nil, Seq(up, m)), Target.dev,
      new PathMaterializer(base))
    // the CLI's show verb: build the upstream closure only, preview the
    // target's compiled SELECT in-session.
    val built = runner.run(spark, Some("+pv_m"), exclude = Some("pv_m"))
    assert(built.map(_.name) == Seq("pv_up"))
    assert(runner.preview(spark, "pv_m")
      .collect().map(_.getInt(0)).toSeq == Seq(2))
    assert(!Files.exists(Paths.get(base, "dev_pv_m")),
      "show must not materialize its target")
  }

  test("--defer rejects unknown targets instead of defaulting to dev") {
    val e = intercept[IllegalArgumentException] {
      graft.EngineCli.main(Array("deps", "--defer", "pord"))
    }
    assert(e.getMessage.contains("pord"))
  }

  test("failing model aborts the run with context") {
    val bad = Project(
      TpchProject.sources(dir),
      Seq(SqlModel("boom", "SELECT * FROM {{ source('tpch','orders') }} WHERE no_such_col = 1",
        Materialization.Table)))
    val runner = new Runner(bad, Target.dev,
      new PathMaterializer("/tmp/graft-test/marts"))
    val e = intercept[RuntimeException](runner.run(spark))
    assert(e.getMessage.contains("boom"))
  }

  test("a failing on-run-start hook aborts the invocation before any " +
      "node builds; on-run-end still runs after a node failure") {
    def freshAudit(): Unit = {
      spark.sql("CREATE DATABASE IF NOT EXISTS hooks")
      spark.sql("DROP TABLE IF EXISTS hooks.spec_audit")
      val loc = Files.createTempDirectory("graft_spec_audit").toString
      spark.sql("CREATE TABLE hooks.spec_audit (phase STRING) " +
        s"USING parquet LOCATION '$loc'")
    }
    val mart = SqlModel("hooked_ok",
      "SELECT * FROM {{ source('tpch','nation') }}",
      Materialization.Table)

    // 1. on-run-start failure: nothing builds, no end hook runs.
    freshAudit()
    val startBoom = new Runner(
      Project(TpchProject.sources(dir), Seq(mart),
        onRunStart = Seq("SELECT no_such_col FROM hooks.spec_audit"),
        onRunEnd = Seq("INSERT INTO hooks.spec_audit VALUES ('end')")),
      Target("dev", "hookspec"), new PathMaterializer(
        "/tmp/graft-test/hookspec"))
    intercept[Exception](startBoom.run(spark))
    assert(spark.table("hooks.spec_audit").count() == 0,
      "no hook row may land when on-run-start fails")
    assert(!Files.exists(Paths.get("/tmp/graft-test/hookspec/hooked_ok")),
      "no node may build when on-run-start fails")

    // 2. node failure: on-run-end runs anyway, then the run fails.
    freshAudit()
    val nodeBoom = new Runner(
      Project(TpchProject.sources(dir),
        Seq(SqlModel("boom2",
          "SELECT no_such_col FROM {{ source('tpch','nation') }}",
          Materialization.Table)),
        onRunEnd = Seq("INSERT INTO hooks.spec_audit VALUES ('end')")),
      Target("dev", "hookspec"), new PathMaterializer(
        "/tmp/graft-test/hookspec"))
    val e2 = intercept[RuntimeException](nodeBoom.run(spark))
    assert(e2.getMessage.contains("boom2"))
    assert(spark.table("hooks.spec_audit").count() == 1,
      "on-run-end must run even when a node failed")

    // 3. a failing on-run-end fails the invocation — but run_results
    // still lands first (dbt does the same): the retry verb consumes
    // that artifact, and a flaky end hook must not blind retry to
    // which nodes succeeded.
    freshAudit()
    val rr = Files.createTempDirectory("graft_endboom").toString +
      "/run_results.json"
    val endBoom = new Runner(
      Project(TpchProject.sources(dir), Seq(mart),
        onRunEnd = Seq("SELECT no_such_col FROM hooks.spec_audit")),
      Target("dev", "hookspec"), new PathMaterializer(
        "/tmp/graft-test/hookspec"))
    intercept[Exception](endBoom.run(spark,
      runResultsPath = Some(rr)))
    assert(Files.exists(Paths.get(rr)),
      "run_results.json must be written even when on-run-end fails")
    assert(spark.read.json(rr)
        .select(explode(col("results")).as("n"))
        .filter(col("n.name") === "hooked_ok" &&
          col("n.status") === "success").count() == 1,
      "the node results must record the successful build")
    spark.sql("DROP TABLE IF EXISTS hooks.spec_audit")
  }
}
