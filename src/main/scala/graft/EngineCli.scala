package graft

import graft.model._
import graft.operators.TpchProject

/** Headless engine entry point — the Spark-native equivalent of the
  * reference's scheduled `EXECUTE DBT PROJECT ... ARGS='run --select m
  * --target dev'` path (setup/task.sql:1-6, SURVEY EP3).
  *
  * Usage:
  *   run     [--project tpch|tastybytes|corpus|dir:PATH] [--select EXPR]
  *           [--exclude EXPR] [--state MANIFEST] [--target dev|prod]
  *           [--dir PATH] [--threads N] [--materializer catalog|path]
  *           [--warehouse PATH] [--full-refresh true] [--fail-fast true]
  *           [--defer dev|prod]
  *           (EXPR: dbt algebra — `+name+` graph ops, space = union,
  *            comma = intersection, `tag:NAME` config tags,
  *            `state:modified`/`state:new` against --state; --exclude
  *            subtracts its selection. Every run writes
  *            WAREHOUSE/manifest.json for the next --state. --threads
  *            caps how many dependency-ready models build at once;
  *            absent, the session's defaultParallelism applies.)
  *   build   dbt build: run the DAG, then every declared test (exit 1 on
  *           any test failure)
  *   test    [--project ...] [--dir PATH] [--target ...]
  *   compile [--project ...] [--target ...]
  *   deps      O1: package resolution report (dbt_utils tests are inlined)
  *   freshness A7: max(loaded_at_field) + age per declared source
  *   ls        S7: catalog listing (SHOW TABLES equivalent) post-run
  *   seed      dbt seed: materialize only the seed tier
  *   snapshot  dbt snapshot: run only the snapshot models (+ upstreams)
  *   retry     dbt retry: re-run the error/skipped nodes of the previous
  *             invocation's run_results.json
  *   clone     dbt clone: zero-copy clone another target's relations
  *             into this target ([--from prod] [--select EXPR])
  *   optimize  small-file compaction of table relations to ~target-MB
  *             files via the atomic replace ([--target-mb 128])
  *   show      dbt show: preview a model's rows (--select MODEL
  *             [--limit N])
  *   docs      dbt docs generate: manifest_docs.json + catalog.json
  *   run-operation  dbt run-operation: invoke a project macro outside
  *             any DAG run (--name OPERATION [--args k=v,...])
  *
  * Selection may also come from NAMED bundles: `--selector NAME`
  * resolves a [[graft.model.NamedSelector]] (declared on the project or
  * loaded with `--selectors PATH` from a dbt selectors.yml); a
  * `default: true` selector applies when no selection is given.
  * `--select` and `--selector` are mutually exclusive.
  *
  * Any verb accepts `--seeds PATH` — a dbt seeds/ directory of CSVs that
  * joins the project as ref-able DAG roots (reference declares
  * seed-paths at dbt_project.yml:11) — and `--vars k=v[,k=v...]` — dbt's
  * invocation-level `{{ var(...) }}` overrides (project `vars:` defaults
  * lose to these, dbt's precedence).
  *
  * Projects: `tpch` (driver-testdata demo, SQL tier loaded from
  * models/tpch), `tastybytes` (the full reference port over deterministic
  * fixtures, SQL tier from models/tastybytes), `corpus` (the composed
  * pretraining recipe as two code marts — [[graft.operators
  * .CorpusProject]]), or `dir:PATH` — any
  * directory of `*.sql` model files (dbt's model-paths layout,
  * ProjectLoader), bound to the `tpch` testdata source registry from
  * `--dir`; a deployment supplies its own SourceDef registry the same way
  * TpchProject does.
  */
object EngineCli {

  def main(args: Array[String]): Unit = {
    val verb = args.headOption.getOrElse("run")
    // Strict --flag value pairing: an odd arg list or a bare flag would
    // otherwise pair flags with each other and silently drop the user's
    // intent (`run --full-refresh --select m` ran the full DAG
    // incrementally with --select lost).
    val rest = args.drop(1)
    require(rest.length % 2 == 0 &&
      rest.grouped(2).forall(_.head.startsWith("--")),
      s"options must be '--flag value' pairs, got: ${rest.mkString(" ")}")
    val opts = rest.sliding(2, 2).collect {
      case Array(k, v) => k.stripPrefix("--") -> v
    }.toMap
    val dir = opts.getOrElse("dir", "/root/testdata/sf0.001")
    val target = opts.getOrElse("target", "dev") match {
      case "prod" => Target.prod
      case _ => Target.dev
    }
    val warehouse = opts.getOrElse("warehouse", "/tmp/graft-warehouse")

    val spark = graft.core.EngineSession(
      "spark.sql.warehouse.dir" -> warehouse)

    val materializer: Materializer = opts.getOrElse("materializer", "catalog") match {
      case "path" => new PathMaterializer(s"$warehouse/path-marts")
      case _ => new CatalogMaterializer
    }
    val project0 = opts.getOrElse("project", "tpch") match {
      case "tastybytes" => graft.tastybytes.TastyBytesProject.project
      case "corpus" => graft.operators.CorpusProject.project(dir)
      case p if p.startsWith("dir:") =>
        ProjectLoader.load(p.stripPrefix("dir:"), TpchProject.sources(dir))
      case _ => TpchProject.project(dir)
    }
    // --seeds PATH: a dbt seeds/ directory joins the project as ref-able
    // DAG roots (dbt_project.yml:11 seed-paths).
    val project1 = opts.get("seeds").map { d =>
      project0.copy(models =
        ProjectLoader.loadSeeds(d) ++ project0.models)
    }.getOrElse(project0)
    // --selectors PATH: a dbt selectors.yml of named selection bundles
    // joins the project (resolved by --selector NAME below).
    val project = opts.get("selectors").map { p =>
      project1.copy(selectors =
        project1.selectors ++ ProjectLoader.loadSelectors(p))
    }.getOrElse(project1)
    // --vars k=v,k2=v2 — dbt's invocation-level variable overrides
    // ({{ var('k') }} in model SQL; project vars: block supplies defaults).
    val cliVars: Map[String, String] = opts.get("vars").map {
      _.split(',').filter(_.nonEmpty).map { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => k.trim -> v.trim
          case _ => throw new IllegalArgumentException(
            s"--vars expects k=v[,k=v...], got: $kv")
        }
      }.toMap
    }.getOrElse(Map.empty)
    // --defer dev|prod: unbuilt refs resolve to that target's relations
    // (pair with --select state:modified --state for dbt's slim CI).
    val deferTarget = opts.get("defer").map {
      case "prod" => Target.prod
      case "dev" => Target.dev
      case other => throw new IllegalArgumentException(
        s"--defer expects dev|prod, got: $other")
    }
    val runner = new Runner(project, target, materializer, cliVars,
      deferTarget)

    def printResults(results: Seq[NodeResult]): Unit =
      results.foreach { r =>
        println(f"${r.status.toUpperCase}%-8s ${r.name}%-28s " +
          f"-> ${r.relation}%-32s ${r.millis}%6d ms")
      }

    // dbt selection precedence: an explicit --select wins, --selector
    // resolves a named bundle, otherwise a `default: true` selector
    // (if declared) applies. Passing both is ambiguous — dbt errors.
    require(opts.get("select").isEmpty || opts.get("selector").isEmpty,
      "--select and --selector are mutually exclusive")
    def selection: Option[String] = opts.get("select")
      .orElse(runner.resolveSelector(opts.get("selector")))
    val threads: Option[Int] = opts.get("threads").map(_.toInt)

    verb match {
      case "run-operation" =>
        // dbt run-operation NAME --args '{...}': invoke a project
        // macro outside any DAG run; args spell k=v,k2=v2 like --vars.
        val name = opts.getOrElse("name",
          throw new IllegalArgumentException(
            "run-operation requires --name OPERATION"))
        val opArgs: Map[String, String] = opts.get("args").map {
          _.split(',').filter(_.nonEmpty).map { kv =>
            kv.split("=", 2) match {
              case Array(k, v) => k.trim -> v.trim
              case _ => throw new IllegalArgumentException(
                s"--args expects k=v[,k=v...], got: $kv")
            }
          }.toMap
        }.getOrElse(Map.empty)
        val n = runner.runOperation(spark, name, opArgs)
        println(s"operation '$name' completed ($n statements)")
      case "run" =>
        val results = runner.run(spark, selection,
          runResultsPath = Some(s"$warehouse/run_results.json"),
          threads = threads,
          exclude = opts.get("exclude"),
          state = opts.get("state"),
          manifestPath = Some(s"$warehouse/manifest.json"),
          fullRefresh = opts.get("full-refresh").contains("true"),
          failFast = opts.get("fail-fast").contains("true"))
        printResults(results)
        println(s"Completed ${results.size} models " +
          s"(target=${target.name}, run_results=$warehouse/run_results.json)")
      case "retry" =>
        // dbt retry: re-run exactly what the previous invocation left in
        // error/skipped state, from its run_results artifact.
        runner.retrySelection(s"$warehouse/run_results.json") match {
          case None => println("nothing to retry: previous run was clean")
          case Some(sel) =>
            println(s"retrying: $sel")
            printResults(runner.run(spark, Some(sel),
              runResultsPath = Some(s"$warehouse/run_results.json"),
              threads = threads))
        }
      case "show" =>
        // dbt show: preview a model's rows without materializing it as
        // the deliverable (upstreams build into the session first; the
        // target itself is excluded and its compiled SELECT evaluated
        // in-session with the limit pushed into the plan).
        val name = opts.getOrElse("select", throw new IllegalArgumentException(
          "show requires --select MODEL"))
        val limit = opts.getOrElse("limit", "5").toInt
        runner.run(spark, Some(s"+$name"), threads = threads,
          exclude = Some(name))
        runner.preview(spark, name).limit(limit).show(limit, truncate = false)
      case "clone" =>
        // dbt clone: re-point this target's relations at another
        // target's committed versions — zero-copy on pointer-backed
        // tables (Snowflake CREATE TABLE ... CLONE semantics), deep copy
        // otherwise. `--from prod` (default) selects the source target.
        val from = opts.getOrElse("from", "prod") match {
          case "prod" => Target.prod
          case "dev" => Target.dev
          case other => throw new IllegalArgumentException(
            s"--from expects dev|prod, got: $other")
        }
        printResults(runner.cloneModels(spark, opts.get("select"), from))
      case "optimize" =>
        // Small-file compaction: rewrite selected table relations into
        // ~target-MB files (atomic pointer-swap replace; readers never
        // see a partial layout). [--select EXPR] [--target-mb N]
        printResults(runner.optimizeModels(spark, opts.get("select"),
          targetBytes = opts.getOrElse("target-mb", "128").toLong << 20))
      case "snapshot" =>
        // dbt snapshot: run only the snapshot-materialized models.
        val snaps = project.models.collect {
          case m if m.materialization.isInstanceOf[Materialization.Snapshot]
            || m.materialization.isInstanceOf[Materialization.SnapshotCheck]
            => m.name
        }
        if (snaps.isEmpty) println("0 snapshots in project")
        else printResults(runner.run(spark,
          select = Some(snaps.map("+" + _).mkString(" ")),
          threads = threads))
      case "test" =>
        // dbt-build semantics: tests on model relations need the models
        // materialized in THIS session (the in-memory catalog does not
        // survive across JVMs), so run the (selected) DAG first.
        // --select scopes both the build and the tests — a test anchored
        // to an unselected model may have no relation to validate;
        // source-anchored tests (dotted relations) always run.
        val sel = opts.get("select")
        val built = runner.run(spark, sel,
          threads = threads)
        val inScope: String => Boolean = sel match {
          case None => _ => true
          case Some(_) =>
            val names = built.map(_.name).toSet
            rel => names(rel) || rel.contains('.')
        }
        val report = runner.testReport(spark, inScope).collect()
        val severity = runner.testSeverity
        report.foreach { row =>
          val (id, n) = (row.getString(0), row.getLong(1))
          val verdict =
            if (n == 0) "PASS"
            else if (severity.getOrElse(id, "error") == "warn") "WARN"
            else "FAIL"
          println(f"$verdict%-5s $id%-55s violations=$n")
        }
        val stored = runner.storeFailures(spark, inScope)
        stored.foreach(r => println(s"stored failures -> $r"))
        // dbt 1.8: `test` also runs the project's unit tests.
        val units = runner.runUnitTests(spark).collect()
        units.foreach { u =>
          println(f"${u.getString(2).toUpperCase}%-5s unit:${u.getString(0)}%-49s " +
            f"model=${u.getString(1)}")
        }
        val bad = report.count(r => r.getLong(1) != 0 &&
          severity.getOrElse(r.getString(0), "error") == "error") +
          units.count(_.getString(2) == "fail")
        println(s"${report.count(_.getLong(1) == 0)}/${report.length} " +
          s"tests passed, ${units.count(_.getString(2) == "pass")}/" +
          s"${units.length} unit tests passed " +
          s"($bad error-severity failures)")
        // dbt exit semantics: warn-severity failures do not fail the run.
        if (bad > 0) sys.exit(1)
      case "compile" =>
        Dag.toposort(runner.deps).foreach { name =>
          runner.project.model(name) match {
            case sm: SqlModel =>
              println(s"-- model: $name -> ${runner.relationOf(sm)}")
              println(runner.compileSql(sm))
            case dm: DfModel =>
              println(s"-- model: $name -> ${runner.relationOf(dm)} " +
                s"(code model; refs: ${dm.refs.mkString(", ")})")
            case s: SeedModel =>
              println(s"-- seed: $name -> ${runner.relationOf(s)} " +
                s"(${s.csvPath})")
          }
        }
        // dbt analysis-paths: compiled, never run (--analyses PATH).
        opts.get("analyses").foreach { d =>
          ProjectLoader.loadAnalyses(d).foreach { case (name, raw) =>
            println(s"-- analysis: $name (compiled only)")
            println(runner.compileAnalysis(raw))
          }
        }
      case "deps" =>
        // O1: the reference's only package is dbt_utils 1.3.0
        // (packages.yml:1-3), used for accepted_range/expression_is_true —
        // both implemented natively (DataTests.scala), so deps is a report.
        println("dbt_utils 1.3.0 -> inlined (AcceptedRange, ExpressionIsTrue)")
        println("0 packages to resolve")
      case "freshness" =>
        runner.registerSources(spark)
        val rows = runner.freshnessReport(spark).collect()
        rows.foreach { row =>
          // age is NULL when the source is empty/un-castable (itself an
          // error verdict) — getLong would NPE before the exit-1 path.
          val age = if (row.isNullAt(2)) "n/a" else row.getLong(2).toString
          println(f"${row.getString(3).toUpperCase}%-6s ${row.getString(0)}%-24s " +
            f"max_loaded_at=${row.get(1)} age_s=$age")
        }
        // dbt exit semantics: stale sources fail the invocation.
        if (rows.exists(_.getString(3) == "error")) sys.exit(1)
      case "ls" =>
        // S7: `SHOW TABLES IN SCHEMA` (tasty_bytes_example_query.sql:2).
        runner.run(spark, threads = threads)
        spark.sql("SHOW TABLES").collect().foreach { r =>
          println(f"${r.getString(0)}%-12s ${r.getString(1)}%-36s " +
            f"temp=${r.getBoolean(2)}")
        }
      case "build" =>
        // dbt build: materialize the DAG, then run every declared test
        // (data AND unit — the deploy path must gate on everything the
        // test verb gates on); exit 1 on error-severity failures only,
        // with warn-severity printed as WARN exactly like `test`.
        val results = runner.run(spark, opts.get("select"),
          runResultsPath = Some(s"$warehouse/run_results.json"),
          threads = threads)
        printResults(results)
        val report = runner.testReport(spark).collect()
        val severity = runner.testSeverity
        report.foreach { row =>
          val verdict =
            if (row.getLong(1) == 0) "PASS"
            else if (severity.getOrElse(row.getString(0), "error") == "warn")
              "WARN"
            else "FAIL"
          println(f"$verdict%-5s ${row.getString(0)}%-55s " +
            f"violations=${row.getLong(1)}")
        }
        val units = runner.runUnitTests(spark).collect()
        units.foreach { u =>
          println(f"${u.getString(2).toUpperCase}%-5s unit:${u.getString(0)}%-49s " +
            f"model=${u.getString(1)}")
        }
        val bad = report.count(r => r.getLong(1) != 0 &&
          severity.getOrElse(r.getString(0), "error") == "error") +
          units.count(_.getString(2) == "fail")
        println(s"build: ${results.size} models, " +
          s"${report.count(_.getLong(1) == 0)}/${report.length} tests, " +
          s"${units.count(_.getString(2) == "pass")}/${units.length} " +
          s"unit tests ($bad error-severity failures)")
        if (bad > 0) sys.exit(1)
      case "docs" =>
        // dbt docs generate: manifest.json (nodes + parent map) and
        // catalog.json (live column schemas) after materializing.
        runner.run(spark, opts.get("select"), threads = threads)
        runner.writeDocs(spark, s"$warehouse/manifest_docs.json",
          s"$warehouse/catalog.json")
        println(s"wrote $warehouse/manifest_docs.json and " +
          s"$warehouse/catalog.json")
      case "seed" =>
        // dbt seed: materialize only the seed tier.
        val seedNames = project.models.collect { case s: SeedModel => s.name }
        if (seedNames.isEmpty) println("0 seeds in project")
        else printResults(
          runner.run(spark, select = Some(seedNames.mkString(" ")),
            threads = threads))
      case other =>
        System.err.println(s"unknown verb: $other (expected run|build|" +
          "test|compile|deps|freshness|ls|seed|snapshot|retry|show|docs|" +
          "clone|optimize)")
        sys.exit(2)
    }
    spark.stop()
  }
}
