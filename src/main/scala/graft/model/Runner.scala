package graft.model

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

final case class NodeResult(
    name: String,
    relation: String,
    status: String,
    millis: Long,
    error: Option[String])

/** Executes a [[Project]] against a target: source registration, ref/source
  * rendering, toposorted materialization, node selection, data tests, and
  * run-results artifacts — the engine-level operators O2-O7 of SURVEY §2.8.
  *
  * Query execution itself is entirely Catalyst's: SQL models go through
  * `spark.sql`, code models compose DataFrames; the runner only sequences
  * and materializes.
  */
final class Runner(
    val project: Project,
    val target: Target = Target.dev,
    val materializer: Materializer = new CatalogMaterializer,
    /** Invocation-level `{{ var(...) }}` values (dbt `--vars`); override
      * the project's `vars:` defaults key-by-key. */
    vars: Map[String, String] = Map.empty,
    /** dbt `--defer`: when a referenced model is NOT built in this
      * run's target, resolve the ref to this other target's relation
      * instead — the slim-CI pattern (`--select state:modified --defer
      * --target dev` builds only changed models in dev, reading
      * unchanged upstreams straight from prod). A ref defers only when
      * its own-target relation is unreadable, dbt's default. */
    defer: Option[Target] = None) {

  /** Effective var bindings for every render in this invocation. */
  private val effectiveVars: Map[String, String] = project.vars ++ vars

  // ---- dbt model versions (m18) --------------------------------------
  // A family = models sharing a versionBase; the base name itself
  // becomes an ALIAS in byName pointing at the latest member, so every
  // ref-resolution site (render, deps, ephemeral closure, microbatch
  // bounds, code-model refs) transparently resolves unpinned refs.
  // Pinned refs (`ref('m', v=N)`) canonicalize to the member's own name
  // `m_vN` in the Renderer and need no alias.
  private val versionFamilies: Map[String, Seq[Model]] = project.models
    .flatMap(m => m.versionBase.map(_ -> m))
    .groupBy(_._1).view.mapValues(_.map(_._2)).toMap

  private val latestOf: Map[String, Int] = versionFamilies.map {
    case (base, members) =>
      val versions = members.flatMap(_.version)
      require(versions.distinct.size == versions.size,
        s"versioned model $base: duplicate versions ${versions.sorted}")
      val declared = members.flatMap(_.latestVersion).distinct
      require(declared.size <= 1,
        s"versioned model $base: conflicting latest_version $declared")
      val latest = declared.headOption.getOrElse(versions.max)
      require(versions.contains(latest),
        s"versioned model $base: latest_version $latest has no member")
      base -> latest
  }

  private val byName: Map[String, Model] = {
    val named = project.models.map(m => m.name -> m).toMap
    val aliases = versionFamilies.map { case (base, members) =>
      require(!named.contains(base),
        s"versioned model family $base collides with model '$base'")
      base -> members.find(_.version.contains(latestOf(base))).get
    }
    named ++ aliases
  }

  /** node -> upstream model deps (source deps are not DAG nodes).
    * Version-family aliases canonicalize to the latest member's own
    * name, so DAG nodes are always real models. */
  val deps: Map[String, Seq[String]] = project.models.map { m =>
    m.name -> m.refs.map { r =>
      require(byName.contains(r), s"model ${m.name} refs unknown model: $r")
      byName(r).name
    }.distinct
  }.toMap

  // dbt `access` enforcement (m19), at parse time like dbt: a ref to a
  // PRIVATE model from outside its group fails the whole invocation
  // before any node runs. `protected` (the default) and `public` are
  // both ref-able within a single project — the protected/public
  // distinction only bites across projects, which this engine's one-
  // project invocations cannot express (adjudicated in COVERAGE.md).
  project.models.foreach { m =>
    m.refs.map(byName).foreach { t =>
      require(!t.access.contains("private") || t.group == m.group,
        s"model ${m.name} cannot ref private model ${t.name}: " +
          s"${t.name} is private to group '${t.group.getOrElse("")}' " +
          s"and ${m.name} is in group '${m.group.getOrElse("")}'")
    }
  }

  /** Deprecation warnings through the DAG (dbt model versions): one per
    * (consumer, ref) whose resolution lands on a version whose
    * `deprecation_date` has passed — both pinned refs to a deprecated
    * member and unpinned refs to a family whose LATEST is deprecated.
    * ISO-date strings compare lexicographically, so no date parsing. */
  lazy val versionWarnings: Seq[String] = {
    val today = java.time.LocalDate.now().toString
    project.models.flatMap { m =>
      m.refs.flatMap { r =>
        val resolved = byName(r)
        resolved.deprecationDate.collect {
          case d if d <= today =>
            s"model ${m.name} refs deprecated version " +
              s"${resolved.name} (deprecation_date $d)"
        }
      }
    }.distinct.sorted
  }

  project.exposures.foreach(e => e.dependsOn.foreach { d =>
    require(byName.contains(d),
      s"exposure ${e.name} depends on unknown model: $d")
  })

  /** Execution-time deps: ephemeral hops collapsed to their own
    * (transitive) executable upstreams — an ephemeral node never runs, so
    * scheduling and failure-skip must see through it to the real edge. */
  private lazy val execDeps: Map[String, Seq[String]] = {
    def expand(r: String): Seq[String] =
      if (isEphemeral(r)) deps(r).flatMap(expand) else Seq(r)
    deps.map { case (n, ds) => n -> ds.flatMap(expand).distinct }
  }

  def relationOf(m: Model): String = {
    val schema = m.customSchema.getOrElse(target.schema)
    m.materialization match {
      case Materialization.View => materializer.viewRelation(schema, m.name)
      case _ => materializer.tableRelation(schema, m.name)
    }
  }

  private def sourceRelation(sourceName: String, table: String): String =
    s"src_${sourceName}_$table"

  /** Where a `{{ ref(m) }}` READS from: the own-target relation when it
    * is readable (built this session, or persisted by a prior run), else
    * — under `--defer` — the defer target's relation (custom schemas
    * replace either target's schema, so they never defer anywhere new). */
  private def refRelation(spark: SparkSession, m: Model): String = {
    val own = relationOf(m)
    def readable(rel: String): Boolean =
      spark.catalog.tableExists(rel) ||
        materializer.relationExists(spark, rel)
    defer match {
      case Some(dt) if !readable(own) =>
        val schema = m.customSchema.getOrElse(dt.schema)
        m.materialization match {
          case Materialization.View => materializer.viewRelation(schema, m.name)
          case _ => materializer.tableRelation(schema, m.name)
        }
      case _ => own
    }
  }

  /** Load every declared source once and register it as its
    * `src_<source>_<table>` view, all sources at once (one [[graft.core.Par]]
    * thread each): a file source whose files did not change costs a
    * listing ([[graft.core.Tables]]' schema memo), so what remains is
    * per-source driver latency, which overlaps. Loaders are re-evaluated
    * on every call — a loader may close over state that changes between
    * invocations. Each load names its jobs `source <name>.<table>` and
    * restores the caller's description afterwards. */
  def registerSources(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    graft.core.Par.run(project.sources.map { sd => () =>
      val callerDescription = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(s"source ${sd.sourceName}.${sd.table}")
      try sd.load(spark)
        .createOrReplaceTempView(sourceRelation(sd.sourceName, sd.table))
      finally sc.setJobDescription(callerDescription)
    }: _*)
  }

  private def isEphemeral(name: String): Boolean =
    byName(name).materialization == Materialization.Ephemeral

  private def cteName(name: String): String = s"__cte__$name"

  /** Transitive ephemeral refs of `m`, dependencies-first. */
  private def ephemeralClosure(m: Model): Seq[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    def visit(r: String): Unit =
      if (isEphemeral(r) && !seen.contains(r)) {
        byName(r).refs.foreach(visit)
        seen += r
      }
    m.refs.foreach(visit)
    seen.toSeq
  }

  /** Rendered SQL with every transitive ephemeral ref inlined as a CTE
    * (dbt's `__dbt__cte__` compilation). Ephemeral refs resolve to CTE
    * names; everything else to its relation. A model body that itself
    * starts with WITH has its CTE list merged into ours. */
  private def renderSql(sm: SqlModel, thisExists: Boolean,
      batchWindow: Option[(String, String)] = None,
      sparkForDefer: Option[SparkSession] = None): String = {
    val rel = relationOf(sm)
    // Defer-aware ref target (compile-time rendering has no session and
    // always shows own-target relations).
    val resolveRef: Model => String = sparkForDefer match {
      case Some(s) => m => refRelation(s, m)
      case None => relationOf
    }
    // Microbatch input filtering: inputs that declare an event time are
    // wrapped in a batch-windowed subquery (dbt's auto-injected filter);
    // inputs without one read in full.
    def windowed(relName: String, et: Option[String]): String =
      (et, batchWindow) match {
        case (Some(c), Some((lo, hi))) =>
          s"(SELECT * FROM $relName WHERE $c >= TIMESTAMP '$lo' " +
            s"AND $c < TIMESTAMP '$hi')"
        case _ => relName
      }
    def sourceEventTime(a: String, b: String): Option[String] =
      project.sources.find(sd => sd.sourceName == a && sd.table == b)
        .flatMap(_.eventTimeField)
    def renderOne(s: SqlModel): String = Renderer.render(s.sql,
      ref = r => if (isEphemeral(r)) cteName(r)
        else windowed(resolveRef(byName(r)), byName(r).eventTime),
      source = (a, b) => windowed(sourceRelation(a, b), sourceEventTime(a, b)),
      thisRelation = Some(rel),
      thisExists = thisExists,
      vars = effectiveVars)
    val ctes = ephemeralClosure(sm).map { n =>
      byName(n) match {
        case es: SqlModel => s"${cteName(n)} AS (\n${renderOne(es)}\n)"
        case _ => throw new IllegalArgumentException(
          s"ephemeral code model $n cannot inline into SQL model ${sm.name}")
      }
    }
    val body = renderOne(sm)
    if (ctes.isEmpty) body
    else {
      val WithR = """(?is)^\s*WITH\b(.*)""".r
      body match {
        case WithR(rest) => s"WITH ${ctes.mkString(",\n")},$rest"
        case _ => s"WITH ${ctes.mkString(",\n")}\n$body"
      }
    }
  }

  /** O2: rendered SQL (SqlModel) without executing. Compile-time render
    * assumes a first (full) run for `incremental_filter`. */
  def compileSql(m: SqlModel): String = renderSql(m, thisExists = false)

  /** dbt analyses: render a standalone SELECT against this project's
    * refs/sources/vars without executing or materializing it (the
    * `analysis-paths` tier — compiled scratch queries). */
  def compileAnalysis(raw: String): String = Renderer.render(raw,
    ref = r => relationOf(byName.getOrElse(r,
      throw new NoSuchElementException(s"analysis refs unknown model: $r"))),
    source = (a, b) => sourceRelation(a, b),
    vars = effectiveVars)

  private def buildDf(spark: SparkSession, m: Model,
      fullRefresh: Boolean = false): DataFrame = m match {
    case sm: SqlModel =>
      // Under --full-refresh the incremental_filter renders as a first
      // run (no watermark predicate): the rebuild must see ALL source
      // rows, not just those past the stale relation's max.
      spark.sql(renderSql(sm, thisExists = !fullRefresh &&
        materializer.relationExists(spark, relationOf(sm)),
        sparkForDefer = Some(spark)))
    case dm: DfModel =>
      dm.build(spark, r => {
        val rm = byName(r)
        if (isEphemeral(r)) buildDf(spark, rm)
        else spark.table(refRelation(spark, rm))
      })
    case sd: SeedModel =>
      // dbt's agate-typed seed load: header row + per-column inference.
      // Seeds are hand-sized lookup tables by contract; inference's extra
      // read pass is irrelevant at that size.
      spark.read.option("header", "true").option("inferSchema", "true")
        .csv(sd.csvPath)
  }

  private def materializeNode(spark: SparkSession, name: String,
      fullRefresh: Boolean = false): NodeResult = {
    val m = byName(name)
    val relation = relationOf(m)
    val t0 = System.nanoTime()
    // Hooks render through the same substitution as model SQL ({{ this }}
    // = this model's relation) and run inside the node's try: a failing
    // hook fails the node, dbt's semantics.
    def runHooks(hooks: Seq[String]): Unit = hooks.foreach { h =>
      spark.sql(Renderer.render(h,
        ref = r => relationOf(byName(r)),
        source = (a, b) => sourceRelation(a, b),
        thisRelation = Some(relation),
        thisExists = true,
        vars = effectiveVars))
    }
    try {
      runHooks(m.preHooks)
      m.materialization match {
        case mb: Materialization.Microbatch =>
          materializeMicrobatch(spark, m, mb, relation, fullRefresh)
          runHooks(m.postHooks)
          return NodeResult(name, relation, "success",
            (System.nanoTime() - t0) / 1000000, None)
        case _ => ()
      }
      val built = buildDf(spark, m, fullRefresh)
      enforceContract(m, built)
      // cluster_by: tables get a global range layout (disjoint per-file
      // ranges — the strongest min/max pruning); incrementals only sort
      // within what they write (no extra shuffle on the hot path).
      def rangeClustered(df: DataFrame) =
        if (m.clusterBy.isEmpty) df
        else df.repartitionByRange(m.clusterBy.map(col): _*)
          .sortWithinPartitions(m.clusterBy.map(col): _*)
      def sortClustered(df: DataFrame) =
        if (m.clusterBy.isEmpty) df
        else df.sortWithinPartitions(m.clusterBy.map(col): _*)
      val df = rangeClustered(built)
      m.materialization match {
        case Materialization.View =>
          materializer.materializeView(spark, relation, built)
        case Materialization.Table =>
          materializer.materializeTable(spark, relation, df)
        case Materialization.IncrementalByPartition(pcols, policy) =>
          val inc = sortClustered(built)
          if (fullRefresh) {
            // dbt --full-refresh: rebuild from scratch, keeping the
            // partitioned layout (drop, then the first-run path).
            materializer.dropRelation(spark, relation)
            materializer.materializeIncremental(spark, relation, inc, pcols)
          } else materializer.materializeIncremental(spark, relation,
            reconcileIncrement(spark, relation, inc, policy,
              evolveTarget = true), pcols)
        case Materialization.IncrementalAppend(policy) =>
          // --full-refresh: drop and rebuild (the first-append path).
          if (fullRefresh) materializer.dropRelation(spark, relation)
          materializer.materializeAppend(spark, relation,
            reconcileIncrement(spark, relation, sortClustered(built),
              policy, evolveTarget = true))
        case Materialization.Ephemeral =>
          throw new IllegalStateException(
            s"ephemeral model $name must not be materialized")
        case Materialization.IncrementalByKey(keys, policy) =>
          // delete+insert by key: target rows sharing an increment key are
          // replaced, others survive. One shuffle on the key; the staged
          // swap is materializeReplace's contract (MERGE INTO on lakehouse
          // formats).
          if (fullRefresh || !materializer.relationExists(spark, relation))
            materializer.materializeTable(spark, relation, df)
          else {
            // The merge rewrites the whole relation, so append's schema
            // evolution is free: unionByName(allowMissing) widens the
            // output schema; no eager ALTER needed (evolveTarget=false).
            // cluster_by re-ranges the MERGED output — the rewrite pays
            // the shuffle anyway, so clustering rides it.
            val inc = reconcileIncrement(spark, relation, built, policy,
              evolveTarget = false)
            val existing = spark.table(relation)
            val merged = existing
              .join(inc.select(keys.map(col): _*).distinct(), keys,
                "left_anti")
              .unionByName(inc, allowMissingColumns = true)
            materializer.materializeReplace(spark, relation,
              rangeClustered(merged))
          }
        case s: Materialization.Snapshot =>
          materializer.materializeReplace(spark, relation,
            snapshotFrame(spark, relation, built, s))
        case s: Materialization.SnapshotCheck =>
          materializer.materializeReplace(spark, relation,
            snapshotCheckFrame(spark, relation, built, s))
      }
      runHooks(m.postHooks)
      NodeResult(name, relation, "success",
        (System.nanoTime() - t0) / 1000000, None)
    } catch {
      case e: Exception =>
        NodeResult(name, relation, "error",
          (System.nanoTime() - t0) / 1000000, Some(e.getMessage))
    }
  }

  /** dbt model contracts: a non-empty [[Model.contract]] pins the built
    * frame's EXACT column set and Spark SQL types (nullability excluded —
    * parquet relaxes it on write anyway, see
    * [[CatalogMaterializer.relaxNullability]]). Checked on the PLAN's
    * schema before a single row is written, so a breaking change fails
    * fast and the previous relation survives untouched for downstream
    * consumers — dbt's "contract enforced" build error. */
  private def enforceContract(m: Model, built: DataFrame): Unit = {
    if (m.contract.isEmpty) return
    import org.apache.spark.sql.types.DataType
    val actual = built.schema.fields.map(f =>
      f.name -> f.dataType.catalogString).toMap
    val declaredNames = m.contract.map(_.name).toSet
    val missing = m.contract.map(_.name).filterNot(actual.contains)
    val extra = built.columns.toSeq.filterNot(declaredNames.contains)
    val drifted = m.contract.flatMap { c =>
      actual.get(c.name).flatMap { got =>
        val want = DataType.fromDDL(c.dataType).catalogString
        if (got == want) None else Some(s"${c.name}: expected $want, got $got")
      }
    }
    if (missing.nonEmpty || extra.nonEmpty || drifted.nonEmpty)
      throw new IllegalStateException(
        s"contract violation on model ${m.name}: " +
          Seq(
            if (missing.nonEmpty) Some(s"missing [${missing.mkString(", ")}]")
            else None,
            if (extra.nonEmpty) Some(s"undeclared [${extra.mkString(", ")}]")
            else None,
            if (drifted.nonEmpty) Some(s"type drift [${drifted.mkString("; ")}]")
            else None).flatten.mkString("; "))
  }

  /** dbt 1.9 microbatch execution (see [[Materialization.Microbatch]]):
    * resolve the batch calendar, then run the model once per batch with
    * every event-time-declaring input windowed to that batch, each
    * result REPLACING its own `batch_start` partition via dynamic
    * partition overwrite. Batches are independent jobs — the retry/
    * backfill unit — and a re-run touches only (last batch − lookback)
    * forward, so an hourly/daily schedule rewrites a bounded window of
    * partitions regardless of table history. The 100 TB shape is
    * exactly [[Materialization.IncrementalByPartition]]'s: per-run write
    * cost proportional to the batch window, never the mart.
    */
  private def materializeMicrobatch(spark: SparkSession, m: Model,
      mb: Materialization.Microbatch, relation: String,
      fullRefresh: Boolean): Unit = {
    val sm = m match {
      case s: SqlModel => s
      case _ => throw new IllegalArgumentException(
        s"microbatch model ${m.name} must be a SQL model")
    }
    if (fullRefresh) materializer.dropRelation(spark, relation)
    val periods = microbatchPeriods(spark, sm, mb, relation,
      fresh = fullRefresh || !materializer.relationExists(spark, relation))
    def runPeriod(lo: String, hi: String): Unit = {
      val df = spark.sql(renderSql(sm, thisExists = false,
        batchWindow = Some((lo, hi)), sparkForDefer = Some(spark)))
      require(df.columns.contains(mb.eventTime),
        s"microbatch model ${m.name} must select its event_time column " +
          s"'${mb.eventTime}'")
      enforceContract(m, df)
      val withBatch = df.withColumn("batch_start",
        date_format(date_trunc(mb.batchSize, col(mb.eventTime)),
          "yyyy-MM-dd HH:mm:ss"))
      val sorted =
        if (m.clusterBy.isEmpty) withBatch
        else withBatch.sortWithinPartitions(m.clusterBy.map(col): _*)
      if (withBatch.limit(1).isEmpty)
        // dbt's insert_overwrite-per-period contract: a period that
        // recomputes as EMPTY (bad-data deletion upstream) must CLEAR
        // its partition — dynamic overwrite with an empty frame touches
        // nothing and would leave the prior run's rows as stale data.
        materializer.dropPartition(spark, relation, "batch_start", lo)
      else materializer.materializeIncremental(spark, relation, sorted,
        Seq("batch_start"))
    }
    // Deliberately SEQUENTIAL even though dbt's contract makes batches
    // independent: the path materializer's commit ends with a
    // mergeSchema read-back of the whole relation directory, and a
    // sibling period's concurrent dynamic overwrite mutates that
    // directory mid-listing (measured: parallel waves failed footer
    // reads on files a sibling was replacing). Overlapping periods
    // needs a sink whose commits are isolated (a lakehouse table
    // format), not a driver-side thread pool.
    periods.foreach { case (lo, hi) => runPeriod(lo, hi) }
  }

  /** The batch calendar for one microbatch run: [lo, hi) bounds as
    * session-UTC timestamp strings, one per `batchSize` period. First
    * build covers `begin` (or the earliest input event) through the
    * latest input event; a re-run starts `lookback` batches behind the
    * last processed batch. Bounds come from per-input min/max aggregates
    * — column-pruned scans a columnar source answers from statistics.
    * A source's bounds read the view [[registerSources]] registered for
    * this invocation, so the source is not loaded a second time. */
  private def microbatchPeriods(spark: SparkSession, sm: SqlModel,
      mb: Materialization.Microbatch, relation: String,
      fresh: Boolean): Seq[(String, String)] = {
    import java.time._
    import java.time.format.DateTimeFormatter
    val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
      .withZone(ZoneOffset.UTC)
    def minMax(df: DataFrame, c: String): Option[(Instant, Instant)] = {
      val r = df.agg(min(col(c).cast("timestamp")),
        max(col(c).cast("timestamp"))).head()
      if (r.isNullAt(0)) None
      else Some((r.getTimestamp(0).toInstant, r.getTimestamp(1).toInstant))
    }
    val inputBounds =
      sm.sources.flatMap { case (a, b) =>
        project.sources.find(sd => sd.sourceName == a && sd.table == b)
          .flatMap(sd => sd.eventTimeField.flatMap(c =>
            minMax(spark.table(sourceRelation(a, b)), c)))
      } ++ sm.refs.flatMap { r =>
        val rm = byName(r)
        // Ephemeral refs are never materialized — their bounds come
        // from building the frame inline (Catalyst prunes it to the
        // event-time min/max aggregate).
        rm.eventTime.flatMap(c => minMax(
          if (isEphemeral(r)) buildDf(spark, rm)
          else spark.table(refRelation(spark, rm)), c))
      }
    require(inputBounds.nonEmpty,
      s"microbatch model ${sm.name} has no input declaring event_time")
    val inputMin = inputBounds.map(_._1).min
    val inputMax = inputBounds.map(_._2).max
    def truncT(t: LocalDateTime): LocalDateTime = mb.batchSize match {
      case "hour" => t.withMinute(0).withSecond(0).withNano(0)
      case "day" => t.toLocalDate.atStartOfDay
      case "month" => t.toLocalDate.withDayOfMonth(1).atStartOfDay
      case "year" => t.toLocalDate.withDayOfYear(1).atStartOfDay
    }
    def trunc(i: Instant): LocalDateTime =
      truncT(LocalDateTime.ofInstant(i, ZoneOffset.UTC))
    def step(t: LocalDateTime, n: Long): LocalDateTime = mb.batchSize match {
      case "hour" => t.plusHours(n)
      case "day" => t.plusDays(n)
      case "month" => t.plusMonths(n)
      case "year" => t.plusYears(n)
    }
    val start: LocalDateTime =
      if (fresh)
        // dbt truncates `begin` to the batch granularity — an un-truncated
        // mid-day begin with day batches would write consecutive windows
        // into the SAME date partition, and dynamic partition overwrite
        // would silently drop the earlier batch. Date-only strings (the
        // common dbt form) parse via the LocalDate fallback.
        mb.begin.map { s =>
          val parsed =
            try LocalDateTime.parse(s.trim.replace(' ', 'T'))
            catch {
              case _: java.time.format.DateTimeParseException =>
                LocalDate.parse(s.trim).atStartOfDay
            }
          truncT(parsed)
        }.getOrElse(trunc(inputMin))
      else {
        // Last processed batch from the target's own event-time column,
        // stepped back by the lookback window.
        val last = minMax(spark.table(relation), mb.eventTime)
          .map(b => trunc(b._2))
          .getOrElse(trunc(inputMin))
        step(last, -mb.lookback.toLong)
      }
    val end = trunc(inputMax) // inclusive last batch
    val out = Iterator.iterate(start)(step(_, 1))
      .takeWhile(!_.isAfter(end))
      .map(lo => (fmt.format(lo.toInstant(ZoneOffset.UTC)),
        fmt.format(step(lo, 1).toInstant(ZoneOffset.UTC))))
      .toSeq
    require(out.size <= 100000,
      s"microbatch calendar for ${sm.name} resolves to ${out.size} batches")
    out
  }

  /** O3/O4: materialization of the selected subgraph by one scheduler
    * that runs every dependency-ready node concurrently on a fixed pool.
    * Its width is `threads` when given (dbt's `--threads`) and the
    * session's `defaultParallelism` otherwise: a DAG of small models is
    * latency- not throughput-bound (per-job, planning and commit
    * overhead), Spark job submission is thread-safe and local[N] has the
    * slots, so independent nodes overlap instead of queueing.
    *
    * dbt's failure semantics hold at every width: a failed node marks
    * its (transitive) selected descendants "skipped" — they would
    * otherwise rebuild on a stale relation left by a previous run and
    * report a bogus success — while independent branches still complete.
    * The first error is rethrown after the run drains. Results are in
    * topological order; `threads = Some(1)` builds one node at a time.
    */
  def run(
      spark: SparkSession,
      select: Option[String] = None,
      runResultsPath: Option[String] = None,
      threads: Option[Int] = None,
      exclude: Option[String] = None,
      state: Option[String] = None,
      manifestPath: Option[String] = None,
      fullRefresh: Boolean = false,
      /** dbt `--fail-fast`: the first node error stops scheduling — every
        * not-yet-started selected node reports "skipped" (dbt's aborted
        * state), already-running nodes drain. Without it, independent
        * branches keep building (the default). */
      failFast: Boolean = false): Seq[NodeResult] = {
    versionWarnings.foreach(w =>
      System.err.println(s"[deprecation] $w"))
    registerSources(spark)
    val selected = Dag.resolve(select, exclude, deps, selectionAtom(state))
    manifestPath.foreach(writeManifest)
    // dbt on-run-start: once per invocation, BEFORE any node — a
    // failing start hook aborts the run with nothing built (it throws
    // here, before the node loop).
    runProjectHooks(spark, project.onRunStart)
    // Ephemeral nodes are never executed (dbt: they compile into their
    // consumers); they still participate in the DAG for selection.
    val chosen = (n: String) => selected(n) && !isEphemeral(n)
    val ordered = Dag.toposort(deps).filter(chosen)
    val results = runParallel(spark, ordered,
      threads.getOrElse(spark.sparkContext.defaultParallelism), fullRefresh,
      failFast)
    // dbt on-run-end: once per invocation, AFTER the node loop — node
    // failures do NOT skip it (the audit row must record failed runs
    // too); the node-error throw below still fails the invocation.
    // run_results.json is written even when the end hook throws (dbt
    // does the same): the retry verb (o13) consumes it, and a flaky
    // hook must not blind retry to which nodes succeeded.
    try runProjectHooks(spark, project.onRunEnd)
    finally runResultsPath.foreach(p => writeRunResults(p, results))
    results.find(_.status == "error").foreach { r =>
      throw new RuntimeException(
        s"model ${r.name} failed: ${r.error.getOrElse("")}")
    }
    results
  }

  /** dbt project hooks (`on-run-start` / `on-run-end`): invocation-
    * level statements, rendered through the same `ref`/`source`/`var`
    * substitution as model hooks but with no `{{ this }}` (there is no
    * node). A failure propagates — dbt fails the invocation. */
  private def runProjectHooks(spark: SparkSession,
      hooks: Seq[String]): Unit = hooks.foreach { h =>
    spark.sql(Renderer.render(h,
      ref = r => relationOf(byName(r)),
      source = (a, b) => sourceRelation(a, b),
      vars = effectiveVars))
  }

  /** dbt `run-operation`: invoke the project macro `name` outside any
    * DAG run. Statements execute in order through the hook renderer;
    * `args` overlay the operation's declared defaults, and both
    * overlay the invocation vars, FOR THESE STATEMENTS ONLY (dbt's
    * macro kwargs — the engine spells them `{{ var(...) }}`). Returns
    * the number of statements executed; unknown names fail loudly
    * (dbt: "macro not found"). */
  def runOperation(spark: SparkSession, name: String,
      args: Map[String, String] = Map.empty): Int = {
    val op = project.operations.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"operation '$name' is not defined in the project " +
          s"(have: ${project.operations.map(_.name).mkString(", ")})"))
    val scope = effectiveVars ++ op.defaultArgs ++ args
    op.statements.foreach { stmt =>
      spark.sql(Renderer.render(stmt,
        ref = r => relationOf(byName(r)),
        source = (a, b) => sourceRelation(a, b),
        vars = scope))
    }
    op.statements.size
  }

  /** Resolve a named selector ([[Project.selectors]]) to its
    * definition expression; `None` input resolves to the default
    * selector if one is declared (dbt's precedence — an explicit
    * `--select` is applied by the CALLER instead of this). */
  def resolveSelector(name: Option[String]): Option[String] =
    name match {
      case Some(n) => Some(project.selectors.find(_.name == n)
        .getOrElse(throw new IllegalArgumentException(
          s"selector '$n' is not defined in the project " +
            s"(have: ${project.selectors.map(_.name).mkString(", ")})"))
        .definition)
      case None => project.selectors.find(_.default).map(_.definition)
    }

  /** dbt `clone`: re-point this target's relations at `from`'s committed
    * versions — zero-copy on pointer-backed tables (Snowflake clone
    * semantics, [[CatalogMaterializer.cloneRelation]]), deep copy
    * otherwise. Views and ephemerals are skipped (session views have
    * nothing durable to clone — their equivalent is a re-run), as are
    * custom-schema models, whose relation is shared by both targets.
    * Typical use is slim CI: clone prod, then
    * `run --select state:modified --state ... --defer prod`. */
  def cloneModels(spark: SparkSession, select: Option[String],
      from: Target): Seq[NodeResult] = {
    require(from != target,
      s"clone source and target are both '${target.name}'")
    val selected = Dag.resolve(select, None, deps, selectionAtom(None))
    def fromRelation(m: Model): String = materializer.tableRelation(
      m.customSchema.getOrElse(from.schema), m.name)
    def cloneable(n: String) = selected(n) && !isEphemeral(n) &&
      byName(n).materialization != Materialization.View &&
      fromRelation(byName(n)) != relationOf(byName(n))
    Dag.toposort(deps).filter(cloneable).map { n =>
      val m = byName(n)
      val toRel = relationOf(m)
      val t0 = System.nanoTime()
      try {
        m.materialization match {
          // Partition/append lifecycles write IN PLACE (insertInto), so
          // their clone must reproduce the storage LAYOUT: a pointer or
          // unpartitioned deep copy would be truncated outright by the
          // next incremental run (dynamic overwrite on an unpartitioned
          // table replaces everything) or reverted by pointer repair.
          // Rebuilding through the materialization's own first-build
          // path preserves both layout and future write semantics.
          case Materialization.IncrementalByPartition(pcols, _) =>
            materializer.dropRelation(spark, toRel)
            materializer.materializeIncremental(spark, toRel,
              spark.table(fromRelation(m)), pcols)
          case _: Materialization.Microbatch =>
            materializer.dropRelation(spark, toRel)
            materializer.materializeIncremental(spark, toRel,
              spark.table(fromRelation(m)), Seq("batch_start"))
          case _: Materialization.IncrementalAppend =>
            materializer.dropRelation(spark, toRel)
            materializer.materializeAppend(spark, toRel,
              spark.table(fromRelation(m)))
          // Table / snapshot / key-merge relations are pointer-committed
          // through their whole lifecycle — zero-copy is safe for them.
          case _ =>
            materializer.cloneRelation(spark, fromRelation(m), toRel)
        }
        NodeResult(n, toRel, "success",
          (System.nanoTime() - t0) / 1000000, None)
      } catch {
        case e: Exception =>
          NodeResult(n, toRel, "error",
            (System.nanoTime() - t0) / 1000000, Some(e.getMessage))
      }
    }
  }

  /** OPTIMIZE / small-file compaction: rewrite each selected table
    * relation into ceil(bytes / targetBytes) files — the object-store
    * metadata problem's standard fix (a mart written by many tasks or
    * accreted by increments ends up as thousands of tiny files, and scan
    * cost shifts from data to listings + per-file open overhead). Sizing
    * reads Catalyst's relation statistics (sum of file sizes for a
    * parquet scan — no extra pass), and the rewrite goes through the
    * read-from-self-safe replace, so on the catalog materializer a
    * compaction is one write plus an atomic pointer commit: readers see
    * the old layout or the new one, never a partial directory. Only
    * full-table materializations compact — partitioned incrementals
    * would lose their partition layout in a blind repartition. */
  def optimizeModels(spark: SparkSession, select: Option[String],
      targetBytes: Long = 128L << 20): Seq[NodeResult] = {
    val selected = Dag.resolve(select, None, deps, selectionAtom(None))
    def compactable(n: String) = selected(n) &&
      (byName(n).materialization match {
        case Materialization.Table => true
        case _: Materialization.SnapshotCheck => true
        case Materialization.Snapshot(_, _) => true
        case _ => false
      })
    Dag.toposort(deps).filter(compactable).map { n =>
      val rel = relationOf(byName(n))
      val t0 = System.nanoTime()
      try {
        val df = spark.table(rel)
        val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
        // Unknown stats surface as defaultSizeInBytes (Long.MaxValue-
        // scale) — compacting blind would plan a absurd partition count;
        // refuse instead. The cap below also keeps a genuine petabyte
        // relation from overflowing Int in the ceiling division.
        require(bytes < BigInt(Long.MaxValue) / 2,
          s"$rel has no size statistics; refusing to compact blind")
        val files = ((BigDecimal(bytes) / BigDecimal(targetBytes))
          .setScale(0, BigDecimal.RoundingMode.CEILING)
          .min(BigDecimal(1000000))).toInt.max(1)
        materializer.materializeReplace(spark, rel, df.repartition(files))
        NodeResult(n, rel, "success",
          (System.nanoTime() - t0) / 1000000, None)
      } catch {
        case e: Exception => NodeResult(n, rel, "error",
          (System.nanoTime() - t0) / 1000000, Some(e.getMessage))
      }
    }
  }

  /** [[run]]'s scheduler: a node is submitted to a `threads`-wide pool
    * once all its selected upstreams have finished. Node bodies cannot
    * race session conf: the only `conf.set` a node reaches is the sticky
    * dynamic-overwrite set in [[CatalogMaterializer]]'s
    * `materializeIncremental`, which only ever writes one value.
    * [[registerSources]] runs before the pool starts and toggles no conf:
    * the only set it can reach is the events sniff's sticky nanos flag,
    * which likewise only ever writes one value. Each worker names its
    * Spark jobs after its node (`spark.job.description`): concurrent
    * nodes' jobs interleave, so time order no longer attributes them. */
  private def runParallel(spark: SparkSession, ordered: Seq[String],
      threads: Int, fullRefresh: Boolean,
      failFast: Boolean): Seq[NodeResult] = {
    import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, Executors}
    val aborted = new java.util.concurrent.atomic.AtomicBoolean(false)
    val chosen = ordered.toSet
    val remaining = new ConcurrentHashMap[String, java.lang.Integer]()
    ordered.foreach { n =>
      remaining.put(n, execDeps(n).count(chosen))
    }
    val dependents: Map[String, Seq[String]] = ordered
      .flatMap(n => execDeps(n).filter(chosen).map(_ -> n))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val results = new ConcurrentHashMap[String, NodeResult]()
    val done = new CountDownLatch(ordered.size)
    val sc = spark.sparkContext
    val callerDescription = sc.getLocalProperty("spark.job.description")
    val pool = Executors.newFixedThreadPool(math.max(1, threads), r => {
      val t = new Thread(r, "graft-dag")
      t.setDaemon(true) // as Par.run: never hold the JVM open
      t
    })

    def submit(name: String): Unit = pool.execute { () =>
      // Every node counts the latch down exactly once: a FATAL Throwable
      // (OOM, StackOverflowError from a deep plan) or a throw on the skip
      // path escaping here would kill the worker first, and the
      // invocation would hang instead of failing.
      def skipped(why: String) =
        NodeResult(name, relationOf(byName(name)), "skipped", 0, Some(why))
      val r =
        try {
          sc.setJobDescription(name)
          if (aborted.get()) skipped("fail-fast")
          else if (execDeps(name).exists(d =>
              Option(results.get(d)).exists(_.status != "success")))
            skipped("upstream failed")
          else materializeNode(spark, name, fullRefresh)
        } catch {
          case t: Throwable => NodeResult(name, relationOf(byName(name)),
            "error", 0, Some(t.toString))
        } finally sc.setJobDescription(callerDescription)
      if (r.status == "error" && failFast) aborted.set(true)
      results.put(name, r)
      done.countDown()
      dependents.getOrElse(name, Nil).foreach { d =>
        if (remaining.compute(d, (_, v) => v - 1) == 0) submit(d)
      }
    }

    try {
      ordered.filter(n => remaining.get(n) == 0).foreach(submit)
      done.await()
    } finally pool.shutdown() // an interrupted wait included
    ordered.map(results.get)
  }

  /** dbt `on_schema_change` (see [[Materialization.schemaChangePolicies]])
    * applied to an increment frame against the EXISTING relation (first
    * runs pass through — the increment defines the schema):
    *
    *  - `fail`: any column-set difference aborts the node.
    *  - `ignore`: project onto the target schema — new increment columns
    *    drop, columns the increment stopped selecting null-fill. The
    *    target never changes shape mid-history (dbt's default).
    *  - `append_new_columns`: the target evolves to hold the increment's
    *    new columns (`evolveTarget` drives whether that needs an eager
    *    ALTER — partition-overwrite writes into the existing relation, so
    *    yes; a key-merge rewrites the whole relation, so no). Dropped
    *    columns still null-fill: append is additive, never destructive.
    */
  private def reconcileIncrement(spark: SparkSession, relation: String,
      df: DataFrame, policy: String, evolveTarget: Boolean): DataFrame = {
    if (!materializer.relationExists(spark, relation)) df
    else {
      val target = spark.table(relation).schema
      val dcols = df.columns.toSet
      val newFields = df.schema.fields.toSeq
        .filterNot(f => target.fieldNames.contains(f.name))
      val missing = target.fieldNames.toSeq.filterNot(dcols.contains)
      def targetProjection = target.fields.toSeq.map { f =>
        if (dcols(f.name)) col(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }
      policy match {
        case "fail" =>
          if (newFields.nonEmpty || missing.nonEmpty)
            throw new IllegalStateException(
              s"on_schema_change=fail: increment schema differs from " +
                s"$relation (new: ${newFields.map(_.name).mkString(",")}; " +
                s"missing: ${missing.mkString(",")})")
          df
        case "ignore" =>
          df.select(targetProjection: _*)
        case "append_new_columns" =>
          if (newFields.nonEmpty && evolveTarget)
            materializer.addColumns(spark, relation, newFields)
          df.select(targetProjection ++ newFields.map(f => col(f.name)): _*)
      }
    }
  }

  /** SCD2 merge (dbt snapshot, timestamp strategy — see
    * [[Materialization.Snapshot]]). First run: every source row opens
    * (`valid_from` = its `updatedAt`, `valid_to` NULL). Later runs
    * compare the source against the snapshot's OPEN rows only — closed
    * history is immutable by construction and flows through untouched:
    *  - key absent from the snapshot           → open a new row
    *  - source `updatedAt` > open `valid_from` → close the open row at
    *    the new `updatedAt` and open a fresh one
    *  - otherwise                              → keep the open row as-is
    * One shuffle on the key joins source and open rows; history never
    * joins anything.
    */
  private def snapshotFrame(spark: SparkSession, relation: String,
      src: DataFrame, s: Materialization.Snapshot): DataFrame = {
    val key = s.uniqueKey
    val srcCols = src.columns.toSeq
    require(srcCols.contains(key) && srcCols.contains(s.updatedAt),
      s"snapshot source must select $key and ${s.updatedAt}")
    val tsType = src.schema(s.updatedAt).dataType
    val open = src
      .withColumn("valid_from", col(s.updatedAt))
      .withColumn("valid_to", lit(null).cast(tsType))
    if (!materializer.relationExists(spark, relation)) open
    else {
      val existing = spark.table(relation)
      val history = existing.filter(col("valid_to").isNotNull)
      val current = existing.filter(col("valid_to").isNull)
      val srcKeys = src.select(col(key).as("__k"),
        col(s.updatedAt).as("__new_from"))
      val cur = current.join(srcKeys, current(key) === srcKeys("__k"), "left")
      val isNewer = col("__k").isNotNull && col("__new_from") > col("valid_from")
      val closed = cur.filter(isNewer)
        .withColumn("valid_to", col("__new_from"))
        .drop("__k", "__new_from")
      val kept = cur.filter(!coalesce(isNewer, lit(false)))
        .drop("__k", "__new_from")
      val currentKeys = current.select(col(key).as("__ck"))
      val opened = open
        .join(currentKeys, open(key) === col("__ck"), "left_anti")
        .unionByName(open.join(
          cur.filter(isNewer).select(col("__k").as("__ck")),
          open(key) === col("__ck"), "left_semi"))
      history.unionByName(kept).unionByName(closed).unionByName(opened)
    }
  }

  /** SCD2 merge, check strategy (dbt snapshot `strategy='check'` — see
    * [[Materialization.SnapshotCheck]]): change detection by comparing
    * `checkCols` null-safely against the open row, for sources without a
    * trustworthy `updated_at`. Same shape as [[snapshotFrame]]: one
    * shuffle joins source and OPEN rows on the key; closed history flows
    * through untouched. Keys absent from the source keep their open row
    * (dbt's default; hard-delete invalidation is a config away). The
    * comparison columns ride the join under `__s_` names to dodge
    * collisions with the snapshot's own columns.
    */
  private def snapshotCheckFrame(spark: SparkSession, relation: String,
      src: DataFrame, s: Materialization.SnapshotCheck): DataFrame = {
    val key = s.uniqueKey
    val srcCols = src.columns.toSeq
    require(srcCols.contains(key), s"snapshot source must select $key")
    val check =
      if (s.checkCols.nonEmpty) s.checkCols
      else srcCols.filterNot(_ == key) // dbt check_cols='all'
    require(check.nonEmpty,
      s"snapshot check strategy has no columns to compare: the source " +
        s"selects only the key '$key'")
    require(check.forall(srcCols.contains),
      s"check_cols not in source: ${check.filterNot(srcCols.contains)}")
    val now = s.snapshotAt.map(lit(_)).getOrElse(
      date_format(current_timestamp(), "yyyy-MM-dd HH:mm:ss")).cast("string")
    val open = src
      .withColumn("valid_from", now)
      .withColumn("valid_to", lit(null).cast("string"))
    if (!materializer.relationExists(spark, relation)) open
    else {
      val existing = spark.table(relation)
      val history = existing.filter(col("valid_to").isNotNull)
      val current = existing.filter(col("valid_to").isNull)
      val srcR = src.select(col(key).as("__k") +:
        check.map(c => col(c).as(s"__s_$c")): _*)
      val j = current.join(srcR, current(key) === col("__k"), "left")
      // <=> is null-safe: NULL→value and value→NULL both count as a
      // change; a key absent from the source (__k NULL) does not.
      val isChanged = col("__k").isNotNull &&
        check.map(c => !(col(c) <=> col(s"__s_$c"))).reduce(_ || _)
      // invalidate_hard_deletes: disappearance from the source closes the
      // open row too (no fresh row opens — there is nothing to open).
      val isClosed =
        if (s.invalidateHardDeletes) isChanged || col("__k").isNull
        else isChanged
      val dropCols = "__k" +: check.map(c => s"__s_$c")
      val closed = j.filter(isClosed)
        .withColumn("valid_to", now).drop(dropCols: _*)
      val kept = j.filter(!isClosed).drop(dropCols: _*)
      val currentKeys = current.select(col(key).as("__ck"))
      val opened = open
        .join(currentKeys, open(key) === col("__ck"), "left_anti")
        .unionByName(open.join(
          j.filter(isChanged).select(col("__k").as("__ck")),
          open(key) === col("__ck"), "left_semi"))
      history.unionByName(kept).unionByName(closed).unionByName(opened)
    }
  }

  /** Severity per test id (dbt `severity` config; default "error").
    * The CLI fails the invocation only on error-severity failures. */
  def testSeverity: Map[String, String] = project.tests.map {
    case WithConfig(t, sev, _) => t.id -> sev
    case t => t.id -> "error"
  }.toMap

  /** dbt `store_failures`: materialize the violating rows of every
    * so-configured test to `<schema>_<test_id>__failures` — the audit
    * relation a user inspects instead of re-running the test query.
    * Call after [[run]] (model-relation tests need their relations). */
  def storeFailures(spark: SparkSession,
      only: String => Boolean = _ => true): Seq[String] = {
    registerSources(spark)
    val resolve = testResolver(spark)
    project.tests.filter(t => only(t.relation)).collect {
      case WithConfig(t, _, true) =>
        // Test ids embed relation names ("not_null__tpch.orders__…");
        // sanitize to a single identifier segment.
        val safe = t.id.replaceAll("[^A-Za-z0-9_]", "_")
        val rel = materializer.tableRelation(
          target.schema, s"${safe}__failures")
        materializer.materializeTable(spark, rel, t.violations(resolve))
        rel
    }
  }

  /** The materialized relation of a model, post-run. */
  def table(spark: SparkSession, modelName: String): DataFrame =
    spark.table(relationOf(byName(modelName)))

  /** dbt `show`: the model's compiled SELECT evaluated in-session WITHOUT
    * materializing the model itself (upstreams must already be readable —
    * built this session, persisted, or resolvable via `--defer`). */
  def preview(spark: SparkSession, modelName: String): DataFrame =
    buildDf(spark, byName(modelName))

  private def testResolver(spark: SparkSession): String => DataFrame = {
    rel =>
      byName.get(rel) match {
        case Some(m) => spark.table(refRelation(spark, m))
        case None =>
          rel.split('.') match {
            case Array(s, t) => spark.table(sourceRelation(s, t))
            case _ => throw new NoSuchElementException(
              s"test relation not found: $rel")
          }
      }
  }

  /** O6: all declared tests as one lazy plan — (test_id, violations) per
    * test; pass ⇔ violations == 0. Tests addressing model relations
    * require those models to be materialized in this session first
    * (mirrors dbt: `test` runs against the relations `run` produced).
    *
    * Row-predicate tests (not_null / accepted_range / expression_is_true /
    * is_positive_amount) sharing a relation are fused into ONE scan with a
    * conditional count per test; only join-shaped tests (unique,
    * relationships) get their own plan. At warehouse scale this is the
    * difference between N table passes and one. */
  /** `only` scopes the report to tests whose anchor relation passes —
    * the CLI's `test --select` uses it so tests anchored to UNSELECTED
    * (and therefore possibly unbuilt) models are skipped rather than
    * failing resolution. */
  def testReport(spark: SparkSession,
      only: String => Boolean = _ => true): DataFrame = {
    registerSources(spark)
    val resolve = testResolver(spark)
    val (rowTests, planTests) =
      project.tests.filter(t => only(t.relation))
        .partition(_.rowCondition.isDefined)
    val fused = rowTests.groupBy(_.relation).toSeq.map { case (rel, ts) =>
      val aggs = ts.zipWithIndex.map { case (t, i) =>
        sum(when(t.rowCondition.get, 1L).otherwise(0L)).as(s"_t$i")
      }
      val mapEntries = ts.zipWithIndex.flatMap { case (t, i) =>
        Seq(lit(t.id), coalesce(col(s"_t$i"), lit(0L)))
      }
      resolve(rel)
        .agg(aggs.head, aggs.tail: _*)
        .select(explode(map(mapEntries: _*)))
        .toDF("test_id", "violations")
    }
    val planned = planTests.map { t =>
      t.violations(resolve)
        .agg(count(lit(1)).as("violations"))
        .select(lit(t.id).as("test_id"), col("violations"))
    }
    val parts = fused ++ planned
    if (parts.isEmpty)
      spark.emptyDataFrame
        .select(lit("").as("test_id"), lit(0L).as("violations"))
        .limit(0)
    else parts.reduce(_.union(_))
  }

  /** dbt 1.8 unit tests (see [[UnitTest]]): each test renders its
    * model's SQL with EVERY input (refs — ephemeral included — and
    * sources) swapped for a fixture view built from the test's CSV, runs
    * the composed plan, and compares the result to the expected fixture
    * — stringified, column-name-aligned, order-independent (dbt's agate
    * comparison). One row per test: (unit_test, model, status,
    * n_expected, n_actual). Un-mocked inputs fail fast: a unit test that
    * silently read a real relation would be a data test with extra
    * steps. Fixtures are hand-sized by contract; the run costs one tiny
    * local plan per test.
    */
  def runUnitTests(spark: SparkSession): DataFrame = {
    import spark.implicits._
    def fixture(csv: String): DataFrame = {
      val ds = spark.createDataset(
        csv.trim.split("\n").toSeq.map(_.trim).filter(_.nonEmpty))(
        org.apache.spark.sql.Encoders.STRING)
      spark.read.option("header", "true").option("inferSchema", "true")
        .csv(ds)
    }
    def canon(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] = {
      val cols = df.columns.sorted.toSeq
      df.select(cols.map(col): _*).collect()
        // NULL canonicalizes to a sentinel no CSV cell can contain —
        // `String.valueOf(null)` would make a NULL output look identical
        // to the literal string 'null' in an expected fixture.
        .map(r => cols.indices.map(i =>
          Option(r.get(i)).map(String.valueOf).getOrElse("\u0000NULL")))
        .map(_.toSeq).toSeq.sortBy(_.mkString("\u0000"))
    }
    val rows = project.unitTests.map { ut =>
      val sm = byName.getOrElse(ut.model, throw new NoSuchElementException(
        s"unit test ${ut.name}: unknown model ${ut.model}")) match {
        case s: SqlModel => s
        case _ => throw new IllegalArgumentException(
          s"unit test ${ut.name}: only SQL models are unit-testable")
      }
      val inputs = sm.refs ++ sm.sources.map { case (a, b) => s"$a.$b" }
      val missing = inputs.filterNot(ut.givenCsv.contains)
      require(missing.isEmpty, s"unit test ${ut.name}: un-mocked inputs: " +
        missing.mkString(", "))
      def mockView(input: String): String =
        s"__ut_${ut.name}__$input".replaceAll("[^A-Za-z0-9_]", "_")
      ut.givenCsv.foreach { case (input, csv) =>
        fixture(csv).createOrReplaceTempView(mockView(input))
      }
      val actual = spark.sql(Renderer.render(sm.sql,
        ref = mockView,
        source = (a, b) => mockView(s"$a.$b"),
        thisRelation = Some(relationOf(sm)),
        thisExists = false,
        vars = effectiveVars))
      val expected = fixture(ut.expectCsv)
      val colsMatch =
        actual.columns.sorted.toSeq == expected.columns.sorted.toSeq
      val (a, e) = (canon(actual), canon(expected))
      (ut.name, ut.model,
        if (colsMatch && a == e) "pass" else "fail",
        e.size.toLong, a.size.toLong)
    }
    rows.toDF("unit_test", "model", "status", "n_expected", "n_actual")
  }

  /** A7: source freshness — `max(loaded_at_field)` per source that
    * declares one (dbt's `loaded_at_field`, __sources.yml:168), with the
    * age relative to `current_timestamp()` and the pass/warn/error
    * verdict against the source's [[FreshnessPolicy]] (dbt's
    * `warn_after`/`error_after`; sources without a policy report
    * `pass`). One row per declared source; each is a single
    * max-aggregate scan (Catalyst prunes to the one column, and a
    * columnar format answers it from statistics at scale). A NULL max
    * (empty source) is an `error` under a policy — an empty feed is the
    * stalest possible one.
    */
  def freshnessReport(spark: SparkSession): DataFrame = {
    val withField = project.sources.filter(_.loadedAtField.isDefined)
    require(withField.nonEmpty, "no source declares loaded_at_field")
    withField.map { sd =>
      val f = sd.loadedAtField.get
      val verdict = sd.freshness match {
        case None => lit("pass")
        case Some(p) =>
          when(col("age_seconds").isNull ||
            col("age_seconds") > p.errorAfterSeconds, "error")
            .when(col("age_seconds") > p.warnAfterSeconds, "warn")
            .otherwise("pass")
      }
      sd.load(spark).agg(max(col(f)).as("max_loaded_at"))
        .select(
          lit(s"${sd.sourceName}.${sd.table}").as("source"),
          col("max_loaded_at"),
          (unix_timestamp(current_timestamp()) -
            unix_timestamp(col("max_loaded_at").cast("timestamp")))
            .as("age_seconds"))
        .withColumn("verdict", verdict)
    }.reduce(_.union(_))
  }

  /** dbt retry: the selection a previous run left unfinished — every
    * node whose run_results status is `error` or `skipped` (the failed
    * node plus its aborted subtree). None when the previous run was
    * clean. Pair with [[run]]: `run(spark, select = retrySelection(p))`
    * re-executes exactly the unfinished work against the same DAG. */
  def retrySelection(runResultsPath: String): Option[String] = {
    val json = Files.readString(Paths.get(runResultsPath))
    val names =
      """\{"name":"([^"]+)","relation":"[^"]*","status":"(error|skipped)"""".r
        .findAllMatchIn(json).map(_.group(1)).toSeq
    if (names.isEmpty) None else Some(names.mkString(" "))
  }

  /** dbt state-comparison surface (`--select state:modified --state
    * PATH`): each model's definition is fingerprinted; a manifest maps
    * model name → fingerprint. `state:modified` selects models whose
    * fingerprint differs from (or is absent in) the manifest written by a
    * previous run; `state:new` selects only the absent ones. SQL models
    * fingerprint their full definition (raw SQL + materialization +
    * schema override); code models fingerprint their declared interface
    * (refs + materialization + schema) — a changed Scala body is a
    * recompile, which dbt-style state comparison cannot see, exactly as
    * dbt's python-model checksums only cover the file content.
    */
  def fingerprints: Map[String, String] = project.models.map { m =>
    val parts = m match {
      case s: SqlModel =>
        Seq("sql", s.sql, s.materialization.toString, s.customSchema.toString,
          s.clusterBy.mkString(","),
          (s.preHooks ++ s.postHooks).mkString(";"),
          s.tags.mkString(","),
          s.contract.map(c => s"${c.name}:${c.dataType}").mkString(","),
          s.eventTime.toString)
      case d: DfModel =>
        // sourceNames included: changing a code model's declared sources
        // must flip state:modified exactly like an edited ref would.
        Seq("df", d.refNames.mkString(","),
          d.sourceNames.map { case (a, b) => s"$a.$b" }.mkString(","),
          d.materialization.toString,
          d.customSchema.toString, d.clusterBy.mkString(","),
          d.tags.mkString(","),
          d.contract.map(c => s"${c.name}:${c.dataType}").mkString(","))
      case s: SeedModel =>
        // dbt checksums seed CONTENT: editing the CSV must flip
        // state:modified even though the model definition is unchanged.
        Seq("seed", java.security.MessageDigest.getInstance("SHA-256")
            .digest(Files.readAllBytes(Paths.get(s.csvPath)))
            .map("%02x".format(_)).mkString,
          s.customSchema.toString)
    }
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(parts.mkString("\u0000").getBytes("UTF-8"))
    m.name -> digest.map("%02x".format(_)).mkString
  }.toMap

  def writeManifest(path: String): Unit = {
    val entries = fingerprints.toSeq.sortBy(_._1)
      .map { case (n, f) => s"""    "$n": "$f"""" }
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.writeString(p,
      s"""{\n  "models": {\n${entries.mkString(",\n")}\n  }\n}\n""")
  }

  /** Flat name→fingerprint parse of [[writeManifest]]'s artifact (model
    * names cannot contain quotes; fingerprints are hex). */
  private def readManifest(path: String): Map[String, String] =
    """"([^"]+)"\s*:\s*"([0-9a-f]{64})"""".r
      .findAllMatchIn(Files.readString(Paths.get(path)))
      .map(m => m.group(1) -> m.group(2)).toMap

  /** Non-name selection atoms: `tag:NAME` (dbt tags — every model
    * carrying the tag; an unknown tag selects nothing, dbt's behavior),
    * `group:NAME` (dbt groups — every model owned by the group),
    * `source:NAME[.TABLE]` (models reading that source directly — so
    * `source:tpch+` rebuilds everything a refreshed feed touches),
    * `exposure:NAME` (the exposure's direct parent models — so
    * `+exposure:dash` selects everything the consumer needs), plus the
    * state-comparison atoms. Graph operators compose over the resolved
    * set (`tag:nightly+`), like any selector. */
  private def selectionAtom(state: Option[String])
      : String => Option[Set[String]] = {
    val st = stateAtom(state)
    atom =>
      if (atom.startsWith("tag:")) {
        val tag = atom.stripPrefix("tag:")
        Some(project.models.filter(_.tags.contains(tag)).map(_.name).toSet)
      } else if (atom.startsWith("group:")) {
        // dbt `group:NAME` selector: every model owned by the group;
        // an unknown group selects nothing (tag semantics).
        val g = atom.stripPrefix("group:")
        Some(project.models.filter(_.group.contains(g)).map(_.name).toSet)
      } else if (atom.startsWith("source:")) {
        val key = atom.stripPrefix("source:")
        val hit: ((String, String)) => Boolean = key.split("\\.", 2) match {
          case Array(s, t) => { case (a, b) => a == s && b == t }
          case _ => { case (a, _) => a == key }
        }
        Some(project.models.filter(_.sources.exists(hit)).map(_.name).toSet)
      } else if (atom.startsWith("exposure:")) {
        val n = atom.stripPrefix("exposure:")
        val e = project.exposures.find(_.name == n).getOrElse(
          throw new NoSuchElementException(s"unknown exposure: $n"))
        Some(e.dependsOn.toSet)
      } else st(atom)
  }

  private def stateAtom(state: Option[String])
      : String => Option[Set[String]] = {
    case a @ ("state:modified" | "state:new") =>
      val manifest = readManifest(state.getOrElse(throw
        new IllegalArgumentException(s"$a selector requires a state manifest path")))
      val cur = fingerprints
      Some(
        if (a == "state:new") cur.keySet.filterNot(manifest.contains)
        else cur.collect {
          case (n, f) if !manifest.get(n).contains(f) => n
        }.toSet)
    case _ => None
  }

  /** dbt docs artifacts (`dbt docs generate`): `manifest.json` — every
    * node with its resolved relation, materialization, schema, refs and
    * sources, plus the parent map (the DAG consumers browse) — and
    * `catalog.json` — per-relation column names/types read from the LIVE
    * catalog, so drift between a model's declared shape and what a run
    * actually produced is visible. Catalog entries require the models
    * materialized in this session (mirrors dbt: docs generate follows
    * run); ephemeral nodes appear in the manifest but have no relation
    * to catalog.
    */
  def writeDocs(spark: SparkSession, manifestPath: String,
      catalogPath: String): Unit = {
    def esc(s: String): String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    def arr(xs: Seq[String]): String =
      xs.map(x => s""""${esc(x)}"""").mkString("[", ",", "]")
    val ordered = Dag.toposort(deps)
    val nodes = ordered.map(byName).map { m =>
      val rel = if (isEphemeral(m.name)) "" else relationOf(m)
      s"""{"name":"${esc(m.name)}","relation":"${esc(rel)}",""" +
        s""""materialized":"${esc(m.materialization.toString)}",""" +
        s""""schema":"${esc(m.customSchema.getOrElse(target.schema))}",""" +
        s""""description":"${esc(m.description)}",""" +
        s""""refs":${arr(m.refs)},""" +
        s""""sources":${arr(m.sources.map { case (a, b) => s"$a.$b" })}}"""
    }.mkString("[", ",", "]")
    val parentMap = ordered
      .map(n => s""""${esc(n)}":${arr(deps(n))}""").mkString("{", ",", "}")
    // Exposures document the off-warehouse edge of the lineage graph:
    // impact analysis reads these to answer "who consumes this mart?".
    val exposures = project.exposures.map { e =>
      s"""{"name":"${esc(e.name)}","type":"${esc(e.exposureType)}",""" +
        s""""owner":"${esc(e.owner)}","url":"${esc(e.url.getOrElse(""))}",""" +
        s""""depends_on":${arr(e.dependsOn)}}"""
    }.mkString("[", ",", "]")
    val manifest =
      s"""{"target":"${esc(target.name)}","nodes":$nodes,""" +
        s""""parent_map":$parentMap,"exposures":$exposures}"""

    // Catalog covers what THIS session materialized (a selected run
    // catalogs its subgraph — the rest of the DAG still documents via
    // the manifest, it just has no live relation to describe).
    val rels = ordered.filterNot(isEphemeral).map(byName).flatMap { m =>
      val rel = relationOf(m)
      scala.util.Try(spark.table(rel).schema).toOption.map { sch =>
        val cols = sch.fields.zipWithIndex.map { case (f, i) =>
          s"""{"name":"${esc(f.name)}","type":"${esc(f.dataType.catalogString)}","index":$i}"""
        }.mkString("[", ",", "]")
        s"""{"relation":"${esc(rel)}","columns":$cols}"""
      }
    }.mkString("[", ",", "]")
    val catalog = s"""{"relations":$rels}"""

    Seq(manifestPath -> manifest, catalogPath -> catalog).foreach {
      case (path, json) =>
        val p = Paths.get(path)
        Option(p.getParent).foreach(Files.createDirectories(_))
        Files.writeString(p, json)
    }
  }

  /** O7: run_results.json — per-node status/timing artifact. */
  private def writeRunResults(path: String, results: Seq[NodeResult]): Unit = {
    def esc(s: String): String =
      s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      }
    val nodes = results.map { r =>
      s"""{"name":"${esc(r.name)}","relation":"${esc(r.relation)}",""" +
        s""""status":"${r.status}","execution_time_ms":${r.millis}""" +
        r.error.map(e => s""","error":"${esc(e)}"""").getOrElse("") + "}"
    }.mkString("[", ",", "]")
    val json =
      s"""{"target":"${esc(target.name)}","schema":"${esc(target.schema)}","results":$nodes}"""
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.writeString(p, json)
  }
}
