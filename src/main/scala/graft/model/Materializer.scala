package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Materialization strategy: how a model's relation name is formed and how
  * its DataFrame is persisted. Two deployments:
  *
  *  - [[CatalogMaterializer]] — idiomatic cluster path: marts become
  *    catalog tables via CTAS-equivalent `saveAsTable` (SURVEY S5); views
  *    are session temp views (SURVEY S4).
  *  - [[PathMaterializer]] — catalog-free: marts are parquet directories
  *    under a base path, re-registered as temp views. Used where no
  *    metastore/warehouse dir is guaranteed (driver Verify/Bench sessions).
  *
  * Both write marts as parquet with overwrite (full-refresh) semantics —
  * the reference's `CREATE OR REPLACE TABLE AS SELECT`.
  */
trait Materializer {
  def viewRelation(schema: String, name: String): String = s"${schema}_$name"
  def tableRelation(schema: String, name: String): String

  def materializeView(spark: SparkSession, relation: String, df: DataFrame): Unit =
    df.createOrReplaceTempView(relation)
  def materializeTable(spark: SparkSession, relation: String, df: DataFrame): Unit

  /** Incremental merge: replace exactly the partitions present in `df`,
    * leave all others untouched (Spark dynamic partition overwrite). */
  def materializeIncremental(spark: SparkSession, relation: String,
      df: DataFrame, partitionCols: Seq[String]): Unit

  /** Incremental append: add `df`'s rows; no existing byte rewritten. */
  def materializeAppend(spark: SparkSession, relation: String,
      df: DataFrame): Unit

  /** Remove ONE partition of a partitioned incremental relation —
    * microbatch's empty-period contract: a period recomputed as EMPTY
    * must CLEAR its partition (dynamic overwrite with an empty frame
    * touches nothing, silently keeping the stale rows). No-op when the
    * relation or partition is absent. */
  def dropPartition(spark: SparkSession, relation: String,
      partCol: String, value: String): Unit

  /** Whether the relation exists from a previous run (drives
    * `incremental_filter` rendering: first run = full build). */
  def relationExists(spark: SparkSession, relation: String): Boolean

  /** Schema evolution for `on_schema_change='append_new_columns'`:
    * extend the existing relation so history rows read NULL for
    * `newCols`. Catalog tables ALTER; path-backed relations rely on
    * parquet schema merge at read time. */
  def addColumns(spark: SparkSession, relation: String,
      newCols: Seq[org.apache.spark.sql.types.StructField]): Unit

  /** Read-modify-replace (snapshots): `df`'s plan READS the current
    * contents of `relation`, so a materializer that overwrites the
    * relation's storage in place would consume its own input. The default
    * stages to a side relation first, then re-reads and writes over the
    * target — two writes, but correct on every filesystem (renames are
    * copies on object stores anyway). [[CatalogMaterializer]] overrides
    * this with a single write: its full refresh never touches the current
    * location (write-new-location + catalog swap), so read-from-self is
    * safe by construction. On a lakehouse table format this whole method
    * collapses to MERGE INTO; snapshot tables are dimension-history-sized,
    * so the staged double write is not the scaling term.
    */
  def materializeReplace(spark: SparkSession, relation: String,
      df: DataFrame): Unit = {
    val stage = s"${relation}__stage"
    materializeTable(spark, stage, df)
    materializeTable(spark, relation, spark.table(stage))
    dropRelation(spark, stage)
  }

  /** Remove a staged relation (view + backing storage). */
  def dropRelation(spark: SparkSession, relation: String): Unit

  /** dbt `clone`: make `toRel` present the current contents of
    * `fromRel`. Default: deep copy (re-materialize from a scan) —
    * correct on any materializer. [[CatalogMaterializer]] overrides with
    * Snowflake's zero-copy semantics (a pointer commit, no data read). */
  def cloneRelation(spark: SparkSession, fromRel: String,
      toRel: String): Unit =
    materializeTable(spark, toRel, spark.table(fromRel))
}

object CatalogMaterializer {

  /** Version-directory suffix for atomic full refresh: wall-millis plus a
    * process-wide counter, so two refreshes of the same relation in the
    * same millisecond (threads, tests) still get distinct locations.
    * Uniqueness only needs to hold per filesystem-path; cross-process
    * collisions are already separated by the millis component. */
  private val versionCounter = new java.util.concurrent.atomic.AtomicLong
  private[model] def nextVersion(): String =
    s"${System.currentTimeMillis()}_${versionCounter.incrementAndGet()}"

  /** Concurrent-writer protection for the refresh protocol (the
    * reference's overlapping-cron world — an hourly scheduled run racing
    * a manual one; Snowflake's transactional catalog serializes its
    * `CREATE OR REPLACE`, so must we):
    *
    *  - [[commitLock]] — one lock object per relation path; the commit
    *    critical section (pointer rename → catalog sync → stale-version
    *    collection) serializes per relation. The DATA write (the long
    *    part) stays fully concurrent; only the metadata commit — a few
    *    filesystem/catalog calls — takes the lock, so `--threads` DAG
    *    parallelism across DIFFERENT relations is untouched.
    *  - [[registerInFlight]] — version directories with an active
    *    writer. A concurrent writer's freshly-written (not yet
    *    committed) version looks exactly like a crash orphan to another
    *    writer's stale-version collection; the in-flight mark is what
    *    tells them apart. The mark is BOTH a JVM-local registry entry
    *    (fast path) and a sidecar `<dir>.INFLIGHT` file on the
    *    filesystem — the sidecar is what a SEPARATE PROCESS's cleanup
    *    sees (the overlapping-cron world is multi-process: a JVM-only
    *    registry would let a scheduled run collect a manual run's
    *    uncommitted version mid-write). Marks are removed in a
    *    `finally`, so a FAILED write's orphan becomes collectable
    *    immediately; a JVM death leaks the sidecar, which expires after
    *    [[inFlightLeaseMs]] (conf `spark.graft.inflightLeaseMs`,
    *    default 1 h) — size the lease above the longest data write.
    *
    * Cross-process racers are serialized only at the pointer rename
    * itself (atomic, last-commit-wins, never torn); the re-read keep-set
    * plus the in-flight sidecars are what protect data — a concurrent
    * process's cleanup retains the pointer's current version (re-read
    * inside cleanup), the predecessor it observed, and any version with
    * a live in-flight mark. */
  private val commitLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]
  private[model] def commitLock(relationPath: String): Object =
    commitLocks.computeIfAbsent(relationPath, _ => new Object)
  private val inFlight =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private[model] val InFlightSuffix = ".INFLIGHT"
  private[model] def inFlightLeaseMs(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.inflightLeaseMs")
      .map(_.toLong).getOrElse(3600000L)
  private[model] def markerPath(versionDir: org.apache.hadoop.fs.Path)
      : org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(versionDir.getParent,
      versionDir.getName + InFlightSuffix)
  private[model] def registerInFlight(fs: org.apache.hadoop.fs.FileSystem,
      versionDir: org.apache.hadoop.fs.Path): Unit = {
    inFlight.add(fs.makeQualified(versionDir).toString)
    fs.create(markerPath(versionDir), true).close()
  }
  private[model] def unregisterInFlight(
      fs: org.apache.hadoop.fs.FileSystem,
      versionDir: org.apache.hadoop.fs.Path): Unit = {
    inFlight.remove(fs.makeQualified(versionDir).toString)
    fs.delete(markerPath(versionDir), false)
  }
  /** Someone (this JVM or another process) is writing `versionDir`.
    * A sidecar older than the lease is a leak from a dead JVM, not an
    * active writer. */
  private[model] def isInFlight(fs: org.apache.hadoop.fs.FileSystem,
      versionDir: org.apache.hadoop.fs.Path, leaseMs: Long): Boolean =
    inFlight.contains(fs.makeQualified(versionDir).toString) || {
      val m = markerPath(versionDir)
      fs.exists(m) &&
        System.currentTimeMillis() -
          fs.getFileStatus(m).getModificationTime < leaseMs
    }

  /** Every field (recursively) nullable — what the parquet files a swap
    * points at actually guarantee (StructType.asNullable is private). */
  private[model] def relaxNullability(
      dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    def relax(d: DataType): DataType = d match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = relax(f.dataType), nullable = true)))
      case a: ArrayType => a.copy(elementType = relax(a.elementType),
        containsNull = true)
      case m: MapType => m.copy(valueType = relax(m.valueType),
        valueContainsNull = true)
      case other => other
    }
    relax(dt).asInstanceOf[StructType]
  }
}

final class CatalogMaterializer extends Materializer {
  def tableRelation(schema: String, name: String): String = s"$schema.$name"

  /** Size-on-write (guide §6): every sink rebalances its input to AQE's
    * advisory partition size (`spark.sql.adaptive.advisoryPartitionSizeInBytes`)
    * before the file write, keyed by the partition columns when the
    * relation is partitioned. Without it a write emits one file per
    * upstream task — 32 ~KB files per state-table batch on local[32]
    * (measured: the insertInto/saveAsTable call sites carried ~19 s of
    * p02's 21 s wall, dominated by per-file task commits and the
    * re-listing every subsequent `spark.table` read pays), and at 100 TB
    * the same shape is the classic small-files problem. REBALANCE is
    * scale-adaptive by construction: AQE merges tiny partitions and
    * SPLITS skewed ones to the advisory size, so locally a small batch
    * writes ~1 sized file while a production partition fans out to as
    * many advisory-sized files as its bytes demand. The extra exchange
    * on the write side is the standard price of sized output (the
    * Iceberg `write.distribution-mode=hash` trade). */
  private def sized(df: DataFrame, partitionCols: Seq[String] = Nil): DataFrame =
    if (callerPinnedLayout(df)) df
    else if (partitionCols.isEmpty) df.hint("rebalance")
    else df.hint("rebalance", partitionCols.map(col): _*)

  /** An explicit top-level `repartition`/`coalesce` on the written frame
    * is the caller CHOOSING the output layout (the optimize verb's
    * byte-target compaction does exactly this) — auto-sizing must not
    * override it. */
  private def callerPinnedLayout(df: DataFrame): Boolean =
    df.queryExecution.logical match {
      case _: org.apache.spark.sql.catalyst.plans.logical.Repartition => true
      case _: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression => true
      case _ => false
    }

  def relationExists(spark: SparkSession, relation: String): Boolean = {
    repairFromPointer(spark, relation)
    spark.catalog.tableExists(relation)
  }

  /** Self-healing resolution: the `__CURRENT` pointer file is the
    * durable commit record of the atomic full refresh; the catalog entry
    * is only a cache of it. If the entry is missing (the process died
    * between data commit and catalog sync — or this is a fresh process
    * over a persisted warehouse) or points at a version other than the
    * pointer's (a torn multi-call catalog mutation), re-register it from
    * the pointer. No-op when catalog and pointer agree, or when no
    * pointer exists (incremental/append relations own their managed
    * location and never write one). */
  private def repairFromPointer(spark: SparkSession, relation: String): Unit = {
    // Views resolve as dot-less temp names — nothing durable to repair.
    if (!relation.contains('.')) return
    val Array(schema, name) = relation.split('.')
    val dir = schemaDir(spark, schema)
    readPointer(spark, dir, name).foreach {
      case (versionDir, schemaJson) =>
        import org.apache.spark.sql.catalyst.TableIdentifier
        val catalog = spark.sessionState.catalog
        val ident = TableIdentifier(name, Some(schema))
        val loc = versionLocation(dir, versionDir)
        // The heal takes the SAME per-relation lock as the writer's
        // commit: a fresh session against a durable warehouse (pointer
        // on disk, catalog entry absent — the restart scenario) can
        // have TWO threads resolve the relation concurrently, and an
        // unserialized heal races its own createTable
        // (TABLE_OR_VIEW_ALREADY_EXISTS — observed when two Runners
        // raced a resolution over a persisted pointer). Staleness
        // re-checks INSIDE the lock, so the loser of the race sees the
        // winner's repair and no-ops.
        CatalogMaterializer.commitLock(s"$dir/$name").synchronized {
          // Version directory names are globally unique
          // (millis+counter), so last-segment comparison is exact even
          // for clones pointing into another schema's directory.
          val stale = !catalog.tableExists(ident) ||
            new org.apache.hadoop.fs.Path(
              catalog.getTableMetadata(ident).location)
              .getName != loc.getName
          if (stale)
            syncCatalog(spark, relation, loc, pointerSchema(schemaJson))
        }
    }
  }

  def addColumns(spark: SparkSession, relation: String,
      newCols: Seq[org.apache.spark.sql.types.StructField]): Unit = {
    val ddl = newCols.map(f => s"${f.name} ${f.dataType.sql}")
      .mkString(", ")
    spark.sql(s"ALTER TABLE $relation ADD COLUMNS ($ddl)")
    spark.catalog.refreshTable(relation)
  }

  def materializeIncremental(spark: SparkSession, relation: String,
      df: DataFrame, partitionCols: Seq[String]): Unit =
    if (!relationExists(spark, relation)) {
      val Array(schema, _) = relation.split('.')
      spark.sql(s"CREATE DATABASE IF NOT EXISTS $schema")
      clearStaleLocation(spark, relation)
      sized(df, partitionCols).write.partitionBy(partitionCols: _*)
        .format("parquet").saveAsTable(relation)
    } else {
      requireNotPointerBacked(spark, relation)
      val key = "spark.sql.sources.partitionOverwriteMode"
      // DYNAMIC overwrite can only come from the session conf:
      // `insertInto` drops DataFrameWriter options on the floor
      // (InsertIntoStatement has no options field — verified against
      // Spark 4.1). The conf must land on the session that EXECUTES the
      // write — df.sparkSession, which differs from `spark` when the
      // increment comes out of a foreachBatch micro-batch (a session
      // CLONE whose conf stays at the default; caught by the streaming
      // store-ingest spec). The set is STICKY — no restore: every
      // insertInto in this codebase is either this dynamic overwrite or
      // a pure append (mode-insensitive), so there is nothing for a
      // leaked "dynamic" to break, and dropping the restore removes the
      // set → write → restore race that previously forced a JVM-wide
      // lock serializing every incremental store write (the lock cost
      // the protocol gates their write concurrency — guide §2.6).
      val sess = df.sparkSession
      if (!sess.conf.getOption(key).contains("dynamic"))
        sess.conf.set(key, "dynamic")
      // insertInto resolves positionally against the catalog schema;
      // reorder the increment to match (partition cols land last there).
      val target = spark.table(relation).columns
      val partCols = spark.sessionState.catalog
        .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(
          relation.split('.')(1), Some(relation.split('.')(0))))
        .partitionColumnNames
      sized(df.select(target.map(org.apache.spark.sql.functions.col)
          .toIndexedSeq: _*), partCols)
        .write.mode("overwrite").insertInto(relation)
    }

  def materializeAppend(spark: SparkSession, relation: String,
      df: DataFrame): Unit =
    if (!relationExists(spark, relation)) {
      val Array(schema, _) = relation.split('.')
      spark.sql(s"CREATE DATABASE IF NOT EXISTS $schema")
      clearStaleLocation(spark, relation)
      sized(df).write.format("parquet").saveAsTable(relation)
    } else {
      requireNotPointerBacked(spark, relation)
      // insertInto appends by default, resolving positionally.
      val target = spark.table(relation).columns
      sized(df.select(target.map(col).toIndexedSeq: _*))
        .write.insertInto(relation)
    }

  def dropPartition(spark: SparkSession, relation: String,
      partCol: String, value: String): Unit =
    if (relationExists(spark, relation)) {
      // SQL string-literal escaping: backslash first (Spark's default
      // parser treats `\` as an escape inside string literals — a
      // trailing `\` would swallow the closing quote, `\t` would
      // silently become TAB and target a different partition), then
      // quote doubling so a value containing `'` can't break out of the
      // PARTITION (...='...') literal.
      val escaped = value.replace("\\", "\\\\").replace("'", "''")
      spark.sql(s"ALTER TABLE $relation DROP IF EXISTS " +
        s"PARTITION ($partCol='$escaped')")
    }

  /** Incremental writes go IN PLACE (insertInto), so they must never hit
    * a pointer-backed relation: the pointer would go stale (a later
    * resolution repairs the catalog BACK to pre-increment contents), and
    * an unpartitioned table-era relation would be truncated outright by
    * a dynamic overwrite. This is a materialization switch — dbt's
    * contract requires `--full-refresh` (whose dropRelation removes the
    * pointer and versioned locations, clearing the first-build path). */
  private def requireNotPointerBacked(spark: SparkSession,
      relation: String): Unit = {
    val Array(schema, name) = relation.split('.')
    require(readPointer(spark, schemaDir(spark, schema), name).isEmpty,
      s"$relation was last materialized as a table (pointer-backed); " +
        "changing its materialization to incremental requires --full-refresh")
  }

  /** Atomic full refresh — the semantics of Snowflake's `CREATE OR
    * REPLACE TABLE` that the reference's hourly cron re-run
    * (setup/task.sql:1-6) leans on while dashboards keep reading:
    *
    *  1. write the new contents to a FRESH versioned location
    *     (`<name>__v<n>`) — no commit record is touched while the (long)
    *     data write runs, so a crash here leaves the live table intact
    *     and only strands an orphan directory (collected on the next
    *     successful refresh);
    *  2. COMMIT: atomically rename a `<name>__CURRENT` pointer file
    *     (live version directory + schema JSON) over the previous one —
    *     one filesystem rename, atomic on HDFS and POSIX, independent of
    *     any catalog implementation. Readers resolve the old version or
    *     the new one, never a missing table and never a torn
    *     schema/location pair;
    *  3. sync the session catalog to the pointer (create on first build,
    *     else one `alterTable` carrying location+schema). The entry is
    *     purely a CACHE of the pointer: a crash between 2 and 3, or a
    *     metastore whose mutation tears across calls, is healed by
    *     [[relationExists]]'s repairFromPointer on the next resolution;
    *  4. collect stale versions, RETAINING the immediate predecessor: a
    *     reader that resolved its scan just before the commit still
    *     holds the old location, so only versions at least two refreshes
    *     old are deleted (a one-version vacuum retention).
    *
    * On an object store without atomic rename, step 2 is where a
    * lakehouse table format's own commit protocol takes over — this
    * method is exactly that protocol reduced to one table pointer.
    *
    * Because the current location is never written in place, a plan that
    * READS this relation can safely materialize over it —
    * [[materializeReplace]] needs no staging hop here (single write).
    */
  def materializeTable(spark: SparkSession, relation: String, df: DataFrame): Unit = {
    val Array(schema, name) = relation.split('.')
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $schema")
    val dir = schemaDir(spark, schema)
    val newLoc = new org.apache.hadoop.fs.Path(dir,
      s"${name}__v${CatalogMaterializer.nextVersion()}")
    // Registered BEFORE the write: from this moment a concurrent
    // writer's stale-version collection — in this JVM (registry) or any
    // other process (sidecar file) — must not treat this directory as a
    // crash orphan. Unregistered in `finally` so a failed write's
    // orphan is immediately collectable.
    val fs = newLoc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    CatalogMaterializer.registerInFlight(fs, newLoc)
    try {
      sized(df).write.mode("overwrite").parquet(newLoc.toString)
      // Parquet writes every column nullable; the committed schema must
      // agree or a reader could trust a non-nullable column that isn't.
      val newSchema = CatalogMaterializer.relaxNullability(df.schema)
      // The commit critical section serializes per relation: two
      // concurrent refreshes of the SAME relation commit one after the
      // other (last-commit-wins on the pointer), and each cleanup runs
      // with a keep-set consistent with the catalog state it observed.
      CatalogMaterializer.commitLock(s"$dir/$name").synchronized {
        commitPointer(spark, dir, name, newLoc.getName, newSchema)
        val prevLoc = syncCatalog(spark, relation, newLoc, newSchema)
        collectStaleVersions(spark, dir, name,
          keep = Set(newLoc.getName) ++ prevLoc.map(_.getName))
      }
    } finally CatalogMaterializer.unregisterInFlight(fs, newLoc)
  }

  /** Time travel over the atomic-refresh version chain — Snowflake's
    * `AT (OFFSET => ...)` reduced to exactly the retention the refresh
    * already keeps: `stepsBack = 0` reads the live version (what the
    * `__CURRENT` pointer commits), `stepsBack = 1` the retained
    * immediate predecessor. Deeper history is beyond the one-version
    * vacuum retention and raises. Clones hold no local version chain
    * (their pointer references the source's directory), so time travel
    * on a clone resolves only its own live version.
    */
  def tableAtVersion(spark: SparkSession, relation: String,
      stepsBack: Int): DataFrame = {
    require(stepsBack >= 0,
      s"stepsBack must be >= 0, got $stepsBack")
    val Array(schema, name) = relation.split('.')
    val dir = schemaDir(spark, schema)
    val (cur, schemaJson) = readPointer(spark, dir, name).getOrElse(
      throw new IllegalStateException(
        s"$relation has no version history (not a pointer-backed table)"))
    val curLoc = versionLocation(dir, cur)
    if (stepsBack == 0)
      return spark.read.schema(pointerSchema(schemaJson))
        .parquet(curLoc.toString)
    require(stepsBack == 1,
      s"version $stepsBack refreshes back is beyond the one-version " +
        "retention window")
    // The predecessor is the newest on-disk version strictly older than
    // the live one (millis + counter order, never lexicographic: the
    // counter segment has no fixed width).
    def order(versionDir: String): (Long, Long) = {
      val v = versionDir.stripPrefix(s"${name}__v").split('_')
      (v(0).toLong, v(1).toLong)
    }
    // A clone's pointer holds a full path into the SOURCE's directory —
    // it has no local chain to step back through.
    if (cur.contains('/')) throw new IllegalStateException(
      s"$relation is a clone; it has no retained predecessor version")
    val curOrd = order(curLoc.getName)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prev = fs.listStatus(dir).map(_.getPath.getName)
      .filter(n => n.startsWith(s"${name}__v") &&
        // An in-flight sidecar is a marker file, not a version.
        !n.endsWith(CatalogMaterializer.InFlightSuffix))
      // Strictly older than live: a crashed refresh can strand an orphan
      // NEWER than the pointer (data written, commit never reached) —
      // that orphan is garbage, not history.
      .filter(n => Ordering[(Long, Long)].lt(order(n), curOrd))
      .sortBy(order)
      .lastOption
      .getOrElse(throw new IllegalStateException(
        s"$relation has no retained predecessor version"))
    spark.read.parquet(new org.apache.hadoop.fs.Path(dir, prev).toString)
  }

  /** Step 3: point the session catalog at a committed version — ONE
    * whole-definition `alterTable` (create, on first build), no
    * multi-call mutation. Returns the previous location for retention. */
  private def syncCatalog(spark: SparkSession, relation: String,
      newLoc: org.apache.hadoop.fs.Path,
      newSchema: org.apache.spark.sql.types.StructType)
      : Option[org.apache.hadoop.fs.Path] = {
    import org.apache.spark.sql.catalyst.TableIdentifier
    import org.apache.spark.sql.catalyst.catalog.{CatalogStorageFormat, CatalogTable, CatalogTableType}
    val Array(schema, name) = relation.split('.')
    // A fresh process healing from a persisted pointer registers into a
    // catalog that has never seen this database.
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $schema")
    val catalog = spark.sessionState.catalog
    val ident = TableIdentifier(name, Some(schema))
    val prevLoc: Option[org.apache.hadoop.fs.Path] =
      if (catalog.tableExists(ident)) {
        val old = catalog.getTableMetadata(ident)
        if (old.partitionColumnNames.nonEmpty) {
          // The entry is from an incremental-era partitioned table — an
          // alterTable copy would RETAIN its partition metadata, and
          // reads would resolve through stale partition entries instead
          // of the new unpartitioned version. Drop + recreate; the
          // pointer (committed before this call) heals any tear.
          catalog.dropTable(ident, ignoreIfNotExists = false, purge = false)
          catalog.createTable(CatalogTable(
            identifier = ident,
            tableType = CatalogTableType.EXTERNAL,
            storage = CatalogStorageFormat.empty.copy(
              locationUri = Some(newLoc.toUri)),
            schema = newSchema,
            provider = Some("parquet")), ignoreIfExists = false)
        } else catalog.alterTable(old.copy(
          schema = newSchema,
          tableType = CatalogTableType.EXTERNAL,
          storage = old.storage.copy(locationUri = Some(newLoc.toUri))))
        Some(new org.apache.hadoop.fs.Path(old.location))
      } else {
        catalog.createTable(CatalogTable(
          identifier = ident,
          tableType = CatalogTableType.EXTERNAL,
          storage = CatalogStorageFormat.empty.copy(
            locationUri = Some(newLoc.toUri)),
          schema = newSchema,
          provider = Some("parquet")), ignoreIfExists = false)
        None
      }
    // Drop this session's cached plan for the relation, or later reads
    // would resolve the pre-swap location after its retention lapses.
    spark.catalog.refreshTable(relation)
    prevLoc
  }

  /** dbt `clone` with Snowflake zero-copy semantics: commit the TARGET's
    * pointer at the SOURCE's current version directory — no data is read
    * or copied, the clone is a metadata operation whatever the table
    * size. Copy-on-write isolation falls out of the refresh protocol:
    * the target's next rebuild writes its own fresh version and
    * re-points, never touching the shared directory, and the source's
    * stale-version collection only scans its own schema directory. (A
    * clone outlives the source's one-version retention window only until
    * the source refreshes twice — the documented trade against a
    * refcounting GC; re-clone per CI run, which is dbt's usage.)
    * Relations without a pointer (views, incremental managed locations)
    * fall back to the trait's deep copy. */
  override def cloneRelation(spark: SparkSession, fromRel: String,
      toRel: String): Unit = {
    val Array(fromSchema, fromName) = fromRel.split('.')
    val Array(toSchema, toName) = toRel.split('.')
    readPointer(spark, schemaDir(spark, fromSchema), fromName) match {
      case Some((versionDir, schemaJson)) =>
        spark.sql(s"CREATE DATABASE IF NOT EXISTS $toSchema")
        val src = versionLocation(schemaDir(spark, fromSchema), versionDir)
        val sch = pointerSchema(schemaJson)
        val toDir = schemaDir(spark, toSchema)
        CatalogMaterializer.commitLock(s"$toDir/$toName").synchronized {
          commitPointer(spark, toDir, toName, src.toString, sch)
          syncCatalog(spark, toRel, src, sch)
        }
      case None => super.cloneRelation(spark, fromRel, toRel)
    }
  }

  /** A pointer's version line is a bare directory name (resolved in this
    * relation's own schema directory) or — for a zero-copy clone — the
    * full path of another schema's version directory. */
  private def versionLocation(dir: org.apache.hadoop.fs.Path,
      versionDir: String): org.apache.hadoop.fs.Path =
    if (versionDir.contains('/')) new org.apache.hadoop.fs.Path(versionDir)
    else new org.apache.hadoop.fs.Path(dir, versionDir)

  /** The `<name>__CURRENT` commit record: line 1 = live version
    * directory name, rest = schema JSON. Written to a temp name then
    * renamed over the previous pointer in one atomic filesystem op. */
  private def pointerPath(dir: org.apache.hadoop.fs.Path, name: String) =
    new org.apache.hadoop.fs.Path(dir, s"${name}__CURRENT")

  private def commitPointer(spark: SparkSession,
      dir: org.apache.hadoop.fs.Path, name: String, versionDir: String,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = dir.getFileSystem(conf)
    val tmp = new org.apache.hadoop.fs.Path(dir,
      s"${name}__CURRENT.tmp.${CatalogMaterializer.nextVersion()}")
    val out = fs.create(tmp, true)
    try out.write(s"$versionDir\n${schema.json}".getBytes("UTF-8"))
    finally out.close()
    org.apache.hadoop.fs.FileContext.getFileContext(dir.toUri, conf)
      .rename(tmp, pointerPath(dir, name),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** (version line, schema JSON) — schema stays UNPARSED here: the
    * common resolution path only compares the version line (parsing the
    * schema on every existence probe would tax each render); callers
    * that actually register an entry parse via [[pointerSchema]]. */
  private def readPointer(spark: SparkSession,
      dir: org.apache.hadoop.fs.Path, name: String)
      : Option[(String, String)] = {
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = pointerPath(dir, name)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val nl = txt.indexOf('\n')
      Some((txt.take(nl), txt.drop(nl + 1)))
    }
  }

  private def pointerSchema(json: String)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.DataType.fromJson(json)
      .asInstanceOf[org.apache.spark.sql.types.StructType]

  /** Managed directory of `schema` under the warehouse. */
  private def schemaDir(spark: SparkSession, schema: String)
      : org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir") + s"/$schema.db")

  /** Delete every versioned location of `name` except `keep` (the live
    * version and its immediate predecessor) — crash orphans from step 1
    * and versions past retention. */
  private def collectStaleVersions(spark: SparkSession,
      dir: org.apache.hadoop.fs.Path, name: String,
      keep: Set[String]): Unit = {
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Under concurrent writers the caller's keep-set is not enough: the
    // pointer may have advanced since (a cross-process racer committed
    // between our commit and this cleanup) — re-read it and retain
    // whatever it names NOW. A dropRelation caller passes keep=Set.empty
    // AFTER deleting the pointer, so the re-read resolves to nothing.
    val live = readPointer(spark, dir, name).map(_._1).toSet
    if (fs.exists(dir)) {
      val lease = CatalogMaterializer.inFlightLeaseMs(spark)
      val all = fs.listStatus(dir).map(_.getPath).toSeq
      all
        // `name` alone is a legacy managed location (pre-versioning, or a
        // model switched from incremental): reclaimed once not retained.
        // `__CURRENT.tmp.*` files are pointer writes orphaned by a crash
        // before their commit rename. `.INFLIGHT` sidecars are handled
        // separately below.
        .filter(p => (p.getName.startsWith(s"${name}__v") ||
            p.getName == name ||
            p.getName.startsWith(s"${name}__CURRENT.tmp.")) &&
          !p.getName.endsWith(CatalogMaterializer.InFlightSuffix) &&
          !keep.contains(p.getName) && !live.contains(p.getName) &&
          // A concurrent writer's version-in-progress — this JVM's
          // registry or another process's live sidecar — is not an
          // orphan.
          !CatalogMaterializer.isInFlight(fs, p, lease))
        .foreach { p =>
          fs.delete(p, true)
          fs.delete(CatalogMaterializer.markerPath(p), false)
        }
      // Dangling sidecars: the version dir is gone (collected earlier),
      // or the lease expired while the dir itself is retained (a writer
      // that committed, then died before its `finally` unregistered).
      all.filter(m =>
          m.getName.startsWith(s"${name}__v") &&
          m.getName.endsWith(CatalogMaterializer.InFlightSuffix))
        .foreach { m =>
          val d = new org.apache.hadoop.fs.Path(m.getParent, m.getName
            .stripSuffix(CatalogMaterializer.InFlightSuffix))
          // The stale pass above may already have removed this sidecar
          // along with its dir.
          if (fs.exists(m)) {
            val expired = System.currentTimeMillis() -
              fs.getFileStatus(m).getModificationTime >= lease
            if (!fs.exists(d) ||
                (expired && !CatalogMaterializer.isInFlight(fs, d, lease)))
              fs.delete(m, false)
          }
        }
    }
  }

  /** The catalog never points at a location materializeTable writes, so
    * a frame reading the current relation materializes over it with a
    * single write — no staging hop (see trait default). */
  override def materializeReplace(spark: SparkSession, relation: String,
      df: DataFrame): Unit =
    materializeTable(spark, relation, df)

  def dropRelation(spark: SparkSession, relation: String): Unit = {
    import org.apache.spark.sql.catalyst.TableIdentifier
    val Array(schema, name) = relation.split('.')
    val catalog = spark.sessionState.catalog
    val ident = TableIdentifier(name, Some(schema))
    // External versioned locations outlive DROP TABLE by design (that is
    // what makes the swap safe); an explicit drop removes them all. The
    // pointer goes first, or a later resolution would resurrect the entry.
    val dir = schemaDir(spark, schema)
    CatalogMaterializer.commitLock(s"$dir/$name").synchronized {
      pointerPath(dir, name).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
        .delete(pointerPath(dir, name), false)
      if (catalog.tableExists(ident)) spark.sql(s"DROP TABLE $relation")
      collectStaleVersions(spark, dir, name, Set.empty)
      clearStaleLocation(spark, relation)
    }
  }

  /** Full-refresh (and first incremental) semantics must survive a dead
    * catalog entry: with a non-Hive (in-memory) catalog a previous process
    * may have left the managed location on disk while the catalog forgot
    * the table, and saveAsTable then fails with LOCATION_ALREADY_EXISTS.
    * Clear the default managed location explicitly.
    */
  private def clearStaleLocation(spark: SparkSession, relation: String): Unit = {
    val Array(schema, name) = relation.split('.')
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir") + s"/$schema.db/$name")
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    // A pointer here is from a previous table-era materialization of the
    // same name — stale by definition on the incremental first-build
    // path, and repairFromPointer would otherwise resurrect it.
    fs.delete(pointerPath(schemaDir(spark, schema), name), false)
  }
}

final class PathMaterializer(base: String) extends Materializer {
  def tableRelation(schema: String, name: String): String = s"${schema}_$name"
  def materializeTable(spark: SparkSession, relation: String, df: DataFrame): Unit = {
    val path = s"$base/$relation"
    df.write.mode("overwrite").parquet(path)
    spark.read.parquet(path).createOrReplaceTempView(relation)
  }

  def relationExists(spark: SparkSession, relation: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$base/$relation")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  def materializeIncremental(spark: SparkSession, relation: String,
      df: DataFrame, partitionCols: Seq[String]): Unit = {
    val path = s"$base/$relation"
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // A previous UNPARTITIONED materialization left root-level part
    // files; writing partition subdirectories next to them makes the
    // next read fail partition discovery (or silently drop the old
    // rows). Materialization switches require --full-refresh — the
    // catalog twin enforces the same via requireNotPointerBacked.
    if (fs.exists(root))
      require(!fs.listStatus(root).exists(st => st.isFile &&
          st.getPath.getName.endsWith(".parquet")),
        s"$relation holds unpartitioned files from a previous " +
          "materialization; changing it to incremental requires " +
          "--full-refresh")
    // Writer-scoped dynamic overwrite (thread-safe; see CatalogMaterializer).
    df.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*).parquet(path)
    // mergeSchema: after append_new_columns evolution only the NEW
    // partition files carry the added columns — the merged read nulls
    // them for history partitions (the ALTER TABLE twin, see
    // Materializer.addColumns).
    spark.read.option("mergeSchema", "true").parquet(path)
      .createOrReplaceTempView(relation)
  }

  /** Path-backed relations evolve at read time (parquet mergeSchema in
    * [[materializeIncremental]]); nothing to alter eagerly. */
  def addColumns(spark: SparkSession, relation: String,
      newCols: Seq[org.apache.spark.sql.types.StructField]): Unit = ()

  def materializeAppend(spark: SparkSession, relation: String,
      df: DataFrame): Unit = {
    val path = s"$base/$relation"
    df.write.mode("append").parquet(path)
    spark.read.option("mergeSchema", "true").parquet(path)
      .createOrReplaceTempView(relation)
  }

  def dropPartition(spark: SparkSession, relation: String,
      partCol: String, value: String): Unit = {
    // Same escaping Spark used when the partition directory was written.
    val dirName = partCol + "=" + org.apache.spark.sql.catalyst.catalog
      .ExternalCatalogUtils.escapePathName(value)
    val root = new org.apache.hadoop.fs.Path(s"$base/$relation")
    val p = new org.apache.hadoop.fs.Path(root, dirName)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) {
      // Capture the schema BEFORE deleting: if this was the relation's
      // only partition, re-reading the root would throw "unable to infer
      // schema" — register an empty frame with the prior schema instead
      // (matching the catalog twin, where ALTER TABLE leaves an empty
      // table). Read it from the parquet root, not spark.table: path
      // relations are session-scoped temp views, and a fresh process can
      // reach dropPartition (earliest microbatch period recomputing
      // empty) before anything has registered the view.
      val priorSchema =
        spark.read.option("mergeSchema", "true").parquet(s"$base/$relation")
          .schema
      fs.delete(p, true)
      val anyDataLeft = fs.listStatus(root).exists { s =>
        s.isDirectory || s.getPath.getName.endsWith(".parquet")
      }
      if (anyDataLeft)
        spark.read.option("mergeSchema", "true").parquet(s"$base/$relation")
          .createOrReplaceTempView(relation)
      else
        spark.createDataFrame(
            java.util.Collections.emptyList[org.apache.spark.sql.Row](),
            priorSchema)
          .createOrReplaceTempView(relation)
    }
  }

  def dropRelation(spark: SparkSession, relation: String): Unit = {
    spark.catalog.dropTempView(relation)
    val p = new org.apache.hadoop.fs.Path(s"$base/$relation")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }
}
