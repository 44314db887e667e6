package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, lit}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.types._

/** Loader for the driver testdata layout (`TESTDATA.md`): one parquet file
  * per table under `\$dir/`. At 100 TB these would be partitioned parquet
  * directories; `spark.read.parquet` handles both shapes unchanged, and all
  * downstream code goes through this single entry point so partition-aware
  * reading (bucketing, partition pruning) can be added here once.
  *
  * Schema memo: inferring a parquet schema is a one-task Spark job, and a
  * scheduled refresh loads the same sources on every invocation. [[parquet]]
  * keeps one entry per (path, the session's parquet/file-source reader
  * conf): the inferred schema and the file set it was inferred from, as
  * (path, length, modification time) triples taken from the frame's own
  * file index. A load whose file set and conf both match reads with the
  * remembered schema — a listing, no job; any added, removed or rewritten
  * file, or a changed reader conf, infers exactly as `spark.read.parquet`
  * does and replaces the entry.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else parquet(spark, s"$dir/$name.parquet")

  private final case class Memo(files: Set[(String, Long, Long)],
      schema: StructType)
  private val memo =
    new java.util.concurrent.ConcurrentHashMap[(String, Seq[(String, String)]), Memo]

  /** The session conf a parquet schema inference depends on. */
  private def readerConf(spark: SparkSession): Seq[(String, String)] =
    spark.conf.getAll.toSeq.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") ||
        k.startsWith("spark.sql.legacy.parquet.") ||
        k.startsWith("spark.sql.files.") || k == "spark.sql.caseSensitive"
    }.sorted

  /** The files a parquet frame reads, from its own file index; `None`
    * for a frame whose index cannot list them. */
  private def fileSet(df: DataFrame): Option[Set[(String, Long, Long)]] =
    df.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation => l.relation
    }.collect {
      case HadoopFsRelation(index: PartitioningAwareFileIndex, _, _, _, _, _) =>
        index.allFiles().map(f =>
          (f.getPath.toString, f.getLen, f.getModificationTime)).toSet
    }

  /** `spark.read.parquet(path)`, inferring the schema only when the
    * path's file set or the reader conf changed since the last load. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val key = (path, readerConf(spark))
    val hit = Option(memo.get(key)).map { m =>
      (m, spark.read.schema(m.schema).parquet(path))
    }.collect { case (m, df) if fileSet(df).contains(m.files) => df }
    hit.getOrElse {
      val df = spark.read.parquet(path)
      // A conf flipped by another thread mid-inference keys nothing.
      if (readerConf(spark) == key._2)
        fileSet(df).foreach(fs => memo.put(key, Memo(fs, df.schema)))
      df
    }
  }

  /** The events `ts` column has shipped in more than one physical parquet
    * encoding across testdata generations; sniff the footer and adapt
    * instead of assuming one (see [[EventsLayout]]). The layout's frame is
    * the read: the schema is inferred at most once.
    */
  private def events(spark: SparkSession, dir: String): DataFrame = {
    val (layout, df) = EventsLayout.read(spark, s"$dir/events.parquet")
    layout.normalize(df)
  }

  /** Time-sliced events scan with the range predicate applied in the RAW
    * `ts` encoding BEFORE normalization, so it pushes down to the parquet
    * scan and prunes row groups (see [[EventsLayout.rawTsRange]] — the
    * normalized column's filter cannot push). The 100 TB access path for
    * "give me this hour/day of the log". Bounds are `[startUs, endUs)`
    * epoch micros.
    */
  def eventsBetween(spark: SparkSession, dir: String,
      startUs: Long, endUs: Long): DataFrame = {
    val (layout, df) = EventsLayout.read(spark, s"$dir/events.parquet")
    layout.normalize(df.filter(layout.rawTsRange(startUs, endUs)))
  }
}

/** Physical encoding of the events `ts` column, sniffed from the parquet
  * FOOTER (a schema-only read — no data scan). Observed encodings across
  * testdata generations:
  *
  *  - int64 TIMESTAMP(NANOS): Spark's reader rejects it unless
  *    `spark.sql.legacy.parquet.nanosAsLong=true`, which surfaces it as a
  *    raw nanos `LongType` → convert with `timestamp_micros(ts div 1000)`.
  *    A plain BIGINT column holding epoch nanos (spec fixtures, scale
  *    probes) sniffs identically and needs the identical conversion. The
  *    sniff recognises both from one data file's footer, read on the
  *    driver with parquet's own `ParquetFileReader`, and only then sets
  *    the flag.
  *  - timestamp[us] with isAdjustedToUTC=false → Spark reads
  *    `TimestampNTZType` → cast to the session `TimestampType` (sessions
  *    here pin UTC, so wall-clock == instant and the micros are unchanged).
  *  - timestamp[us/ms] adjusted to UTC (or INT96) → already
  *    `TimestampType` → pass through.
  *
  * Every events reader — batch [[Tables]], streaming `EventsStream.read`,
  * and the gates that stage feed files — goes through this one sniff, so a
  * testdata regeneration that flips the encoding is a no-op, not 13 broken
  * queries and 6 silently-wrong streaming answers (the round-8 failure
  * mode: schema-on-read drift produces wrong answers, not errors — the
  * variant that would poison a 100 TB backfill).
  */
final case class EventsLayout(schema: StructType, tsType: DataType) {

  /** Rewrite `ts` to the one downstream shape every operator assumes: a
    * session-zone `TimestampType` at micros precision. */
  def normalize(df: DataFrame): DataFrame = tsType match {
    case LongType =>
      df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    case TimestampNTZType =>
      df.withColumn("ts", col("ts").cast(TimestampType))
    case TimestampType => df
    case other => throw new IllegalStateException(
      s"events.ts has unsupported physical type $other — supported: " +
        "int64 epoch nanos (legacy), timestamp[us] (NTZ or UTC-adjusted)")
  }

  /** Shift a raw `ts` column forward by whole days, PRESERVING the raw
    * encoding — for staging sentinel/late rows back into a feed directory
    * that the stream re-reads under this same layout. */
  def shiftTsDays(tsCol: Column, days: Long): Column = tsType match {
    case LongType => (tsCol + lit(days * 86400L * 1000000000L)).cast(LongType)
    case _ => tsCol + expr(s"interval $days days")
  }

  /** Shift by raw seconds (same contract as [[shiftTsDays]]). */
  def shiftTsSeconds(tsCol: Column, seconds: Long): Column = tsType match {
    case LongType => (tsCol + lit(seconds * 1000000000L)).cast(LongType)
    case _ => tsCol + expr(s"interval $seconds seconds")
  }

  /** `[startUs, endUs)` range predicate phrased against the RAW `ts`
    * encoding, so it PUSHES DOWN to the parquet scan. Filtering the
    * NORMALIZED column cannot push: `timestamp_micros(ts div 1000) >= X`
    * is an expression over the source column, and the scan would read
    * every row group of a 100 TB log to evaluate it. Phrased raw, each
    * encoding's predicate is a plain column comparison (long or
    * timestamp) that reaches `PushedFilters` and prunes row groups via
    * min/max stats — at scale, the difference between reading an hour
    * and reading years. Pinned by PlanAuditSpec for both encodings.
    */
  def rawTsRange(startUs: Long, endUs: Long): Column = {
    def ntz(us: Long) = lit(java.time.LocalDateTime.ofEpochSecond(
      Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L).toInt * 1000,
      java.time.ZoneOffset.UTC))
    tsType match {
      case LongType =>
        col("ts") >= lit(startUs * 1000L) && col("ts") < lit(endUs * 1000L)
      case TimestampNTZType =>
        // NTZ literals compare wall-clock; sessions pin UTC so wall == us.
        col("ts") >= ntz(startUs) && col("ts") < ntz(endUs)
      case _ =>
        col("ts") >= expr(s"timestamp_micros(${startUs}L)") &&
          col("ts") < expr(s"timestamp_micros(${endUs}L)")
    }
  }
}

object EventsLayout {
  private[core] val NanosFlag = "spark.sql.legacy.parquet.nanosAsLong"

  /** Sniff the layout of an events parquet file or directory. Spark
    * cannot even infer the schema of an int64 TIMESTAMP(NANOS) `ts`
    * unless the legacy nanos flag is on, so one data file's footer is read
    * on the driver first (no Spark job): only the epoch-nanos long layout
    * (TIMESTAMP(NANOS), or a plain int64) sets the flag, and it stays set,
    * since every later scan of that table re-reads the footer and needs
    * it. Any other encoding leaves the session conf untouched. The schema
    * itself comes from [[Tables.parquet]]'s memo. */
  def sniff(spark: SparkSession, path: String): EventsLayout =
    read(spark, path)._1

  /** The layout and the frame it was sniffed from — the events read. */
  private[core] def read(spark: SparkSession,
      path: String): (EventsLayout, DataFrame) = {
    if (!spark.conf.getOption(NanosFlag).contains("true") &&
        nanosTs(spark, path))
      spark.conf.set(NanosFlag, "true")
    val df = Tables.parquet(spark, path)
    val schema = df.schema
    require(schema.fieldNames.contains("ts"),
      s"events at $path has no `ts` column; found ${schema.fieldNames.mkString(", ")}")
    (EventsLayout(schema, schema("ts").dataType), df)
  }

  /** Whether the first data file under `path` (a file, or a directory
    * searched recursively, skipping `_`/`.` entries as Spark does) stores
    * `ts` as epoch-nanos int64 — TIMESTAMP(NANOS) or unannotated — from
    * its footer alone. */
  private def nanosTs(spark: SparkSession, path: String): Boolean = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit,
      TimestampLogicalTypeAnnotation}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val hidden = (p: Path) => p.getName.startsWith("_") || p.getName.startsWith(".")
    val files = fs.listFiles(root, true)
    val first = Iterator.continually(files).takeWhile(_.hasNext).map(_.next())
      .map(_.getPath).find { p =>
        Iterator.iterate(p)(_.getParent)
          .takeWhile(q => q != null && q.depth > root.depth).forall(!hidden(_))
      }
    first.exists { p =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
      val schema =
        try reader.getFooter.getFileMetaData.getSchema finally reader.close()
      schema.containsField("ts") && {
        val ts = schema.getType(schema.getFieldIndex("ts"))
        ts.isPrimitive &&
          ts.asPrimitiveType.getPrimitiveTypeName == PrimitiveTypeName.INT64 &&
          (ts.getLogicalTypeAnnotation match {
            case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
            case _ => true
          })
      }
    }
  }

  /** Run `body` with the nanos flag set; `body` receives a restore thunk
    * putting the flag back to its pre-call state (set-or-unset). On throw,
    * the flag is always restored. Only [[SchemaCanary]]'s footer reads use
    * it; loading a source never toggles the session conf. */
  private[core] def withNanosFlag[A](spark: SparkSession)(
      body: (() => Unit) => A): A = {
    val prior = spark.conf.getOption(NanosFlag)
    val restore: () => Unit = () => prior match {
      case Some(v) => spark.conf.set(NanosFlag, v)
      case None => spark.conf.unset(NanosFlag)
    }
    spark.conf.set(NanosFlag, "true")
    try body(restore)
    catch { case scala.util.control.NonFatal(e) => restore(); throw e }
  }
}

/** One driver-checkable query: a Spark implementation plus (when the
  * semantics are ANSI-SQL-expressible) an equivalent DuckDB oracle.
  * Column names/aliases MUST match between `fn`'s output and `oracle`.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

trait QueryPack { def queries: Seq[Q] }
