package graft.core

import org.apache.spark.sql.SparkSession

/** The one engine session posture. Every entry point (Bench, Verify,
  * EngineCli), every probe in `graft.tools` and the shared test session
  * build Spark here, so the plan the oracle verifies, the plan the tests
  * run and the plan the bench times are the same plan.
  *
  * Inputs are the two environment variables, nothing else:
  *  - `SPARK_GRAFT_CPUS` — local master width, default 4;
  *  - `SPARK_GRAFT_SHUFFLE_PARTITIONS` — initial shuffle partitions,
  *    default 32.
  *
  * Callers with a genuine difference (a warehouse dir, a hive metastore,
  * a probe's memory fraction) pass it as extra conf; nothing else varies.
  */
object EngineSession {

  /** Static: read once, when the first class is generated in the JVM. */
  val CodegenCacheEntries = "spark.sql.codegen.cache.maxEntries"

  private def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.trim.toInt)

  // Shuffle partitions are DECOUPLED from the core count (round-17
  // scaling-block finding: tying them to $SPARK_GRAFT_CPUS made the
  // low-core probe trade parallelism for task-count savings one-for-one
  // — every ratio ≈ 1, the instrument measured nothing). Fixed initial
  // partitions + AQE coalescing keep the PLAN identical across core
  // counts, so a timing ratio reflects parallelism alone. 32 matches the
  // main run's historic value, so 32-core numbers stay comparable
  // round-over-round; clusters override via
  // SPARK_GRAFT_SHUFFLE_PARTITIONS (size to data/advisory-partition-size,
  // not core count — guide §2.2).
  def defaultShufflePartitions: Int =
    sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS").fold(32)(_.trim.toInt)

  /** The postured builder, for callers that need a builder method
    * (`enableHiveSupport`) or a pinned width (the test session). */
  def builder(cores: Int = defaultCores): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions",
        defaultShufflePartitions.toLong)
      // AQE coalescing must respect the advisory partition SIZE, not
      // stop at defaultParallelism (guide §2.2 "fewer, larger reduce
      // partitions"; Spark's own conf doc recommends false). With the
      // default (true), every KB-sized intermediate shuffle in the
      // store protocols still fanned out to 32 post-shuffle tasks of
      // pure scheduling overhead. Size-derived, not core-count-derived:
      // at 100 TB the same setting yields advisory-sized partitions.
      // Measured on a 14-gate subset at sf0.1 min-of-3: 87.6→78.1 s
      // (st10 −22%, p14 −13%, t21 −21%, d02 −19%), zero regressions.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        "false")
      .config("spark.sql.session.timeZone", "UTC")
      // The generated-class cache is static and JVM-wide, 100 entries by
      // default (split over 4 segments), and one operation compiles more
      // classes than that. Counted per operation on a 4-vCPU host: at
      // 100 entries every tpch refresh cycle recompiled 157–159 classes
      // and every corpus takedown 237; at 1000, the refreshes after the
      // first recompiled 6–14 and the takedowns after the first 4.
      .config(CodegenCacheEntries, "1000")
      .config("spark.ui.enabled", "false")
      // Applied as the context starts, so startup logs are quiet too.
      .config("spark.log.level", "WARN")

  /** The postured session, with `conf` applied on top. */
  def apply(conf: (String, String)*): SparkSession =
    builder().config(conf.toMap).getOrCreate()
}
