package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.EngineSession

/** Spill-path probe: run the heaviest shuffle gates under a deliberately
  * memory-starved JVM and verify (a) Spark's spill machinery actually
  * engages (task-level `memoryBytesSpilled`/`diskBytesSpilled` > 0) and
  * (b) the answers are bit-identical to the comfortable-heap run. The
  * 128 GiB sandbox otherwise never exercises this leg of the 100 TB
  * design: on a real cluster an executor gets a few GiB per task slot
  * and EVERY large sort/agg/join spills — an operator whose correctness
  * silently depended on everything fitting in memory would pass all
  * local gates and fail at scale.
  *
  * The probe runs in-process with whatever heap the launching JVM has;
  * the CAP comes from launching it under a small `-Xmx` (see
  * SCALEPROBE.md for the exact command), plus a low
  * `spark.memory.fraction` so the execution-memory pool — not GC — is
  * the binding constraint. Correctness is compared via an
  * order-independent checksum (sum of per-row crc32(sha2(row))), so the
  * capped and uncapped runs can use different partition counts.
  *
  * Run:
  *   capped:   `java -Xmx4g -cp target/scala-2.13/classes:/opt/spark/jars/'*'
  *              graft.tools.SpillProbe <dataDir>`
  *   uncapped: `java -Xmx48g -cp ... graft.tools.SpillProbe <dataDir>`
  */
object SpillProbe {

  /** Task-metric sums for the current probe window. */
  private final class SpillListener extends SparkListener {
    @volatile var memSpilled = 0L
    @volatile var diskSpilled = 0L
    @volatile var shuffleWrite = 0L
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) synchronized {
        memSpilled += m.memoryBytesSpilled
        diskSpilled += m.diskBytesSpilled
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      }
    }
    def reset(): Unit = synchronized {
      memSpilled = 0L; diskSpilled = 0L; shuffleWrite = 0L
    }
  }

  /** Order- and partitioning-independent content checksum: rows are
    * hashed individually (null-sentineled so `concat_ws` can't conflate
    * NULL with empty string) and the hashes summed. */
  private def checksum(df: DataFrame): (Long, Long) = {
    val cols = df.columns.toIndexedSeq.map(c =>
      coalesce(col(c).cast("string"), lit("\u0000NULL")))
    val row = df.select(
      crc32(sha2(concat_ws("\u0001", cols: _*), 256)).as("h"))
    val r = row.agg(sum(col("h")).as("sum"), count(lit(1)).as("n")).head()
    (r.getLong(0), r.getLong(1))
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft_sf1")
    val gates = args.lift(1).map(_.split(',').toSeq).getOrElse(
      Seq("d05_dup_clusters", "st05_stream_stream_join",
        "q11_window_running"))
    // Low shuffle parallelism concentrates each shuffle partition's data;
    // a tiny memory fraction shrinks the execution pool. Together they
    // make the capped heap bind long before sf1 data fits.
    val shufflePartitions = sys.env.getOrElse("SPILL_SHUFFLE_PARTS", "8")
    val memFraction = sys.env.getOrElse("SPILL_MEM_FRACTION", "0.1")
    // Streaming state is a different memory pool: the default HDFS-backed
    // provider keeps state maps IN executor memory (disk is checkpoint
    // only), so a capped heap binds on state size, not spill. SPILL
    // _ROCKSDB=1 swaps in the disk-backed provider — the configuration a
    // production deployment uses when state outgrows memory.
    val rocksDb =
      if (sys.env.get("SPILL_ROCKSDB").contains("1"))
        Seq("spark.sql.streaming.stateStore.providerClass" ->
          ("org.apache.spark.sql.execution.streaming.state." +
            "RocksDBStateStoreProvider"))
      else Nil
    val spark = EngineSession(Seq(
      "spark.sql.shuffle.partitions" -> shufflePartitions,
      "spark.memory.fraction" -> memFraction) ++ rocksDb: _*)
    val listener = new SpillListener
    spark.sparkContext.addSparkListener(listener)
    val heapGb = Runtime.getRuntime.maxMemory() / 1e9
    println(f"heap=${heapGb}%.1fGiB fraction=$memFraction " +
      f"shufflePartitions=$shufflePartitions data=$dir")
    println(f"${"gate"}%-26s ${"wall_s"}%8s ${"rows"}%9s " +
      f"${"checksum"}%16s ${"memSpillMB"}%11s ${"diskSpillMB"}%12s " +
      f"${"shufWrMB"}%9s")
    gates.foreach { g =>
      val fn = graft.SparkEntry.queries.getOrElse(g,
        sys.error(s"unknown gate $g"))
      listener.reset()
      val t0 = System.nanoTime()
      val (sum, n) = checksum(fn(spark, dir))
      val wall = (System.nanoTime() - t0) / 1e9
      // Listener events post asynchronously and there's no public drain;
      // a short sleep suffices for a probe reading end-of-job sums.
      Thread.sleep(1500)
      println(f"$g%-26s $wall%8.2f $n%9d $sum%16d " +
        f"${listener.memSpilled / 1e6}%11.1f " +
        f"${listener.diskSpilled / 1e6}%12.1f " +
        f"${listener.shuffleWrite / 1e6}%9.1f")
      graft.core.Caches.releaseAll()
    }
    spark.stop()
  }
}
