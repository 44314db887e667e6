package graft.core

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one registry of frames that pin executor blocks for a gate's
  * lifetime. Two kinds of frame do:
  *
  *  - frames persisted inside operator pipelines (dedup / similarity
  *    caches), registered by [[persist]];
  *  - checkpoint-truncated frames ([[Checkpoints.truncate]]), whose
  *    blocks are invisible to the CacheManager and stay pinned until
  *    their RDD is GC'd.
  *
  * A pin without a matching release holds executor memory for the life
  * of the session — harmless in a one-query job, but a session that runs
  * the whole query inventory (Bench, Verify) would accumulate every
  * pipeline's blocks until GC pressure. [[release]] frees one frame of
  * either kind, so a caller need not know how a frame was pinned; the
  * harness calls [[releaseAll]] between queries.
  *
  * Spark keys its cache by plan, not by DataFrame: two frames with the
  * same plan share ONE cache entry. Persist registrations are therefore
  * counted per entry — persisting a plan that is already registered adds
  * a handle instead of a second `persist` (which Spark only warns about),
  * and the entry is unpersisted when its last handle is released, so
  * releasing one caller's handle never drops data another caller still
  * reads. A truncated frame is gone for good once released (truncation
  * cut its lineage), so release it only after its last consumer ran.
  */
object Caches {
  private final class Entry(val plan: LogicalPlan, val cached: DataFrame) {
    val handles = scala.collection.mutable.ArrayBuffer[DataFrame](cached)
  }
  private val entries = scala.collection.mutable.ArrayBuffer.empty[Entry]
  private val truncated = scala.collection.mutable.ArrayBuffer.empty[RDD[_]]

  def persist(df: DataFrame): DataFrame = {
    val plan = df.queryExecution.analyzed
    synchronized {
      entries.find(_.plan.sameResult(plan)) match {
        case Some(e) =>
          e.handles += df
          // Re-pin an entry something outside the registry unpersisted.
          if (df.storageLevel == StorageLevel.NONE) df.persist()
        case None => entries += new Entry(plan, df.persist())
      }
    }
    df
  }

  /** Register the backing RDD of a locally truncated frame. */
  private[core] def pinTruncated(rdd: RDD[_]): Unit =
    synchronized { truncated += rdd }

  /** Release ONE frame as soon as its last consumer ran — what a long
    * streamed ingest needs (one cached frame per micro-batch would
    * otherwise accumulate until releaseAll), and what iterative loops
    * need (round k+1's frame is materialized eagerly, so round k's blocks
    * are dead the moment it exists). A persisted handle is dropped and
    * its cache entry unpersisted with the last handle; a truncated
    * frame's RDD is unpersisted. A frame this registry does not hold (a
    * loop's plain start frame, or one [[releaseAll]] already freed) is
    * left alone: unpersisting it directly would drop any registered
    * entry that shares its plan. */
  def release(df: DataFrame): Unit = {
    val rdd = df.queryExecution.analyzed match {
      case lr: LogicalRDD => Some(lr.rdd)
      case _ => None
    }
    synchronized {
      val h = entries.indexWhere(_.handles.exists(_ eq df))
      if (h >= 0) {
        val e = entries(h)
        e.handles.remove(e.handles.indexWhere(_ eq df))
        if (e.handles.isEmpty) {
          entries.remove(h)
          e.cached.unpersist(blocking = false)
        }
      }
      rdd.foreach { r =>
        val t = truncated.indexWhere(_ eq r)
        if (t >= 0) truncated.remove(t).unpersist(blocking = false)
      }
    }
  }

  def releaseAll(): Unit = synchronized {
    entries.foreach(_.cached.unpersist(blocking = false))
    entries.clear()
    truncated.foreach(_.unpersist(blocking = false))
    truncated.clear()
  }
}

/** Lineage truncation for iterative DataFrame algorithms (connected
  * components, label propagation): a plain persist skips re-EXECUTION but
  * not re-PLANNING — each round's plan would embed the whole upstream tree
  * again, doubling per round until Catalyst analysis dominates. Truncation
  * materializes the frame and restarts lineage.
  *
  * `localCheckpoint()` (default) keeps blocks on executors — fast, but an
  * executor loss makes the frame unrecomputable. On a real cluster set
  * `spark.graft.checkpoint.reliable=true` (plus
  * `sparkContext.setCheckpointDir` to a DFS path) to switch every
  * truncation point to reliable `checkpoint()`: blocks land on the DFS and
  * survive executor churn — the right trade at 100 TB, where a multi-round
  * job outliving any single executor is the expectation, not the edge case.
  * A local truncation's blocks are registered with [[Caches]], which
  * frees them ([[Caches.release]], [[Caches.releaseAll]]).
  */
object Checkpoints {
  val ReliableConf = "spark.graft.checkpoint.reliable"

  def truncate(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val reliable =
      spark.conf.getOption(ReliableConf).exists(_.trim.equalsIgnoreCase("true"))
    if (reliable) {
      require(spark.sparkContext.getCheckpointDir.isDefined,
        s"$ReliableConf=true requires sparkContext.setCheckpointDir(<dfs path>)")
      df.checkpoint()
    } else {
      val cp = df.localCheckpoint()
      cp.queryExecution.analyzed match {
        case lr: LogicalRDD => Caches.pinTruncated(lr.rdd)
        case _ =>
      }
      cp
    }
  }
}
