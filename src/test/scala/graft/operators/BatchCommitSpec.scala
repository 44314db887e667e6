package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** [[BatchCommit]]: the one batch commit of the stores. A replayed write
  * clears what its recompute no longer holds, the batch list comes from
  * partition metadata, and the replay read pins the batches present when
  * it is called, at no Spark job. */
class BatchCommitSpec extends SparkSuite {

  import spark.implicits._

  /** For every job `body` starts, the physical plan of the root SQL
    * execution it ran under, or "no execution". */
  private def jobPlans(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val group = s"batch-commit-spec-${System.nanoTime}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val plans = new java.util.concurrent.ConcurrentHashMap[String, String]
    val roots = new java.util.concurrent.ConcurrentHashMap[String, String]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties)
          .filter(_.getProperty("spark.jobGroup.id") == group)
          .foreach(p => jobs.add(String.valueOf(
            p.getProperty("spark.sql.execution.id"))))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          roots.put(x.executionId.toString,
            x.rootExecutionId.getOrElse(x.executionId).toString)
          plans.put(x.executionId.toString, x.physicalPlanDescription)
        case _ =>
      }
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "BatchCommitSpec")
      try body finally sc.clearJobGroup()
      org.apache.spark.ListenerBusDrain(sc)
    } finally sc.removeSparkListener(l)
    jobs.asScala.toSeq.map(id =>
      plans.getOrDefault(roots.getOrDefault(id, id), "no execution"))
  }

  test("a replayed write whose recompute is empty clears the batch's " +
      "partition") {
    val rel = "batch_commit_spec.t"
    BatchCommit.mat.dropRelation(spark, rel)
    BatchCommit.write(spark, "b1", rel -> Seq(1L, 2L).toDF("id"))
    BatchCommit.write(spark, "b2", rel -> Seq(3L).toDF("id"))
    // A dynamic overwrite of an empty frame alone would keep b1's rows.
    BatchCommit.write(spark, "b1", rel -> Seq.empty[Long].toDF("id"))
    assert(spark.table(rel).select(col("id"), col("batch_id"))
      .as[(Long, String)].collect().toSeq == Seq((3L, "b2")))
    assert(BatchCommit.batchIds(spark, rel) == Seq("b2"))
    BatchCommit.mat.dropRelation(spark, rel)
  }

  test("the batch list is the live partitions, quoted ids included") {
    val rel = "batch_commit_spec.q"
    BatchCommit.mat.dropRelation(spark, rel)
    val ids = Seq("b'1", "b\\2", "b3")
    ids.foreach(b => BatchCommit.write(spark, b, rel -> Seq(1L).toDF("id")))
    BatchCommit.replace(spark, rel, None, Seq("b3"))
    assert(BatchCommit.batchIds(spark, rel) == Seq("b'1", "b\\2"))
    assert(BatchCommit.without(spark, rel, "b'1").select(col("batch_id"))
      .as[String].collect().toSeq == Seq("b\\2"))
    BatchCommit.mat.dropRelation(spark, rel)
  }

  test("a lazy dedup delta never pairs its batch with a later append") {
    val words = (1 to 40).map(i => s"w$i")
    val text = words.mkString(" ")
    // One word changed: 35 of 41 distinct 3-shingles shared, jaccard 0.85.
    val near = words.updated(19, "x20").mkString(" ")
    val store = DedupStore("batch_commit_dedup")
    val other = (1 to 40).map(i => s"v$i").mkString(" ")
    DedupStore.build(spark, Seq((1L, other)).toDF("doc_id", "text"),
      "doc_id", "text", 0.6, store)
    val b1 = Seq((10L, text)).toDF("doc_id", "text")
    val delta = DedupStore.deltaPairs(spark, b1, "doc_id", "text", 0.6,
      store, "b1")
    DedupStore.appendBatch(spark, Seq((20L, near)).toDF("doc_id", "text"),
      "doc_id", "text", 0.6, store, "b2")
    assert(delta.collect().isEmpty,
      "the b1 delta read b2, which was appended after it was planned")
    // Control: a delta planned after b2 does pair the two documents.
    val later = DedupStore.deltaPairs(spark, b1, "doc_id", "text", 0.6,
      store, "b3").select(col("doc_a"), col("doc_b")).as[(Long, Long)]
      .collect().toSeq
    assert(later == Seq((10L, 20L)))
    DedupStore.reset(spark, store)
    graft.core.Caches.releaseAll()
  }

  test("the span store's replay read starts no Spark job") {
    val store = SpanStore("batch_commit_span")
    SpanStore.build(spark,
      Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text"),
      "doc_id", "text", k = 5, store)
    val plans = jobPlans {
      SpanStore.appendBatch(spark,
        Seq((10L, "pre alpha beta gamma delta epsilon post"))
          .toDF("doc_id", "text"), "doc_id", "text", k = 5, store, "b1")
    }
    // The batch's partition write runs jobs; nothing else may.
    assert(plans.nonEmpty)
    val other = plans.filterNot(_.contains("InsertIntoHadoopFsRelation"))
    assert(other.isEmpty, s"appendBatch ran ${other.size} jobs outside " +
      s"its write: ${other.map(_.take(300))}")
    SpanStore.reset(spark, store)
    graft.core.Caches.releaseAll()
  }
}
