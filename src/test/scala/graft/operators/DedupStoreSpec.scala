package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.core.Tables

/** The production contract of the persisted dedup store: incremental
  * maintenance (build once, append batches) must lose nothing relative
  * to the one-shot pass, replaying a batch must be a no-op, and the
  * increment's plan must read the PERSISTED index rather than
  * recomputing corpus state.
  */
class DedupStoreSpec extends SparkSuite {

  private val T = 0.6
  private def docs: DataFrame = Tables(spark, "/root/testdata/sf0.001", "documents")

  private def pairsOf(df: DataFrame): Set[(Long, Long, Double)] =
    df.select(col("doc_a"), col("doc_b"), col("jaccard"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  private def oneShot: Set[(Long, Long, Double)] =
    pairsOf(Dedup.minhashLshPairs(docs, "doc_id", "text", T))

  test("build + append equals the one-shot pass over the union") {
    val store = DedupStore("dedup_store_spec")
    DedupStore.reset(spark, store)
    DedupStore.build(spark, docs.filter(col("doc_id") % 5 =!= 0),
      "doc_id", "text", T, store)
    DedupStore.appendBatch(spark, docs.filter(col("doc_id") % 5 === 0),
      "doc_id", "text", T, store, "b1")
    val incremental = pairsOf(DedupStore.allPairs(spark, store))
    assert(incremental.nonEmpty)
    assert(incremental == oneShot)
    DedupStore.reset(spark, store)
  }

  test("three accumulated batches equal the one-shot pass") {
    val store = DedupStore("dedup_store_spec3")
    DedupStore.reset(spark, store)
    DedupStore.build(spark, docs.filter(col("doc_id") % 3 === 0),
      "doc_id", "text", T, store)
    DedupStore.appendBatch(spark, docs.filter(col("doc_id") % 3 === 1),
      "doc_id", "text", T, store, "b1")
    DedupStore.appendBatch(spark, docs.filter(col("doc_id") % 3 === 2),
      "doc_id", "text", T, store, "b2")
    assert(pairsOf(DedupStore.allPairs(spark, store)) == oneShot)
    DedupStore.reset(spark, store)
  }

  test("replaying a batch is idempotent (crash-recovery contract)") {
    val store = DedupStore("dedup_store_replay")
    DedupStore.reset(spark, store)
    DedupStore.build(spark, docs.filter(col("doc_id") % 5 =!= 0),
      "doc_id", "text", T, store)
    DedupStore.appendBatch(spark, docs.filter(col("doc_id") % 5 === 0),
      "doc_id", "text", T, store, "b1")
    val first = pairsOf(DedupStore.allPairs(spark, store))
    val firstRows = DedupStore.allPairs(spark, store).count()
    // The replay: same batch, same id — e.g. the nightly job died after
    // the write and the scheduler re-ran it.
    DedupStore.appendBatch(spark, docs.filter(col("doc_id") % 5 === 0),
      "doc_id", "text", T, store, "b1")
    assert(pairsOf(DedupStore.allPairs(spark, store)) == first)
    // Set-equality alone would hide duplicated rows; row count pins it.
    assert(DedupStore.allPairs(spark, store).count() == firstRows)
    DedupStore.reset(spark, store)
  }

  test("rebuild REPLACES the store — stale batch partitions don't survive") {
    val store = DedupStore("dedup_store_rebuild")
    DedupStore.reset(spark, store)
    DedupStore.build(spark, docs.filter(col("doc_id") % 5 =!= 0),
      "doc_id", "text", T, store)
    DedupStore.appendBatch(spark, docs.filter(col("doc_id") % 5 === 0),
      "doc_id", "text", T, store, "b1")
    // Rebuild over the full corpus: without build's internal reset the
    // b1 partition would survive next to the fresh base and every doc in
    // it would be double-counted.
    DedupStore.build(spark, docs, "doc_id", "text", T, store)
    assert(BatchCommit.batchIds(spark, store.shinglesRel) ==
      Seq("base"))
    assert(pairsOf(DedupStore.allPairs(spark, store)) == oneShot)
    assert(DedupStore.allPairs(spark, store).count() == oneShot.size)
    DedupStore.reset(spark, store)
  }

  test("the increment reads the persisted index, not recomputed corpus state") {
    val store = DedupStore("dedup_store_plan")
    DedupStore.reset(spark, store)
    DedupStore.build(spark, docs.filter(col("doc_id") % 5 =!= 0),
      "doc_id", "text", T, store)
    // Audit the COMPUTE half (deltaPairs): appendBatch's returned frame
    // is checkpoint-truncated (a LogicalRDD — deliberately, so survivor
    // joins plan flat), so the store-scan shape must be read off the
    // plan that the truncation materializes.
    val delta = DedupStore.deltaPairs(spark,
      docs.filter(col("doc_id") % 5 === 0), "doc_id", "text", T, store, "b1")
    val plan = delta.queryExecution.optimizedPlan.toString
    // Store-side state streams off the persisted tables...
    assert(plan.contains("doc_shingles"),
      s"delta plan must scan the persisted shingle store:\n$plan")
    assert(plan.contains("minhash_buckets"),
      s"delta plan must scan the persisted LSH index:\n$plan")
    // ...and every scan of the raw documents table carries the batch
    // filter — shingle/signature work is batch-sized, never corpus-sized.
    val docScans = plan.linesIterator
      .filter(_.contains("documents.parquet")).toSeq
    assert(docScans.nonEmpty)
    val filters = plan.linesIterator.filter(_.contains("% 5) = 0")).size
    assert(filters > 0,
      s"documents scans in the delta plan must be batch-filtered:\n$plan")
    // The corpus side's predicate optimizes to NOT((doc_id % 5) = 0);
    // its absence means no corpus-sized shingle recompute hides in the
    // delta plan.
    assert(!plan.contains("NOT ((doc_id"),
      s"no corpus-side (negated-filter) documents scan may appear:\n$plan")
    DedupStore.reset(spark, store)
  }
}
