package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.core.Tables
import graft.model.CatalogMaterializer

/** The maintenance contract of [[StoreCompaction]]: folding closed batch
  * partitions must bound the partition/file population, preserve content
  * exactly (invisible to probes and future appends), be idempotent, and
  * converge under the documented crash-replay recovery (fold landed,
  * drops didn't).
  */
class StoreCompactionSpec extends SparkSuite {

  private val T = 0.6
  private def docs: DataFrame =
    Tables(spark, "/root/testdata/sf0.001", "documents")

  private def pairsOf(df: DataFrame): Set[(Long, Long, Double)] =
    df.select(col("doc_a"), col("doc_b"), col("jaccard"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  private def builtStore(name: String): DedupStore = {
    val store = DedupStore(name)
    DedupStore.reset(spark, store)
    DedupStore.build(spark, docs.filter(col("doc_id") % 3 === 0),
      "doc_id", "text", T, store)
    DedupStore.appendBatch(spark, docs.filter(col("doc_id") % 3 === 1),
      "doc_id", "text", T, store, "b1")
    DedupStore.appendBatch(spark, docs.filter(col("doc_id") % 3 === 2),
      "doc_id", "text", T, store, "b2")
    store
  }

  test("compaction bounds partitions and files, preserving content") {
    val store = builtStore("compact_spec")
    val before = pairsOf(DedupStore.allPairs(spark, store))
    val stats = StoreCompaction.compactDedupStore(spark, store,
      keep = Set("b2"), targetFiles = 1)
    stats.foreach { s =>
      assert(s.folded == Seq("b1", "base"), s.toString)
      // base+b1 fold into `compacted`; b2 stays replayable.
      assert(s.partitionsBefore == 3 && s.partitionsAfter == 2, s.toString)
      assert(s.filesAfter < s.filesBefore, s.toString)
    }
    assert(pairsOf(DedupStore.allPairs(spark, store)) == before)
    // The replay horizon survived as its own partition.
    assert(BatchCommit.batchIds(spark, store.shinglesRel) ==
      Seq("b2", StoreCompaction.Label))
    DedupStore.reset(spark, store)
  }

  test("compaction is idempotent and invisible to future increments") {
    val store = builtStore("compact_spec2")
    StoreCompaction.compactDedupStore(spark, store, keep = Set("b2"))
    // Second run: nothing newly foldable (keep=b2, label re-fold alone
    // is skipped) — stats report no folds and file counts unchanged.
    val again = StoreCompaction.compactDedupStore(spark, store,
      keep = Set("b2"))
    again.foreach { s =>
      assert(s.folded.isEmpty && s.filesBefore == s.filesAfter, s.toString)
    }
    // A post-compaction batch dedupes against FOLDED index rows exactly
    // as it would against the originals: full one-shot equality.
    val extra = docs.filter(col("doc_id") % 3 === 2)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    DedupStore.appendBatch(spark, extra, "doc_id", "text", T, store, "b3")
    val incremental = pairsOf(DedupStore.allPairs(spark, store))
    val oneShot = pairsOf(Dedup.minhashLshPairs(
      docs.select(col("doc_id"), col("text"))
        .union(extra.select(col("doc_id"), col("text"))),
      "doc_id", "text", T))
    assert(incremental.nonEmpty && incremental == oneShot)
    DedupStore.reset(spark, store)
  }

  test("crash between fold and drops: replay converges") {
    val store = builtStore("compact_spec3")
    val before = pairsOf(DedupStore.allPairs(spark, store))
    // Reproduce the crash window on the shingles table (every doc has a
    // row there, so the duplicate window is guaranteed visible): the
    // fold commit landed (label partition holds base+b1's rows) but the
    // original partitions were never dropped — rows visible twice.
    val mat = new CatalogMaterializer
    val rel = store.shinglesRel
    val cleanRows = spark.table(rel).count()
    val folded = spark.table(rel)
      .filter(col("batch_id").isin("base", "b1"))
      .drop("batch_id").distinct()
      .withColumn("batch_id", lit(StoreCompaction.Label))
      .localCheckpoint()
    assert(folded.count() > 0)
    mat.materializeIncremental(spark, rel, folded, Seq("batch_id"))
    assert(spark.table(rel).count() > cleanRows) // duplicates visible
    // Replay: fold input is distinct(label ∪ originals) — identical
    // content rewrites, drops complete, content restored exactly.
    StoreCompaction.compactDedupStore(spark, store, keep = Set("b2"))
    assert(spark.table(rel).count() == cleanRows)
    assert(pairsOf(DedupStore.allPairs(spark, store)) == before)
    DedupStore.reset(spark, store)
  }

  test("vector index: probe from the compacted codes is unchanged") {
    val emb = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val index = VectorIndex("compact_vec")
    VectorIndex.reset(spark, index)
    val isBatch = col("vec_id") % 5 === 0 && col("vec_id") >= 80
    VectorIndex.build(spark, emb.filter(!isBatch), "vec_id", "embedding",
      index)
    VectorIndex.append(spark, emb.filter(isBatch), "vec_id", "embedding",
      index, "b1")
    val queries = emb.filter(col("vec_id") < 5)
    def ranking() = VectorIndex
      .topK(spark, queries, "vec_id", "embedding", index, k = 5)
      .select(col("qid"), col("rn"), col("nid"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val pre = ranking()
    val stats = StoreCompaction.compactVectorIndex(spark, index,
      keep = Set.empty)
    assert(stats.folded.nonEmpty && stats.partitionsAfter == 1,
      stats.toString)
    assert(ranking() == pre)
    VectorIndex.reset(spark, index)
  }
}
