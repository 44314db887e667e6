package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Caches, EngineSession, Tables}
import graft.operators.{DedupStore, StoreCompaction, VectorIndex}

/** Maintenance probe for [[StoreCompaction]] (manual:
  * `runMain graft.tools.CompactionProbe <sfDir> <batches>`).
  *
  * Question: after K nightly appends, what has the partition/file
  * population grown to, what does that cost a probe, and what does
  * compaction buy? Method: build the dedup store and the ANN index on
  * a base slice, append K disjoint batches, measure (a) part-file
  * counts, (b) an increment's compute wall and a query probe's wall
  * against the fragmented store, then compact and measure both again.
  * Emits JSON lines for SCALEPROBE.md.
  */
object CompactionProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = args.lift(1).map(_.toInt).getOrElse(10)
    val spark = EngineSession()
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    // Min of two runs: the first execution of a shape pays JIT + page
    // cache, which would otherwise be billed entirely to "pre".
    def time2[A](f: => A): (A, Double) = {
      val (r1, t1) = time(f)
      val (_, t2) = time(f)
      (r1, math.min(t1, t2))
    }
    def files(rel: String) = StoreCompaction.fileCount(spark, rel)

    // ---- dedup store: base 60%, K batches over the remaining 40%.
    val docs = Tables(spark, dir, "documents")
    val m = 5 * k // base = residues >= 2k of 5k
    def dslice(lo: Int, hi: Int): DataFrame =
      docs.filter(pmod(col("doc_id"), lit(m)) >= lo &&
        pmod(col("doc_id"), lit(m)) < hi)
    val store = DedupStore("compact_probe")
    DedupStore.reset(spark, store)
    DedupStore.build(spark, dslice(2 * k, m), "doc_id", "text", 0.6, store)
    (0 until k).foreach { i =>
      DedupStore.appendBatch(spark, dslice(2 * i, 2 * i + 2), "doc_id",
        "text", 0.6, store, f"b$i%02d").count()
      Caches.releaseAll()
    }
    val probeBatch = docs.filter(col("doc_id") % 997 === 0)
      .withColumn("doc_id", col("doc_id") + 10000000L)
    val filesPre = files(store.bucketsRel)
    val (pairsPre, probePre) = time2 {
      DedupStore.deltaPairs(spark, probeBatch, "doc_id", "text", 0.6,
        store, "probe").count()
    }
    Caches.releaseAll()
    val (_, compactS) = time {
      // targetFiles > 1: folding to a single file would also fold the
      // scan to a single TASK — compaction bounds the file population,
      // it must not serialize reads.
      StoreCompaction.compactDedupStore(spark, store,
        keep = Set(f"b${k - 1}%02d"), targetFiles = 4)
    }
    val filesPost = files(store.bucketsRel)
    val (pairsPost, probePost) = time2 {
      DedupStore.deltaPairs(spark, probeBatch, "doc_id", "text", 0.6,
        store, "probe").count()
    }
    Caches.releaseAll()
    require(pairsPre == pairsPost,
      s"compaction changed the probe answer: $pairsPre != $pairsPost")
    println(s"""{"probe":"dedup_compaction","sf_dir":"$dir",""" +
      s""""batches":$k,"bucket_files_pre":$filesPre,""" +
      s""""bucket_files_post":$filesPost,"compact_sec":$compactS,""" +
      s""""probe_pre_sec":$probePre,"probe_post_sec":$probePost,""" +
      s""""probe_pairs":$pairsPre}""")
    DedupStore.reset(spark, store)

    // ---- ANN index: base + K appends over vec_id slices.
    val emb = Tables(spark, dir, "embeddings")
    val index = VectorIndex("compact_probe_vec")
    VectorIndex.reset(spark, index)
    val isBase = col("vec_id") < 80 || pmod(col("vec_id"), lit(2 * k)) >= lit(k)
    VectorIndex.build(spark, emb.filter(isBase), "vec_id", "embedding",
      index)
    (0 until k).foreach { i =>
      VectorIndex.append(spark,
        emb.filter(!isBase && pmod(col("vec_id"), lit(2 * k)) === lit(i)),
        "vec_id", "embedding", index, f"b$i%02d")
      Caches.releaseAll()
    }
    val queries = emb.filter(col("vec_id") < 5)
    def topk() = VectorIndex
      .topK(spark, queries, "vec_id", "embedding", index, k = 10)
      .agg(sum(col("nid"))).head().getLong(0)
    val vFilesPre = files(index.codesRel)
    val (rankPre, vProbePre) = time2(topk())
    Caches.releaseAll()
    val (_, vCompactS) = time {
      StoreCompaction.compactVectorIndex(spark, index, keep = Set.empty,
        targetFiles = 4)
    }
    val vFilesPost = files(index.codesRel)
    val (rankPost, vProbePost) = time2(topk())
    require(rankPre == rankPost,
      s"compaction changed the ranking checksum: $rankPre != $rankPost")
    println(s"""{"probe":"ann_compaction","sf_dir":"$dir",""" +
      s""""batches":$k,"code_files_pre":$vFilesPre,""" +
      s""""code_files_post":$vFilesPost,"compact_sec":$vCompactS,""" +
      s""""probe_pre_sec":$vProbePre,"probe_post_sec":$vProbePost}""")
    VectorIndex.reset(spark, index)
    spark.stop()
  }
}
