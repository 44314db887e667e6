package graft.tools

import org.apache.spark.sql.functions._

import graft.core.{Caches, EngineSession, Tables}
import graft.operators.CorpusPipeline

/** Takedown COST CURVE for the full-recipe cascading delete (not part
  * of the driver contract; run manually:
  * `runMain graft.tools.TakedownProbe <sfDir>`).
  *
  * [[CorpusPipeline.deleteFull]] re-packs every batch at or after the
  * earliest family member — correct by construction (a mid-corpus
  * deletion shifts every later training sequence) and documented as
  * the honest takedown price, but unmeasured until now. Question: how
  * does the delete wall scale with VICTIM DEPTH (how early in the
  * corpus the victim sits)? Method: build the seven-table state as a
  * 50% bootstrap plus ten 5% appends (so the state holds 11 shard
  * partitions and "affected batches" is a meaningful count), then for
  * victim depth 90% / 50% / 10% of the id range, REBUILD the state
  * fresh and time one `deleteFull` of the quality survivor nearest
  * that depth. Emits one JSON line per depth for SCALEPROBE.md.
  *
  * Expected shape: wall ∝ (corpus past the victim), i.e. the 10%-depth
  * takedown re-packs ~90% of the corpus — the pathological early-victim
  * case. The design mitigation (not implemented; sketched in
  * SCALEPROBE.md) is epoch-fenced pack offsets: pin the packing offset
  * to a fixed value at every Nth batch boundary (an "epoch"), padding
  * the last pack short, so a re-pack stops at the next epoch fence
  * instead of running to the end of history.
  */
object TakedownProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    // Optional 2nd arg K: probe a K× WORD-SALTED replica corpus
    // ([[ProbeCorpus.salted]]) instead of the raw directory.
    // ReplicateSf's exact replicas are degenerate here — every
    // replica of a victim is exact-content family, so min(family) is
    // always in replica 0 and "depth" stops varying; the salted
    // corpus keeps replicas distinct at every dedup tier, so the
    // depth curve measures what it claims to.
    val k = args.lift(1).map(_.toInt).getOrElse(1)
    // Optional 3rd arg: declare an epoch fence every N appends
    // ([[CorpusPipeline.fence]]) — the bounded-takedown configuration.
    // With fences, the delete must re-pack only the epochs holding
    // changed documents; affected_batches at any depth is bounded by
    // one epoch's batch count instead of corpus-past-victim.
    val fenceEvery = args.lift(2).map(_.toInt).getOrElse(0)
    val spark = EngineSession()
    import spark.implicits._
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val docs0 = Tables(spark, dir, "documents")
    val docs = if (k <= 1) docs0 else ProbeCorpus.salted(docs0, k)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val bench = docs.filter(col("doc_id") % 5 === 0)
    val emb = Tables(spark, dir, "embeddings")
      .filter(col("vec_id") % 5 =!= 0)
    val maxId = corpus.agg(max(col("doc_id"))).head.getLong(0)
    val minId = corpus.agg(min(col("doc_id"))).head.getLong(0)

    def build(name: String): CorpusPipeline.FullState = {
      val st = CorpusPipeline.FullState(name)
      val c50 = minId + (maxId - minId) / 2
      CorpusPipeline.buildHistoryFull(spark,
        corpus.filter(col("doc_id") <= c50),
        emb.filter(col("vec_id") <= c50), bench,
        "doc_id", "text", "vec_id", "embedding", st)
      val step = (maxId - c50) / 10 + 1
      (0 until 10).foreach { i =>
        val lo = c50 + i * step
        val hi = math.min(c50 + (i + 1) * step, maxId)
        if (lo < hi) {
          if (fenceEvery > 0 && i % fenceEvery == 0)
            CorpusPipeline.fence(spark, st.base)
          CorpusPipeline.appendBatchFull(spark,
            corpus.filter(col("doc_id") > lo && col("doc_id") <= hi),
            emb.filter(col("vec_id") > lo && col("vec_id") <= hi),
            "doc_id", "text", "vec_id", "embedding", st, f"b$i%02d")
          Caches.releaseAll()
        }
      }
      st
    }

    Seq(0.9, 0.5, 0.1).foreach { depth =>
      val st = build(f"takedown_probe_${(depth * 100).toInt}%02d")
      val nBatches = spark.table(st.base.shardsRel)
        .select(col("batch_id")).distinct().count()
      val cutoff = minId + ((maxId - minId) * depth).toLong
      // The quality survivor nearest the target depth (doc_meta holds
      // every quality survivor; any other pick might be a no-op).
      val victim = spark.table(st.base.metaRel)
        .filter(col("doc_id") >= cutoff)
        .agg(min(col("doc_id"))).head.getLong(0)
      val ((nFam, affected, emptied), wall) = time {
        CorpusPipeline.deleteFull(spark, st,
          Seq(victim).toDF("doc_id"), emb, "vec_id", "embedding")
      }
      Caches.releaseAll()
      println(s"""{"probe":"takedown_depth","sf_dir":"$dir","k":$k,""" +
        s""""fence_every":$fenceEvery,""" +
        s""""depth_pct":${(depth * 100).toInt},"victim":$victim,""" +
        s""""family":$nFam,"shard_batches":$nBatches,""" +
        s""""affected_batches":${affected.size},""" +
        s""""emptied_batches":${emptied.size},""" +
        s""""delete_wall_sec":$wall}""")
      CorpusPipeline.resetFull(spark, st)
    }
    spark.stop()
  }
}
