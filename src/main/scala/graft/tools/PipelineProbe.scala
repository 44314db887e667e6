package graft.tools

import org.apache.spark.sql.functions._

import graft.core.{Caches, EngineSession, Tables}
import graft.operators.CorpusPipeline

/** Amortization probe for the composed corpus pipeline (not part of the
  * driver contract; run manually:
  * `runMain graft.tools.PipelineProbe <sfDir>`).
  *
  * Question: once the pipeline state (doc_meta + dedup store + shard
  * manifest) is built, does pushing a new batch through ALL five stages
  * cost ∝ batch, or does some stage still pay an accumulated-corpus
  * term? Method: bootstrap on the first 80% of the id range, then time
  * appends of a ~4% and a ~16% id-range slice (the predecessor rule's
  * ordering contract) against the one-shot full recompute. Emits one
  * JSON line for SCALEPROBE.md.
  */
object PipelineProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    // Optional 2nd arg K: run the FULL-RECIPE section over a K×
    // word-salted replica corpus ([[ProbeCorpus.salted]]) so appended
    // batches carry real survivors through stages 3-6 (ReplicateSf's
    // exact replicas die at the exact-dedup stage and the later
    // stages see empty batches — the round-10 caveat).
    val k = args.lift(1).map(_.toInt).getOrElse(1)
    val spark = EngineSession()
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val docs = Tables(spark, dir, "documents")
    val n = docs.count()
    val maxId = docs.agg(max(col("doc_id"))).head.getLong(0)
    val c80 = maxId * 4 / 5
    val c84 = maxId * 21 / 25
    // Two full passes, min per phase: the first pass's first heavy
    // action absorbs JIT/datasource warmup (observed 2.5× on the build
    // phase), and local walls swing ±20% — the min is the plan's cost
    // (the CompactionProbe lesson).
    var buildS, smallS, largeS, rebuildS, fullS = Double.MaxValue
    var merged, oneShot = 0L
    (1 to 2).foreach { pass =>
      val st = CorpusPipeline.State(s"pipeline_probe_$pass")
      val (_, b) = time {
        CorpusPipeline.buildHistory(spark,
          docs.filter(col("doc_id") <= c80), "doc_id", "text", st)
      }
      Caches.releaseAll()
      val (_, sm) = time {
        CorpusPipeline.appendBatch(spark,
          docs.filter(col("doc_id") > c80 && col("doc_id") <= c84),
          "doc_id", "text", st, "b_small")
      }
      Caches.releaseAll()
      val (_, lg) = time {
        CorpusPipeline.appendBatch(spark,
          docs.filter(col("doc_id") > c84), "doc_id", "text", st,
          "b_large")
      }
      Caches.releaseAll()
      val (os, f) = time {
        CorpusPipeline.manifest(docs, "doc_id", "text").count()
      }
      Caches.releaseAll()
      // The no-store alternative an increment replaces: re-running the
      // WHOLE pipeline with all state writes. This — not the count-only
      // one-shot above — is the apples-to-apples amortization baseline
      // (appends pay five table commits; so does the rebuild).
      val st2 = CorpusPipeline.State(s"pipeline_probe_rebuild_$pass")
      val (_, rb) = time {
        CorpusPipeline.buildHistory(spark, docs, "doc_id", "text", st2)
      }
      Caches.releaseAll()
      merged = CorpusPipeline.readManifest(spark, st).count()
      oneShot = os
      buildS = math.min(buildS, b); smallS = math.min(smallS, sm)
      largeS = math.min(largeS, lg); rebuildS = math.min(rebuildS, rb)
      fullS = math.min(fullS, f)
      CorpusPipeline.reset(spark, st)
      CorpusPipeline.reset(spark, st2)
    }
    println(s"""{"probe":"corpus_pipeline","sf_dir":"$dir","n_docs":$n,""" +
      s""""build_80pct_sec":$buildS,""" +
      s""""append_4pct_sec":$smallS,"append_16pct_sec":$largeS,""" +
      s""""rebuild_full_sec":$rebuildS,"one_shot_count_sec":$fullS,""" +
      s""""incremental_packs":$merged,"one_shot_packs":$oneShot}""")

    // ---- FULL recipe (p07/p08): the seven-table state — five base
    // tables plus the frozen-codebook semantic store and the persisted
    // benchmark gram table. Same question, two more stages: does the
    // append still track the batch once semantic assignment (row-local
    // vs frozen centroids + cluster-scoped store probe) and decontam
    // (equi-join against a FIXED gram table) join the per-increment
    // path?
    val fDocs = if (k <= 1) docs else ProbeCorpus.salted(docs, k)
    val corpus = fDocs.filter(col("doc_id") % 5 =!= 0)
    val bench = fDocs.filter(col("doc_id") % 5 === 0)
    val emb = Tables(spark, dir, "embeddings")
      .filter(col("vec_id") % 5 =!= 0)
    val fMax = corpus.agg(max(col("doc_id"))).head.getLong(0)
    val f80 = fMax * 4 / 5
    val f84 = fMax * 21 / 25
    var fBuildS, fSmallS, fLargeS, fRebuildS = Double.MaxValue
    var fMerged = 0L
    (1 to 2).foreach { pass =>
      val st = CorpusPipeline.FullState(s"full_probe_$pass")
      def slice(lo: Long, hi: Long) =
        (corpus.filter(col("doc_id") > lo && col("doc_id") <= hi),
          emb.filter(col("vec_id") > lo && col("vec_id") <= hi))
      val (_, b) = time {
        CorpusPipeline.buildHistoryFull(spark,
          corpus.filter(col("doc_id") <= f80),
          emb.filter(col("vec_id") <= f80), bench,
          "doc_id", "text", "vec_id", "embedding", st)
      }
      Caches.releaseAll()
      val (dS, eS) = slice(f80, f84)
      val (_, sm) = time { CorpusPipeline.appendBatchFull(spark, dS, eS,
        "doc_id", "text", "vec_id", "embedding", st, "b_small") }
      Caches.releaseAll()
      val (dL, eL) = slice(f84, fMax)
      val (_, lg) = time { CorpusPipeline.appendBatchFull(spark, dL, eL,
        "doc_id", "text", "vec_id", "embedding", st, "b_large") }
      Caches.releaseAll()
      val st2 = CorpusPipeline.FullState(s"full_probe_rebuild_$pass")
      val (_, rb) = time {
        CorpusPipeline.buildHistoryFull(spark, corpus, emb, bench,
          "doc_id", "text", "vec_id", "embedding", st2)
      }
      Caches.releaseAll()
      fMerged = CorpusPipeline.readManifest(spark, st.base).count()
      fBuildS = math.min(fBuildS, b); fSmallS = math.min(fSmallS, sm)
      fLargeS = math.min(fLargeS, lg); fRebuildS = math.min(fRebuildS, rb)
      CorpusPipeline.resetFull(spark, st)
      CorpusPipeline.resetFull(spark, st2)
    }
    println(s"""{"probe":"full_recipe_pipeline","sf_dir":"$dir","k":$k,""" +
      s""""build_80pct_sec":$fBuildS,""" +
      s""""append_4pct_sec":$fSmallS,"append_16pct_sec":$fLargeS,""" +
      s""""rebuild_full_sec":$fRebuildS,"packs":$fMerged}""")
    spark.stop()
  }
}
