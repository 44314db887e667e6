package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Caches, EngineSession, Tables}
import graft.operators.{Dedup, DedupStore}

/** Amortization probe for the persisted dedup store (not part of the
  * driver contract; run manually:
  * `runMain graft.tools.StoreProbe <sfDir>`).
  *
  * Question it answers with numbers: once the store is built, does
  * appending a batch cost ∝ batch (the production claim), or does some
  * hidden term still scale with the accumulated corpus? Method: build
  * the store on 80% of `documents`, then time appends of a ~4% and a
  * ~16% batch (disjoint doc_id slices) plus the one-shot full
  * recompute, and compare walls. Emits one JSON line for SCALEPROBE.md.
  */
object StoreProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = EngineSession()
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val docs = Tables(spark, dir, "documents")
    val n = docs.count()
    // Disjoint slices on doc_id % 25: 20/25 corpus, 1/25 small batch,
    // 4/25 large batch.
    def slice(p: Column => Column): DataFrame =
      docs.filter(p(pmod(col("doc_id"), lit(25))))
    val corpus = slice(_ >= 5)
    val small = slice(_ === 0)
    val large = slice(m => m >= 1 && m <= 4)
    val store = DedupStore("dedup_store_probe")
    DedupStore.reset(spark, store)
    val (_, buildS) = time {
      DedupStore.build(spark, corpus, "doc_id", "text", 0.6, store)
    }
    Caches.releaseAll()
    // Compute-only delta (what scales with store growth) vs full append
    // (adds the three partition commits — IO ∝ batch by construction).
    val (smallDelta, smallDeltaS) = time {
      DedupStore.deltaPairs(spark, small, "doc_id", "text", 0.6, store,
        "small").count()
    }
    Caches.releaseAll()
    val (_, smallS) = time {
      DedupStore.appendBatch(spark, small, "doc_id", "text", 0.6, store,
        "small").count()
    }
    Caches.releaseAll()
    val (largeDelta, largeDeltaS) = time {
      DedupStore.deltaPairs(spark, large, "doc_id", "text", 0.6, store,
        "large").count()
    }
    Caches.releaseAll()
    val (_, largeS) = time {
      DedupStore.appendBatch(spark, large, "doc_id", "text", 0.6, store,
        "large").count()
    }
    Caches.releaseAll()
    val (fullPairs, fullS) = time {
      Dedup.minhashLshPairs(docs, "doc_id", "text", 0.6).count()
    }
    Caches.releaseAll()
    val storePairs = DedupStore.allPairs(spark, store).count()
    println(s"""{"probe":"dedup_store","sf_dir":"$dir","n_docs":$n,""" +
      s""""build_80pct_sec":$buildS,""" +
      s""""delta_4pct_sec":$smallDeltaS,"append_4pct_sec":$smallS,""" +
      s""""delta_16pct_sec":$largeDeltaS,"append_16pct_sec":$largeS,""" +
      s""""one_shot_full_sec":$fullS,""" +
      s""""delta_4pct_new_pairs":$smallDelta,""" +
      s""""delta_16pct_new_pairs":$largeDelta,""" +
      s""""store_total_pairs":$storePairs,"one_shot_pairs":$fullPairs}""")
    DedupStore.reset(spark, store)
    spark.stop()
  }
  private type Column = org.apache.spark.sql.Column
}
