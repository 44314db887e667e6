package graft.tools

import org.apache.spark.sql.functions._

import graft.core.{EngineSession, Tables}
import graft.operators.{Similarity, VectorIndex}

/** Amortization probe for the persisted ANN index (not part of the
  * driver contract; run manually: `runMain graft.tools.AnnProbe <sfDir>`).
  * Times: full index build (80% base), appending the remaining ~20% as
  * a delta (row-local encode + one partition commit), probing from the
  * persisted index, and the one-shot in-query IVF-PQ for reference.
  * Asserts the probe result matches the one-shot ranking row-for-row.
  */
object AnnProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = EngineSession()
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val emb = Tables(spark, dir, "embeddings")
    val n = emb.count()
    val isBatch = col("vec_id") % 5 === 0 && col("vec_id") >= 80
    val queries = emb.filter(col("vec_id") < 5)
    val index = VectorIndex("ann_probe")
    VectorIndex.reset(spark, index)
    val (_, buildS) = time {
      VectorIndex.build(spark, emb.filter(!isBatch), "vec_id",
        "embedding", index)
    }
    val (_, appendS) = time {
      VectorIndex.append(spark, emb.filter(isBatch), "vec_id",
        "embedding", index, "b1")
    }
    val (probed, probeS) = time {
      VectorIndex.topK(spark, queries, "vec_id", "embedding", index,
          k = 5)
        .orderBy(col("qid"), col("rn")).collect().toSeq.map(_.toSeq)
    }
    val (oneShot, oneShotS) = time {
      Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding", k = 5)
        .orderBy(col("qid"), col("rn")).collect().toSeq.map(_.toSeq)
    }
    require(probed == oneShot,
      "persisted-index probe diverged from the one-shot IVF-PQ")
    println(s"""{"probe":"ann_index","sf_dir":"$dir","n_vectors":$n,""" +
      s""""build_80pct_sec":$buildS,"append_20pct_sec":$appendS,""" +
      s""""probe_sec":$probeS,"one_shot_sec":$oneShotS,""" +
      s""""rows_match":true,"topk_rows":${probed.size}}""")
    VectorIndex.reset(spark, index)
    spark.stop()
  }
}
