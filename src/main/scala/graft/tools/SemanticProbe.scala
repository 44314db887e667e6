package graft.tools

import graft.core.{Caches, EngineSession}
import graft.operators.Similarity

/** Scale probe for d13 semantic dedup: the recipe's cost knob is k —
  * within-cluster candidate pairs shrink as O(N²/k) while the row-local
  * assignment pass grows only linearly in k, so a corpus 10× bigger
  * should run with k 10× bigger at roughly flat per-row cost (SemDeDup
  * itself used k ≈ 11k on LAION). The gate pins k=10 for the oracle;
  * this probe measures the k-scaling claim on the replicated corpus.
  *
  * Usage: runMain graft.tools.SemanticProbe <embDir> <k1,k2,...>
  */
object SemanticProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val ks = args.lift(1).getOrElse("10,32").split(",").map(_.trim.toInt)
    val spark = EngineSession()
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val n = emb.count()
    ks.foreach { k =>
      // min-of-2 passes; the first absorbs JIT/datasource warmup.
      val (wall, dropped) = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        val d = Similarity
          .semanticDedup(emb, "vec_id", "embedding", k, iters = 3,
            threshold = 0.45)
          .filter(!org.apache.spark.sql.functions.col("keep")).count()
        Caches.releaseAll()
        ((System.nanoTime() - t0) / 1e9, d)
      }.minBy(_._1)
      println(f"SEMPROBE n=$n k=$k%-4d wall=$wall%.2fs dropped=$dropped")
    }
    // Store amortization: build the frozen-codebook store on the first
    // 80% of the id range, then time an increment (the last 4% / 16%)
    // against it vs the full rebuild the increment replaces.
    import org.apache.spark.sql.functions.{col, max}
    val maxId = emb.agg(max(col("vec_id"))).head().getLong(0)
    val store = graft.operators.SemanticStore("sem_probe")
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val k0 = ks.head
    val build = timed(graft.operators.SemanticStore.build(spark,
      emb.filter(col("vec_id") <= maxId * 4 / 5), "vec_id", "embedding",
      k0, 3, 0.45, store))
    val a16 = timed(graft.operators.SemanticStore.append(spark,
      emb.filter(col("vec_id") > maxId * 4 / 5 &&
        col("vec_id") <= maxId * 24 / 25),
      "vec_id", "embedding", store, "b1"))
    val a4 = timed(graft.operators.SemanticStore.append(spark,
      emb.filter(col("vec_id") > maxId * 24 / 25),
      "vec_id", "embedding", store, "b2"))
    val rebuild = timed(graft.operators.SemanticStore.build(spark,
      emb, "vec_id", "embedding", k0, 3, 0.45, store))
    graft.operators.SemanticStore.reset(spark, store)
    println(f"SEMSTORE n=$n k=$k0 build80=$build%.2fs append16=$a16%.2fs" +
      f" append4=$a4%.2fs rebuild_full=$rebuild%.2fs")
    spark.stop()
  }
}
