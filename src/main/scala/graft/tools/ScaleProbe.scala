package graft.tools

import org.apache.spark.sql.functions._
import graft.core.{EngineSession, Tables}
import graft.operators.{Dedup, Similarity}

/** Scale probe: replicate the corpus K× (ids offset, so every replica is
  * a planted near-duplicate cluster) and time the dedup/similarity
  * operators — checks the candidate-generation stages grow ~linearly with
  * corpus size rather than quadratically. Run manually:
  * `runMain graft.tools.ScaleProbe <sfDir> <K> [label substring]`, e.g.
  * `… 10 knn` for the k-NN graph candidate counts alone.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = args.lift(1).map(_.toInt).getOrElse(10)
    // Optional label filter (substring) — probe one operator at a high K
    // without paying for the whole suite.
    val only = args.lift(2)
    val spark = EngineSession()
    def t(label: String)(f: => Unit): Unit = {
      if (only.forall(label.contains)) {
        val t0 = System.nanoTime()
        f
        println(f"$label%-30s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
        // Each pipeline registers persists (shingle/cluster caches); left
        // resident they'd pressure every LATER stage's timing at K× scale
        // — exactly the linear-vs-quadratic signal this probe measures.
        graft.core.Caches.releaseAll()
      }
    }
    val docs0 = Tables(spark, dir, "documents")
    val n0 = docs0.count()
    val docs = (0 until k).map { i =>
      docs0.select((col("doc_id") + lit(i * 1000000L)).as("doc_id"),
        col("text"), col("n_chars"))
    }.reduce(_ union _).repartition(32).persist()
    println(s"corpus: ${docs.count()} docs (${k}x $n0)")

    t(s"exact dedup x$k")(
      println("  kept=" + Dedup.exactMarked(docs, "doc_id", "text")
        .filter(col("kept")).count()))
    t(s"minhash LSH x$k")(
      println("  pairs=" + Dedup
        .minhashLshPairs(docs, "doc_id", "text", 0.6).count()))
    t(s"jaccard prefix x$k")(
      println("  pairs=" + Dedup
        .jaccardPairs(docs, "doc_id", "text", 0.6).count()))
    t(s"simhash x$k")(
      println("  pairs=" + Dedup
        .simhashPairs(docs, "doc_id", "text", 0.6).count()))
    t(s"dup clusters x$k")(
      println("  docs=" + Dedup
        .duplicateClusters(docs, "doc_id", "text", 0.6).count()))
    t(s"containment x$k")(
      println("  pairs=" + Dedup
        .containmentPairs(docs, "doc_id", "text", 0.8).count()))
    t(s"canonical keep x$k")(
      println("  kept=" + Dedup
        .canonicalKeep(docs, "doc_id", "text", "n_chars", 0.6)
        .filter(col("keep")).count()))
    t(s"cross contamination x$k")(
      println("  pairs=" + Dedup
        .crossCorpusPairs(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1),
          "doc_id", "text", 0.6).count()))
    t(s"benchmark decontam x$k")(
      println("  contaminated=" + Dedup
        .benchmarkContamination(
          docs.filter(col("doc_id") % 5 =!= 0),
          docs.filter(col("doc_id") % 5 === 0),
          "doc_id", "text")
        .filter(col("contaminated")).count()))

    val emb0 = Tables(spark, dir, "embeddings")
    val emb = (0 until k).map { i =>
      emb0.select((col("vec_id") + lit(i * 1000000L)).as("vec_id"),
        col("embedding"), col("label"))
    }.reduce(_ union _).repartition(32).persist()
    println(s"vectors: ${emb.count()}")
    val queries = emb.filter(col("vec_id") < 25)
    t(s"ivf topk x$k")(
      println("  rows=" + Similarity
        .ivfTopK(emb, queries, "vec_id", "embedding", 5).count()))
    t(s"lsh topk x$k")(
      println("  rows=" + Similarity
        .lshTopK(emb, queries, "vec_id", "embedding", 5).count()))
    t(s"int8 topk x$k")(
      println("  rows=" + Similarity
        .quantizedTopK(emb, queries, "vec_id", "embedding", 5).count()))
    t(s"pq topk x$k")(
      println("  rows=" + Similarity
        .pqTopK(emb, queries, "vec_id", "embedding", 5).count()))
    t(s"ivfpq topk x$k")(
      println("  rows=" + Similarity
        .ivfPqTopK(emb, queries, "vec_id", "embedding", 5).count()))
    t(s"near-dup pairs x$k")(
      println("  pairs=" + Similarity
        .nearDupPairs(emb, "vec_id", "embedding", 0.45).count()))
    // k-NN graph at v23's shape (nlist pinned to 16) and v24's (the
    // autoNlist policy). Candidates = Σ_b |b|·probes(b), the volume the
    // bucket policy controls: at fixed nlist it grows with the square of
    // the data, under autoNlist linearly.
    for ((shape, nlist) <- Seq("nlist=16" -> Some(16), "auto" -> None))
      t(s"knn graph $shape x$k")(
        println("  edges=" + Similarity
          .knnGraph(emb, "vec_id", "embedding", k = 3, nlist, nprobe = 4)
          .count() + " candidates=" + Similarity
          .knnGraphScored(emb, "vec_id", "embedding", nlist, nprobe = 4)
          .count()))
    spark.stop()
  }
}
