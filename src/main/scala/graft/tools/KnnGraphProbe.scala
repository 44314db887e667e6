package graft.tools

import graft.core.{EngineSession, Tables}
import graft.operators.Similarity

/** Scale probe for v23's k-NN graph (manual:
  * `runMain graft.tools.KnnGraphProbe <sfDir> [nlist] [nprobe]`):
  * times the graph build at a chosen coarse-bucket count, backing the
  * SCALEPROBE claim that candidate volume — Σ_b |b|·probes(b) — is
  * controlled by scaling nlist with the corpus (d19's autoK policy),
  * not by the corpus size itself. */
object KnnGraphProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    // "auto" (or omitted) exercises the DEFAULT autoNlist policy path —
    // the v24 gate's shape; a number pins the bucket count (v23's).
    val nlist = args.lift(1).filter(_ != "auto").map(_.toInt)
    val nprobe = args.lift(2).map(_.toInt).getOrElse(4)
    val spark = EngineSession()
    val emb = Tables(spark, dir, "embeddings")
    val n = emb.count()
    val t0 = System.nanoTime()
    val rows = Similarity
      .knnGraph(emb, "vec_id", "embedding", k = 3, nlist, nprobe)
      .count()
    val wall = (System.nanoTime() - t0) / 1e9
    // Candidate volume Σ_b |b|·probes — the metric the bucket policy
    // controls; at toy corpus sizes wall is overhead-dominated and
    // says nothing, candidates extrapolate.
    val cands = Similarity
      .knnGraphScored(emb, "vec_id", "embedding", nlist, nprobe)
      .count()
    println(f"vectors=$n%d nlist=${nlist.map(_.toString).getOrElse("auto=" + Similarity.autoNlist(n))}%s nprobe=$nprobe%d " +
      f"edges=$rows%d candidates=$cands%d wall=$wall%.2f s")
    spark.stop()
  }
}
