package graft.tools

import graft.core.{EngineSession, Tables}
import graft.operators.Dedup

/** Scale probe for d23's two-stage edit-verified fuzzy dedup (manual:
  * `runMain graft.tools.EditVerifyProbe <sfDir> [k] [salted|base]`).
  * `salted` replicates the corpus K× with [[ProbeCorpus.salted]] (the
  * stage-alive 10× instrument: replicas exact-distinct, jaccard 0
  * across replicas, internal dup structure preserved); `base` probes
  * the directory as-is (pass a ReplicateSf dir for the exact-replica
  * degenerate case — every within-cluster pair byte-identical, the
  * short-circuit's stress test). Reports wall and the verified-pair
  * count, so SCALEPROBE.md rows carry output volume next to time. */
object EditVerifyProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = args.lift(1).map(_.toInt).getOrElse(1)
    val mode = args.lift(2).getOrElse("base")
    val spark = EngineSession()
    val base = Tables(spark, dir, "documents")
    val docs = mode match {
      case "salted" if k > 1 => ProbeCorpus.salted(base, k)
      case _ => base
    }
    val n = docs.count()
    val t0 = System.nanoTime()
    val pairs = Dedup
      .editVerifiedPairs(docs, "doc_id", "text", maxDistPct = 20)
      .count()
    val wall = (System.nanoTime() - t0) / 1e9
    println(f"docs=$n%d mode=$mode k=$k verified_pairs=$pairs%d " +
      f"wall=$wall%.2f s")
    spark.stop()
  }
}
