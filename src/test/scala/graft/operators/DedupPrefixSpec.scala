package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** The rarest-shingle prefix filter behind [[Dedup.jaccardPairs]] and
  * [[Dedup.containmentPairs]] must keep every pair the exact verification
  * accepts: each operator equals a brute-force verification of ALL pairs
  * of the same shingle sets, including at thresholds where `t·n_sh` is
  * not an integer or rounds up past one in doubles (0.07 · 100 =
  * 7.000000000000001). */
class DedupPrefixSpec extends SparkSuite {
  import spark.implicits._

  /** Random documents over a small vocabulary, so shingle sets overlap at
    * every degree; every tenth document repeats an earlier one (exact
    * duplicates exercise the cluster collapse) and every seventh is a
    * prefix of an earlier one (near-subsets exercise containment). */
  private def corpus(seed: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val docs = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until 48).foreach { i =>
      docs += (if (i % 10 == 9) docs(rnd.nextInt(docs.size))
        else if (i % 7 == 6) {
          val w = docs(rnd.nextInt(docs.size)).split(" ")
          w.take(math.max(3, w.length / 2)).mkString(" ")
        } else Seq.fill(4 + rnd.nextInt(40))("w" + rnd.nextInt(7))
          .mkString(" "))
    }
    docs.toSeq.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
  }

  private def shingleSets(docs: DataFrame): Seq[(Long, Set[Long])] =
    Dedup.shingled(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toSet)).toSeq

  /** The verification's own compare (doubles), applied to all pairs —
    * no size prefilter, so an operator whose prefilter rejects a pair
    * the compare accepts differs from it. */
  private def bruteJaccard(docs: DataFrame, t: Double): Set[(Long, Long)] = {
    val sh = shingleSets(docs)
    (for {
      (a, sa) <- sh; (b, sb) <- sh if a < b
      inter = (sa & sb).size
      if inter.toDouble / (sa.size + sb.size - inter) >= t
    } yield (a, b)).toSet
  }

  private def bruteContainment(docs: DataFrame, t: Double)
      : Set[(Long, Long)] = {
    val sh = shingleSets(docs)
    (for {
      (a, sa) <- sh; (b, sb) <- sh if a != b
      if (sa & sb).size.toDouble / sa.size >= t
    } yield (a, b)).toSet
  }

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  for (t <- Seq(0.07, 0.6, 0.8); seed <- Seq(1, 2)) {
    test(s"jaccardPairs and containmentPairs equal all-pairs verification " +
        s"at t=$t (seed $seed)") {
      val docs = corpus(seed)
      try {
        val jac = bruteJaccard(docs, t)
        val con = bruteContainment(docs, t)
        assert(jac.nonEmpty && con.nonEmpty)
        assert(pairs(Dedup.jaccardPairs(docs, "doc_id", "text", t)) == jac)
        assert(pairs(Dedup.containmentPairs(docs, "doc_id", "text", t)) ==
          con)
      } finally graft.core.Caches.releaseAll()
    }
  }

  test("a containment at exactly t·|A| = 7 of 100 shingles survives the " +
      "prefix although 0.07 * 100 rounds up past 7 in doubles") {
    // A: 102 distinct words → 100 shingles. Its first 7 shingles are its
    // most frequent (B and three more documents repeat them), so they
    // sit at the END of A's rarest-first order: a prefix of 93 misses
    // them all, the exact prefix 100 − 7 + 1 = 94 keeps one.
    val a = (0 until 102).map("a" + _)
    def sharing(tag: String) =
      (a.take(9) ++ (0 until 6).map(i => s"$tag$i")).mkString(" ")
    val docs = Seq((1L, a.mkString(" ")), (2L, sharing("b")),
      (3L, sharing("c")), (4L, sharing("d")), (5L, sharing("e")))
      .toDF("doc_id", "text")
    try {
      assert(bruteContainment(docs, 0.07).contains((1L, 2L)))
      val got = Dedup.containmentPairs(docs, "doc_id", "text", 0.07)
      assert(got.filter(col("doc_a") === 1L && col("doc_b") === 2L)
        .select("containment").as[Double].collect().toSeq == Seq(0.07))
      assert(pairs(got) == bruteContainment(docs, 0.07))
    } finally graft.core.Caches.releaseAll()
  }

  test("a 7-shingle document inside a 100-shingle one is a jaccard and a " +
      "two-way containment pair at t = 0.07 although 0.07 * 100 rounds " +
      "up past 7 in doubles") {
    // 102 words → 100 shingles; its first 9 words → 7 shingles, all
    // inside the large document: jaccard 7/100, containment 7/100 one
    // way and 1 the other.
    val a = (0 until 102).map("a" + _)
    val docs = Seq((1L, a.mkString(" ")), (2L, a.take(9).mkString(" ")))
      .toDF("doc_id", "text")
    try {
      assert(shingleSets(docs).map(_._2.size).sorted == Seq(7, 100))
      assert(pairs(Dedup.jaccardPairs(docs, "doc_id", "text", 0.07)) ==
        Set((1L, 2L)))
      assert(pairs(Dedup.containmentPairs(docs, "doc_id", "text", 0.07)) ==
        Set((1L, 2L), (2L, 1L)))
    } finally graft.core.Caches.releaseAll()
  }
}
