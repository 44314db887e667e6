package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.TopK
import graft.functions.TextFunctions

/** Hybrid retrieval — the fusion step every retrieval-for-curation
  * pipeline runs over its lexical and semantic arms: BM25 (the
  * [[PostingsStore]] / t24 scoring discipline) and embedding cosine
  * (the [[Similarity]] v-tier) each nominate a bounded top-N per
  * query, and RECIPROCAL-RANK FUSION (`Σ 1/(60 + rank)` over the arms
  * that ranked the document — Cormack et al., SIGIR 2009's
  * parameter-free standard) merges the two lists into one ranking.
  *
  * Exactness: RRF consumes only RANKS, and each arm's ranking is
  * already deterministic (6dp-rounded scores, doc_id ties). Each RRF
  * term is one IEEE double division `1.0 / (60 + rank)` — correctly
  * rounded and bit-identical across engines — and a document has at
  * most TWO terms, so the fused score is a single two-operand double
  * addition: no fold-order hazard, no decimal machinery needed.
  *
  * 100 TB shape: both arms are candidate-bounded BEFORE the fusion
  * join (top-N per query, N queries), so the fuse itself is a
  * full-outer equi-join between two (queries × N)-row frames — tiny by
  * construction regardless of corpus size. The lexical arm broadcasts
  * the query token set INTO the postings join (the t26 discipline: the
  * filter reaches the scan) and ranks with [[graft.core.TopK.perKey]]
  * (the [[PostingsStore.topK]] shape), whose partial WindowGroupLimit
  * keeps at most k rows per query per map partition before the
  * shuffle, so a stop-word-grade query term never lands df(term) rows
  * in one sort task.
  */
object HybridRetrieval {

  /** The RRF rank constant (k = 60, the published default). */
  val RrfK = 60

  /** BM25 "more-like-this": score every document against each QUERY
    * DOCUMENT's distinct token set (the seed-doc retrieval shape a
    * curation pipeline runs to grow a topic slice), excluding the seed
    * itself, and keep the top `k` per query — `(qid, doc_id,
    * rank_lex)`. Scoring is t24's Okapi BM25 verbatim (k1 = 1.2,
    * b = 0.75, one identically-parenthesized double expression rounded
    * at 6dp); the per-document score sums its per-term contributions
    * as EXACT decimal(18,6) — order-independent, so 32 partitions and
    * one DuckDB scan agree to the bit. */
  def bm25MoreLikeThis(docs: DataFrame, idCol: String, textCol: String,
      queryIds: DataFrame, k: Int): DataFrame = {
    val base = docs.filter(length(trim(col(textCol))) > 0)
    val tf = base
      .select(col(idCol).as("doc_id"),
        explode(TextFunctions.tokens(col(textCol))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(
      count(lit(1)).cast("double").as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    // Query token sets: the seeds' distinct tokens — a small frame
    // (queries × their vocabulary) that BROADCASTS into the postings
    // join, so only matching tokens' postings rows ever shuffle.
    val qtok = tf
      .join(broadcast(queryIds.select(col("qid"))),
        col("doc_id") === col("qid"), "left_semi")
      .select(col("doc_id").as("qid"), col("token")).distinct()
    // Global df restricted to the query vocabulary (broadcast-sized).
    val dfT = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
      .join(qtok.select(col("token")).distinct(), Seq("token"),
        "left_semi")
    val cand = tf
      .join(broadcast(qtok), Seq("token"))
      .filter(col("doc_id") =!= col("qid"))
    val scored = cand
      .join(broadcast(dfT), "token")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .select(col("qid"), col("doc_id"),
        round(log((col("n_docs") - col("df") + 0.5) /
            (col("df") + 0.5) + 1.0) *
          ((col("tf") * 2.2) /
            (col("tf") + lit(1.2) *
              (lit(1.0) - 0.75 + lit(0.75) * col("dl") / col("avgdl")))),
          6).cast("decimal(18,6)").as("term_score"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("term_score")).as("score"))
    TopK.perKey(scored, Seq(col("qid")),
        Seq(col("score").desc, col("doc_id")), k, "rank_lex")
      .select(col("qid"), col("doc_id"), col("score"),
        col("rank_lex"))
  }

  /** Reciprocal-rank fusion of two per-query rankings — `lex(qid,
    * doc_id, rank_lex)` and `vec(qid, doc_id, rank_vec)` — into the
    * top `k` fused results per query: `(qid, rk, doc_id, rrf,
    * rank_lex, rank_vec)`, absent-arm ranks reported as 0. The final
    * per-qid window runs over ≤ |lex| + |vec| rows per query — bounded
    * by the arms' own k, never by the corpus. */
  def rrfFuse(lex: DataFrame, vec: DataFrame, k: Int): DataFrame = {
    val fused = lex
      .join(vec, Seq("qid", "doc_id"), "full_outer")
      .select(col("qid"), col("doc_id"),
        round(
          coalesce(lit(1.0) / (lit(RrfK) + col("rank_lex")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + col("rank_vec")), lit(0.0)),
          6).as("rrf"),
        coalesce(col("rank_lex"), lit(0)).cast("long").as("rank_lex"),
        coalesce(col("rank_vec"), lit(0)).cast("long").as("rank_vec"))
    TopK.perKey(fused, Seq(col("qid")),
        Seq(col("rrf").desc, col("doc_id")), k, "rk")
      .select(col("qid"), col("rk"), col("doc_id"), col("rrf"),
        col("rank_lex"), col("rank_vec"))
  }

  /** Score-INTERPOLATION fusion — the other standard hybrid merge
    * (convex score blend; see Bruch et al., "An Analysis of Fusion
    * Functions for Hybrid Retrieval", TOIS 2023): each arm's scores
    * are min-max normalized WITHIN its per-query candidate list, and
    * the fused score is the equal-weight blend `(nl + nv) / 2` with an
    * absent arm contributing 0. Inputs are `lex(qid, doc_id, score)`
    * (exact-decimal BM25) and `vec(qid, doc_id, sim)` (6dp cosine).
    *
    * Exactness: per-arm min/max over a ≤ k-row deterministic list pick
    * existing values (no arithmetic); the normalization is ONE decimal
    * subtraction (exact) cast to double, one IEEE division, rounded at
    * 12dp; the blend is one addition of two 12dp doubles and an exact
    * halving, rounded at 6dp — every step correctly rounded and
    * replayable. Degenerate lists (max = min, e.g. a single candidate)
    * normalize to 1.0 by convention on BOTH engines.
    *
    * 100 TB shape: like [[rrfFuse]], everything downstream of the arms
    * is (queries × k)-sized — the min/max aggregate, the join-back,
    * the full-outer fuse and the final window never see the corpus. */
  def interpolateFuse(lex: DataFrame, vec: DataFrame,
      k: Int): DataFrame = {
    val ln = minMaxNorm(lex, col("score"), "nl")
    val vn = minMaxNorm(vec, col("sim"), "nv")
    val fused = ln.select(col("qid"), col("doc_id"), col("nl"))
      .join(vn.select(col("qid"), col("doc_id"), col("nv")),
        Seq("qid", "doc_id"), "full_outer")
      .select(col("qid"), col("doc_id"),
        round((coalesce(col("nl"), lit(0.0)) +
          coalesce(col("nv"), lit(0.0))) / lit(2.0), 6).as("mix"),
        round(coalesce(col("nl"), lit(0.0)), 6).as("norm_lex"),
        round(coalesce(col("nv"), lit(0.0)), 6).as("norm_vec"))
    TopK.perKey(fused, Seq(col("qid")),
        Seq(col("mix").desc, col("doc_id")), k, "rk")
      .select(col("qid"), col("rk"), col("doc_id"), col("mix"),
        col("norm_lex"), col("norm_vec"))
  }

  /** Per-qid min-max normalization of `score` into 12dp `out` — over
    * the arm's ALREADY-BOUNDED candidate list, so the aggregate and
    * join-back are (queries × k)-row operations. */
  private def minMaxNorm(arm: DataFrame, score: Column,
      out: String): DataFrame = {
    val mm = arm.groupBy(col("qid"))
      .agg(min(score).as("mn"), max(score).as("mx"))
    arm.join(mm, "qid")
      .withColumn(out,
        when(col("mx") > col("mn"),
          round((score - col("mn")).cast("double") /
            (col("mx") - col("mn")).cast("double"), 12))
        .otherwise(lit(1.0)))
  }
}
