package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted, incrementally-maintained SPAN-dedup state — the
  * [[DedupStore]]/[[SemanticStore]] lifecycle applied to the substring
  * tier ([[Dedup.spanDedup]]): a daily crawl rewrites *today's batch
  * against yesterday's grams* instead of re-indexing the accumulated
  * corpus. The store is one engine-managed table:
  *
  *  - `span_grams(gh, doc_id, i, batch_id)` — every k-gram OCCURRENCE
  *    the corpus holds, partition-per-batch. The increment only needs
  *    gram EXISTENCE (a distinct-gh probe), but takedowns need
  *    ownership: removing a document must let spans whose only earlier
  *    copy lived in the victim RESURRECT in their next owner (d15's
  *    stale-evidence story for the span tier), and that repair is a
  *    first-occurrence recompute over the surviving rows — impossible
  *    from an existence set. One row per window start ≈ tokenized-
  *    corpus scale, the explicit storage price of repairable deletion.
  *
  * Appends are prefix-stable under id-ordered batches (a new document's
  * (doc_id, start) can never undercut history's), so history documents
  * NEVER rewrite — the same append-stability contract as the pipeline's
  * predecessor rule (CorpusPipeline, p02). Callers append batches with
  * ids above history's. Work per increment is batch-proportional: the
  * batch's gram starts probe the store's distinct hashes with one join
  * on the 16-byte md5, batch-internal firsts come from the batch's own
  * grams, and the batch writes exactly its own partition — replaying a
  * batch (crash recovery) overwrites only itself.
  *
  * Invariants: after N appends, each batch's rewrite equals the
  * one-shot [[Dedup.spanDedup]] over the UNION restricted to that
  * batch's documents (gate d21); after a [[delete]], [[rewriteFrom]]
  * over the survivors equals the one-shot pass over a corpus that never
  * contained the victims (gate d22).
  */
final case class SpanStore(schemaName: String) {
  val gramsRel: String = s"$schemaName.span_grams"
}

object SpanStore {

  /** Drop the store — a fresh start for gates/specs. */
  def reset(spark: SparkSession, store: SpanStore): Unit =
    BatchCommit.mat.dropRelation(spark, store.gramsRel)

  /** Full (re)build: the corpus as batch zero. Returns the corpus's
    * rewrite (the one-shot [[Dedup.spanDedup]]) and stores its gram
    * occurrences. */
  def build(spark: SparkSession, corpus: DataFrame, idCol: String,
      textCol: String, k: Int, store: SpanStore,
      batchId: String = "base"): DataFrame = {
    reset(spark, store)
    val grams = Dedup.spanGramStarts(
      Dedup.spanTokens(corpus, idCol, textCol), k)
    BatchCommit.write(spark, batchId, store.gramsRel -> grams)
    Dedup.spanDedup(corpus, idCol, textCol, k)
  }

  /** Incremental append: rewrite `batch` against history + itself and
    * persist the batch's gram occurrences. A gram start is duplicate
    * iff its hash exists in the store (history always precedes the
    * batch) OR an earlier (doc_id, start) within the batch owns it. */
  def appendBatch(spark: SparkSession, batch: DataFrame, idCol: String,
      textCol: String, k: Int, store: SpanStore,
      batchId: String): DataFrame = {
    val toks = Dedup.spanTokens(batch, idCol, textCol)
    val grams = graft.core.Caches.persist(Dedup.spanGramStarts(toks, k))
    // The returned rewrite is lazy: the replay read pins history by name,
    // so a plan run after a LATER append never sees that append's grams.
    val known = BatchCommit.without(spark, store.gramsRel, batchId)
      .select(col("gh")).distinct()
      .withColumn("in_store", lit(true))
    val withStore = grams.join(known, Seq("gh"), "left")
    val dupStarts = withStore
      .join(Dedup.spanFirstOccurrences(grams), col("gh") === col("gh2"))
      .filter(coalesce(col("in_store"), lit(false)) ||
        !(col("doc_id") === col("fd") && col("i") === col("fs")))
    val rewritten = Dedup.spanRewrite(toks, dupStarts, k)
    BatchCommit.write(spark, batchId, store.gramsRel -> grams)
    rewritten
  }

  /** Takedown: remove every gram occurrence owned by `ids` (one
    * `doc_id` column), rewriting only the batch partitions that hold
    * victim rows and dropping emptied ones ([[StoreRetention]]'s
    * contract). First-ownership repairs itself: [[rewriteFrom]] derives
    * verdicts from the surviving rows, so a span whose only earlier
    * copy lived in a victim resurfaces in its next owner. Idempotent. */
  def delete(spark: SparkSession, store: SpanStore,
      ids: DataFrame): StoreRetention.DeleteStats =
    StoreRetention.deleteRows(spark, store.gramsRel, ids,
      Seq((t, v) => t("doc_id") === v("doc_id")))

  /** The store as the source of truth: rewrite `docs` (which must be
    * exactly the corpus the store currently indexes — the survivors,
    * after any deletes) from the PERSISTED occurrences. Gram hashing is
    * not recomputed; only tokenization for the row-local reconstruction
    * re-touches text. */
  def rewriteFrom(spark: SparkSession, docs: DataFrame, idCol: String,
      textCol: String, k: Int, store: SpanStore): DataFrame = {
    val occ = spark.table(store.gramsRel)
      .select(col("doc_id"), col("i"), col("gh"))
    val dupStarts = occ
      .join(Dedup.spanFirstOccurrences(occ), col("gh") === col("gh2"))
      .filter(!(col("doc_id") === col("fd") && col("i") === col("fs")))
    Dedup.spanRewrite(Dedup.spanTokens(docs, idCol, textCol), dupStarts, k)
  }
}
