package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.CatalogMaterializer

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

  private def mat = new CatalogMaterializer

  /** Drop the store — a fresh start for gates/specs. */
  def reset(spark: SparkSession, store: SpanStore): Unit =
    mat.dropRelation(spark, store.gramsRel)

  /** Full (re)build: the corpus as batch zero. Returns the corpus's
    * rewrite (the one-shot [[Dedup.spanDedup]]) and stores its gram
    * occurrences. */
  def build(spark: SparkSession, corpus: DataFrame, idCol: String,
      textCol: String, k: Int, store: SpanStore,
      batchId: String = "base"): DataFrame = {
    reset(spark, store)
    val grams = Dedup.spanGramStarts(
      Dedup.spanTokens(corpus, idCol, textCol), k)
    writeBatch(spark, store, batchId, grams)
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
    // The history snapshot is pinned BY NAME at call time (one driver
    // row per batch — bounded): the returned rewrite is lazy, and a
    // plain =!= batchId exclusion would let a plan executed after a
    // LATER append see future batches' grams — marking this batch's
    // first occurrences duplicate against documents that come after it.
    // Pinning also excludes this batchId's own half-written partition
    // on crash replay; both filters partition-prune.
    val existing = spark.table(store.gramsRel)
      .select(col("batch_id")).distinct().collect()
      .map(_.getString(0)).toSeq.filterNot(_ == batchId)
    val known = spark.table(store.gramsRel)
      .filter(col("batch_id").isin(existing: _*))
      .select(col("gh")).distinct()
      .withColumn("in_store", lit(true))
    val withStore = grams.join(known, Seq("gh"), "left")
    val dupStarts = withStore
      .join(Dedup.spanFirstOccurrences(grams), col("gh") === col("gh2"))
      .filter(coalesce(col("in_store"), lit(false)) ||
        !(col("doc_id") === col("fd") && col("i") === col("fs")))
    val rewritten = Dedup.spanRewrite(toks, dupStarts, k)
    writeBatch(spark, store, batchId, grams)
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

  private def writeBatch(spark: SparkSession, store: SpanStore,
      batchId: String, grams: DataFrame): Unit = {
    // Clear-then-write: dynamic overwrite with an empty increment
    // touches nothing, so a replay whose recompute came up empty would
    // otherwise keep stale rows (the DedupStore contract).
    mat.dropPartition(spark, store.gramsRel, "batch_id", batchId)
    mat.materializeIncremental(spark, store.gramsRel,
      grams.withColumn("batch_id", lit(batchId)), Seq("batch_id"))
  }
}
