package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted, incrementally-maintained duplicate-BLOCK state — the
  * lifecycle twin of [[Dedup.blockDedup]] (d29), the same discipline
  * every other dedup tier has ([[DedupStore]] d10, [[SpanStore]] d21):
  * a crawl lands daily snapshots, and each snapshot must excise blocks
  * already seen in HISTORY without ever re-reading history's text.
  *
  * Three engine-managed tables, partition-per-batch with dynamic
  * partition overwrite (replay-idempotent — a crashed ingest re-runs
  * its own batch and overwrites exactly its own partitions):
  *
  *  - `blocks(fp, batch_id)` — the distinct block fingerprints each
  *    batch INTRODUCED (16 bytes per novel block), the append path's
  *    one probe target;
  *  - `docs(id, n_blocks, kept_blocks, text_deduped, batch_id)` — each
  *    batch's reassembled output rows;
  *  - `occurrences(id, block_id, fp, block_text, batch_id)` — EVERY
  *    block occurrence each batch held, pre-excision. The append path
  *    never reads it; it exists for [[delete]]: a takedown must let a
  *    block whose canonical first occurrence lived in the victim
  *    RESURRECT at its next owner (the [[SpanStore]] d22 story at
  *    block granularity), and that repair is a first-occurrence
  *    recompute over the surviving occurrences — impossible from the
  *    introduced-fps existence set. Occurrence rows carry the block
  *    text so the repair is SELF-CONTAINED: a takedown rewrites the
  *    repaired docs from persisted state without re-reading any
  *    corpus text — the explicit storage price of repairable deletion
  *    (≈ one more copy of the cut corpus, same order as `docs`).
  *
  * Incremental contract: batches arrive in id order (later batches
  * carry larger doc ids — the crawl-snapshot convention), so
  * "canonical first occurrence" is the same ordering whether computed
  * one-shot over the union or batch-by-batch: a block seen in any
  * PRIOR batch excises every occurrence in this one (one semi-join
  * against the ≤ distinct-block-count fingerprint table); a block new
  * to this batch resolves its canonical occurrence batch-locally with
  * d29's min(struct) aggregate. The d29 oracle over the accumulated
  * corpus therefore verifies the whole history — append ≡ one-shot.
  */
final case class BlockStore(schemaName: String) {
  val blocksRel: String = s"$schemaName.blocks"
  val docsRel: String = s"$schemaName.docs"
  val occRel: String = s"$schemaName.occurrences"
}

object BlockStore {

  /** Drop all store tables — a fresh start for gates/specs. */
  def reset(spark: SparkSession, store: BlockStore): Unit =
    Seq(store.blocksRel, store.docsRel, store.occRel)
      .foreach(BatchCommit.mat.dropRelation(spark, _))

  /** Build: dedup the base corpus one-shot (exactly [[Dedup
    * .blockDedup]]) and seed the fingerprint table with every distinct
    * block the base corpus contains (kept OR excised — an excised
    * block was still SEEN, and a later batch repeating it must not
    * resurrect it as novel). REPLACES any existing store. */
  def build(spark: SparkSession, docs: DataFrame, idCol: String,
      textCol: String, blockWords: Int, store: BlockStore,
      batchId: String = "base"): Unit = {
    reset(spark, store)
    writeBatch(spark, docs, idCol, textCol, blockWords, store, batchId,
      priorFps = None)
  }

  /** Append one snapshot: occurrences of blocks already in the store
    * are excised outright; blocks new to this batch dedup batch-locally
    * (d29's min(struct) keeper), then land in the fingerprint table so
    * the NEXT batch sees them. Re-running a batchId overwrites exactly
    * its own partitions. */
  def append(spark: SparkSession, docs: DataFrame, idCol: String,
      textCol: String, blockWords: Int, store: BlockStore,
      batchId: String): Unit =
    // "Prior" is the replay read: an unfiltered read would excise a
    // replayed batch against its own crashed attempt's fingerprints
    // (StreamCrashReplaySpec kills exactly this seam).
    writeBatch(spark, docs, idCol, textCol, blockWords, store, batchId,
      priorFps = Some(BatchCommit.without(spark, store.blocksRel, batchId)
        .select(col("fp"))))

  /** The accumulated deduped corpus (every batch's output rows). */
  def deduped(spark: SparkSession, store: BlockStore): DataFrame =
    spark.table(store.docsRel)
      .select(col("id"), col("n_blocks"), col("kept_blocks"),
        col("text_deduped"))

  /** Fold closed batch partitions of all three tables into `compacted`
    * ([[StoreCompaction]]'s two-phase protocol; rows are unique across
    * batches by construction — one introduced fp, one doc row, one
    * (id, block_id) occurrence — so the replay `distinct()` is sound).
    * Invisible under the d29 oracle (gate d31). */
  def compact(spark: SparkSession, store: BlockStore,
      keep: Set[String]): Seq[StoreCompaction.Stats] =
    Seq(store.blocksRel, store.docsRel, store.occRel)
      .map(StoreCompaction.compact(spark, _, keep))

  /** Takedown with block RESURRECTION (the [[SpanStore]] d22 design at
    * block granularity): remove `ids` (one `doc_id` column) and repair
    * canonical ownership so the store equals a from-scratch build over
    * a corpus that never contained the victims (gate d32).
    *
    *  1. find the fingerprints whose canonical first occurrence —
    *     min(struct(id, block_id)) over ALL persisted occurrences —
    *     lives in a victim: the only fps whose keeper can change
    *     (deleting rows never demotes a surviving keeper);
    *  2. partition-scoped deletes of the victims' occurrence and doc
    *     rows ([[StoreRetention.deleteRows]]);
    *  3. each affected fp's NEW canonical over the surviving
    *     occurrences names the docs to repair; those docs' rows are
    *     recomputed entirely from persisted occurrences (kept flags
    *     from the global keeper aggregate, text from the stored block
    *     text — no corpus re-read) and swapped in by rewriting only
    *     the batch partitions that hold them;
    *  4. fps left with ZERO surviving occurrences leave the
    *     introduced-fps table, so re-arriving content is novel again —
    *     retaining them would excise a future re-submission against
    *     evidence that no longer exists (the d15 stale-evidence rule).
    *
    * Work is victim-proportional: every scan is semi-joined down to
    * victim fps / repair docs before anything heavy runs, and only
    * affected partitions rewrite. Idempotent: a replay finds no victim
    * occurrences, hence no changed keepers and no repairs. */
  def delete(spark: SparkSession, store: BlockStore,
      ids: DataFrame): Seq[StoreRetention.DeleteStats] = {
    val occ = spark.table(store.occRel)
    // Pinned BEFORE the store mutates (all three read the occurrence
    // table that step 2 overwrites).
    val victimKept = occ.groupBy(col("fp"))
      .agg(min(struct(col("id"), col("block_id"))).as("keep"))
      .select(col("fp"), col("keep.id").as("kid"))
      .join(ids.select(col("doc_id").as("kid")), Seq("kid"), "left_semi")
      .select(col("fp"))
      .transform(graft.core.Checkpoints.truncate)
    // Independent relations, victim-kept frame pinned above — the two
    // partition-scoped rewrites overlap (guide §2.6).
    val occDoc = new Array[StoreRetention.DeleteStats](2)
    graft.core.Par.run(
      () => occDoc(0) = StoreRetention.deleteRows(spark, store.occRel,
        ids, Seq((t, v) => t("id") === v("doc_id"))),
      () => occDoc(1) = StoreRetention.deleteRows(spark, store.docsRel,
        ids, Seq((t, v) => t("id") === v("doc_id"))))
    val (occStats, docStats) = (occDoc(0), occDoc(1))
    val survOcc = spark.table(store.occRel)
    // Orphans: victim-kept fps with no surviving occurrence anywhere.
    // (A fp ALL of whose occurrences were victims necessarily had a
    // victim keeper, so orphans ⊆ victimKept.)
    val orphans = victimKept
      .join(survOcc.select(col("fp")), Seq("fp"), "left_anti")
      .transform(graft.core.Checkpoints.truncate)
    val blockStats = StoreRetention.deleteRows(spark, store.blocksRel,
      orphans, Seq((t, v) => t("fp") === v("fp")))
    repairResurrected(spark, store, victimKept, survOcc)
    Seq(occStats, docStats, blockStats)
  }

  /** Step 3 of [[delete]]: recompute the rows of every doc that gained
    * a resurrected block, from persisted occurrences only. */
  private def repairResurrected(spark: SparkSession, store: BlockStore,
      victimKept: DataFrame, survOcc: DataFrame): Unit = {
    val repairIds = survOcc
      .join(victimKept, Seq("fp"), "left_semi")
      .groupBy(col("fp"))
      .agg(min(struct(col("id"), col("block_id"))).as("keep"))
      .select(col("keep.id").as("id")).distinct()
      .transform(graft.core.Checkpoints.truncate)
    if (repairIds.isEmpty) return
    // The repaired docs' full occurrence rows, marked against the
    // keeper over ALL surviving occurrences of the fps they hold
    // (keeper from the docs' own rows alone would crown them for
    // blocks genuinely owned elsewhere).
    val docOcc = survOcc.join(repairIds, Seq("id"), "left_semi")
    val keeper = survOcc
      .join(docOcc.select(col("fp")).distinct(), Seq("fp"), "left_semi")
      .groupBy(col("fp"))
      .agg(min(struct(col("id"), col("block_id"))).as("keep"))
    val marked = docOcc.join(keeper, "fp")
      .withColumn("kept", col("id") === col("keep.id") &&
        col("block_id") === col("keep.block_id"))
    val old = spark.table(store.docsRel)
      .join(repairIds, Seq("id"), "left_semi")
      .select(col("id"), col("n_blocks"), col("batch_id"))
      .transform(graft.core.Checkpoints.truncate)
    val newRows = Dedup
      .blockRebuild(old.select(col("id"), col("n_blocks")), marked)
      .join(old.select(col("id"), col("batch_id")), "id")
    // Swap repaired rows in, rewriting only their batch partitions.
    val parts = old.select(col("batch_id").cast("string")).distinct()
      .collect().map(_.getString(0)).toIndexedSeq
    val updated = spark.table(store.docsRel)
      .filter(col("batch_id").isin(parts: _*))
      .join(repairIds, Seq("id"), "left_anti")
      .unionByName(newRows)
      .transform(graft.core.Checkpoints.truncate)
    BatchCommit.replace(spark, store.docsRel, Some(updated), Nil)
  }

  /** Land one batch in all three tables in one [[BatchCommit.write]]:
    * the only store read, `priorFps`, is the pinned replay read. */
  private def writeBatch(spark: SparkSession, docs: DataFrame,
      idCol: String, textCol: String, blockWords: Int,
      store: BlockStore, batchId: String,
      priorFps: Option[DataFrame]): Unit = {
    // The cut/keeper/reassembly pipeline is SHARED with the one-shot
    // operator (Dedup.blockCount/blockCut/markCanonical/blockRebuild)
    // — one owner of the block convention, so the incremental store
    // cannot silently drift from d29.
    val counted = Dedup.blockCount(docs, idCol, textCol, blockWords)
    // Persisted: consumed by the anti-join below AND the occurrence
    // write — unpersisted, the second consumer re-runs the tokenize +
    // cut scan (the d25 lesson).
    val blocks = graft.core.Caches.persist(
      Dedup.blockCut(counted, blockWords))
    // History excision: one left-anti semi-join against the 16-byte
    // fingerprint table — history text is never read, never shuffled.
    // n_blocks is counted on `counted` BEFORE this join: a doc whose
    // blocks are ALL already in history loses every row here, but its
    // true block count must still report (the st16-at-sf0.01 case —
    // a fully-dup doc landing in a later micro-batch than its source).
    // Persisted: two partition writes below consume this frame, and
    // without the persist each re-runs the tokenize + anti-join scan
    // (the d25 lesson: find the redundant work before 10× does).
    val novel = graft.core.Caches.persist(priorFps match {
      case Some(fps) => blocks.join(fps, Seq("fp"), "left_anti")
      case None => blocks
    })
    BatchCommit.write(spark, batchId,
      store.docsRel ->
        Dedup.blockRebuild(counted, Dedup.markCanonical(novel)),
      // Every fp this batch INTRODUCED (kept or batch-locally excised) —
      // novel is already prior-free, so distinct fps are the delta.
      store.blocksRel -> novel.select(col("fp")).distinct(),
      // EVERY occurrence, pre-excision — [[delete]]'s repair needs the
      // next owner of a block even when that occurrence was history-
      // excised on arrival and never made the deduped output.
      store.occRel -> blocks.select(col("id"), col("block_id"), col("fp"),
        col("block_text")))
    // Both persists are fully consumed by the three writes above;
    // release them NOW rather than at the harness's releaseAll — a
    // long streamed ingest (st16's foreachBatch path) would otherwise
    // pin one cached tokenize/cut frame per micro-batch for the life
    // of the stream.
    graft.core.Caches.release(novel)
    graft.core.Caches.release(blocks)
  }
}
