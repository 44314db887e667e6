package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Caches, Checkpoints}
import graft.functions.{Hashing, TextFunctions}
import graft.model.CatalogMaterializer

/** The composed corpus pipeline — the end-to-end shape a pretraining
  * data build actually runs, stitched from the tiers this engine gates
  * individually: quality filter → exact dedup → near-dup removal →
  * tokenize → sequence packing → shard manifest. Two entry points:
  *
  *  - [[manifest]] — the ONE-SHOT pass over a whole corpus (gate p01);
  *  - [[buildHistory]] / [[appendBatch]] — the INCREMENTAL pass (gate
  *    p02): state persisted in engine tables, each increment touching
  *    work proportional to the batch, with the invariant that the
  *    accumulated result is bit-equal to the one-shot pass over the
  *    union (the same contract [[DedupStore]] pins for its tier).
  *
  * Stage semantics (deliberately portable so one DuckDB oracle covers
  * both gates):
  *
  *  1. QUALITY — keep documents with 50 ≤ n_words ≤ 100 000 and
  *     alphabetic-word fraction > 0.8 (the Gopher subset of t12 that
  *     needs no line augmentation). Row-local; runs at scan speed.
  *  2. EXACT DEDUP — keep the minimum doc_id per whitespace-normalized
  *     [[TextFunctions.fingerprint]] (d01's rule).
  *  3. NEAR-DUP — the PREDECESSOR rule: drop X iff some exact-surviving
  *     Y < X has jaccard(X, Y) ≥ 0.6. Unlike d07's cluster-canonical
  *     keep, this rule is *prefix-stable*: appending documents with
  *     larger ids can never change an earlier document's fate, which is
  *     exactly what makes the incremental pass equal the one-shot pass.
  *     (d07's connected components are NOT prefix-stable — a new doc can
  *     bridge two old clusters and flip an old representative.) Pairs
  *     come from [[Dedup.minhashLshPairs]] (one-shot) or
  *     [[DedupStore.appendBatch]] (incremental — stored docs are never
  *     re-shingled); a doc is dropped iff it appears as `doc_b`, since
  *     pairs are normalized `doc_a < doc_b`.
  *  4. PACK — survivors laid end to end in doc_id order, cut into
  *     2048-token sequences via [[Packing.packAssignments]] (the
  *     two-phase distributed prefix sum — no single-task window).
  *  5. MANIFEST — per-pack (n_docs, pack_tokens, first_doc, last_doc),
  *     the shard metadata a training loader consumes.
  *
  * Incremental state is one engine schema holding five tables: the
  * three [[DedupStore]] tables plus
  *  - `doc_meta(doc_id, fingerprint, toks, batch_id)` — every QUALITY
  *    survivor (kept or not by later stages): the exact-dedup probe side
  *    for future batches;
  *  - `shards(pack_id, n_docs, pack_tokens, first_doc, last_doc,
  *    batch_id)` — per-batch manifest PARTIALS. A boundary pack started
  *    by one batch and continued by the next lives in two partitions;
  *    [[readManifest]] merges by pack_id (sum/sum/min/max), so no
  *    increment ever rewrites an earlier batch's rows.
  *
  * CONTRACT (the predecessor rule's order requirement): every appended
  * batch's ids are strictly greater than all ids already in the state —
  * the crawl-date ordering a production corpus has for free.
  *
  * 100 TB shape per increment: quality/fingerprint/tokenize are
  * map-only over the batch; the exact-dedup anti-join reads ONE pruned
  * column (`fingerprint`) off the persisted meta table — a shuffled
  * anti-join, no history recompute; near-dup work is [[DedupStore]]'s
  * batch-proportional probe; packing is a prefix sum over batch
  * survivors offset by one scalar aggregate over the manifest. Nothing
  * re-reads history text, ever.
  */
object CorpusPipeline {

  val SeqLen = 2048
  val Threshold = 0.6

  private def mat = new CatalogMaterializer

  final case class State(schemaName: String) {
    val metaRel = s"$schemaName.doc_meta"
    val shardsRel = s"$schemaName.shards"
    val fencesRel = s"$schemaName.pack_fences"
    val dedup: DedupStore = DedupStore(schemaName)
  }

  // ---- Epoch fences: bounding the takedown re-pack term. --------------
  //
  // Without fences, packing is one corpus-long prefix sum, so a takedown
  // must re-pack everything past the earliest removed document — correct,
  // but at 100 TB an early victim re-packs ~the whole corpus
  // (SCALEPROBE.md round-12 depth curve). A FENCE pins the pack offset:
  // [[fence]] records `(epoch+1, ceil(cursor / SeqLen) * SeqLen)` as
  // COMMITTED STATE, and every later batch packs from that offset
  // regardless of what history before the fence later gains or loses.
  // The price is ≤ SeqLen-1 virtual padding tokens per fence (the
  // epoch's last pack ends short) and the gain is the takedown bound: a
  // delete re-packs only the epochs that actually contain changed
  // documents — epochs after a purely-local change keep their shard
  // partials BYTE-identical because their start offset is pinned.
  //
  // Semantics contract: the accumulated manifest equals the one-shot
  // pipeline packed with the SAME fence schedule (gate p13 replays the
  // fence arithmetic in SQL); after a takedown it equals the one-shot
  // over the surviving corpus packed with the ORIGINALLY COMMITTED
  // offsets (gate p14 — fences are state, not a function of content,
  // which is exactly what makes them a bound).

  /** Committed fences in epoch order; epoch 0 (offset 0) is implicit. */
  private def fenceRows(spark: SparkSession, st: State): Seq[(Int, Long)] =
    if (!mat.relationExists(spark, st.fencesRel)) Nil
    else spark.table(st.fencesRel).orderBy(col("epoch"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toIndexedSeq

  /** The live epoch and its committed starting offset. */
  private def currentFence(spark: SparkSession, st: State): (Int, Long) =
    fenceRows(spark, st).lastOption.getOrElse((0, 0L))

  /** Tokens already packed in `epoch`, excluding a replayed batch. */
  private def epochTokens(spark: SparkSession, st: State, epoch: Int,
      exclude: Option[String]): Long =
    if (!mat.relationExists(spark, st.shardsRel)) 0L
    else spark.table(st.shardsRel)
      .filter(col("epoch") === epoch &&
        exclude.map(b => col("batch_id") =!= b).getOrElse(lit(true)))
      .agg(coalesce(sum(col("pack_tokens")), lit(0L))).head.getLong(0)

  /** Declare an epoch fence after the batches appended so far: the next
    * batch packs from `ceil(cursor / SeqLen) * SeqLen`, permanently.
    * Returns the committed offset. A production build fences on a
    * schedule (say every N batches); the schedule is the caller's
    * retention policy, not engine policy.
    *
    * PRECONDITION — no in-flight batch: the cursor sums EVERY shard
    * partial in the live epoch (`exclude = None` — unlike a replaying
    * append, a fence has no batch of its own to exclude), so it must
    * only run when the last append either fully committed or will be
    * replayed BEFORE the fence. Fencing between a crashed append and
    * its replay freezes an offset over rows the replay then moves past
    * the fence (the replay packs from the new epoch), leaving a
    * permanent phantom gap in the committed schedule. A foreachBatch
    * driver gets this ordering for free: fence and append run on one
    * sequential control path ([[streaming]]'s ingest pattern), never
    * concurrently. */
  def fence(spark: SparkSession, st: State): Long = {
    val (e, off) = currentFence(spark, st)
    val cursor = off + epochTokens(spark, st, e, exclude = None)
    val next = ((cursor + SeqLen - 1) / SeqLen) * SeqLen
    import spark.implicits._
    mat.materializeTable(spark, st.fencesRel,
      (fenceRows(spark, st) :+ ((e + 1, next)))
        .toDF("epoch", "fence_offset"))
    next
  }

  /** Stage 1: quality survivors as (idCol, textCol, toks). The
    * alphabetic fraction rounds to 6dp BEFORE thresholding (t12's
    * cross-engine equality trick). With `modelQuality` the MODEL-BASED
    * classifier stage (t21 — hashed-feature linear scorer,
    * [[TextFunctions.classifierKeep]]) conjoins the heuristic gate: the
    * industry-standard two-tier quality stage (cheap heuristics + a
    * learned scorer), still row-local integer arithmetic fused into the
    * same scan. */
  def qualitySurvivors(docs: DataFrame, idCol: String,
      textCol: String, modelQuality: Boolean = false): DataFrame = {
    val words = TextFunctions.tokens(col(textCol))
    val nWords = TextFunctions.tokenCount(col(textCol)).cast("long")
    val alpha = round(
      when(nWords === 0, 0.0).otherwise(
        size(filter(words, w => w.rlike("[A-Za-z]"))).cast("double") /
          nWords), 6)
    val base = docs.select(col(idCol), col(textCol), nWords.as("toks"))
      .filter(col("toks").between(50L, 100000L) && alpha > 0.8)
    if (!modelQuality) base
    else base.filter(TextFunctions.classifierKeep(
      TextFunctions.classifierLogitNum(col(textCol)),
      size(TextFunctions.classifierFeatures(col(textCol))).cast("long")))
  }

  /** Stage 2 (one-shot): exact-dedup survivors of a quality frame. */
  private def exactSurvivors(quality: DataFrame, idCol: String,
      textCol: String): DataFrame =
    quality.join(
      Dedup.exactMarked(quality, idCol, textCol)
        .filter(col("kept")).select(col(idCol)),
      Seq(idCol), "left_semi")

  /** Stage 3 (shared): drop every `doc_b` of a qualifying pair. */
  private def dropNearDups(docs: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame =
    docs.join(pairs.select(col("doc_b")),
      docs(idCol) === col("doc_b"), "left_anti")

  /** Stages 4–5 (shared): pack manifest over survivor (idCol, toks)
    * rows; `offset` is the token count already packed by earlier
    * batches (0 for the one-shot pass). */
  private def packPartial(survivors: DataFrame, idCol: String,
      offset: Long): DataFrame =
    Packing.packAssignments(
        survivors.select(col(idCol), col("toks")), idCol, "toks", SeqLen)
      .withColumn("pack_id",
        floor((lit(offset) + col("cum_tokens") - col("toks")) / SeqLen))
      .groupBy(col("pack_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).cast("long").as("pack_tokens"),
        min(col(idCol)).as("first_doc"),
        max(col(idCol)).as("last_doc"))

  /** ONE-SHOT pipeline: the full corpus in, the shard manifest out. */
  def manifest(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val q = qualitySurvivors(docs, idCol, textCol)
    val kept = Checkpoints.truncate(exactSurvivors(q, idCol, textCol))
    val pairs = Dedup.minhashLshPairs(kept, idCol, textCol, Threshold)
    packPartial(dropNearDups(kept, idCol, pairs), idCol, 0L)
  }

  /** ONE-SHOT funnel stats — the corpus "data card": how many documents
    * each stage passed, the surviving token total, the shard count. */
  def funnel(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = docs.sparkSession
    val q = Checkpoints.truncate(qualitySurvivors(docs, idCol, textCol))
    val kept = Checkpoints.truncate(exactSurvivors(q, idCol, textCol))
    val pairs = Dedup.minhashLshPairs(kept, idCol, textCol, Threshold)
    val surv = dropNearDups(kept, idCol, pairs)
    // Single-row aggregates joined via broadcast crossJoins (each side
    // is exactly one row — the repo-wide idiom for scalar assembly).
    docs.agg(count(lit(1)).as("n_raw"))
      .crossJoin(q.agg(count(lit(1)).as("n_quality")))
      .crossJoin(kept.agg(count(lit(1)).as("n_exact")))
      .crossJoin(surv.agg(count(lit(1)).as("n_survivors"),
        sum(col("toks")).cast("long").as("total_tokens")))
      // n_packs is the TRAINING-SEQUENCE count ceil(tokens / SeqLen),
      // not the manifest's distinct pack-id count: packAssignments puts
      // a whole document in floor(cum_before / SeqLen), so a document
      // longer than the window skips intermediate pack ids and the
      // manifest can hold fewer rows than n_packs. The card reports
      // sequences because that is what a training run consumes.
      .withColumn("n_packs",
        ceil(col("total_tokens").cast("double") / SeqLen).cast("long"))
  }

  /** TOKENIZED shard materialization (gate p15) — the step between the
    * pack MANIFEST and what a training loader actually consumes:
    * quality survivors are segmented with a TRAINED merge table
    * ([[Bpe.segmented]] — the map-only merge-literal replace chain over
    * the scan, no join, no shuffle), packed by their LEARNED-tokenIZER
    * counts (not whitespace counts — the difference decides which
    * documents share a training sequence), and each pack emits a
    * CONTENT FINGERPRINT: md5 of its documents' segmented forms
    * concatenated in doc order. The fingerprint is bit-stable across
    * engines (the separator form is deterministic), so the oracle
    * replays training + segmentation + packing + hash, and a loader
    * can verify a shard against the manifest before training on it.
    *
    * 100 TB shape: segmentation is map-only; the pack is the standard
    * two-phase prefix sum; the per-pack aggregate collects only ONE
    * sequence's worth of content (~SeqLen tokens) per group — bounded
    * by construction, never corpus-sized. */
  def tokenizedShards(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val q = qualitySurvivors(docs, idCol, textCol)
    val withSeg = q.select(col(idCol),
        Bpe.segmented(q, textCol, merges).as("rep"))
      .withColumn("btoks", Bpe.tokenCountOf(col("rep")).cast("long"))
    Packing.packAssignments(withSeg, idCol, "btoks", SeqLen)
      .withColumn("pack_id",
        floor((col("cum_tokens") - col("btoks")) / SeqLen))
      .groupBy(col("pack_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("btoks")).cast("long").as("pack_tokens"),
        min(col(idCol)).as("first_doc"),
        max(col(idCol)).as("last_doc"),
        // Deterministic pack content: sort the (id, rep) pairs — a
        // shuffled collect_list has no order — then hash the
        // concatenation in doc order.
        md5(array_join(transform(
          array_sort(collect_list(struct(col(idCol).as("i"),
            col("rep").as("r")))),
          s => s.getField("r")), "")).as("content_md5"))
  }

  /** Drop all pipeline state — gates/specs start fresh. */
  def reset(spark: SparkSession, st: State): Unit = {
    DedupStore.reset(spark, st.dedup)
    Seq(st.metaRel, st.shardsRel, st.fencesRel)
      .foreach(mat.dropRelation(spark, _))
  }

  /** INCREMENTAL bootstrap: run the one-shot stages over the historical
    * corpus and persist all five state tables as batch `base`. */
  def buildHistory(spark: SparkSession, history: DataFrame, idCol: String,
      textCol: String, st: State): Unit = {
    reset(spark, st)
    // The quality and exact-survivor frames feed several independent
    // actions (store build, near-dup drop, meta write, pack write) —
    // TRUNCATED so each scans the corpus once AND every downstream
    // action (especially the state-table writes) plans over a
    // LogicalRDD instead of re-analyzing the stage tree per action
    // (guide §3.3/§5; the fullSurvivors rationale).
    val q = Checkpoints.truncate(qualitySurvivors(history, idCol, textCol))
    val kept = Checkpoints.truncate(exactSurvivors(q, idCol, textCol))
    DedupStore.build(spark, kept, idCol, textCol, Threshold, st.dedup)
    val surv = dropNearDups(kept, idCol,
      DedupStore.allPairs(spark, st.dedup))
    writeBatch(spark, st, "base", epoch = 0,
      q.select(col(idCol).as("doc_id"),
        TextFunctions.fingerprint(col(textCol)).as("fingerprint"),
        col("toks")),
      packPartial(surv, idCol, 0L))
  }

  /** INCREMENTAL append: one new batch (ids strictly greater than all
    * stored ids) through all five stages against the persisted state.
    * Work is batch-proportional — see the object scaladoc. Replaying a
    * `batchId` (crash recovery) overwrites exactly its own partitions. */
  def appendBatch(spark: SparkSession, batch: DataFrame, idCol: String,
      textCol: String, st: State, batchId: String): Unit = {
    val q = Checkpoints.truncate(qualitySurvivors(batch, idCol, textCol)
      .withColumn("fingerprint", TextFunctions.fingerprint(col(textCol))))
    val kept = Checkpoints.truncate(exactFresh(spark, q, idCol, st, batchId))
    // Near-dup: batch×store ∪ batch×batch pairs; every pair's doc_b is
    // in this batch (the id-ordering contract), so drops are batch-local.
    val newPairs = DedupStore.appendBatch(spark, kept, idCol, textCol,
      Threshold, st.dedup, batchId)
    val surv = dropNearDups(kept, idCol, newPairs)
    // Packing continues from the LIVE EPOCH's committed fence offset
    // plus the tokens that epoch has already sharded — one scalar
    // aggregate over the (pack-count-sized) manifest, excluding a
    // half-written replay of this same batch. With no fences declared
    // this is epoch 0 from offset 0: the un-fenced semantics exactly.
    val (epoch, fenceOff) = currentFence(spark, st)
    val offset = fenceOff +
      epochTokens(spark, st, epoch, exclude = Some(batchId))
    writeBatch(spark, st, batchId, epoch,
      q.select(col(idCol).as("doc_id"), col("fingerprint"), col("toks")),
      packPartial(surv, idCol, offset))
  }

  /** Incremental exact dedup: a batch doc whose fingerprint any EARLIER
    * quality survivor holds is dropped (the earlier doc is the min);
    * within the batch, the min id per new fingerprint survives. The
    * history probe reads ONE pruned column (`fingerprint`) off the
    * persisted meta table — never text — and excludes this batch's own
    * meta partition so crash replays stay correct. Package-private so
    * the spec can audit the plan. */
  private[operators] def exactFresh(spark: SparkSession, q: DataFrame,
      idCol: String, st: State, batchId: String): DataFrame = {
    val histFp = spark.table(st.metaRel)
      .filter(col("batch_id") =!= batchId)
      .select(col("fingerprint"))
    val fresh = q.join(histFp, Seq("fingerprint"), "left_anti")
    fingerprintWinners(fresh, idCol)
  }

  /** Min-id winner per fingerprint — aggregate + semi-join back (the
    * d29/d32 keeper shape), NOT a per-fingerprint window: a boilerplate
    * mega-cluster (one fingerprint, millions of rows at 100 TB) would
    * serialize in a single window sort task, while the aggregate is
    * map-side combinable and the winner-id set is one row per
    * fingerprint, so the semi-join never skews. Requires `idCol` unique
    * in `df` (true everywhere this runs: batch survivors and the
    * persisted per-doc meta table). */
  private[operators] def fingerprintWinners(df: DataFrame,
      idCol: String): DataFrame = {
    val winners = df.groupBy(col("fingerprint"))
      .agg(min(col(idCol)).as("__keep_id"))
      .select(col("__keep_id"))
    df.join(winners, df(idCol) === col("__keep_id"), "left_semi")
  }

  /** The accumulated shard manifest: batch partials merged by pack_id
    * (a boundary pack spans two partitions; sums/min/max reassemble the
    * one-shot row exactly). */
  def readManifest(spark: SparkSession, st: State): DataFrame =
    spark.table(st.shardsRel)
      .groupBy(col("pack_id"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("pack_tokens")).as("pack_tokens"),
        min(col("first_doc")).as("first_doc"),
        max(col("last_doc")).as("last_doc"))

  private def writeBatch(spark: SparkSession, st: State, batchId: String,
      epoch: Int, meta: DataFrame, shardPartial: DataFrame): Unit = {
    // Both tables carry the batch's epoch: meta is the batch→epoch map
    // a takedown scopes its re-pack with, shards feed the per-epoch
    // offset aggregate.
    def tag(df: DataFrame) = df.withColumn("batch_id", lit(batchId))
      .withColumn("epoch", lit(epoch))
    // meta and shards are independent relations and neither plan reads
    // the other (meta derives from the quality frame, the shard partial
    // from the survivor packing; the offset scalar the partial embeds
    // was collected BEFORE this call) — write them concurrently
    // (guide §2.6).
    graft.core.Par.run(
      Seq(st.metaRel -> meta, st.shardsRel -> shardPartial).map {
        case (rel, df) => () => {
          mat.dropPartition(spark, rel, "batch_id", batchId)
          mat.materializeIncremental(spark, rel, tag(df), Seq("batch_id"))
        }
      }: _*)
  }

  /** Cascading TAKEDOWN — the one "forget this document everywhere" verb
    * over the five-table incremental state (the [[StoreRetention]] story
    * composed through the whole pipeline, not per store):
    *
    *  1. expand victims to their EXACT-CONTENT FAMILY — every quality
    *     survivor sharing a victim's fingerprint. A bit-identical copy
    *     of taken-down content is the same content; deleting the family
    *     wholesale is both the correct takedown semantics and what makes
    *     the exact-dedup stage repairable without stored text (removing
    *     complete fingerprint groups never changes another group's
    *     min-id winner);
    *  2. derive the repaired survivor set from the PINNED pre-delete
    *     state minus the family — exact winners off `doc_meta`'s
    *     fingerprints, near-dup drops off the `dup_pairs` rows touching
    *     no family member — which RESURRECTS any document whose only
    *     predecessors were family members (the d15 stale-verdict
    *     repair, here for the shingle tier). No text is ever re-read:
    *     the pair graph among exact survivors is already persisted in
    *     full, and the predecessor rule does not cascade. The set is
    *     exactly what step 3 leaves in those tables, so it is
    *     truncated alongside the pre-delete snapshots, before any
    *     rewrite starts;
    *  3. remove the family from the dedup store (shingles, LSH index
    *     rows, every pair touching it — [[StoreRetention.deleteDocs]])
    *     and from `doc_meta`, rewriting only the partitions that hold
    *     family rows;
    *  4. concurrently with step 3, re-pack the repaired set from the
    *     earliest changed document onward: batches wholly before
    *     `min(family)` keep their shard partials bit-for-bit (every
    *     changed or resurrected doc id is > some family id), later
    *     batches recompute against the offset summed from the untouched
    *     partials — the honest takedown cost (a mid-corpus deletion
    *     shifts every later training sequence).
    *
    * Steps 3 and 4 overlap ([[graft.core.Par]]) because their read and write
    * sets are disjoint: step 3 reads and rewrites `doc_shingles`,
    * `minhash_buckets`, `dup_pairs` and `doc_meta`; step 4 reads only
    * truncated frames (the family, the pre-delete packed set, the
    * repaired set), `shards` and `pack_fences`, and writes only those
    * two. Neither reads a table the other writes.
    *
    * Post-delete the manifest equals the one-shot pipeline over the
    * corpus minus the family (gate p10). Idempotent: replayed victims
    * find no family in `doc_meta` and touch nothing. Returns
    * (family size, rewritten shard partitions, dropped shard
    * partitions). */
  def delete(spark: SparkSession, st: State, victims: DataFrame)
      : (Long, Seq[String], Seq[String]) = {
    val meta = spark.table(st.metaRel)
    val family = takedownFamily(meta, victims)
    // The family count and three read-only snapshots of the SAME
    // pre-delete state, mutually independent — taken concurrently
    // ([[graft.core.Par]]); truncation is eager, so all three snapshots are
    // pinned before any table changes: per-batch stats (a batch whose
    // only late doc WAS the victim still owns stale partial rows), the
    // pre-delete packed set (to detect resurrections) and the repaired
    // packed set. A replay (empty family) pays the snapshots and writes
    // nothing.
    var nFamily = 0L
    var batchStats: Seq[(String, Int, Long)] = null
    var survOld: DataFrame = null
    var surv: DataFrame = null
    val (metaLeft, pairsLeft) = withoutFamily(spark, st, meta, family)
    graft.core.Par.run(
      () => nFamily = family.count(),
      () => batchStats = preDeleteBatchStats(spark, meta),
      () => survOld = Checkpoints.truncate(packedSet(meta,
        DedupStore.allPairs(spark, st.dedup))),
      () => surv = Checkpoints.truncate(packedSet(metaLeft, pairsLeft)))
    if (nFamily == 0) return (0L, Nil, Nil)
    var repacked: (Seq[String], Seq[String]) = null
    graft.core.Par.run(
      () => deleteFamily(spark, st, family),
      () => repacked = repackChanged(spark, st, batchStats, surv,
        changedDocs(family, survOld, surv)))
    (nFamily, repacked._1, repacked._2)
  }

  /** Victims expanded to their exact-content family: the `(doc_id,
    * epoch)` rows of `doc_meta` sharing a victim's fingerprint.
    * localCheckpoint, NOT a registry cache: the family frame derives
    * from doc_meta, and the meta rewrite INVALIDATES any cache over it —
    * a lazily re-evaluated family would recompute over the post-delete
    * table and silently come up empty exactly when a later step
    * consumes it (caught by p11 at sf0.1: the family's vectors stayed in
    * the semantic store as predecessors and kept dropping the doc their
    * takedown should have resurrected). */
  private[operators] def takedownFamily(meta: DataFrame,
      victims: DataFrame): DataFrame = {
    val vicFps = meta
      .join(victims.select(col("doc_id")), Seq("doc_id"), "left_semi")
      .select(col("fingerprint")).distinct()
    Checkpoints.truncate(meta.join(vicFps, Seq("fingerprint"), "left_semi")
      .select(col("doc_id"), col("epoch")))
  }

  /** `doc_meta` and `dup_pairs` as [[deleteFamily]] will leave them: the
    * pre-delete rows minus the family — meta by `doc_id`, pairs by
    * `doc_a` and then by `doc_b` (two equi-anti joins, the same chain
    * [[StoreRetention.deleteDocs]] rewrites the pair table with). Lazy
    * over `meta`: the caller truncates whatever it derives from these
    * before the rewrite starts. */
  private[operators] def withoutFamily(spark: SparkSession, st: State,
      meta: DataFrame, family: DataFrame): (DataFrame, DataFrame) = {
    val fam = family.select(col("doc_id").as("__fam"))
    val pairs = DedupStore.allPairs(spark, st.dedup)
    val pairsA = pairs.join(fam, pairs("doc_a") === col("__fam"), "left_anti")
    (meta.join(fam, meta("doc_id") === col("__fam"), "left_anti"),
      pairsA.join(fam, pairsA("doc_b") === col("__fam"), "left_anti"))
  }

  /** Step 3 of [[delete]]: the family leaves the dedup store and
    * `doc_meta`. Disjoint relations and a checkpoint-pinned victim frame,
    * so the four partition rewrites run concurrently. */
  private def deleteFamily(spark: SparkSession, st: State,
      family: DataFrame): Unit =
    graft.core.Par.run(
      () => StoreRetention.deleteDocs(spark, st.dedup,
        family.select(col("doc_id"))),
      () => StoreRetention.deleteRows(spark, st.metaRel, family,
        Seq((t, v) => t("doc_id") === v("doc_id"))))

  /** The near-dup (stage-3) survivor set derivable from state alone:
    * min-id winner per fingerprint, minus every `doc_b` of the pair
    * graph — `(doc_id, toks, batch_id, epoch)` plus any `extra` meta
    * columns. The packed set of the five-stage pipeline. */
  private[operators] def packedSet(meta: DataFrame, pairs: DataFrame,
      extra: String*): DataFrame = {
    // Winner derivation runs over the FULL persisted meta table on the
    // takedown path — exactly where a mega-dup fingerprint would
    // serialize a per-fingerprint window in one sort task; use the
    // [[fingerprintWinners]] keeper instead.
    val kept = fingerprintWinners(meta, "doc_id")
      .select((Seq("doc_id", "toks", "batch_id", "epoch") ++ extra)
        .map(col): _*)
    kept.join(pairs.select(col("doc_b")),
      kept("doc_id") === col("doc_b"), "left_anti")
  }

  /** Per-batch (id, epoch, max doc) BEFORE any state rewrite — one
    * bounded collect (one row per batch). */
  private def preDeleteBatchStats(spark: SparkSession,
      meta: DataFrame): Seq[(String, Int, Long)] =
    meta.groupBy(col("batch_id").cast("string").as("b"), col("epoch"))
      .agg(max(col("doc_id")).as("mx")).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toIndexedSeq

  /** Documents whose PACKED membership changed under a takedown —
    * `(doc_id, epoch)`: the family itself plus the symmetric difference
    * of the pre/post packed sets (resurrections, and in the full recipe
    * also semantic-cascade drops of a resurrected predecessor's
    * successors). Per-epoch minima of this frame bound the re-pack. */
  private def changedDocs(family: DataFrame, survOld: DataFrame,
      survNew: DataFrame): DataFrame = {
    def ids(df: DataFrame) = df.select(col("doc_id"), col("epoch"))
    ids(family)
      .unionAll(ids(survNew.join(survOld.select(col("doc_id").as("__o")),
        survNew("doc_id") === col("__o"), "left_anti")))
      .unionAll(ids(survOld.join(survNew.select(col("doc_id").as("__n")),
        survOld("doc_id") === col("__n"), "left_anti")))
  }

  /** EPOCH-SCOPED re-pack after a takedown: within each epoch holding a
    * changed document, re-pack that epoch's batches from the epoch's
    * earliest change onward, starting at the epoch's COMMITTED fence
    * offset plus its untouched batches' tokens; epochs with no changes
    * — including epochs AFTER a changed one — keep their shard partials
    * byte-for-byte, because their start offset is pinned state, not a
    * function of earlier content. With no fences there is one epoch and
    * this is exactly the re-pack-to-end-of-history semantics. Returns
    * (affected, emptied) batch partitions.
    *
    * OVERFLOW (the re-fence policy): a closed epoch's committed
    * headroom (its successor fence minus its pre-takedown cursor) is
    * < [[SeqLen]] by construction, so a takedown that RESURRECTS more
    * tokens than it removes can push the re-packed epoch past its
    * successor's committed offset — and without intervention its packs
    * would reuse pack_ids owned by the next epoch, which
    * [[readManifest]] would silently merge into packs spanning
    * non-adjacent document runs. The policy: walk epochs in order
    * carrying `newFence(e+1) = max(committedFence(e+1),
    * ceil(endCursor(e) / SeqLen) * SeqLen)`. A bumped fence shifts its
    * epoch's start, so that epoch re-packs wholesale and the recurrence
    * cascades — until an epoch whose committed fence already clears the
    * shifted cursor (slack created by earlier shrinking takedowns)
    * absorbs it, after which every later epoch keeps its partials
    * byte-for-byte. Bumped fences are COMMITTED back to the fences
    * table (they are the new pinned schedule); in the common
    * no-overflow case the schedule — and therefore p13/p14's
    * originally-committed-offsets contract — is untouched. The honest
    * cost of an overflow is the re-pack of the cascade span, exactly
    * the un-fenced cost over that span and no more. */
  private def repackChanged(spark: SparkSession, st: State,
      batchStats: Seq[(String, Int, Long)], surv: DataFrame,
      changed: DataFrame): (Seq[String], Seq[String]) = {
    // Four independent bounded reads (one row per fence, epoch or
    // batch), run concurrently: the committed fences, the
    // earliest changed doc per epoch, and committed shard totals and
    // post-repair survivor totals per (epoch, batch) — the inputs of
    // the fence-headroom walk below.
    def tokensPerBatch(df: DataFrame, c: String): Map[(Int, String), Long] =
      df.groupBy(col("epoch"), col("batch_id").cast("string").as("b"))
        .agg(sum(col(c)).as("t")).collect()
        .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    var fences0: Map[Int, Long] = null
    var minChanged: Map[Int, Long] = null
    var shardToks: Map[(Int, String), Long] = null
    var survToks: Map[(Int, String), Long] = null
    graft.core.Par.run(
      () => fences0 = Map(0 -> 0L) ++ fenceRows(spark, st).toMap,
      () => minChanged = changed.groupBy(col("epoch"))
        .agg(min(col("doc_id")).as("mn")).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap,
      () => shardToks = tokensPerBatch(spark.table(st.shardsRel),
        "pack_tokens"),
      () => survToks = tokensPerBatch(surv, "toks"))
    if (minChanged.isEmpty) return (Nil, Nil)
    val byEpoch: Map[Int, Seq[(String, Long)]] = batchStats
      .groupBy(_._2).view.mapValues(_.map(r => (r._1, r._3)).toSeq).toMap
    val maxEpoch = (fences0.keySet ++ byEpoch.keySet).max
    val newFences = scala.collection.mutable.Map(fences0.toSeq: _*)
    // Walk epochs ascending: pick each epoch's affected batches (all of
    // them when its start shifted, the changed suffix otherwise), its
    // re-pack offset, and its end cursor — which decides whether the
    // next committed fence holds or bumps.
    val plan = Seq.newBuilder[(Int, Seq[String], Long)]
    for (e <- 0 to maxEpoch) {
      val startNew = newFences.getOrElse(e, 0L)
      val shifted = startNew != fences0.getOrElse(e, 0L)
      val batches = byEpoch.getOrElse(e, Nil)
      val affected: Seq[String] =
        if (shifted) batches.map(_._1).sorted
        else minChanged.get(e) match {
          case Some(mn) =>
            batches.filter(_._2 >= mn).map(_._1).sorted
          case None => Nil
        }
      val endCursor =
        if (affected.isEmpty) startNew +
          batches.map(b => shardToks.getOrElse((e, b._1), 0L)).sum
        else {
          val keep = affected.toSet
          val offset = startNew + batches.map(_._1).filterNot(keep)
            .map(b => shardToks.getOrElse((e, b), 0L)).sum
          plan += ((e, affected, offset))
          offset + affected.map(b => survToks.getOrElse((e, b), 0L)).sum
        }
      fences0.get(e + 1).foreach { committed =>
        val next = ((endCursor + SeqLen - 1) / SeqLen) * SeqLen
        newFences(e + 1) = math.max(committed, next)
        // The invariant the overflow hazard violated, now structural:
        // a closed epoch's final cursor never crosses its successor's
        // (possibly re-committed) fence, so no pack_id is ever owned by
        // two epochs and readManifest merges only true boundary packs.
        require(endCursor <= newFences(e + 1),
          s"epoch $e cursor $endCursor crosses fence ${newFences(e + 1)}")
      }
    }
    val affectedByEpoch = plan.result()
    if (affectedByEpoch.isEmpty) return (Nil, Nil)
    if ((1 to maxEpoch).exists(e =>
        fences0.get(e).exists(_ != newFences(e)))) {
      import spark.implicits._
      mat.materializeTable(spark, st.fencesRel,
        fences0.keySet.filter(_ >= 1).toSeq.sorted
          .map(e => (e, newFences(e))).toDF("epoch", "fence_offset"))
    }
    val partialsByEpoch = affectedByEpoch.map { case (e, batches, offset) =>
      Packing.packAssignments(
          surv.filter(col("epoch") === e &&
              col("batch_id").isin(batches: _*))
            .select(col("doc_id"), col("toks"), col("batch_id")),
          "doc_id", "toks", SeqLen)
        .withColumn("pack_id",
          floor((lit(offset) + col("cum_tokens") - col("toks")) / SeqLen))
        .groupBy(col("pack_id"), col("batch_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("toks")).cast("long").as("pack_tokens"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .select(col("pack_id"), col("n_docs"), col("pack_tokens"),
          col("first_doc"), col("last_doc"), col("batch_id"),
          lit(e).as("epoch"))
    }
    // An affected batch gets partial rows iff it still holds survivors
    // (the survivor totals' keys). The write needs no truncation: its
    // plan reads only truncated frames (`surv` and the pack
    // assignment), never `shards`, and the offset scalars it embeds
    // were collected above.
    val rewritten = affectedByEpoch.flatMap { case (e, batches, _) =>
      batches.filter(b => survToks.contains((e, b))) }.toSet
    if (rewritten.nonEmpty)
      mat.materializeIncremental(spark, st.shardsRel,
        partialsByEpoch.reduce(_ unionAll _), Seq("batch_id"))
    val affected = affectedByEpoch.flatMap(_._2).sorted.toIndexedSeq
    val emptied = affected.filterNot(rewritten)
    emptied.foreach(p =>
      mat.dropPartition(spark, st.shardsRel, "batch_id", p))
    (affected, emptied)
  }

  // --------------------------------------------------------------------
  // The FULL pretraining recipe: the five-stage pipeline above extended
  // with the two remaining production stages every published pretraining
  // build runs — SEMANTIC dedup (the SemDeDup recipe over document
  // embeddings, [[Similarity.semanticDedup]]'s predecessor rule scoped
  // to deterministically-trained frozen clusters) and BENCHMARK
  // DECONTAMINATION (drop any document sharing a word 8-gram with the
  // held-out eval set, [[Dedup.benchmarkContamination]]'s inverted-index
  // shape). Stage order: quality → exact → MinHash near-dup → semantic →
  // decontam → pack. Semantic runs before decontam so a contaminated
  // document still serves as semantic predecessor — the order both the
  // one-shot and incremental passes must agree on.
  //
  // Semantic-stage policy (what keeps one-shot ≡ incremental):
  //  - The CODEBOOK is learned statistics, trained ONCE on the full
  //    embedding pool handed to the build (history slice for the
  //    incremental pass) and frozen — the d14 contract.
  //  - VERDICTS consider only PIPELINE-SURVIVOR predecessors (a doc
  //    dropped by an earlier stage is redundant evidence — its
  //    near-identical survivor is already a predecessor), under the
  //    prefix-stable predecessor rule, so appends can never flip
  //    history's keeps.
  //  - A survivor WITHOUT an embedding row passes the stage (nothing to
  //    compare), the honest degradation at 100 TB where embedding
  //    coverage trails the crawl.
  //
  // Decontamination is per-document against a FIXED benchmark (an eval
  // set does not grow with the corpus): the benchmark's distinct grams
  // persist once as an engine table and every increment probes them with
  // one equi-join — batch-proportional by construction.
  // --------------------------------------------------------------------

  // The semantic stage's k is NOT a constant: it follows the
  // [[SemanticStore.autoK]] policy (k = |training pool| / target
  // cluster size), computed from whatever embedding pool the build is
  // handed — the production default SCALEPROBE.md's "Round 10:
  // semantic dedup (d13)" section argued for (`tools/SemanticProbe`,
  // last at commit 68d271a; a fixed k lets clusters, and the quadratic
  // within-cluster search, grow linearly with the corpus; k ∝ N holds
  // per-cluster work constant). Both entry points and every gate oracle replay the
  // policy from COUNT(*), so there is no hand-tuned k to drift.
  val SemIters = 3
  val SemTau = 0.45
  val DecontamN = 8

  /** Incremental full-recipe state: the five base tables plus the
    * semantic store (codebook + verdicts) and the persisted benchmark
    * gram set. */
  final case class FullState(schemaName: String) {
    val base: State = State(schemaName)
    val sem: SemanticStore = SemanticStore(schemaName)
    val benchGramsRel = s"$schemaName.bench_grams"
  }

  /** Drop all full-recipe state. */
  def resetFull(spark: SparkSession, st: FullState): Unit = {
    reset(spark, st.base)
    SemanticStore.reset(spark, st.sem)
    mat.dropRelation(spark, st.benchGramsRel)
  }

  /** The benchmark's distinct word 8-grams — the decontam probe side,
    * persisted once at build and fixed thereafter. */
  private def benchGrams(bench: DataFrame, textCol: String): DataFrame =
    bench.select(explode(Hashing.wordShingles(col(textCol), DecontamN))
      .as("g")).distinct()

  /** Ids of `docs` sharing at least one word 8-gram with the benchmark
    * gram set — one inverted-index equi-join, never docs × benchmark. */
  private def contaminatedIds(docs: DataFrame, idCol: String,
      textCol: String, grams: DataFrame): DataFrame =
    docs.select(col(idCol),
        explode(Hashing.wordShingles(col(textCol), DecontamN)).as("g"))
      .join(grams.select(col("g")), Seq("g"), "left_semi")
      .select(col(idCol)).distinct()

  /** Predecessor-rule drops among `assigned` (vid, cid, v, nrm) rows
    * under frozen clusters: vid is dropped iff some same-cluster pvid <
    * vid has 6dp-rounded cosine ≥ [[SemTau]]. One cid equi-join — the
    * cluster scoping that keeps this O(Σ|c|²), never O(N²). */
  private def semanticDropIds(assigned: DataFrame): DataFrame = {
    val pred = assigned.select(col("cid"), col("vid").as("pvid"),
      col("v").as("pv"), col("nrm").as("pn"))
    assigned.join(pred, "cid")
      .filter(col("pvid") < col("vid") &&
        Similarity.sim(col("pv"), col("pn"), col("v"), col("nrm"))
          >= SemTau)
      .select(col("vid")).distinct()
  }

  /** One-shot semantic stage: survivors minus the predecessor drops of
    * their embedding rows assigned against `codebook`. Survivors with no
    * embedding row pass through the left-anti join untouched. */
  private def semanticSurvivors(survivors: DataFrame, idCol: String,
      emb: DataFrame, vecIdCol: String, vecCol: String,
      codebook: Array[(Array[Double], Double)]): DataFrame = {
    val survEmb = emb.join(
      survivors.select(col(idCol).as("__sid")),
      emb(vecIdCol) === col("__sid"), "left_semi")
    val assigned = Caches.persist(Similarity.assignClusters(
        Similarity.normalized(survEmb, vecIdCol, vecCol), codebook)
      .select(col("vid"), col("cid"), col("v"), col("nrm")))
    survivors.join(semanticDropIds(assigned),
      survivors(idCol) === col("vid"), "left_anti")
  }

  /** One-shot full-recipe survivors: `(idCol, textCol, toks)` after all
    * six filter stages. Package-private so the funnel and the gates
    * share one definition. */
  private[operators] def fullSurvivors(docs: DataFrame, emb: DataFrame,
      bench: DataFrame, idCol: String, textCol: String,
      vecIdCol: String, vecCol: String,
      modelQuality: Boolean = false)
      : (DataFrame, Seq[DataFrame]) = {
    // Stage frames are TRUNCATED, not merely persisted (guide §3.3/§5):
    // a persist skips re-execution but every downstream plan — the six
    // funnel aggregates, the pack, every state-table write — still
    // re-ANALYZES the whole six-stage tree per action (measured on p09:
    // 4.3 s of an 8.1 s gate was pure driver planning). Each stage is
    // consumed by reference only, so truncation keeps semantics and
    // collapses every consumer's plan to aggregates over LogicalRDDs.
    val q = Checkpoints.truncate(
      qualitySurvivors(docs, idCol, textCol, modelQuality))
    val kept = Checkpoints.truncate(exactSurvivors(q, idCol, textCol))
    val pairs = Dedup.minhashLshPairs(kept, idCol, textCol, Threshold)
    val surv3 = Checkpoints.truncate(dropNearDups(kept, idCol, pairs))
    val (codebook, _) = Similarity.kmeansFit(emb, vecIdCol, vecCol,
      SemanticStore.autoK(emb.count()), SemIters, trackObjective = false)
    val surv4 = Checkpoints.truncate(semanticSurvivors(surv3, idCol, emb,
      vecIdCol, vecCol, codebook))
    val surv5 = surv4.join(
      contaminatedIds(surv4, idCol, textCol,
        benchGrams(bench, textCol)).withColumnRenamed(idCol, "__cid"),
      surv4(idCol) === col("__cid"), "left_anti")
    (surv5, Seq(q, kept, surv3, surv4))
  }

  /** ONE-SHOT full recipe: corpus + embeddings + benchmark in, the shard
    * manifest of the fully-cleaned corpus out. */
  def fullManifest(docs: DataFrame, emb: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, vecIdCol: String,
      vecCol: String, modelQuality: Boolean = false): DataFrame = {
    val (surv, _) = fullSurvivors(docs, emb, bench, idCol, textCol,
      vecIdCol, vecCol, modelQuality)
    packPartial(surv, idCol, 0L)
  }

  /** ONE-SHOT full-recipe funnel — the extended data card: documents
    * surviving each of the six stages, final token total, sequence
    * count. */
  def fullFunnel(docs: DataFrame, emb: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, vecIdCol: String,
      vecCol: String): DataFrame = {
    val (surv, stages) = fullSurvivors(docs, emb, bench, idCol, textCol,
      vecIdCol, vecCol)
    val Seq(q, kept, surv3, surv4) = stages
    docs.agg(count(lit(1)).as("n_raw"))
      .crossJoin(q.agg(count(lit(1)).as("n_quality")))
      .crossJoin(kept.agg(count(lit(1)).as("n_exact")))
      .crossJoin(surv3.agg(count(lit(1)).as("n_neardup")))
      .crossJoin(surv4.agg(count(lit(1)).as("n_semantic")))
      .crossJoin(surv.agg(count(lit(1)).as("n_clean"),
        sum(col("toks")).cast("long").as("total_tokens")))
      .withColumn("n_packs",
        ceil(col("total_tokens").cast("double") / SeqLen).cast("long"))
  }

  /** INCREMENTAL full-recipe bootstrap: the one-shot stages over the
    * historical corpus, all state persisted — the five base tables, the
    * semantic store (codebook trained on `emb`, verdicts ingested for
    * pipeline survivors only), and the benchmark gram table. */
  def buildHistoryFull(spark: SparkSession, history: DataFrame,
      emb: DataFrame, bench: DataFrame, idCol: String, textCol: String,
      vecIdCol: String, vecCol: String, st: FullState): Unit = {
    resetFull(spark, st)
    // Truncated stage frames — the fullSurvivors rationale: the seven
    // state-table writes below must plan over LogicalRDDs, not re-analyze
    // the stage tree once per write.
    val q = Checkpoints.truncate(qualitySurvivors(history, idCol, textCol))
    val kept = Checkpoints.truncate(exactSurvivors(q, idCol, textCol))
    DedupStore.build(spark, kept, idCol, textCol, Threshold,
      st.base.dedup)
    val surv3 = Checkpoints.truncate(dropNearDups(kept, idCol,
      DedupStore.allPairs(spark, st.base.dedup)))
    // The benchmark-gram table and the semantic store are independent
    // state (different relations; neither plan reads the other): build
    // them concurrently (guide §2.6) — the gram shuffle+write back-fills
    // the executor idle time of the codebook's driver-side training
    // collects. Train on the FULL history embedding pool, ingest
    // survivors only — see the semantic-stage policy note above.
    val survEmb = emb.join(surv3.select(col(idCol).as("__sid")),
      emb(vecIdCol) === col("__sid"), "left_semi")
    graft.core.Par.run(
      () => mat.materializeTable(spark, st.benchGramsRel,
        benchGrams(bench, textCol)),
      () => SemanticStore.buildFromAuto(spark, emb, survEmb, vecIdCol,
        vecCol, SemIters, SemTau, st.sem))
    val contam = Checkpoints.truncate(contaminatedIds(q, idCol, textCol,
      spark.table(st.benchGramsRel)))
    writeBatch(spark, st.base, "base", epoch = 0,
      metaWithFlag(q, contam, idCol, textCol),
      packPartial(cleanOf(spark, surv3, idCol, contam, st, "base"),
        idCol, 0L))
  }

  /** Full-path `doc_meta` rows: fingerprint + toks as the base pipeline,
    * PLUS the per-document `contaminated` verdict. Decontamination is
    * against a FIXED benchmark, so the flag is a FINAL per-doc fact —
    * persisting it for every quality survivor (not just packed ones) is
    * what lets a takedown re-derive the survivor set without ever
    * re-reading text ([[deleteFull]]). */
  private def metaWithFlag(q: DataFrame, contam: DataFrame,
      idCol: String, textCol: String): DataFrame =
    q.select(col(idCol).as("doc_id"),
        TextFunctions.fingerprint(col(textCol)).as("fingerprint"),
        col("toks"))
      .join(contam.select(col(idCol).as("doc_id"))
          .withColumn("__c", lit(true)),
        Seq("doc_id"), "left")
      .withColumn("contaminated", col("__c").isNotNull).drop("__c")

  /** INCREMENTAL full-recipe append: one new batch (ids strictly greater
    * than all stored ids) through all seven stages against the persisted
    * state. Each stage's increment is batch-proportional: exact probes
    * the pruned fingerprint column, near-dup probes the persisted LSH
    * index, semantic assigns the batch row-locally against the frozen
    * codebook and probes only matching clusters, decontam probes the
    * fixed gram table. */
  def appendBatchFull(spark: SparkSession, batch: DataFrame,
      emb: DataFrame, idCol: String, textCol: String, vecIdCol: String,
      vecCol: String, st: FullState, batchId: String): Unit = {
    val q = Checkpoints.truncate(qualitySurvivors(batch, idCol, textCol)
      .withColumn("fingerprint", TextFunctions.fingerprint(col(textCol))))
    val kept = Checkpoints.truncate(exactFresh(spark, q, idCol, st.base,
      batchId))
    val newPairs = DedupStore.appendBatch(spark, kept, idCol, textCol,
      Threshold, st.base.dedup, batchId)
    val surv3 = Checkpoints.truncate(dropNearDups(kept, idCol, newPairs))
    val survEmb = emb.join(surv3.select(col(idCol).as("__sid")),
      emb(vecIdCol) === col("__sid"), "left_semi")
    // The semantic-store append and the batch's decontam verdicts are
    // independent (the gram probe reads the FIXED bench_grams table and
    // the truncated quality frame): overlap the store write with the
    // gram join by truncating the contam frame concurrently
    // (guide §2.6; truncation is eager, so the thunk materializes it).
    var contam: DataFrame = null
    graft.core.Par.run(
      () => SemanticStore.append(spark, survEmb, vecIdCol, vecCol,
        st.sem, batchId),
      () => contam = Checkpoints.truncate(contaminatedIds(q, idCol,
        textCol, spark.table(st.benchGramsRel))))
    // Epoch-aware offset — the base pipeline's fence semantics apply to
    // the full recipe unchanged ([[fence]] on `st.base`).
    val (epoch, fenceOff) = currentFence(spark, st.base)
    val offset = fenceOff +
      epochTokens(spark, st.base, epoch, exclude = Some(batchId))
    writeBatch(spark, st.base, batchId, epoch,
      metaWithFlag(q.drop("fingerprint"), contam, idCol, textCol),
      packPartial(cleanOf(spark, surv3, idCol, contam, st, batchId),
        idCol, offset))
  }

  /** Stages 4–5 of the incremental pass: near-dup survivors minus this
    * batch's persisted `keep = false` semantic verdicts, minus the
    * batch's benchmark-gram hits (`contam` — computed once per batch,
    * persisted into `doc_meta` as the final per-doc flag). */
  private def cleanOf(spark: SparkSession, surv3: DataFrame,
      idCol: String, contam: DataFrame, st: FullState,
      batchId: String): DataFrame = {
    val semDropped = spark.table(st.sem.vectorsRel)
      .filter(col("batch_id") === batchId && !col("keep"))
      .select(col("vid"))
    val surv4 = surv3.join(semDropped, surv3(idCol) === col("vid"),
      "left_anti")
    surv4.join(contam.withColumnRenamed(idCol, "__cid"),
      surv4(idCol) === col("__cid"), "left_anti")
  }

  /** Cascading takedown through the FULL-recipe state — [[delete]]
    * extended across all seven tables. The two stages [[delete]] lacks:
    *
    *  - SEMANTIC verdict repair WITH RESURRECTION RE-INGEST: removing
    *    the family repairs its clusters' verdicts (d15), but a document
    *    the near-dup repair RESURRECTED was never semantically ingested
    *    — it re-enters the store mid-history ([[SemanticStore.repair]]:
    *    assigned row-locally against the frozen codebook, its original
    *    batch partition rewritten, and the predecessor pass re-run over
    *    every cluster it or a victim touches, so it both receives a
    *    verdict and drops the successors it always would have);
    *  - DECONTAMINATION verdicts come FROM `doc_meta` (persisted per
    *    quality survivor at append time — final facts against the fixed
    *    benchmark), so no text is ever re-read here either.
    *
    * The overlap is [[delete]]'s, with the semantic repair added to the
    * second branch: the repaired stage-3 set comes from the pinned
    * pre-delete snapshot minus the family, so the store rewrites
    * (`doc_shingles`, `minhash_buckets`, `dup_pairs`, `doc_meta`) run
    * concurrently with the repair → stage-5 set → re-pack chain, which
    * reads only truncated frames, the embedding input, `sem_codebook`,
    * `sem_vectors`, `shards` and `pack_fences`, and writes only the last
    * three. Neither branch reads a table the other writes.
    *
    * Post-delete the whole seven-table state is indistinguishable from
    * a build over the corpus minus the family under the same frozen
    * codebook (gate p11). Idempotent. Caller passes the embedding
    * frame (`emb`) — the pipeline's external input, needed only for
    * resurrected documents' vectors. */
  def deleteFull(spark: SparkSession, st: FullState, victims: DataFrame,
      emb: DataFrame, vecIdCol: String, vecCol: String)
      : (Long, Seq[String], Seq[String]) = {
    val meta = spark.table(st.base.metaRel)
    val family = takedownFamily(meta, victims)
    // The family count and the pre-delete snapshots, concurrently as in
    // [[delete]]: per-batch stats, the PACKED set under the pre-delete
    // verdicts (to compute the changed-document frame — in the full
    // recipe changes are NOT monotone: a resurrected predecessor can
    // DROP its semantic successors, so the symmetric difference, not
    // just resurrections, scopes the re-pack), and the repaired stage-3
    // survivors with their persisted contaminated flags (fingerprints
    // and the pair graph, never text).
    var nFamily = 0L
    var batchStats: Seq[(String, Int, Long)] = null
    var survOld: DataFrame = null
    var surv3: DataFrame = null
    val (metaLeft, pairsLeft) = withoutFamily(spark, st.base, meta, family)
    graft.core.Par.run(
      () => nFamily = family.count(),
      () => batchStats = preDeleteBatchStats(spark, meta),
      () => survOld = Checkpoints.truncate(packedFullSet(spark, st, meta)),
      () => surv3 = Checkpoints.truncate(
        packedSet(metaLeft, pairsLeft, "contaminated")))
    if (nFamily == 0) return (0L, Nil, Nil)
    var repacked: (Seq[String], Seq[String]) = null
    graft.core.Par.run(
      () => deleteFamily(spark, st.base, family),
      () => {
        // Semantic repair: the family leaves; stage-3 resurrections that
        // have embeddings re-enter their original batch partitions.
        val storeVids = spark.table(st.sem.vectorsRel).select(col("vid"))
        val resurrected = surv3.select(col("doc_id"), col("batch_id"))
          .join(storeVids, col("doc_id") === col("vid"), "left_anti")
        val insRows = emb.join(
            resurrected.select(col("doc_id").as("__rid"), col("batch_id")),
            emb(vecIdCol) === col("__rid"))
          .select(col(vecIdCol).as("vid"), col(vecCol).as("vec"),
            col("batch_id"))
        SemanticStore.repair(spark, st.sem, family, "doc_id", Some(insRows))
        // Epoch-scoped re-pack (the [[repackChanged]] bound: epochs with
        // no changed documents keep their shard partials byte-for-byte).
        val surv5 = Checkpoints.truncate(cleanSet(spark, st, surv3))
        repacked = repackChanged(spark, st.base, batchStats, surv5,
          changedDocs(family, survOld, surv5))
      })
    (nFamily, repacked._1, repacked._2)
  }

  /** The FINAL packed set (all six stages) derivable from persisted
    * state: fingerprint winners minus pair-graph drops minus `keep =
    * false` semantic verdicts minus persisted `contaminated` flags —
    * `(doc_id, toks, batch_id, epoch)`. Uses whatever verdicts the
    * store currently holds (callers snapshot it pre-repair via
    * localCheckpoint when they need the before-state). */
  private[operators] def packedFullSet(spark: SparkSession, st: FullState,
      meta: DataFrame): DataFrame =
    cleanSet(spark, st, packedSet(meta,
      DedupStore.allPairs(spark, st.base.dedup), "contaminated"))

  /** Stages 4–5 over persisted state: stage-3 rows (with their
    * `contaminated` flag) minus the semantic store's current `keep =
    * false` verdicts minus contaminated documents — `(doc_id, toks,
    * batch_id, epoch)`. */
  private def cleanSet(spark: SparkSession, st: FullState,
      surv3: DataFrame): DataFrame = {
    val semDropped = spark.table(st.sem.vectorsRel)
      .filter(!col("keep")).select(col("vid"))
    surv3.join(semDropped, surv3("doc_id") === col("vid"), "left_anti")
      .filter(!col("contaminated"))
      .select(col("doc_id"), col("toks"), col("batch_id"), col("epoch"))
  }
}
