package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Caches

/** Persisted, incrementally-maintained SEMANTIC dedup state — the
  * production lifecycle for [[Similarity.semanticDedup]] (d13), exactly
  * parallel to [[DedupStore]] for the shingle tiers and
  * [[Bpe.persistMerges]] for the tokenizer: train ONCE on history,
  * freeze the model as an engine table, and let every future batch pay
  * only batch-proportional work against the frozen state.
  *
  *  - `sem_codebook(cid, cv, cn, tau)` — the spherical-k-means
  *    centroids trained on the history corpus ([[Similarity.kmeansFit]]
  *    — the actual Lloyd loop, not a seed prefix) plus the similarity
  *    threshold, materialized via the atomic full-refresh sink.
  *    Centroids AND tau change ONLY on an explicit rebuild: retraining
  *    on every append would silently reshuffle cluster boundaries and
  *    flip historical keep decisions, and a per-call tau could rewrite
  *    verdicts under a different policy than the rows beside them.
  *  - `sem_vectors(cid, vid, v, nrm, keep, batch_id)` — every ingested
  *    vector with its frozen-cluster assignment and its keep verdict,
  *    partition-per-batch with dynamic overwrite (replaying a batch is
  *    idempotent).
  *
  * Keep rule: the predecessor rule over the FROZEN clusters — a vector
  * is dropped iff some same-cluster vector with a smaller id (stored
  * or earlier in its own batch) has 6dp-rounded cosine ≥ τ. Because
  * batches arrive in increasing id order (the same ordering contract
  * as [[DedupStore]]) and clusters never move, a verdict written once
  * is FINAL — appends can never flip history, which is what makes the
  * flag safe to persist at all. Dropped vectors stay in the store as
  * predecessors (exactly the one-shot rule's semantics, where a
  * dropped vector still drops its own successors).
  *
  * Invariant after N appends (gate d14): `(vid, cid, keep)` equals the
  * one-shot predecessor pass over the union of all batches against the
  * same frozen codebook — the DuckDB oracle replays the full recipe,
  * training loop included, with the training set restricted to the
  * history slice.
  *
  * Scale shape: an append is one row-local assignment pass over the
  * delta (inline-literal codebook, zero shuffle), one cid equi-join of
  * the delta against the store's matching clusters (store side streams
  * off parquet, column-pruned to (cid, vid, v, nrm); AQE splits hot
  * clusters), and one partition commit. Stored vectors are never
  * re-assigned, the codebook is never re-trained.
  */
final case class SemanticStore(schemaName: String) {
  val codebookRel: String = s"$schemaName.sem_codebook"
  val vectorsRel: String = s"$schemaName.sem_vectors"
}

object SemanticStore {

  /** The auto-k policy's target mean cluster size: SemDeDup's knob is
    * really per-cluster work (the search is O(Σ|c|²)), so k grows with
    * the corpus to hold E[|c|] at this constant — the result that
    * k ∝ N keeps 10×-data growth sub-linear (SCALEPROBE.md, "Round 10:
    * semantic dedup (d13)"; `tools/SemanticProbe`, last at commit
    * 68d271a), made the default instead of a per-call guess. */
  val TargetClusterSize = 50L

  /** k from corpus size: `max(1, n / TargetClusterSize)` — mean cluster
    * size ≈ the target, per-cluster search work bounded as the corpus
    * grows. At 500 vectors this yields the k=10 the fixed-k gates
    * (d13–d16) were hand-tuned to; at 10× data it yields 40 where the
    * hand-tuned constant would have let clusters (and the quadratic
    * within-cluster search) grow 10×. Integer arithmetic so any engine
    * replays the choice exactly (d19's oracle computes it in SQL). */
  def autoK(n: Long): Int =
    math.max(1L, n / TargetClusterSize).toInt

  /** [[build]] with k chosen by [[autoK]] from the training corpus —
    * the production default: the caller sizes nothing by hand. */
  def buildAuto(spark: SparkSession, history: DataFrame, idCol: String,
      vecCol: String, iters: Int, threshold: Double,
      store: SemanticStore, batchId: String = "base"): Unit =
    build(spark, history, idCol, vecCol, autoK(history.count()), iters,
      threshold, store, batchId)

  /** [[buildFrom]] with k chosen by [[autoK]] from the TRAINING pool —
    * the corpus-pipeline default ([[CorpusPipeline.buildHistoryFull]]):
    * the policy sizes k off the pool the centroids learn from, not the
    * (smaller) survivor set being ingested. */
  def buildFromAuto(spark: SparkSession, train: DataFrame,
      ingest: DataFrame, idCol: String, vecCol: String, iters: Int,
      threshold: Double, store: SemanticStore,
      batchId: String = "base"): Unit =
    buildFrom(spark, train, ingest, idCol, vecCol, autoK(train.count()),
      iters, threshold, store, batchId)

  /** Drop both store tables — a fresh start for gates/specs. */
  def reset(spark: SparkSession, store: SemanticStore): Unit =
    Seq(store.codebookRel, store.vectorsRel)
      .foreach(BatchCommit.mat.dropRelation(spark, _))

  /** Full (re)build: train the codebook on `history` and ingest it as
    * batch zero. REPLACES any existing store (same rationale as
    * [[DedupStore.build]] — dynamic overwrite alone would retain stale
    * batch partitions next to the fresh build). */
  def build(spark: SparkSession, history: DataFrame, idCol: String,
      vecCol: String, k: Int, iters: Int, threshold: Double,
      store: SemanticStore, batchId: String = "base"): Unit =
    buildFrom(spark, history, history, idCol, vecCol, k, iters,
      threshold, store, batchId)

  /** [[build]] with the TRAINING POOL split from the INGESTED rows — the
    * corpus-pipeline shape: centroids are learned statistics, so they
    * train on the full history embedding slice, while verdicts must only
    * ever consider PIPELINE-SURVIVOR predecessors (a doc dropped by an
    * earlier dedup stage is redundant evidence — its near-identical
    * survivor is already in the store — and counting it would diverge
    * from the one-shot pass over survivors). Both frames must share
    * `(idCol, vecCol)`. */
  def buildFrom(spark: SparkSession, train: DataFrame, ingest: DataFrame,
      idCol: String, vecCol: String, k: Int, iters: Int,
      threshold: Double, store: SemanticStore,
      batchId: String = "base"): Unit = {
    reset(spark, store)
    val (codebook, _) = Similarity.kmeansFit(train, idCol, vecCol, k,
      iters, trackObjective = false)
    import spark.implicits._
    // The threshold is STORE POLICY, not a per-call knob: it rides in
    // the codebook table so appends and deletes can never run a
    // different tau than the verdicts already on disk were decided
    // under (a mismatched tau would rewrite only the touched clusters'
    // verdicts — a silently inconsistent store).
    val cbDf = codebook.zipWithIndex.toSeq
      .map { case ((cv, cn), i) => (i, cv.toSeq, cn, threshold) }
      .toDF("cid", "cv", "cn", "tau")
    BatchCommit.mat.materializeTable(spark, store.codebookRel, cbDf)
    this.ingest(spark, ingest, idCol, vecCol, store, batchId,
      firstBatch = true)
  }

  /** Incremental append: assign `delta` against the frozen codebook,
    * decide its keep verdicts against the store plus itself (under the
    * store's PERSISTED threshold — tau is build-time policy, not a
    * per-call knob), and commit one batch partition.
    * Batch-proportional; never touches stored rows. */
  def append(spark: SparkSession, delta: DataFrame, idCol: String,
      vecCol: String, store: SemanticStore, batchId: String): Unit =
    ingest(spark, delta, idCol, vecCol, store, batchId,
      firstBatch = false)

  /** The persisted verdicts: `(idCol, cid, keep)` over all batches. */
  def keeps(spark: SparkSession, store: SemanticStore,
      idCol: String): DataFrame =
    spark.table(store.vectorsRel)
      .select(col("vid").as(idCol), col("cid"), col("keep"))

  /** Targeted deletion WITH verdict repair — why the semantic store
    * cannot use [[StoreRetention.deleteRows]]'s generic row removal: a
    * stored verdict depends on the victim. If A dropped B (A earlier,
    * cosine ≥ τ) and A is taken down, a naive row-delete leaves B
    * marked `keep = false` forever on the strength of evidence that no
    * longer exists — the stale-verdict bug. Deletion here is
    * cluster-scoped repair:
    *
    *  1. find the affected CLUSTERS and the batch partitions holding
    *     them — one bounded collect of the store's (cluster, batch)
    *     grid;
    *  2. re-run the predecessor pass over those clusters' SURVIVORS
    *     (vectors and norms stream off the store — nothing is
    *     re-embedded or re-assigned, the frozen codebook is untouched:
    *     like [[StoreRetention.deleteVectors]], centroids are learned
    *     statistics, and retraining them is the explicit rebuild);
    *  3. rewrite exactly the batch partitions that hold affected-
    *     cluster rows (other clusters' rows in those partitions ride
    *     along unchanged), dropping any partition the delete emptied.
    *
    * Post-delete the store is indistinguishable from one that ingested
    * only the survivors under the same codebook — gate d15 pins that
    * against the full-recipe oracle with the final pass filtered to
    * survivors. Idempotent: a replayed victim set finds no affected
    * clusters. Returns (rewritten, dropped) partition names.
    *
    * @param victims one `vec_id` column (takedown lists are frames,
    *                never literals)
    */
  def delete(spark: SparkSession, store: SemanticStore,
      victims: DataFrame): (Seq[String], Seq[String]) =
    repair(spark, store, victims, "vec_id", None)

  /** Generalized cluster-scoped REPAIR — the takedown verb plus its mirror
    * image: `inserts` (optional `(vid, vec, batch_id)` rows) join the store
    * MID-HISTORY, assigned here against the frozen codebook. The composed
    * pipeline needs this because a takedown can RESURRECT a document at an
    * earlier dedup stage (its only near-dup predecessor was the victim),
    * and that document's vector must then participate in the semantic stage
    * as the predecessor it always would have been — so the predecessor pass
    * re-runs over every cluster any removed OR inserted vector touches, and
    * exactly those clusters' partitions rewrite. Unaffected clusters keep
    * their stored verdicts (their membership did not change, so the
    * verdicts are still the one-shot answer). Inserted rows commit into
    * their ORIGINAL batch partition — post-repair the store is
    * indistinguishable from one that ingested the repaired survivor set
    * from the start.
    *
    * Two halves, so a caller can start what needs only the repair's
    * verdicts while the write runs: [[planRepair]] computes everything
    * and writes nothing, [[commitRepair]] writes. This is plan then
    * commit. Returns (rewritten, dropped) partition names. */
  private[operators] def repair(spark: SparkSession, store: SemanticStore,
      victims: DataFrame, idCol: String,
      inserts: Option[DataFrame]): (Seq[String], Seq[String]) =
    commitRepair(spark, store, planRepair(spark, store, victims, idCol,
      inserts, loadCodebook(spark, store)))

  /** A computed, uncommitted [[repair]]: `rows` are the truncated
    * `(cid, vid, v, nrm, keep, batch_id)` rows of every partition the
    * commit rewrites (absent when it rewrites none), `parts` every
    * partition the repair touches and `emptied` those of `parts` the
    * commit drops. */
  private[operators] final case class RepairPlan(rows: Option[DataFrame],
      parts: Seq[String], emptied: Seq[String])

  /** The planning half of [[repair]]. Executions: the codebook read
    * (`codebook`, by name: [[loadCodebook]], or a value the caller read
    * earlier), at most two planning collects — the inserts' (cluster,
    * batch) cells and the store's (cluster, batch) grid with per-cell row
    * and victim counts; the grid overlaps the other two — then the
    * truncate of the rewrite rows. The affected clusters, the rewritten
    * partitions and the emptied ones all derive from the two collects;
    * nothing is collected off the rewrite. Reads `sem_codebook` and
    * `sem_vectors`, writes nothing. */
  private[operators] def planRepair(spark: SparkSession,
      store: SemanticStore, victims: DataFrame, idCol: String,
      inserts: Option[DataFrame], codebook0: => Codebook): RepairPlan = {
    val t = spark.table(store.vectorsRel)
    val vic = victims.select(col(idCol).as("vid"))
    // The codebook plus the insert-cell collect (the inserts are
    // assigned against that codebook) overlap the store-grid collect —
    // independent reads.
    var codebook: Codebook = null
    var ins: Option[DataFrame] = None
    var insCells: Seq[(Int, String)] = Nil
    var grid: Seq[(Int, String, Long, Long)] = null
    graft.core.Par.run(
      () => {
        codebook = codebook0
        // Row-local assignment (inline-literal centroids), persisted:
        // the cell collect and the rewrite both consume it.
        ins = inserts.map(rows => Caches.persist(Similarity.assignClusters(
            Similarity.normalized(rows, "vid", "vec", "batch_id"),
            codebook._1)
          .select(col("vid"), col("cid"), col("v"), col("nrm"),
            col("batch_id").cast("string").as("batch_id"))))
        insCells = ins.map(_.select(col("cid"), col("batch_id")).distinct()
          .collect().map(r => (r.getInt(0), r.getString(1))).toSeq)
          .getOrElse(Nil)
      },
      () => {
        // (cid, batch, rows, victims) per cell: one row per (cluster,
        // batch) pair, at most k times the batch count. Exact counts from
        // a union of the store and its victim rows (a semi-join, so a
        // duplicated victim id counts once).
        val part = col("batch_id").cast("string").as("p")
        grid = t.select(col("cid"), part, lit(1L).as("n"), lit(0L).as("g"))
          .unionAll(t.join(vic, Seq("vid"), "left_semi")
            .select(col("cid"), part, lit(0L).as("n"), lit(1L).as("g")))
          .groupBy(col("cid"), col("p"))
          .agg(sum(col("n")).as("n"), sum(col("g")).as("g"))
          .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2),
            r.getLong(3))).toSeq
      })
    val threshold = codebook._2
    val cids = (grid.filter(_._4 > 0).map(_._1) ++ insCells.map(_._1))
      .distinct.sorted.toIndexedSeq
    if (cids.isEmpty) return RepairPlan(None, Nil, Nil)
    val cidSet = cids.toSet
    val insParts = insCells.map(_._2).toSet
    val parts = (grid.filter(c => cidSet(c._1)).map(_._2) ++ insParts)
      .distinct.sorted.toIndexedSeq
    // A partition empties iff every row it holds is a victim and no
    // insert lands in it.
    val remaining = grid.groupMapReduce(_._2)(c => c._3 - c._4)(_ + _)
    val emptied = parts.filter(p =>
      !insParts(p) && remaining.getOrElse(p, 0L) == 0L)
    val rows = Option.when(emptied.size < parts.size) {
      val kept0 = t.filter(col("cid").isin(cids: _*))
        .join(vic, Seq("vid"), "left_anti")
        .select(col("cid"), col("vid"), col("v"), col("nrm"),
          col("batch_id").cast("string").as("batch_id"))
      val surv = Caches.persist(ins match {
        case Some(i) => kept0.union(i.select(col("cid"), col("vid"),
          col("v"), col("nrm"), col("batch_id")))
        case None => kept0
      })
      val pred = surv.select(col("cid"), col("vid").as("pvid"),
        col("v").as("pv"), col("nrm").as("pn"))
      val dropped = surv.join(pred, "cid")
        .filter(col("pvid") < col("vid") &&
          Similarity.sim(col("pv"), col("pn"), col("v"), col("nrm"))
            >= threshold)
        .select(col("vid")).distinct()
        .withColumn("__dropped", lit(true))
      val repaired = surv.join(dropped, Seq("vid"), "left")
        .select(col("cid"), col("vid"), col("v"), col("nrm"),
          col("__dropped").isNull.as("keep"), col("batch_id"))
      val untouched = t.filter(col("batch_id").isin(parts: _*) &&
          !col("cid").isin(cids: _*))
        .select(col("cid"), col("vid"), col("v"), col("nrm"), col("keep"),
          col("batch_id"))
      // The overwrite replaces partitions this plan reads — truncate
      // lineage first (bounded by the affected clusters' spread).
      graft.core.Checkpoints.truncate(repaired.union(untouched))
    }
    RepairPlan(rows, parts, emptied)
  }

  /** The commit half of [[repair]]: the dynamic overwrite of the
    * rewritten partitions, then the drops of the emptied ones. Writes
    * only `sem_vectors`, and reads only the plan's truncated rows.
    * Returns (rewritten, dropped) partition names. */
  private[operators] def commitRepair(spark: SparkSession,
      store: SemanticStore, plan: RepairPlan): (Seq[String], Seq[String]) = {
    BatchCommit.replace(spark, store.vectorsRel, plan.rows, plan.emptied)
    (plan.parts, plan.emptied)
  }

  /** `sem_vectors` as [[commitRepair]] will leave it, `(vid, keep)`: the
    * plan's rows for the partitions it rewrites, the table's for every
    * partition it does not touch, none for the ones it empties. Lazy over
    * the table, so truncate what derives from it before the commit
    * starts. */
  private[operators] def keepsAfter(spark: SparkSession,
      store: SemanticStore, plan: RepairPlan): DataFrame = {
    val others = spark.table(store.vectorsRel)
      .filter(!col("batch_id").cast("string").isin(plan.parts: _*))
      .select(col("vid"), col("keep"))
    plan.rows.fold(others)(r =>
      others.unionAll(r.select(col("vid"), col("keep"))))
  }


  /** The frozen codebook in cid order plus the store's persisted
    * similarity threshold — k rows, the one bounded collect an ingest or
    * a repair needs (centroids ride inline in the assignment
    * expression; tau rides in every codebook row, set at build). */
  private[operators] type Codebook = (Array[(Array[Double], Double)], Double)

  private[operators] def loadCodebook(spark: SparkSession,
      store: SemanticStore): Codebook = {
    val rows = spark.table(store.codebookRel).orderBy(col("cid"))
      .select(col("cv"), col("cn"), col("tau")).collect()
    (rows.map(r => (r.getSeq[Double](0).toArray, r.getDouble(1))),
      rows.head.getDouble(2))
  }

  private def ingest(spark: SparkSession, batch: DataFrame, idCol: String,
      vecCol: String, store: SemanticStore,
      batchId: String, firstBatch: Boolean): Unit =
    BatchCommit.write(spark, batchId, store.vectorsRel ->
      verdicts(spark, batch, idCol, vecCol, store, batchId, firstBatch))

  /** The compute half of an ingest — the batch's `(cid, vid, v, nrm,
    * keep, batch_id)` rows, nothing written. Split out (the
    * [[DedupStore.deltaPairs]] pattern) so the spec can audit that the
    * increment's plan reads the PERSISTED store and assigns only the
    * batch. */
  private[operators] def verdicts(spark: SparkSession, batch: DataFrame,
      idCol: String, vecCol: String,
      store: SemanticStore, batchId: String, firstBatch: Boolean)
      : DataFrame = {
    val (cb, threshold) = loadCodebook(spark, store)
    val assigned = Caches.persist(Similarity.assignClusters(
        Similarity.normalized(batch, idCol, vecCol), cb)
      .select(col("vid"), col("cid"), col("v"), col("nrm")))
    val batchPred = assigned.select(col("cid"), col("vid").as("pvid"),
      col("v").as("pv"), col("nrm").as("pn"))
    // The store side is the replay read ([[BatchCommit.without]]).
    val preds =
      if (firstBatch) batchPred
      else batchPred.union(
        BatchCommit.without(spark, store.vectorsRel, batchId)
          .select(col("cid"), col("vid").as("pvid"), col("v").as("pv"),
            col("nrm").as("pn")))
    val dropped = assigned.join(preds, "cid")
      .filter(col("pvid") < col("vid") &&
        Similarity.sim(col("pv"), col("pn"), col("v"), col("nrm"))
          >= threshold)
      .select(col("vid")).distinct()
      .withColumn("__dropped", lit(true))
    assigned.join(dropped, Seq("vid"), "left")
      .select(col("cid"), col("vid"), col("v"), col("nrm"),
        col("__dropped").isNull.as("keep"),
        lit(batchId).as("batch_id"))
  }
}
