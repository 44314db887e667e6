package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Small-file compaction for the partition-per-batch incremental stores
  * ([[DedupStore]], [[VectorIndex]] codes — any relation the engine
  * maintains as one partition per arriving batch). The append path
  * commits one partition per batch BY DESIGN (that is what makes replay
  * idempotent), so a year of nightly batches leaves ~365 partitions of
  * a few files each: at 100 TB the store's read cost shifts from data
  * to filesystem metadata — every probe join lists every partition ever
  * written, and object-store listings are the slow, billed operation.
  * Compaction folds closed batch partitions into one `compacted`
  * partition rewritten at a chosen file count, bounding the partition
  * and file population regardless of store age.
  *
  * Protocol — two phases on the engine's own incremental primitives:
  *
  *  1. FOLD: rewrite the union of the fold set (the existing `compacted`
  *     partition, if any, plus every foldable batch) into the
  *     `compacted` partition via dynamic partition overwrite — one
  *     job-atomic commit;
  *  2. DROP: remove each folded original partition (idempotent per-
  *     partition metadata drops).
  *
  * A crash between the phases leaves folded rows visible TWICE (the
  * classic non-transactional-compaction hazard — lakehouse formats hide
  * it behind snapshot commits). The recovery contract is REPLAY, and
  * replay converges because the fold input is `distinct()` over the
  * union of label + originals: re-running after any partial drop
  * rewrites the identical `compacted` content and completes the
  * remaining drops. `distinct()` is sound because every store this
  * engine maintains is row-unique across batches by construction (one
  * shingle row per doc, one index row per (doc, band), one verified
  * pair per (doc_a, doc_b), one code row per vector) — a store that
  * legitimately repeats rows across batches must not use this op.
  *
  * What compaction must NOT touch: batches still inside the pipeline's
  * replay horizon. A replayed batch overwrites ITS OWN partition; if
  * that partition was folded away, the replay would duplicate its rows
  * into a fresh partition next to the folded copy. Callers pass the
  * horizon via `keep`; [[DedupStore]]/[[VectorIndex]] wrappers keep the
  * most recent batches by id.
  */
object StoreCompaction {

  val Label = "compacted"

  final case class Stats(relation: String, folded: Seq[String],
      partitionsBefore: Int, partitionsAfter: Int,
      filesBefore: Int, filesAfter: Int) {
    override def toString: String =
      s"$relation: folded ${folded.size} partitions " +
        s"($partitionsBefore -> $partitionsAfter), " +
        s"files $filesBefore -> $filesAfter"
  }

  /** Part-file count under the relation's current location — the
    * metadata population compaction exists to bound. */
  def fileCount(spark: SparkSession, relation: String): Int = {
    import org.apache.spark.sql.catalyst.TableIdentifier
    val Array(schema, name) = relation.split('.')
    val loc = new org.apache.hadoop.fs.Path(spark.sessionState.catalog
      .getTableMetadata(TableIdentifier(name, Some(schema))).location)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(loc, true)
    var n = 0
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.startsWith("part-")) n += 1
    }
    n
  }

  /** Fold every batch partition not in `keep` (plus any existing
    * `compacted` partition) into `compacted`, rewritten as
    * `targetFiles` files. No-op when nothing new is foldable. */
  def compact(spark: SparkSession, relation: String, keep: Set[String],
      targetFiles: Int = 1): Stats = {
    val ids = BatchCommit.batchIds(spark, relation)
    val fold = ids.filterNot(id => keep(id) && id != Label)
    val filesBefore = fileCount(spark, relation)
    if (fold.isEmpty || fold == Seq(Label))
      return Stats(relation, Nil, ids.size, ids.size, filesBefore,
        filesBefore)
    val folded = spark.table(relation)
      .filter(col("batch_id").isin(fold: _*))
      .drop("batch_id")
      // Replay convergence (see protocol above) — and harmless when the
      // prior run completed: partitions are disjoint row sets.
      .distinct()
      .withColumn("batch_id", lit(Label))
      .repartition(targetFiles)
      // The overwrite replaces the `compacted` partition the fold plan
      // reads; truncate lineage first (same pattern as the hourly-mart
      // merge). Maintenance-window sized: one store's rows, spillable.
      .transform(graft.core.Checkpoints.truncate)
    val originals = fold.filterNot(_ == Label)
    BatchCommit.replace(spark, relation, Some(folded), originals)
    Stats(relation, originals, ids.size,
      BatchCommit.batchIds(spark, relation).size,
      filesBefore, fileCount(spark, relation))
  }

  /** Compact all three [[DedupStore]] tables. `keep` is the replay
    * horizon — the batch ids still subject to pipeline replay, named by
    * the CALLER because recency is pipeline knowledge (batch ids carry
    * no ordering contract; a store can't infer which are still open). */
  def compactDedupStore(spark: SparkSession, store: DedupStore,
      keep: Set[String], targetFiles: Int = 1): Seq[Stats] =
    Seq(store.shinglesRel, store.bucketsRel, store.pairsRel)
      .map(rel => compact(spark, rel, keep, targetFiles))

  /** Compact the [[VectorIndex]] codes table (the codebook is a tiny
    * atomic-refresh table — nothing to fold). Same `keep` contract as
    * [[compactDedupStore]]. */
  def compactVectorIndex(spark: SparkSession, index: VectorIndex,
      keep: Set[String], targetFiles: Int = 1): Stats =
    compact(spark, index.codesRel, keep, targetFiles)

  /** Compact the [[SemanticStore]] vectors table (row-unique — one row
    * per vector — so the distinct-union replay contract holds; the
    * codebook is a tiny atomic-refresh table, nothing to fold). Same
    * `keep` contract as [[compactDedupStore]]. */
  def compactSemanticStore(spark: SparkSession, store: SemanticStore,
      keep: Set[String], targetFiles: Int = 1): Stats =
    compact(spark, store.vectorsRel, keep, targetFiles)
}
