package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Targeted deletion from the partition-per-batch incremental stores —
  * the takedown / right-to-be-forgotten path. A 100 TB corpus pipeline
  * WILL receive removal requests (DMCA, GDPR, opt-outs), and the naive
  * answers are both wrong at scale: rebuilding the store without the
  * victims re-pays the full pass, and filtering victims at read time
  * leaves the data on disk (not deletion at all, and a per-probe tax
  * forever). Here a delete rewrites ONLY the batch partitions that
  * contain victim rows, in at most three SQL executions:
  *
  *  1. AGGREGATE — one collect of per-partition `(total, remaining)`
  *     counts, `remaining` counted over the store minus the victims. A
  *     partition is affected iff the two differ and emptied iff nothing
  *     remains; the deleted-row count is the summed difference. Exact,
  *     and the only read that plans over the whole store;
  *  2. TRUNCATE — the remaining rows of the affected partitions that
  *     keep rows, lineage-truncated (the overwrite replaces partitions
  *     this plan reads; bounded by the victim set's spread, not the
  *     store);
  *  3. WRITE — those partitions in one dynamic partition overwrite
  *     (job-atomic per commit), and a partition the delete emptied is
  *     DROPPED instead: [[BatchCommit.replace]] and its empty-increment
  *     contract. When every affected partition empties, steps 2 and 3
  *     are skipped and only the drops run.
  *
  * Victims arrive as a DataFrame of ids (takedown lists run to millions
  * — a join, never an `isin` literal), matched by one or more
  * caller-supplied conditions: a row goes when ANY of them matches, so
  * multi-column stores (pair tables, edge tables) delete both sides in
  * one rewrite. The conditions chain as equi-anti joins, one per
  * condition — never one OR-join, which would fall off the hash-join
  * path — and a row matching several of them is deleted and counted
  * once. Deleting is idempotent: re-running the same victim set finds
  * no affected partitions, runs the aggregate alone and touches nothing.
  */
object StoreRetention {

  final case class DeleteStats(relation: String, affected: Seq[String],
      dropped: Seq[String], rowsDeleted: Long) {
    override def toString: String =
      s"$relation: $rowsDeleted rows from ${affected.size} partitions " +
        s"(${dropped.size} emptied)"
  }

  /** One match condition: `m(store, ids)` builds the join predicate from
    * the two sides' columns. */
  type Match = (DataFrame, DataFrame) => Column

  /** Delete every row of `relation` that ANY of `matches` pairs with a
    * row of `ids`. Rewrites only the partitions containing matches. */
  def deleteRows(spark: SparkSession, relation: String, ids: DataFrame,
      matches: Seq[Match]): DeleteStats = {
    require(matches.nonEmpty, s"deleteRows($relation) needs a match condition")
    val t = spark.table(relation)
    def remaining(df: DataFrame): DataFrame =
      matches.foldLeft(df)((d, m) => d.join(ids, m(d, ids), "left_anti"))
    val part = col("batch_id").cast("string").as("p")
    val counts = t.select(part, lit(1L).as("n"), lit(0L).as("r"))
      .unionAll(remaining(t).select(part, lit(0L).as("n"), lit(1L).as("r")))
      .groupBy(col("p"))
      .agg(sum(col("n")).as("n"), sum(col("r")).as("r"))
      .filter(col("n") =!= col("r"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toIndexedSeq
    val (kept, emptied) = counts.partition(_._3 > 0)
    val dropped = emptied.map(_._1)
    BatchCommit.replace(spark, relation, Option.when(kept.nonEmpty)(
      remaining(t.filter(col("batch_id").isin(kept.map(_._1): _*)))
        .transform(graft.core.Checkpoints.truncate)), dropped)
    DeleteStats(relation, counts.map(_._1), dropped,
      counts.map(c => c._2 - c._3).sum)
  }

  /** Remove documents from a [[DedupStore]]: their shingles, their LSH
    * index rows, and every verified pair touching them (either side —
    * one rewrite with two match conditions). `ids` carries one `doc_id`
    * column. The three relations are independent, so their rewrites run
    * concurrently; one [[DeleteStats]] per relation. */
  def deleteDocs(spark: SparkSession, store: DedupStore,
      ids: DataFrame): Seq[DeleteStats] = {
    val byDoc: Seq[Match] = Seq((t, v) => t("doc_id") === v("doc_id"))
    val rewrites: Seq[(String, Seq[Match])] = Seq(
      store.shinglesRel -> byDoc,
      store.bucketsRel -> byDoc,
      store.pairsRel -> Seq(
        (t, v) => t("doc_a") === v("doc_id"),
        (t, v) => t("doc_b") === v("doc_id")))
    val out = new Array[DeleteStats](rewrites.size)
    graft.core.Par.run(rewrites.zipWithIndex.map { case ((rel, ms), i) =>
      () => out(i) = deleteRows(spark, rel, ids, ms)
    }: _*)
    out.toIndexedSeq
  }

  /** Remove documents from a [[PostingsStore]]: their postings and
    * doc_lengths rows leave partition-scoped. Every df-dependent score
    * SELF-HEALS: BM25's df, n_docs and avgdl are recomputed from the
    * surviving postings/lengths at query time (nothing in the store
    * caches a corpus statistic), so post-delete rankings equal a
    * from-scratch build over corpus-minus-victims — the t28 gate pins
    * that equality against the one-shot oracle. */
  def deletePostings(spark: SparkSession, store: PostingsStore,
      ids: DataFrame): Seq[DeleteStats] = {
    // Independent relations — concurrent partition rewrites (guide §2.6).
    val out = new Array[DeleteStats](2)
    graft.core.Par.run(
      Seq(store.postingsRel, store.lengthsRel).zipWithIndex.map {
        case (rel, i) => () => out(i) = deleteRows(spark, rel, ids,
          Seq((t, v) => t("doc_id") === v("doc_id")))
      }: _*)
    out.toIndexedSeq
  }

  /** Remove vectors from a [[VectorIndex]]'s codes table. The frozen
    * codebook keeps its seed rows: PQ sub-codebooks and coarse
    * centroids are LEARNED STATISTICS over the corpus, not retrievable
    * copies of any vector — deleting a vector removes it from every
    * probe result; whether derived statistics must also be retrained
    * is a policy decision that maps to an explicit index rebuild. */
  def deleteVectors(spark: SparkSession, index: VectorIndex,
      ids: DataFrame): DeleteStats =
    deleteRows(spark, index.codesRel, ids,
      Seq((t, v) => t("vid") === v("vec_id")))
}
