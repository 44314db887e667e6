package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._

import graft.model.CatalogMaterializer

/** The one batch commit of the partition-per-batch stores ([[DedupStore]],
  * [[PostingsStore]], [[SpanStore]], [[BlockStore]], [[LinkGraphStore]],
  * [[SemanticStore]], [[VectorIndex]], [[CorpusPipeline]]): dbt's
  * `insert_overwrite` partition replace over `saveAsTable`, written once.
  * Every store table is partitioned by `batch_id`, and every store writes,
  * rewrites and replay-reads it through this object.
  *
  *  - The empty-increment contract. A dynamic partition overwrite of an
  *    EMPTY frame touches nothing, so it would keep the partition's stale
  *    rows. [[write]] therefore drops the batch partition before it
  *    overwrites it (a replay whose recompute came up empty leaves no
  *    rows), and [[replace]] drops the partitions a rewrite emptied.
  *  - The replay read. A recompute reads the store WITHOUT its own batch,
  *    so a crash replay never pairs the batch with its own half-written
  *    partition. [[without]] pins the other batches by name, from the
  *    catalog's partition metadata, when it is called: a lazy plan run
  *    after a later append still sees only the batches that preceded
  *    this one, and the listing starts no Spark job.
  */
object BatchCommit {

  /** The stores' one materialiser, also used for their resets and their
    * full-refresh side tables (codebooks, fences). */
  private[operators] val mat = new CatalogMaterializer

  /** Commit batch `batchId` of every relation: tag each frame with
    * `batch_id`, drop the batch partition, then dynamic-overwrite it.
    * Replaying a batch overwrites exactly its own partitions. Relations
    * commit concurrently, so no frame may read a sibling relation's
    * `batchId` partition; a caller whose frames do calls once per
    * relation. */
  def write(spark: SparkSession, batchId: String,
      rels: (String, DataFrame)*): Unit =
    graft.core.Par.run(rels.map { case (rel, df) => () => {
      mat.dropPartition(spark, rel, "batch_id", batchId)
      mat.materializeIncremental(spark, rel,
        df.withColumn("batch_id", lit(batchId)), Seq("batch_id"))
    }}: _*)

  /** Rewrite partitions of `rel` in place: `rows` (already carrying
    * `batch_id`) overwrite the partitions they hold, then each `emptied`
    * partition is dropped. A plan over `rel` must be truncated before it
    * is passed as `rows`: the overwrite replaces what it reads. */
  def replace(spark: SparkSession, rel: String, rows: Option[DataFrame],
      emptied: Seq[String]): Unit = {
    rows.foreach(mat.materializeIncremental(spark, rel, _, Seq("batch_id")))
    emptied.foreach(mat.dropPartition(spark, rel, "batch_id", _))
  }

  /** The batch partitions of `rel`, sorted, from the catalog's partition
    * metadata: no Spark job. */
  def batchIds(spark: SparkSession, rel: String): Seq[String] = {
    val Array(schema, name) = rel.split('.')
    spark.sessionState.catalog
      .listPartitions(TableIdentifier(name, Some(schema)))
      .map(_.spec("batch_id")).sorted.toIndexedSeq
  }

  /** `rel` without batch `batchId`: the replay read, over the batches
    * present now, pinned by name. */
  def without(spark: SparkSession, rel: String, batchId: String): DataFrame =
    spark.table(rel).filter(
      col("batch_id").isin(batchIds(spark, rel).filterNot(_ == batchId): _*))
}
