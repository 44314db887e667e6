package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.TopK

/** Persisted, appendable IVF-PQ index — the production ANN lifecycle
  * that the in-query operators ([[Similarity.ivfPqTopK]]) deliberately
  * skip: they rebuild codebooks and re-encode the corpus inside every
  * query plan, which is the right shape for a one-shot audit and the
  * wrong one for a pipeline that probes the same corpus daily and
  * appends a crawl's worth of new vectors nightly. Here the index is
  * two engine-managed tables:
  *
  *  - `ann_codebook(kind, ord, v, nrm)` — the coarse centroids (`kind =
  *    'coarse'`, in cid order: the deterministic seed prefix by
  *    default, or k-means-trained centroids when the build passes
  *    `trainIters > 0`) and the PQ sub-codebook seeds (`kind = 'pq'`,
  *    exactly [[Similarity.ivfPqTopK]]'s seeding), materialized via the
  *    atomic full-refresh sink: codebooks change ONLY on a full
  *    rebuild, never on append — the classic production contract
  *    (append encodes with the frozen codebook; retraining is an
  *    explicit rebuild);
  *  - `ann_codes(cid, vid, c0..c{m}, batch_id)` — coarse bucket + PQ
  *    codes per vector, partition-per-batch with dynamic overwrite
  *    (append = encode the DELTA row-locally and commit one partition;
  *    replaying a batch is idempotent).
  *
  * Because every step (seed prefix, rounded-cosine bucket assignment,
  * rounded-dot PQ encode, ADC scoring) is deterministic, a probe
  * against the persisted index equals the one-shot
  * [[Similarity.ivfPqTopK]] over the union of all appended batches —
  * v14 pins that against the same exact DuckDB oracle as v11, with the
  * index built from an 80% base and the rest arriving as a batch.
  *
  * Scale shape: append is a row-local scan of the delta (inline-literal
  * codebook, zero shuffle) plus one partition commit; the probe
  * broadcasts queries against the codes table (8-byte-ish rows — the
  * whole point of PQ) with the per-query top-k window as the only
  * shuffle; nothing ever re-touches stored vectors.
  */
final case class VectorIndex(schemaName: String) {
  val codebookRel: String = s"$schemaName.ann_codebook"
  val codesRel: String = s"$schemaName.ann_codes"
}

object VectorIndex {
  private val Nlist = 16
  private val NCodes = 16
  private val Subspaces = 4

  def reset(spark: SparkSession, index: VectorIndex): Unit =
    Seq(index.codebookRel, index.codesRel)
      .foreach(BatchCommit.mat.dropRelation(spark, _))

  /** Full (re)build: freeze the codebook — the seed prefix by default,
    * or ([[Similarity.trainedIvfCodebook]], `trainIters > 0`) the
    * k-means-refined coarse centroids, with PQ sub-codebooks staying
    * seeded either way — and encode the whole corpus as batch zero.
    * REPLACES any existing index first — this is also the RETRAIN path
    * after deletions or drift (the codebook refresh is atomic; the
    * codes reset clears stale batch partitions a plain re-encode would
    * retain). The codebook table stores coarse and PQ rows side by side
    * (`kind`, `ord`): training happens ONCE here, appends and probes
    * only ever read the frozen rows. */
  def build(spark: SparkSession, corpus: DataFrame, idCol: String,
      vecCol: String, index: VectorIndex, batchId: String = "base",
      trainIters: Int = 0): Unit = {
    reset(spark, index)
    val n = Similarity.normalized(corpus, idCol, vecCol)
    val prefix = n.orderBy(col("vid")).limit(math.max(Nlist, NCodes))
      .select(col("vid"), col("v"), col("nrm")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
    val coarse =
      if (trainIters > 0)
        Similarity.trainedIvfCodebook(corpus, idCol, vecCol, Nlist,
          trainIters)
      else prefix.take(Nlist).zipWithIndex
        .map { case ((_, v, nr), i) => (i.toLong, v, nr) }
    import spark.implicits._
    val rows =
      coarse.toSeq.map { case (cid, v, nr) =>
        ("coarse", cid, v.toSeq, nr) } ++
      prefix.take(NCodes).zipWithIndex.map { case ((_, v, nr), j) =>
        ("pq", j.toLong, v.toSeq, nr) }
    BatchCommit.mat.materializeTable(spark, index.codebookRel,
      rows.toDF("kind", "ord", "v", "nrm"))
    writeCodes(spark, n, index, batchId)
  }

  /** Append: encode ONLY `delta` with the frozen codebook (row-local —
    * no stored vector is read, no codebook retrained) and commit its
    * partition. */
  def append(spark: SparkSession, delta: DataFrame, idCol: String,
      vecCol: String, index: VectorIndex, batchId: String): Unit =
    writeCodes(spark, Similarity.normalized(delta, idCol, vecCol),
      index, batchId)

  /** Approximate top-k off the PERSISTED index: queries probe `nprobe`
    * coarse buckets, candidates stream off `ann_codes`, ADC-scored and
    * top-k windowed — identical ranking to [[Similarity.ivfPqTopK]]
    * over the union of all appended batches. */
  def topK(spark: SparkSession, queries: DataFrame, idCol: String,
      vecCol: String, index: VectorIndex, k: Int, nprobe: Int = 4)
      : DataFrame = {
    val (coarse, pqSeeds) = readCodebook(spark, index)
    val (centers, subDim) =
      Similarity.pqCentersFromSeeds(pqSeeds, Subspaces)
    val probes = Similarity
      .nearestBuckets(Similarity.normalized(queries, idCol, vecCol),
        coarse, nprobe)
      .select(col("vid").as("qid"), col("v").as("qv"), col("cid"))
    val scored = spark.table(index.codesRel).join(broadcast(probes), Seq("cid"))
      .filter(col("vid") =!= col("qid"))
      .select(col("qid"), col("vid").as("nid"),
        round(Similarity.pqAdcScore(col("qv"), centers, subDim), 6)
          .as("score"))
    TopK.perKey(scored, Seq(col("qid")), Seq(col("score").desc, col("nid")),
      k, "rn")
  }

  /** The frozen codebook — (coarse centroids in cid order, PQ seed
    * vectors in seed order); bounded (nlist + nCodes rows), collected
    * once per probe/append. */
  private def readCodebook(spark: SparkSession, index: VectorIndex)
      : (Array[(Long, Array[Double], Double)], Array[Array[Double]]) = {
    val rows = spark.table(index.codebookRel)
      .orderBy(col("kind"), col("ord"))
      .select(col("kind"), col("ord"), col("v"), col("nrm")).collect()
    val (c, p) = rows.partition(_.getString(0) == "coarse")
    (c.map(r => (r.getLong(1), r.getSeq[Double](2).toArray,
        r.getDouble(3))),
      p.map(_.getSeq[Double](2).toArray))
  }

  /** Encode (bucket + PQ codes, both row-local against the inline
    * codebook) and commit one batch partition. */
  private def writeCodes(spark: SparkSession, n: DataFrame,
      index: VectorIndex, batchId: String): Unit = {
    val (coarse, pqSeeds) = readCodebook(spark, index)
    val (centers, subDim) =
      Similarity.pqCentersFromSeeds(pqSeeds, Subspaces)
    val encoded = Similarity.nearestBuckets(n, coarse, 1)
      .select(col("cid") +: col("vid") +:
        (0 until Subspaces).map(sp =>
          Similarity.pqCode(col("v"), sp, centers, subDim).as(s"c$sp")): _*)
    BatchCommit.write(spark, batchId, index.codesRel -> encoded)
  }
}
