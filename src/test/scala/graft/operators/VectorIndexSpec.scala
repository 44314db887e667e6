package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.core.Tables

/** The persisted ANN index's production contract: probing the
  * incrementally-built index equals the one-shot in-query IVF-PQ over
  * the union, appends are idempotent on replay and touch only the
  * delta, and the probe plan reads persisted codes rather than
  * re-encoding the corpus.
  */
class VectorIndexSpec extends SparkSuite {

  private def emb: DataFrame =
    Tables(spark, "/root/testdata/sf0.001", "embeddings")
  private def isBatch = col("vec_id") % 5 === 0 && col("vec_id") >= 80
  private def queries = emb.filter(col("vec_id") < 5)

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.orderBy(col("qid"), col("rn")).collect().toSeq.map(_.toSeq)

  private def oneShot: Seq[Seq[Any]] =
    rows(Similarity.ivfPqTopK(emb, queries, "vec_id", "embedding", k = 5))

  test("build + append + probe equals the one-shot IVF-PQ over the union") {
    val index = VectorIndex("ann_spec")
    VectorIndex.reset(spark, index)
    VectorIndex.build(spark, emb.filter(!isBatch), "vec_id", "embedding",
      index)
    VectorIndex.append(spark, emb.filter(isBatch), "vec_id", "embedding",
      index, "b1")
    val probed = rows(VectorIndex.topK(spark, queries, "vec_id",
      "embedding", index, k = 5))
    assert(probed.nonEmpty)
    assert(probed == oneShot)
    VectorIndex.reset(spark, index)
  }

  test("rebuild REPLACES the index — the retrain path clears stale codes") {
    val index = VectorIndex("ann_spec_rebuild")
    VectorIndex.reset(spark, index)
    VectorIndex.build(spark, emb.filter(!isBatch), "vec_id", "embedding",
      index)
    VectorIndex.append(spark, emb.filter(isBatch), "vec_id", "embedding",
      index, "b1")
    // Retrain over the full corpus: without build's internal reset the
    // b1 partition would survive next to the fresh base and its vectors
    // would score twice in every probe.
    VectorIndex.build(spark, emb, "vec_id", "embedding", index)
    assert(BatchCommit.batchIds(spark, index.codesRel) == Seq("base"))
    assert(rows(VectorIndex.topK(spark, queries, "vec_id", "embedding",
      index, k = 5)) == oneShot)
    VectorIndex.reset(spark, index)
  }

  test("append replay is idempotent; codebook is frozen across appends") {
    val index = VectorIndex("ann_spec_replay")
    VectorIndex.reset(spark, index)
    VectorIndex.build(spark, emb.filter(!isBatch), "vec_id", "embedding",
      index)
    val cbBefore = spark.table(index.codebookRel)
      .orderBy(col("kind"), col("ord")).collect().toSeq.map(_.toSeq)
    VectorIndex.append(spark, emb.filter(isBatch), "vec_id", "embedding",
      index, "b1")
    val first = rows(VectorIndex.topK(spark, queries, "vec_id",
      "embedding", index, k = 5))
    val codeRows = spark.table(index.codesRel).count()
    // Replay the same batch id (the nightly job died and re-ran).
    VectorIndex.append(spark, emb.filter(isBatch), "vec_id", "embedding",
      index, "b1")
    assert(rows(VectorIndex.topK(spark, queries, "vec_id", "embedding",
      index, k = 5)) == first)
    assert(spark.table(index.codesRel).count() == codeRows,
      "replay must not duplicate code rows")
    assert(spark.table(index.codebookRel).orderBy(col("kind"), col("ord"))
      .collect().toSeq.map(_.toSeq) == cbBefore,
      "append must never retrain the codebook")
    VectorIndex.reset(spark, index)
  }

  test("probe reads persisted codes; append encodes only the delta") {
    val index = VectorIndex("ann_spec_plan")
    VectorIndex.reset(spark, index)
    VectorIndex.build(spark, emb.filter(!isBatch), "vec_id", "embedding",
      index)
    VectorIndex.append(spark, emb.filter(isBatch), "vec_id", "embedding",
      index, "b1")
    val plan = VectorIndex.topK(spark, queries, "vec_id", "embedding",
      index, k = 5).queryExecution.optimizedPlan.toString
    assert(plan.contains("ann_codes"),
      s"probe must scan the persisted code table:\n$plan")
    // The only embeddings scan in the probe plan is the QUERY side
    // (vec_id < 5); the corpus side streams off ann_codes with no
    // re-encode (no negated batch filter anywhere in the plan).
    assert(plan.contains("vec_id") && plan.contains("< 5"),
      s"query-side scan expected:\n$plan")
    // Neither side of the base/batch split appears in the probe plan —
    // the corpus reaches it only as persisted codes, never as raw
    // embeddings to re-encode.
    assert(!plan.contains("% 5"),
      s"no base/batch split scan may appear in the probe plan:\n$plan")
    VectorIndex.reset(spark, index)
  }
}
