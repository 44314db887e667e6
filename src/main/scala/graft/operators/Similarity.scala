package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.{Caches, Checkpoints, TopK}
import graft.functions.Hashing

/** Similarity search over an embedding column (array<float>).
  *
  * Scale design: brute force is the exact baseline — queries broadcast
  * against a linear corpus scan, embarrassingly parallel (each partition
  * scores its rows; no shuffle until the per-query top-k). The IVF
  * variant is the 100 TB path: corpus rows are assigned to their nearest
  * centroid ROW-LOCALLY (the codebook rides inline in the expression —
  * zero shuffle, zero expansion), so the bucketed corpus can live as a
  * partitioned table and each query probes only `nprobe` buckets. LSH
  * (`lshTopK`, `nearDupPairsBanded`) is the train-free alternative;
  * exact all-pairs (`nearDupPairs`) runs as a tiled self-join with
  * linear replication and bounded task memory.
  *
  * Per-pair arithmetic: norms are computed once per vector (not per pair)
  * and the dot product is a native single-pass expression
  * ([[graft.functions.DotProduct]]); the value `dot(a,b)/(‖a‖·‖b‖)` is
  * bit-identical to the naive per-pair formulation because every float op
  * and its order is unchanged — only redundant recomputation is removed.
  */
object Similarity {

  /** Cosine similarity of two array<double> columns. */
  def cosine(a: Column, b: Column): Column =
    Hashing.dotProduct(a, b) /
      (sqrt(Hashing.dotProduct(a, a)) * sqrt(Hashing.dotProduct(b, b)))

  /** (vid, v, nrm) with the L2 norm materialized once per vector. */
  private[operators] def normalized(emb: DataFrame, idCol: String,
      vecCol: String, keep: String*) = {
    val v = col(vecCol).cast("array<double>")
    emb.select(Seq(col(idCol).as("vid"), v.as("v")) ++ keep.map(col): _*)
      .withColumn("nrm", sqrt(Hashing.dotProduct(col("v"), col("v"))))
  }

  private[operators] def sim(av: Column, an: Column, bv: Column,
      bn: Column): Column =
    round(Hashing.dotProduct(av, bv) / (an * bn), 6)

  /** Exact top-k neighbors for each query vector (queries broadcast). Ties
    * on rounded similarity break by neighbor id — fully deterministic. */
  def bruteForceTopK(emb: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val corpus = normalized(emb, idCol, vecCol)
    val q = normalized(queries, idCol, vecCol)
      .select(col("vid").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    val scored = corpus.join(broadcast(q), col("vid") =!= col("qid"))
      .select(col("qid"), col("vid").as("nid"),
        sim(col("qv"), col("qn"), col("v"), col("nrm")).as("sim"))
    TopK.perKey(scored, Seq(col("qid")), Seq(col("sim").desc, col("nid")),
      k, "rn")
  }

  /** Identical-vector clusters: one row per distinct (v, nrm), keyed by
    * the representative (min id), carrying the member list. Same rationale
    * as `Dedup.clusters`: duplicate clusters of size m otherwise cost m²
    * pair evaluations for pairs that are cosine-1 by construction. */
  private def vectorClusters(emb: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    Caches.persist(normalized(emb, idCol, vecCol)
      .groupBy(col("v"), col("nrm"))
      .agg(min(col("vid")).as("vid"),
        sort_array(collect_list(col("vid"))).as("members")))

  /** Expand representative pairs (id_a, id_b, sim) back through cluster
    * membership; within-cluster pairs are emitted with sim = 1 (cosine of
    * identical vectors). Output identical to enumerating raw pairs, since
    * cosine is a function of the vector values alone. */
  private def expandVectorClusters(repPairs: DataFrame,
      groups: DataFrame): DataFrame = {
    val memA = groups.select(col("vid").as("id_a"), col("members").as("ma"))
    val memB = groups.select(col("vid").as("id_b"), col("members").as("mb"))
    val cross = repPairs
      .join(memA, "id_a").join(memB, "id_b")
      .select(explode(col("ma")).as("a"), col("mb"), col("sim"))
      .select(col("a"), explode(col("mb")).as("b"), col("sim"))
      .select(least(col("a"), col("b")).as("id_a"),
        greatest(col("a"), col("b")).as("id_b"), col("sim"))
    val within = groups.filter(size(col("members")) > 1)
      .select(col("members"))
      .select(explode(col("members")).as("a"), col("members"))
      .select(col("a"), explode(col("members")).as("b"))
      .filter(col("a") < col("b"))
      .select(col("a").as("id_a"), col("b").as("id_b"),
        lit(1.0).as("sim"))
    cross.union(within)
  }

  /** All corpus pairs with cosine ≥ threshold (embedding near-dup), EXACT.
    * The threshold is applied to the rounded similarity so boundary
    * behavior is reproducible.
    *
    * Exactness at a mid-range threshold is an all-pairs problem: on a
    * measured corpus like the testdata embeddings the similarity
    * distribution is a smooth Gaussian tail with NO gap at the threshold
    * (background max 0.4497 vs qualifying min 0.4501 at sf0.1), so no
    * sublinear candidate filter — LSH banding included — can reach recall
    * 1 without admitting nearly all pairs (hyperplane agreement 0.649 at
    * sim 0.45 vs 0.5 at sim 0: any (r, bands) amplification separating
    * those also keeps the bulk). The O(n²) dot products are therefore
    * irreducible for exact output; what must NOT be O(n²) at 100 TB is
    * memory and data movement. This runs as a TILED self-join over the
    * distinct-vector representatives:
    *
    *  - each representative is hashed to one of `blocks` blocks, and
    *    replicated to the tiles (its block, j≥block) on the left and
    *    (i≤block, its block) on the right — (blocks+1)× linear
    *    replication, every unordered pair meets in exactly one tile;
    *  - tiles are an equi-join key, so this is one hash shuffle into
    *    B(B+1)/2 independent tasks whose memory is bounded by 2n/B
    *    vectors — no corpus broadcast, no driver collect, and `blocks`
    *    scales with the cluster (B ∝ √executors keeps per-task work
    *    constant as data grows);
    *  - the cheap diagonal/id predicate sits FIRST in the explicit join
    *    condition (conjunct order is preserved; the similarity conjunct
    *    short-circuits away for the skipped half of diagonal tiles).
    *
    * For corpora that DO have a similarity gap (true near-dups at ≥0.8
    * against an orthogonal background), [[nearDupPairsBanded]] is the
    * sub-quadratic path.
    */
  def nearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, blocks: Int = 8): DataFrame = {
    require(blocks > 0)
    val groups = vectorClusters(emb, idCol, vecCol)
    val reps = groups
      .withColumn("blk", pmod(xxhash64(col("vid")), lit(blocks)).cast("int"))
    val left = reps.select(col("vid").as("id_a"), col("v").as("va"),
      col("nrm").as("na"), col("blk").as("lti"),
      explode(sequence(col("blk"), lit(blocks - 1))).as("ltj"))
    val right = reps.select(col("vid").as("id_b"), col("v").as("vb"),
      col("nrm").as("nb"),
      explode(sequence(lit(0), col("blk"))).as("rti"),
      col("blk").as("rtj"))
    val repPairs = left.join(right,
        col("lti") === col("rti") && col("ltj") === col("rtj") &&
          (col("lti") =!= col("ltj") || col("id_a") < col("id_b")) &&
          sim(col("va"), col("na"), col("vb"), col("nb")) >= threshold)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        sim(col("va"), col("na"), col("vb"), col("nb")).as("sim"))
    expandVectorClusters(repPairs, groups)
  }

  /** Sub-quadratic near-dup pairs for corpora WITH a similarity gap:
    * hyperplane-LSH banded candidate generation (the `lshTopK` machinery,
    * self-join form) + exact cosine verification, mirroring
    * `Dedup.minhashLshPairs`. Precision is exactly 1 (every emitted pair
    * is verified ≥ threshold, a subset of [[nearDupPairs]]); recall is the
    * banding probability — with bits=64, bands=8 a true pair at cosine
    * 0.95 is missed with p ≈ 1e-2, at 0.99 with p ≈ 1e-4, while a random
    * near-orthogonal pair collides in any band with p ≈ 0.03, keeping
    * candidates near-linear. Identical-vector clusters are collapsed
    * first (identical vectors ⇒ identical signatures would flood their
    * buckets m² deep).
    */
  def nearDupPairsBanded(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bits: Int = 64, bands: Int = 8): DataFrame = {
    require(bits % bands == 0, "bands must divide bits")
    val r = bits / bands
    val mask = if (r == 64) -1L else (1L << r) - 1
    val groups = vectorClusters(emb, idCol, vecCol)
    val banded = groups
      .withColumn("sig", Hashing.hyperplaneSig(col("v"), bits))
      .select(col("vid"), col("v"), col("nrm"), explode(array(
        (0 until bands).map { b =>
          struct(lit(b).as("band"),
            shiftright(col("sig"), b * r).bitwiseAND(lit(mask)).as("bucket"))
        }: _*)).as("bb"))
      .select(col("vid"), col("v"), col("nrm"),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    val candidates = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.vid") < col("b.vid"))
      .select(col("a.vid").as("id_a"), col("b.vid").as("id_b"))
      .distinct()
    val va = groups.select(col("vid").as("id_a"), col("v").as("va"),
      col("nrm").as("na"))
    val vb = groups.select(col("vid").as("id_b"), col("v").as("vb"),
      col("nrm").as("nb"))
    val repPairs = candidates.join(va, "id_a").join(vb, "id_b")
      .withColumn("sim", sim(col("va"), col("na"), col("vb"), col("nb")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("sim"))
    expandVectorClusters(repPairs, groups)
  }

  /** LSH-bucketed ANN: random-hyperplane signatures
    * ([[graft.functions.HyperplaneSig]]) banded into (band, bucket) keys —
    * candidate generation is an equi-join on those keys (one shuffle, AQE
    * handles hot buckets), then exact cosine ranks the candidates. Unlike
    * IVF there is no training/centroid pass, so this is the variant that
    * drops into a streaming or append-only corpus at scale: signatures are
    * row-local and the bucket index is just a partitioned table.
    */
  def lshTopK(emb: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, bits: Int = 32, bands: Int = 8): DataFrame = {
    require(bits % bands == 0, "bands must divide bits")
    val r = bits / bands
    // r == 64 would wrap `1L << 64` to 1 (JVM shift mod 64) and collapse
    // every bucket to 0 — the full cross product in disguise.
    val mask = if (r == 64) -1L else (1L << r) - 1
    def banded(df: DataFrame): DataFrame = {
      val bandCols = (0 until bands).map { b =>
        struct(lit(b).as("band"),
          shiftright(col("sig"), b * r).bitwiseAND(lit(mask)).as("bucket"))
      }
      df.withColumn("sig", Hashing.hyperplaneSig(col("v"), bits))
        .select(col("vid"), explode(array(bandCols: _*)).as("bb"))
        .select(col("vid"), col("bb.band").as("band"),
          col("bb.bucket").as("bucket"))
    }
    val corpus = normalized(emb, idCol, vecCol)
    val q = normalized(queries, idCol, vecCol)
    val candidates = banded(q).withColumnRenamed("vid", "qid")
      .join(banded(corpus), Seq("band", "bucket"))
      .filter(col("vid") =!= col("qid"))
      .select(col("qid"), col("vid").as("nid"))
      .distinct()
    val scored = candidates
      .join(broadcast(q.select(col("vid").as("qid"), col("v").as("qv"),
        col("nrm").as("qn"))), "qid")
      .join(corpus.select(col("vid").as("nid"), col("v"), col("nrm")), "nid")
      .select(col("qid"), col("nid"),
        sim(col("qv"), col("qn"), col("v"), col("nrm")).as("sim"))
    TopK.perKey(scored, Seq(col("qid")), Seq(col("sim").desc, col("nid")),
      k, "rn")
      .select(col("qid"), col("nid"), col("sim"), col("rn"))
  }

  /** Spherical k-means (Lloyd's iterations under cosine similarity) —
    * the training pass that refines [[ivfTopK]]'s codebook. Each
    * iteration is one row-local assignment pass (the codebook rides
    * inline in an argmax expression — no shuffle, no expansion, same
    * mechanics as `ivfTopK`) plus one per-(cluster, dim) aggregation for
    * the mean update. Fully DETERMINISTIC across runs: seeding is the
    * first k vectors by id, assignment compares raw IEEE doubles against
    * a fixed codebook, and mean updates sum per-dimension as exact
    * decimals (order-independent) before one double division — so no
    * partition-order nondeterminism ever reaches the centroids. Empty
    * clusters keep their previous centroid.
    *
    * Returns the final codebook (k × dim means with their norms) and the
    * per-iteration objective Σ(1 − cos(v, c(v))) — non-increasing for
    * spherical k-means, which the spec asserts.
    */
  def kmeansFit(emb: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int, trackObjective: Boolean = true)
      : (Array[(Array[Double], Double)], Seq[Double]) = {
    // TRUNCATED, not merely persisted: every Lloyd iteration plans two
    // actions (assignment aggregate + mean collect) over this frame, and
    // a persist still re-analyzes the upstream tree per action — for the
    // recipe gates that tree is the whole embedding slice derivation
    // (guide §3.3/§5; the stage-frame rationale). A LogicalRDD keeps all
    // 2·iters downstream plans flat.
    val corpus = Checkpoints.truncate(normalized(emb, idCol, vecCol))
    var codebook: Array[(Array[Double], Double)] =
      corpus.orderBy(col("vid")).limit(k)
        .select(col("v"), col("nrm")).collect()
        .map(r => (r.getSeq[Double](0).toArray, r.getDouble(1)))
    val history = scala.collection.mutable.ArrayBuffer.empty[Double]
    for (_ <- 0 until iters) {
      val assigned = assignClusters(corpus, codebook)
      // The objective costs one extra pass per iteration — callers that
      // only want the codebook (serving paths) skip it.
      if (trackObjective) history += assigned
        .agg(sum((lit(1.0) - col("csim")).cast("decimal(38,12)"))
          .cast("double"))
        .head().getDouble(0)
      val means = assigned
        .select(col("cid"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy(col("cid"), col("dim"))
        // exact decimal sum, then ONE double division — the decimal
        // rounds at 18dp identically everywhere, so the whole training
        // loop is reproducible bit-for-bit by any engine (the v06 oracle
        // replays it in DuckDB).
        .agg((sum(col("x").cast("decimal(38,18)")).cast("double") /
          count(lit(1))).as("m"))
        .collect()
      val next = codebook.map { case (cv, cn) => (cv.clone(), cn) }
      means.groupBy(_.getInt(0)).foreach { case (cid, rows) =>
        val m = new Array[Double](next(cid)._1.length)
        rows.foreach(r => m(r.getInt(1)) = r.getDouble(2))
        var ss = 0.0
        var i = 0
        while (i < m.length) { ss += m(i) * m(i); i += 1 }
        next(cid) = (m, math.sqrt(ss))
      }
      codebook = next
    }
    (codebook, history.toSeq)
  }

  /** Row-local nearest-centroid assignment against an in-line codebook:
    * adds `cid` (codebook index; ties toward the lower index) and `csim`
    * (raw cosine to it) to a (vid, v, nrm) frame. */
  private[operators] def assignClusters(corpus: DataFrame,
      codebook: Array[(Array[Double], Double)]): DataFrame = {
    val entries = codebook.zipWithIndex.map { case ((cv, cn), i) =>
      struct(
        (-(Hashing.dotProduct(col("v"), lit(cv)) /
          (col("nrm") * lit(cn)))).as("neg"),
        lit(i).as("cid"))
    }
    val best = element_at(array_sort(array(entries.toIndexedSeq: _*)), 1)
    corpus.withColumn("cid", best.getField("cid"))
      .withColumn("csim", -best.getField("neg"))
  }

  /** Cluster sizes under a trained codebook (driver-gated v06 shape). */
  def kmeansClusterSizes(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int): DataFrame = {
    val (codebook, _) =
      kmeansFit(emb, idCol, vecCol, k, iters, trackObjective = false)
    assignClusters(normalized(emb, idCol, vecCol), codebook)
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_vectors"))
      .orderBy(col("cid"))
  }

  /** Embedding-space semantic dedup (the SemDeDup recipe, Abbas et al.
    * 2023, arXiv:2303.09540): cluster the corpus with the deterministic
    * spherical k-means ([[kmeansFit]]), then search for near-duplicates
    * ONLY within each cluster — the candidate set shrinks from O(N²)
    * pairs to O(Σ|cluster|²), and at scale k grows with the corpus so
    * cluster sizes (and so per-cluster work) stay bounded. Keep rule is
    * the PREDECESSOR rule (drop v iff some same-cluster u with a
    * smaller id has rounded cosine ≥ τ) — prefix-stable, so appending
    * vectors can never flip history's keep decisions (the same property
    * the corpus pipeline's near-dup stage relies on).
    *
    * Returns `(idCol, cid, keep)`. Fully deterministic: the training
    * loop is [[kmeansFit]]'s (exact-decimal mean updates), assignment
    * ties break to the lower centroid index, and the cosine compare
    * rounds to 6dp first (the v03 convention) — so an external engine
    * can replay the whole thing exactly, trained clusters included.
    *
    * 100 TB shape: training cost is iters × (one row-local assignment
    * pass + one per-(cluster, dim) agg); the dedup join is a cid
    * equi-join (one shuffle of (id, vec) pairs, hot clusters split by
    * AQE skew handling) — never an all-pairs product.
    */
  /** The honesty meter for [[semanticDedup]]'s approximation: cluster-
    * scoped search structurally MISSES near-dup pairs that straddle a
    * cluster boundary. This reports the exact count of ≥ τ pairs split
    * by whether the trained clustering keeps them together —
    * `(n_pairs, n_within, n_cross)` — the tuning surface for k (larger
    * k = cheaper search, more boundary misses). Exact arm is
    * [[nearDupPairs]] (blocked tiled self-join); at 100 TB this
    * telemetry runs on a hash-sampled slice, same caveat as the HLL
    * accuracy arm in q21. Deterministic end to end, so the oracle
    * recomputes both arms exactly.
    */
  def semanticRecallReport(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, threshold: Double): DataFrame = {
    val (codebook, _) =
      kmeansFit(emb, idCol, vecCol, k, iters, trackObjective = false)
    val assigned = Caches.persist(
      assignClusters(normalized(emb, idCol, vecCol), codebook)
        .select(col("vid"), col("cid")))
    nearDupPairs(emb, idCol, vecCol, threshold)
      .join(assigned.select(col("vid").as("id_a"), col("cid").as("ca")),
        "id_a")
      .join(assigned.select(col("vid").as("id_b"), col("cid").as("cb")),
        "id_b")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("ca") === col("cb"), 1L).otherwise(0L))
          .as("n_within"),
        sum(when(col("ca") =!= col("cb"), 1L).otherwise(0L))
          .as("n_cross"))
  }

  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, threshold: Double): DataFrame = {
    val (codebook, _) =
      kmeansFit(emb, idCol, vecCol, k, iters, trackObjective = false)
    val assigned = Caches.persist(
      assignClusters(normalized(emb, idCol, vecCol), codebook)
        .select(col("vid"), col("cid"), col("v"), col("nrm")))
    val pred = assigned.select(col("cid"), col("vid").as("pvid"),
      col("v").as("pv"), col("nrm").as("pn"))
    val dropped = assigned.join(pred, "cid")
      .filter(col("pvid") < col("vid") &&
        sim(col("pv"), col("pn"), col("v"), col("nrm")) >= threshold)
      .select(col("vid")).distinct()
      .withColumn("__dropped", lit(true))
    assigned.join(dropped, Seq("vid"), "left")
      .select(col("vid").as(idCol), col("cid"),
        col("__dropped").isNull.as("keep"))
  }

  /** Cross-corpus SEMANTIC contamination — d06's train/test leakage
    * check lifted to embedding space, where a PARAPHRASED benchmark
    * answer (the leak the gram tiers structurally cannot see) still
    * lands within cosine `threshold` of its source. The decontamination
    * convention matches d14: the codebook trains on the TRAIN side only
    * (the corpus you own — the benchmark must not shape the clustering),
    * both sides assign row-locally against the frozen centroids (zero
    * shuffle, the inlined-literal pass), and candidates are the
    * within-cluster CROSS join only — O(Σ|c_tr|·|c_te|), never
    * train×test; hot clusters are AQE's skew case. Per test row:
    * `contaminated`, the match count, and the smallest matching train
    * id (the audit pointer). Deterministic end to end ⇒ exact oracle
    * replays training, assignment, and the cross pass in SQL. */
  def semanticCrossContamination(train: DataFrame, test: DataFrame,
      idCol: String, vecCol: String, k: Int, iters: Int,
      threshold: Double): DataFrame = {
    val (codebook, _) =
      kmeansFit(train, idCol, vecCol, k, iters, trackObjective = false)
    val trAsg = assignClusters(normalized(train, idCol, vecCol), codebook)
      .select(col("vid").as("tvid"), col("cid"),
        col("v").as("tv"), col("nrm").as("tn"))
    val teAsg = Caches.persist(
      assignClusters(normalized(test, idCol, vecCol), codebook)
        .select(col("vid"), col("cid"), col("v"), col("nrm")))
    val hits = teAsg.join(trAsg, "cid")
      .filter(sim(col("tv"), col("tn"), col("v"), col("nrm"))
        >= threshold)
      .groupBy(col("vid"))
      .agg(count(lit(1)).as("n_matches"),
        min(col("tvid")).as("first_match"))
    teAsg.join(hits, Seq("vid"), "left")
      .select(col("vid").as(idCol),
        col("n_matches").isNotNull.as("contaminated"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        col("first_match"))
  }

  /** IVF-style approximate top-k: corpus assigned to its nearest centroid
    * (centroids = the first `nlist` vectors by id — deterministic seeding;
    * k-means refinement would slot in here), queries probe the `nprobe`
    * nearest centroid buckets only.
    *
    * Centroid assignment is ROW-LOCAL: the `nlist` codebook rows are
    * collected once (a bounded, tiny structure — the same move MLlib
    * k-means makes every iteration) and inlined as literals into one
    * expression per row — an array of (−sim, cid) structs, `array_sort`ed
    * lexicographically so ties break exactly like the former
    * (csim DESC, cid ASC) ranking, then sliced to the probe count. Zero
    * shuffle and zero row expansion for the corpus pass; the previous
    * formulation (crossJoin(broadcast(centroids)) + row_number window)
    * blew the corpus up ×nlist and then shuffled the blown-up rows just
    * to take a per-row argmax — a non-starter at 100 TB.
    */
  /** The IVF bucket-count policy's target mean bucket size — the
    * [[SemanticStore.TargetClusterSize]] discipline applied to the
    * coarse index: candidate volume in a bucketed self-join is
    * Σ_b |b|·probes, so holding E[|b|] constant (nlist ∝ N) is what
    * keeps the k-NN graph build ~linear as the corpus grows. */
  val TargetBucketSize = 50L

  /** nlist from corpus size: `max(1, n / TargetBucketSize)` — integer
    * arithmetic so any engine replays the choice exactly (v24's oracle
    * computes it in SQL as `GREATEST(1, COUNT(*) // 50)`, the same
    * move as d19's autoK). At 500 vectors this yields 10; at a FIXED
    * nlist the same corpus 10×'d degrades O(N²/nlist). */
  def autoNlist(n: Long): Int =
    math.max(1L, n / TargetBucketSize).toInt

  /** IVF coarse codebook: the first `nlist` corpus vectors by id —
    * deterministic seeding, collected once as a bounded driver-side
    * structure. The TRAINED alternative is [[trainedIvfCodebook]]
    * (pass `trainIters > 0` to [[ivfTopK]]/[[ivfPqTopK]]): seeding is
    * kept as the default so the seeded gates stay exact baselines the
    * trained path's recall gain is measured against (v07/v17). */
  private def ivfCodebook(corpus: DataFrame, nlist: Int)
      : Array[(Long, Array[Double], Double)] =
    corpus.orderBy(col("vid")).limit(nlist)
      .select(col("vid"), col("v"), col("nrm")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))

  /** TRAINED IVF coarse codebook: [[kmeansFit]]'s deterministic
    * spherical-k-means centroids (which SEED from the same first-`nlist`
    * prefix, then refine for `iters` Lloyd steps), labeled by centroid
    * index. Same bounded driver-side shape as the seed codebook —
    * centroids still inline as literals into the row-local assignment,
    * so the corpus pass stays zero-shuffle; training adds `iters` ×
    * (one assignment pass + one per-(cluster, dim) aggregate), paid once
    * per build and amortized by [[VectorIndex]]'s frozen-codebook
    * lifecycle. Fully deterministic (exact-decimal mean updates), so the
    * trained index keeps an exact cross-engine oracle (v17/v18). */
  private[operators] def trainedIvfCodebook(emb: DataFrame, idCol: String,
      vecCol: String, nlist: Int, iters: Int)
      : Array[(Long, Array[Double], Double)] =
    kmeansFit(emb, idCol, vecCol, nlist, iters, trackObjective = false)
      ._1.zipWithIndex
      .map { case ((cv, cn), i) => (i.toLong, cv, cn) }

  /** The `n` nearest coarse buckets of each (vid, v, nrm) point, ROW-LOCAL:
    * the codebook is inlined as literals into one array of (−sim, cid)
    * structs per row, `array_sort`ed lexicographically so ties break
    * exactly like a (csim DESC, cid ASC) ranking, then sliced to `n`.
    * Zero shuffle and (for n = 1) zero row expansion. */
  private[operators] def nearestBuckets(points: DataFrame,
      codebook: Array[(Long, Array[Double], Double)], n: Int,
      extra: Seq[String] = Nil): DataFrame = {
    val entries = codebook.map { case (cid, cv, cn) =>
      struct(
        (-sim(col("v"), col("nrm"), lit(cv), lit(cn))).as("neg"),
        lit(cid).as("cid"))
    }
    val carried = Seq("vid", "v", "nrm") ++ extra
    points
      .withColumn("cid_top", slice(array_sort(array(entries.toIndexedSeq: _*)), 1, n))
      .select(carried.map(col) :+ explode(col("cid_top")).as("cc"): _*)
      .select(carried.map(col) :+ col("cc.cid").as("cid"): _*)
  }

  def ivfTopK(emb: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nlist: Int = 16, nprobe: Int = 4,
      trainIters: Int = 0): DataFrame = {
    val corpus = normalized(emb, idCol, vecCol)
    val codebook =
      if (trainIters > 0)
        trainedIvfCodebook(emb, idCol, vecCol, nlist, trainIters)
      else ivfCodebook(corpus, nlist)
    val bucketed = nearestBuckets(corpus, codebook, 1) // single assignment
    val probes = nearestBuckets(normalized(queries, idCol, vecCol),
        codebook, nprobe)
      .select(col("vid").as("qid"), col("v").as("qv"),
        col("nrm").as("qn"), col("cid"))
    // Queries are the small side by construction — broadcast them so the
    // bucketed corpus never shuffles.
    val scored = bucketed.join(broadcast(probes), Seq("cid"))
      .filter(col("vid") =!= col("qid"))
      .select(col("qid"), col("vid").as("nid"),
        sim(col("qv"), col("qn"), col("v"), col("nrm")).as("sim"))
    TopK.perKey(scored, Seq(col("qid")), Seq(col("sim").desc, col("nid")),
      k, "rn")
  }

  /** FILTERED ANN — IVF search under a per-query metadata predicate
    * (here: corpus `metaCol` must equal the query's), the standard
    * "filtered vector search" shape (e.g. tenant- or language-scoped
    * retrieval over a shared index). The filter is applied INSIDE the
    * probe join — post-bucket pre-filtering — so the index stays one
    * shared structure (no per-predicate index forks) and the scan cost
    * stays candidate-driven: nprobe buckets per query, filtered rows
    * never score. Same zero-shuffle row-local bucket assignment as
    * [[ivfTopK]] (codebook inlined as literals, the metadata column
    * riding along via `extra`); queries broadcast; the only shuffle is
    * the per-query top-k window. Deterministic construction → exact
    * cross-engine oracle (v21). */
  def filteredIvfTopK(emb: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, metaCol: String, k: Int, nlist: Int = 16,
      nprobe: Int = 4): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    def withMeta(df: DataFrame): DataFrame = df
      .select(col(idCol).as("vid"), v.as("v"), col(metaCol).as("meta"))
      .withColumn("nrm", sqrt(Hashing.dotProduct(col("v"), col("v"))))
    val codebook = ivfCodebook(normalized(emb, idCol, vecCol), nlist)
    val bucketed = nearestBuckets(withMeta(emb), codebook, 1,
      extra = Seq("meta"))
    val probes = nearestBuckets(withMeta(queries), codebook, nprobe,
        extra = Seq("meta"))
      .select(col("vid").as("qid"), col("v").as("qv"),
        col("nrm").as("qn"), col("meta").as("qmeta"), col("cid"))
    val scored = bucketed.join(broadcast(probes), Seq("cid"))
      .filter(col("vid") =!= col("qid") && col("meta") === col("qmeta"))
      .select(col("qid"), col("meta").as("label"), col("vid").as("nid"),
        sim(col("qv"), col("qn"), col("v"), col("nrm")).as("sim"))
    TopK.perKey(scored, Seq(col("qid")), Seq(col("sim").desc, col("nid")),
      k, "rn")
  }

  /** RANGE (radius) search — every corpus neighbor with cosine ≥ `tau`
    * per query, the "all matches above a floor" retrieval verb top-k
    * cannot express (recall sweeps, near-dup audits, dense-candidate
    * harvesting all want the full ≥ τ set, not the best k). IVF shape:
    * same zero-shuffle row-local bucket assignment as [[ivfTopK]],
    * queries broadcast into the nprobe probe join — and since the
    * output is a FILTER, not a ranking, there is NO per-query window:
    * the whole operator is scan → broadcast-join → filter, the cheapest
    * plan in the tier (a (qid, nid) pair can reach the filter only once
    * because each corpus row lives in exactly one bucket). Every step
    * deterministic (seeded codebook, 6dp-rounded sims) → exact oracle
    * (v22). */
  def ivfRangeSearch(emb: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, tau: Double, nlist: Int = 16, nprobe: Int = 4)
      : DataFrame = {
    val corpus = normalized(emb, idCol, vecCol)
    val codebook = ivfCodebook(corpus, nlist)
    val bucketed = nearestBuckets(corpus, codebook, 1)
    val probes = nearestBuckets(normalized(queries, idCol, vecCol),
        codebook, nprobe)
      .select(col("vid").as("qid"), col("v").as("qv"),
        col("nrm").as("qn"), col("cid"))
    bucketed.join(broadcast(probes), Seq("cid"))
      .filter(col("vid") =!= col("qid"))
      .select(col("qid"), col("vid").as("nid"),
        sim(col("qv"), col("qn"), col("v"), col("nrm")).as("sim"))
      .filter(col("sim") >= lit(tau))
  }

  /** k-NN GRAPH construction — every corpus vector's approximate top-k
    * neighbors, the precursor of graph clustering, SemDeDup-style
    * analysis, and diversity sampling. Structurally DIFFERENT from
    * query ANN ([[ivfTopK]]): the "query" side IS the corpus, so
    * nothing broadcasts — both sides take the zero-shuffle row-local
    * bucket assignment and meet in a SHUFFLE equi-join on the bucket
    * id, i.e. the corpus is co-located by bucket and each bucket
    * resolves its own neighborhood (candidates = Σ_b |b|·probes(b),
    * d13's complexity argument; a hot bucket is AQE's skew-join case).
    * Deterministic construction (seeded codebook, 6dp sims, nid ties)
    * → exact oracle (v23 at a pinned nlist, v24 under the default
    * [[autoNlist]] policy).
    *
    * `nlist = None` (the DEFAULT a user copies) sizes the bucket count
    * from the corpus via [[autoNlist]] — at a FIXED nlist the candidate
    * volume Σ_b |b|·probes grows O(N²/nlist) (measured 6.9× wall at 10×
    * data in SCALEPROBE r14), while nlist ∝ N holds E[|bucket|]
    * constant and returns growth to ~linear (the KnnGraphProbe
    * measurement). Pass `Some(nlist)` only to pin a bucket count. */
  def knnGraph(emb: DataFrame, idCol: String, vecCol: String, k: Int,
      nlist: Option[Int] = None, nprobe: Int = 4): DataFrame = {
    val scored = knnGraphScored(emb, idCol, vecCol, nlist, nprobe)
    TopK.perKey(scored, Seq(col("qid")), Seq(col("sim").desc, col("nid")),
      k, "rn")
  }

  /** [[knnGraph]]'s pre-ranking candidate frame — exposed for the scale
    * probe: candidate volume Σ_b |b|·probes is the metric the bucket
    * policy controls (at toy corpus sizes WALL is overhead-dominated
    * and fixed-vs-auto nlist time identically; candidate count is what
    * extrapolates to 100 TB). */
  private[graft] def knnGraphScored(emb: DataFrame, idCol: String,
      vecCol: String, nlist: Option[Int], nprobe: Int): DataFrame = {
    val corpus = normalized(emb, idCol, vecCol)
    // Bounded driver scalar under the auto policy: the corpus count
    // (one long) — the same move the oracle's COUNT(*) subquery makes.
    val codebook = ivfCodebook(corpus,
      nlist.getOrElse(autoNlist(emb.count())))
    val bucketed = nearestBuckets(corpus, codebook, 1)
    val probes = nearestBuckets(corpus, codebook, nprobe)
      .select(col("vid").as("qid"), col("v").as("qv"),
        col("nrm").as("qn"), col("cid"))
    bucketed.join(probes, Seq("cid"))
      .filter(col("vid") =!= col("qid"))
      .select(col("qid"), col("vid").as("nid"),
        sim(col("qv"), col("qn"), col("v"), col("nrm")).as("sim"))
  }

  /** Int8 scalar quantization — the standard ANN memory layout (4× under
    * float32, 8× under double; at 100 TB of embeddings the index either
    * quantizes or doesn't fit): symmetric per-vector max-abs scaling,
    * `q_i = round(x_i · 127 / max|x|)`, stored with the vector's scale.
    * Row-local, one projection — quantizing a corpus is a scan, not a
    * shuffle. */
  def quantize(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val m = array_max(transform(v, x => abs(x)))
    val s = when(m > 0, lit(127.0) / m).otherwise(lit(1.0))
    // q rides as array<double> of integral values: the dot kernel takes
    // doubles, and int8 magnitudes are exactly representable anyway.
    emb.select(col(idCol).as("vid"),
        transform(v, x => round(x * s)).as("q"))
      .withColumn("qn",
        sqrt(Hashing.dotProduct(col("q"), col("q"))))
  }

  /** Top-k under QUANTIZED cosine. No dequantization: the per-vector
    * scales cancel in the cosine ratio, so the ranking works directly on
    * the int8 codes — and because 64-dim int8 dots are small integers
    * (≤ 64·127² ≈ 10⁶), every dot is EXACT in double regardless of fold
    * order. That order-independence is what gives this approximate
    * operator an exact cross-engine oracle (v08), where float cosine
    * only matches under carefully mirrored fold order. Shape mirrors
    * [[bruteForceTopK]]: queries broadcast, corpus scans linearly,
    * shuffle only at the per-query top-k. */
  def quantizedTopK(emb: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val corpus = quantize(emb, idCol, vecCol)
    val q = quantize(queries, idCol, vecCol)
      .select(col("vid").as("qid"), col("q").as("qq"), col("qn").as("qqn"))
    val scored = corpus.join(broadcast(q), col("vid") =!= col("qid"))
      .select(col("qid"), col("vid").as("nid"),
        round(Hashing.dotProduct(col("qq"), col("q")) /
          (col("qqn") * col("qn")), 6).as("sim"))
    TopK.perKey(scored, Seq(col("qid")), Seq(col("sim").desc, col("nid")),
      k, "rn")
  }

  /** Product-quantization (PQ) top-k — THE memory-bound ANN layout: the
    * corpus stores `subspaces` small code indices per vector (here 4×4
    * bits) instead of the vector, a 32× cut under float32 that decides
    * whether a 100 TB index fits in RAM at all. Codebooks are the first
    * `nCodes` vectors' subvectors (deterministic seeding, exactly like
    * [[ivfTopK]]'s); encoding picks each subspace's max rounded-dot code
    * (ties to the lower index) row-locally against inlined literals —
    * a scan, no shuffle. Queries score corpus codes by asymmetric
    * distance computation (ADC): the sum of per-subspace dots between
    * the RAW query slice and the chosen codebook center, accumulated
    * left-to-right so the double fold matches any engine that chains
    * `+` left-associatively. Every step rounds before ranking, so this
    * approximate index has an EXACT cross-engine oracle (v10), like
    * v08's quantized cosine. */
  /** PQ sub-codebooks seeded from the first `nCodes` RAW corpus vectors by
    * id (deterministic, exactly like [[ivfCodebook]]): `centers(sp)(j)` is
    * seed j's slice for subspace sp. Returns (centers, subDim). */
  private def pqCenters(corpus: DataFrame, subspaces: Int, nCodes: Int)
      : (Array[Array[Seq[Double]]], Int) =
    pqCentersFromSeeds(corpus.orderBy(col("vid"))
      .limit(nCodes).select(col("v")).collect()
      .map(_.getSeq[Double](0).toArray), subspaces)

  private[operators] def pqCentersFromSeeds(seeds: Array[Array[Double]],
      subspaces: Int): (Array[Array[Seq[Double]]], Int) = {
    val dims = seeds.head.length
    require(dims % subspaces == 0, "subspaces must divide dims")
    val subDim = dims / subspaces
    (Array.tabulate(subspaces, seeds.length)((sp, j) =>
      seeds(j).slice(sp * subDim, (sp + 1) * subDim).toSeq), subDim)
  }

  /** TRAINED PQ sub-codebooks: per-subspace Lloyd refinement of the
    * seeded centers, under the SAME assignment rule the encoder uses
    * ([[pqCode]]'s 6dp-rounded-dot argmax with ties to the lower code)
    * — so training optimizes exactly the quantizer that will encode,
    * and the whole loop keeps [[kmeansFit]]'s determinism contract:
    * fixed first-N seeding, a rounded-double argmax against literal
    * centers, exact DECIMAL(38,18) per-(subspace, code, dim) sums cast
    * to double before ONE division, empty codes keeping their previous
    * center. The v19 oracle unrolls it in SQL like v17/v18 unroll the
    * coarse training.
    *
    * Scale shape: each iteration is `subspaces` row-local encode
    * columns over one cached corpus scan (codebooks inline as
    * literals — zero shuffle) plus one grouped aggregate whose result
    * is subspaces × nCodes × subDim rows — a bounded driver collect
    * (4 × 16 × 16 = 1024 doubles at the defaults), paid per iteration
    * at build time and frozen thereafter. */
  private[operators] def trainedPqCenters(corpus: DataFrame,
      seeds: Array[Array[Double]], subspaces: Int, nCodes: Int,
      iters: Int): (Array[Array[Seq[Double]]], Int) = {
    val cached = Caches.persist(corpus.select(col("v")))
    // Seeds arrive from the caller's one prefix collect — re-deriving
    // them here paid a redundant sort-limit driver job per build.
    var (centers, subDim) = pqCentersFromSeeds(seeds, subspaces)
    for (_ <- 0 until iters) {
      val melted = (0 until subspaces).map(sp =>
        cached.select(lit(sp).as("sp"),
          pqCode(col("v"), sp, centers, subDim).as("j"),
          posexplode(pqSub(col("v"), sp, subDim)).as(Seq("dim", "x"))))
        .reduce(_ unionAll _)
      val means = melted.groupBy(col("sp"), col("j"), col("dim"))
        .agg((sum(col("x").cast("decimal(38,18)")).cast("double") /
          count(lit(1))).as("m"))
        .collect()
      val next = Array.tabulate(subspaces, nCodes)((sp, j) =>
        centers(sp)(j))
      means.groupBy(r => (r.getInt(0), r.getInt(1))).foreach {
        case ((sp, j), rows) =>
          val m = new Array[Double](subDim)
          rows.foreach(r => m(r.getInt(2)) = r.getDouble(3))
          next(sp)(j) = m.toSeq
      }
      centers = next
    }
    (centers, subDim)
  }

  private def pqSub(c: Column, sp: Int, subDim: Int): Column =
    slice(c, sp * subDim + 1, subDim)

  /** Row-local PQ encode: per subspace, the max rounded-dot code against
    * the inlined codebook (ties to the lower index). Argmax is phrased
    * as `array_position(dots, array_max(dots)) - 1` — identical
    * semantics (array_position returns the FIRST match, i.e. the lower
    * code on a rounded-dot tie; equal doubles compare equal exactly)
    * but two linear passes over a primitive double array instead of
    * building and sorting 16 (neg, j) structs per subspace per row —
    * the training loop evaluates this for every row every iteration
    * (measured: v19's per-iteration jobs were the gate's whole cost). */
  private[operators] def pqCode(c: Column, sp: Int,
      centers: Array[Array[Seq[Double]]], subDim: Int): Column = {
    val dots = array(centers(sp).indices.map(j =>
      round(Hashing.dotProduct(pqSub(c, sp, subDim),
        lit(centers(sp)(j).toArray)), 6)): _*)
    (array_position(dots, array_max(dots)) - 1).cast("int")
  }

  /** Asymmetric distance computation: the sum of per-subspace dots between
    * the RAW query slice and the chosen codebook center, accumulated
    * left-to-right so the double fold matches any engine that chains `+`
    * left-associatively. */
  private[operators] def pqAdcScore(qv: Column, centers: Array[Array[Seq[Double]]],
      subDim: Int): Column =
    centers.indices.map { sp =>
      Hashing.dotProduct(pqSub(qv, sp, subDim),
        element_at(typedLit(centers(sp).toSeq), col(s"c$sp") + 1))
    }.reduce(_ + _)

  def pqTopK(emb: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, subspaces: Int = 4, nCodes: Int = 16)
      : DataFrame = {
    val corpus = emb.select(col(idCol).cast("long").as("vid"),
      col(vecCol).cast("array<double>").as("v"))
    val (centers, subDim) = pqCenters(corpus, subspaces, nCodes)
    val encoded = corpus.select(col("vid") +:
      (0 until subspaces).map(sp =>
        pqCode(col("v"), sp, centers, subDim).as(s"c$sp")): _*)
    val q = queries.select(col(idCol).cast("long").as("qid"),
      col(vecCol).cast("array<double>").as("qv"))
    val scored = encoded.join(broadcast(q), col("vid") =!= col("qid"))
      .select(col("qid"), col("vid").as("nid"),
        round(pqAdcScore(col("qv"), centers, subDim), 6).as("score"))
    TopK.perKey(scored, Seq(col("qid")), Seq(col("score").desc, col("nid")),
      k, "rn")
  }

  /** IVF + PQ — THE production ANN layout at 100 TB: the IVF coarse index
    * prunes the scan to `nprobe`/`nlist` of the corpus, and PQ code
    * storage (here 4 codes/vector) decides whether the pruned index fits
    * in memory at all. Composition of [[ivfTopK]]'s deterministic coarse
    * bucketing (codebook = first `nlist` vectors, rounded cosine, cid
    * tiebreak) with [[pqTopK]]'s deterministic encode + ADC scoring — so
    * unlike real-world IVF-PQ this whole index build, probe and ranking
    * has an EXACT cross-engine oracle (v11). Classic IVF-PQ encodes
    * residuals (v − centroid); plain-vector encoding keeps the codebooks
    * query-independent and the oracle expressible while preserving the
    * layout's cost shape.
    *
    * Scale shape: corpus passes are row-local scans (bucket assignment
    * AND encode inline literal codebooks — zero shuffle, zero expansion);
    * queries broadcast with their probe fan-out; the only shuffle is the
    * per-query top-k window over bucket-pruned candidates. */
  def ivfPqTopK(emb: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nlist: Int = 16, nprobe: Int = 4,
      subspaces: Int = 4, nCodes: Int = 16,
      trainIters: Int = 0, pqTrainIters: Int = 0): DataFrame = {
    val corpus = normalized(emb, idCol, vecCol)
    // Both codebooks seed from the same first-N prefix — ONE sort-limit
    // collect serves coarse buckets and PQ centers (two identical driver
    // jobs otherwise, since nlist == nCodes by default). The two
    // training knobs are independent: `trainIters > 0` refines the
    // COARSE codebook by spherical k-means (bucket recall);
    // `pqTrainIters > 0` refines the PQ SUB-codebooks by per-subspace
    // Lloyd under the encoder's own assignment rule (reconstruction
    // accuracy — [[trainedPqCenters]], the v19 gate).
    val prefix = corpus.orderBy(col("vid"))
      .limit(math.max(nlist, nCodes))
      .select(col("vid"), col("v"), col("nrm")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2)))
    val coarse =
      if (trainIters > 0)
        trainedIvfCodebook(emb, idCol, vecCol, nlist, trainIters)
      else prefix.take(nlist)
    val (centers, subDim) =
      if (pqTrainIters > 0)
        trainedPqCenters(corpus, prefix.take(nCodes).map(_._2),
          subspaces, nCodes, pqTrainIters)
      else pqCentersFromSeeds(prefix.take(nCodes).map(_._2), subspaces)
    // One corpus scan emits bucket AND codes; v/nrm are dropped — the
    // scored candidates carry only (cid, vid, c0..c{sp}), the PQ point.
    val encoded = nearestBuckets(corpus, coarse, 1)
      .select(col("cid") +: col("vid") +:
        (0 until subspaces).map(sp =>
          pqCode(col("v"), sp, centers, subDim).as(s"c$sp")): _*)
    val probes = nearestBuckets(normalized(queries, idCol, vecCol),
        coarse, nprobe)
      .select(col("vid").as("qid"), col("v").as("qv"), col("cid"))
    val scored = encoded.join(broadcast(probes), Seq("cid"))
      .filter(col("vid") =!= col("qid"))
      .select(col("qid"), col("vid").as("nid"),
        round(pqAdcScore(col("qv"), centers, subDim), 6).as("score"))
    TopK.perKey(scored, Seq(col("qid")), Seq(col("score").desc, col("nid")),
      k, "rn")
  }

  /** 1-bit (sign) quantization + Hamming ranking — the extreme end of
    * the quantization ladder (float64 → int8 [[quantizedTopK]] → PQ
    * [[pqTopK]] → one BIT per dimension): a 64-dim vector becomes 64
    * bits, a 64× cut under float64, searched by Hamming distance. The
    * classic first-pass filter for billion-scale retrieval (binary
    * hashing); recall is coarse, so production stacks [[rerankTopK]]'s
    * exact re-rank on top.
    *
    * Hamming distances are INTEGER counts of sign disagreements, so the
    * whole ranking is exactly cross-engine reproducible (ties break by
    * neighbor id — plentiful under a coarse metric, hence pinned). The
    * signature really IS one packed long (a 64-term bitwise-OR of sign
    * bits — codegen'd literals, no per-element lambdas), and each pair's
    * distance is one `bit_count(xor)`: O(1) per pair, 8 bytes per
    * vector. The DuckDB oracle recomputes the same COUNT dimension-wise
    * instead — packing bit 63 needs 2^63, unrepresentable in its
    * overflow-checked BIGINT arithmetic — which is fine because only the
    * integer distance must match, not the representation. */
  def binarySignTopK(emb: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    def signs(df: DataFrame) = {
      val raw = col(vecCol).cast("array<double>")
      // Contract: exactly 64 dims (one sign bit per long bit). A shorter
      // vector would silently score missing dims as sign-0 and extra
      // dims would be ignored — a shape mismatch must fail loudly, not
      // degrade ranking quality. A NULL embedding fails loudly too, but
      // named as such — size(NULL) is NULL/-1 depending on legacy conf,
      // and "got -1" would send the caller hunting a nonexistent
      // 1-dim vector.
      val v = when(raw.isNull,
          raise_error(lit("binarySignTopK requires 64-dim vectors, " +
            "got NULL embedding")))
        .when(size(raw) === 64, raw)
        .otherwise(raise_error(concat(
          lit("binarySignTopK requires 64-dim vectors, got "),
          size(raw).cast("string"))))
      val packed = (0 until 64).map { i =>
        when(element_at(v, i + 1) > 0.0, lit(1L << i)).otherwise(lit(0L))
      }.reduce(_ bitwiseOR _) // OR, not +: bit 63 is the sign bit, and
      // disjoint-bit addition under ANSI overflow checking is a trap
      df.select(col(idCol).cast("long").as("vid"), packed.as("s"))
    }
    val corpus = signs(emb)
    val q = signs(queries)
      .select(col("vid").as("qid"), col("s").as("qs"))
    val scored = corpus.join(broadcast(q), col("vid") =!= col("qid"))
      .select(col("qid"), col("vid").as("nid"),
        bit_count(col("qs").bitwiseXOR(col("s"))).as("hamming"))
    TopK.perKey(scored, Seq(col("qid")), Seq(col("hamming"), col("nid")),
      k, "rn")
  }

  /** Two-stage retrieval — candidate generation + exact re-rank, the
    * pattern production ANN serving actually ships: the compressed index
    * ([[pqTopK]]'s ADC ranking) nominates `candidates` ≫ k cheap
    * candidates per query, and only those fetch their raw vectors for an
    * exact rounded-cosine re-rank to the final top-k. At 100 TB the
    * economics are the whole point: the exact pass touches
    * |queries|·candidates vectors instead of the corpus.
    *
    * Scale shape: the candidate list is tiny (queries × candidates), so
    * it BROADCASTS into the corpus join — the corpus never shuffles to
    * fetch raw vectors; the only shuffle is the final per-query top-k
    * window. Both stages are deterministic (v10's encode/ADC + the
    * rounded-cosine/nid tiebreak), so the fused pipeline keeps an exact
    * cross-engine oracle (v12). */
  def rerankTopK(emb: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, candidates: Int = 25): DataFrame =
    exactRerankOver(
      pqTopK(emb, queries, idCol, vecCol, candidates)
        .select(col("qid"), col("nid")),
      emb, queries, idCol, vecCol, k)

  /** Binary two-stage retrieval — [[binarySignTopK]]'s 64×-compressed
    * Hamming scan nominates the candidates, [[rerankTopK]]'s exact
    * cosine pass ranks them: the binary-quantization serving pattern
    * (an 8-byte-per-vector first pass over the whole corpus, floats
    * touched only for |queries|·candidates rows). Both stages are
    * deterministic (integer Hamming + nid tiebreak, rounded cosine), so
    * the fused pipeline keeps an exact cross-engine oracle (v20). */
  def binaryRerankTopK(emb: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, candidates: Int = 25): DataFrame =
    exactRerankOver(
      binarySignTopK(emb, queries, idCol, vecCol, candidates)
        .select(col("qid"), col("nid")),
      emb, queries, idCol, vecCol, k)

  /** The exact re-rank stage shared by [[rerankTopK]] and
    * [[binaryRerankTopK]]: the nominated (qid, nid) list is tiny
    * (queries × candidates), so it BROADCASTS into the corpus join —
    * the corpus never shuffles to fetch raw vectors; the only shuffle
    * is the final per-query top-k window. */
  private def exactRerankOver(cand: DataFrame, emb: DataFrame,
      queries: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    val corpus = normalized(emb, idCol, vecCol)
    val q = normalized(queries, idCol, vecCol)
      .select(col("vid").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    val fetched = corpus
      .join(broadcast(cand), corpus("vid") === cand("nid"))
      .join(broadcast(q), Seq("qid"))
    val scored = fetched.select(col("qid"), col("nid"),
      sim(col("qv"), col("qn"), col("v"), col("nrm")).as("sim"))
    TopK.perKey(scored, Seq(col("qid")), Seq(col("sim").desc, col("nid")),
      k, "rn")
  }

  /** ANN quality telemetry: recall@k of each approximate path against
    * the exact brute-force ranking over the same query set — the tuning
    * surface for nlist/nprobe (IVF) and bits/bands (LSH), which the
    * approximate gates themselves cannot expose (their output is just a
    * ranking). One row per method: (method, k, n_queries, n_exact, hits,
    * recall_at_k). The report is a single plan over the top-k frames —
    * no driver-side sets — so a production run samples its queries,
    * emits this next to its run artifacts, and tunes from the trend.
    * Deterministic: every input ranking is (both engines' paths are
    * seeded/ordered deterministically), so the recall of a fixed corpus
    * and parameter set is a fixed number.
    */
  def recallReport(emb: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    // Persisted: four method branches consume it, and re-running the
    // O(corpus×queries) exact scoring per branch quadruples the
    // report's dominant cost.
    val exact = Caches.persist(
      bruteForceTopK(emb, queries, idCol, vecCol, k)
        .select(col("qid"), col("nid")))
    def one(method: String, approx: DataFrame): DataFrame =
      exact
        .join(approx.select(col("qid"), col("nid"), lit(1L).as("hit")),
          Seq("qid", "nid"), "left")
        .agg(
          countDistinct(col("qid")).as("n_queries"),
          count(lit(1)).as("n_exact"),
          sum(coalesce(col("hit"), lit(0L))).as("hits"))
        .select(lit(method).as("method"), lit(k).as("k"),
          col("n_queries"), col("n_exact"), col("hits"),
          round(col("hits").cast("double") / col("n_exact"), 4)
            .as("recall_at_k"))
    // The ten arms are mutually independent (each consumes only `emb`,
    // `queries` and the shared cached exact ranking): build and
    // materialize them CONCURRENTLY (guide §2.6). Sequential
    // construction serialized each trained arm's driver-side k-means /
    // codebook collects behind the previous arm's (measured ~8 s of
    // v07's 12 s at sf0.1); concurrent threads overlap those training
    // jobs, and pinning each one-row report via Checkpoints.truncate
    // keeps the final union's plan flat. Arm order (and so row content
    // per method name) is unchanged — the union is assembled from the
    // same fixed list.
    // The trained arms run at the SAME nlist/nprobe as their seeded
    // twins — the telemetry that justifies paying for training (v17's
    // point, asserted ≥ seeded by AnnTelemetrySpec); ivfpq_pqtrained
    // isolates PQ-sub-codebook training (coarse stays seeded — v19's
    // point); binary_rerank ≥ binary holds structurally (the exact
    // re-rank can only promote true positives the Hamming scan
    // nominated — asserted by ExtensionSpec).
    val arms: Seq[(String, () => DataFrame)] = Seq(
      "int8" -> (() => quantizedTopK(emb, queries, idCol, vecCol, k)),
      "ivf" -> (() => ivfTopK(emb, queries, idCol, vecCol, k)),
      "ivf_trained" -> (() =>
        ivfTopK(emb, queries, idCol, vecCol, k, trainIters = 3)),
      "ivfpq" -> (() => ivfPqTopK(emb, queries, idCol, vecCol, k)),
      "ivfpq_trained" -> (() =>
        ivfPqTopK(emb, queries, idCol, vecCol, k, trainIters = 3)),
      "ivfpq_pqtrained" -> (() =>
        ivfPqTopK(emb, queries, idCol, vecCol, k, pqTrainIters = 3)),
      "lsh" -> (() => lshTopK(emb, queries, idCol, vecCol, k)),
      "pq" -> (() => pqTopK(emb, queries, idCol, vecCol, k)),
      "binary" -> (() => binarySignTopK(emb, queries, idCol, vecCol, k)),
      "binary_rerank" -> (() =>
        binaryRerankTopK(emb, queries, idCol, vecCol, k)))
    // Materialize the shared exact arm first so the ten threads reuse
    // its cached blocks instead of racing to compute them.
    exact.count()
    val pinned = new Array[DataFrame](arms.size)
    graft.core.Par.run(arms.zipWithIndex.map { case ((m, mk), i) =>
      () => pinned(i) = graft.core.Checkpoints.truncate(one(m, mk()))
    }: _*)
    pinned.reduce(_ unionByName _)
  }
}
