package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.{Caches, Checkpoints}
import graft.functions.{Hashing, TextFunctions}

/** Deduplication operators for document corpora, designed around shuffle
  * economics at 100 TB:
  *
  *  - exact: one hash-shuffle on a 16-byte fingerprint (not the document).
  *  - every near-dup operator first collapses exact-duplicate clusters
  *    (identical shingle sets) to one representative — the dominant
  *    duplicate class in web corpora would otherwise drive every
  *    candidate join quadratic in cluster size (see [[jaccardPairs]];
  *    measured with `tools/ScaleProbe` on replicated corpora).
  *  - exact jaccard: prefix-filtered inverted shingle index
  *    (AllPairs/PPJoin family) over the representatives — exact candidate
  *    set without the Σ df² blowup on hot shingles.
  *  - MinHash LSH: signature + banding turns near-dup search into an
  *    equi-join on (band, bucket) — the Spark-native shape (shuffle on
  *    bucket key, AQE handles skewed buckets); candidates are then verified
  *    with exact jaccard so precision is 1.0 and recall is the banding
  *    probability (b=16, r=4 ⇒ P(miss | j=0.9) ≈ 4e-8).
  *  - SimHash: one 64-bit shingle-set signature per doc, banded into
  *    8×8-bit keys, plus a 1-bit multiprobe (Manku-style: each band also
  *    probes its 8 one-bit-flipped keys) — pigeonhole then guarantees
  *    candidate generation for hamming ≤ 15: among 8 bands some band
  *    differs in at most ⌊15/8⌋ = 1 bit, and that band's probe set
  *    covers it.
  */
object Dedup {

  /** Exact dedup on the whitespace-normalized fingerprint: every row
    * keyed, first id per fingerprint kept. The keeper is a
    * min-aggregate + equi-join back (the d29 markCanonical shape), NOT
    * a per-fingerprint window: a window puts each cluster in ONE sort
    * task, and the mega-clusters a real corpus carries (empty docs,
    * boilerplate pages — millions of rows under one fingerprint at
    * 100 TB) would serialize on it. The aggregate is map-side
    * combinable (state = distinct-text count) and the join is skew-
    * safe under AQE; only id + 16-byte fingerprint ever shuffle. */
  def exactMarked(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val fp = docs.select(col(idCol),
      TextFunctions.fingerprint(col(textCol)).as("fingerprint"))
    val keeper = fp.groupBy(col("fingerprint"))
      .agg(min(col(idCol)).as("__keep_id"))
      .withColumnRenamed("fingerprint", "__keep_fp")
    // Null-safe key: md5(NULL) is NULL (NULL-text docs), and a plain
    // equi-join would silently drop that cluster — the softWeights
    // lesson; <=> still plans as a hash join.
    fp.join(keeper, col("fingerprint") <=> col("__keep_fp"))
      .select(col(idCol), col("fingerprint"),
        (col(idCol) === col("__keep_id")).as("kept"))
  }

  /** Soft dedup: instead of DROPPING duplicates, DOWNWEIGHT them — each
    * doc gets sampling weight 1/|its exact-dup cluster|, so a document
    * duplicated k times contributes the same expected gradient mass as a
    * unique one (the "soft" alternative to hard dedup in recent
    * training-data work: keep the data, commonness-reweight the
    * sampler). Scale shape beats [[exactMarked]]'s per-key window: one
    * hash aggregate on the 16-byte fingerprint (state = distinct-text
    * count, map-side combinable) + one equi-join back — no window, no
    * per-cluster sort, text never shuffles (only id + fingerprint). */
  def softWeights(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    // NULL text normalizes to the empty-text cluster (the blockCount
    // convention): md5(NULL) is NULL, and a NULL join key never
    // matches itself — an inner equi-join would silently DROP those
    // docs from the output instead of weighting them.
    val fp = docs.select(col(idCol),
      TextFunctions.fingerprint(coalesce(col(textCol), lit("")))
        .as("fingerprint"))
    val counts = fp.groupBy(col("fingerprint"))
      .agg(count(lit(1)).as("dup_count"))
    fp.join(counts, "fingerprint")
      .select(col(idCol), col("dup_count"),
        round(lit(1.0) / col("dup_count").cast("double"), 6).as("weight"))
  }

  /** C4-style duplicate-block removal (Raffel et al., JMLR 2020 §2.2
    * remove repeated spans corpus-wide, here at fixed `blockWords`-word
    * granularity): every document is cut into non-overlapping word
    * blocks (partial tail included); a block text occurring at more
    * than one (doc, position) corpus-wide survives ONLY at its
    * canonical first occurrence (min doc_id, then min block_id) and is
    * excised everywhere else; documents are reassembled from their
    * surviving blocks in order. The simple hash-based cousin of the
    * suffix/rolling-hash span dedup ([[graft.operators.SpanStore]]):
    * exact, one pass, no span store.
    *
    * Scale shape: canonical-keeper selection is one hash aggregate on
    * the block's 16-byte md5 (`min(struct(id, block_id))` — state =
    * distinct-block count, map-side combinable), then one fp-keyed
    * equi-join to mark and one doc-keyed aggregate to reassemble. No
    * global window; block text shuffles twice (mark + reassemble),
    * never the whole document at once. Returns
    * (id, n_blocks, kept_blocks, text_deduped) for EVERY input doc
    * (empty docs pass through with 0 blocks). */
  def blockDedup(docs: DataFrame, idCol: String, textCol: String,
      blockWords: Int): DataFrame = {
    val counted = blockCount(docs, idCol, textCol, blockWords)
    val blocks = blockCut(counted, blockWords)
    blockRebuild(counted, markCanonical(blocks))
  }

  /** (id, w, n_blocks) per doc — NULL/empty/whitespace text counts 0
    * blocks. The ONE owner of the block-count convention, shared by
    * [[blockDedup]] and [[BlockStore]] so the incremental store can
    * never drift from the one-shot operator. */
  private[operators] def blockCount(docs: DataFrame, idCol: String,
      textCol: String, blockWords: Int): DataFrame =
    docs.select(col(idCol).as("id"),
        when(length(trim(col(textCol))) === 0 ||
            col(textCol).isNull, array().cast("array<string>"))
          .otherwise(split(trim(col(textCol)), "\\s+")).as("w"))
      .withColumn("n_blocks",
        ceil(size(col("w")).cast("double") / blockWords).cast("long"))

  /** One row per (id, block_id): the non-overlapping `blockWords`-word
    * cut (partial tail included) with its md5 fingerprint. */
  private[operators] def blockCut(counted: DataFrame,
      blockWords: Int): DataFrame =
    counted
      .filter(col("n_blocks") > 0)
      .select(col("id"),
        explode(sequence(lit(0L), col("n_blocks") - 1)).as("block_id"),
        col("w"))
      .select(col("id"), col("block_id"),
        array_join(slice(col("w"),
          (col("block_id") * blockWords + 1).cast("int"),
          lit(blockWords)), " ").as("block_text"))
      .withColumn("fp", md5(col("block_text")))

  /** Mark each occurrence kept iff it IS its fingerprint's canonical
    * first occurrence — min(struct(id, block_id)), a hash aggregate. */
  private[operators] def markCanonical(blocks: DataFrame): DataFrame = {
    val keeper = blocks.groupBy(col("fp"))
      .agg(min(struct(col("id"), col("block_id"))).as("keep"))
    blocks.join(keeper, "fp")
      .withColumn("kept", col("id") === col("keep.id") &&
        col("block_id") === col("keep.block_id"))
  }

  /** Reassemble every doc from its surviving blocks in block order;
    * docs with zero surviving (or zero total) blocks come back
    * (id, n_blocks, 0, ""). n_blocks rides `counted`, NOT the marked
    * frame — a doc whose blocks were all excised upstream has no
    * marked rows but must still report its true count. */
  private[operators] def blockRebuild(counted: DataFrame,
      marked: DataFrame): DataFrame = {
    val rebuilt = marked.groupBy(col("id"))
      .agg(
        sum(when(col("kept"), 1L).otherwise(0L)).as("kept_blocks"),
        array_join(transform(
          array_sort(collect_list(
            when(col("kept"),
              struct(col("block_id"), col("block_text"))))),
          x => x.getField("block_text")), " ").as("text_deduped"))
    counted.select(col("id"), col("n_blocks"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id"), col("n_blocks"),
        coalesce(col("kept_blocks"), lit(0L)).as("kept_blocks"),
        coalesce(col("text_deduped"), lit("")).as("text_deduped"))
  }

  /** (doc_id, shingles) with empty/short docs dropped — `shingles` is the
    * FNV-hashed, sorted long array of the document's distinct word
    * n-grams ([[graft.functions.HashedShingles]]): jaccard on these equals
    * jaccard on the strings (hashing preserves set sizes and intersection
    * counts w.h.p.), while verification and index joins run on primitives.
    * Persisted (via [[graft.core.Caches]], so the harness can release it
    * between queries): shingling is the single most expensive expression
    * in the dedup pipeline and every operator reads it 3-6× (index + both
    * verify sides).
    */
  def shingled(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame =
    Caches.persist(docs.select(col(idCol).as("doc_id"),
        Hashing.hashedWordShingles(col(textCol), n).as("shingles"))
      .filter(size(col("shingles")) > 0))

  /** Exact-jaccard verification of candidate (doc_a, doc_b) pairs. A
    * length-ratio prefilter runs before the O(|A|+|B|) merge intersection:
    * J(A,B) ≥ t requires t·|B| ≤ |A| (and symmetrically), so incompatible
    * sizes are discarded without touching the arrays. */
  private def verified(candidates: DataFrame, sh: DataFrame,
      threshold: Double): DataFrame =
    verifiedCross(candidates, sh, sh, threshold)

  /** Two-sided [[verified]]: candidate sides resolve their shingles from
    * separate frames (cross-corpus pairs; same-corpus callers pass the
    * one frame twice). */
  private[operators] def verifiedCross(candidates: DataFrame, shA: DataFrame,
      shB: DataFrame, threshold: Double): DataFrame = {
    val sa = shA.select(col("doc_id").as("doc_a"), col("shingles").as("sa"))
    val sb = shB.select(col("doc_id").as("doc_b"), col("shingles").as("sb"))
    val inter = Hashing.sortedIntersectSize(col("sa"), col("sb"))
    val jac = inter / (size(col("sa")) + size(col("sb")) - inter)
    // Size prefilter: jaccard ≥ t requires each side ≥ t·(the other).
    // Slack as in [[rarestPrefix]], so it stays implied by the compare
    // below: in doubles `0.07 * 100` is `7.000000000000001`.
    candidates
      .join(sa, "doc_a").join(sb, "doc_b")
      .filter(size(col("sa")) >= lit(threshold) * size(col("sb")) - 1e-9 &&
        size(col("sb")) >= lit(threshold) * size(col("sa")) - 1e-9)
      .withColumn("jaccard_raw", jac)
      .filter(col("jaccard_raw") >= threshold)
      .select(col("doc_a"), col("doc_b"),
        round(col("jaccard_raw"), 6).as("jaccard"))
  }

  /** Exact n-gram jaccard pairs ≥ threshold, in two stages:
    *
    * 1. **Duplicate-cluster collapse.** Documents with identical shingle
    *    SETS (exact duplicates up to whitespace/token layout) are grouped;
    *    only one representative per set enters the quadratic stage. This
    *    is what keeps the operator viable on real corpora, where exact
    *    duplicates are the overwhelmingly dominant near-dup class: a
    *    cluster of m copies otherwise costs O(m²) candidate enumeration
    *    for pairs we already know have J = 1 (measured: a 10×-replicated
    *    corpus went from 205 s to seconds; output identical, since jaccard
    *    is a function of the shingle set alone).
    *
    * 2. **Prefix-filtered inverted index** (AllPairs/PPJoin family) over
    *    the representatives: shingles are globally ordered by (document
    *    frequency, shingle) and only each document's prefix —
    *    `|d| - ⌈t·|d|⌉ + 1` rarest shingles — is indexed. Any pair with
    *    J ≥ t must share a prefix shingle (if all common elements sat in
    *    A's suffix of length ⌈t·|A|⌉ − 1 < |A∩B|, that's a
    *    contradiction), so the candidate set is exact while the join
    *    avoids the Σ df² blowup on hot shingles. The ceiling is taken
    *    conservatively ([[rarestPrefix]]), so float error on t·|d| only
    *    ever lengthens the prefix.
    *
    * Representative pairs are then expanded back through cluster
    * membership (cross pairs inherit the representatives' jaccard;
    * within-cluster pairs are emitted with J = 1).
    */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, n: Int = 3): DataFrame = {
    val sh = shingled(docs, idCol, textCol, n)
    val groups = clusters(sh)
    val reps = groups.select(col("doc_id"), col("shingles"))
    val repPairs = prefixFilteredPairs(reps, threshold)
    expandClusters(repPairs, groups,
      valueCols = Seq("jaccard"), withinValues = Seq(lit(1.0).as("jaccard")))
  }

  /** Exact-duplicate clusters: one row per distinct shingle set, keyed by
    * its representative (min doc_id), carrying the member list. Shared —
    * via the CacheManager, same canonical plan — by every dedup operator
    * over the same corpus. */
  private[operators] def clusters(sh: DataFrame): DataFrame =
    Caches.persist(sh.groupBy(col("shingles"))
      .agg(min(col("doc_id")).as("doc_id"),
        sort_array(collect_list(col("doc_id"))).as("members")))

  /** Expand representative pairs back through cluster membership: every
    * (member of A) × (member of B) pair inherits the representatives'
    * `valueCols`; within-cluster pairs are emitted with `withinValues`
    * (jaccard 1, hamming 0 — duplicates by construction). */
  private def expandClusters(repPairs: DataFrame, groups: DataFrame,
      valueCols: Seq[String], withinValues: Seq[Column]): DataFrame = {
    val vals = valueCols.map(col)
    val memA = groups.select(col("doc_id").as("doc_a"),
      col("members").as("ma"))
    val memB = groups.select(col("doc_id").as("doc_b"),
      col("members").as("mb"))
    val cross = repPairs
      .join(memA, "doc_a").join(memB, "doc_b")
      .select(explode(col("ma")).as("a") +: col("mb") +: vals: _*)
      .select(col("a") +: explode(col("mb")).as("b") +: vals: _*)
      .select(least(col("a"), col("b")).as("doc_a") +:
        greatest(col("a"), col("b")).as("doc_b") +: vals: _*)
    val within = groups.filter(size(col("members")) > 1)
      .select(col("members"))
      .select(explode(col("members")).as("a"), col("members"))
      .select(col("a"), explode(col("members")).as("b"))
      .filter(col("a") < col("b"))
      .select(col("a").as("doc_a") +: col("b").as("doc_b") +:
        withinValues: _*)
    cross.union(within)
  }

  /** `(doc_id, n_sh, shingle)`: one row per shingle of each
    * `(doc_id, shingles)` row, carrying the set's size. */
  private def exploded(sh: DataFrame): DataFrame =
    sh.select(col("doc_id"), size(col("shingles")).as("n_sh"),
      explode(col("shingles")).as("shingle"))

  /** The persisted `(doc_id, shingle)` prefix filter shared by
    * [[jaccardPairs]] and [[containmentPairs]]: each document's
    * `n_sh − ⌈t·n_sh⌉ + 1` globally-rarest shingles over [[exploded]]
    * rows (shingle document frequency ascending, ties on the shingle).
    * A threshold-t overlap with an `n_sh`-shingle set shares at least
    * ⌈t·n_sh⌉ shingles, so one of them lies in this prefix. The ceiling
    * is taken of `t·n_sh − 1e-9`: in doubles `0.07 * 100` is
    * `7.000000000000001`, and a plain ceiling would drop a shingle the
    * verification (which accepts 7/100 ≥ 0.07) still needs.
    * The bound varies per row, so this is an explicit window, not a
    * fixed-k [[graft.core.TopK]]. Persisted (Caches-registered): the
    * candidate self-join would otherwise recompute the whole
    * explode→docFreq-join→window pipeline once per side (verified in
    * the physical plan) — at corpus scale that doubles the dominant
    * stage. */
  private def rarestPrefix(ex: DataFrame, threshold: Double)
      : DataFrame = {
    val docFreq = ex.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("df"), col("shingle"))
    Caches.persist(ex.join(docFreq, "shingle")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <=
        col("n_sh") - ceil(lit(threshold) * col("n_sh") - lit(1e-9)) + 1)
      .select(col("doc_id"), col("shingle")))
  }

  /** Stage 2 of [[jaccardPairs]]: exact pairs over (doc_id, shingles)
    * rows with distinct shingle sets. */
  private def prefixFilteredPairs(sh: DataFrame,
      threshold: Double): DataFrame = {
    val prefix = rarestPrefix(exploded(sh), threshold)
    val candidates = prefix.as("a")
      .join(prefix.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    verified(candidates, sh, threshold)
  }

  /** Duplicate-cluster assignment: every document labeled with the
    * smallest doc_id reachable through near-duplicate pairs (connected
    * components of the jaccard-≥threshold graph), plus a representative
    * flag — the operator a dedup pipeline actually keys its keep/drop
    * decision on. Documents with no qualifying pair are singleton
    * clusters of themselves.
    *
    * Components run as Pregel-style min-label propagation over
    * DataFrames: each round joins current labels across (symmetrized)
    * edges and takes the per-vertex min — one shuffle per round,
    * converging in graph-diameter rounds (near-dup clusters are
    * clique-like, so 2-3 in practice; `maxIter` caps pathological
    * chains). This is GraphX's CC algorithm shape; at 100 TB the
    * large-star/small-star contraction drops in here to shorten long
    * chains. Labels are re-persisted per round and the previous round is
    * released, so state stays one labels-table wide.
    */
  def duplicateClusters(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, maxIter: Int = 15): DataFrame = {
    // Propagation runs on the REPRESENTATIVE graph, never the expanded
    // member graph: identical shingle sets collapse to one vertex (their
    // min doc_id) exactly as the pair operators collapse before joining,
    // and members inherit their representative's component label at the
    // end. A corpus whose duplicate groups hold m copies would otherwise
    // put C(m,2)·groups edges through EVERY propagation round — the 100×
    // replication probe measured 33 s vs ~8 s for this exact reason —
    // while the rep graph is invariant to m. Labels are min doc_id per
    // component either way (the representative IS its group's min), so
    // the output is bit-identical.
    val sh = shingled(docs, idCol, textCol)
    val groups = clusters(sh)
    val pairs = prefixFilteredPairs(
        groups.select(col("doc_id"), col("shingles")), threshold)
      .select(col("doc_a"), col("doc_b"))
    // Lineage is TRUNCATED at the edge set ([[Checkpoints.truncate]], not
    // persist): a plain cache skips re-execution but not re-planning,
    // and every round's plan would otherwise embed the whole
    // shingle→index→verify→expand tree again — doubling per round, so
    // Catalyst analysis itself became the dominant cost (measured
    // seconds per round on a 256-pair graph). Cluster deployments set
    // spark.graft.checkpoint.reliable=true to survive executor loss.
    val edges = Checkpoints.truncate(pairs.union(
      pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b"))))
    // Propagation runs ONLY over vertices that have at least one edge —
    // on a real corpus the near-dup graph is a vanishing fraction of the
    // documents, so rounds operate on the small frame; isolated
    // documents become singleton clusters via the final left join.
    var labels = Checkpoints.truncate(
      edges.select(col("doc_a").as("id")).distinct()
        .withColumn("label", col("id")))
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val viaEdges = edges.join(labels, edges("doc_a") === labels("id"))
        .select(col("doc_b").as("id"), col("label"))
      val next = Checkpoints.truncate(
        labels.select(col("id"), col("label")).union(viaEdges)
          .groupBy(col("id")).agg(min(col("label")).as("label")))
      converged = next.join(labels.withColumnRenamed("label", "prev"), "id")
        .filter(col("label") =!= col("prev"))
        .limit(1).isEmpty
      labels = next
      iter += 1
    }
    // Rep label → every member of the rep's exact group; reps with no
    // near-dup edge keep their own id (their group is still one cluster).
    val memberLabels = groups
      .join(labels.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(explode(col("members")).as("id"),
        coalesce(col("label"), col("doc_id")).as("label"))
    docs.select(col(idCol).as("id"))
      .join(memberLabels, Seq("id"), "left")
      .select(col("id").as("doc_id"),
        coalesce(col("label"), col("id")).as("cluster"),
        (coalesce(col("label"), col("id")) === col("id"))
          .as("is_representative"))
  }

  /** Near-SUBSET detection: ordered pairs where at least `threshold` of
    * doc_a's shingles appear in doc_b (containment |A∩B|/|A|) — the
    * contamination case jaccard MISSES: a benchmark question embedded
    * verbatim inside a much longer training document has containment ~1
    * but jaccard ~|A|/|B| → 0. Every decontamination pipeline needs both
    * measures.
    *
    * Scale shape: the jaccard prefix filter argument survives
    * asymmetrically — containment ≥ t means fewer than t·|A| ≤ |A∩B| of
    * A's shingles can be missing from B, so A must share one of its
    * `|A| - ⌈t·|A|⌉ + 1` globally-rarest shingles with B. The candidate
    * join is therefore A-side PREFIX against B-side FULL inverted index
    * (no prefix filter exists for the container side), still never
    * all-pairs; the |B| ≥ t·|A| size prefilter and exact merge-intersect
    * verification follow as in [[jaccardPairs]]. Duplicate clusters
    * collapse first; within-cluster ordered pairs are containment 1 by
    * construction.
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, n: Int = 3): DataFrame = {
    val sh = shingled(docs, idCol, textCol, n)
    val groups = clusters(sh)
    val reps = groups.select(col("doc_id"), col("shingles"))
    val ex = exploded(reps)
    val prefix = rarestPrefix(ex, threshold)
      .withColumnRenamed("doc_id", "doc_a")
    val candidates = prefix
      .join(ex.select(col("doc_id").as("doc_b"), col("shingle")), "shingle")
      .filter(col("doc_a") =!= col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    val sa = sh.select(col("doc_id").as("doc_a"), col("shingles").as("sa"))
    val sb = sh.select(col("doc_id").as("doc_b"), col("shingles").as("sb"))
    val inter = Hashing.sortedIntersectSize(col("sa"), col("sb"))
    val repPairs = candidates
      .join(sa, "doc_a").join(sb, "doc_b")
      // Size prefilter: containment ≥ t requires |B| ≥ t·|A| (with the
      // slack of [[verifiedCross]]'s).
      .filter(size(col("sb")) >= lit(threshold) * size(col("sa")) - 1e-9)
      .withColumn("containment_raw", inter / size(col("sa")))
      .filter(col("containment_raw") >= threshold)
      .select(col("doc_a"), col("doc_b"),
        round(col("containment_raw"), 6).as("containment"))
    // Ordered-pair cluster expansion: every (member of A) × (member of
    // B) pair inherits the representatives' containment (a function of
    // the shingle sets); within-cluster ordered pairs are containment 1.
    val memA = groups.select(col("doc_id").as("doc_a"),
      col("members").as("ma"))
    val memB = groups.select(col("doc_id").as("doc_b"),
      col("members").as("mb"))
    val cross = repPairs
      .join(memA, "doc_a").join(memB, "doc_b")
      .select(explode(col("ma")).as("a"), col("mb"), col("containment"))
      .select(col("a").as("doc_a"), explode(col("mb")).as("doc_b"),
        col("containment"))
    val within = groups.filter(size(col("members")) > 1)
      .select(col("members"))
      .select(explode(col("members")).as("a"), col("members"))
      .select(col("a"), explode(col("members")).as("b"))
      .filter(col("a") =!= col("b"))
      .select(col("a").as("doc_a"), col("b").as("doc_b"),
        lit(1.0).as("containment"))
    cross.union(within)
  }

  /** The keep/drop decision a dedup pipeline actually ships: per
    * near-dup cluster ([[duplicateClusters]]) keep ONE canonical
    * document — the highest-`qualityCol` member, doc_id breaking ties —
    * and mark every other member dropped, each row carrying its
    * cluster's canonical id (the redirect target for provenance).
    * Min-id representatives (d05) answer "which cluster"; canonical
    * keep answers "which copy survives", and quality-ranked selection is
    * the standard corpus policy (keep the longest / highest-scoring
    * duplicate, not the accidentally-smallest id).
    *
    * Cost over the cluster assignment: one hash aggregate keyed by
    * cluster + an equi-join back — the [[exactMarked]] keeper shape,
    * NOT a per-cluster window. Near-dup clusters are usually tiny, but
    * a boilerplate family at 100 TB is exactly the cluster that isn't,
    * and the min-struct aggregate is map-side combinable (state = one
    * struct per cluster) where a window sort task is not. The struct
    * `(quality IS NULL, -quality, doc_id)` under `min` reproduces the
    * ranking policy exactly: highest quality first, NULL quality last,
    * doc_id ascending as the tiebreak. Quality must be numeric (the
    * corpus-standard length/score columns are).
    */
  def canonicalKeep(docs: DataFrame, idCol: String, textCol: String,
      qualityCol: String, threshold: Double): DataFrame = {
    val cl = duplicateClusters(docs, idCol, textCol, threshold)
    val q = docs.select(col(idCol).as("doc_id"), col(qualityCol).as("__q"))
    val joined = cl.join(q, "doc_id")
    val keeper = joined.groupBy(col("cluster"))
      .agg(min(struct(col("__q").isNull.cast("int").as("qn"),
        (-col("__q")).as("negq"), col("doc_id").as("id"))).as("__k"))
      .select(col("cluster").as("__kc"), col("__k.id").as("canonical_id"))
    joined.join(keeper, col("cluster") <=> col("__kc"))
      .withColumn("keep", col("doc_id") === col("canonical_id"))
      .select(col("doc_id"), col("cluster"), col("canonical_id"), col("keep"))
  }

  /** MinHash + LSH banding; candidates verified with exact jaccard, so the
    * output equals [[jaccardPairs]] up to banding recall. Duplicate
    * clusters are collapsed first ([[jaccardPairs]] rationale): identical
    * shingle sets produce identical signatures, so a cluster of m copies
    * otherwise puts m entries in every band bucket and the bucket join
    * enumerates m²·bands candidates (measured 69 s → seconds at 250k docs
    * with 50× replication; output identical — signatures and jaccard are
    * functions of the shingle set). */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, numHashes: Int = 64, bands: Int = 16): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val sh = shingled(docs, idCol, textCol)
    val groups = clusters(sh)
    val reps = groups.select(col("doc_id"), col("shingles"))
    val repPairs = minhashRepPairs(reps, sh, threshold, numHashes, bands)
    expandClusters(repPairs, groups,
      valueCols = Seq("jaccard"), withinValues = Seq(lit(1.0).as("jaccard")))
  }

  /** Fuzzy dedup with EDIT-DISTANCE verification — the two-stage shape
    * of production fuzzy dedup where the verifier must be
    * token-order-aware (jaccard over shingle SETS cannot distinguish a
    * reordered document from a near-identical one): MinHash-LSH banding
    * nominates candidates, then exact Levenshtein over the full text
    * confirms, keeping pairs with `100·dist ≤ maxDistPct·max(len)` —
    * the normalized-edit-distance cut as an INTEGER cross-multiply (no
    * decimal division in threshold logic; see p16). Candidates expand
    * through exact-duplicate clusters BEFORE verification, so every
    * emitted pair carries its true text-level distance (the collapse
    * keys on shingle sets, which do not pin token order — trusting it
    * for distances would fabricate zeros). Scale shape: banding is the
    * d03 equi-join on (band, bucket) over cluster representatives —
    * never corpus²; verification cost is O(candidates · len²), the
    * priced-in stage-2 of every published fuzzy-dedup recipe. Both
    * engines implement unit-cost Levenshtein, so the verdict is
    * exactly oracle-checkable (d23). */
  def editVerifiedPairs(docs: DataFrame, idCol: String, textCol: String,
      maxDistPct: Int, numHashes: Int = 64, bands: Int = 16): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val sh = shingled(docs, idCol, textCol)
    val groups = clusters(sh)
    val reps = groups.select(col("doc_id"), col("shingles"))
    val banded = bandedBuckets(reps, numHashes, bands)
    val repCand = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ra"), col("b.doc_id").as("rb"))
      .distinct()
    val memA = groups.select(col("doc_id").as("ra"),
      explode(col("members")).as("doc_a"))
    val memB = groups.select(col("doc_id").as("rb"),
      explode(col("members")).as("doc_b"))
    val cross = repCand.join(memA, "ra").join(memB, "rb")
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"))
    val within = groups.filter(size(col("members")) > 1)
      .select(explode(col("members")).as("doc_a"), col("members"))
      .select(col("doc_a"), explode(col("members")).as("doc_b"))
      .filter(col("doc_a") < col("doc_b"))
    val cand = cross.union(within).distinct()
    val base = docs.select(col(idCol).as("doc_id"),
      col(textCol).as("text"))
    cand
      .join(base.select(col("doc_id").as("doc_a"), col("text").as("ta")),
        "doc_a")
      .join(base.select(col("doc_id").as("doc_b"), col("text").as("tb")),
        "doc_b")
      // Length-gap lower bound: edit distance ≥ |len(a) − len(b)|, so a
      // pair whose gap already exceeds the cut can never pass — prune
      // it BEFORE the O(len²) DP. Pure pruning (the final filter would
      // reject these pairs anyway), so the oracle is unaffected.
      .filter(abs(length(col("ta")) - length(col("tb"))) * 100 <=
        greatest(length(col("ta")), length(col("tb"))) * maxDistPct)
      .select(col("doc_a"), col("doc_b"),
        // Byte-equal texts short-circuit the O(len²) DP — on a
        // dup-heavy corpus most within-cluster candidates are exact
        // copies, and the guard is one codegen'd comparison.
        when(col("ta") === col("tb"), lit(0L))
          .otherwise(levenshtein(col("ta"), col("tb")).cast("long"))
          .as("edit_dist"),
        greatest(length(col("ta")), length(col("tb"))).cast("long")
          .as("max_len"))
      .filter(col("edit_dist") * 100 <= col("max_len") * maxDistPct)
  }

  /** Two-stage web dedup — URL level, then content level: the order
    * every crawl pipeline runs them (CCNet/RefinedWeb dedupe by
    * canonical URL first because it needs no text at all, then
    * content-dedupe the URL survivors, because distinct URLs routinely
    * serve the same page). Stage 1 groups on
    * [[TextFunctions.urlCanonicalize]] of `urlCol` and keeps the
    * minimum id; stage 2 is the prefix-stable NEAR-dup predecessor
    * rule over the survivors only (drop X iff some earlier survivor Y
    * has shingle jaccard ≥ `threshold` — p02's append-safe rule, via
    * [[jaccardPairs]]' banded candidates). Emits one verdict row per
    * document: `kept` / `url_dup` / `content_dup`, with the surviving
    * canonical document id (the URL-stage keeper, or the minimum
    * qualifying predecessor). Scale shape: stage 1 is one hash shuffle
    * on the canonical-URL string with the text column untouched; stage
    * 2 runs d02's candidate-driven machinery on the already-URL-deduped
    * remainder — each stage shrinks the next one's input, the reason
    * pipelines order them this way (d24). */
  def urlContentDedup(docs: DataFrame, idCol: String, urlCol: String,
      textCol: String, threshold: Double): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"),
      TextFunctions.urlCanonicalize(col(urlCol)).as("canon_url"),
      col(textCol).as("text"))
    val urlKeep = base.groupBy(col("canon_url"))
      .agg(min(col("doc_id")).as("url_keep"))
    val staged = base.join(urlKeep, "canon_url")
    val survivors = staged.filter(col("doc_id") === col("url_keep"))
    val pred = jaccardPairs(survivors, "doc_id", "text", threshold)
      .groupBy(col("doc_b").as("doc_id"))
      .agg(min(col("doc_a")).as("pred"))
    val urlDups = staged.filter(col("doc_id") =!= col("url_keep"))
      .select(col("doc_id"), col("canon_url"),
        lit("url_dup").as("verdict"),
        col("url_keep").as("canonical_doc"))
    val survivorVerdicts = survivors.join(pred, Seq("doc_id"), "left")
      .select(col("doc_id"), col("canon_url"),
        when(col("pred").isNotNull, lit("content_dup"))
          .otherwise(lit("kept")).as("verdict"),
        coalesce(col("pred"), col("doc_id")).as("canonical_doc"))
    urlDups.union(survivorVerdicts)
  }

  /** Cross-corpus contamination: near-duplicate pairs BETWEEN two
    * corpora — the train/test-leakage check every training-data pipeline
    * runs before a model ships (a benchmark document that near-dups a
    * training document invalidates the eval). Emits (doc_a ∈ A,
    * doc_b ∈ B, jaccard ≥ threshold); within-corpus pairs are each
    * side's own [[jaccardPairs]] problem and are not repeated here.
    * Ids must be unique across BOTH corpora (they address the output).
    *
    * Scale shape mirrors [[minhashLshPairs]]: exact-duplicate clusters
    * collapse per side, representatives band their MinHash signatures,
    * and candidates come from an equi-join of A's buckets against B's —
    * never |A|×|B|. Exact-jaccard verification ⇒ precision 1; recall is
    * the banding guarantee (near-identical contamination at j ≥ 0.9
    * collides in ≥1 of the 16 bands w.p. ~1). Cross pairs of identical
    * documents verify at jaccard 1 via their identical shingle sets.
    */
  def crossCorpusPairs(corpusA: DataFrame, corpusB: DataFrame,
      idCol: String, textCol: String, threshold: Double,
      numHashes: Int = 64, bands: Int = 16): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val sa = shingled(corpusA, idCol, textCol)
    val sb = shingled(corpusB, idCol, textCol)
    val ga = clusters(sa)
    val gb = clusters(sb)
    def banded(reps: DataFrame): DataFrame =
      bandedBuckets(reps, numHashes, bands)
    val candidates = banded(ga.select(col("doc_id"), col("shingles"))).as("a")
      .join(banded(gb.select(col("doc_id"), col("shingles"))).as("b"),
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val repPairs = verifiedCross(candidates, sa, sb, threshold)
    // Expand through BOTH sides' duplicate clusters: every member pair
    // inherits the representatives' jaccard (a function of the shingle
    // sets alone).
    repPairs
      .join(ga.select(col("doc_id").as("doc_a"), col("members").as("__ma")),
        "doc_a")
      .join(gb.select(col("doc_id").as("doc_b"), col("members").as("__mb")),
        "doc_b")
      .select(col("jaccard"), explode(col("__ma")).as("doc_a"), col("__mb"))
      .select(col("jaccard"), col("doc_a"), explode(col("__mb")).as("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Benchmark decontamination by n-gram collision — the pre-training
    * hygiene pass: flag every TRAINING doc that shares at least one word
    * n-gram (default 8, the common eval-decontam window) with any
    * BENCHMARK doc, with hit counts for triage. Collision is on the
    * LITERAL n-gram (WordShingles' set) so the flag is exactly
    * cross-engine reproducible; at 100 TB swap in hashedWordShingles for
    * 8-byte join keys (identical pairs w.h.p.). Inverted-index shape:
    * one equi-join on the gram key — never train×bench — then one
    * aggregate; clean docs flow through the left join with zero counts.
    */
  def benchmarkContamination(train: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, n: Int = 8): DataFrame = {
    def grams(df: DataFrame, as: String) =
      df.select(col(idCol).as(as),
        explode(Hashing.wordShingles(col(textCol), n)).as("g"))
    val hits = grams(train, "doc_id")
      .join(grams(bench, "bench_id"), "g")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("g")).as("n_hit_grams"),
        countDistinct(col("bench_id")).as("n_benchmark_docs"))
    train.select(col(idCol).as("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_hit_grams"), lit(0L)).as("n_hit_grams"),
        coalesce(col("n_benchmark_docs"), lit(0L)).as("n_benchmark_docs"))
      .withColumn("contaminated", col("n_benchmark_docs") > 0)
  }

  /** (doc_id, band, bucket) LSH index rows for (doc_id, shingles) input:
    * MinHash signature sliced into `bands` buckets, bucket key the
    * band's signature slice. ONE definition of the bucket-key format —
    * shared by the in-query LSH paths and the persisted
    * [[DedupStore]] index, so a probe banded today always collides with
    * an index row banded last month. */
  private[operators] def bandedBuckets(reps: DataFrame,
      numHashes: Int = 64, bands: Int = 16): DataFrame = {
    val rows = numHashes / bands
    val sig = reps.select(col("doc_id"),
      Hashing.minhashSig(col("shingles"), numHashes).as("sig"))
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws(",", transform(
          slice(col("sig"), b * rows + 1, rows), _.cast("string")))
          .as("bucket"))
    }
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"),
        col("bb.bucket").as("bucket"))
  }

  private def minhashRepPairs(reps: DataFrame, sh: DataFrame,
      threshold: Double, numHashes: Int, bands: Int): DataFrame = {
    val banded = bandedBuckets(reps, numHashes, bands)
    val candidates = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    verified(candidates, sh, threshold)
  }

  /** SimHash banding (8 bands × 8 bits) with a 1-bit multiprobe per band
    * ⇒ no candidate missed at hamming ≤ 15; pairs reported with hamming
    * distance and verified jaccard. The signature is
    * [[graft.functions.SimHashOfHashes]] over the document's hashed
    * shingle SET — not the token-level [[graft.functions.SimHash64]]:
    * shingles decorrelate unrelated documents (see the kernel's scaladoc;
    * token signatures flooded verification with 3.3M candidates at sf0.1
    * vs 453 for shingle signatures, same banding), and the signature then
    * derives from exactly the set jaccard compares, so identical shingle
    * sets ⇒ hamming 0 by construction. With verification exact and the
    * corpus's qualifying pairs inside the probe radius (measured max
    * hamming 12 — `tools/ShingleSimhashProbe`, last at commit
    * 68d271a), the output equals [[jaccardPairs]], which is the driver
    * oracle for d04.
    *
    * Like [[jaccardPairs]], exact-duplicate clusters (identical shingle
    * sets) are collapsed to one representative before banding — identical
    * sets mean identical signatures, so a cluster of m copies otherwise
    * floods every one of its bands' buckets with m entries and the bucket
    * join enumerates m²·bands candidates for pairs that are trivially
    * duplicates. Cross-cluster pairs inherit the representatives' hamming
    * and jaccard; within-cluster pairs are emitted with hamming 0 and
    * jaccard 1.
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, maxHamming: Int = 15): DataFrame = {
    val sh = shingled(docs, idCol, textCol)
    val groups = clusters(sh)
    val repPairs = simhashRepPairs(
      groups.select(col("doc_id"), col("shingles")), sh, threshold, maxHamming)
    expandClusters(repPairs, groups,
      valueCols = Seq("hamming", "jaccard"),
      withinValues = Seq(lit(0).cast("int").as("hamming"),
        lit(1.0).as("jaccard")))
  }

  /** Banding + 1-bit multiprobe + verification over the duplicate-cluster
    * representatives. The probe side replicates each band key 9× (the key
    * plus its 8 one-bit flips) and joins against the un-probed side: a
    * pair within `maxHamming ≤ 15` has, by pigeonhole over 8 bands, a band
    * differing in ≤ 1 bit, which the probe set covers in one direction of
    * the asymmetric join (flipping the bit on either side yields the same
    * key). 9× key replication on one side — not 9×9 — keeps the join
    * linear in corpus size; buckets stay 8-bit (256-way per band), the
    * shape that survives a 1000-executor shuffle. */
  private def simhashRepPairs(reps: DataFrame, sh: DataFrame,
      threshold: Double, maxHamming: Int): DataFrame = {
    require(maxHamming < 16,
      "1-bit multiprobe over 8 bands guarantees recall only to hamming 15")
    val sig = reps.select(col("doc_id"),
      Hashing.simhashOfHashes(col("shingles")).as("sig"))
    val candidates = bandedSimhashCandidates(sig)
      .filter(col("hamming") <= maxHamming)
      .distinct()
    verified(candidates.select("doc_a", "doc_b"), sh, threshold)
      .join(candidates, Seq("doc_a", "doc_b"))
      .select(col("doc_a"), col("doc_b"), col("hamming"), col("jaccard"))
  }

  /** Duplicate-SPAN removal (substring-level dedup at word granularity) —
    * the ExactSubstr recipe of "Deduplicating Training Data Makes
    * Language Models Better" re-expressed as relational algebra instead
    * of a suffix array: documents are not dropped, repeated SPANS are,
    * keeping only the corpus-FIRST occurrence of every duplicated
    * k-gram window (first = lexicographic min (doc_id, start), so
    * within-document self-repetition is removed too, unlike the
    * score-only t17/t20 signals that motivate this operator).
    *
    * Rule: token position p of doc d is removed iff some k-gram window
    * covering p (start ∈ [p-k+1, p]) occurs elsewhere in the corpus
    * EARLIER in (doc_id, start) order. Runs of ≥ k duplicated tokens
    * vanish; shorter accidental overlaps survive (no full k-window is
    * duplicated), exactly the suffix-array semantics at k granularity.
    *
    * Shuffle economics at 100 TB: the document text NEVER shuffles —
    *  1. gram starts are emitted map-side as (md5(gram), doc, start):
    *     16-byte keys, the t20/d09 inverted-index shape;
    *  2. one shuffle on the gram hash finds each gram's first owner
    *     (partial-aggregated min, so hot grams — boilerplate — combine
    *     map-side instead of skewing a sort);
    *  3. duplicate starts explode ×k to covered positions and aggregate
    *     to ONE positions-set row per doc (bounded by doc length — the
    *     per-doc collect bound this repo states at every collect site);
    *  4. reconstruction is a row-local array filter over the doc's own
    *     token array joined with that set — pure projection, no window,
    *     no per-token shuffle.
    * Output: (doc_id, n_tokens, n_removed, kept_md5) — the rewritten
    * text is hashed, not carried, so the gate's result stays narrow.
    */
  def spanDedup(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 5): DataFrame = {
    val toks = spanTokens(docs, idCol, textCol)
    val grams = spanGramStarts(toks, k)
    val dupStarts = grams.join(spanFirstOccurrences(grams), col("gh") === col("gh2"))
      .filter(!(col("doc_id") === col("fd") && col("i") === col("fs")))
    spanRewrite(toks, dupStarts, k)
  }

  /** (doc_id, w: token array) with empty text as an EMPTY array (a bare
    * split of "" yields [""]). */
  private[operators] def spanTokens(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val words = when(length(trim(col(textCol))) === 0,
        array().cast("array<string>"))
      .otherwise(split(trim(col(textCol)), "\\s+"))
    docs.select(col(idCol).as("doc_id"), words.as("w"))
  }

  /** (doc_id, i, gh): every k-gram window's 1-based start with its
    * md5 — 16 bytes ride the shuffle, never the gram string. The
    * sequence() is guarded: Spark's sequence(1, 0) steps DOWNWARD
    * rather than yielding empty. */
  private[operators] def spanGramStarts(toks: DataFrame,
      k: Int): DataFrame =
    toks
      .filter(size(col("w")) >= k)
      .select(col("doc_id"), posexplode(
        transform(sequence(lit(1), size(col("w")) - (k - 1)),
          i => md5(concat_ws(" ", slice(col("w"), i, lit(k)))))))
      .select(col("doc_id"), (col("pos") + 1).as("i"), col("col").as("gh"))

  /** Each gram's lexicographically-first (doc, start) as
    * (gh2, fd, fs) — two partial-aggregated mins, so hot (boilerplate)
    * grams combine map-side instead of skewing a sort. */
  private[operators] def spanFirstOccurrences(grams: DataFrame): DataFrame = {
    val firstDoc = grams.groupBy(col("gh"))
      .agg(min(col("doc_id")).as("fd"))
      .withColumnRenamed("gh", "gh1")
    grams
      .join(firstDoc, col("gh") === col("gh1") && col("doc_id") === col("fd"))
      .groupBy(col("gh1"), col("fd")).agg(min(col("i")).as("fs"))
      .withColumnRenamed("gh1", "gh2")
  }

  /** Coverage union + row-local reconstruction over duplicate gram
    * starts (doc_id, i): positions explode ×k into ONE set row per doc
    * (bounded by doc length), the text itself never shuffles. */
  private[operators] def spanRewrite(toks: DataFrame, dupStarts: DataFrame,
      k: Int): DataFrame = {
    val covered = dupStarts
      .select(col("doc_id"),
        explode(sequence(col("i"), col("i") + (k - 1))).as("p"))
      .groupBy(col("doc_id"))
      .agg(collect_set(col("p")).as("ps"))
    toks.join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n_tokens"),
        coalesce(size(col("ps")), lit(0)).cast("long").as("n_removed"),
        md5(array_join(
          filter(col("w"), (_, idx) =>
            !array_contains(coalesce(col("ps"),
              array().cast("array<int>")), idx + 1)),
          " ")).as("kept_md5"))
  }

  /** The raw banded + 1-bit-multiprobe candidate stream over (doc_id,
    * sig) rows: 8 8-bit bands; the probe side replicates each band key 9×
    * (the key plus its 8 one-bit flips) and joins the un-probed side, so
    * flipping the differing bit on EITHER side lands on the same key —
    * one direction of the asymmetric join covers hamming ≤ 15 by
    * pigeonhole. Emits (doc_a, doc_b, hamming) PRE-distinct and
    * PRE-verification — callers filter/distinct/verify. Package-visible
    * so the scale/volume probes in `graft.tools` measure EXACTLY this
    * join rather than drifting hand copies of it. */
  /** Bloom-filter membership dedup — the Dolma recipe (Soldaini et al.
    * 2024 run exact URL/paragraph dedup through a Bloom filter): an
    * arriving batch asks "have I seen this document before?" against a
    * FIXED-SIZE bit array instead of the corpus-sized fingerprint set.
    * The point at 100 TB is the state bound: the filter is `m` bits
    * REGARDLESS of corpus size (here the bit array is the ≤ m-row
    * distinct-position frame — semantically identical, and it
    * broadcasts), where d10's exact store grows with the corpus. The
    * price is false positives at the textbook rate
    * `(1 − e^(−k·n/m))^k`, and this operator prices them honestly the
    * d16/v07 way: an exact-membership arm rides along and every row
    * reports `false_positive = bloom_dup ∧ ¬exact_dup` — the telemetry
    * that sizes `m` for a target FP budget.
    *
    * Plan shape: the batch side NEVER shuffles — the k = 3 positions
    * are row-local md5-derived columns and membership is k broadcast
    * left joins against the bit frame (no explode, no per-doc
    * aggregate); only the exact telemetry arm pays a fingerprint join,
    * exactly the cost the filter exists to amortize away. Everything is
    * md5-deterministic, so a probabilistic data structure still has an
    * exact DuckDB oracle. */
  def bloomMembership(history: DataFrame, batch: DataFrame,
      idCol: String, textCol: String,
      m: Long = 16384, k: Int = 3): DataFrame = {
    require(k >= 1 && m >= 2, s"degenerate bloom geometry m=$m k=$k")
    def fps(df: DataFrame) = df.select(col(idCol).as("doc_id"),
      TextFunctions.fingerprint(col(textCol)).as("fp"))
    def pos(j: Int) =
      pmod(conv(substring(md5(concat(lit(j.toString), col("fp"))), 1, 8),
        16, 10).cast("long"), lit(m))
    val histFp = Caches.persist(fps(history))
    // The bit array: distinct set positions, ≤ m rows by construction —
    // the corpus-size-independent state that makes this operator.
    // Persisted: the k membership joins below would otherwise each
    // recompute the history-wide position aggregate (3× the build cost
    // at 100 TB history for identical ≤ m-row output).
    val bits = Caches.persist(histFp
      .select(explode(array((0 until k).map(pos): _*)).as("pos"))
      .distinct())
    var probed = fps(batch)
      .select(col("doc_id") +: col("fp") +:
        (0 until k).map(j => pos(j).as(s"p$j")): _*)
    for (j <- 0 until k)
      probed = probed.join(
        broadcast(bits.select(col("pos").as(s"p$j"),
          lit(1).as(s"hit$j"))),
        Seq(s"p$j"), "left")
    val verdict = probed.select(col("doc_id"), col("fp"),
      (0 until k).map(j => col(s"hit$j").isNotNull)
        .reduce(_ && _).as("bloom_dup"))
    // Exact telemetry arm: the fingerprint join the filter replaces —
    // priced separately so the gate reports the filter's real FP count.
    val exact = histFp.select(col("fp")).distinct()
      .withColumn("e1", lit(1))
    verdict.join(exact, Seq("fp"), "left")
      .select(col("doc_id"), col("bloom_dup"),
        col("e1").isNotNull.as("exact_dup"),
        (col("bloom_dup") && col("e1").isNull).as("false_positive"))
  }

  /** Bits-per-element for the CORPUS-SIZED Bloom policy (d27). A fixed
    * m saturates as the corpus grows (fill → 1, FP → 1 — d25's exact
    * arm measures it); sizing m ∝ n holds the fill ratio, and therefore
    * the FP rate, CONSTANT as the corpus grows. c = 8 bits/element
    * puts the textbook rate `(1 − e^(−k·n/m))^k` at ≈ 2.16% with
    * k = round(c·ln 2) = 6 — the cheapest geometry whose FP budget
    * suits dedup pre-filtering (the exact arm behind it prices the
    * residual). */
  val BloomBitsPerElement = 8L

  /** The Bloom geometry policy: `m = c·n` bits, `k = round(m/n · ln 2)`
    * — the standard optimal-k derivation, integer arithmetic over a
    * corpus COUNT so any engine replays the choice exactly (d27's
    * oracle computes m as `8 * COUNT(*)` in SQL; k is the constant 6
    * because m/n = c by construction). Because n/m is pinned at 1/c,
    * the PREDICTED FP rate is corpus-size-invariant — the property the
    * policy exists to buy, and what d27's two-size telemetry shows. */
  def bloomGeometry(n: Long): (Long, Int) = {
    require(n > 0, "bloom geometry needs a non-empty history")
    val m = BloomBitsPerElement * n
    val k = math.max(1, math.round(
      BloomBitsPerElement * math.log(2.0)).toInt)
    (m, k)
  }

  /** [[bloomMembership]] with geometry chosen by [[bloomGeometry]] from
    * the history size — the production default: the caller sizes
    * nothing by hand, and the FP rate stays flat as the corpus grows.
    * The history count is a bounded driver scalar (one long), the same
    * move the oracle's COUNT(*) subquery makes. */
  def bloomMembershipAuto(history: DataFrame, batch: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val (m, k) = bloomGeometry(history.count())
    bloomMembership(history, batch, idCol, textCol, m, k)
  }

  private def bandedSimhashCandidates(sig: DataFrame): DataFrame = {
    val bandCols = (0 until 8).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("sig"), b * 8).bitwiseAND(lit(0xffL)).as("bucket"))
    }
    val banded = sig
      .select(col("doc_id"), col("sig"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("sig"), col("bb.band").as("band"),
        col("bb.bucket").as("bucket"))
    val probeKeys = col("bucket") +:
      (0 until 8).map(i => col("bucket").bitwiseXOR(lit(1L << i)))
    val probes = banded.select(col("doc_id"), col("sig"), col("band"),
      explode(array(probeKeys: _*)).as("bucket"))
    probes.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"))
  }
}
