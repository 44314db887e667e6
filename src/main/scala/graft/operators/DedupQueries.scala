package graft.operators

import org.apache.spark.sql.functions._
import graft.core.{Q, QueryPack, Tables}

/** Deduplication queries over `documents` (see [[Dedup]] for the scale
  * rationale). d02 (exact inverted-index jaccard), d03 (MinHash LSH +
  * exact verify) and d04 (SimHash multiprobe + exact verify) share one
  * oracle: the brute-force jaccard pair set — d02's candidates are exact
  * by construction, d03's banding makes a missed ≥0.6 pair
  * astronomically unlikely on near-identical documents (planted dups sit
  * at j ≥ 0.9), and d04's multiprobe is recall-guaranteed through
  * hamming 15 (corpus max 12 on the shingle-set signature).
  */
object DedupQueries extends QueryPack {

  private[graft] val Threshold = 0.6

  private val jaccardOracle: String =
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') w
       |  FROM documents WHERE length(trim(text)) > 0),
       |sh AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(range(1, len(w)-1),
       |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) shingles
       |  FROM toks WHERE len(w) >= 3),
       |sizes AS (SELECT doc_id, len(shingles) n_sh FROM sh),
       |ex AS (SELECT doc_id, unnest(shingles) shingle FROM sh),
       |inter AS (
       |  SELECT a.doc_id doc_a, b.doc_id doc_b, COUNT(*) n_common
       |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |  ROUND(n_common / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
       |FROM inter
       |JOIN sizes sa ON doc_a = sa.doc_id
       |JOIN sizes sb ON doc_b = sb.doc_id
       |WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= $Threshold
       |ORDER BY doc_a, doc_b""".stripMargin

  def queries: Seq[Q] = Seq(
    Q("d01_exact_dedup",
      (s, dir) => Dedup
        .exactMarked(Tables(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id,
             | md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fingerprint,
             | ROW_NUMBER() OVER (
             |   PARTITION BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
             |   ORDER BY doc_id) = 1 AS kept
             |FROM documents ORDER BY doc_id""".stripMargin)),

    Q("d02_jaccard_pairs",
      (s, dir) => Dedup
        .jaccardPairs(Tables(s, dir, "documents"), "doc_id", "text", Threshold)
        .orderBy(col("doc_a"), col("doc_b")),
      Some(jaccardOracle)),

    Q("d03_minhash_lsh_pairs",
      (s, dir) => Dedup
        .minhashLshPairs(Tables(s, dir, "documents"), "doc_id", "text",
          Threshold)
        .orderBy(col("doc_a"), col("doc_b")),
      Some(jaccardOracle)),

    // Cluster assignment over the near-dup graph: min-label-propagation
    // connected components in Spark vs a recursive-CTE reachability
    // closure in the oracle — structurally independent algorithms pinned
    // to the same answer.
    Q("d05_dup_clusters",
      (s, dir) => Dedup
        .duplicateClusters(Tables(s, dir, "documents"), "doc_id", "text",
          Threshold)
        .orderBy(col("doc_id")),
      Some(s"""WITH RECURSIVE toks AS (
              |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') w
              |  FROM documents WHERE length(trim(text)) > 0),
              |sh AS (
              |  SELECT doc_id,
              |    list_distinct(list_transform(range(1, len(w)-1),
              |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) shingles
              |  FROM toks WHERE len(w) >= 3),
              |sizes AS (SELECT doc_id, len(shingles) n_sh FROM sh),
              |ex AS (SELECT doc_id, unnest(shingles) shingle FROM sh),
              |inter AS (
              |  SELECT a.doc_id doc_a, b.doc_id doc_b, COUNT(*) n_common
              |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2),
              |pairs AS (
              |  SELECT doc_a, doc_b FROM inter
              |  JOIN sizes sa ON doc_a = sa.doc_id
              |  JOIN sizes sb ON doc_b = sb.doc_id
              |  WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= $Threshold),
              |edges AS (
              |  SELECT doc_a a, doc_b b FROM pairs
              |  UNION ALL SELECT doc_b, doc_a FROM pairs),
              |reach(id, r) AS (
              |  SELECT doc_id, doc_id FROM documents
              |  UNION
              |  SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a)
              |SELECT id AS doc_id, MIN(r) AS cluster,
              |  MIN(r) = id AS is_representative
              |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin)),

    // SimHash banding + 1-bit multiprobe guarantees candidates to hamming
    // 15; the corpus's qualifying pairs top out at hamming 12 on the
    // shingle-set signature (tools/ShingleSimhashProbe, last at commit
    // 68d271a), and verification makes precision exact — so the emitted
    // pair set equals the brute-force jaccard oracle. The
    // hamming column itself is signature-internal (not SQL-expressible),
    // so the gate projects it away; ExtensionSpec pins the full output.
    Q("d04_simhash_pairs",
      (s, dir) => Dedup
        .simhashPairs(Tables(s, dir, "documents"), "doc_id", "text",
          Threshold)
        .select(col("doc_a"), col("doc_b"), col("jaccard"))
        .orderBy(col("doc_a"), col("doc_b")),
      Some(jaccardOracle)),

    // Canonical-keep dedup: the keep/drop decision over d05's clusters —
    // per cluster the highest-n_chars member survives (doc_id tiebreak),
    // everything else redirects to it. The oracle reuses d05's
    // recursive-CTE closure and ranks members by the same policy.
    Q("d07_canonical_keep",
      (s, dir) => Dedup
        .canonicalKeep(Tables(s, dir, "documents"), "doc_id", "text",
          "n_chars", Threshold)
        .orderBy(col("doc_id")),
      Some(s"""WITH RECURSIVE toks AS (
              |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') w
              |  FROM documents WHERE length(trim(text)) > 0),
              |sh AS (
              |  SELECT doc_id,
              |    list_distinct(list_transform(range(1, len(w)-1),
              |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) shingles
              |  FROM toks WHERE len(w) >= 3),
              |sizes AS (SELECT doc_id, len(shingles) n_sh FROM sh),
              |ex AS (SELECT doc_id, unnest(shingles) shingle FROM sh),
              |inter AS (
              |  SELECT a.doc_id doc_a, b.doc_id doc_b, COUNT(*) n_common
              |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2),
              |pairs AS (
              |  SELECT doc_a, doc_b FROM inter
              |  JOIN sizes sa ON doc_a = sa.doc_id
              |  JOIN sizes sb ON doc_b = sb.doc_id
              |  WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= $Threshold),
              |edges AS (
              |  SELECT doc_a a, doc_b b FROM pairs
              |  UNION ALL SELECT doc_b, doc_a FROM pairs),
              |reach(id, r) AS (
              |  SELECT doc_id, doc_id FROM documents
              |  UNION
              |  SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a),
              |clus AS (SELECT id AS doc_id, MIN(r) AS cluster
              |  FROM reach GROUP BY id),
              |ranked AS (
              |  SELECT c.doc_id, c.cluster, ROW_NUMBER() OVER (
              |    PARTITION BY c.cluster ORDER BY d.n_chars DESC, c.doc_id)
              |    AS rk
              |  FROM clus c JOIN documents d USING (doc_id)),
              |canon AS (SELECT cluster, doc_id AS canonical_id
              |  FROM ranked WHERE rk = 1)
              |SELECT r.doc_id, r.cluster, canon.canonical_id,
              |  r.doc_id = canon.canonical_id AS keep
              |FROM ranked r JOIN canon USING (cluster)
              |ORDER BY doc_id""".stripMargin)),

    // Benchmark decontamination (Dedup.benchmarkContamination): flag
    // every training doc (doc_id % 5 <> 0 — a scale-invariant split)
    // sharing any word 8-gram with the held-out benchmark fifth. The
    // oracle rebuilds the literal gram sets and mirrors the inverted-
    // index join; clean docs appear with zero counts via the left join.
    Q("d09_benchmark_decontam",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        Dedup.benchmarkContamination(
            docs.filter(col("doc_id") % 5 =!= 0),
            docs.filter(col("doc_id") % 5 === 0),
            "doc_id", "text", n = 8)
          .orderBy(col("doc_id"))
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') w
             |  FROM documents WHERE length(trim(text)) > 0),
             |g AS (
             |  SELECT doc_id,
             |    list_distinct(list_transform(range(1, len(w) - 6),
             |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
             |           w[i+3] || ' ' || w[i+4] || ' ' || w[i+5] || ' ' ||
             |           w[i+6] || ' ' || w[i+7])) grams
             |  FROM toks WHERE len(w) >= 8),
             |ex AS (SELECT doc_id, unnest(grams) gram FROM g),
             |hits AS (
             |  SELECT tr.doc_id,
             |    COUNT(DISTINCT tr.gram) AS n_hit_grams,
             |    COUNT(DISTINCT be.doc_id) AS n_benchmark_docs
             |  FROM ex tr JOIN ex be ON tr.gram = be.gram
             |    AND tr.doc_id % 5 <> 0 AND be.doc_id % 5 = 0
             |  GROUP BY 1)
             |SELECT d.doc_id,
             |  COALESCE(h.n_hit_grams, 0) AS n_hit_grams,
             |  COALESCE(h.n_benchmark_docs, 0) AS n_benchmark_docs,
             |  COALESCE(h.n_benchmark_docs, 0) > 0 AS contaminated
             |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
             |WHERE d.doc_id % 5 <> 0 ORDER BY d.doc_id""".stripMargin)),

    // Near-subset containment (|A∩B|/|A| ≥ 0.8, ordered pairs): the
    // contamination measure jaccard misses — a short doc embedded in a
    // long one. A-side prefix filter against the full inverted index;
    // brute-force containment oracle.
    Q("d08_containment_pairs",
      (s, dir) => Dedup
        .containmentPairs(Tables(s, dir, "documents"), "doc_id", "text",
          threshold = 0.8)
        .orderBy(col("doc_a"), col("doc_b")),
      Some("""WITH toks AS (
             |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') w
             |  FROM documents WHERE length(trim(text)) > 0),
             |sh AS (
             |  SELECT doc_id,
             |    list_distinct(list_transform(range(1, len(w)-1),
             |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) shingles
             |  FROM toks WHERE len(w) >= 3),
             |sizes AS (SELECT doc_id, len(shingles) n_sh FROM sh),
             |ex AS (SELECT doc_id, unnest(shingles) shingle FROM sh),
             |inter AS (
             |  SELECT a.doc_id doc_a, b.doc_id doc_b, COUNT(*) n_common
             |  FROM ex a JOIN ex b ON a.shingle = b.shingle
             |    AND a.doc_id <> b.doc_id
             |  GROUP BY 1, 2)
             |SELECT doc_a, doc_b,
             |  ROUND(n_common / sa.n_sh, 6) AS containment
             |FROM inter JOIN sizes sa ON doc_a = sa.doc_id
             |WHERE n_common / sa.n_sh >= 0.8
             |ORDER BY doc_a, doc_b""".stripMargin)),

    // Cross-corpus contamination (train/test leakage): the corpus split
    // by doc_id parity stands in for train vs held-out eval; every
    // near-dup pair CROSSING the split is a leaked document. The oracle
    // is the brute-force cross-only jaccard pair set — same recall
    // argument as d03 (planted dups at j ≥ 0.9; verification makes
    // precision exact).
    Q("d06_cross_contamination",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        Dedup.crossCorpusPairs(
            docs.filter(col("doc_id") % 2 === 0),
            docs.filter(col("doc_id") % 2 === 1),
            "doc_id", "text", Threshold)
          .orderBy(col("doc_a"), col("doc_b"))
      },
      Some(s"""WITH toks AS (
              |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') w
              |  FROM documents WHERE length(trim(text)) > 0),
              |sh AS (
              |  SELECT doc_id,
              |    list_distinct(list_transform(range(1, len(w)-1),
              |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) shingles
              |  FROM toks WHERE len(w) >= 3),
              |sizes AS (SELECT doc_id, len(shingles) n_sh FROM sh),
              |ex AS (SELECT doc_id, unnest(shingles) shingle FROM sh),
              |inter AS (
              |  SELECT a.doc_id doc_a, b.doc_id doc_b, COUNT(*) n_common
              |  FROM ex a JOIN ex b ON a.shingle = b.shingle
              |    AND a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
              |  GROUP BY 1, 2)
              |SELECT doc_a, doc_b,
              |  ROUND(n_common / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
              |FROM inter
              |JOIN sizes sa ON doc_a = sa.doc_id
              |JOIN sizes sb ON doc_b = sb.doc_id
              |WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= $Threshold
              |ORDER BY doc_a, doc_b""".stripMargin)),

    // Persisted + incremental dedup ([[DedupStore]]): build the store
    // from an 80% "historical corpus" (doc_id % 5 != 0), then dedupe the
    // remaining 20% as an arriving batch AGAINST THE STORE (stored docs
    // are never re-shingled — their shingles and LSH index rows stream
    // off the persisted tables), merge, and read back the accumulated
    // pair set. The oracle is the FULL RECOMPUTE over corpus ∪ batch —
    // the same brute-force jaccard oracle as d02/d03 — pinning the
    // production invariant: incremental maintenance loses nothing
    // relative to re-running the one-shot pass. Recall argument is
    // d03's (banding misses a ≥0.6 pair with planted-dup similarity
    // astronomically rarely; verification makes precision exact).
    Q("d10_incremental_dedup",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val store = DedupStore("dedup_store")
        DedupStore.reset(s, store)
        DedupStore.build(s, docs.filter(col("doc_id") % 5 =!= 0),
          "doc_id", "text", Threshold, store)
        DedupStore.appendBatch(s, docs.filter(col("doc_id") % 5 === 0),
          "doc_id", "text", Threshold, store, "b1")
        DedupStore.allPairs(s, store).orderBy(col("doc_a"), col("doc_b"))
      },
      Some(jaccardOracle)),

    // Store maintenance ([[StoreCompaction]]): accumulate three batch
    // partitions, FOLD the closed ones into the `compacted` partition
    // (one file each — the small-file bound a year of nightly appends
    // needs), then dedupe ANOTHER batch against the compacted store.
    // The oracle is still the full brute-force recompute over the whole
    // corpus: compaction must be invisible to every future increment —
    // folded index rows collide with new batches exactly as the
    // originals did. StoreCompactionSpec separately pins the
    // file/partition counts, idempotency, and crash-replay convergence.
    Q("d11_store_compaction",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val store = DedupStore("dedup_compact")
        DedupStore.reset(s, store)
        DedupStore.build(s, docs.filter(col("doc_id") % 3 === 0),
          "doc_id", "text", Threshold, store)
        DedupStore.appendBatch(s, docs.filter(col("doc_id") % 3 === 1),
          "doc_id", "text", Threshold, store, "b1")
        StoreCompaction.compactDedupStore(s, store, keep = Set("b1"))
        DedupStore.appendBatch(s, docs.filter(col("doc_id") % 3 === 2),
          "doc_id", "text", Threshold, store, "b2")
        DedupStore.allPairs(s, store).orderBy(col("doc_a"), col("doc_b"))
      },
      Some(jaccardOracle)),

    // Targeted deletion ([[StoreRetention]]): the takedown path. Build
    // the store over the whole corpus (two batches), then DELETE a
    // victim slice — shingles, index rows, and every pair touching a
    // victim, rewriting only the partitions that contain them. The
    // oracle is the full recompute over the SURVIVORS: deletion must
    // leave the store exactly as if the victims had never been
    // ingested (pair discovery is per-pair, so survivor pairs don't
    // depend on victims' presence). StoreRetentionSpec separately pins
    // partition-scoped rewrites, emptied-partition drops, idempotency.
    Q("d12_store_delete",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val store = DedupStore("dedup_delete")
        DedupStore.reset(s, store)
        DedupStore.build(s, docs.filter(col("doc_id") % 2 === 0),
          "doc_id", "text", Threshold, store)
        DedupStore.appendBatch(s, docs.filter(col("doc_id") % 2 === 1),
          "doc_id", "text", Threshold, store, "b1")
        StoreRetention.deleteDocs(s, store,
          docs.filter(col("doc_id") % 10 === 7).select(col("doc_id")))
        DedupStore.allPairs(s, store).orderBy(col("doc_a"), col("doc_b"))
      },
      Some(jaccardOracleExcluding("doc_id % 10 = 7"))),

    // SEMANTIC dedup ([[Similarity.semanticDedup]] — the SemDeDup
    // recipe): near-duplicate removal in EMBEDDING space, where
    // paraphrases the shingle tiers can't see land close in cosine.
    // Deterministic spherical k-means clusters the corpus, the
    // near-dup search runs only within clusters (O(Σ|c|²), never
    // O(N²)), and the predecessor keep rule makes history append-
    // stable. Every stage is engine-reproducible (v06's training
    // determinism + v03's 6dp-rounded compare), so the oracle replays
    // the FULL recipe — trained clusters included — in SQL.
    Q("d13_semantic_dedup",
      (s, dir) => Similarity.semanticDedup(
          Tables(s, dir, "embeddings"), "vec_id", "embedding",
          k = 10, iters = 3, threshold = 0.45)
        .orderBy(col("vec_id")),
      Some(semanticOracle(VectorQueries.kmeansCtes(k = 10, iters = 3)))),

    // PERSISTED semantic dedup ([[SemanticStore]] — the d10/v14/t19
    // story for the semantic tier): train the k-means codebook ONCE on
    // the first 80% of the id range, freeze it as an engine table, and
    // ingest the remaining 20% as an arriving batch — assignment is
    // row-local against the frozen centroids, the keep verdict probes
    // only the store's matching clusters, and verdicts written once are
    // final (frozen clusters + id-ordered batches = append-stable).
    // Oracle: the one-shot predecessor pass over the union with the
    // SAME frozen codebook — the SQL trains on the history slice (`nh`)
    // and assigns everyone, so the incremental store must be
    // indistinguishable from the one-shot run it amortizes.
    Q("d14_semantic_store",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val cut = emb.agg(max(col("vec_id"))).head.getLong(0) * 4 / 5
        val store = SemanticStore("sem_store")
        SemanticStore.build(s, emb.filter(col("vec_id") <= cut),
          "vec_id", "embedding", k = 10, iters = 3, threshold = 0.45,
          store)
        SemanticStore.append(s, emb.filter(col("vec_id") > cut),
          "vec_id", "embedding", store, "b1")
        SemanticStore.keeps(s, store, "vec_id").orderBy(col("vec_id"))
      },
      Some(semanticStoreOracle)),

    // Semantic-store TAKEDOWN with verdict repair ([[SemanticStore
    // .delete]]): deleting a vector must also RE-EVALUATE the verdicts
    // it supported — if the victim was the only earlier near-dup of a
    // stored vector, that vector's `keep=false` is stale evidence and
    // must flip back (the bug a generic row-delete would leave behind;
    // SemanticStoreSpec pins the resurrection on a crafted chain). The
    // codebook stays frozen (learned statistics; retraining = explicit
    // rebuild, the v16 policy). Oracle: train on the FULL original
    // history, run the final pass over the SURVIVORS only — the store
    // must be indistinguishable from one that never ingested the
    // victims under the same codebook.
    Q("d15_semantic_delete",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val cut = emb.agg(max(col("vec_id"))).head.getLong(0) * 4 / 5
        val store = SemanticStore("sem_del")
        SemanticStore.reset(s, store)
        SemanticStore.build(s, emb.filter(col("vec_id") <= cut),
          "vec_id", "embedding", k = 10, iters = 3, threshold = 0.45,
          store)
        SemanticStore.append(s, emb.filter(col("vec_id") > cut),
          "vec_id", "embedding", store, "b1")
        SemanticStore.delete(s, store,
          emb.filter(col("vec_id") % 10 === 7).select(col("vec_id")))
        SemanticStore.keeps(s, store, "vec_id").orderBy(col("vec_id"))
      },
      Some(semanticOracle(
        VectorQueries.kmeansCtes(k = 10, iters = 3, trainPred =
          "vec_id <= (SELECT MAX(vec_id) * 4 // 5 FROM embeddings)"),
        survPred = "vid % 10 <> 7"))),

    // LEAKAGE-FREE train/val split: a per-document hash split leaks —
    // near-duplicate documents land on both sides and the eval set
    // contains paraphrases of training data. Splitting by the d05
    // CLUSTER id (the connected component of the near-dup graph) keeps
    // every duplicate family in ONE split by construction: the split
    // is a deterministic hash gate (t10's portable substr(md5) form)
    // on the cluster representative, so membership replays exactly in
    // any engine. ExtensionSpec additionally pins the semantic claim —
    // no ≥ threshold pair straddles the split. Costs exactly d05 plus
    // a row-local projection.
    Q("d18_leakage_free_split",
      (s, dir) => Dedup
        .duplicateClusters(Tables(s, dir, "documents"), "doc_id",
          "text", Threshold)
        .select(col("doc_id"), col("cluster"),
          when(substring(md5(col("cluster").cast("string")), 1, 2)
            <= "19", "val").otherwise("train").as("split"))
        .orderBy(col("doc_id")),
      Some(s"""WITH RECURSIVE toks AS (
              |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') w
              |  FROM documents WHERE length(trim(text)) > 0),
              |sh AS (
              |  SELECT doc_id,
              |    list_distinct(list_transform(range(1, len(w)-1),
              |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) shingles
              |  FROM toks WHERE len(w) >= 3),
              |sizes AS (SELECT doc_id, len(shingles) n_sh FROM sh),
              |ex AS (SELECT doc_id, unnest(shingles) shingle FROM sh),
              |inter AS (
              |  SELECT a.doc_id doc_a, b.doc_id doc_b, COUNT(*) n_common
              |  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2),
              |pairs AS (
              |  SELECT doc_a, doc_b FROM inter
              |  JOIN sizes sa ON doc_a = sa.doc_id
              |  JOIN sizes sb ON doc_b = sb.doc_id
              |  WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= $Threshold),
              |edges AS (
              |  SELECT doc_a a, doc_b b FROM pairs
              |  UNION ALL SELECT doc_b, doc_a FROM pairs),
              |reach(id, r) AS (
              |  SELECT doc_id, doc_id FROM documents
              |  UNION
              |  SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a)
              |SELECT id AS doc_id, MIN(r) AS cluster,
              |  CASE WHEN substr(md5(CAST(MIN(r) AS VARCHAR)), 1, 2)
              |    <= '19' THEN 'val' ELSE 'train' END AS split
              |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin)),

    // Semantic-store COMPACTION (the d11/v15 maintenance story for the
    // semantic tier): fold closed batch partitions into one `compacted`
    // partition mid-lifecycle — verdicts, later appends (which probe
    // the folded rows as predecessors), and reads must all be
    // indistinguishable from the uncompacted store. Same oracle as d14:
    // compaction is invisible to the semantics by contract.
    Q("d17_semantic_compacted",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val maxId = emb.agg(max(col("vec_id"))).head.getLong(0)
        val cut1 = maxId * 4 / 5
        val cut2 = maxId * 9 / 10
        val store = SemanticStore("sem_compact")
        SemanticStore.build(s, emb.filter(col("vec_id") <= cut1),
          "vec_id", "embedding", k = 10, iters = 3, threshold = 0.45,
          store)
        SemanticStore.append(s,
          emb.filter(col("vec_id") > cut1 && col("vec_id") <= cut2),
          "vec_id", "embedding", store, "b1")
        StoreCompaction.compactSemanticStore(s, store, keep = Set("b1"))
        SemanticStore.append(s, emb.filter(col("vec_id") > cut2),
          "vec_id", "embedding", store, "b2")
        SemanticStore.keeps(s, store, "vec_id").orderBy(col("vec_id"))
      },
      Some(semanticOracle(VectorQueries.kmeansCtes(k = 10, iters = 3,
        trainPred =
          "vec_id <= (SELECT MAX(vec_id) * 4 // 5 FROM embeddings)")))),

    // Semantic-dedup RECALL telemetry ([[Similarity
    // .semanticRecallReport]] — the v07 pattern for the semantic tier):
    // cluster-scoped search structurally misses cross-cluster near-dup
    // pairs; this reports the exact split — total ≥ τ pairs, caught
    // within a cluster, missed across — the tuning surface for k.
    // Both arms deterministic, so the oracle recomputes the trained
    // clustering AND the brute-force pair set exactly.
    Q("d16_semantic_recall",
      (s, dir) => Similarity.semanticRecallReport(
        Tables(s, dir, "embeddings"), "vec_id", "embedding",
        k = 10, iters = 3, threshold = 0.45),
      Some(s"""${VectorQueries.kmeansCtes(k = 10, iters = 3)},
              |pairs AS (
              |  SELECT a.vid va, b.vid vb, a.cid ca, b.cid cb
              |  FROM asg4 a JOIN asg4 b ON a.vid < b.vid
              |  WHERE ROUND(list_dot_product(a.v, b.v)
              |          / (a.nrm * b.nrm), 6) >= 0.45)
              |SELECT COUNT(*) AS n_pairs,
              |  CAST(COALESCE(SUM(CASE WHEN ca = cb THEN 1 END), 0)
              |    AS BIGINT) AS n_within,
              |  CAST(COALESCE(SUM(CASE WHEN ca <> cb THEN 1 END), 0)
              |    AS BIGINT) AS n_cross
              |FROM pairs""".stripMargin)),

    // d16 at the AUTO-CHOSEN k ([[SemanticStore.autoK]] — k = N / target
    // cluster size): the policy the probes argued for (k ∝ N holds
    // per-cluster quadratic work bounded as the corpus grows), now the
    // default sizing instead of a hand-tuned constant, with its recall
    // price reported by the same telemetry. The oracle computes k from
    // COUNT(*) in SQL (a scalar subquery in the seed LIMIT), so the
    // policy itself — not just the clustering — replays exactly.
    Q("d19_semantic_recall_autok",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        Similarity.semanticRecallReport(emb, "vec_id", "embedding",
          k = SemanticStore.autoK(emb.count()), iters = 3,
          threshold = 0.45)
      },
      Some(s"""${VectorQueries.kmeansCtesK(
               s"(SELECT GREATEST(1, COUNT(*) // ${
                 SemanticStore.TargetClusterSize}) FROM embeddings)",
               iters = 3)},
              |pairs AS (
              |  SELECT a.vid va, b.vid vb, a.cid ca, b.cid cb
              |  FROM asg4 a JOIN asg4 b ON a.vid < b.vid
              |  WHERE ROUND(list_dot_product(a.v, b.v)
              |          / (a.nrm * b.nrm), 6) >= 0.45)
              |SELECT COUNT(*) AS n_pairs,
              |  CAST(COALESCE(SUM(CASE WHEN ca = cb THEN 1 END), 0)
              |    AS BIGINT) AS n_within,
              |  CAST(COALESCE(SUM(CASE WHEN ca <> cb THEN 1 END), 0)
              |    AS BIGINT) AS n_cross
              |FROM pairs""".stripMargin)),

    // Duplicate-SPAN removal ([[Dedup.spanDedup]] — the ExactSubstr
    // recipe at word-5-gram granularity): repeated spans are CUT, docs
    // survive, only the corpus-first occurrence of each duplicated
    // window stays. The oracle replays the whole rule — gram index,
    // two-step (doc, start) first-occurrence, ×k coverage union,
    // ordered reconstruction — and both engines hash the rewritten
    // text, so a single token kept or cut differently flips the row.
    Q("d20_span_dedup",
      (s, dir) => Dedup
        .spanDedup(Tables(s, dir, "documents"), "doc_id", "text", k = 5)
        .orderBy(col("doc_id")),
      Some(raw"""WITH toks AS (
             |  SELECT doc_id,
             |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
             |         ELSE regexp_split_to_array(trim(text), '\s+') END w
             |  FROM documents),
             |g AS (
             |  SELECT doc_id, i, md5(array_to_string(w[i:i+4], ' ')) gh
             |  FROM toks, UNNEST(range(1, len(w) - 3)) AS t(i)
             |  WHERE len(w) >= 5),
             |fdoc AS (SELECT gh, MIN(doc_id) fd FROM g GROUP BY gh),
             |f AS (SELECT g.gh, fdoc.fd, MIN(g.i) fs
             |      FROM g JOIN fdoc ON g.gh = fdoc.gh AND g.doc_id = fdoc.fd
             |      GROUP BY g.gh, fdoc.fd),
             |dup AS (SELECT g.doc_id, g.i FROM g JOIN f USING (gh)
             |        WHERE NOT (g.doc_id = f.fd AND g.i = f.fs)),
             |cov AS (SELECT DISTINCT doc_id, i + o AS p
             |        FROM dup, UNNEST(range(0, 5)) AS u(o)),
             |cova AS (SELECT doc_id, list(p) ps, COUNT(*) nr
             |         FROM cov GROUP BY doc_id)
             |SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_tokens,
             |  CAST(COALESCE(c.nr, 0) AS BIGINT) AS n_removed,
             |  md5(COALESCE(array_to_string(
             |    list_transform(
             |      list_filter(range(1, len(t.w) + 1),
             |        p -> NOT list_contains(
             |          COALESCE(c.ps, CAST([] AS BIGINT[])), p)),
             |      p -> t.w[p]), ' '), '')) AS kept_md5
             |FROM toks t LEFT JOIN cova c USING (doc_id)
             |ORDER BY t.doc_id""".stripMargin)),

    // INCREMENTAL span dedup ([[SpanStore]] — the d10/d14/t19 store
    // lifecycle for the substring tier): history's distinct gram hashes
    // persist partition-per-batch; each arriving batch rewrites ONLY
    // itself — a gram start is duplicate iff the hash exists in the
    // store or an earlier (doc_id, start) within the batch owns it.
    // First-occurrence is prefix-stable under id-ordered batches, so
    // history documents never rewrite and the oracle is d20's one-shot
    // pass over the UNION, restricted to the batch documents: the
    // increments must be indistinguishable from never having split the
    // corpus.
    Q("d21_incremental_span_dedup",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val top = docs.agg(max(col("doc_id"))).head.getLong(0)
        val (c1, c2) = (top * 3 / 5, top * 4 / 5)
        val store = SpanStore("span_store")
        SpanStore.build(s, docs.filter(col("doc_id") <= c1),
          "doc_id", "text", k = 5, store)
        val b1 = SpanStore.appendBatch(s,
          docs.filter(col("doc_id") > c1 && col("doc_id") <= c2),
          "doc_id", "text", k = 5, store, "b1")
        val b2 = SpanStore.appendBatch(s,
          docs.filter(col("doc_id") > c2),
          "doc_id", "text", k = 5, store, "b2")
        b1.unionByName(b2).orderBy(col("doc_id"))
      },
      Some(raw"""WITH toks AS (
             |  SELECT doc_id,
             |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
             |         ELSE regexp_split_to_array(trim(text), '\s+') END w
             |  FROM documents),
             |g AS (
             |  SELECT doc_id, i, md5(array_to_string(w[i:i+4], ' ')) gh
             |  FROM toks, UNNEST(range(1, len(w) - 3)) AS t(i)
             |  WHERE len(w) >= 5),
             |fdoc AS (SELECT gh, MIN(doc_id) fd FROM g GROUP BY gh),
             |f AS (SELECT g.gh, fdoc.fd, MIN(g.i) fs
             |      FROM g JOIN fdoc ON g.gh = fdoc.gh AND g.doc_id = fdoc.fd
             |      GROUP BY g.gh, fdoc.fd),
             |dup AS (SELECT g.doc_id, g.i FROM g JOIN f USING (gh)
             |        WHERE NOT (g.doc_id = f.fd AND g.i = f.fs)),
             |cov AS (SELECT DISTINCT doc_id, i + o AS p
             |        FROM dup, UNNEST(range(0, 5)) AS u(o)),
             |cova AS (SELECT doc_id, list(p) ps, COUNT(*) nr
             |         FROM cov GROUP BY doc_id)
             |SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_tokens,
             |  CAST(COALESCE(c.nr, 0) AS BIGINT) AS n_removed,
             |  md5(COALESCE(array_to_string(
             |    list_transform(
             |      list_filter(range(1, len(t.w) + 1),
             |        p -> NOT list_contains(
             |          COALESCE(c.ps, CAST([] AS BIGINT[])), p)),
             |      p -> t.w[p]), ' '), '')) AS kept_md5
             |FROM toks t LEFT JOIN cova c USING (doc_id)
             |WHERE t.doc_id > (SELECT MAX(doc_id) * 3 // 5 FROM documents)
             |ORDER BY t.doc_id""".stripMargin)),

    // Span-store TAKEDOWN ([[SpanStore.delete]] + [[SpanStore
    // .rewriteFrom]] — the d12/d15 right-to-be-forgotten story for the
    // substring tier): victims' gram occurrences leave the store
    // partition-scoped, and first-OWNERSHIP repairs itself — a span
    // whose only earlier copy lived in a victim RESURRECTS in its next
    // owner, because verdicts derive from the surviving occurrence
    // rows, not from stale existence flags. The rewrite of the
    // survivors must equal the one-shot pass over a corpus that never
    // contained the victims (oracle = d20's SQL with the victim slice
    // filtered out at the source).
    Q("d22_span_takedown",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val top = docs.agg(max(col("doc_id"))).head.getLong(0)
        val cut = top * 3 / 5
        val store = SpanStore("span_takedown")
        SpanStore.build(s, docs.filter(col("doc_id") <= cut),
          "doc_id", "text", k = 5, store)
        SpanStore.appendBatch(s, docs.filter(col("doc_id") > cut),
          "doc_id", "text", k = 5, store, "b1")
          .count() // materialize b1's rewrite before mutating the store
        val victims = docs.filter(col("doc_id") % 7 === 3)
          .select(col("doc_id"))
        SpanStore.delete(s, store, victims)
        SpanStore.rewriteFrom(s,
          docs.filter(col("doc_id") % 7 =!= 3), "doc_id", "text",
          k = 5, store)
          .orderBy(col("doc_id"))
      },
      Some(raw"""WITH survivors AS (
             |  SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 3),
             |toks AS (
             |  SELECT doc_id,
             |    CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
             |         ELSE regexp_split_to_array(trim(text), '\s+') END w
             |  FROM survivors),
             |g AS (
             |  SELECT doc_id, i, md5(array_to_string(w[i:i+4], ' ')) gh
             |  FROM toks, UNNEST(range(1, len(w) - 3)) AS t(i)
             |  WHERE len(w) >= 5),
             |fdoc AS (SELECT gh, MIN(doc_id) fd FROM g GROUP BY gh),
             |f AS (SELECT g.gh, fdoc.fd, MIN(g.i) fs
             |      FROM g JOIN fdoc ON g.gh = fdoc.gh AND g.doc_id = fdoc.fd
             |      GROUP BY g.gh, fdoc.fd),
             |dup AS (SELECT g.doc_id, g.i FROM g JOIN f USING (gh)
             |        WHERE NOT (g.doc_id = f.fd AND g.i = f.fs)),
             |cov AS (SELECT DISTINCT doc_id, i + o AS p
             |        FROM dup, UNNEST(range(0, 5)) AS u(o)),
             |cova AS (SELECT doc_id, list(p) ps, COUNT(*) nr
             |         FROM cov GROUP BY doc_id)
             |SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_tokens,
             |  CAST(COALESCE(c.nr, 0) AS BIGINT) AS n_removed,
             |  md5(COALESCE(array_to_string(
             |    list_transform(
             |      list_filter(range(1, len(t.w) + 1),
             |        p -> NOT list_contains(
             |          COALESCE(c.ps, CAST([] AS BIGINT[])), p)),
             |      p -> t.w[p]), ' '), '')) AS kept_md5
             |FROM toks t LEFT JOIN cova c USING (doc_id)
             |ORDER BY t.doc_id""".stripMargin)),

    // EDIT-DISTANCE-verified fuzzy dedup ([[Dedup.editVerifiedPairs]]):
    // LSH-nominated candidates confirmed by exact Levenshtein at
    // normalized distance ≤ 0.20 (integer cross-multiply). The oracle
    // is the exact all-pairs recompute — equality holds by the d03
    // recall argument (pairs inside the 0.20 cut share most of their
    // text, so their shingle jaccard sits far above the banding
    // threshold and every such pair collides in ≥1 band; the planted
    // near-dups measure ≤ 0.07 normalized, the nearest unrelated pair
    // > 0.3). The universe is shingle-able docs (≥ 3 tokens) on both
    // sides — the corpus floor is 10 tokens, the predicate just pins
    // the semantics.
    Q("d23_edit_verified_pairs",
      (s, dir) => Dedup
        .editVerifiedPairs(Tables(s, dir, "documents"), "doc_id", "text",
          maxDistPct = 20)
        .orderBy(col("doc_a"), col("doc_b")),
      Some(raw"""WITH d AS (
             |  SELECT doc_id, text FROM documents
             |  WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 3
             |    AND length(trim(text)) > 0),
             |p AS (
             |  SELECT a.doc_id doc_a, b.doc_id doc_b,
             |    levenshtein(a.text, b.text) ed,
             |    greatest(length(a.text), length(b.text)) ml
             |  FROM d a JOIN d b ON a.doc_id < b.doc_id)
             |SELECT doc_a, doc_b, CAST(ed AS BIGINT) AS edit_dist,
             |  CAST(ml AS BIGINT) AS max_len
             |FROM p WHERE ed * 100 <= ml * 20
             |ORDER BY doc_a, doc_b""".stripMargin)),

    // Two-stage WEB dedup ([[Dedup.urlContentDedup]]): canonical-URL
    // keep first (needs no text), prefix-stable NEAR-dup keep over the
    // URL survivors second — the crawl-pipeline order, each stage
    // shrinking the next one's input. URLs are t22's deterministically
    // messy synthetic derivation (the corpus carries no URL column;
    // both engines derive the same one), so stage 1 collapses the
    // whole doc_id%3=2 residue class onto one survivor and stage 2
    // catches the corpus's planted jaccard near-dups among the rest.
    // The oracle reuses t22's canonicalization CTE chain and d02's
    // shingle-jaccard CTEs — hand-simplifying either here would
    // silently fork the gates' semantics.
    Q("d24_url_content_dedup",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val idStr = col("doc_id").cast("string")
        val url = when(col("doc_id") % 3 === 0,
            concat(lit("HTTP://WWW.Example.COM:80/A/"), idStr,
              lit("?utm_source=x&b=2&a=1#frag")))
          .when(col("doc_id") % 3 === 1,
            concat(lit("https://CDN.Example.com:443/media/"), idStr,
              lit("?id="), idStr, lit("&gclid=g123")))
          .otherwise(
            lit("https://Blog.Sample.ORG:8443/posts" +
              "?z=9&a=1&utm_campaign=c&fbclid=f"))
        Dedup.urlContentDedup(
            docs.withColumn("url", url), "doc_id", "url", "text",
            Threshold)
          .orderBy(col("doc_id"))
      },
      Some("""WITH u AS (
             |  SELECT doc_id, text, CASE CAST(doc_id % 3 AS INT)
             |    WHEN 0 THEN 'HTTP://WWW.Example.COM:80/A/'
             |      || CAST(doc_id AS VARCHAR) || '?utm_source=x&b=2&a=1#frag'
             |    WHEN 1 THEN 'https://CDN.Example.com:443/media/'
             |      || CAST(doc_id AS VARCHAR) || '?id='
             |      || CAST(doc_id AS VARCHAR) || '&gclid=g123'
             |    ELSE 'https://Blog.Sample.ORG:8443/posts'
             |      || '?z=9&a=1&utm_campaign=c&fbclid=f'
             |    END AS url
             |  FROM documents),
             |p AS (
             |  SELECT doc_id, text,
             |    lower(regexp_extract(url,
             |      '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
             |    regexp_extract(url, '^[^:/?#]+://([^/?#]*)', 1) AS auth,
             |    regexp_extract(url,
             |      '^[^:/?#]+://[^/?#]*([^?#]*)', 1) AS path,
             |    regexp_extract(url, '\?([^#]*)', 1) AS qs
             |  FROM u),
             |c AS (
             |  SELECT doc_id, text, scheme,
             |    lower(regexp_extract(auth, '^([^:]*)', 1)) AS host,
             |    regexp_extract(auth, ':([0-9]+)$', 1) AS port, path,
             |    array_to_string(list_sort(list_filter(
             |      string_split(qs, '&'),
             |      x -> x <> '' AND NOT regexp_matches(x,
             |        '^(utm_[^=]*|fbclid|gclid|ref)='))), '&') AS qc
             |  FROM p),
             |f AS (
             |  SELECT doc_id, text,
             |    scheme || '://' || host ||
             |    CASE WHEN port <> '' AND NOT (
             |        (scheme = 'http' AND port = '80')
             |        OR (scheme = 'https' AND port = '443'))
             |      THEN ':' || port ELSE '' END ||
             |    path || CASE WHEN qc <> '' THEN '?' || qc ELSE '' END
             |      AS canon_url
             |  FROM c),
             |uk AS (SELECT canon_url, min(doc_id) AS url_keep
             |  FROM f GROUP BY 1),
             |st AS (SELECT f.doc_id, f.canon_url, f.text, uk.url_keep
             |  FROM f JOIN uk USING (canon_url)),
             |toks AS (
             |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') w
             |  FROM st WHERE doc_id = url_keep
             |    AND length(trim(text)) > 0),
             |sh AS (
             |  SELECT doc_id,
             |    list_distinct(list_transform(range(1, len(w)-1),
             |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) shingles
             |  FROM toks WHERE len(w) >= 3),
             |sizes AS (SELECT doc_id, len(shingles) n_sh FROM sh),
             |ex AS (SELECT doc_id, unnest(shingles) shingle FROM sh),
             |inter AS (
             |  SELECT a.doc_id doc_a, b.doc_id doc_b, COUNT(*) n_common
             |  FROM ex a JOIN ex b
             |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2),
             |pred AS (
             |  SELECT doc_b AS doc_id, min(doc_a) AS pred
             |  FROM inter
             |  JOIN sizes sa ON doc_a = sa.doc_id
             |  JOIN sizes sb ON doc_b = sb.doc_id
             |  WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.6
             |  GROUP BY 1)
             |SELECT st.doc_id, st.canon_url,
             |  CASE WHEN st.doc_id <> st.url_keep THEN 'url_dup'
             |    WHEN pred.pred IS NOT NULL THEN 'content_dup'
             |    ELSE 'kept' END AS verdict,
             |  CAST(CASE WHEN st.doc_id <> st.url_keep THEN st.url_keep
             |    ELSE COALESCE(pred.pred, st.doc_id) END AS BIGINT)
             |    AS canonical_doc
             |FROM st LEFT JOIN pred USING (doc_id)
             |ORDER BY st.doc_id""".stripMargin)),

    // Bloom-filter membership dedup ([[Dedup.bloomMembership]] — the
    // Dolma recipe): the arriving half of the corpus asks "seen
    // before?" against a FIXED m=16384-bit filter built from the other
    // half, with the exact-membership arm riding along so every row
    // prices the filter's false positives (`false_positive =
    // bloom_dup ∧ ¬exact_dup` — the telemetry that sizes m). The batch
    // side never shuffles: k=3 positions are row-local md5 columns and
    // membership is 3 broadcast joins against the ≤ m-row bit frame —
    // corpus-size-INDEPENDENT state, the reason this beats d10's exact
    // store when only a yes/no verdict is needed. All-md5 determinism
    // ⇒ a probabilistic structure with an exact oracle.
    Q("d25_bloom_dedup",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        Dedup.bloomMembership(
            docs.filter(col("doc_id") % 2 === 0),
            docs.filter(col("doc_id") % 2 === 1),
            "doc_id", "text")
          .orderBy(col("doc_id"))
      },
      Some("""WITH h AS (
             |  SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ',
             |    'g')))) AS fp
             |  FROM documents WHERE doc_id % 2 = 0),
             |hb AS (
             |  SELECT DISTINCT CAST(('0x' || substr(
             |      md5(CAST(j.k AS VARCHAR) || fp), 1, 8)) AS BIGINT)
             |    % 16384 AS pos
             |  FROM h, (SELECT unnest(range(0, 3)) k) j),
             |hf AS (SELECT DISTINCT fp FROM h),
             |b AS (
             |  SELECT doc_id, md5(lower(trim(regexp_replace(text,
             |    '\s+', ' ', 'g')))) AS fp
             |  FROM documents WHERE doc_id % 2 = 1),
             |bp AS (
             |  SELECT doc_id, CAST(('0x' || substr(
             |      md5(CAST(j.k AS VARCHAR) || fp), 1, 8)) AS BIGINT)
             |    % 16384 AS pos
             |  FROM b, (SELECT unnest(range(0, 3)) k) j),
             |pr AS (
             |  SELECT bp.doc_id, COUNT(hb.pos) = 3 AS bloom_dup
             |  FROM bp LEFT JOIN hb ON bp.pos = hb.pos
             |  GROUP BY bp.doc_id)
             |SELECT b.doc_id, pr.bloom_dup,
             |  hf.fp IS NOT NULL AS exact_dup,
             |  pr.bloom_dup AND hf.fp IS NULL AS false_positive
             |FROM b
             |JOIN pr ON b.doc_id = pr.doc_id
             |LEFT JOIN hf ON b.fp = hf.fp
             |ORDER BY b.doc_id""".stripMargin)),

    // Cross-corpus SEMANTIC contamination ([[Similarity
    // .semanticCrossContamination]]) — d06's train/test leakage check
    // in EMBEDDING space, where a paraphrased benchmark answer (the
    // leak d06/d09's gram tiers structurally cannot see) still lands
    // within cosine 0.45 of its source. Codebook trains on the TRAIN
    // side only (the benchmark must not shape the clustering — the d14
    // frozen-history convention), both sides assign row-locally, and
    // candidates are the within-cluster cross join — never train×test.
    // Oracle replays training (train-slice CTEs), assignment, and the
    // cross pass exactly.
    Q("d26_semantic_contamination",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        Similarity.semanticCrossContamination(
            emb.filter(col("vec_id") % 5 =!= 0),
            emb.filter(col("vec_id") % 5 === 0),
            "vec_id", "embedding", k = 10, iters = 3, threshold = 0.45)
          .orderBy(col("vec_id"))
      },
      Some(s"""${VectorQueries.kmeansCtes(k = 10, iters = 3,
                  trainPred = "vec_id % 5 <> 0")},
             |tr AS (SELECT vid, cid, v, nrm FROM asg4
             |  WHERE vid % 5 <> 0),
             |te AS (SELECT vid, cid, v, nrm FROM asg4
             |  WHERE vid % 5 = 0),
             |hits AS (
             |  SELECT te.vid, tr.vid AS tvid
             |  FROM te JOIN tr ON te.cid = tr.cid
             |  WHERE ROUND(list_dot_product(te.v, tr.v)
             |          / (te.nrm * tr.nrm), 6) >= 0.45),
             |hagg AS (
             |  SELECT vid, COUNT(*) AS n_matches,
             |    MIN(tvid) AS first_match
             |  FROM hits GROUP BY vid)
             |SELECT te.vid AS vec_id,
             |  hagg.vid IS NOT NULL AS contaminated,
             |  CAST(COALESCE(hagg.n_matches, 0) AS BIGINT) AS n_matches,
             |  hagg.first_match
             |FROM te LEFT JOIN hagg ON te.vid = hagg.vid
             |ORDER BY vec_id""".stripMargin)),

    // CORPUS-SIZED Bloom policy ([[Dedup.bloomGeometry]] +
    // [[Dedup.bloomMembershipAuto]]) — d25's fixed m=16384 frame
    // saturates as the corpus grows (fill → 1, FP → 1); the policy
    // m = 8·n bits / k = round(8·ln2) = 6 pins the fill ratio, so the
    // PREDICTED FP rate (1−e^(−k·n/m))^k ≈ 216 bp is corpus-size-
    // INVARIANT — which the gate demonstrates by running the SAME
    // batch against two history sizes (evens; every-4th) under the
    // auto geometry and reporting measured FP counts as exact integers
    // (no ratio column — numerator and denominator ride separately, so
    // there is no cross-engine division to disagree on) next to the
    // shared predicted constant. The oracle replays the policy in SQL:
    // m is `8 * COUNT(*)` per arm, positions take `% m` from the
    // scalar subquery. Still one ≤ m-row broadcastable bit frame per
    // arm; the batch never shuffles.
    Q("d27_bloom_policy",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val batch = docs.filter(col("doc_id") % 2 === 1)
        def arm(label: String, hist: org.apache.spark.sql.DataFrame) = {
          val n = hist.count()
          val (m, k) = Dedup.bloomGeometry(n)
          Dedup.bloomMembership(hist, batch, "doc_id", "text", m, k)
            .agg(count(lit(1)).as("batch_n"),
              sum(when(col("bloom_dup"), 1L).otherwise(0L))
                .as("bloom_dups"),
              sum(when(col("exact_dup"), 1L).otherwise(0L))
                .as("exact_dups"),
              sum(when(col("false_positive"), 1L).otherwise(0L))
                .as("false_positives"))
            .select(lit(label).as("hist"), lit(n).as("n_history"),
              lit(m).as("m_bits"), lit(k.toLong).as("k_hashes"),
              col("batch_n"), col("bloom_dups"), col("exact_dups"),
              col("false_positives"),
              lit(BloomPredictedFpBp).as("fp_predicted_bp"))
        }
        arm("full", docs.filter(col("doc_id") % 2 === 0))
          .unionByName(arm("half", docs.filter(col("doc_id") % 4 === 0)))
          .orderBy(col("hist"))
      },
      Some(s"""WITH b AS (
             |  SELECT doc_id, md5(lower(trim(regexp_replace(text,
             |    '\\s+', ' ', 'g')))) AS fp
             |  FROM documents WHERE doc_id % 2 = 1),
             |${bloomArmOracle("full", "doc_id % 2 = 0")},
             |${bloomArmOracle("half", "doc_id % 4 = 0")}
             |SELECT * FROM agg_full
             |UNION ALL SELECT * FROM agg_half
             |ORDER BY hist""".stripMargin)),

    // Soft dedup ([[Dedup.softWeights]]) — duplicate DOWNWEIGHTING
    // instead of removal: each doc's sampling weight is 1/|exact-dup
    // cluster|, so k copies of a text jointly carry one doc's worth of
    // training mass (the soft alternative to d01's hard keep/drop).
    // One fingerprint hash-agg + one join back; no window, text never
    // shuffles. Weight is a 6dp-rounded double on both engines
    // (1/k for small integer k — exactly the jaccard-oracle division
    // discipline).
    Q("d28_soft_dedup_weight",
      (s, dir) => Dedup
        .softWeights(Tables(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id")),
      Some("""WITH fp AS (
             |  SELECT doc_id, md5(lower(trim(regexp_replace(
             |    COALESCE(text, ''), '\s+', ' ', 'g')))) AS fingerprint
             |  FROM documents),
             |c AS (SELECT fingerprint, COUNT(*) dup_count
             |  FROM fp GROUP BY 1)
             |SELECT doc_id, c.dup_count,
             |  ROUND(CAST(1 AS DOUBLE) / c.dup_count, 6) AS weight
             |FROM fp JOIN c USING (fingerprint)
             |ORDER BY doc_id""".stripMargin)),

    // C4-style duplicate-block removal ([[Dedup.blockDedup]]) at
    // 16-word blocks: a block occurring at >1 (doc, position)
    // corpus-wide survives only at its canonical first occurrence
    // (min doc_id, then block_id); docs reassemble from surviving
    // blocks. One fingerprint hash-agg for the keeper, one fp-keyed
    // mark join, one doc-keyed reassembly — no global window on the
    // Spark side (the oracle's ROW_NUMBER window is DuckDB-only).
    Q("d29_block_dedup",
      (s, dir) => Dedup
        .blockDedup(Tables(s, dir, "documents"), "doc_id", "text", 16)
        .select(col("id").as("doc_id"), col("n_blocks"),
          col("kept_blocks"), col("text_deduped"))
        .orderBy(col("doc_id")),
      Some(BlockDedupOracle)),

    // INCREMENTAL block dedup ([[BlockStore]]) — the d29 operator under
    // the persisted-store lifecycle every other dedup tier has: build
    // dedupes the base snapshot and seeds the 16-byte fingerprint
    // table; an arriving snapshot excises already-seen blocks with ONE
    // anti-join against that table (history text never re-read) and
    // resolves its novel blocks batch-locally. Batches arrive in id
    // order, so canonical-first-occurrence is the same ordering either
    // way and the oracle is d29's one-shot SQL over the accumulated
    // corpus — append ≡ one-shot, the d10/d21/g06 discipline.
    Q("d30_incremental_block_dedup",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        // Corpus-derived cut (≈ 3/5 of the id range), so the append leg
        // is non-empty at EVERY scale factor — a hardcoded cut above
        // the corpus max would silently degenerate this gate to
        // re-testing the one-shot build.
        val top = docs.agg(max(col("doc_id"))).head.getLong(0)
        val cut = top * 3 / 5
        val store = BlockStore("block_store_gate")
        BlockStore.build(s, docs.filter(col("doc_id") <= cut),
          "doc_id", "text", 16, store)
        BlockStore.append(s, docs.filter(col("doc_id") > cut),
          "doc_id", "text", 16, store, "b1")
        BlockStore.deduped(s, store)
          .select(col("id").as("doc_id"), col("n_blocks"),
            col("kept_blocks"), col("text_deduped"))
          .orderBy(col("doc_id"))
      },
      Some(BlockDedupOracle)),

    // Block-store COMPACTION: d30's lifecycle with a third batch, then
    // the closed base/b1 partitions of all three tables fold into
    // `compacted` ([[BlockStore.compact]]). Compaction is pure storage
    // reorganization — the shared d29 oracle must not see it.
    Q("d31_block_store_compacted",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val top = docs.agg(max(col("doc_id"))).head.getLong(0)
        val (c1, c2) = (top * 3 / 5, top * 4 / 5)
        val store = BlockStore("block_store_cpt")
        BlockStore.build(s, docs.filter(col("doc_id") <= c1),
          "doc_id", "text", 16, store)
        BlockStore.append(s,
          docs.filter(col("doc_id") > c1 && col("doc_id") <= c2),
          "doc_id", "text", 16, store, "b1")
        BlockStore.append(s, docs.filter(col("doc_id") > c2),
          "doc_id", "text", 16, store, "b2")
        BlockStore.compact(s, store, keep = Set("b2"))
        BlockStore.deduped(s, store)
          .select(col("id").as("doc_id"), col("n_blocks"),
            col("kept_blocks"), col("text_deduped"))
          .orderBy(col("doc_id"))
      },
      Some(BlockDedupOracle)),

    // Block-store TAKEDOWN with resurrection ([[BlockStore.delete]] —
    // the d22 occurrence design at block granularity): victims' rows
    // leave partition-scoped, and a block whose canonical first
    // occurrence lived in a victim RESURRECTS at its next surviving
    // owner — that owner's row is repaired from the persisted
    // occurrence rows (kept flags from the surviving-keeper aggregate,
    // text from the stored blocks; no corpus re-read). The store must
    // equal d29's one-shot pass over a corpus that never contained the
    // victims.
    Q("d32_block_takedown",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val top = docs.agg(max(col("doc_id"))).head.getLong(0)
        val cut = top * 3 / 5
        val store = BlockStore("block_takedown")
        BlockStore.build(s, docs.filter(col("doc_id") <= cut),
          "doc_id", "text", 16, store)
        BlockStore.append(s, docs.filter(col("doc_id") > cut),
          "doc_id", "text", 16, store, "b1")
        BlockStore.delete(s, store,
          docs.filter(col("doc_id") % 7 === 3).select(col("doc_id")))
        BlockStore.deduped(s, store)
          .select(col("id").as("doc_id"), col("n_blocks"),
            col("kept_blocks"), col("text_deduped"))
          .orderBy(col("doc_id"))
      },
      Some(BlockDedupOracle.replace("FROM documents",
        "FROM documents WHERE doc_id % 7 <> 3")))
  )

  /** d29's one-shot oracle, shared verbatim by d30 and st16 (the
    * incremental store — batch or streamed — must reproduce the
    * one-shot dedup to the bit). */
  private[graft] lazy val BlockDedupOracle: String =
    """WITH t AS (
             |  SELECT doc_id,
             |    CASE WHEN length(trim(text)) = 0 THEN []
             |         ELSE regexp_split_to_array(trim(text), '\s+')
             |    END w
             |  FROM documents),
             |n AS (SELECT doc_id, w,
             |  CAST(CEIL(len(w) / 16.0) AS BIGINT) n_blocks FROM t),
             |b AS (SELECT doc_id, n_blocks,
             |  unnest(range(0, n_blocks)) block_id, w
             |  FROM n WHERE n_blocks > 0),
             |bt AS (SELECT doc_id, n_blocks, block_id,
             |  array_to_string(
             |    w[(block_id * 16 + 1):(block_id * 16 + 16)], ' ')
             |    block_text
             |  FROM b),
             |m AS (SELECT doc_id, n_blocks, block_id, block_text,
             |  ROW_NUMBER() OVER (PARTITION BY block_text
             |    ORDER BY doc_id, block_id) = 1 AS kept
             |  FROM bt),
             |agg AS (SELECT doc_id, n_blocks,
             |  CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT)
             |    kept_blocks,
             |  string_agg(CASE WHEN kept THEN block_text END, ' '
             |    ORDER BY block_id) text_deduped
             |  FROM m GROUP BY doc_id, n_blocks)
             |SELECT d.doc_id,
             |  COALESCE(a.n_blocks, 0) AS n_blocks,
             |  COALESCE(a.kept_blocks, 0) AS kept_blocks,
             |  COALESCE(a.text_deduped, '') AS text_deduped
             |FROM (SELECT doc_id FROM documents) d
             |LEFT JOIN agg a USING (doc_id)
             |ORDER BY doc_id""".stripMargin

  /** d27's per-arm oracle CTEs: history fingerprints under `pred`, the
    * policy's m = 8·n from a COUNT(*) scalar, the ≤ m-row distinct bit
    * frame, the 6-position probe of the shared batch `b`, and the
    * exact arm — aggregated to one labeled row of exact integers. */
  private def bloomArmOracle(label: String, pred: String): String =
    s"""hf_$label AS (
       |  SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ',
       |    'g')))) AS fp
       |  FROM documents WHERE $pred),
       |nn_$label AS (SELECT 8 * COUNT(*) m, COUNT(*) n FROM hf_$label),
       |hb_$label AS (
       |  SELECT DISTINCT CAST(('0x' || substr(
       |      md5(CAST(j.k AS VARCHAR) || fp), 1, 8)) AS BIGINT)
       |    % (SELECT m FROM nn_$label) AS pos
       |  FROM hf_$label, (SELECT unnest(range(0, 6)) k) j),
       |hfd_$label AS (SELECT DISTINCT fp FROM hf_$label),
       |bp_$label AS (
       |  SELECT doc_id, CAST(('0x' || substr(
       |      md5(CAST(j.k AS VARCHAR) || fp), 1, 8)) AS BIGINT)
       |    % (SELECT m FROM nn_$label) AS pos
       |  FROM b, (SELECT unnest(range(0, 6)) k) j),
       |pr_$label AS (
       |  SELECT bp.doc_id, COUNT(hb.pos) = 6 AS bloom_dup
       |  FROM bp_$label bp LEFT JOIN hb_$label hb ON bp.pos = hb.pos
       |  GROUP BY bp.doc_id),
       |v_$label AS (
       |  SELECT pr.bloom_dup, hfd.fp IS NOT NULL AS exact_dup,
       |    pr.bloom_dup AND hfd.fp IS NULL AS false_positive
       |  FROM b
       |  JOIN pr_$label pr ON b.doc_id = pr.doc_id
       |  LEFT JOIN hfd_$label hfd ON b.fp = hfd.fp),
       |agg_$label AS (
       |  SELECT '$label' AS hist,
       |    (SELECT n FROM nn_$label) AS n_history,
       |    (SELECT m FROM nn_$label) AS m_bits,
       |    CAST(6 AS BIGINT) AS k_hashes,
       |    COUNT(*) AS batch_n,
       |    CAST(SUM(CASE WHEN bloom_dup THEN 1 ELSE 0 END) AS BIGINT)
       |      AS bloom_dups,
       |    CAST(SUM(CASE WHEN exact_dup THEN 1 ELSE 0 END) AS BIGINT)
       |      AS exact_dups,
       |    CAST(SUM(CASE WHEN false_positive THEN 1 ELSE 0 END)
       |      AS BIGINT) AS false_positives,
       |    CAST($BloomPredictedFpBp AS BIGINT) AS fp_predicted_bp
       |  FROM v_$label)""".stripMargin

  /** The policy's textbook FP prediction in basis points —
    * `(1 − e^(−k·n/m))^k` with n/m pinned at 1/c by [[Dedup
    * .bloomGeometry]], hence a CONSTANT (≈ 216 bp at c = 8, k = 6):
    * computed once here and inlined as the same literal on both
    * engines, so no cross-engine exp()/pow() in the hashed columns. */
  private val BloomPredictedFpBp: Long = {
    val (m, k) = Dedup.bloomGeometry(1L)
    math.round(1e4 * math.pow(
      1.0 - math.exp(-k.toDouble / m.toDouble), k))
  }

  /** d14's oracle — k-means trained on the first 80% of the id range
    * in SQL, the predecessor pass over everyone. Shared with the
    * streamed semantic ingest gate (st14) so the batch and streamed
    * append paths verify against ONE oracle text (the st13/d12
    * discipline). */
  private[graft] def semanticStoreOracle: String =
    semanticOracle(VectorQueries.kmeansCtes(k = 10, iters = 3,
      trainPred =
        "vec_id <= (SELECT MAX(vec_id) * 4 // 5 FROM embeddings)"))

  /** d02's exact-jaccard oracle restricted to takedown survivors —
    * `victimPred` names the deleted rows. Shared with the streamed
    * takedown gate (st13) so the batch (d12) and streamed delete paths
    * verify against ONE oracle text instead of drifting copies. */
  private[graft] def jaccardOracleExcluding(victimPred: String): String =
    jaccardOracle.replace("WHERE length(trim(text)) > 0",
      s"WHERE length(trim(text)) > 0 AND NOT ($victimPred)")

  /** Shared d13/d14/d15 oracle tail: predecessor drops within the final
    * assignment pass (`asg4` = iters+1 at the gates' iters=3) filtered
    * to `survPred` (d15's takedown survivors — TRUE elsewhere), then
    * the per-vector keep verdict. */
  private def semanticOracle(ctes: String,
      survPred: String = "TRUE"): String =
    s"""$ctes,
       |sasg AS (SELECT * FROM asg4 WHERE ($survPred)),
       |drops AS (
       |  SELECT DISTINCT b.vid FROM sasg a JOIN sasg b
       |    ON a.cid = b.cid AND a.vid < b.vid
       |  WHERE ROUND(list_dot_product(a.v, b.v)
       |          / (a.nrm * b.nrm), 6) >= 0.45)
       |SELECT vid AS vec_id, cid,
       |  vid NOT IN (SELECT vid FROM drops) AS keep
       |FROM sasg ORDER BY vec_id""".stripMargin
}
