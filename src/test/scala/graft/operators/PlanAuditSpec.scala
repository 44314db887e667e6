package graft.operators

import graft.{SparkEntry, SparkSuite}
import graft.core.TopKSpec

/** Physical-plan regression tests: the scale-shaping properties the
  * scaladocs claim (broadcast choices, pushdown, shuffle counts) asserted
  * on the ACTUAL plans, so an innocent-looking refactor that silently
  * turns a broadcast into a sort-merge join — or adds a corpus-wide
  * Exchange to a map-only pass — fails CI instead of surfacing as a
  * bench regression three rounds later. String-level checks run against
  * the initial AQE plan; assertions are kept coarse (operator presence /
  * Exchange counts) to stay robust across Spark versions.
  */
class PlanAuditSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    try SparkEntry.queries(name)(spark, dir)
      .queryExecution.executedPlan.toString
    finally graft.core.Caches.releaseAll()

  private def exchanges(p: String): Int =
    p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("BroadcastExchange"))

  test("star join broadcasts its dimensions, never a cartesian product") {
    val p = plan("q03_star_join_revenue")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("chunking is map-only: the only shuffle is the gate's final sort") {
    assert(exchanges(plan("t13_chunking")) == 1)
  }

  test("gopher rules are a single projection pass plus the gate sort") {
    assert(exchanges(plan("t12_gopher_quality")) == 1)
  }

  test("quantized top-k pushes the query-set filter into the scan") {
    val p = plan("v08_quantized_topk")
    assert(p.contains("LessThan(vec_id,5)"), "query filter not pushed down")
    assert(p.contains("BroadcastExchange"), "query side must broadcast")
  }

  test("correlated EXISTS/NOT EXISTS rewrite to semi/anti hash joins") {
    val p = plan("q32_exists_correlated")
    assert(p.contains("LeftSemi"), "EXISTS must rewrite to a semi join")
    assert(p.contains("LeftAnti"), "NOT EXISTS must rewrite to an anti join")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      "a correlated predicate must never plan as a nested-loop re-scan")
  }

  test("PQ top-k: corpus encodes shuffle-free, queries broadcast") {
    val p = plan("v10_pq_topk")
    assert(p.contains("BroadcastExchange"), "query side must broadcast")
    assert(!p.contains("CartesianProduct"))
    // Encoding is row-local projection work against inlined codebook
    // literals — the only non-broadcast Exchange is the per-query
    // top-k window's shuffle (plus the gate's final sort).
    assert(exchanges(p) <= 2,
      s"PQ encode must not shuffle the corpus:\n$p")
  }

  test("IVF-PQ: corpus bucket+encode is one shuffle-free scan, probes broadcast") {
    val p = plan("v11_ann_ivfpq")
    assert(p.contains("BroadcastExchange"), "probe side must broadcast")
    assert(!p.contains("CartesianProduct"))
    // Coarse assignment AND PQ encode are row-local work against inlined
    // codebook literals; the only non-broadcast Exchanges are the
    // per-query top-k window's shuffle and the gate's final sort.
    assert(exchanges(p) <= 2,
      s"IVF-PQ corpus pass must not shuffle:\n$p")
  }

  test("rolling window shuffles once on its key") {
    val p = plan("q33_rolling_window")
    assert(exchanges(p) <= 2, // user_id window + the gate's final sort
      s"RANGE window must not add shuffles:\n$p")
  }

  test("incremental partition layout yields partition-pruned scans") {
    // The IncrementalByPartition layout exists FOR this property: a
    // day-filtered read of the mart must touch one partition directory,
    // not scan-and-filter the table (at 100 TB that is the difference
    // between reading a day and reading years).
    import graft.model._
    import org.apache.spark.sql.functions.col
    val base = java.nio.file.Files
      .createTempDirectory("graft-prune").toString
    val src = spark.range(9).selectExpr(
      "CAST(id % 3 AS STRING) AS event_date", "id")
    val runner = new Runner(
      Project(Seq(SourceDef("t", "ev", _ => src)),
        Seq(SqlModel("pr_m",
          """SELECT event_date, id FROM {{ source('t', 'ev') }}
            |WHERE {{ incremental_filter('event_date') }}""".stripMargin,
          Materialization.IncrementalByPartition(Seq("event_date"))))),
      Target.dev, new PathMaterializer(base))
    runner.run(spark)
    val plan = spark.table("dev_pr_m").filter(col("event_date") === "1")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(event_date"),
      s"day filter must prune partitions, plan was:\n$plan")
  }

  test("dim-filtered join over a partitioned fact uses dynamic partition pruning") {
    // The 100 TB star-join property: a selective dimension filter must
    // prune FACT partitions at runtime (DPP inserts a dynamic pruning
    // subquery on the partition column), not scan the full fact and
    // filter post-join. Fact = a day-partitioned mart (the incremental
    // layout), dim = a small date dimension with a selective predicate.
    import org.apache.spark.sql.functions._
    val base = java.nio.file.Files
      .createTempDirectory("graft-dpp").toString
    spark.range(300).selectExpr(
        "CAST(id % 30 AS STRING) AS event_date", "id AS v")
      .write.partitionBy("event_date").parquet(s"$base/fact")
    val fact = spark.read.parquet(s"$base/fact")
    val dim = spark.range(30).selectExpr(
      "CAST(id AS STRING) AS event_date", "id % 7 AS dow")
    val plan = fact.join(dim, Seq("event_date"))
      .filter(col("dow") === 3)
      .groupBy(col("event_date")).agg(sum(col("v")))
      .queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"expected a DPP subquery on the fact scan, plan was:\n$plan")
  }

  test("events time-slice pushes its ts range into the parquet scan") {
    // Tables.eventsBetween phrases the range on the RAW ts encoding
    // before the normalizing projection — a filter on the normalized
    // column can never push, and at 100 TB an unpushed time slice reads
    // the whole log. Both physical encodings are pinned by
    // EventsLayoutSpec; this pins the gate's plan on the live testdata.
    val p = plan("q39_events_time_slice")
    assert(p.contains("GreaterThanOrEqual(ts") && p.contains("LessThan(ts"),
      s"ts range must reach PushedFilters, plan was:\n$p")
  }

  test("sequence packing adds no shuffle after the range partition") {
    // One range-partition Exchange feeds the mapPartitions pass; the
    // remaining Exchanges belong to the gate's groupBy + sort, never a
    // corpus-wide window repartition (the defect this pins against).
    val p = plan("t11_sequence_packing")
    assert(!p.contains("Window"), "packing must not use a window")
  }

  test("exact dedup's canonical keep is a hash aggregate + join back, " +
      "never a per-fingerprint window") {
    // A Window.partitionBy(fingerprint) lands each dup cluster in ONE
    // sort task — at 100 TB the mega-clusters (empty docs, boilerplate
    // pages) serialize on it. The keeper must be the d29 min-aggregate
    // shape: map-side combinable, AQE-skew-safe.
    val p = plan("d01_exact_dedup")
    assert(!p.contains("Window"),
      s"exactMarked fell back to a window:\n$p")
    assert(p.contains("HashAggregate"),
      s"exactMarked keeper must be a hash aggregate:\n$p")
  }

  test("composed pipeline keeps every join an equi-join") {
    // Five stages fused into one plan: the near-dup candidate stage must
    // stay a (band,bucket) equi-join — any all-pairs degradation shows
    // up here as a cartesian/nested-loop.
    val p = plan("p01_corpus_pipeline")
    assert(!p.contains("CartesianProduct"),
      "pipeline plan degraded to a cartesian join")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "pipeline plan degraded to a nested-loop join")
  }

  test("loaded-tokenizer apply inlines merges as literals over one scan") {
    val p = plan("t19_bpe_persisted")
    // Application must never join against the merge table — the merges
    // ride as literals in the replace chain; the only joins/aggregates
    // in the gate plan would come from a retraining regression.
    assert(!p.contains("Join"), s"t19 apply plan joins:\n$p")
  }

  test("semantic dedup pairs only within clusters — equi-join, no cartesian") {
    // The whole SemDeDup point: the pair search must stay a cid
    // equi-join (O(Σ|c|²) candidates), with assignment row-local
    // against the inline codebook — an all-pairs degradation or a
    // codebook join shows up here.
    val p = plan("d13_semantic_dedup")
    assert(!p.contains("CartesianProduct"),
      "semantic pair search degraded to a cartesian join")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "semantic pair search degraded to a nested-loop join")
  }

  test("mixture sampling runs on the keyed prefix sum, not a window") {
    // A per-source Window.partitionBy would make the biggest source a
    // single task at scale; the keyed two-phase prefix sum must keep
    // the plan Window-free, with the corpus total attached by a
    // broadcast crossJoin (never a data-sized nested loop).
    val p = plan("p04_mixture_sample")
    assert(!p.contains("Window"), s"p04 fell back to a window:\n$p")
    assert(!p.contains("CartesianProduct"),
      "p04 total-attach degraded to a cartesian join")
    // The epoched variant adds only broadcast attaches and a row-local
    // epoch explode on top of the same prefix sum.
    val e = plan("p06_epoched_mixture")
    assert(!e.contains("Window"), s"p06 fell back to a window:\n$e")
    assert(!e.contains("CartesianProduct"),
      "p06 degraded to a cartesian join")
    assert(e.contains("Generate"), "p06 lost its row-local epoch explode")
  }

  test("alpha mixture derives quotas without a window or a sort-merge " +
      "join: prefix sum + broadcast-only attaches") {
    // The α = ½ policy adds two scalar/|sources|-row attaches (corpus
    // total, isqrt weights, Σw) on top of p04's keyed prefix sum —
    // all must ride broadcasts; a SortMergeJoin here would shuffle the
    // corpus once per attach at 100 TB.
    val p = plan("p16_alpha_mixture")
    assert(!p.contains("Window"), s"p16 fell back to a window:\n$p")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SortMergeJoin"),
      s"quota attaches must broadcast, not shuffle the corpus:\n$p")
  }

  test("model-based quality scoring fuses into one scan: the only " +
      "shuffle is the gate's final sort") {
    // t21's whole feature-hash → weight-sum → score chain is row-local
    // built-ins; any extra Exchange means the classifier stopped being
    // free at scan time.
    assert(exchanges(plan("t21_model_quality")) == 1)
  }

  test("URL canonicalization is row-local; the domain census is the " +
      "only aggregation shuffle and rejoins by broadcast") {
    val p = plan("t22_url_canonical")
    assert(!p.contains("SortMergeJoin"),
      s"per-domain census must rejoin via broadcast:\n$p")
    assert(!p.contains("Window"), s"t22 must not window:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("span dedup: inverted-index equi-joins only, coverage aggregated " +
      "per doc, no window, no cartesian") {
    // The document text must never ride a shuffle: gram hashes and
    // positions do. A Window here would serialize the rebuild; a
    // cartesian would mean the gram join degraded to all-pairs.
    val p = plan("d20_span_dedup")
    assert(!p.contains("Window"), s"d20 must not window:\n$p")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"d20 gram join degraded to a nested loop:\n$p")
  }

  test("cluster mixture: row-local assignment + broadcast attaches on " +
      "top of the keyed prefix sum") {
    // p19 = p16 with the source label computed row-locally from the
    // inlined codebook; the only non-broadcast joins are the
    // doc↔cluster equi-join and the prefix sum's own machinery.
    val p = plan("p19_cluster_mixture")
    assert(!p.contains("Window"), s"p19 fell back to a window:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("binary re-rank: Hamming scan broadcasts queries, nominated " +
      "candidates broadcast into the fetch join") {
    val p = plan("v20_binary_rerank")
    assert(p.contains("BroadcastExchange"), "query side must broadcast")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("SortMergeJoin"),
      s"candidate fetch must broadcast, not shuffle the corpus:\n$p")
  }

  test("unigram surprisal: tf aggregate + token equi-join, no window, " +
      "corpus total attached by broadcast") {
    val p = plan("t23_unigram_surprisal")
    assert(!p.contains("Window"), s"t23 must not window:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("image dhash dedup decodes map-side: one hash shuffle for the " +
      "keep window plus the gate sort") {
    // The decode lives in mapPartitions; everything after is one
    // signature-keyed exchange (the d01 shape) and the output sort.
    val p = plan("mm08_image_dedup")
    assert(!p.contains("CartesianProduct"))
    assert(exchanges(p) <= 3,
      s"mm08 grew unexpected shuffles (decode must stay map-side):\n$p")
  }

  test("edit-verified fuzzy dedup: candidates come from the banded " +
      "equi-join, never an all-pairs product") {
    val p = plan("d23_edit_verified_pairs")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"d23 candidates must be the (band,bucket) equi-join:\n$p")
  }

  test("knn graph: corpus meets corpus only in the bucket equi-join — " +
      "no broadcast of a corpus-sized side, no all-pairs product") {
    val p = plan("v23_knn_graph")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"v23 must stay the bucketed self-join:\n$p")
  }

  test("knn graph under the DEFAULT autoNlist policy keeps v23's " +
      "shape: bucketed self-join, nothing corpus-sized broadcasts") {
    val p = plan("v24_knn_graph_auto")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"v24 must stay the bucketed self-join:\n$p")
  }

  test("BM25 store: scoring reads the PERSISTED postings — no " +
      "re-tokenization above the scan, query terms broadcast") {
    val p = plan("t26_bm25_store")
    assert(p.contains("BroadcastHashJoin"),
      "the query-term list must broadcast into the postings join")
    assert(!p.contains("CartesianProduct"))
    // The whole point of the store: the raw text never re-tokenizes at
    // query time. Tokenization is a split+explode — neither may appear
    // above the postings scan.
    assert(!p.toLowerCase.contains("explode"),
      s"t26 scoring must run off stored (token, doc_id, tf) rows:\n$p")
  }

  test("incremental pagerank: serving a checkpoint is a pure read — " +
      "no join, no iteration at read time") {
    val p = plan("g06_pagerank_incremental")
    assert(!p.contains("Join"),
      s"g06's served ranking must be a filtered scan of the " +
        s"checkpointed vector:\n$p")
  }

  test("shard shuffle: within-shard positions come from the keyed " +
      "prefix sum — no per-shard ranking window") {
    val p = plan("p21_shard_shuffle")
    assert(!p.contains("Window"),
      s"p21 positions must be the two-phase prefix sum, not a window:\n$p")
  }

  test("two-stage web dedup: near-dup candidates stay banded — no " +
      "all-pairs product anywhere in the composed plan") {
    val p = plan("d24_url_content_dedup")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"d24 stage-2 candidates must be the banded equi-join:\n$p")
  }

  test("range search: no ranking window anywhere — the plan is scan, " +
      "broadcast probe join, filter") {
    val p = plan("v22_range_search")
    assert(!p.contains("Window"),
      s"v22 is a filter, not a ranking — no window belongs in:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"v22 must stay the probed bucket equi-join:\n$p")
    assert(p.contains("BroadcastExchange"),
      s"v22 probes must broadcast so the corpus never shuffles:\n$p")
  }

  test("BM25: query terms broadcast into the postings join — scoring is " +
      "candidate-driven, never corpus x corpus") {
    val p = plan("t24_bm25_topk")
    assert(p.contains("BroadcastHashJoin"),
      "the 10-term query list must broadcast into the postings join")
    assert(!p.contains("CartesianProduct"))
    // The corpus-stats singleton rides a single-row broadcast (the t08
    // shape); everything else is equi-joins and keyed aggregates.
  }

  test("filtered ANN: bucket assignment stays row-local, probes " +
      "broadcast, the metadata filter prunes before scoring") {
    val p = plan("v21_ann_filtered")
    assert(p.contains("BroadcastExchange"), "probe side must broadcast")
    assert(!p.contains("CartesianProduct"))
    // Label rides the row-local assignment — no join-back of metadata
    // by vid; the only non-broadcast Exchanges are the per-query top-k
    // window's shuffle and the gate's final sort.
    assert(exchanges(p) <= 2,
      s"filtered-ANN corpus pass must not shuffle:\n$p")
    // The equality filter must sit in the join condition/filter, not
    // explode into a per-label index fork.
    assert(p.contains("meta"), "metadata column must ride the assignment")
  }

  test("bloom dedup: membership is broadcast joins against the bit " +
      "frame — the batch side never shuffles, no window, no cartesian") {
    val p = plan("d25_bloom_dedup")
    assert(p.contains("BroadcastExchange"),
      "the ≤ m-row bit frame must broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("Window"),
      s"d25 must stay broadcast membership probes:\n$p")
  }

  test("curriculum pack: per-phase positions come from the keyed " +
      "prefix sum — no per-phase ranking window") {
    val p = plan("p22_curriculum_pack")
    assert(!p.contains("Window"),
      s"p22 packing must be the two-phase prefix sum, not a window:\n$p")
  }

  test("soft dedup weights: cluster sizes come from a hash aggregate, " +
      "not a per-key window (the advantage over d01's row_number)") {
    val p = plan("d28_soft_dedup_weight")
    assert(!p.contains("Window"), s"d28 must not plan a window:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("block dedup: keeper selection is min(struct) hash aggregation " +
      "— no window, no cartesian (the oracle's ROW_NUMBER is DuckDB-only)") {
    val p = plan("d29_block_dedup")
    assert(!p.contains("Window"), s"d29 must not plan a window:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("HITS: half-steps are equi-joins plus hash aggregates; the only " +
      "loop joins are the 1-row L1 normalizers") {
    val p = plan("g08_hits")
    assert(!p.contains("CartesianProduct"),
      s"g08 must stay equi-join message passing:\n$p")
  }

  test("label propagation: argmax is min(struct) hash aggregation — " +
      "no window, no cartesian") {
    val p = plan("g09_label_propagation")
    assert(!p.contains("Window"), s"g09 must not plan a window:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("PCM resample fuses into the scan: the only shuffle is the " +
      "gate's final sort") {
    assert(exchanges(plan("mm11_pcm_resample")) == 1)
  }

  test("trustrank: each round is an equi-join plus a hash aggregate — " +
      "no cartesian, no broadcast of the rank vector as a loop join") {
    val p = plan("g04_trustrank")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"g04 rounds must stay equi-join message passing:\n$p")
  }

  test("BM25 store top-k bounds each term's shuffle — no window task " +
      "ever holds a full df(term) posting list") {
    // A stop-word-grade query term would put its whole posting list in
    // one sort task under a plain per-term window; Spark's partial
    // WindowGroupLimit must keep <= k rows per term per map partition
    // beneath the per-token exchange (the salted two-stage ranking it
    // replaced must not come back).
    val p = plan("t26_bm25_store")
    assert(TopKSpec.partialLimitBelowExchange(p, "token"),
      s"topK lost its partial group limit below the token exchange:\n$p")
    assert(!p.contains("__salt"), s"salted ranking is back:\n$p")
  }

  test("hybrid interpolation keeps both arms bounded: the lexical " +
      "ranking's partial limit survives the fuse, no cartesian anywhere") {
    // The fuse and min-max normalization are (seeds x k)-row ops; the
    // corpus-sized work must stay inside the arms — the lexical arm's
    // per-qid partial group limit (t26's pin) and the broadcast cosine
    // arm. A cartesian or nested-loop join here means an arm leaked
    // past its candidate bound.
    val p = plan("t30_hybrid_interpolation")
    assert(TopKSpec.partialLimitBelowExchange(p, "qid"),
      s"t30's lexical arm lost its partial group limit:\n$p")
    assert(!p.contains("__salt"), s"salted ranking is back:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"t30 must not plan a cartesian:\n$p")
  }

  test("k-NN graph top-k keeps at most k rows per qid per partition " +
      "before the qid exchange") {
    // The baseline a bounded top-k aggregate would have to beat: the
    // candidate volume grows with the corpus, the rows crossing the
    // per-query shuffle must not.
    val p = plan("v24_knn_graph_auto")
    assert(TopKSpec.partialLimitBelowExchange(p, "qid"),
      s"v24 lost its partial group limit below the qid exchange:\n$p")
  }

  test("canonical keep (d07) selects per-cluster winners with a hash " +
      "aggregate, never a per-cluster window") {
    // Near-dup clusters are usually tiny, but a boilerplate family at
    // 100 TB is the one that isn't — the winner must come from the
    // min(struct) keeper shape, not first().over(Window).
    val p = plan("d07_canonical_keep")
    assert(!p.contains("Window"),
      s"canonicalKeep fell back to a window:\n$p")
    assert(p.contains("HashAggregate"),
      s"canonicalKeep keeper must be a hash aggregate:\n$p")
  }

  test("takedown survivor derivations (packedSet / packedFullSet / " +
      "exactFresh) are window-free min-id keepers") {
    // These run over the FULL persisted meta table on the delete/repack
    // path — exactly where a mega-dup fingerprint would serialize a
    // window sort task. Pin the plans directly on synthetic frames.
    import org.apache.spark.sql.functions._
    val meta = spark.range(100).select(col("id").as("doc_id"),
      (col("id") % 7).cast("string").as("fingerprint"),
      array(col("id").cast("int")).as("toks"),
      lit("b0").as("batch_id"), lit(0).as("epoch"))
    val pairs = spark.range(3).select(lit(0L).as("doc_a"),
      (col("id") + 50).as("doc_b"))
    val ps = CorpusPipeline.packedSet(meta, pairs)
      .queryExecution.executedPlan.toString
    assert(!ps.contains("Window"),
      s"packedSet fell back to a window:\n$ps")
    assert(ps.contains("HashAggregate"),
      s"packedSet keeper must be a hash aggregate:\n$ps")
    // exactFresh = history anti-join + the same fingerprintWinners
    // keeper; audit the keeper directly (the anti-join needs persisted
    // state the suite does not build).
    val ef = CorpusPipeline.fingerprintWinners(meta, "doc_id")
      .queryExecution.executedPlan.toString
    assert(!ef.contains("Window"),
      s"fingerprintWinners fell back to a window:\n$ef")
    assert(ef.contains("HashAggregate"),
      s"fingerprintWinners keeper must be a hash aggregate:\n$ef")
  }
}
