package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.{Caches, Checkpoints}

/** Link-graph analytics over a crawled corpus — the crawl-side ranking
  * signals (CommonCrawl publishes exactly these: PageRank/harmonic
  * centrality over the host graph drive crawl prioritization and
  * per-domain quality priors).
  *
  * Scale design: one iteration is one equi-join of the edge list with
  * the current rank vector plus one hash aggregate on the destination —
  * the textbook message-passing round, embarrassingly parallel, state
  * strictly (nodes + edges)-sized. Iterations chain through
  * [[Checkpoints.truncate]] (the d05 lineage-truncation pattern) so the
  * plan never re-embeds the whole upstream tree per round.
  *
  * Float discipline (the t23 contract): per-edge contributions are
  * `round(r / outdeg, 12)` cast to DECIMAL(28,12) and SUMMED EXACTLY —
  * order-independent, so 32 partitions and one DuckDB scan agree — and
  * each round's new rank re-rounds at 12dp; only IEEE-identical scalar
  * expressions (`0.15/N + 0.85·s`) run as double on both engines.
  */
object Graph {

  /** PageRank with damping 0.85, `iters` synchronous rounds from the
    * uniform vector. `nodes(id)` fixes the vertex set; dangling nodes
    * (no out-edges — every real crawl host graph has them) are handled
    * by the standard mass redistribution: each round their aggregate
    * rank D re-enters every node uniformly as `d·D/N` alongside the
    * per-edge contributions, so probability mass conserves instead of
    * silently leaking out of the distribution. D is an exact decimal
    * sum (order-independent) costing one 1-row aggregate per round;
    * when the graph has no dangling nodes D = 0 exactly and every rank
    * is bit-identical to the redistribution-free formula. Returns
    * (id, pagerank) at the 6dp output contract. */
  def pageRank(nodes: DataFrame, edges: DataFrame, iters: Int)
      : DataFrame = {
    val n = nodes.count().toDouble
    val start = nodes.select(col("id"),
      round(lit(1.0) / lit(n), 12).as("r"))
    pageRankFrom(nodes, edges, start, iters)
      .select(col("id"), round(col("r"), 6).as("pagerank"))
  }

  /** The iteration core of [[pageRank]], warm-startable: run `iters`
    * synchronous rounds from a GIVEN `start(id, r)` vector instead of
    * the uniform one, returning the internal 12dp vector (callers
    * round to the 6dp output contract). This is what makes PageRank
    * incrementally maintainable ([[LinkGraphStore]]): after an edge
    * append, re-converging from the persisted prior vector reaches the
    * new fixed point in fewer rounds than a cold uniform start — the
    * teleport term makes the iteration a contraction, so ANY start
    * converges, and a start near the old fixed point is already near
    * the new one when the append is a small fraction of the graph. */
  def pageRankFrom(nodes: DataFrame, edges: DataFrame,
      start: DataFrame, iters: Int): DataFrame =
    // Parallel edges fold into a weight up front: w identical rounded
    // contributions sum to exactly w × the value (decimal × integer is
    // exact), so the weighted loop is bit-identical to the per-row
    // formulation — and (src, dst)-unique rows are what the persisted
    // edge store needs for replay-safe compaction (g11). TRUNCATED:
    // the fold is static across rounds, and an un-pinned frame re-pays
    // the grouping aggregate every round (stored edges arrive already
    // folded off parquet and skip this path entirely).
    pageRankWeighted(nodes,
      Checkpoints.truncate(edges.groupBy(col("src"), col("dst"))
        .agg(count(lit(1)).as("w"))), start, iters)

  /** [[pageRankFrom]] over WEIGHTED edges (src, dst, w) — w parallel
    * links between the same pair: out-degree is Σw and each edge row
    * contributes w·round(r/outdeg, 12), summed as exact decimals. */
  def pageRankWeighted(nodes: DataFrame, edges: DataFrame,
      start: DataFrame, iters: Int): DataFrame = {
    // Bounded driver scalar: the vertex count (one long) — the same
    // move the oracle's COUNT(*) scalar subquery makes.
    val n = nodes.count().toDouble
    // Out-degrees are static across rounds; un-pinned, every round's
    // contrib plan re-paid this aggregate (nodes-sized frame — cheap to
    // pin at any scale).
    val outdeg = Checkpoints.truncate(edges.groupBy(col("src"))
      .agg(sum(col("w")).as("outdeg")))
    // The dangling SET is static across rounds (a node's out-degree
    // never changes) — it rides the rank frame as a boolean column (the
    // personalizedPageRank is_seed trick), so each round's dangling-mass
    // aggregate is a FILTER over the vector instead of a nodes-sized
    // semi-join: one join (and at scale one nodes-sized shuffle) fewer
    // per round. `tagged` replaces `nodes` in the per-round reassembly
    // join, re-attaching the flag for free.
    val tagged = Checkpoints.truncate(
      nodes.join(outdeg.select(col("src").as("id"))
          .withColumn("__d", lit(false)), Seq("id"), "left")
        .select(col("id"), coalesce(col("__d"), lit(true)).as("__dang")))
    var r = tagged.join(start.select(col("id"), col("r")), Seq("id"))
      .select(col("id"), col("r"), col("__dang"))
    for (_ <- 1 to iters) {
      val prev = r
      // D = Σ r over dangling nodes, summed EXACTLY as decimals (the
      // t23 contract: order-independent, so 32 partitions and one
      // DuckDB scan agree to the bit). One row; broadcast below.
      val dmass = r.filter(col("__dang"))
        .agg(coalesce(sum(col("r").cast("decimal(28,12)")),
          lit(0).cast("decimal(38,12)")).as("dm"))
      val contrib = edges
        .join(r.withColumnRenamed("id", "src"), "src")
        .join(outdeg, "src")
        .select(col("dst"),
          // Operand types sized so the product keeps full 12dp scale
          // with NO precision-loss fallback: decimal(28,12) × long
          // would exceed Spark's 38-digit cap and silently shed scale
          // to 6. The value is in [0,1] at 12dp (fits 18,12); w ≤
          // 1e10-1 parallel links per pair fits decimal(10,0) (product
          // precision 29 ≤ 38). The cap is ENFORCED, not assumed: a
          // wider w raises instead of the non-ANSI cast's silent NULL
          // (which would drop the edge's whole contribution from the
          // rank sum).
          (round(col("r") / col("outdeg").cast("double"), 12)
            .cast("decimal(18,12)") *
            when(col("w") < lit(10000000000L),
              col("w").cast("decimal(10,0)"))
              .otherwise(raise_error(concat(
                lit("pageRankWeighted: edge weight exceeds the "),
                lit("decimal(10,0) cap: "), col("w").cast("string")))
                .cast("decimal(10,0)")))
            .as("c"))
      val sums = contrib.groupBy(col("dst")).agg(sum(col("c")).as("s"))
      r = Checkpoints.truncate(
        tagged.join(sums.withColumnRenamed("dst", "id"), Seq("id"), "left")
          .crossJoin(broadcast(dmass))
          .select(col("id"),
            round(lit(0.15) / lit(n) + lit(0.85) *
              (coalesce(col("s").cast("double"), lit(0.0)) +
                round(col("dm").cast("double") / lit(n), 12)),
              12).as("r"), col("__dang")))
      // Round k+1 is materialized (truncate is eager), so round k's
      // checkpoint blocks are dead — free them now rather than pinning
      // every round's vector until the gate boundary (guide §5).
      Caches.release(prev)
    }
    r.select(col("id"), col("r"))
  }

  /** Personalized PageRank — the TrustRank shape (Gyöngyi et al.,
    * VLDB 2004): the teleport distribution concentrates on a trusted
    * SEED set instead of the uniform vector, so rank flows outward from
    * the seeds and pages far from every seed decay geometrically — the
    * crawl-side trust / spam-demotion prior (seed = manually vetted
    * hosts; a low trust score on a high-PageRank host is the spam
    * signature). Same message-passing round, lineage truncation, and
    * float discipline as [[pageRank]]; the only changes are the start
    * vector (uniform over seeds) and the teleport term
    * `(1−d)·[id ∈ S]/|S|`, and seed membership rides the rank frame as
    * a boolean column — no extra join inside the loop, identical
    * per-round cost. `seeds(id)` must be a subset of `nodes(id)`. */
  def personalizedPageRank(nodes: DataFrame, edges: DataFrame,
      seeds: DataFrame, iters: Int): DataFrame = {
    // Bounded driver scalar: the seed count (one long), the same move
    // as pageRank's vertex count / the oracle's COUNT(*) subquery.
    val sCount = seeds.count().toDouble
    val tagged = Checkpoints.truncate(
      nodes.join(seeds.withColumn("is_seed", lit(true)),
          Seq("id"), "left")
        .select(col("id"),
          coalesce(col("is_seed"), lit(false)).as("is_seed")))
    // Static across rounds — pinned for the same reason as
    // [[pageRankWeighted]]'s outdeg.
    val outdeg = Checkpoints.truncate(edges.groupBy(col("src"))
      .agg(count(lit(1)).as("outdeg")))
    var r = tagged.select(col("id"), col("is_seed"),
      round(when(col("is_seed"), lit(1.0) / lit(sCount))
        .otherwise(lit(0.0)), 12).as("r"))
    for (_ <- 1 to iters) {
      val prev = r
      val contrib = edges
        .join(r.select(col("id").as("src"), col("r")), "src")
        .join(outdeg, "src")
        .select(col("dst"),
          round(col("r") / col("outdeg").cast("double"), 12)
            .cast("decimal(28,12)").as("c"))
      val sums = contrib.groupBy(col("dst")).agg(sum(col("c")).as("s"))
      r = Checkpoints.truncate(
        tagged.join(sums.withColumnRenamed("dst", "id"), Seq("id"), "left")
          .select(col("id"), col("is_seed"),
            round(when(col("is_seed"), lit(0.15) / lit(sCount))
                .otherwise(lit(0.0)) +
              lit(0.85) * coalesce(col("s").cast("double"), lit(0.0)),
              12).as("r")))
      Caches.release(prev)
    }
    r.select(col("id"), round(col("r"), 6).as("trustrank"))
  }

  /** HITS hubs & authorities (Kleinberg, JACM 1999) — the OTHER classic
    * link-analysis signal next to PageRank: a node is a good AUTHORITY
    * if good hubs point at it, a good HUB if it points at good
    * authorities. Each synchronous round is two message-passing
    * half-steps (in-edges for authorities, out-edges for hubs), each one
    * equi-join + one hash aggregate — the same (nodes + edges)-sized
    * state and lineage-truncation discipline as [[pageRank]].
    *
    * Normalization is L1 (divide by the vector sum), not the textbook
    * L2: the sum of 12dp decimals is EXACT and order-independent, so
    * both engines compute the identical normalizer, whereas an L2 norm
    * needs a sqrt over a sum of double squares — cross-engine bit
    * drift. L1 vs L2 only rescales the vectors; the RANKING is
    * identical, and the fixed point is the same principal eigenvector
    * direction. Per the t23 float discipline: raw scores are exact
    * decimal sums of the 12dp-rounded prior vector; the only double op
    * is the final `round(score/total, 12)` division, IEEE-identical on
    * both engines. */
  def hits(nodes: DataFrame, edges: DataFrame, iters: Int): DataFrame = {
    // iters = 0 would return a null authority frame; the degenerate
    // empty-edge graph has a ZERO normalizer (HITS is undefined — no
    // endorsement structure to rank), where both vectors come back all
    // zeros instead of all NULLs, documented below.
    require(iters >= 1, s"hits needs at least 1 round, got $iters")
    def normalized(raw: DataFrame, key: String, out: String): DataFrame = {
      val tot = raw.agg(sum(col("s")).as("tot"))
      Checkpoints.truncate(
        nodes.join(raw.withColumnRenamed(key, "id"), Seq("id"), "left")
          .crossJoin(broadcast(tot))
          .select(col("id"),
            when(col("tot").isNotNull,
              round(coalesce(col("s").cast("double"), lit(0.0)) /
                col("tot").cast("double"), 12))
              .otherwise(lit(0.0)).as(out)))
    }
    val n = nodes.count().toDouble
    var h = nodes.select(col("id"),
      round(lit(1.0) / lit(n), 12).as("h"))
    var a: DataFrame = null
    for (_ <- 1 to iters) {
      val hPrev = h
      val aPrev = a
      val aRaw = edges.join(h.withColumnRenamed("id", "src"), "src")
        .select(col("dst"), col("h").cast("decimal(28,12)").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      a = normalized(aRaw, "dst", "a")
      // The prior round's vectors are dead once their successors are
      // materialized (truncate is eager) — free their blocks per round.
      if (aPrev != null) Caches.release(aPrev)
      val hRaw = edges.join(a.withColumnRenamed("id", "dst"), "dst")
        .select(col("src"), col("a").cast("decimal(28,12)").as("c"))
        .groupBy(col("src")).agg(sum(col("c")).as("s"))
      h = normalized(hRaw, "src", "h")
      Caches.release(hPrev)
    }
    h.join(a, Seq("id"))
      .select(col("id"), round(col("h"), 6).as("hub"),
        round(col("a"), 6).as("authority"))
  }

  /** Connected components over an undirected view of `edges` — the
    * d05 min-label propagation generalized to an arbitrary edge list
    * (d05 runs it on the near-dup pair graph; this runs it on any link
    * graph). Each round is one edge⋈label join + a min aggregate,
    * lineage truncated per round ([[Checkpoints.truncate]] — a plain
    * cache re-plans the whole upstream tree every round); rounds are
    * bounded by component DIAMETER, so callers hand this operator
    * low-diameter graphs (stars, banded-dup graphs) — a long-chain
    * graph wants the pointer-jumping variant, a different operator.
    * Isolated nodes label themselves via the final left join and never
    * enter a propagation round. */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
      maxIter: Int = 15): DataFrame = {
    val und = Checkpoints.truncate(
      edges.select(col("src").as("a"), col("dst").as("b"))
        .union(edges.select(col("dst").as("a"), col("src").as("b")))
        .distinct())
    val start = und.select(col("a").as("id")).distinct()
      .withColumn("label", col("id"))
    val labels = minLabelFixpoint(start, und, maxIter)
    nodes.join(labels, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("label"), col("id")).as("component"))
  }

  /** The min-label propagation loop of [[connectedComponents]],
    * warm-startable: converge from a GIVEN `start(id, label)` over the
    * undirected edge list `und(a, b)`. The fixed point is min over
    * each component of the START labels — so any start where each
    * node's label is the min id of a SUBSET of its own component
    * containing that node (a previous assignment on fewer edges, id
    * itself) converges to exactly the cold answer: the component's
    * true min-id node starts at its own id. What the warm start buys
    * is ROUNDS: re-convergence after an edge append is bounded by the
    * merge chain's length (how many old components the new edges
    * string together), not the full component diameter — the
    * [[LinkGraphStore]] incremental-components contract. Nodes in
    * `start` but absent from `und` keep their start label. */
  private[operators] def minLabelFixpoint(start: DataFrame,
      und: DataFrame, maxIter: Int): DataFrame = {
    var labels = Checkpoints.truncate(
      start.select(col("id"), col("label")))
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val viaEdges = und.join(labels, und("a") === labels("id"))
        .select(col("b").as("id"), col("label"))
      val next = Checkpoints.truncate(
        labels.select(col("id"), col("label")).union(viaEdges)
          .groupBy(col("id")).agg(min(col("label")).as("label")))
      converged = next
        .join(labels.withColumnRenamed("label", "prev"), "id")
        .filter(col("label") =!= col("prev"))
        .limit(1).isEmpty
      // The convergence check was this round's last read of the prior
      // labels — free their checkpoint blocks before the next round.
      Caches.release(labels)
      labels = next
      iter += 1
    }
    // Fail-loud contract: exhausting the round budget means the labels
    // are PARTIALLY propagated — returning them would be a wrong
    // answer, not a degraded one. A graph whose component diameter
    // exceeds the budget wants a larger maxIter or the pointer-jumping
    // variant, and must say so instead of silently mislabeling.
    require(converged,
      s"connectedComponents did not converge in $maxIter rounds — " +
        "component diameter exceeds the iteration budget")
    labels
  }

  /** [[connectedComponents]] re-converged from a prior assignment:
    * `start(id, label)` must cover every node (the persisted
    * checkpoint does) with labels from a previous fixed point over a
    * SUBSET of `edges` — see [[minLabelFixpoint]] for why that start
    * reaches the cold answer in merge-chain-bounded rounds. */
  def connectedComponentsFrom(start: DataFrame, edges: DataFrame,
      maxIter: Int = 15): DataFrame = {
    val und = Checkpoints.truncate(
      edges.select(col("src").as("a"), col("dst").as("b"))
        .union(edges.select(col("dst").as("a"), col("src").as("b")))
        .distinct())
    minLabelFixpoint(start, und, maxIter)
      .select(col("id"), col("label").as("component"))
  }

  /** Label-propagation communities (Raghavan et al., Phys. Rev. E 2007)
    * over the undirected view of `edges` — the cheap community detector
    * behind host clustering and near-dup group coarsening. Each
    * SYNCHRONOUS round every node adopts the most frequent label among
    * its neighbors (ties → smallest label; isolated nodes keep their
    * own), for a FIXED `iters` rounds: the asynchronous variant is
    * order-dependent (non-reproducible across partitionings — useless
    * when a DuckDB oracle must replay it), while synchronous rounds
    * with a total tie-break order make every round a pure function of
    * the previous labeling, bit-reproducible on any cluster layout.
    * Fixed rounds rather than convergence detection because synchronous
    * LPA can 2-cycle on bipartite structures — a convergence loop would
    * hang exactly where the textbook says it oscillates.
    *
    * Per round: one edge⋈label join + one (node, label) count aggregate
    * + one per-node argmax via `min(struct(-cnt, label))` — two hash
    * aggregates, state (nodes + edges)-sized, lineage truncated. */
  def labelPropagation(nodes: DataFrame, edges: DataFrame,
      iters: Int): DataFrame =
    labelPropagationFrom(
      nodes.select(col("id"), col("id").as("label")), edges, iters)

  /** [[labelPropagation]] initialized from an EXISTING labeling
    * rather than the identity — the warm-restart primitive behind the
    * persisted community store ([[LinkGraphStore.appendAndPropagate]]).
    * Unlike min-label components, LPA's fixed point DEPENDS on the
    * start, so warm is not cold: the contract is the warm history
    * itself — k rounds from the stored assignment over the current
    * edge union — which an oracle replays exactly because every round
    * is a pure function of the previous labeling (the synchronous /
    * total-tie-break argument above). The node universe is `start`'s
    * key set: nodes with no surviving neighbors keep their label. */
  def labelPropagationFrom(start: DataFrame, edges: DataFrame,
      iters: Int): DataFrame = {
    val und = Checkpoints.truncate(
      edges.select(col("src").as("a"), col("dst").as("b"))
        .union(edges.select(col("dst").as("a"), col("src").as("b")))
        .filter(col("a") =!= col("b"))
        .distinct())
    var labels = start.select(col("id"), col("label"))
    for (_ <- 1 to iters) {
      val prev = labels
      val freq = und.join(labels.withColumnRenamed("id", "a"), "a")
        .groupBy(col("b").as("id"), col("label"))
        .agg(count(lit(1)).as("cnt"))
      val pick = freq.groupBy(col("id"))
        .agg(min(struct((-col("cnt")).as("neg"), col("label")))
          .as("best"))
      labels = Checkpoints.truncate(
        labels.join(pick, Seq("id"), "left")
          .select(col("id"),
            coalesce(col("best").getField("label"), col("label"))
              .as("label")))
      // Dead once the successor is materialized (round 1's prev is the
      // caller's start frame — a plain projection, release no-ops).
      Caches.release(prev)
    }
    labels.select(col("id"), col("label").as("community"))
  }

  /** Bounded-radius harmonic centrality — the OTHER published crawl
    * ranking signal (CommonCrawl ranks hosts by harmonic centrality
    * over in-paths; see the file header): H_r(v) = Σ_{u ≠ v, d(u,v) ≤ r}
    * 1/d(u,v) at r = 2, over IN-edges (who can reach me, not whom I
    * reach — the prestige direction). The radius-2 truncation is what
    * makes the measure computable at 100 TB: exact all-pairs harmonic
    * needs a full APSP; the 2-ball needs one middle-vertex equi-join,
    * pair-level distinct (path multiplicity dedups away, the
    * [[twoHopReach]] argument), and an anti-join to keep only
    * distance-EXACTLY-2 pairs. Scores are half-integers — `n1 + n2/2`
    * computed as `(2·n1 + n2)/2.0`, exactly representable in double on
    * every engine, so the oracle is exact (g07). */
  def harmonicCentrality2(nodes: DataFrame, edges: DataFrame)
      : DataFrame = {
    val in1 = edges.select(col("dst").as("id"), col("src").as("u"))
      .filter(col("u") =!= col("id")).distinct()
    val in2 = edges.as("a")
      .join(edges.as("b"), col("a.dst") === col("b.src"))
      .select(col("b.dst").as("id"), col("a.src").as("u"))
      .filter(col("u") =!= col("id")).distinct()
      .join(in1, Seq("id", "u"), "left_anti")
    val h1 = in1.groupBy(col("id")).agg(count(lit(1)).as("n1"))
    val h2 = in2.groupBy(col("id")).agg(count(lit(1)).as("n2"))
    nodes.join(h1, Seq("id"), "left").join(h2, Seq("id"), "left")
      .select(col("id"),
        ((coalesce(col("n1"), lit(0L)) * 2 +
          coalesce(col("n2"), lit(0L))).cast("double") / lit(2.0))
          .as("harmonic"))
  }

  /** Two-hop reach: |{v : dist(u,v) ≤ 2, v ≠ u}| per node — the
    * influence/coverage measure behind seed selection and crawl
    * frontier scoring. One edge self-join on the middle vertex, a
    * union with the 1-hop edges, and a distinct before the count (the
    * same pair can arrive down many paths — dedup on the (src, node)
    * PAIR keeps the state pair-set-sized, never path-sized; at 100 TB
    * path multiplicity, not reach, is what explodes). */
  def twoHopReach(edges: DataFrame, nodes: DataFrame): DataFrame = {
    val oneHop = edges.select(col("src"), col("dst"))
    val twoHop = oneHop.as("a")
      .join(oneHop.as("b"), col("a.dst") === col("b.src"))
      .select(col("a.src").as("src"), col("b.dst").as("dst"))
    val reach = oneHop.union(twoHop)
      .filter(col("src") =!= col("dst"))
      .distinct()
      .groupBy(col("src")).agg(count(lit(1)).as("reach2"))
    nodes.join(reach.withColumnRenamed("src", "id"), Seq("id"), "left")
      .select(col("id"), coalesce(col("reach2"), lit(0L)).as("reach2"))
  }
}
