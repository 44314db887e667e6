package graft.operators

import org.apache.spark.sql.functions._
import graft.core.{Q, QueryPack, Tables}

/** Similarity-search queries over `embeddings` (array<float>, 64-dim).
  * Cosine math runs in double on both engines with the same explicit
  * formula (dot / (‖a‖·‖b‖), sequential element-order folds), rounded to 6
  * decimals before any threshold/ranking so boundary behavior matches.
  */
object VectorQueries extends QueryPack {

  /** Shared oracle CTE block for the PQ family (v10/v11/v12): `e` (cast
    * vectors), `seed`/`pcb` (the first-16 sub-codebooks), `enc0`/`encp`
    * (deterministic per-subspace encode), `q` (the query set), `adc`
    * (left-associative ADC score per (query, non-self corpus) pair).
    * One definition — three gates; a drift between the engines' PQ
    * constructions shows up in ALL of them instead of silently in one. */
  private lazy val PqAdcCtes: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v
      |  FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) nrm FROM e),
      |""".stripMargin + PqAdcBody

  /** The seeded sub-codebooks alone (`seed` → `pcb`): the PQ family's
    * default; the v19 trained path swaps in [[pqTrainedCodebookCtes]]
    * and reuses [[PqEncodeAdc]] verbatim. */
  private val PqSeedCodebook: String =
    """seed AS (
      |  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 j, v
      |  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 16)),
      |pcb AS (
      |  SELECT sp, j, list_slice(v, sp * 16 + 1, sp * 16 + 16) c
      |  FROM seed, (SELECT unnest(range(0, 4)) sp))""".stripMargin

  /** Deterministic encode + ADC over whatever `pcb` is in scope. */
  private val PqEncodeAdc: String =
    """enc0 AS (
      |  SELECT e.vec_id, pcb.sp, pcb.j,
      |    ROW_NUMBER() OVER (PARTITION BY e.vec_id, pcb.sp ORDER BY
      |      ROUND(list_dot_product(
      |        list_slice(e.v, pcb.sp * 16 + 1, pcb.sp * 16 + 16),
      |        pcb.c), 6) DESC, pcb.j) rnk
      |  FROM e, pcb),
      |encp AS (
      |  SELECT vec_id,
      |    MAX(CASE WHEN sp = 0 THEN j END) c0,
      |    MAX(CASE WHEN sp = 1 THEN j END) c1,
      |    MAX(CASE WHEN sp = 2 THEN j END) c2,
      |    MAX(CASE WHEN sp = 3 THEN j END) c3
      |  FROM enc0 WHERE rnk = 1 GROUP BY vec_id),
      |q AS (SELECT vec_id qid, v qv FROM e WHERE vec_id < 5),
      |adc AS (
      |  SELECT q.qid, p.vec_id nid,
      |    ROUND(
      |      list_dot_product(list_slice(q.qv,  1, 16), cb0.c)
      |    + list_dot_product(list_slice(q.qv, 17, 32), cb1.c)
      |    + list_dot_product(list_slice(q.qv, 33, 48), cb2.c)
      |    + list_dot_product(list_slice(q.qv, 49, 64), cb3.c), 6)
      |      AS score
      |  FROM q, encp p
      |  JOIN pcb cb0 ON cb0.sp = 0 AND cb0.j = p.c0
      |  JOIN pcb cb1 ON cb1.sp = 1 AND cb1.j = p.c1
      |  JOIN pcb cb2 ON cb2.sp = 2 AND cb2.j = p.c2
      |  JOIN pcb cb3 ON cb3.sp = 3 AND cb3.j = p.c3
      |  WHERE p.vec_id <> q.qid)""".stripMargin

  /** [[PqAdcCtes]] minus its `e`/`n` prelude — composable after any CTE
    * chain that already defines them with the same shape (v18 appends
    * this to [[kmeansCtes]], whose `e`/`n` are identical). */
  private val PqAdcBody: String = PqSeedCodebook + ",\n" + PqEncodeAdc

  /** Unrolled per-subspace Lloyd training of the sub-codebooks (the
    * [[Similarity.trainedPqCenters]] loop in SQL, v19): each iteration
    * encodes every vector under the previous codebooks with the SAME
    * 6dp-rounded-dot argmax the encoder uses, then updates each
    * (subspace, code, dim) mean as an exact DECIMAL(38,18) sum cast to
    * double before one division, empty codes keeping their previous
    * center — ending in a `pcb` the downstream [[PqEncodeAdc]] consumes
    * unchanged. */
  private def pqTrainedCodebookCtes(iters: Int): String = {
    def enc(i: Int) =
      s"""penc$i AS (
         |  SELECT vec_id, sp, j FROM (
         |    SELECT e.vec_id, p.sp, p.j,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id, p.sp ORDER BY
         |        ROUND(list_dot_product(
         |          list_slice(e.v, p.sp * 16 + 1, p.sp * 16 + 16),
         |          p.c), 6) DESC, p.j) rnk
         |    FROM e, pcb${i - 1} p) WHERE rnk = 1)""".stripMargin
    def update(i: Int) =
      s"""pm$i AS (
         |  SELECT sp, j, dim,
         |    CAST(SUM(CAST(x AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*) m
         |  FROM (
         |    SELECT p.sp, p.j,
         |      generate_subscripts(
         |        list_slice(e.v, p.sp*16+1, p.sp*16+16), 1) dim,
         |      unnest(list_slice(e.v, p.sp*16+1, p.sp*16+16)) x
         |    FROM penc$i p JOIN e USING (vec_id))
         |  GROUP BY sp, j, dim),
         |pu$i AS (SELECT sp, j, list(m ORDER BY dim) c FROM pm$i
         |  GROUP BY sp, j),
         |pcb$i AS (
         |  SELECT p.sp, p.j, COALESCE(u.c, p.c) c
         |  FROM pcb${i - 1} p
         |  LEFT JOIN pu$i u ON u.sp = p.sp AND u.j = p.j)""".stripMargin
    val steps = (1 to iters).map(i => enc(i) + ",\n" + update(i))
    s"""${PqSeedCodebook.replace("pcb AS (", "pcb0 AS (")},
       |${steps.mkString(",\n")},
       |pcb AS (SELECT sp, j, c FROM pcb$iters)""".stripMargin
  }

  /** Full IVF-PQ oracle (coarse buckets + probes over [[PqAdcCtes]]'
    * ADC scores) — shared by v11 (one-shot in-query index) and v14
    * (persisted index built incrementally): the two engines' paths are
    * pinned to ONE recompute, so equality between them is transitive
    * through the oracle. */
  private val IvfCoarseTail: String = """,
    |cb AS (SELECT vec_id cid, v cv, nrm cn FROM n
    |  ORDER BY vec_id LIMIT 16),
    |casg AS (
    |  SELECT n.vec_id vid, cb.cid,
    |    ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
    |      ROUND(list_dot_product(n.v, cb.cv) / (n.nrm * cb.cn), 6)
    |        DESC, cb.cid) rnk
    |  FROM n, cb),
    |bucketed AS (SELECT vid, cid FROM casg WHERE rnk = 1),
    |qasg AS (
    |  SELECT n.vec_id qid, cb.cid,
    |    ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
    |      ROUND(list_dot_product(n.v, cb.cv) / (n.nrm * cb.cn), 6)
    |        DESC, cb.cid) rnk
    |  FROM n, cb WHERE n.vec_id < 5),
    |probes AS (SELECT qid, cid FROM qasg WHERE rnk <= 4),
    |-- ADC scores are bucket-independent, so IVF-PQ = the shared
    |-- adc pairs RESTRICTED to (query, corpus) sharing a probed
    |-- coarse bucket.
    |scored AS (
    |  SELECT a.qid, a.nid, a.score
    |  FROM adc a
    |  JOIN bucketed b ON b.vid = a.nid
    |  JOIN probes p ON p.qid = a.qid AND p.cid = b.cid),
    |ranked AS (
    |  SELECT qid, nid, score,
    |    ROW_NUMBER() OVER (PARTITION BY qid
    |      ORDER BY score DESC, nid) rn
    |  FROM scored)
    |SELECT qid, nid, score, rn FROM ranked WHERE rn <= 5
    |ORDER BY qid, rn""".stripMargin

  /** Shared by v11/v14/v15 here and st12's streamed serving twin. */
  private[graft] val IvfPqOracle: String = PqAdcCtes + IvfCoarseTail

  /** The v19 oracle: the IVF-PQ recompute with the sub-codebooks
    * TRAINED (3 unrolled per-subspace Lloyd steps) instead of seeded;
    * coarse buckets stay seeded, isolating the PQ-training delta. */
  private lazy val TrainedPqOracle: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v
      |  FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) nrm FROM e),
      |""".stripMargin +
      pqTrainedCodebookCtes(3) + ",\n" + PqEncodeAdc + IvfCoarseTail

  /** The v01 oracle (exact brute-force top-k, full 64 dims) — also the
    * `exact` reference ranking inside [[RecallReportOracle]]. */
  private val BruteOracle: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v
      |  FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) nrm FROM e),
      |pairs AS (
      |  SELECT q.vec_id qid, c.vec_id nid,
      |    ROUND(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 6) sim
      |  FROM n q JOIN n c ON q.vec_id < 5 AND c.vec_id <> q.vec_id),
      |ranked AS (
      |  SELECT qid, nid, sim,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) rn
      |  FROM pairs)
      |SELECT qid, nid, sim, rn FROM ranked WHERE rn <= 5
      |ORDER BY qid, rn""".stripMargin

  /** The v08 oracle (symmetric int8 max-abs quantization; int dots are
    * exact in double in any fold order). */
  private val Int8Oracle: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v
      |  FROM embeddings),
      |m AS (SELECT vec_id, v,
      |  list_max(list_transform(v, x -> abs(x))) mx FROM e),
      |q AS (SELECT vec_id, list_transform(v,
      |    x -> round(x * (CASE WHEN mx > 0 THEN 127.0 / mx
      |                        ELSE 1.0 END))) qv
      |  FROM m),
      |n AS (SELECT vec_id, qv, sqrt(list_dot_product(qv, qv)) qn
      |  FROM q),
      |pairs AS (
      |  SELECT a.vec_id qid, c.vec_id nid,
      |    ROUND(list_dot_product(a.qv, c.qv) / (a.qn * c.qn), 6) sim
      |  FROM n a JOIN n c ON a.vec_id < 5 AND c.vec_id <> a.vec_id),
      |ranked AS (
      |  SELECT qid, nid, sim,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) rn
      |  FROM pairs)
      |SELECT qid, nid, sim, rn FROM ranked WHERE rn <= 5
      |ORDER BY qid, rn""".stripMargin

  /** The v04 oracle (seeded IVF, nlist=16, nprobe=4). */
  private val IvfSeededOracle: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v
      |  FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) nrm FROM e),
      |cb AS (SELECT vec_id cid, v cv, nrm cn FROM n
      |  ORDER BY vec_id LIMIT 16),
      |casg AS (
      |  SELECT n.vec_id vid, n.v, n.nrm, cb.cid,
      |    ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
      |      ROUND(list_dot_product(n.v, cb.cv) / (n.nrm * cb.cn), 6)
      |        DESC, cb.cid) rnk
      |  FROM n, cb),
      |bucketed AS (SELECT vid, v, nrm, cid FROM casg WHERE rnk = 1),
      |qasg AS (
      |  SELECT n.vec_id qid, n.v qv, n.nrm qn, cb.cid,
      |    ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
      |      ROUND(list_dot_product(n.v, cb.cv) / (n.nrm * cb.cn), 6)
      |        DESC, cb.cid) rnk
      |  FROM n, cb WHERE n.vec_id < 5),
      |probes AS (SELECT qid, qv, qn, cid FROM qasg WHERE rnk <= 4),
      |scored AS (
      |  SELECT p.qid, b.vid nid,
      |    ROUND(list_dot_product(p.qv, b.v) / (p.qn * b.nrm), 6) sim
      |  FROM bucketed b JOIN probes p USING (cid)
      |  WHERE b.vid <> p.qid),
      |ranked AS (
      |  SELECT qid, nid, sim,
      |    ROW_NUMBER() OVER (PARTITION BY qid
      |      ORDER BY sim DESC, nid) rn
      |  FROM scored)
      |SELECT qid, nid, sim, rn FROM ranked WHERE rn <= 5
      |ORDER BY qid, rn""".stripMargin

  /** The v10 oracle (flat PQ/ADC ranking over [[PqAdcCtes]]). */
  private lazy val PqOracle: String = PqAdcCtes + """,
    |ranked AS (
    |  SELECT qid, nid, score,
    |    ROW_NUMBER() OVER (PARTITION BY qid
    |      ORDER BY score DESC, nid) rn
    |  FROM adc)
    |SELECT qid, nid, score, rn FROM ranked WHERE rn <= 5
    |ORDER BY qid, rn""".stripMargin

  /** The v13 oracle (1-bit sign quantization + Hamming ranking). */
  private val BinaryOracle: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v
      |  FROM embeddings),
      |q AS (SELECT vec_id qid, v qv FROM e WHERE vec_id < 5),
      |scored AS (
      |  SELECT q.qid, c.vec_id nid,
      |    len(list_filter(range(1, 65),
      |      i -> (q.qv[CAST(i AS INT)] > 0.0)
      |        <> (c.v[CAST(i AS INT)] > 0.0))) AS hamming
      |  FROM q, e c WHERE c.vec_id <> q.qid),
      |ranked AS (
      |  SELECT qid, nid, CAST(hamming AS BIGINT) AS hamming,
      |    ROW_NUMBER() OVER (PARTITION BY qid
      |      ORDER BY hamming, nid) rn
      |  FROM scored)
      |SELECT qid, nid, hamming, rn FROM ranked WHERE rn <= 5
      |ORDER BY qid, rn""".stripMargin

  /** The v20 oracle (Hamming nomination at depth 25 → exact re-rank). */
  private val BinaryRerankOracle: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v
      |  FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) nrm
      |  FROM e),
      |q AS (SELECT vec_id qid, v qv FROM e WHERE vec_id < 5),
      |scored AS (
      |  SELECT q.qid, c.vec_id nid,
      |    len(list_filter(range(1, 65),
      |      i -> (q.qv[CAST(i AS INT)] > 0.0)
      |        <> (c.v[CAST(i AS INT)] > 0.0))) AS hamming
      |  FROM q, e c WHERE c.vec_id <> q.qid),
      |cand AS (
      |  SELECT qid, nid FROM (
      |    SELECT qid, nid,
      |      ROW_NUMBER() OVER (PARTITION BY qid
      |        ORDER BY hamming, nid) crn
      |    FROM scored) WHERE crn <= 25),
      |rr AS (
      |  SELECT c.qid, c.nid,
      |    ROUND(list_dot_product(nq.v, nc.v) / (nq.nrm * nc.nrm), 6)
      |      AS sim
      |  FROM cand c
      |  JOIN n nq ON nq.vec_id = c.qid
      |  JOIN n nc ON nc.vec_id = c.nid),
      |ranked AS (
      |  SELECT qid, nid, sim,
      |    ROW_NUMBER() OVER (PARTITION BY qid
      |      ORDER BY sim DESC, nid) rn
      |  FROM rr)
      |SELECT qid, nid, sim, rn FROM ranked WHERE rn <= 5
      |ORDER BY qid, rn""".stripMargin

  /** The v05 oracle: [[graft.functions.HyperplaneSig]] replayed in SQL
    * (md5-parity signs × ⌊v_j·10¹²+0.5⌋ integer components — every op
    * cross-engine exact, see the expression's Scaladoc), banded into
    * lshTopK's default (band, bucket) keys (bits=32, bands=8 → r=4),
    * candidate equi-join, then the shared exact rounded-cosine top-k.
    * `j0` is the 0-based component index the Scala sign table uses;
    * `generate_subscripts` is 1-based, hence the -1. */
  private lazy val LshTopKOracle: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v
      |  FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) nrm FROM e),
      |comps AS (
      |  SELECT vec_id, i, generate_subscripts(v, 1) - 1 j0,
      |    CAST(floor(unnest(v) * 1e12 + 0.5) AS BIGINT) q
      |  FROM e, (SELECT unnest(range(0, 32)) i)),
      |sigbits AS (
      |  SELECT vec_id, i,
      |    CASE WHEN SUM(CASE WHEN substr(md5(CAST(i AS VARCHAR) || ':' ||
      |          CAST(j0 AS VARCHAR)), 1, 1)
      |          IN ('1','3','5','7','9','b','d','f')
      |        THEN q ELSE -q END) > 0
      |      THEN CAST(1 AS BIGINT) << i ELSE CAST(0 AS BIGINT) END b
      |  FROM comps GROUP BY vec_id, i),
      |sig AS (SELECT vec_id, CAST(SUM(b) AS BIGINT) sig FROM sigbits
      |  GROUP BY vec_id),
      |banded AS (
      |  SELECT s.vec_id vid, bd.band, (s.sig >> (bd.band * 4)) & 15 bucket
      |  FROM sig s, (SELECT unnest(range(0, 8)) band) bd),
      |cand AS (
      |  SELECT DISTINCT q.vid qid, c.vid nid
      |  FROM banded q JOIN banded c
      |    ON q.band = c.band AND q.bucket = c.bucket
      |  WHERE q.vid < 5 AND c.vid <> q.vid),
      |scored AS (
      |  SELECT cand.qid, cand.nid,
      |    ROUND(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) sim
      |  FROM cand JOIN n a ON a.vec_id = cand.qid
      |  JOIN n b ON b.vec_id = cand.nid),
      |ranked AS (
      |  SELECT qid, nid, sim,
      |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) rn
      |  FROM scored)
      |SELECT qid, nid, sim, rn FROM ranked WHERE rn <= 5
      |ORDER BY qid, rn""".stripMargin

  /** The IVF probe/rank tail over a trained codebook `cb3` — v17's
    * tail verbatim (3 Lloyd steps end in cb3; final assignment and
    * probes use the ROUNDED cosine like the seeded path). */
  private val TrainedIvfTail: String = """,
    |tcb AS (SELECT cid, cv, cn FROM cb3),
    |casg AS (
    |  SELECT n.vec_id vid, n.v, n.nrm, tcb.cid,
    |    ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
    |      ROUND(list_dot_product(n.v, tcb.cv)
    |        / (n.nrm * tcb.cn), 6) DESC, tcb.cid) rnk
    |  FROM n, tcb),
    |bucketed AS (SELECT vid, v, nrm, cid FROM casg WHERE rnk = 1),
    |qasg AS (
    |  SELECT n.vec_id qid, n.v qv, n.nrm qn, tcb.cid,
    |    ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
    |      ROUND(list_dot_product(n.v, tcb.cv)
    |        / (n.nrm * tcb.cn), 6) DESC, tcb.cid) rnk
    |  FROM n, tcb WHERE n.vec_id < 5),
    |probes AS (SELECT qid, qv, qn, cid FROM qasg WHERE rnk <= 4),
    |scored AS (
    |  SELECT p.qid, b.vid nid,
    |    ROUND(list_dot_product(p.qv, b.v) / (p.qn * b.nrm), 6) sim
    |  FROM bucketed b JOIN probes p USING (cid)
    |  WHERE b.vid <> p.qid),
    |ranked AS (
    |  SELECT qid, nid, sim,
    |    ROW_NUMBER() OVER (PARTITION BY qid
    |      ORDER BY sim DESC, nid) rn
    |  FROM scored)
    |SELECT qid, nid, sim, rn FROM ranked WHERE rn <= 5
    |ORDER BY qid, rn""".stripMargin

  /** `ivfTopK(trainIters = 3)` at its DEFAULTS (nlist=16, nprobe=4):
    * the v07 `ivf_trained` arm. v17 gates the same path at nlist=10;
    * the telemetry arm runs the default config, so its oracle trains
    * k=16 on the full corpus and reuses the v17 probe tail. */
  private lazy val IvfTrainedDefaultOracle: String =
    kmeansCtes(k = 16, iters = 3) + TrainedIvfTail

  /** `ivfPqTopK(trainIters = 3)` at its defaults: trained COARSE
    * codebook (k=16, full corpus), seeded PQ sub-codebooks — v18's
    * oracle shape with `trainPred = TRUE`; the v07 `ivfpq_trained`
    * arm. */
  private lazy val IvfPqCoarseTrainedOracle: String =
    s"""${kmeansCtes(k = 16, iters = 3)},
       |$PqAdcBody,
       |tcb AS (SELECT cid, cv, cn FROM cb3),
       |casg AS (
       |  SELECT n.vec_id vid, tcb.cid,
       |    ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
       |      ROUND(list_dot_product(n.v, tcb.cv)
       |        / (n.nrm * tcb.cn), 6) DESC, tcb.cid) rnk
       |  FROM n, tcb),
       |bucketed AS (SELECT vid, cid FROM casg WHERE rnk = 1),
       |qasg AS (
       |  SELECT n.vec_id qid, tcb.cid,
       |    ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
       |      ROUND(list_dot_product(n.v, tcb.cv)
       |        / (n.nrm * tcb.cn), 6) DESC, tcb.cid) rnk
       |  FROM n, tcb WHERE n.vec_id < 5),
       |probes AS (SELECT qid, cid FROM qasg WHERE rnk <= 4),
       |scored AS (
       |  SELECT a.qid, a.nid, a.score
       |  FROM adc a
       |  JOIN bucketed b ON b.vid = a.nid
       |  JOIN probes p ON p.qid = a.qid AND p.cid = b.cid),
       |ranked AS (
       |  SELECT qid, nid, score,
       |    ROW_NUMBER() OVER (PARTITION BY qid
       |      ORDER BY score DESC, nid) rn
       |  FROM scored)
       |SELECT qid, nid, score, rn FROM ranked WHERE rn <= 5
       |ORDER BY qid, rn""".stripMargin

  /** One arm of [[RecallReportOracle]]: the arm's full gate oracle as
    * an independent nested-WITH subquery (no CTE-name collisions
    * between arms), projected to its (method, qid, nid) hit set. */
  private def armSq(method: String, sql: String): String = {
    val body = sql.linesIterator.map("    " + _).mkString("\n")
    s"""a_$method AS (
       |  SELECT '$method' AS method, qid, nid FROM (
       |$body
       |  ) t_$method)""".stripMargin
  }

  /** The v07 oracle: every [[Similarity.recallReport]] arm recomputed
    * as its own nested-WITH subquery — nine arms reuse the per-arm
    * gate oracles VERBATIM (v04/v05/v08/v10/v11/v13/v19/v20 + brute
    * v01 as the exact reference), the two trained-at-defaults arms get
    * their own CTE chains above — then the same left-join recall
    * arithmetic the Spark side runs: hits = |approx ∩ exact| per
    * method, recall = hits / n_exact rounded to 4dp as a double. */
  private lazy val RecallReportOracle: String = {
    val arms = Seq(
      "int8" -> Int8Oracle,
      "ivf" -> IvfSeededOracle,
      "ivf_trained" -> IvfTrainedDefaultOracle,
      "ivfpq" -> IvfPqOracle,
      "ivfpq_trained" -> IvfPqCoarseTrainedOracle,
      "ivfpq_pqtrained" -> TrainedPqOracle,
      "lsh" -> LshTopKOracle,
      "pq" -> PqOracle,
      "binary" -> BinaryOracle,
      "binary_rerank" -> BinaryRerankOracle)
    val exactBody = BruteOracle.linesIterator.map("    " + _).mkString("\n")
    s"""WITH exact AS (
       |  SELECT qid, nid FROM (
       |$exactBody
       |  ) t_exact),
       |${arms.map { case (m, sql) => armSq(m, sql) }.mkString(",\n")},
       |arms AS (
       |  ${arms.map { case (m, _) => s"SELECT * FROM a_$m" }
             .mkString("\n  UNION ALL ")}),
       |joined AS (
       |  SELECT m.method, e.qid, e.nid,
       |    CASE WHEN a.nid IS NOT NULL THEN 1 ELSE 0 END hit
       |  FROM (SELECT DISTINCT method FROM arms) m
       |  CROSS JOIN exact e
       |  LEFT JOIN arms a
       |    ON a.method = m.method AND a.qid = e.qid AND a.nid = e.nid)
       |SELECT method, 5 AS k,
       |  COUNT(DISTINCT qid) AS n_queries,
       |  COUNT(*) AS n_exact,
       |  CAST(SUM(hit) AS BIGINT) AS hits,
       |  ROUND(CAST(SUM(hit) AS DOUBLE) / COUNT(*), 4) AS recall_at_k
       |FROM joined GROUP BY method ORDER BY method""".stripMargin
  }

  def queries: Seq[Q] = Seq(
    Q("v01_cosine_topk",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        Similarity.bruteForceTopK(
            emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 5)
          .orderBy(col("qid"), col("rn"))
      },
      Some(BruteOracle)),

    Q("v02_label_centroids",
      (s, dir) => {
        val ex = Tables(s, dir, "embeddings")
          .select(col("label"), posexplode(col("embedding")))
          .toDF("label", "dim", "val")
          .select(col("label"), col("dim"),
            // widen float→double explicitly before the decimal cast: both
            // engines then round the same double value; a direct
            // float→decimal cast rounds from the float's shortest decimal
            // representation in Spark but not in DuckDB.
            col("val").cast("double").cast("decimal(18,9)").as("val"))
        // The per-dim sums stay exact decimals inside the plan; the output
        // serializes them to one delimited string per label because the
        // driver's pandas compare cannot sort/hash array cells. Decimal
        // string form (full scale, `toPlainString`) is identical across
        // both engines.
        ex.groupBy(col("label"), col("dim"))
          .agg(sum(col("val")).as("s"), count(lit(1)).as("n"))
          .groupBy(col("label"))
          .agg(
            array_join(transform(
              array_sort(collect_list(struct(col("dim"), col("s")))),
              x => x.getField("s").cast("string")), "|").as("centroid_sum"),
            min(col("n")).as("n_vectors"))
          .orderBy(col("label"))
      },
      // The double→DECIMAL cast routes through VARCHAR (shortest-repr
      // alignment — see RelationalQueries doc).
      Some("""WITH ex AS (
             |  SELECT label, generate_subscripts(embedding, 1) dim,
             |    CAST(CAST(CAST(unnest(embedding) AS DOUBLE) AS VARCHAR) AS DECIMAL(18,9)) val
             |  FROM embeddings),
             |sums AS (
             |  SELECT label, dim, SUM(val) s, COUNT(*) n FROM ex GROUP BY 1, 2)
             |SELECT label, array_to_string(list(s ORDER BY dim), '|') centroid_sum,
             | MIN(n) n_vectors
             |FROM sums GROUP BY label ORDER BY label""".stripMargin)),

    Q("v03_embedding_near_dup",
      (s, dir) => Similarity
        .nearDupPairs(Tables(s, dir, "embeddings"), "vec_id", "embedding",
          threshold = 0.45)
        .orderBy(col("id_a"), col("id_b")),
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v
             |  FROM embeddings),
             |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) nrm FROM e)
             |SELECT a.vec_id id_a, b.vec_id id_b,
             |  ROUND(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) sim
             |FROM n a JOIN n b ON a.vec_id < b.vec_id
             |WHERE ROUND(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.45
             |ORDER BY id_a, id_b""".stripMargin)),

    // Int8-quantized cosine top-k (Similarity.quantizedTopK): symmetric
    // max-abs per-vector quantization, ranking directly on the codes
    // (scales cancel in the cosine). Unlike the float paths this has an
    // EXACT oracle: int8 dots are small integers, exact in double in any
    // fold order, so both engines compute identical similarities.
    Q("v08_quantized_topk",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        Similarity.quantizedTopK(
            emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 5)
          .orderBy(col("qid"), col("rn"))
      },
      Some(Int8Oracle)),

    // Matryoshka-style truncated search: rank on the first 16 of 64
    // dims (MRL embeddings put the most information in the prefix; for
    // a 100 TB index that is a 4× scan/memory cut before any
    // quantization). Same exact-arithmetic shape as v01 on the sliced
    // vectors, so the oracle is exact.
    Q("v09_matryoshka_topk",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
          .select(col("vec_id"), slice(col("embedding"), 1, 16)
            .as("embedding"))
        Similarity.bruteForceTopK(
            emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 5)
          .orderBy(col("qid"), col("rn"))
      },
      Some("""WITH e AS (SELECT vec_id,
             |  CAST(embedding[1:16] AS DOUBLE[]) v FROM embeddings),
             |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) nrm FROM e),
             |pairs AS (
             |  SELECT q.vec_id qid, c.vec_id nid,
             |    ROUND(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 6) sim
             |  FROM n q JOIN n c ON q.vec_id < 5 AND c.vec_id <> q.vec_id),
             |ranked AS (
             |  SELECT qid, nid, sim,
             |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, nid) rn
             |  FROM pairs)
             |SELECT qid, nid, sim, rn FROM ranked WHERE rn <= 5
             |ORDER BY qid, rn""".stripMargin)),

    // Approximate path (IVF buckets + nprobe) — but every step is
    // deterministic (codebook = first nlist vectors by id, rounded sims,
    // cid/nid tiebreaks), so the WHOLE index build + probe is
    // SQL-expressible: the oracle recomputes assignment → probes → top-k
    // exactly. ScalaTest additionally asserts recall ≥ 0.6 vs v01.
    Q("v04_ann_ivf",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        Similarity.ivfTopK(
            emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 5)
          .orderBy(col("qid"), col("rn"))
      },
      Some(IvfSeededOracle)),

    // LSH-bucketed ANN (random hyperplanes): the train-free scale path.
    // Approximate as a SEARCH strategy but every step is deterministic
    // and cross-engine exact since HyperplaneSig moved to md5-derived
    // signs over 12-dp integer-quantized components (the d25 move):
    // the oracle replays signature → banding → candidate equi-join →
    // exact rounded-cosine ranking bit-for-bit. ScalaTest additionally
    // asserts recall ≥ 0.6 vs v01 brute force.
    Q("v05_ann_lsh",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        Similarity.lshTopK(
            emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 5)
          .orderBy(col("qid"), col("rn"))
      },
      Some(LshTopKOracle)),

    // ANN quality telemetry (Similarity.recallReport): recall@k of every
    // approximate path vs the exact brute-force ranking over the same
    // queries — the nlist/nprobe/bands tuning surface, emitted per run
    // as a first-class query artifact. Every arm is deterministic and
    // SQL-expressible (the LSH arm since HyperplaneSig's md5 move), so
    // the WHOLE report hash-compares: the oracle recomputes all ten
    // arms' top-k sets and the recall arithmetic ([[RecallReportOracle]]).
    // AnnTelemetry tests additionally pin the field set, run-to-run
    // determinism, and the recall floors.
    Q("v07_ann_recall",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        Similarity.recallReport(
            emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 5)
          .orderBy(col("method"))
      },
      Some(RecallReportOracle)),

    // Product quantization (PQ/ADC): 4 subspaces × 16 codes, codebooks
    // seeded from the first 16 vectors — deterministic encode (rounded-
    // dot argmax, index ties) and left-associative ADC sum, so the whole
    // index + ranking is EXACTLY reproducible in SQL. The third point of
    // the ANN memory/recall space next to IVF (v04) and int8 (v08).
    Q("v10_pq_topk",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        Similarity.pqTopK(
            emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 5)
          .orderBy(col("qid"), col("rn"))
      },
      Some(PqOracle)),

    // 1-bit sign quantization + Hamming ranking (Similarity
    // .binarySignTopK) — the extreme quantization tier (64× cut): sign
    // disagreements are integer counts, so the coarse ranking is exactly
    // reproducible; ties (plentiful) break by nid in both engines.
    Q("v13_binary_sign_topk",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        Similarity.binarySignTopK(
            emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 5)
          .orderBy(col("qid"), col("rn"))
      },
      Some(BinaryOracle)),

    // Two-stage retrieval (Similarity.rerankTopK): PQ ADC nominates 25
    // candidates per query, ONLY those fetch raw vectors for an exact
    // rounded-cosine re-rank to top-5 — the candidate-gen + re-rank
    // pattern ANN serving ships. Oracle = v10's encode/ADC CTEs capped
    // at the candidate depth, joined back to the normalized vectors for
    // the exact re-rank.
    Q("v12_rerank_topk",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        Similarity.rerankTopK(
            emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding",
            k = 5, candidates = 25)
          .orderBy(col("qid"), col("rn"))
      },
      Some(PqAdcCtes + """,
             |cand AS (
             |  SELECT qid, nid FROM (
             |    SELECT qid, nid,
             |      ROW_NUMBER() OVER (PARTITION BY qid
             |        ORDER BY score DESC, nid) crn
             |    FROM adc) WHERE crn <= 25),
             |rr AS (
             |  SELECT c.qid, c.nid,
             |    ROUND(list_dot_product(nq.v, nc.v) / (nq.nrm * nc.nrm), 6)
             |      AS sim
             |  FROM cand c
             |  JOIN n nq ON nq.vec_id = c.qid
             |  JOIN n nc ON nc.vec_id = c.nid),
             |ranked AS (
             |  SELECT qid, nid, sim,
             |    ROW_NUMBER() OVER (PARTITION BY qid
             |      ORDER BY sim DESC, nid) rn
             |  FROM rr)
             |SELECT qid, nid, sim, rn FROM ranked WHERE rn <= 5
             |ORDER BY qid, rn""".stripMargin)),

    // Binary two-stage retrieval (Similarity.binaryRerankTopK): the
    // 1-bit sign index (v13's 64×-compressed Hamming scan) nominates 25
    // candidates per query, the exact cosine re-rank (v12's stage)
    // finishes — the binary-quantization serving pattern: the corpus
    // pass touches 8 bytes per vector, floats only touch
    // |queries|·candidates rows. Oracle = v13's dimension-wise sign
    // CTEs capped at candidate depth feeding v12's re-rank tail.
    Q("v20_binary_rerank",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        Similarity.binaryRerankTopK(
            emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding",
            k = 5, candidates = 25)
          .orderBy(col("qid"), col("rn"))
      },
      Some(BinaryRerankOracle)),

    // FILTERED ANN (Similarity.filteredIvfTopK) — vector search under a
    // per-query metadata predicate (corpus label = query label): the
    // tenant-/language-scoped retrieval shape every production vector
    // store exposes. One SHARED IVF index serves all predicates — the
    // filter applies inside the probe join (post-bucket pre-filter), so
    // filtered rows are pruned before scoring and the index is never
    // forked per predicate. Construction is v04's deterministic IVF with
    // the label riding the row-local bucket assignment → exact oracle.
    Q("v21_ann_filtered",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        Similarity.filteredIvfTopK(
            emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding",
            "label", k = 5)
          .orderBy(col("qid"), col("rn"))
      },
      Some("""WITH e AS (SELECT vec_id, label,
             |    CAST(embedding AS DOUBLE[]) v
             |  FROM embeddings),
             |n AS (SELECT vec_id, label, v,
             |    sqrt(list_dot_product(v, v)) nrm FROM e),
             |cb AS (SELECT vec_id cid, v cv, nrm cn FROM n
             |  ORDER BY vec_id LIMIT 16),
             |casg AS (
             |  SELECT n.vec_id vid, n.label, n.v, n.nrm, cb.cid,
             |    ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
             |      ROUND(list_dot_product(n.v, cb.cv) / (n.nrm * cb.cn), 6)
             |        DESC, cb.cid) rnk
             |  FROM n, cb),
             |bucketed AS (
             |  SELECT vid, label, v, nrm, cid FROM casg WHERE rnk = 1),
             |qasg AS (
             |  SELECT n.vec_id qid, n.label qlabel, n.v qv, n.nrm qn,
             |    cb.cid,
             |    ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
             |      ROUND(list_dot_product(n.v, cb.cv) / (n.nrm * cb.cn), 6)
             |        DESC, cb.cid) rnk
             |  FROM n, cb WHERE n.vec_id < 5),
             |probes AS (
             |  SELECT qid, qlabel, qv, qn, cid FROM qasg WHERE rnk <= 4),
             |scored AS (
             |  SELECT p.qid, p.qlabel AS label, b.vid nid,
             |    ROUND(list_dot_product(p.qv, b.v) / (p.qn * b.nrm), 6) sim
             |  FROM bucketed b JOIN probes p USING (cid)
             |  WHERE b.vid <> p.qid AND b.label = p.qlabel),
             |ranked AS (
             |  SELECT qid, label, nid, sim,
             |    ROW_NUMBER() OVER (PARTITION BY qid
             |      ORDER BY sim DESC, nid) rn
             |  FROM scored)
             |SELECT qid, label, nid, sim, rn FROM ranked WHERE rn <= 5
             |ORDER BY qid, rn""".stripMargin)),

    // RANGE (radius) search (Similarity.ivfRangeSearch) — all corpus
    // neighbors with cosine ≥ 0.15 per query, the "every match above a
    // floor" verb top-k cannot express (near-dup audits and candidate
    // harvesting want the full set). v04's deterministic IVF probes
    // feed a plain FILTER — no per-query ranking window anywhere in the
    // plan, the cheapest operator in the tier. Exact oracle replays
    // assignment → probes → threshold.
    Q("v22_range_search",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        Similarity.ivfRangeSearch(
            emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding",
            tau = 0.15)
          .orderBy(col("qid"), col("nid"))
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v
             |  FROM embeddings),
             |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) nrm FROM e),
             |cb AS (SELECT vec_id cid, v cv, nrm cn FROM n
             |  ORDER BY vec_id LIMIT 16),
             |casg AS (
             |  SELECT n.vec_id vid, n.v, n.nrm, cb.cid,
             |    ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
             |      ROUND(list_dot_product(n.v, cb.cv) / (n.nrm * cb.cn), 6)
             |        DESC, cb.cid) rnk
             |  FROM n, cb),
             |bucketed AS (SELECT vid, v, nrm, cid FROM casg WHERE rnk = 1),
             |qasg AS (
             |  SELECT n.vec_id qid, n.v qv, n.nrm qn, cb.cid,
             |    ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
             |      ROUND(list_dot_product(n.v, cb.cv) / (n.nrm * cb.cn), 6)
             |        DESC, cb.cid) rnk
             |  FROM n, cb WHERE n.vec_id < 5),
             |probes AS (SELECT qid, qv, qn, cid FROM qasg WHERE rnk <= 4),
             |scored AS (
             |  SELECT p.qid, b.vid nid,
             |    ROUND(list_dot_product(p.qv, b.v) / (p.qn * b.nrm), 6) sim
             |  FROM bucketed b JOIN probes p USING (cid)
             |  WHERE b.vid <> p.qid)
             |SELECT qid, nid, sim FROM scored WHERE sim >= 0.15
             |ORDER BY qid, nid""".stripMargin)),

    // k-NN GRAPH (Similarity.knnGraph) — every vector's approximate
    // top-3 neighbors: the query side IS the corpus, so nothing
    // broadcasts — both sides bucket row-locally and meet in a shuffle
    // equi-join on the bucket id (corpus co-located by bucket, each
    // bucket resolving its own neighborhood). The graph-construction
    // shape behind clustering/SemDeDup/diversity sampling. Exact
    // oracle = v04's CTEs with the query restriction lifted.
    Q("v23_knn_graph",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        Similarity.knnGraph(emb, "vec_id", "embedding", k = 3,
            nlist = Some(16))
          .orderBy(col("qid"), col("rn"))
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v
             |  FROM embeddings),
             |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) nrm FROM e),
             |cb AS (SELECT vec_id cid, v cv, nrm cn FROM n
             |  ORDER BY vec_id LIMIT 16),
             |casg AS (
             |  SELECT n.vec_id vid, n.v, n.nrm, cb.cid,
             |    ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
             |      ROUND(list_dot_product(n.v, cb.cv) / (n.nrm * cb.cn), 6)
             |        DESC, cb.cid) rnk
             |  FROM n, cb),
             |bucketed AS (SELECT vid, v, nrm, cid FROM casg WHERE rnk = 1),
             |probes AS (SELECT vid qid, v qv, nrm qn, cid
             |  FROM casg WHERE rnk <= 4),
             |scored AS (
             |  SELECT p.qid, b.vid nid,
             |    ROUND(list_dot_product(p.qv, b.v) / (p.qn * b.nrm), 6) sim
             |  FROM bucketed b JOIN probes p USING (cid)
             |  WHERE b.vid <> p.qid),
             |ranked AS (
             |  SELECT qid, nid, sim,
             |    ROW_NUMBER() OVER (PARTITION BY qid
             |      ORDER BY sim DESC, nid) rn
             |  FROM scored)
             |SELECT qid, nid, sim, rn FROM ranked WHERE rn <= 3
             |ORDER BY qid, rn""".stripMargin)),

    // k-NN graph under the DEFAULT bucket policy ([[Similarity
    // .autoNlist]]: nlist = max(1, N/50), d19's autoK discipline on the
    // coarse index) — the path a user copies at 100 TB. v23 pins
    // nlist=16 to freeze its oracle; this gate lets the OPERATOR size
    // the codebook and the oracle replays the policy in SQL
    // (GREATEST(1, COUNT(*)//50) as the codebook LIMIT), so the gate
    // stays exact at every SF while candidate volume stays ~linear in
    // the corpus (SCALEPROBE.md, "Round 15: knnGraph's DEFAULT path";
    // `tools.ScaleProbe <dir> <K> knn` re-measures it).
    Q("v24_knn_graph_auto",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        Similarity.knnGraph(emb, "vec_id", "embedding", k = 3)
          .orderBy(col("qid"), col("rn"))
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v
             |  FROM embeddings),
             |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) nrm FROM e),
             |cb AS (SELECT vec_id cid, v cv, nrm cn FROM n
             |  ORDER BY vec_id
             |  LIMIT (SELECT GREATEST(1, COUNT(*) // 50) FROM n)),
             |casg AS (
             |  SELECT n.vec_id vid, n.v, n.nrm, cb.cid,
             |    ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
             |      ROUND(list_dot_product(n.v, cb.cv) / (n.nrm * cb.cn), 6)
             |        DESC, cb.cid) rnk
             |  FROM n, cb),
             |bucketed AS (SELECT vid, v, nrm, cid FROM casg WHERE rnk = 1),
             |probes AS (SELECT vid qid, v qv, nrm qn, cid
             |  FROM casg WHERE rnk <= 4),
             |scored AS (
             |  SELECT p.qid, b.vid nid,
             |    ROUND(list_dot_product(p.qv, b.v) / (p.qn * b.nrm), 6) sim
             |  FROM bucketed b JOIN probes p USING (cid)
             |  WHERE b.vid <> p.qid),
             |ranked AS (
             |  SELECT qid, nid, sim,
             |    ROW_NUMBER() OVER (PARTITION BY qid
             |      ORDER BY sim DESC, nid) rn
             |  FROM scored)
             |SELECT qid, nid, sim, rn FROM ranked WHERE rn <= 3
             |ORDER BY qid, rn""".stripMargin)),

    // IVF + PQ composed (Similarity.ivfPqTopK) — the production ANN
    // layout: coarse buckets prune the scan, PQ codes shrink the index.
    // Both stages are the deterministic v04/v10 constructions, so the
    // FUSED index (assignment → probes → encode → ADC → top-k) still has
    // an exact SQL oracle: v04's bucketing CTEs feeding v10's ADC join.
    Q("v11_ann_ivfpq",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        Similarity.ivfPqTopK(
            emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 5)
          .orderBy(col("qid"), col("rn"))
      },
      Some(IvfPqOracle)),

    // Persisted + appendable ANN index ([[VectorIndex]]): freeze the
    // codebook and encode an 80% base corpus into the index tables, then
    // APPEND the remaining vectors (vec_id % 5 == 0, above the seed
    // prefix) by encoding only the delta against the frozen codebook —
    // stored vectors are never touched — and probe from the persisted
    // codes. Deterministic seeding/encode/ADC make the probe EQUAL to
    // v11's one-shot over the full corpus (the split keeps the global
    // first-16 seed prefix inside the base, so the frozen codebook is
    // the one-shot's codebook), so v14 shares v11's exact DuckDB oracle:
    // incremental index maintenance loses nothing vs full rebuild.
    Q("v14_ann_persisted",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val index = VectorIndex("ann_store")
        VectorIndex.reset(s, index)
        val isBatch = col("vec_id") % 5 === 0 && col("vec_id") >= 80
        VectorIndex.build(s, emb.filter(!isBatch), "vec_id", "embedding",
          index)
        VectorIndex.append(s, emb.filter(isBatch), "vec_id", "embedding",
          index, "b1")
        VectorIndex.topK(s, emb.filter(col("vec_id") < 5), "vec_id",
            "embedding", index, k = 5)
          .orderBy(col("qid"), col("rn"))
      },
      Some(IvfPqOracle)),

    // Index maintenance ([[StoreCompaction]] on the codes table): build
    // + two appends leave three batch partitions; fold the closed ones
    // into `compacted` and probe from the compacted index. Codes are
    // opaque deterministic rows, so the probe must rank IDENTICALLY to
    // v11's one-shot over the union — same exact oracle — or the fold
    // dropped/duplicated a vector.
    Q("v15_ann_compacted",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val index = VectorIndex("ann_compact")
        VectorIndex.reset(s, index)
        val m5 = col("vec_id") % 5
        val base = !(m5 === 0 || m5 === 1) || col("vec_id") < 80
        VectorIndex.build(s, emb.filter(base), "vec_id", "embedding",
          index)
        VectorIndex.append(s, emb.filter(!base && m5 === 0), "vec_id",
          "embedding", index, "b1")
        StoreCompaction.compactVectorIndex(s, index, keep = Set.empty)
        VectorIndex.append(s, emb.filter(!base && m5 === 1), "vec_id",
          "embedding", index, "b2")
        VectorIndex.topK(s, emb.filter(col("vec_id") < 5), "vec_id",
            "embedding", index, k = 5)
          .orderBy(col("qid"), col("rn"))
      },
      Some(IvfPqOracle)),

    // Targeted deletion ([[StoreRetention]]): remove a victim slice
    // from the persisted codes and probe — the ranking must equal the
    // one-shot over the SURVIVORS. Victims sit above the seed prefix,
    // so the frozen codebook/centroids match the oracle's (which
    // derives both from the filtered corpus's first-16 — identical
    // because the prefix survives). Oracle = IvfPqOracle with the
    // victim slice filtered out of the corpus CTE.
    Q("v16_ann_deleted",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val index = VectorIndex("ann_delete")
        VectorIndex.reset(s, index)
        val isBatch = col("vec_id") % 5 === 0 && col("vec_id") >= 80
        VectorIndex.build(s, emb.filter(!isBatch), "vec_id", "embedding",
          index)
        VectorIndex.append(s, emb.filter(isBatch), "vec_id", "embedding",
          index, "b1")
        StoreRetention.deleteVectors(s, index,
          emb.filter(col("vec_id") % 7 === 3 && col("vec_id") >= 80)
            .select(col("vec_id")))
        VectorIndex.topK(s, emb.filter(col("vec_id") < 5), "vec_id",
            "embedding", index, k = 5)
          .orderBy(col("qid"), col("rn"))
      },
      // The replace edits the ALREADY-stripMargin'd oracle string, so
      // the inserted continuation carries no margin pipe.
      Some(IvfPqOracle.replace("FROM embeddings),",
        "FROM embeddings WHERE NOT (vec_id % 7 = 3 AND vec_id >= 80)),"))),

    // TRAINED-codebook IVF ([[Similarity.ivfTopK]] with trainIters > 0):
    // the coarse codebook is k-means-refined from the same first-N seeds
    // the seeded path uses raw — the recall upgrade that was "one call
    // away" (v07's telemetry now reports both arms at equal
    // nlist/nprobe; AnnTelemetrySpec asserts trained ≥ seeded).
    // Training is kmeansFit's deterministic loop, so the oracle replays
    // it (kmeansCtes) and then the ROUNDED-cosine bucket assignment +
    // probe exactly as v04 does against the seed codebook.
    Q("v17_ann_ivf_trained",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        Similarity.ivfTopK(
            emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding",
            k = 5, nlist = 10, nprobe = 4, trainIters = 3)
          .orderBy(col("qid"), col("rn"))
      },
      Some(s"""${kmeansCtes(k = 10, iters = 3)},
              |tcb AS (SELECT cid, cv, cn FROM cb3),
              |casg AS (
              |  SELECT n.vec_id vid, n.v, n.nrm, tcb.cid,
              |    ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
              |      ROUND(list_dot_product(n.v, tcb.cv)
              |        / (n.nrm * tcb.cn), 6) DESC, tcb.cid) rnk
              |  FROM n, tcb),
              |bucketed AS (SELECT vid, v, nrm, cid FROM casg WHERE rnk = 1),
              |qasg AS (
              |  SELECT n.vec_id qid, n.v qv, n.nrm qn, tcb.cid,
              |    ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
              |      ROUND(list_dot_product(n.v, tcb.cv)
              |        / (n.nrm * tcb.cn), 6) DESC, tcb.cid) rnk
              |  FROM n, tcb WHERE n.vec_id < 5),
              |probes AS (SELECT qid, qv, qn, cid FROM qasg WHERE rnk <= 4),
              |scored AS (
              |  SELECT p.qid, b.vid nid,
              |    ROUND(list_dot_product(p.qv, b.v) / (p.qn * b.nrm), 6) sim
              |  FROM bucketed b JOIN probes p USING (cid)
              |  WHERE b.vid <> p.qid),
              |ranked AS (
              |  SELECT qid, nid, sim,
              |    ROW_NUMBER() OVER (PARTITION BY qid
              |      ORDER BY sim DESC, nid) rn
              |  FROM scored)
              |SELECT qid, nid, sim, rn FROM ranked WHERE rn <= 5
              |ORDER BY qid, rn""".stripMargin)),

    // TRAINED persisted index ([[VectorIndex.build]] with trainIters):
    // the v14 lifecycle — build 80%, append the rest against the FROZEN
    // codebook, probe from persisted codes — but the frozen coarse
    // centroids are now k-means-trained on the build corpus (the
    // d14 frozen-model contract applied to the ANN tier; PQ
    // sub-codebooks stay seeded). Oracle: kmeansCtes trains on the
    // build slice, assigns everyone with the rounded bucket rule, and
    // the shared ADC pair scores restrict to probed buckets.
    Q("v18_ann_index_trained",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        val index = VectorIndex("ann_trained")
        VectorIndex.reset(s, index)
        val isBatch = col("vec_id") % 5 === 0 && col("vec_id") >= 80
        VectorIndex.build(s, emb.filter(!isBatch), "vec_id", "embedding",
          index, trainIters = 3)
        VectorIndex.append(s, emb.filter(isBatch), "vec_id", "embedding",
          index, "b1")
        VectorIndex.topK(s, emb.filter(col("vec_id") < 5), "vec_id",
            "embedding", index, k = 5)
          .orderBy(col("qid"), col("rn"))
      },
      Some(s"""${kmeansCtes(k = 16, iters = 3,
               trainPred = "NOT (vec_id % 5 = 0 AND vec_id >= 80)")},
              |$PqAdcBody,
              |tcb AS (SELECT cid, cv, cn FROM cb3),
              |casg AS (
              |  SELECT n.vec_id vid, tcb.cid,
              |    ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
              |      ROUND(list_dot_product(n.v, tcb.cv)
              |        / (n.nrm * tcb.cn), 6) DESC, tcb.cid) rnk
              |  FROM n, tcb),
              |bucketed AS (SELECT vid, cid FROM casg WHERE rnk = 1),
              |qasg AS (
              |  SELECT n.vec_id qid, tcb.cid,
              |    ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
              |      ROUND(list_dot_product(n.v, tcb.cv)
              |        / (n.nrm * tcb.cn), 6) DESC, tcb.cid) rnk
              |  FROM n, tcb WHERE n.vec_id < 5),
              |probes AS (SELECT qid, cid FROM qasg WHERE rnk <= 4),
              |scored AS (
              |  SELECT a.qid, a.nid, a.score
              |  FROM adc a
              |  JOIN bucketed b ON b.vid = a.nid
              |  JOIN probes p ON p.qid = a.qid AND p.cid = b.cid),
              |ranked AS (
              |  SELECT qid, nid, score,
              |    ROW_NUMBER() OVER (PARTITION BY qid
              |      ORDER BY score DESC, nid) rn
              |  FROM scored)
              |SELECT qid, nid, score, rn FROM ranked WHERE rn <= 5
              |ORDER BY qid, rn""".stripMargin)),

    // TRAINED PQ sub-codebooks ([[Similarity.ivfPqTopK]] with
    // pqTrainIters > 0): the last seeded learned component gets its
    // training pass — per-subspace Lloyd under the encoder's OWN
    // assignment rule (6dp-rounded-dot argmax, ties to the lower code),
    // exact-decimal mean updates, empty codes keeping their previous
    // center — the kmeansFit determinism contract applied to the PQ
    // tier, so the oracle unrolls the training loop and replays encode,
    // ADC, buckets, and ranking exactly. Coarse buckets stay SEEDED
    // here, isolating the sub-codebook-training delta against v11;
    // v07's telemetry carries the matching `ivfpq_pqtrained` recall arm.
    Q("v19_ann_pq_trained",
      (s, dir) => {
        val emb = Tables(s, dir, "embeddings")
        Similarity.ivfPqTopK(
            emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding",
            k = 5, pqTrainIters = 3)
          .orderBy(col("qid"), col("rn"))
      },
      Some(TrainedPqOracle)),

    // Spherical k-means training (5 Lloyd iterations, deterministic by
    // construction — see Similarity.kmeansFit) + final cluster census.
    // Every step is engine-reproducible (first-k seeding, raw-double
    // argmax with index tiebreak, exact-decimal sums before one double
    // division), so the oracle UNROLLS the full training loop in SQL and
    // recomputes the census exactly. ScalaTest additionally pins
    // run-to-run determinism and the non-increasing objective.
    Q("v06_kmeans_clusters",
      (s, dir) => Similarity.kmeansClusterSizes(
        Tables(s, dir, "embeddings"), "vec_id", "embedding",
        k = 8, iters = 5),
      Some(kmeansOracle(k = 8, iters = 5)))
  )

  /** The v06 oracle: Lloyd's loop unrolled as `iters` chained CTE
    * blocks — assignment (argmax of raw-double cosine, ties to the lower
    * centroid index, exactly Similarity.assignClusters) then the mean
    * update (exact DECIMAL(38,18) per-dim sums cast to double before one
    * double division, empty clusters keeping their previous centroid) —
    * followed by a final assignment pass and the cluster census. */
  private def kmeansOracle(k: Int, iters: Int): String =
    s"""${kmeansCtes(k, iters)}
       |SELECT cid, COUNT(*) n_vectors FROM asg${iters + 1}
       |GROUP BY cid ORDER BY cid""".stripMargin

  /** The unrolled-Lloyd CTE chain through the final assignment pass
    * `asg{iters+1}` (vid, v, nrm, cid) — shared by the v06 census
    * oracle and the d13 semantic-dedup oracle. */
  private[operators] def kmeansCtes(k: Int, iters: Int,
      trainPred: String = "TRUE"): String =
    kmeansCtesK(k.toString, iters, trainPred)

  /** [[kmeansCtes]] with the cluster count as a SQL EXPRESSION instead
    * of a literal — the auto-k policy's oracle hook (d19): DuckDB
    * accepts a scalar subquery in LIMIT, so `k = f(COUNT(*))` replays
    * exactly. Only the seed LIMIT depends on k; the unrolled loop is
    * k-independent. */
  private[operators] def kmeansCtesK(kSql: String, iters: Int,
      trainPred: String = "TRUE"): String = {
    val k = kSql
    // Training CTEs draw from `nh` (the history slice — everything when
    // trainPred is TRUE); only the FINAL assignment pass covers the
    // whole corpus `n`. This is the frozen-model contract the d14
    // semantic store relies on: train on history, assign everyone.
    def asg(i: Int, cb: String, src: String = "nh") =
      s"""asg$i AS (
         |  SELECT vid, v, nrm, cid FROM (
         |    SELECT n.vec_id vid, n.v, n.nrm, $cb.cid,
         |      ROW_NUMBER() OVER (PARTITION BY n.vec_id ORDER BY
         |        list_dot_product(n.v, $cb.cv) / (n.nrm * $cb.cn) DESC,
         |        $cb.cid) rnk
         |    FROM $src n, $cb) WHERE rnk = 1)""".stripMargin
    def update(i: Int) =
      s"""m$i AS (
         |  SELECT cid, dim,
         |    CAST(SUM(CAST(x AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*) m
         |  FROM (SELECT cid, generate_subscripts(v, 1) dim, unnest(v) x
         |        FROM asg$i)
         |  GROUP BY cid, dim),
         |u$i AS (SELECT cid, list(m ORDER BY dim) mv FROM m$i GROUP BY cid),
         |cb$i AS (
         |  SELECT p.cid,
         |    COALESCE(u$i.mv, p.cv) cv,
         |    COALESCE(sqrt(list_dot_product(u$i.mv, u$i.mv)), p.cn) cn
         |  FROM cb${i - 1} p LEFT JOIN u$i USING (cid))""".stripMargin
    val steps = (1 to iters).map(i =>
      asg(i, s"cb${i - 1}") + ",\n" + update(i))
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v
       |  FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) nrm FROM e),
       |nh AS (SELECT * FROM n WHERE ($trainPred)),
       |cb0 AS (
       |  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 cid, v cv, nrm cn
       |  FROM (SELECT vec_id, v, nrm FROM nh ORDER BY vec_id LIMIT $k)),
       |${steps.mkString(",\n")},
       |${asg(iters + 1, s"cb$iters", src = "n")}""".stripMargin
  }
}
