package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.functions.{Hashing, TextFunctions}

/** Extension-tier semantics that the DuckDB oracle cannot express:
  * approximate ops are validated against their exact counterparts here.
  */
class ExtensionSpec extends SparkSuite {

  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private def docs = spark.read.parquet(s"$dir/documents.parquet")
  private def emb = spark.read.parquet(s"$dir/embeddings.parquet")

  test("text functions: edge cases") {
    val df = Seq("", "   ", "one", "a b", "a b c", "  a   b   c  ")
      .toDF("text")
      .select(
        TextFunctions.tokenCount(col("text")).as("n"),
        size(TextFunctions.wordShingles(col("text"), 3)).as("sh"))
    assert(df.collect().map(r => (r.getInt(0), r.getInt(1))).toSeq ==
      Seq((0, 0), (0, 0), (1, 0), (2, 0), (3, 1), (3, 1)))
  }

  test("span dedup: first occurrence kept, later spans cut, short docs safe") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      // shares the 5-gram "alpha..epsilon" with doc 1 → loses those 5 words
      (2L, "pre1 pre2 alpha beta gamma delta epsilon post1"),
      // exact duplicate of doc 1 → fully removed
      (3L, "alpha beta gamma delta epsilon zeta eta theta"),
      (4L, "too short here"),                      // < k tokens: untouched
      (5L, ""),                                    // empty: n_tokens 0
      // within-doc repetition: only the first "r1..r5" run survives
      (6L, "r1 r2 r3 r4 r5 r1 r2 r3 r4 r5 r1 r2 r3 r4 r5"))
      .toDF("doc_id", "text")
    val out = Dedup.spanDedup(corpus, "doc_id", "text", k = 5)
      .orderBy(col("doc_id"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    def h(s: String): String = org.apache.commons.codec.digest.DigestUtils.md5Hex(s)
    assert(out(1L) == ((8L, 0L, h("alpha beta gamma delta epsilon zeta eta theta"))))
    assert(out(2L) == ((8L, 5L, h("pre1 pre2 post1"))))
    assert(out(3L) == ((8L, 8L, h(""))))
    assert(out(4L) == ((3L, 0L, h("too short here"))))
    assert(out(5L) == ((0L, 0L, h(""))))
    assert(out(6L) == ((15L, 10L, h("r1 r2 r3 r4 r5"))))
    // plan shape: no Window, no cartesian — the text never rides a shuffle
    val plan = Dedup.spanDedup(corpus, "doc_id", "text", k = 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "span dedup must not use a window")
    assert(!plan.contains("Cartesian"), "span dedup must not go all-pairs")
  }

  test("simhash: identical text ⇒ identical signature; near-identical ⇒ close") {
    val df = Seq(
      ("a", "the quick brown fox jumps over the lazy dog again and again"),
      ("b", "the quick brown fox jumps over the lazy dog again and again"),
      ("c", "the quick brown fox jumps over the lazy cat again and again"),
      ("d", "completely different words about spark shuffles and parquet"))
      .toDF("id", "text")
      .select(col("id"), Hashing.simhash64(col("text")).as("sig"))
    val m = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m("a") == m("b"))
    assert(java.lang.Long.bitCount(m("a") ^ m("c")) < 16)
    assert(java.lang.Long.bitCount(m("a") ^ m("d")) > 8)
  }

  test("minhash signature: deterministic, k-length, similarity-preserving") {
    val df = Seq(
      ("x", Seq("a b c", "b c d", "c d e", "d e f")),
      ("y", Seq("a b c", "b c d", "c d e", "d e g")),
      ("z", Seq("p q r", "q r s", "r s t", "s t u")))
      .toDF("id", "shingles")
      .select(col("id"), Hashing.minhashSig(col("shingles"), 64).as("sig"))
    val m = df.collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(m.values.forall(_.length == 64))
    def agree(a: Seq[Long], b: Seq[Long]) = a.zip(b).count(p => p._1 == p._2)
    assert(agree(m("x"), m("y")) > agree(m("x"), m("z")))
  }

  test("minhash LSH finds exactly the exact-jaccard pairs on testdata") {
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 0.6)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text", 0.6)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "testdata should contain planted near-dups")
    assert(lsh == exact)
  }

  test("duplicateClusters under reliable checkpointing matches the default path") {
    val base = Dedup.duplicateClusters(docs, "doc_id", "text", 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    spark.conf.set(graft.core.Checkpoints.ReliableConf, "true")
    try {
      val reliable = Dedup.duplicateClusters(docs, "doc_id", "text", 0.6)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
      assert(reliable == base)
      // The reliable path must actually hit the checkpoint dir.
      assert(new java.io.File(dir).listFiles().nonEmpty,
        "reliable checkpoint wrote nothing to the checkpoint dir")
    } finally spark.conf.unset(graft.core.Checkpoints.ReliableConf)
  }

  test("simhash multiprobe pairs equal the exact pairs on testdata") {
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 0.6)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sim = Dedup.simhashPairs(docs, "doc_id", "text", 0.6)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "testdata should contain planted near-dups")
    // Verification ⇒ precision 1; 1-bit multiprobe over 8×8 banding ⇒
    // recall 1 through hamming 15 (corpus max on the shingle-set
    // signature is 12, tools/ShingleSimhashProbe at commit 68d271a).
    assert(sim == exact)
  }

  test("ANN recall telemetry: stable fields, deterministic, above floors") {
    val queries = emb.filter(col("vec_id") < 10)
    def report() = Similarity
      .recallReport(emb, queries, "vec_id", "embedding", 5)
      .orderBy(col("method")).collect()
    val r1 = report()
    assert(r1.map(_.getString(0)).toSeq ==
      Seq("binary", "binary_rerank", "int8", "ivf", "ivf_trained",
        "ivfpq", "ivfpq_pqtrained", "ivfpq_trained", "lsh", "pq"))
    assert(Similarity.recallReport(emb, queries, "vec_id", "embedding", 5)
      .columns.toSeq ==
      Seq("method", "k", "n_queries", "n_exact", "hits", "recall_at_k"))
    // The tuning surface is only usable if re-running it on unchanged
    // data/params yields the same number.
    assert(r1.map(_.toSeq).toSeq == report().map(_.toSeq).toSeq)
    r1.foreach { r =>
      val recall = r.getDouble(5)
      assert(r.getLong(2) == 10 && r.getLong(3) == 50,
        s"unexpected query/exact counts: $r")
      // PQ at 4×16 codes is the coarsest tier (a 32× memory cut scored
      // by reconstruction) — it is a candidate generator for re-ranking,
      // so its floor sits below the direct-ranking methods'; IVF-PQ
      // stacks bucket pruning ON TOP of that coarse scoring, so it can
      // only lose further candidates vs plain PQ.
      val floor = r.getString(0) match {
        case "ivfpq" | "ivfpq_trained" | "ivfpq_pqtrained" => 0.15
        // 1-bit Hamming is the coarsest metric on the ladder; its
        // re-ranked form recovers most of what the nomination kept.
        case "binary" => 0.1
        case "binary_rerank" => 0.3
        case "pq" => 0.2
        case _ => 0.5
      }
      assert(recall >= floor && recall <= 1.0,
        s"${r.getString(0)} recall $recall outside [$floor, 1]")
      assert(r.getLong(4) <= r.getLong(3))
    }
    // Structural: the exact re-rank can only PROMOTE true positives the
    // Hamming scan nominated (binary's top-k is a prefix of the same
    // nomination order), so the two-stage arm dominates the raw one.
    val byMethod = r1.map(r => r.getString(0) -> r.getDouble(5)).toMap
    assert(byMethod("binary_rerank") >= byMethod("binary"),
      s"re-rank below raw binary: $byMethod")
  }

  test("trained IVF beats seeded IVF where seeding fails: a clustered " +
      "corpus whose seed prefix all lies in one cluster") {
    import spark.implicits._
    // 8 well-separated direction clusters; the first 16 vectors (= the
    // seed prefix, nlist = 16) ALL belong to cluster 0 — the seeded
    // coarse codebook collapses onto one region and bucket membership
    // stops tracking true neighborhoods, which is exactly the failure
    // k-means training repairs (Lloyd steps pull the redundant
    // centroids out toward the unclaimed clusters). Fully deterministic
    // construction, so the comparison is a pin, not a flake.
    val dims = 64
    def vec(i: Int): Seq[Float] = {
      val c = if (i < 16) 0 else i % 8
      Array.tabulate(dims) { d =>
        val center = if (d % 8 == c) 1.0 else 0.0
        (center + 0.15 * math.sin(1.7 * i + 0.3 * d)).toFloat
      }.toSeq
    }
    val crafted = (0 until 256).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    val queries = crafted.filter(col("vec_id").between(16, 31))
    val recalls = Similarity
      .recallReport(crafted, queries, "vec_id", "embedding", 5)
      .collect().map(r => r.getString(0) -> r.getDouble(5)).toMap
    assert(recalls("ivf_trained") > recalls("ivf"),
      s"training must lift coarse recall on clustered data: $recalls")
    assert(recalls("ivfpq_trained") >= recalls("ivfpq"),
      s"trained coarse buckets must not lose IVF-PQ recall: $recalls")
  }

  test("int8-quantized ranking stays close to exact cosine") {
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity
      .bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val quant = Similarity
      .quantizedTopK(emb, queries, "vec_id", "embedding", 5)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & quant).size.toDouble / exact.size
    // 7 effective bits per dimension loses little ranking fidelity.
    assert(recall >= 0.8, s"int8 recall $recall below floor")
  }

  test("cross-corpus pairs equal the cross subset of exact jaccard pairs") {
    val a = docs.filter(col("doc_id") % 2 === 0)
    val b = docs.filter(col("doc_id") % 2 === 1)
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // jaccardPairs orients doc_a < doc_b; reorient to A→B.
    val cross = exact.flatMap { case (x, y, j) =>
      if (x % 2 == 0 && y % 2 == 1) Some((x, y, j))
      else if (y % 2 == 0 && x % 2 == 1) Some((y, x, j))
      else None
    }.toSet
    val got = Dedup.crossCorpusPairs(a, b, "doc_id", "text", 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(cross.nonEmpty, "testdata should contain cross-split near-dups")
    assert(got == cross)
  }

  test("IVF ANN recall vs brute force") {
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity
      .bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity
      .ivfTopK(emb, queries, "vec_id", "embedding", 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall $recall below floor")
  }

  test("filtered ANN: neighbors share the query's label; with full " +
      "probing it equals per-label brute force") {
    val queries = emb.filter(col("vec_id") < 5)
    val out = Similarity.filteredIvfTopK(emb, queries, "vec_id",
        "embedding", "label", k = 5)
      .select("qid", "label", "nid").collect()
    assert(out.nonEmpty)
    val qLabel = queries.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    out.foreach { r =>
      assert(r.getInt(1) == qLabel(r.getLong(0)),
        s"neighbor ${r.getLong(2)} violates the label predicate")
    }
    // nprobe = nlist ⇒ every bucket probed ⇒ the filter is the only
    // pruning: result must EQUAL brute force over the label-restricted
    // corpus, query by query (5 queries — bounded loop).
    val full = Similarity.filteredIvfTopK(emb, queries, "vec_id",
        "embedding", "label", k = 5, nlist = 16, nprobe = 16)
      .select("qid", "nid", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val exact = qLabel.toSeq.flatMap { case (qid, lbl) =>
      Similarity.bruteForceTopK(
          emb.filter(col("label") === lbl),
          queries.filter(col("vec_id") === qid),
          "vec_id", "embedding", k = 5)
        .select("qid", "nid", "rn").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    }.toSet
    assert(full == exact,
      "full-probe filtered ANN must equal per-label brute force")
  }

  test("range search: every emitted pair clears the floor; with full " +
      "probing it equals the brute-force threshold set") {
    val queries = emb.filter(col("vec_id") < 5)
    val out = Similarity.ivfRangeSearch(emb, queries, "vec_id",
        "embedding", tau = 0.15).collect()
    assert(out.nonEmpty)
    out.foreach(r => assert(r.getDouble(2) >= 0.15,
      s"pair (${r.getLong(0)}, ${r.getLong(1)}) below the floor"))
    // nprobe = nlist ⇒ every bucket probed ⇒ the IVF pruning is void:
    // the result must EQUAL the brute-force ≥ τ set.
    val full = Similarity.ivfRangeSearch(emb, queries, "vec_id",
        "embedding", tau = 0.15, nlist = 16, nprobe = 16)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id",
        "embedding", k = Int.MaxValue)
      .filter(col("sim") >= 0.15)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == exact,
      "full-probe range search must equal the brute-force threshold set")
  }

  test("IVF-PQ: ADC scores agree with plain PQ, ranking is deterministic") {
    val queries = emb.filter(col("vec_id") < 10)
    def run() = Similarity
      .ivfPqTopK(emb, queries, "vec_id", "embedding", 5)
      .select("qid", "nid", "score").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    val ivfpq = run()
    assert(ivfpq.toSeq == run().toSeq) // re-run stability
    // Same sub-codebooks, same ADC fold ⇒ any pair surviving the bucket
    // pruning must carry EXACTLY the score plain PQ assigns it.
    val pq = Similarity
      .pqTopK(emb, queries, "vec_id", "embedding", 50)
      .select("qid", "nid", "score").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val checked = ivfpq.count { case (pair, score) =>
      pq.get(pair) match {
        case Some(s) => assert(s == score, s"$pair: ivfpq $score vs pq $s"); true
        case None => false // pruned below pq's deep-k cut — can't compare
      }
    }
    assert(checked > 0, "no overlapping pairs to cross-check")
  }

  test("benchmark decontamination: planted collision flagged, clean corpus clean") {
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota"),
      (2L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val benchHit = Seq( // shares the 8-gram window of doc 1's tail
      (100L, "XX beta gamma delta epsilon zeta eta theta iota"))
      .toDF("doc_id", "text")
    val r = Dedup.benchmarkContamination(train, benchHit, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getBoolean(3)))
    assert(r.toSeq == Seq((1L, 1L, 1L, true), (2L, 0L, 0L, false)))
    // An empty benchmark flags nothing — every train doc flows through
    // the left join with zero counts.
    val clean = Dedup.benchmarkContamination(
        train, train.limit(0), "doc_id", "text")
      .filter(col("contaminated")).count()
    assert(clean == 0)
  }

  test("binary sign top-k: deterministic, bounded hamming, coarse recall") {
    val queries = emb.filter(col("vec_id") < 10)
    def run() = Similarity
      .binarySignTopK(emb, queries, "vec_id", "embedding", 5)
      .select("qid", "nid", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val r1 = run()
    assert(r1.toSeq == run().toSeq)
    assert(r1.forall { case (_, _, h) => h >= 0 && h <= 64 })
    val exact = Similarity
      .bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .select("qid", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & r1.map(t => (t._1, t._2)).toSet).size.toDouble /
      exact.size
    // 1 bit/dim is the coarse first-pass tier — a weak floor documents
    // that it still tracks the exact ranking better than chance.
    assert(recall >= 0.1, s"binary recall $recall below floor")
  }

  test("re-rank lifts PQ candidate recall toward exact top-k") {
    val queries = emb.filter(col("vec_id") < 10)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "nid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity
      .bruteForceTopK(emb, queries, "vec_id", "embedding", 5))
    val pq = pairs(Similarity
      .pqTopK(emb, queries, "vec_id", "embedding", 5))
    val rr = pairs(Similarity
      .rerankTopK(emb, queries, "vec_id", "embedding", 5, candidates = 50))
    def recall(s: Set[(Long, Long)]) = (exact & s).size.toDouble / exact.size
    // The re-rank stage exists to turn cheap coarse candidates into a
    // (near-)exact ranking: it must never do WORSE than the raw PQ
    // ordering it refines, and with 25 candidates it should recover most
    // of the true top-5.
    assert(recall(rr) >= recall(pq),
      s"re-rank (${recall(rr)}) must not trail raw PQ (${recall(pq)})")
    assert(recall(rr) >= 0.5, s"re-rank recall ${recall(rr)} below floor")
    // Deeper candidate pools must help monotonically (the tuning knob).
    val rr25 = pairs(Similarity
      .rerankTopK(emb, queries, "vec_id", "embedding", 5, candidates = 25))
    assert(recall(rr) >= recall(rr25))
    // Exact ties broken identically: any re-ranked pair that IS in the
    // exact top-k carries the exact rounded cosine, so overlapping rows
    // agree bit-for-bit on sim.
    val exactSims = Similarity
      .bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .select("qid", "nid", "sim").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    Similarity.rerankTopK(emb, queries, "vec_id", "embedding", 5,
        candidates = 50)
      .select("qid", "nid", "sim").collect()
      .foreach { r =>
        exactSims.get((r.getLong(0), r.getLong(1))).foreach { s =>
          assert(s == r.getDouble(2))
        }
      }
  }

  test("as-of join ≡ naive range-join argmax formulation") {
    val left = Seq(
      (1L, 10L, "p1"), (1L, 20L, "p2"), (1L, 5L, "p0"),
      (2L, 15L, "p3"), (3L, 7L, "p4"))
      .toDF("k", "t", "tag")
    val right = Seq(
      (1L, 10L, 1.5), (1L, 12L, 2.5), (1L, 3L, 0.5),
      (2L, 15L, 3.5), (2L, 16L, 4.5))
      .toDF("k", "t", "v")
    val out = AsofJoin.asofJoin(left, right, "k", "t")
      .select("k", "t", "tag", "asof_v", "asof_t").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        Option(r.get(3)), Option(r.get(4)))).toSet
    // Naive reference: inequality join + per-left-row latest right row.
    assert(out == Set(
      (1L, 10L, "p1", Some(1.5), Some(10L)), // inclusive tie at t=10
      (1L, 20L, "p2", Some(2.5), Some(12L)),
      (1L, 5L, "p0", Some(0.5), Some(3L)),
      (2L, 15L, "p3", Some(3.5), Some(15L)),
      (3L, 7L, "p4", None, None))) // no right rows for key 3
  }

  test("tiled exact near-dup pairs ≡ naive all-pairs enumeration") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "sim").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val tiled = pairs(Similarity
      .nearDupPairs(emb, "vec_id", "embedding", threshold = 0.4, blocks = 5))
    // Naive reference: plain cartesian over normalized vectors.
    val e = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(Hashing.dotProduct(col("v"), col("v"))))
    val a = e.select(col("vec_id").as("id_a"), col("v").as("va"),
      col("nrm").as("na"))
    val b = e.select(col("vec_id").as("id_b"), col("v").as("vb"),
      col("nrm").as("nb"))
    val naive = pairs(a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim", round(Hashing.dotProduct(col("va"), col("vb")) /
        (col("na") * col("nb")), 6))
      .filter(col("sim") >= 0.4))
    assert(tiled.nonEmpty)
    assert(tiled == naive)
  }

  test("banded near-dup pairs: precision 1 and full recall on planted dups") {
    // Synthetic gapped corpus: 30 random base vectors (near-orthogonal,
    // cosine ~N(0, 1/8)) + a tiny-noise copy of each ⇒ 30 planted pairs
    // at cosine ≈ 0.999 against a background far below the threshold.
    val rnd = new scala.util.Random(7)
    val base = (0 until 30).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextGaussian())))
    val planted = base.map { case (i, v) =>
      (i + 1000L, v.map(x => x + 0.02 * rnd.nextGaussian()))
    }
    val df = (base ++ planted).toDF("vec_id", "embedding")
    val out = Similarity
      .nearDupPairsBanded(df, "vec_id", "embedding", threshold = 0.9)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (0 until 30).map(i => (i.toLong, i + 1000L)).toSet
    assert(out == expected) // recall 1 on planted dups, no false positives
  }

  test("k-means: deterministic across runs, objective non-increasing") {
    val (cb1, h1) = Similarity.kmeansFit(emb, "vec_id", "embedding", 8, 4)
    val (cb2, h2) = Similarity.kmeansFit(emb, "vec_id", "embedding", 8, 4)
    assert(h1 == h2)
    assert(cb1.map(_._1.toSeq).toSeq == cb2.map(_._1.toSeq).toSeq)
    // Spherical k-means objective Σ(1 − cos) never increases (small eps
    // absorbs last-ulp float wiggle in the per-row cosines).
    h1.sliding(2).foreach { case Seq(a, b) => assert(b <= a + 1e-9) }
    val sizes = Similarity.kmeansClusterSizes(
      emb, "vec_id", "embedding", 8, 4).collect()
    assert(sizes.map(_.getLong(1)).sum == emb.count())
  }

  test("leakage-free split: no near-dup pair straddles train/val") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val split = DedupQueries.queries
      .find(_.name == "d18_leakage_free_split").get.fn(spark, dir)
      .select(col("doc_id"), col("split"))
    val pairs = Dedup.minhashLshPairs(docs, "doc_id", "text", 0.6)
    val straddling = pairs
      .join(split.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("split", "sa"), "doc_a")
      .join(split.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("split", "sb"), "doc_b")
      .filter(col("sa") =!= col("sb")).count()
    assert(straddling == 0)
    // And both splits are populated on this corpus.
    assert(split.select(col("split")).distinct().count() == 2)
  }

  test("semantic dedup: deterministic, cluster-consistent, min id kept") {
    def run() = Similarity
      .semanticDedup(emb, "vec_id", "embedding", k = 10, iters = 3,
        threshold = 0.45)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2)))
      .sortBy(_._1).toSeq
    val a = run()
    assert(a == run()) // trained clusters + keep set fully reproducible
    assert(a.size == emb.count())
    // The smallest id in a cluster has no predecessor — always kept.
    a.groupBy(_._2).values.foreach(g => assert(g.minBy(_._1)._3))
    // Cluster census agrees with the v06 pass at the same (k, iters).
    val sizes = Similarity.kmeansClusterSizes(
        emb, "vec_id", "embedding", 10, 3)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    assert(a.groupBy(_._2).view.mapValues(_.size.toLong).toMap == sizes)
    // And the corpus's planted near-dups actually get dropped.
    assert(a.exists(!_._3))
    graft.core.Caches.releaseAll()
  }

  test("LSH ANN recall vs brute force") {
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity
      .bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity
      .lshTopK(emb, queries, "vec_id", "embedding", 5)
      .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"LSH recall $recall below floor")
  }

  test("hashed shingles: sorted, distinct, jaccard-preserving") {
    val df = Seq(
      ("x", Seq("a b c", "b c d", "c d e")),
      ("y", Seq("c d e", "a b c", "z z z")),
      ("e", Seq.empty[String]))
      .toDF("id", "shingles")
      .select(col("id"), Hashing.hashedShingles(col("shingles")).as("h"))
    val m = df.collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(m("x").length == 3 && m("y").length == 3 && m("e").isEmpty)
    assert(m("x") == m("x").sorted)
    // Same string shingle ⇒ same hash, across rows.
    assert((m("x").toSet & m("y").toSet).size == 2)
  }

  test("fused hashed word shingles equal the two-expression chain on testdata") {
    val both = docs.select(
      Hashing.hashedWordShingles(col("text"), 3).as("fused"),
      Hashing.hashedShingles(
        TextFunctions.wordShingles(col("text"), 3)).as("chain"))
    assert(both.filter(col("fused") =!= col("chain")).isEmpty)
  }

  test("sorted intersect size equals array_intersect size on hashed sets") {
    val df = Seq(
      (Seq("a b c", "b c d", "c d e"), Seq("c d e", "a b c", "z z z")),
      (Seq("a b c"), Seq("q r s")),
      (Seq.empty[String], Seq("a b c")))
      .toDF("sa", "sb")
      .select(
        Hashing.sortedIntersectSize(
          Hashing.hashedShingles(col("sa")),
          Hashing.hashedShingles(col("sb"))).as("fast"),
        size(array_intersect(col("sa"), col("sb"))).as("exact"))
    assert(df.collect().forall(r => r.getInt(0) == r.getInt(1)))
  }

  test("batched mapPartitions decode equals the per-row expression path") {
    val viaBatch = Multimodal
      .decodeFeatures(
        docs.select(col("doc_id"), encode(col("text"), "UTF-8").as("p")),
        "doc_id", "p", buckets = 8, batchSize = 7)
      .collect().map(d => d.doc_id -> (d.n_bytes, d.features.toSeq)).toMap
    val viaExpr = docs
      .select(col("doc_id"),
        length(encode(col("text"), "UTF-8")).cast("long").as("n"),
        Hashing.byteHistogram(encode(col("text"), "UTF-8"), 8).as("h"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getSeq[Long](2))).toMap
    assert(viaBatch == viaExpr)
  }

  test("approx distinct (HLL++) stays within its error bound vs exact") {
    val rows = RelationalQueries.queries
      .find(_.name == "q21_approx_distinct").get
      .fn(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val exact = r.getLong(1).toDouble
      val approx = r.getLong(2).toDouble
      assert(math.abs(approx - exact) / exact <= 0.05,
        s"${r.getString(0)}: approx $approx vs exact $exact")
    }
    // The manual two-level exact arm (the Expand-free plan) must equal
    // the single-agg countDistinct it replaced.
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val ref = li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.map(r => r.getString(0) -> r.getLong(1)).toMap == ref)
  }

  test("byte histogram counts all bytes into the right buckets") {
    val df = Seq("AaZz 09").toDF("t")
      .select(Hashing.byteHistogram(encode(col("t"), "UTF-8"), 8).as("h"))
    val h = df.collect()(0).getSeq[Long](0)
    assert(h.sum == 7)
    assert(h(1) == 3) // ' ', '0', '9' in 0x20-0x3f
    assert(h(2) == 2) // 'A', 'Z' in 0x40-0x5f
    assert(h(3) == 2) // 'a', 'z' in 0x60-0x7f
  }

  test("bloom membership: NO false negatives ever (the structural " +
      "bloom guarantee), false_positive is exactly bloom ∧ ¬exact, and " +
      "whitespace-variant copies still hit via the fingerprint") {
    val history = Seq(
      (0L, "the quick brown fox"), (2L, "pack my box with jugs"),
      (4L, "sphinx of black quartz")).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "the quick brown fox"),        // exact copy
      (3L, "  pack   my box with jugs "), // whitespace variant ⇒ same fp
      (5L, "a wholly novel document"),    // never seen
      (7L, "")                            // empty text, still a verdict
    ).toDF("doc_id", "text")
    val out = Dedup.bloomMembership(history, batch, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3))).toMap
    assert(out.size == 4)
    // Exact members MUST be bloom-positive — a bloom filter can lie
    // "yes", never "no".
    out.values.foreach { case (bloom, exact, fp) =>
      assert(!exact || bloom, "false negative: exact member missed")
      assert(fp == (bloom && !exact), "fp column must be bloom ∧ ¬exact")
    }
    assert(out(1L)._2 && out(3L)._2, "copies must be exact members")
    assert(!out(5L)._2 && !out(7L)._2, "novel docs are not members")
  }

  test("bloom membership: the bit frame is bounded by m regardless of " +
      "history size — the corpus-size-independent state claim") {
    val m = 64 // tiny filter: 2× the history size forces collisions
    val out = Dedup.bloomMembership(
      docs.filter(col("doc_id") < 400), docs.filter(col("doc_id") >= 400),
      "doc_id", "text", m = m, k = 3)
    // With kn ≈ 1200 insertions into 64 bits the filter saturates: the
    // FP arm must light up (that's the telemetry working), and still
    // zero false negatives.
    val rows = out.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(!r.getBoolean(2) || r.getBoolean(1),
        s"false negative at doc ${r.getLong(0)}")
    }
    assert(rows.count(_.getBoolean(3)) > 0,
      "a saturated filter must report false positives, not hide them")
  }
}
