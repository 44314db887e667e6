package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.core.Tables

/** The composed-pipeline contract: incremental maintenance through the
  * persisted state must equal the one-shot pass over the union, batch
  * replays must be no-ops, boundary packs must reassemble across batch
  * partitions, and the predecessor near-dup rule must be prefix-stable
  * (the property cluster-canonical keep lacks — see the
  * [[CorpusPipeline]] scaladoc).
  */
class CorpusPipelineSpec extends SparkSuite {

  private def docs: DataFrame =
    Tables(spark, "/root/testdata/sf0.001", "documents")

  private def rowsOf(df: DataFrame): Set[(Long, Long, Long, Long, Long)] =
    df.select(col("pack_id"), col("n_docs"), col("pack_tokens"),
        col("first_doc"), col("last_doc"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet

  private def oneShot: Set[(Long, Long, Long, Long, Long)] =
    rowsOf(CorpusPipeline.manifest(docs, "doc_id", "text"))

  test("incremental build + two appends equals the one-shot manifest") {
    val st = CorpusPipeline.State("pipe_spec")
    CorpusPipeline.buildHistory(spark,
      docs.filter(col("doc_id") <= 399), "doc_id", "text", st)
    CorpusPipeline.appendBatch(spark,
      docs.filter(col("doc_id") > 399 && col("doc_id") <= 449),
      "doc_id", "text", st, "b1")
    CorpusPipeline.appendBatch(spark,
      docs.filter(col("doc_id") > 449), "doc_id", "text", st, "b2")
    val inc = rowsOf(CorpusPipeline.readManifest(spark, st))
    assert(inc.nonEmpty)
    assert(inc == oneShot)
    CorpusPipeline.reset(spark, st)
  }

  test("a boundary pack spans two shard partitions and reassembles") {
    val st = CorpusPipeline.State("pipe_spec_boundary")
    CorpusPipeline.buildHistory(spark,
      docs.filter(col("doc_id") <= 249), "doc_id", "text", st)
    CorpusPipeline.appendBatch(spark,
      docs.filter(col("doc_id") > 249), "doc_id", "text", st, "b1")
    // The raw shard table must hold the boundary pack twice (base
    // partial + b1 partial) — i.e. the merge in readManifest is real
    // work, not a formality. (History token totals are never an exact
    // multiple of 2048 on this corpus; assert rather than assume.)
    val perPack = spark.table(st.shardsRel)
      .groupBy(col("pack_id"))
      .agg(countDistinct(col("batch_id")).as("n_batches"))
    assert(perPack.filter(col("n_batches") === 2).count() == 1)
    assert(rowsOf(CorpusPipeline.readManifest(spark, st)) == oneShot)
    CorpusPipeline.reset(spark, st)
  }

  test("replaying a batch is idempotent") {
    val st = CorpusPipeline.State("pipe_spec_replay")
    CorpusPipeline.buildHistory(spark,
      docs.filter(col("doc_id") <= 399), "doc_id", "text", st)
    val batch = docs.filter(col("doc_id") > 399)
    CorpusPipeline.appendBatch(spark, batch, "doc_id", "text", st, "b1")
    val first = rowsOf(CorpusPipeline.readManifest(spark, st))
    CorpusPipeline.appendBatch(spark, batch, "doc_id", "text", st, "b1")
    assert(rowsOf(CorpusPipeline.readManifest(spark, st)) == first)
    assert(first == oneShot)
    CorpusPipeline.reset(spark, st)
  }

  test("predecessor rule is prefix-stable: appends never touch history") {
    // Crafted corpus: docs 1 and 2 share a 60-word core but differ in
    // 21-word tails (jaccard 58/100 = 0.58 < 0.6 — NOT near-dups), while
    // doc 3 = core + both tails is a near-dup of each (0.79 and 0.755).
    // Cluster-canonical keep would merge {1,2,3} through the doc-3
    // bridge and drop doc 2 on the full corpus; the predecessor rule
    // keeps 1 and 2 (no EARLIER near-dup) and drops only 3 — so
    // history's survivor set, and therefore its already-shipped shards,
    // are immutable under append.
    import spark.implicits._
    val core = (1 to 60).map(i => s"core$i").mkString(" ")
    val tailX = (1 to 21).map(i => s"ex$i").mkString(" ")
    val tailY = (1 to 21).map(i => s"why$i").mkString(" ")
    val a = s"$core $tailX"
    val b = s"$core $tailY"
    val hist = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val full = hist.union(
      Seq((3L, s"$core $tailX $tailY")).toDF("doc_id", "text"))
    val one = rowsOf(CorpusPipeline.manifest(full, "doc_id", "text"))
    val st = CorpusPipeline.State("pipe_spec_stable")
    CorpusPipeline.buildHistory(spark, hist, "doc_id", "text", st)
    val histShards = rowsOf(CorpusPipeline.readManifest(spark, st))
    CorpusPipeline.appendBatch(spark,
      Seq((3L, a + " " + b)).toDF("doc_id", "text"),
      "doc_id", "text", st, "b1")
    val merged = rowsOf(CorpusPipeline.readManifest(spark, st))
    assert(merged == one)
    // Doc 3 was dropped, so the append added nothing: history rows
    // survive byte-identically.
    assert(merged == histShards)
    CorpusPipeline.reset(spark, st)
  }

  test("the exact-dedup history probe never reads stored text") {
    val st = CorpusPipeline.State("pipe_spec_plan")
    CorpusPipeline.buildHistory(spark,
      docs.filter(col("doc_id") <= 399), "doc_id", "text", st)
    val q = CorpusPipeline.qualitySurvivors(
        docs.filter(col("doc_id") > 399), "doc_id", "text")
      .withColumn("fingerprint",
        graft.functions.TextFunctions.fingerprint(col("text")))
    val plan = CorpusPipeline.exactFresh(spark, q, "doc_id", st, "b1")
      .queryExecution.executedPlan.toString
    // The persisted meta side must arrive as a pruned parquet scan —
    // fingerprint (plus the partition column) only, no text, no toks:
    // the increment's history cost is one thin column, not a re-read.
    val metaScans = plan.linesIterator
      .filter(l => l.contains("doc_meta") && l.contains("ReadSchema"))
      .toList
    assert(metaScans.nonEmpty, s"no doc_meta scan in plan:\n$plan")
    assert(metaScans.forall(l =>
      l.contains("ReadSchema: struct<fingerprint:string>")),
      s"meta scan reads more than the fingerprint column:\n$metaScans")
    assert(plan.contains("LeftAnti"),
      "history fingerprint probe must plan as an anti join")
    CorpusPipeline.reset(spark, st)
  }

  // ---- Takedown (p10) contracts --------------------------------------

  /** Crafted corpus with a known evidence chain: 100 is a quality doc,
    * 101 a near-dup of it (predecessor 100), 102 an exact copy of 100,
    * 103/104 unrelated. Deleting 100 must take the family {100, 102}
    * and RESURRECT 101 (its only predecessor was family). */
  private def craftedDocs: DataFrame = {
    import spark.implicits._
    def words(seed: Int, n: Int): String =
      (0 until n).map(i => s"alpha${seed}x$i").mkString(" ")
    val base = words(1, 60)
    val nearDup = words(1, 58) + " omega one two"
    Seq(
      (100L, base), (101L, nearDup), (102L, base),
      (103L, words(7, 55)), (104L, words(9, 70)))
      .toDF("doc_id", "text")
  }

  test("delete takes the exact family and resurrects near-dup victims' " +
      "survivors; replay is a no-op") {
    val st = CorpusPipeline.State("pipe_del_spec")
    CorpusPipeline.buildHistory(spark,
      craftedDocs.filter(col("doc_id") <= 102), "doc_id", "text", st)
    CorpusPipeline.appendBatch(spark,
      craftedDocs.filter(col("doc_id") > 102), "doc_id", "text", st, "b1")
    // Pre-delete: 101 (near-dup of 100) and 102 (exact copy) are absent.
    val preDocs = spark.table(st.shardsRel)
      .agg(sum(col("n_docs"))).head.getLong(0)
    assert(preDocs == 3, s"expected survivors {100,103,104}: $preDocs")
    import spark.implicits._
    val (n, affected, _) = CorpusPipeline.delete(spark, st,
      Seq(100L).toDF("doc_id"))
    assert(n == 2, "family must be {100, 102}")
    assert(affected.nonEmpty)
    val post = rowsOf(CorpusPipeline.readManifest(spark, st))
    val oneShotSurvivors = rowsOf(CorpusPipeline.manifest(
      craftedDocs.filter(!col("doc_id").isin(100L, 102L)),
      "doc_id", "text"))
    assert(post == oneShotSurvivors,
      "post-delete state must equal the one-shot pipeline over the " +
        s"corpus minus the family: $post vs $oneShotSurvivors")
    // 101 is back in the manifest range.
    assert(post.exists { case (_, _, _, first, last) =>
      first <= 101L && 101L <= last })
    // Replay: the family is gone from doc_meta, so nothing is touched.
    assert(CorpusPipeline.delete(spark, st, Seq(100L).toDF("doc_id"))
      == ((0L, Nil, Nil)))
    CorpusPipeline.reset(spark, st)
  }

  /** Part-file paths, relative to their table's location, of every
    * state table — what a takedown that touches nothing leaves
    * unchanged. */
  private def stateFiles(rels: Seq[String]): Map[String, Set[String]] = {
    import org.apache.spark.sql.catalyst.TableIdentifier
    def parts(dir: java.io.File, prefix: String): Seq[String] =
      dir.listFiles().toSeq.flatMap { f =>
        if (f.isDirectory) parts(f, s"$prefix${f.getName}/")
        else if (f.getName.startsWith("part-")) Seq(prefix + f.getName)
        else Nil
      }
    rels.filter(spark.catalog.tableExists).map { rel =>
      val Array(schema, name) = rel.split('.')
      rel -> parts(new java.io.File(new java.net.URI(spark.sessionState
        .catalog.getTableMetadata(TableIdentifier(name, Some(schema)))
        .location.toString)), "").toSet
    }.toMap
  }

  private def stateFiles(st: CorpusPipeline.State): Map[String, Set[String]] =
    stateFiles(baseRels(st))

  private def baseRels(st: CorpusPipeline.State): Seq[String] =
    Seq(st.metaRel, st.shardsRel, st.fencesRel, st.dedup.shinglesRel,
      st.dedup.bucketsRel, st.dedup.pairsRel)

  test("the snapshot-derived survivor set of a resurrecting takedown " +
      "equals the one read back from the rewritten tables") {
    val st = CorpusPipeline.State("pipe_snap_spec")
    CorpusPipeline.buildHistory(spark,
      craftedDocs.filter(col("doc_id") <= 102), "doc_id", "text", st)
    CorpusPipeline.appendBatch(spark,
      craftedDocs.filter(col("doc_id") > 102), "doc_id", "text", st, "b1")
    import spark.implicits._
    def ids(df: DataFrame): Set[Long] =
      df.select(col("doc_id")).as[Long].collect().toSet
    // 101's only near-dup predecessor is 100, so taking 100 down
    // (family {100, 102}) resurrects it.
    val victims = Seq(100L).toDF("doc_id")
    val meta = spark.table(st.metaRel)
    val family = CorpusPipeline.takedownFamily(meta, victims)
    val (metaLeft, pairsLeft) =
      CorpusPipeline.withoutFamily(spark, st, meta, family)
    val snapshot = ids(CorpusPipeline.packedSet(metaLeft, pairsLeft))
    assert(snapshot == Set(101L, 103L, 104L), snapshot.toString)
    assert(CorpusPipeline.delete(spark, st, victims)._1 == 2)
    val readBack = ids(CorpusPipeline.packedSet(spark.table(st.metaRel),
      DedupStore.allPairs(spark, st.dedup)))
    assert(readBack == snapshot)
    // A replayed takedown finds no family and touches no file.
    val before = stateFiles(st)
    assert(CorpusPipeline.delete(spark, st, victims) == ((0L, Nil, Nil)))
    assert(stateFiles(st) == before)
    CorpusPipeline.reset(spark, st)
  }

  test("delete leaves batches wholly before the family untouched") {
    val st = CorpusPipeline.State("pipe_del_prefix")
    CorpusPipeline.buildHistory(spark,
      docs.filter(col("doc_id") <= 249), "doc_id", "text", st)
    CorpusPipeline.appendBatch(spark,
      docs.filter(col("doc_id") > 249), "doc_id", "text", st, "b1")
    import spark.implicits._
    // A victim deep in b1 (the batch's last quality survivor): the base
    // batch's partials must not be rewritten (the affected list is the
    // proof — and the repack offset is read off those untouched rows).
    val victim = spark.table(st.metaRel)
      .agg(max(col("doc_id"))).head.getLong(0)
    assert(victim > 249L)
    val (n, affected, _) = CorpusPipeline.delete(spark, st,
      Seq(victim).toDF("doc_id"))
    assert(n >= 1)
    assert(affected == Seq("b1"), s"only b1 may be re-packed: $affected")
    CorpusPipeline.reset(spark, st)
  }

  test("epoch fences bound a takedown: epochs without changed docs " +
      "keep their shard partials byte-for-byte") {
    import spark.implicits._
    // craftedDocs' whole evidence chain (family {100, 102}, resurrected
    // 101) lives in the bootstrap; docs 103/104 arrive AFTER a fence.
    // Without fences the delete would re-pack b1 too (its pack offsets
    // depend on epoch-0 content); the committed fence pins b1's start,
    // so the delete must not touch it — affected stays epoch-0-only and
    // b1's partial rows survive byte-identically.
    val st = CorpusPipeline.State("fence_bound_spec")
    CorpusPipeline.buildHistory(spark,
      craftedDocs.filter(col("doc_id") <= 102), "doc_id", "text", st)
    val committed = CorpusPipeline.fence(spark, st)
    // Pre-delete epoch 0 packs 60 tokens (only doc 100 survives of
    // {100, 101, 102}) -> the fence commits the next SeqLen multiple.
    assert(committed == CorpusPipeline.SeqLen)
    CorpusPipeline.appendBatch(spark,
      craftedDocs.filter(col("doc_id") > 102), "doc_id", "text", st, "b1")
    def b1Rows() = spark.table(st.shardsRel)
      .filter(col("batch_id") === "b1")
      .collect().map(_.toString).sorted.toSeq
    val before = b1Rows()
    assert(before.nonEmpty)
    val (n, affected, _) = CorpusPipeline.delete(spark, st,
      Seq(100L).toDF("doc_id"))
    assert(n == 2)
    assert(affected == Seq("base"),
      s"only the bootstrap epoch may re-pack: $affected")
    assert(b1Rows() == before, "the fenced epoch's partials must " +
      "survive the takedown byte-for-byte")
    // The repaired manifest: 101 resurrects into epoch 0 (pack 0 from
    // offset 0), b1's docs keep their committed epoch-1 offsets.
    val m = CorpusPipeline.readManifest(spark, st)
      .orderBy(col("pack_id")).collect()
    assert(m.head.getLong(0) == 0L &&
      m.head.getAs[Long]("first_doc") == 101L)
    assert(m.tail.forall(_.getLong(0) >=
      committed / CorpusPipeline.SeqLen))
    CorpusPipeline.reset(spark, st)
  }

  test("replaying a batch after a fence is idempotent (crash between " +
      "fence commit and append)") {
    import org.apache.spark.sql.functions.max
    // The at-least-once window a foreachBatch driver hits: the fence
    // committed, the first append attempt died mid-write, the batch
    // replays. The replay must overwrite exactly its own partition and
    // pack from the SAME fence offset (the epoch filter excludes the
    // half-written partition from the offset aggregate).
    val st = CorpusPipeline.State("fence_replay_spec")
    CorpusPipeline.buildHistory(spark,
      docs.filter(col("doc_id") <= 299), "doc_id", "text", st)
    CorpusPipeline.fence(spark, st)
    val batch = docs.filter(col("doc_id") > 299)
    CorpusPipeline.appendBatch(spark, batch, "doc_id", "text", st, "b1")
    val first = rowsOf(CorpusPipeline.readManifest(spark, st))
    CorpusPipeline.appendBatch(spark, batch, "doc_id", "text", st, "b1")
    assert(rowsOf(CorpusPipeline.readManifest(spark, st)) == first)
    // And a second fence after the replay commits a strictly larger
    // offset (the epoch really accumulated the batch exactly once).
    val off2 = CorpusPipeline.fence(spark, st)
    val lastPack = spark.table(st.shardsRel)
      .agg(max(col("pack_id"))).head.getLong(0)
    assert(off2 / CorpusPipeline.SeqLen > lastPack,
      s"second fence $off2 must clear the last pack $lastPack")
    CorpusPipeline.reset(spark, st)
  }

  test("cross-epoch resurrection: a victim in epoch 0 re-packs the " +
      "epoch-1 batch holding its resurrected near-dup") {
    import spark.implicits._
    // The multi-epoch repack path p14 doesn't isolate (its victims
    // spread across every epoch): family wholly in epoch 0, but the
    // victim's only near-dup successor lives BEHIND the fence in epoch
    // 1 — deleting the victim resurrects it there, so BOTH epochs
    // re-pack, each from its own committed offset, while the unrelated
    // epoch-1 content keeps its pack ids.
    def words(seed: Int, n: Int): String =
      (0 until n).map(i => s"beta${seed}x$i").mkString(" ")
    val base = words(1, 60)
    val nearDup = words(1, 58) + " omega one two"
    val hist = Seq((100L, base), (101L, words(7, 55)))
      .toDF("doc_id", "text")
    val late = Seq((200L, nearDup), (201L, words(9, 70)))
      .toDF("doc_id", "text")
    val st = CorpusPipeline.State("fence_xepoch_spec")
    CorpusPipeline.buildHistory(spark, hist, "doc_id", "text", st)
    val committed = CorpusPipeline.fence(spark, st)
    CorpusPipeline.appendBatch(spark, late, "doc_id", "text", st, "b1")
    // Pre-delete: 200 is a near-dup of 100 and absent from the packs.
    val preDocs = spark.table(st.shardsRel)
      .agg(sum(col("n_docs"))).head.getLong(0)
    assert(preDocs == 3, s"expected survivors {100,101,201}: $preDocs")
    val (n, affected, _) = CorpusPipeline.delete(spark, st,
      Seq(100L).toDF("doc_id"))
    assert(n == 1)
    assert(affected.toSet == Set("base", "b1"),
      s"both epochs hold changes (family + resurrection): $affected")
    val m = CorpusPipeline.readManifest(spark, st)
      .orderBy(col("pack_id"), col("first_doc")).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("first_doc"),
        r.getAs[Long]("last_doc"), r.getAs[Long]("pack_tokens")))
    // Epoch 0 packs only 101 from offset 0; epoch 1 packs the
    // RESURRECTED 200 and the untouched 201 from the committed fence.
    assert(m.exists { case (p, f, l, t) =>
      p == 0L && f == 101L && l == 101L && t == 55L }, m.mkString(","))
    assert(m.exists { case (p, f, _, _) =>
      p == committed / CorpusPipeline.SeqLen && f == 200L },
      m.mkString(","))
    assert(m.map(_._4).sum == 55L + 61L + 70L)
    CorpusPipeline.reset(spark, st)
  }

  test("takedown overflow re-fences forward: a resurrection larger " +
      "than the removed family bumps the successor fence, cascades " +
      "until absorbed, and untouched later epochs keep their partials") {
    import spark.implicits._
    // The latent wrong-answer path: a closed epoch's fence headroom is
    // < SeqLen by construction (here exactly 3 tokens), so resurrecting
    // a near-dup with MORE tokens than the removed family pushes the
    // re-packed epoch past its committed fence — without the re-fence
    // policy its packs would reuse epoch-1's pack_ids and readManifest
    // would silently merge non-adjacent document runs.
    def words(seed: Int, n: Int): String =
      (0 until n).map(i => s"gamma${seed}x$i").mkString(" ")
    val base = words(1, 60)
    // 64 words sharing base's 60 as a prefix: trigram jaccard 58/62 =
    // 0.935 — a near-dup of 100 with FOUR more tokens.
    val bigger = base + " " + words(2, 4)
    val epoch0 = Seq((100L, base), (101L, bigger), (102L, words(5, 1985)))
      .toDF("doc_id", "text")
    val b1 = Seq((200L, words(7, 2100)), (201L, words(9, 52)))
      .toDF("doc_id", "text")
    val b2 = Seq((300L, words(11, 66))).toDF("doc_id", "text")
    val st = CorpusPipeline.State("fence_overflow_spec")
    CorpusPipeline.buildHistory(spark, epoch0, "doc_id", "text", st)
    // Epoch 0 survivors {100: 60, 102: 1985} = 2045 tokens -> the fence
    // commits 2048, leaving 3 tokens of headroom.
    assert(CorpusPipeline.fence(spark, st) == 2048L)
    CorpusPipeline.appendBatch(spark, b1, "doc_id", "text", st, "b1")
    // Epoch 1 holds 2152 tokens (cursor 4200) -> fence commits 6144.
    assert(CorpusPipeline.fence(spark, st) == 6144L)
    CorpusPipeline.appendBatch(spark, b2, "doc_id", "text", st, "b2")
    def b2Rows() = spark.table(st.shardsRel)
      .filter(col("batch_id") === "b2")
      .collect().map(_.toString).sorted.toSeq
    def fences() = spark.table(st.fencesRel).orderBy(col("epoch"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    // Takedown A shrinks epoch 1 (2152 -> 52 tokens), creating the
    // >= SeqLen slack under fence 2 that lets takedown B's bump absorb.
    val (nA, affA, _) = CorpusPipeline.delete(spark, st,
      Seq(200L).toDF("doc_id"))
    assert(nA == 1 && affA == Seq("b1"))
    assert(fences() == Seq((1, 2048L), (2, 6144L)),
      "a shrinking takedown never moves a fence")
    val b2Before = b2Rows()
    // Takedown B: removing 100 (60 toks) resurrects 101 (64 toks) —
    // epoch 0's cursor lands at 2049, one token past its fence.
    val (nB, affB, _) = CorpusPipeline.delete(spark, st,
      Seq(100L).toDF("doc_id"))
    assert(nB == 1)
    // Epoch 0 re-packs (the change), epoch 1 re-packs (its start
    // shifted 2048 -> 4096), epoch 2 absorbs (6144 already clears the
    // shifted epoch-1 cursor 4148) and keeps its partials byte-for-byte.
    assert(affB.toSet == Set("base", "b1"), s"cascade span: $affB")
    assert(b2Rows() == b2Before,
      "the absorbing epoch's partials must survive byte-for-byte")
    assert(fences() == Seq((1, 4096L), (2, 6144L)),
      "the overflowed fence re-commits; the absorbing fence holds")
    val m = CorpusPipeline.readManifest(spark, st)
      .orderBy(col("pack_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getAs[Long]("first_doc"), r.getAs[Long]("last_doc"))).toSeq
    // No pack_id is owned by two epochs: epoch 0 fills pack 0 (2049
    // tokens — a legal boundary-straddling pack), epoch 1 packs from
    // the RE-committed 4096, epoch 2 from its original 6144.
    assert(m == Seq(
      (0L, 2L, 2049L, 101L, 102L),
      (2L, 1L, 52L, 201L, 201L),
      (3L, 1L, 66L, 300L, 300L)), m.mkString(", "))
    // The live epoch continues from the re-committed schedule: a later
    // append merges into epoch 2's boundary pack, never epoch 1's range.
    CorpusPipeline.appendBatch(spark,
      Seq((400L, words(13, 60))).toDF("doc_id", "text"),
      "doc_id", "text", st, "b3")
    val tail = CorpusPipeline.readManifest(spark, st)
      .filter(col("pack_id") === 3L).collect().head
    assert(tail.getAs[Long]("n_docs") == 2 &&
      tail.getAs[Long]("pack_tokens") == 126 &&
      tail.getAs[Long]("last_doc") == 400L)
    CorpusPipeline.reset(spark, st)
  }

  /** The resurrection fixture, text and embeddings (`doc_id`/`vec_id`
    * 100–106). 100 near-dup-drops 101 (text), and 100's embedding is
    * ORTHOGONAL to the rest; 101's embedding equals 102's (cos = 1 ≥
    * tau). Under the autoK policy this tiny pool trains k = 1, so every
    * vector shares the single cluster, and the only pair with cosine ≥
    * tau is that EQUAL pair (every other vector is hot on a distinct
    * dimension, cos = 0) — all the predecessor chain needs. 106 is alone
    * in its batch. */
  private def resurrection: (DataFrame, DataFrame) = {
    import spark.implicits._
    def words(seed: Int, n: Int): String =
      (0 until n).map(i => s"alpha${seed}x$i").mkString(" ")
    val base = words(1, 60)
    val nearDup = words(1, 58) + " omega one two"
    val docs = Seq(
      (100L, base), (101L, nearDup), (102L, words(3, 55)),
      (103L, words(5, 55)), (104L, words(7, 70)), (105L, words(9, 52)),
      (106L, words(11, 57)))
      .toDF("doc_id", "text")
    def e(hot: Int, soft: Int = -1): Seq[Float] =
      (0 until 8).map(d => if (d == hot) 1.0f
        else if (d == soft) 0.1f else 0.0f)
    val emb = Seq(
      (100L, e(0)), (101L, e(1, 2)), (102L, e(1, 2)),
      (103L, e(4)), (104L, e(5)), (105L, e(6)), (106L, e(7)))
      .toDF("vec_id", "embedding")
    (docs, emb)
  }

  /** History 100–103, batch b1 = 104–105 and, with `withB2`, batch b2 =
    * 106 alone. */
  private def buildResurrection(st: CorpusPipeline.FullState,
      withB2: Boolean): Unit = {
    import spark.implicits._
    val (docs, emb) = resurrection
    val bench = Seq((9000L, (0 until 60).map(i => s"alpha99x$i")
      .mkString(" "))).toDF("doc_id", "text")
    CorpusPipeline.buildHistoryFull(spark,
      docs.filter(col("doc_id") <= 103), emb.filter(col("vec_id") <= 103),
      bench, "doc_id", "text", "vec_id", "embedding", st)
    CorpusPipeline.appendBatchFull(spark,
      docs.filter(col("doc_id").between(104, 105)),
      emb.filter(col("vec_id").between(104, 105)),
      "doc_id", "text", "vec_id", "embedding", st, "b1")
    if (withB2) CorpusPipeline.appendBatchFull(spark,
      docs.filter(col("doc_id") === 106), emb.filter(col("vec_id") === 106),
      "doc_id", "text", "vec_id", "embedding", st, "b2")
  }

  test("full-recipe delete: a resurrected doc re-enters the semantic " +
      "stage and drops the successor it always would have") {
    import spark.implicits._
    // The chain p11's oracle covers in aggregate, pinned doc by doc.
    // Pre-delete: 101 never reaches the semantic stage, 102 keeps.
    // Delete 100: 101 resurrects at stage 3, re-ingests into the frozen
    // store MID-HISTORY, and as 102's predecessor drops it — the
    // one-shot answer over the corpus minus the victim.
    val (_, emb) = resurrection
    val st = CorpusPipeline.FullState("full_del_spec")
    buildResurrection(st, withB2 = false)
    def keeps() = SemanticStore.keeps(spark, st.sem, "vec_id")
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val pre = keeps()
    assert(!pre.contains(101L), "101 is a near-dup drop pre-delete")
    assert(pre(102L), "102 keeps pre-delete (100 is orthogonal)")
    val (n, _, _) = CorpusPipeline.deleteFull(spark, st,
      Seq(100L).toDF("doc_id"), emb, "vec_id", "embedding")
    assert(n == 1)
    val post = keeps()
    assert(!post.contains(100L), "the victim leaves the store")
    assert(post(101L),
      "the resurrected doc re-enters the store and keeps")
    assert(!post(102L),
      "the resurrected predecessor drops its semantic successor")
    // Manifest = the one-shot over {101, 103, 104, 105}.
    val m = CorpusPipeline.readManifest(spark, st.base)
      .agg(sum(col("n_docs")), sum(col("pack_tokens"))).head()
    assert(m.getLong(0) == 4, s"4 final survivors, got ${m.getLong(0)}")
    assert(m.getLong(1) == 61 + 55 + 70 + 52) // 101's 61 toks included
    // Replay is a no-op.
    assert(CorpusPipeline.deleteFull(spark, st, Seq(100L).toDF("doc_id"),
      emb, "vec_id", "embedding") == ((0L, Nil, Nil)))
    CorpusPipeline.resetFull(spark, st)
  }

  /** The seven tables a full-recipe takedown may rewrite. */
  private def fullRels(st: CorpusPipeline.FullState): Seq[String] =
    baseRels(st.base) :+ st.sem.vectorsRel

  /** Every row of every table in `rels`, keyed by table name — two schemas' states compare equal iff their tables
    * hold the same rows. */
  private def tableRows(rels: Seq[String]): Map[String, Set[String]] =
    rels.filter(spark.catalog.tableExists).map { rel =>
      val t = spark.table(rel)
      rel.split('.')(1) -> t.select(t.columns.sorted.map(col): _*)
        .collect().map(_.toString).toSet
    }.toMap

  test("full-recipe delete: committing the semantic repair beside the " +
      "re-pack leaves the seven tables as repair-then-re-pack does; a " +
      "replay writes nothing") {
    import spark.implicits._
    val (_, emb) = resurrection
    // Victims 100 (resurrects 101 into the base partition) and 106 (the
    // only row of semantic partition b2, which the repair empties).
    val victims = Seq(100L, 106L).toDF("doc_id")
    val split = CorpusPipeline.FullState("full_split_spec")
    val serial = CorpusPipeline.FullState("full_serial_spec")
    buildResurrection(split, withB2 = true)
    buildResurrection(serial, withB2 = true)
    // Serial: the whole repair commits first (the family leaves and the
    // resurrected 101 re-enters its original partition), then the
    // takedown, whose repair plan finds nothing left to do, re-packs
    // under the committed verdicts.
    val meta = spark.table(serial.base.metaRel)
    val family = CorpusPipeline.takedownFamily(meta, victims)
    val (metaLeft, pairsLeft) =
      CorpusPipeline.withoutFamily(spark, serial.base, meta, family)
    val surv3 = CorpusPipeline.packedSet(metaLeft, pairsLeft)
    val resurrected = surv3.join(
      spark.table(serial.sem.vectorsRel).select(col("vid")),
      col("doc_id") === col("vid"), "left_anti")
    val inserts = emb.join(resurrected, emb("vec_id") === col("doc_id"))
      .select(col("vec_id").as("vid"), col("embedding").as("vec"),
        col("batch_id"))
    assert(SemanticStore.repair(spark, serial.sem, family, "doc_id",
      Some(inserts)) == ((Seq("b1", "b2", "base"), Seq("b2"))))
    assert(CorpusPipeline.deleteFull(spark, serial, victims, emb, "vec_id",
      "embedding")._1 == 2)
    assert(CorpusPipeline.deleteFull(spark, split, victims, emb, "vec_id",
      "embedding")._1 == 2)
    val post = tableRows(fullRels(split))
    assert(post == tableRows(fullRels(serial)))
    assert(SemanticStore.keeps(spark, split.sem, "vec_id")
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap ==
      Map(101L -> true, 102L -> false, 103L -> true, 104L -> true,
        105L -> true))
    // A replayed takedown finds no family and touches no file.
    val before = stateFiles(fullRels(split))
    assert(CorpusPipeline.deleteFull(spark, split, victims, emb, "vec_id",
      "embedding") == ((0L, Nil, Nil)))
    assert(stateFiles(fullRels(split)) == before)
    Seq(split, serial).foreach(CorpusPipeline.resetFull(spark, _))
  }

  // ---- Full-recipe (p07/p08) contracts ------------------------------

  private def emb: DataFrame =
    Tables(spark, "/root/testdata/sf0.001", "embeddings")

  test("full recipe: build + two appends equals build + one combined " +
      "append (multi-batch accumulation under the frozen codebook)") {
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val bench = docs.filter(col("doc_id") % 5 === 0)
    val cEmb = emb.filter(col("vec_id") % 5 =!= 0)
    def run(name: String, splits: Seq[Long]): Set[(Long, Long, Long, Long, Long)] = {
      val st = CorpusPipeline.FullState(name)
      CorpusPipeline.buildHistoryFull(spark,
        corpus.filter(col("doc_id") <= 299),
        cEmb.filter(col("vec_id") <= 299), bench,
        "doc_id", "text", "vec_id", "embedding", st)
      splits.sliding(2).zipWithIndex.foreach { case (Seq(lo, hi), i) =>
        CorpusPipeline.appendBatchFull(spark,
          corpus.filter(col("doc_id") > lo && col("doc_id") <= hi),
          cEmb.filter(col("vec_id") > lo && col("vec_id") <= hi),
          "doc_id", "text", "vec_id", "embedding", st, s"b$i")
      }
      val out = rowsOf(CorpusPipeline.readManifest(spark, st.base))
      CorpusPipeline.resetFull(spark, st)
      out
    }
    val twoBatches = run("full_spec_a", Seq(299L, 399L, 499L))
    val oneBatch = run("full_spec_b", Seq(299L, 499L))
    assert(twoBatches.nonEmpty)
    assert(twoBatches == oneBatch)
  }

  test("full recipe: replaying a batch is idempotent across all seven " +
      "state tables") {
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val bench = docs.filter(col("doc_id") % 5 === 0)
    val cEmb = emb.filter(col("vec_id") % 5 =!= 0)
    val st = CorpusPipeline.FullState("full_spec_replay")
    CorpusPipeline.buildHistoryFull(spark,
      corpus.filter(col("doc_id") <= 399),
      cEmb.filter(col("vec_id") <= 399), bench,
      "doc_id", "text", "vec_id", "embedding", st)
    def append(): Unit = CorpusPipeline.appendBatchFull(spark,
      corpus.filter(col("doc_id") > 399),
      cEmb.filter(col("vec_id") > 399),
      "doc_id", "text", "vec_id", "embedding", st, "b1")
    append()
    val first = rowsOf(CorpusPipeline.readManifest(spark, st.base))
    val firstKeeps = SemanticStore.keeps(spark, st.sem, "vec_id")
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).toSet
    append()
    assert(rowsOf(CorpusPipeline.readManifest(spark, st.base)) == first)
    assert(SemanticStore.keeps(spark, st.sem, "vec_id")
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).toSet
      == firstKeeps)
    CorpusPipeline.resetFull(spark, st)
  }

  test("the full recipe trains the autoK-policy k, not a hand-tuned " +
      "constant") {
    // The production default: buildHistoryFull sizes the codebook from
    // the training pool it is handed (k = |pool| / target cluster
    // size), so a 10x corpus trains ~10x clusters and per-cluster
    // quadratic search work stays bounded. The persisted codebook's
    // row count is the proof the policy — not a constant — ran.
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val bench = docs.filter(col("doc_id") % 5 === 0)
    val pool = emb.filter(col("vec_id") % 5 =!= 0)
    val st = CorpusPipeline.FullState("full_autok_spec")
    CorpusPipeline.buildHistoryFull(spark, corpus, pool, bench,
      "doc_id", "text", "vec_id", "embedding", st)
    val k = spark.table(st.sem.codebookRel).count()
    assert(k == SemanticStore.autoK(pool.count()),
      s"codebook has $k centroids; policy says " +
        s"${SemanticStore.autoK(pool.count())}")
    CorpusPipeline.resetFull(spark, st)
  }

  test("full-recipe funnel stages are monotone and the last two fire " +
      "on this corpus") {
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val f = CorpusPipeline.fullFunnel(corpus,
      emb.filter(col("vec_id") % 5 =!= 0),
      docs.filter(col("doc_id") % 5 === 0),
      "doc_id", "text", "vec_id", "embedding").head()
    val stages = Seq("n_raw", "n_quality", "n_exact", "n_neardup",
      "n_semantic", "n_clean").map(f.getAs[Long])
    assert(stages == stages.sorted.reverse,
      s"funnel must be monotone non-increasing: $stages")
    // The composed gate proves nothing about a stage that never drops:
    // pin that near-dup, semantic, and decontam each remove at least one
    // document on the fixture corpus.
    assert(f.getAs[Long]("n_neardup") < f.getAs[Long]("n_exact"))
    assert(f.getAs[Long]("n_semantic") < f.getAs[Long]("n_neardup"))
    assert(f.getAs[Long]("n_clean") < f.getAs[Long]("n_semantic"))
  }

  test("funnel counts are consistent with the manifest") {
    val f = CorpusPipeline.funnel(docs, "doc_id", "text").head()
    val m = CorpusPipeline.manifest(docs, "doc_id", "text")
      .agg(sum(col("n_docs")), sum(col("pack_tokens")),
        count(lit(1))).head()
    assert(f.getAs[Long]("n_survivors") == m.getLong(0))
    assert(f.getAs[Long]("total_tokens") == m.getLong(1))
    // n_packs is the training-sequence count ceil(tokens/SeqLen); the
    // manifest's row count can only be ≤ it (a document longer than the
    // window skips intermediate pack ids), with equality on corpora of
    // window-sized-or-shorter documents like this fixture.
    assert(f.getAs[Long]("n_packs") >= m.getLong(2))
    assert(f.getAs[Long]("n_packs") ==
      math.ceil(m.getLong(1).toDouble / CorpusPipeline.SeqLen).toLong)
    assert(f.getAs[Long]("n_raw") >= f.getAs[Long]("n_quality"))
    assert(f.getAs[Long]("n_quality") >= f.getAs[Long]("n_exact"))
    assert(f.getAs[Long]("n_exact") >= f.getAs[Long]("n_survivors"))
  }
}
