package graft.operators

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSuite
import graft.core.Tables
import graft.model.CatalogMaterializer

/** The takedown contract of [[StoreRetention]]: deletes rewrite ONLY
  * the partitions containing victims, drop partitions they empty, are
  * idempotent, and leave the store indistinguishable from one that
  * never ingested the victims (so future increments stay correct).
  */
class StoreRetentionSpec extends SparkSuite {

  private val T = 0.6
  private def docs: DataFrame =
    Tables(spark, "/root/testdata/sf0.001", "documents")

  /** partition dir → part-file name set, from the relation's location. */
  private def partFiles(rel: String): Map[String, Set[String]] = {
    import org.apache.spark.sql.catalyst.TableIdentifier
    val Array(schema, name) = rel.split('.')
    val loc = new File(new java.net.URI(spark.sessionState.catalog
      .getTableMetadata(TableIdentifier(name, Some(schema))).location
      .toString))
    loc.listFiles().filter(f => f.isDirectory && f.getName.contains("="))
      .map(d => d.getName ->
        d.listFiles().map(_.getName).filter(_.startsWith("part-")).toSet)
      .toMap
  }

  /** The stats the pre-aggregate protocol reported, recomputed read-only
    * before the delete runs: one sequential pass per match condition
    * (affected = partitions semi-joined with the victims, a before count,
    * the kept rows, their partitions, the after count), folded into one
    * entry per relation — the pair passes' union, as the one-rewrite
    * protocol reports them. */
  private def legacyStats(rel: String, ids: DataFrame,
      matches: Seq[StoreRetention.Match]): StoreRetention.DeleteStats = {
    var cur = spark.table(rel)
    var affected = Set.empty[String]
    var dropped = Set.empty[String]
    var deleted = 0L
    def parts(df: DataFrame): Set[String] =
      df.select(col("batch_id").cast("string")).distinct()
        .collect().map(_.getString(0)).toSet
    matches.foreach { m =>
      val hit = parts(cur.join(ids, m(cur, ids), "left_semi"))
      val scoped = cur.filter(col("batch_id").isin(hit.toSeq: _*))
      val kept = scoped.join(ids, m(scoped, ids), "left_anti")
      deleted += scoped.count() - kept.count()
      affected ++= hit
      dropped ++= hit -- parts(kept)
      cur = cur.join(ids, m(cur, ids), "left_anti")
    }
    StoreRetention.DeleteStats(rel, affected.toSeq.sorted,
      dropped.toSeq.sorted, deleted)
  }

  private def legacyDocStats(store: DedupStore,
      ids: DataFrame): Seq[StoreRetention.DeleteStats] = {
    val byDoc: StoreRetention.Match = (t, v) => t("doc_id") === v("doc_id")
    Seq(legacyStats(store.shinglesRel, ids, Seq(byDoc)),
      legacyStats(store.bucketsRel, ids, Seq(byDoc)),
      legacyStats(store.pairsRel, ids, Seq(
        (t, v) => t("doc_a") === v("doc_id"),
        (t, v) => t("doc_b") === v("doc_id"))))
  }

  /** `body`'s SQL executions, by the action name a QueryExecutionListener
    * receives (`collect`, `localCheckpoint`, `command`, …). */
  private def executions(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(f)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        seen.add(s"failed:$f")
    }
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      body
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
  }

  private def keyedTable(rel: String,
      rows: Seq[(Long, Long, String)]): Unit = {
    import spark.implicits._
    val mat = new CatalogMaterializer
    mat.dropRelation(spark, rel)
    mat.materializeIncremental(spark, rel,
      rows.toDF("doc_a", "doc_b", "batch_id"), Seq("batch_id"))
  }

  test("delete rewrites only the partitions containing victims") {
    val store = DedupStore("retention_spec")
    DedupStore.reset(spark, store)
    DedupStore.build(spark, docs.filter(col("doc_id") % 3 === 0),
      "doc_id", "text", T, store)
    DedupStore.appendBatch(spark, docs.filter(col("doc_id") % 3 === 1),
      "doc_id", "text", T, store, "b1")
    DedupStore.appendBatch(spark, docs.filter(col("doc_id") % 3 === 2),
      "doc_id", "text", T, store, "b2")
    val before = partFiles(store.shinglesRel)
    // Victims live ONLY in b1 (doc_id % 3 == 1).
    val victims = docs.filter(col("doc_id") % 3 === 1 &&
      col("doc_id") % 5 === 0).select(col("doc_id"))
    val nVictims = victims.count()
    assert(nVictims > 0)
    val legacy = legacyDocStats(store, victims)
    val stats = StoreRetention.deleteDocs(spark, store, victims)
    assert(stats == legacy, "one aggregate per relation must report what " +
      "the per-pass protocol reported")
    val sh = stats.head
    assert(sh.relation == store.shinglesRel)
    // <= not ==: a victim under 3 words never had a shingle row.
    assert(sh.affected == Seq("b1") && sh.rowsDeleted > 0 &&
      sh.rowsDeleted <= nVictims, sh.toString)
    val after = partFiles(store.shinglesRel)
    assert(after("batch_id=base") == before("batch_id=base"),
      "untouched partition was rewritten")
    assert(after("batch_id=b2") == before("batch_id=b2"),
      "untouched partition was rewritten")
    assert(after("batch_id=b1") != before("batch_id=b1"))
    // No victim remains anywhere in the store.
    Seq(store.shinglesRel, store.bucketsRel).foreach { rel =>
      assert(spark.table(rel).join(victims, Seq("doc_id"), "left_semi")
        .count() == 0, s"victims survive in $rel")
    }
    assert(DedupStore.allPairs(spark, store)
      .join(victims, col("doc_a") === col("doc_id") ||
        col("doc_b") === col("doc_id"), "left_semi").count() == 0)
    // Idempotent: same victims again → nothing affected, files stable.
    val again = StoreRetention.deleteDocs(spark, store, victims)
    assert(again.forall(s => s.affected.isEmpty && s.rowsDeleted == 0))
    assert(partFiles(store.shinglesRel) == after)
    DedupStore.reset(spark, store)
  }

  test("a partition emptied by the delete is dropped, not retained") {
    val store = DedupStore("retention_spec2")
    DedupStore.reset(spark, store)
    DedupStore.build(spark, docs.filter(col("doc_id") % 3 =!= 1),
      "doc_id", "text", T, store)
    DedupStore.appendBatch(spark, docs.filter(col("doc_id") % 3 === 1),
      "doc_id", "text", T, store, "doomed")
    // Delete the ENTIRE doomed batch: dynamic overwrite with an empty
    // frame would touch nothing — the drop path must fire.
    val doomed = docs.filter(col("doc_id") % 3 === 1).select(col("doc_id"))
    val legacy = legacyDocStats(store, doomed)
    val stats = StoreRetention.deleteDocs(spark, store, doomed)
    assert(stats == legacy)
    assert(stats.head.dropped == Seq("doomed"), stats.head.toString)
    assert(BatchCommit.batchIds(spark, store.shinglesRel) ==
      Seq("base"))
    // The survivors equal a store that never saw the doomed batch.
    val oneShot = Dedup.minhashLshPairs(
      docs.filter(col("doc_id") % 3 =!= 1), "doc_id", "text", T)
      .select(col("doc_a"), col("doc_b")).collect().map(_.toSeq).toSet
    assert(DedupStore.allPairs(spark, store)
      .select(col("doc_a"), col("doc_b")).collect().map(_.toSeq).toSet
      == oneShot)
    DedupStore.reset(spark, store)
  }

  test("post-delete increments dedupe against the surviving store only") {
    val store = DedupStore("retention_spec3")
    DedupStore.reset(spark, store)
    DedupStore.build(spark, docs.filter(col("doc_id") % 3 === 0),
      "doc_id", "text", T, store)
    DedupStore.appendBatch(spark, docs.filter(col("doc_id") % 3 === 1),
      "doc_id", "text", T, store, "b1")
    val victims = docs.filter(col("doc_id") % 10 === 7)
      .select(col("doc_id"))
    val legacy = legacyDocStats(store, victims)
    assert(StoreRetention.deleteDocs(spark, store, victims) == legacy)
    DedupStore.appendBatch(spark, docs.filter(col("doc_id") % 3 === 2),
      "doc_id", "text", T, store, "b2")
    val expected = Dedup.minhashLshPairs(
      docs.filter(col("doc_id") % 10 =!= 7 ||
        col("doc_id") % 3 === 2), "doc_id", "text", T)
      .select(col("doc_a"), col("doc_b")).collect().map(_.toSeq).toSet
    assert(DedupStore.allPairs(spark, store)
      .select(col("doc_a"), col("doc_b")).collect().map(_.toSeq).toSet
      == expected)
    DedupStore.reset(spark, store)
  }

  test("a rewrite runs three executions, an unaffected relation one, and " +
      "an emptying delete no truncate or write") {
    import spark.implicits._
    val rel = "retention_exec.pairs"
    keyedTable(rel, Seq((1L, 2L, "p1"), (3L, 4L, "p1"),
      (5L, 6L, "p2"), (7L, 8L, "p3")))
    val byA: Seq[StoreRetention.Match] =
      Seq((t, v) => t("doc_a") === v("doc_id"))
    var stats: StoreRetention.DeleteStats = null
    val rewrite = executions {
      stats = StoreRetention.deleteRows(spark, rel, Seq(1L).toDF("doc_id"), byA)
    }
    assert(stats.affected == Seq("p1") && stats.dropped.isEmpty &&
      stats.rowsDeleted == 1, stats.toString)
    assert(rewrite.size == 3 && rewrite.head == "collect" &&
      rewrite(1) == "localCheckpoint", rewrite.toString)
    val untouched = executions {
      stats = StoreRetention.deleteRows(spark, rel, Seq(99L).toDF("doc_id"),
        byA)
    }
    assert(stats == StoreRetention.DeleteStats(rel, Nil, Nil, 0L))
    assert(untouched == Seq("collect"), untouched.toString)
    // p2 and p3 both empty: the aggregate plus one drop each, nothing
    // truncated or written.
    val emptying = executions {
      stats = StoreRetention.deleteRows(spark, rel,
        Seq(5L, 7L).toDF("doc_id"), byA)
    }
    assert(stats.affected == Seq("p2", "p3") &&
      stats.dropped == Seq("p2", "p3") && stats.rowsDeleted == 2,
      stats.toString)
    assert(emptying.size == 3 && emptying.head == "collect" &&
      !emptying.contains("localCheckpoint"), emptying.toString)
    assert(spark.table(rel).as[(Long, Long, String)].collect().toSet ==
      Set((3L, 4L, "p1")))
    new CatalogMaterializer().dropRelation(spark, rel)
  }

  test("a pair row matching both sides is deleted and counted once") {
    import spark.implicits._
    val rel = "retention_exec.both"
    keyedTable(rel, Seq((1L, 2L, "p1"), (2L, 3L, "p1"),
      (4L, 5L, "p1"), (1L, 9L, "p2"), (0L, 1L, "p2"), (6L, 7L, "p2")))
    // Victims {1, 2}: (1,2) matches on both sides, (2,3) and (1,9) on
    // doc_a only, (0,1) on doc_b only. Four rows go, (4,5) and (6,7)
    // stay.
    val stats = StoreRetention.deleteRows(spark, rel,
      Seq(1L, 2L).toDF("doc_id"), Seq(
        (t, v) => t("doc_a") === v("doc_id"),
        (t, v) => t("doc_b") === v("doc_id")))
    assert(stats.rowsDeleted == 4 && stats.affected == Seq("p1", "p2") &&
      stats.dropped.isEmpty, stats.toString)
    assert(spark.table(rel).as[(Long, Long, String)].collect().toSet ==
      Set((4L, 5L, "p1"), (6L, 7L, "p2")))
    new CatalogMaterializer().dropRelation(spark, rel)
  }
}
