package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Learned byte-pair encoding — the real merge-table tokenizer (not the
  * regex approximation t05 keeps as its cheap twin): train `numMerges`
  * merges on the corpus vocabulary by iterated most-frequent-adjacent-
  * pair selection, then segment documents by replaying the merges in
  * rank order.
  *
  * The algorithm is defined in terms every engine implements
  * IDENTICALLY, which is what makes an exact DuckDB oracle possible for
  * a trained tokenizer:
  *
  *  - a word's working form is its symbols joined by `U+001F` with
  *    leading/trailing separators (`␟h␟e␟y␟`);
  *  - one merge step = ONE left-to-right non-overlapping string
  *    `replace` of `␟x␟y␟` → `␟xy␟` (Spark's `replace`, Java's
  *    `String.replace` and DuckDB's `replace` all share these
  *    semantics — the separators make token boundaries unambiguous, and
  *    a replacement can never create a fresh occurrence of the same
  *    pair since `xy` is a new longer symbol);
  *  - pair selection = max summed word-count weight, ties broken by
  *    (x, y) ascending — a total order, so training is deterministic.
  *
  * Scale shape (100 TB): training iterates over the VOCABULARY (one
  * corpus-wide word count, then |V|-sized frames — corpus-size-
  * independent), each iteration one partial+final aggregate and a
  * 1-row collect; application is MERGE-TABLE-AS-LITERALS — a map-only
  * chain of `numMerges` codegen'd replaces over the document scan, no
  * join, no shuffle, nothing broadcast but the expression tree itself.
  * Whole-document segmentation works because words are separated by a
  * space SYMBOL (`␟ ␟`) and trained merges never contain the space
  * symbol, so no merge crosses a word boundary.
  */
object Bpe {

  /** Unit separator: absent from the (ASCII, whitespace-tokenized)
    * corpus by construction — word symbols can never contain it. */
  val Sep = "\u001f"

  /** Corpus word vocabulary with counts and initial char-separated
    * working forms. */
  def vocabulary(docs: DataFrame, textCol: String): DataFrame =
    docs.filter(length(trim(col(textCol))) > 0)
      .select(explode(split(trim(col(textCol)), "\\s+")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .withColumn("rep",
        concat(lit(Sep), array_join(split(col("word"), ""), Sep), lit(Sep)))

  /** Train `numMerges` merges; returns them in rank order.
    *
    * Where training runs is a |V| question, not a corpus question: BPE
    * iterates over the WORD VOCABULARY (distinct word, count), which one
    * corpus-wide aggregation produces and which stays small no matter
    * how big the corpus gets (~10M entries for web-scale text — the
    * quantity every production tokenizer trainer holds in memory). So:
    *
    *  - |V| ≤ `maxLocalVocab`: ONE Spark job aggregates the vocabulary,
    *    then [[trainMergesLocal]] runs the standard incremental
    *    algorithm driver-side — pair counts update only for words the
    *    last merge touched, selection pops a lazy-deletion heap. 50 000
    *    merges are arithmetic, not 50 000 sequential Spark jobs (the
    *    scale cliff the old shape had: one full aggregate + 1-row
    *    collect PER MERGE).
    *  - |V| > `maxLocalVocab` (pathological vocabularies — no natural-
    *    language corpus reaches it): the distributed per-merge loop
    *    below, one aggregate + 1-row collect per merge, bound
    *    documented there.
    *
    * Both paths implement the identical total order (max summed count,
    * ties (a, b) ascending) and the identical left-to-right
    * non-overlapping merge, so the choice is invisible — BpeSpec pins
    * local ≡ distributed on the fixture corpus, and the t18 oracle
    * replays either. */
  def trainMerges(docs: DataFrame, textCol: String, numMerges: Int,
      maxLocalVocab: Long = 2000000L): Seq[(String, String)] = {
    val v = vocabulary(docs, textCol)
    if (v.count() <= maxLocalVocab) {
      val entries = v.select(col("cnt"), col("rep")).collect()
        .map(r => (r.getLong(0),
          r.getString(1).split(Sep).filter(_.nonEmpty)))
      trainMergesLocal(entries, numMerges)
    } else trainMergesDistributed(docs, textCol, numMerges)
  }

  /** The in-memory trainer: incremental pair counts over the collected
    * vocabulary — a merge re-counts ONLY the words that contained its
    * pair (tracked by an index with lazily-dropped stale entries), and
    * selection pops a lazy-deletion max-heap ordered (count desc, pair
    * asc). Exactly the distributed path's semantics, at in-memory
    * speed. */
  private[operators] def trainMergesLocal(
      entries: Array[(Long, Array[String])],
      numMerges: Int): Seq[(String, String)] = {
    import scala.collection.mutable
    val cnts = entries.map(_._1)
    val syms: Array[Array[String]] = entries.map(_._2)
    val counts = mutable.HashMap.empty[(String, String), Long]
    val hosts = mutable.HashMap.empty[(String, String), mutable.HashSet[Int]]
    def pairsOf(s: Array[String]): Iterator[(String, String)] =
      (1 until s.length).iterator.map(i => (s(i - 1), s(i)))
    def add(p: (String, String), wi: Int, d: Long): Unit = {
      counts.update(p, counts.getOrElse(p, 0L) + d)
      hosts.getOrElseUpdate(p, mutable.HashSet.empty) += wi
    }
    syms.indices.foreach { wi =>
      pairsOf(syms(wi)).foreach(p => add(p, wi, cnts(wi)))
    }
    // Max count first, then LOWEST (a, b) — the total order both paths
    // and the oracle share.
    val ord = new Ordering[(Long, String, String)] {
      def compare(x: (Long, String, String),
          y: (Long, String, String)): Int = {
        val c = java.lang.Long.compare(x._1, y._1)
        if (c != 0) c
        else {
          val ca = y._2.compareTo(x._2)
          if (ca != 0) ca else y._3.compareTo(x._3)
        }
      }
    }
    val heap = mutable.PriorityQueue.empty[(Long, String, String)](ord)
    counts.foreach { case ((a, b), n) => if (n > 0) heap.enqueue((n, a, b)) }
    val merges = mutable.ArrayBuffer.empty[(String, String)]
    var exhausted = false
    while (merges.length < numMerges && !exhausted) {
      // Pop until an entry matches the live count (lazy deletion).
      var best: Option[(String, String)] = None
      while (best.isEmpty && heap.nonEmpty) {
        val (n, a, b) = heap.dequeue()
        if (n > 0 && counts.getOrElse((a, b), 0L) == n)
          best = Some((a, b))
      }
      best match {
        case None => exhausted = true
        case Some((a, b)) =>
          merges += ((a, b))
          val ab = a + b
          val touched = mutable.HashSet.empty[(String, String)]
          hosts.get((a, b)).map(_.toArray).getOrElse(Array.empty)
            .foreach { wi =>
              val s = syms(wi)
              if (pairsOf(s).contains((a, b))) { // skip stale index rows
                pairsOf(s).foreach { p =>
                  counts.update(p, counts(p) - cnts(wi)); touched += p
                }
                // Left-to-right scan with String.replace's SEPARATOR
                // semantics: a match consumes `␟a␟b␟` including the
                // TRAILING separator, so the symbol immediately after a
                // merge has no leading separator and can never start
                // the next match — emit it unmerged before resuming.
                // ([a,a,a,a] → [aa,a,a], not the symbol-level [aa,aa];
                // the distributed path, segmented() and the DuckDB
                // oracles all share this scan.)
                val out = mutable.ArrayBuffer.empty[String]
                var i = 0
                while (i < s.length) {
                  if (i + 1 < s.length && s(i) == a && s(i + 1) == b) {
                    out += ab; i += 2
                    if (i < s.length) { out += s(i); i += 1 }
                  } else { out += s(i); i += 1 }
                }
                syms(wi) = out.toArray
                pairsOf(syms(wi)).foreach { p =>
                  add(p, wi, cnts(wi)); touched += p
                }
              }
            }
          touched.foreach { p =>
            val n = counts.getOrElse(p, 0L)
            if (n > 0) heap.enqueue((n, p._1, p._2))
          }
      }
    }
    merges.toSeq
  }

  /** The distributed per-merge loop — the |V|-exceeds-driver fallback.
    * Driver holds only the merge table (numMerges pairs) and a 1-row
    * result per iteration; the cost bound is ONE vocabulary aggregate +
    * collect PER MERGE (sequential by nature — merge k+1's counts
    * depend on merge k), so a 50k-merge vocabulary pays 50k Spark jobs
    * here: fine for the gated 20, and exactly why [[trainMerges]] routes
    * any vocabulary that fits the driver to [[trainMergesLocal]]. */
  private[operators] def trainMergesDistributed(docs: DataFrame,
      textCol: String, numMerges: Int): Seq[(String, String)] = {
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    // localCheckpoint per iteration: the vocabulary is tiny (|V| rows)
    // but an iterated withColumn chain over cached frames grows the
    // LOGICAL plan every step — lineage must be cut, not just cached
    // (the d05 label-propagation lesson).
    var v = vocabulary(docs, textCol).transform(graft.core.Checkpoints.truncate)
    var i = 0
    var exhausted = false
    while (i < numMerges && !exhausted) {
      val syms = split(trim(col("rep"), Sep), Sep)
      val best = v
        .filter(size(syms) >= 2)
        .select(col("cnt"), syms.as("s"))
        .select(col("cnt"), explode(expr(
          "transform(sequence(1, size(s)-1), " +
            "i -> struct(s[i-1] AS a, s[i] AS b))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("cnt")).as("n"))
        .orderBy(desc("n"), col("a"), col("b"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (a, b) = (best(0).getString(0), best(0).getString(1))
        merges += ((a, b))
        val prev = v
        v = v.withColumn("rep", mergeOnce(col("rep"), a, b))
          .transform(graft.core.Checkpoints.truncate)
        // Merge k's vocabulary is dead once merge k+1's is materialized.
        graft.core.Caches.release(prev)
        i += 1
      }
    }
    merges.toSeq
  }

  private def mergeOnce(rep: Column, a: String, b: String): Column =
    replace(rep, lit(Sep + a + Sep + b + Sep), lit(Sep + a + b + Sep))

  /** Segment whole documents with a trained merge table: normalized
    * whitespace becomes the space symbol, every char a symbol, then the
    * merges replay in rank order as a literal codegen'd replace chain.
    * Emits the separator-delimited segmented form (null for blank
    * docs). */
  def segmented(docs: DataFrame, textCol: String,
      merges: Seq[(String, String)]): Column = {
    val base = concat(lit(Sep),
      array_join(split(
        regexp_replace(trim(col(textCol)), "\\s+", " "), ""), Sep),
      lit(Sep))
    val rep = merges.foldLeft(base) { case (r, (a, b)) => mergeOnce(r, a, b) }
    when(length(trim(col(textCol))) === 0, lit(null)).otherwise(rep)
  }

  /** Token count of a segmented form (space symbols are word
    * boundaries, not tokens). */
  def tokenCountOf(seg: Column): Column =
    size(filter(split(trim(seg, Sep), Sep), s => s =!= " "))

  // ---- Persisted tokenizer lifecycle (gate t19). Training is the only
  // corpus-sized cost in the BPE tier; a production pipeline trains ONCE
  // on a frozen history slice, persists the merge table, and applies it
  // map-only to every future batch — retraining would silently change
  // token boundaries across shards. The merge table is tiny (numMerges
  // rows) but it is STATE, so it lives in the engine's atomic
  // full-refresh sink: a retrain is one pointer swap, readers never see
  // a half-written table, and time travel keeps the predecessor.

  /** Persist a trained merge table as an engine relation
    * `(rank, a, b)` — an atomic full replace (a retrain IS a replace). */
  def persistMerges(spark: org.apache.spark.sql.SparkSession,
      relation: String, merges: Seq[(String, String)]): Unit = {
    import spark.implicits._
    val df = merges.zipWithIndex
      .map { case ((a, b), i) => (i, a, b) }
      .toDF("rank", "a", "b")
    new graft.model.CatalogMaterializer()
      .materializeTable(spark, relation, df)
  }

  /** Load a persisted merge table in rank order — numMerges rows, the
    * one collect a tokenizer apply needs (the merges become literals in
    * the codegen'd replace chain; nothing corpus-sized moves). */
  def loadMerges(spark: org.apache.spark.sql.SparkSession,
      relation: String): Seq[(String, String)] =
    spark.table(relation).orderBy(col("rank"))
      .select(col("a"), col("b"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
}
