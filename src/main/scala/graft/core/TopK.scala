package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number}

/** Per-key top-k — the one ranking every fixed-k operator goes through
  * (ANN and BM25 top-k, RRF fusion, TF-IDF keywords, keep-latest).
  *
  * Shape: `row_number()` over `(keys, order)` filtered on a LITERAL
  * bound. For k ≤ `spark.sql.optimizer.windowGroupLimitThreshold`
  * (1000 by default) Catalyst plans `Sort → WindowGroupLimit(Partial)
  * → Exchange(keys) → Sort → WindowGroupLimit(Final) → Window →
  * Filter`: every map partition keeps at most k rows per key before
  * the shuffle, so a hot key (a stop-word-grade query term, one global
  * query) never lands its whole candidate list in one sort task. That
  * is the partition-local top-k plus global merge a salted two-stage
  * ranking hand-rolls, with one exchange instead of two. A per-row
  * bound (e.g. `Dedup`'s prefix length) disables the Partial limit and
  * stays an explicit window.
  */
object TopK {

  /** `df` plus `rankCol` (1..k within each key), keeping only the rows
    * ranked ≤ k. `order` must be a TOTAL order within a key — end it on
    * a unique column — so the kept rows and their ranks are
    * deterministic across partitionings and engines. Empty `keys` ranks
    * the whole frame as one key. */
  def perKey(df: DataFrame, keys: Seq[Column], order: Seq[Column], k: Int,
      rankCol: String): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(order: _*)
    df.withColumn(rankCol, row_number().over(w))
      .filter(col(rankCol) <= k)
  }
}
