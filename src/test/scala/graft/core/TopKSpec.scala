package graft.core

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** [[TopK.perKey]] is the engine's one fixed-k ranking: it must return
  * exactly a per-key sort-and-take, its plan must bound what crosses the
  * key's shuffle (the property the salted two-stage ranking it replaced
  * existed for), and no other fixed-k ranking may creep back in. */
class TopKSpec extends SparkSuite {

  // 4,000 rows over 8 input partitions: 90 % on "hot", a "mid" key,
  // and "tiny" with 3 rows (< k). Scores repeat (id % 7), so ties are
  // broken only by the last order column, id.
  private def frame = spark.range(0, 4000, 1, 8).toDF("id")
    .withColumn("key",
      when(col("id") < 3, "tiny")
        .when(col("id") % 10 === 0, "mid")
        .otherwise("hot"))
    .withColumn("score", col("id") % 7)

  private val k = 10

  test("perKey equals a driver-side sort-and-take, ranks 1..k") {
    val got = TopK.perKey(frame, Seq(col("key")),
        Seq(col("score").desc, col("id")), k, "rk")
      .select("key", "id", "rk").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    val want = frame.select("key", "id", "score").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).toSeq.flatMap { case (key, rows) =>
        rows.sortBy(r => (-r._3, r._2)).take(k).zipWithIndex
          .map { case (r, i) => (key, r._2, i + 1) }
      }.toSet
    assert(want.count(_._1 == "tiny") == 3)
    assert(want.size == 2 * k + 3)
    assert(got == want)
  }

  test("the plan keeps at most k rows per key per partition before the " +
      "key's exchange") {
    val p = TopK.perKey(frame, Seq(col("key")),
        Seq(col("score").desc, col("id")), k, "rk")
      .queryExecution.executedPlan.toString
    assert(TopKSpec.partialLimitBelowExchange(p, "key"),
      s"no WindowGroupLimit Partial beneath the key's exchange:\n$p")
  }

  test("row_number() appears in src/main only in TopK and the named " +
      "non-top-k rankings") {
    // Rankings that are not a fixed k per key: the Dedup prefix filter
    // (per-row bound), the t15 sample flag and the mm dhash keep flag
    // (both rank every row). The DuckDB oracle SQL spells ROW_NUMBER()
    // in upper case and is not matched.
    val allowed = Map(
      "core/TopK.scala" -> 1,
      "operators/Dedup.scala" -> 1,
      "operators/TextQueries.scala" -> 1,
      "operators/MultimodalQueries.scala" -> 1)
    // Split so this file's own code does not match.
    val needle = "row_number" + "()"
    val found = TopKSpec.mainSources.flatMap { p =>
      val n = TopKSpec.code(p).sliding(needle.length)
        .count(_ == needle)
      if (n > 0) Some(p.toString.stripPrefix("src/main/scala/graft/") -> n)
      else None
    }.toMap
    assert(found == allowed,
      "fixed-k per-key rankings must go through graft.core.TopK.perKey")
  }
}

object TopKSpec {

  /** True when the plan string has a `WindowGroupLimit … Partial` whose
    * nearest Exchange ancestor is an `Exchange hashpartitioning(<key>…`
    * — the per-key shuffle receives at most k rows per key from each
    * map partition. */
  def partialLimitBelowExchange(plan: String, key: String): Boolean = {
    val lines = plan.linesIterator.toVector
    // A node's depth is where its name starts, after the tree glyphs.
    def depth(l: String) = l.indexWhere(c => !" :+-".contains(c))
    def nearestExchange(i: Int): Option[String] = {
      var d = depth(lines(i))
      (i - 1 to 0 by -1).iterator.map(lines).find { l =>
        val ancestor = depth(l) < d
        if (ancestor) d = depth(l)
        ancestor && l.contains("Exchange")
      }
    }
    lines.indices.exists { i =>
      lines(i).contains("WindowGroupLimit") && lines(i).contains("Partial") &&
        nearestExchange(i).exists(
          _.contains("Exchange hashpartitioning(" + key + "#"))
    }
  }

  private def mainSources: Seq[Path] =
    Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq

  /** Source with line comments and scaladoc lines stripped, as in
    * EngineSessionSpec, so prose mentions don't count. */
  private def code(p: Path): String =
    Files.readString(p).linesIterator
      .map(l => l.replaceAll("//.*$", ""))
      .filterNot(l => l.trim.startsWith("*") || l.trim.startsWith("/*"))
      .mkString("\n")
}
