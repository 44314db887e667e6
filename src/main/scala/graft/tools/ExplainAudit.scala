package graft.tools

import graft.SparkEntry
import graft.core.EngineSession

/** Dumps `explain(formatted)` for selected queries so plan properties —
  * parquet PushedFilters/ReadSchema pruning, broadcast vs sort-merge join
  * choice, WholeStageCodegen span width — can be audited per round.
  * Usage: `runMain graft.tools.ExplainAudit <sfDir> [query ...]`
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q01_pricing_summary", "q03_star_join_revenue",
        "q10_window_topk", "m02_order_lines_enriched", "d02_jaccard_pairs",
        "v01_cosine_topk", "t01_token_stats", "q02_filter_project")
    val spark = EngineSession()
    names.foreach { n =>
      println(s"\n========== $n ==========")
      try {
        val df = SparkEntry.queries(n)(spark, dir)
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      } catch { case e: Exception => println(s"ERROR: ${e.getMessage}") }
    }
    spark.stop()
  }
}
