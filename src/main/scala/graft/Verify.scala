package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * An optional third arg filters query names by regex (substring match) —
  * local iteration on one new gate without re-running the whole
  * inventory; oracle_sql.json is filtered identically so check.py's
  * missing-output detection stays meaningful.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val nameFilter: String => Boolean = args.lift(2) match {
      case Some(re) => val r = re.r; s => r.findFirstIn(s).isDefined
      case None => _ => true
    }
    val spark = graft.core.EngineSession()
    // Layout canary: one readable line per drifted testdata assumption
    // (footer-only reads), so schema drift never surfaces as a pile of
    // cryptic per-query failures. Warn-and-continue — see SchemaCanary.
    graft.core.SchemaCanary.warn(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => nameFilter(kv._1)).foreach {
      case (name, fn) =>
        // NonFatal only: an OOM must abort the dump — every later gate
        // would otherwise "fail" against a corrupted heap and zero the
        // round's correctness for the wrong reason.
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
        finally graft.core.Caches.releaseAll()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => nameFilter(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
