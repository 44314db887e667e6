package graft.model

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Pins the sticky dynamic-overwrite invariant (round-17 verdict,
  * "What's wrong" #3). [[CatalogMaterializer.materializeIncremental]]
  * sets `spark.sql.sources.partitionOverwriteMode=dynamic` on the
  * executing session WITHOUT restoring it (the restore forced a JVM-wide
  * lock that serialized every incremental store write). That is only
  * safe while the codebase-wide invariant holds: every `insertInto` is
  * either the materializer's dynamic partition overwrite or a pure
  * append (mode-insensitive). A future static-overwrite `insertInto`
  * added anywhere would silently become DYNAMIC under the sticky conf —
  * keeping stale partitions instead of truncating the table — so the
  * invariant is pinned structurally here: every `.insertInto(` call
  * site in the main tree must live in Materializer.scala (the two audited
  * materializer paths), and the audited overwrite path must remain the
  * dynamic one. A second pin keeps every partition write and drop of the
  * batch stores in [[graft.operators.BatchCommit]]. */
class OverwriteInvariantSpec extends SparkSuite {

  private def mainSources: Seq[Path] = {
    val root = Paths.get("src/main/scala")
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq
  }

  /** Strip line comments and scaladoc so prose mentions don't count. */
  private def stripComments(text: String): String =
    text.linesIterator
      .map(l => l.replaceAll("//.*$", ""))
      .filterNot(l => l.trim.startsWith("*") || l.trim.startsWith("/*"))
      .mkString("\n")

  test("every insertInto call site lives in the audited materializer " +
      "(Materializer.scala) — no un-audited writer can hit the sticky dynamic conf") {
    val offenders = mainSources.flatMap { p =>
      val code = stripComments(Files.readString(p))
      if (code.contains(".insertInto(") &&
          !p.toString.endsWith("model/Materializer.scala"))
        Some(p.toString) else None
    }
    assert(offenders.isEmpty,
      s"un-audited insertInto call sites: $offenders — insertInto runs " +
        "under a STICKY partitionOverwriteMode=dynamic session conf " +
        "(CatalogMaterializer.materializeIncremental); a static-overwrite " +
        "insertInto would silently keep stale partitions. Route writes " +
        "through CatalogMaterializer or restore the conf around the write.")
  }

  test("the stores' partition writes and drops live in BatchCommit " +
      "alone") {
    val operators = Paths.get("src/main/scala/graft/operators")
    val offenders = mainSources
      .filter(p => p.startsWith(operators) &&
        !p.toString.endsWith("operators/BatchCommit.scala"))
      .filter { p =>
        val code = stripComments(Files.readString(p))
        code.contains("dropPartition(") ||
          code.contains("materializeIncremental(")
      }.map(_.toString)
    assert(offenders.isEmpty,
      s"store partition writes outside BatchCommit: $offenders — the " +
        "drop-then-overwrite and rewrite-then-drop commits of the batch " +
        "stores are written once, in BatchCommit.write and .replace.")
  }

  test("the audited overwrite insertInto is the dynamic-conf one") {
    val runner = Files.readString(
      Paths.get("src/main/scala/graft/model/Materializer.scala"))
    val overwriteSites = "\\.write\\.mode\\(\"overwrite\"\\)\\.insertInto\\("
      .r.findAllIn(runner).size
    assert(overwriteSites == 1,
      "exactly one overwrite-mode insertInto is audited (the dynamic " +
        s"partition overwrite in materializeIncremental); found $overwriteSites")
    // The dynamic set must still precede it in the same method — anchor
    // inside the CatalogMaterializer implementation (the Materializer
    // trait declares the same signature abstractly earlier in the file).
    val impl = runner.substring(
      runner.indexOf("final class CatalogMaterializer"))
    val body = impl.substring(
      impl.indexOf("def materializeIncremental"),
      impl.indexOf("def materializeAppend"))
    assert(body.contains("partitionOverwriteMode") &&
      body.contains("\"dynamic\""),
      "materializeIncremental no longer pins partitionOverwriteMode=dynamic " +
        "before its overwrite insertInto")
  }

  test("sticky dynamic overwrite rewrites only the increment's partitions") {
    import spark.implicits._
    val mat = new CatalogMaterializer
    val rel = "ow_invariant_spec.state"
    mat.dropRelation(spark, rel)
    mat.materializeIncremental(spark, rel,
      Seq((1L, "a"), (2L, "b")).toDF("id", "batch_id"), Seq("batch_id"))
    // Re-materializing ONE partition must leave the other intact (the
    // dynamic semantics every store protocol depends on) …
    mat.materializeIncremental(spark, rel,
      Seq((9L, "b")).toDF("id", "batch_id"), Seq("batch_id"))
    val rows = spark.table(rel).orderBy(col("id"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows == Seq((1L, "a"), (9L, "b")),
      s"dynamic overwrite semantics drifted: $rows")
    // … and the conf really is sticky on this session (the invariant
    // under guard: no restore happens).
    assert(spark.conf.getOption(
      "spark.sql.sources.partitionOverwriteMode").contains("dynamic"))
    mat.dropRelation(spark, rel)
  }
}
