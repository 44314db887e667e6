package graft.core

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSuite

/** Pins the one-posture invariant: every session in the tree — entry
  * points, probes and the shared test session — is built by
  * [[EngineSession]], so the plan the tests run, the plan the oracle
  * verifies and the plan the bench times cannot drift apart again. */
class EngineSessionSpec extends SparkSuite {

  private def sources: Seq[Path] =
    Seq("src/main/scala", "src/test/scala").flatMap { dir =>
      Files.walk(Paths.get(dir)).iterator().asScala
        .filter(_.toString.endsWith(".scala")).toSeq
    }

  test("SparkSession's builder is called only in core/EngineSession.scala") {
    // Split so this file's own code does not match.
    val needle = "SparkSession" + ".builder"
    val offenders = sources.filter { p =>
      // Strip line comments and scaladoc so prose mentions don't count.
      val code = Files.readString(p).linesIterator
        .map(l => l.replaceAll("//.*$", ""))
        .filterNot(l => l.trim.startsWith("*") || l.trim.startsWith("/*"))
        .mkString("\n")
      code.contains(needle) && !p.toString.endsWith("core/EngineSession.scala")
    }
    assert(sources.exists(_.toString.endsWith("core/EngineSession.scala")))
    assert(offenders.isEmpty,
      s"sessions built outside EngineSession: ${offenders.mkString(", ")} " +
        "— build through graft.core.EngineSession and pass any genuine " +
        "difference as conf")
  }

  test("the shared test session runs the engine posture") {
    val conf = spark.conf
    assert(conf.get("spark.sql.adaptive.coalescePartitions.parallelismFirst")
      == "false")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.shuffle.partitions").toInt ==
      EngineSession.defaultShufflePartitions)
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
  }

  test("the generated-code cache holds more than one operation's classes") {
    assert(spark.conf.get(EngineSession.CodegenCacheEntries) == "1000")
    assert(spark.sparkContext.getConf.get(EngineSession.CodegenCacheEntries)
      == "1000")
  }
}
