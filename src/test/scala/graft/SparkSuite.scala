package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.EngineSession

/** Shared local SparkSession for all suites (one JVM-wide session — Spark's
  * getOrCreate returns the same session across suites in one test run).
  * It is the engine's own posture ([[EngineSession]]), so the tests run
  * the plans the bench times; only the width is pinned, to 4 cores, and
  * the warehouse moved out of the working directory. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session
  def sf(name: String): String = s"/root/testdata/sf0.001/$name"
}

object SparkSuite {
  lazy val session: SparkSession = EngineSession.builder(cores = 4)
    .config("spark.sql.warehouse.dir", "/tmp/graft-test-warehouse")
    .getOrCreate()
}
