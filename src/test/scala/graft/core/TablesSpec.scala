package graft.core

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{BinaryType, StringType, TimestampType}

import graft.SparkSuite

/** [[Tables]]' schema memo: a load over an unchanged file set under an
  * unchanged reader conf starts no Spark job; any change to either infers
  * exactly as `spark.read.parquet` does. */
class TablesSpec extends SparkSuite {

  /** `body`'s result and the number of Spark jobs it started. */
  private def jobs[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"tables-spec-${java.util.UUID.randomUUID}"
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val a = body
      ListenerBusDrain(sc)
      (a, n.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** A fresh `$dir/orders.parquet/` holding one part file of sf0.001's
    * orders under a fixed name, so a later rewrite can reuse the name. */
  private def ordersDir(): String = {
    val dir = Files.createTempDirectory("graft-tables").toString
    Files.createDirectories(Paths.get(s"$dir/orders.parquet"))
    Files.copy(Paths.get(sf("orders.parquet")),
      Paths.get(s"$dir/orders.parquet/part-0.parquet"))
    dir
  }

  /** Replace `target` with the single part file `df` writes. */
  private def writeAs(df: org.apache.spark.sql.DataFrame,
      target: String): Unit = {
    val tmp = Files.createTempDirectory("graft-tables-w").toString + "/o"
    df.coalesce(1).write.parquet(tmp)
    val part = Files.list(Paths.get(tmp)).toArray.map(_.toString)
      .find(_.endsWith(".parquet")).get
    Files.move(Paths.get(part), Paths.get(target),
      StandardCopyOption.REPLACE_EXISTING)
  }

  test("a second load of an unchanged file set runs no job") {
    val dir = ordersDir()
    val (first, inferJobs) = jobs(Tables(spark, dir, "orders"))
    assert(inferJobs >= 1, "a cold load infers the schema")
    val (second, hitJobs) = jobs(Tables(spark, dir, "orders"))
    assert(hitJobs == 0)
    assert(second.schema == first.schema)
    assert(second.count() == first.count())
  }

  test("a new part file is re-inferred and read") {
    val dir = ordersDir()
    val before = Tables(spark, dir, "orders").count()
    Files.copy(Paths.get(sf("orders.parquet")),
      Paths.get(s"$dir/orders.parquet/part-1.parquet"))
    val (df, n) = jobs(Tables(spark, dir, "orders"))
    assert(n >= 1, "a changed file set must infer again")
    assert(df.count() == 2 * before)
  }

  test("a file rewritten with an extra column yields the new schema") {
    val dir = ordersDir()
    val orders = Tables(spark, dir, "orders")
    assert(!orders.columns.contains("extra"))
    writeAs(spark.read.parquet(sf("orders.parquet")).withColumn("extra",
      lit(7)), s"$dir/orders.parquet/part-0.parquet")
    val rewritten = Tables(spark, dir, "orders")
    assert(rewritten.columns.last == "extra")
    assert(rewritten.filter("extra = 7").count() == orders.count())
  }

  test("a changed reader conf infers under the new conf") {
    // Spark-written files carry their Spark schema in the footer, which
    // binaryAsString does not override; a plain parquet writer's do not.
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = Files.createTempDirectory("graft-tables-bin").toString
    val schema = MessageTypeParser.parseMessageType(
      "message t { required binary b; required int64 k; }")
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(s"$dir/blobs.parquet"))
      .withType(schema).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup()
      .append("b", "x").append("k", 1L))
    finally writer.close()
    val key = "spark.sql.parquet.binaryAsString"
    try {
      spark.conf.set(key, "false")
      assert(Tables(spark, dir, "blobs").schema("b").dataType == BinaryType)
      spark.conf.set(key, "true")
      val asString = Tables(spark, dir, "blobs")
      assert(asString.schema("b").dataType == StringType)
      assert(asString.schema ==
        spark.read.parquet(s"$dir/blobs.parquet").schema)
      assert(asString.head().getString(0) == "x")
      spark.conf.set(key, "false")
      assert(Tables(spark, dir, "blobs").schema("b").dataType == BinaryType)
    } finally spark.conf.unset(key)
  }

  test("an events load infers once on a miss and not at all on a hit") {
    val dir = Files.createTempDirectory("graft-tables-ev").toString
    Files.copy(Paths.get(sf("events.parquet")),
      Paths.get(s"$dir/events.parquet"))
    val (miss, missJobs) = jobs(Tables(spark, dir, "events"))
    assert(missJobs == 1)
    val (hit, hitJobs) = jobs(Tables(spark, dir, "events"))
    assert(hitJobs == 0)
    assert(hit.schema == miss.schema)
    assert(hit.schema("ts").dataType == TimestampType)
    val (_, sliceJobs) = jobs(Tables.eventsBetween(spark, dir, 0L, 1L))
    assert(sliceJobs == 0)
  }
}
