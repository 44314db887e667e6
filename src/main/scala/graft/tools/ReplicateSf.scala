package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.EngineSession

/** Build a K×-replicated copy of a testdata directory with CONSISTENT
  * key offsets — the 10×-data bench input (sf0.1 × 10 ≈ sf1). Every
  * replica offsets its join keys by the same stride, so referential
  * integrity holds across replicas: orders still join their customers,
  * lineitems their orders/parts/suppliers, and each replica's keys are
  * disjoint from every other's. Dimension tables (region, nation) stay
  * fixed — their keys are the join targets that must keep resolving.
  * Events offset user_id too (a 10× log with 10× users), keeping ts
  * unchanged so time-window densities grow 10× — the adversarial case
  * for window/sessionize state. The events ts column is read raw and
  * written back unchanged, so the replica preserves whatever physical
  * encoding the source uses (legacy nanos-as-long reads as BIGINT and
  * writes as BIGINT; timestamp[us] round-trips as timestamp[us]) —
  * `EventsLayout`'s footer sniff adapts on read either way.
  *
  * Run: `runMain graft.tools.ReplicateSf <srcDir> <outDir> <K>`.
  */
object ReplicateSf {

  private val Off = 10000000L // tpch key stride per replica
  private val IdOff = 1000000L // doc/vec id stride
  private val UserOff = 100000L // events user stride

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft_sf1")
    val k = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = EngineSession()

    def write(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"$name: ${spark.read.parquet(s"$out/$name.parquet").count()}")
    }
    def replicate(df: DataFrame, offsets: Map[String, Long]): DataFrame =
      (0 until k).map { i =>
        df.select(df.columns.toIndexedSeq.map { c =>
          offsets.get(c) match {
            case Some(stride) => (col(c) + lit(i * stride)).as(c)
            case None => col(c)
          }
        }: _*)
      }.reduce(_ unionAll _)

    write("region", spark.read.parquet(s"$src/region.parquet"))
    write("nation", spark.read.parquet(s"$src/nation.parquet"))
    write("customer", replicate(
      spark.read.parquet(s"$src/customer.parquet"),
      Map("c_custkey" -> Off)))
    write("supplier", replicate(
      spark.read.parquet(s"$src/supplier.parquet"),
      Map("s_suppkey" -> Off)))
    write("part", replicate(
      spark.read.parquet(s"$src/part.parquet"),
      Map("p_partkey" -> Off)))
    write("orders", replicate(
      spark.read.parquet(s"$src/orders.parquet"),
      Map("o_orderkey" -> Off, "o_custkey" -> Off)))
    write("lineitem", replicate(
      spark.read.parquet(s"$src/lineitem.parquet"),
      Map("l_orderkey" -> Off, "l_partkey" -> Off, "l_suppkey" -> Off)))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    write("events", replicate(
      spark.read.parquet(s"$src/events.parquet"),
      Map("event_id" -> IdOff, "user_id" -> UserOff)))
    write("documents", replicate(
      spark.read.parquet(s"$src/documents.parquet"),
      Map("doc_id" -> IdOff)))
    write("embeddings", replicate(
      spark.read.parquet(s"$src/embeddings.parquet"),
      Map("vec_id" -> IdOff)))
    spark.stop()
  }
}
