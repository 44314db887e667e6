package graft.tools
import org.apache.spark.sql.functions._
import graft.core.{EngineSession, Tables}
import graft.functions.Hashing
object ProfileSig {
  def main(args: Array[String]): Unit = {
    val spark = EngineSession()
    val docs = Tables(spark, "/root/testdata/sf0.1", "documents")
    def t(l: String)(f: => Long): Unit = {
      f // warm
      val t0 = System.nanoTime(); val n = f
      println(f"$l%-24s ${(System.nanoTime()-t0)/1e9}%6.3f s  n=$n")
    }
    t("simhash64 pass")(docs.select(Hashing.simhash64(col("text")).as("s"))
      .agg(count(col("s"))).head().getLong(0))
    t("minhash sig pass")(docs.select(Hashing.minhashSig(
        Hashing.hashedWordShingles(col("text"), 3), 64).as("s"))
      .agg(count(col("s"))).head().getLong(0))
    t("shingle-only pass")(docs.select(
        Hashing.hashedWordShingles(col("text"), 3).as("s"))
      .agg(count(col("s"))).head().getLong(0))
    spark.stop()
  }
}
