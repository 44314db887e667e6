package graft.tools
import org.apache.spark.sql.functions._
import graft.core.{EngineSession, Tables}
import graft.functions.Hashing
import graft.operators.Dedup

/** Distribution check for a shingle-set-based simhash: hamming over TRUE
  * jaccard pairs (recall radius needed) vs candidate volume at each
  * cutoff (verification cost). */
object ShingleSimhashProbe {
  def main(args: Array[String]): Unit = {
    val spark = EngineSession()
    val docs = Tables(spark, "/root/testdata/sf0.1", "documents")
    val sh = docs.select(col("doc_id"),
        Hashing.hashedWordShingles(col("text"), 3).as("shingles"))
      .filter(size(col("shingles")) > 0)
    // simhash over the shingle hash set: bit b of the signature is the
    // majority vote of bit b across the (already well-mixed) 64-bit FNV
    // shingle hashes.
    val bitCols = (0 until 64).map { b =>
      (sum(shiftright(col("s"), b).bitwiseAND(lit(1L)) * 2 - 1) > 0)
        .cast("long").as(s"b$b")
    }
    val sig = sh.select(col("doc_id"), explode(col("shingles")).as("s"))
      .groupBy(col("doc_id"))
      .agg(bitCols.head, bitCols.tail: _*)
      .select(col("doc_id"),
        (0 until 64).map(b => (col(s"b$b") * lit(1L << b)).as(s"v$b"))
          .reduce(_.bitwiseOR(_)).as("sig"))
      .persist()
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 0.6)
    val ham = pairs
      .join(sig.select(col("doc_id").as("doc_a"), col("sig").as("siga")), "doc_a")
      .join(sig.select(col("doc_id").as("doc_b"), col("sig").as("sigb")), "doc_b")
      .select(col("jaccard"),
        bit_count(col("siga").bitwiseXOR(col("sigb"))).as("h"))
      .persist()
    println("== true-pair hamming (shingle simhash):")
    ham.groupBy("h").count().orderBy(col("h")).collect()
      .foreach(r => println(s"   h=${r.get(0)}: ${r.get(1)}"))
    println("== min jaccard by hamming bucket:")
    ham.groupBy((col("h") / 4).cast("int").as("hb"))
      .agg(min("jaccard"), max("jaccard")).orderBy(col("hb")).collect()
      .foreach(r => println(s"   h in [${r.getInt(0)*4},${r.getInt(0)*4+3}]: j ${r.get(1)} .. ${r.get(2)}"))
    // background volume: all-pairs hamming <= cutoffs via the PRODUCTION
    // banding join — a hand copy here would silently diverge from the
    // operator whenever the band/probe scheme changes.
    val cand = Dedup.bandedSimhashCandidates(sig)
      .withColumnRenamed("hamming", "h")
      .filter(col("h") <= 15).distinct().persist()
    println("== candidates (probe join, h<=15): " + cand.count())
    Seq(7, 11).foreach(h =>
      println(s"   h<=$h: " + cand.filter(col("h") <= h).count()))
    spark.stop()
  }
}
