package graft.core

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.SparkSuite

/** [[Caches]] counts registrations per cache entry: Spark keys its cache
  * by plan, so two frames with one plan share one entry, and releasing
  * one handle must not drop the entry the other still reads. It is also
  * the registry of checkpoint-truncated frames: one `release` frees a
  * frame whichever way it was pinned. */
class CachesSpec extends SparkSuite {

  private def frame(tag: Int) =
    spark.range(0, 1000).toDF("x").filter(col("x") % 7 === tag)

  private def cached(df: org.apache.spark.sql.DataFrame): Boolean =
    df.storageLevel != StorageLevel.NONE

  test("persisting one plan twice, then releasing one handle, keeps it " +
      "cached for the other") {
    val a = Caches.persist(frame(3))
    val b = Caches.persist(frame(3))
    assert(a ne b)
    assert(cached(a) && cached(b))
    assert(b.count() == 143)
    Caches.release(a)
    assert(cached(b), "releasing one handle dropped the entry the other " +
      "handle relies on")
    Caches.release(b)
    assert(!cached(b), "the last handle's release must unpersist the entry")
  }

  test("distinct plans keep distinct entries") {
    val a = Caches.persist(frame(4))
    val b = Caches.persist(frame(5))
    Caches.release(a)
    assert(!cached(a) && cached(b))
    Caches.release(b)
    assert(!cached(b))
  }

  test("releasing a frame the registry does not hold keeps a registered " +
      "entry of the same plan cached") {
    val a = Caches.persist(frame(4))
    Caches.release(frame(4))
    assert(cached(a), "an unregistered frame's release dropped the entry " +
      "a registered handle shares by plan")
    Caches.release(a)
    assert(!cached(a))
  }

  /** The RDD behind a locally truncated frame — the blocks it pins. */
  private def truncatedRdd(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
      case p => fail(s"truncated frame is not a LogicalRDD: ${p.nodeName}")
    }

  test("release of a truncated frame unpersists its RDD") {
    val t = Checkpoints.truncate(frame(1))
    val rdd = truncatedRdd(t)
    assert(t.count() == 143)
    assert(rdd.getStorageLevel != StorageLevel.NONE)
    Caches.release(t)
    assert(rdd.getStorageLevel == StorageLevel.NONE,
      "Caches.release left a truncated frame's blocks pinned")
  }

  test("releaseAll frees a persisted and a truncated frame together") {
    val p = Caches.persist(frame(2))
    val t = Checkpoints.truncate(frame(3))
    val rdd = truncatedRdd(t)
    assert(cached(p) && rdd.getStorageLevel != StorageLevel.NONE)
    Caches.releaseAll()
    assert(!cached(p))
    assert(rdd.getStorageLevel == StorageLevel.NONE)
  }

  test("releaseAll drops every entry whatever its handle count") {
    val a = Caches.persist(frame(6))
    Caches.persist(frame(6))
    Caches.releaseAll()
    assert(!cached(a))
  }
}
