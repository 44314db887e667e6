package graft.core

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.SparkSuite

/** [[Caches]] counts registrations per cache entry: Spark keys its cache
  * by plan, so two frames with one plan share one entry, and releasing
  * one handle must not drop the entry the other still reads. */
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

  test("releaseAll drops every entry whatever its handle count") {
    val a = Caches.persist(frame(6))
    Caches.persist(frame(6))
    Caches.releaseAll()
    assert(!cached(a))
  }
}
