package graft.core

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** Pins [[Par.run]]'s contract: every branch finishes before the caller
  * unwinds, and no branch's failure is lost. */
class ParSpec extends AnyFunSuite {

  test("every thunk runs to completion even when one throws") {
    val finished = new AtomicInteger
    val failed = new CountDownLatch(1)
    intercept[IllegalStateException] {
      Par.run(
        () => { failed.countDown(); throw new IllegalStateException("a") },
        () => {
          // Still running when the sibling has already thrown.
          assert(failed.await(10, TimeUnit.SECONDS))
          Thread.sleep(100)
          finished.incrementAndGet()
        },
        () => { Thread.sleep(50); finished.incrementAndGet() })
    }
    assert(finished.get == 2)
  }

  test("the first failure is rethrown with the others suppressed") {
    val first = new IllegalStateException("first")
    val second = new IllegalArgumentException("second")
    val third = new RuntimeException("third")
    val started = new CountDownLatch(1)
    val thrown = intercept[IllegalStateException] {
      Par.run(
        () => { started.countDown(); throw first },
        () => {
          assert(started.await(10, TimeUnit.SECONDS))
          Thread.sleep(200)
          throw second
        },
        () => {
          assert(started.await(10, TimeUnit.SECONDS))
          Thread.sleep(200)
          throw third
        })
    }
    assert(thrown eq first)
    assert(thrown.getSuppressed.toSet == Set[Throwable](second, third))
  }

  test("a failure shared by two branches is not suppressed into itself") {
    val shared = new IllegalStateException("shared")
    val thrown = intercept[IllegalStateException] {
      Par.run(() => throw shared, () => throw shared)
    }
    assert(thrown eq shared)
    assert(thrown.getSuppressed.isEmpty)
  }

  test("fewer than two thunks run inline on the caller's thread") {
    val caller = Thread.currentThread()
    var ranOn: Thread = null
    Par.run(() => ranOn = Thread.currentThread())
    assert(ranOn eq caller)
    Par.run()
  }

  test("no failure means no throw") {
    val ran = new AtomicInteger
    Par.run(() => ran.incrementAndGet(), () => ran.incrementAndGet(),
      () => ran.incrementAndGet())
    assert(ran.get == 3)
  }
}
