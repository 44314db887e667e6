package graft.core

/** Overlap INDEPENDENT driver-side actions (guide §2.6): Spark's
  * scheduler happily runs several jobs at once inside one application —
  * actions are only sequential because driver code calls them
  * sequentially. The multi-step store protocols (build/append/delete)
  * end each phase with several writes or collects that share no
  * dependency; issuing them from separate threads lets the next job's
  * tasks back-fill executors freed by the current job's tail instead of
  * paying full fixed job overhead N times end-to-end.
  *
  * Semantics: runs every thunk, waits for ALL of them (even when one
  * fails — a half-started sibling write must finish or fail on its own
  * before the caller unwinds, never race a caller's cleanup), then
  * rethrows the first failure with every other branch's failure attached
  * as suppressed, so no branch's error is lost. Plain threads, one per
  * thunk: the store protocols pass 2–4 thunks, each seconds long, and
  * `Runner.registerSources` one per declared source (about ten in the
  * tpch project), each a listing or one schema-inference job, so pooling
  * would buy nothing.
  * Spark job-group/description local properties are inherited by child
  * threads (InheritableThreadLocal), so UI attribution is preserved.
  *
  * Callers must only pass thunks with NO mutual data dependency and no
  * shared mutable state beyond Spark's own thread-safe surfaces
  * (SparkSession, catalog, cache manager). Two thunks that first-touch
  * the same registered cache ([[Caches.persist]]) are safe, but they do
  * not overlap: the block store locks per partition, so the second waits
  * until the first has materialized the entry and then reuses its blocks.
  * A caller that wants the two to overlap materializes the entry before
  * forking.
  */
object Par {
  def run(fs: (() => Unit)*): Unit = {
    if (fs.lengthCompare(2) < 0) { fs.foreach(f => f()); return }
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val ts = fs.map { f =>
      val t = new Thread(() => {
        try f() catch { case e: Throwable => errs.add(e) }
      })
      t.setDaemon(true)
      t.start()
      t
    }
    ts.foreach(_.join())
    if (!errs.isEmpty) {
      val first = errs.poll()
      errs.forEach(e => if (e ne first) first.addSuppressed(e))
      throw first
    }
  }
}
