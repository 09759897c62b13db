package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import scala.util.control.NonFatal

/** Registry of persisted intermediates created inside ops entry points.
  *
  * Spark is lazy, so an operator that persists a mid-plan DataFrame (the
  * shingle arrays, LSH buckets, minhash signatures…) cannot unpersist it
  * before returning — the caller hasn't run the plan yet. Left alone,
  * those caches accumulate in any long-lived JVM (the 40-gate bench, the
  * Verify dump, a notebook session) until executor storage pressure evicts
  * *other* operators' working set — measured in round 3 as unexplained
  * 3–5× wall-time regressions on the ANN gates that share the JVM.
  *
  * Contract: ops `track` every persisted Dataset/RDD; callers call
  * `release()` once they have fully consumed the result (collected it,
  * written it out). Releasing is safe at any time — an un-consumed result
  * merely recomputes — so callers can also use it as a between-queries
  * reset.
  */
object OpScratch {
  private val dfs = new java.util.concurrent.ConcurrentLinkedQueue[Dataset[_]]
  private val rdds = new java.util.concurrent.ConcurrentLinkedQueue[RDD[_]]

  def track[T](d: Dataset[T]): Dataset[T] = { dfs.add(d); d }
  def track[T](r: RDD[T]): RDD[T] = { rdds.add(r); r }

  /** Unpersist everything tracked since the last release (non-blocking). */
  def release(): Unit = {
    var d = dfs.poll()
    while (d != null) {
      try d.unpersist(blocking = false) catch { case NonFatal(_) => }
      d = dfs.poll()
    }
    var r = rdds.poll()
    while (r != null) {
      try r.unpersist(blocking = false) catch { case NonFatal(_) => }
      r = rdds.poll()
    }
  }
}
