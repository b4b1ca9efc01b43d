package graft.core

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset

/** Registry for plan intermediates that operators persist because the
  * returned DataFrame re-reads them on every action (Batching's
  * range-partitioned RDD, MinHashLSH's shingle frame, and the one
  * reconcile frame all four `Pipeline.Result` frames share). The blocks must
  * outlive the operator call — the caller's action is what consumes them —
  * so the operator cannot unpersist eagerly. Spark's ContextCleaner drops
  * them when the returned plan is garbage-collected; long-lived sessions
  * that run many queries (bench, verify, a REPL) can bound accumulation
  * deterministically by calling [[release]] once the results of previous
  * queries are materialized (ADVICE r2 — Batching.scala:55).
  */
object Caches {

  private val rdds = new ConcurrentLinkedQueue[RDD[_]]()
  private val frames = new ConcurrentLinkedQueue[Dataset[_]]()

  def track[T](r: RDD[T]): RDD[T] = { rdds.add(r); r }
  def track[T](df: Dataset[T]): Dataset[T] = { frames.add(df); df }

  /** Unpersist every tracked intermediate (non-blocking). Safe to call at
    * any point where no returned-but-unmaterialized plan from a previous
    * operator call is still needed; a plan consumed after it recomputes its
    * whole chain (e.g. a `Pipeline.Result` whose reports are written after
    * a release).
    */
  def release(): Unit = {
    var r = rdds.poll()
    while (r != null) { r.unpersist(blocking = false); r = rdds.poll() }
    var f = frames.poll()
    while (f != null) { f.unpersist(blocking = false); f = frames.poll() }
  }
}
