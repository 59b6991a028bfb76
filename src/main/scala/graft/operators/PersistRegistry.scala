package graft.operators

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Per-session registry of per-call persisted relations: each operator
  * call persists a FRESH relation (nothing is memoized across calls) and
  * registers it here; once a session holds more than `cap` entries the
  * oldest are released. A repeated caller (the bench's warm pass + reps;
  * a library user looping an operator without `clearCaches`) would
  * otherwise accumulate full-corpus persisted copies without bound
  * (ADVICE r16). Releasing is always correct: a relation still mid-read
  * by a concurrent caller just recomputes — which is why every release
  * unpersists, never destroys.
  *
  * Register-then-evict is one atomic step, so two concurrent callers
  * can never both evict each other's fresh entry.
  */
private[operators] final class PersistRegistry[V](cap: Int, release: V => Unit) {
  private val live = mutable.HashMap.empty[SparkSession, mutable.Queue[V]]

  /** Register `v` under `spark`, release the session's oldest entries
    * beyond the cap, and return `v`.
    */
  def register(spark: SparkSession, v: V): V = synchronized {
    val q = live.getOrElseUpdate(spark, mutable.Queue.empty[V])
    q.enqueue(v)
    while (q.size > cap) release(q.dequeue())
    v
  }

  /** Release every entry of `spark` (the `clearCaches` hook). */
  def clear(spark: SparkSession): Unit = synchronized {
    live.remove(spark).foreach(_.foreach(release))
  }

  /** Live entries of `spark` — spec visibility for the cap. */
  def size(spark: SparkSession): Int = synchronized {
    live.get(spark).fold(0)(_.size)
  }
}
