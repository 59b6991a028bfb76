package perfbench

import scala.collection.mutable

/** Ops attempted and failed, per phase. A call that throws, or whose
  * result fails its correctness check, is a failed op; only successful
  * calls contribute latency samples.
  */
final class Ledger {
  private val attemptedBy = mutable.LinkedHashMap.empty[String, Long]
  private val failedBy = mutable.LinkedHashMap.empty[String, Long]
  private val firstErrors = mutable.ArrayBuffer.empty[String]

  def attempted: Long = synchronized(attemptedBy.values.sum)
  def failed: Long = synchronized(failedBy.values.sum)
  def byPhase: Seq[(String, Long, Long)] = synchronized(
    attemptedBy.toSeq.map { case (p, a) => (p, a, failedBy.getOrElse(p, 0L)) })
  def errors: Seq[String] = synchronized(firstErrors.toSeq)

  private def count(phase: String, ok: Boolean, err: => String): Unit = synchronized {
    attemptedBy(phase) = attemptedBy.getOrElse(phase, 0L) + 1
    if (!ok) {
      failedBy(phase) = failedBy.getOrElse(phase, 0L) + 1
      if (firstErrors.size < 20) firstErrors += s"$phase: $err"
    }
  }

  /** Run `f` as one op of `phase`; `check` validates its result and
    * returns an error message when it is wrong. Returns the wall in ms
    * and the result, or None when the op failed.
    */
  def timed[T](phase: String)(f: => T)(check: T => Option[String] = (_: T) => None)
      : Option[(Double, T)] = {
    val t0 = System.nanoTime()
    val res = try Right(f) catch { case scala.util.control.NonFatal(e) => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    res match {
      case Left(e) =>
        count(phase, ok = false, e.toString.take(300)); None
      case Right(v) =>
        check(v) match {
          case Some(msg) => count(phase, ok = false, msg); None
          case None => count(phase, ok = true, ""); Some((ms, v))
        }
    }
  }
}
