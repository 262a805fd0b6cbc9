package perfbench

import scala.util.control.NonFatal

/** Counts operations attempted and failed. An operation fails when it
  * throws or when the check of its output fails; a failed operation
  * contributes no latency sample.
  */
final class Ops {
  private var attempted0 = 0L
  private var thrown0 = 0L
  private var checksFailed0 = 0L
  private val failures = scala.collection.mutable.ArrayBuffer.empty[String]

  def attempted: Long = attempted0
  def thrown: Long = thrown0
  def checksFailed: Long = checksFailed0
  def failed: Long = thrown0 + checksFailed0
  def failRatio: Double = if (attempted0 == 0) 0.0 else failed.toDouble / attempted0
  def failureMessages: Seq[String] = failures.toSeq

  private def fail(name: String, why: String): Unit = {
    failures += s"$name: $why"
    System.err.println(s"[perfbench] FAILED $name: $why")
  }

  /** Runs `body` timed and then `check` on its result, untimed. Returns the
    * result and the body's milliseconds, or None if either step failed.
    */
  def op[A](name: String)(body: => A)(check: A => Boolean): Option[(A, Double)] = {
    attempted0 += 1
    val t0 = System.nanoTime()
    val res =
      try Right(body)
      catch { case NonFatal(e) => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    res match {
      case Left(e) =>
        thrown0 += 1
        fail(name, e.toString)
        None
      case Right(a) =>
        val problem =
          try { if (check(a)) None else Some("check failed") }
          catch { case NonFatal(e) => Some(s"check threw $e") }
        problem match {
          case None => Some((a, ms))
          case Some(why) =>
            checksFailed0 += 1
            fail(name, why)
            None
        }
    }
  }

  /** A correctness check run as its own operation. */
  def check(name: String)(cond: => Boolean): Boolean =
    op(name)(cond)(identity).isDefined
}
