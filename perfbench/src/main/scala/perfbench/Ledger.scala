package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Failure accounting for the timed operations of one benchmark call.
  * Every operation attempted is recorded with its latency; one that throws,
  * or whose output check fails afterwards, is marked failed. A failure is
  * never dropped: it stays in `attempted` and `failed`. */
final class Ledger {

  final class Op(val name: String, val seconds: Double) {
    var error: Option[String] = None
    def failed: Boolean = error.isDefined
  }

  private val ops = ArrayBuffer.empty[Op]

  /** Time `body` as one operation. A non-fatal throw marks it failed and
    * yields None; fatal errors propagate. */
  def op[T](name: String)(body: => T): Option[T] = {
    val t0 = System.nanoTime()
    try {
      val r = body
      ops += new Op(name, (System.nanoTime() - t0) / 1e9)
      Some(r)
    } catch {
      case NonFatal(e) =>
        val o = new Op(name, (System.nanoTime() - t0) / 1e9)
        o.error = Some(s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
        ops += o
        None
    }
  }

  /** The number of operations recorded so far: a run's first operation's
    * index is the mark taken before it started. */
  def mark: Int = ops.size

  /** Mark operation `i` failed by an output check (an operation already
    * failed keeps its first error). */
  def failCheck(i: Int, why: String): Unit = {
    val o = ops(i)
    if (o.error.isEmpty) o.error = Some(s"${o.name} check: $why".take(300))
  }

  def attempted: Int = ops.size
  def failed: Int = ops.count(_.failed)
  def failedFrac: Double = if (ops.isEmpty) 0.0 else failed.toDouble / ops.size
  def latencies: Seq[Double] = ops.map(_.seconds).toSeq
  def errors: Seq[String] = ops.flatMap(_.error).toSeq
}
