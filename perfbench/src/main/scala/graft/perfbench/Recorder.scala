package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** What one timed loop did: every unit operation and lookup with its
  * latency, and every output check. An operation that throws, a lookup
  * whose answer is wrong, and a check that fails each count as one failed
  * attempt. */
final class Recorder(tr: Tracer) {
  val ops = ArrayBuffer[Map[String, Any]]()
  val lookups = ArrayBuffer[Double]()
  val checks = ArrayBuffer[Map[String, Any]]()
  var attempted = 0L
  var failed = 0L

  private def note(ok: Boolean): Unit = {
    attempted += 1
    if (!ok) failed += 1
  }

  /** Time one unit operation of `kind` over `rows` input records; the
    * body's result is extra detail kept with the record. */
  def op(kind: String, rows: Long, userBytes: Long = 0L)(body: => Unit): Boolean = {
    val t0 = System.nanoTime()
    val ok =
      try { tr.span("bench", kind)(body); true }
      catch { case NonFatal(e) => e.printStackTrace(); false }
    val s = (System.nanoTime() - t0) / 1e9
    note(ok)
    if (ok) ops += Map("kind" -> kind, "s" -> s, "rows" -> rows,
      "user_bytes" -> userBytes)
    ok
  }

  /** Time one point lookup; `body` answers whether the result is right. */
  def lookup(body: => Boolean): Unit = {
    val t0 = System.nanoTime()
    val ok =
      try tr.span("bench", "lookup")(body)
      catch { case NonFatal(e) => e.printStackTrace(); false }
    val s = (System.nanoTime() - t0) / 1e9
    note(ok)
    if (ok) lookups += s
  }

  def check(name: String, ok: Boolean, detail: Any = ""): Unit = {
    note(ok)
    checks += Map("name" -> name, "ok" -> ok, "detail" -> detail.toString)
    if (!ok) System.err.println(s"[perfbench] check failed: $name $detail")
  }

  /** Run `body` as a check that must not throw. */
  def checked(name: String)(body: => Unit): Unit =
    try body
    catch { case NonFatal(e) => e.printStackTrace(); check(name, ok = false, e) }
}
