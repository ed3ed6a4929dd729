package graft.core

import java.util.concurrent.Semaphore
import java.util.concurrent.atomic.AtomicReferenceArray

import scala.util.control.NonFatal

/** Overlap INDEPENDENT Spark actions from one caller (optimization guide
  * §2.6): Spark's scheduler happily runs several jobs at once inside one
  * application — actions are only sequential because driver code calls
  * them sequentially. The streaming store verbs end in 2-3 independent
  * batch-sized writes (pair emission, band delta, docs delta) and the
  * capstone bodies fan one micro-batch out to 3-5 independent stores;
  * running those on one thread bills each action's FIXED cost — Catalyst
  * planning, job submission, a 1-2-task stage — serially, which the r17
  * profiles showed is where the streaming family's seconds live (~40 ms
  * × hundreds of jobs, flat across a 10× standing jump). Overlapping
  * them makes wall per trigger ≈ max instead of sum. This is a
  * fixed-overhead win at EVERY scale, not a local[32] tuning: the
  * per-action cost is driver-side and scale-independent, and on a
  * cluster the overlapped jobs additionally back-fill each other's
  * straggler tails (guide §2.6).
  *
  * Use ONLY for actions with no ordering contract between them: same-
  * trigger writes to DISTINCT paths whose crash story is already
  * "redelivery overwrites every batch-id-named output deterministically"
  * (so any completion subset is recoverable — the family's existing
  * model), or independent eager materializations. Anything delta-first
  * (e.g. [[graft.streaming.IvfStream.appendBatch]]'s delta-before-
  * profile rule) stays sequential at the call site.
  *
  * ==Bounded fan-out (r18, guide §2.6: "2-3 jobs in flight is plenty")==
  *
  * Call sites NEST (a capstone overlaps 3-7 stores, each store verb
  * overlaps 2-3 writes), so unbounded thread-per-thunk could put 10-20
  * jobs in flight — enough to fight for executors on a shared cluster
  * and to smear neighbors' timings on one box. A GLOBAL semaphore now
  * bounds the extra worker threads across every (possibly nested) call:
  * the caller always runs the first thunk itself, spawns workers for the
  * rest only while permits last, and runs the overflow inline after its
  * own share. `tryAcquire` (never a blocking acquire) is what makes
  * nesting deadlock-free: a call that finds the budget exhausted simply
  * degrades to the sequential order the code had before Par existed.
  * `SPARK_GRAFT_PAR_CAP` overrides the default budget for cluster
  * deploys (0 = fully sequential, still correct).
  *
  * Failure semantics: every action runs to completion (a failing sibling
  * does not cancel the others — they are independent writes a re-run
  * would redo identically). Then the FIRST failure in argument order is
  * rethrown — unless a sibling died of a FATAL error (OOM, linkage),
  * which takes precedence — and the remaining failures ride along via
  * `addSuppressed`, so multi-store fan-out diagnostics survive. The join
  * loop is interrupt-safe: an interrupt of the calling thread (stream
  * stop, test timeout) is passed on to the workers still running once
  * they have had [[InterruptGraceMs]] to finish, and re-asserted AFTER
  * every worker has been joined — Par never unwinds while a worker write
  * is still in flight (two live writers on one batch-id-named dir is the
  * one race the sequential code could not have), and a hung worker no
  * longer makes the caller impossible to stop. Held writer leases
  * ([[graft.streaming.Versions.withLease]]) propagate to the workers:
  * the scope is logically the caller's, whatever thread runs the
  * write. */
object Par {

  /** Extra worker threads allowed IN FLIGHT across all (nested) calls.
    * The caller thread of every call always works too, so total
    * concurrent actions ≈ cap + active-call depth. Default 4: wide
    * enough for the measured capstone wins (3-5-way store fan-outs),
    * narrow enough that nested sites cannot stack 10-20 concurrent
    * jobs. */
  private val cap: Int = parseCap(sys.env.get("SPARK_GRAFT_PAR_CAP"))

  /** `SPARK_GRAFT_PAR_CAP` as a non-negative worker count, 4 when unset;
    * anything else refuses naming the variable and the value (instead of
    * a bare `NumberFormatException` out of this object's initializer). */
  private[graft] def parseCap(raw: Option[String]): Int = raw match {
    case None => 4
    case Some(s) => s.toIntOption.filter(_ >= 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_PAR_CAP must be a non-negative integer, got '$s'"))
  }
  private val permits = new Semaphore(cap)

  /** How long a caller interrupt waits for the workers before it is
    * passed on to them: long enough for a write that is about to land,
    * short enough that a stream stop is not held up by a hung worker. */
  private[graft] val InterruptGraceMs = 2000L

  /** Run the thunks concurrently (bounded — see object doc), wait for
    * all, return results in order. Rethrows the first (argument-order)
    * failure after all complete; sibling failures are suppressed onto
    * it; a fatal sibling error takes precedence. */
  def eval[T](thunks: Seq[() => T]): Seq[T] = {
    if (thunks.isEmpty) return Seq.empty
    if (thunks.size == 1) return Seq(thunks.head())
    val leases = graft.streaming.Versions.capturedHeld
    val out = new AtomicReferenceArray[Any](thunks.size)
    val err = new AtomicReferenceArray[Throwable](thunks.size)
    def attempt(i: Int): Unit =
      try out.set(i, thunks(i)())
      catch { case e: Throwable => err.set(i, e) }
    // spawn workers for thunks 1..n-1 while the global budget lasts;
    // everything else (always including thunk 0) runs on the caller
    val spawned = (1 until thunks.size).flatMap { i =>
      if (!permits.tryAcquire()) None
      else {
        val th = new Thread(
          { () =>
            try graft.streaming.Versions.withHeld(leases)(attempt(i))
            finally permits.release()
          }: Runnable,
          s"graft-par-$i")
        th.setDaemon(true)
        th.start()
        Some((i, th))
      }
    }
    val spawnedIdx = spawned.map(_._1).toSet
    attempt(0)
    (1 until thunks.size).foreach(i => if (!spawnedIdx(i)) attempt(i))
    // interrupt-safe join: remember the interrupt, give the workers the
    // grace to finish, then interrupt the ones still running; keep
    // joining every worker, re-assert the interrupt once no write is in
    // flight anymore
    var interruptedAt = Option.empty[Long]
    var passedOn = false
    spawned.foreach { case (_, th) =>
      while (th.isAlive)
        try interruptedAt match {
          case Some(t0) if !passedOn =>
            val left = InterruptGraceMs - (System.nanoTime() - t0) / 1000000L
            if (left > 0) th.join(left)
            else {
              spawned.foreach(_._2.interrupt())
              passedOn = true
            }
          case _ => th.join()
        } catch {
          case _: InterruptedException =>
            if (interruptedAt.isEmpty) interruptedAt = Some(System.nanoTime())
        }
    }
    if (interruptedAt.nonEmpty) Thread.currentThread().interrupt()
    val failures = thunks.indices.flatMap(i => Option(err.get(i)))
    if (failures.nonEmpty) {
      val primary = failures.find(e => !NonFatal(e)).getOrElse(failures.head)
      failures.foreach(e => if (e ne primary) primary.addSuppressed(e))
      throw primary
    }
    thunks.indices.map(i => out.get(i).asInstanceOf[T])
  }

  /** Run independent unit actions concurrently; wait for all. */
  def run(actions: (() => Unit)*): Unit = {
    val _ = eval(actions)
  }
}
