package graft

import org.apache.spark.sql.functions._

import graft.core.Par
import graft.streaming.Versions

/** The r17 action-overlap utility ([[graft.core.Par]] — optimization
  * guide §2.6): result ordering, run-to-completion failure semantics,
  * and writer-lease propagation onto the worker threads. */
class ParSpec extends SparkSpec {

  test("eval returns results in argument order, actions run concurrently") {
    val gate = new java.util.concurrent.CountDownLatch(3)
    // each thunk blocks until all three have STARTED — passes only if
    // the three actions genuinely overlap (a sequential runner deadlocks
    // on the latch, so the 10 s bound also guards the property)
    val out = Par.eval((1 to 3).map { i => () =>
      gate.countDown()
      assert(gate.await(10, java.util.concurrent.TimeUnit.SECONDS),
        "actions did not overlap")
      i * 10
    })
    assert(out === Seq(10, 20, 30))
  }

  test("a failing action does not stop its siblings; the first failure " +
      "in argument order is rethrown after all complete") {
    val ran = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val e = intercept[IllegalStateException] {
      Par.run(
        () => { ran.add(0); () },
        () => { ran.add(1); throw new IllegalStateException("index 1") },
        () => { ran.add(2)
          throw new IllegalArgumentException("index 2 — later in " +
            "argument order, must lose") },
        () => { ran.add(3); () })
    }
    // every sibling ran to completion (independent writes a re-run would
    // redo identically — the journal-recovery model), and the FIRST
    // failure in argument order is the one surfaced
    assert(ran.size === 4)
    assert(e.getMessage === "index 1")
  }

  test("first-in-argument-order failure wins regardless of timing") {
    val e = intercept[IllegalStateException] {
      Par.run(
        () => throw new IllegalStateException("index 0"),
        () => { Thread.sleep(50)
          throw new IllegalArgumentException("index 1, finishes later") })
    }
    assert(e.getMessage === "index 0")
  }

  test("held writer leases propagate to the worker threads: a leased " +
      "store verb inside Par.run presents the caller's lease") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("par_lease_")
      .toString
    Seq((1L, 10L)).toDF("id", "x").write.parquet(s"$root/v0")
    val lease = Versions.acquireLease(spark, root, "par-writer")
    // unleased write refuses — from the caller thread AND from a Par
    // worker thread (the guard is root-scoped, not thread-scoped)
    intercept[IllegalArgumentException] {
      Versions.tombstone(spark, root, Seq(1L), 1L)
    }
    intercept[IllegalArgumentException] {
      Par.run(() => Versions.tombstone(spark, root, Seq(1L), 1L))
    }
    // withLease covers the verb when Par moves it to a worker thread
    Versions.withLease(lease) {
      Par.run(() => Versions.tombstone(spark, root, Seq(1L), 1L))
    }
    assert(Versions.listTombstones(spark, root).map(_._1) === Seq(1L))
    // and the worker thread's stack is restored: a later send on the
    // same pooled thread (fresh Par threads here) never leaks the lease
    intercept[IllegalArgumentException] {
      Par.run(() => Versions.tombstone(spark, root, Seq(1L), 2L))
    }
    Versions.releaseLease(spark, lease)
  }

  test("nested eval completes under an exhausted thread budget (r18: the " +
      "global cap degrades nesting to sequential, never deadlocks)") {
    // depth-3 nesting, fan-out 3 at each level = 27 leaf thunks, far
    // past the global permit budget; tryAcquire (never a blocking
    // acquire) is what makes this terminate — a blocking bounded pool
    // would deadlock with every permit held by a waiting parent
    def nest(depth: Int): Int =
      if (depth == 0) 1
      else Par.eval((1 to 3).map(_ => () => nest(depth - 1))).sum
    assert(nest(3) === 27)
  }

  test("sibling failures are suppressed onto the rethrown error; a fatal " +
      "sibling takes precedence over an earlier benign one (r18)") {
    val e = intercept[IllegalStateException] {
      Par.run(
        () => throw new IllegalStateException("benign 0"),
        () => throw new IllegalArgumentException("benign 1"))
    }
    assert(e.getMessage === "benign 0")
    assert(e.getSuppressed.map(_.getMessage).toSeq === Seq("benign 1"))
    val f = intercept[OutOfMemoryError] {
      Par.run(
        () => throw new IllegalStateException("benign first"),
        () => throw new OutOfMemoryError("fatal second"))
    }
    assert(f.getMessage === "fatal second")
    assert(f.getSuppressed.map(_.getMessage).toSeq === Seq("benign first"))
  }

  test("an interrupt during the join is deferred until every worker " +
      "completed, then re-asserted on the caller (r18)") {
    val workerDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    @volatile var sawInterrupt = false
    @volatile var doneAtReturn = false
    val t = new Thread(() => {
      try {
        Par.run(
          () => (), // caller-run thunk
          () => { Thread.sleep(800); workerDone.set(true) })
        doneAtReturn = workerDone.get
        sawInterrupt = Thread.currentThread().isInterrupted
      } catch { case _: InterruptedException => () }
    })
    t.start()
    Thread.sleep(200)
    t.interrupt()
    t.join(10000)
    assert(doneAtReturn, "Par returned while a worker write was in flight")
    assert(sawInterrupt, "the caller's interrupt flag was not re-asserted")
  }

  test("a caller interrupt is passed on to a worker still running after " +
      "the grace: Par.run ends instead of waiting out a hung worker") {
    @volatile var workerInterrupted = false
    @volatile var callerFlag = false
    @volatile var ended = false
    val t = new Thread(() => {
      try Par.run(
          () => (), // caller-run thunk
          () => try Thread.sleep(60000) catch {
            case e: InterruptedException => workerInterrupted = true; throw e
          })
      catch { case _: InterruptedException => () }
      callerFlag = Thread.currentThread().isInterrupted
      ended = true
    })
    val t0 = System.nanoTime()
    t.start()
    Thread.sleep(200)
    t.interrupt()
    t.join(20000)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(ended && secs < 10, f"Par.run still blocked after $secs%.1f s")
    assert(workerInterrupted, "the worker never saw the interrupt")
    assert(callerFlag, "the caller's interrupt flag was not re-asserted")
  }

  test("overlapped independent writes land byte-identically to the " +
      "sequential order") {
    val base = java.nio.file.Files.createTempDirectory("par_eq_").toString
    val df = spark.range(100).select(col("id"),
      (col("id") * 3).as("y"))
    df.write.parquet(s"$base/seq_a")
    df.filter(col("id") % 2 === 0).write.parquet(s"$base/seq_b")
    Par.run(
      () => df.write.parquet(s"$base/par_a"),
      () => df.filter(col("id") % 2 === 0).write.parquet(s"$base/par_b"))
    def rows(p: String) = spark.read.parquet(p).collect()
      .map(_.toString).sorted.toSeq
    assert(rows(s"$base/par_a") === rows(s"$base/seq_a"))
    assert(rows(s"$base/par_b") === rows(s"$base/seq_b"))
  }

  test("SPARK_GRAFT_PAR_CAP parses to a non-negative worker count (4 when " +
      "unset) and refuses anything else by name") {
    assert(Par.parseCap(None) === 4)
    assert(Par.parseCap(Some("6")) === 6)
    assert(Par.parseCap(Some("0")) === 0)
    Seq("", "abc", "-1").foreach { bad =>
      val e = intercept[IllegalArgumentException](Par.parseCap(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_PAR_CAP") &&
        e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }
}
