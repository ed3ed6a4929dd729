package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.DriverPull
import graft.operators.Dedup
import graft.sources.Tables
import graft.streaming.{ClusterStream, ContainmentStream, RetrievalStream,
  Takedown, Versions}

/** The one bounded driver pull ([[DriverPull]]) and what each store verb
  * does past its budget: a takedown, a revive and a fold batch refuse by
  * name before they write anything; a cluster read falls back to the
  * store's own fold with the same rows. The budget is forced small with
  * [[DriverPull.withBudget]]. */
class DriverPullSpec extends SparkSpec {
  import spark.implicits._

  private def docs: DataFrame =
    Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))

  /** Run `body` under a 3-row budget (the byte budget unchanged). */
  private def tight[A](body: => A): A =
    DriverPull.withBudget(3L, DriverPull.byteBudget)(body)

  private def refusedPastBudget(body: => Unit): String = {
    val e = intercept[IllegalArgumentException](tight(body))
    assert(e.getMessage.contains("driver pull budget (3 rows"), e.getMessage)
    assert(e.getMessage.contains("rebuild"), e.getMessage)
    e.getMessage
  }

  private def exists(path: String): Boolean = Files.exists(Paths.get(path))

  /** The jobs `body` starts, counted by a listener; a sentinel job marks
    * the point by which the bus has delivered every earlier job. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val sentinel = new AtomicInteger(-1)
    val done = new CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("sentinel") != null))
          sentinel.set(e.jobId)
        else jobs.incrementAndGet()
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == sentinel.get) done.countDown()
    }
    sc.addSparkListener(l)
    try {
      body
      sc.setLocalProperty("sentinel", "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("sentinel", null)
      assert(done.await(20, TimeUnit.SECONDS))
    } finally sc.removeSparkListener(l)
    jobs.get
  }

  private def freshContainmentStore(): String = {
    val root = Files.createTempDirectory("pull_ct_").toString
    ContainmentStream.writeStanding(spark, root,
      docs.filter(col("doc_id") < 30),
      df => Dedup.jaccardShingleSets(df, "doc_id", "text"))
    root
  }

  private def freshClusterStore(): String = {
    val root = Files.createTempDirectory("pull_cs_").toString
    ClusterStream.writeStanding(spark, root,
      (1L to 10L).map(i => (i, i.toDouble)).toDF("id", "score"),
      Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b"))
    root
  }

  test("DriverPull: one job over the scan; None past the row or the byte " +
      "bound; the distinct form bounds the distinct rows") {
    val df = spark.range(0L, 100L, 1L, 4).toDF("id")
    var got: Option[Array[org.apache.spark.sql.Row]] = None
    assert(jobsOf { got = DriverPull(df) } === 1)
    assert(got.get.map(_.getLong(0)).sorted.toSeq === (0L until 100L))
    assert(DriverPull(df, maxRows = 100L).isDefined)
    assert(DriverPull(df, maxRows = 99L).isEmpty)
    // each of the 4 tasks may ship its header plus its share of the bytes
    val perTask = 16384L + 25L * DriverPull.pulledBytes(got.get.head)
    assert(DriverPull(df, maxBytes = 4L * perTask).isDefined)
    assert(DriverPull(df, maxBytes = 4L * perTask - 4L).isEmpty)
    // 400 rows, 10 distinct keys, every key in every partition
    val keys = spark.range(0L, 400L, 1L, 4).select((col("id") % 10).as("k"))
    var ks: Option[Array[org.apache.spark.sql.Row]] = None
    assert(jobsOf { ks = DriverPull(keys, maxRows = 10L, distinct = true) }
      === 1)
    assert(ks.get.map(_.getLong(0)).sorted.toSeq === (0L until 10L))
    assert(DriverPull(keys, maxRows = 9L, distinct = true).isEmpty)
    assert(DriverPull(keys, maxRows = 10L).isEmpty, "400 rows pass 10")
  }

  test("a takedownAll sweep past the budget refuses by name at the journal: " +
      "no journal directory, no marker on any target, nothing incomplete") {
    val ct = freshContainmentStore()
    val cs = freshClusterStore()
    val j = Files.createTempDirectory("pull_j_").toString
    val sweep = docs.filter(col("doc_id") < 5).select(col("doc_id"))
    val targets = Seq(Takedown.Target("ct", ct),
      Takedown.Target("cluster assignments", s"$cs/assign"))
    val msg = refusedPastBudget {
      Takedown.takedownAll(spark, j, sweep, 1L, targets)
    }
    assert(msg.contains(s"takedownAll($j, batch 1)"), msg)
    assert(!exists(s"$j/t1"))
    assert(Takedown.incomplete(spark, j).isEmpty)
    assert(Versions.listTombstones(spark, ct).isEmpty)
    assert(Versions.listTombstones(spark, s"$cs/assign").isEmpty)
    // the same sweep within the default budget goes through
    Takedown.takedownAll(spark, j, sweep, 1L, targets)
    assert(Versions.listTombstones(spark, ct).map(_._1) === Seq(1L))
    assert(ContainmentStream.readIndex(spark, ct)
      .filter(col("id") < 5).isEmpty)
  }

  test("tombstoneFrom, Versions.revive and RetrievalStream.tombstone past " +
      "the budget refuse by name and leave no marker") {
    val ct = freshContainmentStore()
    val five = docs.filter(col("doc_id") < 5).select(col("doc_id"))
    val msg = refusedPastBudget { Versions.tombstoneFrom(spark, ct, five, 1L) }
    assert(msg.contains(s"tombstoneFrom($ct, batch 1)"), msg)
    assert(!exists(s"$ct/d1"))
    assert(Versions.listTombstones(spark, ct).isEmpty)

    // a revive of five taken-down ids
    Versions.tombstoneFrom(spark, ct, five, 1L)
    refusedPastBudget { Versions.revive(spark, ct, five, 2L) }
    assert(Versions.listRevives(spark, ct).isEmpty)
    assert(ContainmentStream.readIndex(spark, ct)
      .filter(col("id") < 5).isEmpty, "the ids stay taken down")

    val bm = Files.createTempDirectory("pull_bm_").toString
    RetrievalStream.writeStanding(spark, bm, docs.filter(col("doc_id") < 40))
    refusedPastBudget {
      RetrievalStream.tombstone(spark, bm, Seq(0L, 1L, 2L, 3L, 4L), 1L)
    }
    assert(Versions.listTombstones(spark, RetrievalStream.markerRoot(bm))
      .isEmpty)
    assert(!exists(s"$bm/stats/c1"), "no stats correction either")
  }

  test("an empty sweep, or one past the budget, refuses before its journal " +
      "exists: no t<N> or r<N> directory and nothing incomplete") {
    val ct = freshContainmentStore()
    val j = Files.createTempDirectory("pull_je_").toString
    val none = docs.filter(col("doc_id") < 0).select(col("doc_id"))
    val five = docs.filter(col("doc_id") < 5).select(col("doc_id"))
    val e = intercept[IllegalArgumentException] {
      Takedown.takedownAll(spark, j, none, 1L, Seq(Takedown.Target("ct", ct)))
    }
    assert(e.getMessage === "requirement failed: takedown of an empty id set")
    assert(!exists(s"$j/t1"))
    assert(Takedown.incomplete(spark, j).isEmpty)
    Versions.tombstone(spark, ct, Seq(0L, 1L, 2L, 3L, 4L), 1L)
    val revive = Seq(Takedown.Target.revive("ct", ct))
    val e2 = intercept[IllegalArgumentException] {
      Takedown.reviveAll(spark, j, none, 2L, revive)
    }
    assert(e2.getMessage === "requirement failed: revive of an empty id set")
    val msg = refusedPastBudget {
      Takedown.reviveAll(spark, j, five, 2L, revive)
    }
    assert(msg.contains(s"reviveAll($j, batch 2)"), msg)
    assert(!exists(s"$j/r2"))
    assert(Takedown.incomplete(spark, j, 'r').isEmpty)
    assert(Versions.listRevives(spark, ct).isEmpty)
  }

  test("after tombstone, tombstoneFrom, Versions.revive and " +
      "ClusterStream.retract, building the next masked read runs no job") {
    val ct = freshContainmentStore()
    def index = ContainmentStream.readIndex(spark, ct)
    index // reads the root's schema once
    Versions.tombstone(spark, ct, Seq(0L, 1L), 1L)
    assert(jobsOf(index) === 0)
    Versions.tombstoneFrom(spark, ct,
      docs.filter(col("doc_id").between(2, 3)).select(col("doc_id")), 2L)
    assert(jobsOf(index) === 0)
    Versions.revive(spark, ct, Seq(1L).toDF("id"), 3L)
    assert(jobsOf(index) === 0)
    assert(index.filter(col("id") < 5).select("id").as[Long].collect().toSet
      === Set(1L, 4L))

    val cs = freshClusterStore()
    val assign = s"$cs/assign"
    def pairs = ClusterStream.readPairs(spark, cs)
    def assigns = Versions.maskTombstones(spark, assign,
      Versions.read(spark, assign, Seq(s"$assign/v0")), "id")
    pairs; assigns // read each root's schema once
    ClusterStream.retract(spark, cs, Seq(2L).toDF("id"), 1L)
    assert(jobsOf { pairs; assigns } === 0)
    assert(pairs.count() === 1L, "only (5, 6) is left")
    assert(assigns.filter(col("id") === 2L).isEmpty)
  }

  test("a marker past the budget met on read refuses the read by name") {
    val ct = freshContainmentStore()
    // the Seq form writes the marker without resolving it
    Versions.tombstone(spark, ct, Seq(0L, 1L, 2L, 3L, 4L), 1L)
    val msg = refusedPastBudget {
      ContainmentStream.readIndex(spark, ct).collect()
    }
    assert(msg.contains(s"the read of $ct"), msg)
    assert(ContainmentStream.readIndex(spark, ct).filter(col("id") < 5)
      .isEmpty)
  }

  test("a fold batch past the budget refuses by name before any write") {
    val cs = freshClusterStore()
    def roots = Seq("assign", "canon", "pairs")
      .map(r => Versions.list(spark, s"$cs/$r").map(_._1))
    val msg = refusedPastBudget {
      ClusterStream.foldBatch(spark, cs)(
        (20L to 24L).map(i => (i, 1.0)).toDF("id", "score"),
        Seq((20L, 3L)).toDF("id_a", "id_b"), 0L)
    }
    assert(msg.contains(s"ClusterStream.foldBatch($cs, batch 0)"), msg)
    assert(roots === Seq(Seq(0L), Seq(0L), Seq(0L)))
    // a pair delta past the budget refuses too
    refusedPastBudget {
      ClusterStream.foldBatch(spark, cs)(
        Seq((20L, 1.0)).toDF("id", "score"),
        Seq((20L, 3L), (20L, 5L), (20L, 7L), (20L, 9L)).toDF("id_a", "id_b"),
        0L)
    }
    assert(roots === Seq(Seq(0L), Seq(0L), Seq(0L)))
  }

  test("a cluster revive whose affected labels pass the budget refuses " +
      "before any marker; within it the revive goes through") {
    val cs = Files.createTempDirectory("pull_rv_").toString
    // 2 bridges 1, 3, 4 and 5: retracting it leaves four singletons, so
    // reviving the one id re-merges four labels
    ClusterStream.writeStanding(spark, cs,
      (1L to 6L).map(i => (i, i.toDouble)).toDF("id", "score"),
      Seq((1L, 2L), (2L, 3L), (2L, 4L), (2L, 5L)).toDF("id_a", "id_b"))
    ClusterStream.retract(spark, cs, Seq(2L).toDF("id"), 1L)
    def labels = ClusterStream.readAssignments(spark, cs)
      .select("id", "cid").as[(Long, Long)].collect().toMap
    val retracted = labels
    assert(retracted.filter(_._1 <= 5L).values.toSet === Set(1L, 3L, 4L, 5L))
    val msg = refusedPastBudget {
      ClusterStream.revive(spark, cs, Seq(2L).toDF("id"), 2L)
    }
    assert(msg.contains(s"ClusterStream.revive($cs, batch 2)"), msg)
    for (r <- Seq("assign", "pairs"))
      assert(Versions.listRevives(spark, s"$cs/$r").isEmpty, r)
    assert(labels === retracted, "reads go on as before the refusal")
    ClusterStream.revive(spark, cs, Seq(2L).toDF("id"), 2L)
    assert(labels.filter(_._1 <= 5L).values.toSet === Set(1L))
  }

  test("a cluster read whose delta overlay passes the budget returns the " +
      "same rows through the store's own fold") {
    val cs = freshClusterStore()
    // one delta of 7 assignment rows: 20..22 merge {1,2,3} and {5,6}
    // under label 1, and 23 joins the singleton 9
    ClusterStream.foldBatch(spark, cs)(
      (20L to 23L).map(i => (i, i.toDouble)).toDF("id", "score"),
      Seq((20L, 3L), (21L, 20L), (22L, 5L), (22L, 21L), (23L, 9L))
        .toDF("id_a", "id_b"), 0L)
    def state = (
      ClusterStream.readAssignments(spark, cs)
        .select("id", "cid").as[(Long, Long)].collect().toSet,
      ClusterStream.readCanonicals(spark, cs)
        .select("cid", "keep_id", "n_members").as[(Long, Long, Long)]
        .collect().toSet)
    // past the budget first: a delta resolved under the default budget
    // would be served from the resolved-rows cache
    val plan = tight(ClusterStream.readAssignments(spark, cs)
      .queryExecution.executedPlan.toString)
    assert(plan.contains("Window"), s"the fold must run: $plan")
    val overBudget = tight(state)
    val inBudget = state
    assert(overBudget === inBudget)
    assert(inBudget._1.filter(_._2 == 1L).map(_._1) ===
      Set(1L, 2L, 3L, 5L, 6L, 20L, 21L, 22L))
    assert(inBudget._1.filter(_._2 == 9L).map(_._1) === Set(9L, 23L))
  }
}
