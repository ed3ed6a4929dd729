package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.streaming.{ClusterStream, Versions}

/** Incremental cluster-identity maintenance (VERDICT r14 next #4): every
  * fold/retract sequence must leave the store equal to the from-scratch
  * batch answer — connectedComponentsStar min-id labels over the retained
  * pair set (singletons labeling themselves) and the canonicalPerCluster
  * argmax-score (tie → min id) election — whatever the arrival order,
  * merge history, or deletion pattern. */
class ClusterStreamSpec extends SparkSpec {
  import spark.implicits._

  private def score(i: Long): Double = ((i * 7) % 13).toDouble

  private def docsDF(ids: Seq[Long]): DataFrame =
    ids.map(i => (i, score(i))).toDF("id", "score")

  private def pairsDF(ps: Seq[(Long, Long)]): DataFrame =
    ps.toDF("id_a", "id_b")

  /** The from-scratch batch answer over retained docs + retained pairs:
    * (assignments (id, cid), canonicals (cid, keep_id, score,
    * n_members)). */
  private def batchAnswer(docs: DataFrame, pairs: DataFrame)
      : (Set[(Long, Long)], Set[(Long, Long, Double, Long)]) = {
    val labels =
      if (pairs.isEmpty) Seq.empty[(Long, Long)].toDF("id", "component")
      else Dedup.connectedComponentsStar(pairs)
    val assign = docs.join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("cid"),
        col("score"))
    val byC = Window.partitionBy(col("cid"))
    val canon = assign
      .withColumn("__rn", row_number().over(
        byC.orderBy(col("score").desc, col("id").asc)))
      .withColumn("n_members", count(lit(1)).over(byC))
      .filter(col("__rn") === 1)
    (assign.select("id", "cid").collect()
       .map(r => (r.getLong(0), r.getLong(1))).toSet,
     canon.select("cid", "id", "score", "n_members").collect()
       .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
         r.getLong(3))).toSet)
  }

  private def readState(root: String)
      : (Set[(Long, Long)], Set[(Long, Long, Double, Long)]) =
    (ClusterStream.readAssignments(spark, root).select("id", "cid")
       .collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
     ClusterStream.readCanonicals(spark, root)
       .select("cid", "keep_id", "score", "n_members").collect()
       .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
         r.getLong(3))).toSet)

  test("fold/retract sequence equals the batch kernels at every step: " +
      "merges, small-id relabel, singleton capture, splits, canonical " +
      "re-election, label death, compaction") {
    val root = java.nio.file.Files.createTempDirectory("cs_").toString
    // standing: cluster {1,2,3}, cluster {5,6}, singletons 4,7..10
    val standingDocs: Seq[Long] = (1L to 10L).toSeq
    val standingPairs = Seq((1L, 2L), (2L, 3L), (5L, 6L))
    ClusterStream.writeStanding(spark, root, docsDF(standingDocs),
      pairsDF(standingPairs))
    var fedDocs = standingDocs
    var fedPairs = standingPairs
    def check(deleted: Set[Long] = Set.empty): Unit = {
      val retainedDocs = fedDocs.filterNot(deleted)
      val retainedPairs = fedPairs.filterNot(p =>
        deleted(p._1) || deleted(p._2))
      val expected = batchAnswer(docsDF(retainedDocs),
        pairsDF(retainedPairs))
      assert(readState(root) === expected)
    }
    check()

    // batch 0: in-batch pair (11,12); doc 0 relabels cluster {1,2,3} to 0
    // (new id SMALLER than the standing label); (12,5) merges the new
    // in-batch cluster into standing {5,6}
    val d0 = Seq(11L, 12L, 0L); val p0 = Seq((11L, 12L), (0L, 1L), (12L, 5L))
    ClusterStream.foldBatch(spark, root)(docsDF(d0), pairsDF(p0), 0L)
    fedDocs ++= d0; fedPairs ++= p0
    check()
    // the small-id relabel really happened (label 1 died, 0 lives)
    val canon0 = ClusterStream.readCanonicals(spark, root)
      .select("cid").collect().map(_.getLong(0)).toSet
    assert(canon0.contains(0L) && !canon0.contains(1L))

    // batch 1: doc 13 captures standing singletons 4 and 7 into one
    // cluster (label 4)
    val d1 = Seq(13L); val p1 = Seq((13L, 4L), (13L, 7L))
    ClusterStream.foldBatch(spark, root)(docsDF(d1), pairsDF(p1), 1L)
    fedDocs ++= d1; fedPairs ++= p1
    check()

    // retract {2, 5, 4}: splits {0,1,2,3} (3 isolated), splits {5,6,11,12}
    // (6 isolated, label moves to 11), re-elects {4,7,13} minus its label
    // doc — broadcast-membership path exercised via pushCidLimit = 0
    ClusterStream.retract(spark, root, Seq(2L, 5L, 4L).toDF("id"), 2L,
      pushCidLimit = 0)
    val deleted = Set(2L, 5L, 4L)
    check(deleted)
    val (_, canonAfter) = readState(root)
    assert(canonAfter.exists(_._1 == 11L), "split half {11,12} relabels")
    assert(canonAfter.exists(c => c._1 == 3L && c._4 == 1L),
      "isolated member becomes a singleton")
    assert(!canonAfter.exists(c => Set(4L, 5L).contains(c._1)),
      "deleted labels die")

    // batch 3: doc 14 re-merges post-split singletons 3 and 6
    val d3 = Seq(14L); val p3 = Seq((14L, 3L), (14L, 6L))
    ClusterStream.foldBatch(spark, root)(docsDF(d3), pairsDF(p3), 3L)
    fedDocs ++= d3; fedPairs ++= p3
    check(deleted)

    // compaction: reads identical, markers consumed, base one-row-per-id
    val before = readState(root)
    ClusterStream.compactStore(spark, root, upTo = 4L)
    assert(readState(root) === before)
    assert(Versions.listTombstones(spark, s"$root/assign").isEmpty)
    assert(Versions.listTombstones(spark, s"$root/pairs").isEmpty)
    val base = spark.read.parquet(s"$root/assign/v0")
    assert(base.groupBy("id").count().filter(col("count") > 1).isEmpty,
      "compacted base must hold one row per id")
    // post-compaction folds keep agreeing
    val d5 = Seq(15L); val p5 = Seq((15L, 9L), (15L, 11L))
    ClusterStream.foldBatch(spark, root)(docsDF(d5), pairsDF(p5), 5L)
    fedDocs ++= d5; fedPairs ++= p5
    check(deleted)
  }

  test("composed with NearDupStream: the cluster store folded over the " +
      "near-dup filter's emitted pair deltas equals the batch kernels " +
      "over those pairs") {
    import graft.functions.TextFunctions
    import graft.sources.Tables
    import graft.streaming.NearDupStream
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    def scoredOf(df: DataFrame): DataFrame = df.select(
      col("doc_id").as("id"),
      TextFunctions.qualityScoreFromTokens(col("text"),
        TextFunctions.tokens(col("text"))).as("score"))
    val standing = docs.filter(col("doc_id") < 20)
    // byte-identical +10000000 copies of standing docs guarantee pairs
    val incoming = docs.filter(col("doc_id") >= 20)
      .unionAll(docs.filter(col("doc_id") < 5)
        .select((col("doc_id") + 10000000).as("doc_id"), col("text")))
      .withColumn("b", pmod(col("doc_id"), lit(2)))
      .localCheckpoint(true)
    val root = java.nio.file.Files.createTempDirectory("cs3_").toString
    val idxRoot = s"$root/idx"; val docsRoot = s"$root/docs"
    Dedup.minhashBandIndex(standing, "doc_id", "text")
      .write.parquet(s"$idxRoot/v0")
    standing.write.parquet(s"$docsRoot/v0")
    // bootstrap the cluster store over the standing corpus's own pairs
    val standingPairs = Dedup.minhashPairs(standing, "doc_id", "text",
      threshold = 0.4).select(col("id_a"), col("id_b"))
    ClusterStream.writeStanding(spark, s"$root/cs", scoredOf(standing),
      standingPairs)
    var allPairs = standingPairs.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    (0L to 1L).foreach { b =>
      val batch = incoming.filter(col("b") === b)
        .select(col("doc_id"), col("text")).localCheckpoint(true)
      val pairs = NearDupStream.filterBatch(spark, idxRoot, docsRoot,
        s"$root/out", "doc_id", "text", threshold = 0.4,
        materializePairs = true)(batch, b)
      ClusterStream.foldBatch(spark, s"$root/cs")(scoredOf(batch),
        pairs.select(col("id_a"), col("id_b")), b)
      allPairs ++= pairs.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
    }
    val arrived = standing.unionAll(
      incoming.select(col("doc_id"), col("text")))
    val expected = batchAnswer(scoredOf(arrived)
      .toDF("id", "score"), pairsDF(allPairs))
    assert(readState(s"$root/cs") === expected)
    // the copies really paired (non-vacuous composition)
    assert(allPairs.exists(_._2 >= 10000000L))
  }

  test("composed with Takedown.takedownAll: the journaled sweep feeds " +
      "retract's repair, and the orchestrator's markers are " +
      "re-overwritten idempotently — end state equals a plain retract") {
    import graft.streaming.Takedown
    import graft.streaming.Takedown.Target
    def build(): String = {
      val root = java.nio.file.Files.createTempDirectory("cs5_").toString
      ClusterStream.writeStanding(spark, root,
        docsDF((1L to 12L).toSeq),
        pairsDF(Seq((1L, 2L), (2L, 3L), (5L, 6L), (6L, 7L))))
      ClusterStream.foldBatch(spark, root)(docsDF(Seq(20L)),
        pairsDF(Seq((20L, 3L))), 0L)
      root
    }
    val plain = build()
    ClusterStream.retract(spark, plain,
      Seq(2L, 6L).toDF("id"), 1L)
    // orchestrated: the GDPR sweep fans markers to the cluster roots
    // (among others) under one batch id, then the cluster store's
    // repair consumes the JOURNALED set — the one derived store whose
    // takedown needs more than a marker
    val orch = build()
    val j = java.nio.file.Files.createTempDirectory("cs5j_").toString
    val journaled = Takedown.takedownAll(spark, j,
      Seq(2L, 6L).toDF("id"), 1L,
      Seq(Target("cluster assignments", s"$orch/assign"),
        Target("cluster pairs", s"$orch/pairs")))
    ClusterStream.retract(spark, orch, journaled, 1L)
    assert(readState(orch) === readState(plain))
    // the split really happened (1-2-3-20 loses 2 → {1}, {3,20})
    assert(readState(orch)._1.contains((20L, 3L)) &&
      readState(orch)._1.contains((1L, 1L)))
  }

  test("read posture: newest-per-id resolves over DELTAS only (never a " +
      "Window over the base), the base drops the delta ids by a pushed " +
      "NOT IN literal (a broadcast anti-join of a local relation past " +
      "the limit), and a membership cid IN pushes into the compacted " +
      "base scan") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def planOf(df: DataFrame): String = {
      df.collect()
      df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan.toString
        case p => p.toString
      }
    }
    val root = java.nio.file.Files.createTempDirectory("cs4_").toString
    ClusterStream.writeStanding(spark, root,
      docsDF((1L to 50L).toSeq), pairsDF(Seq((1L, 2L), (5L, 6L))))
    ClusterStream.foldBatch(spark, root)(docsDF(Seq(60L, 61L)),
      pairsDF(Seq((60L, 61L))), 0L)
    val plan = planOf(ClusterStream.readAssignments(spark, root))
    // the newest row per id is resolved over the DELTA rows on the
    // driver (batch-sized); the assembled read itself must never window
    // or exchange the store
    assert(!plan.contains("Window"),
      s"no window over the assembled store:\n$plan")
    val baseScan = plan.substring(plan.indexOf("FileScan parquet"))
    assert(plan.contains("FileScan parquet") &&
        baseScan.contains("PushedFilters: [") &&
        baseScan.contains("Not(In(id, [60,61]))"),
      s"the base must drop the delta ids by a pushed NOT IN:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"the base read must not shuffle:\n$plan")
    // past the literal limit the delta ids travel as a broadcast local
    // relation into a left-anti join
    val many = 1000L until 1001L + Versions.PushIdLimit
    ClusterStream.foldBatch(spark, root)(docsDF(many), pairsDF(Seq.empty),
      1L)
    val wide = planOf(ClusterStream.readAssignments(spark, root))
    assert(wide.contains("BroadcastHashJoin") && wide.contains("LeftAnti") &&
        wide.contains("LocalTableScan"),
      s"the base must anti-join the broadcast delta-id relation:\n$wide")
    assert(!wide.contains("Window") &&
        !wide.contains("Exchange hashpartitioning"),
      s"no window and no shuffle past the limit either:\n$wide")
    assert(ClusterStream.readAssignments(spark, root).count() ===
      52L + many.size)
    // compaction restores one-row-per-id and clusters by cid: a
    // membership restriction must reach the base scan as a pushed IN
    ClusterStream.compactStore(spark, root, upTo = 2L)
    val pushed = planOf(ClusterStream.readAssignments(spark, root)
      .filter(col("cid").isin(1L, 5L)))
    val scan = pushed.substring(pushed.indexOf("FileScan parquet"))
    assert(pushed.contains("FileScan parquet") &&
        scan.contains("PushedFilters: [") && scan.contains("In(cid"),
      s"the cid IN must push into the compacted base scan:\n$pushed")
  }

  test("fold with an empty pair delta appends fresh singletons; " +
      "redelivered fold and retract are idempotent") {
    val root = java.nio.file.Files.createTempDirectory("cs2_").toString
    ClusterStream.writeStanding(spark, root, docsDF(Seq(1L, 2L)),
      pairsDF(Seq((1L, 2L))))
    ClusterStream.foldBatch(spark, root)(docsDF(Seq(3L, 4L)),
      pairsDF(Seq.empty), 0L)
    val s1 = readState(root)
    assert(s1._1 === Set((1L, 1L), (2L, 1L), (3L, 3L), (4L, 4L)))
    // redelivered batch 0 (same inputs) rewrites v1 deterministically
    ClusterStream.foldBatch(spark, root)(docsDF(Seq(3L, 4L)),
      pairsDF(Seq.empty), 0L)
    assert(readState(root) === s1)
    ClusterStream.retract(spark, root, Seq(1L).toDF("id"), 1L)
    val s2 = readState(root)
    assert(s2._1 === Set((2L, 2L), (3L, 3L), (4L, 4L)),
      "deleting the label doc of a 2-cluster leaves its partner a " +
        "relabeled singleton")
    ClusterStream.retract(spark, root, Seq(1L).toDF("id"), 1L)
    assert(readState(root) === s2)
  }

  test("foldBatch masks pair deltas touching tombstoned ids: a deleted " +
      "doc can neither re-enter as a graph node nor bridge two live " +
      "clusters (ADVICE r15 #2)") {
    val root = java.nio.file.Files.createTempDirectory("cs3_").toString
    // standing: {1,2} and {4,5} with doc 3 bridging nothing yet
    ClusterStream.writeStanding(spark, root,
      docsDF(Seq(1L, 2L, 3L, 4L, 5L)), pairsDF(Seq((1L, 2L), (4L, 5L))))
    ClusterStream.retract(spark, root, Seq(3L).toDF("id"), 0L)
    // an upstream pair generator that has not seen the takedown emits
    // pairs THROUGH the deleted doc (2-3, 3-4 would merge {1,2} with
    // {4,5} via 3) plus one legitimate pair for the new arrival
    ClusterStream.foldBatch(spark, root)(docsDF(Seq(6L)),
      pairsDF(Seq((2L, 3L), (3L, 4L), (5L, 6L))), 1L)
    val (assign, canon) = readState(root)
    val (wantAssign, wantCanon) = batchAnswer(
      docsDF(Seq(1L, 2L, 4L, 5L, 6L)), pairsDF(Seq((1L, 2L), (4L, 5L),
        (5L, 6L))))
    assert(assign === wantAssign,
      s"masked fold must equal the retained-pair batch answer: $assign")
    assert(canon === wantCanon)
    assert(!assign.exists(_._1 == 3L), "the deleted doc must stay dead")
    assert(assign.filter(a => Set(1L, 2L).contains(a._1)).map(_._2) !==
      assign.filter(a => Set(4L, 5L).contains(a._1)).map(_._2),
      "live clusters must not merge through a deleted doc")
  }

  test("agg-shaped election equals the window form (ties → min id) and " +
      "plans as a partial-combine aggregate, never a per-cluster window") {
    // tied top scores inside one cluster: the composite (score, -id)
    // max_by must pick the min id, exactly like the window's
    // (score DESC, id ASC) row_number
    val members = Seq(
      (10L, 1L, 5.0), (11L, 1L, 5.0), (12L, 1L, 3.0), // tie 10 vs 11
      (20L, 2L, 0.0), (21L, 2L, 7.0),
      (30L, 3L, 4.0))
      .toDF("id", "cid", "score")
    val got = ClusterStream.electCanon(members, 9L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSet
    assert(got === Set((1L, 10L, 5.0, 3L), (2L, 21L, 7.0, 2L),
      (3L, 30L, 4.0, 1L)))
    // skew shape: a mega-cluster's members must partial-aggregate
    // map-side (one row per partition crosses the exchange), so the
    // plan is an Aggregate pair, not a Window sorting the cluster in
    // one task
    val plan = ClusterStream.electCanon(members, 9L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"election must not window-sort per cluster:\n$plan")
    // partial_max_by specifically — a bare "partial" disjunct would match
    // the count's partial and let a complete-mode max_by regress silently
    // (ADVICE r16 #4)
    assert(plan.contains("partial_max_by"),
      s"election's max_by must partial-aggregate map-side:\n$plan")
  }

  test("revive re-merges the returning doc's components, re-flips min-id " +
      "labels and canonicals, is redelivery-idempotent, survives " +
      "compaction, and a bare Versions.revive fails the next fold loud") {
    val root = java.nio.file.Files.createTempDirectory("cs_rev_").toString
    val allDocs: Seq[Long] = (1L to 10L).toSeq
    // {1,2,3,5,6} bridged by 3; singletons 4, 7..10
    val allPairs = Seq((1L, 2L), (2L, 3L), (3L, 5L), (5L, 6L))
    ClusterStream.writeStanding(spark, root, docsDF(allDocs),
      pairsDF(allPairs))
    def check(deleted: Set[Long]): Unit = {
      val rd = allDocs.filterNot(deleted)
      val rp = allPairs.filterNot(p => deleted(p._1) || deleted(p._2))
      assert(readState(root) === batchAnswer(docsDF(rd), pairsDF(rp)))
    }
    // retract the bridge: {1,2} and {5,6} split
    ClusterStream.retract(spark, root, Seq(3L).toDF("id"), 1L)
    check(Set(3L))
    // revive it: the split heals back into one component — the claim-
    // withdrawn production shape (data never left, only the mask did)
    ClusterStream.revive(spark, root, Seq(3L).toDF("id"), 2L)
    check(Set.empty)
    // redelivered revive (same batch id) resolves the same post-marker
    // state and overwrites the same repair deltas
    ClusterStream.revive(spark, root, Seq(3L).toDF("id"), 2L)
    check(Set.empty)
    // the min-id label carrier: deleting 1 relabels the cluster to 2;
    // reviving 1 flips the label (and its election) back
    ClusterStream.retract(spark, root, Seq(1L).toDF("id"), 3L)
    check(Set(1L))
    assert(!readState(root)._1.exists(_._2 == 1L))
    ClusterStream.revive(spark, root, Seq(1L).toDF("id"), 4L)
    check(Set.empty)
    assert(readState(root)._1
      .filter(a => Set(1L, 2L, 3L, 5L, 6L)(a._1)).forall(_._2 == 1L))
    // compaction folds the d/r marker history physically — revived rows
    // survive (deadSet-aware fold), reads unchanged, markers consumed
    ClusterStream.compactStore(spark, root, upTo = 5L)
    check(Set.empty)
    assert(Versions.listTombstones(spark, s"$root/assign").isEmpty &&
      Versions.listRevives(spark, s"$root/assign").isEmpty)
    // a bare Versions.revive bypasses the merge repair: legal only in
    // the verb's own in-flight window (indistinguishable from the verb
    // mid-repair) — the moment a later version lands, every read fails
    // loud instead of serving resurrected rows under stale labels
    ClusterStream.retract(spark, root, Seq(4L).toDF("id"), 5L)
    Versions.revive(spark, s"$root/assign", Seq(4L).toDF("id"), 6L)
    ClusterStream.foldBatch(spark, root)(docsDF(Seq(20L)),
      pairsDF(Seq.empty), 7L)
    val e = intercept[IllegalArgumentException] {
      ClusterStream.readAssignments(spark, root).collect()
    }
    assert(e.getMessage.contains("no repair delta"), e.getMessage)
  }

  test("foldBatch refuses a batch doc id that already has an assignment, " +
      "naming it, and writes nothing; a redelivered batch is no re-arrival") {
    val root = java.nio.file.Files.createTempDirectory("cs_once_").toString
    ClusterStream.writeStanding(spark, root, docsDF(1L to 5L),
      pairsDF(Seq((1L, 2L))))
    val standing = readState(root)
    // a standing cluster member re-arrives next to a new doc it pairs with
    val e = intercept[IllegalArgumentException] {
      ClusterStream.foldBatch(spark, root)(docsDF(Seq(6L, 2L)),
        pairsDF(Seq((6L, 2L))), 0L)
    }
    assert(e.getMessage.contains("doc id(s) 2 "), e.getMessage)
    // a standing singleton re-arrives in a batch with no pairs at all
    val e2 = intercept[IllegalArgumentException] {
      ClusterStream.foldBatch(spark, root)(docsDF(Seq(7L, 4L)),
        pairsDF(Seq.empty), 0L)
    }
    assert(e2.getMessage.contains("doc id(s) 4 "), e2.getMessage)
    assert(!new java.io.File(s"$root/assign/v1").exists &&
      !new java.io.File(s"$root/canon/v1").exists)
    assert(readState(root) === standing)
    // the same batch id delivered twice sees only the versions before it
    (1 to 2).foreach(_ => ClusterStream.foldBatch(spark, root)(
      docsDF(Seq(6L)), pairsDF(Seq((6L, 2L))), 0L))
    assert(readState(root) === batchAnswer(docsDF(1L to 6L),
      pairsDF(Seq((1L, 2L), (6L, 2L)))))
  }

  /** At least 20 seeded folds over random pairs, compared with the batch
    * answer after every fold. Pairs mix in-batch edges, new docs joining
    * old clusters (a new id below the old label relabels the cluster to
    * it), bridges between old clusters, pairs to ids that never arrive
    * and pairs to ids retracted before the sequence (masked). */
  private def randomFolds(pushCidLimit: Int): Unit = {
    val rnd = new scala.util.Random(20261018L)
    var pool = rnd.shuffle((0L until 400L).toVector)
    def take(n: Int): Seq[Long] = {
      val (a, b) = pool.splitAt(n); pool = b; a
    }
    def pick(xs: Seq[Long]): Long = xs(rnd.nextInt(xs.size))
    val neverSeen = take(15)
    val standing = take(40)
    val standingPairs = Seq.fill(25)((pick(standing), pick(standing)))
      .filter(p => p._1 != p._2)
    val root = java.nio.file.Files.createTempDirectory("cs_rand_").toString
    ClusterStream.writeStanding(spark, root, docsDF(standing),
      pairsDF(standingPairs))
    val deleted = standing.take(4)
    ClusterStream.retract(spark, root, deleted.toDF("id"), 0L,
      pushCidLimit = pushCidLimit)
    var live = standing.drop(4)
    var pairs = standingPairs
    var before = readState(root)._1.toMap
    var relabeledDown = 0
    var bridged = 0
    for (b <- 1L to 20L) {
      val docs = take(4 + rnd.nextInt(4))
      val old = live
      val ps = Seq.fill(3 + rnd.nextInt(6)) {
        rnd.nextInt(6) match {
          case 0 => (pick(docs), pick(docs))
          case 1 => (pick(docs), pick(old))
          case 2 => (pick(old), pick(old))
          case 3 => (pick(docs), pick(neverSeen))
          case 4 => (pick(old), pick(neverSeen))
          case _ => (pick(docs ++ old), pick(deleted))
        }
      }.filter(p => p._1 != p._2)
      ClusterStream.foldBatch(spark, root, pushCidLimit = pushCidLimit)(
        docsDF(docs), pairsDF(ps), b)
      live ++= docs; pairs ++= ps
      val state = readState(root)
      assert(state === batchAnswer(docsDF(live), pairsDF(pairs.filterNot(
        p => deleted.contains(p._1) || deleted.contains(p._2)))),
        s"fold $b (pushCidLimit $pushCidLimit) diverged")
      val after = state._1.toMap
      if (before.exists { case (id, c) => after(id) < c }) relabeledDown += 1
      if (before.groupBy(_._2).size >
          before.map { case (id, _) => after(id) }.toSet.size) bridged += 1
      before = after
    }
    // the sequence really exercised the merge paths (non-vacuous)
    assert(relabeledDown > 0 && bridged > 0, (relabeledDown, bridged))
  }

  test("a seeded sequence of 20 folds over random pairs equals the batch " +
      "answer after every fold, at the default pushCidLimit and at 0") {
    randomFolds(pushCidLimit = 1024)
    randomFolds(pushCidLimit = 0)
  }

  test("retract keeps a component held together by an id that never " +
      "arrived as a doc: the repair walks the unseen endpoint") {
    val root = java.nio.file.Files.createTempDirectory("cs_unseen_").toString
    ClusterStream.writeStanding(spark, root, docsDF(Seq(10L, 20L, 30L)),
      pairsDF(Seq((10L, 5L), (5L, 20L), (20L, 30L))))
    assert(readState(root)._1 === Set((10L, 5L), (20L, 5L), (30L, 5L)))
    ClusterStream.retract(spark, root, Seq(30L).toDF("id"), 0L)
    val state = readState(root)
    assert(state._1 === Set((10L, 5L), (20L, 5L)), state)
    assert(state === batchAnswer(docsDF(Seq(10L, 20L)),
      pairsDF(Seq((10L, 5L), (5L, 20L)))))
  }

  test("an id first seen as a pair endpoint joins its component when it " +
      "arrives as a doc, and the canonical counts every member") {
    val root = java.nio.file.Files.createTempDirectory("cs_late_").toString
    ClusterStream.writeStanding(spark, root, docsDF(Seq(10L, 20L)),
      pairsDF(Seq((10L, 5L), (5L, 20L))))
    // 5 is the cluster's label and a stored endpoint, never a doc yet
    ClusterStream.foldBatch(spark, root)(docsDF(Seq(5L)), pairsDF(Seq.empty),
      0L)
    val state = readState(root)
    assert(state._2.map(c => (c._1, c._4)) === Set((5L, 3L)), state)
    assert(state === batchAnswer(docsDF(Seq(5L, 10L, 20L)),
      pairsDF(Seq((10L, 5L), (5L, 20L)))))
    // an endpoint that is not the label joins the same way
    val root2 = java.nio.file.Files.createTempDirectory("cs_late2_").toString
    val pairs2 = Seq((10L, 5L), (5L, 20L), (20L, 3L))
    ClusterStream.writeStanding(spark, root2, docsDF(Seq(10L, 20L)),
      pairsDF(pairs2))
    ClusterStream.foldBatch(spark, root2)(docsDF(Seq(5L)),
      pairsDF(Seq.empty), 0L)
    assert(readState(root2) === batchAnswer(docsDF(Seq(5L, 10L, 20L)),
      pairsDF(pairs2)))
    ClusterStream.foldBatch(spark, root2)(docsDF(Seq(3L)),
      pairsDF(Seq.empty), 1L)
    assert(readState(root2) === batchAnswer(docsDF(Seq(3L, 5L, 10L, 20L)),
      pairsDF(pairs2)))
  }

  test("a delta or a marker rewritten in place under the same name is " +
      "read anew: resolved rows are keyed by the directory's files") {
    val root = java.nio.file.Files.createTempDirectory("cs_rewrite_").toString
    ClusterStream.writeStanding(spark, root, docsDF(1L to 5L),
      pairsDF(Seq((1L, 2L))))
    ClusterStream.foldBatch(spark, root)(docsDF(Seq(6L)), pairsDF(Seq.empty),
      0L)
    def cidOf(id: Long): Seq[Long] = ClusterStream.readAssignments(spark, root)
      .filter(col("id") === id).select("cid").as[Long].collect().toSeq
    assert(cidOf(6L) === Seq(6L))
    Seq((6L, 1L, score(6L), 1L)).toDF("id", "cid", "score", "__v")
      .write.mode("overwrite").parquet(s"$root/assign/v1")
    assert(cidOf(6L) === Seq(1L), "a rewritten delta must be read anew")
    def ids: Set[Long] = ClusterStream.readAssignments(spark, root)
      .select("id").as[Long].collect().toSet
    Versions.tombstone(spark, s"$root/assign", Seq(3L), 1L)
    assert(!ids.contains(3L) && ids.contains(4L))
    Versions.tombstone(spark, s"$root/assign", Seq(4L), 1L)
    assert(ids.contains(3L) && !ids.contains(4L),
      "a rewritten marker must be read anew")
  }
}
