package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.SteadyLit

import graft.operators.Dedup

/** Incremental cluster-identity + canonical-election maintenance at ingest
  * (VERDICT r14 next #4 — the remaining dedup lifecycle gap): near-dup
  * PAIRS without cluster identity can't answer "which copy do we keep"
  * across batches, and a takedown can delete a canonical (or a whole
  * cluster's minimum-id label). This store folds a pair-delta stream
  * ([[NearDupStream.filterBatch]]'s returned pairs, or any pair relation)
  * into standing cluster state whose READ always equals the from-scratch
  * batch answer: labels = [[Dedup.connectedComponentsStar]] min-id
  * components over all retained pairs (singletons label themselves), and
  * canonicals = [[Dedup.canonicalPerCluster]]'s argmax-score (tie → min
  * id) election, generalized to cover singleton clusters.
  *
  * Three versioned roots under one `root` (batch-id-named deltas, the
  * [[Versions]] lineage/idempotence contract):
  *
  *   - `root/assign/v*` — (id, cid, score, __v) assignment rows. The base
  *     `v0` holds EXACTLY one row per doc; deltas hold new arrivals plus
  *     RELABELS (cluster merges/splits rewrite whole clusters — the min-id
  *     invariant `cid = min member id` is maintained inductively, which is
  *     what makes merge labels computable from cids alone). Read = base
  *     minus delta-superseded ids (broadcast anti-join — delta ids are
  *     recent-batch-sized) plus newest-per-id over the DELTAS only, so the
  *     per-batch fold never runs a store-wide window; compaction folds
  *     back to one row per id, clustered by `cid` so the fold's
  *     cluster-membership reads prune the base scan by a pushed `cid IN`
  *     (the trickle-probe posture of the other stores).
  *   - `root/canon/v*` — (cid, keep_id, score, n_members, __v) election
  *     rows, newest-per-cid; a label that merges away or loses all
  *     retained members gets a DEAD row (n_members = 0) so reads stay
  *     append-only.
  *   - `root/pairs/v*` — the folded pair deltas, kept because takedown
  *     repair must re-run connectivity INSIDE affected components over the
  *     retained pairs (deletion can SPLIT a component — decremental
  *     connectivity is recomputed component-locally, never corpus-wide).
  *
  * Ingest ([[foldBatch]]) solves each batch's CONTRACTED graph — new ids
  * plus the cids its pairs touch — in memory on the driver with the shared
  * min-root [[graft.core.UnionFind]]: the pair delta is pulled once, so
  * driver memory is O(batch pairs), and the only distributed work left
  * per trigger is the touched clusters' membership read, their relabel
  * and the election (a touched cluster can be a mega-cluster).
  *
  * Takedown ([[retract]]): markers land on the assign + pairs roots
  * ([[Versions.tombstone]] contract — deleted docs vanish from every
  * read), then the affected components — and only those — are re-solved
  * over their retained pairs: new min-id labels (splits included),
  * re-elected canonicals (the deleted-canonical case), dead rows for
  * labels that no longer exist. Work is component-sized; the sweep that
  * FINDS the ids is the caller's ([[Takedown.takedownAll]] composes).
  *
  * Reference analogue: none (the reference has no persistent state); the
  * batch kernels this must agree with are `Dedup.scala`'s
  * connectedComponentsStar / canonicalPerCluster. */
object ClusterStream {

  private def assignRoot(root: String) = s"$root/assign"
  private def canonRoot(root: String) = s"$root/canon"
  private def pairsRoot(root: String) = s"$root/pairs"

  private val standingHint = "ClusterStream.writeStanding first"

  /** Assignments compact back to one row per id (newest wins), tombstoned
    * docs dropped physically, the base CLUSTERED by `cid` (the fold's
    * membership reads prune by a pushed cid predicate). */
  private val assignSpec = Versions.StoreSpec("cluster assignments",
    Some("id"), Versions.newestPerKey("id"), Seq("cid"), standingHint)

  /** Canonicals compact to one LIVE row per cid. */
  private val canonSpec = Versions.StoreSpec("cluster canonicals", None,
    df => Versions.newestPerKey("cid")(df).filter(col("n_members") > 0),
    Seq("cid"), standingHint)

  /** Pair reads mask tombstoned ids on `id_a` here and on `id_b` at the
    * call site; compaction drops both (see [[compactStore]]). */
  private val pairsSpec = Versions.StoreSpec("cluster pairs", Some("id_a"),
    missingHint = standingHint)

  /** Bootstrap: batch-solve the standing corpus with the batch kernels and
    * write the three `v0`s. `standingDocs` is (idCol, scoreCol); every doc
    * gets an assignment row (pair-graph members via star contraction,
    * everything else a singleton labeled by itself). */
  def writeStanding(spark: SparkSession, root: String,
      standingDocs: DataFrame, standingPairs: DataFrame,
      idCol: String = "id", scoreCol: String = "score",
      lease: Option[Versions.Lease] = None): Unit = {
    Seq(assignRoot(root), canonRoot(root), pairsRoot(root))
      .foreach(Versions.guardStandingWrite(spark, _, lease))
    val pairs = standingPairs.select(col("id_a"), col("id_b"))
      .localCheckpoint(true)
    val labels =
      if (pairs.isEmpty) spark.emptyDataFrame
        .select(lit(0L).as("id"), lit(0L).as("component")).limit(0)
      else Dedup.connectedComponentsStar(pairs)
    val assign = standingDocs
      .select(col(idCol).as("id"), col(scoreCol).cast("double").as("score"))
      .join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("cid"),
        col("score"), lit(0L).as("__v"))
    // the canon base derives from the WRITTEN assign base (sequential
    // pair); the pairs base is independent of both — overlap it with
    // that pair (guide §2.6)
    graft.core.Par.run(
      () => {
        assign.write.mode("overwrite").parquet(s"${assignRoot(root)}/v0")
        electCanon(Versions.read(spark, assignRoot(root),
            Seq(s"${assignRoot(root)}/v0")), 0L)
          .write.mode("overwrite").parquet(s"${canonRoot(root)}/v0")
      },
      () => pairs.write.mode("overwrite").parquet(s"${pairsRoot(root)}/v0"))
  }

  /** Argmax-score (tie → min id) election + member count per cid — the
    * [[Dedup.canonicalPerCluster]] rule over an assignment slice, in AGG
    * shape (VERDICT r15 next #1): `max_by` over the composite ordering
    * key (score, −id) is a declarative aggregate with MAP-SIDE partial
    * combine, so a planted mega-cluster (10⁴+ members under one cid)
    * contributes at most one partial row per map partition to the
    * exchange — the window form sorted every member row inside one
    * reducer task, a task-skew cliff exactly where clusters are biggest.
    * The ordering key is total (ids unique within a cluster), so the
    * election is deterministic and equal to the window form row-for-row
    * (ClusterStreamSpec pins the tie case; ids are non-negative by the
    * store's contract, so −id cannot overflow). */
  private[graft] def electCanon(members: DataFrame, v: Long): DataFrame =
    members.select(col("id"), col("cid"), col("score"))
      .groupBy(col("cid"))
      .agg(max_by(struct(col("id"), col("score")),
          struct(col("score"), (-col("id")).as("nid"))).as("__b"),
        count(lit(1)).as("n_members"))
      .select(col("cid"), col("__b.id").as("keep_id"),
        col("__b.score").as("score"), col("n_members"), SteadyLit.steadyLong(v).as("__v"))

  /** Current assignments: base v0 (one row per id) superseded by the
    * newest delta row per id, tombstoned ids masked. The newest-per-id
    * window runs over DELTAS only — recent-batch-sized until compaction
    * folds them into the base. */
  def readAssignments(spark: SparkSession, root: String,
      upTo: Long = Long.MaxValue): DataFrame =
    readAssignmentsMasked(spark, root, upTo, upTo)

  /** [[readAssignments]] with the tombstone mask bounded separately from
    * the version fold — [[retract]]'s affected-component resolution must
    * see the rows ITS OWN marker hides (mask `< batchId`, versions
    * `<= batchId`), or a redelivered retract would resolve an empty
    * affected set and overwrite its first delivery's repair with nothing
    * (caught by ClusterStreamSpec's idempotence gate). */
  private def readAssignmentsMasked(spark: SparkSession, root: String,
      upTo: Long, maskUpTo: Long): DataFrame = {
    requireRepairedRevives(spark, root)
    val ar = assignRoot(root)
    Versions.maskTombstones(spark, ar,
      baseOverNewest(spark, ar, "id", upTo)
        .select(col("id"), col("cid"), col("score"), col("__v")),
      "id", maskUpTo)
  }

  /** A base-plus-deltas root read: `v0` (one row per `key`, the
    * writeStanding/compact invariant) superseded by the newest delta row
    * per key. The newest-per-key window runs over the DELTAS only —
    * recent-batch-sized until compaction folds them into the base — and
    * the base joins back through a broadcast anti-join, never a
    * store-wide window. */
  private def baseOverNewest(spark: SparkSession, root: String, key: String,
      upTo: Long): DataFrame = {
    val versions = Versions.list(spark, root).filter(_._1 <= upTo)
    require(versions.exists(_._1 == 0L), s"no base at $root/v0")
    val base = Versions.read(spark, root,
      versions.filter(_._1 == 0L).map(_._2.toString))
    val deltaDirs = versions.filter(_._1 > 0L).map(_._2.toString)
    if (deltaDirs.isEmpty) base
    else {
      val newest = Versions.newestPerKey(key)(
          Versions.read(spark, root, deltaDirs))
        .localCheckpoint(true)
      base.join(broadcast(newest.select(col(key))), Seq(key), "left_anti")
        .unionByName(newest)
    }
  }

  /** Current elections: newest row per cid, dead labels (n_members = 0)
    * dropped. Same read posture as [[readAssignments]]. */
  def readCanonicals(spark: SparkSession, root: String,
      upTo: Long = Long.MaxValue): DataFrame =
    baseOverNewest(spark, canonRoot(root), "cid", upTo)
      .filter(col("n_members") > 0)
      .select(col("cid"), col("keep_id"), col("score"), col("n_members"))

  /** The folded pair relation, pairs touching a tombstoned id masked on
    * BOTH endpoints. */
  def readPairs(spark: SparkSession, root: String,
      upTo: Long = Long.MaxValue): DataFrame = {
    requireRepairedRevives(spark, root)
    val pr = pairsRoot(root)
    Versions.maskTombstones(spark, pr, pairsSpec.read(spark, pr, upTo),
      "id_b", upTo)
  }

  /** This store's takedown/revive verbs pair their markers with
    * component-local repair ([[retract]]'s split/re-election,
    * [[revive]]'s merge/re-election) — a bare [[Versions.revive]] on the
    * assign/pairs roots would resurrect rows under stale labels with no
    * repair delta. Every revive-marker batch `b` must therefore be
    * followed by its repair's version `v<b+1>` on the assign root; the
    * one exemption is the verb's own in-flight window (marker landed,
    * repair delta not yet — `b` is the newest marker AND no later
    * version exists), which the verb itself, or its redelivery, closes.
    * The [[graft.streaming.RetrievalStream.readStats]] torn-window
    * discipline, applied to repair deltas. */
  private def requireRepairedRevives(spark: SparkSession,
      root: String): Unit = {
    val ar = assignRoot(root)
    val rs = (Versions.listRevives(spark, ar) ++
      Versions.listRevives(spark, pairsRoot(root))).map(_._1).distinct
    if (rs.nonEmpty) {
      val versions = Versions.list(spark, ar).map(_._1).toSet
      val newest = rs.max
      val inFlight = (b: Long) =>
        b == newest && !versions.exists(_ > b)
      val unrepaired = rs.filterNot(b => versions(b + 1) || inFlight(b))
      require(unrepaired.isEmpty,
        s"revive markers at batch ${unrepaired.mkString(", ")} under " +
          s"$root have no repair delta — revive through " +
          "ClusterStream.revive (marker + component-local merge repair), " +
          "not a bare Versions.revive")
    }
  }

  /** Assignment slice for a (takedown/batch-sized) cid set: pushed
    * `cid IN` literal when the set is small enough for parquet row-group
    * pruning on a compacted cid-clustered base (the
    * [[NearDupStream.filterBatch]] pushBucketLimit pattern), broadcast
    * join fallback otherwise. `cids` must be materialized (it is read up
    * to `limit + 1` rows). */
  private def membersOf(assigns: DataFrame, cids: DataFrame,
      pushCidLimit: Int = 1024): DataFrame = {
    val some = cids.select(col("cid")).distinct()
      .limit(pushCidLimit + 1).collect().map(_.getLong(0)).toSeq
    if (some.size <= pushCidLimit) assigns.filter(col("cid").isin(some: _*))
    else assigns.join(broadcast(cids.select(col("cid")).distinct()), "cid")
  }

  /** `df` restricted to rows whose `key` is in `ids`: a pushed `key IN`
    * literal up to `limit` ids (parquet row-group pruning on a compacted,
    * cid-clustered base), a broadcast semi-join of the local id relation
    * beyond. */
  private def restrictTo(df: DataFrame, key: String, ids: Seq[Long],
      limit: Int): DataFrame =
    if (ids.size <= limit) df.filter(col(key).isin(ids: _*))
    else {
      val spark = df.sparkSession
      import spark.implicits._
      df.join(broadcast(ids.toDF(key)), Seq(key), "left_semi")
    }

  /** `df` plus `__nl`: the label `labels` maps `key` to, or `key` itself
    * where it maps nothing. Up to `limit` labels travel as one map literal
    * (a projection — no join, no broadcast job); beyond, a broadcast left
    * join of the local label relation. */
  private def relabel(df: DataFrame, key: String, labels: Seq[(Long, Long)],
      limit: Int): DataFrame =
    if (labels.size <= limit)
      df.withColumn("__nl",
        coalesce(typedLit(labels.toMap).apply(col(key)), col(key)))
    else {
      val spark = df.sparkSession
      import spark.implicits._
      df.join(broadcast(labels.toDF(key, "__nl")), Seq(key), "left")
        .withColumn("__nl", coalesce(col("__nl"), col(key)))
    }

  /** The `foreachBatch` fold: merge one batch of docs (idCol, scoreCol)
    * and its pair delta into the standing state. Per-batch work is
    * batch-sized plus the touched clusters' membership read; the standing
    * corpus never re-clusters.
    *
    * The contracted batch graph is solved IN MEMORY on the driver: the
    * masked pair delta (already checkpointed for its `pairs/v<b+1>` write)
    * is pulled once, ONE lookup resolves every endpoint to its current cid,
    * and a [[graft.core.UnionFind]] whose roots are minimum ids merges the
    * batch's new ids with the touched cids — cid = min member id, so the
    * root of a touched cid IS the merged cluster's label. Driver memory is
    * O(batch pairs). The touched labels and the new docs' labels then
    * travel into the plans as literals (local relations past
    * `pushCidLimit`), so only the touched clusters' membership read, its
    * relabel and the election run distributed — a touched cluster can be
    * a mega-cluster.
    *
    * Each doc arrives once: a batch doc id that already has an assignment
    * at `upTo = batchId` is refused with an `IllegalArgumentException`
    * naming it (re-ingested content takes a fresh id,
    * [[Takedown.guardReingest]]). The check rides in the same lookup. */
  def foldBatch(spark: SparkSession, root: String, idCol: String = "id",
      scoreCol: String = "score", pushCidLimit: Int = 1024,
      lease: Option[Versions.Lease] = None)(
      batchDocs: DataFrame, batchPairs: DataFrame, batchId: Long): Unit = {
    import spark.implicits._
    val ar = assignRoot(root); val cr = canonRoot(root)
    val pr = pairsRoot(root)
    assignSpec.guardAppend(spark, ar, batchId, lease)
    canonSpec.guardAppend(spark, cr, batchId, lease)
    pairsSpec.guardAppend(spark, pr, batchId, lease)
    // pairs touching a tombstoned id are masked on BOTH endpoints
    // (broadcast, takedown-sized) — an upstream pair generator that has
    // not seen the takedown yet could otherwise make a deleted doc look
    // never-seen: it would label itself, become a graph node, and merge
    // two live clusters through a deleted doc (ADVICE r15 #2). The
    // masked fold equals the fold over the retained-pair stream.
    // The two batch-sized materializations are independent — overlap
    // them (guide §2.6); bp's driver pull rides inside its own thunk, one
    // cheap action over the just-checkpointed frame under bd's wall.
    val staged = graft.core.Par.eval(Seq[() => (DataFrame, Array[Row])](
      () => (batchDocs
          .select(col(idCol).as("id"),
            col(scoreCol).cast("double").as("score"))
          .localCheckpoint(true), Array.empty[Row]),
      () => {
        val d = Versions.maskTombstones(spark, ar,
            Versions.maskTombstones(spark, ar,
              batchPairs.select(col("id_a"), col("id_b")), "id_a", batchId),
            "id_b", batchId)
          .localCheckpoint(true)
        (d, d.collect())
      }))
    // batch-sized: every delta row derived from bd lands in ONE file (the
    // checkpoint above still ran at the batch's own parallelism)
    val bd = staged(0)._1.coalesce(1)
    val (bp, pairRows) = staged(1)
    val v = batchId + 1
    val ends = pairRows.flatMap(r =>
      (0 to 1).filterNot(r.isNullAt).map(r.getLong)).distinct.sorted.toSeq
    val assigns = readAssignments(spark, root, upTo = batchId)
    // the one lookup: (id, cid, false) per endpoint with an assignment,
    // (id, cid, true) per batch doc with one (refused below), and
    // (id, null, true) per batch doc that is an endpoint
    val keys = ends.toDF("id").select(col("id"), lit(false).as("__new"))
      .unionByName(bd.select(col("id"), lit(true).as("__new")))
    val lookup = assigns.select(col("id"), col("cid"))
      .join(broadcast(keys), Seq("id"))
      .unionByName(restrictTo(bd, "id", ends, pushCidLimit).select(col("id"),
        lit(null).cast("long").as("cid"), lit(true).as("__new")))
      .collect()
    val reused = lookup.filter(r => r.getBoolean(2) && !r.isNullAt(1))
      .map(_.getLong(0)).distinct.sorted
    if (reused.nonEmpty) throw new IllegalArgumentException(
      s"ClusterStream.foldBatch: batch $batchId carries doc id(s) " +
        s"${reused.take(10).mkString(", ")} that already have an " +
        s"assignment under $root — each doc arrives once; re-ingested " +
        "content takes a fresh id")
    if (pairRows.isEmpty) {
      // no connectivity: every batch doc is a fresh singleton. The three
      // delta writes are independent (distinct roots, redelivery
      // overwrites any completion subset) — overlap them (guide §2.6).
      graft.core.Par.run(
        () => bd.select(col("id"), col("id").as("cid"), col("score"),
            SteadyLit.steadyLong(v).as("__v"))
          .write.mode("overwrite").parquet(s"$ar/v$v"),
        () => bd.select(col("id").as("cid"), col("id").as("keep_id"),
            col("score"), lit(1L).as("n_members"), SteadyLit.steadyLong(v).as("__v"))
          .write.mode("overwrite").parquet(s"$cr/v$v"),
        () => bp.write.mode("overwrite").parquet(s"$pr/v$v"))
      return
    }
    // contract the batch graph: new ids stay nodes, old ids become their
    // cluster's node
    val cidOf = scala.collection.mutable.Map(lookup.filterNot(_.getBoolean(2))
      .map(r => r.getLong(0) -> r.getLong(1)).toIndexedSeq: _*)
    val isNew = lookup.filter(_.getBoolean(2)).map(_.getLong(0)).toSet
    val edges = scala.collection.mutable.ArrayBuffer.from(pairRows.collect {
      case r if !r.isNullAt(0) && !r.isNullAt(1) => (r.getLong(0), r.getLong(1))
    })
    // an endpoint that is neither assigned nor a batch doc has never been
    // seen as a doc (a pair against a not-yet-folded singleton): it is a
    // node of the stored pair graph with no stored label, so walk its
    // stored (masked) pairs out to the first assigned docs — the solve
    // then sees every cluster and every smaller unseen id its component
    // holds. Pairs from the near-dup filter never take this path.
    var frontier = ends.filterNot(x => isNew(x) || cidOf.contains(x))
    val walked = scala.collection.mutable.Set(frontier: _*)
    lazy val stored = readPairs(spark, root, upTo = batchId)
      .filter(col("id_a").isNotNull && col("id_b").isNotNull)
    while (frontier.nonEmpty) {
      val hop = restrictTo(stored, "id_a", frontier, pushCidLimit)
        .unionAll(restrictTo(stored, "id_b", frontier, pushCidLimit))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      edges ++= hop
      val reached = hop.flatMap(e => Seq(e._1, e._2)).distinct
        .filterNot(walked).toSeq
      cidOf ++= restrictTo(assigns, "id", reached, pushCidLimit)
        .select(col("id"), col("cid")).collect()
        .map(r => r.getLong(0) -> r.getLong(1))
      frontier = reached.filterNot(cidOf.contains)
      walked ++= reached
    }
    val uf = new graft.core.UnionFind
    val node = (x: Long) => cidOf.getOrElse(x, x)
    ends.foreach(x => uf.add(node(x)))
    edges.foreach { case (a, b) => uf.union(node(a), node(b)) }
    // touched clusters → their merged label: min over member doc ids ==
    // min over (batch ids, touched cids) because cid = min member id
    val touched = (ends ++ walked).filterNot(isNew).map(node).distinct
      .map(c => c -> uf.find(c))
    val newLabels = ends.filter(isNew).map(x => x -> uf.find(x))
    val oldMembers = relabel(restrictTo(assigns, "cid", touched.map(_._1),
        pushCidLimit), "cid", touched, pushCidLimit)
      .select(col("id"), col("cid"), col("score"), col("__nl"))
      .localCheckpoint(true)
    // batch docs outside every pair keep their own id as label
    val newDocs = relabel(bd, "id", newLabels, pushCidLimit)
      .select(col("id"), col("__nl").as("cid"), col("score"))
    // one partition: the merged-away labels are a handful of driver rows
    val dead = touched.collect { case (c, nl) if c != nl =>
        (c, -1L, 0.0, 0L, v) }
      .toDF("cid", "keep_id", "score", "n_members", "__v").coalesce(1)
    // the three delta writes are independent (distinct roots, redelivery
    // overwrites any completion subset) — overlap them (guide §2.6);
    // oldMembers is checkpointed above, every other input is bd, bp or
    // a driver-side literal
    graft.core.Par.run(
      // assignment delta: every new doc + every relabeled old member
      () => oldMembers.filter(col("cid") =!= col("__nl"))
        .select(col("id"), col("__nl").as("cid"), col("score"))
        .unionAll(newDocs)
        .withColumn("__v", SteadyLit.steadyLong(v))
        .write.mode("overwrite").parquet(s"$ar/v$v"),
      // canonical delta: re-elect every touched label, kill merged-away
      // ones
      () => electCanon(oldMembers.select(col("id"), col("__nl").as("cid"),
          col("score")).unionAll(newDocs), v)
        .unionByName(dead)
        .write.mode("overwrite").parquet(s"$cr/v$v"),
      () => bp.write.mode("overwrite").parquet(s"$pr/v$v"))
  }

  /** Takedown + component-local repair (the [[Versions.tombstone]]
    * contract, plus the cluster-specific consequences the generic marker
    * cannot express): markers land on the assign + pairs roots, then the
    * AFFECTED components — and only those — are re-solved over their
    * retained pairs. Splits produce new min-id labels; members isolated
    * by the deletion become singletons; canonicals re-elect (the deleted-
    * canonical case); labels with no retained members die. Occupies the
    * `batchId + 1` version slot on the assign/canon roots — run it inside
    * a trigger that does not also fold (its own maintenance batch), like
    * every single-writer snapshot step. */
  def retract(spark: SparkSession, root: String, ids: DataFrame,
      batchId: Long, pushCidLimit: Int = 1024,
      lease: Option[Versions.Lease] = None): Unit = {
    val ar = assignRoot(root); val cr = canonRoot(root)
    val v = batchId + 1
    // same lineage guards as the fold: a fresh checkpoint replaying an
    // old batch over newer deltas would fork the repair's lineage
    assignSpec.guardAppend(spark, ar, batchId, lease)
    canonSpec.guardAppend(spark, cr, batchId, lease)
    val del = Versions.idRelation(ids).localCheckpoint(true)
    // affected components: the deleted docs' rows must stay visible to
    // THIS resolution even on redelivery (this batch's own marker may
    // already exist), so the mask stops strictly before batchId
    val affected = readAssignmentsMasked(spark, root, upTo = batchId,
        maskUpTo = batchId - 1)
      .join(broadcast(del), Seq("id"), "left_semi")
      .select(col("cid")).distinct().localCheckpoint(true)
    // independent marker roots (the repair below reads both post-marker
    // views) — overlap the two marker writes (guide §2.6)
    graft.core.Par.run(
      () => Versions.tombstoneFrom(spark, ar, del, batchId, lease),
      () => Versions.tombstoneFrom(spark, pairsRoot(root), del, batchId,
        lease))
    // retained members and retained intra-component pairs (both reads are
    // masked now); connectivity re-solves component-locally
    repairComponents(spark, root, affected, batchId, pushCidLimit)
  }

  /** Un-delete + component-local MERGE repair (VERDICT r16 next #4 —
    * the store's own revive path; the generic [[Versions.revive]] is
    * refused on read because it cannot invert [[retract]]'s paired
    * repair): `r<batchId>` markers land on the assign + pairs roots (the
    * ORIGINAL rows return — [[Versions.revive]]'s dead-as-of check and
    * every other contract clause apply per root), then the AFFECTED
    * components — the revived docs' own labels plus every component a
    * revived pair reaches — re-solve over the now-retained pairs: the
    * returning doc re-merges into its old neighborhood (possibly
    * bridging components that split while it was dead), min-id labels
    * rewrite (a small revived id can RE-FLIP its cluster's label and
    * canonical), elections re-run, labels that merge away die. Work is
    * component-sized, exactly [[retract]]'s repair posture.
    *
    * Unlike [[retract]] (whose own markers HIDE its inputs, forcing the
    * mask bound to `batchId - 1`), the repair here reads the PLAIN
    * post-revive view: its own markers REVEAL the rows it must re-merge,
    * so a redelivered revive resolves the same state and overwrites the
    * same deltas. Occupies the `batchId + 1` version slot — run it in
    * its own maintenance trigger, like [[retract]].
    *
    * Revive is NOT re-ingest: pairs the doc acquired no rows for while
    * dead (a batch probed the band index during the takedown window) do
    * not reappear — the doc reconnects through the pairs it had when it
    * was retracted plus anything folded against it later. New content
    * under the same external key still routes through a fresh ingest id
    * ([[Takedown.guardReingest]]). */
  def revive(spark: SparkSession, root: String, ids: DataFrame,
      batchId: Long, pushCidLimit: Int = 1024,
      lease: Option[Versions.Lease] = None): Unit = {
    val ar = assignRoot(root); val pr = pairsRoot(root)
    assignSpec.guardAppend(spark, ar, batchId, lease)
    canonSpec.guardAppend(spark, canonRoot(root), batchId, lease)
    val rel = Versions.idRelation(ids).localCheckpoint(true)
    // independent marker roots — overlap the two revive-marker writes
    // (guide §2.6); the repair below reads both post-marker views
    graft.core.Par.run(
      () => Versions.revive(spark, ar, rel, batchId, lease),
      () => Versions.revive(spark, pr, rel, batchId, lease))
    // seeds: the revived docs + every endpoint of a pair touching them
    // (a revived pair can merge the doc's old neighborhood with whatever
    // its partners drifted into while it was dead) — their components,
    // and only those, re-solve
    val pairs = readPairs(spark, root, upTo = batchId)
    val touching = pairs
      .join(broadcast(rel.withColumnRenamed("id", "id_a")), Seq("id_a"),
        "left_semi")
      .unionAll(pairs.join(broadcast(rel.withColumnRenamed("id", "id_b")),
        Seq("id_b"), "left_semi"))
      .localCheckpoint(true)
    val seeds = touching.select(col("id_a").as("id"))
      .unionAll(touching.select(col("id_b").as("id")))
      .unionAll(rel).distinct()
    val affected = readAssignments(spark, root, upTo = batchId)
      .join(broadcast(seeds), Seq("id"), "left_semi")
      .select(col("cid")).distinct().localCheckpoint(true)
    repairComponents(spark, root, affected, batchId, pushCidLimit)
  }

  /** The shared component-local re-solve behind [[retract]] and
    * [[revive]]: read the affected cids' members and their retained
    * intra-member pairs from the post-marker view, re-run star
    * contraction, rewrite relabeled members as the `batchId + 1` assign
    * delta, re-elect every surviving label and write dead rows for
    * labels that no longer exist. */
  private def repairComponents(spark: SparkSession, root: String,
      affected: DataFrame, batchId: Long, pushCidLimit: Int): Unit = {
    val ar = assignRoot(root); val cr = canonRoot(root)
    val v = batchId + 1
    val members = membersOf(readAssignments(spark, root, upTo = batchId),
        affected, pushCidLimit)
      .localCheckpoint(true)
    val memberIds = broadcast(members.select(col("id")))
    val keptPairs = readPairs(spark, root, upTo = batchId)
      .join(memberIds.withColumnRenamed("id", "id_a"), Seq("id_a"),
        "left_semi")
      .join(memberIds.withColumnRenamed("id", "id_b"), Seq("id_b"),
        "left_semi")
      .localCheckpoint(true)
    val labels =
      if (keptPairs.isEmpty) spark.emptyDataFrame
        .select(lit(0L).as("id"), lit(0L).as("component")).limit(0)
      else Dedup.connectedComponentsStar(keptPairs)
    val resolved = members
      .join(labels, Seq("id"), "left")
      .select(col("id"), col("cid"),
        coalesce(col("component"), col("id")).as("__nl"), col("score"))
      .localCheckpoint(true)
    val newLabels = resolved.select(col("__nl").as("cid")).distinct()
    // the two repair-delta writes are independent (distinct roots,
    // redelivery re-resolves and overwrites both) — overlap them
    // (guide §2.6); `resolved` is checkpointed above
    graft.core.Par.run(
      () => resolved.filter(col("cid") =!= col("__nl"))
        .select(col("id"), col("__nl").as("cid"), col("score"),
          SteadyLit.steadyLong(v).as("__v"))
        .write.mode("overwrite").parquet(s"$ar/v$v"),
      () => electCanon(resolved.select(col("id"), col("__nl").as("cid"),
          col("score")), v)
        .unionByName(affected.join(newLabels, Seq("cid"), "left_anti")
          .select(col("cid"), lit(-1L).as("keep_id"), lit(0.0).as("score"),
            lit(0L).as("n_members"), SteadyLit.steadyLong(v).as("__v")))
        .write.mode("overwrite").parquet(s"$cr/v$v"))
  }

  /** Fold all three roots' deltas into fresh bases (each root's spec);
    * pairs with both-endpoint tombstone drops (the marker set is applied
    * to BOTH columns before the id_a-keyed consumption — a one-column
    * drop would resurrect the id_b rows once the markers are consumed). */
  def compactStore(spark: SparkSession, root: String, upTo: Long,
      lease: Option[Versions.Lease] = None): Unit = {
    val pr = pairsRoot(root)
    // allowSingle on all three roots: a marker-only history (retract/
    // revive with no interleaved folds) leaves one version + markers to
    // consume, and a crash between the per-root rewrites must leave the
    // re-run convergent (the RetrievalStream.compactStore discipline).
    // The three per-root rewrites are independent (crash recovery is
    // already "re-run converges per root") — overlap them (guide §2.6).
    graft.core.Par.run(
      () => assignSpec.compact(spark, assignRoot(root), upTo,
        allowSingle = true, lease),
      () => canonSpec.compact(spark, canonRoot(root), upTo,
        allowSingle = true, lease),
      () => {
        // deadSet, not the raw marker union: a revived id's pair rows must
        // survive the physical fold (newest-verb-wins, the
        // RetrievalStream.compactStore discipline)
        val delIds = Versions.deadSet(spark, pr, upTo)
          .map(_.localCheckpoint(true))
        Versions.compact(spark, pr, upTo,
          df => delIds.fold(df)(d =>
            df.join(broadcast(d.withColumnRenamed("id", "id_b")),
              Seq("id_b"), "left_anti")),
          tombstoneIdCol = Some("id_a"), allowSingle = true, lease = lease)
      })
  }
}
