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
  *     minus delta-superseded ids plus the newest row per id over the
  *     DELTAS only, both resolved on the driver once per listing (delta
  *     ids are recent-batch-sized: an `IN` literal on the base, the rows
  *     a local relation), so no read runs a window, a checkpoint or a
  *     store-wide exchange; compaction folds back to one row per id,
  *     clustered by `cid` so the fold's cluster-membership reads prune
  *     the base scan by a pushed `cid IN` (the trickle-probe posture of
  *     the other stores).
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
    Seq("id"), Versions.newestPerKey("id"), Seq("cid"), standingHint)

  /** Canonicals compact to one LIVE row per cid. */
  private val canonSpec = Versions.StoreSpec("cluster canonicals", Nil,
    df => Versions.newestPerKey("cid")(df).filter(col("n_members") > 0),
    Seq("cid"), standingHint)

  /** Pairs touching a tombstoned id on EITHER endpoint are masked on read
    * and dropped by compaction (a one-column drop would resurrect the
    * other endpoint's rows once the markers are consumed). */
  private val pairsSpec = Versions.StoreSpec("cluster pairs",
    Seq("id_a", "id_b"), missingHint = standingHint)

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
    * newest delta row per id, tombstoned ids masked. Both small sides —
    * the delta overlay and the dead set — are resolved on the driver once
    * per listing ([[baseOverNewest]], [[Versions.maskTombstones]]). */
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
    * per key. The deltas are recent-batch-sized until compaction folds
    * them into the base, so their rows are resolved on the driver
    * ([[Versions.resolveRows]], once per listing) and the newest row per
    * key is taken there: no window, no checkpoint. The base drops the
    * superseded keys ([[Versions.withoutIds]]: an `IN` literal, or a
    * broadcast local relation past its limit) and the newest rows join it
    * as a local relation — a repeated read of an unchanged version set
    * runs no action before its own. */
  private def baseOverNewest(spark: SparkSession, root: String, key: String,
      upTo: Long): DataFrame = {
    val versions = Versions.list(spark, root).filter(_._1 <= upTo)
    require(versions.exists(_._1 == 0L), s"no base at $root/v0")
    val base = Versions.read(spark, root,
      versions.filter(_._1 == 0L).map(_._2.toString))
    val deltas = versions.filter(_._1 > 0L)
      .map { case (_, p) => Versions.resolveRows(spark, root, p) }
    if (deltas.isEmpty) base
    else {
      val schema = deltas.head._1
      val (k, v) = (schema.fieldIndex(key), schema.fieldIndex("__v"))
      // ascending batch order: among equal __v the later delta wins
      val newest = scala.collection.mutable.LinkedHashMap[Any, Row]()
      for ((_, rows) <- deltas; r <- rows) {
        val kv = r.get(k)
        if (newest.get(kv).forall(_.getLong(v) <= r.getLong(v)))
          newest(kv) = r
      }
      val keys = newest.keys.collect { case id: Long => id }.toSeq
      Versions.withoutIds(base, key, keys).unionByName(
        spark.createDataFrame(
          java.util.Arrays.asList(newest.values.toSeq: _*), schema))
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
    pairsSpec.read(spark, pairsRoot(root), upTo)
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

  /** The pairs of `stored` with an endpoint in `ids`: one scan with a
    * pushed `id_a IN … OR id_b IN …` up to `limit` ids, two broadcast
    * semi-joins of the local id relation beyond (a pair with both ends in
    * `ids` then comes back twice). */
  private def pairsTouching(stored: DataFrame, ids: Seq[Long],
      limit: Int): DataFrame =
    if (ids.size <= limit)
      stored.filter(col("id_a").isin(ids: _*) || col("id_b").isin(ids: _*))
    else restrictTo(stored, "id_a", ids, limit)
      .unionAll(restrictTo(stored, "id_b", ids, limit))

  /** Walk the stored pair graph out from `frontier`, ids that never
    * arrived as docs, hop by hop until every reached id is assigned:
    * returns the walked pairs, the reached ids' cids and every id walked
    * or reached. One pair read and one assignment read per hop; stores
    * whose pairs join arrived docs only never take a hop. */
  private def walkUnseen(stored: DataFrame, assigns: DataFrame,
      frontier: Seq[Long], limit: Int)
      : (Seq[(Long, Long)], Map[Long, Long], Set[Long]) = {
    val edges = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val cidOf = scala.collection.mutable.Map[Long, Long]()
    val walked = scala.collection.mutable.Set(frontier: _*)
    var next = frontier
    while (next.nonEmpty) {
      val hop = pairsTouching(stored, next, limit)
        .select(col("id_a"), col("id_b"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      edges ++= hop
      val reached = hop.flatMap(e => Seq(e._1, e._2)).distinct
        .filterNot(walked).toSeq
      cidOf ++= restrictTo(assigns, "id", reached, limit)
        .select(col("id"), col("cid")).collect()
        .map(r => r.getLong(0) -> r.getLong(1))
      next = reached.filterNot(cidOf.contains)
      walked ++= reached
    }
    (edges.toSeq, cidOf.toMap, walked.toSet)
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
    * [[Takedown.guardReingest]]). The check rides in the same lookup, and
    * so do the stored pairs touching a batch doc: an id first seen only as
    * a pair endpoint (possibly a cluster's label) is already a node of a
    * stored component, so when it arrives as a doc it joins that cluster
    * and the re-election counts every member. */
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
    // them (guide §2.6); each driver pull (the batch's ids, its pairs)
    // rides inside its own thunk, one cheap action over the
    // just-checkpointed frame.
    val staged = graft.core.Par.eval(Seq[() => (DataFrame, Array[Row])](
      () => {
        val d = batchDocs
          .select(col(idCol).as("id"),
            col(scoreCol).cast("double").as("score"))
          .localCheckpoint(true)
        (d, d.select(col("id")).collect())
      },
      () => {
        val d = Versions.maskIds(spark, ar,
            batchPairs.select(col("id_a"), col("id_b")), Seq("id_a", "id_b"),
            batchId)
          .localCheckpoint(true)
        (d, d.collect())
      }))
    // batch-sized: every delta row derived from bd lands in ONE file (the
    // checkpoint above still ran at the batch's own parallelism)
    val bd = staged(0)._1.coalesce(1)
    val docIds = staged(0)._2.filterNot(_.isNullAt(0)).map(_.getLong(0)).toSeq
    val isNew = docIds.toSet
    val (bp, pairRows) = staged(1)
    val v = batchId + 1
    val ends = pairRows.flatMap(r =>
      (0 to 1).filterNot(r.isNullAt).map(r.getLong)).distinct.sorted.toSeq
    val assigns = readAssignments(spark, root, upTo = batchId)
    val stored = readPairs(spark, root, upTo = batchId)
      .filter(col("id_a").isNotNull && col("id_b").isNotNull)
    // stored pairs touching a batch doc: an id that first appeared only
    // as a pair endpoint is already a node of a stored component, and
    // joins that component when it arrives as a doc
    val touch = pairsTouching(stored, docIds, pushCidLimit)
    // the one lookup: (id, cid, false) per assigned batch doc (refused
    // below), batch-pair endpoint or endpoint of a stored pair touching a
    // batch doc, and (id_a, id_b, true) per stored pair touching a batch
    // doc
    val keys = (ends ++ docIds).toDF("id")
      .unionAll(touch.select(explode(array(col("id_a"), col("id_b")))
        .as("id")))
    val (edgeRows, assigned) = assigns.select(col("id"), col("cid"))
      .join(broadcast(keys), Seq("id"))
      .withColumn("__e", lit(false))
      .unionByName(touch.select(col("id_a").as("id"), col("id_b").as("cid"),
        lit(true).as("__e")))
      .collect().partition(_.getBoolean(2))
    val reused = assigned.map(_.getLong(0)).filter(isNew).distinct.sorted
    if (reused.nonEmpty) throw new IllegalArgumentException(
      s"ClusterStream.foldBatch: batch $batchId carries doc id(s) " +
        s"${reused.take(10).mkString(", ")} that already have an " +
        s"assignment under $root — each doc arrives once; re-ingested " +
        "content takes a fresh id")
    val storedEdges = edgeRows.map(r => (r.getLong(0), r.getLong(1)))
      .distinct.toSeq
    if (pairRows.isEmpty && storedEdges.isEmpty) {
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
    val cidOf = scala.collection.mutable.Map(assigned
      .map(r => r.getLong(0) -> r.getLong(1)).toIndexedSeq: _*)
    val edges = scala.collection.mutable.ArrayBuffer.from(pairRows.collect {
      case r if !r.isNullAt(0) && !r.isNullAt(1) => (r.getLong(0), r.getLong(1))
    }) ++= storedEdges
    val nodes = (ends ++ storedEdges.flatMap(e => Seq(e._1, e._2))).distinct
    // an endpoint that is neither assigned nor a batch doc has never been
    // seen as a doc (a pair against a not-yet-folded singleton): it is a
    // node of the stored pair graph with no stored label, so walk its
    // stored (masked) pairs out to the first assigned docs — the solve
    // then sees every cluster and every smaller unseen id its component
    // holds. Pairs from the near-dup filter never take this path.
    val (hops, reached, walked) = walkUnseen(stored, assigns,
      nodes.filterNot(x => isNew(x) || cidOf.contains(x)), pushCidLimit)
    edges ++= hops
    cidOf ++= reached
    val uf = new graft.core.UnionFind
    val node = (x: Long) => cidOf.getOrElse(x, x)
    nodes.foreach(x => uf.add(node(x)))
    edges.foreach { case (a, b) => uf.union(node(a), node(b)) }
    // touched clusters → their merged label: min over member doc ids ==
    // min over (batch ids, touched cids) because cid = min member id
    val touched = (nodes ++ walked).filterNot(isNew).map(node).distinct
      .map(c => c -> uf.find(c))
    val newLabels = nodes.filter(isNew).map(x => x -> uf.find(x))
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
      .select(col("cid")).distinct().collect().map(_.getLong(0)).toSeq
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
    import spark.implicits._
    // revive-sized by contract: collected once, so each root's dead-as-of
    // check below runs on the driver
    val rel = Versions.collectIds(ids, "revive").toDF("id")
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
      .select(col("cid")).distinct().collect().map(_.getLong(0)).toSeq
    repairComponents(spark, root, affected, batchId, pushCidLimit)
  }

  /** The shared component-local re-solve behind [[retract]] and
    * [[revive]]: read the affected cids' members and every retained pair
    * with at least one member endpoint from the post-marker view, walk
    * the endpoints that never arrived as docs out to arrived ones (the
    * [[foldBatch]] walk — an unseen id can hold a component together),
    * re-run star contraction, rewrite relabeled members as the
    * `batchId + 1` assign delta, re-elect every surviving label and write
    * dead rows for labels that no longer exist. A walk that reaches a
    * doc of another cluster (a revived doc reconnecting through an
    * unseen id) re-solves with that cluster added. */
  private def repairComponents(spark: SparkSession, root: String,
      affected: Seq[Long], batchId: Long, pushCidLimit: Int): Unit = {
    import spark.implicits._
    val ar = assignRoot(root); val cr = canonRoot(root)
    val v = batchId + 1
    val assigns = readAssignments(spark, root, upTo = batchId)
    val stored = readPairs(spark, root, upTo = batchId)
      .filter(col("id_a").isNotNull && col("id_b").isNotNull)
    val members = restrictTo(assigns, "cid", affected, pushCidLimit)
      .select(col("id"), col("cid"), col("score"))
      .localCheckpoint(true)
    val memberIds = broadcast(members.select(col("id")))
    def on(c: String) = memberIds.withColumnRenamed("id", c)
    // each retained pair with a member endpoint, once
    val keptPairs = stored.join(on("id_a"), Seq("id_a"), "left_semi")
      .select(col("id_a"), col("id_b"))
      .unionAll(stored.join(on("id_b"), Seq("id_b"), "left_semi")
        .join(on("id_a"), Seq("id_a"), "left_anti")
        .select(col("id_a"), col("id_b")))
      .localCheckpoint(true)
    // deleted docs' pairs are masked, so an endpoint outside the members
    // is an id that never arrived — or, on revive, a doc of another
    // cluster
    val outside = keptPairs.select(explode(array(col("id_a"), col("id_b")))
        .as("id"))
      .join(memberIds, Seq("id"), "left_anti").distinct()
      .collect().map(_.getLong(0)).toSeq
    val arrived =
      if (outside.isEmpty) Map.empty[Long, Long]
      else restrictTo(assigns, "id", outside, pushCidLimit)
        .select(col("id"), col("cid")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (hops, reached, _) = walkUnseen(stored, assigns,
      outside.filterNot(arrived.contains), pushCidLimit)
    val known = affected.toSet
    val foreign = (arrived ++ reached).values.filterNot(known).toSeq.distinct
    if (foreign.nonEmpty)
      return repairComponents(spark, root, affected ++ foreign, batchId,
        pushCidLimit)
    val labels = Dedup.connectedComponentsStar(
      if (hops.isEmpty) keptPairs
      else keptPairs.unionAll(hops.distinct.toDF("id_a", "id_b")))
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
        .unionByName(affected.distinct.toDF("cid")
          .join(newLabels, Seq("cid"), "left_anti")
          .select(col("cid"), lit(-1L).as("keep_id"), lit(0.0).as("score"),
            lit(0L).as("n_members"), SteadyLit.steadyLong(v).as("__v")))
        .write.mode("overwrite").parquet(s"$cr/v$v"))
  }

  /** Fold all three roots' deltas into fresh bases (each root's spec;
    * pairs drop on both endpoints — a revived id's pairs survive, the
    * dead set is newest-verb-wins). */
  def compactStore(spark: SparkSession, root: String, upTo: Long,
      lease: Option[Versions.Lease] = None): Unit = {
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
      () => pairsSpec.compact(spark, pairsRoot(root), upTo,
        allowSingle = true, lease))
  }
}
