package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Cross-store takedown orchestration (VERDICT r14 next #1): ONE
  * predicate-driven sweep, resolved EXACTLY ONCE, fanned out under ONE
  * batch id to the raw corpus ([[CorpusMaintenance.deleteBatch]]) and
  * every derived row-level store it feeds ([[Versions.tombstoneFrom]] per
  * marker root) — the production GDPR/licensing shape the per-store verbs
  * (p132–p138) compose into.
  *
  * Why an orchestrator instead of calling the per-store verbs by hand:
  *
  *   - '''Single sweep resolution.''' A predicate sweep ("every doc whose
  *     quality < bar", "every doc matching this PII pattern") is a
  *     distributed scan whose result can CHANGE between evaluations — not
  *     least because the first marker written starts masking the very
  *     rows the predicate reads. Hand-fanning the predicate into N store
  *     verbs can therefore delete DIFFERENT id sets per store. Here the
  *     sweep is resolved once into a journal (`journalRoot/t<batchId>/
  *     ids`, takedown-sized by the marker contract) and every store's
  *     marker is written FROM THE JOURNAL, never from the predicate.
  *   - '''Crash consistency.''' The fan-out is N+1 independent writes; a
  *     crash between any two leaves stores disagreeing about whether a
  *     document exists. Every step is idempotent-by-name (markers
  *     `d<batchId>` and the corpus version `v<batchId+1>` are
  *     deterministic overwrites; the journal is re-read, not re-derived),
  *     so recovery is "re-run the same call": the journal + the
  *     `_committed` flag make the protocol a write-ahead intent log —
  *        journal absent            → nothing happened, resolve + run all
  *        journal present, no flag  → partial fan-out, re-run all FROM
  *                                    THE JOURNAL (the sweep predicate is
  *                                    NOT re-evaluated)
  *        flag present              → complete, no-op
  *     [[incomplete]] enumerates journaled-but-uncommitted batch ids so
  *     an operator (or the next trigger) can find pending recovery.
  *   - '''One batch id.''' All markers and the corpus version carry the
  *     same id, so every store's read masks the set from the same point
  *     in its delta history, and a redelivered stream batch re-issues the
  *     whole fan-out deterministically (call it from inside
  *     `foreachBatch` BEFORE the stores' appends, like the per-store
  *     verbs — the [[Versions.tombstone]] placement contract).
  *
  * Everything [[Versions.tombstone]] specifies carries over per target:
  * swept content must be strictly earlier than `batchId`, marker
  * relations are takedown-sized (they broadcast on every read), monotone
  * sketch stores cannot participate (route them to their rebuild
  * lifecycle — they refuse the verb themselves), and delete-aware
  * compaction later makes each store's retraction physical.
  *
  * Corpus versioning note: [[CorpusMaintenance.deleteBatch]] writes the
  * snapshot `v<batchId+1>`, so the takedown occupies the corpus's version
  * slot for `batchId` — if the corpus also ingests via
  * [[CorpusMaintenance.upsertBatch]], the sweep must run under a batch id
  * whose slot is free (its own trigger, or a maintenance id after the
  * stream), exactly like any other single-writer snapshot store.
  *
  * Reference analogue: none — the reference (a 449-line actor MapReduce,
  * `/root/reference/Orchestrator.fs`) has no persistent state to retract
  * from; this is the engine's own 100 TB lifecycle surface. */
object Takedown {

  /** One derived store in the fan-out: `retract` is the store's OWN
    * takedown verb, invoked with the journaled id relation and the sweep
    * batch id. The `(what, markerRoot)` constructor covers the stores
    * whose verb IS a bare [[Versions.tombstoneFrom]] marker (the
    * index/docs roots of a near-dup filter, the store root of a
    * containment/aHash/media-fp/IVF/PQ index); stores with richer verbs
    * pass them directly — [[RetrievalStream.tombstoneFrom]] (marker + an
    * in-band stats correction), [[ClusterStream.retract]] (marker +
    * component-local split/re-election repair). Every verb must keep the
    * idempotent-by-name discipline (batch-id-named writes, deterministic
    * overwrites) so a journal-driven re-run converges. `what` labels
    * errors. */
  final case class Target(what: String,
      retract: (SparkSession, DataFrame, Long) => Unit)

  object Target {
    def apply(what: String, markerRoot: String): Target =
      apply(what, markerRoot, None)

    /** The bare-marker form under a held writer lease (the
      * [[Versions]] single-writer contract): a sweep running beside a
      * leased ingest stream must present the holder's lease per store,
      * or the marker write refuses. */
    def apply(what: String, markerRoot: String,
        lease: Option[Versions.Lease]): Target =
      Target(what, (s: SparkSession, ids: DataFrame, b: Long) =>
        Versions.tombstoneFrom(s, markerRoot, ids, b, lease))

    /** The bare-REVIVE form for [[reviveAll]]'s fan-out to mask-only
      * stores (band index, docs, containment, aHash, media-fp, IVF,
      * PQ); paired-side-effect stores pass their own verbs
      * ([[RetrievalStream.revive]], [[ClusterStream.revive]]) exactly
      * as they do for the takedown direction. */
    def revive(what: String, markerRoot: String,
        lease: Option[Versions.Lease] = None): Target =
      Target(what, (s: SparkSession, ids: DataFrame, b: Long) =>
        Versions.revive(s, markerRoot, ids, b, lease))
  }

  private def journalDir(journalRoot: String, prefix: Char,
      batchId: Long): String = s"$journalRoot/$prefix$batchId"

  /** Drop COMMITTED takedown journals with batch id <= `retainUpTo`
    * (VERDICT r15 next #3): journals are the recovery log, and a
    * committed batch needs no recovery — but [[incomplete]] and every
    * recovery path list the whole journal root, so an unbounded journal
    * history is a listStatus tax that grows with deployment lifetime.
    * Uncommitted journals are NEVER vacuumed (they are pending recovery,
    * whatever their age — a vacuum that raced a crash must not erase the
    * intent log the re-run needs). `retainUpTo` must be below any batch
    * id a redelivery can replay (the [[Versions.compact]] safety-bound
    * discipline): re-running a vacuumed batch would re-resolve its sweep
    * from scratch instead of from the journal. */
  def vacuumJournal(spark: SparkSession, journalRoot: String,
      retainUpTo: Long): Unit = {
    val p = new Path(journalRoot)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.matches("[tr]\\d+"))
      .filter(_.getPath.getName.drop(1).toLong <= retainUpTo)
      .filter(s => fs.exists(new Path(s.getPath, "_committed")))
      .foreach(s => fs.delete(s.getPath, true))
  }

  /** The end-to-end refusal on the NAIVE revival path (VERDICT r15 next
    * #4): after a takedown, re-ingesting content under the SAME id would
    * silently diverge — the corpus snapshot shows the doc again while
    * every derived store's marker keeps masking it forever (the
    * ids-never-re-arrive contract). Call this on an ingest batch's keys
    * before the corpus upsert: it fails loud if any key is still DEAD in
    * any derived store's marker state. The two legitimate paths it
    * points at: [[Versions.revive]] (the content is the retained rows,
    * returning) or a fresh ingest id (the content is new under an old
    * external key — thread the key mapping app-side). Cost: one join of
    * the batch's ids against the roots' driver-resolved dead sets, run
    * only when some root holds a dead id. */
  def guardReingest(spark: SparkSession, markerRoots: Seq[String],
      ids: DataFrame, upTo: Long = Long.MaxValue): Unit = {
    import spark.implicits._
    // one probe across ALL roots (r17 — this runs per ingest trigger, and
    // a per-root collect made the guard cost scale with store count): the
    // roots' driver-resolved dead sets travel as one local (id, root)
    // relation, so a single semi-join answers every root at once, and the
    // refusal still names the store that masks the id
    val deads = markerRoots.flatMap { root =>
      Versions.deadIds(spark, root, upTo).toSeq.flatten.map(_ -> root)
    }
    if (deads.nonEmpty) {
      val hit = Versions.idRelation(ids)
        .join(deads.toDF("id", "__root"), Seq("id"), "inner")
        .limit(5).collect().map(r => (r.getLong(0), r.getString(1)))
      require(hit.isEmpty,
        s"re-ingest refused: ids ${hit.map(_._1).mkString(", ")} are " +
          s"taken down at ${hit.headOption.map(_._2).getOrElse("")} — " +
          "revive them (Versions.revive) if the retained content is " +
          "returning, or ingest under a fresh id if the content is new")
    }
  }

  /** Journaled-but-uncommitted batch ids under `journalRoot` — each
    * needs its orchestrator ([[takedownAll]] for the default `t`
    * prefix, [[reviveAll]] for `r`) re-run with the same arguments to
    * finish its fan-out (any sweep may be passed; it is ignored in
    * favor of the journal). */
  def incomplete(spark: SparkSession, journalRoot: String,
      prefix: Char = 't'): Seq[Long] = {
    val p = new Path(journalRoot)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.matches(s"$prefix\\d+"))
      .filter { s =>
        fs.exists(new Path(s.getPath, "ids/_SUCCESS")) &&
          !fs.exists(new Path(s.getPath, "_committed"))
      }
      .map(_.getPath.getName.drop(1).toLong).sorted
  }

  /** Resolve `sweep` (single long-castable id column; nulls dropped,
    * empty refused — [[Versions.tombstoneFrom]]'s hygiene) into the
    * journal, then fan markers out to every target and delete the keys
    * from the optional raw corpus `(root, keyCol)`, all under `batchId`.
    * Idempotent: re-running with the same journalRoot/batchId resumes
    * from the journal (partial fan-out) or no-ops (committed). Returns
    * the journaled id relation (column `id`). */
  def takedownAll(spark: SparkSession, journalRoot: String, sweep: DataFrame,
      batchId: Long, targets: Seq[Target],
      corpus: Option[(String, String)] = None): DataFrame = {
    require(targets.nonEmpty || corpus.nonEmpty,
      "takedownAll with no targets and no corpus — nothing to sweep")
    journaledFanOut(spark, journalRoot, 't', "takedown", sweep, batchId) {
      ids =>
        // the fan-out is N+1 INDEPENDENT writes to distinct roots, each
        // idempotent-by-name, and the journal protocol already recovers
        // ANY completion subset — so overlap them (guide §2.6): one sweep
        // pays the slowest store's wall, not the sum. A failing store no
        // longer stops its siblings (they complete; the journal stays
        // uncommitted and recovery re-runs everything idempotently).
        graft.core.Par.run(
          (targets.map(t => () => t.retract(spark, ids, batchId)) ++
            corpus.map { case (root, keyCol) =>
              () =>
                CorpusMaintenance.deleteBatch(spark, root, Seq(keyCol))(
                  ids.select(col("id").as(keyCol)), batchId)
            }): _*)
    }
  }

  /** The revive-direction orchestrator (r17): ONE re-license sweep
    * (the ids whose claims were withdrawn), resolved EXACTLY ONCE into
    * an `r<batchId>` journal, fanned out under ONE batch id to every
    * store the takedown hit — [[Target.revive]]'s bare markers for the
    * mask-only stores, the paired verbs
    * ([[RetrievalStream.revive]]'s stats re-correction,
    * [[ClusterStream.revive]]'s merge repair) for the rest. Every
    * reason [[takedownAll]] is journaled applies in this direction
    * too: a crash between two stores' revives leaves them DISAGREEING
    * about whether a document exists (worse: a cluster store re-merged
    * around a doc a band index still masks), and each store's revive
    * verb is idempotent-by-name, so recovery is "re-run the same call"
    * from the journal — [[Versions.revive]]'s dead-as-of check reads
    * markers strictly BEFORE `batchId`, so a half-fanned re-run still
    * sees every journaled id dead and overwrites deterministically.
    * `[[incomplete]](…, prefix = 'r')` enumerates pending recovery;
    * the corpus side is the caller's re-ingest of the re-licensed
    * content via its own snapshot verbs (content RETURNING through the
    * retained rows needs no corpus step — the snapshots never dropped
    * it until vacuum). */
  def reviveAll(spark: SparkSession, journalRoot: String, sweep: DataFrame,
      batchId: Long, targets: Seq[Target]): DataFrame = {
    require(targets.nonEmpty, "reviveAll with no targets")
    journaledFanOut(spark, journalRoot, 'r', "revive", sweep, batchId) {
      ids =>
        // same overlap as the takedown direction: independent idempotent
        // per-store verbs, any completion subset journal-recoverable
        graft.core.Par.run(
          targets.map(t => () => t.retract(spark, ids, batchId)): _*)
    }
  }

  /** The shared write-ahead journal protocol (see [[takedownAll]]'s
    * scaladoc): resolve `sweep` once into `journalRoot/<prefix><batchId>/
    * ids`, run `fanOut` FROM THE JOURNAL (never the sweep — a re-run
    * after a crash must fan the set the first run resolved, not
    * whatever the predicate evaluates to over half-masked stores),
    * then write the commit flag. Committed journals at most
    * `batchId - 1` are vacuumed on the way in (the cadence: streaming
    * redelivers at most the first uncommitted batch — this one — and
    * every committed batch is < batchId; uncommitted journals are
    * never touched regardless). */
  private def journaledFanOut(spark: SparkSession, journalRoot: String,
      prefix: Char, what: String, sweep: DataFrame, batchId: Long)(
      fanOut: DataFrame => Unit): DataFrame = {
    vacuumJournal(spark, journalRoot, retainUpTo = batchId - 1)
    val dir = journalDir(journalRoot, prefix, batchId)
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val committed = new Path(dir, "_committed")
    val idsPath = new Path(dir, "ids")
    if (!fs.exists(committed)) {
      // a journal is complete iff its parquet commit marker exists —
      // Spark writes _SUCCESS last, so its presence implies full data
      if (!fs.exists(new Path(idsPath, "_SUCCESS"))) {
        Versions.requireOneColumn(sweep, s"${what}All")
        // one evaluation of the sweep: the journal write IS its
        // materialization (the old checkpoint + count + write ran it
        // through three actions); the emptiness guard re-reads the
        // written footer (metadata-sized). An empty sweep deletes its
        // torn journal dir before refusing, so nothing is journaled
        // post-refusal (`incomplete` stays empty).
        Versions.idRelation(sweep)
          .coalesce(1).write.mode("overwrite").parquet(idsPath.toString)
        if (Versions.read(spark, s"$journalRoot#ids",
            Seq(idsPath.toString)).isEmpty) {
          fs.delete(new Path(dir), true)
          throw new IllegalArgumentException(
            s"requirement failed: $what of an empty id set")
        }
      }
      fanOut(Versions.read(spark, s"$journalRoot#ids", Seq(idsPath.toString)))
      require(fs.createNewFile(committed) || fs.exists(committed),
        s"could not write the commit flag $committed — the fan-out is " +
          "complete but will re-run (harmlessly, idempotent) on recovery")
    }
    Versions.read(spark, s"$journalRoot#ids", Seq(idsPath.toString))
  }
}
