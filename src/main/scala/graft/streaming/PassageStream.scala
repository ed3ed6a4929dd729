package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.SteadyLit
import graft.operators.Dedup

/** Streaming duplicated-passage filter — the daily-ingest shape a
  * training-data pipeline runs continuously: each document micro-batch is
  * scored against the standing corpus's persisted passage-fingerprint
  * index ([[Dedup.passageWindowIndex]], Lee et al. 2022 exact-substring
  * semantics) WITHOUT ever re-windowing the corpus, then contributes its
  * own windows to the index for every later batch to probe.
  *
  * Index layout: `indexRoot/v0` is the standing corpus's delta (written
  * once, before the stream starts); batch `b` appends ONLY its own
  * distinct window fingerprints as `indexRoot/v{b+1}`. The index a batch
  * probes is the union of all deltas `<= b` — append-only, so the
  * standing corpus is never rewritten (the [[CorpusMaintenance]] loop
  * rewrites the whole corpus per merge because upsert must; a fingerprint
  * index only ever grows, so deltas are the right persistence shape at
  * 100 TB — compact them offline with [[graft.operators.Layout]] when
  * file counts matter). Duplicate fingerprints across deltas are harmless:
  * the probe is a semi-join.
  *
  * Exactly-once: versions and per-batch outputs are both named by
  * streaming batch id. A redelivered batch re-reads the same `<= b`
  * deltas (its own `v{b+1}`, if half-written, is excluded by the filter)
  * and overwrites `v{b+1}` and `outRoot/b{b}` deterministically — so
  * at-least-once delivery still yields exactly-once stats and index, the
  * same contract [[CorpusMaintenance.upsertBatch]] gives upserts. The
  * fresh-checkpoint guard is identical: batch ids restarting at 0 over an
  * existing multi-delta index means forked lineage, and the merge throws
  * rather than silently rebasing.
  */
object PassageStream {

  /** The fingerprint store is probed by semi-join only, so cross-delta
    * duplicate fps collapse via `distinct` — the compacted base is
    * strictly smaller and read-equivalent. The index is MONOTONE: see
    * [[tombstone]]. */
  private val spec = Versions.StoreSpec("index", Nil, _.distinct(),
    missingHint = "write Dedup.passageWindowIndex(corpus) there before " +
      "starting the stream",
    rebuildHint = "the passage-fp index stores id-free fingerprints " +
      "shared across docs — one doc's windows cannot be retracted. " +
      "Rebuild Dedup.passageWindowIndex over the retained corpus into a " +
      "NEW root and swap readers")

  /** Takedown refusal — the fingerprint index is ID-FREE (distinct window
    * fps, no doc provenance) and fps are SHARED across docs: dropping one
    * doc's fps would also forget every other doc holding the same
    * passage, and keeping them can't be told apart from the doc never
    * having existed. Retraction is therefore the rebuild lifecycle:
    * re-derive [[graft.operators.Dedup.passageWindowIndex]] over the
    * corpus minus the deleted docs into a NEW root and point a fresh
    * stream at it ([[graft.streaming.Versions.tombstone]]'s
    * monotone-store contract). */
  def tombstone(spark: SparkSession, indexRoot: String, ids: Seq[Long],
      batchId: Long): Unit =
    spec.tombstone(spark, indexRoot, ids, batchId)

  /** The `foreachBatch` callback: score one micro-batch against the
    * index-as-of-this-batch, write its stats to `outRoot/b<batchId>`, and
    * append its window-fingerprint delta as `indexRoot/v<batchId+1>`.
    * Attach with
    * `docs.writeStream.foreachBatch(PassageStream.filterBatch(spark, idx, out, "doc_id", "text") _)`.
    *
    * `autoCompactVersions = Some(k)` bounds the per-batch read fan-in: a
    * batch that sees more than k visible deltas folds them into the base
    * before probing ([[Versions.compactionDue]] — read-equivalent, inside
    * this batch's own lineage guard). */
  def filterBatch(spark: SparkSession, indexRoot: String, outRoot: String,
      idCol: String, textCol: String, windowTokens: Int = 8,
      autoCompactVersions: Option[Int] = None)(
      batch: DataFrame, batchId: Long): Unit = {
    spec.beginAppend(spark, indexRoot, batchId, autoCompactVersions)
    val idx = spec.read(spark, indexRoot, upTo = batchId)
    // independent per-trigger writes (distinct batch-id-named paths, any
    // completion subset redelivery-recoverable) — overlap them (guide §2.6)
    graft.core.Par.run(
      () => Dedup.duplicatePassageStatsIncremental(batch, idCol, textCol,
          idx, windowTokens)
        .withColumn("batch", SteadyLit.steadyLong(batchId))
        .write.mode("overwrite").parquet(s"$outRoot/b$batchId"),
      () => Dedup.passageWindowIndex(batch, idCol, textCol, windowTokens)
        .write.mode("overwrite").parquet(s"$indexRoot/v${batchId + 1}"))
  }

  /** Merge index deltas `v0..v<upTo>` into a new base snapshot (see
    * [[Versions.compact]] for the lineage-guard and safety contract —
    * `upTo` at most the checkpoint's last committed batch + 1). */
  def compactIndex(spark: SparkSession, indexRoot: String, upTo: Long): Unit =
    spec.compact(spark, indexRoot, upTo)
}
