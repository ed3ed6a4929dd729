package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.SteadyLit
import graft.operators.Dedup

/** Streaming MinHash near-duplicate filter — [[PassageStream]]'s sibling
  * for NEAR-dup: each document micro-batch detects its near-duplicate
  * pairs against the standing corpus via the persisted band index
  * ([[Dedup.minhashBandIndex]] / [[Dedup.minhashPairsIncremental]]), then
  * contributes its own bands for every later batch to probe.
  *
  * Two versioned delta stores, both append-only and batch-id-named:
  *   - `indexRoot/v*` — band deltas (`v0` = the standing corpus's bands,
  *     written before the stream starts; `v{b+1}` = batch b's bands). The
  *     standing corpus never re-shingles.
  *   - `docsRoot/v*` — (id, text) deltas with the same versioning. The
  *     exact-Jaccard verify needs candidate-touched documents' text; the
  *     probe re-reads text only for docs that actually share a bucket
  *     with the batch (pushed by id on the in-memory path, a semi-join on
  *     the distributed one), so this store is scanned, never shuffled
  *     wholesale.
  *
  * Exactly-once contract is [[PassageStream]]'s, applied to both roots: a
  * redelivered batch rebases on deltas `<= batchId` and overwrites its
  * own outputs deterministically; a fresh checkpoint over existing
  * multi-delta roots is forked lineage and throws.
  */
object NearDupStream {

  /** Band rows (id, band, bucket) are unique across deltas — each doc
    * lands in exactly one batch — so `distinct` is read-equivalent while
    * also collapsing any rows a crashed, re-run batch left behind; the
    * base CLUSTERS by the probe key (band, bucket) so a small batch's
    * pushed band predicate can skip standing row groups. */
  private val bandSpec = Versions.StoreSpec("band index", Seq("id"),
    _.distinct(), Seq("band", "bucket"),
    missingHint = "write it before starting the stream")

  /** The docs store compacts by plain union (ids are unique per batch and
    * the verify semi-join re-reads by id). */
  private def docsSpec(idCol: String) = Versions.StoreSpec("docs store",
    Seq(idCol), missingHint = "write it before starting the stream")

  /** The `foreachBatch` callback: emit batch `batchId`'s near-dup pairs
    * (in-batch + against everything earlier) to `outRoot/b<batchId>`,
    * then append the batch's band and doc deltas as `v<batchId+1>`.
    *
    * `materializePairs` eagerly `localCheckpoint`s the returned pair
    * frame BEFORE the parquet write, so a composing caller (the p114
    * capstone) reuses the batch's pairs without recomputing the probe or
    * re-reading the parquet it just wrote. Plain foreachBatch callers
    * that ignore the returned frame (p79) leave it false: the write is
    * then the frame's only consumer and an eager checkpoint would
    * materialize every batch's pairs into the block manager for nothing
    * (the r12 p79 1.2× regression). Hashes are identical either way.
    *
    * The batch is banded ONCE per trigger: a batch-sized checkpoint feeds
    * the probe's in-batch candidates, its cross candidates and the band
    * delta write.
    *
    * The batch's size picks the probe's path. A batch whose driver pulls
    * fit the in-memory budget (4M rows, and half of
    * `spark.driver.maxResultSize` in bytes) — every trickle batch — is
    * paired and verified on the driver ([[Dedup.probeLocal]]): one pull
    * of the batch's shingle sets and band rows, one of the standing band
    * rows in the batch's buckets, one of the candidate standing docs'
    * shingle sets, each a single job, and the pairs come back as a local
    * relation (already materialized, so `materializePairs` checkpoints
    * nothing). A larger batch runs the distributed probe plan
    * ([[Dedup.probeDistributed]]).
    *
    * `pushBucketLimit`: when the distributed plan runs and the batch holds
    * at most this many DISTINCT bucket values, they are additionally
    * pushed as a literal `bucket IN` predicate into the standing band scan
    * — result-identical (cross candidates require bucket equality, and the
    * occupancy cap counts JOINED rows per (band, bucket), which the
    * value-level restriction preserves for every surviving bucket), and it
    * is what turns a [[compactStores]]-clustered base's row-group zones
    * into actual scan pruning ([[Versions.pushKeys]]). 0 disables the
    * push. The in-memory path always filters its standing pulls by the
    * batch's buckets and candidate ids, which it holds on the driver. */
  def filterBatch(spark: SparkSession, indexRoot: String, docsRoot: String,
      outRoot: String, idCol: String, textCol: String,
      numHashes: Int = 64, bands: Int = 16, shingleSize: Int = 3,
      threshold: Double = 0.6, maxBucketSize: Int = 200, seed: Long = 42L,
      autoCompactVersions: Option[Int] = None,
      materializePairs: Boolean = false,
      pushBucketLimit: Int = 1024)(
      batch: DataFrame, batchId: Long): DataFrame = {
    bandSpec.beginAppend(spark, indexRoot, batchId, autoCompactVersions)
    val idx = bandSpec.read(spark, indexRoot, upTo = batchId)
    val docs = docsSpec(idCol)
    docs.beginAppend(spark, docsRoot, batchId, autoCompactVersions)
    val existingDocs = docs.read(spark, docsRoot, upTo = batchId)
    val bBands = Dedup.minhashBandIndex(batch, idCol, textCol, numHashes,
      bands, shingleSize, seed).localCheckpoint(true)
    val local = Dedup.probeLocal(batch, idCol, textCol, idx, existingDocs,
      shingleSize, threshold, maxBucketSize, bBands)
    val probe = local.getOrElse(Dedup.probeDistributed(batch, idCol, textCol,
        Versions.pushKeys(idx, bBands.select(col("bucket")), pushBucketLimit),
        existingDocs, shingleSize, threshold, maxBucketSize, bBands))
      .withColumn("batch", SteadyLit.steadyLong(batchId))
    val pairs =
      if (materializePairs && local.isEmpty) probe.localCheckpoint(true)
      else probe
    // the three per-trigger writes are independent (distinct batch-id-named
    // paths; redelivery overwrites any completion subset deterministically)
    // — overlap them so the trigger pays max, not sum (guide §2.6)
    graft.core.Par.run(
      () => pairs.write.mode("overwrite").parquet(s"$outRoot/b$batchId"),
      () => bBands.write.mode("overwrite")
        .parquet(s"$indexRoot/v${batchId + 1}"),
      () => batch.select(col(idCol), col(textCol))
        .write.mode("overwrite").parquet(s"$docsRoot/v${batchId + 1}"))
    pairs
  }

  /** Retract doc ids from BOTH stores ([[Versions.tombstone]] contract,
    * one marker per root so each root stays self-describing): probes
    * from marker batch `batchId` on stop pairing against the retracted
    * docs' bands, and the exact-Jaccard verify stops reading their text;
    * [[compactStores]] drops the rows physically. */
  def tombstone(spark: SparkSession, indexRoot: String, docsRoot: String,
      ids: Seq[Long], batchId: Long): Unit =
    // independent marker roots — overlap the two writes (guide §2.6)
    graft.core.Par.run(
      () => bandSpec.tombstone(spark, indexRoot, ids, batchId),
      () => docsSpec("doc_id").tombstone(spark, docsRoot, ids, batchId))

  /** Merge both delta stores' `v0..v<upTo>` into new base snapshots (see
    * [[Versions.compact]] for the lineage-guard and safety contract),
    * physically dropping tombstoned docs (markers consumed). */
  def compactStores(spark: SparkSession, indexRoot: String, docsRoot: String,
      upTo: Long, docIdCol: String = "doc_id"): Unit =
    // independent per-root rewrites (crash recovery is already "re-run
    // converges per root") — overlap them (guide §2.6)
    graft.core.Par.run(
      () => bandSpec.compact(spark, indexRoot, upTo),
      () => docsSpec(docIdCol).compact(spark, docsRoot, upTo))
}
