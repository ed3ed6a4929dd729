package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.SteadyLit

/** Streaming EXACT-fingerprint media index — the audio/video members of
  * the incremental family, completing the per-modality matrix
  * ([[NearDupStream]] text, [[IvfStream]] embeddings, [[AHashStream]]
  * images, this for audio clips p122 and video containers p123): each
  * media micro-batch decodes and fingerprints ONLY its own payloads (the
  * codec work is paid once, at ingest — the `profiler` is the family's
  * scan-shaped integer fold: [[graft.multimodal.Multimodal.audioProfile]]
  * or the p118 frame-profile fold), emits its EXACT-duplicate pairs —
  * in-batch via a fingerprint self-group, cross via a broadcast probe of
  * the batch's fingerprints against the standing index's plain scan
  * union — and appends its own 16-byte (media_id, fp) delta for later
  * batches to probe.
  *
  * Where [[AHashStream]] bands Hamming-close perceptual hashes, this
  * store matches exact content fingerprints — the right primitive for
  * the re-ingest/re-crawl dedup a media lake runs at ingest (byte-
  * identical payloads re-arriving under new ids), and exactly what the
  * codec-loop oracles let DuckDB replay (p119's integer-PCM chain,
  * p118's frame-hash chain): the emitted pairs are a pure function of
  * the fingerprint relation.
  *
  * Store: `root/v*` — (media_id, fp) deltas (`v0` = standing). 16 bytes
  * per clip/video at ANY payload size; payloads never enter the store
  * and never shuffle (the probe joins fingerprints only). Exactly-once
  * contract is the family's: batch-id-named deltas, deterministic
  * overwrite on redelivery, lineage-fork guard. */
object MediaFpStream {

  /** (media_id, fp) rows unique across deltas ⇒ the identity fold; the
    * base clusters by the probe key `fp`, so a small batch's fingerprint
    * set pushed into the standing scan skips most row groups. */
  private val spec = Versions.StoreSpec("fingerprint index",
    Seq("media_id"), clusterBy = Seq("fp"))

  /** Fingerprint the standing corpus and write `root/v0`
    * (live-root-guarded). `profiler` maps a (idCol, payload...) frame to
    * (media_id, fp) — decode + fold, scan-shaped. */
  def writeStanding(spark: SparkSession, root: String, standing: DataFrame,
      profiler: DataFrame => DataFrame): Unit =
    // store columns normalized to (media_id, fp) regardless of the
    // profiler's fingerprint column name — appendBatch joins on `fp`
    spec.writeStanding(spark, root, profiler(standing).toDF("media_id", "fp"))

  /** The assembled fingerprint index: every delta `<= upTo`, a plain
    * scan union (rows unique across deltas — each item arrives in
    * exactly one batch), minus tombstoned ids
    * ([[Versions.maskTombstones]] — a driver-resolved `NOT IN` literal;
    * the plan is untouched when no takedown ever happened). */
  def readIndex(spark: SparkSession, root: String,
      upTo: Long = Long.MaxValue): DataFrame =
    spec.read(spark, root, upTo)

  /** Retract ids from the fingerprint index ([[Versions.tombstone]]
    * contract): probes from marker batch `batchId` on stop pairing
    * against their fingerprints; [[compactStore]] drops the rows
    * physically. */
  def tombstone(spark: SparkSession, root: String, ids: Seq[Long],
      batchId: Long): Unit =
    spec.tombstone(spark, root, ids, batchId)

  /** The `foreachBatch` callback: fingerprint batch `batchId`'s media,
    * emit its exact-dup pairs (in-batch + against everything earlier) to
    * `outRoot/b<batchId>`, append the batch's fingerprint delta as
    * `root/v{batchId+1}`, and return the pair frame
    * ([[NearDupStream.filterBatch]]'s contract): the media ingest
    * capstone sets `materializePairs` to reuse the pairs without
    * recomputing the probe; plain callers ignore the return (the write
    * is the frame's only consumer, no eager checkpoint).
    *
    * `pushFpLimit`: when the batch holds at most this many DISTINCT
    * fingerprints, they are additionally pushed as a literal `fp IN`
    * predicate into the standing scan — result-identical (the cross arm
    * joins on fp equality), and it is what turns a [[compactStore]]-
    * clustered base's row-group zones into actual scan pruning for
    * trickle-sized batches ([[Versions.pushKeys]]). 0 disables the
    * push. */
  def filterBatch(spark: SparkSession, root: String, outRoot: String,
      profiler: DataFrame => DataFrame,
      autoCompactVersions: Option[Int] = None,
      materializePairs: Boolean = false,
      pushFpLimit: Int = 1024)(
      batch: DataFrame, batchId: Long): DataFrame = {
    spec.beginAppend(spark, root, batchId, autoCompactVersions)
    val bf = profiler(batch).toDF("media_id", "fp").localCheckpoint(true)
    // in-batch: exact-fp SELF-JOIN — a heavily re-crawled identical
    // payload (the exact scenario this index targets) can form a k-copy
    // class, and the earlier collect_list form materialized all k members
    // in one unspillable row before exploding k² pairs (ADVICE r12); the
    // join streams the same pair relation through spillable operators
    val inBatch = bf.select(col("media_id").as("id_a"), col("fp"))
      .join(bf.select(col("media_id").as("id_b"), col("fp")), "fp")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
    // cross arm: the standing index stays a narrow scan union; the
    // batch's fingerprints BROADCAST into the join — the standing index
    // never crosses a shuffle
    val cross = Versions.pushKeys(readIndex(spark, root, upTo = batchId),
        bf.select(col("fp")), pushFpLimit)
      .join(broadcast(bf.select(col("media_id").as("new_id"),
        col("fp"))), Seq("fp"))
      // a batch id already present in the standing index (re-crawl under
      // the same id) matches its own fingerprint — drop the (x, x)
      // self-pair, the containment path's id_a =!= id_b contract
      .filter(col("media_id") =!= col("new_id"))
      .select(least(col("media_id"), col("new_id")).as("id_a"),
        greatest(col("media_id"), col("new_id")).as("id_b"))
    val probe = inBatch.unionAll(cross)
      .dropDuplicates("id_a", "id_b")
      .withColumn("batch", SteadyLit.steadyLong(batchId))
    val pairs = if (materializePairs) probe.localCheckpoint(true) else probe
    // independent per-trigger writes (distinct batch-id-named paths, any
    // completion subset redelivery-recoverable) — overlap them (guide §2.6)
    graft.core.Par.run(
      () => pairs.write.mode("overwrite").parquet(s"$outRoot/b$batchId"),
      () => bf.write.mode("overwrite").parquet(s"$root/v${batchId + 1}"))
    pairs
  }

  /** Fold deltas `v0..v<upTo>` into a new fp-clustered base, physically
    * dropping tombstoned ids (markers consumed — [[Versions.compact]]). */
  def compactStore(spark: SparkSession, root: String, upTo: Long): Unit =
    spec.compact(spark, root, upTo)
}
