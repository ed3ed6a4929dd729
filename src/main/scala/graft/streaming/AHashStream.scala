package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.SteadyLit
import graft.operators.Dedup
import graft.multimodal.Multimodal

/** Streaming image near-dup maintenance — the MULTIMODAL member of the
  * incremental family ([[NearDupStream]] for text, [[IvfStream]] for
  * embeddings, this for images): each image micro-batch decodes and
  * aHashes ONLY its own payloads ([[Multimodal.aHash64Bytes]] — the
  * codec work is paid once, at ingest), probes the standing hash index
  * for Hamming-close near-duplicates, emits its pair delta, and appends
  * its own 16-byte (id, ahash) rows for later batches to probe.
  *
  * Store: `root/v*` — (media_id, ahash) deltas (`v0` = the standing
  * corpus's hashes; `v{b+1}` = batch b's). 16 bytes per image at ANY
  * raster size: the index of a billion-image corpus is ~16 GB of
  * parquet, and payloads NEVER enter the store — the exact
  * fingerprint-first discipline of the text family, applied to pixels.
  *
  * Probe shape (the persisted-index discipline): the standing store
  * reads as a PLAIN scan union, bands narrowly in-scan (posexplode into
  * the 28 chunk-pair keys — no exchange), and the batch's banded hashes
  * BROADCAST into the join; candidates Hamming-verify inside the join
  * projection. The standing index never crosses a shuffle. In-batch
  * pairs come from [[Dedup.hammingPairs64]]. With `maxHamming` ≤ 6 the
  * chunk-pair pigeonhole makes candidates COMPLETE below the threshold,
  * so the emitted pairs are a pure function of the hash relation — what
  * the p117 oracle replays from raw integers. (The 16-bit band keys of
  * near-uniform perceptual hashes don't form the Zipf-hot buckets text
  * shingles do, so the cross arm needs no occupancy cap; the in-batch
  * arm keeps [[Dedup.hammingPairs64]]'s.)
  *
  * Exactly-once contract is the family's: batch-id-named deltas,
  * deterministic overwrite on redelivery, lineage-fork guard. */
object AHashStream {

  /** (media_id, ahash) rows unique across deltas ⇒ the identity fold.
    * No probe-key clustering: the probe bands the 64-bit hashes IN-SCAN
    * into 28 chunk-pair keys and pushes no stored-column predicate, so no
    * sort order of (media_id, ahash) can gain it row-group pruning — the
    * standing scan is inherently full (and 16 bytes/image cheap). */
  private val spec = Versions.StoreSpec("hash index", Seq("media_id"))

  /** Hash the standing corpus's media and write `root/v0`
    * (live-root-guarded: [[Versions.guardStandingWrite]]). `hasher` maps
    * a (id, payload) frame to (media_id, 64-bit hash) — the image aHash
    * by default (p117); the audio windowed-amplitude hash for the p126
    * sibling. Everything downstream (banding, pigeonhole guarantee,
    * store shape) is hash-agnostic over 64-bit perceptual hashes. */
  def writeStanding(spark: SparkSession, root: String, images: DataFrame,
      idCol: String = "media_id", payloadCol: String = "payload",
      hasher: (DataFrame, String, String) => DataFrame =
        Multimodal.aHash64Bytes): Unit =
    spec.writeStanding(spark, root, hasher(images, idCol, payloadCol))

  /** The assembled hash index: every delta `<= upTo`, a plain scan union
    * (rows unique across deltas by construction — each image arrives in
    * exactly one batch), minus tombstoned ids
    * ([[Versions.maskTombstones]] — a driver-resolved `NOT IN` literal;
    * the plan is untouched when no takedown ever happened). */
  def readIndex(spark: SparkSession, root: String,
      upTo: Long = Long.MaxValue): DataFrame =
    spec.read(spark, root, upTo)

  /** Retract ids from the hash index ([[Versions.tombstone]] contract):
    * probes from marker batch `batchId` on stop pairing against their
    * hashes; [[compactStore]] drops the rows physically. */
  def tombstone(spark: SparkSession, root: String, ids: Seq[Long],
      batchId: Long): Unit =
    spec.tombstone(spark, root, ids, batchId)

  /** The `foreachBatch` callback: hash batch `batchId`'s images, emit its
    * near-dup pairs (in-batch + against everything earlier) to
    * `outRoot/b<batchId>`, append the batch's hash delta as
    * `root/v{batchId+1}`, and return the pair frame
    * ([[NearDupStream.filterBatch]]'s contract): the media ingest
    * capstone sets `materializePairs` to reuse the pairs without
    * recomputing the probe; plain callers ignore the return (the write
    * is the frame's only consumer, no eager checkpoint). */
  def filterBatch(spark: SparkSession, root: String, outRoot: String,
      idCol: String, payloadCol: String, maxHamming: Int = 6,
      autoCompactVersions: Option[Int] = None,
      hasher: (DataFrame, String, String) => DataFrame =
        Multimodal.aHash64Bytes,
      materializePairs: Boolean = false)(
      batch: DataFrame, batchId: Long): DataFrame = {
    require(maxHamming <= 6,
      s"maxHamming $maxHamming exceeds the 28-band chunk-pair guarantee " +
        "(Hamming <= 6 by pigeonhole); beyond it candidates are incomplete " +
        "and streamed pairs would not replay")
    spec.beginAppend(spark, root, batchId, autoCompactVersions)
    val bh = hasher(batch, idCol, payloadCol)
      .localCheckpoint(true)
    // maxBucketSize = unbounded: the oracle replays UNCAPPED exact pairs,
    // so the in-batch arm must match the cross arm's completeness contract
    // — routed through hammingPairs64's equal-hash-CLASS form, which
    // survives degenerate hash values (uniform/black/near-silent media all
    // hash to 0 and collide on all 28 bands; ADVICE r12)
    val inBatch = Dedup.hammingPairs64(
      bh.select(col("media_id").as("id"), col("ahash").as("sh64")),
      maxHamming, maxBucketSize = Int.MaxValue)
    // cross arm: standing bands stay a narrow scan transform; the batch
    // side broadcasts — the standing index never shuffles
    val oldBands = Dedup.chunkPairRows(
      readIndex(spark, root, upTo = batchId)
        .select(col("media_id").as("id"), col("ahash").as("sh64")))
    val newBands = Dedup.chunkPairRows(
        bh.select(col("media_id").as("id"), col("ahash").as("sh64")))
      .select(col("id").as("new_id"), col("sh64").as("new_h"),
        col("chunk"), col("ckey"))
    val cross = oldBands.join(broadcast(newBands), Seq("chunk", "ckey"))
      // a batch id already present in the standing index (re-crawl under
      // the same id) matches its own bands at Hamming 0 — drop the (x, x)
      // self-pair, the containment path's id_a =!= id_b contract
      .filter(col("id") =!= col("new_id"))
      .withColumn("hamming",
        bit_count(col("sh64").bitwiseXOR(col("new_h"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select(least(col("id"), col("new_id")).as("id_a"),
        greatest(col("id"), col("new_id")).as("id_b"), col("hamming"))
      .dropDuplicates("id_a", "id_b")
    val probe = inBatch.select(col("id_a"), col("id_b"),
        col("hamming").cast("int").as("hamming"))
      .unionAll(cross)
      .withColumn("batch", SteadyLit.steadyLong(batchId))
    val pairs = if (materializePairs) probe.localCheckpoint(true) else probe
    // independent per-trigger writes (distinct batch-id-named paths, any
    // completion subset redelivery-recoverable) — overlap them (guide §2.6)
    graft.core.Par.run(
      () => pairs.write.mode("overwrite").parquet(s"$outRoot/b$batchId"),
      () => bh.write.mode("overwrite").parquet(s"$root/v${batchId + 1}"))
    pairs
  }

  /** Fold deltas `v0..v<upTo>` into a new base, physically dropping
    * tombstoned ids (markers consumed — [[Versions.compact]]). */
  def compactStore(spark: SparkSession, root: String, upTo: Long): Unit =
    spec.compact(spark, root, upTo)
}
