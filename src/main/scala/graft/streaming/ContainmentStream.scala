package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.SteadyLit
import graft.operators.Dedup

/** Streaming frame-set CONTAINMENT index — the clipped-re-upload detector
  * ([[graft.queries.Pipeline]] p125) as an incremental stream, closing
  * the one near-dup family that had no streaming member on any modality
  * (exact-fp [[MediaFpStream]], perceptual [[AHashStream]], MinHash
  * [[NearDupStream]], passages [[PassageStream]] all have theirs): a
  * media lake detects a clipped/trimmed re-ingest AT INGEST or pays a
  * full-corpus containment join later.
  *
  * Each micro-batch decodes ONLY its own payloads into distinct
  * element-hash sets (`setsOf` — the family's scan-shaped profiler:
  * per-video distinct frame-aHash sets for p127, per-clip audio
  * window-hash sets for the audio sibling), probes the standing set
  * relation through the audited containment machinery
  * ([[Dedup.containmentIncrementalFromSets]] — prefix completeness holds
  * under ANY fixed order, so the batch prefixes under the corpus df
  * order), emits every DIRECTED pair (a ∈ batch, b ∈ corpus ∪ batch)
  * with |A ∩ B| / |A| ≥ `threshold`, and appends its own set delta for
  * later batches to probe.
  *
  * Store: `root/v*` — exploded (id, n, g) rows, `v0` = standing: 8 bytes
  * per DISTINCT element hash (plus id and set size), payloads never
  * enter the store and never shuffle. Probe posture: the standing
  * relation is read as a plain scan union and both standing-side joins
  * broadcast the batch side (see `containmentIncrementalFromSets` — the
  * df aggregation semi-restricts to the batch's own grams first), so the
  * standing index never crosses a full exchange. Exactly-once contract
  * is the family's: batch-id-named deltas, deterministic overwrite on
  * redelivery, lineage-fork guard ([[Versions.guardAppend]]). */
object ContainmentStream {

  /** Exploded (id, n, g) rows unique across deltas ⇒ the identity fold;
    * the base CLUSTERS by the probe key `g` so a small batch's pushed
    * gram predicate skips most row groups of the standing scan the probe
    * pays every trigger (VERDICT r13 #2 — the §6-documented linear
    * term's layout lever). */
  private val spec = Versions.StoreSpec("set index", Seq("id"),
    clusterBy = Seq("g"))

  private def explodeSets(sets: DataFrame): DataFrame =
    sets.select(col("id"), size(col("sh")).as("n"),
      explode(col("sh")).as("g"))

  /** Profile the standing corpus into its element-hash set relation and
    * write `root/v0` (live-root-guarded). `setsOf` maps an (id,
    * payload...) frame to (id, sh: array<string>) DISTINCT sets; rows
    * with empty sets are dropped (the [[Dedup.jaccardShingleSets]]
    * family contract — an empty probe set has no defined containment). */
  def writeStanding(spark: SparkSession, root: String, standing: DataFrame,
      setsOf: DataFrame => DataFrame): Unit =
    spec.writeStanding(spark, root, explodeSets(setsOf(standing)
      .toDF("id", "sh").filter(size(col("sh")) > 0)))

  /** The assembled set relation: every delta `<= upTo`, a plain scan
    * union (rows unique across deltas — each item arrives in exactly one
    * batch), minus tombstoned ids ([[Versions.maskTombstones]] — a
    * driver-resolved `NOT IN` literal; the plan is untouched when no
    * takedown ever happened). */
  def readIndex(spark: SparkSession, root: String,
      upTo: Long = Long.MaxValue): DataFrame =
    spec.read(spark, root, upTo)

  /** Retract ids from the set index ([[Versions.tombstone]] contract):
    * every read and probe from marker batch `batchId` on stops seeing
    * their sets; [[compactStore]] drops the rows physically. */
  def tombstone(spark: SparkSession, root: String, ids: Seq[Long],
      batchId: Long): Unit =
    spec.tombstone(spark, root, ids, batchId)

  /** The `foreachBatch` callback: profile batch `batchId`'s media, emit
    * its directed containment pairs (in-batch + against everything
    * earlier) to `outRoot/b<batchId>` as (id_a, id_b, containment,
    * batch), append the batch's set delta as `root/v{batchId+1}`, and
    * return the pair frame. `materializePairs` follows
    * [[NearDupStream.filterBatch]]'s contract: a composing caller (the
    * media ingest capstone) sets it to reuse the pairs without
    * recomputing the probe; plain callers leave it false (the write is
    * the frame's only consumer).
    *
    * `pushGramLimit`: when the batch holds at most this many DISTINCT
    * element hashes, they are additionally pushed as a literal `g IN`
    * predicate into the standing scan — result-identical (every standing
    * access inside the probe joins on a batch gram; see
    * [[Dedup.containmentIncrementalFromSets]]), and it is what turns a
    * [[compactStore]]-clustered base's row-group zones into actual scan
    * pruning for trickle-sized batches (the §6-documented linear term's
    * layout lever; [[Versions.pushKeys]] — deploys expecting pruning on
    * multi-item batches should raise parquet's `inFilterThreshold` toward
    * their trigger's gram bound). 0 disables the push. */
  def filterBatch(spark: SparkSession, root: String, outRoot: String,
      setsOf: DataFrame => DataFrame, threshold: Double,
      autoCompactVersions: Option[Int] = None,
      materializePairs: Boolean = false,
      pushGramLimit: Int = 1024)(
      batch: DataFrame, batchId: Long): DataFrame = {
    spec.beginAppend(spark, root, batchId, autoCompactVersions)
    val bsets = setsOf(batch).toDF("id", "sh")
      .filter(size(col("sh")) > 0)
      .localCheckpoint(true)
    val restricted = Versions.pushKeys(readIndex(spark, root, upTo = batchId),
      bsets.select(explode(col("sh")).as("g")), pushGramLimit)
    // stageHits = false: trigger batches are trickle-sized and the
    // pushed gram IN above already prunes the standing scans — the
    // staging action costs more than the repeated pruned scans it
    // replaces (r18 measured; the one-shot batch probes keep staging)
    val probe = Dedup.containmentIncrementalFromSets(bsets,
        restricted, threshold, stageHits = false)
      .withColumn("batch", SteadyLit.steadyLong(batchId))
    val pairs = if (materializePairs) probe.localCheckpoint(true) else probe
    // independent per-trigger writes (distinct batch-id-named paths, any
    // completion subset redelivery-recoverable) — overlap them (guide §2.6)
    graft.core.Par.run(
      () => pairs.write.mode("overwrite").parquet(s"$outRoot/b$batchId"),
      () => explodeSets(bsets)
        .write.mode("overwrite").parquet(s"$root/v${batchId + 1}"))
    pairs
  }

  /** Fold deltas `v0..v<upTo>` into a new g-clustered base, physically
    * dropping tombstoned ids (markers consumed — [[Versions.compact]]). */
  def compactStore(spark: SparkSession, root: String, upTo: Long): Unit =
    spec.compact(spark, root, upTo)
}
