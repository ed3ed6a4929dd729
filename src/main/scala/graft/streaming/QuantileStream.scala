package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.SteadyLit
import graft.operators.Profiling

/** Streaming quantile maintenance — the ORDER-STATISTICS member of the
  * incremental family, completing the matrix (exact fp / MinHash band /
  * IVF cells / PCA moments / BM25 postings / HLL registers / count-min
  * counters / histogram bins): each micro-batch bins ONLY its own rows
  * under FROZEN bounds and appends its [[Profiling.boundedBinCounts]]
  * relation as a versioned delta (≤ bins rows — model-sized, any batch
  * size); live quantiles are [[Profiling.quantilesFromCounts]] over the
  * bin-wise integer-sum fold.
  *
  * The frozen bounds are the [[IvfStream]] bank analogue: an equi-width
  * histogram's bins are only mergeable across batches when (mn, mx, bins)
  * is a MODEL parameter pinned before the stream starts — deltas binned
  * under different bounds silently estimate garbage, so [[advanceBatch]]
  * fails loud unless the bounds root holds exactly `v0`, and growing past
  * the bounds means building a NEW store under re-derived bounds, then
  * swapping readers (never mutating). Out-of-range values clamp into the
  * edge bins (deterministic, oracle-mirrored), and each batch emits its
  * [[Profiling.boundsDrift]] profile (n_below/n_above) as the rebuild
  * signal — written AFTER the delta, since the delta is the
  * correctness-bearing artifact and the profile is advisory.
  *
  * Folded == one-shot is structural (bin counts of a union ARE the sums
  * of per-part bin counts), so the streamed estimate equals the one-shot
  * [[Profiling.quantilesFromCounts]] ∘ [[Profiling.boundedBinCounts]]
  * over the assembled corpus bit-for-bit — which is what the p111 oracle
  * replays bin-by-bin. Sum folds are associative but NOT idempotent
  * (p110's honest contrast applies verbatim: the family's exactly-once
  * delta conventions are load-bearing for counting stores).
  *
  * At 100 TB: per-batch cost is one batch-sized binning scan + a
  * model-sized write; probes read a ≤ bins·versions-row fold, never the
  * corpus. The length/score-distribution dashboards a training pipeline
  * watches (p50/p90/p99 document length, quality-score drift) become a
  * model-sized read. */
object QuantileStream {

  private def foldCounts(df: DataFrame): DataFrame =
    df.groupBy(col("__bin")).agg(sum(col("__nb")).as("__nb"))

  /** Bin counts fold by sum-merge (read-equivalent by associativity). */
  private val countSpec = Versions.StoreSpec("count store", Nil, foldCounts,
    rebuildHint = "the bin-count store holds per-bin sums with no " +
      "per-item provenance. Rebuild from the retained corpus into NEW " +
      "roots and swap readers (rebuildStore — the p120 lifecycle)")

  /** Takedown refusal — the bin-count store keeps per-bin sums with no
    * per-item provenance: one item's bin contribution cannot be located,
    * so retraction is the REBUILD lifecycle ([[rebuildStore]] over the
    * corpus minus the deleted items, the p120 reader-swap shape), not a
    * tombstone ([[graft.streaming.Versions.tombstone]]'s monotone-store
    * contract). */
  def tombstone(spark: SparkSession, root: String, ids: Seq[Long],
      batchId: Long): Unit =
    countSpec.tombstone(spark, root, ids, batchId)

  /** The frozen bounds at `boundsRoot/v0`: (mn, mx, bins), one row. */
  def readBounds(spark: SparkSession, boundsRoot: String)
      : (Double, Double, Int) = {
    Versions.requireFrozen(spark, boundsRoot, "bounds", "a count store is " +
      "bound to the bounds it was binned under; re-derive bounds into a NEW " +
      "root and rebuild, never mutate live bounds")
    val row: Row = Versions.read(spark, boundsRoot,
      Seq(s"$boundsRoot/v0")).head()
    (row.getAs[Double]("mn"), row.getAs[Double]("mx"), row.getAs[Int]("bins"))
  }

  /** Write the standing stores: bounds derived from the standing corpus
    * (its min/max — a 1-row, 2-double model pull) as `boundsRoot/v0`, and
    * the standing corpus's bin counts as `countRoot/v0`. */
  def writeStanding(spark: SparkSession, boundsRoot: String,
      countRoot: String, standing: DataFrame, colName: String,
      bins: Int): Unit = {
    import org.apache.spark.sql.types.DoubleType
    Versions.guardStandingWrite(spark, boundsRoot)
    Versions.guardStandingWrite(spark, countRoot)
    val x = col(colName).cast(DoubleType)
    val mmRow = standing.filter(x.isNotNull)
      .agg(min(x).as("mn"), max(x).as("mx")).head()
    require(!mmRow.isNullAt(0),
      "standing corpus has no non-null values — bounds are underivable")
    val (mn, mx) = (mmRow.getAs[Double]("mn"), mmRow.getAs[Double]("mx"))
    import spark.implicits._
    Seq((mn, mx, bins)).toDF("mn", "mx", "bins")
      .write.mode("overwrite").parquet(s"$boundsRoot/v0")
    Profiling.boundedBinCounts(standing, colName, bins, mn, mx)
      .write.mode("overwrite").parquet(s"$countRoot/v0")
  }

  /** The `foreachBatch` callback: bin batch `batchId`'s rows under the
    * frozen bounds, append the delta as `countRoot/v{batchId+1}`, then
    * emit the batch's drift profile to `profileRoot/b<batchId>`. */
  def advanceBatch(spark: SparkSession, boundsRoot: String,
      countRoot: String, profileRoot: String, colName: String,
      autoCompactVersions: Option[Int] = None)(
      batch: DataFrame, batchId: Long): Unit = {
    val (mn, mx, bins) = readBounds(spark, boundsRoot)
    countSpec.beginAppend(spark, countRoot, batchId, autoCompactVersions)
    // one batch-sized source scan feeds both writes (the family's
    // two-write convention — RetrievalStream/IvfStream checkpoint too)
    val b = batch.localCheckpoint(true)
    Profiling.boundedBinCounts(b, colName, bins, mn, mx)
      .write.mode("overwrite").parquet(s"$countRoot/v${batchId + 1}")
    Profiling.boundsDrift(b, colName, mn, mx)
      .withColumn("batch", SteadyLit.steadyLong(batchId))
      .write.mode("overwrite").parquet(s"$profileRoot/b$batchId")
  }

  /** The folded bin-count relation over every delta `<= upTo` —
    * model-sized, exact by integer-sum associativity. */
  def readCounts(spark: SparkSession, countRoot: String,
      upTo: Long = Long.MaxValue): DataFrame =
    foldCounts(countSpec.read(spark, countRoot, upTo))

  /** Live quantile estimates — bit-identical to the one-shot
    * [[Profiling.quantilesFromCounts]] ∘ [[Profiling.boundedBinCounts]]
    * over the corresponding corpus union. Feeds the RAW delta union to
    * `quantilesFromCounts`, whose internal fold is the single
    * aggregation (folding here too would run the identical groupBy
    * twice). Returns (q, n, est). */
  def quantilesAt(spark: SparkSession, boundsRoot: String, countRoot: String,
      qs: Seq[Double], upTo: Long = Long.MaxValue): DataFrame = {
    val (mn, mx, bins) = readBounds(spark, boundsRoot)
    Profiling.quantilesFromCounts(
      countSpec.read(spark, countRoot, upTo), bins, mn, mx, qs)
  }

  /** Fold count deltas `v0..v<upTo>` into a new base (sum-merge —
    * read-equivalent by associativity; see [[Versions.compact]]). */
  def compactStore(spark: SparkSession, countRoot: String, upTo: Long): Unit =
    countSpec.compact(spark, countRoot, upTo)

  /** The reader-SWAP rebuild the drift profiles signal (the
    * [[IvfStream.rebuildIndex]] contract for this store): when
    * n_below/n_above says the frozen bounds are absorbing real
    * distribution shift, re-derive bounds over the CURRENT corpus and
    * write a complete standing store under NEW roots for a fresh stream
    * to append to — the old roots are never touched (readers swap at
    * their own pace; rollback is "don't swap"). Both targets must be
    * empty: rebuilding into a live root is the in-place mutation the
    * bounds guard exists to prevent.
    *
    * Unlike the IVF index (whose deltas retain the vectors, so its
    * rebuild is self-contained), a count store retains only bin counts —
    * re-binning under new bounds NEEDS the source corpus, so the caller
    * passes it (one corpus scan: the same cost as the original
    * writeStanding). */
  def rebuildStore(spark: SparkSession, corpus: DataFrame,
      newBoundsRoot: String, newCountRoot: String, colName: String,
      bins: Int): Unit = {
    Versions.requireFreshRoots(spark, newBoundsRoot, newCountRoot)
    writeStanding(spark, newBoundsRoot, newCountRoot, corpus, colName, bins)
  }
}
