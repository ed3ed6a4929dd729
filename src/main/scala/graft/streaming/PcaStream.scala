package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.operators.Decomp

/** Streaming PCA — covariance-moment maintenance under the versioned
  * delta-store convention ([[Versions]]): the STATISTICS sibling of
  * [[IvfStream]]. Where the IVF index's deltas are data-sized (one row
  * per vector), a PCA model's sufficient statistics are the
  * [[Decomp.moments]] relation — d(d+3)/2 exact-decimal sums — so each
  * micro-batch appends a MODEL-SIZED delta (2,144 rows at d=64,
  * regardless of batch or corpus size) and the current model at any
  * point is the (i, j)-wise decimal fold of the deltas.
  *
  * Exactness is structural, not approximate: [[Decomp.moments]] sums are
  * exact DECIMAL(38,18) additions of per-vector terms, so moments are
  * ASSOCIATIVE in the corpus — `fold(moments(standing), moments(b1),
  * moments(b2)) == moments(standing ∪ b1 ∪ b2)` bit-for-bit, and
  * therefore [[modelAt]] equals a one-shot [[Decomp.pcaFit]] over the
  * union EXACTLY (the p107 oracle asserts this through the full DuckDB
  * power-iteration replay). Compaction folds deltas with the same
  * (i, j)-keyed decimal sum — read-equivalent by the same associativity.
  *
  * At 100 TB the point: per-batch cost is one batch-sized moments scan +
  * a model-sized write; refits are driver-side O(k·iters·d²) from a
  * model-sized fold — the standing corpus is NEVER re-scanned. */
object PcaStream {

  private val momentCols = Seq("i", "j", "s", "cnt")

  /** (i, j)-wise exact-decimal fold of a moments union — the merge both
    * [[readMoments]] and compaction use. Sum of DECIMAL(38,18) stays
    * DECIMAL(38,18) via the explicit cast (Spark widens sum(decimal) by
    * 10 digits; the cast restores the [[Decomp.moments]] schema so folded
    * deltas are indistinguishable from a fresh scan's). */
  private def foldMoments(df: DataFrame): DataFrame =
    df.groupBy(col("i"), col("j"))
      .agg(sum(col("s")).cast(DecimalType(38, 18)).as("s"),
        sum(col("cnt")).as("cnt"))
      .select(momentCols.map(col): _*)

  private val spec = Versions.StoreSpec("moments store", Nil, foldMoments)

  /** Write the standing corpus's moments as `root/v0` (live-root-guarded:
    * [[Versions.guardStandingWrite]]). */
  def writeStanding(spark: SparkSession, root: String, standing: DataFrame,
      vecCol: String = "embedding"): Unit =
    spec.writeStanding(spark, root, Decomp.moments(standing, vecCol))

  /** The `foreachBatch` callback: batch moments → `root/v{batchId+1}`,
    * under the family's standing-store + lineage-fork guards. An empty
    * batch writes an empty delta (the fold ignores it). */
  def advanceBatch(spark: SparkSession, root: String,
      vecCol: String = "embedding",
      autoCompactVersions: Option[Int] = None)(
      batch: DataFrame, batchId: Long): Unit = {
    spec.beginAppend(spark, root, batchId, autoCompactVersions)
    Decomp.moments(batch, vecCol)
      .write.mode("overwrite").parquet(s"$root/v${batchId + 1}")
  }

  /** The folded moments relation over every delta `<= upTo` — model-sized
    * (d(d+3)/2 rows), exact by decimal associativity. */
  def readMoments(spark: SparkSession, root: String,
      upTo: Long = Long.MaxValue): DataFrame =
    foldMoments(spec.read(spark, root, upTo))

  /** The current model: fold deltas, solve on the driver — bit-identical
    * to `Decomp.pcaFit` over the corresponding corpus union. */
  def modelAt(spark: SparkSession, root: String, k: Int, iters: Int,
      upTo: Long = Long.MaxValue): Decomp.PcaModel =
    Decomp.fitFromMoments(
      readMoments(spark, root, upTo).collect().map(r =>
        (r.getInt(0), r.getInt(1), r.getDecimal(2), r.getLong(3))),
      k, iters)

  /** Fold moment deltas `v0..v<upTo>` into a new base (see
    * [[Versions.compact]]); the decimal fold is read-equivalent by
    * associativity. */
  def compactStore(spark: SparkSession, root: String, upTo: Long): Unit =
    spec.compact(spark, root, upTo)
}
