package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.math.BigDecimal

/** Streaming mini-batch k-means — the carried-state contract
  * ([[FunnelStream]]: integer stage, [[EwmaStream]]: double pair)
  * generalized to MODEL state: a centroid bank that every micro-batch
  * refines and hands to the next.
  *
  * Update rule (the running-mean mini-batch variant): each batch assigns
  * its vectors to the nearest carried centroid, then every touched cell's
  * centroid moves to the mean of ALL points ever assigned to it. State is
  * therefore per-(cell, dim) EXACT cumulative sums — DECIMAL(38,18), the
  * same decimal staging as the batch Lloyd trainer
  * (`Similarity.ivfCentroidsTrained`) — plus the cumulative count, so the
  * division to a working double happens once per read, and the whole
  * stream replays bit-for-bit: sums are order-free exact arithmetic, and
  * the one double division per (cell, dim) goes through the proven
  * `BigDecimal.doubleValue` bridge. The seed bank enters as one synthetic
  * observation per cell (n = 1), which keeps empty cells defined without a
  * separate seed store.
  *
  * State store (`stateRoot/v*`, the [[Versions]] convention): rows
  * (cell, pos, s DECIMAL(38,18), n, __v). `v0` is the seeded state;
  * `v{b+1}` holds only the (cell, pos) rows batch b updated; current state
  * is the highest-`__v` row per (cell, pos). Redelivery rebases on
  * versions `<= batchId` and rewrites deterministically; the fresh-
  * checkpoint lineage guard and [[compactState]] follow [[PassageStream]]'s
  * exactly-once contract verbatim.
  *
  * Scale shape: the per-batch work is one assignment scan + one
  * (cell, dim)-keyed partial aggregation (at most K·dim rows per partition
  * cross the exchange); the driver holds only the K·dim bank — the same
  * model-sized pull as every trained-bank operator. The batch's data never
  * lands on the driver.
  */
object KMeansStream {

  private val stateSchema = StructType(Seq(
    StructField("cell", IntegerType, nullable = false),
    StructField("pos", IntegerType, nullable = false),
    StructField("s", DecimalType(38, 18), nullable = false),
    StructField("n", LongType, nullable = false),
    StructField("__v", LongType, nullable = false)))

  /** Current state is the newest row per (cell, pos); compaction prunes
    * the superseded ones. */
  private val spec = Versions.StoreSpec("state", Nil,
    Versions.newestPerKey("cell", "pos"), missingHint = "writeSeedState first")

  private val outSchema = StructType(Seq(
    StructField("batch", LongType, nullable = false),
    StructField("cell", IntegerType, nullable = false),
    StructField("n_points", LongType, nullable = false),
    StructField("pos", IntegerType, nullable = false),
    StructField("val", DoubleType, nullable = false)))

  /** Write the seeded standing state `stateRoot/v0` from an initial
    * centroid bank (e.g. `Similarity.ivfCentroids`): each seed coordinate
    * staged to DECIMAL(38,18) through the Double.toString path (the
    * `decimalStage` convention), counted as one synthetic observation. */
  def writeSeedState(spark: SparkSession, stateRoot: String,
      seed: Array[Array[Double]]): Unit = {
    val rows = for {
      (cv, cell) <- seed.zipWithIndex.toSeq
      (v, pos) <- cv.zipWithIndex
    } yield Row(cell, pos,
      new BigDecimal(java.lang.Double.toString(v))
        .setScale(18, java.math.RoundingMode.HALF_UP), 1L, 0L)
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), stateSchema)
      .write.mode("overwrite").parquet(s"$stateRoot/v0")
  }

  /** The `foreachBatch` callback: assign batch `batchId`'s vectors under
    * the carried bank, fold exact per-(cell, dim) sums into the state,
    * emit every touched cell's full centroid to `outRoot/b<batchId>`, and
    * append the state delta as `stateRoot/v<batchId + 1>`. */
  def advanceBatch(spark: SparkSession, stateRoot: String, outRoot: String,
      idCol: String, vecCol: String, autoCompactVersions: Option[Int] = None)(
      batch: DataFrame, batchId: Long): Unit = {
    import graft.functions.VectorExpressions.nearestCentroids
    spec.beginAppend(spark, stateRoot, batchId, autoCompactVersions)
    // Carried state: newest row per (cell, pos) across versions <= batchId.
    val prior = spec.fold(spec.read(spark, stateRoot, upTo = batchId))
      .select(col("cell"), col("pos"), col("s"), col("n"))
      .collect()
    val sums = scala.collection.mutable.Map.empty[(Int, Int), BigDecimal]
    val counts = scala.collection.mutable.Map.empty[Int, Long]
    prior.foreach { r =>
      sums((r.getInt(0), r.getInt(1))) = r.getDecimal(2)
      counts(r.getInt(0)) = r.getLong(3)
    }
    val nCells = counts.keys.max + 1
    val dim = sums.keys.map(_._2).max + 1
    val cents = Array.tabulate(nCells, dim) { (c, p) =>
      sums((c, p)).doubleValue() / counts(c)
    }
    // One assignment scan + one (cell, dim) partial aggregation; only
    // K·dim decimal sums cross the exchange and reach the driver.
    val perDim = batch
      .filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .select(col(vecCol).cast("array<double>").as("__v"))
      .select(element_at(nearestCentroids(col("__v"), cents, 1), 1)
        .as("cell"), posexplode(col("__v")))
      .groupBy(col("cell"), col("pos"))
      .agg(sum(col("col").cast(DecimalType(38, 18))).as("bs"),
        count(lit(1)).as("bn"))
      .collect()
    // Fail loud on ragged input BEFORE any state write (nothing is written
    // yet, so the failed batch replays cleanly): a vector longer than the
    // seeded dim would land on an unseeded (cell, pos) key; a shorter one
    // would silently skew the running mean, because cell counts are taken
    // from pos 0 rows while sums accrue at every present position. The
    // check is driver-side over the already-collected K·dim rows: every
    // touched cell must cover exactly pos 0..dim-1 with one common count.
    perDim.find(_.getInt(1) >= dim).foreach { r =>
      throw new IllegalArgumentException(
        s"batch $batchId has a vector with dimensionality > $dim " +
          s"(saw pos ${r.getInt(1)}); the seeded bank is $dim-dimensional")
    }
    perDim.groupBy(_.getInt(0)).foreach { case (cell, rs) =>
      require(rs.length == dim && rs.map(_.getLong(3)).distinct.length == 1,
        s"batch $batchId has ragged vectors (< $dim dims) assigned to " +
          s"cell $cell; every vector must have exactly $dim dimensions")
    }
    val touched = perDim.map(_.getInt(0)).toSet
    perDim.foreach { r =>
      val key = (r.getInt(0), r.getInt(1))
      sums(key) = sums(key).add(r.getDecimal(2))
    }
    perDim.filter(_.getInt(1) == 0).foreach { r =>
      counts(r.getInt(0)) = counts(r.getInt(0)) + r.getLong(3)
    }
    val outRows = for {
      cell <- touched.toSeq.sorted
      pos <- 0 until dim
    } yield Row(batchId, cell, counts(cell), pos,
      sums((cell, pos)).doubleValue() / counts(cell))
    val deltaRows = for {
      cell <- touched.toSeq.sorted
      pos <- 0 until dim
    } yield Row(cell, pos, sums((cell, pos)), counts(cell), batchId + 1)
    // independent per-trigger writes of driver-built rows — overlap them
    // (guide §2.6)
    graft.core.Par.run(
      () => spark.createDataFrame(
          spark.sparkContext.parallelize(outRows, 1), outSchema)
        .write.mode("overwrite").parquet(s"$outRoot/b$batchId"),
      () => spark.createDataFrame(
          spark.sparkContext.parallelize(deltaRows, 1), stateSchema)
        .write.mode("overwrite").parquet(s"$stateRoot/v${batchId + 1}"))
  }

  /** Merge state deltas `v0..v<upTo>` into a new base (see
    * [[Versions.compact]]), pruning superseded per-(cell, pos) rows. */
  def compactState(spark: SparkSession, stateRoot: String, upTo: Long): Unit =
    spec.compact(spark, stateRoot, upTo)
}
