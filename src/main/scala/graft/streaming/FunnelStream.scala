package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.SteadyLit
import graft.operators.TimeSeries

/** Streaming funnel progression — [[TimeSeries.funnelStage]]'s stateful
  * sibling: each micro-batch folds its time-ordered events ON TOP of every
  * user's carried stage, emits the users whose stage advanced, and appends
  * the advanced stages as the batch's state delta.
  *
  * State store (`stateRoot/v*`, the [[Versions]] convention): rows
  * (key, stage, __v). `v0` is the standing state written before the
  * stream starts (empty for a cold start); `v{b+1}` holds ONLY the users
  * batch b advanced — the current stage of a user is their row with the
  * highest version (deltas never rewrite the past, exactly like
  * [[PassageStream]]'s fingerprint deltas). A redelivered batch rebases
  * on versions `<= batchId` and overwrites its own outputs
  * byte-identically; a fresh checkpoint over existing deltas throws
  * (forked lineage), the shared exactly-once contract.
  *
  * The fold itself is [[TimeSeries.funnelFoldSql]] with the carried
  * stage as seed — definitionally the batch fold, which is what makes
  * the stream's final state equal the one-shot batch computation when
  * batches partition the stream in time order. */
object FunnelStream {

  /** The prior-state read keeps only each key's highest-`__v` row, so
    * compaction prunes every superseded stage row — the base shrinks to
    * one row per key, keeping original `__v` values so later reads rank
    * identically against post-compaction deltas. */
  private def spec(keyCol: String) = Versions.StoreSpec("state", Nil,
    Versions.newestPerKey(keyCol),
    missingHint = "write it (empty for a cold start) before starting the " +
      "stream")

  /** The `foreachBatch` callback: advance stages through batch
    * `batchId`'s events, emit changed users to `outRoot/b<batchId>`,
    * append the state delta as `stateRoot/v<batchId + 1>`. */
  def advanceBatch(spark: SparkSession, stateRoot: String, outRoot: String,
      keyCol: String, tsCol: String, tieCol: String, typeCol: String,
      steps: Seq[String], autoCompactVersions: Option[Int] = None)(
      batch: DataFrame, batchId: Long): Unit = {
    val state = spec(keyCol)
    state.beginAppend(spark, stateRoot, batchId, autoCompactVersions)
    val prior = state.fold(state.read(spark, stateRoot, upTo = batchId))
      .select(col(keyCol), col("stage").as("__prior"))
    val advanced = batch
      .filter(col(keyCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(collect_list(struct(col(tsCol).as("t"), col(tieCol).as("i"),
        col(typeCol).as("ty"))).as("__evs"))
      .join(prior, Seq(keyCol), "left")
      .withColumn("__seed", coalesce(col("__prior"), lit(0)))
      .select(col(keyCol),
        col("__seed").as("stage_before"),
        expr(TimeSeries.funnelFoldSql(steps, seedSql = "__seed"))
          .as("stage"))
      .filter(col("stage") =!= col("stage_before"))
      // one materialization feeds both writes (the ClusterStream bd/bp
      // discipline): without it each overlapped write re-evaluates the
      // groupBy + state join — overlapped wall, doubled cluster work
      .localCheckpoint(true)
    // independent per-trigger writes (distinct batch-id-named paths, any
    // completion subset redelivery-recoverable) — overlap them (guide §2.6)
    graft.core.Par.run(
      () => advanced
        .select(col(keyCol), col("stage"), SteadyLit.steadyLong(batchId).as("batch"))
        .write.mode("overwrite").parquet(s"$outRoot/b$batchId"),
      () => advanced
        .select(col(keyCol), col("stage"), SteadyLit.steadyLong(batchId + 1).as("__v"))
        .write.mode("overwrite").parquet(s"$stateRoot/v${batchId + 1}"))
  }

  /** Merge state deltas `v0..v<upTo>` into a new base snapshot (see
    * [[Versions.compact]] for the lineage-guard and safety contract). */
  def compactState(spark: SparkSession, stateRoot: String, keyCol: String,
      upTo: Long): Unit =
    spec(keyCol).compact(spark, stateRoot, upTo)
}
