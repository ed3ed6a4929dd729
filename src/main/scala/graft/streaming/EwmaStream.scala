package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.SteadyLit
import graft.operators.TimeSeries

/** Streaming per-key EWMA — [[TimeSeries.ewmaByKey]]'s stateful sibling
  * and the chained-seed pattern that operator's scaladoc documents for
  * unbounded streams, made real: each micro-batch folds its time-ordered
  * values ON TOP of every key's carried (n_events, ewma) state, emits the
  * keys that saw values, and appends the updated state as the batch's
  * delta.
  *
  * State store (`stateRoot/v*`, the [[Versions]] convention): rows
  * (key, n_events, ewma, __v) — DOUBLE-state, unlike [[FunnelStream]]'s
  * single integer stage. `v0` is the standing state (empty for a cold
  * start); `v{b+1}` holds only the keys batch b updated; a key's current
  * state is its highest-`__v` row. Redelivered batches rebase on versions
  * `<= batchId` and overwrite deterministically; a fresh checkpoint over
  * existing deltas throws; [[compactState]] folds deltas into the base —
  * all [[PassageStream]]'s exactly-once contract.
  *
  * Correctness of chaining: the EWMA recurrence is a LEFT fold, so
  * seeding a batch's fold with the carried accumulator replays the exact
  * IEEE operation sequence of one fold over the concatenated timeline —
  * the stream's final state equals the one-shot [[TimeSeries.ewmaByKey]]
  * bit-for-bit when batches partition the stream in time order (the p88
  * registry row's oracle proves it per batch). */
object EwmaStream {

  /** Compaction keeps each key's newest state row, like
    * [[FunnelStream]]'s. */
  private def spec(keyCol: String) = Versions.StoreSpec("state", Nil,
    Versions.newestPerKey(keyCol),
    missingHint = "write it (empty for a cold start) before starting the " +
      "stream")

  /** The `foreachBatch` callback: fold batch `batchId`'s values into each
    * key's carried EWMA, emit updated keys to `outRoot/b<batchId>`,
    * append the state delta as `stateRoot/v<batchId + 1>`. */
  def advanceBatch(spark: SparkSession, stateRoot: String, outRoot: String,
      keyCol: String, tsCol: String, tieCol: String, valCol: String,
      alpha: Double, autoCompactVersions: Option[Int] = None)(
      batch: DataFrame, batchId: Long): Unit = {
    val state = spec(keyCol)
    state.beginAppend(spark, stateRoot, batchId, autoCompactVersions)
    val prior = state.fold(state.read(spark, stateRoot, upTo = batchId))
      .select(col(keyCol), col("n_events").as("__pn"),
        col("ewma").as("__pe"))
    val updated = batch
      .filter(col(keyCol).isNotNull && col(valCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(collect_list(struct(col(tsCol).as("t"), col(tieCol).as("i"),
        col(valCol).cast("double").as("v"))).as("__evs"))
      .withColumn("__vs", expr("transform(array_sort(__evs), s -> s.v)"))
      .join(prior, Seq(keyCol), "left")
      .select(col(keyCol),
        (coalesce(col("__pn"), lit(0L)) + size(col("__vs")).cast("long"))
          .as("n_events"),
        expr(s"""CASE WHEN __pe IS NULL
                 THEN ${TimeSeries.ewmaFoldSql(alpha)}
                 ELSE ${TimeSeries.ewmaFoldSql(alpha,
                   seedSql = Some("__pe"))} END""").as("ewma"))
      // one materialization feeds both writes (the ClusterStream bd/bp
      // discipline): without it each overlapped write re-evaluates the
      // groupBy + state join — overlapped wall, doubled cluster work
      .localCheckpoint(true)
    // independent per-trigger writes (distinct batch-id-named paths, any
    // completion subset redelivery-recoverable) — overlap them (guide §2.6)
    graft.core.Par.run(
      () => updated
        .select(col(keyCol), col("n_events"), col("ewma"),
          SteadyLit.steadyLong(batchId).as("batch"))
        .write.mode("overwrite").parquet(s"$outRoot/b$batchId"),
      () => updated
        .select(col(keyCol), col("n_events"), col("ewma"),
          SteadyLit.steadyLong(batchId + 1).as("__v"))
        .write.mode("overwrite").parquet(s"$stateRoot/v${batchId + 1}"))
  }

  /** Merge state deltas `v0..v<upTo>` into a new base snapshot (see
    * [[Versions.compact]] for the lineage-guard and safety contract),
    * pruning superseded per-key rows. */
  def compactState(spark: SparkSession, stateRoot: String, keyCol: String,
      upTo: Long): Unit =
    spec(keyCol).compact(spark, stateRoot, upTo)
}
