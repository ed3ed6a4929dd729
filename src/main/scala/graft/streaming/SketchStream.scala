package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Profiling

/** Streaming sketch maintenance — the PROFILING member of the incremental
  * family: each micro-batch appends its [[Profiling.hllRegisters]]
  * relation as a versioned delta (model-sized: ≤ groups·2^p rows
  * regardless of batch or corpus size), and the live cardinality
  * estimate at any point is [[Profiling.hllFromRegisters]] over the
  * register fold — `max(__M)` per (group, idx).
  *
  * The fold is associative AND idempotent — strictly stronger than
  * [[PcaStream]]'s decimal sums ([[RetrievalStream]]'s integer sums):
  * even a DUPLICATED register delta cannot corrupt the estimate, so the
  * store tolerates at-least-once delivery structurally; the family's
  * exactly-once conventions (batch-id-named deltas, deterministic
  * overwrite, lineage guard) are kept anyway for uniformity and for
  * version-count hygiene. Folded == one-shot is exact: the register
  * relation of a union IS the (group, idx)-wise max of per-part
  * relations, so the streamed estimate equals [[Profiling.hllDistinct]]
  * over the assembled corpus bit-for-bit — which is what the p109 oracle
  * replays register-by-register.
  *
  * At 100 TB: per-batch cost is one batch-sized hash+partial-max scan +
  * a model-sized write; the standing corpus is never re-hashed. The
  * dedup-rate / cardinality dashboards a training-data pipeline watches
  * (distinct documents per language, distinct urls per day) read a
  * model-sized fold, not the corpus. */
object SketchStream {

  /** Takedown refusal — the sketch stores are MONOTONE: an HLL register
    * holds a max over every item that ever hashed into it, a count-min
    * counter a sum, a bloom word an OR of set bits. None can un-absorb
    * one item ([[graft.streaming.Versions.tombstone]]'s contract names
    * this class), so the takedown verb for a sketch is its REBUILD
    * lifecycle: re-derive the model from the corpus minus the deleted
    * items into a new root and swap readers ([[rebuildBloomStore]] for
    * bloom; HLL/count-min re-run [[writeStanding]]/[[writeStandingCm]]
    * over the retained corpus — the p115/p120/p121 reader-swap shape). */
  def tombstone(spark: SparkSession, root: String, ids: Seq[Long],
      batchId: Long): Unit =
    cmSpec.tombstone(spark, root, ids, batchId)

  private val rebuildHint = "sketch stores are monotone (HLL register max " +
    "/ count-min sums / bloom OR-ed bits cannot un-absorb an item). " +
    "Rebuild from the retained corpus into a NEW root and swap readers — " +
    "rebuildBloomStore for bloom; writeStanding/writeStandingCm for " +
    "HLL/count-min"

  private def foldRegisters(groupCols: Seq[String])(df: DataFrame): DataFrame =
    df.groupBy((groupCols.map(col) :+ col("__idx")): _*)
      .agg(max(col("__M")).as("__M"))

  /** Registers fold by (group, idx)-wise max — read-equivalent by
    * associativity, and idempotent besides. */
  private def hllSpec(groupCols: Seq[String]) = Versions.StoreSpec(
    "register store", Nil, foldRegisters(groupCols), rebuildHint = rebuildHint)

  // ---- sketch-parameter pinning ------------------------------------------
  // A register/counter store is bound to the sketch parameters it was
  // built under exactly as a bin-count store is bound to its bounds
  // (QuantileStream) and an IVF index to its bank (IvfStream): registers
  // written at p=10 read under the p=8 estimator — or w=2048 counters
  // probed with w=1024 bucket hashing — produce silently-garbage
  // estimates. writeStanding pins the parameters at `root/_params`
  // (ignored by Versions.list's v\d+ filter and by compaction); every
  // parameter-taking read/append fails loud on a mismatch.

  // Standing writes are live-root-guarded (the spec's writeStanding): a
  // fresh v0 + _params over live deltas would silently mix sketch
  // parameters on read.
  private def writePinned(spark: SparkSession, spec: Versions.StoreSpec,
      root: String, params: Map[String, Int], rows: => DataFrame): Unit =
    spec.writeStanding(spark, root, {
      // the pin lands after the guard, before v0
      Versions.writePin(spark, root,
        params.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toLong })
      rows
    })

  private def checkParams(spark: SparkSession, root: String,
      params: Map[String, Int]): Unit = {
    val stored = Versions.readPin(spark, root, "writeStanding (which pins " +
      "the sketch parameters the store was built under) before reading or " +
      "appending").map { case (k, v) => k -> v.toInt }
    require(stored == params,
      s"sketch-parameter mismatch at $root: store built with $stored, " +
        s"caller passed $params — estimates under mismatched parameters " +
        "are silently garbage; use the stored parameters or build a new " +
        "store")
  }

  /** Write the standing corpus's register relation as `root/v0`. */
  def writeStanding(spark: SparkSession, root: String, standing: DataFrame,
      groupCols: Seq[String], valueCol: String, p: Int = 8): Unit =
    writePinned(spark, hllSpec(groupCols), root, Map("p" -> p),
      Profiling.hllRegisters(standing, groupCols, valueCol, p))

  /** The `foreachBatch` callback: batch registers → `root/v{batchId+1}`,
    * under the family's standing-store + lineage-fork guards. */
  def advanceBatch(spark: SparkSession, root: String,
      groupCols: Seq[String], valueCol: String, p: Int = 8,
      autoCompactVersions: Option[Int] = None)(
      batch: DataFrame, batchId: Long): Unit = {
    val spec = hllSpec(groupCols)
    spec.guardAppend(spark, root, batchId)
    checkParams(spark, root, Map("p" -> p))
    spec.autoCompact(spark, root, batchId, autoCompactVersions)
    Profiling.hllRegisters(batch, groupCols, valueCol, p)
      .write.mode("overwrite").parquet(s"$root/v${batchId + 1}")
  }

  /** The folded register relation over every delta `<= upTo` —
    * model-sized, exact by max-merge associativity. */
  def readRegisters(spark: SparkSession, root: String,
      groupCols: Seq[String], upTo: Long = Long.MaxValue): DataFrame =
    foldRegisters(groupCols)(hllSpec(groupCols).read(spark, root, upTo))

  /** The live cardinality estimate — bit-identical to
    * [[Profiling.hllDistinct]] over the corresponding corpus union. */
  def distinctAt(spark: SparkSession, root: String, groupCols: Seq[String],
      p: Int = 8, upTo: Long = Long.MaxValue): DataFrame = {
    checkParams(spark, root, Map("p" -> p))
    Profiling.hllFromRegisters(
      readRegisters(spark, root, groupCols, upTo), groupCols, p)
  }

  /** Fold register deltas `v0..v<upTo>` into a new base (see
    * [[Versions.compact]]). */
  def compactStore(spark: SparkSession, root: String,
      groupCols: Seq[String], upTo: Long): Unit =
    hllSpec(groupCols).compact(spark, root, upTo)

  // ---- count-min (frequency) ---------------------------------------------
  // The COUNTING sibling: per-batch counter deltas (d×w rows, model-sized)
  // folding by (j, bucket)-wise SUM. Counter sums are associative but NOT
  // idempotent — unlike the HLL registers above, a duplicated delta WOULD
  // overcount, which is exactly why the family's exactly-once conventions
  // (batch-id-named deltas, deterministic overwrite, lineage guard) are
  // load-bearing here. Folded == one-shot is structural all the same: the
  // counter table of a union is the sum of per-part counter tables.

  private def foldCounters(df: DataFrame): DataFrame =
    df.groupBy(col("j"), col("bucket"))
      .agg(sum(col("cnt")).cast("long").as("cnt"))

  private val cmSpec = Versions.StoreSpec("counter store", Nil, foldCounters,
    rebuildHint = rebuildHint)

  /** Write the standing corpus's count-min counters as `root/v0`. */
  def writeStandingCm(spark: SparkSession, root: String, standing: DataFrame,
      keyCol: String, d: Int = 4, w: Int = 1024): Unit =
    writePinned(spark, cmSpec, root, Map("d" -> d, "w" -> w),
      Profiling.countMinSketch(standing, keyCol, d, w))

  /** The `foreachBatch` callback for the counter store. */
  def advanceBatchCm(spark: SparkSession, root: String, keyCol: String,
      d: Int = 4, w: Int = 1024, autoCompactVersions: Option[Int] = None)(
      batch: DataFrame, batchId: Long): Unit = {
    cmSpec.guardAppend(spark, root, batchId)
    checkParams(spark, root, Map("d" -> d, "w" -> w))
    cmSpec.autoCompact(spark, root, batchId, autoCompactVersions)
    Profiling.countMinSketch(batch, keyCol, d, w)
      .write.mode("overwrite").parquet(s"$root/v${batchId + 1}")
  }

  /** The folded counter table over every delta `<= upTo` — model-sized
    * (≤ d·w rows), exact by integer-sum associativity. */
  def readCounters(spark: SparkSession, root: String,
      upTo: Long = Long.MaxValue): DataFrame =
    foldCounters(cmSpec.read(spark, root, upTo))

  /** Live point estimates — bit-identical to [[Profiling.countMinLookup]]
    * against a one-shot sketch of the corpus union (structural
    * overestimate n_cms ≥ true count included). */
  def lookupAt(spark: SparkSession, root: String, keys: DataFrame,
      keyCol: String, d: Int = 4, w: Int = 1024,
      upTo: Long = Long.MaxValue): DataFrame = {
    checkParams(spark, root, Map("d" -> d, "w" -> w))
    Profiling.countMinLookup(keys, keyCol,
      readCounters(spark, root, upTo), d, w)
  }

  /** Fold counter deltas `v0..v<upTo>` into a new base (sum-merge —
    * read-equivalent by associativity). */
  def compactStoreCm(spark: SparkSession, root: String, upTo: Long): Unit =
    cmSpec.compact(spark, root, upTo)

  // ---- bloom (membership) -------------------------------------------------
  // The MEMBERSHIP sibling — the growing-blocklist store a streaming
  // decontamination pipeline maintains as new benchmark/blocklist items
  // arrive. Deltas are [[Profiling.bloomBits]] set-bit relations (model-
  // sized: ≤ k·m rows at ANY corpus); the fold is distinct-union —
  // associative, idempotent (a duplicated delta cannot change set
  // membership — the HLL-class tolerance) and MONOTONE (bits are only
  // added: a standing "might contain" verdict can never be revoked by an
  // append, which is the semantics a blocklist wants). The live probe
  // materializes the folded bits as literal masks (driver pull ≤ k·m/8
  // bytes — the p53 bloom-literal class) and filters scan-locally: the
  // corpus side pays ZERO joins and ZERO extra exchange.

  private def foldBits(df: DataFrame): DataFrame = df.distinct()

  private val bloomSpec = Versions.StoreSpec("bloom store", Nil, foldBits,
    rebuildHint = rebuildHint)

  /** Write the standing blocklist's set-bit relation as `root/v0`. */
  def writeStandingBloom(spark: SparkSession, root: String,
      standing: DataFrame, keyCol: String, k: Int = 4,
      m: Int = 1 << 16): Unit =
    writePinned(spark, bloomSpec, root, Map("k" -> k, "m" -> m),
      Profiling.bloomBits(standing, keyCol, k, m))

  /** The `foreachBatch` callback for the bloom store: the batch's new
    * set bits → `root/v{batchId+1}`, under the family's guards. */
  def advanceBatchBloom(spark: SparkSession, root: String, keyCol: String,
      k: Int = 4, m: Int = 1 << 16,
      autoCompactVersions: Option[Int] = None)(
      batch: DataFrame, batchId: Long): Unit = {
    bloomSpec.guardAppend(spark, root, batchId)
    checkParams(spark, root, Map("k" -> k, "m" -> m))
    bloomSpec.autoCompact(spark, root, batchId, autoCompactVersions)
    Profiling.bloomBits(batch, keyCol, k, m)
      .write.mode("overwrite").parquet(s"$root/v${batchId + 1}")
  }

  /** The folded set-bit relation over every delta `<= upTo` — model-sized,
    * exact by set-union associativity (and idempotent besides). */
  def readBloomBits(spark: SparkSession, root: String,
      upTo: Long = Long.MaxValue): DataFrame =
    foldBits(bloomSpec.read(spark, root, upTo))

  /** Live prefilter: rows of `probes` whose `keyCol` MIGHT be in the
    * maintained set (no false negatives — a true member always passes).
    * The folded bits become literal masks; the filter is scan-local
    * (bit-identical to [[Profiling.bloomMightContain]] over a one-shot
    * bloom of the corresponding union). */
  def prefilterAt(spark: SparkSession, root: String, probes: DataFrame,
      keyCol: String, k: Int = 4, m: Int = 1 << 16,
      upTo: Long = Long.MaxValue): DataFrame = {
    checkParams(spark, root, Map("k" -> k, "m" -> m))
    val masks = Profiling.bloomMasks(readBloomBits(spark, root, upTo), k, m)
    probes.filter(Profiling.bloomMightContain(col(keyCol), masks, m))
  }

  /** Fold bit deltas `v0..v<upTo>` into a new base (distinct-union —
    * read-identical by idempotent set semantics). */
  def compactStoreBloom(spark: SparkSession, root: String, upTo: Long): Unit =
    bloomSpec.compact(spark, root, upTo)

  /** Saturation signal — the bloom's drift metric, as bounds drift is the
    * quantile store's and per-cell growth the IVF index's: per hash row,
    * the set-bit fraction of the folded store, plus the implied
    * false-positive rate (the product of per-row fills — each of the k
    * probes must land on a set bit of its own row). A fill climbing
    * toward 1 means `m` was sized for a smaller blocklist than the
    * stream delivered: false positives inflate candidate verify cost
    * (never correctness — the exact verify holds), and the remedy is
    * [[rebuildBloomStore]]. One model-sized fold — never the corpus.
    * Hash rows with ZERO set bits (an empty or tiny blocklist) are
    * materialized explicitly at fill 0 — groupBy alone would omit them,
    * under-counting the rows and silently inflating fp_rate — so an
    * empty store reads as k rows of fill 0 with fp_rate 0, not an empty
    * frame. */
  def bloomFillAt(spark: SparkSession, root: String, k: Int = 4,
      m: Int = 1 << 16, upTo: Long = Long.MaxValue): DataFrame = {
    checkParams(spark, root, Map("k" -> k, "m" -> m))
    val setPerRow = readBloomBits(spark, root, upTo)
      .groupBy(col("j"))
      .agg((count(lit(1)) / lit(m.toDouble)).as("fill"))
    // a hash row with no set bits is ABSENT from the groupBy output, not
    // present at fill 0 — left-join the literal row ids so every row
    // contributes its true (possibly zero) fill to the product below
    val perRow = spark.range(k).select(col("id").cast("int").as("j"))
      .join(setPerRow, Seq("j"), "left")
      .select(col("j"), coalesce(col("fill"), lit(0d)).as("fill"))
    // product of fills via exp∘sum∘log, with the empty-row edge handled
    // explicitly (log(0) is null in Spark and would silently drop the
    // factor): any empty hash row means NO key can fully match — fp 0
    perRow.crossJoin(
      perRow.agg(
        when(min(col("fill")) === 0d, lit(0d))
          .otherwise(exp(sum(log(col("fill"))))).as("fp_rate")))
  }

  /** Reader-swap rebuild for a saturated store: re-hash the standing KEY
    * relation under a larger `m` into a NEW root (set bits cannot be
    * re-addressed to a different m — the keys are the authority, and the
    * pipeline's standing blocklist relation retains them), then swap
    * readers. Refuses live targets: rebuilding into an existing root is
    * the in-place mutation the parameter pin exists to prevent. */
  def rebuildBloomStore(spark: SparkSession, newRoot: String,
      standing: DataFrame, keyCol: String, k: Int = 4,
      m: Int = 1 << 20): Unit = {
    Versions.requireFreshRoots(spark, newRoot)
    writeStandingBloom(spark, newRoot, standing, keyCol, k, m)
  }
}
