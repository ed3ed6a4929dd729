package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Column profiling: per-column statistics (row count, nulls, distinct
  * count, min/max) for a selected set of numeric-castable columns — the
  * data-quality sweep a pipeline runs before committing a snapshot to
  * training.
  *
  * Reference context: the reference's only built-in analytics are the
  * word-count/dice jobs (nikiwiles/FSharp-MapReduce Example-Job.fs:31-86);
  * profiling is the same per-key fold generalized to dataset metadata.
  *
  * Scale design: ONE aggregation pass produces every metric as a single
  * row (partial + final aggregate; Spark plans the N exact distinct counts
  * via one Expand — rows multiply by #cols on the map side but only
  * distinct values reach the exchange), then the row unpivots driver-free
  * into one row per column. `exact=false` swaps the distinct counts for
  * HyperLogLog sketches (`approx_count_distinct`), the 100 TB default —
  * same single-pass shape without the Expand blowup.
  */
object Profiling {

  /** Profile `cols` of `df`. Values are surfaced as DOUBLE (uniform output
    * schema across int/bigint/double inputs; exact for 2^53-bounded
    * integers). Output: (column_name, n_rows, n_nulls, n_distinct,
    * min_value, max_value), one row per profiled column. */
  def profile(df: DataFrame, cols: Seq[String], exact: Boolean = true)
      : DataFrame = {
    require(cols.nonEmpty, "cols must be non-empty")
    val ndv: String => org.apache.spark.sql.Column =
      if (exact) c => count_distinct(col(c))
      else c => approx_count_distinct(col(c))
    val aggs = count(lit(1)).as("__n_rows") +: cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"__cnt_$c"),
        ndv(c).as(s"__ndv_$c"),
        min(col(c).cast(DoubleType)).as(s"__min_$c"),
        max(col(c).cast(DoubleType)).as(s"__max_$c"))
    }
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(cols.map(c => struct(
        lit(c).as("column_name"),
        col("__n_rows").as("n_rows"),
        (col("__n_rows") - col(s"__cnt_$c")).as("n_nulls"),
        col(s"__ndv_$c").as("n_distinct"),
        col(s"__min_$c").as("min_value"),
        col(s"__max_$c").as("max_value"))): _*)).as("__p"))
      .select(col("__p.*"))
      .orderBy("column_name")
  }

  /** Equi-width histogram of a numeric-castable column: two passes (a
    * min/max aggregate broadcast into a binning scan + partial/final
    * count), never a driver-side value pull. The last bin is closed
    * (`x = max` clamps into bin `bins-1`); empty bins are absent. The
    * binning arithmetic is plain IEEE doubles over exactly-derived
    * bounds — association order mirrored by the SQL oracle.
    *
    * Returns (bin, bin_lo, bin_hi, n) ordered by bin. */
  def histogram(df: DataFrame, colName: String, bins: Int): DataFrame = {
    require(bins >= 1, "bins must be >= 1")
    val x = col(colName).cast(DoubleType)
    val mm = df.agg(min(x).as("__mn"), max(x).as("__mx"))
    val width = (col("__mx") - col("__mn")) / lit(bins.toDouble)
    val bin = when(col("__mx") === col("__mn"), lit(0))
      .otherwise(least(floor((col("__x") - col("__mn")) / width),
        lit((bins - 1).toDouble)).cast("int"))
    df.select(x.as("__x")).filter(col("__x").isNotNull)
      .crossJoin(broadcast(mm))
      .select(bin.as("bin"), col("__mn"), col("__mx"))
      .groupBy(col("bin"), col("__mn"), col("__mx"))
      .agg(count(lit(1)).as("n"))
      .select(col("bin"),
        (col("__mn") + (col("bin").cast(DoubleType) * width)).as("bin_lo"),
        (col("__mn") + ((col("bin") + 1).cast(DoubleType) * width))
          .as("bin_hi"),
        col("n"))
      .orderBy("bin")
  }

  /** Quantile estimates from a mergeable equi-width histogram — the
    * scalable substitute for a global sort at 100 TB: one min/max/count
    * pass, one binning pass (partial aggregation means at most `bins`
    * rows per partition cross the exchange), then a model-sized
    * cumulative fold locates each quantile's bin and linearly
    * interpolates inside it. Unlike `approx_percentile`'s opaque
    * Greenwald-Khanna sketch, every step is IEEE doubles over
    * exactly-derived bounds, so an oracle replays the estimate
    * bit-for-bit (the p80 query does).
    *
    * Estimate definition: target rank `r = ceil(q*n)`; with `cum(b)` the
    * cumulative count through bin b, the first bin with `cum >= r` hosts
    * the quantile and the estimate is
    * `bin_lo + ((r - cum_before) / n_bin) * width` (association order
    * fixed, mirrored by the oracle). Degenerate column (mx = mn) yields
    * the value itself. The cumulative window has no partition (Spark warns
    * "No Partition Defined for Window operation") and runs over at most
    * `bins` rows — model-sized, never the data. It is eagerly
    * checkpointed: it feeds three downstream branches, and Catalyst would
    * otherwise re-run the binning scan for each.
    *
    * `exact = true` adds the TRUE `percentile_disc` value per quantile
    * via histogram-guided rank-select — the two-phase exact-quantile
    * algorithm: binning is monotone in x, so the global rank-r value IS
    * the (r - cum_before)-th smallest value inside the located bin, and
    * a second scan filtered to that bin (~n/bins rows per quantile)
    * rank-picks it. Exact quantiles over 100 TB without ever sorting
    * more than one bin's residents — vs `percentile_disc`, which
    * buffers EVERY value into one aggregation state (3 quantiles over
    * sf0.1 cost 5.5 s; this path costs one cheap filtered scan for all
    * quantiles together).
    *
    * Returns (q, n, est [, p_exact]), one row per quantile, ordered. */
  def histogramQuantiles(df: DataFrame, colName: String, bins: Int,
      qs: Seq[Double], exact: Boolean = false): DataFrame = {
    require(bins >= 1, "bins must be >= 1")
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      "quantiles must be in (0, 1]")
    val spark = df.sparkSession
    import spark.implicits._
    val x = col(colName).cast(DoubleType)
    val mm = df.agg(min(x).as("__mn"), max(x).as("__mx"), count(x).as("__n"))
    val width = (col("__mx") - col("__mn")) / lit(bins.toDouble)
    val bin = when(col("__mx") === col("__mn"), lit(0))
      .otherwise(least(floor((col("__x") - col("__mn")) / width),
        lit((bins - 1).toDouble)).cast("int"))
    val binned = df.select(x.as("__x")).filter(col("__x").isNotNull)
      .crossJoin(broadcast(mm))
    val counts = binned
      .select(bin.as("__bin"), col("__mn"), col("__mx"), col("__n"))
      .groupBy(col("__bin"), col("__mn"), col("__mx"), col("__n"))
      .agg(count(lit(1)).as("__nb"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("__bin")
      .rowsBetween(Long.MinValue, 0)
    val cum = counts.withColumn("__cum", sum(col("__nb")).over(w))
      .localCheckpoint(true)
    // target rank per quantile: the join is a tiny nested loop over
    // |qs| x bins rows; min bin per q = the first bin reaching rank r
    val r = ceil(col("q") * col("__n").cast(DoubleType))
    val first = qs.toDF("q").crossJoin(broadcast(cum))
      .filter(col("__cum") >= r)
      .groupBy(col("q")).agg(min(col("__bin")).as("__bin"))
      .join(cum, Seq("__bin"))
    val est = when(col("__mx") === col("__mn"), col("__mn"))
      .otherwise(
        (col("__mn") + (col("__bin").cast(DoubleType) * width)) +
          (((r.cast(DoubleType) -
            (col("__cum") - col("__nb")).cast(DoubleType)) /
            col("__nb").cast(DoubleType)) * width))
    val base = first.select(col("q"), col("__n").as("n"), est.as("est"))
    if (!exact) return base.orderBy("q")
    // exact rank-select: residents of each located bin only
    val targets = first.select(col("q").as("__q"), col("__bin"),
      (r - (col("__cum") - col("__nb"))).as("__rin"))
    val inBin = binned.select(bin.as("__bin"), col("__x"))
      .join(broadcast(targets), Seq("__bin"))
    val rankW = org.apache.spark.sql.expressions.Window
      .partitionBy("__q").orderBy("__x")
    val exactVals = inBin
      .withColumn("__rn", row_number().over(rankW))
      .filter(col("__rn") === col("__rin"))
      .select(col("__q").as("q"), col("__x").as("p_exact"))
    base.join(exactVals, Seq("q")).orderBy("q")
  }

  /** Per-bin counts of `colName` under FROZEN bounds — the mergeable half
    * of [[histogramQuantiles]] split out for incremental maintenance
    * ([[graft.streaming.QuantileStream]]): with (mn, mx, bins) pinned to a
    * MODEL parameter instead of derived from `df`, per-part count
    * relations combine to the one-shot relation by plain integer-sum
    * associativity — the same structural folded == one-shot argument as
    * [[hllRegisters]] (max) and the count-min counters (sum).
    *
    * Out-of-range values CLAMP into the edge bins (below mn → bin 0,
    * above mx → bin `bins-1`; mirrored `greatest(least(..))` in the SQL
    * oracle), so the count relation stays total and the estimate stays
    * deterministic as the stream drifts past the frozen bounds — the
    * drift itself is surfaced separately ([[boundsDrift]]) as the
    * rebuild signal, exactly like `IvfStream`'s occupancy profile.
    * Degenerate bounds (mx = mn) put every value in bin 0.
    *
    * Returns (__bin, __nb) — at most `bins` rows, model-sized. */
  def boundedBinCounts(df: DataFrame, colName: String, bins: Int,
      mn: Double, mx: Double): DataFrame = {
    require(bins >= 1, "bins must be >= 1")
    require(mn <= mx, s"mn must be <= mx (got $mn > $mx)")
    val x = col(colName).cast(DoubleType)
    val width = (lit(mx) - lit(mn)) / lit(bins.toDouble)
    val bin =
      if (mx == mn) lit(0)
      else greatest(least(floor((col("__x") - lit(mn)) / width),
        lit((bins - 1).toDouble)), lit(0.0)).cast("int")
    df.select(x.as("__x")).filter(col("__x").isNotNull)
      .groupBy(bin.as("__bin"))
      .agg(count(lit(1)).as("__nb"))
  }

  /** Quantile estimates from a folded [[boundedBinCounts]] relation under
    * the same frozen bounds — the read side of the incremental quantile
    * store. The arithmetic is [[histogramQuantiles]]' estimator
    * expression-for-expression (target rank `r = ceil(q*n)` with `n` the
    * SUM of bin counts, first bin with `cum >= r`, linear interpolation
    * inside it, association order mirrored by the oracle); everything
    * after the count fold, its unpartitioned cumulative window included,
    * runs over at most `bins` rows — model-sized, never the data. Returns
    * (q, n, est) ordered by q. */
  def quantilesFromCounts(counts: DataFrame, bins: Int, mn: Double,
      mx: Double, qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      "quantiles must be in (0, 1]")
    val spark = counts.sparkSession
    import spark.implicits._
    val width = (lit(mx) - lit(mn)) / lit(bins.toDouble)
    val folded = counts.groupBy(col("__bin"))
      .agg(sum(col("__nb")).as("__nb"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("__bin")
      .rowsBetween(Long.MinValue, 0)
    val cum = folded
      .withColumn("__cum", sum(col("__nb")).over(w))
      .crossJoin(broadcast(folded.agg(sum(col("__nb")).as("__n"))))
      .localCheckpoint(true)
    val r = ceil(col("q") * col("__n").cast(DoubleType))
    val first = qs.toDF("q").crossJoin(broadcast(cum))
      .filter(col("__cum") >= r)
      .groupBy(col("q")).agg(min(col("__bin")).as("__bin"))
      .join(cum, Seq("__bin"))
    val est =
      if (mx == mn) lit(mn)
      else (lit(mn) + (col("__bin").cast(DoubleType) * width)) +
        (((r.cast(DoubleType) -
          (col("__cum") - col("__nb")).cast(DoubleType)) /
          col("__nb").cast(DoubleType)) * width)
    first.select(col("q"), col("__n").as("n"), est.as("est")).orderBy("q")
  }

  /** The frozen-bounds drift profile of a batch: how much of it fell
    * outside [mn, mx] — the occupancy-drift signal that tells an operator
    * when the [[boundedBinCounts]] store's edge-bin clamping is absorbing
    * real distribution shift and the bounds deserve a rebuild (new store
    * under re-derived bounds, reader swap — never in-place). One
    * batch-sized scan, 1-row output (n_batch, n_below, n_above). */
  def boundsDrift(df: DataFrame, colName: String, mn: Double,
      mx: Double): DataFrame = {
    val x = col(colName).cast(DoubleType)
    df.select(x.as("__x")).filter(col("__x").isNotNull)
      .agg(count(lit(1)).as("n_batch"),
        sum(when(col("__x") < lit(mn), 1L).otherwise(0L)).as("n_below"),
        sum(when(col("__x") > lit(mx), 1L).otherwise(0L)).as("n_above"))
  }

  /** Robust outlier detection via median/MAD — the quality-filter sweep
    * that survives the heavy-tailed distributions where mean/stddev
    * z-scores drown (a single 10^9 outlier inflates sigma until nothing
    * else is an outlier). Composes [[histogramQuantiles]]' exact path
    * twice: the TRUE median of the column, then the TRUE median of the
    * absolute deviations — each a histogram-guided rank-select, so the
    * whole detector runs in a handful of scan+model-fold passes and
    * never sorts more than one bin (100 TB-safe; a naive
    * `percentile_disc` pair buffers the dataset twice).
    *
    * A row is an outlier when `dev > k * (1.4826 * mad)` (1.4826 ≈ the
    * normal-consistency constant σ/MAD; both engines parse the literal
    * to the same double, and every comparison is mirrored IEEE
    * arithmetic — the p84 oracle replays both rank-selects and the
    * threshold verbatim).
    *
    * Returns the non-null input rows + (dev, median, mad, is_outlier). */
  def robustOutliers(df: DataFrame, colName: String, bins: Int = 256,
      k: Double = 3.0): DataFrame = {
    require(k > 0.0, "k must be positive")
    val x = col(colName).cast(DoubleType)
    val med = histogramQuantiles(df, colName, bins, Seq(0.5), exact = true)
      .select(col("p_exact").as("median"))
    val dev = df.filter(x.isNotNull)
      .crossJoin(broadcast(med))
      .withColumn("dev", abs(x - col("median")))
    val mad = histogramQuantiles(dev, "dev", bins, Seq(0.5), exact = true)
      .select(col("p_exact").as("mad"))
    dev.crossJoin(broadcast(mad))
      .withColumn("is_outlier",
        col("dev") > (lit(k) * (lit(1.4826) * col("mad"))))
  }

  /** Replayable HyperLogLog distinct count per group — the sketch whose
    * every step is deterministic integer arithmetic, unlike
    * `approx_count_distinct` (whose register state is opaque): value →
    * fingerprint64 → register index (low `p` bits) + rank (leading zeros
    * of the remaining window), max-rank per register, and a RATIONAL
    * Flajolet estimator — `α_m = 0.7213/(1 + 1.079/m)` held as exact
    * integers, the harmonic sum held as Σ2^(63−M) in DECIMAL, and one
    * integral division at the end. A DuckDB oracle re-derives the whole
    * sketch (see the p70 query), which no black-box sketch allows.
    *
    * Scale: rows shuffle once as (group, idx, rank) partial-maxed to at
    * most `groups · 2^p` register rows; the estimator folds those
    * model-sized rows in-plan. The small-cardinality branch (linear
    * counting when est ≤ 2.5m and empty registers exist) uses `ln` —
    * deterministic in-JVM, exercised only below ~2.5·2^p distincts.
    *
    * Output: groupCols + (n_hll BIGINT). */
  def hllDistinct(df: DataFrame, groupCols: Seq[String], valueCol: String,
      p: Int = 8): DataFrame =
    hllFromRegisters(hllRegisters(df, groupCols, valueCol, p), groupCols, p)

  /** The register relation of the [[hllDistinct]] sketch: groupCols +
    * (__idx, __M) — at most `groups · 2^p` rows (model-sized). Registers
    * MERGE by `max(__M)` per (group, idx): the fold is associative AND
    * idempotent, so per-part register relations combine to the one-shot
    * relation exactly — the property [[graft.streaming.SketchStream]]'s
    * deltas rest on (and the reason a duplicated register delta cannot
    * even in principle corrupt the estimate, unlike count sketches). */
  def hllRegisters(df: DataFrame, groupCols: Seq[String], valueCol: String,
      p: Int = 8): DataFrame = {
    import graft.functions.HashFunctions
    require(p >= 4 && p <= 13, "p must be in [4, 13]")
    val m = 1 << p
    val gcols = groupCols.map(col)
    // nulls are ignored like countDistinct ignores them; a group whose
    // values are ALL null is therefore absent from the output entirely
    df.filter(col(valueCol).isNotNull)
      .select(gcols :+ HashFunctions.fingerprint64(
        col(valueCol).cast("string")).as("__h"): _*)
      .select(gcols ++ Seq(
        col("__h").bitwiseAND(lit(m - 1)).as("__idx"),
        HashFunctions.hllRho(col("__h"), p).as("__rho")): _*)
      .groupBy(gcols :+ col("__idx"): _*)
      .agg(max(col("__rho")).as("__M"))
  }

  /** The [[hllDistinct]] estimator over an existing [[hllRegisters]]
    * relation (exact-integer Flajolet arithmetic; see [[hllDistinct]]). */
  def hllFromRegisters(registers: DataFrame, groupCols: Seq[String],
      p: Int): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, LongType}
    // p ≤ 13: the estimator numerator 7213000·m³·2^63 must fit
    // DECIMAL(38,0) — at p = 14 it needs 39 digits and the literal throws
    require(p >= 4 && p <= 13, "p must be in [4, 13]")
    val m = 1 << p
    val gcols = groupCols.map(col)
    val dec38 = DecimalType(38, 0)
    def decLit(b: BigInt) = lit(new java.math.BigDecimal(b.bigInteger)).cast(dec38)

    // harmonic sum scaled by 2^63: present registers contribute 2^(63−M)
    // (M ≤ 64−p+1 ≤ 61 for p ≥ 4, so the shift stays in positive Long
    // range); each absent register contributes 2^63 (M = 0)
    val agg = registers.groupBy(gcols: _*)
      .agg(sum(expr("CAST(shiftleft(CAST(1 AS BIGINT), 63 - __M) AS DECIMAL(38,0))"))
          .as("__Sp"),
        count(lit(1)).as("__present"))
    val s = agg.withColumn("__S",
        col("__Sp") + (lit(m.toLong) - col("__present")).cast(dec38) *
          decLit(BigInt(1) << 63))
      .withColumn("__V", lit(m.toLong) - col("__present"))
    // raw estimate: α_m·m²·2^63 / S with α_m = 7213·m·1000 / (10000·(1000m+1079))
    val num = BigInt(7213) * m * 1000 * m * m * (BigInt(1) << 63)
    val denFactor = BigInt(10000) * (1000L * m + 1079)
    // integral division (exact floor — `div` semantics, matching the
    // oracle's `//`), not decimal `/` whose scale-6 HALF_UP could round a
    // near-integer quotient up before the cast truncates
    import org.apache.spark.sql.graftshim.ColumnBridge
    val withRaw = s.withColumn("__raw", ColumnBridge.column(
      new org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        ColumnBridge.expression(decLit(num)),
        ColumnBridge.expression(col("__S") * decLit(denFactor)))))
    // linear counting below 2.5m when empty registers remain
    withRaw.select(gcols :+
      when(col("__raw") <= lit((2.5 * m).toLong) && col("__V") > 0,
        floor(lit(m.toDouble) * log(lit(m.toDouble) / col("__V"))))
      .otherwise(col("__raw")).cast(LongType).as("n_hll"): _*)
  }

  /** Count-min sketch counters of `keyCol`: `d` hash rows × `w` buckets
    * (w a power of two) built in ONE aggregation pass — the
    * frequency-estimation sibling of [[hllDistinct]]'s cardinality
    * sketch, and like it fully replayable: row j's hash is
    * `fingerprint64(key || '#' || j)` (FNV-1a + SplitMix64 over the
    * decimal rendering — the p70-proven VARCHAR bridge), bucket = the
    * hash's low log2(w) bits, identical bits signed or unsigned.
    *
    * Scale: the counter table is model-sized (d·w rows) regardless of
    * input; partial aggregation means at most d·w rows per partition
    * cross the exchange. At 100 TB this answers "how often does this
    * token/url/key occur" without a per-key exact shuffle.
    * Returns (j, bucket, cnt). */
  def countMinSketch(df: DataFrame, keyCol: String, d: Int = 4,
      w: Int = 1024): DataFrame = {
    require(d >= 1, "d must be >= 1")
    require(w >= 2 && (w & (w - 1)) == 0, "w must be a power of two")
    import graft.functions.HashFunctions
    df.filter(col(keyCol).isNotNull)
      .select(col(keyCol).cast("string").as("__k"))
      .withColumn("j", explode(array((0 until d).map(lit): _*)))
      .select(col("j"),
        HashFunctions.fingerprint64(
          concat_ws("#", col("__k"), col("j").cast("string")))
          .bitwiseAND(lit((w - 1).toLong)).cast("int").as("bucket"))
      .groupBy(col("j"), col("bucket")).agg(count(lit(1)).as("cnt"))
  }

  /** Point estimates from a [[countMinSketch]] counter table:
    * `n_cms(key) = min_j counters(j, hash_j(key))`, an absent counter
    * reading 0. Deterministic overestimate: n_cms ≥ the true count,
    * always. `d`/`w` MUST match the sketch build. The probe side is
    * model-sized (|keys|·d rows against a d·w table) — broadcast-scale
    * regardless of the corpus the sketch summarized.
    * Returns (keyCol, n_cms). */
  def countMinLookup(keys: DataFrame, keyCol: String, counters: DataFrame,
      d: Int = 4, w: Int = 1024): DataFrame = {
    import graft.functions.HashFunctions
    keys
      .select(col(keyCol), col(keyCol).cast("string").as("__k"))
      .withColumn("j", explode(array((0 until d).map(lit): _*)))
      .select(col(keyCol),
        col("j"),
        HashFunctions.fingerprint64(
          concat_ws("#", col("__k"), col("j").cast("string")))
          .bitwiseAND(lit((w - 1).toLong)).cast("int").as("bucket"))
      .join(counters, Seq("j", "bucket"), "left")
      .groupBy(col(keyCol))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("n_cms"))
  }

  // ---- relational bloom (membership) ---------------------------------------
  // The MEMBERSHIP sibling of the two sketches above — and unlike p53's
  // bridge of Spark's internal BloomFilterAggregate (an opaque binary the
  // oracle cannot replay), this one is a RELATION of set bit positions:
  // row j's bit for a key is `fingerprint64(key || '#' || j) & (m-1)` —
  // the count-min hash convention verbatim, so the DuckDB oracle replays
  // every bit in exact HUGEINT arithmetic. The fold is distinct-union:
  // associative AND idempotent (HLL-class tolerance — a duplicated delta
  // cannot change set membership), and monotone besides (bits are only
  // ever added), which is exactly the algebra of a growing blocklist.

  /** The set-bit relation of a bloom filter over `keyCol`: `k` hash rows ×
    * `m` bits (m a power of two), one `(j, bit)` row per SET bit — at most
    * k·m rows (k·m/8 bytes as a mask) regardless of input size: a bloom is
    * a model-sized artifact by construction, which is why `m` is sized to
    * the benchmark/blocklist (model-sized by nature), never the corpus.
    * Partial aggregation dedups map-side; at most k·m rows cross the
    * exchange. Returns (j, bit). */
  def bloomBits(df: DataFrame, keyCol: String, k: Int = 4,
      m: Int = 1 << 16): DataFrame = {
    require(k >= 1, "k must be >= 1")
    // m >= 64 so the parameter contract agrees with bloomMasks, which
    // packs bits into m/64 long words — a power of two below 64 would
    // pass here and then allocate ZERO words there
    require(m >= 64 && (m & (m - 1)) == 0,
      "m must be a power of two >= 64 (bloomMasks packs m/64 long words)")
    import graft.functions.HashFunctions
    df.filter(col(keyCol).isNotNull)
      .select(col(keyCol).cast("string").as("__k"))
      .withColumn("j", explode(array((0 until k).map(lit): _*)))
      .select(col("j"),
        HashFunctions.fingerprint64(
          concat_ws("#", col("__k"), col("j").cast("string")))
          .bitwiseAND(lit((m - 1).toLong)).cast("int").as("bit"))
      .distinct()
  }

  /** Materialize a [[bloomBits]] relation as packed long masks, one
    * `Array[Long]` of m/64 words per hash row — the model-sized driver
    * pull (≤ k·m/8 bytes, the p53 bloom-literal / centroid-bank class)
    * that turns membership probing into a scan-local filter. */
  def bloomMasks(bits: DataFrame, k: Int, m: Int): Array[Array[Long]] = {
    require(m >= 64 && (m & (m - 1)) == 0,
      "m must be a power of two >= 64 (m/64 long words per hash row)")
    val masks = Array.fill(k)(new Array[Long](m / 64))
    bits.select(col("j").cast("int"), col("bit").cast("int"))
      .collect().foreach { r =>
        val j = r.getInt(0); val b = r.getInt(1)
        require(j >= 0 && j < k && b >= 0 && b < m,
          s"bit ($j, $b) outside k=$k, m=$m — masks built under the wrong " +
            "bloom parameters are silently garbage")
        masks(j)(b >>> 6) |= (1L << (b & 63))
      }
    masks
  }

  /** Scan-local membership test of `key` against [[bloomMasks]] — k
    * codegen'd word-index/bit-test chains AND'ed, zero joins: the masks
    * ride into generated code as literal arrays. No false negatives;
    * false positives at the usual bloom rate, removed by whatever exact
    * verify the caller composes (so composed operators stay EXACT —
    * the p53 contract). */
  def bloomMightContain(key: org.apache.spark.sql.Column,
      masks: Array[Array[Long]], m: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.graftshim.ColumnBridge
    import org.apache.spark.sql.catalyst.expressions.{ShiftRight => CatShiftRight}
    import graft.functions.HashFunctions
    def shr(c: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column) =
      ColumnBridge.column(CatShiftRight(
        ColumnBridge.expression(c), ColumnBridge.expression(n)))
    masks.indices.map { j =>
      val bit = HashFunctions.fingerprint64(
        concat_ws("#", key.cast("string"), lit(j.toString)))
        .bitwiseAND(lit((m - 1).toLong))
      val word = element_at(lit(masks(j)), shr(bit, lit(6)).cast("int") + 1)
      shr(word, bit.bitwiseAND(lit(63L)).cast("int"))
        .bitwiseAND(lit(1L)) === lit(1L)
    }.reduce(_ && _)
  }
}
