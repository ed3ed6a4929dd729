package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => TF}

/** Corpus-curation compositions — the end-to-end shapes a training-data
  * pipeline actually runs, built from the primitive operators so the whole
  * flow stays one Catalyst plan (filters push into the scan, dedup is one
  * exchange, no materialization between stages).
  */
object Curation {

  /** Keep documents scoring at least `minQuality`, then exact-dedup on
    * `textCol` keeping the lowest id. One scan + one exchange. */
  def filterAndDedup(docs: DataFrame, idCol: String, textCol: String,
      minQuality: Double): DataFrame = {
    val scored = docs
      .withColumn("__toks", TF.tokens(col(textCol)))
      .withColumn("quality",
        TF.qualityScoreFromTokens(col(textCol), col("__toks")))
      .drop("__toks")
      .filter(col("quality") >= minQuality)
    Dedup.exactKept(scored, idCol, Seq(textCol))
  }

  /** Deterministic stratified sampling: keep a row iff its id-hash bucket
    * falls under its stratum's threshold. `fractions` maps stratum value →
    * sampling share; strata absent from the map sample at
    * `defaultFraction`. Same engine-portable arithmetic family as
    * [[hashSplit]] but a different multiplier (xxhash32's prime), so sample
    * membership is independent of split assignment — sampling a train split
    * doesn't systematically favor one sample bucket.
    *
    * One scan, zero shuffles, no RNG: reproducible across runs, engines,
    * and cluster sizes (unlike `df.sample`, whose output depends on
    * partitioning), and nested — the 1% sample is a strict subset of the
    * 10% sample, which scaling-law subset curves want. Ids must be
    * non-negative (the oracle-portable plain-`%` form). */
  def sampleStratified(df: DataFrame, idCol: String, strataCol: String,
      fractions: Map[String, Double],
      defaultFraction: Double = 0.0): DataFrame = {
    require((fractions.values ++ Seq(defaultFraction))
      .forall(f => f >= 0.0 && f <= 1.0), "fractions must be in [0, 1]")
    val bucket = sampleBucket(idCol)
    val thresh = fractions.foldLeft(
        lit(math.round(defaultFraction * 10000)): Column) {
      case (acc, (stratum, f)) =>
        when(col(strataCol) === stratum, lit(math.round(f * 10000)))
          .otherwise(acc)
    }
    df.filter(bucket < thresh)
  }

  /** The [[sampleStratified]] membership bucket: mod-first keeps the
    * product < 2^63 (see hashSplit); 10000 buckets = 0.01% sampling
    * granularity. Engine-portable plain-`%` arithmetic — a DuckDB oracle
    * replays it verbatim ([[sampleBucketSql]]). */
  private def sampleBucket(idCol: String): Column =
    pmod(pmod(col(idCol), lit(1000000007L)) * lit(2246822519L),
      lit(1000000007L)) % 10000

  /** The exact SQL text of [[sampleBucket]] over non-negative ids — the
    * oracle-side membership predicate is `sampleBucketSql(id) < f·10000`. */
  def sampleBucketSql(idExpr: String): String =
    s"((($idExpr % 1000000007) * 2246822519) % 1000000007) % 10000"

  /** Strata-free deterministic sampling — [[sampleStratified]]'s membership
    * with one global fraction. Same multiplier, so uniform samples NEST
    * with stratified ones (and with themselves: the 10% sample is a strict
    * subset of the 25% sample — what sampled-training sweeps want). One
    * scan, zero shuffles, no RNG; reproducible across runs, engines, and
    * partitionings. Ids must be non-negative. */
  def sampleUniform(df: DataFrame, idCol: String, fraction: Double): DataFrame = {
    require(fraction >= 0.0 && fraction <= 1.0,
      s"fraction must be in [0, 1]: $fraction")
    df.filter(sampleBucket(idCol) < lit(math.round(fraction * 10000)))
  }

  /** Domain-mix resampling: downsample each domain so the output matches
    * `targets`' proportions, keeping as much data as availability allows —
    * the corpus-mixing step of training-data assembly (web/code/books at
    * fixed shares). The achievable total is `N = min over domains of
    * (count_d / target_d)`; each domain then keeps `N·target_d` rows via
    * the same deterministic hash-threshold membership as
    * [[sampleStratified]] (same multiplier, so mix membership nests with
    * stratified samples instead of fighting them).
    *
    * Everything stays in-plan: per-domain counts are one tiny aggregate,
    * the binding-constraint `min` is a one-row cross join, and membership
    * is a broadcast threshold join — no driver-side collect, no RNG.
    * Domains absent from `targets` (or with target 0) are dropped. */
  def domainMix(df: DataFrame, idCol: String, domainCol: String,
      targets: Map[String, Double]): DataFrame = {
    require(targets.nonEmpty && targets.values.forall(_ >= 0.0))
    val tExpr = targets.foldLeft(lit(null).cast("double")) {
      case (acc, (d, t)) => when(col(domainCol) === d, lit(t)).otherwise(acc)
    }
    val withT = df.groupBy(col(domainCol))
      .agg(count(lit(1)).cast("double").as("__cnt"))
      .withColumn("__t", tExpr)
      .filter(col("__t").isNotNull && col("__t") > 0)
    val nMax = withT.agg(min(col("__cnt") / col("__t")).as("__n"))
    val thresholds = withT.crossJoin(nMax)
      .select(col(domainCol),
        floor(least(lit(1.0), col("__n") * col("__t") / col("__cnt")) *
          10000).cast("bigint").as("__thresh"))
    val bucket =
      pmod(pmod(col(idCol), lit(1000000007L)) * lit(2246822519L),
        lit(1000000007L)) % 10000
    df.join(broadcast(thresholds), domainCol)
      .filter(bucket < col("__thresh"))
      .select(df.columns.map(col): _*)
  }

  /** Deterministic train/val/test assignment by multiplicative hashing of a
    * numeric id — stable across runs, clusters, and engines (plain int
    * arithmetic, no library hash), uniform enough for splitting. Returns the
    * input plus a `split` column. `fractions` maps split name → share;
    * shares must sum to ≤ 1 (remainder falls into the last split). */
  def hashSplit(df: DataFrame, idCol: String,
      fractions: Seq[(String, Double)]): DataFrame = {
    require(fractions.nonEmpty && fractions.map(_._2).sum <= 1.0 + 1e-9)
    // Knuth multiplicative hash. The id is reduced mod p BEFORE the multiply
    // so the product stays < 2^63 for any long id (max ~1e9 * 2654435761 ≈
    // 2.65e18): no ANSI-mode overflow at 100 TB id ranges, and the same
    // arithmetic is expressible in the DuckDB oracle (which errors on BIGINT
    // overflow rather than wrapping).
    // COMPAT: the mod-first form (introduced after the first release of this
    // operator) assigns different buckets than the old multiply-first form
    // for ids in [1000000007, ~3.47e9); any split persisted by the old form
    // must be regenerated, not mixed.
    val bucket =
      pmod(pmod(col(idCol), lit(1000000007L)) * lit(2654435761L),
        lit(1000000007L)) % 1000
    // Integer bucket thresholds, rounded once — avoids double-precision cut
    // points like 0.85*1000 = 850.0000000000001 misassigning bucket 850.
    val cuts = fractions.scanLeft(0.0) { case (acc, (_, f)) => acc + f }
      .tail.map(c => math.round(c * 1000))
    val expr = fractions.zip(cuts).reverse
      .foldLeft(lit(fractions.last._1): Column) { case (acc, ((name, _), cut)) =>
        when(bucket < lit(cut), lit(name)).otherwise(acc)
      }
    df.withColumn("split", expr)
  }

  /** Concat-and-chunk sequence packing: lay every document's tokens end to
    * end in `idCol` order and cut the stream into fixed `chunkTokens`
    * windows — the standard way LLM training data becomes fixed-length
    * context windows (documents may straddle a chunk boundary). Returns
    * each document's `start_offset` in the global token stream, the
    * `chunk_id` its first token lands in, and `chunks_spanned`.
    *
    * The global running sum is computed as a distributed prefix sum, not a
    * single-partition window: ids bucket into blocks of `blockIds`, block
    * totals aggregate (partial+final, one small exchange), the
    * block-offset cumsum runs over only `#blocks` rows (model-sized — the
    * lone single-partition step, and the window Spark's "No Partition
    * Defined for Window operation" warning names), and each row adds its broadcast block
    * offset to a within-block running sum (one exchange, `#blocks`-way
    * parallel). A 100 TB corpus with 10^10 ids at the default block size is
    * ~153k block rows through the tiny window — still driver-trivial —
    * while every full-data stage stays partitioned.
    *
    * Ids must be non-negative; `nTokens` must be a non-negative bigint
    * column expression over `df`'s columns. */
  def packChunks(df: DataFrame, idCol: String, nTokens: Column,
      chunkTokens: Long, blockIds: Long = 1L << 16): DataFrame = {
    require(chunkTokens >= 1, "chunkTokens must be >= 1")
    val base = df.select(col(idCol), nTokens.cast("bigint").as("n_tokens"))
      .withColumn("__block", floor(col(idCol) / lit(blockIds)).cast("bigint"))
    val wBlocks = Window.orderBy(col("__block"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = base.groupBy(col("__block"))
      .agg(sum(col("n_tokens")).as("__bn"))
      .withColumn("__off", coalesce(sum(col("__bn")).over(wBlocks), lit(0L)))
      .select(col("__block"), col("__off"))
    val wIn = Window.partitionBy(col("__block")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    base.join(broadcast(offsets), "__block")
      .withColumn("start_offset",
        col("__off") + coalesce(sum(col("n_tokens")).over(wIn), lit(0L)))
      .withColumn("chunk_id",
        floor(col("start_offset") / lit(chunkTokens.toDouble)).cast("bigint"))
      .withColumn("chunks_spanned",
        when(col("n_tokens") > 0,
          floor((col("start_offset") + col("n_tokens") - 1) /
            lit(chunkTokens.toDouble)).cast("bigint") - col("chunk_id") + 1)
          .otherwise(lit(0L)))
      .select(col(idCol), col("n_tokens"), col("start_offset"),
        col("chunk_id"), col("chunks_spanned"))
  }

  /** Overlapping sliding windows over each document's tokens — the
    * chunk-with-overlap step RAG/embedding pipelines run (vs [[packChunks]],
    * which cuts the concatenated stream without overlap). Window `win_id` of
    * a doc starts at token `win_id * stride` (0-based) and spans up to
    * `winTokens` tokens; the final window may be short. Empty docs emit no
    * windows. Scan-shaped: explode + slice per row, no shuffle.
    *
    * Returns (idCol, win_id, win_text, n_win_tokens). */
  def slidingWindows(df: DataFrame, idCol: String, toks: Column,
      winTokens: Int, stride: Int): DataFrame = {
    require(winTokens >= 1 && stride >= 1, "winTokens and stride must be >= 1")
    df.select(col(idCol), toks.as("__toks"))
      .withColumn("__n", size(col("__toks")))
      .filter(col("__n") > 0)
      .select(col(idCol), col("__toks"),
        posexplode(sequence(lit(0), col("__n") - 1, lit(stride)))
          .as(Seq("win_id", "__start")))
      .select(col(idCol), col("win_id"),
        slice(col("__toks"), col("__start") + 1, lit(winTokens)).as("__wt"))
      .select(col(idCol), col("win_id"),
        concat_ws(" ", col("__wt")).as("win_text"),
        size(col("__wt")).as("n_win_tokens"))
  }

  /** Distributed per-domain ranking WITHOUT a per-domain window: a window
    * partitioned by domain funnels each domain's entire corpus through one
    * partition — with a handful of languages at 100 TB that is a
    * 20-TB-per-task straggler. Instead, rows range-partition on
    * (domain, score, id) — the range partitioner SPLITS hot domains across
    * partitions while preserving global order — then: per-(partition,
    * domain) counts aggregate (model-sized: #partitions × #domains rows),
    * a tiny cumsum assigns each partition its domain-rank offset, and a
    * window over the BALANCED (partition, domain) grouping computes local
    * row numbers. rank = offset + local row number, exactly the
    * `row_number` of the naive per-domain window (the same distributed
    * prefix-sum shape as [[packChunks]]).
    *
    * Emits `pct_rank` = (rank-1)/(n-1) (0.0 for a single-row domain) and
    * an SQL-exact `ntile(nTiles)` bucket — first `n mod k` tiles get the
    * extra row, matching the window function's definition (property-tested
    * against it).
    *
    * Order is (scoreCol, idCol) ascending within the domain — ties broken
    * by id, so ranks are total-order deterministic. Returns the input
    * columns plus (pct_rank, tile). */
  /** 1-based rank of every row within its `domainCol` group under the
    * total order (orderCol, idCol) — computed WITHOUT a domain-partitioned
    * window. Rows range-partition on (domain, order, id) (hot domains
    * split across partitions, order preserved); per-(partition, domain)
    * counts cumsum into offsets (model-sized: #partitions × #domains
    * rows); a window over the BALANCED (partition, domain) grouping
    * finishes local row numbers. Adds `__rank` and the group size `__n`. */
  private def distributedRank(df: DataFrame, domainCol: String,
      orderCol: String, idCol: String): DataFrame = {
    val parts = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val ranged = df
      .repartitionByRange(parts, col(domainCol), col(orderCol), col(idCol))
      .withColumn("__part", spark_partition_id())
    val partCounts = ranged.groupBy(col("__part"), col(domainCol))
      .agg(count(lit(1)).as("__pc"))
    val byDomain = Window.partitionBy(col(domainCol))
    val offsets = partCounts
      .withColumn("__off", coalesce(
        sum(col("__pc")).over(byDomain.orderBy(col("__part"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__n", sum(col("__pc")).over(byDomain))
      .select(col("__part"), col(domainCol), col("__off"), col("__n"))
    val local = Window.partitionBy(col("__part"), col(domainCol))
      .orderBy(col(orderCol), col(idCol))
    ranged.withColumn("__lr", row_number().over(local))
      .join(broadcast(offsets), Seq("__part", domainCol))
      .withColumn("__rank", col("__off") + col("__lr"))
      .drop("__part", "__lr", "__off")
  }

  def percentRankByDomain(df: DataFrame, domainCol: String, scoreCol: String,
      idCol: String, nTiles: Int): DataFrame = {
    require(nTiles >= 1, "nTiles must be >= 1")
    val rank = col("__rank")
    // SQL ntile(k): base = n div k rows per tile, first (n mod k) tiles
    // hold one extra — all integer arithmetic. Floor division via
    // subtract-remainder-then-divide: the numerator divides evenly, so the
    // double division is exact (a bare a/b truncation can misfloor when
    // the true quotient sits just under an integer).
    def idiv(a: Column, b: Column): Column =
      ((a - pmod(a, b)) / b).cast("bigint")
    val base = expr(s"__n div $nTiles")
    val rem = col("__n") % nTiles
    val cut = (base + 1) * rem // rows covered by the wider tiles
    val tile = when(rank <= cut, idiv(rank - 1, base + 1) + 1)
      .otherwise(rem + idiv(rank - cut - 1, base) + 1)
    distributedRank(df, domainCol, scoreCol, idCol)
      .withColumn("pct_rank",
        when(col("__n") === 1, lit(0.0))
          .otherwise((rank - 1).cast("double") / (col("__n") - 1)
            .cast("double")))
      .withColumn("tile", tile.cast("int"))
      .drop("__rank", "__n")
  }

  /** Deterministic sharded corpus shuffle: the order-randomization step
    * before training-example serialization. Every row gets a pseudorandom
    * rank (multiplicative hash of its id — engine-portable int arithmetic,
    * no library hash), lands in `rkey % nShards`, and receives its position
    * within the shard. Exactly how shuffled training shards are written at
    * scale: the per-shard position is a window over the SHARD partitioning
    * (nShards-way parallel, one exchange) — never a global row_number.
    * Multiplier is distinct from [[hashSplit]]'s and [[sampleStratified]]'s
    * so shuffle order is independent of split/sample membership; id is
    * reduced mod p before the multiply so the product can't overflow a
    * 64-bit long at 100 TB id ranges.
    *
    * Returns the input ids plus (shard, pos). Reading shards in (shard,
    * pos) order replays one fixed global permutation. */
  def shuffleShards(df: DataFrame, idCol: String, nShards: Int): DataFrame = {
    require(nShards >= 1, "nShards must be >= 1")
    val rkey = pmod(pmod(col(idCol), lit(1000000007L)) * lit(3266489917L),
      lit(1000000007L))
    // in-shard positions via the distributed prefix-sum rank: shards are
    // deliberately FEW (they are the downstream read unit), so a
    // shard-partitioned window would push ~corpus/nShards rows through one
    // task; distributedRank splits each shard across range partitions
    val keyed = df.select(col(idCol), rkey.as("__rkey"))
      .withColumn("shard", (col("__rkey") % nShards).cast("int"))
    distributedRank(keyed, "shard", "__rkey", idCol)
      .select(col(idCol), col("shard"), col("__rank").cast("int").as("pos"))
  }

  /** Deterministic importance sampling: keep each row with probability
    * proportional to `weightCol` (a [0,1] score — e.g. quality), decided by
    * the id's multiplicative hash against a per-row integer threshold, so
    * membership is reproducible row-local arithmetic: no RNG state, no
    * sample drift between runs, composable with [[hashSplit]] /
    * [[sampleStratified]] / [[shuffleShards]] because each uses a distinct
    * multiplier (this one: 668265263 — reusing sampleStratified's
    * 2246822519 would make the two memberships nested subsets, a silently
    * biased corpus when composed). The quality-weighted downsample step of
    * a curation pipeline ("keep good documents more often") as one
    * scan-shaped filter.
    *
    * The threshold is `floor(weight * scale)`: weight 0 never keeps,
    * weight 1 always keeps, granularity 1/scale. */
  def importanceSample(df: DataFrame, idCol: String, weight: Column,
      scale: Int = 1000): DataFrame = {
    require(scale >= 1, "scale must be >= 1")
    val hash = pmod(pmod(col(idCol), lit(1000000007L)) * lit(668265263L),
      lit(1000000007L)) % scale
    df.filter(hash < floor(weight * scale).cast("long"))
  }

  /** Fixed-budget weighted sampling WITHOUT replacement: the top-`k` rows
    * per stratum drawn with probability proportional to an integer ticket
    * weight, fully deterministic and replayable — no RNG, no transcendental
    * arithmetic (the A-ES exponential-key scheme needs `ln`, whose last-ulp
    * rounding differs across engines; this scheme stays in exact integer
    * hashing end-to-end).
    *
    * Scheme: a row with weight w holds tickets 0..w−1; each ticket's
    * priority is `fingerprint64(id:ticket:salt)` and the row's priority is
    * its minimum ticket. For distinct uniform hashes,
    * P(row holds the stratum minimum) = w / Σw — weighted selection — and
    * taking the k smallest row-priorities is the successive-minima draw
    * without replacement. Weight granularity is the caller's ticket unit:
    * at 100 TB pass e.g. `bytes div 64k`, NOT raw bytes — the explode
    * materializes Σtickets rows (shingling-sized, one pass), and the
    * per-row min aggregates map-side before the only exchange. The final
    * rank is a per-stratum `row_number <= k` — the WindowGroupLimit shape,
    * never a global sort.
    *
    * Ties (astronomically unlikely 64-bit collisions) break on `idCol` so
    * reruns are bit-stable. Rows with weight <= 0 are never sampled. */
  def weightedSampleK(df: DataFrame, idCol: String, strataCol: String,
      weightTickets: Column, k: Int, salt: String = "wsk"): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    import graft.functions.HashFunctions
    val pri = df
      .select(col(strataCol), col(idCol),
        weightTickets.cast("long").as("n_tickets"))
      .filter(col("n_tickets") > 0)
      .withColumn("__t", explode(sequence(lit(0L), col("n_tickets") - 1)))
      .withColumn("__h", HashFunctions.fingerprint64(
        concat(col(idCol).cast("string"), lit(":"),
          col("__t").cast("string"), lit(":" + salt))))
      .groupBy(col(strataCol), col(idCol), col("n_tickets"))
      .agg(min(col("__h")).as("__priority"))
    val w = Window.partitionBy(col(strataCol))
      .orderBy(col("__priority").asc, col(idCol).asc)
    pri.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col(strataCol), col("rk"), col(idCol), col("n_tickets"))
  }

  /** Corpus snapshot diff: classify every key across two snapshots as
    * `added` (new side only), `removed` (old side only), `changed` (both,
    * any compared column differs) or `same`. The audit companion to
    * [[upsert]] — run it between corpus versions to see what a delta did.
    *
    * Comparison is null-safe per column (`<=>`), so NULL→value and
    * value→NULL both count as changes. Same scale shape as [[upsert]]:
    * one co-partitioned full-outer join, unique keys per side, no
    * broadcast, bucketed layouts make it exchange-free. */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame, keys: Seq[String],
      compareCols: Seq[String]): DataFrame = {
    require(!oldSnap.columns.contains("__o") &&
      !newSnap.columns.contains("__n"), "__o/__n are reserved")
    // presence on BOTH sides via marker columns, never key non-nullness:
    // the join matches NULL keys null-safely, so a NULL-keyed row would
    // otherwise misreport as added/removed
    val o = oldSnap.withColumn("__o", lit(true)).as("o")
    val n = newSnap.withColumn("__n", lit(true)).as("n")
    val cond = keys.map(k => col(s"o.$k") <=> col(s"n.$k")).reduce(_ && _)
    val inOld = col("o.__o").isNotNull
    val inNew = col("n.__n").isNotNull
    val unchanged = compareCols
      .map(c => col(s"o.$c") <=> col(s"n.$c")).reduce(_ && _)
    o.join(n, cond, "full_outer")
      .select(
        keys.map(k => coalesce(col(s"n.$k"), col(s"o.$k")).as(k)) :+
          when(!inOld, lit("added"))
            .when(!inNew, lit("removed"))
            .when(unchanged, lit("same"))
            .otherwise(lit("changed")).as("diff_status"): _*)
  }

  /** Incremental corpus upsert (SQL MERGE semantics, batch form): every
    * `incoming` row replaces the same-key `existing` row wholesale;
    * unmatched rows from either side survive unchanged. Row-wise
    * replacement, not per-column coalescing — a legitimate NULL in an
    * incoming data column must win over the old value, so the survivor is
    * chosen by a match flag, never by `coalesce(i.c, e.c)` on data columns.
    *
    * Both sides must share a schema. Keys are compared null-safely.
    *
    * Scale: one full-outer shuffle join co-partitioned on `keys` — each
    * side is exchanged once, no broadcast needed on either side. When the
    * standing corpus is stored bucketed by the key (the natural layout for
    * a corpus that takes periodic delta batches), its exchange disappears
    * entirely and only the (small) delta shuffles. Skewed keys are a
    * non-issue: keys are unique per side, so no hot key can concentrate. */
  def upsert(existing: DataFrame, incoming: DataFrame,
      keys: Seq[String]): DataFrame = {
    require(existing.columns.sameElements(incoming.columns),
      s"schemas must match: ${existing.columns.toSeq} vs ${incoming.columns.toSeq}")
    require(!incoming.columns.contains("__new"), "__new is reserved")
    val dataCols = existing.columns.filterNot(keys.contains).toSeq
    val e = existing.as("e")
    val i = incoming.withColumn("__new", lit(true)).as("i")
    val cond = keys.map(k => col(s"e.$k") <=> col(s"i.$k")).reduce(_ && _)
    val matched = col("i.__new").isNotNull // full-outer: null ⇔ no incoming row
    e.join(i, cond, "full_outer")
      .select(
        keys.map(k => coalesce(col(s"i.$k"), col(s"e.$k")).as(k)) ++
          dataCols.map(c =>
            when(matched, col(s"i.$c")).otherwise(col(s"e.$c")).as(c)): _*)
  }
}
