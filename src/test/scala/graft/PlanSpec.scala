package graft

import graft.queries.Relational
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Physical-plan quality gates: the properties that make these queries hold
  * at 100 TB are asserted, not assumed — predicate pushdown into the parquet
  * scan, column pruning, broadcast of dimension sides, and partial (map-side)
  * aggregation before the exchange. */
class PlanSpec extends SparkSpec {

  private def executedPlan(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  private def planString(df: DataFrame): String = {
    df.collect() // finalize AQE so the real plan is visible
    executedPlan(df).toString
  }

  /** The plan slice between the first occurrence of `from` and of `to`,
    * asserting both exist in order (ADVICE r14 #3: a raw
    * `substring(indexOf(...))` on a plan where AQE didn't materialize the
    * marker node is -1 → StringIndexOutOfBoundsException, masking the real
    * plan regression behind an opaque throw). */
  private def branchBetween(plan: String, from: String, to: String): String = {
    val i = plan.indexOf(from)
    assert(i >= 0, s"expected '$from' in plan:\n$plan")
    val j = plan.indexOf(to, i)
    assert(j > i, s"expected '$to' after '$from' in plan:\n$plan")
    plan.substring(i, j)
  }

  /** The plan tail from the first occurrence of `from`, asserted present
    * (same -1 trap as [[branchBetween]]). */
  private def branchFrom(plan: String, from: String): String = {
    val i = plan.indexOf(from)
    assert(i >= 0, s"expected '$from' in plan:\n$plan")
    plan.substring(i)
  }

  test("q02: filter is pushed down to the parquet scan, columns pruned") {
    val df = Relational.q02FilterProject(spark, sfDir)
    val scan = planString(df)
    assert(scan.contains("PushedFilters: ["), "no pushed filters in scan")
    assert(scan.contains("l_shipdate"), "shipdate predicate not pushed")
    // projection needs only 5 of 11 lineitem columns — scan schema must
    // not contain the unused ones
    assert(!scan.contains("l_returnflag"), "column pruning failed")
  }

  test("q01: aggregation is two-phase (partial before the exchange)") {
    val df = Relational.q01PricingSummary(spark, sfDir)
    val plan = planString(df)
    val hashAggs = "HashAggregate".r.findAllIn(plan).length
    assert(hashAggs >= 2, s"expected partial+final HashAggregate, plan:\n$plan")
  }

  test("q04: dimension table joins as broadcast, fact side does not shuffle") {
    val plan = planString(Relational.q04BroadcastJoinBrand(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"), "part should broadcast")
  }

  test("q08: top-k plans as TakeOrderedAndProject, not a global sort") {
    val plan = planString(Relational.q08TopOrders(spark, sfDir))
    assert(plan.contains("TakeOrderedAndProject"), s"plan:\n$plan")
  }

  test("q16: both dim joins broadcast; top-k is TakeOrderedAndProject") {
    // the r3 driver bench read q16 at 5.47s while a local run with this
    // exact plan measured ~1s — gate the plan so a future regression is
    // distinguishable from machine noise using artifacts alone
    val plan = planString(Relational.q16SqlShippingPriority(spark, sfDir))
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(broadcasts == 2,
      s"customer and lineitem-side joins should both broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"no join may sort-merge:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"LIMIT 20 must not plan a global sort:\n$plan")
    assert(plan.contains("PushedFilters: ["), "predicates must reach the scans")
  }

  test("q19: both windows and the session agg share one user_id exchange") {
    val df = Relational.q19Sessionize(spark, sfDir)
    val plan = planString(df)
    val exchanges = "Exchange".r.findAllIn(plan).length
    // exactly 2: the hashpartitioning(user_id) data exchange + the final
    // ORDER BY range partitioning; lag-window, cumsum-window and the
    // per-session aggregate all reuse the first
    assert(exchanges == 2, s"expected 2 exchanges, got $exchanges:\n$plan")
    assert(plan.contains("hashpartitioning(user_id"))
  }

  test("p10 multi-probe LSH: query side broadcasts; corpus never sort-merges") {
    val df = graft.queries.Pipeline.p10KnnLsh(spark, sfDir)
    val plan = planString(df)
    assert(plan.contains("BroadcastHashJoin"),
      s"bucket probe should be a broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus side must not shuffle for the candidate join:\n$plan")
  }

  test("p21 decontamination: benchmark shingle set broadcasts") {
    val plan = planString(graft.queries.Pipeline.p21Contamination(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark set should broadcast — corpus must not shuffle:\n$plan")
  }

  test("p26 fingerprint dedup: both aggregations partial+final; no sort-merge") {
    // planted duplicates — on a dup-free corpus AQE empty-eliminates the
    // verification branch and there would be nothing to gate
    import spark.implicits._
    val docs = (1L to 100L).map(i => (i, s"text ${i % 60}")).toDF("doc_id", "text")
    val df = graft.operators.Dedup.exactByFingerprint(docs, "doc_id", "text")
    val plan = planString(df)
    // fp aggregation + (fp, text) verification aggregation, each two-phase
    val hashAggs = "HashAggregate".r.findAllIn(plan).length
    assert(hashAggs >= 4, s"expected two 2-phase aggregations:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the colliding-fp set should hash/broadcast join, not sort-merge:\n$plan")
  }

  test("p29 PQ: corpus scoring scan never shuffles; query side broadcasts") {
    val plan = planString(graft.queries.Pipeline.queries("p29_knn_pq")(spark, sfDir))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"the query side must broadcast for the compressed scoring scan:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"no sort-merge anywhere in the PQ probe:\n$plan")
  }

  test("q22 salted aggregation is exactly two exchanges") {
    val df = Relational.q22SaltedAgg(spark, sfDir)
    val plan = planString(df)
    val exchanges = "Exchange".r.findAllIn(plan).length
    // (key, salt) partial spread + key recombination; the final ORDER BY of
    // 3 rows collapses into one of them under AQE
    assert(exchanges <= 3, s"salting must not add exchanges:\n$plan")
    assert(plan.contains("hashpartitioning"), s"plan:\n$plan")
  }

  test("q34 global sort plans as a range-partitioned sort, filter pushed") {
    val df = Relational.q34GlobalSort(spark, sfDir)
    val plan = planString(df)
    assert(plan.contains("rangepartitioning"),
      s"total sort must range-partition, not single-partition:\n$plan")
    assert(!plan.contains("SinglePartition"),
      s"no stage may collapse to one partition:\n$plan")
    assert(plan.contains("PushedFilters: ["), "shipdate filter not pushed")
  }

  test("q35 salted join shuffle-hash-joins on (key, salt); no sort-merge") {
    val plan = planString(Relational.q35SaltedJoin(spark, sfDir))
    assert(plan.contains("ShuffledHashJoin"), s"plan:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"plan:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"),
      s"salting demo must exercise the shuffle path:\n$plan")
  }

  test("q36 lateral top-k decorrelates to WindowGroupLimit, no nested loop") {
    val plan = planString(Relational.q36LateralTopk(spark, sfDir))
    assert(plan.contains("WindowGroupLimit"),
      s"per-group LIMIT should push below the window:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"lateral must decorrelate to an equi join:\n$plan")
  }

  test("ANN rerank rank-filters plan as WindowGroupLimit (bounded pre-exchange)") {
    // the `row_number() <= k` rerank pattern relies on Spark pushing a
    // per-group limit BELOW the window; if a refactor broke the pattern the
    // full scored relation would silently shuffle (q36's gate, applied to
    // every ANN path — pq/ivfpq carry TWO rank windows: approx + refine)
    val expected = Seq(
      "p10_knn_lsh" -> 1, "p16_knn_ivf" -> 1,
      "p29_knn_pq" -> 2, "p32_knn_ivfpq" -> 2)
    for ((q, n) <- expected) {
      val plan = planString(graft.queries.Pipeline.queries(q)(spark, sfDir))
      val got = "WindowGroupLimit".r.findAllIn(plan).length
      assert(got >= n,
        s"$q: expected >= $n WindowGroupLimit nodes, got $got:\n$plan")
    }
  }

  test("p94/p96 containment: ordered relation's df join salted; no " +
      "cartesian; verify stays relational") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
    // the salted df join lives pre-checkpoint (the p85 lesson): assert it
    // on the un-checkpointed ordered relation, the final plans on the rest
    val orderedPlan = planString(graft.operators.Dedup.containmentOrderedAll(
      graft.operators.Dedup.jaccardShingleSets(docs, "doc_id", "text")))
    assert(orderedPlan.contains("__salt"),
      s"the shingle-frequency join must be salted:\n$orderedPlan")
    for (q <- Seq("p94_containment_join", "p96_containment_incremental")) {
      val plan = planString(graft.queries.Pipeline.queries(q)(spark, sfDir))
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$q: candidate generation must never go cartesian:\n$plan")
      assert(!plan.contains("array_intersect") &&
        !plan.contains("array_union"),
        s"$q: verify must stay relational:\n$plan")
    }
  }

  test("p90 BPE: word-frequency aggregation and per-round pair counts are " +
      "two-phase; rounds run on a checkpointed vocabulary relation") {
    // the corpus-touching aggregation (tokens -> word counts) must combine
    // map-side: at 100 TB this is the only corpus-scale stage of training
    val words = graft.sources.Tables.documents(spark, sfDir)
      .select(org.apache.spark.sql.functions.explode(
        graft.functions.TextFunctions.tokens(
          org.apache.spark.sql.functions.col("text"))).as("word"))
      .groupBy("word").count()
    val plan = planString(words)
    assert("HashAggregate".r.findAllIn(plan).length >= 2,
      s"word counting must aggregate partially before the exchange:\n$plan")
    // the trained output itself is a driver-assembled model artifact; its
    // inputs are gated above and its values by the p90/p95 oracles + specs
  }

  test("p92 weighted sample: per-stratum rank is WindowGroupLimit; ticket " +
      "min aggregates partially before its exchange") {
    val plan = planString(graft.queries.Pipeline
      .p92WeightedSample(spark, sfDir))
    assert(plan.contains("WindowGroupLimit"),
      s"rk <= k must push a per-group limit below the window:\n$plan")
    // the map-side combine must be the TICKET min specifically (a generic
    // "partial" match would be satisfied by any partial aggregate)
    assert("partial_min\\(__h".r.findFirstIn(plan).isDefined,
      s"the ticket-priority min (__h) must combine map-side:\n$plan")
  }

  test("p38 vocabulary top-k is TakeOrderedAndProject over partial+final agg") {
    val plan = planString(
      graft.queries.Pipeline.p38TopNgrams(spark, sfDir))
    assert(plan.contains("TakeOrderedAndProject"), s"plan:\n$plan")
    val hashAggs = "HashAggregate".r.findAllIn(plan).length
    assert(hashAggs >= 2, s"count must partial-aggregate map-side:\n$plan")
  }

  test("p42 BM25: df/stats broadcast, vocab filter pre-exchange, bounded top-k") {
    val plan = planString(graft.queries.Pipeline.p42Bm25(spark, sfDir))
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must not plan a global sort:\n$plan")
    val broadcasts = "BroadcastExchange".r.findAllIn(plan).length
    assert(broadcasts >= 2,
      s"document frequencies AND corpus stats must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"no retrieval join may sort-merge:\n$plan")
    // the query-vocabulary IN filter must sit below the tf aggregation so
    // only matching terms reach the exchange
    assert(plan.contains("__term IN") || plan.contains("__term#"),
      s"vocabulary filter missing:\n$plan")
  }

  test("p55/p46 distributed ranks: range partition present, no hot-domain window") {
    for (q <- Seq("p55_score_calibration", "p46_shuffle_shards")) {
      val plan = planString(graft.queries.Pipeline.queries(q)(spark, sfDir))
      assert(plan.contains("rangepartitioning"),
        s"$q must range-partition for the prefix-sum rank:\n$plan")
      // every Window's partition spec must include the balancing partition
      // id — a window keyed on the bare domain/shard is the straggler the
      // operator exists to avoid (the model-sized offsets window over
      // #partitions × #domains rows is keyed on the domain alone and is
      // exempt: it reads the tiny aggregate, not the data)
      val dataWindows = "Window \\[row_number\\(\\)[^\n]*".r
        .findAllIn(plan).toList
      assert(dataWindows.nonEmpty, s"$q: expected a local rank window:\n$plan")
      dataWindows.foreach(w =>
        assert(w.contains("__part"),
          s"$q: data window not keyed by the balancing partition id: $w"))
    }
  }

  test("whole-stage codegen covers the relational scan pipelines") {
    val plan = planString(Relational.q01PricingSummary(spark, sfDir))
    // codegen stages render as "*(n)" prefixes in the plan string
    assert(plan.contains("*("), s"codegen missing from q1:\n$plan")
  }

  test("q42: all five window functions share ONE Window node and exchange") {
    val plan = planString(Relational.q42WindowFunctions(spark, sfDir))
    // ntile/percent_rank/cume_dist/lag/lead over the same spec must fuse:
    // exactly one Window operator, fed by exactly one hash exchange on
    // o_custkey (the final orderBy adds its own range exchange)
    val windows = "Window ".r.findAllIn(plan).length
    assert(windows == 1, s"expected one fused Window node, got $windows:\n$plan")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(hashEx == 1, s"expected one window exchange, got $hashEx:\n$plan")
  }

  test("q44 OHLC: min_by/max_by aggregate partial+final like any agg") {
    val plan = planString(Relational.q44OhlcResample(spark, sfDir))
    val hashAggs = "HashAggregate|SortAggregate".r.findAllIn(plan).length
    assert(hashAggs >= 2, s"expected partial+final aggregation:\n$plan")
    assert(plan.contains("min_by") && plan.contains("max_by"),
      s"open/close aggregates missing:\n$plan")
  }

  test("q45 fuzzy join: blocked equi-join, never a nested-loop product") {
    val plan = planString(Relational.q45FuzzyJoin(spark, sfDir))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"fuzzy join must block on brand, not cross-join:\n$plan")
  }

  test("q46 cohort: user join is not a FORCED broadcast (AQE may choose)") {
    // at test scale AQE rightly broadcasts the tiny cohort side; the scale
    // property to gate is that the query doesn't HARDCODE a broadcast —
    // with auto-broadcast off it must fall back to a co-partitioned join
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = planString(Relational.q46CohortRetention(spark, sfDir))
      assert(!plan.contains("BroadcastHashJoin"),
        s"user-cohort join is a forced broadcast:\n$plan")
      assert(plan.contains("HashAggregate"), s"plan:\n$plan")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }

  test("p61 importance sample: scan-shaped — no exchange before the sort") {
    val plan = planString(
      graft.queries.Pipeline.p61ImportanceSample(spark, sfDir))
    assert(!plan.contains("Exchange hashpartitioning"),
      s"sampling must not shuffle:\n$plan")
    assert(!plan.contains("Join"), s"sampling must not join:\n$plan")
  }

  test("p57 upsert: full-outer join co-partitions both sides, no broadcast") {
    val plan = planString(graft.queries.Pipeline.p57CorpusUpsert(spark, sfDir))
    assert(plan.contains("FullOuter"), s"expected a full-outer join:\n$plan")
    // neither a corpus nor a delta side may be a broadcast build at scale
    assert(!plan.contains("BroadcastHashJoin"),
      s"upsert must shuffle-join, not broadcast:\n$plan")
  }

  test("p58 commonness: token-frequency join is salted, never sort-merge") {
    val plan = planString(graft.queries.Pipeline.p58TokenCommonness(spark, sfDir))
    assert(plan.contains("ShuffledHashJoin"),
      s"expected the salted shuffle-hash join:\n$plan")
    assert(plan.contains("__salt"), s"join keys must include the salt:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"no sort-merge:\n$plan")
  }

  test("p66 duplicated passages: only 8-byte fingerprints cross an exchange") {
    val plan = planString(graft.queries.Pipeline.p66DupPassages(spark, sfDir))
    // window text must be fingerprinted before any exchange: no exchange's
    // output may carry the gram string or the document text
    val exchanges = plan.linesIterator.filter(_.contains("Exchange hashpartitioning"))
    assert(exchanges.nonEmpty)
    exchanges.foreach { e =>
      assert(!e.contains("__gram") && !e.contains("text#"),
        s"window text crossed an exchange:\n$e")
    }
    assert(plan.contains("partial_count") || plan.contains("partial"),
      s"frequency aggregation must be two-phase:\n$plan")
  }

  test("p85 exact jaccard join: df join salted; no cartesian product; " +
      "verify is a counting aggregate, not array expressions") {
    val plan = planString(graft.queries.Pipeline
      .p85JaccardJoin(spark, sfDir))
    // the salted df join lives inside the candidate-generation stage,
    // which the production path localCheckpoints (both self-join sides
    // reference it) — so the final plan starts at Scan ExistingRDD and
    // the salt must be asserted on the pre-checkpoint sub-plan
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val prefixPlan = planString(graft.operators.Dedup.jaccardOrderedPrefix(
      graft.operators.Dedup.jaccardShingleSets(docs, "doc_id", "text"),
      threshold = 0.6))
    assert(prefixPlan.contains("__salt"),
      s"the shingle-frequency join must be salted:\n$prefixPlan")
    assert(!plan.contains("CartesianProduct"),
      s"candidate generation must never go cartesian:\n$plan")
    // the verify step counts shared shingles relationally — the
    // eval-mode array intersect/union (10x slower, breaks codegen)
    // must not reappear
    assert(!plan.contains("array_intersect") && !plan.contains("array_union"),
      s"verify must stay relational:\n$plan")
  }

  test("p91 interval join: equi-join on (key, bin) — no cartesian, no " +
      "nested-loop, no post-join distinct") {
    val df = graft.queries.Pipeline.p91IntervalJoin(spark, sfDir)
    val plan = planString(df)
    assert(!plan.contains("CartesianProduct"),
      s"bin decomposition must keep the join equi-keyed:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"the range predicate must not plan as a nested loop:\n$plan")
    // join keys must include the synthetic bin — the overlap predicate is a
    // post-join filter, never the join condition itself
    assert(plan.contains("__bin"),
      s"equi-join must run on the exploded (key, bin):\n$plan")
    // exactly-once is positional (intersection's first bin), so no
    // dedup exchange may appear between the join and the aggregation
    assert(!planString(df).contains("Deduplicate") &&
      "HashAggregate".r.findAllIn(plan).nonEmpty,
      s"pair dedup must be positional, not a distinct:\n$plan")
  }

  test("p80 quantiles: exact rank-select broadcasts bin targets, never " +
      "range-sorts the data") {
    val plan = planString(graft.queries.Pipeline
      .p80QuantileSketch(spark, sfDir))
    // the data-scale scans feed (a) partial+final binning aggregation and
    // (b) a broadcast join against the |qs| bin targets — a global sort of
    // the DATA (rangepartitioning on the value column) must never appear;
    // the |qs|-row output orderBy may range-partition freely
    assert(!plan.contains("rangepartitioning(__x"),
      s"exact quantile pick must not global-sort the data:\n$plan")
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"),
      s"bin targets must broadcast into the resident scan:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial"),
      s"binning aggregation must be two-phase:\n$plan")
  }

  test("p81 EWMA: one exchange on the key; the fold is expression " +
      "arithmetic, not a UDF") {
    val df = graft.queries.Pipeline.p81Ewma(spark, sfDir)
    val plan = planString(df)
    // collect_list partial-aggregates into ObjectHashAggregate around ONE
    // hash exchange on user_id (plus the output sort's range exchange)
    val hashEx = plan.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(hashEx === 1, s"expected exactly one key exchange:\n$plan")
    assert(plan.contains("ObjectHashAggregate"),
      s"collect_list must partial-aggregate:\n$plan")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      s"the fold must stay in expression arithmetic:\n$plan")
  }

  test("p82 standardize: stats broadcast as one row; no join on the dim key") {
    val plan = planString(graft.queries.Pipeline
      .p82EmbedStandardize(spark, sfDir))
    // the rewrite scan gets the stats via a broadcast nested-loop of a
    // single-row relation — a per-(row, dim) hash join on `pos` (64
    // distinct values at any corpus size) must never appear
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"stats row must cross-join broadcast:\n$plan")
    // the only exchange keyed on pos is the stats aggregation's, and it
    // must carry PARTIAL aggregates (≤ dim rows per partition) — never
    // the raw per-element rows
    val lines = plan.linesIterator.toIndexedSeq
    val posEx = lines.zipWithIndex
      .filter(_._1.contains("Exchange hashpartitioning(pos#"))
    assert(posEx.nonEmpty, s"expected the stats exchange on pos:\n$plan")
    posEx.foreach { case (_, i) =>
      val below = lines.slice(i + 1, i + 4).mkString("\n")
      assert(below.contains("HashAggregate") && below.contains("partial"),
        s"the pos exchange must sit above a partial aggregate:\n$below")
    }
  }

  test("p103 relation-bank IVF assign: bank broadcasts; argmin partial-" +
      "aggregates before the exchange (one row per vector on the wire)") {
    import graft.operators.IvfRelational
    import graft.sources.Tables
    val emb = Tables.embeddings(spark, sfDir)
    val bank = IvfRelational.seedBank(emb, nCells = 8, stride = 5)
    val plan = planString(IvfRelational.assign(emb, bank))
    // the n·cells distance rows must NEVER cross an exchange: the bank is
    // a broadcast nested-loop (cross of a model-sized relation) and the
    // per-id argmin collapses map-side
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"the bank must broadcast — the corpus may not shuffle for assignment:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"no sort-merge anywhere:\n$plan")
    assert("partial_min\\(struct\\(".r.findFirstIn(plan).isDefined,
      s"the (dist, cell) argmin must partial-aggregate before the exchange:\n$plan")
  }

  test("p105 streaming IVF index: the probe read is a plain scan union — " +
      "no exchange anywhere on the standing index's path (r9 wrong #1)") {
    import graft.operators.IvfRelational
    import graft.streaming.IvfStream
    import graft.sources.Tables
    import org.apache.spark.sql.functions.{array, broadcast, col, explode, lit}
    val root = java.nio.file.Files.createTempDirectory("ivfplan_").toString
    val emb = Tables.embeddings(spark, sfDir)
    val standing = emb.filter(col("vec_id") < 100)
    val bank = IvfRelational.trainBank(standing, nCells = 4, iters = 1,
      stride = 10)
    IvfStream.writeStanding(spark, s"$root/bank", s"$root/idx", standing, bank)
    IvfStream.appendBatch(spark, s"$root/bank", s"$root/idx", s"$root/out",
      "vec_id", "embedding")(
      emb.filter(col("vec_id") >= 100 && col("vec_id") < 150), 0L)
    // the assembled read: a union of version scans, nothing else — the r9
    // distinct() here shuffled the ENTIRE index (vectors as grouping
    // keys) through one hash aggregate per probe session
    val readPlan = planString(IvfStream.readIndex(spark, s"$root/idx"))
    assert(!readPlan.contains("Exchange"),
      s"the index read must not shuffle:\n$readPlan")
    assert(!readPlan.contains("HashAggregate"),
      s"the index read must not aggregate:\n$readPlan")
    // and a probe against it joins broadcast probes on cell: the standing
    // index never crosses a SHUFFLE exchange pre-rerank (the probes' own
    // BroadcastExchange is model-sized and expected — the writeIvfIndex /
    // writePassageIndex / bm25TopKIndexed probe discipline)
    val probes = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qv"),
        explode(array(lit(0), lit(1))).as("cell"))
    val probePlan = planString(IvfStream.readIndex(spark, s"$root/idx")
      .join(broadcast(probes), "cell"))
    assert(!probePlan.contains("Exchange hashpartitioning"),
      s"the probe join must keep the index exchange-free:\n$probePlan")
    assert(probePlan.contains("BroadcastHashJoin"),
      s"probes must broadcast:\n$probePlan")
    // the full probe-session operator (p135's path): topKIndexed over the
    // assembled index — probes broadcast into the cell join, the index
    // side reaches that join as a plain scan, and the only shuffles are
    // the query-sized probe-shortlist window and the candidate-sized
    // rerank window (never index-sized), both rank-bounded BEFORE their
    // exchange by WindowGroupLimit partials
    val topPlan = planString(IvfRelational.topKIndexed(
      emb.filter(col("vec_id") < 3),
      IvfStream.readIndex(spark, s"$root/idx"), bank, k = 3, nProbe = 2))
    assert(topPlan.contains("BroadcastHashJoin"),
      s"topKIndexed probes must broadcast:\n$topPlan")
    assert("Exchange hashpartitioning".r.findAllIn(topPlan).length <= 2,
      s"only the shortlist and rerank window exchanges are allowed:\n$topPlan")
    assert(topPlan.contains("WindowGroupLimit") &&
        topPlan.contains("Partial"),
      s"rerank rows must bound before the exchange:\n$topPlan")
    val idxBranch = branchBetween(topPlan,
      "BroadcastHashJoin", "BroadcastQueryStage")
    assert(idxBranch.contains("FileScan parquet") &&
        !idxBranch.contains("Exchange"),
      s"the index must feed the cell join as a plain scan:\n$topPlan")
  }

  test("p106 sampled training: the Lloyd scan reads ONLY the sample — " +
      "membership filter sits on the corpus scan, below the bank join") {
    import graft.operators.{Curation, IvfRelational}
    import graft.sources.Tables
    val emb = Tables.embeddings(spark, sfDir)
    val sample = Curation.sampleUniform(emb, "vec_id", 0.25)
    val bank = IvfRelational.seedBank(sample, nCells = 8, stride = 3)
    // one Lloyd round's scan shape: assign over the SAMPLE under the bank
    val plan = planString(IvfRelational.assign(sample, bank))
    val lines = plan.linesIterator.toIndexedSeq
    val joinIdx = lines.indexWhere(_.contains("BroadcastNestedLoopJoin"))
    assert(joinIdx >= 0, s"assignment must broadcast the bank:\n$plan")
    // the deterministic membership predicate (its multiplier is the
    // fingerprint) must filter the corpus BELOW the bank join — n·cells
    // distance folds are paid only for sample members
    val filtIdx = lines.indexWhere(l =>
      l.contains("Filter") && l.contains("2246822519"))
    assert(filtIdx > joinIdx,
      s"the sample-membership filter must apply before the bank join " +
        s"(training may only scan the sample):\n$plan")
    assert(lines.drop(filtIdx).exists(_.contains("FileScan")),
      s"the membership filter must sit directly over the scan:\n$plan")
  }

  test("p115 rebuild training honors trainFraction: the Lloyd scan over " +
      "the assembled index reads ONLY the sample (p106's gate, sourced " +
      "from a versioned index root)") {
    import graft.operators.{Curation, IvfRelational}
    import graft.streaming.IvfStream
    import graft.sources.Tables
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("p115plan_").toString
    val emb = Tables.embeddings(spark, sfDir)
    val standing = emb.filter(col("vec_id") < 100)
    val bank0 = IvfRelational.trainBank(standing, nCells = 4, iters = 1,
      stride = 10)
    IvfStream.writeStanding(spark, s"$root/bank", s"$root/idx", standing,
      bank0)
    IvfStream.appendBatch(spark, s"$root/bank", s"$root/idx", s"$root/out",
      "vec_id", "embedding")(
      emb.filter(col("vec_id") >= 100 && col("vec_id") < 150), 0L)
    // rebuildIndex's exact training composition: sampleUniform over the
    // assembled-index read, assigned under a seed bank
    val corpus = IvfStream.readIndex(spark, s"$root/idx")
      .select(col("neighbor_id").as("vec_id"), col("v").as("embedding"))
    val train = Curation.sampleUniform(corpus, "vec_id", 0.5)
    val bank = IvfRelational.seedBank(train, nCells = 4, stride = 3)
    val plan = planString(IvfRelational.assign(train, bank))
    val lines = plan.linesIterator.toIndexedSeq
    val joinIdx = lines.indexWhere(_.contains("BroadcastNestedLoopJoin"))
    assert(joinIdx >= 0, s"assignment must broadcast the bank:\n$plan")
    val filtIdx = lines.indexWhere(l =>
      l.contains("Filter") && l.contains("2246822519"))
    assert(filtIdx > joinIdx,
      s"the sample-membership filter must apply before the bank join " +
        s"(rebuild training may only scan the sample):\n$plan")
    assert(lines.drop(filtIdx).exists(_.contains("FileScan")),
      s"the membership filter must sit directly over the index scan:\n$plan")
    // the distance rows themselves never shuffle: the only exchange on
    // the whole training path is the post-argmin one (a single row per
    // sample vector), BELOW which sits the partial_min — p103's gate
    assert("partial_min\\(struct\\(".r.findFirstIn(plan).isDefined,
      s"the (dist, cell) argmin must partial-aggregate before the " +
        s"exchange:\n$plan")
  }

  test("p117 image-hash cross probe: the standing index is a plain scan " +
      "union banded narrowly in-scan; the batch side broadcasts") {
    import graft.multimodal.Multimodal
    import graft.operators.Dedup
    import graft.sources.Tables
    import graft.streaming.AHashStream
    import org.apache.spark.sql.functions.{broadcast, col, pmod, lit}
    val root = java.nio.file.Files.createTempDirectory("p117plan_").toString
    val images = Multimodal.fromDocuments(spark,
      Tables.documents(spark, sfDir), onlyKind = Some("image"))
    val standing = images.filter(_.media_id < 250).toDF()
      .select(col("media_id"), col("payload"))
    AHashStream.writeStanding(spark, s"$root/idx", standing)
    AHashStream.filterBatch(spark, s"$root/idx", s"$root/out",
      "media_id", "payload")(
      Multimodal.plantImageVariants(images.filter(_.media_id < 30)).toDF()
        .select(col("media_id"), col("payload")), 0L)
    // the cross-arm probe composition: standing bands (narrow posexplode
    // over the scan union) joined against broadcast batch bands
    val oldBands = Dedup.chunkPairRows(
      AHashStream.readIndex(spark, s"$root/idx")
        .select(col("media_id").as("id"), col("ahash").as("sh64")))
    val newBands = Dedup.chunkPairRows(
        AHashStream.readIndex(spark, s"$root/idx")
          .filter(pmod(col("media_id"), lit(97)) === 0)
          .select(col("media_id").as("id"), col("ahash").as("sh64")))
      .select(col("id").as("new_id"), col("sh64").as("new_h"),
        col("chunk"), col("ckey"))
    val plan = planString(oldBands.join(broadcast(newBands),
      Seq("chunk", "ckey")))
    assert(plan.contains("BroadcastHashJoin"),
      s"batch bands must broadcast:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"the standing hash index must never shuffle on the probe path:\n$plan")
  }

  test("p112 bloom prefilter: scan-local membership — the corpus side " +
      "pays zero joins and zero exchange (the masks ride as literals)") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions.{col, explode}
    import graft.functions.{TextFunctions => TF}
    val root = Files.createTempDirectory("bloomplan_").toString + "/bloom"
    val docs = graft.sources.Tables.documents(spark, sfDir)
    def grams(df: DataFrame) = df.select(col("doc_id"),
      explode(TF.tokenShingles(TF.tokens(col("text")), 5)).as("gram"))
    graft.streaming.SketchStream.writeStandingBloom(spark, root,
      grams(docs.filter(col("doc_id") < 50)), "gram")
    val plan = planString(graft.streaming.SketchStream.prefilterAt(
      spark, root, grams(docs), "gram"))
    assert(!plan.contains("Join"),
      s"the bloom probe must not join the corpus against the bit store:\n$plan")
    assert(!plan.contains("Exchange"),
      s"the bloom probe must add no exchange to the corpus scan:\n$plan")
    assert(plan.contains("*(1) Filter"),
      s"the mask filter must stay inside whole-stage codegen:\n$plan")
  }

  test("p122/p126 media-fp and audio-band cross probes: the standing " +
      "index is a plain scan union; the batch side broadcasts") {
    import graft.multimodal.Multimodal
    import graft.operators.Dedup
    import graft.sources.Tables
    import graft.streaming.{AHashStream, MediaFpStream}
    import org.apache.spark.sql.functions.{broadcast, col, pmod, lit}
    val clips = Multimodal.fromDocuments(spark,
      Tables.documents(spark, sfDir), onlyKind = Some("audio"),
      intAudio = true)
    val standing = clips.filter(_.media_id < 250).toDF()
      .select(col("media_id"), col("payload"))
    // exact-fp family (p122): standing (media_id, fp) scan union joined
    // against the broadcast batch fingerprints — no shuffle on the store
    val fpRoot = java.nio.file.Files.createTempDirectory("fpplan_").toString
    MediaFpStream.writeStanding(spark, s"$fpRoot/idx", standing,
      df => Multimodal.audioFpBytes(df, "media_id", "payload"))
    val bf = MediaFpStream.readIndex(spark, s"$fpRoot/idx")
      .filter(pmod(col("media_id"), lit(97)) === 0)
      .select(col("media_id").as("new_id"), col("fp"))
    val fpPlan = planString(MediaFpStream.readIndex(spark, s"$fpRoot/idx")
      .join(broadcast(bf), Seq("fp")))
    assert(fpPlan.contains("BroadcastHashJoin"),
      s"batch fingerprints must broadcast:\n$fpPlan")
    assert(!fpPlan.contains("Exchange hashpartitioning"),
      s"the standing fp index must never shuffle on the probe path:\n$fpPlan")
    // perceptual family (p126): AHashStream's cross arm with the audio
    // hasher — the same exchange-free banding contract as p117's
    val ahRoot = java.nio.file.Files.createTempDirectory("ahplan_").toString
    AHashStream.writeStanding(spark, s"$ahRoot/idx", standing,
      hasher = Multimodal.audioAHash64Bytes)
    val oldBands = Dedup.chunkPairRows(
      AHashStream.readIndex(spark, s"$ahRoot/idx")
        .select(col("media_id").as("id"), col("ahash").as("sh64")))
    val newBands = Dedup.chunkPairRows(
        AHashStream.readIndex(spark, s"$ahRoot/idx")
          .filter(pmod(col("media_id"), lit(97)) === 0)
          .select(col("media_id").as("id"), col("ahash").as("sh64")))
      .select(col("id").as("new_id"), col("sh64").as("new_h"),
        col("chunk"), col("ckey"))
    val ahPlan = planString(oldBands.join(broadcast(newBands),
      Seq("chunk", "ckey")))
    assert(ahPlan.contains("BroadcastHashJoin"),
      s"batch bands must broadcast:\n$ahPlan")
    assert(!ahPlan.contains("Exchange hashpartitioning"),
      s"the standing audio-hash index must never shuffle:\n$ahPlan")
  }

  test("p127 containment probe: the standing set relation never crosses " +
      "a full exchange — df restricts to batch grams first, the batch " +
      "prefix broadcasts into the candidate join") {
    import graft.multimodal.Multimodal
    import graft.sources.Tables
    import graft.streaming.ContainmentStream
    import org.apache.spark.sql.functions.{broadcast, col, pmod, lit}
    val vids = Multimodal.fromDocuments(spark,
      Tables.documents(spark, sfDir), onlyKind = Some("video"))
    val standing = vids.filter(_.media_id < 250).toDF()
      .select(col("media_id"), col("payload"))
    val root = java.nio.file.Files.createTempDirectory("ctplan_").toString
    val setsOf = (df: org.apache.spark.sql.DataFrame) =>
      Multimodal.videoFrameSetBytes(df, "media_id", "payload")
    ContainmentStream.writeStanding(spark, s"$root/idx", standing, setsOf)
    val corpusIndex = ContainmentStream.readIndex(spark, s"$root/idx")
    // the two standing-side joins of containmentIncrementalFromSets,
    // in isolation: (1) the df aggregation semi-restricted to the batch's
    // grams; (2) the candidate join against the broadcast batch prefix.
    // In both, the store side must reach the join as a plain scan.
    val batchGrams = corpusIndex
      .filter(pmod(col("id"), lit(97)) === 0)
      .select(col("g")).distinct()
    val dfPlan = planString(corpusIndex
      .join(broadcast(batchGrams), "g")
      .groupBy(col("g")).agg(org.apache.spark.sql.functions.count(
        lit(1)).as("df")))
    assert(dfPlan.contains("BroadcastHashJoin"),
      s"batch grams must broadcast into the df restriction:\n$dfPlan")
    // hash exchanges carry only BATCH-gram-sized data: the post-join df
    // aggregation and the batch-gram distinct inside the broadcast build
    // — never the store. The streamed (store) branch prints between the
    // join node and its BroadcastQueryStage build side: plain scan only.
    val dfEx = "Exchange hashpartitioning".r.findAllIn(dfPlan).length
    assert(dfEx <= 2,
      s"expected only the two batch-sized exchanges, got $dfEx:\n$dfPlan")
    val dfBranch = branchBetween(dfPlan,
      "BroadcastHashJoin", "BroadcastQueryStage")
    assert(dfBranch.contains("FileScan parquet") &&
        !dfBranch.contains("Exchange"),
      s"the standing set relation must feed the df restriction as a " +
        s"plain scan:\n$dfPlan")
    assert(dfPlan.contains("partial_count") &&
        dfPlan.indexOf("partial_count") >
          dfPlan.indexOf("Exchange hashpartitioning"),
      s"df must aggregate partially before the exchange:\n$dfPlan")
    val prefix = corpusIndex.filter(pmod(col("id"), lit(97)) === 0)
      .select(col("g"), col("id").as("id_a"), col("n").as("__na"))
    val candPlan = planString(
      broadcast(prefix).join(corpusIndex.select(col("g"),
        col("id").as("id_b"), col("n").as("__nb")), "g"))
    assert(candPlan.contains("BroadcastHashJoin"),
      s"the batch prefix must broadcast into the candidate join:\n$candPlan")
    assert(!candPlan.contains("Exchange hashpartitioning"),
      s"the standing set relation must never shuffle on the candidate " +
        s"path:\n$candPlan")
  }

  test("tombstone mask: the marker set is a NOT IN literal pushed into " +
      "the standing scan (a broadcast anti-join of a local relation past " +
      "the limit) and a pushed gram IN reaches the standing scan — no " +
      "exchange either way") {
    import graft.operators.Dedup
    import graft.sources.Tables
    import graft.streaming.{ContainmentStream, Versions}
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    def masked(ids: Seq[Long]): String = {
      val root = java.nio.file.Files.createTempDirectory("tsplan_").toString
      ContainmentStream.writeStanding(spark, root,
        docs.filter(col("doc_id") < 40),
        df => Dedup.jaccardShingleSets(df, "doc_id", "text"))
      Versions.tombstone(spark, root, ids, 0L)
      root
    }
    // up to the limit: the driver-resolved dead ids push into the scan as
    // a filter — no join, no broadcast, no exchange
    val root = masked(Seq(1L, 2L))
    val plan = planString(ContainmentStream.readIndex(spark, root))
    val scan = branchFrom(plan, "FileScan parquet")
    assert(scan.contains("PushedFilters: [") && scan.contains("Not(In(id") &&
        !plan.contains("Join") && !plan.contains("Exchange"),
      s"the tombstone mask must be a pushed NOT IN literal:\n$plan")
    // past the limit: a broadcast anti-join of the local id relation; the
    // STANDING branch (between the anti-join node and its broadcast build
    // side) is a plain scan, and nothing hash-partitions
    val wide = planString(ContainmentStream.readIndex(spark,
      masked(1000L to 1000L + Versions.PushIdLimit)))
    assert(wide.contains("BroadcastHashJoin") && wide.contains("LeftAnti"),
      s"past the limit the mask must be a broadcast anti-join:\n$wide")
    val standingBranch = branchBetween(wide,
      "BroadcastHashJoin", "BroadcastQueryStage")
    assert(standingBranch.contains("FileScan parquet") &&
        !standingBranch.contains("Exchange"),
      s"masking must never shuffle the standing relation:\n$wide")
    assert(!wide.contains("Exchange hashpartitioning"),
      s"a local dead-id relation needs no distinct exchange:\n$wide")
    // the trickle-batch gram push: a literal IN on the probe key reaches
    // the parquet scan THROUGH the mask (what row-group pruning on a
    // compactStore-clustered base keys off)
    val pushed = planString(ContainmentStream.readIndex(spark, root)
      .filter(col("g").isin("a b c", "d e f")))
    val scanPart = branchFrom(pushed, "FileScan parquet")
    assert(scanPart.contains("PushedFilters: [") &&
        scanPart.contains("In(g"),
      s"the gram IN must push into the standing scan:\n$pushed")
  }

  test("trickle pushes reach the fp and band stores' standing scans " +
      "through the tombstone mask (the r14 pruning levers)") {
    import graft.streaming.{MediaFpStream, Versions}
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // store-shaped relations written directly — the push composes on the
    // readIndex plan, not on the profiler/banding upstream of it
    val fpRoot = java.nio.file.Files.createTempDirectory("fppln_").toString
    Seq((1L, 11L), (2L, 22L), (3L, 33L)).toDF("media_id", "fp")
      .write.parquet(s"$fpRoot/v0")
    Versions.tombstone(spark, fpRoot, Seq(3L), 0L)
    val fpPlan = planString(MediaFpStream.readIndex(spark, fpRoot)
      .filter(col("fp").isin(11L, 22L)))
    val fpScan = branchFrom(fpPlan, "FileScan parquet")
    assert(fpScan.contains("PushedFilters: [") && fpScan.contains("In(fp"),
      s"the fp IN must push into the standing scan:\n$fpPlan")

    val ndRoot = java.nio.file.Files.createTempDirectory("ndpln_").toString
    Seq((1L, 0, 5L), (2L, 1, 6L)).toDF("id", "band", "bucket")
      .write.parquet(s"$ndRoot/v0")
    Versions.tombstone(spark, ndRoot, Seq(2L), 0L)
    // the exact composition NearDupStream.filterBatch builds:
    // maskTombstones(scan union) under the batch's bucket IN
    val ndPlan = planString(Versions.maskTombstones(spark, ndRoot,
        spark.read.parquet(s"$ndRoot/v0"), "id")
      .filter(col("bucket").isin(5L, 6L)))
    val ndScan = branchFrom(ndPlan, "FileScan parquet")
    assert(ndScan.contains("PushedFilters: [") &&
        ndScan.contains("In(bucket"),
      s"the bucket IN must push into the standing scan:\n$ndPlan")
  }

  test("p141 ridge: normal-equation moments aggregate PARTIALLY before " +
      "one model-sized exchange; the scoring pass is a shuffle-free " +
      "codegen'd projection") {
    import graft.operators.Scorer
    import graft.sources.Tables
    import graft.functions.{TextFunctions => TF}
    import org.apache.spark.sql.functions.{col, least, lit, size}
    val feats = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), TF.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        least(size(col("toks")) / lit(100.0), lit(1.0)).as("f1"),
        TF.alphaRatio(col("text")).as("f2"),
        TF.qualityScoreFromTokens(col("text"), col("toks")).as("y"))
    val momPlan = planString(
      Scorer.ridgeMoments3(feats, col("f1"), col("f2"), col("y")))
    // partial buffers fuse per partition; only the d(d+3)/2-sized
    // decimal buffer crosses the (single-partition) exchange
    assert(momPlan.contains("partial_cov_moments") &&
        "(?<!partial_)cov_moments".r.findFirstIn(momPlan).isDefined,
      s"expected partial+final cov_moments aggregation:\n$momPlan")
    assert(momPlan.contains("SinglePartition"),
      s"the moments exchange must carry one model-sized buffer:\n$momPlan")
    assert(!momPlan.contains("hashpartitioning"),
      s"no data-sized exchange in the fit:\n$momPlan")
    val model = Scorer.Ridge3(0.1, 0.2, 0.3)
    val scorePlan = planString(feats.select(col("doc_id"),
      Scorer.score3(model, col("f1"), col("f2")).as("pred")))
    assert(!scorePlan.contains("Exchange"),
      s"scoring must be a pure scan projection:\n$scorePlan")
    // the `*(n)` star prefix is toString's whole-stage-codegen marker
    assert(scorePlan.contains("*(") && scorePlan.contains("Project"),
      s"scoring must stay inside codegen:\n$scorePlan")

    // p142's d-feature generalization keeps both shapes at width 9:
    // one SinglePartition moments exchange, shuffle-free codegen scoring
    val wide = (3 to 8).foldLeft(feats)((df, i) =>
      df.withColumn(s"f$i", col("f1") * lit(i)))
    val wideCols = (1 to 8).map(i => col(s"f$i"))
    val wideMom = planString(Scorer.ridgeMoments(wide, wideCols, col("y")))
    assert(wideMom.contains("partial_cov_moments") &&
        wideMom.contains("SinglePartition") &&
        !wideMom.contains("hashpartitioning"),
      s"d-feature moments must keep the model-sized exchange:\n$wideMom")
    val wideScore = planString(wide.select(col("doc_id"),
      Scorer.score(Seq.fill(9)(0.5), wideCols).as("pred")))
    assert(!wideScore.contains("Exchange") && wideScore.contains("*(") &&
        wideScore.contains("Project"),
      s"wide scoring must stay one codegen'd projection:\n$wideScore")
  }
}
