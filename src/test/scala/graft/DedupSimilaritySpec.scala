package graft

import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.functions._

/** Semantics of the non-oracle (custom-hash) operators, on planted data:
  * near-duplicates the operator must find, unrelated docs it must not pair. */
class DedupSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val vocab = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
    "eta", "theta", "iota", "kappa", "lambda", "mu", "nu", "xi", "omicron")

  /** doc text of `n` pseudo-random vocab words, deterministic in `seed`. */
  private def doc(seed: Long, n: Int): String =
    (0 until n).map(i =>
      vocab((graft.functions.Hash64.mix(seed * 1000 + i) % vocab.size).toInt.abs))
      .mkString(" ")

  test("exact dedup keeps min id per duplicate group") {
    val df = Seq((1L, "x"), (2L, "x"), (3L, "y")).toDF("doc_id", "text")
    val got = Dedup.exact(df, "doc_id", Seq("text"))
      .select("keep_id", "n_dups").as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 2L), (3L, 1L)))
    val kept = Dedup.exactKept(df, "doc_id", Seq("text"))
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 3L))
  }

  test("fingerprint-first dedup matches direct exact dedup") {
    // duplicates (fp count >= 2) exercise the text-verification branch;
    // uniques exercise the no-text-shuffle fast path
    val df = Seq((1L, "x"), (2L, "x"), (3L, "y"), (4L, "z"), (5L, "x"))
      .toDF("doc_id", "text")
    val got = Dedup.exactByFingerprint(df, "doc_id", "text")
      .select("keep_id", "n_dups").as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 3L), (3L, 1L), (4L, 1L)))
    // and on real corpus text the rewrite is result-identical to Dedup.exact
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val direct = Dedup.exact(docs, "doc_id", Seq("text"))
      .select("keep_id", "n_dups").as[(Long, Long)].collect().toSet
    val viaFp = Dedup.exactByFingerprint(docs, "doc_id", "text")
      .select("keep_id", "n_dups").as[(Long, Long)].collect().toSet
    assert(viaFp === direct)
    // survivor projection agrees with the windowed exactKept
    val keptDirect = Dedup.exactKept(docs, "doc_id", Seq("text"))
      .select("doc_id").as[Long].collect().toSet
    val keptFp = Dedup.exactKeptByFingerprint(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(keptFp === keptDirect)
  }

  test("incremental dedup drops cross-set and in-batch dups, keeps novel") {
    val existing = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "a"),   // duplicate of the existing corpus -> dropped
      (11L, "c"), (12L, "c"),   // in-batch dup -> 11 survives
      (13L, "d")).toDF("doc_id", "text")
    val kept = Dedup.exactKeptIncremental(incoming, "doc_id", "text",
        Dedup.dedupIndex(existing, "text"))
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(11L, 13L))
  }

  test("incremental minhash finds a planted cross-set near-dup only") {
    val base = doc(7, 120)
    val nearDup = base.split(" ").updated(3, "changedword").mkString(" ")
    val existing = Seq((1L, base), (2L, doc(100, 120))).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, nearDup),       // near-dup of existing doc 1 -> cross-set pair
      (11L, doc(200, 120)), // novel
      (12L, doc(300, 120)), (13L, doc(300, 120))) // in-batch exact dup pair
      .toDF("doc_id", "text")
    val idx = Dedup.minhashBandIndex(existing, "doc_id", "text",
      numHashes = 64, bands = 16)
    val pairs = Dedup.minhashPairsIncremental(incoming, "doc_id", "text",
        existingIndex = idx, existingDocs = existing,
        numHashes = 64, bands = 16, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 10L)), s"cross-set near-dup missed: $pairs")
    assert(pairs.contains((12L, 13L)), s"in-batch dup missed: $pairs")
    assert(!pairs.exists(p => p._1 == 11L || p._2 == 11L),
      s"novel doc wrongly paired: $pairs")
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L),
      s"unrelated existing doc wrongly paired: $pairs")
  }

  test("connected components: chains, cycles, and isolation") {
    // chain 1-2-3-4 (transitivity), triangle 10-11-12 with a cycle edge,
    // and a lone pair 20-21 — three components labeled by their min ids
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs)
      .select("id", "component").as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  // worst cases for each components algorithm: a 60-node chain (diameter
  // 59 — the propagation worst case), a clique, a star, two cycles
  private val planted = {
    val chain = (1L until 60L).map(i => (i, i + 1))
    val clique = for (a <- 100L to 107L; b <- (a + 1) to 107L) yield (a, b)
    val star = (201L to 210L).map(i => (200L, i))
    val cycles = Seq((300L, 301L), (301L, 302L), (302L, 300L),
      (400L, 401L), (401L, 402L), (402L, 403L), (403L, 400L))
    chain ++ clique ++ star ++ cycles
  }
  private type E = (Option[Long], Option[Long])
  private def randomGraph(seed: Long): Seq[(Long, Long)] =
    (0 until 150).map { i =>
      val a = 1000L + (graft.functions.Hash64.mix(seed * 31 + i).abs % 100)
      val b = 1000L + (graft.functions.Hash64.mix(seed * 77 + i).abs % 100)
      (a, b)
    }.filter(p => p._1 != p._2)

  test("star-contraction components equal min-propagation across graph shapes") {
    // the planted worst cases plus three seeded random graphs
    for (edges <- Seq(planted, randomGraph(1), randomGraph(2), randomGraph(3))) {
      val df = edges.toDF("id_a", "id_b")
      val prop = Dedup.connectedComponents(df, maxIter = 100)
        .select("id", "component").as[(Long, Long)].collect().toMap
      val contr = Dedup.connectedComponentsStar(df)
        .select("id", "component").as[(Long, Long)].collect().toMap
      assert(contr === prop, s"algorithms disagree on ${edges.take(5)}...")
    }
  }

  test("star contraction converges in O(log n) rounds on a long chain") {
    // 128-node chain: diameter 127. Propagation would need ~127 rounds;
    // contraction halves the chain per round pair, so well under 2*log2(n)+2.
    val chain = (1L until 128L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (labels, rounds) = Dedup.starWithRounds(chain, maxIter = 30)
    assert(labels.filter(col("component") =!= 1L).isEmpty,
      "chain must collapse to a single component rooted at 1")
    assert(rounds <= 16, s"expected O(log 128) rounds, took $rounds")
  }

  test("components loops throw loudly on maxIter exhaustion") {
    val chain = (1L until 60L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    // diameter 59 >> 5 rounds: partial labels must not be returned silently
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIter = 5).collect()
    }
    assert(e.getMessage.contains("did not converge"))
    // raw star path (pre-contraction off — the local union-find would
    // legitimately collapse a 60-chain before round 1)
    val e2 = intercept[IllegalStateException] {
      Dedup.starWithRounds(chain, maxIter = 1, localContract = false)
        ._1.collect()
    }
    assert(e2.getMessage.contains("did not converge"))
  }

  test("duplicate passages: shared 8-token window flagged, strip removes it") {
    // docs 1 and 2 share one verbatim 8-token passage mid-text; doc 3 is
    // clean; doc 4 is a short doc duplicated verbatim as doc 5
    val passage = "alpha bravo charlie delta echo foxtrot golf hotel"
    val docs = Seq(
      (1L, s"one two three $passage nine ten"),
      (2L, s"other words here $passage trailing bits"),
      (3L, "completely original text with no repeated passage anywhere at all"),
      (4L, "tiny shared doc"),
      (5L, "tiny shared doc")).toDF("doc_id", "text")

    val stats = Dedup.duplicatePassageStats(docs, "doc_id", "text", 8)
      .orderBy("doc_id").collect()
    // doc 1: 13 tokens -> 6 windows; exactly 1 (the passage start) is shared
    assert(stats(0).getAs[Long]("n_windows") === 6L)
    assert(stats(0).getAs[Long]("n_dup_windows") === 1L)
    assert(stats(2).getAs[Long]("n_dup_windows") === 0L)
    // short-doc fallback: docs 4/5 have one window each, both flagged
    assert(stats(3).getAs[Long]("n_windows") === 1L)
    assert(stats(3).getAs[Long]("n_dup_windows") === 1L)
    assert(stats(3).getAs[Double]("dup_ratio") === 1.0)

    val strip = Dedup.stripDuplicatePassages(docs, "doc_id", "text", 8)
      .orderBy("doc_id").collect()
    // doc 1 loses exactly the 8 passage tokens, keeps the other 5
    assert(strip(0).getAs[Long]("n_kept") === 5L)
    assert(strip(0).getAs[String]("kept_text") === "one two three nine ten")
    // doc 3 untouched
    assert(strip(2).getAs[Long]("n_kept") === strip(2).getAs[Int]("n_tokens").toLong)
    // docs 4/5 fully covered by their fallback window
    assert(strip(3).getAs[Long]("n_kept") === 0L)
    assert(strip(3).getAs[String]("kept_text") === "")
  }

  test("local union-find pre-contraction: same labels, fewer rounds") {
    // mixed shape: two chains, a cycle, an isolated edge
    val edges = ((1L until 40L).map(i => (i, i + 1)) ++
      Seq((100L, 101L), (101L, 102L), (102L, 100L), (200L, 201L)))
      .toDF("id_a", "id_b")
    val (fast, roundsFast) = Dedup.starWithRounds(edges, maxIter = 30)
    val (raw, roundsRaw) =
      Dedup.starWithRounds(edges, maxIter = 30, localContract = false)
    assert(fast.orderBy("id").collect().toSeq ===
      raw.orderBy("id").collect().toSeq)
    assert(roundsFast <= roundsRaw,
      s"pre-contraction took $roundsFast rounds vs raw $roundsRaw")
  }

  test("one-task path: at the session's own partition count the union-find " +
      "labels equal the distributed loop's, in one partition, and the " +
      "session's shuffle width is never written") {
    val key = "spark.sql.shuffle.partitions"
    val width = spark.conf.get(key)
    assert(width !== "1", "the suite must run wider than one partition")
    def some(es: Seq[(Long, Long)]): Seq[E] =
      es.map { case (a, b) => (Some(a), Some(b)) }
    val withNulls: Seq[E] = Seq((Some(1L), None), (None, Some(2L)),
      (None, None), (Some(3L), Some(4L)), (Some(4L), Some(1L)),
      (Some(5L), Some(5L)))
    val duplicated = some(planted ++ planted ++ planted.map(_.swap))
    val graphs = Seq(some(planted), some(randomGraph(1)),
      some(randomGraph(2)), some(randomGraph(3)), withNulls, duplicated)
    for (edges <- graphs) {
      val df = edges.toDF("id_a", "id_b")
      val (fast, rounds) = Dedup.starWithRounds(df, maxIter = 30)
      assert(spark.conf.get(key) === width)
      assert(rounds === 0, "edge sets within the 4M budget take one task")
      assert(fast.rdd.getNumPartitions === 1)
      val (loop, _) =
        Dedup.starWithRounds(df, maxIter = 30, localContract = false)
      def rows(l: org.apache.spark.sql.DataFrame) =
        l.select("id", "component").as[E].collect().toSeq
          .sortBy(_.toString)
      assert(rows(fast) === rows(loop), s"paths disagree on ${edges.take(5)}")
      assert(spark.conf.get(key) === width)
    }
    // null endpoints: the non-null ends still label, null is one node
    val (nl, _) = Dedup.starWithRounds(withNulls.toDF("id_a", "id_b"), 30)
    assert(nl.select("id", "component").as[E].collect().toSet === Set[E](
      (Some(1L), Some(1L)), (Some(2L), Some(2L)), (Some(3L), Some(1L)),
      (Some(4L), Some(1L)), (Some(5L), Some(5L)), (None, None)))
  }

  test("nearDupKept keeps cluster representatives and untouched rows") {
    val docs = (1L to 6L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val kept = Dedup.nearDupKept(docs, "doc_id", pairs)
      .select("doc_id").as[Long].collect().toSet
    // 1 survives for {1,2,3}, 5 for {5,6}; 4 was in no pair
    assert(kept === Set(1L, 4L, 5L))
    // the explicit-propagation override picks the same survivors
    val keptProp = Dedup.nearDupKept(docs, "doc_id", pairs,
        Dedup.connectedComponents(_))
      .select("doc_id").as[Long].collect().toSet
    assert(keptProp === kept)
  }

  test("minhash LSH finds a planted near-duplicate, not unrelated docs") {
    val base = doc(7, 120)
    val nearDup = base.split(" ").updated(3, "changedword").mkString(" ")
    val docs = Seq(
      (1L, base), (2L, nearDup),
      (3L, doc(100, 120)), (4L, doc(200, 120))).toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
        numHashes = 64, bands = 16, shingleSize = 3, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), "planted near-dup not found")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L || p._2 == 4L),
      s"unrelated docs paired: $pairs")
  }

  test("char-shingle minhash finds near-dups in unsegmented text") {
    val base = doc(7, 120).replace(" ", "")       // no token boundaries
    val nearDup = base.substring(0, 200) + "XYZZY" + base.substring(205)
    val docs = Seq(
      (1L, base), (2L, nearDup),
      (3L, doc(100, 120).replace(" ", ""))).toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
        numHashes = 64, bands = 16, shingleSize = 3, threshold = 0.5,
        charShingles = true)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), s"planted char-level near-dup missed: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhash finds the planted near-duplicate pair") {
    val base = doc(7, 120)
    val nearDup = base.split(" ").updated(3, "changedword").mkString(" ")
    val docs = Seq(
      (1L, base), (2L, nearDup), (3L, doc(100, 120))).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
  }

  /** deterministic pseudo-random unit-ish vector */
  private def vec(seed: Long, dim: Int): Seq[Float] =
    (0 until dim).map { i =>
      val u = graft.functions.Hash64.mix(seed * 7919 + i)
      ((u >>> 11).toDouble / (1L << 52).toDouble - 1.0).toFloat
    }

  test("brute-force top-k: planted near-identical vector ranks first") {
    val dim = 16
    val v0 = vec(1, dim)
    val near = v0.updated(0, v0.head + 0.01f)
    val corpus = (Seq((0L, v0), (99L, near)) ++
      (1L to 20L).map(i => (i, vec(i + 100, dim)))).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(
        corpus.filter(col("vec_id") === 0), corpus, k = 3)
      .select("rank", "neighbor_id").as[(Int, Long)].collect().toMap
    assert(top(1) === 99L, s"nearest should be the planted twin, got $top")
  }

  test("LSH top-k finds the planted twin and agrees with brute force on it") {
    val dim = 16
    val v0 = vec(1, dim)
    val near = v0.updated(0, v0.head + 0.01f)
    val corpus = (Seq((0L, v0), (99L, near)) ++
      (1L to 50L).map(i => (i, vec(i + 100, dim)))).toDF("vec_id", "embedding")
    val ann = Similarity.lshTopK(
        corpus.filter(col("vec_id") === 0), corpus, k = 3, dim = dim,
        tables = 8, bits = 4)
      .select("rank", "neighbor_id").as[(Int, Long)].collect().toMap
    assert(ann.get(1) === Some(99L),
      s"LSH should retrieve the near-identical twin first, got $ann")
  }

  test("embedding near-dup pairs: planted pair found above threshold") {
    val dim = 16
    val v0 = vec(1, dim)
    val near = v0.updated(0, v0.head + 0.01f)
    val corpus = (Seq((0L, v0), (99L, near)) ++
      (1L to 50L).map(i => (i, vec(i + 100, dim)))).toDF("vec_id", "embedding")
    val pairs = Similarity.embeddingNearDupPairs(corpus, threshold = 0.99,
        dim = dim, tables = 8, bits = 4)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((0L, 99L)))
  }

  test("semDedup: planted twin dropped against its smaller-id original") {
    val dim = 16
    val v0 = vec(1, dim)
    val near = v0.updated(0, v0.head + 0.01f)
    val corpus = (Seq((0L, v0), (99L, near)) ++
      (1L to 50L).map(i => (i, vec(i + 100, dim)))).toDF("vec_id", "embedding")
    val cents = Similarity.ivfCentroidsTrained(corpus, nCells = 4, iters = 2)
    val out = Similarity.semDedup(corpus, threshold = 0.99, cents)
    val rows = out.collect().map(r => r.getAs[Long]("vec_id") ->
      (r.getAs[Boolean]("kept"), Option(r.getAs[Any]("dup_of")))).toMap
    // every row surfaces exactly once
    assert(rows.size === 52)
    // the twin (99) is dropped against 0; 0 itself is kept
    assert(rows(99L)._1 === false)
    assert(rows(99L)._2 === Some(0L))
    assert(rows(0L)._1 === true)
    // kept rows carry no dup_of
    assert(rows.filter(_._2._1).forall(_._2._2.isEmpty))
  }

  test("embedding near-dup multi-probe: superset of exact-bucket pairs, " +
      "recovers near-threshold pairs on the real table") {
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    def found(r: Int): Set[(Long, Long)] =
      Similarity.embeddingNearDupPairs(emb, threshold = 0.4, dim = 64,
          tables = 8, bits = 8, probeRadius = r)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exact0 = found(0)
    val probed = found(2)
    assert(exact0.subsetOf(probed),
      "radius-2 probing must never lose an exact-bucket pair")
    // near-threshold pairs straddle hyperplanes: exact-bucket collision
    // finds almost none of them (1/12 on sf0.01) — probing must find
    // strictly more, and every probed pair is exact-cosine verified
    assert(probed.size > exact0.size,
      s"probing found nothing new: exact=${exact0.size} probed=${probed.size}")
  }

  test("two-phase top-k agrees exactly with the window top-k") {
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 5)
    val window = Similarity.bruteForceTopK(queries, emb, k = 5)
      .select("query_id", "rank", "neighbor_id", "sim")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val twoPhase = Similarity.bruteForceTopKTwoPhase(queries, emb, k = 5)
      .select("query_id", "rank", "neighbor_id", "sim")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(twoPhase === window)
  }

  test("IVF top-k finds the planted twin; recall vs brute is usable") {
    val dim = 16
    val v0 = vec(1, dim)
    val near = v0.updated(0, v0.head + 0.01f)
    val corpus = (Seq((0L, v0), (99L, near)) ++
      (1L to 50L).map(i => (i, vec(i + 100, dim)))).toDF("vec_id", "embedding")
    val ann = Similarity.ivfTopK(
        corpus.filter(col("vec_id") === 0), corpus, k = 3,
        nCells = 4, nProbe = 2)
      .select("rank", "neighbor_id").as[(Int, Long)].collect().toMap
    assert(ann.get(1) === Some(99L), s"IVF should find the twin, got $ann")

    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(queries, emb, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(queries, emb, k = 5, nCells = 16, nProbe = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall > 0.5, s"IVF recall $recall too low")
  }

  test("k-means-refined centroids: deterministic, balanced, no recall loss") {
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    val stride = Similarity.ivfCentroids(emb, nCells = 16)
    val trained = Similarity.ivfCentroidsTrained(emb, nCells = 16, iters = 3)
    // the stride sampler yields corpus/50 centroids when the corpus is small
    // (sf0.001: 500 vectors -> 10 cells); training must preserve bank shape
    assert(trained.length === stride.length &&
      trained.forall(_.length === stride.head.length))

    // bit-determinism under a different partitioning (decimal-staged sums):
    // two independent call sites must derive the identical bank
    val trained2 = Similarity.ivfCentroidsTrained(
      emb.repartition(7), nCells = 16, iters = 3)
    assert(trained.map(_.toSeq).toSeq === trained2.map(_.toSeq).toSeq,
      "training must not depend on partitioning/fold order")

    // cell balance: no cell may approach a corpus scan
    val n = emb.count()
    def maxCell(bank: Array[Array[Double]]): Long =
      Similarity.ivfAssign(emb, bank).groupBy(col("cell")).count()
        .agg(max(col("count"))).head().getLong(0)
    val trainedMax = maxCell(trained)
    assert(trainedMax <= n / trained.length * 3,
      s"trained max cell $trainedMax vs ideal ${n / trained.length} unbalanced")

    // recall with the trained bank must not regress vs the stride bank
    val queries = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(queries, emb, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recallOf(bank: Array[Array[Double]]): Double = {
      val got = Similarity.ivfTopK(queries, emb, k = 5, nCells = 16,
          nProbe = 8, centroids = Some(bank))
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      (brute & got).size.toDouble / brute.size
    }
    // absolute floor, not trained-vs-stride: on this tiny corpus the stride
    // bank's unbalanced cells make 8-of-10 probes nearly a corpus scan
    // (recall 1.0 at brute-force cost) — the pathology training removes.
    // The >= 0.90 at-scale gate is p22's oracle at sf0.01.
    val rTrained = recallOf(trained)
    assert(rTrained >= 0.85, s"trained recall $rTrained below floor")
  }

  test("PQ: finds the planted twin, compresses to m codes, usable recall") {
    val dim = 16
    val v0 = vec(1, dim)
    val near = v0.updated(0, v0.head + 0.01f)
    val corpus = (Seq((0L, v0), (99L, near)) ++
      (1L to 50L).map(i => (i, vec(i + 100, dim)))).toDF("vec_id", "embedding")
    val smallBanks = Similarity.pqTrain(corpus, m = 4, nCodes = 8, iters = 2)
    val ann = Similarity.pqTopK(corpus.filter(col("vec_id") === 0), corpus,
        k = 3, banks = smallBanks)
      .select("rank", "neighbor_id").as[(Int, Long)].collect().toMap
    assert(ann.get(1) === Some(99L), s"PQ should find the twin, got $ann")

    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    val banks = Similarity.pqTrain(emb, m = 8, nCodes = 16)
    // compression shape: 64 floats -> 8 codes; decode restores the dims
    assert(banks.length === 8 && banks.forall(_.head.length === 8))
    val enc = Similarity.pqEncode(emb, banks)
    assert(enc.select(size(col("codes"))).distinct().as[Int].collect().toSeq
      === Seq(8))
    // training is bit-deterministic under a different partitioning
    val banks2 = Similarity.pqTrain(emb.repartition(7), m = 8, nCodes = 16)
    assert(banks.map(_.map(_.toSeq).toSeq).toSeq ===
      banks2.map(_.map(_.toSeq).toSeq).toSeq)

    val queries = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(queries, emb, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val pq = Similarity.pqTopK(queries, emb, k = 5, banks = banks)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute & pq).size.toDouble / brute.size
    assert(recall > 0.5, s"PQ recall $recall too low")
  }

  test("persisted PQ codes: probe parity with the fresh encode") {
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    val banks = Similarity.pqTrain(emb, m = 8, nCodes = 16)
    val dir = java.nio.file.Files.createTempDirectory("pq_codes_").toString
    Similarity.pqEncode(emb, banks).write.mode("overwrite").parquet(dir)
    val queries = emb.filter(col("vec_id") < 3)
    val fresh = Similarity.pqTopK(queries, emb, k = 5, banks = banks)
      .select("query_id", "rank", "neighbor_id").as[(Long, Int, Long)]
      .collect().toSet
    val probed = Similarity.pqTopK(queries, emb, k = 5, banks = banks,
        codes = Some(spark.read.parquet(dir)))
      .select("query_id", "rank", "neighbor_id").as[(Long, Int, Long)]
      .collect().toSet
    assert(probed === fresh)
  }

  test("IVF-PQ: recall comparable to PQ alone; persisted index parity") {
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    val cents = Similarity.ivfCentroidsTrained(emb, nCells = 16)
    val banks = Similarity.pqTrain(emb, m = 16, nCodes = 16)
    val queries = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(queries, emb, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val got = Similarity.ivfPqTopK(queries, emb, k = 5, cents, banks)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute & got).size.toDouble / brute.size
    assert(recall > 0.5, s"IVF-PQ recall $recall too low")
    // probing a persisted index yields the identical result
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_idx_").toString
    Similarity.ivfPqIndex(emb, cents, banks).write.mode("overwrite").parquet(dir)
    val probed = Similarity.ivfPqTopK(queries, emb, k = 5, cents, banks,
        index = Some(spark.read.parquet(dir)))
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(probed === got)
  }

  test("ivfTopK refuses a corpusIndex without its centroid bank") {
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    val cents = Similarity.ivfCentroids(emb, nCells = 16)
    val idx = Similarity.ivfAssign(emb, cents)
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfTopK(emb.filter(col("vec_id") < 2), emb, k = 5,
        corpusIndex = Some(idx))
    }
    assert(e.getMessage.contains("centroid bank"))
  }

  test("bucketPairs drops a degenerate bucket BEFORE collect_list") {
    // one boilerplate bucket with 500 members (over the cap) plus one small
    // bucket — the degenerate bucket must contribute zero pairs, and the cap
    // must be applied by a row-level filter below the aggregate so the huge
    // bucket never enters a collect_list buffer
    val rows = ((1L to 500L).map(i => (i, 0, 777L)) ++
      Seq((900L, 1, 5L), (901L, 1, 5L), (902L, 1, 5L)))
      .toDF("id", "band", "bucket")
    val pairs = Dedup.bucketPairs(rows, Seq("band", "bucket"), maxBucketSize = 100)
    val got = pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got === Set((900L, 901L), (900L, 902L), (901L, 902L)))

    // plan shape: the __n cap filter must sit BELOW (after, in print order)
    // the collect_list aggregate — printed tree is parent-first, so the
    // aggregate appears before the filter it consumes from
    val plan = pairs.queryExecution.executedPlan.toString
    val aggAt = plan.indexOf("collect_list")
    val filterAt = plan.indexOf("Filter")
    assert(aggAt >= 0 && filterAt >= 0, s"missing operators in plan:\n$plan")
    assert(plan.substring(filterAt).contains("__n"),
      s"cap filter is not on the windowed per-bucket count:\n$plan")
    assert(aggAt < filterAt,
      s"cap filter must be below the collect_list aggregate:\n$plan")
  }

  test("bucketPairs pair set is unchanged when no bucket exceeds the cap") {
    // cap-before vs cap-after must agree whenever the cap doesn't bite:
    // compare against an uncapped reference expansion computed in Scala
    val rows = (1L to 40L).map(i => (i, (i % 7).toInt, i % 5))
      .toDF("id", "band", "bucket")
    val got = Dedup.bucketPairs(rows, Seq("band", "bucket"), maxBucketSize = 100)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val expected = (1L to 40L).map(i => ((i % 7).toInt, i % 5) -> i)
      .groupBy(_._1).values.flatMap { grp =>
        val ids = grp.map(_._2)
        for (a <- ids; b <- ids if a < b) yield (a, b)
      }.toSet
    assert(got === expected)
  }

  test("minhash/simhash pair sets on sf0.001 documents are stable") {
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val mh = Dedup.minhashPairs(docs, "doc_id", "text")
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // maxHamming = 3 pins the historical verify threshold the set was
    // computed at (round 2); the round-6 band widening must ADD candidates
    // only beyond Hamming 3, never change the surviving pairs within it
    val sh = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // pinned from the pre-cap-reorder implementation (round 2): the
    // window-cap rewrite must not change any surviving pair
    assert(mh === DedupSimilaritySpec.pinnedMinhashPairs, s"minhash drifted: $mh")
    assert(sh === DedupSimilaritySpec.pinnedSimhashPairs, s"simhash drifted: $sh")
  }

  test("LSH recall vs brute force on real embeddings is usable (>0.5)") {
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(queries, emb, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ann = Similarity.lshTopK(queries, emb, k = 5, dim = 64,
        tables = 8, bits = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute & ann).size.toDouble / brute.size
    assert(recall > 0.5, s"recall $recall too low")
  }

  test("persisted passage index: probe parity, incremental append, " +
      "exchange-free fp aggregation") {
    import graft.operators.Dedup
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val half = docs.count() / 2
    val existing = docs.filter(col("doc_id") < half)
    val batch1 = docs.filter(col("doc_id") >= half && col("doc_id") < half + 10)
    val batch2 = docs.filter(col("doc_id") >= half + 10)
    Dedup.writePassageIndex(existing, "doc_id", "text", "passage_idx_t")
    // probing the persisted table must equal probing the in-plan index
    val probe = docs.filter(col("doc_id") >= half)
    def stats(p: org.apache.spark.sql.DataFrame,
        idx: org.apache.spark.sql.DataFrame) =
      Dedup.duplicatePassageStatsIncremental(p, "doc_id", "text", idx)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(stats(probe, spark.table("passage_idx_t")) ===
      stats(probe, Dedup.passageWindowIndex(existing, "doc_id", "text")))
    // incremental append: probing after two appends must equal probing a
    // from-scratch index over the union
    Dedup.appendPassageIndex(batch1, "doc_id", "text", "passage_idx_t")
    Dedup.appendPassageIndex(batch2, "doc_id", "text", "passage_idx_t")
    val replayed = docs.filter(col("doc_id") < 5)
      .select((col("doc_id") + 50000).as("doc_id"), col("text"))
    assert(stats(replayed, spark.table("passage_idx_t")) ===
      stats(replayed, Dedup.passageWindowIndex(docs, "doc_id", "text")))
    // the file bucketing must cluster fp: keyed aggregation runs with NO
    // shuffle exchange (the standing side of the probe never re-shuffles)
    val agg = spark.table("passage_idx_t").groupBy("fp").count()
    agg.collect()
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"fp-keyed aggregation over the persisted index still shuffles:\n$plan")
  }

  test("persisted minhash band index: probe parity, append, exchange-free " +
      "band aggregation") {
    import graft.operators.Dedup
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val half = docs.count() / 2
    val existing = docs.filter(col("doc_id") < half)
    val later = docs.filter(col("doc_id") >= half)
    Dedup.writeMinhashBandIndex(existing, "doc_id", "text", "mh_band_idx_t")
    // replayed docs guarantee cross-set hits; probing the persisted table
    // must equal probing the in-plan index
    val probe = docs.filter(col("doc_id") < 5)
      .select((col("doc_id") + 70000).as("doc_id"), col("text"))
    def pairs(idx: org.apache.spark.sql.DataFrame,
        old: org.apache.spark.sql.DataFrame) =
      Dedup.minhashPairsIncremental(probe, "doc_id", "text", idx, old,
          threshold = 0.4)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val fromTable = pairs(spark.table("mh_band_idx_t"), existing)
    assert(fromTable ===
      pairs(Dedup.minhashBandIndex(existing, "doc_id", "text"), existing))
    assert(fromTable.nonEmpty, "replayed probes must hit the corpus")
    // append: probing the appended table over the union's docs must equal
    // a from-scratch index over the union
    Dedup.appendMinhashBandIndex(later, "doc_id", "text", "mh_band_idx_t")
    assert(pairs(spark.table("mh_band_idx_t"), docs) ===
      pairs(Dedup.minhashBandIndex(docs, "doc_id", "text"), docs))
    // band-keyed aggregation over the persisted index runs with NO shuffle
    val agg = spark.table("mh_band_idx_t").groupBy("band", "bucket").count()
    agg.collect()
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"band-keyed aggregation over the persisted index still shuffles:\n$plan")
  }

  test("persisted LSH index: probe parity and exchange-free bucket aggregation") {
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 5)
    Similarity.writeLshIndex(emb, "lsh_idx_t", tables = 8, bits = 6, dim = 64)
    val idx = spark.table("lsh_idx_t")

    // probing the persisted index must equal probing a fresh in-plan index
    val fresh = Similarity.lshTopK(queries, emb, k = 5, dim = 64,
        tables = 8, bits = 6, multiProbe = true)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val probed = Similarity.lshTopK(queries, emb, k = 5, dim = 64,
        tables = 8, bits = 6, multiProbe = true, corpusIndex = Some(idx))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(probed === fresh)

    // the index's file bucketing must satisfy (table, bucket) clustering:
    // an aggregation on those keys runs with NO shuffle exchange
    val agg = idx.groupBy("table", "bucket").count()
    agg.collect()
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bucket-keyed aggregation over the persisted index still shuffles:\n$plan")

    // near-dup candidate generation accepts the same persisted index
    val pairsFresh = Similarity.embeddingNearDupPairs(emb, threshold = 0.3,
        dim = 64, tables = 8, bits = 6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val pairsIdx = Similarity.embeddingNearDupPairs(emb, threshold = 0.3,
        dim = 64, tables = 8, bits = 6, corpusIndex = Some(idx))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairsIdx === pairsFresh)
  }

  test("Graph.stats: K4 plus a pendant edge, messy input normalized") {
    import graft.operators.Graph
    // K4 on {1,2,3,4} + pendant 5-1; fed unnormalized: reversed pairs,
    // a duplicate edge, and a self-loop must all be ignored
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (3L, 2L), (2L, 4L),
      (3L, 4L), (5L, 1L), (2L, 1L), (4L, 4L)).toDF("id_a", "id_b")
    val r = Graph.stats(pairs).head()
    assert(r.getLong(0) === 5, "nodes")        // {1,2,3,4,5}
    assert(r.getLong(1) === 7, "edges")        // 6 in K4 + pendant
    // degrees: 1→4, 2/3/4→3, 5→1 ⇒ wedges = C(4,2) + 3·C(3,2) = 15
    assert(r.getLong(2) === 15, "wedges")
    assert(r.getLong(3) === 4, "triangles")    // the 4 faces of K4
    assert(r.getDouble(4) === 12.0 / 15.0, "clustering")
  }

  test("kCore: triangle survives 2-core, attached chain dissolves; " +
      "3-core of it is empty") {
    import graft.operators.Graph
    // triangle {1,2,3} with a chain 3-4-5-6 hanging off it
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 1L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("id_a", "id_b")
    val core2 = Graph.kCore(pairs, k = 2).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(core2 === Seq((1L, 2L), (2L, 2L), (3L, 2L)))
    assert(Graph.kCore(pairs, k = 3).count() === 0L)
  }

  test("coreness: triangle+chain layers; >=2 slice equals p71's 2-core") {
    import graft.operators.Graph
    // triangle {1,2,3} (coreness 2) with a chain 3-4-5-6 (coreness 1)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 1L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("id_a", "id_b")
    val cor = Graph.coreness(pairs)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(cor === Map(1L -> 2, 2L -> 2, 3L -> 2, 4L -> 1, 5L -> 1, 6L -> 1))
    // on the registry graph, the coreness-≥2 slice IS the unique 2-core
    val decomposed = graft.queries.Pipeline.p74Coreness(spark, sfDir)
      .filter(col("coreness") >= 2)
      .select("id").as[Long].collect().toSet
    val core2ids = graft.queries.Pipeline.p71KCore(spark, sfDir)
      .select("id").as[Long].collect().toSet
    assert(decomposed === core2ids,
      "coreness-≥2 slice must equal the k=2 core's node set")
  }

  test("appendIvfIndex: incremental batches probe identically to a " +
      "from-scratch index over the union") {
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    val cents = Similarity.ivfCentroidsTrained(emb, nCells = 16)
    val queries = emb.filter(col("vec_id") < 5)
    // build on the first half, append the second half in two batches
    val n = emb.count()
    Similarity.writeIvfIndex(emb.filter(col("vec_id") < n / 2),
      "ivf_inc_t", cents)
    Similarity.appendIvfIndex(
      emb.filter(col("vec_id") >= n / 2 && col("vec_id") < 3 * n / 4),
      "ivf_inc_t", cents)
    Similarity.appendIvfIndex(emb.filter(col("vec_id") >= 3 * n / 4),
      "ivf_inc_t", cents)
    // the appended index holds exactly the full assignment
    assert(spark.table("ivf_inc_t").count() === n)
    // probe parity with a from-scratch index over the whole corpus
    def probe(idx: org.apache.spark.sql.DataFrame): Set[(Long, Int, Long)] =
      Similarity.ivfTopK(queries, emb, k = 5, nCells = 16, nProbe = 8,
          centroids = Some(cents), corpusIndex = Some(idx))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val direct = probe(Similarity.ivfAssign(emb, cents))
    assert(probe(spark.table("ivf_inc_t")) === direct)
    // bucket-keyed aggregation over the appended table stays exchange-free
    val plan = spark.table("ivf_inc_t").groupBy("cell").count()
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"append must preserve the bucket layout:\n$plan")
  }

  test("persisted IVF index + precomputed centroids: probe parity") {
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 5)
    val cents = Similarity.ivfCentroids(emb, nCells = 16)
    Similarity.writeIvfIndex(emb, "ivf_idx_t", cents)
    val fresh = Similarity.ivfTopK(queries, emb, k = 5, nCells = 16, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val probed = Similarity.ivfTopK(queries, emb, k = 5, nCells = 16,
        nProbe = 8, centroids = Some(cents),
        corpusIndex = Some(spark.table("ivf_idx_t")))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(probed === fresh)
  }

  test("multi-probe LSH dominates single-probe recall at fine buckets") {
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(queries, emb, k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recallAt(mp: Boolean): Double = {
      val ann = Similarity.lshTopK(queries, emb, k = 5, dim = 64,
          tables = 8, bits = 6, multiProbe = mp)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      (brute & ann).size.toDouble / brute.size
    }
    val (single, multi) = (recallAt(false), recallAt(true))
    assert(multi >= single, s"multi-probe $multi worse than single $single")
    assert(multi > 0.5, s"multi-probe recall $multi too low at bits=6")
  }
}

object DedupSimilaritySpec {
  /** Pair sets on sf0.001 documents, dumped from the round-2 implementation
    * (cap applied after collect_list) and verified identical under the
    * round-3 window-cap rewrite. Default params of minhashPairs/simhashPairs. */
  val pinnedMinhashPairs: Set[(Long, Long)] = Set(
    (0L, 50L), (0L, 82L), (5L, 450L), (8L, 12L), (8L, 120L), (8L, 360L),
    (12L, 120L), (12L, 360L), (16L, 369L), (26L, 176L), (33L, 436L),
    (45L, 487L), (50L, 82L), (56L, 157L), (77L, 459L), (89L, 114L),
    (99L, 174L), (110L, 467L), (119L, 425L), (120L, 360L), (144L, 161L),
    (211L, 404L), (229L, 263L), (260L, 391L), (270L, 329L), (328L, 428L),
    (349L, 411L), (474L, 498L))
  val pinnedSimhashPairs: Set[(Long, Long)] = Set(
    (0L, 82L), (5L, 450L), (8L, 12L), (8L, 120L), (8L, 360L), (12L, 120L),
    (12L, 360L), (16L, 369L), (16L, 399L), (26L, 176L), (35L, 144L),
    (35L, 161L), (45L, 487L), (56L, 157L), (77L, 363L), (77L, 459L),
    (99L, 174L), (120L, 360L), (144L, 161L), (144L, 175L), (144L, 381L),
    (161L, 175L), (161L, 381L), (162L, 190L), (175L, 215L), (175L, 246L),
    (194L, 388L), (211L, 404L), (260L, 391L), (270L, 329L), (328L, 428L),
    (349L, 411L), (474L, 498L))
}
