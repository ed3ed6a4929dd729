package graft

import graft.operators.Curation
import graft.streaming.EventStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Regressions for the round-1 advice findings: hashSplit overflow at large
  * ids, float split-boundary drift, null elements in token_shingles, and
  * out-of-order events regressing sessionization state. */
class AdviceRegressionSpec extends SparkSpec {
  import spark.implicits._

  test("hashSplit: ids beyond 2^32 neither overflow nor diverge from the reduced arithmetic") {
    // 9e18 * 2654435761 would wrap a signed 64-bit; the reduced form must not.
    val ids = Seq(0L, 1L, 3470000000L, 9000000000000000000L, Long.MaxValue)
    val got = Curation.hashSplit(ids.toDF("id"), "id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select("id", "split").as[(Long, String)].collect().toMap
    val p = 1000000007L
    ids.foreach { id =>
      val bucket = (((id % p) * 2654435761L) % p) % 1000
      val want = if (bucket < 800) "train" else if (bucket < 900) "val" else "test"
      assert(got(id) === want, s"id=$id bucket=$bucket")
    }
  }

  test("hashSplit: negative ids agree with the sign-safe oracle arithmetic") {
    // Spark's pmod is always non-negative; the oracle SQL mirrors it with
    // ((id % p) + p) % p. Both sides of that equivalence are pinned here.
    val ids = Seq(-1L, -1000000007L, -3470000000L, Long.MinValue + 1)
    val got = Curation.hashSplit(ids.toDF("id"), "id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select("id", "split").as[(Long, String)].collect().toMap
    val p = 1000000007L
    ids.foreach { id =>
      val bucket = ((((id % p) + p) % p * 2654435761L) % p) % 1000
      val want = if (bucket < 800) "train" else if (bucket < 900) "val" else "test"
      assert(bucket >= 0)
      assert(got(id) === want, s"id=$id bucket=$bucket")
    }
  }

  test("hourlyTypeCounts decimal staging keeps values >= 1e8 in the sum") {
    // DECIMAL(12,4) would NULL a 2.5e8 value under non-ANSI casts and drop
    // it silently from total_value; the widened (20,4) stage must not
    val ts = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val events = Seq(
      (1L, ts, 1L, "big", 2.5e8, "{}"),
      (2L, ts, 2L, "big", 1.5, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = EventStream.hourlyTypeCounts(events)
      .select("total_value").as[Double].head()
    assert(got === 2.5e8 + 1.5, s"out-of-DECIMAL(12,4)-domain value lost: $got")
  }

  test("hashSplit: 0.7/0.15/0.15 boundary bucket 850 lands in the later split") {
    // cumulative 0.7+0.15 = 0.8500000000000001 in doubles; the integer cut is
    // 850, so a bucket of exactly 850 belongs to the LAST split, not 'val'.
    val p = 1000000007L
    def bucket(id: Long): Long = (((id % p) * 2654435761L) % p) % 1000
    val boundaryId = (0L to 200000L).find(bucket(_) == 850L).get
    val got = Curation.hashSplit(Seq(boundaryId).toDF("id"), "id",
        Seq("a" -> 0.7, "b" -> 0.15, "c" -> 0.15))
      .select("split").as[String].head()
    assert(got === "c", s"bucket-850 id $boundaryId assigned to $got")
  }

  test("ivfTopK refuses a corpusIndex without its centroid bank") {
    // r4 advice: probing a persisted index under a RECOMPUTED centroid bank
    // silently collapses recall — the operator must demand the bank
    val corpus = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      graft.operators.Similarity.ivfTopK(corpus, corpus, k = 1,
        corpusIndex = Some(corpus.withColumn("cell", lit(0))))
    }
    assert(e.getMessage.contains("centroid bank"))
  }

  test("token_shingles skips null elements like simhash/minhash") {
    graft.functions.GraftFunctions.register(spark)
    val got = spark.sql(
      "SELECT token_shingles(array('a', CAST(NULL AS STRING), 'b', 'c'), 2)")
      .as[Seq[String]].head()
    assert(got === Seq("a b", "b c"))
    val short = spark.sql(
      "SELECT token_shingles(array(CAST(NULL AS STRING), 'x'), 2)")
      .as[Seq[String]].head()
    assert(short === Seq("x")) // one non-null token -> short-doc fallback
  }

  test("sessionize: an out-of-order event in a later micro-batch does not regress the session frontier") {
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long)] // (user_id, us)
    val events = mem.toDF().toDF("user_id", "us")
      .select(col("user_id"), timestamp_micros(col("us")).as("ts"))
    val q = EventStream.sessionize(events, gapMinutes = 30).toDF()
      .writeStream.outputMode("append").format("memory")
      .queryName("ooo_sessions").start()
    def us(sec: Long) = sec * 1000000L
    try {
      mem.addData((1L, us(0)), (1L, us(1700)))
      q.processAllAvailable()
      // 100s is BEHIND the frontier (1700s); 3400s is 1700s after the true
      // frontier — within the 1800s gap, so still the same session. The old
      // code reset lastUs to 100s and wrongly split at 3400s.
      mem.addData((1L, us(100)), (1L, us(3400)))
      q.processAllAvailable()
      mem.addData((1L, us(10000))) // far gap: closes the open session
      q.processAllAvailable()
      val sessions = spark.table("ooo_sessions")
        .select("session_id", "n_events").as[(Long, Long)].collect().toSet
      assert(sessions === Set((1L, 4L)),
        s"expected one 4-event session, got $sessions")
    } finally q.stop()
  }

  test("containmentIncremental: a batch doc whose id already exists in the " +
      "corpus emits no self-pair and no duplicate directed pairs") {
    // Redelivered/re-crawled doc: id 1 is in BOTH the corpus index and the
    // batch, with identical text. Without the cross-arm id_a =!= id_b guard
    // this emitted (1, 1, 1.0).
    val corpus = Seq(
      (1L, "alpha beta gamma delta eps zeta eta theta"),
      (2L, "iota kappa lambda mu nu xi omicron pi")).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "alpha beta gamma delta eps zeta eta theta"),
      (3L, "alpha beta gamma delta eps")).toDF("doc_id", "text")
    val index = graft.operators.Dedup.containmentOrderedAll(
      graft.operators.Dedup.jaccardShingleSets(corpus, "doc_id", "text"))
    val pairs = graft.operators.Dedup
      .containmentIncremental(batch, index, "doc_id", "text", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(!pairs.contains((1L, 1L)), s"self-pair emitted: $pairs")
    assert(pairs.size === pairs.distinct.size,
      s"duplicate directed pairs emitted: $pairs")
    // the redelivered doc still matches its corpus twin's neighbors: 3 ⊆ 1
    assert(pairs.contains((3L, 1L)), s"expected (3, 1) in $pairs")
  }

  test("streaming k-means refuses ragged batch vectors before any state write") {
    import java.nio.file.Files
    import graft.streaming.KMeansStream
    val root = Files.createTempDirectory("kmragged_").toString
    val (state, out) = (s"$root/state", s"$root/out")
    KMeansStream.writeSeedState(spark, state,
      Array(Array(0.0, 0.0), Array(10.0, 10.0)))
    // longer than the seeded dim: pos 2 has no seeded (cell, pos) key
    val eLong = intercept[Exception] {
      KMeansStream.advanceBatch(spark, state, out, "id", "v")(
        Seq((1L, Array(1.0, 1.0, 1.0))).toDF("id", "v"), 0L)
    }
    assert(eLong.getMessage.contains("dimensionality"), eLong.getMessage)
    // shorter: would silently skew the running mean without the guard
    val eShort = intercept[Exception] {
      KMeansStream.advanceBatch(spark, state, out, "id", "v")(
        Seq((1L, Array(1.0)), (2L, Array(1.0, 1.0))).toDF("id", "v"), 0L)
    }
    assert(eShort.getMessage.contains("ragged"), eShort.getMessage)
    // neither failed batch may have written a state delta or output
    val deltas = new java.io.File(state).listFiles()
      .map(_.getName).filter(_.matches("v\\d+")).sorted.toSeq
    assert(deltas === Seq("v0"), s"failed batches wrote state: $deltas")
    assert(!new java.io.File(s"$out/b0").exists(),
      "failed batch wrote output")
    // a clean batch still advances normally after the failures
    KMeansStream.advanceBatch(spark, state, out, "id", "v")(
      Seq((1L, Array(1.0, 1.0))).toDF("id", "v"), 0L)
    assert(new java.io.File(s"$state/v1").exists())
  }

  test("bloomFillAt materializes zero-fill hash rows: an empty store reads " +
      "as k rows of fill 0 / fp 0, not an empty frame") {
    import java.nio.file.Files
    import graft.streaming.SketchStream
    val root = Files.createTempDirectory("bloomfill0_").toString
    SketchStream.writeStandingBloom(spark, root,
      Seq.empty[String].toDF("gram"), "gram", k = 4, m = 256)
    val rows = SketchStream.bloomFillAt(spark, root, k = 4, m = 256)
      .select("j", "fill", "fp_rate").as[(Int, Double, Double)]
      .collect().sortBy(_._1)
    assert(rows.map(_._1).toSeq === Seq(0, 1, 2, 3),
      s"every hash row must be present: ${rows.toSeq}")
    assert(rows.forall(r => r._2 === 0.0 && r._3 === 0.0),
      s"empty store must read fill 0 / fp 0: ${rows.toSeq}")
  }

  test("writeStandingBloom refuses a root still holding deltas (mixed-" +
      "parameter fold guard); a v0-only re-run stays allowed") {
    import java.nio.file.Files
    import graft.streaming.SketchStream
    val root = Files.createTempDirectory("bloomlive_").toString
    val grams = (0 until 50).map(i => s"g$i").toDF("gram")
    SketchStream.writeStandingBloom(spark, root, grams, "gram", k = 4, m = 256)
    // exact re-run over v0 alone: allowed (deterministic overwrite)
    SketchStream.writeStandingBloom(spark, root, grams, "gram", k = 4, m = 256)
    SketchStream.advanceBatchBloom(spark, root, "gram", k = 4, m = 256)(
      (50 until 60).map(i => s"g$i").toDF("gram"), 0L)
    // root now holds v0 + v1: a fresh standing write under DIFFERENT
    // parameters would leave v1's 256-bit positions folding under m=512
    val e = intercept[IllegalArgumentException] {
      SketchStream.writeStandingBloom(spark, root, grams, "gram",
        k = 4, m = 512)
    }
    assert(e.getMessage.contains("standing write"), e.getMessage)
  }

  test("standing-write live-root guard is family-wide: every store's " +
      "writeStanding refuses a root holding deltas") {
    import java.nio.file.Files
    import graft.streaming.{AHashStream, PcaStream, Versions}
    val emb = sources.Tables.embeddings(spark, sfDir)
    // PCA moments store
    val pcaRoot = Files.createTempDirectory("pcaguard_").toString + "/m"
    PcaStream.writeStanding(spark, pcaRoot, emb.filter(col("vec_id") < 50))
    PcaStream.advanceBatch(spark, pcaRoot)(
      emb.filter(col("vec_id") >= 50 && col("vec_id") < 80), 0L)
    val ePca = intercept[IllegalArgumentException] {
      PcaStream.writeStanding(spark, pcaRoot, emb.filter(col("vec_id") < 50))
    }
    assert(ePca.getMessage.contains("standing write"), ePca.getMessage)
    // image-hash store
    import graft.multimodal.Multimodal
    val images = Multimodal.fromDocuments(spark,
        sources.Tables.documents(spark, sfDir), onlyKind = Some("image"))
      .filter(_.media_id < 60).toDF()
      .select(col("media_id"), col("payload")).localCheckpoint(true)
    val ahRoot = Files.createTempDirectory("ahguard_").toString + "/idx"
    AHashStream.writeStanding(spark, ahRoot, images)
    // simulate a live delta directly — the guard reads the version layout
    spark.read.parquet(s"$ahRoot/v0").write.parquet(s"$ahRoot/v1")
    val eAh = intercept[IllegalArgumentException] {
      AHashStream.writeStanding(spark, ahRoot, images)
    }
    assert(eAh.getMessage.contains("standing write"), eAh.getMessage)
    // the shared guard itself: fresh and v0-only roots pass
    Versions.guardStandingWrite(spark,
      Files.createTempDirectory("fresh_").toString + "/nothing")
    Versions.guardStandingWrite(spark, pcaRoot.stripSuffix("/m") + "/m2")
  }

  test("spec lifecycle across the id stores: the read after compactStore " +
      "equals the read before it, a tombstoned id absent from both") {
    import java.nio.file.Files
    import org.apache.spark.sql.DataFrame
    import graft.streaming.{AHashStream, IvfStream, MediaFpStream,
      NearDupStream, PqStream, Versions}
    import graft.operators.{Dedup, IvfRelational, Similarity}
    // one standing write + one appended batch (two versions to fold),
    // then a takedown of a standing id at batch 1 and compactStore(1);
    // every read leads with the store's id column
    final case class Store(name: String, reads: Seq[() => DataFrame],
        victim: Long, tombstone: () => Unit, compact: () => Unit)
    def dir(p: String) = Files.createTempDirectory(p).toString
    def masked(root: String, idCol: String): DataFrame =
      Versions.maskTombstones(spark, root, spark.read.parquet(
        Versions.list(spark, root).map(_._2.toString): _*), idCol)
    val media = (0L until 30L).map(i => (i, s"payload-${i % 25}".getBytes))
      .toDF("media_id", "payload")
    val hash = (df: DataFrame, id: String, payload: String) =>
      df.select(col(id).as("media_id"), xxhash64(col(payload)).as("ahash"))
    val ahRoot = dir("spec_ah_")
    AHashStream.writeStanding(spark, ahRoot,
      media.filter(col("media_id") < 20), hasher = hash)
    AHashStream.filterBatch(spark, ahRoot, s"$ahRoot.out", "media_id",
      "payload", hasher = hash)(media.filter(col("media_id") >= 20), 0L)
    val fp = (df: DataFrame) =>
      df.select(col("media_id"), xxhash64(col("payload")).as("fp"))
    val fpRoot = dir("spec_fp_")
    MediaFpStream.writeStanding(spark, fpRoot,
      media.filter(col("media_id") < 20), fp)
    MediaFpStream.filterBatch(spark, fpRoot, s"$fpRoot.out", fp)(
      media.filter(col("media_id") >= 20), 0L)
    val emb = (0L until 48L).map(i =>
      (i, Array.tabulate(8)(d => ((i * 7 + d * 3) % 11).toFloat)))
      .toDF("vec_id", "embedding")
    val standing = emb.filter(col("vec_id") < 40)
    val batch = emb.filter(col("vec_id") >= 40)
    val ivf = dir("spec_ivf_")
    IvfStream.writeStanding(spark, s"$ivf/bank", s"$ivf/idx", standing,
      IvfRelational.trainBank(standing, nCells = 2, iters = 1, stride = 10))
    IvfStream.appendBatch(spark, s"$ivf/bank", s"$ivf/idx", s"$ivf/out",
      "vec_id", "embedding")(batch, 0L)
    val pq = dir("spec_pq_")
    PqStream.writeStanding(spark, s"$pq/book", s"$pq/codes", standing,
      Similarity.pqTrain(standing, m = 2, nCodes = 4, iters = 1))
    PqStream.appendBatch(spark, s"$pq/book", s"$pq/codes", s"$pq/out",
      "vec_id", "embedding")(batch, 0L)
    val texts = (0L until 36L).map(i =>
      (i, s"shared words about topic ${i % 9} and more words ${i % 5}"))
      .toDF("doc_id", "text")
    val nd = dir("spec_nd_")
    Dedup.minhashBandIndex(texts.filter(col("doc_id") < 30), "doc_id",
      "text").write.parquet(s"$nd/idx/v0")
    texts.filter(col("doc_id") < 30).write.parquet(s"$nd/docs/v0")
    NearDupStream.filterBatch(spark, s"$nd/idx", s"$nd/docs", s"$nd/out",
      "doc_id", "text")(texts.filter(col("doc_id") >= 30), 0L)
    val stores = Seq(
      Store("aHash", Seq(() => AHashStream.readIndex(spark, ahRoot)), 3L,
        () => AHashStream.tombstone(spark, ahRoot, Seq(3L), 1L),
        () => AHashStream.compactStore(spark, ahRoot, 1L)),
      Store("media-fp", Seq(() => MediaFpStream.readIndex(spark, fpRoot)),
        3L, () => MediaFpStream.tombstone(spark, fpRoot, Seq(3L), 1L),
        () => MediaFpStream.compactStore(spark, fpRoot, 1L)),
      Store("IVF", Seq(() => IvfStream.readIndex(spark, s"$ivf/idx")), 5L,
        () => IvfStream.tombstone(spark, s"$ivf/idx", Seq(5L), 1L),
        () => IvfStream.compactStore(spark, s"$ivf/idx", 1L)),
      Store("PQ", Seq(() => PqStream.readCodes(spark, s"$pq/codes")), 5L,
        () => PqStream.tombstone(spark, s"$pq/codes", Seq(5L), 1L),
        () => PqStream.compactStore(spark, s"$pq/codes", 1L)),
      Store("near-dup", Seq(() => masked(s"$nd/idx", "id"),
          () => masked(s"$nd/docs", "doc_id")), 4L,
        () => NearDupStream.tombstone(spark, s"$nd/idx", s"$nd/docs",
          Seq(4L), 1L),
        () => NearDupStream.compactStores(spark, s"$nd/idx", s"$nd/docs",
          1L)))
    def rows(df: DataFrame): Set[Seq[Any]] =
      df.collect().map(_.toSeq.map {
        case a: scala.collection.Seq[_] => a.toList
        case v => v
      }).toSet
    stores.foreach { s =>
      val live = s.reads.map(r => rows(r()))
      assert(live.forall(_.exists(_.head == s.victim)),
        s"${s.name}: fixture lacks the id")
      s.tombstone()
      val before = s.reads.map(r => rows(r()))
      s.compact()
      val after = s.reads.map(r => rows(r()))
      assert(after === before, s"${s.name}: compaction changed the read")
      assert(before.forall(!_.exists(_.head == s.victim)),
        s"${s.name}: tombstoned id still read")
      assert(before.zip(live).forall { case (b, l) => b.size < l.size },
        s"${s.name}: the takedown masked nothing")
    }
  }

  test("a rewritten _params pin is re-read, not served through a stale " +
      "cached schema: the next check refuses by name") {
    import org.apache.spark.sql.DataFrame
    import graft.streaming.SketchStream
    val root = java.nio.file.Files.createTempDirectory("pin_").toString
    val vals = (0 until 200).map(i => ("g", s"v$i")).toDF("grp", "val")
    SketchStream.writeStanding(spark, root, vals, Seq("grp"), "val", p = 8)
    // the check runs once in this JVM, caching whatever it caches
    assert(SketchStream.distinctAt(spark, root, Seq("grp"), p = 8)
      .count() === 1L)
    def repin(rows: DataFrame): Unit =
      rows.coalesce(1).write.mode("overwrite").parquet(s"$root/_params")
    // rewrite the pin under a long-valued schema, then an int-valued one:
    // each next check must read the NEW file and refuse by name
    repin(Seq(("p", 10L)).toDF("k", "v"))
    val eLong = intercept[IllegalArgumentException] {
      SketchStream.distinctAt(spark, root, Seq("grp"), p = 8)
    }
    assert(eLong.getMessage.contains("mismatch") &&
      eLong.getMessage.contains("p -> 10"), eLong.getMessage)
    repin(Seq(("p", 12)).toDF("k", "v"))
    val eInt = intercept[IllegalArgumentException] {
      SketchStream.distinctAt(spark, root, Seq("grp"), p = 8)
    }
    assert(eInt.getMessage.contains("mismatch") &&
      eInt.getMessage.contains("p -> 12"), eInt.getMessage)
  }

  test("isolated re-run selection: an empty prior adds no entries; with a " +
      "prior, unnamed queries over 2 s join under the 25-entry cap") {
    val meds = (0 until 40).map(i => (s"q$i", 3.0 + i)) :+ ("p1" -> 9.0)
    assert(Bench.isolatedReruns(meds, Map.empty) === Seq.empty)
    val sel = Bench.isolatedReruns(meds :+ ("p2" -> 1.0),
      Map("p1" -> 3.0, "p2" -> 1.0))
    // p1 read 3x its prior: mandatory, first; then the unnamed q*, slowest
    // first, up to the cap
    assert(sel.size === 25)
    assert(sel.head === (("p1", 9.0, 3.0)))
    assert(sel.tail.map(_._1) === (39 to 16 by -1).map(i => s"q$i"))
    assert(!sel.exists(_._1 == "p2"))
    assert(Bench.isolatedReruns(Seq("q" -> 2.5, "r" -> 1.5),
      Map("p" -> 1.0)).map(_._1) === Seq("q"))
  }

  test("bloomBits/bloomMasks agree that m below 64 is out of contract") {
    // a power of two in {2..32} used to pass bloomBits' check and then
    // allocate ZERO mask words (m/64 = 0) in bloomMasks -> AIOOBE
    val grams = Seq("a", "b").toDF("gram")
    val eBits = intercept[IllegalArgumentException] {
      graft.operators.Profiling.bloomBits(grams, "gram", k = 2, m = 32)
    }
    assert(eBits.getMessage.contains("64"), eBits.getMessage)
    val bits = graft.operators.Profiling.bloomBits(grams, "gram", k = 2, m = 64)
    val eMasks = intercept[IllegalArgumentException] {
      graft.operators.Profiling.bloomMasks(bits, k = 2, m = 32)
    }
    assert(eMasks.getMessage.contains("64"), eMasks.getMessage)
    assert(graft.operators.Profiling.bloomMasks(bits, 2, 64)
      .forall(_.length === 1))
  }

  test("intervalOverlap raises on times outside [0, 2^53) instead of " +
      "silently mis-binning") {
    val l = Seq((1L, 0L, 10L)).toDF("k", "ls", "le")
    val r = Seq((1L, 5L, 15L)).toDF("k", "rs", "re")
    // the valid domain still joins exactly
    val ok = graft.operators.Joins.intervalOverlap(
      l, r, Seq("k"), "ls", "le", "rs", "re", binWidth = 4L).count()
    assert(ok === 1L)
    val lNeg = Seq((1L, -8L, 10L)).toDF("k", "ls", "le")
    val eNeg = intercept[Exception] {
      graft.operators.Joins.intervalOverlap(
        lNeg, r, Seq("k"), "ls", "le", "rs", "re", binWidth = 4L).count()
    }
    assert(eNeg.getMessage.contains("2^53"),
      s"negative time must raise: ${eNeg.getMessage}")
    val big = 1L << 53
    val lBig = Seq((1L, big, big + 10L)).toDF("k", "ls", "le")
    val eBig = intercept[Exception] {
      graft.operators.Joins.intervalOverlap(
        lBig, r, Seq("k"), "ls", "le", "rs", "re", binWidth = 4L).count()
    }
    assert(eBig.getMessage.contains("2^53"),
      s"time >= 2^53 must raise: ${eBig.getMessage}")
  }

  test("hammingPairs64 uncapped: a degenerate equal-hash class (all-zero " +
      "hashes) emits its complete pair set without banding blowup, and " +
      "mixed sets match brute force (r12 advice)") {
    import graft.operators.Dedup
    // 40 items hashing to 0 (uniform/black media), plus a near cluster
    // and a far outlier — the degenerate class collides on ALL 28 bands
    val rows =
      (0L until 40L).map(i => (i, 0L)) ++
      Seq((100L, 3L), (101L, 7L), (102L, 0xff00ff00ff00ff0L))
    val hashed = rows.toDF("id", "sh64")
    val got = Dedup.hammingPairs64(hashed, maxHamming = 6,
        maxBucketSize = Int.MaxValue)
      .select("id_a", "id_b", "hamming")
      .as[(Long, Long, Int)].collect().toSet
    // brute force over the same relation
    val want = (for {
      (ia, ha) <- rows; (ib, hb) <- rows if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 6
    } yield (ia, ib, d)).toSet
    // 780 in-class (hamming 0) + 40 class↔3 + 40 class↔7 + (3,7)
    assert(want.size === 40 * 39 / 2 + 40 + 40 + 1, s"fixture: ${want.size}")
    assert(got === want)
    // and each pair appears exactly once (the canonical hash-pair dedup)
    val all = Dedup.hammingPairs64(hashed, maxHamming = 6,
        maxBucketSize = Int.MaxValue)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(all.length === all.toSet.size, "duplicate pairs emitted")
  }

  test("plantAudioVariants fails loud when a wobble would wrap PCM16 " +
      "instead of silently diverging from the oracle (r12 advice)") {
    import graft.multimodal.{MediaCodec, Multimodal}
    import Multimodal.{MediaMeta, MediaRecord}
    // a clip at the PCM16 ceiling: 32000 + 1024 wraps a Short
    val n = 400
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      pcm(2 * i) = (32000 & 0xff).toByte
      pcm(2 * i + 1) = ((32000 >> 8) & 0xff).toByte
      i += 1
    }
    val meta = MediaMeta(0, 0, 8000, 50L)
    val hot = Seq(MediaRecord(1L, "audio",
      MediaCodec.wrapWavPcm(pcm, 8000, n), meta)).toDS()
    val e = intercept[Exception] {
      Multimodal.plantAudioVariants(hot).collect()
    }
    assert(e.getMessage.contains("headroom"), e.getMessage)
    // the in-contract fixture still plants fine
    val ok = Seq(MediaRecord(2L, "audio",
      MediaCodec.syntheticWavInt(2L, 8000, 52L), meta)).toDS()
    assert(Multimodal.plantAudioVariants(ok).collect().length === 1)
  }

  test("IvfStream.checkBank names the pre-r12 pin format instead of a " +
      "misleading bank mismatch (r12 advice)") {
    import graft.streaming.IvfStream
    import graft.operators.IvfRelational
    val root = java.nio.file.Files.createTempDirectory("oldpin_").toString
    val emb = (0L until 40L).map(i =>
      (i, Array.tabulate(8)(d => (i * 8 + d).toFloat)))
      .toDF("vec_id", "embedding")
    val bank = IvfRelational.trainBank(emb, nCells = 2, iters = 1,
      stride = 10)
    IvfStream.writeStanding(spark, s"$root/bank", s"$root/idx", emb, bank)
    // regress the pin to the old single-row bank_fp-only format
    val fp = spark.read.parquet(s"$root/idx/_params")
      .filter(col("k") === "bank_fp").select("k", "v")
    val old = fp.collect().toSeq
    spark.createDataFrame(
        spark.sparkContext.parallelize(old, 1),
        spark.read.parquet(s"$root/idx/_params").schema)
      .write.mode("overwrite").parquet(s"$root/idx/_params")
    val e = intercept[Exception] {
      IvfStream.checkBank(spark, s"$root/bank", s"$root/idx")
    }
    assert(e.getMessage.contains("predates count pinning"), e.getMessage)
    assert(!e.getMessage.contains("does not match"), e.getMessage)
  }
}
