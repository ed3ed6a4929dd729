package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Retrieval}
import graft.sources.Tables
import graft.streaming.{ContainmentStream, PassageStream, QuantileStream,
  RetrievalStream, SketchStream, Versions}

/** The takedown/retraction lifecycle (VERDICT r13 #1): tombstone markers,
  * read-time masking, delete-aware compaction, marker consumption, the
  * never-re-arrives contract, exact BM25 stats retraction, and the
  * monotone-store refusals. */
class TombstoneSpec extends SparkSpec {

  private def docs: DataFrame =
    Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))

  private def freshContainmentStore(): String = {
    val root = java.nio.file.Files.createTempDirectory("tomb_ct_").toString
    val setsOf = (df: DataFrame) =>
      Dedup.jaccardShingleSets(df, "doc_id", "text")
    ContainmentStream.writeStanding(spark, root,
      docs.filter(col("doc_id") < 30), setsOf)
    // one appended delta so compaction has >= 2 versions to fold
    ContainmentStream.filterBatch(spark, root,
      s"$root.out", setsOf, threshold = 0.6)(
      docs.filter(col("doc_id").between(30, 39)), 0L)
    root
  }

  test("tombstone masks ids out of every read and redelivery is idempotent") {
    val root = freshContainmentStore()
    val before = ContainmentStream.readIndex(spark, root)
      .select("id").distinct().collect().map(_.getLong(0)).toSet
    assert(Set(0L, 5L, 35L).subsetOf(before))

    ContainmentStream.tombstone(spark, root, Seq(0L, 5L, 35L), 1L)
    val after = ContainmentStream.readIndex(spark, root)
      .select("id").distinct().collect().map(_.getLong(0)).toSet
    assert(after === before -- Set(0L, 5L, 35L))

    // redelivered marker (same batch id) overwrites deterministically
    ContainmentStream.tombstone(spark, root, Seq(0L, 5L, 35L), 1L)
    val redelivered = ContainmentStream.readIndex(spark, root)
      .select("id").distinct().collect().map(_.getLong(0)).toSet
    assert(redelivered === after)
    assert(Versions.listTombstones(spark, root).map(_._1) === Seq(1L))
  }

  test("tombstone-then-compact is read-equivalent, physical, and consumes " +
      "the markers") {
    val root = freshContainmentStore()
    ContainmentStream.tombstone(spark, root, Seq(1L, 31L), 1L)
    val before = ContainmentStream.readIndex(spark, root)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet

    ContainmentStream.compactStore(spark, root, upTo = 1L)
    val after = ContainmentStream.readIndex(spark, root)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(after === before)
    // physical: the raw base (no mask) no longer holds the deleted rows
    val raw = spark.read.parquet(s"$root/v0")
      .select("id").distinct().collect().map(_.getLong(0)).toSet
    assert(!raw.contains(1L) && !raw.contains(31L))
    // consumed: no markers left, and the fold is one base version
    assert(Versions.listTombstones(spark, root).isEmpty)
    assert(Versions.list(spark, root).map(_._1) === Seq(0L))
  }

  test("a tombstoned id stays dead: re-ingest under the same id is masked") {
    val root = freshContainmentStore()
    ContainmentStream.tombstone(spark, root, Seq(2L), 1L)
    // batch 1 re-ingests doc 2's content under the SAME id (re-crawl)
    ContainmentStream.filterBatch(spark, root, s"$root.out",
      df => Dedup.jaccardShingleSets(df, "doc_id", "text"),
      threshold = 0.6)(docs.filter(col("doc_id") === 2), 1L)
    val ids = ContainmentStream.readIndex(spark, root)
      .select("id").distinct().collect().map(_.getLong(0)).toSet
    assert(!ids.contains(2L))
  }

  test("BM25 takedown retracts postings AND exact stats: probes score " +
      "bit-identically to a from-scratch index over the retained corpus, " +
      "before and after compaction") {
    val root = java.nio.file.Files.createTempDirectory("tomb_bm_").toString
    val terms = Seq("data", "merge", "hash", "scan")
    RetrievalStream.writeStanding(spark, root,
      docs.filter(col("doc_id") < 40))
    RetrievalStream.appendBatch(spark, root)(
      docs.filter(col("doc_id").between(40, 49)), 0L)
    RetrievalStream.tombstone(spark, root, Seq(0L, 3L, 41L), 1L)

    val retained = docs.filter(col("doc_id") < 50 &&
      !col("doc_id").isin(0L, 3L, 41L))
    val oneShot = Retrieval.bm25TopK(retained, "doc_id", "text", terms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

    val streamed = RetrievalStream.bm25TopK(spark, root, terms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(streamed === oneShot)

    RetrievalStream.compactStore(spark, root, upTo = 1L)
    val compacted = RetrievalStream.bm25TopK(spark, root, terms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(compacted === oneShot)
    // markers consumed by the posting compaction
    assert(Versions.listTombstones(spark, s"$root/post").isEmpty)
  }

  test("BM25 auto-compaction is takedown-aware: a long-running stream " +
      "that only ever auto-compacts consumes its markers at the cadence " +
      "(the fan-in never grows unboundedly) and keeps scoring the " +
      "retained corpus exactly") {
    val root = java.nio.file.Files.createTempDirectory("tomb_bmac_")
      .toString
    val terms = Seq("data", "merge", "hash", "scan")
    RetrievalStream.writeStanding(spark, root,
      docs.filter(col("doc_id") < 40))
    RetrievalStream.appendBatch(spark, root,
      autoCompactVersions = Some(2))(
      docs.filter(col("doc_id").between(40, 44)), 0L)
    RetrievalStream.tombstone(spark, root, Seq(0L, 3L, 41L), 1L)
    // keep ingesting with ONLY the auto path: the threshold trips on a
    // later batch and must run the full three-root orchestration,
    // consuming the markers instead of preserving them forever
    (1L to 3L).foreach { b =>
      RetrievalStream.appendBatch(spark, root,
        autoCompactVersions = Some(2))(
        docs.filter(col("doc_id").between(40L + b * 5, 44L + b * 5)), b)
    }
    assert(Versions.listTombstones(spark, s"$root/post").isEmpty,
      "auto-compaction must consume accumulated markers at its cadence")
    val retained = docs.filter(col("doc_id") < 60 &&
      !col("doc_id").isin(0L, 3L, 41L))
    val oneShot = Retrieval.bm25TopK(retained, "doc_id", "text", terms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val streamed = RetrievalStream.bm25TopK(spark, root, terms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(streamed === oneShot)
  }

  test("media and vector stores mask tombstoned ids: aHash pairs, fp " +
      "pairs, IVF assignments (PqStream.readCodes shares the identical " +
      "mask line)") {
    import graft.multimodal.Multimodal
    import graft.operators.IvfRelational
    import graft.streaming.{AHashStream, IvfStream, MediaFpStream}
    import spark.implicits._
    val clips = Multimodal.fromDocuments(spark,
        Tables.documents(spark, sfDir), onlyKind = Some("audio"),
        intAudio = true)
      .filter(_.media_id < 40).toDF()
      .select(col("media_id"), col("payload")).localCheckpoint(true)

    // AHashStream: a byte-identical re-upload of clip c pairs with it at
    // Hamming 0 — after tombstoning c, the probe finds nothing
    val ahRoot = java.nio.file.Files.createTempDirectory("tomb_ah_").toString
    AHashStream.writeStanding(spark, ahRoot, clips,
      hasher = Multimodal.audioAHash64Bytes)
    val someId = clips.select("media_id").orderBy("media_id")
      .first().getLong(0)
    val reupload = clips.filter(col("media_id") === someId)
      .select((col("media_id") + 5000).as("media_id"), col("payload"))
      .localCheckpoint(true)
    val before = AHashStream.filterBatch(spark, ahRoot, s"$ahRoot.o1",
      "media_id", "payload", hasher = Multimodal.audioAHash64Bytes,
      materializePairs = true)(reupload, 0L)
      .filter(col("id_a") === someId || col("id_b") === someId).count()
    assert(before > 0)
    AHashStream.tombstone(spark, ahRoot, Seq(someId), 1L)
    val after = AHashStream.filterBatch(spark, ahRoot, s"$ahRoot.o2",
      "media_id", "payload", hasher = Multimodal.audioAHash64Bytes,
      materializePairs = true)(
      reupload.select((col("media_id") + 1000).as("media_id"),
        col("payload")), 1L)
      .filter(col("id_a") === someId || col("id_b") === someId).count()
    assert(after === 0L)

    // MediaFpStream: same shape on exact fingerprints
    val fpRoot = java.nio.file.Files.createTempDirectory("tomb_fp_").toString
    val profiler = (df: org.apache.spark.sql.DataFrame) =>
      Multimodal.audioFpBytes(df, "media_id", "payload")
    MediaFpStream.writeStanding(spark, fpRoot, clips, profiler)
    val fpBefore = MediaFpStream.filterBatch(spark, fpRoot, s"$fpRoot.o1",
      profiler, materializePairs = true)(reupload, 0L)
      .filter(col("id_a") === someId || col("id_b") === someId).count()
    assert(fpBefore > 0)
    MediaFpStream.tombstone(spark, fpRoot, Seq(someId), 1L)
    val fpAfter = MediaFpStream.filterBatch(spark, fpRoot, s"$fpRoot.o2",
      profiler, materializePairs = true)(
      reupload.select((col("media_id") + 1000).as("media_id"),
        col("payload")), 1L)
      .filter(col("id_a") === someId || col("id_b") === someId).count()
    assert(fpAfter === 0L)

    // IvfStream / PqStream: reads stop returning the retracted vectors,
    // physically after compaction
    val emb = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") < 60).localCheckpoint(true)
    val bank = IvfRelational.trainBank(emb, nCells = 4, iters = 1)
      .localCheckpoint(true)
    val ivfRoot = java.nio.file.Files.createTempDirectory("tomb_iv_").toString
    IvfStream.writeStanding(spark, s"$ivfRoot/bank", s"$ivfRoot/idx",
      emb, bank)
    IvfStream.appendBatch(spark, s"$ivfRoot/bank", s"$ivfRoot/idx",
      s"$ivfRoot/out", "vec_id", "embedding")(
      Tables.embeddings(spark, sfDir)
        .filter(col("vec_id").between(60, 69)), 0L)
    IvfStream.tombstone(spark, s"$ivfRoot/idx", Seq(0L, 61L), 1L)
    val ivfIds = IvfStream.readIndex(spark, s"$ivfRoot/idx")
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(!ivfIds.contains(0L) && !ivfIds.contains(61L) &&
      ivfIds.contains(1L) && ivfIds.contains(62L))
    IvfStream.compactStore(spark, s"$ivfRoot/idx", upTo = 1L)
    val ivfRaw = spark.read.parquet(s"$ivfRoot/idx/v0")
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(!ivfRaw.contains(0L) && !ivfRaw.contains(61L))
    assert(Versions.listTombstones(spark, s"$ivfRoot/idx").isEmpty)
  }

  test("two-root tombstone crash consistency: a crash between the band " +
      "and docs markers heals on redelivery") {
    import graft.streaming.NearDupStream
    val root = java.nio.file.Files.createTempDirectory("tomb_nd_").toString
    val idxRoot = s"$root/idx"; val docsRoot = s"$root/docs"
    val existing = docs.filter(col("doc_id") < 30)
    Dedup.minhashBandIndex(existing, "doc_id", "text")
      .write.parquet(s"$idxRoot/v0")
    existing.write.parquet(s"$docsRoot/v0")
    // simulate the crash: batch 1's callback wrote the band marker and
    // died before the docs marker
    Versions.tombstone(spark, idxRoot, Seq(3L, 7L), 1L)
    // redelivery re-runs the whole callback: both markers re-issued
    // deterministically, stores converge
    NearDupStream.tombstone(spark, idxRoot, docsRoot, Seq(3L, 7L), 1L)
    val bandIds = Versions.maskTombstones(spark, idxRoot,
        spark.read.parquet(s"$idxRoot/v0"), "id", 1L)
      .select("id").distinct().collect().map(_.getLong(0)).toSet
    val docIds = Versions.maskTombstones(spark, docsRoot,
        spark.read.parquet(s"$docsRoot/v0"), "doc_id", 1L)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(bandIds === docIds)
    assert(!bandIds.contains(3L) && !bandIds.contains(7L))
  }

  test("monotone stores refuse the takedown verb and point at rebuild") {
    val e1 = intercept[UnsupportedOperationException] {
      SketchStream.tombstone(spark, "/tmp/nowhere", Seq(1L), 0L)
    }
    assert(e1.getMessage.contains("rebuild"))
    val e2 = intercept[UnsupportedOperationException] {
      QuantileStream.tombstone(spark, "/tmp/nowhere", Seq(1L), 0L)
    }
    assert(e2.getMessage.contains("rebuildStore"))
    val e3 = intercept[UnsupportedOperationException] {
      PassageStream.tombstone(spark, "/tmp/nowhere", Seq(1L), 0L)
    }
    assert(e3.getMessage.contains("passageWindowIndex"))
  }

  test("corpus deleteBatch drops keyed rows as a new snapshot; vacuum " +
      "makes it physical; redelivery is idempotent") {
    import graft.streaming.CorpusMaintenance
    import spark.implicits._
    val corpus = java.nio.file.Files.createTempDirectory("tomb_cm_").toString
    CorpusMaintenance.upsertBatch(spark, corpus, Seq("id"))(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), 0L)
    CorpusMaintenance.deleteBatch(spark, corpus, Seq("id"))(
      Seq(Tuple1(2L)).toDF("id"), 1L)
    def latestRows() = spark.read
      .parquet(CorpusMaintenance.latest(spark, corpus).get)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(latestRows() === Set((1L, "a"), (3L, "c")))
    // redelivered delete rewrites the same snapshot
    CorpusMaintenance.deleteBatch(spark, corpus, Seq("id"))(
      Seq(Tuple1(2L)).toDF("id"), 1L)
    assert(latestRows() === Set((1L, "a"), (3L, "c")))
    // time travel still sees the pre-delete snapshot until vacuum
    assert(spark.read.parquet(s"$corpus/v1").count() === 3)
    CorpusMaintenance.vacuum(spark, corpus, keepLast = 2)
    assert(Versions.list(spark, corpus).map(_._1) === Seq(1L, 2L))
    // deleting from an absent corpus is refused
    val e = intercept[IllegalArgumentException] {
      CorpusMaintenance.deleteBatch(spark, s"$corpus/absent", Seq("id"))(
        Seq(Tuple1(1L)).toDF("id"), 0L)
    }
    assert(e.getMessage.contains("no corpus version"))
  }

  test("tombstone guards: missing store and empty id set are refused") {
    val root = java.nio.file.Files.createTempDirectory("tomb_g_").toString
    val e1 = intercept[IllegalArgumentException] {
      Versions.tombstone(spark, s"$root/absent", Seq(1L), 0L)
    }
    assert(e1.getMessage.contains("v0 missing"))
    val e2 = intercept[IllegalArgumentException] {
      Versions.tombstone(spark, s"$root/absent", Seq.empty, 0L)
    }
    assert(e2.getMessage.contains("empty id set"))
  }

  test("auto-compaction folds like compactStore: IVF markers consumed " +
      "and rows dropped physically; BM25 auto-compaction runs the " +
      "three-root orchestration (markers consumed, reads exact)") {
    import graft.operators.IvfRelational
    import graft.streaming.{IvfStream, RetrievalStream}
    val emb = Tables.embeddings(spark, sfDir)
    val root = java.nio.file.Files.createTempDirectory("tomb_ac_").toString
    val (bankRoot, idxRoot, outRoot) =
      (s"$root/bank", s"$root/idx", s"$root/out")
    val standing = emb.filter(col("vec_id") < 100)
    val bank = IvfRelational.trainBank(standing, nCells = 4, iters = 2,
      stride = 10)
    IvfStream.writeStanding(spark, bankRoot, idxRoot, standing, bank)
    val append = IvfStream.appendBatch(spark, bankRoot, idxRoot, outRoot,
      "vec_id", "embedding", autoCompactVersions = Some(1)) _
    append(emb.filter(col("vec_id").between(100, 119)), 0L)
    IvfStream.tombstone(spark, idxRoot, Seq(0L, 110L), 1L)
    // batch 1's auto-compaction (threshold 1, 2 versions visible) folds
    // with the marker: rows dropped physically, marker consumed
    append(emb.filter(col("vec_id").between(120, 139)), 1L)
    assert(Versions.listTombstones(spark, idxRoot).isEmpty,
      "auto-compaction must consume the marker like compactStore")
    val ids = IvfStream.readIndex(spark, idxRoot)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(0L) && !ids.contains(110L),
      "tombstoned vectors must be gone from the folded base")
    assert(ids.contains(1L) && ids.contains(120L))

    // BM25: auto-compaction is takedown-aware since r15 (VERDICT r14
    // wrong #2) — the threshold trip runs the full three-root
    // orchestration, consuming markers AND keeping reads exact
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"))
    val bmRoot = java.nio.file.Files.createTempDirectory("tomb_ac_bm_")
      .toString
    RetrievalStream.writeStanding(spark, bmRoot,
      docs.filter(col("doc_id") < 60))
    RetrievalStream.appendBatch(spark, bmRoot,
      autoCompactVersions = Some(1))(
      docs.filter(col("doc_id").between(60, 79)), 0L)
    RetrievalStream.tombstone(spark, bmRoot, Seq(1L, 2L), 1L)
    RetrievalStream.appendBatch(spark, bmRoot,
      autoCompactVersions = Some(1))(
      docs.filter(col("doc_id").between(80, 99)), 1L)
    assert(Versions.listTombstones(spark, s"$bmRoot/post").isEmpty,
      "posting auto-compaction must consume markers via the three-root " +
        "orchestration")
    val streamed = RetrievalStream.bm25TopK(spark, bmRoot,
        Seq("data", "merge", "hash", "scan"), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val oneShot = Retrieval.bm25TopK(
        docs.filter(col("doc_id") < 100 && !col("doc_id").isin(1L, 2L)),
        "doc_id", "text", Seq("data", "merge", "hash", "scan"), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(streamed === oneShot,
      "auto-compacted reads must stay takedown-corrected")
  }

  test("tombstoneFrom: the relation form masks like the Seq form; " +
      "multi-column and empty sweeps are refused") {
    import spark.implicits._
    val root = freshContainmentStore()
    // a predicate-driven sweep: ids computed as a relation, never a Seq
    Versions.tombstoneFrom(spark, root,
      docs.filter(col("doc_id") < 4).select(col("doc_id")), 1L)
    val masked = ContainmentStream.readIndex(spark, root)
      .select("id").distinct().collect().map(_.getLong(0)).toSet
    assert(masked.intersect(Set(0L, 1L, 2L, 3L)).isEmpty,
      s"swept ids must be masked: $masked")
    assert(masked.contains(4L), "unswept ids must survive")
    // byte-wise same marker contract: a redelivered sweep overwrites
    Versions.tombstoneFrom(spark, root,
      docs.filter(col("doc_id") < 4).select(col("doc_id")), 1L)
    assert(Versions.listTombstones(spark, root).map(_._1) === Seq(1L))
    val e1 = intercept[IllegalArgumentException] {
      Versions.tombstoneFrom(spark, root,
        docs.select(col("doc_id"), col("text")), 2L)
    }
    assert(e1.getMessage.contains("single id column"))
    val e2 = intercept[IllegalArgumentException] {
      Versions.tombstoneFrom(spark, root,
        docs.filter(col("doc_id") < 0).select(col("doc_id")), 2L)
    }
    assert(e2.getMessage.contains("empty id set"))
    // ADVICE r14 #1: null ids must not satisfy the non-empty guard — an
    // all-null sweep is an empty sweep (a marker that masks nothing would
    // be broadcast on every read forever). Wrong-typed MALFORMED sweeps
    // fail loud under ANSI cast — also fine; the silent case is nulls.
    val e3 = intercept[IllegalArgumentException] {
      Versions.tombstoneFrom(spark, root,
        Seq[Option[Long]](None, None).toDF("id"), 2L)
    }
    assert(e3.getMessage.contains("empty id set"))
    // mixed sweep: null rows drop, real ids still mark
    Versions.tombstoneFrom(spark, root,
      Seq[Option[Long]](Some(7L), None).toDF("id"), 2L)
    val after = ContainmentStream.readIndex(spark, root)
      .select("id").distinct().collect().map(_.getLong(0)).toSet
    assert(!after.contains(7L) && after.contains(8L))
  }

  test("takedownAll crash matrix: the journal + commit flag make every " +
      "partial fan-out recoverable, idempotent, and immune to sweep " +
      "re-evaluation") {
    import graft.streaming.{CorpusMaintenance, Takedown}
    import graft.streaming.Takedown.Target
    def mkCorpus(): String = {
      val r = java.nio.file.Files.createTempDirectory("tomb_corp_").toString
      docs.filter(col("doc_id") < 30).write.parquet(s"$r/v0"); r
    }
    def mkJournal(tag: String): String =
      java.nio.file.Files.createTempDirectory(s"tomb_j${tag}_").toString
    def idsOf(ct: String): Set[Long] = ContainmentStream.readIndex(spark, ct)
      .select("id").distinct().collect().map(_.getLong(0)).toSet
    def corpusIds(root: String): Set[Long] = spark.read
      .parquet(CorpusMaintenance.latest(spark, root).get)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val sweep = docs.filter(col("doc_id") < 3).select(col("doc_id"))
    val biggerSweep = docs.filter(col("doc_id") < 20).select(col("doc_id"))

    // reference: the uninterrupted run
    val (ctA1, ctA2, corpA) = (freshContainmentStore(),
      freshContainmentStore(), mkCorpus())
    val jA = mkJournal("A")
    Takedown.takedownAll(spark, jA, sweep, 1L,
      Seq(Target("ct1", ctA1), Target("ct2", ctA2)),
      Some((corpA, "doc_id")))
    assert(Takedown.incomplete(spark, jA).isEmpty)
    assert(idsOf(ctA1).intersect(Set(0L, 1L, 2L)).isEmpty)
    assert(corpusIds(corpA) === (3L until 30L).toSet)

    // crash 1 — after the journal, before ANY marker (every target's
    // root is missing, so the whole concurrent fan-out throws — the
    // r17 overlap runs siblings to completion, so "nothing happened yet"
    // needs every verb to fail). Recovery passes a BIGGER sweep: the
    // journal must win — the predicate is never re-evaluated.
    val (ctB1, ctB2, corpB) = (freshContainmentStore(),
      freshContainmentStore(), mkCorpus())
    val jB = mkJournal("B")
    intercept[IllegalArgumentException] {
      Takedown.takedownAll(spark, jB, sweep, 1L,
        Seq(Target("missing", s"$jB/no_such_store"),
          Target("missing2", s"$jB/no_such_store2")))
    }
    assert(Takedown.incomplete(spark, jB) === Seq(1L),
      "a journaled, uncommitted takedown must be enumerable for recovery")
    assert(Versions.listTombstones(spark, ctB1).isEmpty)
    Takedown.takedownAll(spark, jB, biggerSweep, 1L,
      Seq(Target("ct1", ctB1), Target("ct2", ctB2)),
      Some((corpB, "doc_id")))
    assert(Takedown.incomplete(spark, jB).isEmpty)
    assert(idsOf(ctB1) === idsOf(ctA1) && idsOf(ctB2) === idsOf(ctA2),
      "recovery must mark the JOURNALED set, not the re-evaluated sweep")
    assert(corpusIds(corpB) === corpusIds(corpA))

    // crash 2 — mid-fan-out (one target bad): stores DISAGREE — the
    // failed store vs its siblings — until recovery re-runs the whole
    // fan-out from the journal. The r17 overlap runs the healthy
    // siblings to completion (they are independent idempotent writes a
    // re-run redoes identically), so the disagreement is "journal
    // uncommitted + one store unmarked", not "everything after the
    // failure unmarked".
    val (ctC1, ctC2, corpC) = (freshContainmentStore(),
      freshContainmentStore(), mkCorpus())
    val jC = mkJournal("C")
    intercept[IllegalArgumentException] {
      Takedown.takedownAll(spark, jC, sweep, 1L,
        Seq(Target("ct1", ctC1), Target("missing", s"$jC/no_such_store"),
          Target("ct2", ctC2)),
        Some((corpC, "doc_id")))
    }
    assert(Versions.listTombstones(spark, ctC1).map(_._1) === Seq(1L),
      "healthy siblings complete even when one store's verb fails")
    assert(Versions.listTombstones(spark, ctC2).map(_._1) === Seq(1L))
    assert(Takedown.incomplete(spark, jC) === Seq(1L),
      "the failed store leaves the journal uncommitted — the " +
        "disagreement recovery exists to heal")
    Takedown.takedownAll(spark, jC, biggerSweep, 1L,
      Seq(Target("ct1", ctC1), Target("ct2", ctC2)),
      Some((corpC, "doc_id")))
    assert(idsOf(ctC1) === idsOf(ctA1) && idsOf(ctC2) === idsOf(ctA2))
    assert(corpusIds(corpC) === corpusIds(corpA))

    // crash 3 — after every marker, before the corpus delete (corpus root
    // empty → deleteBatch refuses)
    val ctD = freshContainmentStore()
    val corpD = java.nio.file.Files.createTempDirectory("tomb_corpD_")
      .toString
    val jD = mkJournal("D")
    intercept[IllegalArgumentException] {
      Takedown.takedownAll(spark, jD, sweep, 1L, Seq(Target("ct", ctD)),
        Some((corpD, "doc_id")))
    }
    assert(Versions.listTombstones(spark, ctD).map(_._1) === Seq(1L))
    assert(Takedown.incomplete(spark, jD) === Seq(1L))
    docs.filter(col("doc_id") < 30).write.parquet(s"$corpD/v0")
    Takedown.takedownAll(spark, jD, sweep, 1L, Seq(Target("ct", ctD)),
      Some((corpD, "doc_id")))
    assert(idsOf(ctD) === idsOf(ctA1))
    assert(corpusIds(corpD) === corpusIds(corpA))

    // committed — a re-run is a pure no-op, whatever sweep it carries
    Takedown.takedownAll(spark, jA, biggerSweep, 1L,
      Seq(Target("ct1", ctA1), Target("ct2", ctA2)),
      Some((corpA, "doc_id")))
    assert(idsOf(ctA1).contains(10L),
      "a committed takedown must not re-run with a new sweep")
    assert(corpusIds(corpA) === (3L until 30L).toSet)

    // hygiene: empty and multi-column sweeps refuse before journaling
    val jE = mkJournal("E")
    val e1 = intercept[IllegalArgumentException] {
      Takedown.takedownAll(spark, jE,
        docs.filter(col("doc_id") < 0).select(col("doc_id")), 1L,
        Seq(Target("ct1", ctA1)))
    }
    assert(e1.getMessage.contains("empty id set"))
    val e2 = intercept[IllegalArgumentException] {
      Takedown.takedownAll(spark, jE, docs, 1L, Seq(Target("ct1", ctA1)))
    }
    assert(e2.getMessage.contains("single id column"))
    assert(Takedown.incomplete(spark, jE).isEmpty)
  }

  test("revive lifecycle: restores masked reads, newest verb wins, " +
      "redelivery idempotent, compaction consumes the pair and keeps " +
      "revived rows physically") {
    import spark.implicits._
    val root = freshContainmentStore()
    val all = ContainmentStream.readIndex(spark, root)
      .select("id").distinct().collect().map(_.getLong(0)).toSet
    def ids(): Set[Long] = ContainmentStream.readIndex(spark, root)
      .select("id").distinct().collect().map(_.getLong(0)).toSet

    ContainmentStream.tombstone(spark, root, Seq(0L, 5L, 35L), 1L)
    Versions.revive(spark, root, Seq(5L).toDF("id"), 2L)
    assert(ids() === all -- Set(0L, 35L),
      "a revived id's retained rows must come back; others stay dead")
    // redelivered revive (same batch id) overwrites deterministically
    Versions.revive(spark, root, Seq(5L).toDF("id"), 2L)
    assert(ids() === all -- Set(0L, 35L))
    // newest verb wins: re-tombstone after the revive
    Versions.tombstone(spark, root, Seq(5L), 3L)
    assert(ids() === all -- Set(0L, 5L, 35L))
    // and revive again — the d3 < r4 pair resolves live
    Versions.revive(spark, root, Seq(5L).toDF("id"), 4L)
    assert(ids() === all -- Set(0L, 35L))

    // compaction consumes both marker kinds and keeps the revived rows:
    // reads identical before and after, marker dirs gone
    val before = ContainmentStream.readIndex(spark, root)
      .collect().map(_.toString).sorted
    ContainmentStream.compactStore(spark, root, upTo = 4L)
    val after = ContainmentStream.readIndex(spark, root)
      .collect().map(_.toString).sorted
    assert(after === before)
    assert(Versions.listTombstones(spark, root).isEmpty &&
      Versions.listRevives(spark, root).isEmpty)
    // physically final: the compacted-away id can no longer be revived
    // (all markers were consumed here, so the store has nothing to
    // revive at all; with other markers live the per-id check fires)
    val eFinal = intercept[IllegalArgumentException] {
      Versions.revive(spark, root, Seq(0L).toDF("id"), 5L)
    }
    assert(eFinal.getMessage.contains("nothing to revive") ||
      eFinal.getMessage.contains("not taken down"))
  }

  test("revive guards: non-dead ids, empty sets, and pending-revive " +
      "compaction are refused; paired-side-effect stores refuse the verb " +
      "on read") {
    import spark.implicits._
    val root = freshContainmentStore()
    // no tombstones at all
    val e0 = intercept[IllegalArgumentException] {
      Versions.revive(spark, root, Seq(1L).toDF("id"), 1L)
    }
    assert(e0.getMessage.contains("nothing to revive"))
    ContainmentStream.tombstone(spark, root, Seq(2L, 3L), 1L)
    // a live id inside the set
    val e1 = intercept[IllegalArgumentException] {
      Versions.revive(spark, root, Seq(2L, 7L).toDF("id"), 2L)
    }
    assert(e1.getMessage.contains("not taken down"))
    val e2 = intercept[IllegalArgumentException] {
      Versions.revive(spark, root,
        Seq[Option[Long]](None).toDF("id"), 2L)
    }
    assert(e2.getMessage.contains("empty id set"))
    // compacting past a tombstone whose revive is NEWER than the bound
    // would make the revive a permanent no-op — refused loud
    Versions.revive(spark, root, Seq(2L).toDF("id"), 3L)
    val e3 = intercept[IllegalArgumentException] {
      ContainmentStream.compactStore(spark, root, upTo = 2L)
    }
    assert(e3.getMessage.contains("revive marker newer than the bound"),
      e3.getMessage)
    // raising the bound past the revive compacts fine
    ContainmentStream.compactStore(spark, root, upTo = 3L)

    // BM25: generic revive on the posting root refuses on read (the
    // store's tombstone pairs with an in-band stats correction)
    val bmRoot = java.nio.file.Files.createTempDirectory("tomb_rv_bm_")
      .toString
    RetrievalStream.writeStanding(spark, bmRoot,
      docs.filter(col("doc_id") < 40))
    RetrievalStream.tombstone(spark, bmRoot, Seq(1L), 1L)
    Versions.revive(spark, s"$bmRoot/post", Seq(1L).toDF("id"), 2L)
    val e4 = intercept[IllegalArgumentException] {
      RetrievalStream.bm25TopK(spark, bmRoot, Seq("data"), 5).collect()
    }
    assert(e4.getMessage.contains("revive"), e4.getMessage)
  }

  test("guardReingest refuses the naive revival path end-to-end and " +
      "passes once the ids are revived; vacuumJournal drops only " +
      "committed journals") {
    import spark.implicits._
    import graft.streaming.Takedown
    import graft.streaming.Takedown.Target
    val ct = freshContainmentStore()
    val journal = java.nio.file.Files.createTempDirectory("tomb_gj_")
      .toString
    Takedown.takedownAll(spark, journal, Seq(3L, 4L).toDF("id"), 1L,
      Seq(Target("ct", ct)))
    // the naive path: re-ingesting the taken-down id under the SAME id
    val e = intercept[IllegalArgumentException] {
      Takedown.guardReingest(spark, Seq(ct),
        docs.filter(col("doc_id").isin(3L, 50L)).select("doc_id"))
    }
    assert(e.getMessage.contains("re-ingest refused") &&
      e.getMessage.contains("revive"), e.getMessage)
    // fresh ids pass; revived ids pass
    Takedown.guardReingest(spark, Seq(ct),
      docs.filter(col("doc_id") === 50L).select("doc_id"))
    Versions.revive(spark, ct, Seq(3L, 4L).toDF("id"), 2L)
    Takedown.guardReingest(spark, Seq(ct),
      docs.filter(col("doc_id").isin(3L, 4L)).select("doc_id"))

    // vacuum: committed journals <= retainUpTo drop; uncommitted stay
    // (pending recovery), and their recovery still works afterwards
    val fs = new org.apache.hadoop.fs.Path(journal)
      .getFileSystem(spark.sessionState.newHadoopConf())
    Takedown.takedownAll(spark, journal, Seq(6L).toDF("id"), 3L,
      Seq(Target("ct", ct)))
    // stage an UNCOMMITTED journal (ids written, no flag) for batch 5
    Seq(7L).toDF("id").coalesce(1).write.mode("overwrite")
      .parquet(s"$journal/t5/ids")
    assert(Takedown.incomplete(spark, journal) === Seq(5L))
    Takedown.vacuumJournal(spark, journal, retainUpTo = 5L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$journal/t1")) &&
      !fs.exists(new org.apache.hadoop.fs.Path(s"$journal/t3")),
      "committed journals inside the retention bound must drop")
    assert(Takedown.incomplete(spark, journal) === Seq(5L),
      "uncommitted journals must survive any vacuum")
    // the pending batch's recovery resumes from its surviving journal
    Takedown.takedownAll(spark, journal,
      docs.filter(col("doc_id") < 0).select("doc_id").limit(0), 5L,
      Seq(Target("ct", ct)))
    assert(Takedown.incomplete(spark, journal).isEmpty)
    val live = ContainmentStream.readIndex(spark, ct)
      .select("id").distinct().collect().map(_.getLong(0)).toSet
    assert(!live.contains(7L) && !live.contains(6L) && live.contains(3L))
  }

  test("BM25 compactStore is idempotent across partial completion: a crash " +
      "after any step leaves reads exact and the re-run converges " +
      "(ADVICE r15 #1)") {
    val bmDocs = docs.filter(col("doc_id") < 100)
    val terms = Seq("data", "merge", "hash", "scan")
    def expected(excluded: Seq[Long]): Seq[(Long, Double)] =
      Retrieval.bm25TopK(
          bmDocs.filter(!col("doc_id").isin(excluded: _*)),
          "doc_id", "text", terms, 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    def got(root: String): Seq[(Long, Double)] =
      RetrievalStream.bm25TopK(spark, root, terms, 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    def mkStore(): String = {
      val root = java.nio.file.Files.createTempDirectory("tomb_resume_")
        .toString
      RetrievalStream.writeStanding(spark, root,
        bmDocs.filter(col("doc_id") < 60))
      RetrievalStream.appendBatch(spark, root)(
        bmDocs.filter(col("doc_id") >= 60), 0L)
      RetrievalStream.tombstone(spark, root, Seq(1L, 2L, 61L), 1L)
      root
    }
    val want = expected(Seq(1L, 2L, 61L))

    // crash after step 1 (doclens compacted, markers + corrections live):
    // reads stay exact, and the re-run finishes the other two roots even
    // though the doclen root is down to a single version
    val r1 = mkStore()
    val del1 = spark.read.parquet(s"$r1/post/d1")
      .select(col("id").as("doc_id")).distinct().localCheckpoint(true)
    Versions.compact(spark, s"$r1/dlen", 1L,
      df => df.join(broadcast(del1), Seq("doc_id"), "left_anti"),
      allowSingle = true)
    assert(got(r1) === want, "reads must stay exact after a partial run")
    RetrievalStream.compactStore(spark, r1, upTo = 1L)
    assert(got(r1) === want)
    assert(Versions.listTombstones(spark, s"$r1/post").isEmpty)
    assert(Versions.listPrefixed(spark, s"$r1/stats", 'c').isEmpty)

    // crash after step 2 (postings compacted, markers CONSUMED, stats
    // corrections still in-band): the correction fold keeps stats exact
    // with no marker left to derive it from — the double-subtraction
    // shape the old fold-plus-subtract design could not survive
    val r2 = mkStore()
    val del2 = spark.read.parquet(s"$r2/post/d1")
      .select(col("id").as("doc_id")).distinct().localCheckpoint(true)
    Versions.compact(spark, s"$r2/dlen", 1L,
      df => df.join(broadcast(del2), Seq("doc_id"), "left_anti"),
      allowSingle = true)
    Versions.compact(spark, s"$r2/post", 1L,
      tombstoneIdCol = Some("doc_id"), clusterBy = Seq("term"),
      allowSingle = true)
    assert(got(r2) === want,
      "consumed markers + in-band corrections must still read exact")
    RetrievalStream.compactStore(spark, r2, upTo = 1L)
    assert(got(r2) === want)
    assert(Versions.listPrefixed(spark, s"$r2/stats", 'c').isEmpty,
      "the re-run must consume the corrections")

    // the old wedge: a store already compacted to single versions that
    // then takes a takedown — compactStore must fold it (consuming the
    // marker and correction) instead of throwing 'nothing to compact'
    val r3 = mkStore()
    RetrievalStream.compactStore(spark, r3, upTo = 1L)
    RetrievalStream.tombstone(spark, r3, Seq(62L), 2L)
    RetrievalStream.compactStore(spark, r3, upTo = 2L)
    assert(got(r3) === expected(Seq(1L, 2L, 61L, 62L)))
    assert(Versions.listTombstones(spark, s"$r3/post").isEmpty)
    assert(Versions.listPrefixed(spark, s"$r3/stats", 'c').isEmpty)
  }

  test("a bare marker on the posting root (no stats correction) fails " +
      "readStats loud; autoCompactVersions below 1 is refused up front") {
    val root = java.nio.file.Files.createTempDirectory("tomb_bare_").toString
    RetrievalStream.writeStanding(spark, root,
      docs.filter(col("doc_id") < 40))
    Versions.tombstone(spark, s"$root/post", Seq(3L), 1L)
    val e = intercept[IllegalArgumentException] {
      RetrievalStream.readStats(spark, root).collect()
    }
    assert(e.getMessage.contains("no stats correction"),
      s"silently over-counted stats instead of refusing: ${e.getMessage}")

    val e2 = intercept[IllegalArgumentException] {
      RetrievalStream.appendBatch(spark, root,
        autoCompactVersions = Some(0))(
        docs.filter(col("doc_id").between(40, 49)), 5L)
    }
    assert(e2.getMessage.contains("autoCompactVersions must be >= 1"),
      s"ADVICE r15 #3: ${e2.getMessage}")
  }

  test("overlapping BM25 sweeps subtract each doc's stats exactly once: " +
      "a second sweep re-listing an already-dead id is in-contract input " +
      "and must not double-retract its (1, dl)") {
    // ADVICE r16 #1: two sweeps (quality then GDPR, say) whose id sets
    // overlap — masks are distinct-idempotent, but the stats correction
    // used to re-derive each batch's subtraction from the RAW doclen
    // relation, so the overlap ids' contribution went out twice and
    // compaction baked the error in permanently
    val root = java.nio.file.Files.createTempDirectory("tomb_ovl_").toString
    val terms = Seq("data", "merge", "hash", "scan")
    RetrievalStream.writeStanding(spark, root,
      docs.filter(col("doc_id") < 40))
    RetrievalStream.tombstone(spark, root, Seq(0L, 3L), 1L)
    RetrievalStream.tombstone(spark, root, Seq(3L, 5L), 2L) // 3 overlaps

    val retained = docs.filter(col("doc_id") < 40 &&
      !col("doc_id").isin(0L, 3L, 5L))
    val wantStats = Retrieval.statsRelation(retained, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val gotStats = RetrievalStream.readStats(spark, root)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(gotStats === wantStats,
      "overlapping sweeps must retract each doc exactly once")
    val want = Retrieval.bm25TopK(retained, "doc_id", "text", terms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(RetrievalStream.bm25TopK(spark, root, terms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq === want)
    // a redelivered overlap sweep recomputes the SAME correction (the
    // alive cut ignores the batch's own marker)
    RetrievalStream.tombstone(spark, root, Seq(3L, 5L), 2L)
    assert(RetrievalStream.readStats(spark, root)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq === wantStats)
    // compaction bakes the SINGLE subtraction in, not a double one
    RetrievalStream.compactStore(spark, root, upTo = 2L)
    assert(RetrievalStream.bm25TopK(spark, root, terms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq === want)
  }

  test("an orphan stats correction is legal only at the newest lifecycle " +
      "batch (the in-flight torn window); older orphans fail loud") {
    // ADVICE r16 #2: tombstoneFrom writes correction-first — a crash
    // before the marker write leaves a c with no d. The caller's
    // redelivery heals the NEWEST batch; an orphan any older means the
    // caller moved on and the store is permanently torn (stats exclude
    // docs the postings still serve)
    val root = java.nio.file.Files.createTempDirectory("tomb_torn_").toString
    RetrievalStream.writeStanding(spark, root,
      docs.filter(col("doc_id") < 40))
    RetrievalStream.tombstone(spark, root, Seq(1L), 1L)
    // simulate the crash: drop the d1 marker, keep the c1 correction
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$root/post/d1"), true))
    // newest lifecycle batch → torn window, reads proceed (redelivery
    // would overwrite both writes deterministically)
    RetrievalStream.readStats(spark, root).collect()
    // a LATER completed sweep makes the orphan permanent → refuse
    RetrievalStream.tombstone(spark, root, Seq(2L), 2L)
    val e = intercept[IllegalArgumentException] {
      RetrievalStream.readStats(spark, root).collect()
    }
    assert(e.getMessage.contains("permanently torn"),
      s"an unhealable orphan correction must fail loud: ${e.getMessage}")
  }

  test("BM25 revive inverts the takedown pair exactly: postings return, " +
      "stats re-add the same (1, dl), probes score like a from-scratch " +
      "index over retained ∪ revived, compaction keeps revived rows, and " +
      "a bare Versions.revive still fails loud") {
    val root = java.nio.file.Files.createTempDirectory("tomb_rev_").toString
    val terms = Seq("data", "merge", "hash", "scan")
    RetrievalStream.writeStanding(spark, root,
      docs.filter(col("doc_id") < 40))
    RetrievalStream.appendBatch(spark, root)(
      docs.filter(col("doc_id").between(40, 49)), 0L)
    RetrievalStream.tombstone(spark, root, Seq(0L, 3L, 41L), 1L)
    import spark.implicits._
    RetrievalStream.revive(spark, root, Seq(3L, 41L).toDF("id"), 2L)

    def want(dead: Seq[Long]): Seq[(Long, Double)] = {
      val retained = docs.filter(col("doc_id") < 50 &&
        !col("doc_id").isin(dead: _*))
      Retrieval.bm25TopK(retained, "doc_id", "text", terms, 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    }
    def got(): Seq[(Long, Double)] =
      RetrievalStream.bm25TopK(spark, root, terms, 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got() === want(Seq(0L)),
      "revived docs must score exactly like never-deleted ones")
    // redelivered revive overwrites both writes deterministically
    RetrievalStream.revive(spark, root, Seq(3L, 41L).toDF("id"), 2L)
    assert(got() === want(Seq(0L)))
    // re-tombstone one revived doc (newest verb wins again)
    RetrievalStream.tombstone(spark, root, Seq(3L), 3L)
    assert(got() === want(Seq(0L, 3L)))
    // compaction: still-dead rows drop physically, revived rows SURVIVE
    // the fold, markers + corrections are consumed, reads unchanged
    RetrievalStream.compactStore(spark, root, upTo = 3L)
    assert(got() === want(Seq(0L, 3L)))
    assert(Versions.listTombstones(spark, s"$root/post").isEmpty &&
      Versions.listRevives(spark, s"$root/post").isEmpty &&
      Versions.listPrefixed(spark, s"$root/stats", 'c').isEmpty)
    val raw = spark.read.parquet(s"$root/post/v0")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(raw.contains(41L) && !raw.contains(3L) && !raw.contains(0L))
    // reviving a physically-compacted id refuses (deletion is final)
    val e0 = intercept[IllegalArgumentException] {
      RetrievalStream.revive(spark, root, Seq(3L).toDF("id"), 4L)
    }
    assert(e0.getMessage.contains("nothing to revive") ||
      e0.getMessage.contains("not taken down"), e0.getMessage)
    // a bare Versions.revive (no stats re-correction) fails readStats
    // loud — the store's revive verb is the only legal path
    RetrievalStream.tombstone(spark, root, Seq(5L), 4L)
    Versions.revive(spark, s"$root/post", Seq(5L).toDF("id"), 5L)
    val e = intercept[IllegalArgumentException] {
      RetrievalStream.readStats(spark, root).collect()
    }
    assert(e.getMessage.contains("no stats correction"), e.getMessage)
  }

  test("BM25 compactStore refuses a bound that would orphan a pending " +
      "revive BEFORE its first physical step — the dlen fold must never " +
      "drop rows a newer revive's future corrections need") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("tomb_pend_")
      .toString
    val terms = Seq("data", "merge", "hash", "scan")
    RetrievalStream.writeStanding(spark, root,
      docs.filter(col("doc_id") < 40))
    RetrievalStream.tombstone(spark, root, Seq(1L, 2L), 1L)
    RetrievalStream.revive(spark, root, Seq(1L).toDF("id"), 2L)
    // upTo = 1 sees id 1 dead (the r2 marker is above the bound): the
    // old orchestration dropped its dlen row, THEN the posting
    // compaction refused — leaving a live doc whose future takedown
    // would subtract (0, 0). The hoisted check refuses up front.
    val e = intercept[IllegalArgumentException] {
      RetrievalStream.compactStore(spark, root, upTo = 1L)
    }
    assert(e.getMessage.contains("revive marker newer"), e.getMessage)
    // nothing was touched: the full-bound compaction then runs and
    // probes (including a fresh takedown of the revived doc — the
    // exact future the refusal protects) stay bit-exact
    RetrievalStream.compactStore(spark, root, upTo = 2L)
    RetrievalStream.tombstone(spark, root, Seq(1L), 3L)
    val retained = docs.filter(col("doc_id") < 40 &&
      !col("doc_id").isin(1L, 2L))
    val want = Retrieval.bm25TopK(retained, "doc_id", "text", terms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(RetrievalStream.bm25TopK(spark, root, terms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq === want)
  }

  test("a crashed MULTI-BATCH compactStore (markers consumed, corrections " +
      "still in-band) refuses reads naming the re-run recovery, and the " +
      "re-run heals exactly") {
    // the state is listing-indistinguishable from a crashed
    // tombstoneFrom (the genuinely-torn case), so readStats refuses
    // loud with both recoveries named instead of silently folding
    val root = java.nio.file.Files.createTempDirectory("tomb_mb_").toString
    val terms = Seq("data", "merge", "hash", "scan")
    RetrievalStream.writeStanding(spark, root,
      docs.filter(col("doc_id") < 40))
    RetrievalStream.tombstone(spark, root, Seq(1L), 1L)
    RetrievalStream.tombstone(spark, root, Seq(2L), 2L)
    // simulate the crash: dlen + posting steps completed (both marker
    // batches consumed), the stats step never ran
    val delIds = spark.createDataFrame(Versions.deadIds(spark, s"$root/post",
        2L).get.map(Tuple1(_))).toDF("doc_id").localCheckpoint(true)
    Versions.compact(spark, s"$root/dlen", 2L,
      df => df.join(broadcast(delIds), Seq("doc_id"), "left_anti"),
      allowSingle = true)
    Versions.compact(spark, s"$root/post", 2L,
      tombstoneIdCol = Some("doc_id"), clusterBy = Seq("term"),
      allowSingle = true)
    val e = intercept[IllegalArgumentException] {
      RetrievalStream.readStats(spark, root).collect()
    }
    assert(e.getMessage.contains("re-run"), e.getMessage)
    // recovery: re-run at the same bound — corrections consumed, probes
    // bit-exact over the retained corpus
    RetrievalStream.compactStore(spark, root, upTo = 2L)
    val retained = docs.filter(col("doc_id") < 40 &&
      !col("doc_id").isin(1L, 2L))
    val want = Retrieval.bm25TopK(retained, "doc_id", "text", terms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(RetrievalStream.bm25TopK(spark, root, terms, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq === want)
  }

  test("reviveAll mirrors the takedown journal protocol: one resolved " +
      "sweep, crash-mid-fan-out recoverable from the r journal with the " +
      "re-run's sweep ignored, committed no-op, vacuum covers both " +
      "directions") {
    import spark.implicits._
    import graft.streaming.Takedown
    import graft.streaming.Takedown.Target
    val (ct1, ct2) = (freshContainmentStore(), freshContainmentStore())
    val journal = java.nio.file.Files.createTempDirectory("tomb_rj_")
      .toString
    def idsOf(ct: String): Set[Long] = ContainmentStream.readIndex(spark, ct)
      .select("id").distinct().collect().map(_.getLong(0)).toSet
    Takedown.takedownAll(spark, journal, Seq(3L, 4L, 5L).toDF("id"), 1L,
      Seq(Target("ct1", ct1), Target("ct2", ct2)))
    assert(!idsOf(ct1).contains(3L))

    // crash mid-fan-out: the bad target throws while its healthy
    // siblings complete (the r17 overlap) — the failed store vs the
    // revived ones is the disagreement window the journal exists to
    // close
    intercept[IllegalArgumentException] {
      Takedown.reviveAll(spark, journal, Seq(3L, 4L).toDF("id"), 2L, Seq(
        Target.revive("ct1", ct1),
        Target.revive("missing", s"$journal/no_such_store"),
        Target.revive("ct2", ct2)))
    }
    assert(Takedown.incomplete(spark, journal, prefix = 'r') === Seq(2L))
    assert(Takedown.incomplete(spark, journal).isEmpty,
      "the t namespace must not see the r journal")
    assert(idsOf(ct1).contains(3L) && idsOf(ct2).contains(3L),
      "healthy siblings complete; the journal stays uncommitted until " +
        "recovery re-runs the failed store")
    // recovery passes a DIFFERENT sweep: the journal wins — ids 3,4
    // revive on both stores, 5 stays dead
    Takedown.reviveAll(spark, journal, Seq(5L).toDF("id"), 2L, Seq(
      Target.revive("ct1", ct1), Target.revive("ct2", ct2)))
    assert(Takedown.incomplete(spark, journal, prefix = 'r').isEmpty)
    assert(idsOf(ct1) === idsOf(ct2) &&
      idsOf(ct1).contains(3L) && idsOf(ct1).contains(4L) &&
      !idsOf(ct1).contains(5L))
    // committed — a re-run no-ops whatever sweep it carries
    Takedown.reviveAll(spark, journal, Seq(5L).toDF("id"), 2L,
      Seq(Target.revive("ct1", ct1)))
    assert(!idsOf(ct1).contains(5L))
    // the next takedown's cadence vacuums BOTH directions' committed
    // journals inside its retention bound
    Takedown.takedownAll(spark, journal, Seq(6L).toDF("id"), 3L,
      Seq(Target("ct1", ct1)))
    val fs = new org.apache.hadoop.fs.Path(journal)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$journal/t1")) &&
      !fs.exists(new org.apache.hadoop.fs.Path(s"$journal/r2")))
  }

  test("a masked read keeps null-id rows, as the anti-join does, in both " +
      "the literal and the broadcast arm") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("tomb_null_").toString
    Seq[(Option[Long], String)]((Some(1L), "a"), (None, "b"), (Some(2L), "c"))
      .toDF("id", "v").write.parquet(s"$root/v0")
    def kept: Seq[String] = Versions.maskTombstones(spark, root,
        spark.read.parquet(s"$root/v0"), "id")
      .select("v").as[String].collect().toSeq.sorted
    Versions.tombstone(spark, root, Seq(2L), 0L)
    assert(kept === Seq("a", "b"))
    Versions.tombstone(spark, root, 100L to 100L + Versions.PushIdLimit, 1L)
    assert(Versions.deadIds(spark, root).get.size > Versions.PushIdLimit)
    assert(kept === Seq("a", "b"))
  }

  test("a refused RetrievalStream.revive writes no stats correction: a " +
      "live id and a compacted-away id leave no stats/c<batchId>, no revive " +
      "marker and readStats unchanged") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("tomb_rvref_")
      .toString
    RetrievalStream.writeStanding(spark, root,
      docs.filter(col("doc_id") < 40))
    // ids 1 and 2 are compacted away; id 3 stays dead behind a live
    // marker, so every refusal below is the per-id check
    RetrievalStream.tombstone(spark, root, Seq(1L, 2L), 1L)
    RetrievalStream.compactStore(spark, root, upTo = 1L)
    RetrievalStream.tombstone(spark, root, Seq(3L), 2L)
    def stats(): Seq[String] =
      RetrievalStream.readStats(spark, root).collect().map(_.toString).toSeq
    val before = stats()
    for (ids <- Seq(Seq(5L), Seq(1L), Seq(3L, 5L), Seq(2L, 3L))) {
      val e = intercept[IllegalArgumentException] {
        RetrievalStream.revive(spark, root, ids.toDF("id"), 3L)
      }
      assert(e.getMessage.contains("not taken down"), e.getMessage)
      assert(!Versions.listPrefixed(spark, s"$root/stats", 'c')
        .exists(_._1 == 3L), s"refused revive of $ids left stats/c3")
      assert(Versions.listRevives(spark, s"$root/post").isEmpty)
      assert(stats() === before, s"refused revive of $ids moved readStats")
    }
    // the same store still revives a dead id
    RetrievalStream.revive(spark, root, Seq(3L).toDF("id"), 3L)
    assert(stats() !== before)
  }
}
