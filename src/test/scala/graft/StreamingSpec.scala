package graft

import graft.sources.Tables
import graft.streaming.EventStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming/batch parity: the micro-batched pipeline over the bounded events
  * directory must agree with the equivalent batch aggregation. */
class StreamingSpec extends SparkSpec {

  test("stateful sessionization emits exactly the batch sessions minus each user's open tail") {
    val streamed = EventStream.runBounded(spark, sfDir,
        df => EventStream.sessionize(df, 30).toDF(), "sessions",
        outputMode = "append")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet

    val batch = graft.queries.Relational.q19Sessionize(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // last session per user never closes on a bounded stream (NoTimeout)
    val lastPerUser = batch.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    val batchClosed = batch.filterNot { case (u, sid, _, _) =>
      lastPerUser(u) == sid
    }
    assert(streamed === batchClosed)
    assert(streamed.nonEmpty)
  }

  test("checkpoint resume is exactly-once: a restarted query ingests only " +
      "new files and the file sink never duplicates") {
    // The reference hand-rolls delivery tracking with per-record receipts
    // (/root/reference/Orchestrator.fs:142-163); Spark's contract is
    // checkpointed source offsets + transactional file-sink commits. Run a
    // stream to completion over 2 input files, drop 2 more files in,
    // restart from the same checkpoint — the second run must process only
    // the new files, and the sink must hold every event exactly once.
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("resume_").toString
    val (in, out, ckpt) = (s"$root/in", s"$root/out", s"$root/ckpt")
    Files.createDirectories(Paths.get(in))
    val events = Tables.events(spark, sfDir).select("event_id", "user_id")
    val quarters = (0 until 4).map(q => events.filter(
      pmod(col("event_id"), lit(4)) === q))
    def addFile(q: Int): Unit =
      quarters(q).coalesce(1).write.mode("append").parquet(in)
    def drain(): Unit = {
      val q = spark.readStream
        .schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    addFile(0); addFile(1)
    drain()
    val afterFirst = spark.read.parquet(out).count()
    addFile(2); addFile(3)
    drain()
    val sink = spark.read.parquet(out)
      .select("event_id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().sorted
    val want = events.select("event_id")
      .as[Long](org.apache.spark.sql.Encoders.scalaLong).collect().sorted
    assert(afterFirst < want.length, "first run must not see later files")
    assert(sink.length === want.length, "exactly-once: no dupes, no loss")
    assert(sink.toSeq === want.toSeq)
  }

  test("stage + replay: a root staged in two phases replays each batch " +
      "once, in batch order, and never re-stamps earlier files") {
    // The registry's streaming harness in p89's shape: drain batches 0-1,
    // compact (here: a setup write between the phases), then stage the
    // rest. A second stage() into the same root must leave the first
    // phase's mtimes alone, and replay() resumes from the same checkpoint.
    // Driven twice: by stage() + replay() on a plain root, and by the
    // StreamRun runner the registry queries use.
    import java.io.File
    import java.nio.file.Files
    import graft.queries.Pipeline.{StreamRun, replay, stage}
    import spark.implicits._
    // ids stripe across the batches, which hold 4, 4 and 3 rows
    val rows = (0L until 11L).map(i => (i, s"t$i", (i % 3).toInt))
    val incoming = rows.toDF("id", "txt", "batch")
    def check(root: String)(
        phase: (Seq[Int], (DataFrame, Long) => Unit) => Unit): Unit = {
      val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Set[Long])]
      val body: (DataFrame, Long) => Unit = (b, id) =>
        seen += ((id, b.select("id").as[Long].collect().toSet))
      def stamps(): Map[String, Long] = new File(s"$root/in").listFiles()
        .filter(_.getName.startsWith("part-"))
        .map(f => f.getName -> f.lastModified()).toMap
      phase(Seq(0, 1), body)
      val first = stamps()
      phase(Seq(2), body)
      val last = stamps()

      assert(seen.map(_._1).toSeq === Seq(0L, 1L, 2L))
      val want = (0 until 3).map(b => rows.filter(_._3 == b).map(_._1).toSet)
      assert(seen.map(_._2).toSeq === want)
      assert(first.size === 2 && last.size === 3)
      first.foreach { case (name, t) =>
        assert(last(name) === t, s"$name was re-stamped by the second stage")
      }
      assert((last -- first.keys).values.forall(_ > first.values.max))
    }
    val plain = Files.createTempDirectory("replay_").toString
    check(plain) { (batches, body) =>
      stage(incoming, col("batch"), plain, batches)
      replay(spark, plain, incoming.drop("batch").schema)(body)
    }
    val r = new StreamRun(spark)
    check(r.root) { (batches, body) =>
      r.run(incoming, col("batch"), batches)(
        () => Seq(batches.head).toDF("b").write.parquet(r(s"setup/${batches.head}")))(
        body)
    }
    assert(spark.read.parquet(r("setup/*")).count() === 2)
  }

  test("stream runner: every root lives under one parent, and the " +
      "cleanup removes a populated tree") {
    import java.nio.file.{Files, Paths}
    import graft.queries.Pipeline.{StreamRun, deleteTree, streamParent}
    val (a, b) = (new StreamRun(spark), new StreamRun(spark))
    assert(a.root !== b.root)
    assert(Paths.get(a.root).getParent === streamParent)
    assert(Paths.get(b.root).getParent === streamParent)
    Files.createDirectories(Paths.get(a("x/y")))
    Files.writeString(Paths.get(a("x/y/f.txt")), "data")
    Files.writeString(Paths.get(a("top.txt")), "data")
    deleteTree(new java.io.File(a.root))
    assert(!Files.exists(Paths.get(a.root)))
    assert(Files.isDirectory(Paths.get(b.root)))
  }

  test("DSv2 paged stream: one page per micro-batch, drains to EOF bound") {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val ckpt = java.nio.file.Files.createTempDirectory("paged_ckpt").toString
    val q = spark.readStream.format("graft.sources.v2.PagedRollSource")
      .option("rows", "5000").option("pageSize", "1024").load()
      .writeStream.format("memory").queryName("paged_stream")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // complete, exactly-once id stream
    val ids = spark.table("paged_stream").select("id").as[Long]
      .collect().sorted.toSeq
    assert(ids === (0L until 5000L))
    // batched flow control: ceil(5000/1024) = 5 pages, one per micro-batch
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    assert(dataBatches === 5,
      s"expected 5 one-page micro-batches, got $dataBatches")
    assert(q.recentProgress.filter(_.numInputRows > 0)
      .forall(_.numInputRows <= 1024), "a micro-batch exceeded one page")
  }

  test("foreachBatch corpus upsert merges delta micro-batches exactly once") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.CorpusMaintenance
    import spark.implicits._
    val root = Files.createTempDirectory("corpus_").toString
    val (corpus, in) = (s"$root/corpus", s"$root/in")
    Files.createDirectories(Paths.get(in))
    // v0: the standing corpus
    Seq((1L, "a", 0), (2L, "b", 0), (3L, "c", 0)).toDF("id", "txt", "rev")
      .write.parquet(s"$corpus/v0")
    // two delta files = two micro-batches (commutative: disjoint keys, so
    // the file-listing order can't change the final corpus)
    val d1 = Seq((2L, "b2", 1), (9L, "i", 1)).toDF("id", "txt", "rev")
    val d2 = Seq((3L, "c2", 1), (8L, "h", 1)).toDF("id", "txt", "rev")
    d1.coalesce(1).write.mode("append").parquet(in)
    d2.coalesce(1).write.mode("append").parquet(in)
    val q = spark.readStream.schema(d1.schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
      .writeStream
      .foreachBatch(CorpusMaintenance.upsertBatch(spark, corpus, Seq("id")) _)
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.read.parquet(CorpusMaintenance.latest(spark, corpus).get)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    assert(got === Seq((1L, "a", 0), (2L, "b2", 1), (3L, "c2", 1),
      (8L, "h", 1), (9L, "i", 1)))
    // both micro-batches left a version behind v0
    assert(CorpusMaintenance.latest(spark, corpus).get.endsWith("v2"))
  }

  test("corpus vacuum drops stale full snapshots, keeps the redelivery base") {
    import java.nio.file.Files
    import graft.streaming.CorpusMaintenance
    import spark.implicits._
    val corpus = Files.createTempDirectory("corpus_vac_").toString
    Seq((1L, "a")).toDF("id", "txt").write.parquet(s"$corpus/v0")
    def up(df: org.apache.spark.sql.DataFrame, id: Long): Unit =
      CorpusMaintenance.upsertBatch(spark, corpus, Seq("id"))(df, id)
    up(Seq((2L, "b")).toDF("id", "txt"), 0L)
    up(Seq((3L, "c")).toDF("id", "txt"), 1L)
    up(Seq((1L, "a2")).toDF("id", "txt"), 2L)
    def versionNames() = new java.io.File(corpus).listFiles()
      .map(_.getName).filter(_.matches("v\\d+")).sorted.toSeq
    assert(versionNames() === Seq("v0", "v1", "v2", "v3"))
    CorpusMaintenance.vacuum(spark, corpus, keepLast = 2)
    assert(versionNames() === Seq("v2", "v3"))
    // a redelivered batch 2 rebases on v2 (the surviving second-newest)
    // and rewrites v3 identically
    val before = spark.read.parquet(s"$corpus/v3").collect().toSeq
      .map(_.toString).sorted
    up(Seq((1L, "a2")).toDF("id", "txt"), 2L)
    assert(spark.read.parquet(s"$corpus/v3").collect().toSeq
      .map(_.toString).sorted === before, "redelivery after vacuum")
    // the next batch merges onto the vacuumed newest as usual
    up(Seq((4L, "d")).toDF("id", "txt"), 3L)
    val got = spark.read.parquet(CorpusMaintenance.latest(spark, corpus).get)
      .as[(Long, String)].collect().toSet
    assert(got === Set((1L, "a2"), (2L, "b"), (3L, "c"), (4L, "d")))
    // keepLast < 2 would delete the redelivery base; refused
    val e = intercept[IllegalArgumentException] {
      CorpusMaintenance.vacuum(spark, corpus, keepLast = 1)
    }
    assert(e.getMessage.contains("keepLast"))
  }

  test("corpus upsert refuses a fresh checkpoint over newer versions") {
    import java.nio.file.Files
    import graft.streaming.CorpusMaintenance
    import spark.implicits._
    val corpus = Files.createTempDirectory("corpus_guard_").toString
    val df = Seq((1L, "a")).toDF("id", "txt")
    df.write.parquet(s"$corpus/v0")
    df.write.parquet(s"$corpus/v5") // history from a prior run
    // a restarted stream with a reset checkpoint replays batch 0 — merging
    // would rebase onto v0 and overwrite v1..v5; it must throw instead
    val e = intercept[IllegalArgumentException] {
      CorpusMaintenance.upsertBatch(spark, corpus, Seq("id"))(df, 0L)
    }
    assert(e.getMessage.contains("fresh checkpoint"))
    // the normal next-batch path (newest == batchId) still works
    CorpusMaintenance.upsertBatch(spark, corpus, Seq("id"))(
      Seq((2L, "b")).toDF("id", "txt"), 5L)
    assert(CorpusMaintenance.latest(spark, corpus).get.endsWith("v6"))
    // the retry boundary (newest == batchId + 1): batch 5 redelivered with
    // its own v6 already on disk must NOT throw — it rebases on v5 and
    // rewrites v6 idempotently
    CorpusMaintenance.upsertBatch(spark, corpus, Seq("id"))(
      Seq((2L, "b")).toDF("id", "txt"), 5L)
    val v6 = spark.read.parquet(s"$corpus/v6").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(v6 === Seq((1L, "a"), (2L, "b")))
  }

  test("streaming passage filter: cross-batch probe, idempotent redelivery, " +
      "checkpoint resume") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.PassageStream
    import spark.implicits._
    val root = Files.createTempDirectory("pstream_").toString
    val (in, idx, out, ckpt) = (s"$root/in", s"$root/idx", s"$root/out", s"$root/ckpt")
    Files.createDirectories(Paths.get(in))
    val corpusTxt = "alpha beta gamma delta"
    val standing = Seq((1L, corpusTxt), (2L, "one two three four"))
      .toDF("doc_id", "text")
    graft.operators.Dedup
      .passageWindowIndex(standing, "doc_id", "text", windowTokens = 3)
      .write.parquet(s"$idx/v0")
    // batch 0: doc 10 replays the corpus (cross-corpus dup), doc 11 novel
    // batch 1: doc 12 replays doc 11 — a dup visible ONLY through batch 0's
    //          index delta (the cross-batch path); doc 13 novel
    val b0 = Seq((10L, corpusTxt), (11L, "red green blue yellow pink"))
      .toDF("doc_id", "text")
    val b1 = Seq((12L, "red green blue yellow pink"), (13L, "zeta eta theta iota"))
      .toDF("doc_id", "text")
    val stamped = scala.collection.mutable.Set.empty[java.io.File]
    def addFile(df: org.apache.spark.sql.DataFrame, b: Int): Unit = {
      df.coalesce(1).write.mode("append").parquet(in)
      new java.io.File(in).listFiles()
        .filter(f => f.getName.startsWith("part-") && !stamped.contains(f))
        .foreach { f =>
          f.setLastModified(1600000000000L + b * 60000L); stamped += f }
    }
    def drain(): Unit = {
      val q = spark.readStream
        .schema(b0.schema).option("maxFilesPerTrigger", 1).parquet(in)
        .writeStream
        .foreachBatch(PassageStream.filterBatch(spark, idx, out,
          "doc_id", "text", windowTokens = 3) _)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    addFile(b0, 0); addFile(b1, 1)
    drain()
    def ratios(): Map[Long, (Long, Long)] =
      spark.read.parquet(s"$out/b*").select("doc_id", "n_dup_windows", "n_windows")
        .as[(Long, Long, Long)].collect()
        .map { case (d, nd, nw) => d -> (nd, nw) }.toMap
    val r1 = ratios()
    assert(r1(10L)._1 === r1(10L)._2, "corpus replay must be fully flagged")
    assert(r1(11L)._1 === 0L, "novel doc in batch 0 must be clean")
    assert(r1(12L)._1 === r1(12L)._2,
      "batch-1 replay of a batch-0 doc must be flagged via the index delta")
    assert(r1(13L)._1 === 0L, "novel doc in batch 1 must be clean")
    // lineage: v0 (standing) + one delta per batch
    def versionNames() = new java.io.File(idx).listFiles()
      .map(_.getName).filter(_.matches("v\\d+")).sorted.toSeq
    assert(versionNames() === Seq("v0", "v1", "v2"))
    // redelivered batch must rewrite its outputs byte-identically (reads
    // only deltas <= its id — its own half-written v2 is excluded)
    val before = spark.read.parquet(s"$out/b1").collect().toSeq
      .map(_.toString).sorted
    PassageStream.filterBatch(spark, idx, out, "doc_id", "text", 3)(b1, 1L)
    val after = spark.read.parquet(s"$out/b1").collect().toSeq
      .map(_.toString).sorted
    assert(after === before, "redelivery must be idempotent")
    assert(versionNames() === Seq("v0", "v1", "v2"))
    // a fresh checkpoint replaying batch 0 over the v2 index = forked
    // lineage; must refuse
    val e = intercept[IllegalArgumentException] {
      PassageStream.filterBatch(spark, idx, out, "doc_id", "text", 3)(b0, 0L)
    }
    assert(e.getMessage.contains("fresh checkpoint"))
    // checkpoint resume: a third file arrives, the restarted stream must
    // process ONLY it (as batch 2) and leave earlier outputs untouched
    val b2 = Seq((14L, corpusTxt)).toDF("doc_id", "text")
    addFile(b2, 2)
    drain()
    val r2 = ratios()
    assert(r2(14L)._1 === r2(14L)._2, "resumed batch must probe the index")
    assert(r2.view.filterKeys(_ != 14L).toMap === r1,
      "earlier batches must not re-emit")
    assert(versionNames() === Seq("v0", "v1", "v2", "v3"))
  }

  test("auto-compaction bounds a long-lived stream's version fan-in at " +
      "K+1 reads and stays byte-identical to the uncompacted run") {
    import java.nio.file.Files
    import graft.streaming.PassageStream
    import spark.implicits._
    val root = Files.createTempDirectory("autocompact_").toString
    val (idxA, outA) = (s"$root/idxA", s"$root/outA")
    val (idxB, outB) = (s"$root/idxB", s"$root/outB")
    val standing = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    Seq(idxA, idxB).foreach { idx =>
      graft.operators.Dedup
        .passageWindowIndex(standing, "doc_id", "text", windowTokens = 3)
        .write.parquet(s"$idx/v0")
    }
    def txt(i: Int) = s"tok${i}a tok${i}b tok${i}c tok${i}d tok${i}e"
    // batch i: one novel doc + one replay (of the standing corpus early,
    // of batch i-3's novel text later — by batch 8 that text's delta has
    // been folded into the base TWICE, so detection must read through the
    // compacted base)
    val batches = (0 until 9).map { i =>
      val replay =
        if (i >= 3) (200L + i, txt(i - 3))
        else (300L + i, "alpha beta gamma delta")
      Seq((100L + i, txt(i)), replay).toDF("doc_id", "text")
    }
    val K = 4
    def names(idx: String) = new java.io.File(idx).listFiles()
      .map(_.getName).filter(_.matches("v\\d+")).sorted.toSeq
    batches.zipWithIndex.foreach { case (b, i) =>
      PassageStream.filterBatch(spark, idxA, outA, "doc_id", "text",
        windowTokens = 3, autoCompactVersions = Some(K))(b, i.toLong)
      // a batch reads at most K+1 versions (it compacts above K BEFORE
      // reading), and leaves at most base + K deltas + its own new delta
      assert(names(idxA).size <= K + 2,
        s"batch $i left versions ${names(idxA)}")
      PassageStream.filterBatch(spark, idxB, outB, "doc_id", "text",
        windowTokens = 3)(b, i.toLong)
    }
    assert(names(idxB).size === 10, "control run must keep every delta")
    assert(names(idxA).size <= K + 2, "compaction never ran")
    // every batch's stats byte-identical to the uncompacted control
    (0 until 9).foreach { i =>
      val a = spark.read.parquet(s"$outA/b$i").collect()
        .map(_.toString).sorted.toSeq
      val b = spark.read.parquet(s"$outB/b$i").collect()
        .map(_.toString).sorted.toSeq
      assert(a === b, s"batch $i diverged under auto-compaction")
    }
    // the late replay is fully flagged THROUGH the twice-compacted base
    val r = spark.read.parquet(s"$outA/b8")
      .select("doc_id", "n_dup_windows", "n_windows")
      .as[(Long, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    assert(r(208L)._1 === r(208L)._2,
      "replay of a compacted-away delta must still be detected")
    assert(r(108L)._1 === 0L)
  }

  test("streaming near-dup filter: cross-batch pair surfaces in the later " +
      "batch; redelivery idempotent") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.NearDupStream
    import spark.implicits._
    val root = Files.createTempDirectory("ndstream_").toString
    val (in, idx, dstore, out, ckpt) =
      (s"$root/in", s"$root/idx", s"$root/docs", s"$root/out", s"$root/ckpt")
    Files.createDirectories(Paths.get(in))
    // per-seed token namespace: docs from different seeds share NO tokens
    def doc(seed: Int, words: Int): String =
      (0 until words).map(i => s"t${seed}x$i").mkString(" ")
    val base = doc(3, 60)
    val nearDup = base.split(" ").updated(5, "changed").mkString(" ")
    val standing = Seq((1L, base), (2L, doc(50, 60))).toDF("doc_id", "text")
    graft.operators.Dedup.minhashBandIndex(standing, "doc_id", "text")
      .write.parquet(s"$idx/v0")
    standing.write.parquet(s"$dstore/v0")
    // batch 0: doc 10 near-dups the CORPUS doc 1; doc 11 novel
    // batch 1: doc 12 near-dups the BATCH-0 doc 11 — visible only through
    //          batch 0's band/doc deltas (the cross-batch path)
    val novel = doc(70, 60)
    val b0 = Seq((10L, nearDup), (11L, novel)).toDF("doc_id", "text")
    val b1 = Seq((12L, novel.split(" ").updated(7, "altered").mkString(" ")),
      (13L, doc(90, 60))).toDF("doc_id", "text")
    val stamped = scala.collection.mutable.Set.empty[java.io.File]
    def addFile(df: org.apache.spark.sql.DataFrame, b: Int): Unit = {
      df.coalesce(1).write.mode("append").parquet(in)
      new java.io.File(in).listFiles()
        .filter(f => f.getName.startsWith("part-") && !stamped.contains(f))
        .foreach { f =>
          f.setLastModified(1600000000000L + b * 60000L); stamped += f }
    }
    addFile(b0, 0); addFile(b1, 1)
    val q = spark.readStream
      .schema(b0.schema).option("maxFilesPerTrigger", 1).parquet(in)
      .writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        NearDupStream.filterBatch(spark, idx, dstore, out,
          "doc_id", "text", threshold = 0.4)(b, id)
        ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val pairs = spark.read.parquet(s"$out/b*")
      .select("id_a", "id_b", "batch").as[(Long, Long, Long)]
      .collect().toSet
    assert(pairs.contains((1L, 10L, 0L)),
      s"corpus near-dup must surface in batch 0: $pairs")
    assert(pairs.contains((11L, 12L, 1L)),
      s"cross-batch near-dup must surface in the LATER batch: $pairs")
    assert(!pairs.exists(p => p._1 == 13L || p._2 == 13L), "novel doc clean")
    // redelivery of batch 1 rewrites byte-identically (rebases on v0/v1)
    val before = spark.read.parquet(s"$out/b1").collect().toSeq
      .map(_.toString).sorted
    NearDupStream.filterBatch(spark, idx, dstore, out, "doc_id", "text",
      threshold = 0.4)(b1, 1L)
    val after = spark.read.parquet(s"$out/b1").collect().toSeq
      .map(_.toString).sorted
    assert(after === before, "redelivery must be idempotent")
    // fresh checkpoint over existing deltas = forked lineage; must refuse
    val e = intercept[IllegalArgumentException] {
      NearDupStream.filterBatch(spark, idx, dstore, out, "doc_id", "text",
        threshold = 0.4)(b0, 0L)
    }
    assert(e.getMessage.contains("fresh checkpoint"))
  }

  test("trickle-probe pushes are result-identical: near-dup bucket IN and " +
      "media fp IN emit the same pairs as the unpushed probe") {
    import java.nio.file.Files
    import graft.multimodal.Multimodal
    import graft.streaming.{MediaFpStream, NearDupStream}
    import graft.sources.Tables
    import spark.implicits._
    // near-dup: the same 3-doc batch (one a near-dup of a standing doc)
    // probes the same standing store with and without the bucket push
    def doc(seed: Int, words: Int): String =
      (0 until words).map(i => s"t${seed}x$i").mkString(" ")
    val base = doc(3, 60)
    val standing = Seq((1L, base), (2L, doc(50, 60))).toDF("doc_id", "text")
    val batch = Seq(
      (10L, base.split(" ").updated(5, "changed").mkString(" ")),
      (11L, doc(70, 60)), (12L, doc(80, 60))).toDF("doc_id", "text")
    def ndPairs(push: Int): Set[(Long, Long, Long)] = {
      val root = Files.createTempDirectory("ndpush_").toString
      graft.operators.Dedup.minhashBandIndex(standing, "doc_id", "text")
        .write.parquet(s"$root/idx/v0")
      standing.write.parquet(s"$root/docs/v0")
      NearDupStream.filterBatch(spark, s"$root/idx", s"$root/docs",
        s"$root/out", "doc_id", "text", threshold = 0.4,
        pushBucketLimit = push)(batch, 0L)
      spark.read.parquet(s"$root/out/b0")
        .select("id_a", "id_b", "batch").as[(Long, Long, Long)]
        .collect().toSet
    }
    val ndPushed = ndPairs(1024)
    assert(ndPushed === ndPairs(0), "bucket push must not change pairs")
    assert(ndPushed.contains((1L, 10L, 0L)),
      s"the planted near-dup must survive the push: $ndPushed")

    // media fp: a re-upload batch probes with and without the fp push
    val clips = Multimodal.fromDocuments(spark,
        Tables.documents(spark, sfDir), onlyKind = Some("audio"),
        intAudio = true)
      .filter(_.media_id < 40).toDF()
      .select(col("media_id"), col("payload")).localCheckpoint(true)
    val someId = clips.select("media_id").orderBy("media_id")
      .first().getLong(0)
    val reupload = clips.filter(col("media_id") === someId)
      .select((col("media_id") + 5000).as("media_id"), col("payload"))
      .localCheckpoint(true)
    val profiler = (df: org.apache.spark.sql.DataFrame) =>
      Multimodal.audioFpBytes(df, "media_id", "payload")
    def fpPairs(push: Int): Set[(Long, Long)] = {
      val root = Files.createTempDirectory("fppush_").toString
      MediaFpStream.writeStanding(spark, root, clips, profiler)
      MediaFpStream.filterBatch(spark, root, s"$root.out", profiler,
        materializePairs = true, pushFpLimit = push)(reupload, 0L)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    }
    val fpPushed = fpPairs(1024)
    assert(fpPushed === fpPairs(0), "fp push must not change pairs")
    assert(fpPushed.contains((someId, someId + 5000)),
      s"the re-upload's exact-fp pair must survive the push: $fpPushed")
  }

  test("streaming funnel: carried stage advances across batches, no-change " +
      "users stay silent; redelivery idempotent; lineage guard") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.FunnelStream
    import spark.implicits._
    val root = Files.createTempDirectory("fnstream_").toString
    val (in, state, out, ckpt) =
      (s"$root/in", s"$root/state", s"$root/out", s"$root/ckpt")
    Files.createDirectories(Paths.get(in))
    def ts(i: Int) = new java.sql.Timestamp(1700000000000L + i * 1000L)
    // standing state: user 1 already at stage 1 (historical view)
    Seq((1L, 1, 0L)).toDF("user_id", "stage", "__v")
      .write.parquet(s"$state/v0")
    // batch 0: user 1 clicks (1 -> 2); user 2 views (0 -> 1);
    //          user 3 errors (stays 0 — must NOT be emitted)
    val b0 = Seq((100L, ts(1), 1L, "click"), (101L, ts(2), 2L, "view"),
        (102L, ts(3), 3L, "error"))
      .toDF("event_id", "ts", "user_id", "event_type")
    // batch 1: user 1 purchases (2 -> 3, completing via carried state);
    //          user 2 errors (stays 1 — silent); user 3 views (0 -> 1)
    val b1 = Seq((103L, ts(4), 1L, "purchase"), (104L, ts(5), 2L, "error"),
        (105L, ts(6), 3L, "view"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val stamped = scala.collection.mutable.Set.empty[java.io.File]
    def addFile(df: org.apache.spark.sql.DataFrame, b: Int): Unit = {
      df.coalesce(1).write.mode("append").parquet(in)
      new java.io.File(in).listFiles()
        .filter(f => f.getName.startsWith("part-") && !stamped.contains(f))
        .foreach { f =>
          f.setLastModified(1600000000000L + b * 60000L); stamped += f }
    }
    addFile(b0, 0); addFile(b1, 1)
    val steps = Seq("view", "click", "purchase")
    val q = spark.readStream
      .schema(b0.schema).option("maxFilesPerTrigger", 1).parquet(in)
      .writeStream
      .foreachBatch(FunnelStream.advanceBatch(spark, state, out,
        "user_id", "ts", "event_id", "event_type", steps) _)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.read.parquet(s"$out/b*")
      .select("user_id", "stage", "batch").as[(Long, Int, Long)]
      .collect().toSet
    assert(got === Set((1L, 2, 0L), (2L, 1, 0L),
      (1L, 3, 1L), (3L, 1, 1L)), s"got $got")
    // redelivered batch 1 rebases on v0/v1 and rewrites byte-identically
    val before = spark.read.parquet(s"$out/b1").collect().toSeq
      .map(_.toString).sorted
    FunnelStream.advanceBatch(spark, state, out, "user_id", "ts",
      "event_id", "event_type", steps)(b1, 1L)
    val after = spark.read.parquet(s"$out/b1").collect().toSeq
      .map(_.toString).sorted
    assert(after === before, "redelivery must be idempotent")
    // fresh checkpoint over existing deltas = forked lineage; must refuse
    val e = intercept[IllegalArgumentException] {
      FunnelStream.advanceBatch(spark, state, out, "user_id", "ts",
        "event_id", "event_type", steps)(b0, 0L)
    }
    assert(e.getMessage.contains("fresh checkpoint"))
  }

  test("delta-store compaction: mid-stream compact + checkpoint resume is " +
      "byte-identical to the uncompacted twin; read touches <= 2 versions") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.{PassageStream, Versions}
    import spark.implicits._
    // twin roots fed identical batches: A never compacts, B compacts
    // between batch 1 and batch 2 — every per-batch output must match
    val corpusTxt = "alpha beta gamma delta"
    val standing = Seq((1L, corpusTxt), (2L, "one two three four"))
      .toDF("doc_id", "text")
    val b0 = Seq((10L, corpusTxt), (11L, "red green blue yellow pink"))
      .toDF("doc_id", "text")
    val b1 = Seq((12L, "red green blue yellow pink"),
      (13L, "zeta eta theta iota")).toDF("doc_id", "text")
    val b2 = Seq((14L, "zeta eta theta iota"), (15L, "kappa lambda mu nu"))
      .toDF("doc_id", "text")
    case class Root(dir: String) {
      val (in, idx, out, ckpt) =
        (s"$dir/in", s"$dir/idx", s"$dir/out", s"$dir/ckpt")
      Files.createDirectories(Paths.get(in))
      graft.operators.Dedup
        .passageWindowIndex(standing, "doc_id", "text", windowTokens = 3)
        .write.parquet(s"$idx/v0")
      private val stamped = scala.collection.mutable.Set.empty[java.io.File]
      def addFile(df: org.apache.spark.sql.DataFrame, b: Int): Unit = {
        df.coalesce(1).write.mode("append").parquet(in)
        new java.io.File(in).listFiles()
          .filter(f => f.getName.startsWith("part-") && !stamped.contains(f))
          .foreach { f =>
            f.setLastModified(1600000000000L + b * 60000L); stamped += f }
      }
      def drain(): Unit = {
        val q = spark.readStream
          .schema(b0.schema).option("maxFilesPerTrigger", 1).parquet(in)
          .writeStream
          .foreachBatch(PassageStream.filterBatch(spark, idx, out,
            "doc_id", "text", windowTokens = 3) _)
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      def output(b: Int): Seq[String] =
        spark.read.parquet(s"$out/b$b").collect().toSeq
          .map(_.toString).sorted
      def versionNames(): Seq[String] = new java.io.File(idx).listFiles()
        .map(_.getName).filter(_.matches("v\\d+")).sorted.toSeq
    }
    val a = Root(Files.createTempDirectory("compact_a_").toString)
    val b = Root(Files.createTempDirectory("compact_b_").toString)
    Seq(a, b).foreach { r => r.addFile(b0, 0); r.addFile(b1, 1); r.drain() }
    assert(b.versionNames() === Seq("v0", "v1", "v2"))
    // checkpoint committed through batch 1 -> upTo = 2 is the safety bound
    PassageStream.compactIndex(spark, b.idx, upTo = 2L)
    assert(b.versionNames() === Seq("v0"),
      "compaction must fold every delta <= upTo into the base")
    // resume both streams from their checkpoints with a third batch
    Seq(a, b).foreach { r => r.addFile(b2, 2); r.drain() }
    (0 to 2).foreach { i =>
      assert(b.output(i) === a.output(i),
        s"batch $i output must be byte-identical across compaction")
    }
    // post-compaction, batch 2's rebase read touched v0 + its own
    // exclusion set only: the root holds exactly {base, newest delta}
    assert(b.versionNames() === Seq("v0", "v3"),
      "post-compaction read must touch <= 2 versions")
    // redelivery on the compacted root stays idempotent
    val before = b.output(2)
    PassageStream.filterBatch(spark, b.idx, b.out, "doc_id", "text", 3)(b2, 2L)
    assert(b.output(2) === before,
      "redelivery after compaction must be idempotent")
    // the lineage guard survives compaction: a fresh checkpoint replaying
    // batch 0 over the compacted multi-delta root must still refuse
    val e = intercept[IllegalArgumentException] {
      PassageStream.filterBatch(spark, b.idx, b.out, "doc_id", "text", 3)(b0, 0L)
    }
    assert(e.getMessage.contains("fresh checkpoint"))
    // compacting with a single eligible version is a refused no-op
    val e2 = intercept[IllegalArgumentException] {
      Versions.compact(spark, b.idx, upTo = 0L)
    }
    assert(e2.getMessage.contains("nothing to compact"))
  }

  test("funnel state compaction prunes superseded stage rows and preserves " +
      "the carried-state fold") {
    import java.nio.file.Files
    import graft.streaming.FunnelStream
    import spark.implicits._
    def ts(i: Int) = new java.sql.Timestamp(1700000000000L + i * 1000L)
    val steps = Seq("view", "click", "purchase")
    val b0 = Seq((100L, ts(1), 1L, "view"), (101L, ts(2), 2L, "view"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val b1 = Seq((102L, ts(3), 1L, "click"), (103L, ts(4), 2L, "error"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val b2 = Seq((104L, ts(5), 1L, "purchase"), (105L, ts(6), 2L, "click"))
      .toDF("event_id", "ts", "user_id", "event_type")
    def run(compactAfterB1: Boolean): (Set[(Long, Int, Long)], Int) = {
      val root = Files.createTempDirectory("fncompact_").toString
      val (state, out) = (s"$root/state", s"$root/out")
      spark.emptyDataFrame
        .select(lit(0L).as("user_id"), lit(0).as("stage"), lit(0L).as("__v"))
        .limit(0).write.parquet(s"$state/v0")
      def adv(df: org.apache.spark.sql.DataFrame, id: Long): Unit =
        FunnelStream.advanceBatch(spark, state, out, "user_id", "ts",
          "event_id", "event_type", steps)(df, id)
      adv(b0, 0L); adv(b1, 1L)
      if (compactAfterB1) {
        FunnelStream.compactState(spark, state, "user_id", upTo = 2L)
        val names = new java.io.File(state).listFiles()
          .map(_.getName).filter(_.matches("v\\d+")).sorted.toSeq
        assert(names === Seq("v0"))
        // user 1 advanced in both batches — only the newest row survives
        val rows = spark.read.parquet(s"$state/v0")
          .select("user_id", "stage", "__v").as[(Long, Int, Long)]
          .collect().toSeq
        assert(rows.count(_._1 == 1L) === 1, s"superseded row kept: $rows")
        assert(rows.toSet === Set((1L, 2, 2L), (2L, 1, 1L)), s"got $rows")
      }
      adv(b2, 2L)
      val got = spark.read.parquet(s"$out/b*")
        .select("user_id", "stage", "batch").as[(Long, Int, Long)]
        .collect().toSet
      (got, new java.io.File(state).listFiles()
        .count(_.getName.matches("v\\d+")))
    }
    val (plain, _) = run(compactAfterB1 = false)
    val (compacted, nVersions) = run(compactAfterB1 = true)
    assert(compacted === plain,
      "carried-state fold must not change across compaction")
    assert(nVersions === 2, "post-compaction root must hold base + delta")
  }

  test("streaming EWMA: chained-seed fold equals the one-shot fold " +
      "bit-for-bit; standing seed honored; redelivery idempotent; " +
      "lineage guard; state compaction") {
    import java.nio.file.Files
    import graft.streaming.EwmaStream
    import spark.implicits._
    def ts(i: Int) = new java.sql.Timestamp(1700000000000L + i * 1000L)
    // user 1: values across all three batches (the chained path);
    // user 2: batch 0 only; user 3: standing state, first event in batch 2
    val b0 = Seq((100L, ts(1), 1L, 2.5), (101L, ts(2), 2L, -1.0),
      (102L, ts(3), 1L, 0.75)).toDF("event_id", "ts", "user_id", "value")
    val b1 = Seq((103L, ts(4), 1L, 4.0)).toDF("event_id", "ts", "user_id", "value")
    val b2 = Seq((104L, ts(5), 1L, -0.5), (105L, ts(6), 3L, 8.0))
      .toDF("event_id", "ts", "user_id", "value")
    val root = Files.createTempDirectory("ewstream_").toString
    val (state, out) = (s"$root/state", s"$root/out")
    // standing state: user 3 carries (n_events = 2, ewma = 1.5)
    Seq((3L, 2L, 1.5, 0L)).toDF("user_id", "n_events", "ewma", "__v")
      .write.parquet(s"$state/v0")
    def adv(df: org.apache.spark.sql.DataFrame, id: Long): Unit =
      EwmaStream.advanceBatch(spark, state, out, "user_id", "ts",
        "event_id", "value", alpha = 0.125)(df, id)
    adv(b0, 0L); adv(b1, 1L); adv(b2, 2L)
    val got = spark.read.parquet(s"$out/b*")
      .select("user_id", "n_events", "ewma", "batch")
      .as[(Long, Long, Double, Long)].collect()
      .map(r => (r._1, r._4) -> (r._2, r._3)).toMap
    // one-shot equivalence: user 1's final state must equal ewmaByKey
    // over the full timeline, bit-for-bit
    val oneShot = graft.operators.TimeSeries.ewmaByKey(
        b0.unionAll(b1).unionAll(b2).filter($"user_id" === 1L),
        Seq("user_id"), "ts", "event_id", "value", alpha = 0.125)
      .as[(Long, Long, Double)].collect().head
    assert(got((1L, 2L)) === ((oneShot._2, oneShot._3)),
      "chained folds must recompose into the one-shot fold")
    assert(got((1L, 0L))._1 === 2L && got((1L, 1L))._1 === 3L,
      "cumulative counts must carry across batches")
    // standing seed: user 3's batch-2 fold seeds from v0's (2, 1.5)
    assert(got((3L, 2L)) === ((3L, 0.125 * 8.0 + 0.875 * 1.5)),
      "standing state must seed the first fold")
    assert(!got.contains((2L, 1L)) && !got.contains((2L, 2L)),
      "keys without batch values must stay silent")
    // redelivered batch 2 rebases on deltas <= 2 and rewrites identically
    val before = spark.read.parquet(s"$out/b2").collect().toSeq
      .map(_.toString).sorted
    adv(b2, 2L)
    val after = spark.read.parquet(s"$out/b2").collect().toSeq
      .map(_.toString).sorted
    assert(after === before, "redelivery must be idempotent")
    // fresh checkpoint over existing deltas = forked lineage; must refuse
    val e = intercept[IllegalArgumentException] { adv(b0, 0L) }
    assert(e.getMessage.contains("fresh checkpoint"))
    // compaction folds the per-key state and preserves the next fold
    EwmaStream.compactState(spark, state, "user_id", upTo = 3L)
    val names = new java.io.File(state).listFiles()
      .map(_.getName).filter(_.matches("v\\d+")).sorted.toSeq
    assert(names === Seq("v0"))
    val b3 = Seq((106L, ts(7), 1L, 1.0)).toDF("event_id", "ts", "user_id", "value")
    adv(b3, 3L)
    val expect = 0.125 * 1.0 + 0.875 * got((1L, 2L))._2
    val r3 = spark.read.parquet(s"$out/b3")
      .select("user_id", "n_events", "ewma")
      .as[(Long, Long, Double)].collect().head
    assert(r3 === ((1L, 5L, expect)),
      "post-compaction fold must seed from the compacted state")
  }

  test("streaming k-means: carried bank is the exact running mean; " +
      "untouched cells silent; redelivery idempotent; lineage guard; " +
      "state compaction") {
    import java.nio.file.Files
    import graft.streaming.KMeansStream
    import spark.implicits._
    val root = Files.createTempDirectory("kmstream_").toString
    val (state, out) = (s"$root/state", s"$root/out")
    KMeansStream.writeSeedState(spark, state,
      Array(Array(0.0, 0.0), Array(10.0, 10.0)))
    def adv(rows: Seq[(Long, Array[Double])], id: Long): Unit =
      KMeansStream.advanceBatch(spark, state, out, "id", "v")(
        rows.toDF("id", "v"), id)
    adv(Seq((1L, Array(1.0, 1.0)), (2L, Array(9.0, 9.0))), 0L)
    adv(Seq((3L, Array(2.0, 0.0))), 1L)
    def bank(b: Long): Map[(Int, Int), (Long, Double)] =
      spark.read.parquet(s"$out/b$b")
        .select("cell", "n_points", "pos", "val")
        .as[(Int, Long, Int, Double)].collect()
        .map(r => (r._1, r._3) -> (r._2, r._4)).toMap
    // batch 0: seed counts as one observation → cell0 mean of {0,1},
    // cell1 mean of {10,9}
    val b0 = bank(0L)
    assert(b0((0, 0)) === ((2L, 0.5)) && b0((0, 1)) === ((2L, 0.5)))
    assert(b0((1, 0)) === ((2L, 9.5)) && b0((1, 1)) === ((2L, 9.5)))
    // batch 1 touches only cell0: exact running mean (0+1+2)/3, (0+1+0)/3;
    // cell1 emits nothing
    val b1 = bank(1L)
    assert(b1((0, 0)) === ((3L, 1.0)) && b1((0, 1)) === ((3L, 1.0/ 3.0)))
    assert(!b1.contains((1, 0)), "untouched cells must stay silent")
    // redelivery rebases on deltas <= id and rewrites byte-identically
    val before = spark.read.parquet(s"$out/b1").collect()
      .map(_.toString).sorted.toSeq
    adv(Seq((3L, Array(2.0, 0.0))), 1L)
    val after = spark.read.parquet(s"$out/b1").collect()
      .map(_.toString).sorted.toSeq
    assert(after === before, "redelivery must be idempotent")
    // fresh checkpoint over existing deltas = forked lineage; must refuse
    val e = intercept[IllegalArgumentException] {
      adv(Seq((1L, Array(1.0, 1.0))), 0L)
    }
    assert(e.getMessage.contains("fresh checkpoint"))
    // compaction folds per-(cell, pos) state; the next batch seeds from it
    KMeansStream.compactState(spark, state, upTo = 2L)
    val names = new java.io.File(state).listFiles()
      .map(_.getName).filter(_.matches("v\\d+")).sorted.toSeq
    assert(names === Seq("v0"))
    adv(Seq((4L, Array(10.0, 10.0))), 2L)
    val b2 = bank(2L)
    assert(b2((1, 0)) === ((3L, 29.0 / 3.0)),
      "post-compaction batch must continue the exact cumulative mean")
    assert(!b2.contains((0, 0)))
  }

  test("streaming dedup collapses a doubled stream back to distinct events") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.count
    // two sources over the same file => every event arrives twice
    val doubled: DataFrame => DataFrame = _ => {
      val once = EventStream.readEvents(spark, sfDir)
      EventStream.dedupedEvents(once.union(EventStream.readEvents(spark, sfDir)))
        .groupBy().agg(count(col("event_id")).as("n"))
    }
    val got = EventStream.runBounded(spark, sfDir, doubled, "dedup_events")
      .head().getLong(0)
    val want = Tables.events(spark, sfDir).count()
    assert(got === want, s"streamed dedup $got vs batch distinct $want")
  }

  test("streaming IVF index: deltas assemble to the one-shot assignment; " +
      "redelivery idempotent; fork and bank-immutability guards fail loud") {
    import java.nio.file.Files
    import graft.operators.IvfRelational
    import graft.streaming.IvfStream
    import spark.implicits._
    val root = Files.createTempDirectory("ivfstream_").toString
    val (bankRoot, idxRoot, outRoot) =
      (s"$root/bank", s"$root/idx", s"$root/out")
    val emb = Tables.embeddings(spark, sfDir)
    val standing = emb.filter(col("vec_id") < 100)
    val bank = IvfRelational.trainBank(standing, nCells = 4, iters = 2,
      stride = 10)
    IvfStream.writeStanding(spark, bankRoot, idxRoot, standing, bank)
    val b0 = emb.filter(col("vec_id") >= 100 && col("vec_id") < 150)
    val b1 = emb.filter(col("vec_id") >= 150 && col("vec_id") < 200)
    val append = IvfStream.appendBatch(spark, bankRoot, idxRoot, outRoot,
      "vec_id", "embedding") _
    append(b0, 0L)
    append(b1, 1L)
    def assembled() = IvfStream.readIndex(spark, idxRoot)
      .select("neighbor_id", "cell").as[(Long, Int)].collect().sorted.toSeq
    val want = IvfRelational.assign(emb.filter(col("vec_id") < 200), bank)
      .select(col("id"), col("cell")).as[(Long, Int)].collect().sorted.toSeq
    assert(assembled() === want,
      "assembled deltas must equal the one-shot assignment under the bank")
    // per-batch growth profile sums to the batch size
    val growth = spark.read.parquet(s"$outRoot/b0")
      .agg(sum(col("n_new"))).collect().head.getLong(0)
    assert(growth === b0.count())
    // redelivered batch overwrites its own delta — index unchanged
    append(b1, 1L)
    assert(assembled() === want, "redelivery must be idempotent")
    // fresh-checkpoint fork guard: replaying an OLD batch over newer
    // deltas would fork their lineage
    val eFork = intercept[IllegalArgumentException] { append(b0, 0L) }
    assert(eFork.getMessage.contains("fork"), eFork.getMessage)
    // bank immutability: an index is bound to the bank it was built
    // under; a second bank version must refuse before any write
    bank.write.mode("overwrite").parquet(s"$bankRoot/v1")
    val eBank = intercept[IllegalArgumentException] { append(b1, 2L) }
    assert(eBank.getMessage.contains("exactly v0"), eBank.getMessage)
    assert(!new java.io.File(s"$idxRoot/v3").exists(),
      "the refused batch must not have written a delta")
  }

  test("streaming IVF index auto-compaction bounds versions and stays " +
      "read-identical") {
    import java.nio.file.Files
    import graft.operators.IvfRelational
    import graft.streaming.IvfStream
    import spark.implicits._
    val root = Files.createTempDirectory("ivfcompact_").toString
    val (bankRoot, idxRoot, outRoot) =
      (s"$root/bank", s"$root/idx", s"$root/out")
    val emb = Tables.embeddings(spark, sfDir)
    val standing = emb.filter(col("vec_id") < 100)
    val bank = IvfRelational.trainBank(standing, nCells = 4, iters = 2,
      stride = 10)
    IvfStream.writeStanding(spark, bankRoot, idxRoot, standing, bank)
    val append = IvfStream.appendBatch(spark, bankRoot, idxRoot, outRoot,
      "vec_id", "embedding", autoCompactVersions = Some(1)) _
    (0 until 4).foreach { b =>
      append(emb.filter(col("vec_id") >= 100 + b * 25 &&
        col("vec_id") < 125 + b * 25), b.toLong)
    }
    val versions = new java.io.File(idxRoot).listFiles()
      .map(_.getName).filter(_.matches("v\\d+")).sorted.toSeq
    assert(versions.size <= 3, s"auto-compaction never ran: $versions")
    val got = IvfStream.readIndex(spark, idxRoot)
      .select("neighbor_id", "cell").as[(Long, Int)].collect().sorted.toSeq
    val want = IvfRelational.assign(emb.filter(col("vec_id") < 200), bank)
      .select(col("id"), col("cell")).as[(Long, Int)].collect().sorted.toSeq
    assert(got === want, "compacted index must read identically")
  }

  test("streaming IVF rebuild/swap: growth signal -> retrain into NEW " +
      "roots; parity with a from-scratch index; old roots untouched") {
    import java.nio.file.Files
    import graft.operators.IvfRelational
    import graft.streaming.IvfStream
    import spark.implicits._
    val root = Files.createTempDirectory("ivfrebuild_").toString
    val (bankRoot, idxRoot, outRoot) =
      (s"$root/bank", s"$root/idx", s"$root/out")
    val emb = Tables.embeddings(spark, sfDir)
    val standing = emb.filter(col("vec_id") < 100)
    val bank = IvfRelational.trainBank(standing, nCells = 4, iters = 2,
      stride = 10)
    IvfStream.writeStanding(spark, bankRoot, idxRoot, standing, bank)
    val append = IvfStream.appendBatch(spark, bankRoot, idxRoot, outRoot,
      "vec_id", "embedding") _
    (0 until 3).foreach { b =>
      append(emb.filter(col("vec_id") >= 100 + b * 50 &&
        col("vec_id") < 150 + b * 50), b.toLong)
    }
    // the growth profiles ARE the rebuild signal: total appended rows
    // have outgrown the standing corpus by >1.5x
    val grown = (0 until 3).map(b =>
      spark.read.parquet(s"$outRoot/b$b")
        .agg(sum(col("n_new"))).collect().head.getLong(0)).sum
    assert(grown.toDouble / standing.count() >= 1.5,
      s"test premise: drift must cross the threshold ($grown appended)")
    def snapshot(dir: String): Seq[(String, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir)).map(f => (f.getPath, f.length()))
        .sortBy(_._1)
    }
    val (oldBankSnap, oldIdxSnap) = (snapshot(bankRoot), snapshot(idxRoot))
    // rebuild into NEW roots with cells grown with the corpus
    IvfStream.rebuildIndex(spark, idxRoot, s"$root/bank2", s"$root/idx2",
      nCells = 8, iters = 2, stride = 10)
    // the rebuilt bank is bit-identical to one trained from scratch on
    // the same corpus (seedBank orders by id, so assembly order of the
    // delta union cannot leak in)
    val corpus = emb.filter(col("vec_id") < 250)
    val scratch = IvfRelational.trainBank(corpus, nCells = 8, iters = 2,
        stride = 10)
      .as[(Int, Seq[Double])].collect().sortBy(_._1).toSeq
    val rebuilt = spark.read.parquet(s"$root/bank2/v0")
      .as[(Int, Seq[Double])].collect().sortBy(_._1).toSeq
    assert(rebuilt === scratch,
      "rebuilt bank must equal the from-scratch bank bit-for-bit")
    // ... and the new standing index is exactly the one-shot assignment
    // under it (probes are a deterministic function of bank + index, so
    // this IS probe parity with a from-scratch build)
    val gotIdx = IvfStream.readIndex(spark, s"$root/idx2")
      .select("neighbor_id", "cell").as[(Long, Int)].collect().sorted.toSeq
    val wantIdx = IvfRelational.assign(corpus,
        spark.read.parquet(s"$root/bank2/v0"))
      .select(col("id"), col("cell")).as[(Long, Int)].collect().sorted.toSeq
    assert(gotIdx === wantIdx)
    // a NEW stream appends to the new roots (fresh lineage)
    IvfStream.appendBatch(spark, s"$root/bank2", s"$root/idx2",
      s"$root/out2", "vec_id", "embedding")(
      emb.filter(col("vec_id") >= 250 && col("vec_id") < 300), 0L)
    assert(IvfStream.readIndex(spark, s"$root/idx2").count() ===
      emb.filter(col("vec_id") < 300).count())
    // reader-swap, never mutation: the OLD roots are byte-identical to
    // their pre-rebuild snapshot and still serve their own corpus
    assert(IvfStream.readIndex(spark, idxRoot).count() === 250L,
      "old index must still read exactly its pre-rebuild corpus")
    assert(snapshot(bankRoot) === oldBankSnap &&
      snapshot(idxRoot) === oldIdxSnap)
    // rebuilding INTO a live root must refuse before any write
    val e = intercept[IllegalArgumentException] {
      IvfStream.rebuildIndex(spark, idxRoot, s"$root/bank2", s"$root/idx3",
        nCells = 8)
    }
    assert(e.getMessage.contains("never rebuild into a live root"),
      e.getMessage)
    assert(!new java.io.File(s"$root/idx3").exists())
  }

  test("streaming IVF bank-identity pin: appendBatch and the probe read " +
      "refuse the WRONG (same-shaped) bank root; the right one passes") {
    import java.nio.file.Files
    import graft.operators.IvfRelational
    import graft.streaming.IvfStream
    val root = Files.createTempDirectory("ivfbankpin_").toString
    val emb = Tables.embeddings(spark, sfDir)
    val standing = emb.filter(col("vec_id") < 100)
    val bank = IvfRelational.trainBank(standing, nCells = 4, iters = 2,
      stride = 10)
    IvfStream.writeStanding(spark, s"$root/bank", s"$root/idx", standing, bank)
    // a DIFFERENT bank under the same layout: retrained with one more
    // Lloyd round — exactly v0, passes every shape guard, wrong content
    val other = IvfRelational.trainBank(standing, nCells = 4, iters = 3,
      stride = 10)
    other.write.mode("overwrite").parquet(s"$root/otherbank/v0")
    val batch = emb.filter(col("vec_id") >= 100 && col("vec_id") < 150)
    val eAppend = intercept[IllegalArgumentException] {
      IvfStream.appendBatch(spark, s"$root/otherbank", s"$root/idx",
        s"$root/out", "vec_id", "embedding")(batch, 0L)
    }
    assert(eAppend.getMessage.contains("does not match the bank"),
      eAppend.getMessage)
    assert(!new java.io.File(s"$root/idx/v1").exists(),
      "the refused batch must not have written a delta")
    val eProbe = intercept[IllegalArgumentException] {
      IvfStream.readIndexFor(spark, s"$root/idx", s"$root/otherbank")
    }
    assert(eProbe.getMessage.contains("does not match the bank"),
      eProbe.getMessage)
    // the RIGHT bank passes both paths; probe read == plain read
    IvfStream.appendBatch(spark, s"$root/bank", s"$root/idx",
      s"$root/out", "vec_id", "embedding")(batch, 0L)
    assert(IvfStream.readIndexFor(spark, s"$root/idx", s"$root/bank")
      .count() === IvfStream.readIndex(spark, s"$root/idx").count())
    // the pin survives compaction (it lives outside the v\d+ namespace)
    IvfStream.appendBatch(spark, s"$root/bank", s"$root/idx",
      s"$root/out", "vec_id", "embedding")(
      emb.filter(col("vec_id") >= 150 && col("vec_id") < 200), 1L)
    IvfStream.compactStore(spark, s"$root/idx", 2L)
    IvfStream.readIndexFor(spark, s"$root/idx", s"$root/bank")
    // a pre-pin index (no _params) fails loud rather than probing unchecked
    val fs = new java.io.File(s"$root/idx/_params")
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmrf); f.delete(); ()
    }
    rmrf(fs)
    val eMissing = intercept[IllegalArgumentException] {
      IvfStream.readIndexFor(spark, s"$root/idx", s"$root/bank")
    }
    assert(eMissing.getMessage.contains("_params missing"), eMissing.getMessage)
  }

  test("streaming image-hash index: streamed pairs equal the one-shot " +
      "Hamming pairs; redelivery idempotent; guards fail loud") {
    import java.nio.file.Files
    import graft.multimodal.Multimodal
    import graft.streaming.AHashStream
    import spark.implicits._
    val root = Files.createTempDirectory("ahashstream_").toString
    val images = Multimodal.fromDocuments(spark,
      Tables.documents(spark, sfDir), onlyKind = Some("image"))
    val standing = images.filter(_.media_id < 250).toDF()
      .select(col("media_id"), col("payload")).localCheckpoint(true)
    val plants = Multimodal.plantImageVariants(
      images.filter(_.media_id < 30)).toDF()
      .select(col("media_id"), col("payload")).localCheckpoint(true)
    AHashStream.writeStanding(spark, s"$root/idx", standing)
    val append = AHashStream.filterBatch(spark, s"$root/idx", s"$root/out",
      "media_id", "payload") _
    val b0 = plants.filter(pmod(col("media_id"), lit(2)) === 0)
    val b1 = plants.filter(pmod(col("media_id"), lit(2)) === 1)
    append(b0, 0L)
    append(b1, 1L)
    def streamed() = spark.read.parquet(s"$root/out/b*")
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)]
      .collect().sorted.toSeq
    // one-shot truth: exact Hamming pairs over the assembled hashes,
    // minus standing-standing pairs (they precede the stream)
    val all = Multimodal.aHash64Bytes(standing.unionAll(plants),
      "media_id", "payload").collect().map(r => r.getLong(0) -> r.getLong(1))
    val want = (for {
      (ia, ha) <- all; (ib, hb) <- all if ia < ib
      if java.lang.Long.bitCount(ha ^ hb) <= 6
      if !(ia < 250 && ib < 250)
    } yield (ia, ib, java.lang.Long.bitCount(ha ^ hb))).sorted.toSeq
    assert(streamed() === want,
      "streamed pair deltas must equal the one-shot Hamming pairs")
    assert(want.nonEmpty, "test premise: plants must pair")
    // redelivery overwrites deterministically
    append(b1, 1L)
    assert(streamed() === want)
    // fork guard + missing-standing guard + the banding-guarantee contract
    val eFork = intercept[IllegalArgumentException] { append(b0, 0L) }
    assert(eFork.getMessage.contains("fork"), eFork.getMessage)
    val eH = intercept[IllegalArgumentException] {
      AHashStream.filterBatch(spark, s"$root/idx", s"$root/out",
        "media_id", "payload", maxHamming = 7)(b0, 2L)
    }
    assert(eH.getMessage.contains("pigeonhole"), eH.getMessage)
    // compaction folds with identity and stays read-equivalent
    AHashStream.compactStore(spark, s"$root/idx", 2L)
    assert(AHashStream.readIndex(spark, s"$root/idx").count() ===
      standing.count() + plants.count())
  }

  test("streaming media-fingerprint index (audio + video): streamed pairs " +
      "equal the one-shot exact-fp pairs; redelivery idempotent; guards " +
      "fail loud") {
    import java.nio.file.Files
    import graft.multimodal.Multimodal
    import graft.streaming.MediaFpStream
    import spark.implicits._
    for ((kind, intAudio, profiler) <- Seq(
        ("audio", true,
          (df: org.apache.spark.sql.DataFrame) =>
            Multimodal.audioFpBytes(df, "media_id", "payload")),
        ("video", false,
          (df: org.apache.spark.sql.DataFrame) =>
            Multimodal.videoFpBytes(df, "media_id", "payload")))) {
      val root = Files.createTempDirectory(s"fpstream_${kind}_").toString
      val media = Multimodal.fromDocuments(spark,
        Tables.documents(spark, sfDir), onlyKind = Some(kind),
        intAudio = intAudio)
      val standing = media.filter(_.media_id < 250).toDF()
        .select(col("media_id"), col("payload")).localCheckpoint(true)
      // byte-identical re-ingests of standing media → cross-arm dups
      val plants = media.filter(_.media_id < 30)
        .map(r => r.copy(media_id = r.media_id + 10000)).toDF()
        .select(col("media_id"), col("payload")).localCheckpoint(true)
      MediaFpStream.writeStanding(spark, s"$root/idx", standing, profiler)
      val append = MediaFpStream.filterBatch(spark, s"$root/idx",
        s"$root/out", profiler) _
      val b0 = plants.filter(pmod(col("media_id"), lit(2)) === 0)
      val b1 = plants.filter(pmod(col("media_id"), lit(2)) === 1)
      append(b0, 0L)
      append(b1, 1L)
      def streamed() = spark.read.parquet(s"$root/out/b*")
        .select("id_a", "id_b", "batch").as[(Long, Long, Long)]
        .collect().sorted.toSeq
      // one-shot truth: every plant pairs exactly its original, in the
      // batch the plant arrived
      val want = plants.select("media_id").as[Long].collect().sorted
        .map(pid => (pid - 10000, pid, pid % 2)).toSeq
      assert(streamed() === want,
        s"$kind: streamed fp pairs must be exactly (original, plant)")
      assert(want.nonEmpty, s"test premise: $kind plants exist")
      // redelivery overwrites deterministically
      append(b1, 1L)
      assert(streamed() === want, s"$kind: redelivery must be idempotent")
      // fork guard
      val eFork = intercept[IllegalArgumentException] { append(b0, 0L) }
      assert(eFork.getMessage.contains("fork"), eFork.getMessage)
      // compaction folds with identity and stays read-equivalent
      MediaFpStream.compactStore(spark, s"$root/idx", 2L)
      assert(MediaFpStream.readIndex(spark, s"$root/idx").count() ===
        standing.count() + plants.count())
    }
  }

  test("streaming frame-set containment index: streamed directed pairs " +
      "equal the one-shot containment relation under the emission rule; " +
      "redelivery idempotent; guards fail loud; compaction " +
      "read-equivalent") {
    import java.nio.file.Files
    import graft.multimodal.{MediaCodec, Multimodal}
    import graft.operators.Dedup
    import graft.streaming.ContainmentStream
    import spark.implicits._
    val root = Files.createTempDirectory("ctstream_").toString
    val vids = Multimodal.fromDocuments(spark,
      Tables.documents(spark, sfDir), onlyKind = Some("video"))
    val standing = vids.filter(_.media_id < 250).toDF()
      .select(col("media_id"), col("payload")).localCheckpoint(true)
    // clipped re-ingests of standing videos (>= 3 frames keeps >= 2)
    val plants = vids.filter(r => r.media_id < 60 && r.media_id % 6 >= 1)
      .map(r => r.copy(media_id = r.media_id + 10000,
        payload = java.util.Arrays.copyOfRange(r.payload, 0,
          r.payload.length - MediaCodec.videoBlockBytes))).toDF()
      .select(col("media_id"), col("payload")).localCheckpoint(true)
    val setsOf = (df: org.apache.spark.sql.DataFrame) =>
      Multimodal.videoFrameSetBytes(df, "media_id", "payload")
    ContainmentStream.writeStanding(spark, s"$root/idx", standing, setsOf)
    val append = ContainmentStream.filterBatch(spark, s"$root/idx",
      s"$root/out", setsOf, threshold = 0.9) _
    val b0 = plants.filter(pmod(col("media_id"), lit(2)) === 0)
    val b1 = plants.filter(pmod(col("media_id"), lit(2)) === 1)
    append(b0, 0L)
    append(b1, 1L)
    def streamed() = spark.read.parquet(s"$root/out/b*")
      .select("id_a", "id_b", "containment", "batch")
      .as[(Long, Long, Double, Long)].collect().sorted.toSeq
    // one-shot truth: the FULL directed relation over standing ∪ plants,
    // kept where the probe side streamed and the contained side arrived
    // no later (batch -1 = standing, else id parity)
    def batchOf(id: Long): Long = if (id < 10000) -1L else id % 2
    val full = Dedup.containmentJoinFromSets(
        setsOf(standing.unionAll(plants)).localCheckpoint(true),
        threshold = 0.9)
      .as[(Long, Long, Double)].collect()
    val want = full.collect {
      case (a, b, c) if batchOf(a) >= 0 && batchOf(b) <= batchOf(a) =>
        (a, b, c, batchOf(a))
    }.sorted.toSeq
    assert(want.nonEmpty, "test premise: containment pairs exist")
    assert(want.exists(_._2 < 250),
      "test premise: cross pairs against the standing corpus exist")
    assert(streamed() === want)
    // redelivery overwrites deterministically
    append(b1, 1L)
    assert(streamed() === want, "redelivery must be idempotent")
    // fork guard + missing-standing guard
    val eFork = intercept[IllegalArgumentException] { append(b0, 0L) }
    assert(eFork.getMessage.contains("fork"), eFork.getMessage)
    val eMissing = intercept[IllegalArgumentException] {
      ContainmentStream.filterBatch(spark, s"$root/empty", s"$root/out2",
        setsOf, threshold = 0.9)(b0, 0L)
    }
    assert(eMissing.getMessage.contains("missing"), eMissing.getMessage)
    // live-root standing-write guard
    val eLive = intercept[IllegalArgumentException] {
      ContainmentStream.writeStanding(spark, s"$root/idx", standing, setsOf)
    }
    assert(eLive.getMessage.contains("standing write"), eLive.getMessage)
    // compaction folds with identity and stays read-equivalent
    val before = ContainmentStream.readIndex(spark, s"$root/idx").count()
    ContainmentStream.compactStore(spark, s"$root/idx", 2L)
    assert(ContainmentStream.readIndex(spark, s"$root/idx").count() ===
      before)
  }

  test("streaming PQ codes: streamed deltas equal the one-shot encode; " +
      "redelivery idempotent; book-immutability + identity pin + " +
      "rebuild live-target guards fail loud; drift profile replays") {
    import java.nio.file.Files
    import graft.operators.Similarity
    import graft.streaming.PqStream
    import spark.implicits._
    val root = Files.createTempDirectory("pqstream_").toString
    val emb = Tables.embeddings(spark, sfDir)
    val standing = emb.filter(col("vec_id") < 300)
    val arrivals = emb.filter(col("vec_id") >= 300 && col("vec_id") < 400)
      .select(col("vec_id"), col("embedding"))
    val banks = Similarity.pqTrain(standing, m = 16, nCodes = 6)
    PqStream.writeStanding(spark, s"$root/book", s"$root/codes",
      standing, banks)
    val append = PqStream.appendBatch(spark, s"$root/book", s"$root/codes",
      s"$root/out", "vec_id", "embedding") _
    val b0 = arrivals.filter(pmod(col("vec_id"), lit(2)) === 0)
    val b1 = arrivals.filter(pmod(col("vec_id"), lit(2)) === 1)
    append(b0, 0L)
    append(b1, 1L)
    def codes() = PqStream.readCodes(spark, s"$root/codes")
      .select(col("neighbor_id"), col("codes").cast("string"))
      .as[(Long, String)].collect().sorted.toSeq
    // one-shot truth: pqEncode over standing ∪ arrivals under the SAME
    // frozen books
    val want = Similarity.pqEncode(standing.select(col("vec_id"),
          col("embedding")).unionAll(arrivals), banks)
      .select(col("neighbor_id"), col("codes").cast("string"))
      .as[(Long, String)].collect().sorted.toSeq
    assert(codes() === want)
    // redelivery overwrites deterministically (codes AND profile)
    val prof1 = spark.read.parquet(s"$root/out/b1")
      .select("n_vecs", "err_sum").as[(Long, Double)].head()
    append(b1, 1L)
    assert(codes() === want, "redelivery must be idempotent")
    assert(spark.read.parquet(s"$root/out/b1")
      .select("n_vecs", "err_sum").as[(Long, Double)].head() === prof1)
    assert(prof1._1 === b1.count())
    assert(prof1._2 > 0.0, "quantization error must be a real signal")
    // fork guard
    val eFork = intercept[IllegalArgumentException] { append(b0, 0L) }
    assert(eFork.getMessage.contains("fork"), eFork.getMessage)
    // book-immutability guard: a delta under the book root fails loud
    spark.read.parquet(s"$root/book/v0").limit(1)
      .write.parquet(s"$root/book/v1")
    val eBook = intercept[IllegalArgumentException] { append(b1, 2L) }
    assert(eBook.getMessage.contains("exactly v0"), eBook.getMessage)
    val fs = new org.apache.hadoop.fs.Path(s"$root/book/v1")
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(s"$root/book/v1"), true)
    // identity pin: the RIGHT-shaped but WRONG codebook fails loud
    val otherBanks = Similarity.pqTrain(
      emb.filter(col("vec_id") < 200), m = 16, nCodes = 6)
    PqStream.bookRelation(spark, otherBanks)
      .write.mode("overwrite").parquet(s"$root/otherbook/v0")
    val ePin = intercept[IllegalArgumentException] {
      PqStream.checkBook(spark, s"$root/otherbook", s"$root/codes")
    }
    assert(ePin.getMessage.contains("does not match"), ePin.getMessage)
    // rebuild refuses live targets, then swaps into fresh roots
    val eLive = intercept[IllegalArgumentException] {
      PqStream.rebuild(spark, emb.filter(col("vec_id") < 400),
        s"$root/book", s"$root/codes2", m = 16, nCodes = 8)
    }
    assert(eLive.getMessage.contains("never rebuild into a live root"),
      eLive.getMessage)
    PqStream.rebuild(spark, emb.filter(col("vec_id") < 400),
      s"$root/book2", s"$root/codes2", m = 16, nCodes = 8)
    PqStream.checkBook(spark, s"$root/book2", s"$root/codes2")
    assert(PqStream.readCodes(spark, s"$root/codes2").count() === 400L)
    // compaction folds with identity and stays read-equivalent
    PqStream.compactStore(spark, s"$root/codes", 2L)
    assert(codes() === want)
  }

  test("streaming PCA moments: chained batches refit bit-identical to a " +
      "one-shot fit; redelivery idempotent; compaction read-identical") {
    import java.nio.file.Files
    import graft.operators.Decomp
    import graft.streaming.PcaStream
    val root = Files.createTempDirectory("pcastream_").toString + "/m"
    val emb = Tables.embeddings(spark, sfDir)
    val standing = emb.filter(col("vec_id") < 200)
    PcaStream.writeStanding(spark, root, standing)
    val advance = PcaStream.advanceBatch(spark, root) _
    advance(emb.filter(col("vec_id") >= 200 && col("vec_id") < 300), 0L)
    advance(emb.filter(col("vec_id") >= 300 && col("vec_id") < 400), 1L)
    def model() = PcaStream.modelAt(spark, root, k = 2, iters = 8)
    val oneShot = Decomp.pcaFit(emb.filter(col("vec_id") < 400), k = 2,
      iters = 8)
    def assertSame(a: Decomp.PcaModel, b: Decomp.PcaModel): Unit = {
      assert(a.mean.toSeq === b.mean.toSeq)
      assert(a.components.map(_.toSeq).toSeq === b.components.map(_.toSeq).toSeq)
      assert(a.eigenvalues.toSeq === b.eigenvalues.toSeq)
    }
    // exact-decimal associativity: the chained fit IS the one-shot fit
    assertSame(model(), oneShot)
    // every delta is MODEL-sized: d(d+3)/2 rows at d=64, any batch size
    graft.streaming.Versions.list(spark, root).foreach { case (_, p) =>
      assert(spark.read.parquet(p.toString).count() === 64L * 67 / 2)
    }
    // redelivered batch overwrites its own delta — model unchanged
    advance(emb.filter(col("vec_id") >= 300 && col("vec_id") < 400), 1L)
    assertSame(model(), oneShot)
    // lineage-fork guard (while newer deltas are still visible)
    val e = intercept[IllegalArgumentException] {
      advance(emb.filter(col("vec_id") < 100), 0L)
    }
    assert(e.getMessage.contains("fork"), e.getMessage)
    // compaction folds decimally — read-identical
    PcaStream.compactStore(spark, root, upTo = 2L)
    assert(graft.streaming.Versions.list(spark, root).size === 1)
    assertSame(model(), oneShot)
  }

  test("streaming inverted index: probe bit-identical to direct BM25 " +
      "over the union; redelivery idempotent; compaction read-identical") {
    import java.nio.file.Files
    import graft.operators.Retrieval
    import graft.streaming.RetrievalStream
    val root = Files.createTempDirectory("retrstream_").toString + "/idx"
    val docs = Tables.documents(spark, sfDir)
    val terms = Seq("spark", "data", "window")
    RetrievalStream.writeStanding(spark, root,
      docs.filter(col("doc_id") < 200))
    val append = RetrievalStream.appendBatch(spark, root) _
    append(docs.filter(col("doc_id") >= 200 && col("doc_id") < 300), 0L)
    append(docs.filter(col("doc_id") >= 300 && col("doc_id") < 400), 1L)
    def streamed(): Seq[(Long, Double)] =
      RetrievalStream.bm25TopK(spark, root, terms, k = 20)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val direct = Retrieval.bm25TopK(docs.filter(col("doc_id") < 400),
        "doc_id", "text", terms, k = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // postings disjoint + stats associative => scores are bit-identical
    assert(streamed() === direct)
    // the assembled posting read is a plain scan union — zero exchanges
    val readPlan = RetrievalStream.readPostings(spark, root)
      .queryExecution.executedPlan.toString
    assert(!readPlan.contains("Exchange") &&
      !readPlan.contains("HashAggregate"),
      s"posting read must not shuffle or aggregate:\n$readPlan")
    // redelivered batch overwrites both deltas — scores unchanged
    append(docs.filter(col("doc_id") >= 300 && col("doc_id") < 400), 1L)
    assert(streamed() === direct)
    // lineage-fork guard
    val e = intercept[IllegalArgumentException] {
      append(docs.filter(col("doc_id") < 100), 0L)
    }
    assert(e.getMessage.contains("fork"), e.getMessage)
    // compaction (postings identity, stats integer fold) — read-identical
    RetrievalStream.compactStore(spark, root, upTo = 2L)
    assert(graft.streaming.Versions.list(spark, s"$root/post").size === 1)
    assert(graft.streaming.Versions.list(spark, s"$root/stats").size === 1)
    assert(streamed() === direct)
  }

  test("streaming HLL sketch: folded registers estimate bit-identical " +
      "to one-shot; duplicated delta harmless (idempotent max-merge)") {
    import java.nio.file.Files
    import graft.operators.Profiling
    import graft.streaming.SketchStream
    import spark.implicits._
    val root = Files.createTempDirectory("sketchstream_").toString + "/reg"
    val docs = Tables.documents(spark, sfDir)
    val g = Seq("lang")
    SketchStream.writeStanding(spark, root,
      docs.filter(col("doc_id") < 200), g, "text")
    val advance = SketchStream.advanceBatch(spark, root, g, "text") _
    advance(docs.filter(col("doc_id") >= 200 && col("doc_id") < 300), 0L)
    advance(docs.filter(col("doc_id") >= 300 && col("doc_id") < 400), 1L)
    def streamed(): Seq[(String, Long)] =
      SketchStream.distinctAt(spark, root, g)
        .as[(String, Long)].collect().sorted.toSeq
    val oneShot = Profiling.hllDistinct(docs.filter(col("doc_id") < 400),
        g, "text")
      .as[(String, Long)].collect().sorted.toSeq
    assert(streamed() === oneShot)
    // idempotent max-merge: even writing the SAME batch's registers under
    // a second version id cannot move the estimate — the structural
    // tolerance count-based sketches lack (then restore the layout so the
    // lineage bookkeeping below stays the family's exactly-once shape)
    Profiling.hllRegisters(
        docs.filter(col("doc_id") >= 300 && col("doc_id") < 400), g, "text")
      .write.mode("overwrite").parquet(s"$root/v3")
    assert(streamed() === oneShot, "duplicated register delta must be a no-op")
    // redelivery overwrites deterministically — unchanged
    advance(docs.filter(col("doc_id") >= 300 && col("doc_id") < 400), 2L)
    assert(streamed() === oneShot)
    // compaction folds by max — read-identical
    SketchStream.compactStore(spark, root, g, upTo = 3L)
    assert(graft.streaming.Versions.list(spark, root).size === 1)
    assert(streamed() === oneShot)
    // the store is bound to the precision it was built under: a p=10
    // read over p=8 registers would run the m=256 estimator over
    // 1024-register groups — silently garbage without the pin
    val pm = intercept[IllegalArgumentException] {
      SketchStream.distinctAt(spark, root, g, p = 10)
    }
    assert(pm.getMessage.contains("mismatch"))
  }

  test("streaming count-min: folded counters estimate bit-identical to " +
      "one-shot; a duplicated delta DOES overcount (sum fold is not " +
      "idempotent — exactly-once is load-bearing)") {
    import java.nio.file.Files
    import graft.operators.Profiling
    import graft.streaming.SketchStream
    import graft.functions.{TextFunctions => TF}
    import spark.implicits._
    val root = Files.createTempDirectory("cmstream_").toString + "/cm"
    val docs = Tables.documents(spark, sfDir)
    def toks(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      df.select(explode(TF.tokens(col("text"))).as("token"))
    val keys = Seq("spark", "data", "window", "the").toDF("token")
    SketchStream.writeStandingCm(spark, root,
      toks(docs.filter(col("doc_id") < 200)), "token")
    val advance = { (lo: Long, hi: Long, id: Long) =>
      SketchStream.advanceBatchCm(spark, root, "token")(
        toks(docs.filter(col("doc_id") >= lo && col("doc_id") < hi)), id)
    }
    advance(200L, 300L, 0L)
    advance(300L, 400L, 1L)
    def streamed(): Seq[(String, Long)] =
      SketchStream.lookupAt(spark, root, keys, "token")
        .as[(String, Long)].collect().sorted.toSeq
    val oneShot = Profiling.countMinLookup(keys, "token",
        Profiling.countMinSketch(toks(docs.filter(col("doc_id") < 400)),
          "token"))
      .as[(String, Long)].collect().sorted.toSeq
    assert(streamed() === oneShot)
    // the structural overestimate: n_cms >= the true count, per key
    val exact = toks(docs.filter(col("doc_id") < 400))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    streamed().foreach { case (k, est) =>
      assert(est >= exact.getOrElse(k, 0L), s"undercount for $k") }
    // redelivery overwrites its OWN batch-id-named delta — unchanged
    // (this is the exactly-once mechanism; contrast below)
    advance(300L, 400L, 1L)
    assert(streamed() === oneShot)
    // NOT idempotent: the same rows landing under a NEW version id (what
    // redelivery WOULD do without batch-id-named overwrites) overcounts —
    // the honest contrast with p109's max-fold registers, and why the
    // family's exactly-once conventions are load-bearing for counting
    // sketches
    Profiling.countMinSketch(
        toks(docs.filter(col("doc_id") >= 300 && col("doc_id") < 400)),
        "token")
      .write.mode("overwrite").parquet(s"$root/v3")
    val dup = streamed()
    assert(dup.map(_._1) === oneShot.map(_._1))
    assert(dup.zip(oneShot).forall { case ((_, a), (_, b)) => a >= b })
    assert(dup.zip(oneShot).exists { case ((_, a), (_, b)) => a > b },
      "a duplicated sum delta must move at least one estimate up")
    // compaction folds by sum — read-equivalent to the store it folds
    // (the duplicate is preserved, not laundered away)
    SketchStream.compactStoreCm(spark, root, upTo = 3L)
    assert(graft.streaming.Versions.list(spark, root).size === 1)
    assert(streamed() === dup)
    // width/depth are pinned like the HLL precision: probing w=1024
    // counters with w=2048 bucket hashing would mis-bucket every key
    val pm = intercept[IllegalArgumentException] {
      SketchStream.lookupAt(spark, root, keys, "token", w = 2048)
    }
    assert(pm.getMessage.contains("mismatch"))
  }

  test("streaming bloom: folded bits set-identical to one-shot; duplicated " +
      "delta harmless (idempotent union); prefilter has no false " +
      "negatives; parameters pinned") {
    import java.nio.file.Files
    import graft.operators.Profiling
    import graft.streaming.SketchStream
    import spark.implicits._
    val root = Files.createTempDirectory("bloomstream_").toString + "/bloom"
    val docs = Tables.documents(spark, sfDir)
    def grams(lo: Long, hi: Long) = docs
      .filter(col("doc_id") >= lo && col("doc_id") < hi)
      .select(explode(graft.functions.TextFunctions.tokenShingles(
        graft.functions.TextFunctions.tokens(col("text")), 5)).as("gram"))
    SketchStream.writeStandingBloom(spark, root, grams(0, 200), "gram")
    val advance = SketchStream.advanceBatchBloom(spark, root, "gram") _
    advance(grams(200, 300), 0L)
    advance(grams(300, 400), 1L)
    def folded(): Set[(Int, Int)] =
      SketchStream.readBloomBits(spark, root)
        .as[(Int, Int)].collect().toSet
    val oneShot = Profiling.bloomBits(grams(0, 400), "gram")
      .as[(Int, Int)].collect().toSet
    assert(folded() === oneShot)
    // idempotent union: the SAME batch's bits under a second version id
    // cannot change membership — the structural tolerance counting
    // sketches lack
    Profiling.bloomBits(grams(300, 400), "gram")
      .write.mode("overwrite").parquet(s"$root/v3")
    assert(folded() === oneShot, "duplicated bit delta must be a no-op")
    // no false negatives: every maintained gram passes the live prefilter
    val members = grams(0, 400).distinct()
    val kept = SketchStream.prefilterAt(spark, root, members, "gram")
    assert(kept.count() === members.count(),
      "a true member must always pass the bloom prefilter")
    // and the prefilter is bit-identical to a one-shot mask probe
    val masksOne = Profiling.bloomMasks(
      Profiling.bloomBits(grams(0, 400), "gram"), 4, 1 << 16)
    val probes = grams(0, 500).distinct()
    val liveKeep = SketchStream.prefilterAt(spark, root, probes, "gram")
      .as[String].collect().toSet
    val oneKeep = probes.filter(Profiling.bloomMightContain(
        col("gram"), masksOne, 1 << 16))
      .as[String].collect().toSet
    assert(liveKeep === oneKeep)
    // compaction folds by distinct — read-identical
    SketchStream.compactStoreBloom(spark, root, upTo = 3L)
    assert(graft.streaming.Versions.list(spark, root).size === 1)
    assert(folded() === oneShot)
    // k/m are pinned like the HLL precision and count-min width: probing
    // m=65536 bits with m=131072 hashing would mis-address every bit
    val pm2 = intercept[IllegalArgumentException] {
      SketchStream.prefilterAt(spark, root, members, "gram", m = 1 << 17)
    }
    assert(pm2.getMessage.contains("mismatch"))
  }

  test("bloom saturation: fill/fp signal matches the folded bits; rebuild " +
      "re-hashes the standing keys into a NEW root (reader swap, live " +
      "targets refused, old root untouched)") {
    import java.nio.file.Files
    import graft.operators.Profiling
    import graft.streaming.SketchStream
    import spark.implicits._
    val base = Files.createTempDirectory("bloomfill_").toString
    val root = s"$base/bloom"
    val docs = Tables.documents(spark, sfDir)
    val grams = docs.filter(col("doc_id") < 300)
      .select(explode(graft.functions.TextFunctions.tokenShingles(
        graft.functions.TextFunctions.tokens(col("text")), 5)).as("gram"))
    // a deliberately undersized m: thousands of grams into 256-bit rows
    SketchStream.writeStandingBloom(spark, root, grams, "gram", k = 4,
      m = 256)
    val fills = SketchStream.bloomFillAt(spark, root, k = 4, m = 256)
      .select(col("j"), col("fill"), col("fp_rate"))
      .as[(Int, Double, Double)].collect().sortBy(_._1)
    assert(fills.length === 4)
    // the signal is the folded bits, recomputed independently
    val bitCounts = SketchStream.readBloomBits(spark, root)
      .groupBy(col("j")).agg(count(lit(1)).as("n"))
      .as[(Int, Long)].collect().toMap
    fills.foreach { case (j, fill, _) =>
      assert(fill === bitCounts(j).toDouble / 256d) }
    val prod = fills.map(_._2).product
    assert(math.abs(fills.head._3 - prod) < 1e-12)
    assert(prod > 0.5, s"undersized m must read as saturated, got $prod")
    // rebuild under a larger m into a NEW root: bit-identical to a
    // from-scratch standing write at that m
    val newRoot = s"$base/bloom_m4096"
    SketchStream.rebuildBloomStore(spark, newRoot, grams, "gram", k = 4,
      m = 4096)
    val rebuilt = SketchStream.readBloomBits(spark, newRoot)
      .as[(Int, Int)].collect().toSet
    val fromScratch = Profiling.bloomBits(grams, "gram", 4, 4096)
      .as[(Int, Int)].collect().toSet
    assert(rebuilt === fromScratch)
    // the saturated store is byte-untouched (reader swap, not mutation)
    val oldFold = SketchStream.readBloomBits(spark, root)
      .as[(Int, Int)].collect().toSet
    assert(oldFold.size === bitCounts.values.sum.toInt)
    // live targets refused
    val e = intercept[IllegalArgumentException] {
      SketchStream.rebuildBloomStore(spark, root, grams, "gram", k = 4,
        m = 4096)
    }
    assert(e.getMessage.contains("NEW root"))
  }

  test("streaming quantiles: folded bin counts bit-identical to one-shot " +
      "under frozen bounds; drift profile counts the clamped mass; a " +
      "mutated bounds root is refused") {
    import java.nio.file.Files
    import graft.operators.Profiling
    import graft.streaming.QuantileStream
    import spark.implicits._
    val base = Files.createTempDirectory("qstream_").toString
    val boundsRoot = s"$base/bounds"; val countRoot = s"$base/counts"
    val profRoot = s"$base/prof"
    val docs = Tables.documents(spark, sfDir)
    QuantileStream.writeStanding(spark, boundsRoot, countRoot,
      docs.filter(col("doc_id") < 200), "n_chars", 64)
    val (mn, mx, bins) = QuantileStream.readBounds(spark, boundsRoot)
    val advance = { (lo: Long, hi: Long, id: Long) =>
      QuantileStream.advanceBatch(spark, boundsRoot, countRoot, profRoot,
        "n_chars")(docs.filter(col("doc_id") >= lo && col("doc_id") < hi), id)
    }
    advance(200L, 300L, 0L)
    advance(300L, 400L, 1L)
    val qs = Seq(0.5, 0.9, 0.99)
    def streamed(): Seq[(Double, Long, Double)] =
      QuantileStream.quantilesAt(spark, boundsRoot, countRoot, qs)
        .as[(Double, Long, Double)].collect().sorted.toSeq
    val oneShot = Profiling.quantilesFromCounts(
        Profiling.boundedBinCounts(docs.filter(col("doc_id") < 400),
          "n_chars", bins, mn, mx), bins, mn, mx, qs)
      .as[(Double, Long, Double)].collect().sorted.toSeq
    assert(streamed() === oneShot)
    assert(oneShot.head._2 === docs.filter(col("doc_id") < 400).count())
    // redelivery overwrites its OWN batch-id-named delta — unchanged
    advance(300L, 400L, 1L)
    assert(streamed() === oneShot)
    // drift profile: exactly the mass the edge bins clamped, per batch
    val profiled = spark.read.parquet(s"$profRoot/b*")
      .agg(sum(col("n_below")), sum(col("n_above")))
      .as[(Long, Long)].head()
    val inc = docs.filter(col("doc_id") >= 200 && col("doc_id") < 400)
    val expectBelow = inc.filter(col("n_chars").cast("double") < mn).count()
    val expectAbove = inc.filter(col("n_chars").cast("double") > mx).count()
    assert(profiled === ((expectBelow, expectAbove)))
    // compaction folds by sum — read-identical
    QuantileStream.compactStore(spark, countRoot, upTo = 2L)
    assert(graft.streaming.Versions.list(spark, countRoot).size === 1)
    assert(streamed() === oneShot)
    // bounds immutability: a second bounds version is the one mutation
    // the store must refuse — count deltas are bound to the bounds they
    // were binned under (the IvfStream frozen-bank contract)
    Seq((mn, mx, bins)).toDF("mn", "mx", "bins")
      .write.mode("overwrite").parquet(s"$boundsRoot/v1")
    val e = intercept[IllegalArgumentException] { advance(400L, 500L, 2L) }
    assert(e.getMessage.contains("bounds"))
    // rebuild = re-derived bounds under NEW roots (reader swap); a live
    // target root is refused — the in-place mutation the guard prevents
    val grown = docs.filter(col("doc_id") < 400)
    val err2 = intercept[IllegalArgumentException] {
      QuantileStream.rebuildStore(spark, grown, boundsRoot, s"$base/c2",
        "n_chars", 64)
    }
    assert(err2.getMessage.contains("live root"))
    QuantileStream.rebuildStore(spark, grown, s"$base/b2", s"$base/c2",
      "n_chars", 64)
    val (mn2, mx2, _) = QuantileStream.readBounds(spark, s"$base/b2")
    assert(mn2 <= mn && mx2 >= mx)
    val rebuilt = QuantileStream.quantilesAt(spark, s"$base/b2", s"$base/c2",
      qs).as[(Double, Long, Double)].collect().sorted.toSeq
    val fromScratch = Profiling.quantilesFromCounts(
        Profiling.boundedBinCounts(grown, "n_chars", 64, mn2, mx2),
        64, mn2, mx2, qs)
      .as[(Double, Long, Double)].collect().sorted.toSeq
    assert(rebuilt === fromScratch)
  }

  test("streaming hourly windowed counts match the batch equivalent") {
    val streamed = EventStream.runBounded(spark, sfDir,
        EventStream.hourlyTypeCounts, "hourly_counts")
      .select("window_start", "event_type", "n")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
      .toSet

    val batch = Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start"), col("event_type"), col("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
      .toSet

    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("p128 media capstone crash consistency: a crash between ANY two " +
      "of the seven store writes converges on redelivery across all " +
      "seven stores") {
    // The composed media callback writes seven stores per batch: fp
    // pairs → fp delta → hash pairs → hash delta → containment pairs →
    // set delta → combined verdict. Simulate a crash after each FAMILY's
    // writes (the distinct interleave points — within a family the p122/
    // p117/p127 single-family redelivery tests already cover the
    // pairs-vs-delta split) and assert redelivery converges every store
    // byte-identically to the uninterrupted run.
    import java.nio.file.Files
    import graft.multimodal.Multimodal
    import graft.queries.Pipeline
    import graft.streaming.{AHashStream, ContainmentStream, MediaFpStream}
    import spark.implicits._
    val clips = Multimodal.fromDocuments(spark,
      Tables.documents(spark, sfDir), onlyKind = Some("audio"),
      intAudio = true)
    val standing = clips.filter(_.media_id < 250).toDF()
      .select(col("media_id"), col("payload")).localCheckpoint(true)
    // all three plant families stream in: exact (+10000), wobbled
    // (+20000), tail-truncated (+40000)
    val incoming = clips.filter(_.media_id < 30)
      .map(r => r.copy(media_id = r.media_id + 10000)).toDF()
      .select(col("media_id"), col("payload"))
      .unionAll(Multimodal.plantAudioVariants(clips.filter(_.media_id < 30),
        idOffset = 20000L).toDF().select(col("media_id"), col("payload")))
      .unionAll(Multimodal.plantAudioClips(
        clips.filter(r => r.media_id < 60 && r.media_id % 200 >= 14),
        idOffset = 40000L).toDF().select(col("media_id"), col("payload")))
      .localCheckpoint(true)
    val b0 = incoming.filter(pmod(col("media_id"), lit(2)) === 0)
    val b1 = incoming.filter(pmod(col("media_id"), lit(2)) === 1)
    val fpProf = (df: org.apache.spark.sql.DataFrame) =>
      Multimodal.audioFpBytes(df, "media_id", "payload")
    val ctSets = (df: org.apache.spark.sql.DataFrame) =>
      Multimodal.audioWindowHashSets(df, "media_id", "payload")
    case class R(root: String) {
      val fpIdx = s"$root/fpidx"; val ahIdx = s"$root/ahidx"
      val ctIdx = s"$root/ctidx"; val fpOut = s"$root/fpout"
      val ahOut = s"$root/ahout"; val ctOut = s"$root/ctout"
      val out = s"$root/out"
    }
    def setup(): R = {
      val r = R(Files.createTempDirectory("p128crash_").toString)
      MediaFpStream.writeStanding(spark, r.fpIdx, standing, fpProf)
      AHashStream.writeStanding(spark, r.ahIdx, standing,
        hasher = Multimodal.audioAHash64Bytes)
      ContainmentStream.writeStanding(spark, r.ctIdx, standing, ctSets)
      r
    }
    def callback(r: R)(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
      Pipeline.mediaCapstoneBatch(spark, r.fpIdx, r.ahIdx, r.ctIdx,
        r.fpOut, r.ahOut, r.ctOut, r.out)(b, id)
    def snapshot(r: R): Map[String, Seq[String]] = Map(
      "fpPairs" -> spark.read.parquet(s"${r.fpOut}/b*").collect()
        .map(_.toString).sorted.toSeq,
      "fpIdx" -> spark.read.parquet(s"${r.fpIdx}/v*").collect()
        .map(_.toString).sorted.toSeq,
      "ahPairs" -> spark.read.parquet(s"${r.ahOut}/b*").collect()
        .map(_.toString).sorted.toSeq,
      "ahIdx" -> spark.read.parquet(s"${r.ahIdx}/v*").collect()
        .map(_.toString).sorted.toSeq,
      "ctPairs" -> spark.read.parquet(s"${r.ctOut}/b*").collect()
        .map(_.toString).sorted.toSeq,
      "ctIdx" -> spark.read.parquet(s"${r.ctIdx}/v*").collect()
        .map(_.toString).sorted.toSeq,
      "verdicts" -> spark.read.parquet(s"${r.out}/b*").collect()
        .map(_.toString).sorted.toSeq)

    // uninterrupted truth — and the fixture exercises all three families
    val ra = setup()
    callback(ra)(b0, 0L); callback(ra)(b1, 1L)
    val want = snapshot(ra)
    val v = spark.read.parquet(s"${ra.out}/b*")
      .select("media_id", "exact_dup", "percep_dup", "contained")
      .as[(Long, Boolean, Boolean, Boolean)].collect()
    assert(v.exists(r => r._1 >= 10000 && r._1 < 20000 && r._2),
      "exact plants must flag exact_dup")
    assert(v.exists(r => r._1 >= 20000 && r._1 < 30000 && r._3 && !r._2),
      "wobbled plants must flag percep_dup while invisible to exact-fp")
    assert(v.exists(r => r._1 >= 40000 && r._4 && !r._2),
      "truncated plants must flag contained while invisible to exact-fp")

    // crash after the fp family's two writes, before the hash family
    val rb = setup()
    callback(rb)(b0, 0L)
    MediaFpStream.filterBatch(spark, rb.fpIdx, rb.fpOut, fpProf)(b1, 1L)
    callback(rb)(b1, 1L)
    assert(snapshot(rb) === want,
      "crash between the fp and hash families must converge")

    // crash after fp + hash families, before the containment family
    val rc = setup()
    callback(rc)(b0, 0L)
    MediaFpStream.filterBatch(spark, rc.fpIdx, rc.fpOut, fpProf)(b1, 1L)
    AHashStream.filterBatch(spark, rc.ahIdx, rc.ahOut, "media_id",
      "payload", hasher = Multimodal.audioAHash64Bytes)(b1, 1L)
    callback(rc)(b1, 1L)
    assert(snapshot(rc) === want,
      "crash between the hash and containment families must converge")

    // crash after all three families, before the verdict write
    val rd = setup()
    callback(rd)(b0, 0L)
    MediaFpStream.filterBatch(spark, rd.fpIdx, rd.fpOut, fpProf)(b1, 1L)
    AHashStream.filterBatch(spark, rd.ahIdx, rd.ahOut, "media_id",
      "payload", hasher = Multimodal.audioAHash64Bytes)(b1, 1L)
    ContainmentStream.filterBatch(spark, rd.ctIdx, rd.ctOut, ctSets,
      threshold = 0.9)(b1, 1L)
    callback(rd)(b1, 1L)
    assert(snapshot(rd) === want,
      "crash between the set delta and the verdict must converge")
  }

  test("p114 capstone crash consistency: a crash between ANY two of the " +
      "four store writes converges on redelivery across all four stores") {
    // The composed ingest callback writes four stores per batch: pairs
    // delta, band delta, doc delta (inside NearDupStream.filterBatch, in
    // that order), then the combined verdict delta. Each is batch-id-named
    // deterministic overwrite — but the COMPOSED failure mode a real
    // pipeline hits is a crash BETWEEN writes, leaving some stores at the
    // batch and some behind. Simulate the two distinct crash points and
    // assert redelivery converges every store byte-identically to the
    // uninterrupted run (the RetrievalStream two-root hardening, applied
    // to the capstone).
    import java.nio.file.Files
    import graft.queries.Pipeline
    import graft.streaming.{NearDupStream, SketchStream}
    import graft.operators.{Dedup, Profiling}
    import spark.implicits._
    def doc(seed: Int, words: Int): String =
      (0 until words).map(i => s"c${seed}x$i").mkString(" ")
    val base = doc(3, 60)
    // bench doc: batch-1 doc 22 shares a long prefix (>= 3 five-gram
    // overlap => contaminated); others share no tokens with it
    val benchDoc = doc(500, 40)
    val bench = Seq((900L, benchDoc)).toDF("doc_id", "text")
    val standing = Seq((1L, base), (2L, doc(50, 60))).toDF("doc_id", "text")
    val novel = doc(70, 60)
    val b0 = Seq((10L, base.split(" ").updated(5, "changed").mkString(" ")),
      (11L, novel)).toDF("doc_id", "text")
    val b1 = Seq(
      (20L, novel.split(" ").updated(7, "altered").mkString(" ")), // cross dup
      (21L, ("junk " * 40).trim),                                  // low quality
      (22L, benchDoc.split(" ").take(20).mkString(" ") + " " + doc(77, 10)),
      (23L, doc(90, 60))).toDF("doc_id", "text")                   // clean
    case class Roots(idx: String, docs: String, pairs: String, out: String)
    def setup(): (Roots, Array[Array[Long]], DataFrame) = {
      val root = Files.createTempDirectory("p114crash_").toString
      val r = Roots(s"$root/idx", s"$root/docs", s"$root/pairs", s"$root/out")
      val benchGramRel = bench.select(col("doc_id"),
        explode(array_distinct(graft.functions.TextFunctions.tokenShingles(
          graft.functions.TextFunctions.tokens(col("text")), 5))).as("gram"))
      SketchStream.writeStandingBloom(spark, s"$root/bloom",
        benchGramRel, "gram")
      val masks = Profiling.bloomMasks(
        SketchStream.readBloomBits(spark, s"$root/bloom"), 4, 1 << 16)
      val benchGrams = benchGramRel.select(col("gram"))
        .distinct().localCheckpoint(true)
      Dedup.minhashBandIndex(standing, "doc_id", "text")
        .write.parquet(s"${r.idx}/v0")
      standing.write.parquet(s"${r.docs}/v0")
      (r, masks, benchGrams)
    }
    def callback(r: Roots, masks: Array[Array[Long]], bg: DataFrame)(
        b: DataFrame, id: Long): Unit =
      Pipeline.ingestCapstoneBatch(spark, masks, bg,
        r.idx, r.docs, r.pairs, r.out)(b, id)
    def snapshot(r: Roots): Map[String, Seq[String]] = Map(
      "pairs" -> spark.read.parquet(s"${r.pairs}/b*").collect()
        .map(_.toString).sorted.toSeq,
      "bands" -> spark.read.parquet(s"${r.idx}/v*").collect()
        .map(_.toString).sorted.toSeq,
      "docs" -> spark.read.parquet(s"${r.docs}/v*").collect()
        .map(_.toString).sorted.toSeq,
      "verdicts" -> spark.read.parquet(s"${r.out}/b*").collect()
        .map(_.toString).sorted.toSeq)

    // scenario A: uninterrupted
    val (ra, masksA, bgA) = setup()
    callback(ra, masksA, bgA)(b0, 0L); callback(ra, masksA, bgA)(b1, 1L)
    val want = snapshot(ra)
    assert(want("verdicts").nonEmpty && want("pairs").nonEmpty)
    // sanity: the fixture exercises all three verdict families
    val va = spark.read.parquet(s"${ra.out}/b1")
      .select("doc_id", "contaminated", "quality_keep", "near_dup")
      .as[(Long, Boolean, Boolean, Boolean)].collect().map(t => t._1 -> t).toMap
    assert(va(20L)._4, "cross-batch near-dup must flag doc 20")
    assert(va(22L)._2, "contaminated doc 22 must flag")
    assert(!va(21L)._3, "repetitive doc 21 must fail quality")
    assert(va(23L) === ((23L, false, true, false)), "doc 23 clean")

    // scenario B: crash AFTER the three near-dup writes, BEFORE the
    // verdict write — then redeliver the full batch
    val (rb, masksB, bgB) = setup()
    callback(rb, masksB, bgB)(b0, 0L)
    NearDupStream.filterBatch(spark, rb.idx, rb.docs, rb.pairs,
      "doc_id", "text", threshold = 0.4)(b1.select("doc_id", "text"), 1L)
    callback(rb, masksB, bgB)(b1, 1L)
    assert(snapshot(rb) === want,
      "crash between near-dup deltas and verdict must converge")

    // scenario C: crash AFTER the pairs write, BEFORE the band/doc
    // deltas — then redeliver the full batch
    val (rc, masksC, bgC) = setup()
    callback(rc, masksC, bgC)(b0, 0L)
    val idxSoFar = spark.read.parquet(s"${rc.idx}/v0", s"${rc.idx}/v1")
    val docsSoFar = spark.read.parquet(s"${rc.docs}/v0", s"${rc.docs}/v1")
    Dedup.minhashPairsIncremental(b1.select("doc_id", "text"), "doc_id",
        "text", idxSoFar, docsSoFar, threshold = 0.4)
      .withColumn("batch", lit(1L))
      .write.mode("overwrite").parquet(s"${rc.pairs}/b1")
    callback(rc, masksC, bgC)(b1, 1L)
    assert(snapshot(rc) === want,
      "crash between pairs and band deltas must converge")
  }

  test("content pins are stable: a fixed bank and a fixed codebook hash to " +
      "the (fp, n) values earlier builds pinned, under the same pin keys") {
    import graft.streaming.{IvfStream, PqStream, Versions}
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("pinstable_").toString
    val bank = Seq((0, Seq(0.5, -1.25, 3.0)), (1, Seq(1.0e-4, 2.5, 0.0)),
      (2, Seq(7.0, 8.125, -0.5))).toDF("cell", "cv")
    val book = Seq((0, 0, Seq(0.5, 1.5)), (0, 1, Seq(-2.0, 0.25)),
      (1, 0, Seq(3.0, 4.0)), (1, 1, Seq(1.0e-3, -7.5))).toDF("j", "code", "cv")
    val (bankPin, bookPin) = ((-5521700838055837850L, 3L),
      (7785996275254967018L, 4L))
    assert(Versions.contentPin(bank, Seq("cell"), "bank") === bankPin)
    assert(Versions.contentPin(book, Seq("j", "code"), "codebook") === bookPin)
    // a store pinned by an earlier build still opens: literal pin rows
    // under the old keys pass the checks
    bank.write.parquet(s"$root/bank/v0")
    book.write.parquet(s"$root/book/v0")
    Versions.writePin(spark, s"$root/idx",
      Seq("bank_fp" -> bankPin._1, "bank_n" -> bankPin._2))
    Versions.writePin(spark, s"$root/codes",
      Seq("book_fp" -> bookPin._1, "book_n" -> bookPin._2))
    IvfStream.checkBank(spark, s"$root/bank", s"$root/idx")
    PqStream.checkBook(spark, s"$root/book", s"$root/codes")
  }
}
