package graft.perfbench

import java.util.Random

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{MapReduceJob, Par}
import graft.functions.{TextFunctions => TF}
import graft.operators.{Dedup, Similarity}
import graft.sources.Tables
import graft.streaming.{ClusterStream, NearDupStream, Takedown, Versions}

/** One benchmark workload. `warmup` runs the workload's operations once on
  * small throw-away inputs under its own directory, so that the JVM is warm
  * before anything is timed. `setup` generates the inputs from the seed and
  * bootstraps the stores; `Main` repeats it and keeps the last one.
  * `run` is the timed loop: `units` rounds of unit operations with point
  * lookups between them. `verify` checks the outputs the loop left
  * behind. */
abstract class Workload(val spark: SparkSession, val tr: Tracer,
    val seed: Long) {
  /** The operation kind whose latency is the workload's `op_s_p50`. */
  def latencyKind: String
  /** Nominal seconds of one round of `run`. The loop runs a fixed number
    * of rounds sized from the requested seconds rather than stopping on
    * the clock: a clock-bounded loop runs one round more or less on a
    * slower or faster machine, and the median then moves with the count. */
  def roundSeconds: Double
  def setup(dir: String): Unit
  def warmup(dir: String): Unit
  def run(rounds: Int, rec: Recorder): Unit
  def verify(rec: Recorder): Unit = ()
  /** Rows and bytes of every generated input. */
  def inputs: Seq[Map[String, Any]]
  /** Everything else the result file reports (digests, store sizes). */
  def extra: Map[String, Any]

  protected var lookupRnd = new Random(seed)

  protected def scored(docs: DataFrame, idCol: String = "id"): DataFrame =
    docs.select(col("doc_id").as(idCol),
      TF.qualityScoreFromTokens(col("text"), TF.tokens(col("text"))).as("score"))
}

/** One batch curation pass over a seeded Zipf corpus with planted copies:
  * the reference's dice job (a `PagedRollSource` read in 1,000-row pages,
  * folded to Win/Lose by `MapReduceJob`), a token-frequency count through
  * the same `MapReduceJob` surface (typed flatMap -> groupByKey ->
  * reduceGroups), exact dedup by fingerprint, MinHash near-duplicate
  * pairs over the kept documents, connected components with one canonical
  * per cluster, and a small IVF top-k query set over seeded embeddings.
  * Each stage persists its output; lookups read the canonical table by
  * document id. Every pass's outputs are checked: the dice counts against
  * a driver-side fold of the same LCG stream, and the canonical digest and
  * kept and token counts are recorded per pass, so a pass that differs
  * from the others shows. */
final class CurationWorkload(spark: SparkSession, tr: Tracer, seed: Long)
    extends Workload(spark, tr, seed) {
  val nDocs = 7000
  val nVecs = 3000
  val nQueries = 32
  val lookupsPerOp = 6
  val diceRows = 100000L
  val dicePage = 1000L
  def latencyKind = "pass"
  def roundSeconds = 6.0

  private var dir: String = _
  private var docBytes = 0L
  private var cents: Array[Array[Double]] = _
  private var canonKeys: Array[Long] = Array.empty
  private val yields = mutable.ArrayBuffer[(Long, Long)]()
  private var lastPairs: DataFrame = _
  private val diceSeconds = mutable.ArrayBuffer[Double]()
  private var diceCounts: Map[String, Long] = Map.empty

  private def out(name: String) = s"$dir/out/$name"

  /** One curation pass over the inputs under `in`, outputs under `to`. */
  private def pass(in: String, to: String): Unit = {
    def out(name: String) = s"$to/$name"
    val t0 = System.nanoTime()
    diceCounts = dice()
    diceSeconds += (System.nanoTime() - t0) / 1e9
    val docs = tr.span("sources", "tables_documents") {
      Tables.documents(spark, in).select("doc_id", "text")
    }
    tr.span("core", "mapreduce") {
      tokenCounts(docs).runWithSink(spark)(_.toDF("token", "n")
        .write.mode("overwrite").parquet(out("tokens")))
    }
    tr.span("operators", "exact_dedup") {
      Dedup.exactKeptByFingerprint(docs, "doc_id", "text")
        .write.mode("overwrite").parquet(out("kept"))
    }
    val kept = spark.read.parquet(out("kept"))
    lastPairs = tr.span("operators", "minhash_pairs") {
      val pairs = Dedup.minhashPairs(kept, "doc_id", "text")
      val done = pairs.localCheckpoint(true)
      if (tr.enabled) Tracer.filterYield(pairs).foreach(yields += _)
      done
    }
    tr.span("operators", "canonical") {
      Dedup.canonicalPerCluster(lastPairs, scored(kept, "doc_id"), "doc_id",
        "score")
        .write.mode("overwrite").parquet(out("canon"))
    }
    val vecs = tr.span("sources", "tables_embeddings") {
      Tables.embeddings(spark, in).select("vec_id", "embedding")
    }
    tr.span("operators", "ivf_topk") {
      Similarity.ivfTopK(vecs.filter(col("vec_id") < nQueries), vecs, k = 10,
          nCells = 16, nProbe = 4, centroids = Some(cents))
        .write.mode("overwrite").parquet(out("ivf"))
    }
  }

  /** The reference's dice job: rolls read page by page through the
    * DataSource V2 source (one task per page), one (Win|Lose, 1) pair per
    * roll, summed per key. */
  private def dice(): Map[String, Long] = {
    import spark.implicits._
    val rolls = tr.span("sources", "paged_rolls") {
      spark.read.format("graft.sources.v2.PagedRollSource")
        .option("rows", diceRows).option("pageSize", dicePage).load()
        .select("roll").as[Long]
    }
    tr.span("core", "mapreduce_dice") {
      MapReduceJob[Long, String, Long](
        source = _ => rolls,
        mapFn = roll => Iterator((if (roll == 3L) "Win" else "Lose") -> 1L),
        reduceFn = _ + _).collectResults(spark)
    }
  }

  private def tokenCounts(docs: DataFrame): MapReduceJob[String, String, Long] = {
    import spark.implicits._
    MapReduceJob[String, String, Long](
      source = _ => docs.select("text").as[String],
      mapFn = text => text.split(' ').iterator.map(_ -> 1L),
      reduceFn = _ + _)
  }

  /** Read the canonical table by a canonical's id; right iff exactly
    * that row comes back. */
  private def lookup(canon: String, keys: Array[Long]): Boolean = {
    val id = keys(lookupRnd.nextInt(keys.length))
    spark.read.parquet(canon).filter(col("keep_id") === id)
      .select("keep_id").collect().map(_.getLong(0)).toSeq == Seq(id)
  }

  private def keysOf(canon: String): Array[Long] =
    spark.read.parquet(canon).select("keep_id").collect().map(_.getLong(0))
      .sorted

  /** Write `n` documents and `m` vectors generated from `rnd` under `to`;
    * returns the documents' user bytes. */
  private def generate(rnd: Random, n: Int, m: Int, to: String): Long = {
    val ds = Gen.docs(rnd, n, 0L, exactEvery = 33, nearEvery = 13)
    Gen.docFrame(spark, ds.toSeq).write.parquet(s"$to/documents.parquet")
    spark.createDataFrame(Gen.vectors(rnd, m).toSeq.map { case (i, v) =>
        (i, v.toSeq) })
      .toDF("vec_id", "embedding").write.parquet(s"$to/embeddings.parquet")
    Gen.userBytes(ds)
  }

  def setup(d: String): Unit = {
    dir = d
    lookupRnd = new Random(seed)
    docBytes = generate(new Random(seed), nDocs, nVecs, dir)
    cents = Similarity.ivfCentroids(Tables.embeddings(spark, dir), 16)
  }

  def warmup(w: String): Unit = {
    generate(new Random(seed + 1), nDocs / 10, nVecs / 10, w)
    cents = Similarity.ivfCentroids(Tables.embeddings(spark, w), 16)
    pass(w, s"$w/out")
    diceSeconds.clear()
    lookup(s"$w/out/canon", keysOf(s"$w/out/canon"))
  }

  def run(rounds: Int, rec: Recorder): Unit =
    (1 to rounds).foreach { _ =>
      if (rec.op("pass", nDocs, docBytes)(pass(dir, s"$dir/out"))) {
        if (canonKeys.isEmpty) canonKeys = keysOf(out("canon"))
        rec.check("dice_counts_match_fold", diceCounts == diceWant,
          s"$diceCounts vs $diceWant")
        rec.checked("curation_outputs")(record())
      }
      (1 to lookupsPerOp).foreach(_ =>
        rec.lookup(lookup(out("canon"), canonKeys)))
    }

  private lazy val diceWant = Oracle.dice(diceRows)
  private val digests = mutable.ArrayBuffer[String]()
  private val keptCounts = mutable.ArrayBuffer[Long]()
  private val tokenTotals = mutable.ArrayBuffer[Seq[Long]]()

  private def canonRows: Array[String] =
    spark.read.parquet(out("canon"))
      .select("cluster_id", "keep_id", "n_members").collect()
      .map(r => s"${r.getLong(0)},${r.getLong(1)},${r.getLong(2)}")

  /** Record the pass's canonical digest, kept count and token totals;
    * run.py checks that every pass agrees and compares the counts with
    * DuckDB's. */
  private def record(): Unit = {
    digests += Oracle.digest(canonRows)
    keptCounts += spark.read.parquet(out("kept")).count()
    val t = spark.read.parquet(out("tokens"))
      .agg(count(lit(1)), sum("n")).collect()(0)
    tokenTotals += Seq(t.getLong(0), t.getLong(1))
  }

  /** Check the last pass's canonical table against a union-find over its
    * own pairs, and its IVF answers' shape. */
  override def verify(rec: Recorder): Unit = rec.checked("curation_outputs") {
    val pairs = lastPairs.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val score = scored(spark.read.parquet(out("kept")))
      .filter(col("id").isin(nodes: _*)).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val (_, canon) = Oracle.clusters(nodes, pairs, score)
    val want = canon.map { case (cid, (keep, n)) => s"$cid,$keep,$n" }
    val got = canonRows
    rec.check("canonical_matches_union_find",
      got.sorted.toSeq == want.toSeq.sorted,
      s"${got.length} clusters vs ${want.size} expected")
    val ivf = spark.read.parquet(out("ivf")).groupBy("query_id")
      .agg(count(lit(1)).as("n"), max("rank").as("r")).collect()
    rec.check("ivf_topk_shape", ivf.length == nQueries &&
      ivf.forall(r => r.getLong(1) == 10L && r.getInt(2) == 10),
      s"${ivf.length} queries answered")
  }

  def inputs = Seq(
    Map("name" -> "documents", "rows" -> nDocs,
      "bytes" -> Gen.diskBytes(s"$dir/documents.parquet")),
    Map("name" -> "embeddings", "rows" -> nVecs,
      "bytes" -> Gen.diskBytes(s"$dir/embeddings.parquet")))

  def extra = Map("digests" -> digests.distinct.toSeq,
    "kept_counts" -> keptCounts.distinct.toSeq,
    "token_totals" -> tokenTotals.distinct.toSeq,
    "dice_rows" -> diceRows, "dice_s" -> diceSeconds.toSeq,
    "documents_parquet" -> s"$dir/documents.parquet",
    "verify_yield" -> yields.map { case (c, v) => Seq(c, v) }.toSeq,
    "store_bytes" -> Gen.diskBytes(s"$dir/out"), "user_bytes" -> docBytes)
}

/** A trigger loop over the versioned stores, shaped like the production
  * dedup loop: each cycle starts from the bootstrapped standing stores
  * (a near-dup band index and docs store, and a cluster store), runs a
  * fixed script of ingest triggers with every `takedownEvery`-th trigger a
  * maintenance trigger (a journaled takedown across all three stores, then
  * cluster-store compaction), and reads the masked multi-version cluster
  * store by sampled ids between triggers. The script is fixed per seed, so
  * every cycle ends in the same state. */
final class LifecycleWorkload(spark: SparkSession, tr: Tracer, seed: Long)
    extends Workload(spark, tr, seed) {
  val nStanding = 800
  val batchDocs = 100
  val triggers = 3
  val takedownEvery = 3
  val takedownIds = 4
  val lookupsPerGap = 2
  val lookupIds = 8
  def latencyKind = "ingest"
  def roundSeconds = 18.0

  private def maintenance(i: Int) = i % takedownEvery == takedownEvery - 1
  private val ingests = (0 until triggers).filterNot(maintenance)

  private var dir: String = _
  private var standing: Array[(Long, String)] = _
  private var batches: Map[Int, Array[(Long, String)]] = Map.empty
  private var dels: Map[Int, Seq[Long]] = Map.empty
  private var score: Map[Long, Double] = Map.empty
  private var cycle = 0
  private val digests = mutable.ArrayBuffer[String]()
  private val storeRatios = mutable.ArrayBuffer[(Long, Long)]()
  private val versionsSeen = mutable.ArrayBuffer[Int]()

  private def template = s"$dir/template"

  def setup(d: String): Unit = prepare(d, seed, nStanding, batchDocs)

  /** Generate a standing corpus of `standingDocs` and one batch of
    * `perBatch` documents per ingest trigger under `d`, pick the takedown
    * sets, and bootstrap the standing stores into the cycle template. */
  private def prepare(d: String, s: Long, standingDocs: Int,
      perBatch: Int): Unit = {
    dir = d
    lookupRnd = new Random(s)
    val rnd = new Random(s)
    val all = Gen.docs(rnd, standingDocs + ingests.size * perBatch, 0L,
      exactEvery = 50, nearEvery = 12)
    standing = all.take(standingDocs)
    batches = ingests.zipWithIndex.map { case (t, k) =>
      t -> all.slice(standingDocs + k * perBatch, standingDocs + (k + 1) * perBatch)
    }.toMap
    // each takedown retracts docs that arrived strictly earlier
    val taken = mutable.Set[Long]()
    dels = (0 until triggers).filter(maintenance).map { t =>
      val earlier = standing.map(_._1) ++
        ingests.filter(_ < t).flatMap(batches(_).map(_._1))
      val pick = rnd.ints(0, earlier.length).distinct().iterator()
      val ids = mutable.ArrayBuffer[Long]()
      while (ids.size < takedownIds) {
        val id = earlier(pick.next())
        if (taken.add(id)) ids += id
      }
      t -> ids.toSeq
    }.toMap
    Gen.docFrame(spark, standing.toSeq).write.parquet(s"$dir/standing")
    batches.foreach { case (t, b) =>
      Gen.docFrame(spark, b.toSeq).write.parquet(s"$dir/batch$t")
    }
    score = scored(Gen.docFrame(spark, all.toSeq)).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val st = spark.read.parquet(s"$dir/standing").localCheckpoint(true)
    Par.run(
      () => Dedup.minhashBandIndex(st, "doc_id", "text")
        .write.parquet(s"$template/ndidx/v0"),
      () => st.write.parquet(s"$template/nddocs/v0"),
      () => ClusterStream.writeStanding(spark, s"$template/cs", scored(st),
        Dedup.minhashPairs(st, "doc_id", "text", threshold = 0.4)))
  }

  /** Bootstrap a small corpus, then run one ingest trigger and one lookup
    * on a copy of it. */
  def warmup(d: String): Unit = {
    prepare(d, seed + 1, nStanding / 5, batchDocs / 3)
    val root = s"$d/cycle"
    Gen.copyTree(template, root)
    ingest(root, ingests.head)
    lookup(root, standing.map(_._1).toIndexedSeq, Set.empty,
      new Recorder(tr))
  }

  private def ingest(root: String, t: Int): Unit = {
    val b = spark.read.parquet(s"$dir/batch$t")
    val (ndIdx, ndDocs, cs) = (s"$root/ndidx", s"$root/nddocs", s"$root/cs")
    tr.span("streaming", "guard") {
      Takedown.guardReingest(spark, Seq(ndIdx, ndDocs, s"$cs/assign"),
        b.select(col("doc_id")))
    }
    val pairs = tr.span("streaming", "filter_batch") {
      NearDupStream.filterBatch(spark, ndIdx, ndDocs, s"$root/ndout",
        "doc_id", "text", threshold = 0.4, autoCompactVersions = Some(3),
        materializePairs = true)(b, t.toLong)
    }
    tr.span("streaming", "fold_batch") {
      ClusterStream.foldBatch(spark, cs)(scored(b),
        pairs.select(col("id_a"), col("id_b")), t.toLong)
    }
  }

  private def takedown(root: String, t: Int): Unit = {
    import spark.implicits._
    val cs = s"$root/cs"
    tr.span("streaming", "takedown") {
      Takedown.takedownAll(spark, s"$root/journal", dels(t).toDF("id"),
        t.toLong, targets = Seq(
          Takedown.Target("band index", s"$root/ndidx"),
          Takedown.Target("docs store", s"$root/nddocs"),
          Takedown.Target("cluster store",
            (s: SparkSession, ids: DataFrame, b: Long) =>
              ClusterStream.retract(s, cs, ids, b))))
    }
    tr.span("streaming", "compact") {
      ClusterStream.compactStore(spark, cs, upTo = t + 1L)
    }
  }

  private def versionDirs(root: String): Int = {
    val f = new java.io.File(root)
    Option(f.listFiles()).map(_.count(x => x.isDirectory &&
      x.getName.matches("v\\d+"))).getOrElse(0)
  }

  /** Read the clusters of `lookupIds` sampled live ids plus one taken-down
    * id; right iff every live id has exactly one assignment, no dead id
    * appears, and every returned cluster has exactly one canonical. */
  private def lookup(root: String, live: IndexedSeq[Long], dead: Set[Long],
      rec: Recorder): Unit = {
    val cs = s"$root/cs"
    val want = Seq.fill(lookupIds)(live(lookupRnd.nextInt(live.size))).distinct
    val probe = want ++ dead.headOption
    versionsSeen += versionDirs(s"$cs/assign") + versionDirs(s"$cs/canon")
    rec.lookup {
      val (asg, can) = tr.span("streaming", "lookup") {
        val asg = ClusterStream.readAssignments(spark, cs)
          .filter(col("id").isin(probe: _*)).select("id", "cid").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        val cids = asg.map(_._2).distinct.toSeq
        val can = ClusterStream.readCanonicals(spark, cs)
          .filter(col("cid").isin(cids: _*)).select("cid", "keep_id")
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        (asg, can)
      }
      asg.map(_._1).sorted.toSeq == want.sorted &&
        can.map(_._1).sorted.toSeq == asg.map(_._2).distinct.sorted.toSeq &&
        !can.exists(c => dead(c._2))
    }
  }

  private def runCycle(rec: Recorder): Unit = {
    val root = s"$dir/cycle$cycle"
    cycle += 1
    Gen.copyTree(template, root)
    val live = mutable.LinkedHashSet[Long]() ++ standing.map(_._1)
    val dead = mutable.Set[Long]()
    for (t <- 0 until triggers) {
      val ok =
        if (maintenance(t)) rec.op("maintenance", 0L)(takedown(root, t))
        else rec.op("ingest", batchDocs, Gen.userBytes(batches(t)))(
          ingest(root, t))
      if (!ok) return
      if (maintenance(t)) { live --= dels(t); dead ++= dels(t) }
      else live ++= batches(t).map(_._1)
      val liveIds = live.toIndexedSeq
      (1 to lookupsPerGap).foreach(_ =>
        lookup(root, liveIds, dead.toSet, rec))
    }
    verifyCycle(root, live.toSet, dead.toSet, rec)
  }

  private def verifyCycle(root: String, live: Set[Long], dead: Set[Long],
      rec: Recorder): Unit = rec.checked("store_state") {
    val cs = s"$root/cs"
    val asg = ClusterStream.readAssignments(spark, cs).select("id", "cid")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val can = ClusterStream.readCanonicals(spark, cs)
      .select("cid", "keep_id", "n_members").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val pairs = ClusterStream.readPairs(spark, cs).select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val nd = s"$root/nddocs"
    val docIds = Versions.maskTombstones(spark, nd, Versions.read(spark, nd,
        Versions.list(spark, nd).map(_._2.toString)), "doc_id")
      .select("doc_id").collect().map(_.getLong(0))
    rec.check("takedowns_committed",
      Takedown.incomplete(spark, s"$root/journal").isEmpty)
    rec.check("no_taken_down_id_in_reads",
      !asg.exists(a => dead(a._1)) && !can.exists(c => dead(c._2)) &&
        !pairs.exists(p => dead(p._1) || dead(p._2)) &&
        !docIds.exists(dead), s"${dead.size} taken down")
    rec.check("docs_store_holds_live_docs",
      docIds.length == live.size && docIds.toSet == live,
      s"${docIds.length} docs for ${live.size} live")
    rec.check("one_assignment_per_live_doc",
      asg.length == live.size && asg.map(_._1).toSet == live,
      s"${asg.length} assignments for ${live.size} live docs")
    rec.check("one_canonical_per_cluster",
      can.length == can.map(_._1).distinct.length &&
        can.map(_._1).toSet == asg.map(_._2).toSet,
      s"${can.length} canonicals for ${asg.map(_._2).distinct.length} clusters")
    val (label, canon) = Oracle.clusters(live, pairs.toSeq, score)
    val got = asg.map { case (id, cid) => s"a,$id,$cid" } ++
      can.map { case (cid, keep, n) => s"c,$cid,$keep,$n" }
    val want = label.map { case (id, cid) => s"a,$id,$cid" } ++
      canon.map { case (cid, (keep, n)) => s"c,$cid,$keep,$n" }
    rec.check("cluster_state_matches_union_find",
      got.sorted.toSeq == want.toSeq.sorted, s"${got.length} rows")
    digests += Oracle.digest(got)
    val stored = Seq("ndidx", "nddocs", "cs")
      .map(s => Gen.diskBytes(s"$root/$s")).sum
    storeRatios += ((stored,
      Gen.userBytes((standing ++ batches.values.flatten).filter(d => live(d._1)))))
  }

  def run(rounds: Int, rec: Recorder): Unit =
    (1 to rounds).foreach(_ => runCycle(rec))

  def inputs =
    Map("name" -> "standing", "rows" -> nStanding,
      "bytes" -> Gen.diskBytes(s"$dir/standing")) +:
      ingests.map(t => Map("name" -> s"batch$t", "rows" -> batchDocs,
        "bytes" -> Gen.diskBytes(s"$dir/batch$t")))

  def extra = Map("digests" -> digests.distinct.toSeq,
    "store_bytes" -> storeRatios.map(_._1).toSeq,
    "user_bytes" -> storeRatios.map(_._2).toSeq,
    "versions_visible" -> versionsSeen.toSeq,
    "cycles" -> digests.size)
}
