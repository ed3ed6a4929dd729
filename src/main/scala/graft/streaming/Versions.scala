package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{broadcast, col, concat_ws, count,
  expr, lit, row_number, transform}
import org.apache.spark.sql.types.{LongType, StringType, StructField,
  StructType}

/** Listing and maintenance for `root/v<N>` versioned-parquet layouts — the
  * shared convention of the streaming maintenance loops
  * ([[CorpusMaintenance]]'s full-corpus versions, [[PassageStream]]'s /
  * [[NearDupStream]]'s index deltas, [[FunnelStream]]'s state deltas):
  * versions are named by streaming batch id, which is what makes
  * redelivered batches idempotent (each rebase reads only versions
  * `<= batchId`).
  *
  * ==The single-writer contract (VERDICT r16 missing #1)==
  *
  * Every correctness property above leans on batch-id-named
  * DETERMINISTIC OVERWRITES from '''one writer per root''': a
  * redelivered batch overwrites its own delta, a re-run compaction
  * converges, a journaled takedown re-fans idempotently. None of that
  * survives two CONCURRENT writers — a maintenance [[compact]] racing a
  * live `appendBatch` can fold the version boundary the append is
  * landing at (the atomic-per-root rewrite deletes `v0..v<upTo>` while
  * the append writes `v<upTo+1>`; a torn interleaving can orphan or
  * double-read a delta), and two streams on one root fork its lineage
  * outright. The contract is therefore: '''at most one writer mutates a
  * root at a time; maintenance runs between triggers in the SAME
  * writer's hands, or takes over the root explicitly.'''
  *
  * Enforcement is the opt-in lease protocol ([[acquireLease]]): a
  * `root/_lease/e<epoch>_<writer>` marker names the root's current
  * writer. Once ANY lease exists on a root (or on its immediate parent
  * — multi-root stores lease the store root once, covering `post/`,
  * `assign/`, … children), every mutating verb here refuses unless
  * passed the CURRENT holder's lease: a second `acquireLease` bumps the
  * epoch and FENCES the first holder (its next mutation fails loud —
  * the stream stops instead of racing), and an unleased mutation on a
  * leased root fails loud (a hand-run `takedownAll` or `compactStore`
  * beside a leased ingest stream must present the stream's lease or
  * take the root over). Unleased roots keep the legacy behavior —
  * correctness then rests on the caller honoring the contract by
  * construction (one `foreachBatch` body, maintenance between
  * triggers), which is how every single-stream registry query runs.
  * Reads never check the lease: every read is a consistent fold of
  * whatever committed versions it lists.
  *
  * ==Adding a store==
  *
  * Declare one [[StoreSpec]] per versioned root — the store's name for
  * messages, its id columns (`Nil` for a monotone store, whose
  * `tombstone` then refuses with the store's rebuild hint; several for a
  * root whose rows carry more than one item id, like a pair root, which
  * reads and compaction then mask on every one), its compaction fold and
  * its `clusterBy` probe key — and call the spec's verbs:
  * `writeStanding`, `beginAppend` (lineage guard, then threshold
  * auto-compaction with the same fold [[compact]] uses), `read`,
  * `tombstone` and `compact`. The store's file keeps only its kernel
  * (hash, assign, encode, fold, repair). Marker state has one owner:
  * [[deadIds]] answers "is this id dead as of batch b" for every read,
  * revive check ([[requireDead]]), takedown correction and compaction
  * ([[refusePendingRevives]]). A model pin lives at `root/_params` and
  * goes through [[writePin]]/[[readPin]]; a store bound to a trained
  * relation (a bank, a codebook) pins its content with
  * [[writeContentPin]] and checks it with [[checkContentPin]]. */
object Versions {

  // --- the single-writer lease protocol ------------------------------------

  /** A held writer lease: proof of being `root`'s current writer as of
    * `epoch`. Pass it to every mutating verb on the root (or on the
    * root's children, for multi-root stores). Obtained ONLY from
    * [[acquireLease]]. */
  final case class Lease(root: String, writerId: String, epoch: Long)

  private def leaseDir(root: String) = new Path(root, "_lease")
  private val LeaseName = "e(\\d+)_(.*)".r

  /** The root's current (max-epoch) lease entry, if any. */
  def currentLease(spark: SparkSession, root: String)
      : Option[(Long, String)] = {
    val dir = leaseDir(root)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(dir)) None
    else fs.listStatus(dir).toSeq.map(_.getPath.getName).collect {
      case LeaseName(e, w) => (e.toLong, w)
    }.sortBy(_._1).lastOption
  }

  /** Become `root`'s writer: write a lease marker one epoch above the
    * newest existing one. Any PREVIOUS holder is thereby FENCED — its
    * next mutating call fails loud instead of racing (the takeover
    * path: stop the old stream, acquire, run maintenance, release or
    * keep streaming under the new lease). The marker create is
    * `FileSystem.createNewFile` — atomic on HDFS and local
    * filesystems; an object-store deployment needs a conditional-put
    * (if-none-match) adapter behind the same call, or an external
    * lock service issuing the epoch. Losing a same-epoch race fails
    * loud — re-call to retry above the winner. The epoch check in
    * [[checkWriter]] is check-then-write, so a writer fenced BETWEEN
    * its check and its write can still land one in-flight
    * batch-id-named version; the naming discipline makes that benign
    * (the new holder's next deterministic overwrite of the same slot
    * supersedes it, and `guardAppend`'s lineage-fork check refuses a
    * fresh-checkpoint writer replaying old batches over it).
    * `writerId` must not contain '/'. */
  def acquireLease(spark: SparkSession, root: String,
      writerId: String): Lease = {
    require(!writerId.contains("/") && writerId.nonEmpty,
      s"writerId must be a non-empty path-safe token: '$writerId'")
    val dir = leaseDir(root)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(dir)) fs.mkdirs(dir)
    val epoch = currentLease(spark, root).map(_._1 + 1).getOrElse(0L)
    require(fs.createNewFile(new Path(dir, s"e${epoch}_$writerId")),
      s"lost the lease-acquire race on $root at epoch $epoch — another " +
        "writer claimed it first; re-acquire to fence it")
    // the takeover cleans up the markers it fenced, so releasing the
    // CURRENT lease returns the root to unleased (fenced holders are
    // already locked out by the epoch check, file or no file)
    fs.listStatus(dir).toSeq.map(_.getPath).foreach { p =>
      p.getName match {
        case LeaseName(e, _) if e.toLong < epoch => fs.delete(p, false)
        case _ => ()
      }
    }
    Lease(root, writerId, epoch)
  }

  /** Hand the root back: delete the OWN marker (only). If a newer epoch
    * already fenced this lease the release is a no-op on the holder —
    * the root stays governed by the newer lease. Releasing the last
    * marker returns the root to the unleased legacy behavior. */
  def releaseLease(spark: SparkSession, lease: Lease): Unit = {
    val p = new Path(leaseDir(lease.root), s"e${lease.epoch}_${lease.writerId}")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(p, false)
    ()
  }

  private val held = new ThreadLocal[List[Lease]] {
    override def initialValue: List[Lease] = Nil
  }

  /** The calling thread's [[withLease]] stack — captured by
    * [[graft.core.Par]] so actions it overlaps on worker threads keep
    * presenting the caller's leases to [[checkWriter]] (the scope is
    * logically the caller's, whatever thread runs the write). */
  private[graft] def capturedHeld: List[Lease] = held.get

  /** Run `f` under a captured [[withLease]] stack (worker-thread side of
    * [[capturedHeld]]); restores the thread's previous stack on exit. */
  private[graft] def withHeld[T](leases: List[Lease])(f: => T): T = {
    val old = held.get
    held.set(leases)
    try f finally held.set(old)
  }

  /** Run `f` with `lease` HELD: every mutating verb called inside —
    * through ANY store's code path, no signature threading needed —
    * presents it to [[checkWriter]] automatically when the verb's own
    * `lease` parameter is None. This is how the dozen single-verb
    * stores (aHash, media-fp, containment, IVF, PQ, sketches, …)
    * operate on a leased root: the stream's `foreachBatch` body wraps
    * its work in `withLease(l) { … }` (driver-side, so the scope is the
    * stream's own execution thread; nested scopes stack, innermost
    * covering lease wins). Epoch fencing still applies — a held lease
    * that has been fenced refuses exactly like an explicit one. */
  def withLease[T](lease: Lease)(f: => T): T = {
    held.set(lease :: held.get)
    try f finally held.set(held.get.tail)
  }

  /** The write gate every mutating verb below runs: with a lease
    * (explicit, or [[withLease]]-held and covering the root), the
    * target root must be the lease's root or a child of it, and the
    * lease must still be the root's CURRENT one (epoch fencing);
    * without one, the target root and its immediate parent must be
    * unleased. Reads never call this. */
  def checkWriter(spark: SparkSession, root: String,
      lease: Option[Lease]): Unit = lease.orElse(
    held.get.find(l => root == l.root || root.startsWith(l.root + "/"))
  ) match {
    case Some(l) =>
      require(root == l.root || root.startsWith(l.root + "/"),
        s"lease on ${l.root} does not cover $root")
      val cur = currentLease(spark, l.root)
      require(cur.isDefined,
        s"lease e${l.epoch}_${l.writerId} on ${l.root} was released — " +
          "re-acquire before mutating")
      require(cur.get == ((l.epoch, l.writerId)),
        s"writer ${l.writerId} (epoch ${l.epoch}) is FENCED on ${l.root}: " +
          s"the current lease is e${cur.get._1}_${cur.get._2} — a newer " +
          "writer took the root over; stop this stream/maintenance run")
    case None =>
      (Seq(root) ++ Option(new Path(root).getParent).map(_.toString))
        .foreach { r =>
          currentLease(spark, r).foreach { case (e, w) =>
            throw new IllegalArgumentException(
              s"unleased write to $root refused: the root is " +
                s"lease-protected (current writer e${e}_$w at $r) — pass " +
                "the holder's lease, or acquireLease to take it over")
          }
        }
  }

  /** Refuse a standing (v0) write to a root still holding deltas: the
    * write would leave v1..vN in place under a fresh v0 — possibly built
    * under different model parameters — and every read folds all
    * versions, so the result is silently mixed lineage (append paths are
    * guarded; plain reads are not). Standing writes accept only a fresh
    * root or an exact re-run target (v0 alone) — the rebuild functions'
    * live-root refusal, applied to every store's entry point. */
  def guardStandingWrite(spark: SparkSession, root: String,
      lease: Option[Lease] = None): Unit = {
    checkWriter(spark, root, lease)
    val versions = list(spark, root).map(_._1)
    require(versions.isEmpty || versions == Seq(0L),
      s"standing write to $root refused: root holds versions " +
        s"${versions.map("v" + _).mkString(", ")} — overwriting v0 under " +
        "live deltas would mix lineages (or model parameters) on read; " +
        "compact or start a NEW root (the rebuild contract)")
  }

  /** Refuse a rebuild into a root that already holds versions: a rebuild
    * writes NEW roots and readers swap — rebuilding into a live root is
    * the in-place mutation the model guards exist to prevent. */
  def requireFreshRoots(spark: SparkSession, roots: String*): Unit =
    roots.foreach { r =>
      require(list(spark, r).isEmpty,
        s"rebuild target $r already holds versions — rebuild writes a NEW " +
          "root and readers swap; never rebuild into a live root")
    }

  /** Refuse unless the model root `root` holds exactly `v0`: the bank,
    * codebook or bounds a store was built under is frozen for the store's
    * life. `hint` says what is bound to it and how to move on. */
  def requireFrozen(spark: SparkSession, root: String, what: String,
      hint: String): Unit = {
    val versions = list(spark, root).map(_._1)
    require(versions == Seq(0L),
      s"$what at $root must be exactly v0 (found " +
        s"${versions.map("v" + _).mkString(", ")}) — $hint")
  }

  /** The shared append-path lineage guard every `foreachBatch` store runs
    * before touching its versioned root (VERDICT r12 wrong #2: the same
    * two-require block was hand-copied across ~12 stores — the contract
    * lives HERE now, so the next store inherits it by construction, the
    * [[guardStandingWrite]] precedent): (1) the standing `v0` must exist
    * (`missingHint` names the store's bootstrap entry point); (2) the
    * newest delta must be `<= batchId + 1` — anything newer means a fresh
    * checkpoint is replaying an OLD batch over deltas a different stream
    * lineage wrote, and appending would fork that lineage. */
  private[streaming] def guardAppend(spark: SparkSession, root: String,
      what: String, batchId: Long, missingHint: String,
      lease: Option[Lease]): Unit = {
    checkWriter(spark, root, lease)
    val versions = list(spark, root)
    require(versions.exists(_._1 == 0L),
      s"standing $what $root/v0 missing — $missingHint")
    versions.lastOption.foreach { case (newest, _) =>
      require(newest <= batchId + 1,
        s"$what at $root is at v$newest but the stream is replaying batch " +
          s"$batchId — restarting with a fresh checkpoint over existing " +
          "deltas would fork their lineage; resume from the original " +
          "checkpoint or start new roots")
    }
  }

  // --- schema-cached parquet reads (r18, guide §1.2: per-action cost) ----

  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.types.StructType]()

  /** `spark.read.parquet(paths)` with the schema CACHED per `cacheKey`
    * after the first read: footer-based schema inference is ~60 ms of
    * driver-side work PER READ (OPTIMIZATION_r18.md "What PlanTax
    * measured", probe last at `dc914e8` — 103 vs 39 ms/action), and the
    * lifecycle stores read their roots hundreds of times per query under
    * a schema that is FIXED for the store's lifetime (every version/
    * marker of a root shares it — the versioned-layout contract;
    * compaction transforms are read-equivalent and schema-preserving).
    * This caches METADATA only, never rows: each
    * action still lists, scans and computes from the parquet files at
    * hand. Key by the store root (markers under `<root>#d`), never by a
    * path that can be rewritten with a different schema. */
  def read(spark: SparkSession, cacheKey: String,
      paths: Seq[String]): DataFrame = {
    val cached = schemaCache.get(cacheKey)
    if (cached != null) spark.read.schema(cached).parquet(paths: _*)
    else {
      val df = spark.read.parquet(paths: _*)
      if (schemaCache.size > 4096) schemaCache.clear()
      schemaCache.put(cacheKey, df.schema)
      df
    }
  }

  // --- resolved small sides (delta overlays, marker and revive sets) -----

  /** Directories whose rows [[resolveRows]] holds; the least recently used
    * entry goes first. Each entry is one batch-sized delta or one
    * takedown-sized marker. */
  private val MaxResolvedDirs = 256

  private val resolved = new java.util.LinkedHashMap[String,
      (StructType, Array[Row])](64, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[String, (StructType, Array[Row])]): Boolean =
      size() > MaxResolvedDirs
  }

  /** The rows of one batch-id-named directory (a `v<N>` delta, a `d<N>`
    * marker, an `r<N>` revive) with their schema, read to the driver ONCE
    * per listing: the key is the directory plus every data file's name,
    * length and modification time, so a rewrite under the same directory
    * name (a redelivered batch, a re-issued marker) gets a new key — Spark
    * part names carry a per-write UUID. Only directories the store
    * contracts bound are resolved here: deltas are recent-batch-sized and
    * markers takedown-sized, the same bound the broadcasts they replace
    * already collected to the driver. `cacheKey` is [[read]]'s schema key. */
  private[graft] def resolveRows(spark: SparkSession, cacheKey: String,
      dir: Path): (StructType, Array[Row]) = {
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val key = fs.listStatus(dir).toSeq
      .filterNot(s => s.getPath.getName.startsWith("_") ||
        s.getPath.getName.startsWith("."))
      .map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
      .sorted.mkString(s"$dir|", "|", "")
    val hit = resolved.synchronized(resolved.get(key))
    if (hit != null) hit
    else {
      val df = read(spark, cacheKey, Seq(dir.toString))
      val rows = (df.schema, df.collect())
      resolved.synchronized(resolved.put(key, rows))
      rows
    }
  }

  /** Largest id set that travels as an `IN` literal; above it the set is
    * a broadcast local relation. */
  private[graft] val PushIdLimit = 1024

  /** `df` without the rows whose `idCol` is in `ids` (driver-resolved,
    * non-null): `idCol IS NULL OR NOT idCol IN (…)` up to [[PushIdLimit]]
    * ids — a filter that pushes into the scan, no join and
    * no broadcast job — and a broadcast left-anti join of the local id
    * relation beyond. Null ids are kept either way, as the anti-join
    * keeps them. */
  private[streaming] def withoutIds(df: DataFrame, idCol: String,
      ids: Seq[Long]): DataFrame =
    if (ids.isEmpty) df
    else if (ids.size <= PushIdLimit)
      df.filter(col(idCol).isNull || !col(idCol).isin(ids: _*))
    else {
      val spark = df.sparkSession
      import spark.implicits._
      df.join(broadcast(ids.toDF(idCol)), Seq(idCol), "left_anti")
    }

  /** The trickle-probe push: `idx` restricted to the batch's distinct
    * values of `keys`' one column when there are at most `limit` of them,
    * as a literal `IN` on the same-named `idx` column — result-identical
    * for a probe that only joins on that key, and what turns a
    * compaction-clustered base's row-group zones into scan pruning for
    * trickle-sized batches. The driver pull is bounded at `limit + 1`
    * values; `limit <= 0` disables the push. Spark rewrites an `IN` wider
    * than `spark.sql.parquet.pushdown.inFilterThreshold` (default 10)
    * into a min/max range, which prunes nothing on uniform hash keys. */
  private[streaming] def pushKeys(idx: DataFrame, keys: DataFrame,
      limit: Int): DataFrame =
    if (limit <= 0) idx
    else {
      val ks = keys.distinct().limit(limit + 1).collect().map(_.get(0)).toSeq
      if (ks.size <= limit) idx.filter(col(keys.columns.head).isin(ks: _*))
      else idx
    }

  // --- model pins (`root/_params`) ----------------------------------------

  /** The one pin layout: (k, v) rows, a name and a long. Pins are read
    * with THIS schema, never through [[read]]'s cache — a pin file is
    * rewritten in place (a rebuild, a format change), so a schema
    * cached under its path could go stale and turn the pin check into
    * a parquet conversion error instead of the check's own refusal. */
  private val PinSchema = StructType(Seq(
    StructField("k", StringType), StructField("v", LongType)))

  /** Pin a store's model parameters (sketch sizes, a bank's content
    * fingerprint) at `root/_params` — outside the `v*` namespace, so
    * [[list]] and [[compact]] never see it. */
  def writePin(spark: SparkSession, root: String,
      pin: Seq[(String, Long)]): Unit = {
    import spark.implicits._
    pin.toDF("k", "v").coalesce(1)
      .write.mode("overwrite").parquet(s"$root/_params")
  }

  /** The pin at `root/_params` (see [[writePin]]); refuses with
    * `missingHint` when the root has none. */
  def readPin(spark: SparkSession, root: String,
      missingHint: String): Map[String, Long] = {
    val p = new Path(s"$root/_params")
    require(p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p),
      s"$root/_params missing — $missingHint")
    spark.read.schema(PinSchema).parquet(p.toString)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** Order-independent content pin of a model relation with a `cv`
    * vector column: (bit_xor over `fingerprint64` of each row's
    * `k1:…:kn:v0,v1,…` rendering — the `keyCols` cast to string, then the
    * comma-joined `cv` — row count). One model-sized fold, deterministic
    * across partitionings because XOR is commutative and the rendering is
    * value-only. The count rides along because XOR alone is blind to
    * PAIRED duplicates (two copies of a row cancel: a crash-double-
    * appended row would pin identical to the clean model). `what` names
    * the model in every refusal. */
  def contentPin(model: DataFrame, keyCols: Seq[String],
      what: String): (Long, Long) = {
    val cv = concat_ws(",",
      transform(col("cv").cast("array<double>"), e => e.cast("string")))
    val row = model
      .select(graft.functions.HashFunctions.fingerprint64(concat_ws(":",
        keyCols.map(col(_).cast("string")) :+ cv: _*)).as("__fp"))
      .agg(expr("bit_xor(__fp)").as("fp"), count(lit(1)).as("n"))
      .head()
    require(row.getLong(1) > 0, s"cannot fingerprint an empty $what")
    (row.getLong(0), row.getLong(1))
  }

  /** Pin the content of the model at `modelRoot/v0` ([[contentPin]]) at
    * `root/_params` as `<prefix>_fp` and `<prefix>_n`. */
  def writeContentPin(spark: SparkSession, modelRoot: String, root: String,
      prefix: String, keyCols: Seq[String], what: String): Unit = {
    val (fp, n) = contentPin(read(spark, modelRoot, Seq(s"$modelRoot/v0")),
      keyCols, what)
    writePin(spark, root, Seq(s"${prefix}_fp" -> fp, s"${prefix}_n" -> n))
  }

  /** Refuse unless the model at `modelRoot/v0` hashes to the content pin
    * [[writeContentPin]] left at `root/_params` — the identity check a
    * version-count guard cannot make (the WRONG root, or a same-named
    * retrain). `refusal` is the mismatch wording after the
    * "(fingerprint/count …)" figures; `rebuildHint` names the way to
    * new roots. */
  def checkContentPin(spark: SparkSession, modelRoot: String, root: String,
      prefix: String, keyCols: Seq[String], what: String, refusal: String,
      rebuildHint: String): Unit = {
    val pin = readPin(spark, root, s"writeStanding (which pins the " +
      s"fingerprint of the $what) before appending or probing")
    // a pin without the count (the pre-count single-row format) would fail
    // every model, even a byte-identical one, with a misleading mismatch
    require(pin.contains(s"${prefix}_n"),
      s"$root/_params predates count pinning (${prefix}_fp only) — the " +
        s"old pin format cannot detect paired-duplicate $what rows; " +
        s"$rebuildHint (which re-pins (fp, n)) before appending or probing")
    val pinned = (pin(s"${prefix}_fp"), pin(s"${prefix}_n"))
    val actual = contentPin(read(spark, modelRoot, Seq(s"$modelRoot/v0")),
      keyCols, what)
    require(actual == pinned,
      s"$what at $modelRoot does not match the $what $root was built " +
        s"under (fingerprint/count $actual vs pinned $pinned) — $refusal; " +
        s"use the original $what root or $rebuildHint")
  }

  def list(spark: SparkSession, root: String): Seq[(Long, Path)] =
    listPrefixed(spark, root, 'v')

  /** The batch outputs a stream body wrote to `outRoot/b<batchId>`, read
    * as explicit paths: a glob read makes Spark's file-sink metadata probe
    * stat the literal glob and log a stack trace per read. */
  def readBatches(spark: SparkSession, outRoot: String): DataFrame =
    spark.read.parquet(listPrefixed(spark, outRoot, 'b').map(_._2.toString): _*)

  /** Batch-id-named sibling dirs `root/<prefix><batchId>` — the shared
    * lister behind version (`v`), tombstone-marker (`d`), and in-band
    * correction (`c`, [[RetrievalStream]]) namespaces. */
  def listPrefixed(spark: SparkSession, root: String,
      prefix: Char): Seq[(Long, Path)] = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.matches(s"$prefix\\d+"))
      .map(s => (s.getPath.getName.drop(1).toLong, s.getPath))
      .sortBy(_._1)
  }

  // --- takedown/retraction markers (VERDICT r13 #1: the one corpus-
  // maintenance verb the row-level store family lacked) -------------------

  /** Write a takedown marker delta `root/d<batchId>` holding the retracted
    * ids — the GDPR/takedown verb for ROW-LEVEL versioned stores (band
    * index, postings, fingerprint/aHash/set stores, IVF assignments, PQ
    * codes: anything whose rows carry the item id). Readers mask marked
    * ids out of every version via [[maskTombstones]]; [[compact]] with
    * `tombstoneIdCol` physically drops them and consumes the markers.
    *
    * Contract:
    *   - Markers are batch-id-named like version deltas, so a redelivered
    *     batch overwrites its own marker deterministically (exactly-once).
    *     Issue from inside a `foreachBatch` body BEFORE the store's probe
    *     (batch `b` reads markers `<= b`, so its own probe already
    *     excludes the retracted ids), or between triggers under any
    *     batchId at most the next batch's.
    *   - A marker masks the id in EVERY version, including deltas appended
    *     later: once taken down, an id stays down. Re-crawled content must
    *     arrive under a fresh ingest id — the family's ids-are-ingest-
    *     events discipline (rows unique across deltas), which is also what
    *     makes marker consumption at [[compact]] sound.
    *   - Marked ids must reference content from batches STRICTLY EARLIER
    *     than the marker's (you cannot take down what is arriving in the
    *     same trigger — drop it ingest-side instead). This keeps every
    *     marked row inside any `compact(upTo >= markerBatch)` fold, so
    *     delete-aware compaction never consumes a marker whose rows it
    *     could not see.
    *   - Marker relations are takedown-sized (each read resolves them to
    *     the driver once per listing and masks by an id literal or a
    *     broadcast local relation, [[maskTombstones]]); a corpus-scale
    *     retraction is a rebuild, not a tombstone.
    *   - MONOTONE stores cannot retract: a bloom filter's set bits, an HLL
    *     register max, or an id-free fingerprint index ([[PassageStream]])
    *     cannot un-absorb one item — those stores refuse this verb and
    *     point at their rebuild lifecycle instead. */
  def tombstone(spark: SparkSession, root: String, ids: Seq[Long],
      batchId: Long, lease: Option[Lease] = None): Unit = {
    checkWriter(spark, root, lease)
    require(ids.nonEmpty, "tombstone of an empty id set")
    requireStore(spark, root)
    writeMarker(spark, root, 'd', ids, batchId)
  }

  /** Refuse a takedown on a root without its standing `v0`. */
  private[streaming] def requireStore(spark: SparkSession,
      root: String): Unit =
    require(list(spark, root).exists(_._1 == 0L),
      s"tombstone refused: $root/v0 missing — the store must exist before " +
        "ids can be retracted from it")

  /** Refuse an id relation of more than one column; `verb` names the
    * caller. */
  private[streaming] def requireOneColumn(ids: DataFrame, verb: String): Unit =
    require(ids.schema.fields.length == 1,
      s"$verb takes a single id column, got ${ids.columns.mkString(", ")}")

  /** Write the marker `root/<kind><batchId>` (`d` takedown, `r` revive)
    * holding the driver-resolved `ids` as one file. */
  private[streaming] def writeMarker(spark: SparkSession, root: String,
      kind: Char, ids: Seq[Long], batchId: Long): Unit = {
    import spark.implicits._
    ids.toDF("id").coalesce(1)
      .write.mode("overwrite").parquet(s"$root/$kind$batchId")
  }

  /** [[tombstone]] with the retracted ids as a RELATION — the
    * predicate-driven sweep shape: a GDPR/PII/quality re-curation pass
    * computes WHICH ids to retract distributively (a scan + filter over
    * the corpus), and hand-listing the result through a driver `Seq`
    * would be exactly the `collect()` the engine's operator code avoids.
    * `ids` must be a single long-castable column (any name); it is
    * deduplicated and written as the marker delta by one distributed
    * write. The written marker is then resolved to the driver once
    * ([[resolveRows]]; takedown-sized by the marker contract), which both
    * checks it and serves every later masked read, and the empty sweep
    * refuses like the `Seq` form: an empty marker delta would mask
    * nothing while still paying a read per version forever. Everything
    * else — batch-id naming, redelivery overwrite, strictly-earlier
    * content, compaction consumption — is [[tombstone]]'s contract
    * verbatim. */
  def tombstoneFrom(spark: SparkSession, root: String, ids: DataFrame,
      batchId: Long, lease: Option[Lease] = None): Unit = {
    checkWriter(spark, root, lease)
    requireOneColumn(ids, "tombstoneFrom")
    requireStore(spark, root)
    // ids that cast to null (a wrong-typed sweep column) would survive
    // distinct() and satisfy the non-empty guard while masking nothing —
    // the exact forever-read waste the empty-set refusal exists to prevent.
    // r17: the sweep is evaluated ONCE, by the marker write itself (the
    // old checkpoint + count + write ran it through three actions). An
    // empty marker is undone before the refusal, so the post-refusal
    // state is unchanged, and a reader racing the short-lived empty dir
    // sees a marker that masks nothing — the same as no marker.
    // (NOT Dataset.observe: instantiating the session's ObservationManager
    // makes every later closure that captures the SparkSession
    // unserializable — it poisoned Similarity's typed top-k aggregator.)
    // The emptiness check resolves the written marker through
    // [[resolveRows]], so the masked reads that follow reuse its rows.
    val rel = idRelation(ids)
    val dir = new Path(s"$root/d$batchId")
    rel.coalesce(1).write.mode("overwrite").parquet(dir.toString)
    if (resolveRows(spark, s"$root#d", dir)._2.isEmpty) {
      dir.getFileSystem(spark.sessionState.newHadoopConf()).delete(dir, true)
      throw new IllegalArgumentException(
        "requirement failed: tombstone of an empty id set")
    }
  }

  /** A single-column id relation as marker rows: cast to long, nulls
    * dropped, deduplicated — the id hygiene every takedown, revive and
    * sweep shares. */
  def idRelation(ids: DataFrame): DataFrame =
    ids.toDF("id").select(col("id").cast("long").as("id"))
      .filter(col("id").isNotNull)
      .distinct()

  /** A takedown- or revive-sized id relation on the driver, with
    * [[idRelation]]'s hygiene applied there (one long-castable column,
    * nulls dropped, deduplicated — one collect, no shuffle); refused when
    * empty. `verb` names the caller in the refusals. */
  private[streaming] def collectIds(ids: DataFrame, verb: String)
      : Seq[Long] = {
    requireOneColumn(ids, verb)
    val rel = ids.toDF("id").select(col("id").cast("long")).collect()
      .filterNot(_.isNullAt(0)).map(_.getLong(0)).distinct.sorted.toSeq
    require(rel.nonEmpty, s"$verb of an empty id set")
    rel
  }

  /** Marker deltas under `root` (`d<batchId>` dirs), sorted by batch. */
  def listTombstones(spark: SparkSession, root: String): Seq[(Long, Path)] =
    listPrefixed(spark, root, 'd')

  /** Revive markers under `root` (`r<batchId>` dirs), sorted by batch. */
  def listRevives(spark: SparkSession, root: String): Seq[(Long, Path)] =
    listPrefixed(spark, root, 'r')

  /** Un-delete (VERDICT r15 next #4 — the id-revival lifecycle): write a
    * revive marker `root/r<batchId>` superseding earlier tombstones of
    * `ids`, so the ids' ORIGINAL rows come back into every read (per id,
    * the newest verb wins: a later `d` marker re-retracts a revived id).
    * The production shape: content taken down on a claim that is then
    * withdrawn — the data never left the store, only the mask did.
    *
    * Contract, on top of [[tombstone]]'s (batch-id naming, deterministic
    * redelivery overwrite, takedown-sized relations):
    *
    *   - Revive restores the RETAINED rows; it is NOT re-ingest. New
    *     content under the same external key must arrive under a fresh
    *     ingest id (the rows-unique-across-deltas discipline) — the
    *     naive path is refused end-to-end by [[Takedown.guardReingest]].
    *   - Every revived id must be DEAD as of the markers strictly before
    *     `batchId` (checked here; redelivery-stable because the check
    *     ignores this batch's own markers). Reviving a live id would
    *     plant a no-op marker that every read pays for forever.
    *   - Physical deletion is final: [[compact]] refuses to consume a
    *     tombstone whose revive is newer than the compaction bound
    *     (the revive would become a permanent no-op), and a tombstone
    *     already consumed by compaction cannot be revived (its rows are
    *     gone — the check above fails loud because the id is no longer
    *     masked).
    *   - Mask-only stores (containment, aHash, media-fp, IVF, PQ,
    *     near-dup band/docs) support this verb as-is. Stores whose
    *     takedown has PAIRED side effects refuse it on read:
    *     [[RetrievalStream]] (in-band stats corrections) and
    *     [[ClusterStream]] (component repair) — route those through
    *     their own lifecycles. */
  def revive(spark: SparkSession, root: String, ids: DataFrame,
      batchId: Long, lease: Option[Lease] = None): Unit = {
    checkWriter(spark, root, lease)
    val rel = collectIds(ids, "revive")
    requireDead(spark, root, rel, batchId)
    writeMarker(spark, root, 'r', rel, batchId)
  }

  /** The ids a `d`/`r` marker directory holds, resolved once per listing
    * ([[resolveRows]]). */
  private def markerIds(spark: SparkSession, root: String,
      dir: Path): Seq[Long] = {
    val (schema, rows) = resolveRows(spark, s"$root#d", dir)
    val i = schema.fieldIndex("id")
    rows.toSeq.filterNot(_.isNullAt(i)).map(_.getLong(i))
  }

  /** The ids dead at `upTo` — tombstoned and not since revived (per id,
    * newest verb ≤ upTo wins; a same-batch d/r pair is out of contract) —
    * resolved on the driver from the `d`/`r` directories' rows
    * ([[resolveRows]]: each marker is read once per listing, then served
    * from memory). None when no tombstone marker is visible. */
  def deadIds(spark: SparkSession, root: String,
      upTo: Long = Long.MaxValue): Option[Seq[Long]] = {
    val ds = listTombstones(spark, root).filter(_._1 <= upTo)
    if (ds.isEmpty) None
    else {
      def newest(dirs: Seq[(Long, Path)]): Map[Long, Long] = dirs
        .flatMap { case (b, p) => markerIds(spark, root, p).map(_ -> b) }
        .groupMapReduce(_._1)(_._2)(math.max)
      val revived = newest(listRevives(spark, root).filter(_._1 <= upTo))
      Some(newest(ds).collect {
        case (id, b) if revived.get(id).forall(b > _) => id
      }.toSeq.sorted)
    }
  }

  /** The revive check: refuse unless every id of `ids` is dead at `root`
    * as of the markers strictly before `batchId` ([[deadIds]] on the
    * driver; redelivery-stable because the batch's own marker is
    * ignored). Run it before any write a refused revive must not leave
    * behind. */
  private[streaming] def requireDead(spark: SparkSession, root: String,
      ids: Seq[Long], batchId: Long): Unit = {
    val dead = deadIds(spark, root, upTo = batchId - 1)
    require(dead.isDefined,
      s"revive refused: no tombstones at $root — nothing to revive")
    val notDead = ids.filterNot(dead.get.toSet).take(5)
    require(notDead.isEmpty,
      s"revive refused: ids ${notDead.mkString(", ")} are not taken down " +
        s"at $root as of batch ${batchId - 1} (already live, never " +
        "retracted, or physically compacted away)")
  }

  /** The pending-revive refusal of every physical fold of `root`'s markers
    * at `upTo`: an id dead at `upTo` whose revive marker is newer than the
    * bound would be physically dropped, turning the revive into a
    * permanent no-op. Intersects the resolved `r<N>` rows above the bound
    * with [[deadIds]] on the driver; `what` prefixes the refusal. */
  private[streaming] def refusePendingRevives(spark: SparkSession,
      root: String, upTo: Long, what: String): Unit = {
    val pending = listRevives(spark, root).filter(_._1 > upTo)
      .flatMap { case (_, p) => markerIds(spark, root, p) }
    if (pending.nonEmpty) deadIds(spark, root, upTo).foreach { dead =>
      val orphaned = pending.filter(dead.toSet).distinct.sorted.take(5)
      require(orphaned.isEmpty,
        s"$what refused: ids ${orphaned.mkString(", ")} have a revive " +
          "marker newer than the bound but their rows would be physically " +
          "dropped here — raise upTo past the revive or withdraw it")
    }
  }

  /** Mask tombstoned ids (markers `<= upTo`) out of a store read on
    * `idCol`: the driver-resolved dead set ([[deadIds]]) as
    * `idCol IS NULL OR NOT idCol IN (…)` up to [[PushIdLimit]] ids, a
    * broadcast left-anti join of the local relation beyond
    * ([[withoutIds]]) — the standing relation never crosses an exchange,
    * and a repeated read of unchanged markers runs no marker action. The
    * no-marker case returns `df` untouched, so stores that never retract
    * keep their exact pre-tombstone plans. */
  def maskTombstones(spark: SparkSession, root: String, df: DataFrame,
      idCol: String, upTo: Long = Long.MaxValue): DataFrame =
    maskIds(spark, root, df, Seq(idCol), upTo)

  /** [[maskTombstones]] on every one of `idCols` (a pair root masks both
    * endpoints) with one [[deadIds]] resolution. */
  private[streaming] def maskIds(spark: SparkSession, root: String,
      df: DataFrame, idCols: Seq[String], upTo: Long): DataFrame =
    if (idCols.isEmpty) df
    else deadIds(spark, root, upTo)
      .fold(df)(ids => idCols.foldLeft(df)(withoutIds(_, _, ids)))

  /** Whether version-count-threshold auto-compaction is due in a
    * `foreachBatch` body at `batchId` (`None` never is): more than
    * `threshold` versions are visible to the batch (ids <= `batchId`).
    * Folding them then bounds every batch's read at `threshold + 1`
    * version roots however long the stream has run. Check it AFTER the
    * store's lineage guard, at batch start — `upTo = batchId` is then
    * within [[compact]]'s safety bound (the executing batch is
    * uncommitted, so every committed batch is < `batchId`). A redelivered
    * batch that already compacted sees a single base below threshold and
    * skips; reads are version-set invariant either way. */
  private[streaming] def compactionDue(spark: SparkSession, root: String,
      batchId: Long, threshold: Option[Int]): Boolean =
    threshold.exists { k =>
      require(k >= 1, s"autoCompactVersions must be >= 1: $k")
      list(spark, root).count(_._1 <= batchId) > k
    }

  /** Merge deltas `v0..v<upTo>` into one new base snapshot named `v0`,
    * leaving newer deltas untouched — the maintenance operation that keeps
    * a long-running stream's per-batch read from growing linearly with
    * stream lifetime (a year of daily ingest is 365 deltas; after
    * compaction the next batch reads the base plus at most the deltas
    * written since).
    *
    * Lineage-guard compatibility: the merged snapshot keeps the name `v0`,
    * so the `exists(v0)` standing-store check and the `<= batchId` rebase
    * filter in every store's `foreachBatch` both behave exactly as before
    * — a batch `b > upTo` reads {compacted v0} ∪ {v<upTo+1>..v<b>}, the
    * same rows it read pre-compaction.
    *
    * Safety bound: `upTo` must be at most `lastCommittedBatch + 1` of the
    * stream's checkpoint. Structured Streaming redelivers at most the
    * first uncommitted batch, and a redelivered batch `b` reads versions
    * `<= b`; folding any version `> lastCommitted + 1` into v0 would let a
    * redelivered batch observe its own (or a later) delta through the
    * base. Within that bound, run it between triggers or while the stream
    * is stopped — `foreachBatch` bodies and this rewrite must not race.
    *
    * Crash recovery: the merge is written to `root/.compact_tmp` first;
    * the swap (delete old versions, rename tmp to v0) is not atomic, but a
    * crash mid-swap leaves either the old versions or a missing `v0` — the
    * stores' standing-v0 guard then fails loud instead of silently reading
    * a half-compacted root, and the tmp dir still holds the full merge.
    *
    * Readers racing the swap: a read that LISTED versions before the
    * swap and resolves its parquet files after can hit deleted paths —
    * it fails LOUD (FileNotFound) and transiently; the retry lists the
    * compacted base and reads the identical rows. Never silently wrong
    * (no interleaving serves a partial fold: the tmp dir is outside the
    * `v*` namespace until the rename), but latency-sensitive probe
    * paths should still schedule compaction between triggers — the same
    * placement the write-side contract already requires.
    *
    * `transform` lets a store shrink rows where its read semantics allow
    * (e.g. [[FunnelStream]] keeps only each key's newest state row;
    * fingerprint stores may `distinct`). It must be read-equivalent: for
    * every batch `b >= upTo`, reading {transform(union v0..v<upTo>)} ∪
    * {later deltas} must produce the same operator results as the
    * uncompacted union.
    *
    * Two maintenance extensions beyond the plain fold:
    *
    *   - `tombstoneIdCol`: delete-aware compaction (VERDICT r13 #1) —
    *     tombstoned ids (markers `<= upTo`, see [[tombstone]]) are
    *     PHYSICALLY dropped from the folded base, and the consumed
    *     markers are deleted (sound because rows are unique across deltas
    *     and a taken-down id never re-arrives — deltas `> upTo` cannot
    *     hold consumed ids). Markers `> upTo` stay and keep masking.
    *     Reads are identical before and after (the mask becomes physical).
    *   - `clusterBy`: sort the folded base by the store's PROBE key
    *     (VERDICT r13 #2 — g for containment sets, term for postings, fp
    *     for fingerprint stores): range-partition + in-partition sort, so
    *     parquet row-group min/max zones become tight key ranges and a
    *     probe whose key predicate pushes down (query-vocabulary terms, a
    *     small batch's gram/fp set) skips most of the standing base
    *     instead of scanning it every trigger. Read-equivalent: row order
    *     within a version carries no meaning in any store.
    *
    * Resumability extensions (ADVICE r15 #1 — a crash between a
    * multi-root compaction's steps must leave every re-run convergent,
    * never wedged on this function's own requires):
    *
    *   - `allowSingle`: accept a single visible version and still perform
    *     the full rewrite (apply transform/mask/clustering, consume
    *     markers). A partial multi-root compaction leaves some roots
    *     already folded to one version; the old `>= 2` require made the
    *     re-run throw 'nothing to compact' instead of finishing the other
    *     roots. The single-version rewrite is read-equivalent like any
    *     other (and reached only on resume or marker-only accumulation).
    *   - `extraDirs`: sibling delta dirs outside the `v*` namespace
    *     (same schema) folded WITH the versions and deleted with them —
    *     the in-band-correction consumption path ([[RetrievalStream]]'s
    *     `stats/c*` rows). Deleting them inside this call's delete list
    *     (after v0, before the rename) inherits the loud-guard crash
    *     story: any partially-deleted state is behind a missing v0. */
  def compact(spark: SparkSession, root: String, upTo: Long,
      transform: DataFrame => DataFrame = identity,
      tombstoneIdCol: Option[String] = None,
      clusterBy: Seq[String] = Nil,
      allowSingle: Boolean = false,
      extraDirs: Seq[Path] = Nil,
      lease: Option[Lease] = None): Unit = {
    checkWriter(spark, root, lease)
    val versions = list(spark, root)
    require(versions.exists(_._1 == 0L),
      s"nothing to compact: $root/v0 missing")
    val merged = versions.filter(_._1 <= upTo)
    require(merged.size >= 2 || (allowSingle && merged.nonEmpty),
      s"nothing to compact at $root: ${merged.size} version(s) <= v$upTo")
    // physical deletion is final: refuse a fold that would consume a
    // tombstone whose revive is newer than the bound
    if (tombstoneIdCol.isDefined)
      refusePendingRevives(spark, root, upTo, s"compact($root, upTo=$upTo)")
    val rootPath = new Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    val tmp = new Path(rootPath, ".compact_tmp")
    val shaped = transform(maskIds(spark, root, read(spark, root,
      merged.map(_._2.toString) ++ extraDirs.map(_.toString)),
      tombstoneIdCol.toSeq, upTo))
    val clustered =
      if (clusterBy.isEmpty) shaped
      else shaped.repartitionByRange(clusterBy.map(col): _*)
        .sortWithinPartitions(clusterBy.map(col): _*)
    clustered.write.mode("overwrite").parquet(tmp.toString)
    merged.foreach { case (_, p) => fs.delete(p, true) }
    extraDirs.foreach(p => fs.delete(p, true))
    require(fs.rename(tmp, new Path(rootPath, "v0")),
      s"compaction swap failed: could not rename $tmp to $root/v0 — " +
        "recover the merge from the tmp dir before restarting the stream")
    if (tombstoneIdCol.isDefined)
      (listTombstones(spark, root) ++ listRevives(spark, root))
        .filter(_._1 <= upTo)
        .foreach { case (_, p) => fs.delete(p, true) }
  }

  // --- one spec per versioned root ------------------------------------------

  /** Newest row per `keys` by the `__v` version column — the carried-
    * state read and compaction fold of every keyed state store. */
  def newestPerKey(keys: String*)(df: DataFrame): DataFrame =
    df.withColumn("__rn", row_number().over(
        Window.partitionBy(keys.map(col): _*).orderBy(col("__v").desc)))
      .filter(col("__rn") === 1).drop("__rn")

  /** One versioned root's lifecycle, declared once per store:
    *
    *   - `what` names the store in every guard and refusal message;
    *   - `idCols` are the item-id columns reads mask and compaction drops
    *     tombstoned ids on (both endpoints of a pair root), or `Nil` for
    *     a MONOTONE store (no per-item provenance), whose
    *     [[StoreSpec.tombstone]] refuses with `rebuildHint`;
    *   - `fold` is the read-equivalent compaction transform (see
    *     [[compact]]), used by auto-compaction on the append path and by
    *     [[StoreSpec.compact]] alike, so the two can never drift apart;
    *   - `clusterBy` is the probe key the folded base sorts by;
    *   - `missingHint` names the store's bootstrap entry point. */
  final case class StoreSpec(what: String, idCols: Seq[String],
      fold: DataFrame => DataFrame = identity,
      clusterBy: Seq[String] = Nil,
      missingHint: String = "writeStanding before starting the stream",
      rebuildHint: String = "the store keeps no per-item ids. Rebuild it " +
        "from the retained input into a NEW root and swap readers") {

    /** Live-root-guarded standing write of `rows` as `root/v0`
      * ([[guardStandingWrite]]; `rows` is built only after the guard). */
    def writeStanding(spark: SparkSession, root: String,
        rows: => DataFrame): Unit = {
      guardStandingWrite(spark, root)
      rows.write.mode("overwrite").parquet(s"$root/v0")
    }

    /** The append path's lineage guard ([[Versions.guardAppend]]). */
    def guardAppend(spark: SparkSession, root: String, batchId: Long,
        lease: Option[Lease] = None): Unit =
      Versions.guardAppend(spark, root, what, batchId, missingHint, lease)

    /** Threshold auto-compaction with this store's own fold; `None` never
      * compacts ([[compactionDue]]). */
    def autoCompact(spark: SparkSession, root: String, batchId: Long,
        threshold: Option[Int]): Unit =
      if (compactionDue(spark, root, batchId, threshold))
        compact(spark, root, batchId)

    /** The append prologue every `foreachBatch` body runs before touching
      * the root: lineage guard, then threshold auto-compaction. */
    def beginAppend(spark: SparkSession, root: String, batchId: Long,
        threshold: Option[Int]): Unit = {
      guardAppend(spark, root, batchId)
      autoCompact(spark, root, batchId, threshold)
    }

    /** Every version `<= upTo` as a plain scan union (rows unique across
      * deltas, or merged by the caller's own fold), tombstoned ids masked
      * on every id column ([[maskTombstones]] — the plan is untouched when
      * no takedown happened). */
    def read(spark: SparkSession, root: String, upTo: Long): DataFrame = {
      val versions = list(spark, root).filter(_._1 <= upTo)
      require(versions.nonEmpty, s"no $what versions at $root")
      maskIds(spark, root, Versions.read(spark, root,
        versions.map(_._2.toString)), idCols, upTo)
    }

    /** [[Versions.tombstone]] on a store with ids; a monotone store
      * refuses and points at its rebuild lifecycle. */
    def tombstone(spark: SparkSession, root: String, ids: Seq[Long],
        batchId: Long): Unit =
      if (idCols.nonEmpty) Versions.tombstone(spark, root, ids, batchId)
      else throw new UnsupportedOperationException(
        s"tombstone($root, ${ids.size} ids, batch $batchId) refused: " +
          rebuildHint)

    /** [[Versions.compact]] with this store's fold, tombstone drop on every
      * id column (the first consumes the markers; the rest are masked with
      * the same dead set before the consumption) and clustering. */
    def compact(spark: SparkSession, root: String, upTo: Long,
        allowSingle: Boolean = false, lease: Option[Lease] = None): Unit =
      Versions.compact(spark, root, upTo,
        df => fold(maskIds(spark, root, df, idCols.drop(1), upTo)),
        idCols.headOption, clusterBy, allowSingle, lease = lease)
  }
}
