package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.UnionFind
import graft.functions.{HashFunctions, TextFunctions}

/** Deduplication operators for corpus curation — exact, MinHash-LSH,
  * SimHash, and n-gram-Jaccard near-dup. North-star extensions (SURVEY.md
  * §2c): the reference framework has no dedup capability at all.
  *
  * Scale posture (100 TB):
  *   - Exact dedup is one hash aggregation — shuffles each key once, partial
  *     aggregation halves the wire volume, AQE splits skewed keys.
  *   - Near-dup never does an all-pairs comparison. Candidate generation is
  *     banded LSH: docs only meet inside a (band, hash) bucket, so the join
  *     fans out per-bucket, not per-corpus. Degenerate buckets (boilerplate
  *     shingles shared by millions of docs) are capped at `maxBucketSize` —
  *     the standard guard against quadratic bucket blowup; dropped buckets
  *     only lose candidates that other, rarer bands will usually re-surface.
  *   - Verification (exact Jaccard / Hamming) runs only on candidate pairs.
  */
object Dedup {

  /** Exact dedup on `keyCols`: one representative row key (min id) per
    * distinct key, plus the duplicate count. Deterministic, unlike
    * `dropDuplicates` (which keeps an arbitrary row per key). */
  def exact(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Rows that survive exact dedup (the keep-side projection). */
  def exactKept(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(idCol).asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Exact text dedup with the same output contract as [[exact]] on a single
    * text column — `(keep_id, n_dups)` per distinct text — but shuffling
    * 8-byte fingerprints instead of documents (the `SCALING.md` strategy).
    *
    * Stage 1 aggregates on `fingerprint64(text)`: only (fp, id) crosses the
    * exchange, partial-aggregated map-side. Fingerprint groups of size 1 are
    * finished — their text never shuffles anywhere. Only rows whose
    * fingerprint collides (the duplicate population — tiny relative to a
    * 100 TB corpus) re-enter with their text for the exact `(fp, text)`
    * verification group, so two distinct texts that collide on the 64-bit
    * fingerprint still dedup correctly. The colliding-fp set joins without a
    * hint: AQE broadcasts it when small and falls back to a shuffle join of
    * the 8-byte key when the duplicate population is itself huge. */
  def exactByFingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val withFp = df.select(col(idCol).as("__id"), col(textCol).as("__text"),
      HashFunctions.fingerprint64(col(textCol)).as("__fp"))
    val fpAgg = withFp.groupBy(col("__fp"))
      .agg(min(col("__id")).as("keep_id"), count(lit(1)).as("n_dups"))
    val colliding = fpAgg.filter(col("n_dups") >= 2).select(col("__fp"))
    val verified = withFp.join(colliding, "__fp")
      .groupBy(col("__fp"), col("__text"))
      .agg(min(col("__id")).as("keep_id"), count(lit(1)).as("n_dups"))
      .select(col("keep_id"), col("n_dups"))
    val singles = fpAgg.filter(col("n_dups") === 1)
      .select(col("keep_id"), col("n_dups"))
    singles.unionAll(verified)
  }

  /** Rows that survive [[exactByFingerprint]] — the keep-side projection,
    * result-identical to [[exactKept]] on the text column but reaching the
    * survivors through an id-keyed semi join: the corpus text itself never
    * enters an exchange (exactKept's window shuffles every row BY its text
    * key). */
  def exactKeptByFingerprint(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    df.join(
      exactByFingerprint(df, idCol, textCol).select(col("keep_id")),
      col(idCol) === col("keep_id"), "left_semi")

  /** The persisted dedup index relation for incremental curation:
    * (fp, text) per distinct retained document. Fingerprints drive the
    * cheap prune join; text is kept solely so fingerprint matches verify
    * exactly (a 64-bit collision must not silently drop a novel doc). */
  def dedupIndex(df: DataFrame, textCol: String): DataFrame =
    df.select(HashFunctions.fingerprint64(col(textCol)).as("fp"),
      col(textCol).as("text")).distinct()

  /** Incremental exact dedup: the daily-increment shape — new docs survive
    * iff they are their batch's representative AND their text is not
    * already in the corpus, WITHOUT re-shuffling the existing corpus. The
    * existing side joins as its [[dedupIndex]] relation: the equi key is
    * the 8-byte fingerprint, and text equality is verified only for
    * fingerprint-equal pairs, so the result is exact (not
    * probabilistically exact) while non-colliding rows never compare
    * text. */
  def exactKeptIncremental(newDocs: DataFrame, idCol: String, textCol: String,
      existingIndex: DataFrame): DataFrame = {
    val batchKept = exactKeptByFingerprint(newDocs, idCol, textCol)
      .withColumn("__fp", HashFunctions.fingerprint64(col(textCol)))
    val idx = existingIndex.select(col("fp").as("__exfp"),
      col("text").as("__extext"))
    batchKept.join(idx,
        col("__fp") === col("__exfp") && col(textCol) === col("__extext"),
        "left_anti")
      .drop("__fp")
  }

  /** MinHash-LSH near-duplicate pairs.
    *
    * shingle(text) → minhash signature (`numHashes` slots) → `bands` bands of
    * `numHashes/bands` rows each, each band hashed to one bucket key → docs
    * sharing any band bucket become candidates → exact shingle-set Jaccard
    * verifies → pairs with jaccard ≥ `threshold`.
    *
    * Returns (id_a, id_b, jaccard) with id_a < id_b.
    */
  def minhashPairs(
      docs: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 64, bands: Int = 16,
      shingleSize: Int = 3, threshold: Double = 0.6,
      maxBucketSize: Int = 200, seed: Long = 42L,
      charShingles: Boolean = false): DataFrame = {
    // char mode: k-gram shingles over the raw string — for scripts without
    // token boundaries (CJK) or when punctuation/casing must count
    val shingles = array_distinct(
      if (charShingles) TextFunctions.charShingles(col(textCol), shingleSize * 3)
      else TextFunctions.tokenShingles(
        TextFunctions.tokens(col(textCol)), shingleSize))
    val shingleTable = docs.select(col(idCol).as("id"), shingles.as("sh"))
    val candidates = minhashBandCandidates(shingleTable, numHashes, bands,
      maxBucketSize, seed)

    candidates
      .join(shingleTable.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(shingleTable.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("jaccard", jaccardExpr(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** The LSH banding stage shared by [[minhashPairs]] and
    * [[editDistancePairs]]: shingle sets → minhash signature → `bands`
    * band-slice hashes → in-bucket candidate pairs under `maxBucketSize`.
    * Only (id, band, bucket) ever enters the exchange — the heavy shingle
    * arrays stay behind and are re-joined for verification only. */
  private def minhashBandCandidates(shingleTable: DataFrame, numHashes: Int,
      bands: Int, maxBucketSize: Int, seed: Long): DataFrame =
    bucketPairs(minhashBandedRows(shingleTable, numHashes, bands, seed),
      Seq("band", "bucket"), maxBucketSize)

  /** The raw banded (id, band, bucket) rows of the LSH stage, BEFORE the
    * `maxBucketSize` cap — the rows on which bucket-occupancy diagnostics
    * measured exactly what the cap drops on a given corpus (SURVEY §6
    * "Zipf recall audit"; the probe is last at `dc914e8`), with the same
    * signature/band arithmetic the candidate path uses. */
  private def minhashBandedRows(shingleTable: DataFrame,
      numHashes: Int, bands: Int, seed: Long): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    val sig = shingleTable.select(col("id"),
      HashFunctions.minhashSignature(col("sh"), numHashes, seed).as("sig"))
    sig.select(col("id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)), b))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
  }

  /** Edit-distance near-duplicate join: candidate pairs from the SAME
    * MinHash-LSH banding as [[minhashPairs]] (shingle-set similarity is
    * the only signal that blocks usefully — a q-gram prefix filter over a
    * dense-vocabulary corpus degenerates, see [[jaccardJoinExact]]'s df
    * discussion), then verified with EXACT character-level Levenshtein
    * distance — `levenshtein(a, b, maxDist)`, the threshold variant, which
    * abandons a pair's DP early once `maxDist` is exceeded (O(maxDist·n)
    * instead of O(n·m) per candidate). Distances are INTEGER — unlike the
    * Jaccard/cosine families there is no floating-point anywhere in the
    * verify, so the oracle comparison is exact by construction.
    *
    * A cheap `abs(len_a − len_b) <= maxDist` pre-filter runs before the
    * text join: length difference lower-bounds edit distance, so it only
    * prunes pairs that cannot qualify.
    *
    * Returns (id_a, id_b, dist) with id_a < id_b, dist <= maxDist. Like
    * every banded family member this is approximate-recall: a qualifying
    * pair the banding never co-buckets is not returned ([[jaccardJoinExact]]
    * is the exact-recall counterpart for set similarity).
    */
  def editDistancePairs(
      docs: DataFrame, idCol: String, textCol: String, maxDist: Int,
      numHashes: Int = 64, bands: Int = 16, shingleSize: Int = 3,
      maxBucketSize: Int = 200, seed: Long = 42L): DataFrame = {
    require(maxDist >= 0, "maxDist must be >= 0")
    val shingles = array_distinct(TextFunctions.tokenShingles(
      TextFunctions.tokens(col(textCol)), shingleSize))
    val shingleTable = docs.select(col(idCol).as("id"), shingles.as("sh"))
    val candidates = minhashBandCandidates(shingleTable, numHashes, bands,
      maxBucketSize, seed)
    val texts = docs.select(col(idCol).as("id"), col(textCol).as("t"),
      length(col(textCol)).as("len"))
    candidates
      .join(texts.select(col("id").as("id_a"), col("t").as("t_a"),
        col("len").as("len_a")), "id_a")
      .join(texts.select(col("id").as("id_b"), col("t").as("t_b"),
        col("len").as("len_b")), "id_b")
      .filter(abs(col("len_a") - col("len_b")) <= maxDist)
      .withColumn("dist", levenshtein(col("t_a"), col("t_b"), maxDist))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** EXACT all-pairs Jaccard set-similarity join via prefix + length
    * filtering (the PPJoin family) — the deterministic counterpart of
    * [[minhashPairs]]: EVERY pair with jaccard >= threshold is returned,
    * guaranteed (no banding recall loss), because both filters only prune
    * pairs that provably cannot qualify.
    *
    * Prefix filter: under one global shingle order (ascending document
    * frequency, rarest first, ties by text), a set of size n keeps a
    * prefix of `n - ceil(t*n) + 1` shingles. For a qualifying pair the
    * smallest intersection shingle (in that order) sits inside BOTH
    * prefixes — at most n - i + 1 positions in, and the intersection
    * size i is >= ceil(t*n) on each side once the length filter
    * (`min(na,nb) >= t * max(na,nb)`, necessary since J <= min/max)
    * holds. Ordering by ascending df makes prefixes maximally rare, so
    * candidate buckets stay small exactly where the corpus is big.
    *
    * Scale: the df join (per-doc distinct shingles × vocabulary) is
    * SALTED — stopword-shaped grams never pin a reducer; only
    * (shingle, id, n) prefix rows cross the candidate exchange. The
    * verify step is RELATIONAL: candidate pairs re-join the exploded
    * shingle relation and COUNT the shared shingles
    * (`jaccard = i / (na + nb - i)` — sets are distinct, so the union
    * size is implied), because Spark's `array_intersect`/`array_union`
    * are eval-mode expressions that break whole-stage codegen (an
    * array-based verify measured 10× slower on the same candidates).
    * The shingle table is checkpointed once — every branch re-derives
    * from it instead of re-tokenizing.
    *
    * Returns (id_a, id_b, jaccard), id_a < id_b, jaccard >= threshold.
    * Factored into [[jaccardShingleSets]] (the checkpoint root) and
    * [[jaccardOrderedPrefix]] (the candidate-generation stage) so plan
    * gates can inspect the pre-checkpoint shapes. */
  def jaccardJoinExact(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleSize: Int = 3): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      "threshold must be in (0, 1]")
    val sets = jaccardShingleSets(docs, idCol, textCol, shingleSize)
      .localCheckpoint(true)
    val ex = sets.select(col("id"), size(col("sh")).as("n"),
      explode(col("sh")).as("g"))
    // model-shaped (one row per kept prefix shingle, with its 1-based
    // position in the global order) and referenced by BOTH sides of the
    // self-join — checkpoint, or the salted-join + sort pipeline inside
    // jaccardOrderedPrefix runs twice (Catalyst shares no subplans)
    val prefix = jaccardOrderedPrefix(sets, threshold)
      .localCheckpoint(true)
    // positional filter (the PPJoin refinement): all common shingles sit
    // at or after the SMALLEST shared one (positions pa, pb), so
    // i <= min(na-pa, nb-pb) + 1 — if even that cannot reach the
    // required overlap alpha = t/(1+t)*(na+nb), no row of the pair
    // passes and the pair is pruned before the verify join. The epsilon
    // keeps the float comparison conservative (never over-prunes).
    val alpha = (lit(threshold / (1.0 + threshold)) *
      (col("__na") + col("__nb")).cast("double")) - lit(1e-9)
    val cand = prefix.select(col("g"), col("id").as("id_a"),
        col("n").as("__na"), col("p").as("__pa"))
      .join(prefix.select(col("g"), col("id").as("id_b"),
        col("n").as("__nb"), col("p").as("__pb")), "g")
      .filter(col("id_a") < col("id_b"))
      .filter(least(col("__na"), col("__nb")).cast("double") >=
        lit(threshold) * greatest(col("__na"), col("__nb")).cast("double"))
      .filter((least(col("__na") - col("__pa"),
        col("__nb") - col("__pb")) + 1).cast("double") >= alpha)
      .select(col("id_a"), col("id_b"), col("__na"), col("__nb"))
      .distinct()
    // relational verify: i = |a ∩ b| by counting the shared shingles of
    // each candidate pair; u = na + nb - i (sets are distinct)
    val inter = cand
      .join(ex.select(col("id").as("id_a"), col("g")), "id_a")
      .join(ex.select(col("id").as("id_b"), col("g")), Seq("id_b", "g"))
      .groupBy(col("id_a"), col("id_b"), col("__na"), col("__nb"))
      .agg(count(lit(1)).as("__i"))
    inter
      .withColumn("jaccard",
        col("__i") / (col("__na") + col("__nb") - col("__i")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** The (id, sh) distinct-shingle sets of a corpus — the checkpoint root
    * of [[jaccardJoinExact]], exposed un-checkpointed so the derivation
    * stays plan-inspectable. */
  def jaccardShingleSets(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3): DataFrame = {
    val shingles = array_distinct(TextFunctions.tokenShingles(
      TextFunctions.tokens(col(textCol)), shingleSize))
    docs.select(col(idCol).as("id"), shingles.as("sh"))
      .filter(size(col("sh")) > 0)
  }

  /** The ascending-df ordered-prefix relation (id, n, p, g) of
    * [[jaccardJoinExact]]'s candidate generation: one row per kept prefix
    * shingle with its 1-based position in the global order. Returned
    * UN-checkpointed so the salted df-join shape is visible to plan
    * gates; the production path checkpoints the result because both
    * sides of the candidate self-join reference it. */
  def jaccardOrderedPrefix(sets: DataFrame, threshold: Double): DataFrame = {
    val ex = sets.select(col("id"), size(col("sh")).as("n"),
      explode(col("sh")).as("g"))
    val gdf = ex.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val ordered = Skew.saltedJoin(ex, gdf, Seq("g"), salts = 8)
      .groupBy(col("id"), col("n"))
      .agg(array_sort(collect_list(struct(col("df"), col("g"))))
        .as("__o"))
    val plen = (col("n") - ceil(col("n").cast("double") * lit(threshold))
      + 1).cast("int")
    ordered.select(col("id"), col("n"),
        posexplode(slice(transform(col("__o"), s => s("g")), lit(1), plen)))
      .select(col("id"), col("n"), (col("pos") + 1).as("p"),
        col("col").as("g"))
  }

  /** EXACT containment-similarity join: all DIRECTED pairs (a, b) with
    * |A ∩ B| / |A| >= `threshold` over distinct token-shingle sets — the
    * ASYMMETRIC near-dup relation Jaccard cannot express: an excerpt
    * quoted inside a much larger container scores containment ~1 while
    * its Jaccard vanishes with the size ratio. The quote/boilerplate/
    * subset-document detector, recall 1.0 by construction ([[
    * jaccardJoinExact]]'s deterministic sibling).
    *
    * Filters (the PPJoin family, containment-adapted; Xiao et al.'s
    * prefix principle): the probe side a explodes only its
    * `n_a − ceil(t·n_a) + 1` rarest shingles under the global
    * ascending-df order — if C(a,b) >= t, the >= ceil(t·n_a) common
    * shingles cannot all hide in a's shorter suffix, so some prefix
    * shingle hits — while the container side b must index ALL its
    * shingles (b's size does not bound the overlap requirement, which is
    * relative to a). Size filter: n_b >= t·n_a. Positional filter: the
    * shared shingle's ranks bound the overlap by
    * `min(n_a − p_a, n_b − p_b) + 1`. Verification is the same relational
    * overlap COUNT as p85 — never array intersects.
    *
    * Scale: one full df-ordered relation ([[containmentOrderedAll]],
    * checkpointed, reused by BOTH join sides), candidates only where a
    * prefix shingle meets a container shingle, salted df join. The
    * container side is corpus-sized by necessity (asymmetry is the point);
    * the probe prefix keeps the candidate join's fan-in bounded exactly
    * like p85's. */
  def containmentJoinExact(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleSize: Int = 3): DataFrame =
    containmentJoinFromSets(
      jaccardShingleSets(docs, idCol, textCol, shingleSize)
        .localCheckpoint(true), threshold)

  /** [[containmentJoinExact]] over PRE-SHINGLED (id, sh) sets — the shared
    * body, factored so [[containmentIncremental]]'s in-batch arm reuses the
    * batch's already-checkpointed shingle sets instead of re-tokenizing and
    * re-shingling the batch a second time (VERDICT r7 #5). `sets` must be
    * checkpointed/cached by the caller: both join sides reference it. */
  private[graft] def containmentJoinFromSets(sets: DataFrame,
      threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      "threshold must be in (0, 1]")
    val full = containmentOrderedAll(sets).localCheckpoint(true)
    val plen = (col("n") - ceil(col("n").cast("double") * lit(threshold))
      + 1).cast("int")
    val probe = full.filter(col("p") <= plen)
    // required overlap ceil(t·n_a), conservatively as t·n_a − ε
    val alpha = lit(threshold) * col("__na").cast("double") - lit(1e-9)
    val cand = probe.select(col("g"), col("id").as("id_a"),
        col("n").as("__na"), col("p").as("__pa"))
      .join(full.select(col("g"), col("id").as("id_b"),
        col("n").as("__nb"), col("p").as("__pb")), "g")
      .filter(col("id_a") =!= col("id_b"))
      .filter(col("__nb").cast("double") >= alpha)
      .filter((least(col("__na") - col("__pa"),
        col("__nb") - col("__pb")) + 1).cast("double") >= alpha)
      .select(col("id_a"), col("id_b"), col("__na"))
      .distinct()
    val ex = sets.select(col("id"), explode(col("sh")).as("g"))
    cand
      .join(ex.select(col("id").as("id_a"), col("g")), "id_a")
      .join(ex.select(col("id").as("id_b"), col("g")), Seq("id_b", "g"))
      .groupBy(col("id_a"), col("id_b"), col("__na"))
      .agg(count(lit(1)).as("__i"))
      .withColumn("containment", col("__i") / col("__na"))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("containment"))
  }

  /** Incremental containment probe — [[containmentJoinExact]]'s
    * daily-increment sibling (the p35/p73/p77 formula): all DIRECTED pairs
    * (a ∈ batch, b ∈ corpus ∪ batch, a ≠ b) with |A∩B|/|A| >= `threshold`,
    * where the standing corpus participates ONLY through its persisted
    * ordered relation (`corpusIndex` = [[containmentOrderedAll]] of the
    * corpus, typically persisted bucketed by `g` for an exchange-free df
    * aggregation) — the corpus never re-tokenizes or re-shingles.
    *
    * The batch's prefix is selected under the CORPUS df order (batch
    * shingles unseen in the corpus get df 0 — rarest-first, maximally
    * selective). Prefix completeness holds under ANY fixed order (if
    * C(a,b) >= t, the >= ceil(t·n_a) common shingles cannot all fit in
    * a's ceil(t·n_a)−1 suffix slots), so the cross arm drops the
    * positional filter rather than re-rank the standing corpus under a
    * merged order; size filter and relational overlap verify are exact as
    * in p94. In-batch pairs come from [[containmentJoinExact]] over the
    * batch alone. */
  def containmentIncremental(batch: DataFrame, corpusIndex: DataFrame,
      idCol: String, textCol: String, threshold: Double,
      shingleSize: Int = 3): DataFrame =
    containmentIncrementalFromSets(
      jaccardShingleSets(batch, idCol, textCol, shingleSize)
        .localCheckpoint(true), corpusIndex, threshold)

  /** [[containmentIncremental]] over PRE-SHINGLED batch (id, sh) sets —
    * the shared body, factored (the [[containmentJoinFromSets]]
    * precedent) so the streaming frame-set index
    * ([[graft.streaming.ContainmentStream]]) probes with MEDIA element
    * sets (frame hashes, audio window hashes) instead of re-deriving
    * text shingles. `bsets` must be checkpointed/cached by the caller
    * (both the in-batch arm and the cross arm reference it);
    * `corpusIndex` needs columns (id, n, g) — [[containmentOrderedAll]]'s
    * relation works (`p` is unused: the cross arm drops the positional
    * filter rather than re-rank the standing corpus under a merged
    * order).
    *
    * Scan posture (the streaming probe discipline): the standing
    * relation is touched ONCE per trigger (r18) — one scan restricted to
    * the batch's own grams (a broadcast semi-restriction; df of grams
    * absent from the batch orders nothing, and every other standing
    * access joins on a batch gram, so the restriction is result-
    * identical), staged, and reused by the df aggregation, the candidate
    * join (batch prefix broadcasts into it) and the overlap verify. Only
    * matched, candidate-sized rows ever reach a shuffle.
    *
    * Batch-size bound: BOTH broadcasts are of batch-derived relations
    * (the batch's distinct grams; the batch's prefix rows, ≤ the gram
    * count), so the plan assumes micro-batches small enough to broadcast
    * — which every shipped caller guarantees via `maxFilesPerTrigger`
    * (the streaming stores' trigger bound). A one-shot caller feeding a
    * corpus-sized "batch" should use [[containmentJoinFromSets]] /
    * [[containmentJoinExact]] instead, whose shuffle-based plan degrades
    * gracefully past the broadcast threshold. */
  def containmentIncrementalFromSets(bsets: DataFrame,
      corpusIndex: DataFrame, threshold: Double,
      stageHits: Boolean = true): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      "threshold must be in (0, 1]")
    val bex = bsets.select(col("id"), size(col("sh")).as("n"),
      explode(col("sh")).as("g"))
    // r18 (guide §8: touch the store once, reuse the proxy): ONE
    // restricted scan of the standing relation — the corpus rows whose
    // gram appears in the batch — feeds all three standing-side
    // consumers below (df aggregation, candidate join, overlap verify),
    // which previously each re-scanned the store per trigger. Result-
    // identical either way: every standing access joins on a batch
    // gram, so rows outside `hits` can never match. Staging bound:
    // |hits| = Σ_{g ∈ batch} df(g) — exactly the rows the candidate
    // join already streamed, staged once (MEMORY_AND_DISK) instead of
    // scanned three times. `stageHits = false` keeps the three LAZY
    // pruned scans — the right shape for trickle-sized triggers whose
    // pushed `g IN` already skips most row groups (the staging action
    // there costs more than the two scans it saves; measured on
    // p127/p131/p134).
    val restricted = corpusIndex
      .join(broadcast(bex.select(col("g")).distinct()), "g")
    val hits =
      if (stageHits) restricted.localCheckpoint(true) else restricted
    val cdf = hits.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val plen = (col("n") - ceil(col("n").cast("double") * lit(threshold))
      + 1).cast("int")
    val prefix = bex.join(cdf, Seq("g"), "left")
      .withColumn("df", coalesce(col("df"), lit(0L)))
      .groupBy(col("id"), col("n"))
      .agg(array_sort(collect_list(struct(col("df"), col("g"))))
        .as("__o"))
      .select(col("id"), col("n"),
        explode(slice(transform(col("__o"), s => s("g")), lit(1), plen))
          .as("g"))
    val alpha = lit(threshold) * col("__na").cast("double") - lit(1e-9)
    val cand = broadcast(prefix.select(col("g"), col("id").as("id_a"),
        col("n").as("__na")))
      .join(hits.select(col("g"), col("id").as("id_b"),
        col("n").as("__nb")), "g")
      // a batch id that already exists in the corpus (redelivery, re-crawl)
      // must not emit a (a, a) self-pair — same contract as the one-shot
      // join's id_a =!= id_b guard
      .filter(col("id_a") =!= col("id_b"))
      .filter(col("__nb").cast("double") >= alpha)
      .select(col("id_a"), col("id_b"), col("__na"))
      .distinct()
    val cross = cand
      .join(bex.select(col("id").as("id_a"), col("g")), "id_a")
      .join(hits.select(col("id").as("id_b"), col("g")),
        Seq("id_b", "g"))
      .groupBy(col("id_a"), col("id_b"), col("__na"))
      .agg(count(lit(1)).as("__i"))
      .withColumn("containment", col("__i") / col("__na"))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("containment"))
    val inBatch = containmentJoinFromSets(bsets, threshold)
    // A doc id present in BOTH batch and corpus (redelivery) can surface
    // the same directed pair from both arms; collapse to one row per pair,
    // keeping the conservative (max) containment. With disjoint id ranges
    // each arm already emits one row per pair, so this is a no-op there —
    // and the aggregate runs over result-sized data, not candidates.
    cross.unionByName(inBatch)
      .groupBy(col("id_a"), col("id_b"))
      .agg(max(col("containment")).as("containment"))
  }

  /** The FULL ascending-df ordered relation (id, n, p, g): every shingle
    * of every doc with its 1-based rank in the doc under the global
    * (df, shingle) order — [[jaccardOrderedPrefix]] without the prefix
    * slice, because a containment container must index everything.
    * Returned un-checkpointed for plan inspection; [[
    * containmentJoinExact]] checkpoints it (both join sides reference
    * it). */
  def containmentOrderedAll(sets: DataFrame): DataFrame = {
    val ex = sets.select(col("id"), size(col("sh")).as("n"),
      explode(col("sh")).as("g"))
    val gdf = ex.groupBy(col("g")).agg(count(lit(1)).as("df"))
    Skew.saltedJoin(ex, gdf, Seq("g"), salts = 8)
      .groupBy(col("id"), col("n"))
      .agg(array_sort(collect_list(struct(col("df"), col("g"))))
        .as("__o"))
      .select(col("id"), col("n"),
        posexplode(transform(col("__o"), s => s("g"))))
      .select(col("id"), col("n"), (col("pos") + 1).as("p"),
        col("col").as("g"))
  }

  /** The persisted MinHash-LSH band index of a corpus: one row per
    * (id, band, bucket) — what [[minhashPairsIncremental]] probes so the
    * existing corpus never re-shingles. Persist bucketed by (band, bucket)
    * for an exchange-free probe join. Parameters must match the probe call. */
  def minhashBandIndex(
      docs: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 64, bands: Int = 16,
      shingleSize: Int = 3, seed: Long = 42L): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    val shingles = array_distinct(TextFunctions.tokenShingles(
      TextFunctions.tokens(col(textCol)), shingleSize))
    docs.select(col(idCol).as("id"),
        HashFunctions.minhashSignature(shingles, numHashes, seed).as("sig"))
      .select(col("id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(slice(col("sig"), b * rowsPerBand + 1,
            lit(rowsPerBand)), b))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
  }

  /** Persist a [[minhashBandIndex]] as a table bucketed (and sorted) on
    * (band, bucket) — the standing side of [[minhashPairsIncremental]]'s
    * probe, the near-dup twin of [[writePassageIndex]]. File bucketing
    * clusters the band keys, so bucket-keyed aggregation over the index
    * runs exchange-free and an incremental probe shuffles only the
    * incoming batch into the index's layout. Parameters must match the
    * probe call. */
  def writeMinhashBandIndex(docs: DataFrame, idCol: String, textCol: String,
      tableName: String, numHashes: Int = 64, bands: Int = 16,
      shingleSize: Int = 3, seed: Long = 42L, numBuckets: Int = 16): Unit =
    minhashBandIndex(docs, idCol, textCol, numHashes, bands, shingleSize, seed)
      .write.mode("overwrite").format("parquet")
      .bucketBy(numBuckets, "band", "bucket").sortBy("band", "bucket")
      .saveAsTable(tableName)

  /** Append a new batch's bands to a persisted band index — the daily
    * increment. Only the batch is shingled and written; the standing
    * index never rewrites or shuffles, and appended files land in the
    * same bucket layout. Same-parameters contract as the write. */
  def appendMinhashBandIndex(batch: DataFrame, idCol: String, textCol: String,
      tableName: String, numHashes: Int = 64, bands: Int = 16,
      shingleSize: Int = 3, seed: Long = 42L, numBuckets: Int = 16): Unit =
    minhashBandIndex(batch, idCol, textCol, numHashes, bands, shingleSize, seed)
      .write.mode("append").format("parquet")
      .bucketBy(numBuckets, "band", "bucket").sortBy("band", "bucket")
      .saveAsTable(tableName)

  /** Incremental near-duplicate pairs: the daily-increment shape for
    * near-dup. New docs band as usual; cross-set candidates form ONLY where
    * a new doc's (band, bucket) hits the persisted [[minhashBandIndex]] —
    * the existing corpus never re-shingles, and its text is re-read only
    * for docs that actually share a bucket with the batch (a semi-join
    * before the shingle verify). In-batch pairs come from the standard
    * [[minhashPairs]]. Returns (id_a, id_b, jaccard) with new-batch ids on
    * at least one side.
    *
    * `newBandedOpt`: a caller that already banded the batch (the
    * [[graft.streaming.NearDupStream]] delta write — which also needs the
    * batch's buckets for its trickle-probe push) passes the relation here
    * so the batch's shingle+minhash chain runs ONCE per trigger instead
    * of twice; it must be exactly [[minhashBandIndex]] of `newDocs` under
    * the same parameters (banding is deterministic, so results are
    * byte-identical either way). */
  def minhashPairsIncremental(
      newDocs: DataFrame, idCol: String, textCol: String,
      existingIndex: DataFrame, existingDocs: DataFrame,
      numHashes: Int = 64, bands: Int = 16,
      shingleSize: Int = 3, threshold: Double = 0.6,
      maxBucketSize: Int = 200, seed: Long = 42L,
      newBandedOpt: Option[DataFrame] = None): DataFrame = {
    val inBatch = minhashPairs(newDocs, idCol, textCol, numHashes, bands,
      shingleSize, threshold, maxBucketSize, seed)

    val newBanded = newBandedOpt.getOrElse(
      minhashBandIndex(newDocs, idCol, textCol, numHashes,
        bands, shingleSize, seed))
    val idx = existingIndex.select(col("id").as("old_id"), col("band"),
      col("bucket"))
    // candidate (new, old) ids from shared buckets; bucket cap bounds the
    // fan-out exactly like bucketPairs' guard
    val perBucket = Window.partitionBy(col("band"), col("bucket"))
    val candidates = newBanded.join(idx, Seq("band", "bucket"))
      .withColumn("__n", count(lit(1)).over(perBucket))
      .filter(col("__n") <= maxBucketSize)
      .select(col("id").as("new_id"), col("old_id"))
      .dropDuplicates("new_id", "old_id")

    // exact-Jaccard verify: shingle only the candidate-touched docs
    def shingleTable(docs: DataFrame, as: String): DataFrame =
      docs.select(col(idCol).as(as),
        array_distinct(TextFunctions.tokenShingles(
          TextFunctions.tokens(col(textCol)), shingleSize)).as(s"__sh_$as"))
    val touchedOld = existingDocs.join(
      candidates.select(col("old_id")).distinct(),
      existingDocs(idCol) === col("old_id"), "left_semi")
    val crossSet = candidates
      .join(shingleTable(newDocs, "new_id"), "new_id")
      .join(shingleTable(touchedOld, "old_id"), "old_id")
      .withColumn("jaccard", jaccardExpr(col("__sh_new_id"), col("__sh_old_id")))
      .filter(col("jaccard") >= threshold)
      .select(least(col("new_id"), col("old_id")).as("id_a"),
        greatest(col("new_id"), col("old_id")).as("id_b"), col("jaccard"))

    inBatch.unionAll(crossSet)
  }

  /** Distinct candidate pairs (id_a < id_b) from bucket groups, without a
    * self-join: drop over-cap buckets, collect the surviving ids per bucket,
    * then expand the in-bucket combinations with one array expression.
    *
    * The `maxBucketSize` cap is applied BEFORE `collect_list` via a windowed
    * per-bucket count: a degenerate bucket (a boilerplate band shared by
    * millions of docs at 100 TB) is filtered row-by-row and never enters an
    * aggregation buffer. The window operator's partition buffer spills to
    * disk (`ExternalAppendOnlyUnsafeRowArray`), whereas a `collect_list`
    * buffer is a single in-memory array per group — capping after the
    * aggregate would still materialize the multi-million-element array
    * first. Window and groupBy hash-partition on the same keys, so the cap
    * costs no extra exchange. */
  private[graft] def bucketPairs(bucketRows: DataFrame,
      bucketKeys: Seq[String], maxBucketSize: Int): DataFrame = {
    val ids = col("__ids")
    val perBucket = Window.partitionBy(bucketKeys.map(col): _*)
    bucketRows
      .withColumn("__n", count(lit(1)).over(perBucket))
      .filter(col("__n").between(2, maxBucketSize))
      .groupBy(bucketKeys.map(col): _*)
      .agg(collect_list(col("id")).as("__ids"))
      .select(explode(flatten(transform(ids, (x, i) =>
        transform(slice(ids, i + 2, size(ids)),
          y => struct(least(x, y).as("id_a"), greatest(x, y).as("id_b"))))))
        .as("p"))
      .select(col("p.id_a"), col("p.id_b"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Exact Jaccard over two (distinct-element) arrays, as int arithmetic
    * surfaced through one double division. */
  def jaccardExpr(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    val uni = size(array_union(a, b))
    when(uni === 0, lit(0.0)).otherwise(inter / uni)
  }

  /** Connected components over an undirected pair set (`id_a`, `id_b`):
    * returns (id, component) where `component` is the minimum id reachable
    * from `id` — i.e., each near-dup cluster labeled by its smallest member.
    *
    * Min-label propagation: per iteration, every node takes the min of its
    * own label and its neighbors' labels (one join + one partial-aggregated
    * shuffle on the node id), until a fixpoint. Iterations needed = graph
    * diameter; near-dup clusters are dense and shallow (duplicates of a
    * common original), so this converges in a handful of rounds. For
    * adversarial long-chain graphs at 100 TB, swap in the
    * large-star/small-star contraction (O(log n) rounds) — the surrounding
    * pipeline is unchanged. `localCheckpoint` truncates the growing lineage
    * each round (iterative plans otherwise re-derive every prior join).
    *
    * Throws if `maxIter` rounds pass without reaching the fixpoint — an
    * exhausted label set is silently WRONG (each node would carry the min of
    * its maxIter-hop ball, not its component min), so the failure must be
    * loud. Raise `maxIter` to bound the diameter explicitly, or use
    * [[connectedComponentsStar]] when components may be long chains. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // materialize the pair set once — everything downstream (the symmetric
    // edge set, the node set) derives from it, and an unmaterialized plan
    // would re-derive the (possibly expensive) pair pipeline upstream of it
    // for each consumer and then again every round
    val base = pairs.select(col("id_a"), col("id_b")).localCheckpoint(true)
    withLoopParallelism(base, base.count()) {
    val sym = base
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionAll(base.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct()
      .localCheckpoint(true)
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("component", col("id"))
      .localCheckpoint(true)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val nbrMin = sym
        .join(labels.select(col("id").as("dst"), col("component").as("nc")), "dst")
        .groupBy(col("src")).agg(min(col("nc")).as("nbr_min"))
      val next = labels
        .join(nbrMin, col("id") === col("src"), "left")
        .select(col("id"), col("component").as("old"),
          least(col("component"), coalesce(col("nbr_min"), col("component")))
            .as("component"))
        .localCheckpoint(true)
      converged = next.filter(col("component") =!= col("old")).isEmpty
      labels = next.drop("old")
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds: labels are " +
        "partial (min of each node's ball, not its component). Raise maxIter " +
        "or use connectedComponentsStar for long-chain graphs.")
    labels
    }
  }

  /** Edge rows per loop partition — also the one-task path's budget. */
  private val LoopEdgesPerPartition = 4000000L

  /** Run `body` with `spark.sql.shuffle.partitions` scaled to the edge-set
    * size, restoring the session value afterwards. Iterative CC rounds run
    * dozens of tiny stages over an already-contracted edge set; full-width
    * stages (one task per configured shuffle partition) turn each round into
    * pure scheduling overhead when the edges fit in a handful of partitions.
    * AQE would coalesce individual jobs, but each round is materialized
    * eagerly via `localCheckpoint`, which pins the pre-coalesce partitioning
    * — so the loop sets an explicit width: ~4M edge rows per partition
    * (two longs each), clamped to the session's configured width so a
    * 100 TB edge set still uses every configured partition. */
  private[operators] def withLoopParallelism[A](df: DataFrame, edgeRows: Long)(body: => A): A = {
    val conf = df.sparkSession.conf
    val key = "spark.sql.shuffle.partitions"
    val before = conf.get(key)
    val target = math.min(before.toLong, edgeRows / LoopEdgesPerPartition + 1)
      .max(1L)
    conf.set(key, target.toString)
    try body finally conf.set(key, before)
  }

  /** Connected components by alternating large-star/small-star contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond") —
    * same output contract as [[connectedComponents]], but convergence is
    * O(log n) rounds instead of O(diameter): the algorithm of choice when
    * components may be long chains (URL redirect graphs, citation chains)
    * rather than the dense shallow clusters near-dup produces.
    *
    *   - large-star: every node's strictly-larger neighbors re-point to the
    *     minimum of its closed neighborhood.
    *   - small-star: with edges oriented large→small, every node's smaller
    *     neighbors (and the node) re-point to its minimum neighbor.
    *
    * Each half-round is one aggregation + one join on the node id; the edge
    * set contracts toward per-component stars rooted at the minimum id.
    * Equality with min-label propagation is asserted across graph shapes in
    * DedupSimilaritySpec. Throws on `maxIter` exhaustion rather than
    * returning partially-contracted labels. Long-id edge sets within the
    * loop's 4M-edge budget skip the rounds: one task labels them with an
    * in-memory union-find (see [[starWithRounds]]). */
  def connectedComponentsStar(pairs: DataFrame, maxIter: Int = 30): DataFrame =
    starWithRounds(pairs, maxIter)._1

  /** Partition-local contraction pre-pass: co-locate edges by range of
    * `src`, collapse each partition's components with an in-memory
    * union-find, and emit the local star edges (member → partition-local
    * min root). Connectivity is preserved — every original edge (a, b) has
    * both endpoints pointing at the same local root — so the distributed
    * star loop that follows starts from already-contracted stars and
    * typically converges in 1–2 rounds instead of O(log n): each loop
    * round costs two window exchanges plus a checksum action, so rounds,
    * not rows, dominate the wall-clock of small-to-medium edge sets.
    *
    * Memory: union-find state is O(distinct nodes per partition) — ~16
    * bytes/node — bounded by the shuffle partition sizing the caller
    * already controls; the same budget a sort or hash-aggregate buffer of
    * the partition would need. Applied only to LongType ids (every graft
    * edge set) so output schemas never silently widen. */
  private def localContract(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // null-id edges are garbage the star loop has always tolerated (null
    // comparisons drop them in round 1); skip them here too rather than
    // crash the non-nullable tuple encoder — the node set still derives
    // from the unfiltered base, so labeling is unchanged
    edges.select(col("id_a").as("_1"), col("id_b").as("_2"))
      .filter(col("_1").isNotNull && col("_2").isNotNull)
      .repartitionByRange(col("_1"), col("_2"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        val uf = new UnionFind
        it.foreach { case (a, b) => uf.union(a, b) }
        uf.labels.filter { case (x, r) => r != x }
      }
      .toDF("src", "dst")
  }

  /** The one-task path of [[starWithRounds]]: every edge of the
    * checkpointed edge set streams through ONE task (`coalesce(1)`, no
    * exchange) into the shared min-root union-find, which emits the final
    * `(id, component)` label of every node — roots label themselves. A
    * null endpoint is a node of its own exactly as in the loop's node set:
    * the other endpoint still gets a label, and one `(null, null)` row
    * stands for the null id. Memory is the union-find's ~16 bytes/node
    * under the caller's 4M-edge budget. */
  private def oneTaskLabels(base: DataFrame): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    base.select(col("id_a").as("_1"), col("id_b").as("_2")).coalesce(1)
      .as[(Option[Long], Option[Long])]
      .mapPartitions { it =>
        val uf = new UnionFind
        var sawNull = false
        it.foreach {
          case (Some(a), Some(b)) => uf.union(a, b)
          case (a, b) => sawNull = true; a.foreach(uf.add); b.foreach(uf.add)
        }
        uf.labels.map { case (x, r) => (Option(x), Option(r)) } ++
          (if (sawNull) Iterator((None, None)) else Iterator.empty)
      }
      .toDF("id", "component")
  }

  /** [[connectedComponentsStar]] plus the number of contraction rounds — the
    * O(log n) bound is the whole point of the variant, so tests assert it
    * (0 on the one-task path). */
  private[graft] def starWithRounds(
      pairs: DataFrame, maxIter: Int,
      localContract: Boolean = true): (DataFrame, Int) = {
    // one materialization of the (possibly expensive) pair pipeline; the
    // node set, the initial edge set, and every loop round derive from it
    val base = pairs.select(col("id_a"), col("id_b")).localCheckpoint(true)
    val edgeRows = base.count()
    // LongType edge sets (every graft id) go through the union-find;
    // other id types enter the loop raw.
    val preContract = localContract && base.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    // One-task path (guide §1.2 "remove passes"): an edge set within the
    // loop's own 4M-edges-per-partition budget fits one union-find, whose
    // labels ARE the loop's fixed point — so the node distinct, the
    // range-partition sample, the per-round window/checkpoint/checksum
    // actions and the label join are all skipped, and the session's
    // shuffle width is never touched (store verbs overlap their jobs
    // through Par; a session-wide conf write would leak into siblings).
    // Larger edge sets keep the O(log n) distributed rounds unchanged.
    if (preContract && edgeRows <= LoopEdgesPerPartition)
      return (oneTaskLabels(base), 0)
    withLoopParallelism(base, edgeRows) {
    // eager on purpose: the returned labels frame can be consumed several
    // times, and each consumer would re-run this distinct at session
    // width if it were lazy
    val nodes = base.select(col("id_a").as("id"))
      .unionAll(base.select(col("id_b").as("id"))).distinct()
      .localCheckpoint(true)

    def checksum(e: DataFrame): (Long, String) = {
      // decimal-staged sum: 64-bit hash values would overflow a long sum
      val r = e.agg(count(lit(1)), sum(xxhash64(col("src"), col("dst"))
        .cast(org.apache.spark.sql.types.DecimalType(38, 0)))).head()
      (r.getLong(0), String.valueOf(r.get(1)))
    }
    // per-neighborhood minimum via a window over the SAME key the rows
    // already need — one exchange per half-round, where a groupBy-min
    // joined back would pay two (the aggregation's and the join's).
    // largeStar emits duplicates (no terminal distinct): multiplicity
    // cannot change any per-neighborhood MIN downstream, and smallStar's
    // terminal distinct collapses them — dropping the distinct saves a
    // full exchange of the edge set every round.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
      sym
        .withColumn("m", least(col("src"),
          min(col("dst")).over(Window.partitionBy(col("src")))))
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .filter(col("src") =!= col("dst"))
    }
    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      val m = dir.withColumn("m",
        min(col("dst")).over(Window.partitionBy(col("src"))))
      // each windowed row fans out to its re-pointed smaller neighbor
      // (dst, m) AND its group's (src, m) self edge via one explode —
      // a union of two selects off `m` would run the window exchange
      // twice (no cross-branch reuse in the physical plan); the terminal
      // distinct collapses the per-row duplicates of the self edges
      m.select(explode(array(
          struct(col("dst").as("src"), col("m").as("dst")),
          struct(col("src").as("src"), col("m").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"))
        .filter(col("src") =!= col("dst")).distinct()
    }

    var edges =
      (if (preContract) this.localContract(base)
       else base.select(col("id_a").as("src"), col("id_b").as("dst")))
      .filter(col("src") =!= col("dst")).distinct().localCheckpoint(true)
    var iter = 0
    var prev = checksum(edges)
    var converged = false
    while (!converged && iter < maxIter) {
      edges = smallStar(largeStar(edges)).localCheckpoint(true)
      val cur = checksum(edges)
      converged = cur == prev
      prev = cur
      iter += 1
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponentsStar did not converge in $maxIter rounds " +
        "(expected O(log n)); the edge set is still contracting. Raise maxIter.")
    // stars: (child, root); roots and any original singleton-by-dedup nodes
    // label themselves
    (nodes.join(edges, col("id") === col("src"), "left")
      .select(col("id"), coalesce(col("dst"), col("id")).as("component")), iter)
    }
  }

  /** Near-dup survivors: `df` minus every pair-graph member that is not its
    * component's minimum id — the cluster representative (smallest id)
    * survives, exactly like [[exactKept]] keeps min id per duplicate group;
    * rows in no pair survive untouched.
    *
    * `components` defaults to [[connectedComponentsStar]]: near-dup edge
    * sets routinely contain long chains (A≈B≈C≈… through drifting
    * boilerplate), which are min-label propagation's O(diameter) worst case;
    * star contraction is O(log n) regardless of shape. Pass
    * `connectedComponents(_)` to choose propagation for known-shallow
    * graphs. */
  def nearDupKept(df: DataFrame, idCol: String, pairs: DataFrame,
      components: DataFrame => DataFrame = connectedComponentsStar(_)): DataFrame = {
    val losers = components(pairs)
      .filter(col("id") =!= col("component")).select(col("id").as("__loser"))
    df.join(losers, col(idCol) === col("__loser"), "left_anti")
  }

  /** Per-document novelty: the share of a document's distinct token
    * n-gram shingles that appear in NO other document — the inverse-
    * duplication diversity metric a curation pipeline tracks per source.
    * A boilerplate-heavy doc scores near 0; fully original text scores 1.
    *
    * Scale: distinct shingles explode once; shingle document frequency is
    * a partial+final aggregation JOINED back on the gram — not a
    * gram-partitioned window, which would concentrate a boilerplate
    * shingle's entire occurrence list into one window partition (hot-key
    * long tail at 100 TB). Map-side combine collapses hot grams before
    * the exchange and AQE splits the skewed join; the per-doc
    * re-aggregation is the final exchange. Never doc×doc.
    *
    * Returns (idCol, n_shingles, n_unique, novelty). */
  def shingleNovelty(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    val sh = docs.select(col(idCol),
        array_distinct(TextFunctions.tokenShingles(
          TextFunctions.tokens(col(textCol)), n)).as("__sh"))
      .select(col(idCol), explode(col("__sh")).as("__gram"))
    val gramDf = sh.groupBy(col("__gram")).agg(count(lit(1)).as("__df"))
    sh.join(gramDf, "__gram")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__df") === 1, 1L).otherwise(0L)).as("n_unique"))
      .select(col(idCol), col("n_shingles"), col("n_unique"),
        (col("n_unique") / col("n_shingles")).as("novelty"))
  }

  /** Cross-document duplicated-passage statistics — the exact-substring
    * dedup signal (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better", arXiv:2107.06499): a length-`windowTokens`
    * token window that appears verbatim in ≥ 2 distinct documents is a
    * duplicated passage, and a document's duplicated-window share is the
    * removal/weighting signal.
    *
    * Scale shape: every window crosses the exchange as its 8-byte
    * `fingerprint64`, never as text — the fingerprint-first discipline of
    * the exact-dedup path, applied per window. One count-distinct
    * aggregation over (fingerprint → doc) and one co-partitioned join
    * back; window generation itself is scan-shaped. Windows follow
    * [[TextFunctions.tokenShingles]]' short-doc contract: a doc with fewer
    * than `windowTokens` tokens yields ONE window (its whole token join),
    * so a short doc duplicated verbatim elsewhere is still flagged.
    *
    * Returns (idCol, n_windows, n_dup_windows, dup_ratio). */
  def duplicatePassageStats(docs: DataFrame, idCol: String, textCol: String,
      windowTokens: Int = 8): DataFrame = {
    val wins = passageWindows(docs, idCol, textCol, windowTokens)
    val freq = wins.select(col("__fp"), col(idCol)).distinct()
      .groupBy(col("__fp")).agg(count(lit(1)).as("__nd"))
    val flagged = wins.join(freq.filter(col("__nd") >= 2), "__fp")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_dup_windows"))
    wins.groupBy(col(idCol)).agg(count(lit(1)).as("n_windows"))
      .join(flagged, Seq(idCol), "left")
      .select(col(idCol), col("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        (coalesce(col("n_dup_windows"), lit(0L)) / col("n_windows"))
          .as("dup_ratio"))
  }

  /** Exact duplicated-passage REMOVAL: every token covered by any
    * cross-document duplicated window (per [[duplicatePassageStats]]'
    * definition) is dropped and the surviving tokens are rejoined — the
    * destructive half of exact-substring dedup.
    *
    * Token coverage explodes each flagged window into its ≤ `windowTokens`
    * positions — bounded by (flagged windows × window length), small when
    * duplication is rare and worth it when it isn't (those tokens are
    * getting dropped). Reassembly groups each doc's surviving (position,
    * token) pairs and sorts within the doc — a per-doc-sized buffer, the
    * same budget any per-doc aggregation holds.
    *
    * Returns (idCol, n_tokens, n_kept, kept_text). */
  def stripDuplicatePassages(docs: DataFrame, idCol: String, textCol: String,
      windowTokens: Int = 8): DataFrame = {
    val toks = docs.select(col(idCol),
      TextFunctions.tokens(col(textCol)).as("__toks"))
    val wins = passageWindows(docs, idCol, textCol, windowTokens)
    val freq = wins.select(col("__fp"), col(idCol)).distinct()
      .groupBy(col("__fp")).agg(count(lit(1)).as("__nd"))
    // flagged window at 0-based pos p covers tokens p .. p+L-1; positions
    // past the doc's end (possible only for the short-doc fallback window)
    // simply match no token row in the anti-join below
    val covered = wins.join(freq.filter(col("__nd") >= 2), "__fp")
      .select(col(idCol), explode(sequence(col("__pos"),
        col("__pos") + windowTokens - 1)).as("__tpos"))
      .distinct()
    val tokpos = toks.select(col(idCol), size(col("__toks")).as("n_tokens"),
      posexplode(col("__toks")).as(Seq("__tpos", "__tok")))
    val kept = tokpos.join(covered, Seq(idCol, "__tpos"), "left_anti")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("__tpos"), col("__tok")))),
          x => x("__tok")), " ").as("kept_text"))
    toks.select(col(idCol), size(col("__toks")).as("n_tokens"))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_text"), lit("")).as("kept_text"))
  }

  /** The persisted duplicated-passage index relation: the DISTINCT window
    * fingerprints of a corpus — 8 bytes per distinct passage. Persist
    * bucketed by `fp` so incremental probes join exchange-free on the
    * standing side. */
  def passageWindowIndex(docs: DataFrame, idCol: String, textCol: String,
      windowTokens: Int = 8): DataFrame =
    passageWindows(docs, idCol, textCol, windowTokens)
      .select(col("__fp").as("fp")).distinct()

  /** Persist the [[passageWindowIndex]] as a table bucketed (and sorted)
    * on `fp` — the standing side of every incremental passage probe.
    * File bucketing clusters the 8-byte keys, so fp-keyed aggregation
    * over the index runs exchange-free and the incremental semi-join
    * shuffles only the incoming batch into the index's layout: at 100 TB
    * the standing corpus's fingerprints never cross the wire again. */
  def writePassageIndex(docs: DataFrame, idCol: String, textCol: String,
      tableName: String, windowTokens: Int = 8, numBuckets: Int = 16): Unit =
    passageWindowIndex(docs, idCol, textCol, windowTokens)
      .write.mode("overwrite").format("parquet")
      .bucketBy(numBuckets, "fp").sortBy("fp")
      .saveAsTable(tableName)

  /** Append a new batch's distinct window fingerprints to a persisted
    * passage index — the daily increment (the table twin of
    * [[graft.streaming.PassageStream]]'s versioned deltas). Only the
    * batch is windowed and written; the standing index never rewrites or
    * shuffles. Fingerprints already present land again in the same
    * bucket — harmless to every probe (a semi-join), reclaimed whenever
    * the index is next compacted. */
  def appendPassageIndex(batch: DataFrame, idCol: String, textCol: String,
      tableName: String, windowTokens: Int = 8, numBuckets: Int = 16): Unit =
    passageWindowIndex(batch, idCol, textCol, windowTokens)
      .write.mode("append").format("parquet")
      .bucketBy(numBuckets, "fp").sortBy("fp")
      .saveAsTable(tableName)

  /** Incremental [[duplicatePassageStats]]: the daily-increment shape —
    * a new batch's duplicated-window share against (standing corpus ∪
    * batch) WITHOUT re-windowing the corpus. A batch window is duplicated
    * iff its fingerprint exists in the persisted [[passageWindowIndex]]
    * (cross-set dup) or appears in ≥ 2 distinct batch docs (in-batch dup)
    * — exactly [[duplicatePassageStats]]' definition evaluated over the
    * union. Only 8-byte fingerprints flow anywhere: the batch windows
    * semi-join the index, the corpus text is never touched. */
  def duplicatePassageStatsIncremental(newDocs: DataFrame, idCol: String,
      textCol: String, existingIndex: DataFrame,
      windowTokens: Int = 8): DataFrame = {
    val wins = passageWindows(newDocs, idCol, textCol, windowTokens)
    val batchDup = wins.select(col("__fp"), col(idCol)).distinct()
      .groupBy(col("__fp")).agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") >= 2).select(col("__fp"))
    val crossDup = wins.select(col("__fp")).distinct()
      .join(existingIndex.select(col("fp").as("__fp")), Seq("__fp"),
        "left_semi")
    val dupFps = batchDup.unionAll(crossDup).distinct()
    val flagged = wins.join(dupFps, "__fp")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_dup_windows"))
    wins.groupBy(col(idCol)).agg(count(lit(1)).as("n_windows"))
      .join(flagged, Seq(idCol), "left")
      .select(col(idCol), col("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        (coalesce(col("n_dup_windows"), lit(0L)) / col("n_windows"))
          .as("dup_ratio"))
  }

  /** One row per (doc, 0-based window position) with the window's 8-byte
    * fingerprint — the shared front of the duplicated-passage operators. */
  private def passageWindows(docs: DataFrame, idCol: String, textCol: String,
      windowTokens: Int): DataFrame =
    docs.select(col(idCol),
        posexplode(TextFunctions.tokenShingles(
          TextFunctions.tokens(col(textCol)), windowTokens))
          .as(Seq("__pos", "__gram")))
      .select(col(idCol), col("__pos"),
        HashFunctions.fingerprint64(col("__gram")).as("__fp"))

  /** Canonical representative per near-dup cluster: within every connected
    * component of `pairs`, keep the member with the highest `scoreCol`
    * (ties → smallest id). This is the selection step a curation pipeline
    * runs after near-dup detection — rather than keeping an arbitrary
    * member, it keeps the best one (quality score, length, recency, …).
    *
    * Scale: component labels come from [[connectedComponentsStar]] (O(log n)
    * rounds; near-dup edge sets routinely contain chains). Only cluster
    * MEMBERS join against `scored` — the corpus never shuffles by cluster —
    * and the argmax + member count share one hash exchange (two window
    * functions over the same partitioning key).
    *
    * Returns (cluster_id, keep_id, n_members, score-of-keeper named
    * `scoreCol`). */
  def canonicalPerCluster(pairs: DataFrame, scored: DataFrame,
      idCol: String, scoreCol: String,
      components: DataFrame => DataFrame = connectedComponentsStar(_))
      : DataFrame = {
    val labels = components(pairs)
    val members = labels.join(scored, labels("id") === scored(idCol))
      .select(col("component").as("cluster_id"), col(idCol).as("keep_id"),
        col(scoreCol))
    val byCluster = Window.partitionBy(col("cluster_id"))
    val best = byCluster.orderBy(col(scoreCol).desc, col("keep_id"))
    members
      .withColumn("__rn", row_number().over(best))
      .withColumn("n_members", count(lit(1)).over(byCluster))
      .filter(col("__rn") === 1)
      .select(col("cluster_id"), col("keep_id"), col("n_members"), col(scoreCol))
  }

  /** SimHash near-duplicate pairs: 64-bit SimHash per doc; candidates are
    * generated by banding over all C(8,2) = 28 ordered PAIRS of the hash's
    * eight 8-bit chunks (band key = the two chunk values packed into 16
    * bits). Pigeonhole over 8 chunks: a pair within Hamming distance ≤ 6
    * has at most 6 dirty chunks, hence at least 2 intact ones, hence
    * shares at least one pair band — every Hamming-≤6 pair is a
    * guaranteed candidate. (The former 4×16-bit single-chunk index only
    * guaranteed Hamming ≤ 3 and measured 0.67 candidate recall against
    * the Jaccard-0.4 ground truth in p36; near-dup pairs at that
    * threshold routinely sit at Hamming 4-6.) Single 8-bit chunks would
    * guarantee Hamming ≤ 7 but collapse into 256-value buckets (31% of
    * sf0.1 lands in one bucket); the 16-bit pair keys keep buckets
    * `maxBucketSize`-friendly. Candidates are verified by exact Hamming
    * distance ≤ `maxHamming` (≤ 6 keeps the guarantee exact; larger
    * values may miss pairs beyond the band guarantee).
    *
    * Unlike the MinHash path — whose exact-Jaccard verify needs the
    * shingle arrays and therefore joins candidates back to the docs —
    * SimHash verification needs only the two 8-byte hashes, so they ride
    * along INSIDE the bucket rows and the Hamming filter runs inside the
    * in-bucket pair explode, before anything exchanges: the 28-band
    * candidate blowup (~15% of all pairs on sf0.1) never reaches the
    * dedup exchange, and the post-verify survivors are all that
    * deduplicate. Measured 3.8 s → well under 1 s at sf0.1.
    * Returns (id_a, id_b, hamming). */
  def simhashPairs(
      docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 4, maxBucketSize: Int = 500): DataFrame =
    hammingPairs64(docs.select(col(idCol).as("id"),
        HashFunctions.simhash64(TextFunctions.tokens(col(textCol))).as("sh64")),
      maxHamming, maxBucketSize)

  /** Banded Hamming near-dup pairs over PRECOMPUTED 64-bit hashes
    * `hashed(id, sh64)` — [[simhashPairs]]' chunk-pair machinery exposed
    * for any 64-bit perceptual hash (p116's image aHash): C(8,2) = 28
    * two-byte band keys (every Hamming-≤6 pair guaranteed a shared band
    * by pigeonhole), Hamming verify fused inside the in-bucket pair
    * explode so the candidate blowup never reaches an exchange. Returns
    * (id_a, id_b, hamming) with id_a < id_b.
    *
    * The UNCAPPED form (`maxBucketSize = Int.MaxValue` — the oracle
    * completeness contract of the media paths p116/p124 and
    * [[graft.streaming.AHashStream]]'s in-batch arm) routes through
    * [[hammingPairsByClass]] instead: real media has DEGENERATE hash
    * values (uniform/black rasters and near-silent clips all hash to 0 —
    * both kernels use strict `>`), so a k-item equal-hash class collides
    * on ALL 28 band keys and the in-bucket `collect_list` would
    * materialize k structs in ONE unspillable row before exploding k²
    * pairs (ADVICE r12). The class form collapses every equal-hash class
    * to one banded row and expands memberships through ordinary
    * (spillable) joins — the same output relation, bounded rows. */
  def hammingPairs64(hashed: DataFrame, maxHamming: Int = 4,
      maxBucketSize: Int = 500): DataFrame = {
    if (maxBucketSize == Int.MaxValue)
      return hammingPairsByClass(hashed, maxHamming)
    val chunked = chunkPairRows(hashed)
    val perBucket = Window.partitionBy(col("chunk"), col("ckey"))
    val members = col("__m")
    chunked
      .withColumn("__n", count(lit(1)).over(perBucket))
      .filter(col("__n").between(2, maxBucketSize))
      .groupBy(col("chunk"), col("ckey"))
      .agg(collect_list(struct(col("id"), col("sh64"))).as("__m"))
      .select(explode(flatten(transform(members, (x, i) =>
        filter(transform(slice(members, i + 2, size(members)), y =>
          struct(least(x("id"), y("id")).as("id_a"),
            greatest(x("id"), y("id")).as("id_b"),
            bit_count(x("sh64").bitwiseXOR(y("sh64"))).as("hamming"))),
          p => p("hamming") <= maxHamming)))).as("p"))
      .select(col("p.id_a"), col("p.id_b"), col("p.hamming"))
      .dropDuplicates("id_a", "id_b")
  }

  /** The uncapped [[hammingPairs64]] relation — all pairs with Hamming ≤
    * `maxHamming` (≤ 6, inside the 28-band pigeonhole guarantee) — in the
    * equal-hash-CLASS formulation that survives degenerate hash values:
    *   - equal-hash pairs (Hamming 0) come from a plain self-join on the
    *     hash value: a k-copy class streams k² pair rows through the join
    *     operator (which spills) instead of one k-element array row;
    *   - cross-class pairs band the DISTINCT hash values (a million black
    *     images are ONE banded row), pair them in-bucket (distinct
    *     near-uniform hashes have no hot buckets), then expand each close
    *     hash pair to its id memberships through two joins.
    * Output-identical to the uncapped explode: with no cap, banding emits
    * exactly {all pairs Hamming ≤ maxHamming} (pigeonhole), partitioned
    * here into the Hamming-0 classes and the Hamming-≥1 hash pairs. */
  private[graft] def hammingPairsByClass(hashed: DataFrame,
      maxHamming: Int): DataFrame = {
    require(maxHamming <= 6,
      s"maxHamming $maxHamming exceeds the 28-band chunk-pair guarantee")
    val h = hashed.select(col("id"), col("sh64"))
    val eqPairs = h.join(h.select(col("sh64"), col("id").as("__id2")),
        "sh64")
      .filter(col("id") < col("__id2"))
      .select(col("id").as("id_a"), col("__id2").as("id_b"),
        lit(0).as("hamming"))
    // one row per DISTINCT hash; `id` is a placeholder for chunkPairRows'
    // shape (the pair explode below keys on the hash values themselves)
    val distinctHashes = h.groupBy(col("sh64"))
      .agg(min(col("id")).as("id"))
      .select(col("id"), col("sh64"))
    val members = col("__m")
    val hashPairs = chunkPairRows(distinctHashes)
      .groupBy(col("chunk"), col("ckey"))
      .agg(collect_list(col("sh64")).as("__m"))
      .filter(size(members) >= 2)
      .select(explode(flatten(transform(members, (x, i) =>
        filter(transform(slice(members, i + 2, size(members)), y =>
          // canonical (least, greatest) hash order: the same hash pair
          // surfaces from several buckets in arbitrary list orders, and
          // the dedup below must see ONE key for it
          struct(least(x, y).as("h_a"), greatest(x, y).as("h_b"),
            bit_count(x.bitwiseXOR(y)).as("hamming"))),
          p => p("hamming") <= maxHamming)))).as("p"))
      .select(col("p.h_a"), col("p.h_b"), col("p.hamming"))
      .dropDuplicates("h_a", "h_b")
    val crossPairs = hashPairs
      .join(h.select(col("sh64").as("h_a"), col("id").as("__ia")), "h_a")
      .join(h.select(col("sh64").as("h_b"), col("id").as("__ib")), "h_b")
      .select(least(col("__ia"), col("__ib")).as("id_a"),
        greatest(col("__ia"), col("__ib")).as("id_b"), col("hamming"))
    eqPairs.unionAll(crossPairs)
  }

  /** The raw (id, sh64, chunk, ckey) band rows of the chunk-pair index
    * over `hashed(id, sh64)`, BEFORE the `maxBucketSize` cap — shared by
    * [[hammingPairs64]], the streaming image-hash index's cross-arm probe
    * ([[graft.streaming.AHashStream]]), and, until `dc914e8`, the
    * bucket-occupancy diagnostics (results in SURVEY §6 "Zipf recall
    * audit"). */
  private[graft] def chunkPairRows(hashed: DataFrame): DataFrame = {
    def byteOf(c: Int) =
      shiftrightunsigned(col("sh64"), c * 8).bitwiseAND(lit(0xffL))
    val pairKeys = for { i <- 0 until 8; j <- i + 1 until 8 }
      yield shiftleft(byteOf(i), 8).bitwiseOR(byteOf(j))
    hashed.select(col("id"), col("sh64"),
        posexplode(array(pairKeys: _*)))
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "ckey")
  }
}
