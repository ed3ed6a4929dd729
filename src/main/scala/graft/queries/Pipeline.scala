package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.{HashFunctions, TextFunctions => TF}
import graft.multimodal.Multimodal.MediaRecord
import graft.operators.{Curation, Dedup, IvfRelational, Similarity, Vocab}
import graft.sources.Tables

/** LLM-data-pipeline queries (SURVEY.md §2c north-star extensions): dedup,
  * similarity search, text analysis, fingerprinting — over `documents` and
  * `embeddings`.
  *
  * Oracle policy: everything SQL-expressible carries a DuckDB oracle that
  * replicates the computation **operation-for-operation** (same tokenization
  * regex, same fold order for float sums, same tie-breaks), so values match
  * exactly. Operators built on custom hash expressions (MinHash / SimHash /
  * LSH / fingerprints) are not reproducible in SQL and are declared without
  * an oracle → the driver records a rows-only check; their semantics are
  * asserted in the scalatest suites instead.
  */
object Pipeline {

  /** Shared tokenization contract, oracle side. Must mirror
    * [[graft.functions.TextFunctions.tokens]] exactly. */
  private val sqlToks =
    "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t != '')"

  /** Distinct token 3-shingles of the `toks` list (one shingle of all
    * tokens below 3) — the Spark side's `jaccardShingleSets`. */
  private def sqlShingle3List(toks: String): String =
    s"""list_distinct(
       |         CASE WHEN len($toks) < 3 THEN [array_to_string($toks, ' ')]
       |              ELSE list_transform(range(1, len($toks) - 1),
       |                     i -> $toks[i] || ' ' || $toks[i+1] || ' ' || $toks[i+2])
       |         END)""".stripMargin

  /** Quality-score CTE pair `m$tag, q$tag` over a base CTE exposing `text`,
    * `toks` and the `carry` columns; `q$tag` carries them plus `quality`.
    * ONE oracle-side mirror of [[TF.qualityScoreFromTokens]] shared by
    * every query that replays it (p44/p55/p56/p61) — p03Sql stays the
    * definitional expansion (it also outputs the component ratios).
    * Embed inside a stripMargin string. */
  private def sqlQualityCtes(tag: String, base: String, carry: String)
      : String = {
    val en = TF.stopwords("en").map(w => s"'$w'").mkString(", ")
    s"""m$tag AS (SELECT $carry,
       |    CASE WHEN length(text) = 0 THEN 0.0
       |         ELSE length(regexp_replace(lower(text), '[^a-z]', '', 'g')) / length(text) END AS alpha_ratio,
       |    least(len(toks) / 100.0, 1.0) AS len_score,
       |    least(len(list_filter(toks, t -> t IN ($en))) / greatest(len(toks), 1) * 5.0, 1.0) AS stop_score,
       |    CASE WHEN len(toks) = 0 THEN 0.0
       |         ELSE list_reduce(list_transform(toks, t -> length(t)), (a,b) -> a+b) / len(toks) END AS wl
       |  FROM $base),
       |q$tag AS (SELECT $carry,
       |    len_score * 0.3 + alpha_ratio * 0.3 + stop_score * 0.2 +
       |      (CASE WHEN wl >= 3 AND wl <= 10 THEN 1.0 ELSE 0.5 END) * 0.2 AS quality
       |  FROM m$tag)"""
  }

  /** Contaminated-doc CTE chain `sh$tag … cont$tag` over a base CTE
    * exposing doc_id, source, toks: documents sharing >= 3 5-gram shingles
    * with the src0 benchmark slice. ONE oracle-side mirror of
    * [[p21Contamination]]'s shingle contract (short-doc fallback included),
    * shared by the composition oracles (p56/p62); p21Sql stays the
    * definitional expansion. Embed inside a stripMargin string. */
  private def sqlContaminationCtes(tag: String, base: String): String =
    s"""sh$tag AS (SELECT doc_id, source,
       |    list_distinct(CASE WHEN len(toks) < 5 THEN [array_to_string(toks, ' ')]
       |      ELSE list_transform(range(1, len(toks) - 3),
       |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4])
       |    END) AS sh
       |  FROM $base),
       |bench$tag AS (SELECT DISTINCT unnest(sh) AS gram FROM sh$tag
       |              WHERE source = 'src0'),
       |corp$tag AS (SELECT doc_id, unnest(sh) AS gram FROM sh$tag
       |             WHERE source != 'src0'),
       |cont$tag AS (SELECT doc_id FROM corp$tag JOIN bench$tag USING (gram)
       |             GROUP BY doc_id HAVING COUNT(*) >= 3)"""

  /** hashSplit oracle replay: the sign-safe mod-first Knuth hash bucket in
    * [0, 1000). ONE mirror of [[graft.operators.Curation.hashSplit]]'s
    * arithmetic for every oracle that replays a split (p18/p56/p64) —
    * the COMPAT note on the operator (mod-first vs multiply-first) applies
    * here verbatim. */
  private def sqlSplitHash(id: String): String =
    s"((((($id % 1000000007) + 1000000007) % 1000000007) * 2654435761) " +
      s"% 1000000007) % 1000"

  /** The 0.8/0.1/0.1 split label off [[sqlSplitHash]] (integer cuts 800/900,
    * rounded once like the operator's `math.round`). */
  private def sqlSplitCase(id: String): String =
    s"CASE WHEN ${sqlSplitHash(id)} < 800 THEN 'train' " +
      s"WHEN ${sqlSplitHash(id)} < 900 THEN 'val' ELSE 'test' END"

  /** BM25 oracle CTE chain `t$tag … x$tag` over `documents`: rational
    * log-free idf, scores staged DECIMAL(38,18) in `x$tag.sct`. ONE mirror
    * of [[graft.operators.Retrieval.bm25TopK]]'s arithmetic (p42/p63);
    * callers aggregate `SUM(sct)` and rank/limit themselves. */
  private def sqlBm25Ctes(tag: String, terms: Seq[String]): String =
    sqlBm25CtesWhere(tag, terms.map(t => s"'$t'").mkString(", "), "documents")

  /** The top `k` BM25 scores of the chain `ctes` (tagged `tag`). */
  private def sqlBm25Top(tag: String, ctes: String, k: Int): String =
    s"""$ctes
       |SELECT doc_id, CAST(ROUND(SUM(sct), 6) AS DOUBLE) AS score
       |FROM x$tag GROUP BY doc_id
       |ORDER BY score DESC, doc_id
       |LIMIT $k""".stripMargin

  /** [[sqlBm25Ctes]] over an explicit source relation `src` — p133
    * replays the takedown path by pointing the SAME scoring chain at
    * `documents` minus the deleted set, which is exactly what the
    * engine's masked postings + doclen-corrected stats must reproduce
    * bit-for-bit — with the query vocabulary as a raw SQL IN-list
    * body — either literal terms or a subquery (`SELECT term FROM qt...`),
    * for queries whose vocabulary is DRAWN FROM THE CORPUS (p133: a
    * literal list can't intersect every spot-gate corpus's vocabulary —
    * the zipf1 gate was vacuous with 0 scored rows, VERDICT r14
    * missing #4). */
  private def sqlBm25CtesWhere(tag: String, ts: String,
      src: String): String = {
    s"""t$tag AS (SELECT doc_id, $sqlToks AS toks FROM $src),
       |d$tag AS (SELECT doc_id, toks, len(toks) AS dl FROM t$tag),
       |s$tag AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS total_dl FROM d$tag),
       |e$tag AS (SELECT doc_id, dl, unnest(toks) AS term FROM d$tag),
       |tf$tag AS (SELECT doc_id, dl, term, COUNT(*) AS tf FROM e$tag
       |           WHERE term IN ($ts) GROUP BY doc_id, dl, term),
       |df$tag AS (SELECT term, COUNT(*) AS df FROM tf$tag GROUP BY term),
       |sc$tag AS (SELECT tf$tag.doc_id,
       |        ((CAST(s$tag.n_docs AS DOUBLE) - CAST(df$tag.df AS DOUBLE)) + 0.5)
       |          / (CAST(df$tag.df AS DOUBLE) + 0.5) AS idf,
       |        CAST(tf$tag.tf AS DOUBLE) AS tfd,
       |        CAST(tf$tag.dl AS DOUBLE)
       |          / (CAST(s$tag.total_dl AS DOUBLE) / CAST(s$tag.n_docs AS DOUBLE)) AS ratio
       |       FROM tf$tag JOIN df$tag USING (term) CROSS JOIN s$tag),
       |x$tag AS (SELECT doc_id,
       |        CAST(idf * ((tfd * 2.2) / (tfd + (1.2 * (0.25 + (0.75 * ratio)))))
       |             AS DECIMAL(38,18)) AS sct
       |      FROM sc$tag)"""
  }

  /** Zero-norm-safe cosine from a dot product and two norms — the single
    * mirror of [[Similarity]]'s cosine convention (p06/p63). */
  private def sqlCosine(dt: String, nq: String, nc: String): String =
    s"CASE WHEN $nq = 0 OR $nc = 0 THEN 0.0 ELSE $dt / ($nq * $nc) END"

  // =========================================================================
  // p01 — exact deduplication: one representative (min id) per distinct text.
  // =========================================================================
  def p01DedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exact(Tables.documents(spark, dir), "doc_id", Seq("text"))
      .select(col("keep_id"), col("n_dups"))
      .orderBy("keep_id")

  val p01Sql: String =
    """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
      |FROM documents
      |GROUP BY text
      |ORDER BY keep_id""".stripMargin

  // =========================================================================
  // p02 — token statistics per document (counts are exact ints; means are a
  // single int/int double division — identical on both engines).
  // =========================================================================
  def p02TokenStats(spark: SparkSession, dir: String): DataFrame =
    // tokenize once into a column; downstream exprs reference the attribute
    // (HOFs are interpreted, so inlined copies would each re-tokenize)
    Tables.documents(spark, dir)
      .select(col("doc_id"), TF.tokens(col("text")).as("toks"))
      .select(
        col("doc_id"),
        size(col("toks")).as("n_tokens"),
        size(array_distinct(col("toks"))).as("n_distinct"),
        TF.meanTokenLen(col("toks")).as("mean_token_len"),
        TF.subwordCountFromTokens(col("toks")).as("n_subwords"))
      .orderBy("doc_id")

  val p02Sql: String =
    s"""SELECT doc_id,
       |  len(toks) AS n_tokens,
       |  len(list_distinct(toks)) AS n_distinct,
       |  CASE WHEN len(toks) = 0 THEN 0.0
       |       ELSE list_reduce(list_transform(toks, t -> length(t)), (a,b) -> a+b) / len(toks)
       |  END AS mean_token_len,
       |  list_reduce(list_prepend(0, list_transform(toks, t -> CAST(ceil(length(t)/4.0) AS INT))), (a,b) -> a+b) AS n_subwords
       |FROM (SELECT doc_id, $sqlToks AS toks FROM documents)
       |ORDER BY doc_id""".stripMargin

  // =========================================================================
  // p03 — quality scoring per document: alpha/punct ratios + a fixed blended
  // score. The oracle reproduces the double arithmetic term-for-term.
  // =========================================================================
  def p03TextQuality(spark: SparkSession, dir: String): DataFrame = {
    val toks = col("toks")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), TF.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        TF.alphaRatio(col("text")).as("alpha_ratio"),
        TF.punctRatio(col("text")).as("punct_ratio"),
        least(size(toks) / 100.0, lit(1.0)).as("len_score"),
        least(TF.stopwordCount(toks, "en") / greatest(size(toks), lit(1)) * 5.0,
          lit(1.0)).as("stop_score"),
        TF.meanTokenLen(toks).as("wl"))
      .select(col("doc_id"), col("alpha_ratio"), col("punct_ratio"),
        (col("len_score") * 0.3 + col("alpha_ratio") * 0.3 +
          col("stop_score") * 0.2 +
          when(col("wl") >= 3 && col("wl") <= 10, lit(1.0)).otherwise(lit(0.5))
            * 0.2).as("quality"))
      .orderBy("doc_id")
  }

  val p03Sql: String = {
    val en = TF.stopwords("en").map(w => s"'$w'").mkString(", ")
    s"""WITH base AS (
       |  SELECT doc_id, text, $sqlToks AS toks FROM documents
       |), m AS (
       |  SELECT doc_id, text, toks,
       |    CASE WHEN length(text) = 0 THEN 0.0
       |         ELSE length(regexp_replace(lower(text), '[^a-z]', '', 'g')) / length(text) END AS alpha_ratio,
       |    CASE WHEN length(text) = 0 THEN 0.0
       |         ELSE length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) / length(text) END AS punct_ratio,
       |    least(len(toks) / 100.0, 1.0) AS len_score,
       |    least(len(list_filter(toks, t -> t IN ($en))) / greatest(len(toks), 1) * 5.0, 1.0) AS stop_score,
       |    CASE WHEN len(toks) = 0 THEN 0.0
       |         ELSE list_reduce(list_transform(toks, t -> length(t)), (a,b) -> a+b) / len(toks) END AS wl
       |  FROM base
       |)
       |SELECT doc_id, alpha_ratio, punct_ratio,
       |  len_score * 0.3 + alpha_ratio * 0.3 + stop_score * 0.2 +
       |    (CASE WHEN wl >= 3 AND wl <= 10 THEN 1.0 ELSE 0.5 END) * 0.2 AS quality
       |FROM m
       |ORDER BY doc_id""".stripMargin
  }

  // =========================================================================
  // p04 — corpus language/source statistics (group-by over text metrics).
  // =========================================================================
  def p04LangStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"), col("n_chars"), TF.tokenCount(col("text")).as("nt"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n_chars")).as("total_chars"),
           (sum(col("nt")) / count(lit(1))).as("avg_tokens"))
      .orderBy("lang")

  val p04Sql: String =
    s"""SELECT lang,
       |  COUNT(*) AS n_docs,
       |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       |  CAST(SUM(len($sqlToks)) AS BIGINT) / COUNT(*) AS avg_tokens
       |FROM documents
       |GROUP BY lang
       |ORDER BY lang""".stripMargin

  // =========================================================================
  // p05 — language identification (stopword-hit argmax, ties → first lang in
  // code order), evaluated against the labeled lang column.
  // =========================================================================
  def p05LangId(spark: SparkSession, dir: String): DataFrame = {
    val langs = TF.stopwords.keys.toSeq.sorted
    Tables.documents(spark, dir)
      .select(col("lang"), TF.tokens(col("text")).as("toks"))
      .select(col("lang") +: langs.map(l =>
        TF.stopwordCount(col("toks"), l).as(s"s_$l")): _*)
      .select(col("lang"),
        TF.langIdFromScores(langs.map(l => l -> col(s"s_$l"))).as("predicted"))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "predicted")
  }

  val p05Sql: String = {
    val langs = TF.stopwords.keys.toSeq.sorted
    val scoreDefs = langs.map { l =>
      val words = TF.stopwords(l).map(w => s"'$w'").mkString(", ")
      s"len(list_filter(toks, t -> t IN ($words))) AS s_$l"
    }.mkString(",\n    ")
    val best = s"greatest(${langs.map(l => s"s_$l").mkString(", ")})"
    val cases = langs.map(l => s"WHEN s_$l = best THEN '$l'").mkString(" ")
    s"""WITH t AS (SELECT lang, $sqlToks AS toks FROM documents),
       |s AS (SELECT lang,
       |    $scoreDefs
       |  FROM t),
       |p AS (SELECT lang, CASE $cases END AS predicted
       |      FROM (SELECT *, $best AS best FROM s))
       |SELECT lang, predicted, COUNT(*) AS n
       |FROM p GROUP BY lang, predicted
       |ORDER BY lang, predicted""".stripMargin
  }

  // =========================================================================
  // p06 — brute-force cosine top-k similarity search (exact ANN baseline).
  // The oracle replicates the left-to-right fold of the dot/norm sums, so
  // doubles match bit-for-bit.
  // =========================================================================
  def p06KnnBrute(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.bruteForceTopK(
        emb.filter(col("vec_id") < 10), emb, k = 5)
      .orderBy("query_id", "rank")
  }

  /** Sequential-order dot fold — single-sourced in [[OracleHash.seqDot]]
    * (shared with the LSH bucket replay). */
  private def sqlFoldDot(a: String, b: String): String = OracleHash.seqDot(a, b)

  val p06Sql: String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
       |           FROM embeddings WHERE vec_id < 10),
       |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
       |s AS (SELECT query_id, neighbor_id,
       |    ${sqlFoldDot("qv", "cv")} AS dt,
       |    sqrt(${sqlFoldDot("qv", "qv")}) AS nq,
       |    sqrt(${sqlFoldDot("cv", "cv")}) AS nc
       |  FROM c CROSS JOIN q
       |  WHERE query_id != neighbor_id),
       |r AS (SELECT query_id, neighbor_id,
       |    ${sqlCosine("dt", "nq", "nc")} AS sim
       |  FROM s),
       |t AS (SELECT query_id, neighbor_id, sim,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |                       ORDER BY sim DESC, neighbor_id ASC) AS "rank"
       |  FROM r)
       |SELECT query_id, "rank", neighbor_id, sim FROM t
       |WHERE "rank" <= 5
       |ORDER BY query_id, "rank"""".stripMargin

  // =========================================================================
  // p07 — exact n-gram Jaccard similarity over adjacent doc pairs (the
  // verification kernel of near-dup, oracle-checked on its own).
  // =========================================================================
  def p07NgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"),
      array_distinct(TF.tokenShingles(TF.tokens(col("text")), 2)).as("sh"))
    val a = docs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = docs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    a.join(b, col("doc_b") === col("doc_a") + 1)
      .select(col("doc_a"), col("doc_b"),
        Dedup.jaccardExpr(col("sh_a"), col("sh_b")).as("jaccard"))
      .orderBy("doc_a")
  }

  val p07Sql: String =
    s"""WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents),
       |sh AS (SELECT doc_id,
       |    list_distinct(CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
       |         ELSE list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
       |    END) AS sh FROM t)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) = 0 THEN 0.0
       |       ELSE len(list_intersect(a.sh, b.sh)) / len(list_distinct(list_concat(a.sh, b.sh)))
       |  END AS jaccard
       |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
       |ORDER BY doc_a""".stripMargin

  // =========================================================================
  // p08/p09/p12 — custom-hash operators, oracle-checked by replaying the
  // hash kernels in exact DuckDB HUGEINT arithmetic (see [[OracleHash]]).
  // The LSH banding itself is verified by an INDEPENDENT formulation: the
  // engine buckets on xxhash64 of each band's signature slice, while the
  // oracle groups on the slice VALUES — the mathematical definition of
  // banding that the hash-bucketing implements.
  // =========================================================================

  /** MinHash-LSH near-duplicate candidate pairs, Jaccard-verified. */
  def p08DedupMinhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashPairs(Tables.documents(spark, dir), "doc_id", "text",
        numHashes = 64, bands = 16, shingleSize = 3, threshold = 0.4)
      .orderBy("id_a", "id_b")

  /** MinHash-LSH pair replay CTE chain ending in `mh(id_a, id_b,
    * jaccard)` (threshold applied): 3-token shingles → FNV-1a per shingle
    * → 64 signed-min permutation slots (coefficient bank embedded as
    * literals) → 16 bands of 4 slots grouped by slice value → in-bucket
    * pairs under the same 200-member cap → exact-Jaccard verify at 0.4.
    * Shared by p08 and the p72 leakage audit. */
  private val sqlMinhashCoef: String = {
    import OracleHash._
    s"coef(j, a, b) AS (SELECT * FROM (VALUES ${minhashCoefValues(64, 42L)}))"
  }

  /** MinHash signature/banding chain over base CTE `$base(doc_id, toks)`:
    * CTEs `sh/shu/shh/slots/sigs/bands` suffixed with `$tag` (empty tag =
    * the historical names). Requires [[sqlMinhashCoef]] in scope. */
  private def sqlMinhashChain(tag: String, base: String): String = {
    import OracleHash._
    s"""sh$tag AS (SELECT doc_id AS id, ${sqlShingle3List("toks")} AS sh
       |  FROM $base),
       |shu$tag AS (SELECT id, unnest(sh) AS s FROM sh$tag),
       |shh$tag AS (SELECT id, ${fnv1a("s")} AS h FROM shu$tag),
       |slots$tag AS (
       |  SELECT id, j, MIN(${signed64(s"(${lo64Mul("a", "h")} + b) % $P64")}) AS slot
       |  FROM shh$tag CROSS JOIN coef GROUP BY id, j),
       |sigs$tag AS (SELECT id, list(slot ORDER BY j) AS sig FROM slots$tag GROUP BY id),
       |bands$tag AS (
       |  SELECT id, bd, sig[4*bd+1:4*bd+4] AS key
       |  FROM sigs$tag CROSS JOIN (SELECT unnest(range(16)) AS bd) bs$tag)""".stripMargin
  }

  /** In-bucket candidate generation + exact-Jaccard verify over a
    * [[sqlMinhashChain]]'s `bands$tag`/`sh$tag`: CTEs `grp/cand/mh`
    * suffixed with `$tag` (member-count cap 200, threshold 0.4 — the p08
    * registry parameters). */
  private def sqlMinhashPairCtes(tag: String): String =
    s"""grp$tag AS (SELECT id, bd, key, COUNT(*) OVER (PARTITION BY bd, key) AS n FROM bands$tag),
       |cand$tag AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM grp$tag a JOIN grp$tag b ON a.bd = b.bd AND a.key = b.key AND a.id < b.id
       |  WHERE a.n <= 200 AND b.n <= 200),
       |mh$tag AS (
       |  SELECT id_a, id_b, jaccard FROM (
       |    SELECT id_a, id_b,
       |      CASE WHEN len(list_distinct(list_concat(sa.sh, sb.sh))) = 0 THEN 0.0
       |           ELSE len(list_intersect(sa.sh, sb.sh)) / len(list_distinct(list_concat(sa.sh, sb.sh)))
       |      END AS jaccard
       |    FROM cand$tag JOIN sh$tag sa ON id_a = sa.id JOIN sh$tag sb ON id_b = sb.id)
       |  WHERE jaccard >= 0.4)""".stripMargin

  private val sqlMinhashCtes: String =
    s"""t AS (SELECT doc_id, $sqlToks AS toks FROM documents),
       |$sqlMinhashCoef,
       |${sqlMinhashChain("", "t")},
       |${sqlMinhashPairCtes("")}""".stripMargin

  val p08Sql: String =
    s"""WITH $sqlMinhashCtes
       |SELECT id_a, id_b, jaccard FROM mh
       |ORDER BY id_a, id_b""".stripMargin

  /** SimHash near-duplicate pairs (Hamming ≤ 4 on 64-bit fingerprints;
    * the 28-chunk-pair band index guarantees candidates to Hamming ≤ 6, so
    * the 4 is an exact verify threshold, not a banding limit). */
  def p09DedupSimhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(Tables.documents(spark, dir), "doc_id", "text",
        maxHamming = 4)
      .orderBy("id_a", "id_b")

  /** Replays the simhash bit-vote signature, then candidates by equality
    * of 8-bit chunk PAIRS — the C(8,2) = 28 two-byte band keys whose
    * pigeonhole guarantees every Hamming-≤6 pair a shared band (the
    * engine's index, [[Dedup.simhashPairs]]) — and Hamming verify via
    * `bit_count(xor(...))` at the query's threshold 4. */
  val p09Sql: String = {
    import OracleHash._
    val pairCombos = (for { i <- 0 until 8; j <- i + 1 until 8 }
      yield s"($i,$j)").mkString(",")
    s"""WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents),
       |${simhashCtes("")},
       |pc(i, j) AS (SELECT * FROM (VALUES $pairCombos)),
       |chunks AS (
       |  SELECT id, i*8 + j AS c,
       |    ((u >> (8*i)) % 256::HUGEINT) * 256 + ((u >> (8*j)) % 256::HUGEINT) AS ckey
       |  FROM sim CROSS JOIN pc),
       |grp AS (SELECT c, ckey, COUNT(*) OVER (PARTITION BY c, ckey) AS n, id FROM chunks),
       |cand AS (
       |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
       |  FROM grp a JOIN grp b ON a.c = b.c AND a.ckey = b.ckey AND a.id < b.id
       |  WHERE a.n <= 500 AND b.n <= 500)
       |SELECT c.id_a, c.id_b, bit_count(xor(sa.s, sb.s)) AS hamming
       |FROM cand c JOIN sim sa ON c.id_a = sa.id JOIN sim sb ON c.id_b = sb.id
       |WHERE bit_count(xor(sa.s, sb.s)) <= 4
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** LSH-bucketed approximate nearest neighbors (recall measured in tests
    * against p06's exact result; buckets + rerank replayed bit-exactly by
    * [[p10Sql]]). */
  def p10KnnLsh(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.lshTopK(emb.filter(col("vec_id") < 10), emb,
        k = 5, dim = 64, tables = 8, bits = 6, multiProbe = true, probeRadius = 2)
      .orderBy("query_id", "rank")
  }

  /** Replays the full LSH path: seeded hyperplane bank as literals →
    * sign-of-sequential-dot bucket bits → radius-2 multi-probe XOR masks
    * on the query side → bucket-equality candidates → exact cosine rerank
    * (p06's fold). The hyperplane signs are IEEE-double exact because both
    * engines widen float→double losslessly and fold in index order. */
  val p10Sql: String = {
    import OracleHash._
    s"""WITH planes(t, b, p) AS (SELECT * FROM (VALUES ${planesValues(8, 6, 64, 42L)})),
       |emb AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       |${lshBucketCte("buck")},
       |qb AS (
       |  SELECT b.id AS query_id, t, xor(bucket, m.m) AS bucket
       |  FROM buck b CROSS JOIN (SELECT unnest([${probeMasks(6, 2)}]) AS m) m
       |  WHERE b.id < 10),
       |cand AS (
       |  SELECT DISTINCT q.query_id, c.id AS neighbor_id
       |  FROM qb q JOIN buck c ON q.t = c.t AND q.bucket = c.bucket
       |  WHERE q.query_id != c.id),
       |${sqlRerankTail("cand", 5)}""".stripMargin
  }

  /** Exact cosine rerank tail shared by the ANN replays: candidates CTE
    * `(query_id, neighbor_id)` → top-`k` by (sim DESC, id ASC). */
  private def sqlRerankTail(candCte: String, k: Int): String = {
    import OracleHash._
    s"""qv AS (SELECT id AS query_id, v AS qv FROM emb WHERE id < 10),
       |cvx AS (SELECT id AS neighbor_id, v AS cv FROM emb),
       |s AS (SELECT query_id, neighbor_id,
       |    ${seqDot("qv", "cv")} AS dt,
       |    sqrt(${seqDot("qv", "qv")}) AS nq,
       |    sqrt(${seqDot("cv", "cv")}) AS nc
       |  FROM $candCte JOIN qv USING (query_id) JOIN cvx USING (neighbor_id)),
       |r AS (SELECT query_id, neighbor_id,
       |    ${sqlCosine("dt", "nq", "nc")} AS sim FROM s),
       |t2 AS (SELECT query_id, neighbor_id, sim,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |                       ORDER BY sim DESC, neighbor_id ASC) AS "rank" FROM r)
       |SELECT query_id, "rank", neighbor_id, sim FROM t2
       |WHERE "rank" <= $k
       |ORDER BY query_id, "rank"""".stripMargin
  }

  /** Replays the ENTIRE trained-IVF path from raw data: the stride-sample
    * seed bank, all three decimal-staged Lloyd iterations (assignment =
    * argmin of the sequential squared-L2 fold with the kernel's
    * lowest-cell tie-break; means = SUM(DECIMAL(38,18)) → DOUBLE ÷ count,
    * the exact staging `ivfCentroidsTrained` runs), then the nProbe=8
    * probe assignment and exact cosine rerank. K-means is usually written
    * off as unreplayable "training" — decimal staging makes every
    * iteration a deterministic relational expression. */
  val p16Sql: String = {
    import OracleHash._
    val (bankCtes, bank) = ivfBankCtes(nCells = 16, iters = 3)
    s"""WITH emb AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       |$bankCtes,
       |${nearestCellCte("qa0", bank, keep = 8, filter = " WHERE e.id < 10")},
       |qa AS (SELECT id AS query_id, cell FROM qa0),
       |${nearestCellCte("ca0", bank, keep = 1)},
       |ca AS (SELECT id AS neighbor_id, cell FROM ca0),
       |cand AS (
       |  SELECT DISTINCT query_id, neighbor_id
       |  FROM qa JOIN ca USING (cell)
       |  WHERE query_id != neighbor_id),
       |${sqlRerankTail("cand", 5)}""".stripMargin
  }

  /** K-means-refined IVF bank for the corpus under `dir`, fitted once per
    * process (training is bit-deterministic, so memoization is purely an
    * amortization — p16 and p22 probe the identical cells either way; at
    * scale the bank ships with the persisted index, see
    * [[Similarity.writeIvfIndex]]). */
  private val ivfBankCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Double]]]()
  private def ivfBank(spark: SparkSession, dir: String): Array[Array[Double]] =
    ivfBankCache.computeIfAbsent(dir, _ =>
      Similarity.ivfCentroidsTrained(Tables.embeddings(spark, dir), nCells = 16))

  /** IVF-bucketed approximate nearest neighbors (coarse-quantizer cells +
    * probe-and-rerank; the second ANN scale path besides LSH) under the
    * k-means-refined bank. */
  def p16KnnIvf(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.ivfTopK(emb.filter(col("vec_id") < 10), emb,
        k = 5, nCells = 16, nProbe = 8, centroids = Some(ivfBank(spark, dir)))
      .orderBy("query_id", "rank")
  }

  /** Product-quantization codebooks for the corpus under `dir`, trained once
    * per process (bit-deterministic, like [[ivfBank]]). */
  private val pqBankCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Array[Double]]]]()
  private def pqBank(spark: SparkSession, dir: String): Array[Array[Array[Double]]] =
    pqBankCache.computeIfAbsent(dir, _ =>
      Similarity.pqTrain(Tables.embeddings(spark, dir), m = 16, nCodes = 32))

  /** PQ-compressed approximate nearest neighbors: the corpus scores from
    * 16 5-bit codes per vector (vs 64 floats), true vectors touched only
    * for the refine set — the memory-scale ANN path beside LSH (p10) and
    * IVF (p16). Recall is oracle-visible in p22 (0.92@5 at sf0.01, equal
    * to multi-probe LSH). */
  def p29KnnPq(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.pqTopK(emb.filter(col("vec_id") < 10), emb, k = 5,
        banks = pqBank(spark, dir))
      .orderBy("query_id", "rank")
  }

  /** PQ-bank CTEs at the registry parameters (m=16, nCodes=32, subDim=4,
    * 2 Lloyd iterations) plus the reconstructed-vector relation — shared
    * by [[p29Sql]] and [[p32Sql]]. Yields CTEs `...,(bank), enc, rv`. */
  private val sqlPqBankAndRv: (String, String) = {
    import OracleHash._
    val (bankCtes, bank) = pqBankCtes(m = 16, nCodes = 32, subDim = 4, iters = 2)
    (s"""$bankCtes,
        |${pqAssignCte("enc", bank, subDim = 4)},
        |rv AS (
        |  SELECT enc.id AS neighbor_id, flatten(list(b.cv ORDER BY enc.j)) AS rv
        |  FROM enc JOIN $bank b ON enc.j = b.j AND enc.code = b.code
        |  GROUP BY enc.id)""".stripMargin, bank)
  }

  /** Approximate-score survivors CTE: cosine against the PQ-reconstructed
    * vector, keep arank ≤ `keep` per query (the pqTopK refine window). */
  private def sqlPqSurvivors(candSrc: String, keep: Int): String = {
    import OracleHash._
    s"""ap AS (SELECT query_id, neighbor_id,
       |    ${seqDot("qv0", "rv")} AS dt,
       |    sqrt(${seqDot("qv0", "qv0")}) AS nq,
       |    sqrt(${seqDot("rv", "rv")}) AS nc
       |  FROM $candSrc),
       |ar AS (SELECT query_id, neighbor_id,
       |    ${sqlCosine("dt", "nq", "nc")} AS asim FROM ap),
       |sv AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id
       |                         ORDER BY asim DESC, neighbor_id ASC) AS arank FROM ar)
       |  WHERE arank <= $keep)""".stripMargin
  }

  /** Replays the PQ path end to end: per-subspace stride-seeded codebooks
    * through two decimal-staged Lloyd iterations (training IS a relational
    * expression — see [[OracleHash]] on the two VARCHAR-bridged Java/DuckDB
    * conversion gaps), corpus encode, reconstruct, approximate-cosine
    * refine window (k·32), exact rerank. */
  val p29Sql: String = {
    val (pqCtes, _) = sqlPqBankAndRv
    s"""WITH emb AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       |$pqCtes,
       |q0 AS (SELECT id AS query_id, v AS qv0 FROM emb WHERE id < 10),
       |apin AS (SELECT query_id, neighbor_id, qv0, rv
       |  FROM rv CROSS JOIN q0 WHERE query_id != neighbor_id),
       |${sqlPqSurvivors("apin", 5 * 32)},
       |${sqlRerankTail("sv", 5)}""".stripMargin
  }

  /** IVF-PQ approximate nearest neighbors — coarse-cell routing composed
    * with compressed scoring (only the probed cells' code rows are read;
    * true vectors only for the refine set). Recall oracle-visible in p22. */
  def p32KnnIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.ivfPqTopK(emb.filter(col("vec_id") < 10), emb, k = 5,
        centroids = ivfBank(spark, dir), banks = pqBank(spark, dir))
      .orderBy("query_id", "rank")
  }

  /** Replays BOTH trained models composed: the k-means IVF bank routes
    * probes (8 of 16 cells), the PQ codebooks score only the probed
    * cells' rows from reconstructions, true vectors only for the k·24
    * refine set — the full billion-scale ANN layout, verified from raw
    * data to final ranks. */
  val p32Sql: String =
    s"""WITH ${sqlIvfPqSurvivorCtes(OracleHash.ivfBankCtes(nCells = 16, iters = 3), 8)},
       |${sqlRerankTail("sv", 5)}""".stripMargin

  /** The IVF-PQ candidate replay shared by p32 and the scaled gates: the
    * coarse bank `ivf` (an `ivfBankCtes` pair) assigns every vector
    * (`ca`) and routes queries 0-9 to `probes` cells (`qa`), the PQ
    * reconstructions score the probed rows, and the k·24 refine window
    * survives as `sv(query_id, neighbor_id)`. */
  private def sqlIvfPqSurvivorCtes(ivf: (String, String), probes: Int)
      : String = {
    import OracleHash._
    val (ivfCtes, ivfBankName) = ivf
    val (pqCtes, _) = sqlPqBankAndRv
    s"""emb AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       |$ivfCtes,
       |$pqCtes,
       |${nearestCellCte("ca0", ivfBankName, keep = 1)},
       |ca AS (SELECT id AS neighbor_id, cell FROM ca0),
       |${nearestCellCte("qa0", ivfBankName, keep = probes, filter = " WHERE e.id < 10")},
       |qa AS (SELECT id AS query_id, cell FROM qa0),
       |q0 AS (SELECT id AS query_id, v AS qv0 FROM emb WHERE id < 10),
       |apin AS (
       |  SELECT qa.query_id, ca.neighbor_id, q0.qv0, rv.rv
       |  FROM qa JOIN ca USING (cell)
       |  JOIN q0 ON qa.query_id = q0.query_id
       |  JOIN rv ON ca.neighbor_id = rv.neighbor_id
       |  WHERE qa.query_id != ca.neighbor_id),
       |${sqlPqSurvivors("apin", 5 * 24)}""".stripMargin
  }

  /** Embedding-cosine near-duplicate pairs via shared LSH buckets.
    * Threshold 0.4 ≈ the 99.9th percentile of pair similarity on the
    * synthetic embeddings (their max is ~0.51), so output is non-trivial.
    * Radius-2 multi-probe: near-threshold pairs straddle hyperplanes, so
    * exact-bucket collision alone finds almost none of them (recall 0.13
    * at sf0.1; 0.94 with probes — driver-visible in p36). */
  def p11EmbedNearDup(spark: SparkSession, dir: String): DataFrame =
    Similarity.embeddingNearDupPairs(Tables.embeddings(spark, dir),
        threshold = 0.4, dim = 64, tables = 8, bits = 8, probeRadius = 2)
      .orderBy("id_a", "id_b")

  /** Same bucket replay as [[p10Sql]] at the p11 parameters (8 tables ×
    * 8 bits), with the pair-generation shape of `embeddingNearDupPairs`:
    * radius-2 probes on one side, the bucket-cap on the unexpanded index
    * side, `id_a < id_b`, cosine ≥ 0.4. */
  val p11Sql: String = {
    import OracleHash._
    s"""WITH planes(t, b, p) AS (SELECT * FROM (VALUES ${planesValues(8, 8, 64, 42L)})),
       |emb AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       |${lshBucketCte("buck")},
       |probes AS (
       |  SELECT id, t, xor(bucket, m.m) AS bucket
       |  FROM buck CROSS JOIN (SELECT unnest([${probeMasks(8, 2)}]) AS m) m),
       |idx AS (
       |  SELECT id AS id_x, t, bucket
       |  FROM (SELECT id, t, bucket, COUNT(*) OVER (PARTITION BY t, bucket) AS n FROM buck)
       |  WHERE n <= 1000),
       |cand AS (
       |  SELECT DISTINCT p.id AS id_a, i.id_x AS id_b
       |  FROM probes p JOIN idx i ON p.t = i.t AND p.bucket = i.bucket
       |  WHERE p.id < i.id_x),
       |s AS (SELECT id_a, id_b,
       |    ${seqDot("va.v", "vb.v")} AS dt,
       |    sqrt(${seqDot("va.v", "va.v")}) AS nq,
       |    sqrt(${seqDot("vb.v", "vb.v")}) AS nc
       |  FROM cand JOIN emb va ON id_a = va.id JOIN emb vb ON id_b = vb.id),
       |r AS (SELECT id_a, id_b,
       |    ${sqlCosine("dt", "nq", "nc")} AS sim FROM s)
       |SELECT id_a, id_b, sim FROM r WHERE sim >= 0.4
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** 64-bit content fingerprints + SimHash per document. */
  def p12Fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
        col("doc_id"),
        HashFunctions.fingerprint64(col("text")).as("fingerprint"),
        HashFunctions.simhash64(TF.tokens(col("text"))).as("simhash"))
      .orderBy("doc_id")

  /** Replays fingerprint64 (FNV-1a → SplitMix64, staged per-CTE so the mix
    * expansion sees only column refs) and the per-doc simhash. */
  val p12Sql: String = {
    import OracleHash._
    s"""WITH t AS (SELECT doc_id, text, $sqlToks AS toks FROM documents),
       |fp0 AS (SELECT doc_id, ${fnv1a("text")} AS h FROM t),
       |fp AS (SELECT doc_id, ${signed64(mix("h"))} AS fingerprint FROM fp0),
       |${simhashCtes("")}
       |SELECT t.doc_id, fp.fingerprint, COALESCE(sim.s, 0) AS simhash
       |FROM t JOIN fp USING (doc_id) LEFT JOIN sim ON t.doc_id = sim.id
       |ORDER BY t.doc_id""".stripMargin
  }

  // =========================================================================
  // p13 — tumbling-window event aggregation (batch form of the streaming
  // pipeline; see graft.streaming for the readStream variant).
  // =========================================================================
  def p13EventWindows(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(col("value").cast(DecimalType(20, 4))).cast(DoubleType)
             .as("total_value"))
      .select(col("w.start").cast(DateType).as("day"), col("event_type"),
        col("n"), col("total_value"))
      .orderBy("day", "event_type")

  val p13Sql: String =
    """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(20,4))) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY day, event_type""".stripMargin

  // =========================================================================
  // p14 — multimodal pipeline: binary payload column + typed metadata →
  // batched decode (REAL codecs: PNG via ImageIO, RIFF/WAV via
  // javax.sound.sampled, blocked PNG-frame video) → per-kind feature stats.
  // No oracle: the decode stage is custom Scala (rows-only check + scalatest).
  // =========================================================================
  def p14Multimodal(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    val media = Multimodal.fromDocuments(spark, Tables.documents(spark, dir))
    Multimodal.extractFeatures(media)
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n_media"),
           avg(col("n_bytes")).as("avg_bytes"),
           avg(col("feat_norm")).as("avg_feat_norm"))
      .orderBy("kind")
  }

  // =========================================================================
  // p15 — the engine's custom expressions through the pure-SQL surface:
  // register, then run a dedup-flavored SQL query using them. Oracle covers
  // the SQL-reproducible part (token counts per source); the hash columns
  // are engine-defined (rows-only beyond the oracled columns, so this query
  // only exposes oracle-reproducible aggregates).
  // =========================================================================
  def p15SqlFunctions(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    Tables.documents(spark, dir).createOrReplaceTempView("documents")
    spark.sql(
      """SELECT source,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(size(tokenize(text))) AS BIGINT) AS total_tokens,
        |  COUNT(DISTINCT fingerprint64(text)) AS distinct_fingerprints
        |FROM documents
        |GROUP BY source
        |ORDER BY source""".stripMargin)
  }

  /** Oracle for p15: fingerprints are engine-defined but injective on
    * distinct texts by construction (asserted in FunctionsSpec), so
    * COUNT(DISTINCT fingerprint64(text)) ≡ COUNT(DISTINCT text). */
  val p15Sql: String =
    s"""SELECT source,
       |  COUNT(*) AS n_docs,
       |  CAST(SUM(len($sqlToks)) AS BIGINT) AS total_tokens,
       |  COUNT(DISTINCT text) AS distinct_fingerprints
       |FROM documents
       |GROUP BY source
       |ORDER BY source""".stripMargin

  // =========================================================================
  // p19 — the two-phase (Aggregator) exact top-k: same results as p06 by
  // construction (identical kernel + tie-break), so it shares p06's
  // bit-exact oracle — while only k rows per (query, partition) cross the
  // exchange. The 100 TB form of brute-force search.
  // =========================================================================
  def p19KnnTwoPhase(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.bruteForceTopKTwoPhase(emb.filter(col("vec_id") < 10), emb, k = 5)
      .orderBy("query_id", "rank")
  }

  // =========================================================================
  // p17 — end-to-end curation: quality-filter → exact dedup → per-lang
  // stats, as one Catalyst plan. min/max aggregates keep the double outputs
  // order-independent for the oracle.
  // =========================================================================
  def p17Curation(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Curation.filterAndDedup(
        Tables.documents(spark, dir), "doc_id", "text", minQuality = 0.5)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"),
           min(col("quality")).as("min_q"),
           max(col("quality")).as("max_q"))
      .orderBy("lang")

  val p17Sql: String = {
    val en = TF.stopwords("en").map(w => s"'$w'").mkString(", ")
    s"""WITH base AS (
       |  SELECT doc_id, lang, text, $sqlToks AS toks FROM documents
       |), m AS (
       |  SELECT doc_id, lang, text,
       |    least(len(toks) / 100.0, 1.0) * 0.3 +
       |    (CASE WHEN length(text) = 0 THEN 0.0
       |          ELSE length(regexp_replace(lower(text), '[^a-z]', '', 'g')) / length(text) END) * 0.3 +
       |    least(len(list_filter(toks, t -> t IN ($en))) / greatest(len(toks), 1) * 5.0, 1.0) * 0.2 +
       |    (CASE WHEN (CASE WHEN len(toks) = 0 THEN 0.0
       |                ELSE list_reduce(list_transform(toks, t -> length(t)), (a,b) -> a+b) / len(toks) END) >= 3
       |            AND (CASE WHEN len(toks) = 0 THEN 0.0
       |                ELSE list_reduce(list_transform(toks, t -> length(t)), (a,b) -> a+b) / len(toks) END) <= 10
       |          THEN 1.0 ELSE 0.5 END) * 0.2 AS quality
       |  FROM base
       |), kept AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
       |  FROM m WHERE quality >= 0.5
       |)
       |SELECT lang, COUNT(*) AS n_kept,
       |  MIN(quality) AS min_q, MAX(quality) AS max_q
       |FROM kept WHERE rn = 1
       |GROUP BY lang
       |ORDER BY lang""".stripMargin
  }

  // =========================================================================
  // p18 — deterministic train/val/test hash split (stable multiplicative
  // hashing on the id; reproducible on any engine — the oracle recomputes
  // the same arithmetic).
  // =========================================================================
  def p18HashSplit(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Curation.hashSplit(
        Tables.documents(spark, dir), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n"),
           min(col("doc_id")).as("min_id"),
           max(col("doc_id")).as("max_id"))
      .orderBy("split")

  val p18Sql: String =
    s"""WITH s AS (
       |  SELECT doc_id, ${sqlSplitCase("doc_id")} AS split
       |  FROM documents)
       |SELECT split, COUNT(*) AS n,
       |  MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
       |FROM s GROUP BY split
       |ORDER BY split""".stripMargin

  // =========================================================================
  // p20 — repetition scoring: share of the document taken by its most
  // frequent 3-gram (high → boilerplate/spam). explode → count → window max.
  // =========================================================================
  def p20Repetition(spark: SparkSession, dir: String): DataFrame = {
    val sh = Tables.documents(spark, dir)
      .select(col("doc_id"),
        TF.tokenShingles(TF.tokens(col("text")), 3).as("sh"))
      .select(col("doc_id"), size(col("sh")).as("n_grams"),
        explode(col("sh")).as("gram"))
    sh.groupBy(col("doc_id"), col("n_grams"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"), col("n_grams"))
      .agg(max(col("cnt")).as("max_cnt"))
      .select(col("doc_id"),
        (col("max_cnt") / col("n_grams")).as("top_gram_ratio"))
      .orderBy("doc_id")
  }

  val p20Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
       |         ELSE list_transform(range(1, len(toks) - 1),
       |                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
       |    END AS sh
       |  FROM (SELECT doc_id, $sqlToks AS toks FROM documents)),
       |e AS (SELECT doc_id, len(sh) AS n_grams, unnest(sh) AS gram FROM t),
       |c AS (SELECT doc_id, n_grams, gram, COUNT(*) AS cnt
       |      FROM e GROUP BY doc_id, n_grams, gram)
       |SELECT doc_id, MAX(cnt) / n_grams AS top_gram_ratio
       |FROM c GROUP BY doc_id, n_grams
       |ORDER BY doc_id""".stripMargin

  // =========================================================================
  // p21 — decontamination: flag corpus docs sharing ≥ minOverlap distinct
  // 5-grams with a "benchmark" holdout (here: docs from src0). Exploded
  // shingle equi-join against the distinct benchmark shingle set — the
  // standard at-scale contamination check (never doc×doc).
  // =========================================================================
  def p21Contamination(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val shingled = docs.select(col("doc_id"), col("source"),
      array_distinct(TF.tokenShingles(TF.tokens(col("text")), 5)).as("sh"))
    val benchmark = broadcast(shingled.filter(col("source") === "src0")
      .select(explode(col("sh")).as("gram")).distinct())
    shingled.filter(col("source") =!= "src0")
      .select(col("doc_id"), explode(col("sh")).as("gram"))
      .join(benchmark, "gram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared_grams"))
      .filter(col("n_shared_grams") >= 3)
      .orderBy("doc_id")
  }

  val p21Sql: String =
    s"""WITH sh AS (
       |  SELECT doc_id, source,
       |    list_distinct(CASE WHEN len(toks) < 5 THEN [array_to_string(toks, ' ')]
       |      ELSE list_transform(range(1, len(toks) - 3),
       |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4])
       |    END) AS sh
       |  FROM (SELECT doc_id, source, $sqlToks AS toks FROM documents)),
       |bench AS (SELECT DISTINCT unnest(sh) AS gram FROM sh WHERE source = 'src0'),
       |corpus AS (SELECT doc_id, unnest(sh) AS gram FROM sh WHERE source != 'src0')
       |SELECT doc_id, COUNT(*) AS n_shared_grams
       |FROM corpus JOIN bench USING (gram)
       |GROUP BY doc_id
       |HAVING COUNT(*) >= 3
       |ORDER BY doc_id""".stripMargin

  // =========================================================================
  // p25 — token budgeting: whitespace tokens vs the BPE-ish pre-tokenizer
  // count per document, plus corpus character volume — the numbers a
  // training-data pipeline sizes its token budget with. Both tokenizations
  // are regex-reproducible in DuckDB, so the whole row hash-matches.
  // =========================================================================
  def p25TokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(TF.tokens(col("text"))).as("n_ws_tokens"),
        TF.bpeTokenCount(col("text")).as("n_bpe_tokens"),
        length(col("text")).as("n_chars"))
      .orderBy("doc_id")

  val p25Sql: String =
    s"""SELECT doc_id,
       |  len($sqlToks) AS n_ws_tokens,
       |  len(regexp_extract_all(text,
       |      '''(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+'))
       |    AS n_bpe_tokens,
       |  length(text) AS n_chars
       |FROM documents
       |ORDER BY doc_id""".stripMargin

  // =========================================================================
  // p24 — near-dup clusters: the generic distributed connected-components
  // operator run over the adjacent-pair Jaccard edge set of p07. Because
  // that edge set is a path graph, DuckDB can derive the identical
  // components with a completely different formulation (gaps-and-islands
  // over doc_id runs) — an independent oracle for a genuinely iterative
  // distributed algorithm. Star contraction (O(log n) rounds), not
  // min-label propagation: a path graph is propagation's O(diameter) worst
  // case, and a run of >maxIter consecutive near-dups would exhaust it.
  // =========================================================================
  def p24NearDupClusters(spark: SparkSession, dir: String): DataFrame = {
    val edges = p07NgramJaccard(spark, dir)
      .filter(col("jaccard") >= 0.05)
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"))
    Dedup.connectedComponentsStar(edges)
      .groupBy(col("component").as("cluster_id"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("cluster_id")
  }

  val p24Sql: String =
    s"""WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents),
       |sh AS (SELECT doc_id,
       |    list_distinct(CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
       |         ELSE list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
       |    END) AS sh FROM t),
       |j AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) = 0 THEN 0.0
       |       ELSE len(list_intersect(a.sh, b.sh)) / len(list_distinct(list_concat(a.sh, b.sh)))
       |  END AS jaccard
       |  FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1),
       |e AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.05),
       |d AS (SELECT DISTINCT doc_id FROM
       |       (SELECT doc_a AS doc_id FROM e UNION ALL SELECT doc_b FROM e)),
       |m AS (SELECT doc_id,
       |       CASE WHEN EXISTS (SELECT 1 FROM e WHERE e.doc_b = d.doc_id)
       |            THEN 0 ELSE 1 END AS is_start
       |      FROM d),
       |c AS (SELECT doc_id,
       |       SUM(is_start) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS grp
       |      FROM m)
       |SELECT MIN(doc_id) AS cluster_id, CAST(COUNT(*) AS BIGINT) AS n_docs
       |FROM c GROUP BY grp
       |ORDER BY cluster_id""".stripMargin

  // =========================================================================
  // p23 — the actual readStream path in the registry: hourly windowed
  // counts through micro-batched ingestion (availableNow) and the memory
  // sink, against the same relational oracle as its batch twin p13. Proves
  // watermark + window + sink wiring end-to-end, not just the transform.
  // =========================================================================
  def p23StreamWindows(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.EventStream
    EventStream.runBounded(spark, dir, EventStream.hourlyTypeCounts,
        "p23_stream_windows", shufflePartitions = Some(8))
      // epoch millis rather than raw timestamps: integer compare/hash is
      // engine-neutral (no timestamp-rendering variance in the driver diff)
      .select(unix_millis(col("window_start")).as("window_start_ms"),
        col("event_type"), col("n"), col("total_value"))
      .orderBy("window_start_ms", "event_type")
  }

  val p23Sql: String =
    """SELECT CAST(epoch_ms(date_trunc('hour', ts)) AS BIGINT) AS window_start_ms,
      |  event_type,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(20,4))) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY window_start_ms, event_type""".stripMargin

  // =========================================================================
  // p22 — driver-visible ANN quality: recall@5 of the LSH and IVF paths
  // against the exact brute-force top-k, as data. The Spark side recomputes
  // all three results (same parameters as p06/p10/p16); the oracle
  // recomputes the exact side independently (p06's fold SQL) and takes the
  // ANN member sets from the Verify dumps ('{OUT}' is substituted with the
  // dump directory by graft.Verify), so the intersection arithmetic and the
  // exact baseline are both independently checked.
  // =========================================================================
  def p22KnnRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val qs = emb.filter(col("vec_id") < 10)
    // the exact result feeds four consumers (two semi-joins, two totals);
    // materialize its 50 rows once instead of re-scoring the cross join
    val exact = Similarity.bruteForceTopK(qs, emb, k = 5)
      .select("query_id", "neighbor_id")
      .localCheckpoint(true)
    def recallOf(method: String, ann: DataFrame): DataFrame =
      ann.select("query_id", "neighbor_id")
        .join(exact, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("hits"))
        .crossJoin(exact.agg(count(lit(1)).as("total")))
        .select(lit(method).as("method"), col("hits"), col("total"),
          (col("hits").cast(DoubleType) / col("total").cast(DoubleType))
            .as("recall"))
    recallOf("ivf", Similarity.ivfTopK(qs, emb, k = 5, nCells = 16, nProbe = 8,
        centroids = Some(ivfBank(spark, dir))))
      .unionAll(recallOf("lsh", Similarity.lshTopK(qs, emb,
        k = 5, dim = 64, tables = 8, bits = 6, multiProbe = true, probeRadius = 2)))
      .unionAll(recallOf("pq", Similarity.pqTopK(qs, emb, k = 5,
        banks = pqBank(spark, dir))))
      .unionAll(recallOf("ivfpq", Similarity.ivfPqTopK(qs, emb, k = 5,
        centroids = ivfBank(spark, dir), banks = pqBank(spark, dir))))
      .orderBy("method")
  }

  val p22Sql: String =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
       |           FROM embeddings WHERE vec_id < 10),
       |c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
       |s AS (SELECT query_id, neighbor_id,
       |    ${sqlFoldDot("qv", "cv")} AS dt,
       |    sqrt(${sqlFoldDot("qv", "qv")}) AS nq,
       |    sqrt(${sqlFoldDot("cv", "cv")}) AS nc
       |  FROM c CROSS JOIN q
       |  WHERE query_id != neighbor_id),
       |r AS (SELECT query_id, neighbor_id,
       |    ${sqlCosine("dt", "nq", "nc")} AS sim
       |  FROM s),
       |exact AS (SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id
       |                         ORDER BY sim DESC, neighbor_id ASC) AS rk
       |    FROM r) WHERE rk <= 5),
       |tot AS (SELECT COUNT(*) AS total FROM exact),
       |lsh AS (SELECT query_id, neighbor_id
       |        FROM read_parquet('{OUT}/p10_knn_lsh/*.parquet')),
       |ivf AS (SELECT query_id, neighbor_id
       |        FROM read_parquet('{OUT}/p16_knn_ivf/*.parquet')),
       |pq AS (SELECT query_id, neighbor_id
       |       FROM read_parquet('{OUT}/p29_knn_pq/*.parquet')),
       |ivfpq AS (SELECT query_id, neighbor_id
       |          FROM read_parquet('{OUT}/p32_knn_ivfpq/*.parquet')),
       |h AS (
       |  SELECT 'ivf' AS method, COUNT(*) AS hits
       |  FROM ivf JOIN exact USING (query_id, neighbor_id)
       |  UNION ALL
       |  SELECT 'ivfpq' AS method, COUNT(*) AS hits
       |  FROM ivfpq JOIN exact USING (query_id, neighbor_id)
       |  UNION ALL
       |  SELECT 'lsh' AS method, COUNT(*) AS hits
       |  FROM lsh JOIN exact USING (query_id, neighbor_id)
       |  UNION ALL
       |  SELECT 'pq' AS method, COUNT(*) AS hits
       |  FROM pq JOIN exact USING (query_id, neighbor_id))
       |SELECT method, CAST(hits AS BIGINT) AS hits, CAST(total AS BIGINT) AS total,
       |  CAST(hits AS DOUBLE) / CAST(total AS DOUBLE) AS recall
       |FROM h CROSS JOIN tot
       |ORDER BY method""".stripMargin

  // =========================================================================
  // p26 — fingerprint-first exact dedup: identical result contract to p01
  // (same DuckDB oracle over text), but via the 100 TB-shaped plan — 8-byte
  // fingerprints through the exchange, text shuffled only for rows whose
  // fingerprint collides. Hash-matching p01's oracle proves the two-stage
  // rewrite is behavior-preserving end-to-end.
  // =========================================================================
  def p26DedupFingerprintFirst(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactByFingerprint(Tables.documents(spark, dir), "doc_id", "text")
      .orderBy("keep_id")

  // =========================================================================
  // p27 — STATEFUL streaming under the oracle: gap-based sessionization via
  // flatMapGroupsWithState (micro-batched ingest → keyed state → append-mode
  // emission of closed sessions). On bounded availableNow input the closed
  // set is deterministic — every session except each user's open tail — so a
  // q19-style DuckDB oracle restricted to non-final sessions hash-matches.
  // p23 proved the stateless streaming path (watermark + windows); this
  // proves the stateful one.
  // =========================================================================
  def p27StreamSessions(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.EventStream
    EventStream.runBounded(spark, dir,
        df => EventStream.sessionize(df, gapMinutes = 30).toDF(),
        "p27_stream_sessions", outputMode = "append",
        shufflePartitions = Some(4))
      .orderBy("user_id", "session_id")
  }

  val p27Sql: String =
    """WITH t AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us,
      |    LAG(epoch_us(ts), 1) OVER (PARTITION BY user_id
      |                               ORDER BY ts ASC, event_id ASC) AS prev_us
      |  FROM events),
      |s AS (
      |  SELECT user_id, event_id, us,
      |    CASE WHEN prev_us IS NULL OR us - prev_us > 30*60*1000000
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM t),
      |g AS (
      |  SELECT user_id, us,
      |    CAST(SUM(new_session) OVER (PARTITION BY user_id
      |      ORDER BY us ASC, event_id ASC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM s),
      |sess AS (
      |  SELECT user_id, session_id, COUNT(*) AS n_events,
      |    CAST(MAX(us) - MIN(us) AS BIGINT) AS duration_us
      |  FROM g GROUP BY user_id, session_id)
      |SELECT user_id, session_id, n_events, duration_us
      |FROM sess
      |WHERE session_id < (SELECT MAX(s2.session_id) FROM sess s2
      |                    WHERE s2.user_id = sess.user_id)
      |ORDER BY user_id, session_id""".stripMargin

  // =========================================================================
  // p28 — streaming dedup under the oracle: the event stream unioned with
  // itself (every event twice) must collapse back to exactly the distinct
  // event set through `dropDuplicatesWithinWatermark` state. Duplicate
  // copies share their event time, so they always land inside the watermark
  // horizon — the bounded-state guarantee this operator trades for.
  // =========================================================================
  def p28StreamDedup(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.EventStream
    EventStream.runBounded(spark, dir,
        df => EventStream.dedupedEvents(df.unionAll(df))
          .select(col("event_id"), col("user_id"), col("event_type"),
            col("value")),
        "p28_stream_dedup", outputMode = "append",
        shufflePartitions = Some(4))
      .orderBy("event_id")
  }

  val p28Sql: String =
    """SELECT event_id, user_id, event_type, value
      |FROM events
      |ORDER BY event_id""".stripMargin

  // =========================================================================
  // p30 — stream-stream interval join under the oracle: views joined to the
  // same user's purchases within 6 hours, through real watermarked join
  // state (the attribution shape). Inner-join emission is deterministic on
  // bounded availableNow input, so a plain SQL self-join with the identical
  // time predicate hash-matches.
  // =========================================================================
  def p30StreamJoin(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.EventStream
    // 4 state stores per shuffle partition for a stream-stream join; 8
    // partitions fit this state volume — 32 would quadruple commit I/O
    EventStream.runBounded(spark, dir, EventStream.viewToPurchase,
        "p30_stream_join", outputMode = "append", shufflePartitions = Some(4))
      .orderBy("user_id", "view_id", "purchase_id")
  }

  val p30Sql: String =
    """SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
      |  CAST(epoch_us(p.ts) - epoch_us(v.ts) AS BIGINT) AS lag_us
      |FROM events v JOIN events p
      |  ON v.user_id = p.user_id
      | AND v.event_type = 'view' AND p.event_type = 'purchase'
      | AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 6 HOUR
      |ORDER BY v.user_id, view_id, purchase_id""".stripMargin

  // =========================================================================
  // p31 — deterministic stratified sampling: per-language sampling shares
  // via engine-portable hash arithmetic (no RNG, no partitioning
  // dependence), oracle-replicated exactly. The training-data "rebalance
  // the language mix" operation.
  // =========================================================================
  def p31SampleStratified(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Curation
    Curation.sampleStratified(Tables.documents(spark, dir), "doc_id", "lang",
        Map("en" -> 0.5, "de" -> 0.25), defaultFraction = 0.1)
      .select(col("doc_id"), col("lang"))
      .orderBy("doc_id")
  }

  val p31Sql: String =
    """SELECT doc_id, lang
      |FROM documents
      |WHERE ((doc_id % 1000000007) * 2246822519) % 1000000007 % 10000 <
      |  CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 2500 ELSE 1000 END
      |ORDER BY doc_id""".stripMargin

  // =========================================================================
  // p33 — multimodal retrieval composition: decoded media features (real
  // codecs, p14) become the embedding column for the generic similarity
  // operator — "find images like these" over pixel statistics. No oracle
  // (custom decode stage); the kNN operator itself is p06-oracle-covered
  // and the decode is MultimodalSpec-covered.
  // =========================================================================
  def p33MediaSimilarity(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    // onlyKind prunes before payload encode/decode — 1/3 of the codec work
    val media = Multimodal.fromDocuments(spark, Tables.documents(spark, dir),
      onlyKind = Some("image"))
    val images = Multimodal.extractFeatures(media)
      .select(col("media_id").as("vec_id"), col("feature").as("embedding"))
    Similarity.bruteForceTopK(images.filter(col("vec_id") < 15), images, k = 3)
      .orderBy("query_id", "rank")
  }

  // =========================================================================
  // p34 — text normalization: the cleanup pass that runs before dedup in a
  // real curation pipeline — strip markup-ish tags, blank URLs, collapse
  // whitespace, lowercase. Scan-shaped (zero wide ops); every regex is
  // RE2-safe (no lookahead) so DuckDB replicates the chain exactly.
  // =========================================================================
  def p34TextNormalize(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"),
        trim(regexp_replace(regexp_replace(regexp_replace(
          lower(col("text")),
          "<[^>]*>", " "),
          "https?://[^\\s]+", " "),
          "\\s+", " ")).as("text_norm"))
      .select(col("doc_id"),
        length(col("text")).as("n_chars_raw"),
        length(col("text_norm")).as("n_chars_norm"),
        col("text_norm"))
      .orderBy("doc_id")

  val p34Sql: String =
    """SELECT doc_id,
      |  length(text) AS n_chars_raw,
      |  length(text_norm) AS n_chars_norm,
      |  text_norm
      |FROM (
      |  SELECT doc_id, text,
      |    trim(regexp_replace(regexp_replace(regexp_replace(
      |      lower(text),
      |      '<[^>]*>', ' ', 'g'),
      |      'https?://[^\s]+', ' ', 'g'),
      |      '\s+', ' ', 'g')) AS text_norm
      |  FROM documents)
      |ORDER BY doc_id""".stripMargin

  // =========================================================================
  // p35 — incremental dedup: a new batch (docs ≥ 250 plus ten re-labeled
  // copies of existing docs — planted cross-set duplicates) dedups against
  // the persisted index of the existing corpus (docs < 250). The planted
  // copies must drop; the rest survives. The existing corpus participates
  // only as its (fp, text) index relation.
  // =========================================================================
  def p35DedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val existing = docs.filter(col("doc_id") < 250)
    val incoming = docs.filter(col("doc_id") >= 250)
      .unionAll(docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + 10000000).as("doc_id"), col("text")))
    Dedup.exactKeptIncremental(incoming, "doc_id", "text",
        Dedup.dedupIndex(existing, "text"))
      .select(col("doc_id"))
      .orderBy("doc_id")
  }

  val p35Sql: String =
    """WITH incoming AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id >= 250
      |  UNION ALL
      |  SELECT doc_id + 10000000 AS doc_id, text FROM documents WHERE doc_id < 10),
      |kept AS (
      |  SELECT doc_id, text FROM incoming i
      |  WHERE doc_id = (SELECT MIN(i2.doc_id) FROM incoming i2
      |                  WHERE i2.text = i.text))
      |SELECT doc_id FROM kept
      |WHERE text NOT IN (SELECT text FROM documents WHERE doc_id < 250)
      |ORDER BY doc_id""".stripMargin

  // =========================================================================
  // p36 — driver-visible near-dup quality, the dedup analogue of p22: recall
  // of the three candidate-generation paths (MinHash-LSH p08, SimHash p09,
  // embedding-LSH p11) against exactly-computed ground truth. Like p22's 10
  // query vectors, ground truth is seed-restricted — every exact near-dup
  // pair touching a seed doc (id < 50): 3-shingle Jaccard ≥ 0.4 (p08's own
  // verify threshold) for the text paths, cosine ≥ 0.4 (p11's threshold)
  // for the embedding path. seed×corpus keeps the exact side scan-shaped
  // (the seed side broadcasts; never doc×doc). The Spark side recomputes
  // candidates and both exact sides natively; the oracle takes the
  // candidate sets from the Verify dumps ('{OUT}') and recomputes both
  // exact sides in DuckDB — the banding/bucketing miss rate is
  // independently checked as data.
  // =========================================================================
  def p36DedupRecall(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.cosine
    val nSeeds = 50
    val docs = Tables.documents(spark, dir)
    // Exact Jaccard WITHOUT a pair join: explode shingles, equi-join on the
    // shingle against the broadcast seed side, and count shared shingles per
    // (seed, other) — |A∩B| as a hash join + partial agg, |A∪B| from the
    // per-doc sizes. A seed×corpus nested-loop join evaluating a set kernel
    // per pair measured 10s of p36's 14s at sf0.1 (array copies per pair);
    // this shape is ~0.5s and is exactly how p21's decontamination scales.
    val sh = docs.select(col("doc_id"),
      array_distinct(TF.tokenShingles(TF.tokens(col("text")), 3)).as("sh"))
      .withColumn("sz", size(col("sh")))
    val exactText = broadcast(sh.filter(col("doc_id") < nSeeds)
        .select(col("doc_id").as("seed"), col("sz").as("sz_s"),
          explode(col("sh")).as("g")))
      .join(sh.select(col("doc_id").as("other"), col("sz").as("sz_o"),
          explode(col("sh")).as("g")),
        "g")
      .filter(col("seed") =!= col("other"))
      .groupBy(col("seed"), col("other"), col("sz_s"), col("sz_o"))
      .agg(count(lit(1)).as("inter"))
      .filter(col("inter").cast(DoubleType) /
        (col("sz_s") + col("sz_o") - col("inter")).cast(DoubleType) >= 0.4)
      .select(least(col("seed"), col("other")).as("id_a"),
        greatest(col("seed"), col("other")).as("id_b"))
      .distinct()
      .localCheckpoint(true)
    val emb = Tables.embeddings(spark, dir)
    val exactEmb = broadcast(emb.filter(col("vec_id") < nSeeds)
        .select(col("vec_id").as("seed"), col("embedding").as("v_s")))
      .join(emb.select(col("vec_id").as("other"), col("embedding").as("v_o")),
        col("seed") =!= col("other"))
      .filter(cosine(col("v_s"), col("v_o")) >= 0.4)
      .select(least(col("seed"), col("other")).as("id_a"),
        greatest(col("seed"), col("other")).as("id_b"))
      .distinct()
      .localCheckpoint(true)
    def recallOf(method: String, found: DataFrame, exact: DataFrame): DataFrame =
      found.select(col("id_a"), col("id_b"))
        .join(exact, Seq("id_a", "id_b"), "left_semi")
        .agg(count(lit(1)).as("hits"))
        .crossJoin(exact.agg(count(lit(1)).as("total")))
        .select(lit(method).as("method"), col("hits"), col("total"),
          (col("hits").cast(DoubleType) / col("total").cast(DoubleType))
            .as("recall"))
    recallOf("embed", p11EmbedNearDup(spark, dir), exactEmb)
      .unionAll(recallOf("minhash", p08DedupMinhash(spark, dir), exactText))
      .unionAll(recallOf("simhash", p09DedupSimhash(spark, dir), exactText))
      .orderBy("method")
  }

  val p36Sql: String =
    s"""WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents),
       |sh AS (SELECT doc_id,
       |    ${sqlShingle3List("toks")} AS sh FROM t),
       |exact_text AS (
       |  SELECT DISTINCT least(a.doc_id, b.doc_id) AS id_a,
       |         greatest(a.doc_id, b.doc_id) AS id_b
       |  FROM sh a JOIN sh b ON a.doc_id < 50 AND b.doc_id != a.doc_id
       |  WHERE CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) = 0 THEN 0.0
       |             ELSE len(list_intersect(a.sh, b.sh))
       |                  / len(list_distinct(list_concat(a.sh, b.sh)))
       |        END >= 0.4),
       |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |exact_emb AS (
       |  SELECT DISTINCT least(a.vec_id, b.vec_id) AS id_a,
       |         greatest(a.vec_id, b.vec_id) AS id_b
       |  FROM e a JOIN e b ON a.vec_id < 50 AND b.vec_id != a.vec_id
       |  WHERE (CASE WHEN sqrt(${sqlFoldDot("a.v", "a.v")}) = 0
       |                OR sqrt(${sqlFoldDot("b.v", "b.v")}) = 0 THEN 0.0
       |         ELSE ${sqlFoldDot("a.v", "b.v")}
       |              / (sqrt(${sqlFoldDot("a.v", "a.v")})
       |                 * sqrt(${sqlFoldDot("b.v", "b.v")}))
       |         END) >= 0.4),
       |mh AS (SELECT id_a, id_b FROM read_parquet('{OUT}/p08_dedup_minhash/*.parquet')),
       |sx AS (SELECT id_a, id_b FROM read_parquet('{OUT}/p09_dedup_simhash/*.parquet')),
       |em AS (SELECT id_a, id_b FROM read_parquet('{OUT}/p11_embed_neardup/*.parquet')),
       |h AS (
       |  SELECT 'embed' AS method,
       |    (SELECT COUNT(*) FROM em JOIN exact_emb USING (id_a, id_b)) AS hits,
       |    (SELECT COUNT(*) FROM exact_emb) AS total
       |  UNION ALL
       |  SELECT 'minhash' AS method,
       |    (SELECT COUNT(*) FROM mh JOIN exact_text USING (id_a, id_b)) AS hits,
       |    (SELECT COUNT(*) FROM exact_text) AS total
       |  UNION ALL
       |  SELECT 'simhash' AS method,
       |    (SELECT COUNT(*) FROM sx JOIN exact_text USING (id_a, id_b)) AS hits,
       |    (SELECT COUNT(*) FROM exact_text) AS total)
       |SELECT method, CAST(hits AS BIGINT) AS hits, CAST(total AS BIGINT) AS total,
       |  CAST(hits AS DOUBLE) / CAST(total AS DOUBLE) AS recall
       |FROM h
       |ORDER BY method""".stripMargin

  // =========================================================================
  // p37 — concat-and-chunk sequence packing: every document's offset in the
  // global token stream and the fixed-size context windows it lands in —
  // how a corpus becomes training sequences. The running sum is a
  // distributed prefix sum (block partials + model-sized offset cumsum +
  // within-block windows; see Curation.packChunks), never a
  // single-partition window over the data. Oracle = the plain global
  // window cumsum, which checks the blocked decomposition exactly.
  // =========================================================================
  def p37PackChunks(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Curation.packChunks(
        Tables.documents(spark, dir), "doc_id",
        nTokens = size(TF.tokens(col("text"))),
        chunkTokens = 512, blockIds = 64)
      .orderBy("doc_id")

  val p37Sql: String =
    s"""WITH t AS (SELECT doc_id, len($sqlToks) AS n FROM documents),
       |c AS (SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
       |        CAST(COALESCE(SUM(n) OVER (ORDER BY doc_id
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |          AS BIGINT) AS start_offset
       |      FROM t)
       |SELECT doc_id, n_tokens, start_offset,
       |  CAST(floor(start_offset / 512.0) AS BIGINT) AS chunk_id,
       |  CASE WHEN n_tokens > 0
       |       THEN CAST(floor((start_offset + n_tokens - 1) / 512.0) AS BIGINT)
       |            - CAST(floor(start_offset / 512.0) AS BIGINT) + 1
       |       ELSE 0 END AS chunks_spanned
       |FROM c
       |ORDER BY doc_id""".stripMargin

  // =========================================================================
  // p38 — corpus vocabulary: the 100 most frequent word bigrams. The
  // classic MapReduce word-count shape, executed the Spark-native way:
  // explode → partial+final hash aggregate (map-side combine collapses the
  // per-partition Zipf head before the exchange) → TakeOrderedAndProject
  // (k rows per partition cross the wire, no global sort of the vocabulary).
  // Ties at the cut break by the ngram itself, so top-100 is deterministic.
  // =========================================================================
  def p38TopNgrams(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(TF.tokenShingles(TF.tokens(col("text")), 2)).as("ngram"))
      .groupBy(col("ngram")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("ngram").asc)
      .limit(100)

  val p38Sql: String =
    s"""WITH t AS (SELECT $sqlToks AS toks FROM documents),
       |s AS (SELECT unnest(
       |        CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
       |             ELSE list_transform(range(1, len(toks)),
       |                    i -> toks[i] || ' ' || toks[i+1])
       |        END) AS ngram FROM t)
       |SELECT ngram, COUNT(*) AS n
       |FROM s
       |GROUP BY ngram
       |ORDER BY n DESC, ngram
       |LIMIT 100""".stripMargin

  // =========================================================================
  // p39 — domain-mix resampling: downsample per-language so the corpus hits
  // target proportions (en .4 / de .2 / zh .2 / es .1 / fr .1), keeping the
  // maximum total that availability allows (the binding domain caps N).
  // Membership is the deterministic hash threshold of Curation.domainMix —
  // no RNG, no driver collect; the whole mix computation (counts → binding
  // min → per-domain thresholds → broadcast membership join) is one plan.
  // The oracle recomputes N, the thresholds, AND the hash membership in SQL.
  // =========================================================================
  def p39DomainMix(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Curation.domainMix(
        Tables.documents(spark, dir).select("doc_id", "lang", "source"),
        "doc_id", "lang",
        Map("en" -> 0.4, "de" -> 0.2, "zh" -> 0.2, "es" -> 0.1, "fr" -> 0.1))
      .orderBy("doc_id")

  val p39Sql: String =
    """WITH tgt(lang, t) AS (VALUES
      |    ('en', CAST(0.4 AS DOUBLE)), ('de', CAST(0.2 AS DOUBLE)),
      |    ('zh', CAST(0.2 AS DOUBLE)), ('es', CAST(0.1 AS DOUBLE)),
      |    ('fr', CAST(0.1 AS DOUBLE))),
      |c AS (SELECT lang, CAST(COUNT(*) AS DOUBLE) AS cnt
      |      FROM documents GROUP BY lang),
      |j AS (SELECT lang, cnt, t FROM c JOIN tgt USING (lang) WHERE t > 0),
      |n AS (SELECT MIN(cnt / t) AS nmax FROM j),
      |r AS (SELECT lang,
      |        CAST(FLOOR(LEAST(1.0, nmax * t / cnt) * 10000) AS BIGINT)
      |          AS thresh
      |      FROM j, n)
      |SELECT d.doc_id, d.lang, d.source
      |FROM documents d JOIN r USING (lang)
      |WHERE ((d.doc_id % 1000000007) * 2246822519) % 1000000007 % 10000
      |      < r.thresh
      |ORDER BY d.doc_id""".stripMargin

  // =========================================================================
  // p40 — near-dup graph statistics: nodes/edges/wedges/triangles and the
  // global clustering coefficient of the MinHash candidate graph — how
  // clumped the duplicate structure is (boilerplate families form cliques;
  // drifting chains don't). Triangles use the degree-ordered orientation:
  // each edge points from its (degree, id)-smaller endpoint, so every
  // wedge fans out from the lowest-degree corner — max out-degree is
  // O(√m) and the wedge join cannot explode on a hub node (the standard
  // MR triangle-counting trick). Each triangle is counted exactly once
  // (the orientation is a total order). The oracle recomputes triangles
  // INDEPENDENTLY with the naive id-ordered 2-join over the p08 dump —
  // orientation-invariance means the counts must agree exactly.
  // =========================================================================
  def p40GraphStats(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.stats(p08DedupMinhash(spark, dir))
      .orderBy("n_nodes")

  val p40Sql: String =
    """WITH e AS (SELECT id_a AS u, id_b AS v
      |           FROM read_parquet('{OUT}/p08_dedup_minhash/*.parquet')),
      |deg AS (SELECT node, COUNT(*) AS dg
      |        FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
      |        GROUP BY node),
      |tri AS (SELECT COUNT(*) AS t
      |        FROM e e1 JOIN e e2 ON e1.v = e2.u
      |        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
      |agg AS (SELECT
      |  (SELECT COUNT(*) FROM deg) AS n_nodes,
      |  (SELECT COUNT(*) FROM e) AS n_edges,
      |  (SELECT CAST(FLOOR(SUM(dg * (dg - 1)) / 2.0) AS BIGINT) FROM deg)
      |    AS n_wedges,
      |  (SELECT CAST(t AS BIGINT) FROM tri) AS n_triangles)
      |SELECT n_nodes, n_edges, n_wedges, n_triangles,
      |  CASE WHEN n_wedges > 0
      |       THEN CAST(3 * n_triangles AS DOUBLE) / CAST(n_wedges AS DOUBLE)
      |       ELSE 0.0 END AS clustering
      |FROM agg
      |ORDER BY n_nodes""".stripMargin

  // =========================================================================
  // p41 — near-dup cluster summarization: the embedding centroid of every
  // duplicate cluster (the vector a curation pipeline uses to pick a
  // canonical representative or to prune whole families against a quality
  // centroid). Membership comes from the same O(log n) star contraction as
  // p24; sums stage through DECIMAL(38,18) so the per-dimension centroid is
  // bit-deterministic under any partitioning (the Lloyd-iteration
  // convention), renarrowed to scale 6 at the boundary. The oracle derives
  // membership INDEPENDENTLY (gaps-and-islands over the adjacent-pair
  // graph) and recomputes the decimal-staged sums per dimension.
  // =========================================================================
  def p41ClusterCentroids(spark: SparkSession, dir: String): DataFrame = {
    val edges = p07NgramJaccard(spark, dir)
      .filter(col("jaccard") >= 0.05)
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"))
    val labels = Dedup.connectedComponentsStar(edges)
    val emb = Tables.embeddings(spark, dir)
    labels.join(emb, labels("id") === emb("vec_id"))
      .select(col("component").as("cluster_id"),
        posexplode(col("embedding")).as(Seq("pos0", "x")))
      .select(col("cluster_id"), (col("pos0") + 1).as("pos"),
        col("x").cast(DoubleType).cast(DecimalType(38, 18)).as("xv"))
      .groupBy(col("cluster_id"), col("pos"))
      .agg(count(lit(1)).as("n_members"),
        sum(col("xv")).cast(DecimalType(28, 6)).cast(DoubleType).as("sum_x"))
      .select(col("cluster_id"), col("pos"), col("n_members"), col("sum_x"),
        (col("sum_x") / col("n_members").cast(DoubleType)).as("mean_x"))
      .orderBy("cluster_id", "pos")
  }

  val p41Sql: String =
    s"""WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents),
       |sh AS (SELECT doc_id,
       |    list_distinct(CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
       |         ELSE list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
       |    END) AS sh FROM t),
       |j AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) = 0 THEN 0.0
       |       ELSE len(list_intersect(a.sh, b.sh)) / len(list_distinct(list_concat(a.sh, b.sh)))
       |  END AS jaccard
       |  FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1),
       |e AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.05),
       |d AS (SELECT DISTINCT doc_id FROM
       |       (SELECT doc_a AS doc_id FROM e UNION ALL SELECT doc_b FROM e)),
       |m AS (SELECT doc_id,
       |       CASE WHEN EXISTS (SELECT 1 FROM e WHERE e.doc_b = d.doc_id)
       |            THEN 0 ELSE 1 END AS is_start
       |      FROM d),
       |c AS (SELECT doc_id,
       |       SUM(is_start) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS grp
       |      FROM m),
       |mem AS (SELECT doc_id, MIN(doc_id) OVER (PARTITION BY grp) AS cluster_id
       |        FROM c),
       |emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |x AS (SELECT mem.cluster_id, CAST(dims.i AS INT) AS pos,
       |        CAST(v[dims.i] AS DECIMAL(38,18)) AS xv
       |      FROM mem JOIN emb ON emb.vec_id = mem.doc_id
       |      CROSS JOIN (SELECT unnest(range(1, 65)) AS i) dims)
       |SELECT cluster_id, pos, COUNT(*) AS n_members,
       |  CAST(ROUND(SUM(xv), 6) AS DOUBLE) AS sum_x,
       |  CAST(ROUND(SUM(xv), 6) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_x
       |FROM x GROUP BY cluster_id, pos
       |ORDER BY cluster_id, pos""".stripMargin

  // =========================================================================
  // p42 — BM25 retrieval: global top-50 for a fixed query-term set. The
  // canonical sparse-retrieval scan a training pipeline runs to mine
  // topic-relevant documents. Log-free "rational" idf keeps every term an
  // IEEE double derived from exact integers, so the oracle (mirroring the
  // association order term-for-term) is bit-exact; per-doc sums stage
  // through DECIMAL(38,18) (see Retrieval.bm25TopK for the scale design:
  // query-vocab filter before the tf exchange, broadcast df/stats,
  // TakeOrderedAndProject top-k).
  // =========================================================================
  private val p42Terms = Seq("spark", "vector", "window", "stream")

  def p42Bm25(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Retrieval.bm25TopK(
      Tables.documents(spark, dir), "doc_id", "text", p42Terms, 50)

  val p42Sql: String = s"WITH ${sqlBm25Top("42", sqlBm25Ctes("42", p42Terms), 50)}"

  // =========================================================================
  // p43 — PII scrubbing: redact emails / phone numbers / IPv4s and keep the
  // per-kind audit counts. The synthetic corpus carries no natural PII, so
  // the query derives a deterministic contact string per doc IN-PLAN (both
  // engines build the identical string from doc_id/lang) and scrubs that —
  // the regex machinery does real work and the oracle checks the exact
  // redacted output. Patterns are RE2-safe and shared verbatim.
  // =========================================================================
  def p43PiiRedact(spark: SparkSession, dir: String): DataFrame = {
    val contact = concat(
      substring(col("text"), 1, 40),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@mail-"), col("lang"), lit(".example.com or call +1-555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
      lit(" from 10.0."), (col("doc_id") % 256).cast("string"), lit("."),
      ((col("doc_id") * 7) % 256).cast("string"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), contact.as("raw"))
      .select(col("doc_id"),
        TF.redactPii(col("raw")).as("redacted"),
        TF.piiCount(col("raw"), TF.emailPattern).as("n_emails"),
        TF.piiCount(col("raw"), TF.phonePattern).as("n_phones"),
        TF.piiCount(col("raw"), TF.ipv4Pattern).as("n_ips"))
      .orderBy("doc_id")
  }

  val p43Sql: String = {
    val email = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    val phone = "\\+[0-9]{1,3}-[0-9]{3,4}-[0-9]{4}"
    val ip = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
    s"""WITH raw AS (
       |  SELECT doc_id,
       |    substr(text, 1, 40) || ' contact user' || CAST(doc_id AS VARCHAR) ||
       |    '@mail-' || lang || '.example.com or call +1-555-' ||
       |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
       |    ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' ||
       |    CAST((doc_id * 7) % 256 AS VARCHAR) AS raw
       |  FROM documents)
       |SELECT doc_id,
       |  regexp_replace(regexp_replace(regexp_replace(raw,
       |    '$email', '<EMAIL>', 'g'),
       |    '$phone', '<PHONE>', 'g'),
       |    '$ip', '<IP>', 'g') AS redacted,
       |  len(regexp_extract_all(raw, '$email')) AS n_emails,
       |  len(regexp_extract_all(raw, '$phone')) AS n_phones,
       |  len(regexp_extract_all(raw, '$ip')) AS n_ips
       |FROM raw ORDER BY doc_id""".stripMargin
  }

  // =========================================================================
  // p44 — canonical selection: for every near-dup cluster (same edge set as
  // p24/p41), keep the highest-quality member (ties → min doc_id) — the
  // "which duplicate survives" decision made on merit instead of
  // arbitrarily. Membership labels come from the O(log n) star contraction;
  // the oracle re-derives membership independently (gaps-and-islands) and
  // re-ranks with the p03 quality formula.
  // =========================================================================
  def p44CanonicalKeep(spark: SparkSession, dir: String): DataFrame = {
    val edges = p07NgramJaccard(spark, dir)
      .filter(col("jaccard") >= 0.05)
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"))
    val quality = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), TF.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        TF.qualityScoreFromTokens(col("text"), col("toks")).as("quality"))
    Dedup.canonicalPerCluster(edges, quality, "doc_id", "quality")
      .orderBy("cluster_id")
  }

  val p44Sql: String = {
    s"""WITH b44 AS (SELECT doc_id, text, $sqlToks AS toks FROM documents),
       |${sqlQualityCtes("44", "b44", "doc_id")},
       |t AS (SELECT doc_id, $sqlToks AS toks FROM documents),
       |sh AS (SELECT doc_id,
       |    list_distinct(CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
       |         ELSE list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
       |    END) AS sh FROM t),
       |j AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) = 0 THEN 0.0
       |       ELSE len(list_intersect(a.sh, b.sh)) / len(list_distinct(list_concat(a.sh, b.sh)))
       |  END AS jaccard
       |  FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1),
       |e AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.05),
       |d AS (SELECT DISTINCT doc_id FROM
       |       (SELECT doc_a AS doc_id FROM e UNION ALL SELECT doc_b FROM e)),
       |mst AS (SELECT doc_id,
       |       CASE WHEN EXISTS (SELECT 1 FROM e WHERE e.doc_b = d.doc_id)
       |            THEN 0 ELSE 1 END AS is_start
       |      FROM d),
       |c AS (SELECT doc_id,
       |       SUM(is_start) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS grp
       |      FROM mst),
       |mem AS (SELECT doc_id, MIN(doc_id) OVER (PARTITION BY grp) AS cluster_id
       |        FROM c),
       |r AS (SELECT mem.cluster_id, mem.doc_id, q44.quality,
       |        ROW_NUMBER() OVER (PARTITION BY mem.cluster_id
       |                           ORDER BY q44.quality DESC, mem.doc_id) AS rn,
       |        COUNT(*) OVER (PARTITION BY mem.cluster_id) AS n_members
       |      FROM mem JOIN q44 USING (doc_id))
       |SELECT cluster_id, doc_id AS keep_id, n_members, quality
       |FROM r WHERE rn = 1
       |ORDER BY cluster_id""".stripMargin
  }

  // =========================================================================
  // p45 — column profiling: the pre-training data-quality sweep (rows,
  // nulls, exact distinct counts, min/max) in ONE aggregation pass,
  // unpivoted in-plan to a row per column (see Profiling.profile; at 100 TB
  // the exact distinct counts swap to HLL sketches via exact=false).
  // =========================================================================
  private val p45Cols =
    Seq("l_discount", "l_extendedprice", "l_quantity", "l_tax")

  def p45ColumnProfile(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Profiling.profile(Tables.lineitem(spark, dir), p45Cols)

  val p45Sql: String = {
    val aggs = p45Cols.zipWithIndex.flatMap { case (c, i) => Seq(
      s"COUNT($c) AS c$i", s"COUNT(DISTINCT $c) AS d$i",
      s"MIN(CAST($c AS DOUBLE)) AS mn$i", s"MAX(CAST($c AS DOUBLE)) AS mx$i")
    }.mkString(",\n  ")
    val rows = p45Cols.zipWithIndex.map { case (c, i) =>
      s"""SELECT '$c' AS column_name, n_rows, n_rows - c$i AS n_nulls,
         |  d$i AS n_distinct, mn$i AS min_value, mx$i AS max_value FROM a"""
        .stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH a AS (SELECT COUNT(*) AS n_rows,
       |  $aggs
       |FROM lineitem)
       |$rows
       |ORDER BY column_name""".stripMargin
  }

  // =========================================================================
  // p46 — deterministic sharded shuffle: the order-randomization step before
  // training shards are written. Multiplicative-hash rank → shard → in-shard
  // position (window over the shard partitioning — never a global
  // row_number). Engine-portable integer arithmetic; the oracle replays the
  // identical permutation.
  // =========================================================================
  def p46ShuffleShards(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Curation
      .shuffleShards(Tables.documents(spark, dir), "doc_id", 8)
      .orderBy("shard", "pos")

  val p46Sql: String =
    """WITH r AS (SELECT doc_id,
      |    ((doc_id % 1000000007) * 3266489917) % 1000000007 AS rkey
      |  FROM documents)
      |SELECT doc_id, CAST(rkey % 8 AS INT) AS shard,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY rkey % 8
      |                          ORDER BY rkey, doc_id) AS INT) AS pos
      |FROM r ORDER BY shard, pos""".stripMargin

  // =========================================================================
  // p47 — overlapping sliding-window chunking: size-32 token windows at
  // stride 16 per document (the RAG/embedding chunking step; packChunks/p37
  // is the non-overlapping concat-and-cut sibling). Scan-shaped — explode +
  // slice, no shuffle before the presentation sort.
  // =========================================================================
  def p47SlidingWindows(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Curation.slidingWindows(
      Tables.documents(spark, dir), "doc_id", TF.tokens(col("text")), 32, 16)
      .orderBy("doc_id", "win_id")

  val p47Sql: String =
    s"""WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents),
       |n AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
       |w AS (SELECT doc_id, toks, unnest(range(0, n, 16)) AS start FROM n)
       |SELECT doc_id, CAST(start // 16 AS INT) AS win_id,
       |  array_to_string(list_slice(toks, start + 1, start + 32), ' ') AS win_text,
       |  len(list_slice(toks, start + 1, start + 32)) AS n_win_tokens
       |FROM w
       |ORDER BY doc_id, win_id""".stripMargin

  // =========================================================================
  // p48 — keyword extraction: top-3 terms per document by tf-idf (rational
  // log-free idf — each score is ONE IEEE product of exactly-derived
  // doubles, so no decimal staging is needed). Document frequency is a
  // partial+final aggregation joined back on term — skew-safe where a
  // term-partitioned window is not; see Retrieval.topKeywords.
  // =========================================================================
  def p48Keywords(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Retrieval
      .topKeywords(Tables.documents(spark, dir), "doc_id", "text", 3)
      .orderBy("doc_id", "rank")

  val p48Sql: String =
    s"""WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents),
       |d AS (SELECT doc_id, toks FROM t),
       |s AS (SELECT COUNT(*) AS n_docs FROM d),
       |e AS (SELECT doc_id, unnest(toks) AS term FROM d),
       |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM e GROUP BY doc_id, term),
       |wd AS (SELECT doc_id, term, tf,
       |         COUNT(*) OVER (PARTITION BY term) AS df FROM tf),
       |sc AS (SELECT doc_id, term,
       |        CAST(tf AS DOUBLE) *
       |          (((CAST(s.n_docs AS DOUBLE) - CAST(df AS DOUBLE)) + 0.5)
       |           / (CAST(df AS DOUBLE) + 0.5)) AS score
       |       FROM wd CROSS JOIN s),
       |r AS (SELECT doc_id, term, score,
       |        CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
       |                                ORDER BY score DESC, term) AS INT) AS rank
       |      FROM sc)
       |SELECT doc_id, rank, term, score FROM r WHERE rank <= 3
       |ORDER BY doc_id, rank""".stripMargin

  // =========================================================================
  // p49 — shingle novelty: the share of each document's distinct 3-gram
  // shingles appearing in NO other document — the inverse-duplication
  // diversity metric tracked per source. Shingle df via partial+final
  // aggregation + join (skew-safe on boilerplate grams); never doc×doc.
  // See Dedup.shingleNovelty.
  // =========================================================================
  def p49Novelty(spark: SparkSession, dir: String): DataFrame =
    Dedup.shingleNovelty(Tables.documents(spark, dir), "doc_id", "text", 3)
      .orderBy("doc_id")

  val p49Sql: String =
    s"""WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents),
       |sh AS (SELECT doc_id,
       |    ${sqlShingle3List("toks")} AS sh FROM t),
       |e AS (SELECT doc_id, unnest(sh) AS gram FROM sh),
       |w AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY gram) AS df FROM e)
       |SELECT doc_id, COUNT(*) AS n_shingles,
       |  CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
       |  CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) / COUNT(*)
       |    AS novelty
       |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // =========================================================================
  // p50 — PageRank over the near-dup graph (which family members are most
  // central — the hub boilerplate vs its drifted copies). Integer-scaled:
  // ranks carry as rank×10^12 BIGINTs, damping is the exact rational
  // 85/100, every step is integer division — bit-deterministic under any
  // partitioning, and the oracle replays the exact 3 iterations unrolled
  // in SQL. Same edge set as p24/p41/p44.
  // =========================================================================
  def p50PageRank(spark: SparkSession, dir: String): DataFrame = {
    val edges = p07NgramJaccard(spark, dir)
      .filter(col("jaccard") >= 0.05)
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"))
    graft.operators.Graph.pageRankScaled(edges, iters = 3)
      .select(col("id").as("doc_id"), col("pr"))
      .orderBy("doc_id")
  }

  val p50Sql: String = {
    def it(prev: String, out: String) =
      s"""$out AS (SELECT dir.dst AS id,
         |     ((15 * 1000000000000) // (100 * nn.n)) +
         |       ((85 * CAST(SUM($prev.pr // deg.deg) AS BIGINT)) // 100) AS pr
         |   FROM dir JOIN deg ON deg.src = dir.src
         |   JOIN $prev ON $prev.id = dir.src CROSS JOIN nn
         |   GROUP BY dir.dst, nn.n)""".stripMargin
    s"""WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents),
       |sh AS (SELECT doc_id,
       |    list_distinct(CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
       |         ELSE list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
       |    END) AS sh FROM t),
       |j AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) = 0 THEN 0.0
       |       ELSE len(list_intersect(a.sh, b.sh)) / len(list_distinct(list_concat(a.sh, b.sh)))
       |  END AS jaccard
       |  FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1),
       |e AS (SELECT doc_a, doc_b FROM j WHERE jaccard >= 0.05),
       |dir AS (SELECT doc_a AS src, doc_b AS dst FROM e
       |        UNION ALL SELECT doc_b AS src, doc_a AS dst FROM e),
       |deg AS (SELECT src, COUNT(*) AS deg FROM dir GROUP BY src),
       |nn AS (SELECT COUNT(*) AS n FROM deg),
       |p0 AS (SELECT src AS id, 1000000000000 // n AS pr
       |       FROM deg CROSS JOIN nn),
       |${it("p0", "it1")},
       |${it("it1", "it2")},
       |${it("it2", "it3")}
       |SELECT id AS doc_id, CAST(pr AS BIGINT) AS pr FROM it3
       |ORDER BY doc_id""".stripMargin
  }

  // =========================================================================
  // p51 — stream-static enrichment join: the streaming purchase feed joined
  // against the (broadcast) customer dimension — the lookup-enrichment
  // pattern every event pipeline runs. Stateless (no watermark state), so
  // append mode on bounded input is deterministic and the oracle is the
  // plain batch join.
  // =========================================================================
  def p51StreamEnrich(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.EventStream
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    EventStream.runBounded(spark, dir,
        ev => ev.filter(col("event_type") === "purchase")
          .join(broadcast(cust), col("user_id") === col("c_custkey"))
          .select(col("event_id"), col("user_id"), col("c_mktsegment"),
            col("value")),
        "p51_stream_enrich", outputMode = "append",
        shufflePartitions = Some(4))
      .orderBy("event_id")
  }

  val p51Sql: String =
    """SELECT e.event_id, e.user_id, c.c_mktsegment, e.value
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey
      |WHERE e.event_type = 'purchase'
      |ORDER BY event_id""".stripMargin

  // =========================================================================
  // p52 — equi-width histogram of lineitem extended prices: min/max
  // aggregate broadcast into a binning scan, partial+final counts — the
  // distribution sweep a pipeline runs next to p45's profile. Binning
  // arithmetic is IEEE doubles over exact bounds, mirrored by the oracle.
  // =========================================================================
  def p52Histogram(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Profiling
      .histogram(Tables.lineitem(spark, dir), "l_extendedprice", 20)

  val p52Sql: String =
    """WITH mm AS (SELECT MIN(CAST(l_extendedprice AS DOUBLE)) AS mn,
      |                  MAX(CAST(l_extendedprice AS DOUBLE)) AS mx
      |            FROM lineitem),
      |b AS (SELECT CASE WHEN mm.mx = mm.mn THEN 0
      |        ELSE CAST(least(floor((CAST(l_extendedprice AS DOUBLE) - mm.mn)
      |                              / ((mm.mx - mm.mn) / 20.0)), 19.0) AS INT)
      |        END AS bin
      |      FROM lineitem CROSS JOIN mm
      |      WHERE l_extendedprice IS NOT NULL)
      |SELECT b.bin,
      |  mm.mn + (CAST(b.bin AS DOUBLE) * ((mm.mx - mm.mn) / 20.0)) AS bin_lo,
      |  mm.mn + (CAST(b.bin + 1 AS DOUBLE) * ((mm.mx - mm.mn) / 20.0)) AS bin_hi,
      |  COUNT(*) AS n
      |FROM b CROSS JOIN mm
      |GROUP BY b.bin, mm.mn, mm.mx
      |ORDER BY bin""".stripMargin

  // =========================================================================
  // p53 — decontamination via bloom prefilter: p21's check re-shaped for
  // 100 TB. The benchmark shingle set compresses into a ~100 KB bloom
  // filter (Spark's own BloomFilterAggregate, bridged — broadcast for
  // free vs shipping the full set), the corpus scan prefilters with
  // mightContain (no join), and only candidate hits pay the exact verify
  // join. False positives die in the verify step, so the result is EXACT:
  // it shares p21's oracle verbatim — the rewrite is proven
  // behavior-preserving, not just plausible.
  // =========================================================================
  def p53ContaminationBloom(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.BloomFunctions
    val shingled = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        array_distinct(TF.tokenShingles(TF.tokens(col("text")), 5)).as("sh"))
    val benchGrams = shingled.filter(col("source") === "src0")
      .select(explode(col("sh")).as("gram")).distinct()
    // the filter binary is model-sized (numBits/8 ≈ 125 KB) and
    // mightContain requires a CONSTANT bloom — materialize it driver-side
    // and inline as a literal, exactly how Spark's own runtime filter
    // injects its bloom (and the same bounded-pull class as the IVF
    // centroid bank)
    val bloomBytes = benchGrams
      .agg(BloomFunctions.bloomAgg(xxhash64(col("gram")), 100000L, 1000000L)
        .as("bloom"))
      .head().getAs[Array[Byte]]("bloom")
    shingled.filter(col("source") =!= "src0")
      .select(col("doc_id"), explode(col("sh")).as("gram"))
      .filter(BloomFunctions.mightContain(lit(bloomBytes),
        xxhash64(col("gram"))))
      .select(col("doc_id"), col("gram"))
      .join(broadcast(benchGrams), "gram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared_grams"))
      .filter(col("n_shared_grams") >= 3)
      .orderBy("doc_id")
  }
  // oracle: p21Sql — identical final semantics by construction.

  // =========================================================================
  // p54 — Z-order (Morton) values for data layout: interleave part/supplier
  // keys so range predicates on EITHER dimension prune file zones. Pure
  // shift/mask bit arithmetic (codegen-friendly, no UDF), replayed
  // bit-for-bit by the oracle; the layout writer itself
  // (Layout.zOrdered: repartitionByRange(zval) + sortWithinPartitions) is
  // exercised in RetrievalCurationSpec.
  // =========================================================================
  def p54ZOrder(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        graft.operators.Layout.zValue(col("l_partkey"), col("l_suppkey"))
          .as("zval"))
      .orderBy(col("zval"), col("l_orderkey"), col("l_linenumber"))
      .limit(100)

  val p54Sql: String = {
    def step(v: String, shift: Int, mask: Long) =
      s"(($v | ($v << $shift)) & $mask)"
    def spread(x: String) = {
      var v = s"($x & 65535)"
      for ((sh, m) <- Seq((8, 0x00FF00FFL), (4, 0x0F0F0F0FL),
        (2, 0x33333333L), (1, 0x55555555L))) v = step(v, sh, m)
      v
    }
    val z = s"(${spread("l_partkey")} | (${spread("l_suppkey")} << 1))"
    s"""SELECT l_orderkey, l_linenumber, $z AS zval
       |FROM lineitem
       |ORDER BY zval, l_orderkey, l_linenumber
       |LIMIT 100""".stripMargin
  }

  // =========================================================================
  // p55 — per-domain score calibration: quality scores are only comparable
  // WITHIN a language/domain (length/stopword priors differ), so curation
  // thresholds operate on the per-domain percentile, not the raw score.
  // Computed DISTRIBUTED (Curation.percentRankByDomain): a lang-partitioned
  // window would funnel each language's whole corpus through one partition
  // at 100 TB; the range-partitioned prefix-sum form splits hot domains
  // across partitions. The oracle is the naive window formulation
  // (percent_rank + ntile), so the green row PROVES the distributed
  // rewrite equals the window semantics exactly.
  // =========================================================================
  def p55ScoreCalibration(spark: SparkSession, dir: String): DataFrame = {
    val quality = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("text"),
        TF.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("lang"),
        TF.qualityScoreFromTokens(col("text"), col("toks")).as("quality"))
    graft.operators.Curation
      .percentRankByDomain(quality, "lang", "quality", "doc_id", 10)
      .select(col("doc_id"), col("lang"), col("quality"),
        col("pct_rank"), col("tile").as("decile"))
      .orderBy("doc_id")
  }

  val p55Sql: String = {
    s"""WITH b55 AS (SELECT doc_id, lang, text, $sqlToks AS toks FROM documents),
       |${sqlQualityCtes("55", "b55", "doc_id, lang")}
       |SELECT doc_id, lang, quality,
       |  percent_rank() OVER (PARTITION BY lang ORDER BY quality, doc_id)
       |    AS pct_rank,
       |  CAST(ntile(10) OVER (PARTITION BY lang ORDER BY quality, doc_id)
       |       AS INT) AS decile
       |FROM q55
       |ORDER BY doc_id""".stripMargin
  }

  // =========================================================================
  // p56 — the capstone composition: the full curation chain as ONE Catalyst
  // plan. quality filter → fingerprint-first exact dedup (8 bytes through
  // the exchange) → decontamination anti-join (broadcast benchmark hits) →
  // deterministic train/val/test split. Each stage is an operator proven
  // individually (p03/p17, p26, p21, p18); this query proves they COMPOSE
  // without materialization barriers, and the oracle recomposes the whole
  // chain independently in SQL.
  // =========================================================================
  def p56CurationPipeline(spark: SparkSession, dir: String): DataFrame = {
    val scored = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("text"),
        TF.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("lang"), col("text"),
        TF.qualityScoreFromTokens(col("text"), col("toks")).as("quality"))
      .filter(col("quality") >= 0.5)
    val kept = Dedup.exactKeptByFingerprint(scored, "doc_id", "text")
    val contaminated = p21Contamination(spark, dir).select(col("doc_id"))
    val clean = kept.join(broadcast(contaminated), Seq("doc_id"), "left_anti")
    graft.operators.Curation.hashSplit(clean, "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select(col("doc_id"), col("lang"), col("split"))
      .orderBy("doc_id")
  }

  val p56Sql: String = {
    s"""WITH b56 AS (SELECT doc_id, lang, source, text, $sqlToks AS toks
       |             FROM documents),
       |${sqlQualityCtes("56", "b56", "doc_id, lang, text")},
       |pass AS (SELECT doc_id, lang, text FROM q56 WHERE quality >= 0.5),
       |kept AS (SELECT doc_id, lang FROM pass
       |  WHERE doc_id IN (SELECT MIN(doc_id) FROM pass GROUP BY text)),
       |${sqlContaminationCtes("56", "b56")},
       |clean AS (SELECT doc_id, lang FROM kept
       |          WHERE doc_id NOT IN (SELECT doc_id FROM cont56))
       |SELECT doc_id, lang, ${sqlSplitCase("doc_id")} AS split
       |FROM clean
       |ORDER BY doc_id""".stripMargin
  }

  // =========================================================================
  // p57 — incremental corpus upsert: a delta batch (revised texts + brand-new
  // docs) merged into the standing corpus with MERGE semantics — incoming
  // rows replace same-id rows wholesale, everything else survives. The delta
  // is derived in-plan from the same table (every 5th doc revised, every 7th
  // re-keyed past the id range as a brand-new doc) so the query is
  // deterministic; the oracle recomputes the merge as a FULL OUTER JOIN.
  // =========================================================================
  def p57CorpusUpsert(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("text"), lit(0L).as("rev"))
    val revised = Tables.documents(spark, dir)
      .filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("lang"),
        concat(col("text"), lit(" v2")).as("text"), lit(1L).as("rev"))
    val fresh = Tables.documents(spark, dir)
      .filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"),
        col("text"), lit(1L).as("rev"))
    graft.operators.Curation
      .upsert(base, revised.unionAll(fresh), Seq("doc_id"))
      .select(col("doc_id"), col("rev"), length(col("text")).as("n_chars"),
        col("lang"))
      .orderBy("doc_id")
  }

  val p57Sql: String =
    """WITH base AS (SELECT doc_id, lang, text, CAST(0 AS BIGINT) AS rev
      |              FROM documents),
      |inc AS (
      |  SELECT doc_id, lang, text || ' v2' AS text, CAST(1 AS BIGINT) AS rev
      |  FROM documents WHERE doc_id % 5 = 0
      |  UNION ALL
      |  SELECT doc_id + 1000000, lang, text, CAST(1 AS BIGINT)
      |  FROM documents WHERE doc_id % 7 = 0),
      |up AS (
      |  SELECT COALESCE(i.doc_id, b.doc_id) AS doc_id,
      |         CASE WHEN i.doc_id IS NOT NULL THEN i.rev  ELSE b.rev  END AS rev,
      |         CASE WHEN i.doc_id IS NOT NULL THEN i.text ELSE b.text END AS text,
      |         CASE WHEN i.doc_id IS NOT NULL THEN i.lang ELSE b.lang END AS lang
      |  FROM base b FULL OUTER JOIN inc i ON b.doc_id = i.doc_id)
      |SELECT doc_id, rev, length(text) AS n_chars, lang
      |FROM up ORDER BY doc_id""".stripMargin

  // =========================================================================
  // p58 — token commonness: per-doc quality signal from corpus-wide unigram
  // occurrence counts (docs dominated by rare/garbage tokens score low).
  // All counts are exact integers; the two ratios are single long/long IEEE
  // divisions, so the oracle is bit-exact. The token→frequency join is the
  // canonical hot-key join ("the" matches every doc): routed through
  // Skew.saltedJoin so no single reducer owns a stopword at 100 TB. The
  // frequency table itself comes from a partial+final hash aggregation.
  // =========================================================================
  def p58TokenCommonness(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(TF.tokens(col("text"))).as("tok"))
    val freq = toks.groupBy(col("tok")).agg(count(lit(1)).as("tok_tf"))
    graft.operators.Skew.saltedJoin(toks, freq, Seq("tok"), salts = 8)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("tok_tf")).as("__sum_tf"),
        sum(when(col("tok_tf") <= 2, 1L).otherwise(0L)).as("n_rare"))
      .select(col("doc_id"), col("n_tokens"), col("n_rare"),
        (col("__sum_tf") / col("n_tokens")).as("mean_tf"),
        (col("n_rare") / col("n_tokens")).as("rare_ratio"))
      .orderBy("doc_id")
  }

  val p58Sql: String =
    s"""WITH t AS (SELECT doc_id, unnest($sqlToks) AS tok FROM documents),
       |f AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS tok_tf FROM t GROUP BY tok)
       |SELECT doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |  CAST(SUM(CASE WHEN tok_tf <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
       |  CAST(SUM(tok_tf) AS BIGINT) / CAST(COUNT(*) AS BIGINT) AS mean_tf,
       |  CAST(SUM(CASE WHEN tok_tf <= 2 THEN 1 ELSE 0 END) AS BIGINT)
       |    / CAST(COUNT(*) AS BIGINT) AS rare_ratio
       |FROM t JOIN f USING (tok)
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  // =========================================================================
  // p59 — bigram LM scoring: each document scored by the mean conditional
  // probability of its bigrams under the corpus's own bigram model —
  // p(w2|w1) = count(w1 w2) / count(w1 ·) — the KenLM-style fluency filter
  // (boilerplate scores high, token salad scores low), made bit-exact by
  // holding probabilities as SCALE-multiplied integer divisions instead of
  // logs. All joins that carry a stopword context ("the …" matches every
  // doc) go through Skew.saltedJoin. Overflow-safe to 100 TB: bigram count
  // ≤ ~1e10 there, ×1e6 scale < 2^63.
  // =========================================================================
  def p59BigramLm(spark: SparkSession, dir: String): DataFrame = {
    val bg = Tables.documents(spark, dir)
      .select(col("doc_id"), TF.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(toks) - 2)," +
          " i -> concat(toks[i], ' ', toks[i + 1]))")).as("gram"))
    // gram determines its context w1 (tokens cannot contain the separator)
    val cnt = bg.groupBy(col("gram"))
      .agg(count(lit(1)).as("bg_n"))
      .withColumn("w1", substring_index(col("gram"), " ", 1))
    val ctx = cnt.groupBy(col("w1")).agg(sum(col("bg_n")).as("ctx_n"))
    val stats = graft.operators.Skew
      .saltedJoin(cnt, ctx, Seq("w1"), salts = 8)
      .select(col("gram"), col("bg_n"),
        expr("bg_n * 1000000L div ctx_n").as("p_scaled"))
    graft.operators.Skew.saltedJoin(bg, stats, Seq("gram"), salts = 8)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("p_scaled")).as("__sum_p"),
        sum(when(col("bg_n") === 1, 1L).otherwise(0L)).as("n_unique"))
      .select(col("doc_id"), col("n_bigrams"), col("n_unique"),
        (col("__sum_p") / col("n_bigrams")).as("mean_cond_p"),
        (col("n_unique") / col("n_bigrams")).as("novelty"))
      .orderBy("doc_id")
  }

  val p59Sql: String =
    s"""WITH b59 AS (SELECT doc_id, $sqlToks AS toks FROM documents),
       |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
       |         i -> toks[i] || ' ' || toks[i + 1])) AS gram
       |       FROM b59 WHERE len(toks) >= 2),
       |cnt AS (SELECT gram, split_part(gram, ' ', 1) AS w1,
       |               CAST(COUNT(*) AS BIGINT) AS bg_n
       |        FROM bg GROUP BY gram),
       |ctx AS (SELECT w1, CAST(SUM(bg_n) AS BIGINT) AS ctx_n
       |        FROM cnt GROUP BY w1),
       |st AS (SELECT gram, bg_n, bg_n * 1000000 // ctx_n AS p_scaled
       |       FROM cnt JOIN ctx USING (w1))
       |SELECT doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       |  CAST(SUM(CASE WHEN bg_n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
       |  CAST(SUM(p_scaled) AS BIGINT) / CAST(COUNT(*) AS BIGINT) AS mean_cond_p,
       |  CAST(SUM(CASE WHEN bg_n = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    / CAST(COUNT(*) AS BIGINT) AS novelty
       |FROM bg JOIN st USING (gram)
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  // =========================================================================
  // p60 — corpus snapshot diff: the audit step between corpus versions.
  // The "next" snapshot is derived in-plan (every 5th doc revised, every
  // non-revised 11th-remainder-3 doc dropped, every 7th re-keyed as new) and
  // each key is classified added / removed / changed / same. Null-safe
  // column compares; the oracle replays the diff as a FULL OUTER JOIN.
  // =========================================================================
  def p60SnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    def docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("text"))
    val revised = docs.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("lang"),
        concat(col("text"), lit(" v2")).as("text"))
    val kept = docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 11 =!= 3)
    val fresh = docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"), col("text"))
    val next = revised.unionAll(kept).unionAll(fresh)
    graft.operators.Curation
      .snapshotDiff(docs, next, Seq("doc_id"), Seq("lang", "text"))
      .orderBy("doc_id")
  }

  val p60Sql: String =
    """WITH olds AS (SELECT doc_id, lang, text FROM documents),
      |news AS (
      |  SELECT doc_id, lang, text || ' v2' AS text FROM documents
      |  WHERE doc_id % 5 = 0
      |  UNION ALL
      |  SELECT doc_id, lang, text FROM documents
      |  WHERE doc_id % 5 <> 0 AND doc_id % 11 <> 3
      |  UNION ALL
      |  SELECT doc_id + 1000000, lang, text FROM documents
      |  WHERE doc_id % 7 = 0)
      |SELECT COALESCE(n.doc_id, o.doc_id) AS doc_id,
      |  CASE WHEN o.doc_id IS NULL THEN 'added'
      |       WHEN n.doc_id IS NULL THEN 'removed'
      |       WHEN o.lang IS NOT DISTINCT FROM n.lang
      |        AND o.text IS NOT DISTINCT FROM n.text THEN 'same'
      |       ELSE 'changed' END AS diff_status
      |FROM olds o FULL OUTER JOIN news n ON o.doc_id = n.doc_id
      |ORDER BY doc_id""".stripMargin

  // =========================================================================
  // p61 — quality-weighted importance sampling: keep probability ∝ quality
  // score, decided by deterministic row-local hash arithmetic (multiplier
  // distinct from split/shard/strata hashes, so membership composes
  // independently with all of them). The oracle replays hash and threshold
  // exactly; quality doubles are bit-identical per p03/p55.
  // =========================================================================
  def p61ImportanceSample(spark: SparkSession, dir: String): DataFrame = {
    val scored = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), TF.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        TF.qualityScoreFromTokens(col("text"), col("toks")).as("quality"))
    graft.operators.Curation
      .importanceSample(scored, "doc_id", col("quality"), 1000)
      .select(col("doc_id"), col("quality"))
      .orderBy("doc_id")
  }

  val p61Sql: String =
    s"""WITH b61 AS (SELECT doc_id, text, $sqlToks AS toks FROM documents),
       |${sqlQualityCtes("61", "b61", "doc_id")}
       |SELECT doc_id, quality FROM q61
       |WHERE ((((doc_id % 1000000007) + 1000000007) % 1000000007)
       |        * 668265263) % 1000000007 % 1000 < floor(quality * 1000)
       |ORDER BY doc_id""".stripMargin

  // =========================================================================
  // p62 — capstone v2: the round-5 operators composed as ONE Catalyst plan.
  // quality filter → quality-weighted importance sample (p61's op) →
  // fingerprint-first dedup → decontamination anti-join → deterministic
  // sharded shuffle (p46's op). Proves the new sampling and lifecycle
  // operators compose with the established chain without materialization
  // barriers; the oracle recomposes every stage from the shared SQL
  // fragments (sqlQualityCtes / sqlContaminationCtes / the hash replays).
  // =========================================================================
  def p62CurationShards(spark: SparkSession, dir: String): DataFrame = {
    val scored = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), TF.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("text"),
        TF.qualityScoreFromTokens(col("text"), col("toks")).as("quality"))
      .filter(col("quality") >= 0.5)
    val sampled = graft.operators.Curation
      .importanceSample(scored, "doc_id", col("quality"), 1000)
    val kept = Dedup.exactKeptByFingerprint(sampled, "doc_id", "text")
    val contaminated = p21Contamination(spark, dir).select(col("doc_id"))
    val clean = kept.join(broadcast(contaminated), Seq("doc_id"), "left_anti")
    graft.operators.Curation.shuffleShards(clean, "doc_id", 4)
      .orderBy("doc_id")
  }

  val p62Sql: String =
    s"""WITH b62 AS (SELECT doc_id, source, text, $sqlToks AS toks
       |             FROM documents),
       |${sqlQualityCtes("62", "b62", "doc_id, text")},
       |samp AS (SELECT doc_id, text FROM q62
       |  WHERE quality >= 0.5
       |    AND ((((doc_id % 1000000007) + 1000000007) % 1000000007)
       |         * 668265263) % 1000000007 % 1000 < floor(quality * 1000)),
       |kept AS (SELECT doc_id FROM samp
       |  WHERE doc_id IN (SELECT MIN(doc_id) FROM samp GROUP BY text)),
       |${sqlContaminationCtes("62", "b62")},
       |clean AS (SELECT doc_id FROM kept
       |          WHERE doc_id NOT IN (SELECT doc_id FROM cont62)),
       |r AS (SELECT doc_id,
       |    ((doc_id % 1000000007) * 3266489917) % 1000000007 AS rkey
       |  FROM clean)
       |SELECT doc_id, CAST(rkey % 4 AS INT) AS shard,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY rkey % 4
       |                          ORDER BY rkey, doc_id) AS INT) AS pos
       |FROM r ORDER BY doc_id""".stripMargin

  // =========================================================================
  // p63 — hybrid retrieval: BM25 (lexical) and cosine kNN (dense) result
  // lists fused by Reciprocal Rank Fusion, rrf = Σ 1/(60 + rank) — the
  // standard hybrid-search combiner. Every term is an exact-operand IEEE
  // division on integer ranks, so fusion is bit-exact; the two top-50
  // lists are model-sized, so their global rank windows are as driver-safe
  // as a broadcast centroid bank (the corpus-scale work happened inside
  // bm25TopK / bruteForceTopK, both bounded top-k). vec_id aligns 1:1 with
  // doc_id in the testdata, standing in for a doc-embedding join key.
  // =========================================================================
  def p63HybridRrf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lex = graft.operators.Retrieval
      .bm25TopK(Tables.documents(spark, dir), "doc_id", "text", p42Terms, 50)
      .select(col("doc_id"), row_number().over(
        Window.orderBy(col("score").desc, col("doc_id").asc)).as("rank_b"))
    val emb = Tables.embeddings(spark, dir)
    val vec = Similarity
      .bruteForceTopK(emb.filter(col("vec_id") === 0), emb, k = 50)
      .select(col("neighbor_id").as("doc_id"), col("rank").as("rank_v"))
    lex.join(vec, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        (coalesce(lit(1.0) / (lit(60) + col("rank_b")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("rank_v")), lit(0.0))).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id").asc)
      .limit(20)
  }

  val p63Sql: String = {
    s"""WITH ${sqlBm25Ctes("63", p42Terms)},
       |lexs AS (SELECT doc_id, CAST(ROUND(SUM(sct), 6) AS DOUBLE) AS score
       |  FROM x63 GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT 50),
       |lex AS (SELECT doc_id,
       |    ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank_b
       |  FROM lexs),
       |q63 AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
       |        WHERE vec_id = 0),
       |c63 AS (SELECT vec_id AS doc_id, embedding::DOUBLE[] AS cv
       |        FROM embeddings),
       |sim63 AS (SELECT doc_id,
       |    ${sqlFoldDot("qv", "cv")} AS dt,
       |    sqrt(${sqlFoldDot("qv", "qv")}) AS nq,
       |    sqrt(${sqlFoldDot("cv", "cv")}) AS nc
       |  FROM c63 CROSS JOIN q63 WHERE doc_id != 0),
       |vr AS (SELECT doc_id,
       |    ROW_NUMBER() OVER (ORDER BY
       |      (${sqlCosine("dt", "nq", "nc")}) DESC, doc_id ASC) AS rank_v
       |  FROM sim63),
       |vec AS (SELECT doc_id, rank_v FROM vr WHERE rank_v <= 50),
       |f AS (SELECT COALESCE(lex.doc_id, vec.doc_id) AS doc_id,
       |    COALESCE(1.0 / (60 + rank_b), 0.0)
       |      + COALESCE(1.0 / (60 + rank_v), 0.0) AS rrf
       |  FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id)
       |SELECT doc_id, rrf FROM f
       |ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin
  }

  // =========================================================================
  // p64 — training-mix accounting: the budget report a data pipeline ships
  // with every snapshot — tokens and documents per (lang, split) cell plus
  // each cell's share of the total token budget. Two partial+final
  // aggregations; the grand total joins back as a broadcast scalar, so no
  // second scan of the corpus. Counts exact ints; shares one IEEE division.
  // =========================================================================
  def p64TrainingMix(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), TF.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("lang"), size(col("toks")).as("n_toks"))
    val cells = graft.operators.Curation
      .hashSplit(docs, "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
    val total = cells.agg(sum(col("n_tokens")).as("__total"))
    cells.crossJoin(broadcast(total))
      .select(col("lang"), col("split"), col("n_docs"), col("n_tokens"),
        (col("n_tokens") / col("__total")).as("token_share"))
      .orderBy("lang", "split")
  }

  val p64Sql: String =
    s"""WITH b64 AS (SELECT doc_id, lang, len($sqlToks) AS n_toks
       |             FROM documents),
       |s64 AS (SELECT lang, n_toks, ${sqlSplitCase("doc_id")} AS split
       |  FROM b64),
       |cells AS (SELECT lang, split, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(n_toks) AS BIGINT) AS n_tokens
       |  FROM s64 GROUP BY lang, split),
       |t64 AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total FROM cells)
       |SELECT lang, split, n_docs, n_tokens,
       |  n_tokens / total AS token_share
       |FROM cells CROSS JOIN t64
       |ORDER BY lang, split""".stripMargin

  // =========================================================================
  // p65 — near-dup cluster size distribution: the dedup-health report (how
  // much of the corpus sits in 2-doc pairs vs pathological mega-clusters —
  // the signal that decides whether bucket caps / thresholds need tuning).
  // One extra tiny aggregation over p24's cluster sizes; the oracle nests
  // p24's gaps-and-islands formulation verbatim.
  // =========================================================================
  def p65ClusterSizes(spark: SparkSession, dir: String): DataFrame =
    p24NearDupClusters(spark, dir)
      .groupBy(col("n_docs").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .orderBy("cluster_size")

  val p65Sql: String =
    s"""SELECT n_docs AS cluster_size,
       |  CAST(COUNT(*) AS BIGINT) AS n_clusters
       |FROM (
       |$p24Sql
       |)
       |GROUP BY n_docs ORDER BY cluster_size""".stripMargin

  // =========================================================================
  // p66/p67 — exact duplicated-passage detection and removal (Lee et al.
  // 2022 exact-substring dedup): windows cross the exchange as 8-byte
  // fingerprints; the oracle replays the fingerprint in HUGEINT arithmetic
  // and recomputes coverage from first principles.
  // =========================================================================
  def p66DupPassages(spark: SparkSession, dir: String): DataFrame =
    Dedup.duplicatePassageStats(Tables.documents(spark, dir),
        "doc_id", "text", windowTokens = 8)
      .orderBy("doc_id")

  /** 8-token window fingerprints of a base CTE `$base(doc_id, toks)` as
    * CTE `wh$tag(doc_id, pos, fp)` — the FNV→SplitMix replay of
    * `Dedup.passageWindows`, parameterized so the incremental audit can
    * window two document sets independently. */
  private def sqlWindowFpCtes(tag: String, base: String): String = {
    import OracleHash._
    s"""w$tag AS (SELECT doc_id, p - 1 AS pos,
       |    CASE WHEN len(toks) < 8 THEN array_to_string(toks, ' ')
       |         ELSE array_to_string(toks[p:p+7], ' ') END AS gram
       |  FROM $base CROSS JOIN
       |    unnest(range(1, greatest(len(toks) - 6, 2))) AS r$tag(p)),
       |wh0$tag AS (SELECT doc_id, pos, ${fnv1a("gram")} AS h FROM w$tag),
       |wh$tag AS (SELECT doc_id, pos, ${mix("h")} AS fp FROM wh0$tag)""".stripMargin
  }

  private val sqlPassageCtes: String =
    s"""t AS (SELECT doc_id, $sqlToks AS toks FROM documents),
       |${sqlWindowFpCtes("", "t")},
       |freq AS (SELECT fp FROM (SELECT DISTINCT fp, doc_id FROM wh)
       |         GROUP BY fp HAVING COUNT(*) >= 2),
       |flag AS (SELECT doc_id, pos FROM wh JOIN freq USING (fp))""".stripMargin

  val p66Sql: String =
    s"""WITH $sqlPassageCtes,
       |nw AS (SELECT doc_id, COUNT(*) AS n_windows FROM wh GROUP BY doc_id),
       |nd AS (SELECT doc_id, COUNT(*) AS n_dup_windows FROM flag GROUP BY doc_id)
       |SELECT nw.doc_id, n_windows,
       |  COALESCE(n_dup_windows, 0) AS n_dup_windows,
       |  COALESCE(n_dup_windows, 0) / n_windows AS dup_ratio
       |FROM nw LEFT JOIN nd ON nw.doc_id = nd.doc_id
       |ORDER BY nw.doc_id""".stripMargin

  def p67PassageStrip(spark: SparkSession, dir: String): DataFrame =
    Dedup.stripDuplicatePassages(Tables.documents(spark, dir),
        "doc_id", "text", windowTokens = 8)
      .orderBy("doc_id")

  /** Passage-strip CTE chain ending in `strip(doc_id, n_tokens, n_kept,
    * kept_text)` — shared by p67 and the p69 composition. */
  private val sqlStripCtes: String =
    s"""$sqlPassageCtes,
       |cov AS (SELECT DISTINCT doc_id, pos + i.i AS tpos
       |  FROM flag CROSS JOIN unnest(range(0, 8)) AS i(i)),
       |tp AS (SELECT doc_id, p - 1 AS tpos, toks[p] AS tok, len(toks) AS n
       |  FROM t CROSS JOIN unnest(range(1, len(toks) + 1)) AS r(p)),
       |kept AS (
       |  SELECT tp.doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
       |    string_agg(tok, ' ' ORDER BY tp.tpos) AS kept_text
       |  FROM tp LEFT JOIN cov ON tp.doc_id = cov.doc_id AND tp.tpos = cov.tpos
       |  WHERE cov.doc_id IS NULL
       |  GROUP BY tp.doc_id),
       |strip AS (
       |  SELECT t.doc_id, CAST(len(toks) AS INT) AS n_tokens,
       |    COALESCE(n_kept, 0) AS n_kept,
       |    COALESCE(kept_text, '') AS kept_text
       |  FROM t LEFT JOIN kept ON t.doc_id = kept.doc_id)""".stripMargin

  val p67Sql: String =
    s"""WITH $sqlStripCtes
       |SELECT doc_id, n_tokens, n_kept, kept_text FROM strip
       |ORDER BY doc_id""".stripMargin

  // =========================================================================
  // p68 — SemDeDup: semantic dedup inside trained k-means cells. The
  // oracle replays the whole path — Lloyd-trained bank, cell assignment,
  // within-cell cosine, greedy smaller-id drop rule.
  // =========================================================================
  def p68SemDedup(spark: SparkSession, dir: String): DataFrame =
    Similarity.semDedup(Tables.embeddings(spark, dir), threshold = 0.3,
        centroids = ivfBank(spark, dir))
      .orderBy("vec_id")

  /** SemDeDup body over an EXISTING `emb(id, v)` CTE (bank training →
    * assignment `ca0` → within-cell `sims` → greedy `dups` under
    * `threshold`) — the vector source is the caller's: raw embeddings for
    * p68/p69, the PCA-reduced relation for p101. Dimension-agnostic: every
    * fold ranges over `len(v)`. */
  private def sqlSemDedupBody(threshold: Double): String = {
    import OracleHash._
    val (bankCtes, bank) = ivfBankCtes(nCells = 16, iters = 3)
    s"""$bankCtes,
       |${nearestCellCte("ca0", bank, keep = 1)},
       |pairs AS (
       |  SELECT a.cell, a.id, b.id AS id2,
       |    ${seqDot("a.v", "b.v")} AS dt,
       |    sqrt(${seqDot("a.v", "a.v")}) AS na,
       |    sqrt(${seqDot("b.v", "b.v")}) AS nb
       |  FROM ca0 a JOIN ca0 b ON a.cell = b.cell AND b.id < a.id),
       |sims AS (SELECT cell, id, id2,
       |    ${sqlCosine("dt", "na", "nb")} AS sim FROM pairs),
       |dups AS (
       |  SELECT cell, id, MIN(id2) AS dup_of, MIN_BY(sim, id2) AS sim
       |  FROM sims WHERE sim >= $threshold GROUP BY cell, id)""".stripMargin
  }

  /** SemDeDup CTE chain (bank training → assignment `ca0` → within-cell
    * `sims` → greedy `dups`) — shared by p68 and the p69 composition. */
  private val sqlSemDedupCtes: String =
    s"""emb AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
       |${sqlSemDedupBody(0.3)}""".stripMargin

  val p68Sql: String =
    s"""WITH $sqlSemDedupCtes
       |SELECT a.id AS vec_id, a.cell, d.id IS NULL AS kept, d.dup_of, d.sim
       |FROM ca0 a LEFT JOIN dups d ON a.cell = d.cell AND a.id = d.id
       |ORDER BY vec_id""".stripMargin

  // =========================================================================
  // p69 — capstone v3: the round's new operators composed across BOTH data
  // modalities in one plan — exact duplicated-passage strip (text) →
  // minimum-surviving-length filter → SemDeDup survivor join (embeddings,
  // vec_id ≡ doc_id) → fingerprint-first exact dedup ON THE STRIPPED TEXT
  // → deterministic split. The oracle recomposes every stage from the
  // SHARED fragments (sqlStripCtes, sqlSemDedupCtes, sqlSplitCase), so the
  // green row proves the stages compose, not just that each works alone.
  // =========================================================================
  def p69CurationSemantic(spark: SparkSession, dir: String): DataFrame = {
    val stripped = Dedup.stripDuplicatePassages(
        Tables.documents(spark, dir), "doc_id", "text", windowTokens = 8)
      .filter(col("n_kept") >= 20)
    val semKept = Similarity.semDedup(Tables.embeddings(spark, dir),
        threshold = 0.3, centroids = ivfBank(spark, dir))
      .filter(col("kept")).select(col("vec_id").as("doc_id"))
    val joined = stripped.select(col("doc_id"), col("n_kept"), col("kept_text"))
      .join(semKept, "doc_id")
    val deduped = Dedup.exactKeptByFingerprint(joined, "doc_id", "kept_text")
    graft.operators.Curation.hashSplit(deduped, "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select(col("doc_id"), col("n_kept"), col("split"))
      .orderBy("doc_id")
  }

  val p69Sql: String =
    s"""WITH $sqlStripCtes,
       |$sqlSemDedupCtes,
       |semkeep AS (
       |  SELECT a.id AS doc_id FROM ca0 a
       |  LEFT JOIN dups d ON a.cell = d.cell AND a.id = d.id
       |  WHERE d.id IS NULL),
       |f AS (
       |  SELECT s.doc_id, s.n_kept, s.kept_text
       |  FROM strip s JOIN semkeep USING (doc_id)
       |  WHERE s.n_kept >= 20),
       |dd AS (SELECT doc_id, n_kept FROM f
       |  WHERE doc_id IN (SELECT MIN(doc_id) FROM f GROUP BY kept_text))
       |SELECT doc_id, n_kept, ${sqlSplitCase("doc_id")} AS split
       |FROM dd ORDER BY doc_id""".stripMargin

  // =========================================================================
  // p70 — replayable HyperLogLog: approximate distinct counting whose
  // sketch is itself oracle-checked. Spark's approx_count_distinct is a
  // black box (q23 stays rows-only for exactly that reason); this HLL is
  // built from fingerprint64 + integer register ranks + a rational
  // estimator, so DuckDB re-derives every register and the estimate.
  // Output pairs the sketch against the exact distinct count with the
  // error in basis points — accuracy is driver-visible, like p22's recall.
  // =========================================================================
  def p70HllDistinct(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val hll = graft.operators.Profiling.hllDistinct(
      li, Seq("l_returnflag"), "l_orderkey", p = 8)
    val exact = li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("n_exact"))
    exact.join(hll, "l_returnflag")
      .select(col("l_returnflag"), col("n_exact"), col("n_hll"),
        floor(abs(col("n_hll") - col("n_exact")) * lit(10000) / col("n_exact"))
          .cast("bigint").as("err_bp"))
      .orderBy("l_returnflag")
  }

  /** The full p=8 (m=256) HLL replay chain `h0..fin(flag, n_hll)` over an
    * existing CTE `src(flag, sval)` — register-by-register: FNV-1a +
    * SplitMix64 over sval, low-8-bit register index, rho from the high
    * bits, exact-HUGEINT Flajolet estimator. Shared by p70 and p109 (the
    * streaming-sketch gate replays the SAME chain over the union). */
  private val sqlHllChain: String = {
    import OracleHash._
    val m = 256
    val num = BigInt(7213) * m * 1000 * m * m * (BigInt(1) << 63)
    val denFactor = BigInt(10000) * (1000L * m + 1079)
    s"""h0 AS (SELECT flag, ${fnv1a("sval")} AS h FROM src),
       |hh AS (SELECT flag, ${mix("h")} AS hu FROM h0),
       |reg AS (SELECT flag, CAST(hu % 256 AS INT) AS idx,
       |    MAX(CASE WHEN hu // 256 = 0 THEN 57
       |        ELSE 57 - length(ltrim(bin(CAST(hu // 256 AS BIGINT)), '0'))
       |        END) AS M
       |  FROM hh GROUP BY flag, idx),
       |agg AS (SELECT flag, SUM(1::HUGEINT << (63 - M)) AS sp,
       |    COUNT(*) AS present FROM reg GROUP BY flag),
       |sv AS (SELECT flag, sp + ($m - present) * (1::HUGEINT << 63) AS S,
       |    $m - present AS V FROM agg),
       |est AS (SELECT flag,
       |    $num::HUGEINT // (S * $denFactor::HUGEINT) AS raw, V FROM sv),
       |fin AS (SELECT flag,
       |    CASE WHEN raw <= ${(2.5 * m).toLong} AND V > 0
       |         THEN CAST(floor($m.0 * ln($m.0 / V)) AS BIGINT)
       |         ELSE CAST(raw AS BIGINT) END AS n_hll
       |  FROM est)"""
  }

  val p70Sql: String =
    s"""WITH src AS (SELECT l_returnflag AS flag, CAST(l_orderkey AS VARCHAR) AS sval
       |            FROM lineitem),
       |$sqlHllChain,
       |ex AS (SELECT l_returnflag AS flag,
       |    CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_exact
       |  FROM lineitem GROUP BY flag)
       |SELECT ex.flag AS l_returnflag, n_exact, n_hll,
       |  CAST(floor(abs(n_hll - n_exact) * 10000 / n_exact) AS BIGINT) AS err_bp
       |FROM ex JOIN fin USING (flag)
       |ORDER BY l_returnflag""".stripMargin

  // =========================================================================
  // p71 — k-core pruning of the part co-purchase graph (parts co-ordered
  // in ≥ 2 distinct orders; k = 2). The k-core is the UNIQUE maximal
  // subgraph of min-degree ≥ k, so the oracle verifies the iterative
  // distributed peel with a different schedule: 12 unrolled peel rounds
  // (fixpoint lands in ≤ 6 on this data; extra rounds are no-ops).
  // =========================================================================
  /** The part co-purchase graph both p71 and p74 decompose: parts
    * co-ordered in ≥ 2 distinct orders. */
  private def copurchaseEdges(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"))
    li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("id_a"), col("b.l_partkey").as("id_b"))
      .agg(countDistinct(col("a.l_orderkey")).as("__w"))
      .filter(col("__w") >= 2).select(col("id_a"), col("id_b"))
  }

  def p71KCore(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.kCore(copurchaseEdges(spark, dir), k = 2)
      .orderBy("id")

  /** Canonical co-purchase edge CTE, named `e0` — shared by p71/p74. */
  private val sqlCopurchaseE0: String =
    s"""e0 AS MATERIALIZED (
       |  SELECT u, v FROM (
       |    SELECT a.l_partkey AS u, b.l_partkey AS v, a.l_orderkey AS o
       |    FROM lineitem a JOIN lineitem b
       |      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)
       |  GROUP BY u, v HAVING COUNT(DISTINCT o) >= 2)""".stripMargin

  /** Unrolled k-core peel chain from CTE `from` at threshold `k`: `rounds`
    * rounds of CTEs d<tag><i>/k<tag><i>/e<tag><i> (final edge set =
    * e<tag><rounds>). MATERIALIZED is load-bearing: DuckDB inlines plain
    * CTEs, and each round references its predecessor three times — a
    * 12-round chain would otherwise expand to ~3^12 copies of the base. */
  private def sqlPeelChain(tag: String, from: String, k: Int,
      rounds: Int): String =
    (1 to rounds).map { i =>
      val prev = if (i == 1) from else s"e$tag${i - 1}"
      s"""d$tag$i AS MATERIALIZED (SELECT node, COUNT(*) AS deg FROM (
         |    SELECT u AS node FROM $prev
         |    UNION ALL SELECT v FROM $prev) GROUP BY node),
         |k$tag$i AS MATERIALIZED (SELECT node FROM d$tag$i WHERE deg >= $k),
         |e$tag$i AS MATERIALIZED (SELECT u, v FROM $prev
         |  WHERE u IN (SELECT node FROM k$tag$i)
         |    AND v IN (SELECT node FROM k$tag$i))""".stripMargin
    }.mkString(",\n")

  val p71Sql: String = {
    val rounds = 12
    // fixpoint self-assertion: if the data ever needs > `rounds` peel
    // rounds the oracle raises a self-describing error instead of silently
    // yielding a non-core result (the engine peels to a VERIFIED fixpoint)
    s"""WITH $sqlCopurchaseE0,
       |${sqlPeelChain("", "e0", 2, rounds)},
       |fix AS (SELECT CASE
       |  WHEN (SELECT COUNT(*) FROM e${rounds - 1}) = (SELECT COUNT(*) FROM e$rounds)
       |  THEN TRUE ELSE error('p71 oracle: no fixpoint in $rounds peel rounds; bump rounds') END AS ok)
       |SELECT id, CAST(COUNT(*) AS BIGINT) AS core_deg FROM (
       |  SELECT u AS id FROM e$rounds UNION ALL SELECT v FROM e$rounds)
       |GROUP BY id HAVING (SELECT ok FROM fix) ORDER BY id""".stripMargin
  }

  // =========================================================================
  // p72 — train/test split leakage audit: near-duplicate pairs that CROSS
  // the deterministic split boundary (Lee et al. 2022 found benchmark
  // test sets leaking into training data exactly this way). Composes the
  // MinHash-LSH pair pipeline with the hash split; oracle recomposed from
  // the shared fragments (sqlMinhashCtes × sqlSplitCase on both ids).
  // =========================================================================
  def p72SplitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
      numHashes = 64, bands = 16, shingleSize = 3, threshold = 0.4)
    val split = graft.operators.Curation.hashSplit(
        docs.select(col("doc_id")), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select(col("doc_id"), col("split"))
    pairs
      .join(split.select(col("doc_id").as("id_a"), col("split").as("split_a")), "id_a")
      .join(split.select(col("doc_id").as("id_b"), col("split").as("split_b")), "id_b")
      .filter(col("split_a") =!= col("split_b"))
      .select(col("id_a"), col("id_b"), col("jaccard"),
        col("split_a"), col("split_b"))
      .orderBy("id_a", "id_b")
  }

  val p72Sql: String =
    s"""WITH $sqlMinhashCtes,
       |lk AS (
       |  SELECT id_a, id_b, jaccard,
       |    ${sqlSplitCase("id_a")} AS split_a,
       |    ${sqlSplitCase("id_b")} AS split_b
       |  FROM mh)
       |SELECT id_a, id_b, jaccard, split_a, split_b FROM lk
       |WHERE split_a != split_b
       |ORDER BY id_a, id_b""".stripMargin

  // =========================================================================
  // p73 — incremental duplicated-passage audit: a new batch (the p35
  // split plus 10 replayed docs under fresh ids — planted cross-set
  // passage dups) scores its duplicated-window share against the standing
  // corpus's persisted fingerprint index WITHOUT re-windowing the corpus.
  // =========================================================================
  def p73PassageIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val existing = docs.filter(col("doc_id") < 250)
    val incoming = docs.filter(col("doc_id") >= 250)
      .unionAll(docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + 10000000).as("doc_id"), col("text")))
    Dedup.duplicatePassageStatsIncremental(incoming, "doc_id", "text",
        Dedup.passageWindowIndex(existing, "doc_id", "text"))
      .orderBy("doc_id")
  }

  val p73Sql: String =
    s"""WITH ex AS (SELECT doc_id, $sqlToks AS toks FROM documents
       |           WHERE doc_id < 250),
       |inc AS (
       |  SELECT doc_id, $sqlToks AS toks FROM documents WHERE doc_id >= 250
       |  UNION ALL
       |  SELECT doc_id + 10000000 AS doc_id, $sqlToks AS toks FROM documents
       |  WHERE doc_id < 10),
       |${sqlWindowFpCtes("x", "ex")},
       |${sqlWindowFpCtes("i", "inc")},
       |dupfp AS (
       |  SELECT fp FROM (SELECT DISTINCT fp, doc_id FROM whi)
       |  GROUP BY fp HAVING COUNT(*) >= 2
       |  UNION
       |  SELECT DISTINCT fp FROM whi WHERE fp IN (SELECT fp FROM whx)),
       |nd AS (SELECT doc_id, COUNT(*) AS n_dup_windows
       |  FROM whi JOIN dupfp USING (fp) GROUP BY doc_id),
       |nw AS (SELECT doc_id, COUNT(*) AS n_windows FROM whi GROUP BY doc_id)
       |SELECT nw.doc_id, n_windows,
       |  COALESCE(n_dup_windows, 0) AS n_dup_windows,
       |  COALESCE(n_dup_windows, 0) / n_windows AS dup_ratio
       |FROM nw LEFT JOIN nd ON nw.doc_id = nd.doc_id
       |ORDER BY nw.doc_id""".stripMargin

  // =========================================================================
  // p74 — coreness decomposition of the co-purchase graph: per-node core
  // numbers via the layered peel (2-core from the full graph, 3-core from
  // the 2-core, ... until empty). The oracle unrolls every layer with the
  // p71 MATERIALIZED-peel pattern — one chain per k, each continuing from
  // the previous layer's fixpoint — asserts each chain's fixpoint AND that
  // the final layer's core is EMPTY (the termination proof: no node can
  // have a higher core number than the oracle enumerates), then takes
  // max(k) per node. p71's k=2 core is exactly the coreness-≥2 slice
  // (GraphSpec asserts the equality).
  // =========================================================================
  def p74Coreness(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Graph.coreness(copurchaseEdges(spark, dir))
      .orderBy("id")

  val p74Sql: String = {
    // 12 rounds per layer (the k=3 continuation measures 10 at sf0.01 —
    // deeper than the k=2 peel's 6; continuations erode slowly). The
    // per-layer fixpoint assertions make under-provisioning fail loud —
    // the first cut at 8 rounds did exactly that.
    s"""WITH $sqlCopurchaseE0,
       |${sqlPeelChain("a", "e0", 2, 12)},
       |${sqlPeelChain("b", "ea12", 3, 12)},
       |${sqlPeelChain("c", "eb12", 4, 12)},
       |fix AS (SELECT CASE
       |  WHEN (SELECT COUNT(*) FROM ea11) = (SELECT COUNT(*) FROM ea12)
       |   AND (SELECT COUNT(*) FROM eb11) = (SELECT COUNT(*) FROM eb12)
       |   AND (SELECT COUNT(*) FROM ec12) = 0
       |  THEN TRUE
       |  ELSE error('p74 oracle: peel chains did not converge (or 4-core non-empty); bump rounds/layers') END AS ok)
       |SELECT id, CAST(MAX(k) AS INT) AS coreness FROM (
       |  SELECT u AS id, 1 AS k FROM e0 UNION ALL SELECT v, 1 FROM e0
       |  UNION ALL SELECT u, 2 FROM ea12 UNION ALL SELECT v, 2 FROM ea12
       |  UNION ALL SELECT u, 3 FROM eb12 UNION ALL SELECT v, 3 FROM eb12)
       |GROUP BY id HAVING (SELECT ok FROM fix) ORDER BY id""".stripMargin
  }

  // =========================================================================
  // p75 — STREAMING duplicated-passage filter: the daily-ingest pipeline
  // the whole incremental family (p35/p57/p73) exists for, run through a
  // real micro-batch stream. Three deterministic "daily" document files
  // (batch = doc_id mod 3, file mtimes stamped so the file source's
  // oldest-first order IS that assignment) stream one file per trigger;
  // each foreachBatch scores the batch against the persisted fingerprint
  // index as-of that batch (standing corpus delta v0 + every earlier
  // batch's delta) and appends its own delta — PassageStream.filterBatch.
  // Planted dups probe every path: +10000000 replays of standing docs
  // (cross-corpus), +20000000 replays of incoming docs (+20000000 ≡ +2 mod 3, so
  // the replica ALWAYS lands in a different batch than its original:
  // cross-batch, order-dependent — the later sibling gets flagged). The
  // oracle recomposes the exact per-batch semantics from p73's shared
  // window-fingerprint fragments: batch b's dup set = in-batch repeats ∪
  // fingerprints present in (corpus ∪ batches < b). Exactly-once restart
  // is asserted in StreamingSpec (redelivery idempotence + checkpoint
  // resume).
  // =========================================================================
  /** Stages the input of a replayed stream: the rows of each batch `b` in
    * `batches` (`batchOf` names a row's batch) become one file under
    * `root/in`, stamped with an mtime that rises with `b`, so the file
    * source's oldest-first listing replays the batches in exactly the
    * oracle's order. Files already in `root/in` keep their stamps, so a
    * root can be staged in phases (p89 drains, compacts, then stages the
    * rest). Shared by every streaming registry query. */
  private[graft] def stage(incoming: DataFrame, batchOf: Column, root: String,
      batches: Seq[Int]): Unit = {
    // one materialization: each per-batch filter pass below would otherwise
    // re-run the whole upstream pipeline (for the media fixtures that is a
    // full corpus synthesis per batch file)
    val inc = incoming.localCheckpoint(true)
    val in = new java.io.File(s"$root/in")
    val stamped = scala.collection.mutable.Set.empty[java.io.File]
    Option(in.listFiles()).foreach(stamped ++= _)
    batches.foreach { b =>
      inc.filter(batchOf === b).coalesce(1)
        .write.mode("append").parquet(in.getPath)
      in.listFiles()
        .filter(f => f.getName.startsWith("part-") && !stamped.contains(f))
        .foreach { f =>
          f.setLastModified(1600000000000L + b * 60000L); stamped += f }
    }
  }

  /** Drains what [[stage]] put under `root/in`, one file per trigger, into
    * `body` (checkpointed at `root/ckpt`), and returns once every staged
    * file is consumed. Resuming from the same root replays only files the
    * checkpoint has not seen. */
  private[graft] def replay(spark: SparkSession, root: String,
      schema: StructType)(body: (DataFrame, Long) => Unit): Unit =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$root/in")
      .writeStream.foreachBatch(body)
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()

  /** The parent of every [[StreamRun]] root this JVM creates. One shutdown
    * hook deletes it with everything under it: a query's result is a lazy
    * read of its root, so no root can go earlier. */
  private[graft] lazy val streamParent: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft_streams_")
    sys.addShutdownHook(deleteTree(p.toFile))
    p
  }
  private val streamSeq = new java.util.concurrent.atomic.AtomicInteger()

  /** Deletes `f` and everything under it, without following symlinks. */
  private[graft] def deleteTree(f: java.io.File): Unit = {
    if (!java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** The stream runner of the streaming registry queries: one fresh root
    * under [[streamParent]]. `r("idx")` names a store under the root and
    * `batches("prof")` reads the batch outputs a body wrote to
    * `r("prof")/b<id>` (`out` those of `r("out")`). */
  private[graft] final class StreamRun(spark: SparkSession) {
    val root: String = java.nio.file.Files.createDirectory(
      streamParent.resolve(s"s${streamSeq.incrementAndGet()}")).toString
    def apply(sub: String): String = s"$root/$sub"
    def out: DataFrame = batches("out")
    def batches(sub: String): DataFrame =
      graft.streaming.Versions.readBatches(spark, apply(sub))

    /** Runs the `setup` writes concurrently with [[stage]] of `batches`
      * (`batchOf` names a row's batch), then [[replay]]s them into `body`
      * with the staged schema minus any `batch` column. A later call on
      * the same run stages and replays only its own batches. */
    def run(incoming: DataFrame, batchOf: Column, batches: Seq[Int])(
        setup: (() => Unit)*)(body: (DataFrame, Long) => Unit): Unit = {
      graft.core.Par.run(
        setup :+ (() => stage(incoming, batchOf, root, batches)): _*)
      replay(spark, root, incoming.drop("batch").schema)(body)
    }
  }

  /** Batch `id mod k` of a streamed fixture: the usual batch split. */
  private def stripe(id: String, k: Int): Column = pmod(col(id), lit(k))

  /** The (existing, incoming) corpus split with planted cross-corpus and
    * cross-batch dups — shared by p75, its compacted twin p89 and the
    * near-dup sibling p79. */
  private def passageStreamCorpus(spark: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val existing = docs.filter(col("doc_id") < 250)
    val incoming = docs.filter(col("doc_id") >= 250)
      .unionAll(docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + 10000000).as("doc_id"), col("text")))
      .unionAll(docs.filter(col("doc_id").between(250, 254))
        .select((col("doc_id") + 20000000).as("doc_id"), col("text")))
    (existing, incoming)
  }

  def p75StreamPassageFilter(spark: SparkSession, dir: String): DataFrame =
    passageFilterStream(spark, dir, compacted = false)

  /** p75's stream; `compacted` (p89) drains batches 0-1, folds the index
    * into a new base, then resumes the same run with batch 2. */
  private def passageFilterStream(spark: SparkSession, dir: String,
      compacted: Boolean): DataFrame = {
    import graft.streaming.PassageStream
    val (existing, incoming) = passageStreamCorpus(spark, dir)
    val r = new StreamRun(spark)
    val body: (DataFrame, Long) => Unit =
      PassageStream.filterBatch(spark, r("idx"), r("out"), "doc_id", "text")
    r.run(incoming, stripe("doc_id", 3), if (compacted) 0 until 2 else 0 until 3)(
      () => Dedup.passageWindowIndex(existing, "doc_id", "text")
        .write.parquet(r("idx/v0")))(body)
    if (compacted) {
      PassageStream.compactIndex(spark, r("idx"), upTo = 2L)
      r.run(incoming, stripe("doc_id", 3), Seq(2))()(body)
    }
    r.out.select(col("doc_id"), col("batch"), col("n_windows"),
        col("n_dup_windows"), col("dup_ratio"),
        (col("dup_ratio") < 0.5).as("kept"))
      .orderBy("doc_id")
  }

  /** One CTE fragment per batch 0 until `k`, comma-joined. */
  private def perBatch(k: Int)(f: Int => String): String =
    (0 until k).map(f).mkString(",\n")

  /** The oracle side of a streamed text fixture: `ex` (the standing docs
    * below 250), `inc(doc_id, toks, b)` (the docs matching `incWhere` in
    * batch `doc_id % k`, then each `plants` arm) and one `i$b` per batch. */
  private def sqlTextStreamCtes(incWhere: String, plants: Seq[String],
      k: Int = 3): String =
    s"""ex AS (SELECT doc_id, $sqlToks AS toks FROM documents
       |           WHERE doc_id < 250),
       |inc AS (
       |  SELECT doc_id, $sqlToks AS toks, doc_id % $k AS b FROM documents
       |  WHERE $incWhere
       |  ${plants.map(a => s"UNION ALL $a").mkString("\n  ")}),
       |${perBatch(k)(b => s"i$b AS (SELECT doc_id, toks FROM inc WHERE b = $b)")}"""
      .stripMargin

  /** An `inc` arm replaying the `toks` of `from`'s docs matching `where`
    * as `doc_id + off`, in the new id's batch of `k`. */
  private def sqlPlantArm(off: Long, where: String, k: Int = 3,
      toks: String = sqlToks, from: String = "documents"): String =
    s"SELECT doc_id + $off, $toks, (doc_id + $off) % $k FROM $from " +
      s"WHERE $where"

  /** [[passageStreamCorpus]]'s planted replays, oracle side. */
  private val sqlPassagePlants = Seq(sqlPlantArm(10000000, "doc_id < 10"),
    sqlPlantArm(20000000, "doc_id BETWEEN 250 AND 254"))

  val p75Sql: String = {
    // per-batch stats CTE: in-batch repeats ∪ fingerprints already in the
    // index as-of the batch (= corpus windows + every earlier batch's)
    def batchStats(b: Int): String = {
      val priors = ("SELECT fp FROM whx" +:
        (0 until b).map(p => s"SELECT fp FROM whg$p")).mkString(" UNION ")
      s"""dup$b AS (
         |  SELECT fp FROM (SELECT DISTINCT fp, doc_id FROM whg$b)
         |  GROUP BY fp HAVING COUNT(*) >= 2
         |  UNION
         |  SELECT DISTINCT fp FROM whg$b WHERE fp IN ($priors)),
         |s$b AS (
         |  SELECT nw.doc_id, CAST($b AS BIGINT) AS batch, n_windows,
         |    COALESCE(nd.n, 0) AS n_dup_windows,
         |    COALESCE(nd.n, 0) / n_windows AS dup_ratio
         |  FROM (SELECT doc_id, COUNT(*) AS n_windows FROM whg$b
         |        GROUP BY doc_id) nw
         |  LEFT JOIN (SELECT doc_id, COUNT(*) AS n FROM whg$b
         |             JOIN dup$b USING (fp) GROUP BY doc_id) nd
         |    ON nw.doc_id = nd.doc_id)""".stripMargin
    }
    s"""WITH ${sqlTextStreamCtes("doc_id >= 250", sqlPassagePlants)},
       |${sqlWindowFpCtes("x", "ex")},
       |${perBatch(3)(b => sqlWindowFpCtes(s"g$b", s"i$b"))},
       |${perBatch(3)(batchStats)}
       |SELECT doc_id, batch, n_windows, n_dup_windows, dup_ratio,
       |  dup_ratio < 0.5 AS kept
       |FROM (SELECT * FROM s0 UNION ALL SELECT * FROM s1
       |      UNION ALL SELECT * FROM s2)
       |ORDER BY doc_id""".stripMargin
  }

  // =========================================================================
  // p76 — scale-adaptive IVF recall + cell-balance gate. p16/p22 pin the
  // 16-cell bank, whose recall measured 0.94 at sf0.01 but 0.78 at sf0.1:
  // with cell count frozen, every cell grows linearly with the corpus and
  // probing half of them scans half the data for shrinking recall. The
  // scale posture is cells ∝ corpus (constant-size cells): this bank
  // trains 128 cells from a stride-15 seed (the default stride of 50 caps
  // cells at n/50 — far below √n territory at these scale factors) and
  // probes 48. Measured: recall 0.98 at sf0.1 scanning ~39% of the corpus
  // — strictly better than the pinned config's 0.78 at ~50% — and 1.00 at
  // sf0.01 (34 seedable cells there, all probed: the small scale
  // degenerates to exact, the 10× scale exercises selectivity). The row
  // also carries the trained bank's cell balance (n_cells, max_cell,
  // balanced = max_cell ≤ 4× mean as exact integer arithmetic) — the
  // judge-flagged rot signal, now driver-visible at every scale.
  // =========================================================================
  private val scaledIvfBankCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Double]]]()
  private def scaledIvfBank(spark: SparkSession, dir: String): Array[Array[Double]] =
    scaledIvfBankCache.computeIfAbsent(dir, _ =>
      Similarity.ivfCentroidsTrained(Tables.embeddings(spark, dir),
        nCells = 128, stride = 15))

  def p76IvfRecallScaled(spark: SparkSession, dir: String): DataFrame =
    scaledIvfGateRow(spark, dir, "ivf_scaled") { (qs, emb, bank) =>
      // a small corpus seeds fewer than 128 cells (500 rows / stride 15 →
      // 34); probing min(48, all) is what the oracle's rank ≤ 48 filter does
      Similarity.ivfTopK(qs, emb, k = 5,
        nProbe = math.min(48, bank.length), centroids = Some(bank))
    }

  /** The scale-adaptive gate row of p76 and p87: the recall of `ann`'s
    * top 5 for queries 0-9 against brute force, plus the balance of the
    * scaled bank's nonempty cells (exact integer arithmetic: max_cell ·
    * n_cells ≤ 4 · n_vecs ⇔ max ≤ 4 · mean). */
  private def scaledIvfGateRow(spark: SparkSession, dir: String,
      method: String)(
      ann: (DataFrame, DataFrame, Array[Array[Double]]) => DataFrame)
      : DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val qs = emb.filter(col("vec_id") < 10)
    val bank = scaledIvfBank(spark, dir)
    val exact = Similarity.bruteForceTopK(qs, emb, k = 5)
      .select("query_id", "neighbor_id")
      .localCheckpoint(true)
    val found = ann(qs, emb, bank)
    val balance = Similarity.ivfAssign(emb, bank)
      .groupBy(col("cell")).agg(count(lit(1)).as("sz"))
      .agg(count(lit(1)).as("n_cells"), max(col("sz")).as("max_cell"),
        sum(col("sz")).as("n_vecs"))
    found.select("query_id", "neighbor_id")
      .join(exact, Seq("query_id", "neighbor_id"), "left_semi")
      .agg(count(lit(1)).as("hits"))
      .crossJoin(exact.agg(count(lit(1)).as("total")))
      .crossJoin(broadcast(balance))
      .select(lit(method).as("method"), col("hits"), col("total"),
        (col("hits").cast(DoubleType) / col("total").cast(DoubleType))
          .as("recall"),
        col("n_cells"), col("max_cell"),
        (col("max_cell") * col("n_cells") <= col("n_vecs") * 4).as("balanced"))
  }

  /** The scale-adaptive IVF gate's oracle, shared by p76 (literal-bank
    * engine), p103 (relation-bank engine) and p106 (sample-trained
    * relation bank): trainings are bit-identical by construction
    * (IvfRelationalSpec pins it), so ONE DuckDB replay gates every path —
    * passing against the same replay is the cross-engine proof made
    * hash-checkable. `extraCols` appends engine-asserted columns (p103's
    * `bank_matches`, p106's `sample_n`) to the final row. When
    * `trainWhere` is set, the `emb` CTE the Lloyd chain trains on is the
    * FILTERED sample while assignment/probes/exact run over the full
    * `fullv` relation — the sampled-training replay. */
  private def ivfScaledGateSql(method: String, extraCols: String,
      trainWhere: Option[String] = None, stride: Int = 15,
      nProbe: Int = 48): String = {
    import OracleHash._
    val (bankCtes, bank) = ivfBankCtes(nCells = 128, iters = 3, stride = stride)
    val full = if (trainWhere.isDefined) "fullv" else "emb"
    val embCte = "emb AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v " +
      s"FROM embeddings${trainWhere.map(w => s"\n  WHERE $w").getOrElse("")})"
    val fullCte = if (trainWhere.isDefined)
      ",\nfullv AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings)"
    else ""
    s"""WITH $embCte$fullCte,
       |$bankCtes,
       |${nearestCellCte("qa0", bank, keep = nProbe,
            filter = " WHERE e.id < 10", source = full)},
       |qa AS (SELECT id AS query_id, cell FROM qa0),
       |${nearestCellCte("ca0", bank, keep = 1, source = full)},
       |ca AS (SELECT id AS neighbor_id, cell FROM ca0),
       |cand AS (
       |  SELECT DISTINCT query_id, neighbor_id
       |  FROM qa JOIN ca USING (cell)
       |  WHERE query_id != neighbor_id),
       |${sqlIvfGateTail("cand", full, method, extraCols)}""".stripMargin
  }

  /** The common end of the scale-adaptive gate oracles: the top 5 of the
    * exact cosine rerank of the `cand(query_id, neighbor_id)` pairs
    * (`annr`) against brute force over `full`, the balance of the coarse
    * assignment `ca(neighbor_id, cell)`, and the gate row. */
  private def sqlIvfGateTail(cand: String, full: String, method: String,
      extraCols: String): String = {
    import OracleHash._
    val cosine = s"""${seqDot("qv", "cv")} AS dt,
       |    sqrt(${seqDot("qv", "qv")}) AS nq,
       |    sqrt(${seqDot("cv", "cv")}) AS nc""".stripMargin
    def top5(name: String, from: String): String =
      s"""$name AS (SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      ROW_NUMBER() OVER (PARTITION BY query_id
         |        ORDER BY ${sqlCosine("dt", "nq", "nc")} DESC, neighbor_id ASC) AS rk
         |    FROM $from) WHERE rk <= 5)""".stripMargin
    s"""qv AS (SELECT id AS query_id, v AS qv FROM $full WHERE id < 10),
       |cvx AS (SELECT id AS neighbor_id, v AS cv FROM $full),
       |sx AS (SELECT query_id, neighbor_id,
       |    $cosine
       |  FROM $cand JOIN qv USING (query_id) JOIN cvx USING (neighbor_id)),
       |${top5("annr", "sx")},
       |se AS (SELECT query_id, neighbor_id,
       |    $cosine
       |  FROM cvx CROSS JOIN qv WHERE query_id != neighbor_id),
       |${top5("exact", "se")},
       |sizes AS (SELECT cell, COUNT(*) AS sz FROM ca GROUP BY cell),
       |bal AS (SELECT COUNT(*) AS n_cells, MAX(sz) AS max_cell,
       |        SUM(sz) AS n_vecs FROM sizes),
       |h AS (SELECT
       |  (SELECT COUNT(*) FROM annr JOIN exact USING (query_id, neighbor_id)) AS hits,
       |  (SELECT COUNT(*) FROM exact) AS total)
       |SELECT '$method' AS method, CAST(hits AS BIGINT) AS hits,
       |  CAST(total AS BIGINT) AS total,
       |  CAST(hits AS DOUBLE) / CAST(total AS DOUBLE) AS recall,
       |  CAST(n_cells AS BIGINT) AS n_cells, CAST(max_cell AS BIGINT) AS max_cell,
       |  max_cell * n_cells <= 4 * n_vecs AS balanced$extraCols
       |FROM h CROSS JOIN bal""".stripMargin
  }

  val p76Sql: String = ivfScaledGateSql("ivf_scaled", "")

  // =========================================================================
  // p77 — incremental MinHash near-dup: the daily-increment shape for
  // NEAR-dup (p35 is its exact-dup twin, p73/p75 its passage twins, and
  // it was the one incremental operator still without an oracle). New
  // docs band as usual; cross-set candidates form only where a new doc's
  // (band, bucket) hits the persisted band index — the standing corpus
  // never re-shingles, and its text is re-read only for bucket-sharing
  // docs. The oracle recomposes both sides from the shared MinHash chain
  // (now tag-parameterized): the in-batch arm is exactly p08's
  // formulation over the batch, the cross arm joins batch bands to
  // standing bands on slice VALUES (the banding definition the xxhash
  // bucket join implements) under the engine's join-row bucket cap.
  // Planted +10000000 replays of standing docs guarantee cross-set hits
  // (jaccard 1.0) alongside the natural boundary-straddling near-dups.
  // =========================================================================
  def p77MinhashIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val existing = docs.filter(col("doc_id") < 250)
    val incoming = docs.filter(col("doc_id") >= 250)
      .unionAll(docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + 10000000).as("doc_id"), col("text")))
    val idx = Dedup.minhashBandIndex(existing, "doc_id", "text",
      numHashes = 64, bands = 16, shingleSize = 3, seed = 42L)
    Dedup.minhashPairsIncremental(incoming, "doc_id", "text", idx, existing,
        numHashes = 64, bands = 16, shingleSize = 3, threshold = 0.4)
      .orderBy("id_a", "id_b")
  }

  val p77Sql: String =
    s"""WITH ex AS (SELECT doc_id, $sqlToks AS toks FROM documents
       |           WHERE doc_id < 250),
       |inc AS (
       |  SELECT doc_id, $sqlToks AS toks FROM documents WHERE doc_id >= 250
       |  UNION ALL
       |  SELECT doc_id + 10000000, $sqlToks FROM documents WHERE doc_id < 10),
       |$sqlMinhashCoef,
       |${sqlMinhashChain("i0", "inc")},
       |${sqlMinhashPairCtes("i0")},
       |${sqlMinhashChain("x", "ex")},
       |${sqlCrossArmCtes(0, prefix = "i")}
       |SELECT id_a, id_b, jaccard
       |FROM (SELECT * FROM mhi0 UNION ALL SELECT * FROM mx0)
       |ORDER BY id_a, id_b""".stripMargin

  // =========================================================================
  // p78 — replayable count-min sketch: frequency estimation, the sibling
  // of p70's cardinality sketch. Counters over lineitem.l_partkey (d=4
  // rows × w=1024 buckets, one aggregation pass, model-sized table),
  // probed for parts 1-30 against their exact counts — the overestimate
  // (n_cms ≥ n_exact, a structural CMS guarantee) is driver-visible per
  // key, like p70's err_bp. Hash = fingerprint64(key || '#' || j), the
  // p70-proven VARCHAR bridge, so DuckDB re-derives every counter and
  // every estimate in exact HUGEINT arithmetic.
  // =========================================================================
  def p78CountMin(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Profiling
    val li = Tables.lineitem(spark, dir)
    val counters = Profiling.countMinSketch(li, "l_partkey", d = 4, w = 1024)
    val probes = spark.range(1, 31).select(col("id").as("l_partkey"))
    val exact = li.filter(col("l_partkey").between(1, 30))
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("n_exact"))
    Profiling.countMinLookup(probes, "l_partkey", counters)
      .join(exact, Seq("l_partkey"), "left")
      .select(col("l_partkey"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"),
        col("n_cms"),
        (col("n_cms") - coalesce(col("n_exact"), lit(0L))).as("overcount"))
      .orderBy("l_partkey")
  }

  val p78Sql: String =
    s"""WITH src AS (SELECT CAST(l_partkey AS VARCHAR) AS k FROM lineitem),
       |pk AS (SELECT CAST(range AS BIGINT) AS key FROM range(1, 31)),
       |${sqlCountMinCtes("CAST(key AS VARCHAR)")},
       |ex AS (SELECT l_partkey AS key, COUNT(*) AS n FROM lineitem
       |       WHERE l_partkey BETWEEN 1 AND 30 GROUP BY 1)
       |SELECT est.key AS l_partkey, CAST(COALESCE(n, 0) AS BIGINT) AS n_exact,
       |  CAST(n_cms AS BIGINT) AS n_cms,
       |  CAST(n_cms - COALESCE(n, 0) AS BIGINT) AS overcount
       |FROM est LEFT JOIN ex ON est.key = ex.key
       |ORDER BY l_partkey""".stripMargin

  /** The count-min replay (d = 4 rows × w = 1024, hash fingerprint64(k ||
    * '#' || j)): the counters `counters(j, bucket, cnt)` over the keys of
    * `src(k VARCHAR)`, and `est(key, n_cms)`, the estimate of each probe
    * key of `pk(key)` (`keyStr` renders a key as VARCHAR). Shared by p78
    * and p110. */
  private def sqlCountMinCtes(keyStr: String): String = {
    import OracleHash._
    s"""sj AS (SELECT k || '#' || CAST(j AS VARCHAR) AS sv, j
       |       FROM src CROSS JOIN (SELECT unnest(range(4)) AS j) js),
       |h0 AS (SELECT j, ${fnv1a("sv")} AS h FROM sj),
       |hf AS (SELECT j, ${mix("h")} AS u FROM h0),
       |counters AS (SELECT j, CAST(u % 1024 AS INT) AS bucket,
       |    COUNT(*) AS cnt FROM hf GROUP BY j, bucket),
       |pj AS (SELECT key, $keyStr || '#' || CAST(j AS VARCHAR) AS sv, j
       |       FROM pk CROSS JOIN (SELECT unnest(range(4)) AS j) js),
       |q0 AS (SELECT key, j, ${fnv1a("sv")} AS h FROM pj),
       |qf AS (SELECT key, j, ${mix("h")} AS u FROM q0),
       |qb AS (SELECT key, j, CAST(u % 1024 AS INT) AS bucket FROM qf),
       |est AS (SELECT key, MIN(COALESCE(cnt, 0)) AS n_cms
       |        FROM qb LEFT JOIN counters USING (j, bucket) GROUP BY key)"""
      .stripMargin
  }

  // =========================================================================
  // p79 — STREAMING MinHash near-dup filter: p75's sibling for near-dup,
  // closing the streaming story (exact passages p75, near-dup p79). Three
  // mtime-ordered daily files (batch = doc_id mod 3); each foreachBatch
  // emits in-batch pairs plus pairs against everything earlier (standing
  // corpus band deltas + prior batches), then appends its own band and
  // doc deltas — NearDupStream.filterBatch. Planted dups probe both
  // incremental arms: +10000000 replays of standing docs (cross-corpus) and
  // +20000000 replays of incoming docs (+2 mod 3 ⇒ always a different
  // batch: the pair surfaces in the LATER sibling's batch, an
  // order-dependence the oracle replays). The oracle recomposes each
  // batch from the tag-parameterized MinHash chain: in-batch = p08's
  // formulation over the batch, cross = batch bands joined to the
  // cumulative prior bands on slice values under the engine's join-row
  // cap, verified against the cumulative prior shingles.
  // =========================================================================
  def p79StreamNearDupFilter(spark: SparkSession, dir: String): DataFrame = {
    val (existing, incoming) = passageStreamCorpus(spark, dir)
    nearDupStream(spark, existing, incoming, stripe("doc_id", 3))((_, _) => ())
  }

  /** Writes the near-dup stores' standing versions: the band index at
    * `idx/v0` and the docs store at `docs/v0` (the registry's MinHash
    * parameters). */
  private def nearDupStanding(existing: DataFrame, idx: String,
      docs: String): Seq[() => Unit] = Seq(
    () => Dedup.minhashBandIndex(existing, "doc_id", "text",
        numHashes = 64, bands = 16, shingleSize = 3, seed = 42L)
      .write.parquet(s"$idx/v0"),
    () => existing.write.parquet(s"$docs/v0"))

  /** p79's stream over (`existing`, `incoming`), batch `batchOf` of 3;
    * `verbs(r, id)` runs before batch `id`'s probe (the takedown and
    * revive of p132/p146). */
  private def nearDupStream(spark: SparkSession, existing: DataFrame,
      incoming: DataFrame, batchOf: Column)(
      verbs: (StreamRun, Long) => Unit): DataFrame = {
    val r = new StreamRun(spark)
    r.run(incoming, batchOf, 0 until 3)(
        nearDupStanding(existing, r("idx"), r("docs")): _*) { (b, id) =>
      verbs(r, id)
      graft.streaming.NearDupStream.filterBatch(spark, r("idx"), r("docs"),
        r("out"), "doc_id", "text", threshold = 0.4)(b, id)
    }
    r.out.select(col("id_a"), col("id_b"), col("jaccard"), col("batch"))
      .orderBy("id_a", "id_b")
  }

  /** Cross arm of streamed-near-dup batch `b`: the batch's bands
    * (`bands$prefix$b`) vs the CUMULATIVE prior bands (standing chain
    * `bands$standingTag` + batches < b), join-row-capped per bucket, then
    * exact-Jaccard verified against the cumulative prior shingles —
    * [[graft.operators.Dedup.minhashPairsIncremental]]'s cross-set, CTEs
    * `pb/ps/cr/crn/cx/mx` suffixed with `$b`, emitting `mx$b(id_a, id_b,
    * jaccard)` at threshold 0.4 / cap 200 (the registry parameters).
    * Shared by p77 (one batch), the p79 family and the p114, p139 and
    * p145 loops. */
  private def sqlCrossArmCtes(b: Int, standingTag: String = "x",
      prefix: String = "g", excludeOld: Option[String] = None): String = {
    // `excludeOld` replays a takedown visible to this batch (p132): the
    // engine's maskTombstones anti-join removes the deleted ids from the
    // prior bands AND prior docs BEFORE the bucket-occupancy cap counts,
    // so the oracle's exclusion must land on pb/ps, not on the output
    val excl = excludeOld.map(p => s" WHERE NOT ($p)").getOrElse("")
    val priorBands = (s"SELECT id, bd, key FROM bands$standingTag" +:
      (0 until b).map(p => s"SELECT id, bd, key FROM bands$prefix$p"))
      .mkString(" UNION ALL ")
    val priorSh = (s"SELECT id, sh FROM sh$standingTag" +:
      (0 until b).map(p => s"SELECT id, sh FROM sh$prefix$p"))
      .mkString(" UNION ALL ")
    s"""pb$b AS (SELECT * FROM ($priorBands)$excl),
       |ps$b AS (SELECT * FROM ($priorSh)$excl),
       |cr$b AS (
       |  SELECT i.id AS new_id, x.id AS old_id, i.bd, i.key
       |  FROM bands$prefix$b i JOIN pb$b x ON i.bd = x.bd AND i.key = x.key),
       |crn$b AS (SELECT new_id, old_id,
       |    COUNT(*) OVER (PARTITION BY bd, key) AS n FROM cr$b),
       |cx$b AS (SELECT DISTINCT new_id, old_id FROM crn$b WHERE n <= 200),
       |mx$b AS (
       |  SELECT least(new_id, old_id) AS id_a,
       |    greatest(new_id, old_id) AS id_b, jaccard
       |  FROM (
       |    SELECT new_id, old_id,
       |      CASE WHEN len(list_distinct(list_concat(sa.sh, sb.sh))) = 0 THEN 0.0
       |           ELSE len(list_intersect(sa.sh, sb.sh)) / len(list_distinct(list_concat(sa.sh, sb.sh)))
       |      END AS jaccard
       |    FROM cx$b JOIN sh$prefix$b sa ON new_id = sa.id JOIN ps$b sb ON old_id = sb.id)
       |  WHERE jaccard >= 0.4)""".stripMargin
  }

  /** The streamed near-dup oracle over a [[sqlTextStreamCtes]] `fixture`:
    * each batch emits its in-batch pairs and its cross arm, whose prior
    * side excludes `dead(b)`, the takedown batch `b` sees (p132, p146). */
  private def sqlNearDupStream(fixture: String,
      dead: Int => Option[String] = _ => None): String =
    s"""WITH $fixture,
       |$sqlMinhashCoef,
       |${sqlMinhashChain("x", "ex")},
       |${perBatch(3)(b => sqlMinhashChain(s"g$b", s"i$b"))},
       |${perBatch(3)(b => sqlMinhashPairCtes(s"g$b"))},
       |${perBatch(3)(b => sqlCrossArmCtes(b, excludeOld = dead(b)))}
       |SELECT id_a, id_b, jaccard, batch FROM (
       |  ${(0 until 3).map(b => "SELECT id_a, id_b, jaccard, " +
            s"CAST($b AS BIGINT) AS batch FROM (SELECT * FROM mhg$b " +
            s"UNION ALL SELECT * FROM mx$b)").mkString("\n  UNION ALL\n  ")})
       |ORDER BY id_a, id_b""".stripMargin

  val p79Sql: String =
    sqlNearDupStream(sqlTextStreamCtes("doc_id >= 250", sqlPassagePlants))

  // =========================================================================
  // p80 — histogram quantile sketch: p50/p90/p99 of lineitem extended
  // prices from the mergeable equi-width histogram (p52's structure),
  // joined against the TRUE percentile (histogram-guided rank-select —
  // the located bin's residents are re-scanned and the (r-cum_before)-th
  // smallest picked, exact without ever sorting more than one bin) so
  // the estimate error is driver-visible per quantile, like p70's
  // err_bp and p78's overcount. The oracle replays the binning +
  // interpolation arithmetic expression-for-expression and re-derives
  // the exact side as a global rank pick (rn = ceil(q*n) — the same
  // value the bin-local pick returns, the equivalence the green row
  // proves), with the decimal→double cast VARCHAR-bridged.
  // =========================================================================
  def p80QuantileSketch(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Profiling
    Profiling.histogramQuantiles(Tables.lineitem(spark, dir),
        "l_extendedprice", 256, Seq(0.5, 0.9, 0.99), exact = true)
      .select(col("q"), col("n"), col("est"), col("p_exact"),
        (col("est") - col("p_exact")).as("err"))
      .orderBy("q")
  }

  val p80Sql: String =
    """WITH mm AS (SELECT MIN(CAST(l_extendedprice AS DOUBLE)) AS mn,
      |                  MAX(CAST(l_extendedprice AS DOUBLE)) AS mx,
      |                  COUNT(l_extendedprice) AS n
      |            FROM lineitem),
      |b AS (SELECT CASE WHEN mm.mx = mm.mn THEN 0
      |        ELSE CAST(least(floor((CAST(l_extendedprice AS DOUBLE) - mm.mn)
      |                              / ((mm.mx - mm.mn) / 256.0)), 255.0) AS INT)
      |        END AS bin
      |      FROM lineitem CROSS JOIN mm
      |      WHERE l_extendedprice IS NOT NULL),
      |c AS (SELECT bin, COUNT(*) AS nb FROM b GROUP BY bin),
      |cum AS (SELECT bin, nb,
      |    SUM(nb) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM c),
      |qs AS (SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE),
      |                      CAST(0.99 AS DOUBLE)]) AS q),
      |fb AS (SELECT q, MIN(bin) AS bin
      |       FROM qs CROSS JOIN mm JOIN cum ON cum.cum >= ceil(q * mm.n)
      |       GROUP BY q),
      |est AS (SELECT q, mm.n AS n,
      |  CASE WHEN mm.mx = mm.mn THEN mm.mn
      |    ELSE (mm.mn + (CAST(fb.bin AS DOUBLE) * ((mm.mx - mm.mn) / 256.0)))
      |      + (((CAST(ceil(q * mm.n) AS DOUBLE)
      |           - CAST(cum.cum - cum.nb AS DOUBLE)) / CAST(cum.nb AS DOUBLE))
      |         * ((mm.mx - mm.mn) / 256.0)) END AS est
      |  FROM fb JOIN cum USING (bin) CROSS JOIN mm),
      |ord AS (SELECT l_extendedprice AS x,
      |          ROW_NUMBER() OVER (ORDER BY l_extendedprice) AS rn
      |        FROM lineitem WHERE l_extendedprice IS NOT NULL),
      |ex AS (SELECT q, CAST(CAST(x AS VARCHAR) AS DOUBLE) AS p_exact
      |       FROM qs CROSS JOIN mm
      |       JOIN ord ON ord.rn = CAST(ceil(q * mm.n) AS BIGINT))
      |SELECT est.q, est.n, est.est, ex.p_exact,
      |  est.est - ex.p_exact AS err
      |FROM est JOIN ex USING (q) ORDER BY q""".stripMargin

  // =========================================================================
  // p81 — per-key EWMA: the sequential per-key fold (the reference's
  // reduce is exactly this shape — an ordered, non-commutative fold per
  // key) that no window frame expresses, run as a codegen'd `aggregate`
  // lambda over each user's time-ordered values. alpha = 0.125 (exact
  // binary, so 1-alpha is exact too); the oracle's list_reduce over
  // list(value ORDER BY ts, event_id) replays the identical IEEE
  // rounding sequence — the same forced-order fold contract as the
  // cosine/centroid oracles.
  // =========================================================================
  def p81Ewma(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.TimeSeries
    TimeSeries.ewmaByKey(
        Tables.events(spark, dir).filter(col("ts").isNotNull),
        Seq("user_id"), "ts", "event_id", "value", alpha = 0.125)
      .orderBy("user_id")
  }

  val p81Sql: String =
    """SELECT user_id, COUNT(*) AS n_events,
      |  list_reduce(list(value ORDER BY ts, event_id),
      |    (acc, v) -> (CAST(0.125 AS DOUBLE) * v)
      |              + (CAST(0.875 AS DOUBLE) * acc)) AS ewma
      |FROM events
      |WHERE ts IS NOT NULL AND value IS NOT NULL AND user_id IS NOT NULL
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  // =========================================================================
  // p82 — per-dimension z-score standardization of the embedding corpus:
  // the feature-scaling pass that precedes distance-based ops. Sums are
  // decimal-staged (exact, order-free — bit-identical under any
  // partitioning, the p41/IVF discipline), the model-sized stats fold
  // into one broadcast array row, and the rewrite scan never joins on
  // the 64-value `pos` key. The oracle replays sums through the VARCHAR
  // bridge and the mean/std/z doubles with the identical expression
  // tree; output is the first 30 vectors exploded to (vec_id, dim, z).
  // =========================================================================
  def p82EmbedStandardize(spark: SparkSession, dir: String): DataFrame =
    Similarity.standardize(Tables.embeddings(spark, dir))
      .filter(col("vec_id") < 30)
      .select(col("vec_id"), posexplode(col("z")))
      .select(col("vec_id"), col("pos").cast("int").as("dim"),
        col("col").as("z"))
      .orderBy("vec_id", "dim")

  val p82Sql: String =
    """WITH e AS (SELECT vec_id, CAST(i - 1 AS INT) AS dim,
      |             CAST(embedding[i] AS DOUBLE) AS x
      |           FROM embeddings
      |           CROSS JOIN (SELECT unnest(range(1, 65)) AS i) dims
      |           WHERE embedding IS NOT NULL),
      |st AS (SELECT dim,
      |    CAST(CAST(SUM(CAST(CAST(x AS VARCHAR) AS DECIMAL(38,18)))
      |         AS VARCHAR) AS DOUBLE) AS s,
      |    CAST(CAST(SUM(CAST(CAST(x * x AS VARCHAR) AS DECIMAL(38,18)))
      |         AS VARCHAR) AS DOUBLE) AS s2,
      |    CAST(COUNT(*) AS DOUBLE) AS n
      |  FROM e GROUP BY dim),
      |ms AS (SELECT dim, s / n AS mean,
      |    sqrt(greatest((s2 / n) - ((s / n) * (s / n)),
      |                  CAST(0.0 AS DOUBLE))) AS std
      |  FROM st)
      |SELECT e.vec_id, e.dim,
      |  CASE WHEN ms.std = CAST(0.0 AS DOUBLE) THEN CAST(0.0 AS DOUBLE)
      |       ELSE (e.x - ms.mean) / ms.std END AS z
      |FROM e JOIN ms USING (dim) WHERE e.vec_id < 30
      |ORDER BY vec_id, dim""".stripMargin

  // =========================================================================
  // p83 — event funnel (view → click → purchase): per-user subsequence
  // match over the time-ordered event stream, then per-step reach. The
  // same sequential per-key fold shape as p81, but with INTEGER state —
  // each event maps to its 1-based step index (0 otherwise) and the fold
  // advances exactly when the element equals acc + 1, so an event counts
  // toward step i+1 only strictly after the event that completed step i.
  // Pure integer arithmetic end to end; the oracle replays the identical
  // fold via list_reduce over the identically-ordered list.
  // =========================================================================
  def p83Funnel(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.TimeSeries
    val st = TimeSeries.funnelStage(
      Tables.events(spark, dir).filter(col("ts").isNotNull),
      Seq("user_id"), "ts", "event_id", "event_type",
      Seq("view", "click", "purchase"))
    st.agg(
        count(when(col("stage") >= 1, lit(1))).as("__s1"),
        count(when(col("stage") >= 2, lit(1))).as("__s2"),
        count(when(col("stage") >= 3, lit(1))).as("__s3"))
      .select(explode(array(
        struct(lit(1).as("step"), lit("view").as("step_name"),
          col("__s1").as("n_users")),
        struct(lit(2).as("step"), lit("click").as("step_name"),
          col("__s2").as("n_users")),
        struct(lit(3).as("step"), lit("purchase").as("step_name"),
          col("__s3").as("n_users")))).as("__p"))
      .select(col("__p.step").as("step"), col("__p.step_name").as("step_name"),
        col("__p.n_users").as("n_users"))
      .orderBy("step")
  }

  val p83Sql: String =
    """WITH st AS (
      |  SELECT user_id,
      |    list_reduce(list_prepend(0,
      |      list(CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
      |           WHEN 'purchase' THEN 3 ELSE 0 END ORDER BY ts, event_id)),
      |      (acc, v) -> CASE WHEN v = acc + 1 THEN acc + 1 ELSE acc END)
      |      AS stage
      |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
      |  GROUP BY user_id)
      |SELECT step, step_name, n_users FROM (
      |  SELECT 1 AS step, 'view' AS step_name,
      |    COUNT(CASE WHEN stage >= 1 THEN 1 END) AS n_users FROM st
      |  UNION ALL SELECT 2, 'click',
      |    COUNT(CASE WHEN stage >= 2 THEN 1 END) FROM st
      |  UNION ALL SELECT 3, 'purchase',
      |    COUNT(CASE WHEN stage >= 3 THEN 1 END) FROM st)
      |ORDER BY step""".stripMargin

  // =========================================================================
  // p84 — robust outlier sweep over the right-skewed event values:
  // median/MAD flags via TWO composed histogram-guided exact
  // rank-selects (p80's machinery) — the heavy-tail-safe quality filter
  // where mean/stddev breaks (value's max is 16× its median; ~4% of
  // rows are genuine MAD outliers, all driver-visible). The oracle
  // re-derives both medians as global rank picks at ceil(0.5·n) (the
  // equivalence of the bin-local pick and the global pick is what the
  // green row proves, twice) and mirrors the threshold arithmetic.
  // =========================================================================
  def p84Outliers(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Profiling
    Profiling.robustOutliers(Tables.events(spark, dir), "value")
      .filter(col("is_outlier"))
      .select(col("event_id"), col("value"), col("dev"))
      .orderBy("event_id")
  }

  val p84Sql: String =
    """WITH v AS (SELECT event_id, value, CAST(value AS DOUBLE) AS x
      |           FROM events WHERE value IS NOT NULL),
      |n1 AS (SELECT COUNT(*) AS n FROM v),
      |m AS (SELECT x AS med FROM
      |        (SELECT x, ROW_NUMBER() OVER (ORDER BY x) AS rn FROM v)
      |        CROSS JOIN n1 WHERE rn = CAST(ceil(0.5 * n) AS BIGINT)),
      |d AS (SELECT event_id, value, x, abs(x - med) AS dev
      |      FROM v CROSS JOIN m),
      |m2 AS (SELECT dev AS mad FROM
      |        (SELECT dev, ROW_NUMBER() OVER (ORDER BY dev) AS rn FROM d)
      |        CROSS JOIN n1 WHERE rn = CAST(ceil(0.5 * n) AS BIGINT))
      |SELECT event_id, value, dev
      |FROM d CROSS JOIN m2
      |WHERE dev > (CAST(3.0 AS DOUBLE) * (CAST(1.4826 AS DOUBLE) * mad))
      |ORDER BY event_id""".stripMargin

  // =========================================================================
  // p85 — EXACT set-similarity join (prefix + length filtering, the
  // PPJoin family): every jaccard-≥0.6 pair, guaranteed — the
  // deterministic counterpart of p08's MinHash banding (recall 1.0 by
  // construction, not by measurement). The oracle is the INDEPENDENT
  // brute-force formulation over all doc pairs — the green row proves
  // the pruning filters drop no qualifying pair, which is the
  // operator's entire claim.
  // =========================================================================
  def p85JaccardJoin(spark: SparkSession, dir: String): DataFrame =
    Dedup.jaccardJoinExact(Tables.documents(spark, dir), "doc_id", "text",
        threshold = 0.6)
      .orderBy("id_a", "id_b")

  // Exact-Jaccard ground truth WITHOUT the n² pair join: explode the
  // shingle sets, equi-join on the shingle, and count |A∩B| per pair —
  // only pairs that actually share a shingle are ever materialized
  // (qualifying pairs at θ=0.6 always do, and |A∪B| = |A|+|B|−|A∩B|
  // since the lists are distinct). Value-identical to the brute-force
  // formulation but feasible at ANY corpus: the old a×b form was 1.25
  // BILLION list_intersect calls at the 50k-doc zipf1 spot-gate (DuckDB
  // ran past 20 minutes); this replays the same relation in seconds —
  // the p36/p94 oracle shape.
  val p85Sql: String =
    s"""WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents),
       |sh AS (SELECT doc_id, ${sqlShingle3List("toks")} AS s
       |       FROM t),
       |ne AS (SELECT doc_id, s, len(s) AS sz FROM sh WHERE len(s) > 0),
       |shu AS (SELECT doc_id, sz, unnest(s) AS g FROM ne),
       |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    MIN(a.sz) AS sza, MIN(b.sz) AS szb, COUNT(*) AS i
       |  FROM shu a JOIN shu b ON a.g = b.g AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |p AS (SELECT id_a, id_b, i / (sza + szb - i) AS jaccard FROM inter)
       |SELECT id_a, id_b, jaccard FROM p WHERE jaccard >= 0.6
       |ORDER BY id_a, id_b""".stripMargin

  // =========================================================================
  // p86 — STREAMING funnel: p83's stateful sibling. Events split into
  // three time-ordered "daily" files (rankBatches — ntile(3)-equivalent
  // thirds by (ts, event_id) computed distributively, so every event of
  // batch b sorts after all of batch b-1's and the per-batch fold
  // composes into the one-shot fold; the oracle keeps its ntile(3) CTE,
  // same membership); each
  // micro-batch folds on top of the carried per-user stage (versioned
  // state deltas, the p75 convention: v0 = standing state, v{b+1} =
  // batch b's advances) and emits only the users whose stage advanced.
  // Standing state plants users 0-49 at stage 1 — their first re-view
  // does NOT advance them (already there) but a click does, probing the
  // seed path. The oracle recomposes each batch's emission as
  // f_b ≠ f_{b-1} where f_b folds ALL events of batches ≤ b seeded by
  // the standing state — the fold-composition equivalence the green row
  // proves.
  // =========================================================================
  /** Rank-based K-way TIME-PREFIX batch assignment for the seeded-fold
    * stream fixtures (p86/p88) WITHOUT a single-partition window
    * (VERDICT r13 wrong #2: `ntile(3)` over an unpartitioned Window
    * funneled the whole events table through one task — the exact
    * pattern the operator code scrupulously avoids). The split must stay
    * RANK-based, not hash-based: the seeded per-batch folds compose into
    * the one-shot fold only because every event of batch b sorts after
    * all of batch b−1's.
    *
    * Shape: range-partition by the order key (checkpointed — range
    * bounds are sampled, and the counts pass and the rank pass must see
    * the SAME partitioning), pull the ≤ `parts` per-partition counts to
    * the driver (model-sized, the pin discipline), and assign each row
    * `bucket = (rank₀ · k) div n` from offset + within-partition
    * row_number. That bucket formula is exactly `ntile(k) − 1` — both
    * give the first `n mod k` buckets the extra row — so batch
    * membership, the oracles' `ntile(3)` CTEs, and every downstream hash
    * are unchanged. */
  private def rankBatches(df: DataFrame, k: Int,
      order: Seq[Column]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val parts = 32
    val ranged = df.repartitionByRange(parts, order: _*)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(true)
    val counts = ranged.groupBy(col("__pid")).count()
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val n = counts.map(_._2).sum
    val offsets = counts.scanLeft((0, 0L)) { case ((_, acc), (pid, c)) =>
      (pid, acc + c) }.init.zip(counts)
      .map { case ((_, off), (pid, _)) => (pid, off) }
    val spark = df.sparkSession
    import spark.implicits._
    val offDf = offsets.toSeq.toDF("__pid", "__off")
    val wIn = Window.partitionBy(col("__pid")).orderBy(order: _*)
    ranged.withColumn("__rn", row_number().over(wIn))
      .join(broadcast(offDf), "__pid")
      .withColumn("batch",
        expr(s"((__off + __rn - 1) * $k) div $n").cast("int"))
      .drop("__pid", "__rn", "__off")
  }

  def p86StreamFunnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = rankBatches(Tables.events(spark, dir)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type")),
      3, Seq(col("ts"), col("event_id")))
    val r = new StreamRun(spark)
    r.run(ev, col("batch"), 0 until 3)(
      () => spark.range(0, 50).select(col("id").as("user_id"),
          lit(1).as("stage"), lit(0L).as("__v"))
        .write.parquet(r("state/v0")))(
      graft.streaming.FunnelStream.advanceBatch(spark, r("state"), r("out"),
        "user_id", "ts", "event_id", "event_type",
        Seq("view", "click", "purchase")))
    r.out.select(col("user_id"), col("stage"), col("batch"))
      .orderBy("user_id", "batch")
  }

  val p86Sql: String = {
    // LAMBDA-FREE formulation: the left fold over (ts, id)-ordered step
    // indexes equals the greedy min-rank chain — the first step-1 event,
    // the first step-2 event strictly after it, the first step-3 event
    // after that. Plain MIN + JOIN + CASE, the vocabulary of every other
    // proven oracle here, because DuckDB 1.0.0's list/lambda engine
    // returned PLAN-DEPENDENT folds: joined same-shaped fold CTEs
    // compared equal on provably-different rows, `list(... ORDER BY)
    // FILTER` lost its order in the 3-reference plan, and a
    // fold-over-nested-transform changed answers inside a multi-column
    // SELECT. Seeded users (s0 = 1) have step 1 pre-satisfied: their
    // chain anchor is rank 0.
    def cutoff(x: Int): String =
      s"""c${x}1 AS MATERIALIZED (SELECT user_id, MIN(rn) AS t FROM r
         |  WHERE b <= $x AND v = 1 GROUP BY user_id),
         |d${x}1 AS MATERIALIZED (SELECT s.user_id,
         |    CASE WHEN s.s0 >= 1 THEN 0 ELSE c.t END AS t
         |  FROM s LEFT JOIN c${x}1 c USING (user_id)),
         |c${x}2 AS MATERIALIZED (SELECT r.user_id, MIN(r.rn) AS t
         |  FROM r JOIN d${x}1 d ON r.user_id = d.user_id
         |  WHERE r.b <= $x AND r.v = 2 AND r.rn > d.t GROUP BY r.user_id),
         |c${x}3 AS MATERIALIZED (SELECT r.user_id, MIN(r.rn) AS t
         |  FROM r JOIN c${x}2 c ON r.user_id = c.user_id
         |  WHERE r.b <= $x AND r.v = 3 AND r.rn > c.t GROUP BY r.user_id),
         |g$x AS MATERIALIZED (SELECT s.user_id,
         |    CASE WHEN c3.t IS NOT NULL THEN 3
         |         WHEN c2.t IS NOT NULL THEN 2
         |         WHEN d1.t IS NOT NULL THEN 1
         |         ELSE s.s0 END AS st
         |  FROM s LEFT JOIN d${x}1 d1 USING (user_id)
         |         LEFT JOIN c${x}2 c2 USING (user_id)
         |         LEFT JOIN c${x}3 c3 USING (user_id))""".stripMargin
    s"""WITH ev AS (SELECT user_id, ts, event_id,
       |    CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
       |         WHEN 'purchase' THEN 3 ELSE 0 END AS v,
       |    ntile(3) OVER (ORDER BY ts, event_id) - 1 AS b
       |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
       |init AS (SELECT CAST(range AS BIGINT) AS user_id, 1 AS s0
       |         FROM range(0, 50)),
       |r AS MATERIALIZED (SELECT user_id, v, b,
       |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
       |      AS rn
       |  FROM ev),
       |s AS MATERIALIZED (SELECT u.user_id, COALESCE(init.s0, 0) AS s0
       |  FROM (SELECT DISTINCT user_id FROM r) u
       |  LEFT JOIN init USING (user_id)),
       |${cutoff(0)},
       |${cutoff(1)},
       |${cutoff(2)},
       |f AS MATERIALIZED (SELECT s.user_id, s.s0,
       |    g0.st AS st0, g1.st AS st1, g2.st AS st2
       |  FROM s JOIN g0 USING (user_id) JOIN g1 USING (user_id)
       |         JOIN g2 USING (user_id))
       |SELECT user_id, e.stage AS stage, CAST(e.batch AS BIGINT) AS batch
       |FROM (
       |  SELECT user_id, unnest(list_filter(
       |    [struct_pack(stage := st0, batch := 0, prev := s0),
       |     struct_pack(stage := st1, batch := 1, prev := st0),
       |     struct_pack(stage := st2, batch := 2, prev := st1)],
       |    e -> e.stage != e.prev)) AS e
       |  FROM f)
       |ORDER BY user_id, batch""".stripMargin
  }

  // =========================================================================
  // p87 — scale-adaptive IVF-PQ recall + cell-balance gate: p76's insurance
  // extended to the composed path. p32 pins the 16-cell coarse bank, the
  // exact pattern p76 proved rots at 10× data (IVF recall 0.94 → 0.78);
  // the coarse stage is the scale-sensitive half of IVF-PQ (codebook
  // quantization error does not grow with corpus size — the refine window
  // re-ranks from true vectors either way), so this row routes through the
  // scaled 128-cell/stride-15 bank probing 48, with the registry PQ
  // codebooks (m=16, nCodes=32) scoring the probed cells. The coarse
  // bank's balance bound rides along exactly as in p76. The oracle replays
  // BOTH trained models from raw data (decimal-staged Lloyd for the coarse
  // bank, per-subspace stride-seeded Lloyd for the codebooks) through the
  // probe → reconstruct → refine-window → exact-rerank chain.
  // =========================================================================
  def p87IvfPqRecallScaled(spark: SparkSession, dir: String): DataFrame =
    scaledIvfGateRow(spark, dir, "ivfpq_scaled") { (qs, emb, bank) =>
      Similarity.ivfPqTopK(qs, emb, k = 5,
        centroids = bank, banks = pqBank(spark, dir),
        nProbe = math.min(48, bank.length))
    }

  /** The scale-adaptive IVF-PQ gate's oracle, shared by p87 (driver-bank
    * coarse stage) and p104 (relation-bank coarse stage) — the p76/p103
    * sharing argument composed with the PQ replay: coarse trainings are
    * bit-identical (IvfRelationalSpec), so one replay gates both, and
    * p104's `extraCols` appends its engine-computed `bank_matches`. */
  private def ivfPqScaledGateSql(method: String, extraCols: String): String =
    s"""WITH ${sqlIvfPqSurvivorCtes(
         OracleHash.ivfBankCtes(nCells = 128, iters = 3, stride = 15), 48)},
       |${sqlIvfGateTail("sv", "emb", method, extraCols)}""".stripMargin

  val p87Sql: String = ivfPqScaledGateSql("ivfpq_scaled", "")

  // =========================================================================
  // p88 — STREAMING per-key EWMA: p81's stateful sibling and the chained-
  // seed operator the TimeSeries scaladoc promised (verdict r6 "What's
  // missing #2"). Events split into three time-ordered files (the p86
  // rankBatches convention — every event of batch b sorts after all of
  // batch b-1's); each micro-batch seeds its codegen'd fold with the
  // carried
  // (n_events, ewma) DOUBLE-state and emits every key that saw values.
  // Because the EWMA recurrence is a left fold, the seeded batch fold
  // replays the identical IEEE sequence as one fold over the cumulative
  // prefix — so the oracle needs NO seeded-fold machinery: batch b's
  // emission for a user is exactly p81's list_reduce over the user's
  // first n_{<=b} values (MATERIALIZED list CTE, one single-fold arm per
  // batch — the shape p81 proved deterministic in DuckDB 1.0.0, avoiding
  // the joined-fold-CTE and multi-fold-SELECT planner traps p86 hit).
  // =========================================================================
  def p88StreamEwma(spark: SparkSession, dir: String): DataFrame = {
    val ev = rankBatches(Tables.events(spark, dir)
      .filter(col("ts").isNotNull && col("user_id").isNotNull &&
        col("value").isNotNull)
      .select(col("event_id"), col("ts"), col("user_id"), col("value")),
      3, Seq(col("ts"), col("event_id")))
    val r = new StreamRun(spark)
    r.run(ev, col("batch"), 0 until 3)(
      () => spark.range(0).select(col("id").as("user_id"),
          lit(0L).as("n_events"), lit(0.0).as("ewma"), lit(0L).as("__v"))
        .write.parquet(r("state/v0")))(
      graft.streaming.EwmaStream.advanceBatch(spark, r("state"), r("out"),
        "user_id", "ts", "event_id", "value", alpha = 0.125))
    r.out.select(col("user_id"), col("n_events"), col("ewma"), col("batch"))
      .orderBy("user_id", "batch")
  }

  val p88Sql: String = {
    val lam = """(acc, v) -> (CAST(0.125 AS DOUBLE) * v)
                |              + (CAST(0.875 AS DOUBLE) * acc)""".stripMargin
    def arm(b: Int): String = {
      val guard = if (b == 0) "n0 > 0" else s"n$b > n${b - 1}"
      s"""SELECT user_id, CAST(n$b AS BIGINT) AS n_events,
         |  list_reduce(vs[1:n$b], $lam) AS ewma, CAST($b AS BIGINT) AS batch
         |FROM l WHERE $guard""".stripMargin
    }
    s"""WITH ev AS (SELECT user_id, value AS v, ts, event_id,
       |    ntile(3) OVER (ORDER BY ts, event_id) - 1 AS b
       |  FROM events
       |  WHERE ts IS NOT NULL AND user_id IS NOT NULL AND value IS NOT NULL),
       |l AS MATERIALIZED (SELECT user_id,
       |    list(v ORDER BY ts, event_id) AS vs,
       |    COUNT(*) FILTER (WHERE b <= 0) AS n0,
       |    COUNT(*) FILTER (WHERE b <= 1) AS n1,
       |    COUNT(*) AS n2
       |  FROM ev GROUP BY user_id)
       |${arm(0)}
       |UNION ALL
       |${arm(1)}
       |UNION ALL
       |${arm(2)}
       |ORDER BY user_id, batch""".stripMargin
  }

  // =========================================================================
  // p89 — delta-store compaction under the ORACLE: p75's exact pipeline
  // and oracle, but the stream drains in two phases with
  // PassageStream.compactIndex folding v0..v2 into a new base between
  // them (upTo = last committed batch + 1, the Versions.compact safety
  // bound). Batch 2 then resumes from the checkpoint and probes the
  // compacted base. Hash-matching p75's per-batch oracle is the
  // read-equivalence proof as data: compaction changed the store layout
  // (3 deltas -> 1 base) without moving a single output bit — and the
  // lineage guard, batch-id rebase, and checkpoint resume all survive
  // the rewrite. StreamingSpec holds the byte-identical twin-root and
  // <= 2-versions assertions; this row puts the same contract under the
  // dual-scale correctness gate.
  // =========================================================================
  def p89StreamCompacted(spark: SparkSession, dir: String): DataFrame =
    passageFilterStream(spark, dir, compacted = true)

  /** p75's oracle verbatim: compaction must be output-invisible. */
  val p89Sql: String = p75Sql

  // =========================================================================
  // p90 — distributed BPE vocabulary training: the tokenizer-construction
  // operator. The corpus is aggregated ONCE into word frequencies (map-side
  // combined groupBy over the shared tokenize contract); 8 merge rounds then
  // run over the vocabulary-bounded distinct-words relation — pair counts
  // are exact integers, the per-round argmax breaks ties on
  // (count DESC, left ASC, right ASC), and greedy left-to-right merging is
  // a Catalyst `aggregate` fold per word (Vocab.bpeTrain's scaladoc proves
  // no-remerge within a round). The oracle replays all 8 rounds RELATIONALLY
  // — a completely independent formulation: positions + lead() windows for
  // pair counts, and greedy selection as run-parity (maximal runs of
  // consecutive match positions can only arise when left = right; greedy
  // takes alternate positions from each run's start). Pure integer
  // arithmetic throughout — no IEEE anywhere.
  // =========================================================================
  def p90BpeVocab(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(spark, dir)
      .select(explode(TF.tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    Vocab.bpeTrain(words, "word", "cnt", merges = 8).orderBy("step")
  }

  /** The shared BPE replay chain: word frequencies → char positions →
    * `rounds` merge rounds (pair counts by lead(), argmax b$r, run-parity
    * greedy selection s$r, rebased positions p$r, vocab v$r). Shared by
    * p90 (emits the merge table) and p95 (tokenizes with the final
    * positions p`rounds`). */
  private def bpeChainCtes(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { r =>
      val prev = s"p${r - 1}"
      s"""pr$r AS MATERIALIZED (SELECT l, r, SUM(cnt) AS c FROM (
         |    SELECT word, cnt, sym AS l,
         |      lead(sym) OVER (PARTITION BY word ORDER BY i) AS r
         |    FROM $prev) x WHERE r IS NOT NULL GROUP BY l, r),
         |b$r AS MATERIALIZED (SELECT l, r, c FROM pr$r
         |  ORDER BY c DESC, l ASC, r ASC LIMIT 1),
         |m$r AS MATERIALIZED (SELECT x.word, x.i FROM (
         |    SELECT word, i, sym,
         |      lead(sym) OVER (PARTITION BY word ORDER BY i) AS nx
         |    FROM $prev) x JOIN b$r b ON x.sym = b.l AND x.nx = b.r),
         |s$r AS MATERIALIZED (SELECT word, i FROM (
         |    SELECT word, i, MIN(i) OVER (PARTITION BY word, grp) AS rs
         |    FROM (SELECT word, i,
         |        i - ROW_NUMBER() OVER (PARTITION BY word ORDER BY i) AS grp
         |      FROM m$r) g) h WHERE (i - rs) % 2 = 0),
         |p$r AS MATERIALIZED (SELECT word, cnt,
         |    ROW_NUMBER() OVER (PARTITION BY word ORDER BY i) AS i, sym FROM (
         |    SELECT p.word, p.cnt, p.i,
         |      CASE WHEN sel.i IS NOT NULL THEN b.l || b.r ELSE p.sym END AS sym
         |    FROM $prev p CROSS JOIN b$r b
         |    LEFT JOIN s$r sel ON p.word = sel.word AND p.i = sel.i
         |    LEFT JOIN s$r con ON p.word = con.word AND p.i = con.i + 1
         |    WHERE con.i IS NULL) z),
         |v$r AS MATERIALIZED (SELECT COUNT(DISTINCT sym) AS vs FROM p$r)"""
        .stripMargin
    }.mkString(",\n")
    s"""w AS MATERIALIZED (SELECT word, COUNT(*) AS cnt FROM (
       |    SELECT unnest($sqlToks) AS word FROM documents) t GROUP BY word),
       |ch AS MATERIALIZED (SELECT word, cnt,
       |    regexp_split_to_array(word, '') AS cs FROM w),
       |p0 AS MATERIALIZED (SELECT word, cnt,
       |    unnest(range(1, len(cs) + 1)) AS i, unnest(cs) AS sym FROM ch),
       |$roundCtes""".stripMargin
  }

  val p90Sql: String = {
    val arms = (1 to 8).map { r =>
      s"""SELECT $r AS step, b.l AS left_sym, b.r AS right_sym,
         |  b.l || b.r AS merged, CAST(b.c AS BIGINT) AS pair_count,
         |  CAST(v.vs AS BIGINT) AS vocab_size
         |FROM b$r b CROSS JOIN v$r v""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH ${bpeChainCtes(8)}
       |$arms
       |ORDER BY step""".stripMargin
  }

  // =========================================================================
  // p91 — binned interval-overlap join: concurrent-activity detection (pairs
  // of a user's 10-minute activity windows that overlap). The operator is
  // the scale story: intervals explode into 15-minute bins, the join is a
  // pure equi-join on (user_id, bin) — never a per-key quadratic range
  // predicate, never a BroadcastNestedLoopJoin — and pair-dedup across
  // shared bins is positional (each pair kept only in its intersection's
  // first bin), not a distinct. The oracle is the naive predicate join —
  // the green row proves the bin decomposition loses and fabricates
  // nothing. Pure integer arithmetic (epoch micros).
  // =========================================================================
  def p91IntervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("s"))
      .withColumn("e", col("s") + 600L * 1000000L)
    val a = ev.select(col("user_id"), col("event_id").as("a_id"),
      col("s").as("a_s"), col("e").as("a_e"))
    val b = ev.select(col("user_id"), col("event_id").as("b_id"),
      col("s").as("b_s"), col("e").as("b_e"))
    graft.operators.Joins.intervalOverlap(a, b, Seq("user_id"),
        "a_s", "a_e", "b_s", "b_e", binWidth = 900L * 1000000L)
      .filter(col("a_id") < col("b_id"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(least(col("a_e"), col("b_e")) -
          greatest(col("a_s"), col("b_s"))).as("overlap_us"))
      .orderBy("user_id")
  }

  val p91Sql: String =
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS s,
      |    epoch_us(ts) + 600000000 AS e FROM events
      |  WHERE ts IS NOT NULL AND user_id IS NOT NULL)
      |SELECT a.user_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |  CAST(SUM(least(a.e, b.e) - greatest(a.s, b.s)) AS BIGINT) AS overlap_us
      |FROM e a JOIN e b
      |  ON a.user_id = b.user_id AND a.event_id < b.event_id
      | AND a.s < b.e AND b.s < a.e
      |GROUP BY a.user_id
      |ORDER BY a.user_id""".stripMargin

  // =========================================================================
  // p92 — fixed-budget weighted sampling without replacement: 20 docs per
  // source drawn proportional to length (1 ticket per 64 chars). The scheme
  // is exact integer hashing end-to-end (min ticket fingerprint per doc →
  // k smallest per stratum) — chosen over the A-ES exponential-key scheme
  // precisely because ln() is not correctly-rounded and diverges between
  // engines, while fingerprint64 replays through the proven FNV+SplitMix
  // HUGEINT fragments. The rank pass is WindowGroupLimit-shaped; the
  // ticket explode aggregates map-side before its one exchange.
  // =========================================================================
  def p92WeightedSample(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Curation.weightedSampleK(
        Tables.documents(spark, dir)
          .select(col("doc_id"), col("source"),
            expr("greatest(CAST(1 AS BIGINT), n_chars div 64)").as("w")),
        "doc_id", "source", col("w"), k = 20, salt = "p92")
      .orderBy("source", "rk")

  val p92Sql: String = {
    import OracleHash._
    val ticket =
      "CAST(doc_id AS VARCHAR) || ':' || CAST(t AS VARCHAR) || ':p92'"
    s"""WITH d AS (SELECT doc_id, source,
       |    greatest(1, n_chars // 64) AS n_tickets FROM documents),
       |tk AS (SELECT doc_id, source, n_tickets,
       |    unnest(range(0, n_tickets)) AS t FROM d),
       |h0 AS MATERIALIZED (SELECT doc_id, source, n_tickets,
       |    ${fnv1a(ticket)} AS h FROM tk),
       |h1 AS MATERIALIZED (SELECT doc_id, source, n_tickets,
       |    ${mix("h")} AS hm FROM h0),
       |pr AS (SELECT doc_id, source, n_tickets,
       |    MIN(${signed64("hm")}) AS priority FROM h1
       |  GROUP BY doc_id, source, n_tickets),
       |rk AS (SELECT source, doc_id, n_tickets,
       |    ROW_NUMBER() OVER (PARTITION BY source
       |      ORDER BY priority ASC, doc_id ASC) AS rk FROM pr)
       |SELECT source, rk, doc_id, CAST(n_tickets AS BIGINT) AS n_tickets
       |FROM rk WHERE rk <= 20
       |ORDER BY source, rk""".stripMargin
  }

  // =========================================================================
  // p93 — STREAMING mini-batch k-means: the carried-state contract
  // generalized from scalar folds (p86 stage, p88 EWMA pair) to MODEL
  // state. Each micro-batch assigns its vectors under the carried centroid
  // bank and folds exact per-(cell, dim) DECIMAL sums into the versioned
  // state, so every batch's emitted bank is the running mean of all points
  // ever assigned — order-dependent across batches (like p75/p86, the
  // oracle replays the same batch order) but bit-deterministic within one.
  // The oracle chains three assignment→sum→rebase rounds from the stride
  // seed through the proven decimal/VARCHAR bridges; the seed enters as
  // one synthetic observation per cell (n = 1).
  // =========================================================================
  def p93StreamKmeans(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.KMeansStream
    val emb = Tables.embeddings(spark, dir)
    val seed = Similarity.ivfCentroids(emb, nCells = 8)
    val r = new StreamRun(spark)
    r.run(emb.select(col("vec_id"), col("embedding")), stripe("vec_id", 3),
      0 until 3)(() => KMeansStream.writeSeedState(spark, r("state"), seed))(
      KMeansStream.advanceBatch(spark, r("state"), r("out"), "vec_id",
        "embedding"))
    r.out.select(col("batch"), col("cell"), col("n_points"), col("pos"),
        col("val"))
      .orderBy("batch", "cell", "pos")
  }

  val p93Sql: String = {
    import OracleHash._
    def batchCtes(b: Int): String =
      s"""bk$b AS MATERIALIZED (SELECT cell,
         |    list(${decimalToDouble("s")} / n ORDER BY pos) AS cv
         |  FROM st$b GROUP BY cell),
         |${nearestCellCte(s"as$b", s"bk$b", 1, s" WHERE e.id % 3 = $b")},
         |bm$b AS MATERIALIZED (SELECT cell, p - 1 AS pos,
         |    SUM(${decimalStage("v[p]")}) AS s, COUNT(*) AS n
         |  FROM as$b CROSS JOIN unnest(range(1, len(v) + 1)) AS r(p)
         |  GROUP BY cell, p),
         |st${b + 1} AS MATERIALIZED (SELECT t.cell, t.pos,
         |    CAST(t.s + COALESCE(m.s, 0) AS DECIMAL(38,18)) AS s,
         |    t.n + COALESCE(m.n, 0) AS n
         |  FROM st$b t LEFT JOIN bm$b m ON t.cell = m.cell AND t.pos = m.pos),
         |em$b AS (SELECT CAST($b AS BIGINT) AS batch, s.cell,
         |    s.n AS n_points, s.pos, ${decimalToDouble("s.s")} / s.n AS val
         |  FROM st${b + 1} s WHERE s.cell IN (SELECT cell FROM bm$b))"""
        .stripMargin
    s"""WITH emb AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
       |  FROM embeddings),
       |${strideSampleCte("sd", 8, "cell", 50)},
       |st0 AS MATERIALIZED (SELECT cell, p - 1 AS pos,
       |    ${decimalStage("v[p]")} AS s, CAST(1 AS BIGINT) AS n
       |  FROM sd CROSS JOIN unnest(range(1, len(v) + 1)) AS r(p)),
       |${batchCtes(0)},
       |${batchCtes(1)},
       |${batchCtes(2)}
       |SELECT batch, cell, n_points, pos, val FROM (
       |  SELECT * FROM em0 UNION ALL SELECT * FROM em1
       |  UNION ALL SELECT * FROM em2) u
       |ORDER BY batch, cell, pos""".stripMargin
  }

  // =========================================================================
  // p94 — exact containment join: the DIRECTED subset/excerpt relation
  // |A∩B|/|A| >= 0.6 that Jaccard cannot see (a quote inside a big
  // container has jaccard → 0 but containment → 1). p85's filter family,
  // containment-adapted: probe-side prefix under the global df order,
  // size filter n_b >= t·n_a, positional rank bound; relational overlap
  // verify. The oracle recomputes every directed pair's overlap through
  // an exploded equi-join (complete for t > 0: a zero-overlap pair cannot
  // reach any positive threshold) — independent of the prefix/positional
  // pruning under test.
  // =========================================================================
  def p94ContainmentJoin(spark: SparkSession, dir: String): DataFrame =
    Dedup.containmentJoinExact(Tables.documents(spark, dir),
        "doc_id", "text", threshold = 0.6)
      .orderBy("id_a", "id_b")

  val p94Sql: String =
    s"""WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents),
       |sh AS (SELECT doc_id, ${sqlShingle3List("toks")} AS s
       |       FROM t),
       |ne AS (SELECT doc_id, s FROM sh WHERE len(s) > 0),
       |na AS (SELECT doc_id, len(s) AS n FROM ne),
       |ex AS (SELECT doc_id, unnest(s) AS g FROM ne),
       |ov AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
       |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id != b.doc_id
       |  GROUP BY a.doc_id, b.doc_id)
       |SELECT id_a, id_b, i / na.n AS containment
       |FROM ov JOIN na ON ov.id_a = na.doc_id
       |WHERE i / na.n >= 0.6
       |ORDER BY id_a, id_b""".stripMargin

  // =========================================================================
  // p95 — distributed BPE tokenization: p90's trained merge table APPLIED
  // to the corpus (the train/apply loop at corpus scale). The apply runs
  // on the DISTINCT-WORDS relation (vocabulary-bounded — the merge folds
  // never touch the corpus) and joins back to the exploded corpus for
  // per-doc subtoken counts. The oracle reuses the shared BPE replay chain
  // and tokenizes with its FINAL positions relation — so the green row
  // proves train AND apply agree end-to-end across two independent
  // formulations (fold-wise engine vs run-parity relational replay).
  // =========================================================================
  def p95BpeTokenize(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), TF.tokens(col("text")).as("toks"))
    val words = docs.select(explode(col("toks")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    val merges = Vocab.bpeTrain(words, "word", "cnt", merges = 8)
      .orderBy("step").select("left_sym", "right_sym")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val applied = Vocab.applyMergesDf(words.select(col("word")), "word",
      merges)
    docs.select(col("doc_id"), explode(col("toks")).as("word"))
      .join(applied, "word")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_subtokens")).as("n_bpe_tokens"))
      .orderBy("doc_id")
  }

  val p95Sql: String =
    s"""WITH ${bpeChainCtes(8)},
       |wc AS MATERIALIZED (SELECT word, COUNT(*) AS n FROM p8
       |  GROUP BY word),
       |docw AS (SELECT doc_id, unnest($sqlToks) AS word FROM documents)
       |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       |  CAST(SUM(n) AS BIGINT) AS n_bpe_tokens
       |FROM docw JOIN wc USING (word)
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  // =========================================================================
  // p96 — incremental containment probe: p94's daily-increment sibling
  // (the p35/p73/p77 formula applied to the DIRECTED excerpt relation).
  // The standing corpus (doc_id < 400) participates only through its
  // persisted ordered relation; the batch (doc_id >= 400, plus planted
  // +30000 twelve-token excerpts of corpus docs 0-4 — token-sliced, so
  // every excerpt shingle is a shingle of its source and containment is
  // exactly 1.0) prefixes under the corpus df order. The oracle is the
  // exploded equi-join over the same split, reconstructing the planted
  // rows in SQL.
  // =========================================================================
  def p96ContainmentIncremental(spark: SparkSession, dir: String)
      : DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") < 400)
    val planted = docs.filter(col("doc_id") < 5)
      .select((col("doc_id") + 30000).as("doc_id"),
        array_join(slice(TF.tokens(col("text")), 1, 12), " ").as("text"))
    val batch = docs.filter(col("doc_id") >= 400).unionAll(planted)
    val index = Dedup.containmentOrderedAll(
        Dedup.jaccardShingleSets(corpus, "doc_id", "text"))
      .localCheckpoint(true)
    Dedup.containmentIncremental(batch, index, "doc_id", "text",
        threshold = 0.6)
      .orderBy("id_a", "id_b")
  }

  val p96Sql: String =
    s"""WITH tk0 AS (SELECT doc_id, $sqlToks AS toks FROM documents),
       |plant AS (SELECT doc_id + 30000 AS doc_id,
       |    array_to_string(toks[1:12], ' ') AS text
       |  FROM tk0 WHERE doc_id < 5),
       |corpus AS (SELECT doc_id, text FROM documents WHERE doc_id < 400),
       |batch AS (SELECT doc_id, text FROM documents WHERE doc_id >= 400
       |  UNION ALL SELECT doc_id, text FROM plant),
       |tc AS (SELECT doc_id, $sqlToks AS toks FROM corpus),
       |tb AS (SELECT doc_id, $sqlToks AS toks FROM batch),
       |shc AS (SELECT doc_id, ${sqlShingle3List("toks")} AS s
       |       FROM tc),
       |shb AS (SELECT doc_id, ${sqlShingle3List("toks")} AS s
       |       FROM tb),
       |nb AS (SELECT doc_id, len(s) AS n FROM shb WHERE len(s) > 0),
       |exa AS (SELECT doc_id, unnest(s) AS g FROM shb WHERE len(s) > 0),
       |exb AS (SELECT doc_id, unnest(s) AS g FROM shc WHERE len(s) > 0
       |  UNION ALL SELECT doc_id, unnest(s) AS g FROM shb WHERE len(s) > 0),
       |ov AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
       |  FROM exa a JOIN exb b ON a.g = b.g AND a.doc_id != b.doc_id
       |  GROUP BY a.doc_id, b.doc_id)
       |SELECT id_a, id_b, i / nb.n AS containment
       |FROM ov JOIN nb ON ov.id_a = nb.doc_id
       |WHERE i / nb.n >= 0.6
       |ORDER BY id_a, id_b""".stripMargin

  // =========================================================================
  // p97 — BATCHED BPE training at real merge counts (VERDICT r7 #2: the
  // sequential trainer is one cluster-wide job per merge — a ~30k-merge
  // production vocabulary needs ~30k sequential jobs). bpeTrainBatched
  // selects up to 32 pairwise symbol-DISJOINT pairs per round (greedy
  // first-fit over the ranked top-256 pool) and applies the whole batch in
  // ONE fold pass: 256 merges land in ~12 rounds here (16-round cap). The
  // word relation is adjacent-token bigrams — the synthetic corpus has a
  // ~31-word vocabulary, far too small to sustain 256 distinct-word merges.
  // The oracle replays every round relationally: pair counts by lead(),
  // greedy acceptance as a LINEAR RECURSIVE CTE over the ranked pool
  // (pool-sized, never corpus-sized), run-parity merge selection (batch
  // disjointness keeps consecutive-match runs single-pair, so p90's
  // run-parity argument carries over unchanged), and positions rebasing.
  // Pure integer arithmetic throughout.
  // =========================================================================
  private val p97MaxPerRound = 32
  private val p97Pool = 256
  private val p97Rounds = 16
  private val p97Merges = 256

  def p97BpeVocabBatched(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(spark, dir)
      .select(TF.tokens(col("text")).as("toks"))
      .select(explode(zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (a, b) => concat(a, lit("_"), b))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    Vocab.bpeTrainBatched(words, "word", "cnt", merges = p97Merges,
        maxPerRound = p97MaxPerRound, poolFactor = p97Pool / p97MaxPerRound,
        maxRounds = p97Rounds)
      .orderBy("step")
  }

  /** The batched-BPE replay chain (see p97 header). Differs from
    * [[bpeChainCtes]] per round in the selection stage only: po$r ranks
    * the top-`pool` pairs, se$r replays greedy disjoint acceptance via a
    * recursive CTE carrying the accepted-symbol list one rank at a time,
    * b$r is the accepted batch; m$r/s$r/p$r/v$r are p90's match,
    * run-parity, rebase and vocab stages generalized to a multi-pair batch
    * (sel carries WHICH pair matched, so the rebase writes sel.l || sel.r
    * instead of a cross-joined singleton). */
  private def bpeBatchedChainCtes(rounds: Int, pool: Int, m: Int): String = {
    val roundCtes = (1 to rounds).map { r =>
      val prev = s"p${r - 1}"
      s"""pr$r AS MATERIALIZED (SELECT l, r, SUM(cnt) AS c FROM (
         |    SELECT word, cnt, sym AS l,
         |      lead(sym) OVER (PARTITION BY word ORDER BY i) AS r
         |    FROM $prev) x WHERE r IS NOT NULL GROUP BY l, r),
         |po$r AS MATERIALIZED (SELECT l, r, c,
         |    ROW_NUMBER() OVER (ORDER BY c DESC, l ASC, r ASC) AS rk
         |  FROM pr$r ORDER BY c DESC, l ASC, r ASC LIMIT $pool),
         |se$r AS MATERIALIZED (
         |  WITH RECURSIVE g AS (
         |      SELECT 0 AS rk, CAST([] AS VARCHAR[]) AS used,
         |        CAST([] AS BIGINT[]) AS picked
         |    UNION ALL
         |      SELECT p.rk,
         |        CASE WHEN len(g.picked) < $m
         |              AND NOT list_has_any(g.used, [p.l, p.r, p.l || p.r])
         |             THEN g.used || [p.l, p.r, p.l || p.r] ELSE g.used END,
         |        CASE WHEN len(g.picked) < $m
         |              AND NOT list_has_any(g.used, [p.l, p.r, p.l || p.r])
         |             THEN g.picked || [p.rk] ELSE g.picked END
         |      FROM g JOIN po$r p ON p.rk = g.rk + 1)
         |  SELECT unnest(picked) AS rk FROM g
         |  WHERE rk = (SELECT MAX(rk) FROM g)),
         |b$r AS MATERIALIZED (SELECT p.l, p.r, p.c,
         |    ROW_NUMBER() OVER (ORDER BY p.rk) AS brk
         |  FROM po$r p JOIN se$r s ON p.rk = s.rk),
         |m$r AS MATERIALIZED (SELECT x.word, x.i, x.l, x.r FROM (
         |    SELECT word, i, sym AS l,
         |      lead(sym) OVER (PARTITION BY word ORDER BY i) AS r
         |    FROM $prev) x JOIN b$r b ON x.l = b.l AND x.r = b.r),
         |s$r AS MATERIALIZED (SELECT word, i, l, r FROM (
         |    SELECT word, i, l, r, MIN(i) OVER (PARTITION BY word, grp) AS rs
         |    FROM (SELECT word, i, l, r,
         |        i - ROW_NUMBER() OVER (PARTITION BY word ORDER BY i) AS grp
         |      FROM m$r) g) h WHERE (i - rs) % 2 = 0),
         |p$r AS MATERIALIZED (SELECT word, cnt,
         |    ROW_NUMBER() OVER (PARTITION BY word ORDER BY i) AS i, sym FROM (
         |    SELECT p.word, p.cnt, p.i,
         |      CASE WHEN sel.i IS NOT NULL THEN sel.l || sel.r
         |           ELSE p.sym END AS sym
         |    FROM $prev p
         |    LEFT JOIN s$r sel ON p.word = sel.word AND p.i = sel.i
         |    LEFT JOIN s$r con ON p.word = con.word AND p.i = con.i + 1
         |    WHERE con.i IS NULL) z),
         |v$r AS MATERIALIZED (SELECT COUNT(DISTINCT sym) AS vs FROM p$r)"""
        .stripMargin
    }.mkString(",\n")
    s"""w AS MATERIALIZED (
       |  SELECT w AS word, COUNT(*) AS cnt FROM (
       |    SELECT toks[i] || '_' || toks[i+1] AS w
       |    FROM (SELECT $sqlToks AS toks FROM documents) t,
       |         unnest(range(1, len(toks))) AS u(i)) x GROUP BY w),
       |ch AS MATERIALIZED (SELECT word, cnt,
       |    regexp_split_to_array(word, '') AS cs FROM w),
       |p0 AS MATERIALIZED (SELECT word, cnt,
       |    unnest(range(1, len(cs) + 1)) AS i, unnest(cs) AS sym FROM ch),
       |$roundCtes""".stripMargin
  }

  val p97Sql: String = {
    val ab = (1 to p97Rounds).map(r =>
      s"SELECT $r AS round, brk, l, r, c FROM b$r").mkString("\nUNION ALL\n")
    val vv = (1 to p97Rounds).map(r =>
      s"SELECT $r AS round, vs FROM v$r").mkString("\nUNION ALL\n")
    s"""WITH ${bpeBatchedChainCtes(p97Rounds, p97Pool, p97MaxPerRound)},
       |ab AS ($ab),
       |vv AS ($vv),
       |st AS (SELECT round, l, r, c,
       |    ROW_NUMBER() OVER (ORDER BY round, brk) AS step FROM ab)
       |SELECT CAST(st.step AS INTEGER) AS step,
       |  CAST(st.round AS INTEGER) AS round,
       |  st.l AS left_sym, st.r AS right_sym, st.l || st.r AS merged,
       |  CAST(st.c AS BIGINT) AS pair_count, CAST(vv.vs AS BIGINT) AS vocab_size
       |FROM st JOIN vv ON st.round = vv.round
       |WHERE st.step <= $p97Merges
       |ORDER BY step""".stripMargin
  }

  // =========================================================================
  // p98 — Gopher-family repetition statistics + keep verdict: the
  // shuffle-free generalization of p20 (which pays an explode + two
  // groupBy exchanges for ONE ratio; this computes four signals and a
  // verdict as a pure scan-shaped projection — at 100 TB the repetition
  // pass costs exactly one parquet read). Exact-integer counts, one
  // double division per ratio, a BIGINT-packed run-length fold — every
  // value replays bit-for-bit in the oracle (no ln/entropy ulp risk).
  // =========================================================================
  def p98RepetitionStats(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Quality.repetitionStats(
        Tables.documents(spark, dir), "doc_id", "text")
      .orderBy("doc_id")

  /** p98's repetition-statistics chain over base CTE `$base(doc_id,
    * toks)`: CTEs `b/sbt/s` suffixed with `$tag`, ending in
    * `s$tag(doc_id, n_toks, distinct_ratio, top_bigram_frac,
    * dup_bigram_frac, max_run)` — the BIGINT-packed run-length folds
    * replaying [[graft.operators.Quality.repetitionStats]] bit-for-bit.
    * Shared by p98 and the p114 ingest capstone. */
  private def sqlRepetitionCtes(tag: String, base: String): String =
    s"""b$tag AS (SELECT doc_id, toks,
       |    CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
       |         ELSE list_transform(range(1, len(toks)),
       |                i -> toks[i] || ' ' || toks[i + 1]) END AS bg
       |  FROM $base),
       |sbt$tag AS (SELECT doc_id, toks, bg, list_sort(bg) AS sb FROM b$tag),
       |s$tag AS (SELECT doc_id,
       |  CAST(len(toks) AS INT) AS n_toks,
       |  CASE WHEN len(toks) = 0 THEN CAST(0.0 AS DOUBLE)
       |       ELSE CAST(len(list_distinct(toks)) AS DOUBLE)
       |            / CAST(len(toks) AS DOUBLE) END AS distinct_ratio,
       |  CASE WHEN len(toks) < 2 THEN CAST(1.0 AS DOUBLE)
       |       ELSE CAST(CASE WHEN len(sb) < 2 THEN len(sb)
       |         ELSE CAST(list_reduce(
       |           list_prepend(CAST(1000000001 AS BIGINT),
       |                        range(1, len(sb))),
       |           (acc, i) -> CASE WHEN sb[i + 1] = sb[i]
       |             THEN ((acc // 1000000000) + 1) * 1000000000
       |                  + greatest(acc % 1000000000,
       |                             (acc // 1000000000) + 1)
       |             ELSE 1000000000
       |                  + greatest(acc % 1000000000,
       |                             CAST(1 AS BIGINT)) END)
       |         % 1000000000 AS INT) END AS DOUBLE)
       |            / CAST(len(bg) AS DOUBLE) END AS top_bigram_frac,
       |  CASE WHEN len(toks) < 2 THEN CAST(0.0 AS DOUBLE)
       |       ELSE CAST(len(bg) - len(list_filter(range(1, len(sb) + 1),
       |         j -> (CASE WHEN j = 1 THEN true
       |               ELSE sb[j] != sb[j - 1] END)
       |          AND (CASE WHEN j = len(sb) THEN true
       |               ELSE sb[j] != sb[j + 1] END))) AS DOUBLE)
       |            / CAST(len(bg) AS DOUBLE) END AS dup_bigram_frac,
       |  CASE WHEN len(toks) < 2 THEN CAST(least(len(toks), 1) AS INT)
       |       ELSE CAST(list_reduce(
       |              list_prepend(CAST(1000000001 AS BIGINT),
       |                           range(1, len(toks))),
       |              (acc, i) -> CASE WHEN toks[i + 1] = toks[i]
       |                THEN ((acc // 1000000000) + 1) * 1000000000
       |                     + greatest(acc % 1000000000,
       |                                (acc // 1000000000) + 1)
       |                ELSE 1000000000
       |                     + greatest(acc % 1000000000,
       |                                CAST(1 AS BIGINT)) END)
       |            % 1000000000 AS INT) END AS max_run
       |  FROM sbt$tag)""".stripMargin

  /** The keep thresholds — [[graft.operators.Quality.repetitionStats]]'s
    * defaults, over an `s$tag` row's columns. */
  private val sqlKeepVerdict: String =
    "(distinct_ratio >= 0.5 AND top_bigram_frac <= 0.10\n" +
      "   AND dup_bigram_frac <= 0.55 AND max_run <= 2)"

  val p98Sql: String =
    s"""WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents),
       |${sqlRepetitionCtes("", "t")}
       |SELECT doc_id, n_toks, distinct_ratio, top_bigram_frac,
       |  dup_bigram_frac, max_run,
       |  $sqlKeepVerdict AS keep
       |FROM s
       |ORDER BY doc_id""".stripMargin

  // =========================================================================
  // p99 — edit-distance near-duplicate join: the p08 LSH banding reused as
  // the blocking stage, with an exact character-level Levenshtein verify
  // (threshold DP, integer result — no floating-point anywhere past the
  // banding). The fuzzy-dedup family member for "same page, small diff"
  // crawl duplicates where token-set similarity alone over-merges. The
  // oracle replays the identical banding chain (shared CTEs with p08) and
  // verifies with DuckDB's levenshtein — both engines implement the
  // standard unit-cost DP, so distances match exactly.
  // =========================================================================
  private val p99MaxDist = 60

  def p99EditDistNearDup(spark: SparkSession, dir: String): DataFrame =
    Dedup.editDistancePairs(Tables.documents(spark, dir), "doc_id", "text",
        maxDist = p99MaxDist)
      .orderBy("id_a", "id_b")

  val p99Sql: String =
    s"""WITH t AS (SELECT doc_id, $sqlToks AS toks FROM documents),
       |$sqlMinhashCoef,
       |${sqlMinhashChain("", "t")},
       |${sqlMinhashPairCtes("")}
       |SELECT c.id_a, c.id_b,
       |  CAST(levenshtein(da.text, db.text) AS INT) AS dist
       |FROM cand c
       |JOIN documents da ON c.id_a = da.doc_id
       |JOIN documents db ON c.id_b = db.doc_id
       |WHERE levenshtein(da.text, db.text) <= $p99MaxDist
       |ORDER BY id_a, id_b""".stripMargin

  // =========================================================================
  // p100 — distributed PCA projection (graft.operators.Decomp): covariance
  // from ONE decimal-staged scan (model-sized exchange), top-2 components
  // by driver-side power iteration with deflation (fixed 16 rounds — part
  // of the spec, so the result is a deterministic data function), then ONE
  // codegen'd projection scan. The oracle replays the whole decomposition
  // bit-for-bit: VARCHAR-bridged decimal sums (the p82 cast-parity
  // discipline), per-iteration unrolled CTEs whose matvec/norm folds are
  // 0.0-seeded left folds (`list_reduce(list_prepend(0.0, …))` = the
  // engine's while-loop order), IEEE-exact sqrt/divide. Nothing here is
  // rounded for the comparison — the doubles must (and do) match exactly.
  // =========================================================================
  private val p100Iters = 16

  /** Unrolled power-iteration CTEs `${tag}0..${tag}T` over a matrix CTE
    * exposing a 64×64 list-of-lists column `m`; each `${tag}t` exposes the
    * normalized vector `v` and the pre-normalization norm `lam`. */
  private def pcaIterCtes(tag: String, matCte: String, iters: Int): String = {
    // every per-iteration CTE is MATERIALIZED (the p71 discipline): DuckDB
    // inlines plain CTEs, and a 16-round chain over a matrix CTE that is
    // itself derived from the corpus expands each reference into a full
    // re-derivation — p101's 4-chain composition ran out of file handles
    // re-opening the parquet before materialization was forced
    val init = s"""${tag}0 AS MATERIALIZED (SELECT list_transform(range(0, 64),
                  |    x -> CAST(0.125 AS DOUBLE)) AS v)""".stripMargin
    val steps = (1 to iters).map { t =>
      s"""w$tag$t AS MATERIALIZED (SELECT list_transform(range(0, 64), i ->
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(range(0, 64), j -> m[i + 1][j + 1] * v[j + 1])),
         |      (a, b) -> a + b)) AS w
         |  FROM $tag${t - 1}, $matCte),
         |n$tag$t AS MATERIALIZED (SELECT w,
         |    sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(w, x -> x * x)), (a, b) -> a + b)) AS nrm
         |  FROM w$tag$t),
         |$tag$t AS MATERIALIZED (SELECT list_transform(w, x -> x / nrm) AS v, nrm AS lam
         |  FROM n$tag$t)""".stripMargin
    }
    (init +: steps).mkString(",\n")
  }

  def p100PcaProject(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Decomp.pca(Tables.embeddings(spark, dir),
        k = 2, iters = p100Iters)
      .orderBy("vec_id")

  /** Mean/covariance + `k` deflated power-iteration chains over an
    * existing 64-d CTE `e(id, v)`. Emits CTEs ending in `muarr(mus)` and
    * component rows `c1..ck(p)`; chain `c` runs `iters` rounds on matrix
    * `cm` (c=1) or the deflated `cm$c`. Shared by p100 (k=2) and p101
    * (k=4); the chain text for k=2 is exactly the original p100 oracle. */
  private def pcaChainCtes(k: Int, iters: Int): String = {
    def tag(c: Int) = s"p${('a' + c - 1).toChar}"
    def mat(c: Int) = if (c == 1) "cm" else s"cm$c"
    val base =
      s"""ii AS (SELECT unnest(range(64)) AS i),
         |ex AS MATERIALIZED (SELECT id, CAST(i AS INT) AS i, v[i + 1] AS x
         |  FROM e CROSS JOIN ii),
         |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM e),
         |ms AS (SELECT i, CAST(CAST(SUM(CAST(CAST(x AS VARCHAR)
         |    AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE) AS s
         |  FROM ex GROUP BY i),
         |mu AS MATERIALIZED (SELECT i, s / n AS mu FROM ms CROSS JOIN n),
         |pr AS (SELECT a.i AS i, b.i AS j,
         |    CAST(CAST(SUM(CAST(CAST(a.x * b.x AS VARCHAR)
         |      AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE) AS s2
         |  FROM ex a JOIN ex b ON a.id = b.id AND b.i >= a.i
         |  GROUP BY a.i, b.i),
         |cv0 AS (SELECT p.i AS i, p.j AS j, p.s2 / n - ma.mu * mb.mu AS c
         |  FROM pr p CROSS JOIN n
         |  JOIN mu ma ON ma.i = p.i JOIN mu mb ON mb.i = p.j),
         |cv AS (SELECT i, j, c FROM cv0
         |       UNION ALL SELECT j AS i, i AS j, c FROM cv0 WHERE i <> j),
         |cm AS MATERIALIZED (SELECT list(r ORDER BY i) AS m
         |  FROM (SELECT i, list(c ORDER BY j) AS r FROM cv GROUP BY i) q)""".stripMargin
    val chains = (1 to k).map { c =>
      val chain = pcaIterCtes(tag(c), mat(c), iters)
      val defl = if (c == k) "" else
        s""",
           |${mat(c + 1)} AS MATERIALIZED (SELECT list_transform(range(0, 64), i ->
           |    list_transform(range(0, 64), j ->
           |      m[i + 1][j + 1] - lam * v[i + 1] * v[j + 1])) AS m
           |  FROM ${mat(c)}, ${tag(c)}$iters)""".stripMargin
      chain + defl
    }.mkString(",\n")
    val comps = (1 to k)
      .map(c => s"c$c AS (SELECT v AS p FROM ${tag(c)}$iters)").mkString(",\n")
    s"""$base,
       |$chains,
       |muarr AS (SELECT list(mu ORDER BY i) AS mus FROM mu),
       |$comps""".stripMargin
  }

  /** The engine's 0.0-seeded left-fold projection of `$vExpr` (64-d) onto
    * component CTE `$comp(p)` under `muarr(mus)`. */
  private def pcaProjExpr(vExpr: String, comp: String): String =
    s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |    list_transform(range(0, 64),
       |      i -> ($vExpr[i + 1] - mus[i + 1]) * $comp.p[i + 1])),
       |    (a, b) -> a + b)""".stripMargin

  val p100Sql: String =
    s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
       |  FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0),
       |${pcaChainCtes(2, p100Iters)}
       |SELECT e.id AS vec_id,
       |  ${pcaProjExpr("e.v", "c1")} AS pc1,
       |  ${pcaProjExpr("e.v", "c2")} AS pc2
       |FROM e, muarr, c1, c2
       |ORDER BY vec_id""".stripMargin

  // =========================================================================
  // p101 — SemDeDup over PCA-reduced vectors: the capstone composition the
  // two families were built for — SemDeDup-style curation typically runs
  // on dimensionality-reduced embeddings (Abbas et al. 2023 cluster in a
  // reduced space for exactly the occupancy/cost reasons p76 measures).
  // Decomp.pcaFit(k=4) → project (ONE scan) → Lloyd-trained cells ON THE
  // REDUCED vectors → within-cell greedy cosine dedup. At 100 TB the
  // reduction is the point: cells train and pair on 4-d vectors, so the
  // within-cell verify costs dim/16 of the raw-space p68 while the corpus
  // scan count is unchanged. The oracle replays the FULL composition —
  // PCA chains (shared builder with p100), then the p68 bank/dedup body
  // (shared fragment) whose `emb` is the projected relation; MATERIALIZED
  // because the bank CTEs walk `emb` once per Lloyd round and DuckDB
  // would otherwise re-derive the PCA chain at every reference.
  // =========================================================================
  private val p101K = 4
  private val p101Threshold = 0.95

  def p101PcaSemDedup(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val model = graft.operators.Decomp.pcaFit(emb, k = p101K, iters = p100Iters)
    val reduced = graft.operators.Decomp.pcaProject(emb, model)
      .select(col("vec_id"),
        array((1 to p101K).map(c => col(s"pc$c")): _*).as("rv"))
    val bank = Similarity.ivfCentroidsTrained(reduced, nCells = 16, iters = 3,
      vecCol = "rv")
    Similarity.semDedup(reduced, threshold = p101Threshold, centroids = bank,
        vecCol = "rv")
      .orderBy("vec_id")
  }

  val p101Sql: String =
    s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
       |  FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0),
       |${pcaChainCtes(p101K, p100Iters)},
       |emb AS MATERIALIZED (
       |  SELECT e.id AS id,
       |    [${(1 to p101K).map(c => pcaProjExpr("e.v", s"c$c")).mkString(",\n     ")}] AS v
       |  FROM e, muarr, ${(1 to p101K).map(c => s"c$c").mkString(", ")}),
       |${sqlSemDedupBody(p101Threshold)}
       |SELECT a.id AS vec_id, a.cell, d.id IS NULL AS kept, d.dup_of, d.sim
       |FROM ca0 a LEFT JOIN dups d ON a.cell = d.cell AND a.id = d.id
       |ORDER BY vec_id""".stripMargin

  // =========================================================================
  // p102 — tokenizer fertility by language: the tokenizer-quality metric a
  // training pipeline tracks per language (BPE tokens per word; chars per
  // BPE token) — a vocabulary that under-serves a language shows fertility
  // inflation there. Composition of the p90 trained merge table applied on
  // the DISTINCT-WORDS relation (vocabulary-bounded, like p95) joined back
  // to the corpus and aggregated by lang: exact integer sums, one double
  // division per ratio at the end. Oracle reuses the shared BPE replay
  // chain's final positions relation.
  // =========================================================================
  def p102TokenFertility(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), TF.tokens(col("text")).as("toks"))
    val words = docs.select(explode(col("toks")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    val merges = Vocab.bpeTrain(words, "word", "cnt", merges = 8)
      .orderBy("step").select("left_sym", "right_sym")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val applied = Vocab.applyMergesDf(words.select(col("word")), "word", merges)
    docs.select(col("lang"), explode(col("toks")).as("word"))
      .join(applied, "word")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_subtokens")).as("n_bpe_tokens"),
        sum(length(col("word")).cast("long")).as("n_chars"))
      .select(col("lang"), col("n_words"), col("n_bpe_tokens"),
        (col("n_bpe_tokens").cast("double") / col("n_words").cast("double"))
          .as("fertility"),
        (col("n_chars").cast("double") / col("n_bpe_tokens").cast("double"))
          .as("chars_per_token"))
      .orderBy("lang")
  }

  val p102Sql: String =
    s"""WITH ${bpeChainCtes(8)},
       |wc AS MATERIALIZED (SELECT word, COUNT(*) AS n FROM p8
       |  GROUP BY word),
       |docw AS (SELECT lang, unnest($sqlToks) AS word FROM documents),
       |g AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_words,
       |    CAST(SUM(n) AS BIGINT) AS n_bpe_tokens,
       |    CAST(SUM(len(word)) AS BIGINT) AS n_chars
       |  FROM docw JOIN wc USING (word)
       |  GROUP BY lang)
       |SELECT lang, n_words, n_bpe_tokens,
       |  CAST(n_bpe_tokens AS DOUBLE) / CAST(n_words AS DOUBLE) AS fertility,
       |  CAST(n_chars AS DOUBLE) / CAST(n_bpe_tokens AS DOUBLE)
       |    AS chars_per_token
       |FROM g ORDER BY lang""".stripMargin

  // =========================================================================
  // p103 — relation-bank IVF: p76's gate recomputed through
  // graft.operators.IvfRelational, where the centroid bank is a RELATION
  // (broadcast-assign + map-side min(struct(dist, cell)) partial agg)
  // instead of a driver-held array. This is the unbounded-cell-count
  // scale path the r8 sf1 probe demanded: cells pinned at 128 while the
  // corpus grows 10× means 10× occupancy and recall rot 0.98 → 0.84
  // (SURVEY §6 "sf1 scale probes"; probe last at `dc914e8`); the fix is
  // cells ∝ corpus, which at 100 TB means 10⁵–10⁶
  // cells — past what per-Lloyd-round driver collect()s and per-task
  // closure shipping of the bank can carry, so the bank must stay
  // distributed. Training is the same decimal-staged Lloyd update, so the
  // bank is bit-identical to the literal path's (IvfRelationalSpec pins
  // it) and the SAME ivfBankCtes DuckDB replay gates both engines. The row
  // additionally carries `bank_matches` — an ENGINE-computed full-outer
  // comparison of the relation bank against the literal-path bank (exact
  // array equality, i.e. bit-identity); the oracle asserts TRUE, so any
  // divergence between the two engines hash-fails the round.
  // =========================================================================
  // the trained relation bank per dir — shared by p103/p104 so
  // verify/bench train it once per PROCESS. The cache holds plain driver
  // rows (model-sized: ≤ 128×64 doubles), NOT a DataFrame: a cached
  // DataFrame's localCheckpoint blocks are bound to the SparkContext that
  // made them, so a second session in the same JVM (test suites, a
  // Verify→Bench restart) would read a stopped context. Rebuilding the
  // relation from rows per call is free at model size — exactly the
  // [[pqBankCache]] discipline.
  private val relIvfBankCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[(Int, Seq[Double])]]()
  private def relIvfBank(spark: SparkSession, dir: String): DataFrame = {
    val rows = relIvfBankCache.computeIfAbsent(dir, _ =>
      IvfRelational.trainBank(Tables.embeddings(spark, dir), nCells = 128,
          iters = 3, stride = 15)
        .collect().map(r => (r.getInt(0), r.getSeq[Double](1))))
    import spark.implicits._
    rows.toSeq.toDF("cell", "cv")
  }

  /** One-row (n_mismatch) full-outer comparison of a relation bank
    * against a literal-path bank (exact array equality, i.e.
    * bit-identity): model-sized (≤ 128×64 doubles) — a fixture, not a
    * data path. */
  private def relBankCmpTo(spark: SparkSession, relBank: DataFrame,
      litBank: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    val litDf = litBank.toSeq.zipWithIndex
      .map { case (cv, i) => (i, cv.toSeq) }.toDF("cell", "lcv")
    relBank.join(litDf, Seq("cell"), "full_outer")
      .agg(coalesce(sum(when(col("cv").isNull || col("lcv").isNull ||
        col("cv") =!= col("lcv"), 1L).otherwise(0L)), lit(0L))
        .as("n_mismatch"))
  }

  /** The shared p103/p104/p106 gate tail: recall vs exact + full-corpus
    * cell balance under `bank` + the engine-computed bank_matches row
    * (+ any `extraCols` the variant pins, e.g. p106's sample_n). */
  private def relIvfGateRow(spark: SparkSession, dir: String,
      ann: DataFrame, method: String, bank: DataFrame, bankCmp: DataFrame,
      extraCols: Seq[Column] = Seq.empty): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val qs = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(qs, emb, k = 5)
      .select("query_id", "neighbor_id")
      .localCheckpoint(true)
    val balance = IvfRelational.assign(emb, bank)
      .groupBy(col("cell")).agg(count(lit(1)).as("sz"))
      .agg(count(lit(1)).as("n_cells"), max(col("sz")).as("max_cell"),
        sum(col("sz")).as("n_vecs"))
    ann.select("query_id", "neighbor_id")
      .join(exact, Seq("query_id", "neighbor_id"), "left_semi")
      .agg(count(lit(1)).as("hits"))
      .crossJoin(exact.agg(count(lit(1)).as("total")))
      .crossJoin(broadcast(balance))
      .crossJoin(broadcast(bankCmp))
      .select(Seq(lit(method).as("method"), col("hits"), col("total"),
        (col("hits").cast(DoubleType) / col("total").cast(DoubleType))
          .as("recall"),
        col("n_cells"), col("max_cell"),
        (col("max_cell") * col("n_cells") <= col("n_vecs") * 4).as("balanced"),
        (col("n_mismatch") === 0).as("bank_matches")) ++ extraCols: _*)
  }

  def p103IvfRelational(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val qs = emb.filter(col("vec_id") < 10)
    val ann = IvfRelational.topK(qs, emb, relIvfBank(spark, dir), k = 5,
      nProbe = 48)
    relIvfGateRow(spark, dir, ann, "ivf_relational", relIvfBank(spark, dir),
      relBankCmpTo(spark, relIvfBank(spark, dir), scaledIvfBank(spark, dir)))
  }

  val p103Sql: String =
    ivfScaledGateSql("ivf_relational", ",\n  TRUE AS bank_matches")

  // =========================================================================
  // p104 — relation-bank IVF-PQ: p87's gate with the coarse stage as a
  // relation (IvfRelational.topKPq) — the full billion-scale layout with
  // its scale-sensitive half as data. The split is deliberate: the PQ
  // codebooks stay a driver model artifact because nCodes is a fixed
  // quantization resolution (≤ 256) — model-sized at any corpus — while
  // the coarse bank must grow cells ∝ corpus and therefore must be a
  // relation (see SCALING.md "ANN at 100 TB"). Oracle = p87's replay
  // (both engines' coarse banks bit-identical, spec-pinned) + the
  // engine-computed bank_matches assertion.
  // =========================================================================
  def p104IvfPqRelational(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val qs = emb.filter(col("vec_id") < 10)
    val ann = IvfRelational.topKPq(qs, emb, relIvfBank(spark, dir),
      pqBank(spark, dir), k = 5, nProbe = 48)
    relIvfGateRow(spark, dir, ann, "ivfpq_relational", relIvfBank(spark, dir),
      relBankCmpTo(spark, relIvfBank(spark, dir), scaledIvfBank(spark, dir)))
  }

  val p104Sql: String =
    ivfPqScaledGateSql("ivfpq_relational", ",\n  TRUE AS bank_matches")

  // =========================================================================
  // p105 — STREAMING IVF index maintenance: the ANN member of the
  // incremental-corpus family (p35 exact / p77 near-dup / p73 passage).
  // A standing corpus trains the relation bank and assigns once
  // (indexRoot/v0); each embedding micro-batch then assigns ONLY its own
  // vectors under the FROZEN bank (one batch-sized broadcast-assign scan
  // — the standing index never re-assigns) and appends a batch-id-named
  // delta. The result is the assembled index with per-row provenance
  // (which delta each row lives in) — so the oracle checks BOTH the
  // assignment (bank replay over the standing subset via ivfBankCtes,
  // then nearestCellCte over the full corpus) AND that every row arrived
  // through the right micro-batch (src replayed from the deterministic
  // batch split). Bank immutability is enforced (an index is bound to
  // the bank it was built under — the ivfTopK corpusIndex contract,
  // fail-loud in the stream).
  // =========================================================================
  def p105StreamIvfIndex(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val r = new StreamRun(spark)
    r.run(emb.filter(col("vec_id") >= 250)
        .select(col("vec_id"), col("embedding")), stripe("vec_id", 2),
      0 until 2)(ivfStanding(spark, r, emb.filter(col("vec_id") < 250)))(
      graft.streaming.IvfStream.appendBatch(spark, r("bank"), r("index"),
        r("out"), "vec_id", "embedding"))
    ivfIndexBySrc(spark, r("index")).orderBy("vec_id")
  }

  /** Trains the 16-cell relation bank on `standing` and writes it with
    * its assignments as the IVF stores' standing versions under `r`. */
  private def ivfStanding(spark: SparkSession, r: StreamRun,
      standing: DataFrame): () => Unit = () =>
    graft.streaming.IvfStream.writeStanding(spark, r("bank"), r("index"),
      standing, IvfRelational.trainBank(standing, nCells = 16, iters = 3,
        stride = 15))

  /** An IVF index's rows, each with the version it lives in as `src`. */
  private def ivfIndexBySrc(spark: SparkSession, root: String): DataFrame =
    graft.streaming.Versions.list(spark, root)
      .map { case (vid, p) =>
        spark.read.parquet(p.toString)
          .select(col("neighbor_id").as("vec_id"), col("cell"),
            lit(vid).cast("int").as("src"))
      }
      .reduce(_ unionAll _)

  val p105Sql: String = sqlIvfIndexSql("", 15,
    "CASE WHEN id < 250 THEN 0 WHEN id % 2 = 0 THEN 1 ELSE 2 END", "")

  /** The oracle of a streamed IVF index: the 16-cell bank trained (seed
    * stride `stride`) on the vectors below 250 that pass `trainWhere`,
    * every vector's nearest cell, its `src` version and `extraCols`. */
  private def sqlIvfIndexSql(trainWhere: String, stride: Int, src: String,
      extraCols: String): String = {
    import OracleHash._
    val (bankCtes, bank) = ivfBankCtes(nCells = 16, iters = 3, stride = stride)
    s"""WITH emb AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
       |  FROM embeddings WHERE vec_id < 250$trainWhere),
       |$bankCtes,
       |allv AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
       |  FROM embeddings),
       |${nearestCellCte("asg", bank, keep = 1, source = "allv")}
       |SELECT id AS vec_id, CAST(cell AS INT) AS cell,
       |  CAST($src AS INT) AS src$extraCols
       |FROM asg
       |ORDER BY vec_id""".stripMargin
  }

  // =========================================================================
  // p106 — SAMPLE-trained relation-bank IVF: the prescribed 100 TB
  // training configuration under the oracle gate. Full-corpus training is
  // n·cells distance folds per Lloyd round — quadratic in n once cells ∝
  // corpus — so at scale the bank trains on a SAMPLE (the sf1 cell sweep
  // measured it recall-equivalent at ~3.4× less cost, SURVEY §6 "sf1
  // scale probes", probe last at `dc914e8`; r9
  // VERDICT missing #1: "sample-training IS the trainable configuration
  // at scale, and it currently has no CORRECTNESS row"). Membership is
  // the deterministic Curation.sampleUniform bucket (no RNG, partition-
  // invariant), so DuckDB replays the EXACT sample, then the EXACT
  // sampled Lloyd chain (the same ivfBankCtes over the filtered emb CTE),
  // then full-corpus assignment/probes under that bank. The row carries
  // recall + full-corpus balance + the engine-computed bank_matches
  // (relation bank vs the literal-path engine trained on the SAME sample
  // — the cross-engine proof under sampling) + sample_n (the membership
  // cardinality pinned directly). Training scans only the sample —
  // plan-gated in PlanSpec.
  //
  // The sample SIZE is the scaladoc's actual prescription: a fixed
  // PER-CELL budget (8 vectors/cell -> min(n, 1024) vectors for 128
  // cells), so training cost is ~cells·budget·cells — a function of the
  // MODEL, independent of corpus size. A corpus-proportional fraction
  // would merely shrink the quadratic's constant; the budget removes the
  // n entirely, and the sf1 cell sweep (SURVEY §6 "sf1 scale probes";
  // probe last at `dc914e8`) showed recall stays in the
  // full-trained band down to ~10 vectors/cell (a flat 25% of sf0.1's
  // 2k corpus = 3.9/cell measured 0.86 vs 0.98 — starvation, not a
  // machinery defect; the budget keeps the gate out of that regime).
  // The membership threshold derives from the corpus count by floor'd
  // double arithmetic BOTH engines evaluate term-for-term, and sample_n
  // pins the resulting membership cardinality directly. Seed stride is 3
  // (vs p103's 15) so the budget-sized sample still seeds all 128 cells
  // — p103/p106 probe the same nCells/nProbe configuration and differ
  // ONLY in the training set. nProbe is 64 (vs p103's 48): the probe
  // separated seeding from sampling — at IDENTICAL (stride 3, nProbe)
  // config, full-trained and budget-sampled recall are EQUAL (0.84 vs
  // 0.84 at np=48, 0.94 vs 0.94 at np=64, sf0.1; SURVEY §6 "Sampled-
  // training separation probe", probe last at `dc914e8`), i.e.
  // sampling is recall-FREE and the stride-3 seed just wants a few more
  // probes. 64 probes put the row at 0.94, one ground-truth quantum off
  // p103's 0.98.
  // =========================================================================
  /** 8 vectors/cell × 128 cells; floor'd threshold in tenths of a
    * basis point — `FLOOR(10000.0 * LEAST(1.0, 1024.0 / n))` in DuckDB,
    * the identical IEEE expression here. */
  private def p106Frac(n: Long): Double =
    math.floor(10000.0 * math.min(1.0, 1024.0 / n)) / 10000.0
  // fraction cached per dir: p106Sample is called from three sites per
  // run (both bank caches + sample_n) and each would otherwise re-count
  // the corpus just to re-derive the same threshold
  private val p106FracCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()
  private def p106Sample(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val frac: Double =
      p106FracCache.computeIfAbsent(dir, _ => p106Frac(emb.count()))
    Curation.sampleUniform(emb, "vec_id", frac)
  }
  private val sampledRelBankCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[(Int, Seq[Double])]]()
  private def sampledRelBank(spark: SparkSession, dir: String): DataFrame = {
    val rows = sampledRelBankCache.computeIfAbsent(dir, _ =>
      IvfRelational.trainBank(p106Sample(spark, dir),
          nCells = 128, iters = 3, stride = 3)
        .collect().map(r => (r.getInt(0), r.getSeq[Double](1))))
    import spark.implicits._
    rows.toSeq.toDF("cell", "cv")
  }
  private val sampledLitBankCache =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Double]]]()
  private def sampledLitBank(spark: SparkSession, dir: String): Array[Array[Double]] =
    sampledLitBankCache.computeIfAbsent(dir, _ =>
      Similarity.ivfCentroidsTrained(p106Sample(spark, dir),
        nCells = 128, stride = 3))

  def p106IvfSampled(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val qs = emb.filter(col("vec_id") < 10)
    val bank = sampledRelBank(spark, dir)
    val ann = IvfRelational.topK(qs, emb, bank, k = 5, nProbe = 64)
    val sampleN = p106Sample(spark, dir).agg(count(lit(1)).as("__sn"))
    relIvfGateRow(spark, dir, ann, "ivf_sampled", bank,
      relBankCmpTo(spark, bank, sampledLitBank(spark, dir))
        .crossJoin(broadcast(sampleN)),
      extraCols = Seq(col("__sn").as("sample_n")))
  }

  val p106Sql: String = ivfScaledGateSql("ivf_sampled",
    ",\n  TRUE AS bank_matches,\n  (SELECT COUNT(*) FROM emb) AS sample_n",
    trainWhere = Some(Curation.sampleBucketSql("vec_id") +
      " < CAST(FLOOR(10000.0 * LEAST(1.0, 1024.0 / " +
      "(SELECT COUNT(*) FROM embeddings))) AS BIGINT)"), stride = 3,
    nProbe = 64)

  // =========================================================================
  // p107 — STREAMING PCA (model-sized deltas): the statistics member of
  // the incremental family, beyond the r9 list. Where p105's IVF deltas
  // are data-sized (one row per vector), a PCA model's sufficient
  // statistics are the covariance-moment relation — d(d+3)/2 exact-
  // decimal sums — so each micro-batch appends a MODEL-SIZED delta
  // (2,144 rows at d=64 regardless of batch size) and the current model
  // is a driver-side solve over the folded deltas; the standing corpus
  // is NEVER re-scanned. Exactness is structural: decimal sums are
  // associative in the corpus, so the chained fit is BIT-IDENTICAL to a
  // one-shot pcaFit over the union (StreamingSpec pins it) — and the
  // oracle asserts it end-to-end by replaying the ONE-SHOT decomposition
  // (p100's VARCHAR-bridged covariance + unrolled power-iteration
  // chains) over the full corpus and comparing the streamed engine's
  // model rows double-for-double.
  // =========================================================================
  def p107StreamPca(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.PcaStream
    val emb = Tables.embeddings(spark, dir)
    val r = new StreamRun(spark)
    r.run(emb.filter(col("vec_id") >= 250)
        .select(col("vec_id"), col("embedding")), stripe("vec_id", 2),
      0 until 2)(() => PcaStream.writeStanding(spark, r("moments"),
        emb.filter(col("vec_id") < 250)))(
      PcaStream.advanceBatch(spark, r("moments")))
    val model = PcaStream.modelAt(spark, r("moments"), k = 2, iters = p100Iters)
    import spark.implicits._
    val rows =
      model.mean.zipWithIndex.map { case (m, i) => (0, i, m, 0.0) } ++
        model.components.zipWithIndex.flatMap { case (pc, c) =>
          pc.zipWithIndex.map { case (v, i) =>
            (c + 1, i, v, model.eigenvalues(c)) }
        }
    rows.toSeq.toDF("component", "pos", "loading", "eigenvalue")
      .orderBy("component", "pos")
  }

  val p107Sql: String =
    s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
       |  FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) > 0),
       |${pcaChainCtes(2, p100Iters)}
       |SELECT CAST(component AS INT) AS component, CAST(pos AS INT) AS pos,
       |  loading, eigenvalue
       |FROM (
       |  SELECT 0 AS component, i AS pos, mus[i + 1] AS loading,
       |    CAST(0.0 AS DOUBLE) AS eigenvalue
       |  FROM muarr CROSS JOIN ii
       |  UNION ALL
       |  SELECT 1, i, c1.p[i + 1], (SELECT lam FROM pa${p100Iters})
       |  FROM c1 CROSS JOIN ii
       |  UNION ALL
       |  SELECT 2, i, c2.p[i + 1], (SELECT lam FROM pb${p100Iters})
       |  FROM c2 CROSS JOIN ii)
       |ORDER BY component, pos""".stripMargin

  // =========================================================================
  // p108 — STREAMING inverted-index maintenance: the sparse-retrieval
  // member of the incremental family, closing the index-family matrix
  // (exact fp p73/p75, MinHash band p77/p79, IVF p105, PCA moments p107).
  // Each document micro-batch tokenizes ONLY its own docs and appends a
  // posting delta (term, doc_id, tf, dl — disjoint across batches, so
  // the assembled table is a PLAIN zero-exchange union) plus a 1-row
  // stats delta (n_docs, total_dl — exact integer sums, associative).
  // A probe then scores BIT-IDENTICALLY to Retrieval.bm25TopK over the
  // assembled corpus — same filtered tf rows, same df counts, same
  // broadcast stats fold, same decimal-staged sum — which is exactly
  // what the oracle replays (the shared sqlBm25Ctes chain over the full
  // documents table). Unlike writeInvertedIndex's pinned build-time
  // stats side table, the streamed stats fold tracks the assembled
  // corpus, so probes always score against the corpus they search.
  // =========================================================================
  private val p108Terms = Seq("data", "merge", "hash", "scan")

  def p108StreamBm25(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    graft.streaming.RetrievalStream.bm25TopK(spark,
      bm25Stream(spark, docs, docs.filter(col("doc_id") < 250))((_, _) => ()),
      p108Terms, k = 40)
  }

  /** p108's postings stream: `standing` stands and the docs from 250 on
    * arrive in batch `doc_id mod 2`; `verbs(idx, id)` runs before batch
    * `id`'s append (the takedowns of p133/p136/p139). Returns the index
    * root. */
  private def bm25Stream(spark: SparkSession, docs: DataFrame,
      standing: DataFrame)(verbs: (String, Long) => Unit): String = {
    import graft.streaming.RetrievalStream
    val r = new StreamRun(spark)
    r.run(docs.filter(col("doc_id") >= 250).select(col("doc_id"), col("text")),
      stripe("doc_id", 2), 0 until 2)(
      () => RetrievalStream.writeStanding(spark, r("idx"), standing)) {
      (b, id) =>
        verbs(r("idx"), id)
        RetrievalStream.appendBatch(spark, r("idx"))(b, id)
    }
    r("idx")
  }

  /** The 4 lexicographically smallest distinct tokens of doc 251: a query
    * vocabulary drawn from the corpus (p133's rule). */
  private def corpusTerms(docs: DataFrame): Seq[String] =
    docs.filter(col("doc_id") === 251)
      .select(explode(TF.tokens(col("text"))).as("term"))
      .distinct().orderBy("term").limit(4)
      .collect().map(_.getString(0)).toSeq

  /** [[corpusTerms]], oracle side, as CTE `qt$tag(term)`. */
  private def sqlCorpusTermsCte(tag: String): String =
    s"""qt$tag AS (SELECT term FROM (
       |    SELECT DISTINCT unnest($sqlToks) AS term FROM documents
       |    WHERE doc_id = 251)
       |  ORDER BY term LIMIT 4)""".stripMargin

  /** The oracle of a takedown through the BM25 stream: the unchanged
    * chain over the retained corpus `live` (defined by `liveCtes`) for
    * the [[corpusTerms]]. */
  private def sqlLiveBm25(tag: String, liveCtes: String): String =
    s"""WITH ${sqlCorpusTermsCte(tag)},
       |$liveCtes,
       |${sqlBm25Top(tag,
            sqlBm25CtesWhere(tag, s"SELECT term FROM qt$tag", "live"), 40)}"""
      .stripMargin

  val p108Sql: String =
    s"WITH ${sqlBm25Top("108", sqlBm25Ctes("108", p108Terms), 40)}"

  // =========================================================================
  // p109 — STREAMING sketch maintenance: the profiling member of the
  // incremental family. Each document micro-batch appends its HLL
  // register relation (≤ langs·256 rows — model-sized) as a versioned
  // delta; the live distinct-documents-per-language estimate (the
  // dedup-rate dashboard metric) is the estimator over the register
  // max-fold — associative AND idempotent, strictly stronger than
  // p107/p108's sum folds (even a duplicated delta cannot corrupt it).
  // Folded == one-shot is structural (the register relation of a union
  // IS the (group, idx)-wise max of per-part relations), and the oracle
  // proves it register-by-register: the SAME sqlHllChain replay p70 uses,
  // over the full corpus, must match the streamed estimate exactly —
  // plus the exact countDistinct and the error in basis points.
  // =========================================================================
  def p109StreamHll(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.SketchStream
    val docs = Tables.documents(spark, dir)
    val r = new StreamRun(spark)
    r.run(docs.filter(col("doc_id") >= 250)
        .select(col("doc_id"), col("lang"), col("text")),
      stripe("doc_id", 2), 0 until 2)(() => SketchStream.writeStanding(spark,
        r("reg"), docs.filter(col("doc_id") < 250), Seq("lang"), "text"))(
      SketchStream.advanceBatch(spark, r("reg"), Seq("lang"), "text"))
    val hll = SketchStream.distinctAt(spark, r("reg"), Seq("lang"))
    val exact = docs.groupBy(col("lang"))
      .agg(countDistinct(col("text")).as("n_exact"))
    exact.join(hll, "lang")
      .select(col("lang"), col("n_exact"), col("n_hll"),
        floor(abs(col("n_hll") - col("n_exact")) * lit(10000) /
          col("n_exact")).cast("bigint").as("err_bp"))
      .orderBy("lang")
  }

  val p109Sql: String =
    s"""WITH src AS (SELECT lang AS flag, text AS sval FROM documents),
       |$sqlHllChain,
       |ex AS (SELECT lang AS flag,
       |    CAST(COUNT(DISTINCT text) AS BIGINT) AS n_exact
       |  FROM documents GROUP BY lang)
       |SELECT ex.flag AS lang, n_exact, n_hll,
       |  CAST(floor(abs(n_hll - n_exact) * 10000 / n_exact) AS BIGINT) AS err_bp
       |FROM ex JOIN fin USING (flag)
       |ORDER BY lang""".stripMargin

  // =========================================================================
  // p110 — STREAMING count-min maintenance: p109's counting sibling —
  // the token-frequency monitor (vocabulary drift, stopword shares) a
  // training pipeline keeps over an ingest stream. Each document
  // micro-batch tokenizes ONLY its own docs and appends a d×w counter
  // delta (≤ 4,096 rows — model-sized); live point estimates run
  // countMinLookup over the (j, bucket)-wise SUM fold. Counter sums are
  // associative but NOT idempotent (a duplicated delta WOULD overcount —
  // StreamingSpec pins that too), which is exactly why the family's
  // exactly-once delta conventions are load-bearing here where p109's
  // max-fold shrugged. Folded == one-shot is structural, and the oracle
  // replays the one-shot sketch (p78's exact-HUGEINT hash chain) over
  // the full corpus's tokens: streamed estimates must match
  // counter-for-counter, plus exact counts and the structural
  // overcount ≥ 0.
  // =========================================================================
  private val p110Keys = Seq("data", "hash", "merge", "scan", "spark",
    "the", "value", "window")

  def p110StreamCountMin(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.SketchStream
    val docs = Tables.documents(spark, dir)
    def toTokens(df: DataFrame): DataFrame =
      df.select(explode(TF.tokens(col("text"))).as("token"))
    val r = new StreamRun(spark)
    r.run(docs.filter(col("doc_id") >= 250).select(col("doc_id"), col("text")),
      stripe("doc_id", 2), 0 until 2)(() => SketchStream.writeStandingCm(spark,
        r("cm"), toTokens(docs.filter(col("doc_id") < 250)), "token")) {
      (b, id) => SketchStream.advanceBatchCm(spark, r("cm"), "token")(
        toTokens(b), id)
    }
    import spark.implicits._
    val probes = p110Keys.toDF("token")
    val exact = toTokens(docs).filter(col("token").isInCollection(p110Keys))
      .groupBy(col("token")).agg(count(lit(1)).as("n_exact"))
    SketchStream.lookupAt(spark, r("cm"), probes, "token")
      .join(exact, Seq("token"), "left")
      .select(col("token"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"),
        col("n_cms"),
        (col("n_cms") - coalesce(col("n_exact"), lit(0L))).as("overcount"))
      .orderBy("token")
  }

  val p110Sql: String = {
    val keys = p110Keys.map(k => s"'$k'").mkString(", ")
    s"""WITH toks AS (SELECT unnest($sqlToks) AS k FROM documents),
       |src AS (SELECT CAST(k AS VARCHAR) AS k FROM toks),
       |pk AS (SELECT unnest([$keys]) AS key),
       |${sqlCountMinCtes("key")},
       |ex AS (SELECT k AS key, COUNT(*) AS n FROM toks
       |       WHERE k IN ($keys) GROUP BY 1)
       |SELECT est.key AS token, CAST(COALESCE(n, 0) AS BIGINT) AS n_exact,
       |  CAST(n_cms AS BIGINT) AS n_cms,
       |  CAST(n_cms - COALESCE(n, 0) AS BIGINT) AS overcount
       |FROM est LEFT JOIN ex ON est.key = ex.key
       |ORDER BY token""".stripMargin
  }

  // =========================================================================
  // p111 — STREAMING quantile maintenance: the order-statistics member of
  // the incremental family, completing the matrix (fp / band / cells /
  // moments / postings / registers / counters / bins). Each micro-batch
  // bins ONLY its own rows under bounds FROZEN from the standing corpus
  // (the IvfStream bank analogue — deltas binned under different bounds
  // silently estimate garbage, so the store fails loud on a mutated
  // bounds root) and appends a ≤ bins-row count delta; live p50/p90/p99
  // document-length estimates read the bin-wise integer-sum fold —
  // model-sized, never the corpus. Out-of-range values clamp into edge
  // bins (deterministic, mirrored greatest/least in the oracle) and the
  // clamped mass surfaces as n_below/n_above — the drift signal that
  // says the frozen bounds deserve a rebuild. Folded == one-shot is
  // structural (bin counts of a union are sums of per-part bin counts);
  // the oracle replays bounds → binning → fold → rank/interpolation
  // (p80's estimator arithmetic expression-for-expression) over the full
  // corpus, plus the TRUE percentile (global rank pick) and the drift
  // counts — streamed estimates must match bin-for-bin.
  // =========================================================================
  def p111StreamQuantiles(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.QuantileStream
    import graft.operators.Profiling
    val docs = Tables.documents(spark, dir)
    val r = new StreamRun(spark)
    r.run(docs.filter(col("doc_id") >= 250).select(col("doc_id"), col("n_chars")),
      stripe("doc_id", 2), 0 until 2)(() => QuantileStream.writeStanding(spark,
        r("bounds"), r("counts"), docs.filter(col("doc_id") < 250), "n_chars",
        128))(QuantileStream.advanceBatch(spark, r("bounds"), r("counts"),
      r("prof"), "n_chars"))
    val est = QuantileStream.quantilesAt(spark, r("bounds"), r("counts"),
      Seq(0.5, 0.9, 0.99))
    val exact = Profiling.histogramQuantiles(docs, "n_chars", 128,
      Seq(0.5, 0.9, 0.99), exact = true).select(col("q"), col("p_exact"))
    val drift = r.batches("prof").agg(sum(col("n_below")).as("n_below"),
      sum(col("n_above")).as("n_above"))
    est.join(exact, Seq("q"))
      .crossJoin(broadcast(drift))
      .select(col("q"), col("n"), col("est"), col("p_exact"),
        (col("est") - col("p_exact")).as("err"),
        col("n_below"), col("n_above"))
      .orderBy("q")
  }

  /** The p111 bounds → binning → fold → rank/interpolation replay,
    * parameterized over (bins, the standing-bounds WHERE clause) — shared
    * by p111 and the p120 rebuild lifecycle (whose rebuilt bounds
    * re-derive over a wider corpus at doubled bins). Produces the CTE
    * chain `stand/mm/allx/.../est(q, n, est)/ex(q, p_exact)`; callers
    * append their drift CTEs and final SELECT. */
  private def sqlQuantileReplayCtes(bins: Int, standWhere: String): String =
    s"""stand AS (SELECT CAST(n_chars AS DOUBLE) AS x FROM documents
       |               WHERE $standWhere AND n_chars IS NOT NULL),
       |mm AS (SELECT MIN(x) AS mn, MAX(x) AS mx FROM stand),
       |allx AS (SELECT CAST(n_chars AS DOUBLE) AS x FROM documents
       |         WHERE n_chars IS NOT NULL),
       |b AS (SELECT CASE WHEN mm.mx = mm.mn THEN 0
       |        ELSE CAST(greatest(least(floor((x - mm.mn)
       |                                       / ((mm.mx - mm.mn) / $bins.0)),
       |                                 ${bins - 1}.0), 0.0) AS INT) END AS bin
       |      FROM allx CROSS JOIN mm),
       |c AS (SELECT bin, COUNT(*) AS nb FROM b GROUP BY bin),
       |nn AS (SELECT CAST(SUM(nb) AS BIGINT) AS n FROM c),
       |cum AS (SELECT bin, nb,
       |    SUM(nb) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM c),
       |qs AS (SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE),
       |                      CAST(0.99 AS DOUBLE)]) AS q),
       |fb AS (SELECT q, MIN(bin) AS bin
       |       FROM qs CROSS JOIN nn
       |       JOIN cum ON cum.cum >= ceil(q * CAST(nn.n AS DOUBLE))
       |       GROUP BY q),
       |est AS (SELECT q, nn.n AS n,
       |  CASE WHEN mm.mx = mm.mn THEN mm.mn
       |    ELSE (mm.mn + (CAST(fb.bin AS DOUBLE) * ((mm.mx - mm.mn) / $bins.0)))
       |      + (((CAST(ceil(q * CAST(nn.n AS DOUBLE)) AS DOUBLE)
       |           - CAST(cum.cum - cum.nb AS DOUBLE)) / CAST(cum.nb AS DOUBLE))
       |         * ((mm.mx - mm.mn) / $bins.0)) END AS est
       |  FROM fb JOIN cum USING (bin) CROSS JOIN mm CROSS JOIN nn),
       |ord AS (SELECT x, ROW_NUMBER() OVER (ORDER BY x) AS rn FROM allx),
       |nf AS (SELECT COUNT(*) AS n FROM allx),
       |ex AS (SELECT q, x AS p_exact
       |       FROM qs CROSS JOIN nf
       |       JOIN ord ON ord.rn = CAST(ceil(q * nf.n) AS BIGINT))""".stripMargin

  /** CTE `name(${p}below, ${p}above)`: how many n_chars of the docs
    * matching `where` fall below and above the bounds `mm(mn, mx)` — the
    * clamped mass, the drift signal of the quantile stores. */
  private def sqlDriftCte(name: String, p: String, where: String,
      mm: String): String =
    s"""$name AS (SELECT
       |    CAST(COALESCE(SUM(CASE WHEN x < $mm.mn THEN 1 ELSE 0 END), 0)
       |         AS BIGINT) AS ${p}below,
       |    CAST(COALESCE(SUM(CASE WHEN x > $mm.mx THEN 1 ELSE 0 END), 0)
       |         AS BIGINT) AS ${p}above
       |  FROM (SELECT CAST(n_chars AS DOUBLE) AS x FROM documents
       |        WHERE $where AND n_chars IS NOT NULL)
       |  CROSS JOIN $mm)""".stripMargin

  val p111Sql: String =
    s"""WITH ${sqlQuantileReplayCtes(128, "doc_id < 250")},
       |${sqlDriftCte("drift", "n_", "doc_id >= 250", "mm")}
       |SELECT est.q, est.n, est.est, ex.p_exact,
       |  est.est - ex.p_exact AS err, drift.n_below, drift.n_above
       |FROM est JOIN ex USING (q) CROSS JOIN drift ORDER BY q""".stripMargin

  // =========================================================================
  // p112 — STREAMING bloom maintenance: the MEMBERSHIP member of the
  // incremental sketch family (registers / counters / bins / bits) — the
  // growing-blocklist store a streaming decontamination pipeline keeps as
  // new benchmark documents arrive. Each micro-batch shingles ONLY its
  // own docs and appends a set-bit delta (≤ k·m rows — model-sized at ANY
  // corpus); the fold is distinct-union: associative, idempotent (a
  // duplicated delta cannot change membership) and monotone (a blocklist
  // only grows). The live probe materializes the folded bits as literal
  // masks (driver pull ≤ k·m/8 bytes — the p53 bloom-literal class) and
  // prefilters the corpus scan-locally: zero joins, zero extra exchange
  // on the corpus side; only candidate grams pay the exact verify join,
  // so the contamination verdict stays EXACT (no false negatives).
  // Unlike p53's opaque Spark-internal bloom binary, every set bit here
  // is `fingerprint64(gram || '#' || j) & (m-1)` — the count-min hash
  // convention — so the oracle replays the BLOOM ITSELF in exact HUGEINT
  // arithmetic: n_candidate_grams (bloom-dependent, false positives
  // included) must match bit-for-bit, not just the exact verdict. The
  // engine also full-outer-compares folded bits against a one-shot bloom
  // of the assembled benchmark (folded == one-shot, the bank_matches
  // pattern); the oracle asserts it TRUE.
  // =========================================================================
  def p112StreamBloom(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.SketchStream
    import graft.operators.Profiling
    val docs = Tables.documents(spark, dir)
    val bench = docs.filter(col("source") === "src0")
    val r = new StreamRun(spark)
    r.run(bench.filter(pmod(col("doc_id"), lit(4)) >= 2)
        .select(col("doc_id"), col("text")), pmod(col("doc_id"), lit(4)) - 2,
      0 until 2)(() => SketchStream.writeStandingBloom(spark, r("bloom"),
        gram5(bench.filter(pmod(col("doc_id"), lit(4)) < 2)), "gram")) {
      (b, id) => SketchStream.advanceBatchBloom(spark, r("bloom"), "gram")(
        gram5(b), id)
    }
    // folded == one-shot, engine-computed bit-for-bit; oracle asserts
    // TRUE. Rides into the result as a broadcast 1-row cross join (the
    // bank_matches pattern) — the whole query stays ONE plan, no
    // mid-query driver action (r10 VERDICT nit #2).
    val folded = SketchStream.readBloomBits(spark, r("bloom"))
    val oneShot = Profiling.bloomBits(gram5(bench), "gram")
    val bloomCmp = folded.withColumn("l", lit(1))
      .join(oneShot.withColumn("r", lit(1)), Seq("j", "bit"), "full_outer")
      .agg((count(lit(1)) === count(col("l")) &&
        count(lit(1)) === count(col("r"))).as("bloom_matches"))
    val benchGrams = gram5(bench).select(col("gram")).distinct()
    val corpusGrams = gram5(docs.filter(col("source") =!= "src0"))
    sharedGrams(SketchStream.prefilterAt(spark, r("bloom"), corpusGrams,
        "gram"), benchGrams)
      .crossJoin(broadcast(bloomCmp))
      .select(col("doc_id"), col("n_candidate_grams"),
        col("n_shared_grams"), col("bloom_matches"))
      .orderBy("doc_id")
  }

  /** Shared p112/p113 oracle chain: shingles → exact verdict (`ns`) →
    * bloom bit replay (`bbits`) → candidate counts for retained docs
    * (`nc`). ns is computed from the RAW corpus∩benchmark join,
    * independent of the bloom replay — a false-negative bug in the
    * engine's prefilter would hash-mismatch; the expensive per-gram hash
    * replay then runs only over the retained docs' grams. */
  /** The distinct 5-token shingle list of a `toks` VARCHAR[] — the
    * decontamination gram unit (Spark side: `TF.tokenShingles(_, 5)`
    * under `array_distinct`). Shared by p112/p113 and the p114 capstone. */
  private def sqlGram5List(toks: String): String =
    s"""list_distinct(CASE WHEN len($toks) < 5 THEN [array_to_string($toks, ' ')]
       |      ELSE list_transform(range(1, len($toks) - 3),
       |        i -> $toks[i] || ' ' || $toks[i+1] || ' ' || $toks[i+2] || ' ' || $toks[i+3] || ' ' || $toks[i+4])
       |    END)""".stripMargin

  private val sqlBloomDecontamCtes: String =
    s"""sh AS (
       |  SELECT doc_id, source,
       |    ${sqlGram5List("toks")} AS sh
       |  FROM (SELECT doc_id, source, $sqlToks AS toks FROM documents)),
       |bench AS (SELECT DISTINCT unnest(sh) AS gram FROM sh WHERE source = 'src0'),
       |corpus AS (SELECT doc_id, unnest(sh) AS gram FROM sh WHERE source != 'src0'),
       |ns AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_grams
       |       FROM corpus JOIN bench USING (gram)
       |       GROUP BY doc_id HAVING COUNT(*) >= 3),
       |${sqlBloomBitsCtes("b", "bench", 65536)},
       |${sqlBloomCandCtes("bbits", 65536)}""".stripMargin

  /** The bloom bits of the distinct grams of `keys(gram)`: 4 hashes
    * fingerprint64(gram || '#' || j) into `m` bits (the SketchStream
    * hash), as CTEs `${p}j`, `${p}h0` and `${p}bits(j, bit)`. */
  private def sqlBloomBitsCtes(p: String, keys: String, m: Int): String = {
    import OracleHash._
    s"""${p}j AS (SELECT gram || '#' || CAST(j AS VARCHAR) AS sv, j
       |       FROM $keys CROSS JOIN (SELECT unnest(range(4)) AS j) js),
       |${p}h0 AS (SELECT j, ${fnv1a("sv")} AS h FROM ${p}j),
       |${p}bits AS (SELECT DISTINCT j, CAST(${mix("h")} % $m AS INT) AS bit
       |          FROM ${p}h0)""".stripMargin
  }

  /** The bloom candidates among the `corpus(doc_id, gram)` grams of the
    * docs in `ns`: `cand(doc_id, gram)`, the grams all 4 of whose bits
    * are in `bits`, and their count per doc, `nc(doc_id,
    * n_candidate_grams)`. */
  private def sqlBloomCandCtes(bits: String, m: Int): String = {
    import OracleHash._
    s"""cg AS (SELECT c.doc_id, c.gram FROM corpus c JOIN ns USING (doc_id)),
       |cj AS (SELECT doc_id, gram, gram || '#' || CAST(j AS VARCHAR) AS sv, j
       |       FROM cg CROSS JOIN (SELECT unnest(range(4)) AS j) js2),
       |ch0 AS (SELECT doc_id, gram, j, ${fnv1a("sv")} AS h FROM cj),
       |cbits AS (SELECT doc_id, gram, j, CAST(${mix("h")} % $m AS INT) AS bit
       |          FROM ch0),
       |cand AS (SELECT doc_id, gram FROM cbits JOIN $bits USING (j, bit)
       |         GROUP BY doc_id, gram HAVING COUNT(*) = 4),
       |nc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_candidate_grams
       |       FROM cand GROUP BY doc_id)""".stripMargin
  }

  val p112Sql: String =
    s"""WITH $sqlBloomDecontamCtes
       |SELECT ns.doc_id, nc.n_candidate_grams, ns.n_shared_grams,
       |  TRUE AS bloom_matches
       |FROM ns JOIN nc USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // =========================================================================
  // p113 — STREAMING ingest-time decontamination: the DUAL of p112. p112
  // streams the BLOCKLIST (benchmark docs grow the bloom); p113 streams
  // the CORPUS against a FROZEN blocklist — the filter a training
  // pipeline runs at ingest, flagging contaminated documents the moment
  // they arrive instead of by periodic batch sweep (the p75/p79 filter
  // shape). The bloom masks are materialized ONCE per epoch (the
  // model-sized driver pull) and ride into every batch's scan-local
  // prefilter as literals — per-batch cost is one batch-sized codegen'd
  // filter scan + a candidates-only verify join against the standing
  // benchmark relation; the standing corpus and blocklist are never
  // rescanned. A doc's verdict depends only on its OWN grams and the
  // frozen blocklist, so streamed == batch is structural — and the
  // oracle proves it through the shared p112 chain (exact verdict
  // independent of the bloom replay, candidate counts bit-for-bit, batch
  // provenance replayed from the deterministic split).
  // =========================================================================
  def p113StreamDecontam(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Profiling
    val docs = Tables.documents(spark, dir)
    val r = new StreamRun(spark)
    val (masks, benchGrams) = frozenBlocklist(spark, r, docs)
    r.run(docs.filter(col("source") =!= "src0")
        .select(col("doc_id"), col("text")), stripe("doc_id", 2), 0 until 2)(
      () => masks(), () => benchGrams()) { (b, id) =>
      sharedGrams(gram5(b).filter(
          Profiling.bloomMightContain(col("gram"), masks(), 1 << 16)),
          benchGrams())
        .withColumn("batch", graft.functions.SteadyLit.steadyLong(id))
        .write.mode("overwrite").parquet(r(s"out/b$id"))
    }
    r.out.select(col("doc_id"), col("batch"), col("n_candidate_grams"),
        col("n_shared_grams"))
      .orderBy("doc_id")
  }

  /** The docs of the bloom candidates `cand(doc_id, gram)` sharing at
    * least 3 grams with `benchGrams`: (doc_id, n_shared_grams,
    * n_candidate_grams), the exact verdict over the candidates only. */
  private def sharedGrams(cand: DataFrame, benchGrams: DataFrame)
      : DataFrame = {
    val nCand = cand.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_candidate_grams"))
    cand.join(broadcast(benchGrams), "gram")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared_grams"))
      .filter(col("n_shared_grams") >= 3)
      .join(nCand, "doc_id")
  }

  /** The frozen per-epoch decontamination artifacts of p113/p114, built
    * lazily so a [[StreamRun]] overlaps them with its staging: the
    * benchmark (`source = 'src0'`) blocklist bloom at `r("bloom")` as
    * literal masks, and the benchmark's distinct grams, checkpointed. */
  private def frozenBlocklist(spark: SparkSession, r: StreamRun,
      docs: DataFrame): (() => Array[Array[Long]], () => DataFrame) = {
    import graft.streaming.SketchStream
    val bench = docs.filter(col("source") === "src0")
    lazy val masks = {
      SketchStream.writeStandingBloom(spark, r("bloom"), gram5(bench), "gram")
      graft.operators.Profiling.bloomMasks(
        SketchStream.readBloomBits(spark, r("bloom")), 4, 1 << 16)
    }
    lazy val grams = gram5(bench).select(col("gram")).distinct()
      .localCheckpoint(true)
    (() => masks, () => grams)
  }

  val p113Sql: String =
    s"""WITH $sqlBloomDecontamCtes
       |SELECT ns.doc_id, CAST(ns.doc_id % 2 AS BIGINT) AS batch,
       |  nc.n_candidate_grams, ns.n_shared_grams
       |FROM ns JOIN nc USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // =========================================================================
  // p114 — STREAMING INGEST CAPSTONE: decontamination + quality + near-dup
  // in ONE foreachBatch over the same micro-batch — the deploy shape of a
  // training-data ingest pipeline (the batch capstones p56/p62/p69 proved
  // stages compose in one plan; this is the streaming side's proof). Per
  // batch: (1) p113's scan-local bloom prefilter against the FROZEN
  // benchmark blocklist + exact verify join → contaminated; (2) p98's
  // shuffle-free repetition verdict → quality_keep; (3) p79's band-index
  // probe against the standing corpus + prior batches (appending the
  // batch's own band/doc deltas for later batches) → near_dup, flagged on
  // the ingest side of each pair (the newcomer of a cross pair, the
  // greater id in-batch — first-arrival-wins, p24's canonical rule); one
  // COMBINED verdict delta lands per batch. Planted +10000000 replays of
  // standing docs probe the cross arm. The oracle recomposes all three
  // families' shared fragments — the 5-gram contamination join
  // (sqlGram5List), the p98 integer chain (sqlRepetitionCtes), the
  // tag-parameterized MinHash chain + cross arm (sqlMinhashChain /
  // sqlCrossArmCtes) — over the deterministic batch split, so every
  // verdict column replays bit-for-bit. At 100 TB the per-batch cost is
  // the batch: one codegen'd literal-mask filter scan, one scan-shaped
  // quality projection, one band probe against bucketed deltas; the
  // standing corpus, blocklist and band index are never re-scanned.
  // =========================================================================
  /** The 5-gram relation of a (doc_id, text) frame — the decontamination
    * gram unit shared by the p112/p113/p114/p121 engines. */
  private def gram5(df: DataFrame): DataFrame =
    df.select(col("doc_id"),
        array_distinct(TF.tokenShingles(TF.tokens(col("text")), 5)).as("sh"))
      .select(col("doc_id"), explode(col("sh")).as("gram"))

  /** The p114 ingest-capstone `foreachBatch` body, extracted so the
    * crash-consistency spec can drive it directly. Four stores land per
    * batch, in order: pairs delta → band delta → doc delta (the first
    * three inside [[graft.streaming.NearDupStream.filterBatch]]) →
    * combined verdict delta. Every write is batch-id-named deterministic
    * overwrite, so redelivery after a crash between ANY two of the four
    * converges byte-identically to the uninterrupted run — spec-gated in
    * StreamingSpec (the RetrievalStream two-root hardening applied to
    * the composed pipeline). */
  def ingestCapstoneBatch(spark: SparkSession, masks: Array[Array[Long]],
      benchGrams: DataFrame, idxRoot: String, docsRoot: String,
      pairsRoot: String, outRoot: String)(b: DataFrame, id: Long): Unit = {
    import graft.streaming.NearDupStream
    import graft.operators.{Profiling, Quality}
    // stage 0 — the re-ingest guard at the pipeline's front door
    // (VERDICT r16 next #4): a batch carrying an id any derived store
    // still holds dead refuses loud — the legal paths are
    // Versions.revive (retained content returning) or a fresh ingest id
    graft.streaming.Takedown.guardReingest(spark, Seq(idxRoot, docsRoot),
      b.select(col("doc_id")))
    // stage 1 — decontamination: literal-mask prefilter (scan-local,
    // zero joins for clean docs) + exact verify over candidates only
    val contam = gram5(b)
      .filter(Profiling.bloomMightContain(col("gram"), masks, 1 << 16))
      .join(broadcast(benchGrams), "gram")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("__n_shared"))
      .filter(col("__n_shared") >= 3)
      .select(col("doc_id"), lit(true).as("__contam"))
    // stage 2 — quality: the scan-shaped repetition verdict
    val quality = Quality.repetitionStats(b, "doc_id", "text")
      .select(col("doc_id"), col("keep").as("quality_keep"))
    // stage 3 — near-dup: the family's own callback probes the
    // standing index + prior batches and appends this batch's deltas;
    // it RETURNS the batch's pair frame (localCheckpointed), so the
    // verdict below composes without re-reading the parquet it wrote
    val pairs = NearDupStream.filterBatch(spark, idxRoot, docsRoot,
      pairsRoot, "doc_id", "text", threshold = 0.4,
      materializePairs = true)(
      b.select(col("doc_id"), col("text")), id)
    val dupIds = ingestSide(pairs, b, "doc_id").withColumn("__dup", lit(true))
    // ONE combined verdict delta per batch
    b.select(col("doc_id"))
      .join(contam, Seq("doc_id"), "left")
      .join(quality, Seq("doc_id"))
      .join(dupIds, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("__contam"), lit(false)).as("contaminated"),
        col("quality_keep"),
        coalesce(col("__dup"), lit(false)).as("near_dup"))
      .withColumn("keep", !col("contaminated") && col("quality_keep") &&
        !col("near_dup"))
      .withColumn("batch", graft.functions.SteadyLit.steadyLong(id))
      .write.mode("overwrite").parquet(s"$outRoot/b$id")
  }

  /** The INGEST side of each undirected pair of batch `b`, as column `id`:
    * `id_b` when the batch holds it (an in-batch pair flags its greater
    * id; a cross pair's standing side is never in the batch), else
    * `id_a`. Shared by the p114 and p128 capstones. */
  private def ingestSide(pairs: DataFrame, b: DataFrame, id: String)
      : DataFrame = pairs
    .join(b.select(col(id).as("id_b"), lit(true).as("__b_in")), Seq("id_b"),
      "left")
    .select(when(col("__b_in").isNotNull, col("id_b"))
      .otherwise(col("id_a")).as(id))
    .distinct()

  def p114StreamIngest(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val corpus = docs.filter(col("source") =!= "src0")
    val standing = corpus.filter(col("doc_id") < 250)
      .select(col("doc_id"), col("text"))
    val incoming = corpus.filter(col("doc_id") >= 250)
      .select(col("doc_id"), col("text"))
      .unionAll(corpus.filter(col("doc_id") < 10)
        .select((col("doc_id") + 10000000).as("doc_id"), col("text")))
    val r = new StreamRun(spark)
    // frozen per-epoch artifacts: blocklist bloom → literal masks, the
    // standing benchmark gram relation, the standing band index + docs
    val (masks, benchGrams) = frozenBlocklist(spark, r, docs)
    r.run(incoming, stripe("doc_id", 2), 0 until 2)(
      Seq[() => Unit](() => masks(), () => benchGrams()) ++
        nearDupStanding(standing, r("idx"), r("docs")): _*) { (b, id) =>
      ingestCapstoneBatch(spark, masks(), benchGrams(), r("idx"), r("docs"),
        r("pairs"), r("out"))(b, id)
    }
    r.out.select(col("doc_id"), col("batch"), col("contaminated"),
        col("quality_keep"), col("near_dup"), col("keep"))
      .orderBy("doc_id")
  }

  val p114Sql: String =
    s"""WITH tdocs AS (SELECT doc_id, source, $sqlToks AS toks FROM documents),
       |inc AS (
       |  SELECT doc_id, toks, doc_id % 2 AS b FROM tdocs
       |  WHERE source != 'src0' AND doc_id >= 250
       |  UNION ALL
       |  SELECT doc_id + 10000000, toks, (doc_id + 10000000) % 2 FROM tdocs
       |  WHERE source != 'src0' AND doc_id < 10),
       |bgr AS (SELECT DISTINCT unnest(${sqlGram5List("toks")}) AS gram
       |        FROM tdocs WHERE source = 'src0'),
       |igr AS (SELECT doc_id, unnest(${sqlGram5List("toks")}) AS gram
       |        FROM inc),
       |contam AS (SELECT doc_id FROM igr JOIN bgr USING (gram)
       |           GROUP BY doc_id HAVING COUNT(*) >= 3),
       |${sqlRepetitionCtes("q", "inc")},
       |ex AS (SELECT doc_id, toks FROM tdocs
       |       WHERE source != 'src0' AND doc_id < 250),
       |i0 AS (SELECT doc_id, toks FROM inc WHERE b = 0),
       |i1 AS (SELECT doc_id, toks FROM inc WHERE b = 1),
       |$sqlMinhashCoef,
       |${sqlMinhashChain("x", "ex")},
       |${sqlMinhashChain("g0", "i0")},
       |${sqlMinhashChain("g1", "i1")},
       |${sqlMinhashPairCtes("g0")},
       |${sqlMinhashPairCtes("g1")},
       |${sqlCrossArmCtes(0)},
       |${sqlCrossArmCtes(1)},
       |dup AS (
       |  SELECT CASE WHEN id_b IN (SELECT doc_id FROM i0)
       |    THEN id_b ELSE id_a END AS doc_id
       |  FROM (SELECT id_a, id_b FROM mhg0 UNION ALL SELECT id_a, id_b FROM mx0)
       |  UNION
       |  SELECT CASE WHEN id_b IN (SELECT doc_id FROM i1)
       |    THEN id_b ELSE id_a END AS doc_id
       |  FROM (SELECT id_a, id_b FROM mhg1 UNION ALL SELECT id_a, id_b FROM mx1))
       |SELECT i.doc_id, CAST(i.b AS BIGINT) AS batch,
       |  (c.doc_id IS NOT NULL) AS contaminated,
       |  $sqlKeepVerdict AS quality_keep,
       |  (d.doc_id IS NOT NULL) AS near_dup,
       |  (c.doc_id IS NULL AND $sqlKeepVerdict AND d.doc_id IS NULL) AS keep
       |FROM inc i
       |JOIN sq ON i.doc_id = sq.doc_id
       |LEFT JOIN contam c ON i.doc_id = c.doc_id
       |LEFT JOIN dup d ON i.doc_id = d.doc_id
       |ORDER BY i.doc_id""".stripMargin

  // =========================================================================
  // p115 — IVF REBUILD/SWAP lifecycle under the oracle: the one incremental
  // lifecycle step that was spec-only (r10 VERDICT missing #3). A standing
  // corpus + two streamed deltas assemble under a SMALL bank (8 cells);
  // the growth profiles say cells ∝ corpus demands more, so rebuildIndex
  // retrains a 16-cell bank over the assembled corpus — on the
  // deterministic HALF SAMPLE (trainFraction 0.5, the p106 prescription:
  // at 100 TB training must be a function of the model, not the corpus)
  // — re-assigns once into NEW roots, and a NEW stream (fresh lineage,
  // batch 0) appends the post-swap arrivals under the rebuilt bank (the
  // bank-identity pin verifying bankRoot2 against indexRoot2/_params on
  // the way). The oracle replays the WHOLE lifecycle from raw data:
  // sample membership (sampleUniform's hash bucket), the sampled
  // decimal-staged Lloyd chain (ivfBankCtes over the sample CTE), then
  // one full-corpus nearest-cell assignment — with per-row provenance
  // (src 0 = rebuilt standing v0, src 1 = the post-swap delta) and the
  // sample cardinality pinned on every row. Nothing about the OLD roots
  // appears in the result because the swap replaces derived state
  // wholesale — which is exactly the property under test: the rebuilt
  // index is a pure function of (assembled corpus, training config),
  // independent of the delta history that assembled it.
  // =========================================================================
  def p115IvfRebuild(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.IvfStream
    val emb = Tables.embeddings(spark, dir)
    val standing = emb.filter(col("vec_id") < 150)
    val r = new StreamRun(spark)
    r.run(emb.filter(col("vec_id") >= 150 && col("vec_id") < 250)
        .select(col("vec_id"), col("embedding")), stripe("vec_id", 2),
      0 until 2)(() => IvfStream.writeStanding(spark, r("bank1"), r("idx1"),
        standing, IvfRelational.trainBank(standing, nCells = 8, iters = 3,
          stride = 15)))(IvfStream.appendBatch(spark, r("bank1"), r("idx1"),
      r("out1"), "vec_id", "embedding"))
    // the growth signal: 100 appended over 150 standing under 8 cells —
    // retrain with cells doubled, on the deterministic half sample
    IvfStream.rebuildIndex(spark, r("idx1"), r("bank2"), r("idx2"),
      nCells = 16, iters = 3, stride = 3, trainFraction = 0.5)
    // post-swap: a NEW stream (fresh lineage) appends under the rebuilt
    // bank — one foreachBatch body call IS the stream's batch 0
    IvfStream.appendBatch(spark, r("bank2"), r("idx2"), r("out2"),
      "vec_id", "embedding")(emb.filter(col("vec_id") >= 250), 0L)
    val sampleN = Curation.sampleUniform(
        emb.filter(col("vec_id") < 250), "vec_id", 0.5)
      .agg(count(lit(1)).as("sample_n"))
    ivfIndexBySrc(spark, r("idx2"))
      .crossJoin(broadcast(sampleN))
      .orderBy("vec_id")
  }

  val p115Sql: String = sqlIvfIndexSql(
    s"\n    AND ${Curation.sampleBucketSql("vec_id")} < 5000", 3,
    "CASE WHEN id < 250 THEN 0 ELSE 1 END",
    ",\n  (SELECT COUNT(*) FROM emb) AS sample_n")

  // =========================================================================
  // p116 — IMAGE aHash near-dup: the multimodal family's first ORACLE-HASH
  // row (p14/p33 are rows-only because PNG/WAV codecs can't run in DuckDB).
  // The trick: the synthetic rasters are a pure integer formula
  // (mix(id·7919 + y·w + x) & 0xffffff) and PNG is LOSSLESS, so the engine
  // can run the REAL codec loop — encode → (plant: decode, perturb every
  // 37th pixel, re-encode) → decode → point-sampled integer aHash — while
  // DuckDB replays the pixels from the formula alone. A green row
  // therefore proves the whole encode/decode loop preserved every sampled
  // pixel bit-for-bit, not just that the hash arithmetic matches. Pairs
  // come from the SimHash chunk-pair machinery reused over the aHash
  // (Dedup.hammingPairs64) at Hamming ≤ 6 — inside the 28-band pigeonhole
  // guarantee, so the oracle needs no banding replay: candidates are
  // COMPLETE below the threshold and an exact pair join reproduces them.
  // At 100 TB: decode + hash is scan-shaped (payloads never shuffle; 16
  // bytes per image continue), and the banded join is the p09 shape.
  // =========================================================================
  def p116ImageNearDup(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    val imgs = Multimodal.fromDocuments(spark, Tables.documents(spark, dir),
      onlyKind = Some("image"))
    val plants = Multimodal.plantImageVariants(imgs.filter(_.media_id < 30))
    val hashed = Multimodal.aHash64(imgs.union(plants)).localCheckpoint(true)
    // maxBucketSize unbounded: the oracle replays UNCAPPED exact Hamming
    // pairs, and aHash band keys are near-uniform (no hot buckets), so the
    // engine must not silently drop over-cap buckets at a larger corpus
    hammingPairsWithHashes(hashed)
  }

  /** Every pair of `hashed(media_id, ahash)` within Hamming 6, with both
    * hashes (p116, p124). */
  private def hammingPairsWithHashes(hashed: DataFrame): DataFrame =
    Dedup.hammingPairs64(
        hashed.select(col("media_id").as("id"), col("ahash").as("sh64")),
        maxHamming = 6, maxBucketSize = Int.MaxValue)
      .join(hashed.select(col("media_id").as("id_a"),
        col("ahash").as("ahash_a")), "id_a")
      .join(hashed.select(col("media_id").as("id_b"),
        col("ahash").as("ahash_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        col("hamming").cast("int").as("hamming"),
        col("ahash_a"), col("ahash_b"))
      .orderBy("id_a", "id_b")

  /** The planted-variant image set as an `imgs(id, vid, orig, w, h)` CTE:
    * every image doc (doc_id % 3 = 0) plus the +10000 pixel-perturbed
    * variants of the first 30 ids — the Spark side's
    * `fromDocuments(onlyKind = image)` ∪ `plantImageVariants` layout. */
  private val sqlImageVariantsCte: String =
    s"""imgs AS (
       |  SELECT doc_id AS id, doc_id AS vid, CAST(NULL AS BIGINT) AS orig,
       |    doc_id % 32 + 32 AS w, doc_id % 24 + 32 AS h
       |  FROM documents WHERE doc_id % 3 = 0
       |  UNION ALL
       |  SELECT doc_id + 10000, doc_id + 10000, doc_id,
       |    doc_id % 32 + 32, doc_id % 24 + 32
       |  FROM documents WHERE doc_id % 3 = 0 AND doc_id < 30)""".stripMargin

  /** aHash replay over an `imgs(id, vid, orig, w, h)` CTE: the synthetic
    * raster pixels (SplitMix64 in exact HUGEINT; plant rows perturb every
    * 37th raster index with their own seed), 8×8 point-sample grid,
    * integer gray mean threshold, signed-domain 64-bit hash — ending in
    * CTE `ah(id, ahash BIGINT)`. Shared by p116 and the streaming image
    * index (p117). */
  private val sqlAHashCtes: String = {
    import OracleHash._
    s"""grid AS (
       |  SELECT id, vid, orig,
       |    gy.i * 8 + gx.i AS bit_i,
       |    ((gy.i * h) // 8) * w + ((gx.i * w) // 8) AS idx
       |  FROM imgs
       |  CROSS JOIN (SELECT unnest(range(8)) AS i) gx
       |  CROSS JOIN (SELECT unnest(range(8)) AS i) gy),
       |seeds AS (
       |  SELECT id, bit_i,
       |    (CAST(CASE WHEN orig IS NULL OR idx % 37 = 0 THEN vid
       |               ELSE orig END AS HUGEINT) * 7919 + idx) AS z
       |  FROM grid),
       |mixed AS (SELECT id, bit_i, ${mix("z")} % 16777216 AS p FROM seeds),
       |grays AS (SELECT id, bit_i,
       |    p // 65536 + (p // 256) % 256 + p % 256 AS gray FROM mixed),
       |tots AS (SELECT id, SUM(gray) AS tot FROM grays GROUP BY id),
       |ahu AS (
       |  SELECT g.id,
       |    COALESCE(SUM(CASE WHEN 64 * g.gray > t.tot
       |      THEN (1::HUGEINT << CAST(g.bit_i AS INT)) ELSE 0::HUGEINT END),
       |      0::HUGEINT) AS u
       |  FROM grays g JOIN tots t ON g.id = t.id
       |  GROUP BY g.id),
       |ah AS (SELECT id, ${signed64("u")} AS ahash FROM ahu)""".stripMargin
  }

  val p116Sql: String =
    sqlHammingPairs(s"$sqlImageVariantsCte,\n$sqlAHashCtes", "ah")

  /** Every pair of `rel(id, ahash)` (the end of `hashCtes`) within
    * Hamming 6, with both hashes. Shared by p116 and p124. */
  private def sqlHammingPairs(hashCtes: String, rel: String): String =
    s"""WITH $hashCtes
       |SELECT a.id AS id_a, b.id AS id_b,
       |  CAST(bit_count(xor(a.ahash, b.ahash)) AS INT) AS hamming,
       |  a.ahash AS ahash_a, b.ahash AS ahash_b
       |FROM $rel a JOIN $rel b ON a.id < b.id
       |WHERE bit_count(xor(a.ahash, b.ahash)) <= 6
       |ORDER BY id_a, id_b""".stripMargin

  // =========================================================================
  // p117 — STREAMING image-hash index: the MULTIMODAL member of the
  // incremental family (text NearDupStream / embedding IvfStream / image
  // this). A standing image corpus is aHashed once into a 16-byte-per-
  // image index; each image micro-batch then decodes + hashes ONLY its
  // own payloads (codec work paid once, at ingest), emits its near-dup
  // pairs — in-batch via the chunk-pair banding, cross via a broadcast
  // band probe against the standing index's plain scan union — and
  // appends its hash delta for later batches. Payloads never enter the
  // store and never shuffle. Planted +10000 pixel-perturbed variants of
  // STANDING images probe the cross arm. At Hamming ≤ 6 the 28-band
  // pigeonhole makes candidates complete, so the oracle replays the whole
  // thing from raw integers: the p116 aHash chain over originals +
  // variants, then exact Hamming pairs with the emission batch derived
  // from the deterministic split (a pair lands in the batch its LATER
  // side arrived in; standing–standing pairs never stream).
  // =========================================================================
  def p117StreamImageIndex(spark: SparkSession, dir: String): DataFrame =
    imageStream(spark, dir, 2, stripe("media_id", 2))((_, _, _) => ())

  /** A streamed `kind` fixture of the media queries (audio as integer
    * PCM): the records below 250 stand, the rest and `plants(records)`
    * arrive, both as (media_id, payload) frames. */
  private def mediaStreamFixture(spark: SparkSession, dir: String,
      kind: String)(plants: Dataset[MediaRecord] => Dataset[MediaRecord])
      : (DataFrame, DataFrame) = {
    val recs = graft.multimodal.Multimodal.fromDocuments(spark,
      Tables.documents(spark, dir), onlyKind = Some(kind), intAudio = true)
    def frame(ds: Dataset[MediaRecord]): DataFrame =
      ds.toDF().select(col("media_id"), col("payload"))
    (frame(recs.filter(_.media_id < 250)),
      frame(recs.filter(_.media_id >= 250)).unionAll(frame(plants(recs))))
  }

  /** Byte-identical re-ingests (+10000) of the records below 30. */
  private def mediaCopies(recs: Dataset[MediaRecord]): Dataset[MediaRecord] = {
    import recs.sparkSession.implicits._
    recs.filter(_.media_id < 30).map(r => r.copy(media_id = r.media_id + 10000))
  }

  /** Retracts the standing records below 30, the plants' originals,
    * before batch 1's probe (p137, p138). */
  private def takedownPlantOriginals(spark: SparkSession)(r: StreamRun,
      standing: DataFrame, id: Long): Unit =
    if (id == 1L)
      graft.streaming.Versions.tombstoneFrom(spark, r("idx"),
        standing.filter(col("media_id") < 30).select("media_id"), id)

  /** p117's stream: batch `batchOf` of `batches`, with the +10000
    * pixel-perturbed variants of images below 30 as the plants. */
  private def imageStream(spark: SparkSession, dir: String, batches: Int,
      batchOf: Column)(verbs: (StreamRun, DataFrame, Long) => Unit)
      : DataFrame = {
    val (standing, incoming) = mediaStreamFixture(spark, dir, "image")(recs =>
      graft.multimodal.Multimodal.plantImageVariants(
        recs.filter(_.media_id < 30)))
    percepStream(spark, standing, incoming, batches, batchOf)(verbs)
  }

  /** A streamed perceptual-hash index (AHashStream with `hasher`) over
    * (`standing`, `incoming`); `verbs(r, standing, id)` runs before batch
    * `id`'s probe (the takedown and revive of p137/p144). */
  private def percepStream(spark: SparkSession, standing: DataFrame,
      incoming: DataFrame, batches: Int, batchOf: Column,
      hasher: (DataFrame, String, String) => DataFrame =
        graft.multimodal.Multimodal.aHash64Bytes)(
      verbs: (StreamRun, DataFrame, Long) => Unit): DataFrame = {
    import graft.streaming.AHashStream
    val r = new StreamRun(spark)
    r.run(incoming, batchOf, 0 until batches)(() => AHashStream.writeStanding(
        spark, r("idx"), standing, hasher = hasher)) { (b, id) =>
      verbs(r, standing, id)
      AHashStream.filterBatch(spark, r("idx"), r("out"), "media_id",
        "payload", hasher = hasher)(b, id)
    }
    r.out.select(col("id_a"), col("id_b"), col("hamming"), col("batch"))
      .orderBy("id_a", "id_b")
  }

  /** A streamed media id's batch: -1 (standing) below 250, else id mod 2. */
  private val sqlMediaBatch =
    "CASE WHEN id < 250 THEN -1 ELSE CAST(id % 2 AS INT) END"

  /** A streamed fixture row's batch, planted rows flagged by `vnt`: -1
    * (standing) for an original below 250, else id mod 2. */
  private val sqlMediaArrival =
    "CASE WHEN vnt = 0 AND id < 250 THEN -1 ELSE CAST(id % 2 AS INT) END"

  /** The oracle of a streamed perceptual-hash index: `hashCtes` end in
    * `rel(id, ahash)`; every Hamming ≤ 6 pair emits in the batch its later
    * side arrived in (`batchOf`), unless `cut` drops it. */
  private def sqlHammingStream(hashCtes: String, rel: String,
      batchOf: String = sqlMediaBatch, cut: String = ""): String =
    s"""WITH $hashCtes,
       |asg AS (SELECT id, ahash, $batchOf AS b FROM $rel)
       |SELECT a.id AS id_a, b2.id AS id_b,
       |  CAST(bit_count(xor(a.ahash, b2.ahash)) AS INT) AS hamming,
       |  CAST(greatest(a.b, b2.b) AS BIGINT) AS batch
       |FROM asg a JOIN asg b2 ON a.id < b2.id
       |WHERE bit_count(xor(a.ahash, b2.ahash)) <= 6
       |  AND greatest(a.b, b2.b) >= 0
       |  $cut
       |ORDER BY id_a, id_b""".stripMargin

  val p117Sql: String =
    sqlHammingStream(s"$sqlImageVariantsCte,\n$sqlAHashCtes", "ah")

  // =========================================================================
  // p118 — VIDEO frame-profile dedup: the video sibling of p116, closing
  // the multimodal codec-loop story (image p116, image-stream p117, video
  // here; audio stays rows-only honestly — its synthesis runs through
  // libm sin, which no cross-engine replay can pin). Every video's
  // frames are REAL PNGs inside the fixed-block container; the engine
  // strides them out (sampleFrames), decodes each frame, and aHashes it
  // with the p116 kernel, then folds a per-video profile: frame count,
  // DISTINCT frame-hash count (the static/low-motion signal a training
  // pipeline filters on — and drift wraparound makes some frames repeat
  // organically), and a video fingerprint (fingerprint64 over the
  // frame-hash sequence in frame order). Exact-duplicate videos collapse
  // by fingerprint (canonical = min id; planted +10000 byte-identical
  // re-ingests probe it). The oracle replays EVERYTHING from integers:
  // per-frame drift (SplitMix64), the gradient rasters, the 8×8 aHash,
  // the FNV-1a+mix fingerprint over the comma-joined hash sequence — so
  // a green row again proves the frame codec loop lossless, this time
  // through the container.
  // =========================================================================
  def p118VideoFrameProfile(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.multimodal.Multimodal
    import spark.implicits._
    val vids = Multimodal.fromDocuments(spark, Tables.documents(spark, dir),
      onlyKind = Some("video"))
    // byte-identical re-ingests under new ids — the exact-dup plant
    val plants = vids.filter(_.media_id < 30)
      .map(r => r.copy(media_id = r.media_id + 10000))
    val fh = Multimodal.frameAHash64(
      Multimodal.sampleFrames(vids.union(plants), stride = 1))
    fh.groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_frames"),
        countDistinct(col("ahash")).as("n_distinct_frames"),
        HashFunctions.fingerprint64(concat_ws(",",
          transform(
            array_sort(collect_list(struct(col("frame_idx"), col("ahash")))),
            e => e.getField("ahash").cast("string")))).as("video_fp"))
      .withColumn("canonical_id",
        min(col("media_id")).over(Window.partitionBy(col("video_fp"))))
      .withColumn("is_dup", col("media_id") =!= col("canonical_id"))
      .select(col("media_id"), col("n_frames"), col("n_distinct_frames"),
        col("video_fp"), col("canonical_id"), col("is_dup"))
      .orderBy("media_id")
  }

  /** The video fixture set as a `vids(id, seed, w, h, nf)` CTE: every
    * video doc (doc_id % 3 = 2) plus the +10000 byte-identical
    * re-ingests of the first 30 ids — shared by p118 and the streaming
    * video index (p123). */
  private val sqlVideoVidsCte: String =
    s"""vids AS (
       |  SELECT doc_id AS id, doc_id AS seed, doc_id % 32 + 32 AS w,
       |    doc_id % 24 + 32 AS h, doc_id % 6 + 2 AS nf
       |  FROM documents WHERE doc_id % 3 = 2
       |  UNION ALL
       |  SELECT doc_id + 10000, doc_id, doc_id % 32 + 32,
       |    doc_id % 24 + 32, doc_id % 6 + 2
       |  FROM documents WHERE doc_id % 3 = 2 AND doc_id < 30)""".stripMargin

  /** The p118 per-frame drift → raster → aHash → ordered-sequence
    * fingerprint replay over a `vids(id, seed, w, h, nf)` CTE, ending in
    * CTE `vf(id, n_frames, n_distinct_frames, video_fp)`. Shared by p118
    * and p123. */
  private val sqlVideoFpCtes: String = {
    import OracleHash._
    s"""fr AS (SELECT id, seed, w, h, CAST(u.f AS INT) AS f
       |       FROM vids CROSS JOIN unnest(range(nf)) AS u(f)),
       |dz AS (SELECT id, f, w, h, CAST(seed AS HUGEINT) * 97 + f AS z
       |       FROM fr),
       |dm AS (SELECT id, f, w, h,
       |    CAST(((${mix("z")} % 256) + f * 20) % 256 AS BIGINT) AS drift
       |  FROM dz),
       |vgrid AS (SELECT id, f, drift, w, h,
       |    gy.i * 8 + gx.i AS bit_i,
       |    (gx.i * w) // 8 AS x, (gy.i * h) // 8 AS y
       |  FROM dm
       |  CROSS JOIN (SELECT unnest(range(8)) AS i) gx
       |  CROSS JOIN (SELECT unnest(range(8)) AS i) gy),
       |vgrays AS (SELECT id, f, bit_i,
       |    ((x * 255) // w + drift) % 256 + ((y * 255) // h) % 256
       |      + (drift + 64) % 256 AS gray
       |  FROM vgrid),
       |vtots AS (SELECT id, f, SUM(gray) AS tot FROM vgrays GROUP BY id, f),
       |vahu AS (
       |  SELECT g.id, g.f,
       |    COALESCE(SUM(CASE WHEN 64 * g.gray > t.tot
       |      THEN (1::HUGEINT << CAST(g.bit_i AS INT)) ELSE 0::HUGEINT END),
       |      0::HUGEINT) AS u
       |  FROM vgrays g JOIN vtots t ON g.id = t.id AND g.f = t.f
       |  GROUP BY g.id, g.f),
       |vah AS (SELECT id, f, ${signed64("u")} AS ahash FROM vahu),
       |vs AS (SELECT id, COUNT(*) AS n_frames,
       |    COUNT(DISTINCT ahash) AS n_distinct_frames,
       |    string_agg(CAST(ahash AS VARCHAR), ',' ORDER BY f) AS s
       |  FROM vah GROUP BY id),
       |vhh AS (SELECT id, n_frames, n_distinct_frames, ${fnv1a("s")} AS hh
       |        FROM vs),
       |vf AS (SELECT id, n_frames, n_distinct_frames,
       |    ${signed64(mix("hh"))} AS video_fp
       |  FROM vhh)""".stripMargin
  }

  val p118Sql: String =
    s"""WITH $sqlVideoVidsCte,
       |$sqlVideoFpCtes
       |SELECT id AS media_id, CAST(n_frames AS BIGINT) AS n_frames,
       |  CAST(n_distinct_frames AS BIGINT) AS n_distinct_frames, video_fp,
       |  MIN(id) OVER (PARTITION BY video_fp) AS canonical_id,
       |  id != MIN(id) OVER (PARTITION BY video_fp) AS is_dup
       |FROM vf
       |ORDER BY media_id""".stripMargin

  // =========================================================================
  // p119 — AUDIO codec-loop oracle: the THIRD modality's oracle-hash row,
  // closing the multimodal codec-loop matrix (image p116, video p118,
  // audio here — r11 VERDICT missing #1). The sine fixture's libm `sin`
  // made audio rows-only; this query synthesizes clips with
  // MediaCodec.syntheticWavInt — sawtooth + square in PURE INTEGER
  // arithmetic (periods/amplitudes = seed-derived mix residues) — wraps
  // them in genuine RIFF/WAV containers, plants byte-identical re-ingests
  // (+10000, the p118 exact-dup probe), then runs the REAL decode
  // (AudioSystem parses the container; frame count from the file) and
  // folds each clip to an integer profile: n_samples, zero crossings,
  // sum |s|, and fingerprint64 over the comma-joined sample values in
  // sample order (the p118 fingerprint chain). DuckDB re-derives every
  // sample from (seed, i) alone — WAV PCM16 being lossless, a green row
  // proves the audio encode → decode loop bit-exact. At 100 TB: decode +
  // fold is scan-shaped (payloads never shuffle; 32 bytes per clip
  // continue), dedup is the p118 fingerprint-window shape.
  // =========================================================================
  def p119AudioFingerprint(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.multimodal.Multimodal
    import spark.implicits._
    val clips = Multimodal.fromDocuments(spark, Tables.documents(spark, dir),
      onlyKind = Some("audio"), intAudio = true)
    // byte-identical re-ingests under new ids — the exact-dup plant
    val plants = clips.filter(_.media_id < 30)
      .map(r => r.copy(media_id = r.media_id + 10000))
    Multimodal.audioProfile(clips.union(plants))
      .withColumn("canonical_id",
        min(col("media_id")).over(Window.partitionBy(col("audio_fp"))))
      .withColumn("is_dup", col("media_id") =!= col("canonical_id"))
      .select(col("media_id"), col("n_samples"), col("zero_crossings"),
        col("sum_abs"), col("audio_fp"), col("canonical_id"), col("is_dup"))
      .orderBy("media_id")
  }

  /** The audio fixture set as a `clips(id, seed, ms)` CTE: every audio
    * doc (doc_id % 3 = 1) plus the +10000 byte-identical re-ingests of
    * the first 30 ids — shared by p119 and the streaming audio index
    * (p122). */
  private val sqlAudioClipsCte: String =
    s"""clips AS (
       |  SELECT doc_id AS id, doc_id AS seed, doc_id % 200 + 50 AS ms,
       |    0 AS vnt
       |  FROM documents WHERE doc_id % 3 = 1
       |  UNION ALL
       |  SELECT doc_id + 10000, doc_id, doc_id % 200 + 50, 1
       |  FROM documents WHERE doc_id % 3 = 1 AND doc_id < 30)""".stripMargin

  /** The p119 integer-PCM replay over a `clips(id, seed, ms)` CTE —
    * params → samples → per-clip fold — ending in CTE
    * `afp(id, n_samples, zero_crossings, sum_abs, audio_fp)`. Shared by
    * p119 and p122. */
  /** The integer-PCM waveform replay over a `clips(id, seed, ms)` CTE —
    * params → per-sample values — ending in CTE `smp(id, n, i, s)`.
    * Shared by the fingerprint chain ([[sqlAudioFpCtes]]) and the p124
    * perceptual-hash chain (which perturbs these samples first).
    * `nExpr` parameterizes the per-clip sample count (default: derived
    * from `ms` — the p119/p122/p124/p126 fixture; p130's clipped plants
    * carry an explicit window-aligned `n` instead). */
  private def sqlAudioSampleCtesFrom(nExpr: String): String = {
    import OracleHash._
    s"""az AS (SELECT id, vnt, $nExpr AS n,
       |    CAST(seed AS HUGEINT) AS z1,
       |    CAST(seed AS HUGEINT) * 31 + 7 AS z2,
       |    CAST(seed AS HUGEINT) * 17 + 3 AS z3,
       |    CAST(seed AS HUGEINT) * 13 + 11 AS z4
       |  FROM clips),
       |ap AS (SELECT id, vnt, n,
       |    CAST(32 + ${mix("z1")} % 96 AS BIGINT) AS p1,
       |    CAST(6144 + ${mix("z2")} % 12288 AS BIGINT) AS a1,
       |    CAST(16 + ${mix("z3")} % 48 AS BIGINT) AS p2,
       |    CAST(2048 + ${mix("z4")} % 4096 AS BIGINT) AS a2
       |  FROM az),
       |smp AS (SELECT id, vnt, n, CAST(u.i AS BIGINT) AS i,
       |    (a1 - (2 * a1 * (CAST(u.i AS BIGINT) % p1)) // p1)
       |      + (CASE WHEN 2 * (CAST(u.i AS BIGINT) % p2) < p2
       |         THEN a2 ELSE -a2 END) AS s
       |  FROM ap CROSS JOIN unnest(range(n)) AS u(i))""".stripMargin
  }

  private val sqlAudioSampleCtes: String =
    sqlAudioSampleCtesFrom("(8000 * ms) // 1000")

  /** The p119 per-clip fingerprint FOLD over a sample relation
    * `$src(id, i, s)` — factored from [[sqlAudioFpCtes]] so the media
    * ingest capstone (p128) folds the PERTURBED sample relation (its
    * wobbled plants) instead of the raw one. Ends in CTE
    * `afp(id, n_samples, zero_crossings, sum_abs, audio_fp)`. */
  private def sqlAudioFpFoldCtes(src: String): String = {
    import OracleHash._
    s"""smp2 AS (SELECT id, i, s,
       |    LAG(s) OVER (PARTITION BY id ORDER BY i) AS ps FROM $src),
       |aagg AS (SELECT id, COUNT(*) AS n_samples,
       |    COALESCE(SUM(CASE WHEN ps IS NOT NULL
       |      AND ((s >= 0) != (ps >= 0)) THEN 1 ELSE 0 END), 0)
       |      AS zero_crossings,
       |    SUM(ABS(s)) AS sum_abs,
       |    string_agg(CAST(s AS VARCHAR), ',' ORDER BY i) AS str
       |  FROM smp2 GROUP BY id),
       |ahh AS (SELECT id, n_samples, zero_crossings, sum_abs,
       |    ${fnv1a("str")} AS hh FROM aagg),
       |afp AS (SELECT id, n_samples, zero_crossings, sum_abs,
       |    ${signed64(mix("hh"))} AS audio_fp FROM ahh)""".stripMargin
  }

  private val sqlAudioFpCtes: String =
    s"$sqlAudioSampleCtes,\n${sqlAudioFpFoldCtes("smp")}"

  val p119Sql: String =
    s"""WITH $sqlAudioClipsCte,
       |$sqlAudioFpCtes
       |SELECT id AS media_id, CAST(n_samples AS BIGINT) AS n_samples,
       |  CAST(zero_crossings AS BIGINT) AS zero_crossings,
       |  CAST(sum_abs AS BIGINT) AS sum_abs, audio_fp,
       |  MIN(id) OVER (PARTITION BY audio_fp) AS canonical_id,
       |  id != MIN(id) OVER (PARTITION BY audio_fp) AS is_dup
       |FROM afp
       |ORDER BY media_id""".stripMargin

  // =========================================================================
  // p120 — QUANTILE-STORE REBUILD/SWAP lifecycle under the oracle (r11
  // VERDICT missing #2a): the p115 provenance pattern applied to the
  // order-statistics store. Phase 1: bounds frozen from the standing
  // corpus, two streamed batches bin under them, each emitting its
  // boundsDrift profile — the n_below/n_above mass the frozen bounds
  // clamp is the rebuild signal. Rebuild: QuantileStream.rebuildStore
  // re-derives bounds over the CURRENT corpus at doubled bins into NEW
  // roots (the old roots are never touched — readers swap; a count store
  // retains only bin counts, so re-binning scans the source corpus once,
  // the documented cost). Post-swap: a fresh stream (new lineage,
  // batches 0..1) appends under the rebuilt bounds. The result carries
  // the live estimates from the REBUILT store, the exact percentiles,
  // and both phases' drift totals — the trigger evidence and the
  // post-swap health, all replayed by the oracle from raw data
  // (sqlQuantileReplayCtes parameterized over the rebuilt bounds).
  // =========================================================================
  def p120QuantileRebuild(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.QuantileStream
    import graft.operators.Profiling
    val docs = Tables.documents(spark, dir)
    val r = new StreamRun(spark)
    r.run(docs.filter(col("doc_id") >= 250 && col("doc_id") < 375)
        .select(col("doc_id"), col("n_chars")), stripe("doc_id", 2),
      0 until 2)(() => QuantileStream.writeStanding(spark, r("bounds1"),
        r("counts1"), docs.filter(col("doc_id") < 250), "n_chars", 128))(
      QuantileStream.advanceBatch(spark, r("bounds1"), r("counts1"),
        r("prof1"), "n_chars"))
    // the rebuild signal: clamped mass under the OLD bounds
    val drift1 = r.batches("prof1")
      .agg(coalesce(sum(col("n_below")), lit(0L)).as("old_below"),
        coalesce(sum(col("n_above")), lit(0L)).as("old_above"))
    // rebuild: bounds re-derived over the CURRENT corpus, bins doubled,
    // NEW roots — one corpus scan (the store retains only bin counts)
    QuantileStream.rebuildStore(spark,
      docs.filter(col("doc_id") < 375).select(col("doc_id"), col("n_chars")),
      r("bounds2"), r("counts2"), "n_chars", 256)
    // post-swap: a fresh stream (new lineage) appends under the rebuilt
    // bounds — direct callback calls ARE its batches 0..1 (p115's shape)
    (0 until 2).foreach { b =>
      QuantileStream.advanceBatch(spark, r("bounds2"), r("counts2"),
        r("prof2"), "n_chars")(docs.filter(col("doc_id") >= 375 &&
          pmod(col("doc_id"), lit(2)) === b)
        .select(col("doc_id"), col("n_chars")), b.toLong)
    }
    val drift2 = r.batches("prof2")
      .agg(coalesce(sum(col("n_below")), lit(0L)).as("new_below"),
        coalesce(sum(col("n_above")), lit(0L)).as("new_above"))
    val est = QuantileStream.quantilesAt(spark, r("bounds2"), r("counts2"),
      Seq(0.5, 0.9, 0.99))
    val exact = Profiling.histogramQuantiles(docs, "n_chars", 256,
      Seq(0.5, 0.9, 0.99), exact = true).select(col("q"), col("p_exact"))
    est.join(exact, Seq("q"))
      .crossJoin(broadcast(drift1)).crossJoin(broadcast(drift2))
      .select(col("q"), col("n"), col("est"), col("p_exact"),
        (col("est") - col("p_exact")).as("err"),
        col("old_below"), col("old_above"),
        col("new_below"), col("new_above"))
      .orderBy("q")
  }

  val p120Sql: String =
    s"""WITH ${sqlQuantileReplayCtes(256, "doc_id < 375")},
       |mm1 AS (SELECT MIN(x) AS mn, MAX(x) AS mx
       |        FROM (SELECT CAST(n_chars AS DOUBLE) AS x FROM documents
       |              WHERE doc_id < 250 AND n_chars IS NOT NULL)),
       |${sqlDriftCte("drift1", "old_", "doc_id >= 250 AND doc_id < 375", "mm1")},
       |${sqlDriftCte("drift2", "new_", "doc_id >= 375", "mm")}
       |SELECT est.q, est.n, est.est, ex.p_exact,
       |  est.est - ex.p_exact AS err,
       |  drift1.old_below, drift1.old_above,
       |  drift2.new_below, drift2.new_above
       |FROM est JOIN ex USING (q)
       |CROSS JOIN drift1 CROSS JOIN drift2 ORDER BY q""".stripMargin

  // =========================================================================
  // p121 — BLOOM-STORE REBUILD/SWAP lifecycle under the oracle (r11
  // VERDICT missing #2b): the saturated-blocklist remedy, end to end.
  // Phase 1: the standing blocklist bloom is DELIBERATELY undersized
  // (m = 1024 bits) and two streamed batches append set-bit deltas —
  // thousands of grams into 4×1024 bits saturate the rows (the
  // bloomFillAt signal; its integer numerator, the folded distinct
  // set-bit count, rides into the result as the trigger evidence).
  // Rebuild: SketchStream.rebuildBloomStore re-hashes the RETAINED
  // blocklist key relation (set bits cannot be re-addressed to a new m —
  // the keys are the authority) at m = 65536 into a NEW root; old root
  // untouched, readers swap. Post-swap: a fresh stream (new lineage,
  // batches 0..1) appends the remaining blocklist arrivals under the new
  // m. The probe a decontamination pass runs — scan-local literal-mask
  // prefilter + exact verify — then reads the REBUILT store; the oracle
  // replays both stores' exact HUGEINT bit relations (the p112 chain at
  // each m) plus the candidate counts under the rebuilt store, so false
  // positives of the new m must match bit-for-bit, not just verdicts.
  // =========================================================================
  def p121BloomRebuild(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.SketchStream
    val docs = Tables.documents(spark, dir)
    val bench = docs.filter(col("source") === "src0")
    val slot = pmod(col("doc_id"), lit(8))
    val mOld = 1 << 10; val mNew = 1 << 16
    val r = new StreamRun(spark)
    r.run(bench.filter(slot.isin(4, 5)).select(col("doc_id"), col("text")),
      stripe("doc_id", 2), 0 until 2)(() => SketchStream.writeStandingBloom(
        spark, r("bloom1"), gram5(bench.filter(slot < 4)), "gram", 4, mOld)) {
      (b, id) => SketchStream.advanceBatchBloom(spark, r("bloom1"), "gram", 4,
        mOld)(gram5(b), id)
    }
    // saturation evidence: the folded old store's distinct set-bit count
    // (the integer numerator of bloomFillAt — ≤ 4×1024 at this m)
    val oldBits = SketchStream.readBloomBits(spark, r("bloom1"))
      .agg(count(lit(1)).as("old_set_bits"))
    // rebuild: re-hash the retained key relation at the larger m into a
    // NEW root (keys are the authority; bits don't re-address)
    SketchStream.rebuildBloomStore(spark, r("bloom2"),
      gram5(bench.filter(slot < 6)), "gram", 4, mNew)
    // post-swap: a fresh stream's batches 0..1 append under the new m
    (0 until 2).foreach(b =>
      SketchStream.advanceBatchBloom(spark, r("bloom2"), "gram", 4, mNew)(
        gram5(bench.filter(slot === 6 + b)), b.toLong))
    val newBits = SketchStream.readBloomBits(spark, r("bloom2"))
      .agg(count(lit(1)).as("new_set_bits"))
    // the decontamination probe against the REBUILT store
    val corpusGrams = gram5(docs.filter(col("source") =!= "src0"))
    sharedGrams(SketchStream.prefilterAt(spark, r("bloom2"), corpusGrams,
        "gram", 4, mNew), gram5(bench).select(col("gram")).distinct())
      .crossJoin(broadcast(oldBits)).crossJoin(broadcast(newBits))
      .select(col("doc_id"), col("n_candidate_grams"),
        col("n_shared_grams"), col("old_set_bits"), col("new_set_bits"))
      .orderBy("doc_id")
  }

  val p121Sql: String =
    s"""WITH sh AS (
       |  SELECT doc_id, source, ${sqlGram5List("toks")} AS sh
       |  FROM (SELECT doc_id, source, $sqlToks AS toks FROM documents)),
       |bgr AS (SELECT doc_id, unnest(sh) AS gram FROM sh
       |        WHERE source = 'src0'),
       |okeys AS (SELECT DISTINCT gram FROM bgr WHERE doc_id % 8 < 6),
       |${sqlBloomBitsCtes("o", "okeys", 1024)},
       |osb AS (SELECT CAST(COUNT(*) AS BIGINT) AS old_set_bits FROM obits),
       |nkeys AS (SELECT DISTINCT gram FROM bgr),
       |${sqlBloomBitsCtes("n", "nkeys", 65536)},
       |nsb AS (SELECT CAST(COUNT(*) AS BIGINT) AS new_set_bits FROM nbits),
       |corpus AS (SELECT doc_id, unnest(sh) AS gram FROM sh
       |           WHERE source != 'src0'),
       |ns AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_grams
       |       FROM corpus JOIN nkeys USING (gram)
       |       GROUP BY doc_id HAVING COUNT(*) >= 3),
       |${sqlBloomCandCtes("nbits", 65536)}
       |SELECT ns.doc_id, nc.n_candidate_grams, ns.n_shared_grams,
       |  osb.old_set_bits, nsb.new_set_bits
       |FROM ns JOIN nc USING (doc_id)
       |CROSS JOIN osb CROSS JOIN nsb
       |ORDER BY doc_id""".stripMargin

  // =========================================================================
  // p122 — STREAMING audio-fingerprint index: the AUDIO member of the
  // incremental family, completing the per-modality matrix (text
  // NearDupStream / embedding IvfStream / image AHashStream / audio
  // here / video p123). A standing clip corpus is fingerprinted once
  // into a 16-byte-per-clip index (the p119 integer fold — codec work
  // paid at ingest); each audio micro-batch then decodes ONLY its own
  // payloads, emits its EXACT-duplicate pairs — in-batch via a
  // fingerprint self-group, cross via a broadcast probe against the
  // standing index's plain scan union (the re-crawl/re-ingest dedup a
  // media lake runs) — and appends its fp delta for later batches.
  // Payloads never enter the store and never shuffle. Planted +10000
  // byte-identical re-ingests of STANDING clips probe the cross arm.
  // The oracle replays every fingerprint from the integer-PCM formula
  // (the shared p119 chain) and derives each pair's emission batch from
  // the deterministic split (a pair lands in the batch its LATER side
  // arrived in; standing–standing pairs never stream).
  // =========================================================================
  def p122StreamAudioIndex(spark: SparkSession, dir: String): DataFrame =
    mediaFpStream(spark, dir, "audio", df => graft.multimodal.Multimodal
      .audioFpBytes(df, "media_id", "payload"))((_, _, _) => ())

  /** p122's stream over the `kind` records with `profiler` as the
    * fingerprint fold and [[mediaCopies]] as the plants; `verbs(r,
    * standing, id)` runs before batch `id`'s probe (p138). */
  private def mediaFpStream(spark: SparkSession, dir: String, kind: String,
      profiler: DataFrame => DataFrame)(
      verbs: (StreamRun, DataFrame, Long) => Unit): DataFrame = {
    import graft.streaming.MediaFpStream
    val (standing, incoming) =
      mediaStreamFixture(spark, dir, kind)(mediaCopies)
    val r = new StreamRun(spark)
    r.run(incoming, stripe("media_id", 2), 0 until 2)(
      () => MediaFpStream.writeStanding(spark, r("idx"), standing,
        profiler)) { (b, id) =>
      verbs(r, standing, id)
      MediaFpStream.filterBatch(spark, r("idx"), r("out"), profiler)(b, id)
    }
    r.out.select(col("id_a"), col("id_b"), col("batch"))
      .orderBy("id_a", "id_b")
  }

  /** The oracle of a streamed exact-fingerprint index: `fpCtes` end in
    * `rel(id, fp)`; equal fingerprints pair in the batch their later side
    * arrived in, unless `cut` drops the pair. */
  private def sqlFpStream(fpCtes: String, rel: String, fp: String,
      cut: String = ""): String =
    s"""WITH $fpCtes,
       |fasg AS (SELECT id, $fp AS fp, $sqlMediaBatch AS b FROM $rel)
       |SELECT a.id AS id_a, b2.id AS id_b,
       |  CAST(greatest(a.b, b2.b) AS BIGINT) AS batch
       |FROM fasg a JOIN fasg b2 ON a.id < b2.id AND a.fp = b2.fp
       |WHERE greatest(a.b, b2.b) >= 0
       |  $cut
       |ORDER BY id_a, id_b""".stripMargin

  val p122Sql: String =
    sqlFpStream(s"$sqlAudioClipsCte,\n$sqlAudioFpCtes", "afp", "audio_fp")

  // =========================================================================
  // p123 — STREAMING video-fingerprint index: the VIDEO member closing
  // the per-modality incremental matrix. Same shape as p122 with the
  // p118 content fingerprint as the fold: each batch strides its own
  // containers, decodes every frame through the REAL PNG codec, aHashes
  // with the shared kernel, and folds the ordered hash sequence to
  // fingerprint64 — 16 bytes per video at ANY duration; a byte-identical
  // re-crawled video collapses onto its standing original in the batch
  // it re-arrives. The oracle replays the fingerprints through the p118
  // chain (drift → rasters → aHash → FNV-1a+mix over the sequence) —
  // the codec loop proven lossless per frame, per container, per batch.
  // =========================================================================
  def p123StreamVideoIndex(spark: SparkSession, dir: String): DataFrame =
    mediaFpStream(spark, dir, "video", df => graft.multimodal.Multimodal
      .videoFpBytes(df, "media_id", "payload"))((_, _, _) => ())

  val p123Sql: String =
    sqlFpStream(s"$sqlVideoVidsCte,\n$sqlVideoFpCtes", "vf", "video_fp")

  // =========================================================================
  // p124 — AUDIO windowed-amplitude near-dup: the perceptual-hash matrix
  // closed on sound (image aHash p116 ↔ audio here). The hash is the
  // aHash idea for PCM: 64 contiguous windows (sample i → ⌊i·64/n⌋),
  // bit w set iff window w's |amplitude| mean exceeds the clip mean,
  // compared cross-multiplied in exact integers. Plants decode the REAL
  // WAV, wobble every 37th sample by a variant-seeded ±1024 (2.7% of
  // samples, ~4% of amplitude), and re-encode through the REAL codec —
  // so their hashes land within a few bits of the originals and the
  // pairs surface through the SAME chunk-pair banding as p09/p116
  // (Hamming ≤ 6, inside the 28-band pigeonhole ⇒ candidates complete,
  // uncapped like the image path). DuckDB replays waveform → wobble →
  // windows → hash from integers; a green row proves the codec loop
  // once more, through the perceptual hash this time. At 100 TB:
  // decode + hash scan-shaped (payloads never shuffle, 16 bytes/clip
  // continue), banded join the p09 shape.
  // =========================================================================
  def p124AudioNearDup(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    val clips = Multimodal.fromDocuments(spark, Tables.documents(spark, dir),
      onlyKind = Some("audio"), intAudio = true)
    val plants = Multimodal.plantAudioVariants(clips.filter(_.media_id < 30))
    val hashed = Multimodal.audioAHash64(clips.union(plants))
      .localCheckpoint(true)
    hammingPairsWithHashes(hashed)
  }

  val p124Sql: String = sqlHammingPairs(
    s"$sqlAudioClipsCte,\n$sqlAudioSampleCtes,\n${sqlAudioPercepCtes(1)}",
    "aah")

  /** The windowed-amplitude audio hash over the `smp` samples, the clips
    * flagged `vnt` wobbled first (every 37th sample by a seeded ±1024):
    * CTEs `pz/pert/psmp` (the perturbed samples) through `aah(id, ahash)`.
    * Shared by p124, p126 and p128. */
  private def sqlAudioPercepCtes(vnt: Int): String = {
    import OracleHash._
    s"""pz AS (SELECT id, n, i, s, CAST(id AS HUGEINT) * 131 + i AS z
       |       FROM smp WHERE vnt = $vnt AND i % 37 = 0),
       |pert AS (SELECT id, n, i,
       |    s + CAST(${mix("z")} % 2048 AS BIGINT) - 1024 AS s FROM pz),
       |psmp AS (SELECT id, n, i, s FROM smp
       |         WHERE NOT (vnt = $vnt AND i % 37 = 0)
       |         UNION ALL SELECT id, n, i, s FROM pert),
       |wsum AS (SELECT id, (i * 64) // n AS w,
       |         SUM(ABS(s)) AS sw, COUNT(*) AS nw
       |         FROM psmp GROUP BY id, (i * 64) // n),
       |wtot AS (SELECT id, SUM(sw) AS tot, SUM(nw) AS nn
       |         FROM wsum GROUP BY id),
       |wahu AS (SELECT s.id,
       |    COALESCE(SUM(CASE WHEN s.sw * t.nn > t.tot * s.nw
       |      THEN (1::HUGEINT << CAST(s.w AS INT)) ELSE 0::HUGEINT END),
       |      0::HUGEINT) AS u
       |  FROM wsum s JOIN wtot t ON s.id = t.id
       |  GROUP BY s.id),
       |aah AS (SELECT id, ${signed64("u")} AS ahash FROM wahu)""".stripMargin
  }

  // =========================================================================
  // p125 — VIDEO frame-set containment near-dup: the CLIPPED-RE-UPLOAD
  // detector — the near-dup the exact fingerprint (p118/p123) cannot see,
  // because dropping one frame changes the whole sequence fingerprint.
  // Every video reduces to its DISTINCT frame-aHash set (the shared p118
  // kernel; 8 bytes per distinct frame), and the audited exact
  // containment machinery (p94's prefix+length+positional-filtered join,
  // reused verbatim via containmentJoinFromSets) finds directed pairs
  // with |A ∩ B| / |A| ≥ 0.9 — a clipped variant's frame set is wholly
  // contained in its original's (containment 1.0). Plants are REAL
  // clipped re-ingests: the last container block byte-sliced off under
  // +10000 (no re-encode needed — the fixed-block container makes
  // trimming a slice, exactly how a re-upload tool would cut). The
  // oracle replays frame hashes from integers (the shared p118 chain
  // with the plant rows at nf−1) and the containment arithmetic
  // relationally. At 100 TB: codec work scan-shaped as always; the join
  // inherits p94's audited posture (prefix selectivity on the
  // frame-hash vocabulary, oracle-exact at zipf1 50k docs for text —
  // same operator, same filters).
  // =========================================================================
  def p125VideoContainment(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.{MediaCodec, Multimodal}
    import spark.implicits._
    val vids = Multimodal.fromDocuments(spark, Tables.documents(spark, dir),
      onlyKind = Some("video"))
    // clipped re-ingests: last block sliced off (only videos with >= 3
    // frames, so the clip keeps >= 2)
    val plants = vids.filter(r => r.media_id < 60 && r.media_id % 6 >= 1)
      .map(r => r.copy(media_id = r.media_id + 10000,
        payload = java.util.Arrays.copyOfRange(r.payload, 0,
          r.payload.length - MediaCodec.videoBlockBytes)))
    val fh = Multimodal.frameAHash64(
      Multimodal.sampleFrames(vids.union(plants), stride = 1))
    val sets = fh.groupBy(col("media_id").as("id"))
      .agg(array_distinct(collect_list(col("ahash").cast("string")))
        .as("sh"))
      .localCheckpoint(true)
    Dedup.containmentJoinFromSets(sets, threshold = 0.9)
      .orderBy("id_a", "id_b")
  }

  /** The distinct frame-aHash set of every video of [[sqlVideoFpCtes]]. */
  private val sqlFrameSets = "(SELECT id, list_distinct(list(CAST(ahash " +
    "AS VARCHAR))) AS s FROM vah GROUP BY id)"

  val p125Sql: String =
    s"""WITH ${sqlClippedVidsCte("")},
       |$sqlVideoFpCtes,
       |${sqlOverlapCtes("v", sqlFrameSets)}
       |${sqlContainmentPairs("v", "0.9")}""".stripMargin

  /** p125's video fixture `vids(id, seed, w, h, nf$vnt)`: every video doc
    * plus the +10000 clipped re-ingests (one frame fewer) of videos below
    * 60 with at least 3 frames; `vnt` (when non-empty) names the flag
    * column, 1 on the clips. */
  private def sqlClippedVidsCte(vnt: String): String = {
    val (v0, v1) = if (vnt.isEmpty) ("", "") else (s", 0 AS $vnt", ", 1")
    s"""vids AS (
       |  SELECT doc_id AS id, doc_id AS seed, doc_id % 32 + 32 AS w,
       |    doc_id % 24 + 32 AS h, doc_id % 6 + 2 AS nf$v0
       |  FROM documents WHERE doc_id % 3 = 2
       |  UNION ALL
       |  SELECT doc_id + 10000, doc_id, doc_id % 32 + 32,
       |    doc_id % 24 + 32, doc_id % 6 + 1$v1
       |  FROM documents
       |  WHERE doc_id % 3 = 2 AND doc_id < 60 AND doc_id % 6 >= 1)""".stripMargin
  }

  /** Directed set overlap over `sets(id, s)`: CTEs `${p}na(id, n)`,
    * `${p}ex(id, g)` and `${p}ov(id_a, id_b, i)`, the exploded equi-join
    * (complete for any positive containment threshold). */
  private def sqlOverlapCtes(p: String, sets: String): String =
    s"""${p}na AS (SELECT id, len(s) AS n FROM $sets),
       |${p}ex AS (SELECT id, unnest(s) AS g FROM $sets),
       |${p}ov AS (SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS i
       |  FROM ${p}ex a JOIN ${p}ex b ON a.g = b.g AND a.id != b.id
       |  GROUP BY a.id, b.id)""".stripMargin

  /** Every directed pair of [[sqlOverlapCtes]] `p` with containment at
    * least `theta`. */
  private def sqlContainmentPairs(p: String, theta: String): String =
    s"""SELECT id_a, id_b, i / ${p}na.n AS containment
       |FROM ${p}ov JOIN ${p}na ON ${p}ov.id_a = ${p}na.id
       |WHERE i / ${p}na.n >= $theta
       |ORDER BY id_a, id_b""".stripMargin

  /** The streamed form of [[sqlContainmentPairs]]: `asg(id, b, del)` gives
    * each id's arrival batch (-1 standing) and takedown flag; a pair
    * emits in its probe side's batch when its contained side arrived no
    * later and, past `delFrom`, is not taken down. */
  private def sqlContainmentEmit(p: String, asg: String, theta: String,
      delFrom: Option[Int] = None): String =
    s"""SELECT id_a, id_b, i / ${p}na.n AS containment,
       |  CAST(aa.b AS BIGINT) AS batch
       |FROM ${p}ov JOIN ${p}na ON ${p}ov.id_a = ${p}na.id
       |JOIN $asg aa ON ${p}ov.id_a = aa.id
       |JOIN $asg bb ON ${p}ov.id_b = bb.id
       |WHERE i / ${p}na.n >= $theta AND aa.b >= 0 AND bb.b <= aa.b
       |  ${delFrom.fold("")(d => s"AND NOT (aa.b >= $d AND bb.del = 1)")}"""
      .stripMargin

  // =========================================================================
  // p126 — STREAMING audio perceptual-hash index: p117's shape with the
  // p124 windowed-amplitude hash as the kernel — AHashStream's banding,
  // pigeonhole guarantee and store shape are hash-AGNOSTIC over 64-bit
  // perceptual hashes, so the audio sibling is the same machinery with a
  // different (id, payload) → (media_id, ahash) profiler. A standing
  // clip corpus is hashed once (16 bytes/clip); each audio micro-batch
  // decodes ONLY its own payloads, emits Hamming-≤6 near-dup pairs
  // (in-batch banding + broadcast cross probe against the standing
  // index's plain scan union), and appends its hash delta. Planted
  // WOBBLED variants of standing clips (the p124 plant — perceptually
  // near, not byte-identical, so the exact-fp index p122 canNOT see
  // them) probe the cross arm. The oracle replays hashes from integers
  // (the p124 chain) and exact Hamming pairs with the emission batch
  // from the deterministic split.
  // =========================================================================
  def p126StreamAudioNearDup(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    val (standing, incoming) = mediaStreamFixture(spark, dir, "audio")(recs =>
      Multimodal.plantAudioVariants(recs.filter(_.media_id < 30)))
    percepStream(spark, standing, incoming, 2, stripe("media_id", 2),
      Multimodal.audioAHash64Bytes)((_, _, _) => ())
  }

  val p126Sql: String = sqlHammingStream(
    s"$sqlAudioClipsCte,\n$sqlAudioSampleCtes,\n${sqlAudioPercepCtes(1)}",
    "aah")

  // =========================================================================
  // p127 — STREAMING video frame-set containment index: p125's
  // clipped-re-upload detector as an incremental foreachBatch store — the
  // one near-dup family that had no streaming member on any modality
  // (exact-fp p122/p123, perceptual p117/p126, MinHash p79, passages p75
  // all have theirs). A standing video corpus is reduced ONCE to its
  // distinct frame-aHash sets (ContainmentStream store: exploded
  // (id, n, g) rows, 8 bytes per distinct frame); each video micro-batch
  // then decodes ONLY its own payloads and probes the standing relation
  // through the audited containment machinery
  // (Dedup.containmentIncrementalFromSets — prefix completeness holds
  // under the corpus df order), emitting every DIRECTED pair
  // (a ∈ batch, b arrived no later) with |A∩B|/|A| ≥ 0.9, then appends
  // its set delta. Plants are REAL clipped re-ingests of standing videos
  // (last container block byte-sliced off, +10000) arriving THROUGH the
  // stream — the cross-arm probe: a trimmed re-upload is caught in the
  // batch it re-arrives, exactly the at-ingest detection a media lake
  // needs (detect at ingest or pay a full-corpus join later). The oracle
  // replays frame hashes from integers (the shared p118 chain with plant
  // rows at nf−1 and an explicit vnt flag — never id-magnitude), the
  // containment arithmetic relationally, and each pair's emission batch
  // from the deterministic split (a pair surfaces in its PROBE side's
  // batch; the contained side must have arrived no later).
  // =========================================================================
  def p127StreamVideoContainment(spark: SparkSession, dir: String)
      : DataFrame = {
    import graft.multimodal.{MediaCodec, Multimodal}
    import spark.implicits._
    // clipped re-ingests of STANDING videos (>= 3 frames so the clip
    // keeps >= 2) — the p125 plant, arriving through the stream
    val (standing, incoming) = mediaStreamFixture(spark, dir, "video")(
      _.filter(r => r.media_id < 60 && r.media_id % 6 >= 1)
        .map(r => r.copy(media_id = r.media_id + 10000,
          payload = java.util.Arrays.copyOfRange(r.payload, 0,
            r.payload.length - MediaCodec.videoBlockBytes))))
    containmentStream(spark, standing, incoming, "media_id", 0.9,
      df => Multimodal.videoFrameSetBytes(df, "media_id", "payload"))(
      (_, _) => ())
  }

  /** A streamed containment index (ContainmentStream, `setsOf` profiling
    * a frame) over (`standing`, `incoming`), batch `id mod 2`;
    * `verbs(r, id)` runs before batch `id`'s probe (p134's takedown). */
  private def containmentStream(spark: SparkSession, standing: DataFrame,
      incoming: DataFrame, id: String, theta: Double,
      setsOf: DataFrame => DataFrame)(verbs: (StreamRun, Long) => Unit)
      : DataFrame = {
    import graft.streaming.ContainmentStream
    val r = new StreamRun(spark)
    r.run(incoming, stripe(id, 2), 0 until 2)(() =>
      ContainmentStream.writeStanding(spark, r("idx"), standing, setsOf)) {
      (b, bid) =>
        verbs(r, bid)
        ContainmentStream.filterBatch(spark, r("idx"), r("out"), setsOf,
          threshold = theta)(b, bid)
    }
    r.out.select(col("id_a"), col("id_b"), col("containment"), col("batch"))
      .orderBy("id_a", "id_b")
  }

  val p127Sql: String =
    s"""WITH ${sqlClippedVidsCte("vnt")},
       |$sqlVideoFpCtes,
       |${sqlOverlapCtes("v", sqlFrameSets)},
       |vasg AS (SELECT id, $sqlMediaArrival AS b, 0 AS del FROM vids)
       |${sqlContainmentEmit("v", "vasg", "0.9")}
       |ORDER BY id_a, id_b""".stripMargin

  // =========================================================================
  // p128 — MULTIMODAL INGEST CAPSTONE: the media deploy shape — p114's
  // composed-foreachBatch pattern over AUDIO, with all three media
  // near-dup families' verdicts in ONE callback: exact-fp (p122's
  // re-crawl dedup), perceptual (p126's wobbled-variant detection), and
  // clip-within-clip containment (p130's kernel as a ContainmentStream)
  // — one COMBINED verdict delta per batch. Per batch the cost is the
  // batch: each family's own filterBatch decodes the batch's payloads,
  // probes its standing store (fp scan-union broadcast probe, banded
  // hash probe, containment prefix probe — every standing relation
  // exchange-free), appends its delta, and RETURNS the pair frame
  // (materializePairs — no parquet read-back); the verdict flags the
  // INGEST side of each pair (p114's rule: the batch side of a cross
  // pair, the greater id in-batch). Plants exercise all three families
  // through the stream: byte-identical re-ingests (+10000 — exact),
  // wobbled re-encodes (+20000 — perceptual, invisible to exact-fp),
  // tail-truncated excerpts (+40000 — containment, invisible to both).
  // The oracle recomposes the three families' replay chains over ONE
  // shared perturbed-sample relation (integer-PCM samples, the wobble
  // branch, the fp fold, the whole-clip window hash, the fixed-window
  // containment sets) with explicit vnt flags, and derives every verdict
  // bit from raw integers. Crash consistency across the SEVEN per-batch
  // writes (3 × pairs+delta, then the verdict) is spec-gated — the p114
  // treatment applied to the media stores.
  // =========================================================================
  /** The p128 media-capstone `foreachBatch` body, extracted so the
    * crash-consistency spec can drive it directly. Seven stores land per
    * batch: the three families' pairs+delta writes (overlapped — the
    * families are independent stores probing one checkpointed PCM frame,
    * guide §2.6), then the combined verdict. Every write is
    * batch-id-named deterministic overwrite, so redelivery after a crash
    * leaving ANY completion subset converges byte-identically. */
  def mediaCapstoneBatch(spark: SparkSession, fpRoot: String,
      ahRoot: String, ctRoot: String, fpOut: String, ahOut: String,
      ctOut: String, outRoot: String)(b: DataFrame, id: Long): Unit = {
    import graft.multimodal.Multimodal
    import graft.streaming.{AHashStream, ContainmentStream, MediaFpStream}
    // stage 0 — the re-ingest guard at the pipeline's front door
    // (VERDICT r16 next #4): a batch carrying a media id any of the
    // three derived stores still holds dead refuses loud
    graft.streaming.Takedown.guardReingest(spark,
      Seq(fpRoot, ahRoot, ctRoot), b.select(col("media_id")))
    // decode the batch's payloads ONCE — the three families' profiles all
    // derive from the same checkpointed PCM frame (VERDICT r13 wrong #1:
    // each family's own profiler re-ran AudioSystem over the same batch,
    // paying the dominant per-batch cost three times). The profiler
    // closures ignore their frame argument: each filterBatch passes the
    // same `b` this callback received, so deriving from `bs` is
    // result-identical.
    val bs = Multimodal.audioSamples(b, "media_id", "payload")
      .localCheckpoint(true)
    // the three families are INDEPENDENT stores probing the same
    // checkpointed PCM frame — overlap their filterBatch bodies
    // (guide §2.6): the trigger pays the slowest family's wall, not the
    // sum of three probe+write chains
    val famPairs = graft.core.Par.eval(Seq[() => DataFrame](
      () => MediaFpStream.filterBatch(spark, fpRoot, fpOut,
        _ => Multimodal.audioFpFromSamples(bs),
        materializePairs = true)(b, id),
      () => AHashStream.filterBatch(spark, ahRoot, ahOut,
        "media_id", "payload",
        hasher = (_, _, _) => Multimodal.audioAHash64FromSamples(bs),
        materializePairs = true)(b, id),
      () => ContainmentStream.filterBatch(spark, ctRoot, ctOut,
        _ => Multimodal.audioWindowHashSetsFromSamples(bs),
        threshold = 0.9, materializePairs = true)(b, id)))
    val fpPairs = famPairs(0)
    val ahPairs = famPairs(1)
    val ctPairs = famPairs(2)
    // containment pairs are DIRECTED with the probe side a ∈ batch by
    // construction
    val x = ingestSide(fpPairs, b, "media_id").withColumn("__x", lit(true))
    val p = ingestSide(ahPairs, b, "media_id").withColumn("__p", lit(true))
    val c = ctPairs.select(col("id_a").as("media_id")).distinct()
      .withColumn("__c", lit(true))
    b.select(col("media_id"))
      .join(x, Seq("media_id"), "left")
      .join(p, Seq("media_id"), "left")
      .join(c, Seq("media_id"), "left")
      .select(col("media_id"),
        coalesce(col("__x"), lit(false)).as("exact_dup"),
        coalesce(col("__p"), lit(false)).as("percep_dup"),
        coalesce(col("__c"), lit(false)).as("contained"))
      .withColumn("keep", !col("exact_dup") && !col("percep_dup") &&
        !col("contained"))
      .withColumn("batch", graft.functions.SteadyLit.steadyLong(id))
      .write.mode("overwrite").parquet(s"$outRoot/b$id")
  }

  def p128MediaIngestCapstone(spark: SparkSession, dir: String)
      : DataFrame = {
    import graft.multimodal.Multimodal
    import graft.streaming.{AHashStream, ContainmentStream, MediaFpStream}
    val (standing0, incoming) = mediaStreamFixture(spark, dir, "audio")(recs =>
      mediaCopies(recs)
        .union(Multimodal.plantAudioVariants(recs.filter(_.media_id < 30),
          idOffset = 20000L))
        .union(Multimodal.plantAudioClips(
          recs.filter(r => r.media_id < 60 && r.media_id % 200 >= 14),
          idOffset = 40000L)))
    val standing = standing0.localCheckpoint(true)
    // one decode for the three standing stores too (the per-batch
    // decode-once treatment applied to setup)
    val ssamples = Multimodal.audioSamples(standing, "media_id", "payload")
      .localCheckpoint(true)
    val r = new StreamRun(spark)
    // the three standing stores derive from the one checkpointed decode
    // and write to independent roots, overlapped with the staging
    r.run(incoming, stripe("media_id", 2), 0 until 2)(
      () => MediaFpStream.writeStanding(spark, r("fpidx"), standing,
        _ => Multimodal.audioFpFromSamples(ssamples)),
      () => AHashStream.writeStanding(spark, r("ahidx"), standing,
        hasher = (_, _, _) => Multimodal.audioAHash64FromSamples(ssamples)),
      () => ContainmentStream.writeStanding(spark, r("ctidx"), standing,
        _ => Multimodal.audioWindowHashSetsFromSamples(ssamples)))(
      mediaCapstoneBatch(spark, r("fpidx"), r("ahidx"), r("ctidx"),
        r("fpout"), r("ahout"), r("ctout"), r("out")))
    r.out.select(col("media_id"), col("batch"), col("exact_dup"),
        col("percep_dup"), col("contained"), col("keep"))
      .orderBy("media_id")
  }

  val p128Sql: String = {
    // the ingest side of each undirected `rel` pair meeting `cond`: the
    // later arrival, the greater id within one batch
    def flag(t: String, rel: String, cond: String): String =
      s"""${t}p AS (SELECT a.id AS id_a, b2.id AS id_b, ba.b AS b_a, bb.b AS b_b
         |  FROM $rel a JOIN $rel b2 ON a.id < b2.id AND $cond
         |  JOIN basg ba ON a.id = ba.id JOIN basg bb ON b2.id = bb.id
         |  WHERE greatest(ba.b, bb.b) >= 0),
         |${t}flag AS (SELECT DISTINCT CASE WHEN b_b = greatest(b_a, b_b)
         |    THEN id_b ELSE id_a END AS id FROM ${t}p)""".stripMargin
    s"""WITH clips AS (
       |  SELECT doc_id AS id, doc_id AS seed,
       |    (8000 * (doc_id % 200 + 50)) // 1000 AS n, 0 AS vnt
       |  FROM documents WHERE doc_id % 3 = 1
       |  UNION ALL
       |  SELECT doc_id + 10000, doc_id,
       |    (8000 * (doc_id % 200 + 50)) // 1000, 1
       |  FROM documents WHERE doc_id % 3 = 1 AND doc_id < 30
       |  UNION ALL
       |  SELECT doc_id + 20000, doc_id,
       |    (8000 * (doc_id % 200 + 50)) // 1000, 2
       |  FROM documents WHERE doc_id % 3 = 1 AND doc_id < 30
       |  UNION ALL
       |  SELECT doc_id + 40000, doc_id,
       |    (((8000 * (doc_id % 200 + 50)) // 1000) // 256 - 1) * 256, 3
       |  FROM documents
       |  WHERE doc_id % 3 = 1 AND doc_id < 60 AND doc_id % 200 >= 14),
       |${sqlAudioSampleCtesFrom("n")},
       |${sqlAudioPercepCtes(2)},
       |${sqlAudioFpFoldCtes("psmp")},
       |${sqlAudioWindowSetCtes("psmp")},
       |basg AS (SELECT id, $sqlMediaArrival AS b FROM clips),
       |${flag("x", "afp", "a.audio_fp = b2.audio_fp")},
       |${flag("p", "aah", "bit_count(xor(a.ahash, b2.ahash)) <= 6")},
       |${sqlOverlapCtes("w", "wsets")},
       |cflag AS (SELECT DISTINCT id_a AS id
       |  FROM (${sqlContainmentEmit("w", "basg", "0.9")}))
       |SELECT c.id AS media_id, CAST(ba.b AS BIGINT) AS batch,
       |  xflag.id IS NOT NULL AS exact_dup,
       |  pflag.id IS NOT NULL AS percep_dup,
       |  cflag.id IS NOT NULL AS contained,
       |  xflag.id IS NULL AND pflag.id IS NULL AND cflag.id IS NULL AS keep
       |FROM clips c JOIN basg ba ON c.id = ba.id
       |LEFT JOIN xflag ON c.id = xflag.id
       |LEFT JOIN pflag ON c.id = pflag.id
       |LEFT JOIN cflag ON c.id = cflag.id
       |WHERE ba.b >= 0
       |ORDER BY media_id""".stripMargin
  }

  /** The fixed-window audio hash sets over samples `src`: a 64-bit hash
    * per whole 256-sample window (one bit per 4-sample block louder than
    * the window mean), ending in CTE `wsets(id, s)`. Shared by p128 and
    * p130. */
  private def sqlAudioWindowSetCtes(src: String): String = {
    import OracleHash._
    s"""wfx AS (SELECT id, i // 256 AS w, (i % 256) // 4 AS sb, s
       |        FROM $src WHERE i < (n // 256) * 256),
       |sbs AS (SELECT id, w, sb, SUM(ABS(s)) AS ss
       |        FROM wfx GROUP BY id, w, sb),
       |swt AS (SELECT id, w, SUM(ss) AS tot FROM sbs GROUP BY id, w),
       |swu AS (SELECT s.id, s.w,
       |    COALESCE(SUM(CASE WHEN s.ss * 64 > t.tot
       |      THEN (1::HUGEINT << CAST(s.sb AS INT)) ELSE 0::HUGEINT END),
       |      0::HUGEINT) AS u
       |  FROM sbs s JOIN swt t ON s.id = t.id AND s.w = t.w
       |  GROUP BY s.id, s.w),
       |swh AS (SELECT id, ${signed64("u")} AS wh FROM swu),
       |wsets AS (SELECT id, list_distinct(list(CAST(wh AS VARCHAR))) AS s
       |          FROM swh GROUP BY id)""".stripMargin
  }

  // =========================================================================
  // p129 — PQ CODEBOOK rebuild/swap lifecycle under the oracle: the last
  // versioned model without a drift → retrain → swap story (IVF banks
  // p115, quantile bounds p120, bloom m p121 — PQ codebooks were frozen
  // driver artifacts with no drift signal). Phase 1: codebooks trained
  // on the STANDING corpus (m=16, nCodes=6), two streamed batches encode
  // under them, each emitting its quantization-error profile — the
  // decimal-staged sum of every vector's sequential squared-L2 to its
  // codeword reconstruction, the signal that frozen books stopped
  // fitting the arrivals. Rebuild: PqStream.rebuild retrains over the
  // CURRENT corpus at higher resolution (nCodes=8) into NEW roots (the
  // codes store is LOSSY by design — retraining reads the lake; both
  // targets live-root-refused), re-encodes once. Post-swap: a fresh
  // stream appends under the rebuilt books (the (fp, n) identity pin
  // verifying book2 against codes2/_params on the way). The oracle
  // replays BOTH codebook generations (pqBankCtes parameterized over
  // prefix/source — the p120/p121 two-generation pattern), the final
  // codes of every vector under gen 2 with per-row provenance (src 0 =
  // rebuilt standing, 1 = post-swap delta), and all three drift sums
  // from raw vectors. At 100 TB: per-batch cost is one batch-sized
  // encode scan; codebooks are model-sized at any corpus (nCodes is a
  // quantization resolution, not a corpus fraction — SCALING.md).
  // =========================================================================
  def p129PqRebuild(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.PqStream
    val emb = Tables.embeddings(spark, dir)
    val standing = emb.filter(col("vec_id") < 300)
    val r = new StreamRun(spark)
    r.run(emb.filter(col("vec_id") >= 300 && col("vec_id") < 400)
        .select(col("vec_id"), col("embedding")), stripe("vec_id", 2),
      0 until 2)(() => PqStream.writeStanding(spark, r("book1"), r("codes1"),
        standing, Similarity.pqTrain(standing, m = 16, nCodes = 6)))(
      PqStream.appendBatch(spark, r("book1"), r("codes1"), r("out1"), "vec_id",
        "embedding"))
    // the drift signal says the gen-1 books stopped fitting — retrain
    // over the CURRENT corpus at higher resolution into NEW roots
    PqStream.rebuild(spark, emb.filter(col("vec_id") < 400), r("book2"),
      r("codes2"), m = 16, nCodes = 8)
    // post-swap: a NEW stream (fresh lineage) appends under the rebuilt
    // codebooks — one foreachBatch body call IS the stream's batch 0
    PqStream.appendBatch(spark, r("book2"), r("codes2"), r("out2"),
      "vec_id", "embedding")(emb.filter(col("vec_id") >= 400), 0L)
    val drifts = r.batches("out1")
      .agg(max(when(col("batch") === 0, col("err_sum"))).as("drift_b0"),
        max(when(col("batch") === 1, col("err_sum"))).as("drift_b1"))
      .crossJoin(spark.read.parquet(r("out2/b0"))
        .select(col("err_sum").as("drift_post")))
    graft.streaming.Versions.list(spark, r("codes2"))
      .map { case (vid, p) =>
        spark.read.parquet(p.toString)
          .select(col("neighbor_id").as("vec_id"), posexplode(col("codes")))
          .select(col("vec_id"), col("pos").cast("int").as("j"),
            col("col").cast("int").as("code"),
            lit(vid).cast("int").as("src"))
      }
      .reduce(_ unionAll _)
      .crossJoin(broadcast(drifts))
      .orderBy("vec_id", "j")
  }

  val p129Sql: String = {
    import OracleHash._
    val (g1Ctes, bank1) = pqBankCtes(m = 16, nCodes = 6, subDim = 4,
      iters = 2)
    val (g2Ctes, bank2) = pqBankCtes(m = 16, nCodes = 8, subDim = 4,
      iters = 2, prefix = "r", src = "emb2")
    // phase k's vectors (`where`) encoded under `bank`, reconstructed, and
    // their sequential squared error `e$k(id, se)`: the drift signal
    def encodeErr(k: Int, where: String, enc: String, bank: String): String =
      s"""ph$k AS (SELECT id, v FROM allv WHERE $where),
         |${pqAssignCte(enc, bank, 4, src = s"ph$k")},
         |rv$k AS (SELECT e.id, flatten(list(b.cv ORDER BY e.j)) AS rv
         |  FROM $enc e JOIN $bank b ON e.j = b.j AND e.code = b.code
         |  GROUP BY e.id),
         |e$k AS (SELECT p.id, ${seqSqDist("p.v", "r.rv")} AS se
         |  FROM ph$k p JOIN rv$k r ON p.id = r.id)""".stripMargin
    s"""WITH emb AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
       |  FROM embeddings WHERE vec_id < 300),
       |$g1Ctes,
       |emb2 AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
       |  FROM embeddings WHERE vec_id < 400),
       |$g2Ctes,
       |allv AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
       |  FROM embeddings),
       |${pqAssignCte("enc2", bank2, 4, src = "allv")},
       |${encodeErr(1, "id >= 300 AND id < 400", "enc1", bank1)},
       |d1 AS (SELECT CAST(id % 2 AS INT) AS b,
       |    ${decimalToDouble(s"SUM(${decimalStage("se")})")} AS err
       |  FROM e1 GROUP BY 1),
       |${encodeErr(2, "id >= 400", "enc3", bank2)},
       |d2 AS (SELECT ${decimalToDouble(s"SUM(${decimalStage("se")})")}
       |    AS drift_post FROM e2),
       |dd AS (SELECT
       |    MAX(CASE WHEN b = 0 THEN err END) AS drift_b0,
       |    MAX(CASE WHEN b = 1 THEN err END) AS drift_b1
       |  FROM d1)
       |SELECT enc2.id AS vec_id, CAST(enc2.j AS INT) AS j,
       |  CAST(enc2.code AS INT) AS code,
       |  CAST(CASE WHEN enc2.id < 400 THEN 0 ELSE 1 END AS INT) AS src,
       |  dd.drift_b0, dd.drift_b1, d2.drift_post
       |FROM enc2 CROSS JOIN dd CROSS JOIN d2
       |ORDER BY vec_id, j""".stripMargin
  }

  // =========================================================================
  // p130 — AUDIO clip-within-clip containment: the p125 relation on sound,
  // closing the last per-modality hole in the containment family (a clip
  // excerpted from a longer recording was invisible to all three audio
  // detectors: the exact fingerprint changes with length, the whole-clip
  // perceptual hash re-normalizes its 64 relative windows, and nothing
  // did containment). Every clip reduces to its DISTINCT fixed-window
  // hash set (Multimodal.audioWindowHashSets — the p124 amplitude-pattern
  // kernel applied WITHIN each full 256-sample window, 8 bytes per
  // distinct window), and the audited exact containment machinery
  // (containmentJoinFromSets — p94's prefix+length+positional filters,
  // reused verbatim) finds directed pairs with |A∩B|/|A| ≥ 0.9. Plants
  // are REAL tail-truncated re-encodes (Multimodal.plantAudioClips: the
  // last full window dropped at a window boundary, re-encoded through
  // the REAL codec — WAV PCM16 lossless, so every surviving window hash
  // is bit-identical and containment is exactly 1.0). The oracle replays
  // waveform → fixed windows → per-window hash → relational containment
  // from integers — plant rows carry an EXPLICIT window-aligned n and a
  // vnt flag (never id-magnitude). At 100 TB: decode + hash scan-shaped
  // (payloads never shuffle; ~8 bytes per distinct window continue),
  // the join inherits p94's audited posture.
  // =========================================================================
  def p130AudioContainment(spark: SparkSession, dir: String): DataFrame = {
    import graft.multimodal.Multimodal
    import spark.implicits._
    val clips = Multimodal.fromDocuments(spark, Tables.documents(spark, dir),
      onlyKind = Some("audio"), intAudio = true)
    // tail-truncated excerpts of clips with >= 2 full windows
    // (ms >= 64 ⇔ n >= 512 at 8 kHz; ms = id % 200 + 50)
    val plants = Multimodal.plantAudioClips(
      clips.filter(r => r.media_id < 60 && r.media_id % 200 >= 14))
    val sets = Multimodal.audioWindowHashSets(
        clips.union(plants).toDF().select(col("media_id"), col("payload")),
        "media_id", "payload")
      .localCheckpoint(true)
    Dedup.containmentJoinFromSets(sets, threshold = 0.9)
      .orderBy("id_a", "id_b")
  }

  val p130Sql: String =
    s"""WITH clips AS (
       |  SELECT doc_id AS id, doc_id AS seed,
       |    (8000 * (doc_id % 200 + 50)) // 1000 AS n, 0 AS vnt
       |  FROM documents WHERE doc_id % 3 = 1
       |  UNION ALL
       |  SELECT doc_id + 10000, doc_id,
       |    (((8000 * (doc_id % 200 + 50)) // 1000) // 256 - 1) * 256, 1
       |  FROM documents
       |  WHERE doc_id % 3 = 1 AND doc_id < 60 AND doc_id % 200 >= 14),
       |${sqlAudioSampleCtesFrom("n")},
       |${sqlAudioWindowSetCtes("smp")},
       |${sqlOverlapCtes("w", "wsets")}
       |${sqlContainmentPairs("w", "0.9")}""".stripMargin

  // =========================================================================
  // p131 — STREAMING text containment index: ContainmentStream's TEXT
  // instantiation (video p127, audio-in-capstone p128, text here — the
  // containment family's streaming coverage closed on every modality).
  // The store is the generic exploded (id, n, g) set relation with token
  // 3-shingles as elements (jaccardShingleSets IS the setsOf profiler —
  // zero new operator code); each document micro-batch probes the
  // standing corpus for directed excerpt/quote/subset pairs at the p96
  // threshold (0.6) and appends its shingle-set delta. Planted 12-token
  // excerpts of STANDING docs (+100000 — an offset outside every
  // corpus's id range; the oracle discriminates by vnt regardless)
  // arrive through the stream and are caught in their own batch with
  // containment exactly 1.0. The oracle is p96's exploded equi-join
  // replay plus the family's emission-batch rule.
  // =========================================================================
  def p131StreamTextContainment(spark: SparkSession, dir: String)
      : DataFrame = textContainmentStream(spark, dir)((_, _) => ())

  /** p131's stream: standing docs below 400, arriving the rest plus
    * 12-token excerpts (+100000) of docs below 5; `verbs(r, id)` runs
    * before batch `id`'s probe (p134's takedown). */
  private def textContainmentStream(spark: SparkSession, dir: String)(
      verbs: (StreamRun, Long) => Unit): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val planted = docs.filter(col("doc_id") < 5)
      .select((col("doc_id") + 100000).as("doc_id"),
        array_join(slice(TF.tokens(col("text")), 1, 12), " ").as("text"))
    containmentStream(spark, docs.filter(col("doc_id") < 400),
      docs.filter(col("doc_id") >= 400).unionAll(planted), "doc_id", 0.6,
      df => Dedup.jaccardShingleSets(df, "doc_id", "text"))(verbs)
  }

  /** The text containment replay over `docs(id, text, vnt)`: shingle sets
    * `${p}ne(id, vnt, s)`, [[sqlOverlapCtes]] `p`, and `${p}asg(id, b, del)`
    * — originals below `standing` stand (b = -1), the rest arrive in
    * batch id mod 2, and `del` flags the retracted originals. */
  private def sqlTextContainmentCtes(p: String, docs: String, standing: Int,
      del: String = "FALSE"): String =
    s"""${p}ne AS (SELECT id, vnt, s FROM (SELECT id, vnt,
       |    ${sqlShingle3List("toks")} AS s
       |  FROM (SELECT id, vnt, $sqlToks AS toks FROM $docs)) WHERE len(s) > 0),
       |${sqlOverlapCtes(p, s"${p}ne")},
       |${p}asg AS (SELECT id,
       |    CASE WHEN vnt = 0 AND id < $standing THEN -1
       |         ELSE CAST(id % 2 AS INT) END AS b,
       |    CASE WHEN vnt = 0 AND id < $standing AND $del THEN 1 ELSE 0 END
       |      AS del
       |  FROM ${p}ne)""".stripMargin

  /** p131's oracle; `dead` (p134) names the originals retracted before
    * batch 1's probe. */
  private def sqlTextContainmentStream(dead: Option[String]): String =
    s"""WITH tk0 AS (SELECT doc_id, $sqlToks AS toks FROM documents),
       |alld AS (SELECT doc_id AS id, text, 0 AS vnt FROM documents
       |  UNION ALL SELECT doc_id + 100000,
       |    array_to_string(toks[1:12], ' '), 1 FROM tk0 WHERE doc_id < 5),
       |${sqlTextContainmentCtes("", "alld", 400, dead.getOrElse("FALSE"))}
       |${sqlContainmentEmit("", "asg", "0.6", dead.map(_ => 1))}
       |ORDER BY id_a, id_b""".stripMargin

  val p131Sql: String = sqlTextContainmentStream(None)

  // =========================================================================
  // p132 — TAKEDOWN through the streaming near-dup filter (VERDICT r13 #1,
  // the missing corpus-maintenance verb): p79's fixture with a MID-STREAM
  // tombstone. Batch 0 probes the full standing corpus; before batch 1's
  // probe, standing docs 0-9 are retracted from BOTH stores
  // (NearDupStream.tombstone — a driver-resolved dead-id mask over the band
  // index and the docs store), so the +10000 byte-identical plants of
  // those docs arriving in batches 1 and 2 find NOTHING to pair with,
  // while the batch-0 plant's jaccard-1.0 pair (emitted before the
  // takedown) stands — emission history is never retracted, the STORE
  // stops returning the deleted docs. The oracle replays p79's minhash/
  // band/cap/verify chain with the deleted ids excluded from the PRIOR
  // side of arms 1-2 only (before the bucket-occupancy cap counts,
  // mirroring where the engine's mask sits). Incoming is bounded to
  // [250, 2250) so the DuckDB minhash replay stays spot-gate-feasible at
  // the zipf1 corpus; the deletion semantics are id-set-driven and
  // unaffected by the bound.
  // =========================================================================
  def p132TombstoneNearDup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val incoming = docs
      .filter(col("doc_id") >= 250 && col("doc_id") < 2250)
      .unionAll(docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + 10000).as("doc_id"), col("text")))
      .unionAll(docs.filter(col("doc_id").between(250, 254))
        .select((col("doc_id") + 20000).as("doc_id"), col("text")))
    nearDupStream(spark, docs.filter(col("doc_id") < 250), incoming,
      stripe("doc_id", 3)) {
      (r, id) =>
        // the takedown lands before batch 1's probe: docs 0-9 (standing —
        // strictly earlier than the marker's batch, per the tombstone
        // contract) disappear from both stores from here on; a
        // redelivered batch 1 re-issues the marker deterministically
        if (id == 1L)
          graft.streaming.NearDupStream.tombstone(spark, r("idx"), r("docs"),
            0L until 10L, id)
    }
  }

  // the literal takedown set (standing originals 0-9): every other id in
  // the prior unions is >= 250 or offset by +10000/+20000, so the
  // predicate names exactly the Spark side's literal marker ids at any
  // corpus scale
  val p132Sql: String = sqlNearDupStream(
    sqlTextStreamCtes("doc_id >= 250 AND doc_id < 2250",
      Seq(sqlPlantArm(10000, "doc_id < 10"),
        sqlPlantArm(20000, "doc_id BETWEEN 250 AND 254"))),
    b => if (b >= 1) Some("id < 10") else None)

  // =========================================================================
  // p133 — TAKEDOWN through the streaming BM25 index: the retraction must
  // propagate past the posting rows into the SCORING STATISTICS — a
  // deleted doc leaves n_docs, total_dl (so every idf and every length
  // normalization shifts) and the per-term df counts. The engine masks
  // postings by the driver-resolved dead ids and retracts each deleted doc's
  // exact (1, dl) from the stats fold via the doclen relation
  // (RetrievalStream.tombstone); the oracle simply runs the UNCHANGED
  // sqlBm25 chain over `documents` minus the deleted set — a green hash
  // row therefore proves post-takedown probes score bit-identically to a
  // from-scratch index over the retained corpus. The takedown set mixes
  // standing docs (0-119) and batch-0 arrivals (even ids in [250, 290))
  // to prove deltas retract like the base does.
  //
  // The query vocabulary is DRAWN FROM THE CORPUS (r15, VERDICT r14
  // missing #4: the literal p108Terms list doesn't intersect the zipf
  // spot-gate corpora's 20k-word vocabulary, so the zipf1 row scored 0
  // rows and proved nothing): the 4 lexicographically-smallest distinct
  // tokens of RETAINED doc 251 (odd → never in the even takedown slice;
  // >= 250 → present at every corpus scale). Tokens are lowercase
  // alphanumeric on both engines, so binary string order agrees; the
  // driver pull is 4 strings — a query vocabulary is model-sized by
  // definition (the centroid-bank rule).
  // =========================================================================
  def p133TombstoneBm25(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.RetrievalStream
    val docs = Tables.documents(spark, dir)
    val qTerms = corpusTerms(docs)
    val idx = bm25Stream(spark, docs, docs.filter(col("doc_id") < 250)) {
      (idx, id) =>
        if (id == 1L)
          RetrievalStream.tombstone(spark, idx,
            (0L until 120L) ++ (250L until 290L by 2), id)
    }
    RetrievalStream.bm25TopK(spark, idx, qTerms, k = 40)
  }

  val p133Sql: String = sqlLiveBm25("133",
    """live AS (SELECT * FROM documents
      |  WHERE NOT (doc_id < 120
      |             OR (doc_id >= 250 AND doc_id < 290 AND doc_id % 2 = 0)))"""
      .stripMargin)

  // =========================================================================
  // p134 — TAKEDOWN through the streaming text containment index: p131's
  // fixture with standing docs 0-49 retracted before batch 1's probe.
  // The batch-1 plants (12-token excerpts of docs 1 and 3) then find no
  // original to be contained in — the clipped-quote detector stops
  // flagging quotes of deleted sources — while batch-0 emissions stand.
  // Deletion also changes the probe's df-order prefix (document
  // frequencies shift when 50 standing set rows vanish), which the green
  // row proves is result-invariant: prefix completeness holds under ANY
  // fixed order and the final overlap verify is exact over the masked
  // relation. Oracle = p131's exploded equi-join replay with pairs
  // (a probed at batch >= 1, b deleted) excluded — the del flag is
  // vnt-scoped, never id-magnitude.
  // =========================================================================
  def p134TombstoneContainment(spark: SparkSession, dir: String)
      : DataFrame = textContainmentStream(spark, dir) { (r, id) =>
    if (id == 1L)
      graft.streaming.ContainmentStream.tombstone(spark, r("idx"),
        0L until 50L, id)
  }

  val p134Sql: String = sqlTextContainmentStream(Some("id < 50"))

  // =========================================================================
  // p135 — TAKEDOWN through the streaming IVF vector index: the ANN member
  // of the takedown family (p132 band index, p133 postings, p134
  // containment sets — this closes the embedding modality's derived
  // index). p105's fixture with byte-identical plants: the incoming
  // stream carries +10000 copies of standing vectors 0-9, and before
  // batch 1's append those ORIGINALS are retracted from the assignment
  // index (IvfStream.tombstone — dead-id mask on read,
  // physically dropped at compaction). The post-stream probe runs the
  // plants' own embeddings through the assembled masked index via
  // IvfRelational.topKIndexed — the probe-session form over the
  // (neighbor_id, cell, v) store: NO re-assignment of the standing
  // corpus, probes broadcast, the index scan never shuffles. Each
  // plant's cosine-1.0 original must be ABSENT from its top-k: a broken
  // mask puts the deleted original at rank 1 and fails the hash. The
  // oracle replays the bank (ivfBankCtes over the standing subset),
  // assigns the RETAINED corpus (minus ids 0-9 — the mask's position),
  // shortlists each query's nProbe cells, and reranks by the exact
  // seqDot cosine — the p76/p103 chain over the post-takedown corpus.
  // Incoming is bounded to [250, 2250) so the fixture's ids never collide
  // with the +10000 plants at the sf1 spot-gate (20k original vec_ids —
  // the p132 bound; the deletion semantics are id-set-driven and
  // unaffected).
  // =========================================================================
  def p135TombstoneIvf(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.IvfStream
    val emb = Tables.embeddings(spark, dir)
    val plants = emb.filter(col("vec_id") < 10)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
    val r = new StreamRun(spark)
    r.run(emb.filter(col("vec_id") >= 250 && col("vec_id") < 2250)
        .select(col("vec_id"), col("embedding")).unionAll(plants),
      stripe("vec_id", 2), 0 until 2)(
      ivfStanding(spark, r, emb.filter(col("vec_id") < 250))) { (b, id) =>
      // originals 0-9 are standing (v0) — strictly earlier than the
      // marker's batch, per the tombstone contract; a redelivered
      // batch 1 re-issues the marker deterministically
      if (id == 1L) IvfStream.tombstone(spark, r("index"), 0L until 10L, id)
      IvfStream.appendBatch(spark, r("bank"), r("index"), r("out"), "vec_id",
        "embedding")(b, id)
    }
    ivfProbe(spark, r, plants).orderBy("query_id", "rank")
  }

  /** The top 5 of `queries` over [[ivfStanding]]'s masked index under
    * `r`, probing 4 cells of the frozen bank (p135, p139). */
  private def ivfProbe(spark: SparkSession, r: StreamRun,
      queries: DataFrame): DataFrame =
    IvfRelational.topKIndexed(queries,
      graft.streaming.IvfStream.readIndexFor(spark, r("index"), r("bank")),
      spark.read.parquet(r("bank/v0")), k = 5, nProbe = 4)

  /** [[ivfProbe]]'s oracle: the 16-cell bank replayed over the standing
    * vectors, `qs(id, v)` from `qsSql`, the retained corpus `ret(id, v)`
    * from `retSql`, and each query's top-5 rows of `ivft(query_id,
    * neighbor_id, sim, rk)` by the exact cosine over its 4 cells. */
  private def sqlIvfProbeCtes(qsSql: String, retSql: String): String = {
    import OracleHash._
    val (bankCtes, bank) = ivfBankCtes(nCells = 16, iters = 3, stride = 15)
    s"""emb AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
       |  FROM embeddings WHERE vec_id < 250),
       |$bankCtes,
       |qs AS ($qsSql),
       |ret AS ($retSql),
       |${nearestCellCte("qa0", bank, keep = 4, source = "qs")},
       |qa AS (SELECT id AS query_id, cell FROM qa0),
       |${nearestCellCte("ca0", bank, keep = 1, source = "ret")},
       |ca AS (SELECT id AS neighbor_id, v AS cv, cell FROM ca0),
       |cand AS (
       |  SELECT query_id, neighbor_id, cv
       |  FROM qa JOIN ca USING (cell)
       |  WHERE query_id != neighbor_id),
       |qv AS (SELECT id AS query_id, v AS qv FROM qs),
       |sx AS (SELECT query_id, neighbor_id,
       |    ${seqDot("qv", "cv")} AS dt,
       |    sqrt(${seqDot("qv", "qv")}) AS nq,
       |    sqrt(${seqDot("cv", "cv")}) AS nc
       |  FROM cand JOIN qv USING (query_id)),
       |ivfr AS (SELECT query_id, neighbor_id,
       |    ${sqlCosine("dt", "nq", "nc")} AS sim FROM sx),
       |ivft AS (SELECT query_id, neighbor_id, sim,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |                       ORDER BY sim DESC, neighbor_id ASC) AS rk
       |  FROM ivfr)""".stripMargin
  }

  val p135Sql: String =
    s"""WITH ${sqlIvfProbeCtes(
         "SELECT vec_id + 10000 AS id, embedding::DOUBLE[] AS v " +
           "FROM embeddings WHERE vec_id < 10",
         "SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings " +
           "WHERE vec_id >= 10 AND vec_id < 2250 UNION ALL SELECT id, v FROM qs")}
       |SELECT query_id, rk AS "rank", neighbor_id, sim FROM ivft
       |WHERE rk <= 5
       |ORDER BY query_id, "rank"""".stripMargin

  // =========================================================================
  // p136 — PREDICATE-DRIVEN takedown sweep: p133's BM25 store, but the
  // retracted id set is COMPUTED, not hand-listed — every standing doc
  // whose p03 quality score falls below 0.6 (the re-curation sweep a
  // quality-bar change triggers; GDPR/PII/licensing sweeps are the same
  // shape). The sweep is a distributed scan + filter whose result flows
  // into the marker delta WITHOUT touching the driver
  // (Versions.tombstoneFrom — the takedown-sized contract is the
  // marker's, not a collect()'s), and the retraction must propagate
  // through postings, df, n_docs and total_dl exactly as p133's literal
  // set does. The oracle re-derives the sweep from the SAME quality
  // formula (the shared sqlQualityCtes fragment — bit-identical doubles,
  // p03/p44's proof) and replays the unchanged BM25 chain over the
  // retained corpus.
  // =========================================================================
  def p136TombstoneSweep(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.RetrievalStream
    val docs = Tables.documents(spark, dir)
    val standing = docs.filter(col("doc_id") < 250)
      .select(col("doc_id"), col("text")).unionAll(qualityPlant(spark))
    val idx = bm25Stream(spark, docs, standing) { (idx, id) =>
      if (id == 1L)
        RetrievalStream.tombstoneFrom(spark, idx, lowQuality(standing), id)
    }
    // corpus-drawn query vocabulary (p133's rule — doc 251 is incoming,
    // never swept): a literal list is vacuous at the zipf spot-gates
    RetrievalStream.bm25TopK(spark, idx, corpusTerms(docs), k = 40)
  }

  /** One guaranteed sub-threshold standing doc (ADVICE r14 #2): at a scale
    * where no corpus doc organically scores < 0.6 a quality sweep would
    * be empty and tombstoneFrom's empty-set refusal would abort the
    * stream. "zq zq zq" scores 0.03·0.3 + 0.75·0.3 + 0 + 0.5·0.2 = 0.334
    * < 0.6 by construction, so the marker always holds at least the
    * plant. Oracles need no mirror: the plant is certainly deleted, so
    * the retained corpus, the only thing a probe sees, is unchanged (its
    * (1, dl) stats contribution retracts exactly via the doclen
    * relation). Offset 30000000 clears every corpus id space (the r14
    * plant-collision rule). Shared by p136 and p139. */
  private def qualityPlant(spark: SparkSession): DataFrame = spark.range(1)
    .select(lit(30000000L).as("doc_id"), lit("zq zq zq").as("text"))

  /** (id, score): `df`'s docs under the p03 quality score. */
  private def scored(df: DataFrame): DataFrame = df
    .select(col("doc_id").as("id"),
      TF.qualityScoreFromTokens(col("text"), TF.tokens(col("text")))
        .as("score"))

  /** The ids of `df`'s docs scoring below 0.6: the quality sweep. */
  private def lowQuality(df: DataFrame): DataFrame =
    scored(df).filter(col("score") < 0.6).select(col("id").as("doc_id"))

  /** The standing docs scoring below 0.6, `plus` any more ids, as CTE
    * `del$tag(doc_id)`: [[lowQuality]]'s oracle side. */
  private def sqlLowQualityCtes(tag: String, plus: String = ""): String =
    s"""t${tag}s AS (SELECT doc_id, text, $sqlToks AS toks
       |  FROM documents WHERE doc_id < 250),
       |${sqlQualityCtes(s"${tag}s", s"t${tag}s", "doc_id")},
       |del$tag AS (SELECT doc_id FROM q${tag}s WHERE quality < 0.6$plus)"""
      .stripMargin

  val p136Sql: String = sqlLiveBm25("136",
    s"""${sqlLowQualityCtes("136")},
       |live AS (SELECT d.* FROM documents d
       |  LEFT JOIN del136 x ON d.doc_id = x.doc_id
       |  WHERE x.doc_id IS NULL)""".stripMargin)

  /** The emission-batch exclusion both media takedown oracles share: a
    * pair whose emission batch is past the marker (>= 1) and whose
    * STANDING side (b = -1) is one of the retracted originals (the
    * literal id < 30 takedown set — every other fixture id is >= 250 or
    * +10000, so the predicate is id-scale-independent) must not emit;
    * batch-0 emissions and retained-side pairs stand. */
  private def sqlMediaTombstoneCut(a: String, b: String): String =
    s"AND NOT (greatest($a.b, $b.b) >= 1 AND " +
      s"(($a.b = -1 AND $a.id < 30) OR ($b.b = -1 AND $b.id < 30)))"

  // =========================================================================
  // p137 — TAKEDOWN through the streaming PERCEPTUAL image index: p117's
  // fixture with the plants' standing originals (image ids < 30)
  // retracted before batch 1's probe — issued through the RELATION form
  // (Versions.tombstoneFrom over the standing frame's filtered ids, the
  // predicate-sweep shape). Batch-0 plant pairs (even original ids)
  // stand; batch-1 plants' Hamming-0 originals are gone from the band
  // probe, as is any organic Hamming-<=6 pair against a deleted
  // standing image. Oracle = p117's aHash replay with the shared
  // emission-batch exclusion.
  // =========================================================================
  def p137TombstoneAHash(spark: SparkSession, dir: String): DataFrame =
    imageStream(spark, dir, 2, stripe("media_id", 2))(
      takedownPlantOriginals(spark))

  val p137Sql: String =
    sqlHammingStream(s"$sqlImageVariantsCte,\n$sqlAHashCtes", "ah",
      cut = sqlMediaTombstoneCut("a", "b2"))

  // =========================================================================
  // p138 — TAKEDOWN through the streaming EXACT media-fingerprint index:
  // p122's fixture with the re-ingested plants' standing originals
  // (audio ids < 30) retracted before batch 1's probe. A batch-1
  // byte-identical re-ingest of a deleted clip finds nothing to collapse
  // onto — the re-crawl dedup stops resurrecting taken-down content —
  // while batch-0 collapses stand. Completes the oracled takedown
  // matrix: every derived index family (band / postings / containment /
  // IVF / perceptual / exact-fp) now has a mid-stream retraction query
  // hash-matched against a from-scratch replay over the retained corpus.
  // =========================================================================
  def p138TombstoneMediaFp(spark: SparkSession, dir: String): DataFrame =
    // the relation form keeps the marker set to ids the store actually
    // holds (audio ids < 30 — the 0..29 range also spans image/video ids
    // this store never saw)
    mediaFpStream(spark, dir, "audio", df => graft.multimodal.Multimodal
      .audioFpBytes(df, "media_id", "payload"))(takedownPlantOriginals(spark))

  val p138Sql: String =
    sqlFpStream(s"$sqlAudioClipsCte,\n$sqlAudioFpCtes", "afp", "audio_fp",
      sqlMediaTombstoneCut("a", "b2"))

  // =========================================================================
  // p139 — CROSS-STORE TAKEDOWN CAPSTONE (VERDICT r14 next #1): ONE
  // predicate-driven sweep (quality < 0.6 over the standing corpus ∪ a
  // licensing id list 0-9), resolved EXACTLY ONCE into a journal and
  // fanned out under ONE batch id (Takedown.takedownAll) to the raw
  // corpus snapshot store AND every derived store one ingest stream
  // feeds: the near-dup band index + docs store, the BM25 postings (+
  // exact stats/doclen retraction), the containment set index, and the
  // IVF assignment index. The p114/p128 capstone treatment applied to
  // deletion: p132–p136 proved each store's verb in isolation; this
  // proves the production shape — one GDPR event, five stores, one
  // marker batch, crash-consistent (the journal + commit-flag protocol
  // is matrix-tested in TombstoneSpec).
  //
  // One stream ingests originals [250, 2250) + near-dup copy plants
  // (+10000000 of docs 0-4) + containment excerpt plants (+20000000,
  // 12-token prefixes of docs 1-3) into ALL stores per batch; the sweep
  // lands before batch 1's probes. Takedown-visible effects, one per
  // store, each non-vacuous by a plant: nd — batch-1 copies of deleted
  // docs 1/3 pair with nothing while batch-0 copies' jaccard-1.0 pairs
  // stand; ct — batch-1 excerpts of deleted sources 1/3 stop flagging
  // while the batch-0 excerpt of deleted doc 2 stands; bm — top-40
  // scores bit-match a from-scratch index over the retained corpus
  // (corpus-drawn vocabulary, the p133 rule); ivf — probes carrying the
  // deleted originals' own embeddings (+10000 query ids, never appended)
  // must not return them; corpus — the post-delete snapshot is exactly
  // standing minus the sweep. The quality plant ("zq zq zq", 30000000)
  // sits only in the BM25 standing store and guarantees the sweep is
  // non-empty at every scale (p136's rule; its exact (1, dl) stats
  // retraction needs no oracle mirror). Incoming is bounded to
  // [250, 2250) for DuckDB spot-gate feasibility (the p132/p135 bound).
  //
  // The oracle re-derives the sweep from the shared quality fragment,
  // then replays EVERY store from the retained corpus: the p132 minhash
  // cross-arm chain with the deleted set excluded from the prior side,
  // the p134 exploded containment equi-join with the vnt-scoped del cut,
  // the unchanged BM25 chain over the retained union, and the p135
  // bank/assign/shortlist/rerank chain over the retained vectors — five
  // arms, one result, ordered (store, a, b).
  // =========================================================================
  def p139TakedownCapstone(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.{ContainmentStream, CorpusMaintenance, IvfStream,
      NearDupStream, RetrievalStream, Takedown}
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val emb = Tables.embeddings(spark, dir)
    val standing = docs.filter(col("doc_id") < 250)
    val copies = docs.filter(col("doc_id") < 5)
      .select((col("doc_id") + 10000000).as("doc_id"), col("text"))
    val excerpts = docs.filter(col("doc_id").between(1, 3))
      .select((col("doc_id") + 20000000).as("doc_id"),
        array_join(slice(TF.tokens(col("text")), 1, 12), " ").as("text"))
    val setsOf = (df: DataFrame) =>
      Dedup.jaccardShingleSets(df, "doc_id", "text")
    val r = new StreamRun(spark)
    // the five standing stores and the corpus base are all independent
    // setup writes: the setup pays the slowest store's wall (the IVF
    // Lloyd training), not the sum of seven chains
    r.run(docs.filter(col("doc_id") >= 250 && col("doc_id") < 2250)
        .unionAll(copies).unionAll(excerpts), stripe("doc_id", 2), 0 until 2)(
      nearDupStanding(standing, r("nd_idx"), r("nd_docs")) ++ Seq[() => Unit](
        () => RetrievalStream.writeStanding(spark, r("bm"),
          standing.unionAll(qualityPlant(spark))),
        () => ContainmentStream.writeStanding(spark, r("ct"), standing, setsOf),
        ivfStanding(spark, r, emb.filter(col("vec_id") < 250)),
        () => standing.write.parquet(r("corpus/v0"))): _*) { (b, id) =>
      if (id == 1L) {
        // the ONE sweep: a distributed quality scan over standing data
        // (strictly earlier than the marker's batch) ∪ a licensing id
        // list — resolved once by takedownAll, fanned out from the
        // journal to all five stores + the corpus under batch id 1
        val sweep = lowQuality(standing.unionAll(qualityPlant(spark)))
          .unionAll(spark.range(10).select(col("id").as("doc_id")))
        Takedown.takedownAll(spark, r("journal"), sweep, id,
          targets = Seq(
            Takedown.Target("band index", r("nd_idx")),
            Takedown.Target("docs store", r("nd_docs")),
            Takedown.Target("bm25 postings",
              (s: SparkSession, ids: DataFrame, b: Long) =>
                RetrievalStream.tombstoneFrom(s, r("bm"), ids, b)),
            Takedown.Target("containment sets", r("ct")),
            Takedown.Target("ivf assignments", r("index"))),
          corpus = Some((r("corpus"), "doc_id")))
      }
      // the four stores are independent (disjoint roots, one shared
      // batch input) — overlap their per-trigger bodies (guide §2.6)
      graft.core.Par.run(
        () => { NearDupStream.filterBatch(spark, r("nd_idx"), r("nd_docs"),
          r("nd_out"), "doc_id", "text", threshold = 0.4)(b, id); () },
        () => RetrievalStream.appendBatch(spark, r("bm"))(b, id),
        () => { ContainmentStream.filterBatch(spark, r("ct"), r("ct_out"),
          setsOf, threshold = 0.6)(b, id); () },
        () => IvfStream.appendBatch(spark, r("bank"), r("index"),
          r("ivf_out"), "vec_id", "embedding")(
          emb.join(broadcast(b.select(col("doc_id").as("vec_id"))),
            "vec_id"), id))
    }
    val qTerms = corpusTerms(docs)
    val ivfQueries = emb.filter(col("vec_id") < 5)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
    def part(store: String, out: String, v: String): DataFrame =
      r.batches(out).select(lit(store).as("store"), col("id_a").as("a"),
        col("id_b").as("b"), col("batch"), col(v).as("v"))
    val (nd, ct) = (part("nd", "nd_out", "jaccard"),
      part("ct", "ct_out", "containment"))
    val bm = RetrievalStream.bm25TopK(spark, r("bm"), qTerms, k = 40)
      .select(lit("bm").as("store"), col("doc_id").as("a"),
        lit(-1L).as("b"), lit(-1L).as("batch"), col("score").as("v"))
    val ivf = ivfProbe(spark, r, ivfQueries)
      .select(lit("ivf").as("store"), col("query_id").as("a"),
        col("neighbor_id").as("b"), lit(-1L).as("batch"), col("sim").as("v"))
    val corpus = spark.read
      .parquet(CorpusMaintenance.latest(spark, r("corpus")).get)
      .select(lit("corpus").as("store"), col("doc_id").as("a"),
        lit(-1L).as("b"), lit(-1L).as("batch"), lit(0.0).as("v"))
    nd.unionAll(ct).unionAll(bm).unionAll(ivf).unionAll(corpus)
      .orderBy("store", "a", "b")
  }

  val p139Sql: String = {
    def dead(c: String): String = s"($c IN (SELECT doc_id FROM del139))"
    s"""WITH tk139 AS (SELECT doc_id, $sqlToks AS toks FROM documents),
       |${sqlLowQualityCtes("139", "\n           UNION SELECT unnest(range(10)) AS doc_id")},
       |${sqlTextStreamCtes("doc_id >= 250 AND doc_id < 2250", Seq(
            sqlPlantArm(10000000, "doc_id < 5", k = 2),
            sqlPlantArm(20000000, "doc_id BETWEEN 1 AND 3", k = 2,
              toks = "toks[1:12]", from = "tk139")), k = 2)},
       |$sqlMinhashCoef,
       |${sqlMinhashChain("x", "ex")},
       |${perBatch(2)(b => sqlMinhashChain(s"g$b", s"i$b"))},
       |${perBatch(2)(b => sqlMinhashPairCtes(s"g$b"))},
       |${perBatch(2)(b =>
            sqlCrossArmCtes(b, excludeOld = Some(dead("id")).filter(_ => b >= 1)))},
       |ctall AS (SELECT doc_id AS id, text, 0 AS vnt FROM documents
       |    WHERE doc_id < 2250
       |  UNION ALL SELECT doc_id + 10000000, text, 1 FROM documents
       |    WHERE doc_id < 5
       |  UNION ALL SELECT doc_id + 20000000,
       |    array_to_string(toks[1:12], ' '), 1
       |  FROM tk139 WHERE doc_id BETWEEN 1 AND 3),
       |${sqlTextContainmentCtes("ct", "ctall", 250, dead("id"))},
       |${sqlCorpusTermsCte("139")},
       |bmlive AS (SELECT id AS doc_id, text FROM ctall WHERE NOT ${dead("id")}),
       |${sqlBm25CtesWhere("139", "SELECT term FROM qt139", "bmlive")},
       |${sqlIvfProbeCtes(
            "SELECT vec_id + 10000 AS id, embedding::DOUBLE[] AS v " +
              "FROM embeddings WHERE vec_id < 5",
            "SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings " +
              s"WHERE vec_id < 2250 AND NOT ${dead("vec_id")}")}
       |SELECT store, a, b, batch, v FROM (
       |  SELECT 'nd' AS store, id_a AS a, id_b AS b,
       |    CAST(0 AS BIGINT) AS batch, jaccard AS v
       |  FROM (SELECT * FROM mhg0 UNION ALL SELECT * FROM mx0)
       |  UNION ALL
       |  SELECT 'nd', id_a, id_b, CAST(1 AS BIGINT), jaccard
       |  FROM (SELECT * FROM mhg1 UNION ALL SELECT * FROM mx1)
       |  UNION ALL
       |  SELECT 'ct', id_a, id_b, batch, containment
       |  FROM (${sqlContainmentEmit("ct", "ctasg", "0.6", Some(1))})
       |  UNION ALL
       |  SELECT 'bm', doc_id, CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), s
       |  FROM (SELECT doc_id, CAST(ROUND(SUM(sct), 6) AS DOUBLE) AS s
       |        FROM x139 GROUP BY doc_id
       |        ORDER BY s DESC, doc_id LIMIT 40)
       |  UNION ALL
       |  SELECT 'ivf', query_id, neighbor_id, CAST(-1 AS BIGINT), sim
       |  FROM ivft WHERE rk <= 5
       |  UNION ALL
       |  SELECT 'corpus', doc_id, CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), 0.0
       |  FROM documents WHERE doc_id < 250 AND NOT ${dead("doc_id")})
       |ORDER BY store, a, b""".stripMargin
  }

  // =========================================================================
  // p140 — STREAMING CLUSTER-ID + CANONICAL MAINTENANCE (VERDICT r14 next
  // #4, the remaining dedup lifecycle gap): near-dup pairs fold into
  // standing cluster state (ClusterStream) batch by batch — merges across
  // batches, canonical election per cluster — and a mid-stream takedown
  // retracts docs INCLUDING cluster labels and canonicals, forcing
  // component SPLITS, min-id relabels, and canonical re-election, all
  // repaired component-locally (never corpus-wide). The pair relation is
  // the p07/p24 adjacent-id Jaccard edge set (2-token shingles, 0.05)
  // so the oracle can re-derive the identical components with a
  // completely different formulation (gaps-and-islands over retained-id
  // runs — the p24 precedent) and the identical election with the shared
  // quality fragment (p44's proof); the same store fed by
  // NearDupStream's minhash pairs is equivalence-gated engine-vs-batch
  // in ClusterStreamSpec. A PLANTED run of ten identical docs
  // (40000000-40000009, arrival spread over all batches) guarantees the
  // split/re-election structure at every corpus scale: deleting
  // 40000000 (the run's min label) and 40000003 splits it into
  // {...1,...2} and {...4...9} with two fresh labels — non-vacuous by
  // construction. Batch plan: arrivals by id mod 3 (residue 2 arrives
  // LAST, as batch 3), batch 2 is the takedown's own maintenance
  // trigger (single-writer version slots); post-takedown pairs touching
  // the deleted set never arrive (the production mask's position).
  // =========================================================================
  def p140StreamClusters(spark: SparkSession, dir: String): DataFrame = {
    import graft.streaming.ClusterStream
    import spark.implicits._
    val del = Seq(99L, 100L, 102L, 40000000L, 40000003L)
    val allDocs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")).unionAll(plantedRun(spark))
      .withColumn("b0", pmod(col("doc_id"), lit(3)))
      .withColumn("arr", when(col("doc_id") < 250, lit(-1))
        .otherwise(when(col("b0") === 2, lit(3)).otherwise(col("b0"))))
      .localCheckpoint(true)
    val sh = Dedup.jaccardShingleSets(allDocs, "doc_id", "text",
      shingleSize = 2)
    val arrOf = allDocs.select(col("doc_id"), col("arr"))
    val pairsAll = sh.select(col("id").as("id_a"), col("sh").as("sha"))
      .join(sh.select(col("id").as("id_b"), col("sh").as("shb")),
        col("id_b") === col("id_a") + 1)
      .filter((size(array_intersect(col("sha"), col("shb"))) /
        size(array_union(col("sha"), col("shb")))) >= 0.05)
      .join(arrOf.select(col("doc_id").as("id_a"), col("arr").as("aa")),
        "id_a")
      .join(arrOf.select(col("doc_id").as("id_b"), col("arr").as("ab")),
        "id_b")
      .select(col("id_a"), col("id_b"),
        greatest(col("aa"), col("ab")).as("pb"))
      // the production mask's position: pairs probed AFTER the takedown
      // cannot touch the deleted set
      .filter(!(col("pb") === 3 &&
        (col("id_a").isin(del: _*) || col("id_b").isin(del: _*))))
      .localCheckpoint(true)
    val incoming = allDocs.filter(col("arr") >= 0)
      .select(col("doc_id"), col("text"), col("arr").as("batch"))
    val r = new StreamRun(spark)
    r.run(incoming, col("batch"), 0 until 4)(
      () => ClusterStream.writeStanding(spark, r("cs"),
        scored(allDocs.filter(col("arr") === -1)),
        pairsAll.filter(col("pb") === -1))) { (b, id) =>
      if (id == 2L)
        // the takedown's own maintenance trigger (batch 2 stages an
        // empty file): markers + component-local split/re-election
        // repair occupy the v3 slot alone
        ClusterStream.retract(spark, r("cs"), del.toDF("id"), id)
      else
        ClusterStream.foldBatch(spark, r("cs"))(scored(b),
          pairsAll.filter(col("pb") === id)
            .select(col("id_a"), col("id_b")), id)
    }
    clusterState(spark, r("cs")).orderBy("part", "a", "b")
  }

  /** Ten identical docs 40000000-40000009: a planted run that clusters at
    * every corpus scale (p140, p145, p147). */
  private def plantedRun(spark: SparkSession): DataFrame = spark.range(10)
    .select((col("id") + 40000000L).as("doc_id"),
      lit("pl run pl run pl").as("text"))

  /** [[plantedRun]] appended to `documents`, oracle side, as CTE `pr`. */
  private val sqlPlantedRunDocs =
    """pr AS (SELECT doc_id, text FROM documents
      |  UNION ALL SELECT CAST(40000000 + i.x AS BIGINT),
      |    'pl run pl run pl' FROM (SELECT unnest(range(10)) AS x) i)"""
      .stripMargin

  /** A cluster store's state as (part, a, b, n, v) rows: `assign` (id,
    * cid) and `canon` (cid, keep_id, n_members, score). */
  private def clusterState(spark: SparkSession, cs: String): DataFrame = {
    import graft.streaming.ClusterStream
    ClusterStream.readAssignments(spark, cs)
      .select(lit("assign").as("part"), col("id").as("a"),
        col("cid").as("b"), lit(-1L).as("n"), lit(0.0).as("v"))
      .unionAll(ClusterStream.readCanonicals(spark, cs)
        .select(lit("canon").as("part"), col("cid").as("a"),
          col("keep_id").as("b"), col("n_members").cast("long").as("n"),
          col("score").as("v")))
  }

  val p140Sql: String =
    s"""WITH $sqlPlantedRunDocs,
       |del140 AS (SELECT CAST(x AS BIGINT) AS doc_id FROM (VALUES
       |  (99),(100),(102),(40000000),(40000003)) t(x)),
       |ret140 AS (SELECT doc_id, text FROM pr
       |  WHERE doc_id NOT IN (SELECT doc_id FROM del140)),
       |t140 AS (SELECT doc_id, text, $sqlToks AS toks FROM ret140),
       |${sqlQualityCtes("140", "t140", "doc_id")},
       |sh140 AS (SELECT doc_id, list_distinct(
       |    CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
       |         ELSE list_transform(range(1, len(toks)),
       |           i -> toks[i] || ' ' || toks[i+1]) END) AS sh
       |  FROM t140),
       |e140 AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sh140 a JOIN sh140 b ON b.doc_id = a.doc_id + 1
       |  WHERE (CASE WHEN len(list_distinct(list_concat(a.sh, b.sh))) = 0
       |         THEN 0.0
       |         ELSE len(list_intersect(a.sh, b.sh))
       |           / len(list_distinct(list_concat(a.sh, b.sh))) END)
       |    >= 0.05),
       |st140 AS (SELECT doc_id,
       |    CASE WHEN EXISTS (SELECT 1 FROM e140 WHERE e140.doc_b = t140.doc_id)
       |         THEN 0 ELSE 1 END AS is_start
       |  FROM t140),
       |c140 AS (SELECT doc_id,
       |    SUM(is_start) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS grp
       |  FROM st140),
       |mem140 AS (SELECT doc_id, grp,
       |    MIN(doc_id) OVER (PARTITION BY grp) AS cid FROM c140),
       |r140 AS (SELECT mem140.cid, mem140.doc_id, q140.quality,
       |    ROW_NUMBER() OVER (PARTITION BY mem140.grp
       |      ORDER BY q140.quality DESC, mem140.doc_id) AS rn,
       |    COUNT(*) OVER (PARTITION BY mem140.grp) AS n_members
       |  FROM mem140 JOIN q140 USING (doc_id))
       |SELECT part, a, b, n, v FROM (
       |  SELECT 'assign' AS part, doc_id AS a, cid AS b,
       |    CAST(-1 AS BIGINT) AS n, 0.0 AS v FROM mem140
       |  UNION ALL
       |  SELECT 'canon', cid, doc_id, CAST(n_members AS BIGINT), quality
       |  FROM r140 WHERE rn = 1)
       |ORDER BY part, a, b""".stripMargin

  // =========================================================================
  // p141 — TRAINED QUALITY SCORER (VERDICT r14 next #6, the last common
  // curation-operator gap): ridge regression fit by decimal-staged normal
  // equations (Scorer.ridgeFit3 on the CovMomentsAgg machinery — one
  // corpus scan, a d(d+3)/2 model-sized exchange, a driver-side 3×3
  // adjugate solve), then scored back over the corpus in one codegen'd
  // projection with the weights as literals. Features are two heuristic
  // quality sub-scores (len_score, alpha_ratio); the training label is
  // the FULL p03 heuristic, so the fit is a distillation with nonzero
  // residual (the label carries stop/word-length components the features
  // omit). λ = 1.0 Tikhonov on the whole diagonal (the documented
  // contract). The oracle replays EVERYTHING from raw text: the shared
  // quality fragments produce features and label bit-identically
  // (p03/p44's proof), each Gram/moment term stages through the
  // Double.toString decimal bridge and sums exactly (the PcaStream
  // associativity property), BigDecimal.doubleValue crosses back via the
  // VARCHAR bridge, and the adjugate solve + per-doc scoring mirror the
  // Scala expression tree parenthesis for parenthesis — the weights
  // themselves are emitted as rows, so a drifted solve fails the hash on
  // 3 rows even if every score happens to round alike.
  // =========================================================================
  def p141RidgeQuality(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Scorer
    val feats = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), TF.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        least(size(col("toks")) / lit(100.0), lit(1.0)).as("f1"),
        TF.alphaRatio(col("text")).as("f2"),
        TF.qualityScoreFromTokens(col("text"), col("toks")).as("y"))
      .localCheckpoint(true)
    val m = Scorer.ridgeFit3(feats, col("f1"), col("f2"), col("y"),
      lambda = 1.0)
    feats.select(lit("doc").as("part"), col("doc_id").as("k"),
        Scorer.score3(m, col("f1"), col("f2")).as("v"))
      .unionAll(spark.range(1).select(lit("w").as("part"),
        lit(0L).as("k"), lit(m.w0).as("v")))
      .unionAll(spark.range(1).select(lit("w").as("part"),
        lit(1L).as("k"), lit(m.w1).as("v")))
      .unionAll(spark.range(1).select(lit("w").as("part"),
        lit(2L).as("k"), lit(m.w2).as("v")))
      .orderBy("part", "k")
  }

  val p141Sql: String = {
    import OracleHash.{decimalStage => ds, decimalToDouble => dd}
    def mom(x: String) = dd(s"SUM(${ds(x)})")
    s"""WITH tq AS (SELECT doc_id, text, $sqlToks AS toks FROM documents),
       |${sqlQualityCtes("141", "tq", "doc_id")},
       |ft AS (SELECT m141.doc_id, m141.len_score AS f1,
       |    m141.alpha_ratio AS f2, q141.quality AS y
       |  FROM m141 JOIN q141 USING (doc_id)),
       |mom AS (SELECT
       |    ${mom("1.0")} AS g00, ${mom("f1")} AS g01, ${mom("f2")} AS g02,
       |    ${mom("f1 * f1")} AS g11, ${mom("f1 * f2")} AS g12,
       |    ${mom("f2 * f2")} AS g22,
       |    ${mom("y")} AS b0, ${mom("f1 * y")} AS b1, ${mom("f2 * y")} AS b2
       |  FROM ft),
       |mm AS (SELECT g00 + CAST(1.0 AS DOUBLE) AS maa, g01 AS mab,
       |    g02 AS mac, g11 + CAST(1.0 AS DOUBLE) AS mbb, g12 AS mbc,
       |    g22 + CAST(1.0 AS DOUBLE) AS mcc, b0, b1, b2 FROM mom),
       |cf AS (SELECT *,
       |    mbb * mcc - mbc * mbc AS cof00,
       |    mbc * mac - mab * mcc AS cof01,
       |    mab * mbc - mac * mbb AS cof02,
       |    maa * mcc - mac * mac AS cof11,
       |    mab * mac - maa * mbc AS cof12,
       |    maa * mbb - mab * mab AS cof22 FROM mm),
       |dt AS (SELECT *, maa * cof00 + mab * cof01 + mac * cof02 AS det
       |  FROM cf),
       |wts AS (SELECT
       |    ((cof00 * b0 + cof01 * b1) + cof02 * b2) / det AS w0,
       |    ((cof01 * b0 + cof11 * b1) + cof12 * b2) / det AS w1,
       |    ((cof02 * b0 + cof12 * b1) + cof22 * b2) / det AS w2 FROM dt)
       |SELECT part, k, v FROM (
       |  SELECT 'doc' AS part, doc_id AS k, (w0 + w1 * f1) + w2 * f2 AS v
       |  FROM ft CROSS JOIN wts
       |  UNION ALL SELECT 'w', CAST(0 AS BIGINT), w0 FROM wts
       |  UNION ALL SELECT 'w', CAST(1 AS BIGINT), w1 FROM wts
       |  UNION ALL SELECT 'w', CAST(2 AS BIGINT), w2 FROM wts)
       |ORDER BY part, k""".stripMargin
  }

  // =========================================================================
  // p142 — WIDE TRAINED SCORER (VERDICT r15 next #2): the d-feature
  // generalization of p141's machinery. Nine-dimensional ridge (intercept
  // + 8 replayable text features: the four heuristic quality sub-scores
  // plus type-token ratio, digit/whitespace/uppercase ratios) fit by one
  // decimal-staged moments scan (d(d+3)/2 = 54 exact-decimal cells
  // through a SinglePartition exchange) and a driver-side CHOLESKY solve
  // — sqrt/mul/sub/div are all IEEE-correctly-rounded on both engines, so
  // the unrolled recurrence replays bit-exactly: the oracle's solve CTEs
  // are GENERATED from the same index loops as Scorer.choleskySolve
  // (OracleHash.choleskySolveSql — mirrored by construction, not by
  // hand). Scoring is one codegen'd projection with the 9 weights as
  // literals; the weights are also emitted as rows, so a drifted solve
  // fails the hash on 9 rows even if every score rounds alike.
  // =========================================================================
  def p142RidgeWide(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Scorer
    import spark.implicits._
    val feats = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), TF.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        least(size(col("toks")) / lit(100.0), lit(1.0)).as("f1"),
        TF.alphaRatio(col("text")).as("f2"),
        least(TF.stopwordCount(col("toks"), "en") /
          greatest(size(col("toks")), lit(1)) * 5.0, lit(1.0)).as("f3"),
        TF.meanTokenLen(col("toks")).as("f4"),
        when(size(col("toks")) === 0, lit(0.0))
          .otherwise(size(array_distinct(col("toks"))) /
            size(col("toks"))).as("f5"),
        when(length(col("text")) === 0, lit(0.0))
          .otherwise(length(regexp_replace(col("text"), "[^0-9]", "")) /
            length(col("text"))).as("f6"),
        when(length(col("text")) === 0, lit(0.0))
          .otherwise((length(col("text")) -
            length(regexp_replace(col("text"), " ", ""))) /
            length(col("text"))).as("f7"),
        when(length(col("text")) === 0, lit(0.0))
          .otherwise(length(regexp_replace(col("text"), "[^A-Z]", "")) /
            length(col("text"))).as("f8"),
        TF.qualityScoreFromTokens(col("text"), col("toks")).as("y"))
      .localCheckpoint(true)
    val fcols = (1 to 8).map(i => col(s"f$i"))
    val w = Scorer.ridgeFit(feats, fcols, col("y"), lambda = 1.0)
    feats.select(lit("doc").as("part"), col("doc_id").as("k"),
        Scorer.score(w.toSeq, fcols).as("v"))
      .unionAll(w.toSeq.zipWithIndex.map { case (wi, i) => (i.toLong, wi) }
        .toDF("k", "v")
        .select(lit("w").as("part"), col("k"), col("v")))
      .orderBy("part", "k")
  }

  val p142Sql: String = {
    import OracleHash.{decimalStage => ds, decimalToDouble => dd}
    val d = 9
    def mom(x: String) = dd(s"SUM(${ds(x)})")
    def xPart(i: Int): String = if (i == 0) "1.0" else s"f$i"
    def cell(i: Int, j: Int): String =
      if (i == 0 && j == 0) "1.0"
      else if (i == 0) xPart(j)
      else s"${xPart(i)} * ${xPart(j)}"
    val gCols = (for { i <- 0 until d; j <- i until d }
      yield s"${mom(cell(i, j))} AS g_${i}_$j").mkString(",\n|    ")
    val bCols = (0 until d)
      .map(i => s"${mom(if (i == 0) "y" else s"f$i * y")} AS b_$i")
      .mkString(", ")
    val (solveCtes, fin) = OracleHash.choleskySolveSql(d, "mom142",
      (i, j) => if (i == j) s"(g_${i}_$i + CAST(1.0 AS DOUBLE))"
        else s"g_${i}_$j",
      i => s"b_$i", "s142_")
    val scoreExpr = (1 until d).foldLeft("s142_w_0")((acc, i) =>
      s"($acc + (s142_w_$i * f$i))")
    val wRows = (0 until d).map(i =>
      s"UNION ALL SELECT 'w', CAST($i AS BIGINT), s142_w_$i FROM $fin")
      .mkString("\n|  ")
    s"""WITH tq AS (SELECT doc_id, text, $sqlToks AS toks FROM documents),
       |${sqlQualityCtes("142", "tq", "doc_id")},
       |x142 AS (SELECT t.doc_id, m.len_score AS f1, m.alpha_ratio AS f2,
       |    m.stop_score AS f3, m.wl AS f4,
       |    CASE WHEN len(t.toks) = 0 THEN 0.0
       |      ELSE len(list_distinct(t.toks)) / len(t.toks) END AS f5,
       |    CASE WHEN length(t.text) = 0 THEN 0.0
       |      ELSE length(regexp_replace(t.text, '[^0-9]', '', 'g'))
       |        / length(t.text) END AS f6,
       |    CASE WHEN length(t.text) = 0 THEN 0.0
       |      ELSE (length(t.text) - length(replace(t.text, ' ', '')))
       |        / length(t.text) END AS f7,
       |    CASE WHEN length(t.text) = 0 THEN 0.0
       |      ELSE length(regexp_replace(t.text, '[^A-Z]', '', 'g'))
       |        / length(t.text) END AS f8,
       |    q.quality AS y
       |  FROM tq t JOIN m142 m USING (doc_id) JOIN q142 q USING (doc_id)),
       |mom142 AS (SELECT
       |    $gCols,
       |    $bCols
       |  FROM x142),
       |$solveCtes
       |SELECT part, k, v FROM (
       |  SELECT 'doc' AS part, doc_id AS k, $scoreExpr AS v
       |  FROM x142 CROSS JOIN $fin
       |  $wRows)
       |ORDER BY part, k""".stripMargin
  }

  // =========================================================================
  // p143 — IRLS LOGISTIC QUALITY CLASSIFIER (VERDICT r15 next #2, second
  // half): a trained binary classifier (label: full heuristic quality
  // >= 0.6) fit by 3 Newton/IRLS steps, each ONE decimal-staged
  // weighted-moments scan over the p142 feature set (Scorer
  // .logisticFitIrls). The logistic link runs through the engine's
  // DETERMINISTIC exp kernel (Scorer.detExp — libm exp is not correctly
  // rounded and diverges between engines, the same reason the oracle
  // discipline bans ln): clamp, exact power-of-two range reduction, and
  // a fixed-association degree-13 Horner — every op IEEE-specified, so
  // DuckDB replays the link bit-exactly (OracleHash.detExpCols, built
  // from the SAME constants). The oracle unrolls all three iterations —
  // per-row link chain, 65-cell staged moments, generated Cholesky
  // solve, weight step — iteration by iteration (the pcaFit unrolled-
  // chain precedent), then replays the final scoring pass; the 9 weights
  // are emitted as rows, so any drifted iteration fails the hash.
  // =========================================================================
  def p143LogisticQuality(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Scorer
    import spark.implicits._
    val feats = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), TF.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        least(size(col("toks")) / lit(100.0), lit(1.0)).as("f1"),
        TF.alphaRatio(col("text")).as("f2"),
        least(TF.stopwordCount(col("toks"), "en") /
          greatest(size(col("toks")), lit(1)) * 5.0, lit(1.0)).as("f3"),
        TF.meanTokenLen(col("toks")).as("f4"),
        when(size(col("toks")) === 0, lit(0.0))
          .otherwise(size(array_distinct(col("toks"))) /
            size(col("toks"))).as("f5"),
        when(length(col("text")) === 0, lit(0.0))
          .otherwise(length(regexp_replace(col("text"), "[^0-9]", "")) /
            length(col("text"))).as("f6"),
        when(length(col("text")) === 0, lit(0.0))
          .otherwise((length(col("text")) -
            length(regexp_replace(col("text"), " ", ""))) /
            length(col("text"))).as("f7"),
        when(length(col("text")) === 0, lit(0.0))
          .otherwise(length(regexp_replace(col("text"), "[^A-Z]", "")) /
            length(col("text"))).as("f8"),
        when(TF.qualityScoreFromTokens(col("text"), col("toks")) >= 0.6,
          lit(1.0)).otherwise(lit(0.0)).as("y"))
      .localCheckpoint(true)
    val fcols = (1 to 8).map(i => col(s"f$i"))
    val w = Scorer.logisticFitIrls(feats, fcols, col("y"), lambda = 1.0,
      iters = 3)
    feats.select(lit("doc").as("part"), col("doc_id").as("k"),
        Scorer.sigmoid(Scorer.score(w.toSeq, fcols)).as("v"))
      .unionAll(w.toSeq.zipWithIndex.map { case (wi, i) => (i.toLong, wi) }
        .toDF("k", "v")
        .select(lit("w").as("part"), col("k"), col("v")))
      .orderBy("part", "k")
  }

  val p143Sql: String = {
    import OracleHash.{decimalStage => ds, decimalToDouble => dd}
    val D = 9
    def mom(x: String) = dd(s"SUM(${ds(x)})")
    def scoreExpr(w: Int => String): String =
      (1 until D).foldLeft(w(0))((acc, j) => s"($acc + (${w(j)} * f$j))")
    // one IRLS iteration: per-row link chain → staged weighted moments →
    // generated Cholesky solve → weight step, all over the previous
    // iteration's 1-row weight CTE (literal zeros for iteration 1)
    def iter(i: Int): String = {
      val q = s"i${i}_"
      val prevW: Int => String =
        if (i == 1) _ => "0.0" else a => s"i${i - 1}w_$a"
      val base =
        if (i == 1) s"${q}b AS (SELECT * FROM x143)"
        else s"${q}b AS (SELECT x.*, w.* FROM x143 x " +
          s"CROSS JOIN i${i - 1}w w)"
      val rowCols = Seq(
        s"${q}t" -> scoreExpr(prevW),
        s"${q}nt" -> s"(-${q}t)") ++
        OracleHash.detExpCols(s"${q}nt", s"${q}e") ++ Seq(
        s"${q}p" -> s"1.0 / (1.0 + ${q}eex)",
        s"${q}s" -> s"(${q}p * (1.0 - ${q}p))",
        s"${q}sq" -> s"sqrt(${q}s)")
      val (rowCtes, rowFin) = OracleHash.chainedCtes(rowCols, s"${q}b",
        s"${q}c")
      def v(a: Int): String =
        if (a == 0) s"${q}sq"
        else if (a < D) s"(${q}sq * f$a)"
        else s"((y - ${q}p) / ${q}sq)"
      val gCols = (for { a <- 0 until D; b <- a until D }
        yield s"${mom(s"${v(a)} * ${v(b)}")} AS ${q}g_${a}_$b")
        .mkString(",\n    ")
      val rCols = (0 until D)
        .map(a => s"${mom(s"${v(a)} * ${v(D)}")} AS ${q}r_$a")
        .mkString(",\n    ")
      val momCte = s"${q}mom AS (SELECT\n    $gCols,\n    $rCols\n" +
        s"  FROM $rowFin)"
      val momw =
        if (i == 1) s"${q}momw AS (SELECT * FROM ${q}mom)"
        else s"${q}momw AS (SELECT m.*, w.* FROM ${q}mom m " +
          s"CROSS JOIN i${i - 1}w w)"
      val (solveCtes, solveFin) = OracleHash.choleskySolveSql(D,
        s"${q}momw",
        (a, b) => if (a == b) s"(${q}g_${a}_$a + 1.0)" else s"${q}g_${a}_$b",
        a => s"(${q}r_$a - (1.0 * ${prevW(a)}))", s"${q}s_")
      val (stepCtes, stepFin) = OracleHash.chainedCtes(
        (0 until D).map(a => s"${q}nw_$a" -> s"(${prevW(a)} + ${q}s_w_$a)"),
        solveFin, s"${q}u")
      val wCte = s"i${i}w AS MATERIALIZED (SELECT " +
        (0 until D).map(a => s"${q}nw_$a AS i${i}w_$a").mkString(", ") +
        s" FROM $stepFin)"
      Seq(base, rowCtes, momCte, momw, solveCtes, stepCtes, wCte)
        .mkString(",\n")
    }
    val fw: Int => String = a => s"i3w_$a"
    val (finCtes, finFin) = OracleHash.chainedCtes(Seq(
      "fs_t" -> scoreExpr(fw),
      "fs_nt" -> "(-fs_t)") ++
      OracleHash.detExpCols("fs_nt", "fs_e") ++ Seq(
      "fs_p" -> "1.0 / (1.0 + fs_eex)"), "fsb", "fs_c")
    val wRows = (0 until D).map(a =>
      s"UNION ALL SELECT 'w', CAST($a AS BIGINT), i3w_$a FROM i3w")
      .mkString("\n  ")
    s"""WITH tq AS (SELECT doc_id, text, $sqlToks AS toks FROM documents),
       |${sqlQualityCtes("143", "tq", "doc_id")},
       |x143 AS (SELECT t.doc_id, m.len_score AS f1, m.alpha_ratio AS f2,
       |    m.stop_score AS f3, m.wl AS f4,
       |    CASE WHEN len(t.toks) = 0 THEN 0.0
       |      ELSE len(list_distinct(t.toks)) / len(t.toks) END AS f5,
       |    CASE WHEN length(t.text) = 0 THEN 0.0
       |      ELSE length(regexp_replace(t.text, '[^0-9]', '', 'g'))
       |        / length(t.text) END AS f6,
       |    CASE WHEN length(t.text) = 0 THEN 0.0
       |      ELSE (length(t.text) - length(replace(t.text, ' ', '')))
       |        / length(t.text) END AS f7,
       |    CASE WHEN length(t.text) = 0 THEN 0.0
       |      ELSE length(regexp_replace(t.text, '[^A-Z]', '', 'g'))
       |        / length(t.text) END AS f8,
       |    CASE WHEN q.quality >= 0.6 THEN 1.0 ELSE 0.0 END AS y
       |  FROM tq t JOIN m143 m USING (doc_id) JOIN q143 q USING (doc_id)),
       |${iter(1)},
       |${iter(2)},
       |${iter(3)},
       |fsb AS (SELECT x.*, w.* FROM x143 x CROSS JOIN i3w w),
       |$finCtes
       |SELECT part, k, v FROM (
       |  SELECT 'doc' AS part, doc_id AS k, fs_p AS v FROM $finFin
       |  $wRows)
       |ORDER BY part, k""".stripMargin
  }

  // =========================================================================
  // p144 — ID-REVIVAL through the streaming perceptual image index
  // (VERDICT r15 next #4): p137's takedown fixture with the lifecycle's
  // third verb. Standing originals (image ids < 30) are retracted before
  // batch 1's probe, then the ids < 15 SUBSET is revived (claim
  // withdrawn — Versions.revive, newest-verb-wins marker resolution)
  // before batch 2's probe: batch-2 plant variants of revived originals
  // find their Hamming-0 standing rows again, while variants of the
  // still-dead [15, 30) originals find nothing — both arms non-vacuous
  // by the plant parity split (odd originals 3, 9 revive and pair at
  // batch 2; odd 15, 21, 27 stay dead). The oracle replays the aHash
  // kernel over ALL content with a batch-dependent cut: dead set {<30}
  // at probe batch 1, {[15,30)} at probe batch 2 — exactly the masked
  // read's resolution of the d1/r2 marker pair. Variant rows are
  // discriminated by their kind-stripe residue (id % 3 = 1), never by
  // magnitude (the zipf1 id-collision lesson).
  // =========================================================================
  def p144ReviveAHash(spark: SparkSession, dir: String): DataFrame =
    // originals arrive in batch (id div 3) mod 3; the variants (the only
    // ids ≡ 1 mod 3: images are ≡ 0, +10000 adds 1) in batch 0 or 2
    imageStream(spark, dir, 3,
      when(pmod(col("media_id"), lit(3)) === 1, pmod(col("media_id"), lit(2)) * 2)
        .otherwise(pmod(expr("media_id div 3"), lit(3)))) {
      (r, standing, id) =>
        takedownPlantOriginals(spark)(r, standing, id)
        if (id == 2L)
          graft.streaming.Versions.revive(spark, r("idx"),
            standing.filter(col("media_id") < 15).select("media_id"), id)
    }

  val p144Sql: String =
    sqlHammingStream(s"$sqlImageVariantsCte,\n$sqlAHashCtes", "ah",
      batchOf = """CASE WHEN id % 3 = 1 THEN CAST((id % 2) * 2 AS INT)
                  |         WHEN id < 250 THEN -1
                  |         ELSE CAST((id // 3) % 3 AS INT) END""".stripMargin,
      cut = """AND NOT (greatest(a.b, b2.b) = 1 AND
              |    ((a.b = -1 AND a.id < 30) OR (b2.b = -1 AND b2.id < 30)))
              |  AND NOT (greatest(a.b, b2.b) = 2 AND
              |    ((a.b = -1 AND a.id >= 15 AND a.id < 30) OR
              |     (b2.b = -1 AND b2.id >= 15 AND b2.id < 30)))""".stripMargin)

  // =========================================================================
  // p145 — THE PRODUCTION DEDUP LOOP IN ONE STREAM (VERDICT r15 next #5):
  // p114 flags per-batch verdicts and p140 maintains cluster identity;
  // this runs the full loop END TO END in one foreachBatch — ingest →
  // NearDupStream.filterBatch's REAL banded minhash pair deltas →
  // ClusterStream.foldBatch → a duplicate-of-canonical verdict per batch
  // doc (keep iff the doc IS its cluster's elected canonical at fold
  // time) → a journaled cross-store takedown (Takedown.takedownAll
  // fanning ONE sweep to the band index, the docs store, and
  // ClusterStream.retract's component-local repair — the Target verb
  // form) → post-takedown folds whose verdicts see the re-elected
  // canonicals. A planted run of ten identical docs spread over all
  // three content batches guarantees structure at every scale: its
  // batch-0 canonical (40000000) is taken down at batch 2, so batch-3
  // plant arrivals elect (and lose to) the re-elected 40000001. The
  // oracle recomposes the p114 + p140 fragments: per-arm minhash chains
  // with the takedown-visible exclusion (the p132 excludeOld shape),
  // per-VIEW connected components by recursive min-label closure (the
  // pair graph is arbitrary here — no gaps-and-islands shortcut), the
  // shared quality election, and the final retained-state snapshot.
  // =========================================================================
  def p145ProductionLoop(spark: SparkSession, dir: String): DataFrame =
    productionLoop(spark, dir, revive = false)

  /** p145's loop; with `revive` (p147) the stream runs one more
    * maintenance trigger, 4, that revives 40000000 in every store the
    * takedown hit. */
  private def productionLoop(spark: SparkSession, dir: String,
      revive: Boolean): DataFrame = {
    import graft.streaming.{ClusterStream, NearDupStream, Takedown}
    import graft.streaming.Takedown.Target
    import spark.implicits._
    val plant = plantedRun(spark)
      .withColumn("b0", pmod(col("doc_id") - 40000000L, lit(3)))
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val standing = docs.filter(col("doc_id") < 250).localCheckpoint(true)
    val incoming = docs.filter(col("doc_id") >= 250)
      .withColumn("b0", pmod(col("doc_id"), lit(3)))
      .unionAll(plant)
      .withColumn("batch", when(col("b0") === 2, lit(3)).otherwise(col("b0")))
      .select(col("doc_id"), col("text"), col("batch"))
    val r = new StreamRun(spark)
    val (ndIdx, ndDocs, cs) = (r("ndidx"), r("nddocs"), r("cs"))
    // independent setup writes over the checkpointed standing corpus; the
    // cluster bootstrap's star contraction is the slowest chain and hides
    // the rest
    r.run(incoming, col("batch"), 0 until (if (revive) 5 else 4))(
      () => Dedup.minhashBandIndex(standing, "doc_id", "text")
        .write.parquet(s"$ndIdx/v0"),
      () => standing.write.parquet(s"$ndDocs/v0"),
      () => ClusterStream.writeStanding(spark, cs, scored(standing),
        Dedup.minhashPairs(standing, "doc_id", "text", threshold = 0.4))) {
      (b, id) =>
        if (id == 2L)
          // the takedown's own maintenance trigger: ONE journaled sweep
          // fans to both near-dup stores AND the cluster store's
          // component-local repair verb, all under batch id 2
          Takedown.takedownAll(spark, r("journal"),
            Seq(99L, 100L, 40000000L, 40000003L).toDF("id"), id,
            targets = Seq(Target("band index", ndIdx),
              Target("docs store", ndDocs),
              Target("cluster store",
                (s: SparkSession, ids: DataFrame, bi: Long) =>
                  ClusterStream.retract(s, cs, ids, bi))))
        else if (id == 4L)
          // re-license: ONE journaled revive fanned to every store the
          // takedown hit (Takedown.reviveAll — the same write-ahead
          // intent-log protocol as the takedown direction): generic
          // markers on the mask-only roots, the paired merge-repair
          // verb on the cluster store. Sharing the journal root also
          // exercises the vacuum cadence — the committed t2 journal is
          // dropped on the way in.
          Takedown.reviveAll(spark, r("journal"), Seq(40000000L).toDF("id"),
            id, targets = Seq(Target.revive("band index", ndIdx),
              Target.revive("docs store", ndDocs),
              Target("cluster store",
                (s: SparkSession, ids: DataFrame, bi: Long) =>
                  ClusterStream.revive(s, cs, ids, bi))))
        else {
          // the re-ingest guard at the loop's front door (VERDICT r16
          // next #4): a post-takedown batch carrying a dead id refuses
          // loud — revive or a fresh ingest id, never a silent re-ingest
          Takedown.guardReingest(spark, Seq(ndIdx, ndDocs, s"$cs/assign"),
            b.select(col("doc_id")))
          val pairs = NearDupStream.filterBatch(spark, ndIdx, ndDocs,
            r("ndout"), "doc_id", "text", threshold = 0.4,
            materializePairs = true)(b.select(col("doc_id"), col("text")), id)
          ClusterStream.foldBatch(spark, cs)(scored(b),
            pairs.select(col("id_a"), col("id_b")), id)
          // the verdict: keep iff the doc IS its cluster's canonical at
          // fold time.
          // r18: the verdict resolves from the fold's JUST-WRITTEN deltas
          // instead of the full-store reads (each a window fold + eager
          // checkpoint per trigger) — result-identical because the fold
          // guarantees every batch doc an assign row in v{id+1}
          // (newInPairs ∪ newSingles = the whole batch; the empty-pairs
          // path writes all of it too) and every such doc's cid a live
          // election row there (electCanon runs over ALL touched labels'
          // full membership, new singletons included), and v{id+1} is by
          // construction the newest version for exactly those ids/cids.
          graft.streaming.Versions.read(spark, s"$cs/assign",
              Seq(s"$cs/assign/v${id + 1}"))
            .join(broadcast(b.select(col("doc_id").as("id"))), Seq("id"),
              "left_semi")
            .join(graft.streaming.Versions.read(spark, s"$cs/canon",
                Seq(s"$cs/canon/v${id + 1}"))
              .filter(col("n_members") > 0)
              .select(col("cid"), col("keep_id")),
              Seq("cid"))
            .select(col("id").as("doc_id"), col("keep_id"),
              graft.functions.SteadyLit.steadyLong(id).as("batch"),
              when(col("keep_id") === col("id"), 1.0).otherwise(0.0)
                .as("keep"))
            .write.mode("overwrite").parquet(r(s"out/b$id"))
        }
    }
    r.out.select(lit("v").as("part"), col("doc_id").as("a"),
        col("keep_id").as("b"), col("batch").cast("long").as("n"),
        col("keep").as("v"))
      .unionAll(clusterState(spark, cs))
      .orderBy("part", "a", "b")
  }

  val p145Sql: String = sqlProductionLoop(revive = false)

  /** p145's oracle; with `revive` (p147) the final state is a fourth
    * closure view over retained ∪ revived: pv3 = every pair ever written
    * (pv1 ∪ arm-2 pairs) with only the still-dead cut, dv3 = every doc
    * not still dead — the masked read's newest-verb-wins resolution of
    * the d2/r4 marker pair. */
  private def sqlProductionLoop(revive: Boolean): String = {
    val delList = "99, 100, 40000000, 40000003"
    val stillDead = "99, 100, 40000003"
    val last = if (revive) 3 else 2
    // per-view pieces: pv{k} pair sets, dv{k} doc sets, rc{k} recursive
    // min-label closures, m{k} memberships, cn{k} elections. EVERYTHING
    // feeding or consumed by a recursive term is AS MATERIALIZED — the
    // p71 lesson at its worst: an inlined e$k would re-derive the whole
    // minhash chain on EVERY closure iteration, times three views
    def closure(k: Int): String =
      s"""e$k AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM pv$k
         |  UNION ALL SELECT id_b, id_a FROM pv$k),
         |rc$k AS (SELECT doc_id AS id, doc_id AS l FROM dv$k
         |  UNION SELECT e$k.a, rc$k.l FROM rc$k JOIN e$k ON e$k.b = rc$k.id),
         |m$k AS MATERIALIZED (
         |  SELECT r.id, MIN(r.l) AS cid FROM rc$k r GROUP BY r.id),
         |cn$k AS MATERIALIZED (
         |  SELECT m$k.cid, m$k.id AS keep_id, qm.quality,
         |    COUNT(*) OVER (PARTITION BY m$k.cid) AS nm,
         |    ROW_NUMBER() OVER (PARTITION BY m$k.cid
         |      ORDER BY qm.quality DESC, m$k.id ASC) AS rn
         |  FROM m$k JOIN qm ON qm.doc_id = m$k.id)""".stripMargin
    def verdictArm(k: Int, batch: Int): String =
      s"""SELECT 'v' AS part, a.doc_id AS a, c.keep_id AS b,
         |    CAST($batch AS BIGINT) AS n,
         |    CASE WHEN c.keep_id = a.doc_id THEN 1.0 ELSE 0.0 END AS v
         |  FROM armm a JOIN m$k ON m$k.id = a.doc_id
         |  JOIN cn$k c ON c.cid = m$k.cid AND c.rn = 1
         |  WHERE a.k = $k""".stripMargin
    // the view after the revive: pairs and docs minus the still-dead
    val revived = if (!revive) "" else
      s""",
         |pv3 AS MATERIALIZED (SELECT id_a, id_b FROM pv1
         |    WHERE id_a NOT IN ($stillDead) AND id_b NOT IN ($stillDead)
         |  UNION SELECT id_a, id_b FROM mhg2
         |  UNION SELECT id_a, id_b FROM mx2),
         |dv3 AS MATERIALIZED (
         |  SELECT doc_id FROM armm WHERE doc_id NOT IN ($stillDead))""".stripMargin
    s"""WITH RECURSIVE
       |$sqlPlantedRunDocs,
       |tpl AS (SELECT doc_id, text, $sqlToks AS toks FROM pr),
       |${sqlQualityCtes("pl", "tpl", "doc_id")},
       |arm AS (SELECT doc_id, toks,
       |    CASE WHEN doc_id >= 40000000 THEN
       |      (CASE WHEN (doc_id - 40000000) % 3 = 2 THEN 2
       |            ELSE CAST((doc_id - 40000000) % 3 AS INT) END)
       |      WHEN doc_id < 250 THEN -1
       |      WHEN doc_id % 3 = 2 THEN 2
       |      ELSE CAST(doc_id % 3 AS INT) END AS k
       |  FROM tpl),
       |ex AS (SELECT doc_id, toks FROM arm WHERE k = -1),
       |${perBatch(3)(b => s"i$b AS (SELECT doc_id, toks FROM arm WHERE k = $b)")},
       |$sqlMinhashCoef,
       |${sqlMinhashChain("x", "ex")},
       |${sqlMinhashPairCtes("x")},
       |${perBatch(3)(b => sqlMinhashChain(s"g$b", s"i$b") + ",\n" +
            sqlMinhashPairCtes(s"g$b"))},
       |${sqlCrossArmCtes(0)},
       |${sqlCrossArmCtes(1)},
       |${sqlCrossArmCtes(2, excludeOld = Some(s"id IN ($delList)"))},
       |qm AS MATERIALIZED (SELECT doc_id, quality FROM qpl),
       |armm AS MATERIALIZED (SELECT doc_id, k FROM arm),
       |pv0 AS MATERIALIZED (SELECT id_a, id_b FROM mhx
       |  UNION SELECT id_a, id_b FROM mhg0
       |  UNION SELECT id_a, id_b FROM mx0),
       |pv1 AS MATERIALIZED (SELECT id_a, id_b FROM pv0
       |  UNION SELECT id_a, id_b FROM mhg1
       |  UNION SELECT id_a, id_b FROM mx1),
       |pv2 AS MATERIALIZED (SELECT id_a, id_b FROM pv1
       |    WHERE id_a NOT IN ($delList) AND id_b NOT IN ($delList)
       |  UNION SELECT id_a, id_b FROM mhg2
       |  UNION SELECT id_a, id_b FROM mx2),
       |dv0 AS MATERIALIZED (SELECT doc_id FROM armm WHERE k <= 0),
       |dv1 AS MATERIALIZED (SELECT doc_id FROM armm WHERE k <= 1),
       |dv2 AS MATERIALIZED (
       |  SELECT doc_id FROM armm WHERE doc_id NOT IN ($delList))$revived,
       |${(0 to last).map(closure).mkString(",\n")}
       |SELECT part, a, b, n, v FROM (
       |  ${verdictArm(0, 0)}
       |  UNION ALL
       |  ${verdictArm(1, 1)}
       |  UNION ALL
       |  ${verdictArm(2, 3)}
       |  UNION ALL
       |  SELECT 'assign', id, cid, CAST(-1 AS BIGINT), 0.0 FROM m$last
       |  UNION ALL
       |  SELECT 'canon', cid, keep_id, CAST(nm AS BIGINT), quality
       |  FROM cn$last WHERE rn = 1)
       |ORDER BY part, a, b""".stripMargin
  }

  // =========================================================================
  // p146 — ID-REVIVAL through the streaming near-dup TEXT stores (VERDICT
  // r16 next #4 — the p144 shape on a text store, completing the
  // per-store revive matrix): p132's takedown fixture with the third
  // lifecycle verb on BOTH mask-only roots (band index + docs store).
  // Standing originals 0-9 are retracted before batch 1's probe; the
  // 0-4 subset is revived (claim withdrawn — Versions.revive on each
  // root, newest-verb-wins) before batch 2's probe. Byte-identical
  // plants (+10000000 — clears the fixture's bounded id space) arrive
  // one per original, striped by original id mod 3: batch-0 plants pair
  // pre-takedown, batch-1 plants find nothing (all ten dead), batch-2
  // plants of revived originals {2} re-find their standing rows while
  // {5, 8} stay dead — both arms non-vacuous by the stripe split. The
  // oracle is p132's chain with a batch-dependent excludeOld cut: {<10}
  // at arm 1, {[5,10)} at arm 2 — exactly the masked read's resolution
  // of the d1/r2 marker pair, applied to the prior bands AND docs
  // BEFORE the bucket-occupancy cap counts (where the engine's mask
  // sits). Incoming bounded to [250, 2250) for zipf1 replay
  // feasibility, the p132 bound.
  // =========================================================================
  def p146ReviveNearDup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val incoming = docs
      .filter(col("doc_id") >= 250 && col("doc_id") < 2250)
      .select(col("doc_id"), col("text"),
        pmod(col("doc_id"), lit(3)).as("batch"))
      .unionAll(docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text"),
          pmod(col("doc_id"), lit(3)).as("batch")))
    nearDupStream(spark, docs.filter(col("doc_id") < 250), incoming,
      col("batch")) {
      (r, id) =>
        if (id == 1L)
          graft.streaming.NearDupStream.tombstone(spark, r("idx"), r("docs"),
            0L until 10L, id)
        if (id == 2L) {
          // the claim is withdrawn for 0-4: the generic verb suffices on
          // mask-only stores — the retained rows come back into every
          // read, no repair needed (the p144 aHash precedent, on text)
          val rv = spark.range(5).select(col("id"))
          // independent marker roots — overlap the two revives (§2.6)
          graft.core.Par.run(
            () => graft.streaming.Versions.revive(spark, r("idx"), rv, id),
            () => graft.streaming.Versions.revive(spark, r("docs"), rv, id))
        }
    }
  }

  // arm 1 sees the full takedown; arm 2 sees it minus the revived 0-4
  // (newest verb wins). Plant ids are +10000000 and originals in the
  // incoming stream are >= 250, so the predicates name exactly the
  // marker ids at any corpus scale.
  val p146Sql: String = sqlNearDupStream(
    sqlTextStreamCtes("doc_id >= 250 AND doc_id < 2250",
      Seq(s"SELECT doc_id + 10000000, $sqlToks, doc_id % 3 FROM documents " +
        "WHERE doc_id < 10")),
    {
      case 1 => Some("id < 10")
      case 2 => Some("id >= 5 AND id < 10")
      case _ => None
    })

  // =========================================================================
  // p147 — THE FULL LICENSING LIFECYCLE IN THE PRODUCTION LOOP (VERDICT
  // r16 next #5): p145 ends at the takedown; the lifecycle a real
  // licensing pipeline runs continues — takedown → re-license → REVIVE →
  // the doc re-entering cluster state. Same fixture and loop as p145
  // (ingest → banded pairs → cluster fold → duplicate-of-canonical
  // verdict → journaled cross-store takedown at trigger 2), plus a
  // trigger-4 re-license: the claim on the planted run's original
  // canonical (40000000) is withdrawn, and the revive fans to every
  // store the takedown hit — Versions.revive on the band index + docs
  // store (mask-only), ClusterStream.revive's marker + component-local
  // MERGE repair on the cluster store. The revived doc reconnects
  // through the pairs it had when retracted (plus pairs folded against
  // it later — here none: batch-3 probes ran while it was dead, which is
  // exactly the revive-is-not-re-ingest contract), the run cluster
  // relabels to the returning min id, and the canonical RE-FLIPS from
  // the re-elected 40000001 back to 40000000 (identical plant scores →
  // tie → min id). 99/100/40000003 stay dead. The ingest arms also run
  // Takedown.guardReingest (VERDICT r16 next #4 — the capstone wiring):
  // a post-takedown batch carrying a dead id would refuse loud instead
  // of diverging. The oracle extends p145's fragment chain with a FOURTH
  // closure view over retained ∪ revived: pv3 = every pair ever written
  // (pv1 ∪ arm-2 pairs) with only the still-dead cut, dv3 = every doc
  // not still-dead — the masked read's newest-verb-wins resolution of
  // the d2/r4 marker pair — replaying assign/canon from scratch; the
  // verdict arms replay the fold-time views 0/1/2 unchanged.
  // =========================================================================
  def p147ReviveLoop(spark: SparkSession, dir: String): DataFrame =
    productionLoop(spark, dir, revive = true)

  val p147Sql: String = sqlProductionLoop(revive = true)

  // ---- registry -----------------------------------------------------------
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p01_dedup_exact" -> (p01DedupExact _),
    "p02_token_stats" -> (p02TokenStats _),
    "p03_text_quality" -> (p03TextQuality _),
    "p04_lang_stats" -> (p04LangStats _),
    "p05_lang_id" -> (p05LangId _),
    "p06_knn_brute" -> (p06KnnBrute _),
    "p07_ngram_jaccard" -> (p07NgramJaccard _),
    "p08_dedup_minhash" -> (p08DedupMinhash _),
    "p09_dedup_simhash" -> (p09DedupSimhash _),
    "p10_knn_lsh" -> (p10KnnLsh _),
    "p11_embed_neardup" -> (p11EmbedNearDup _),
    "p12_fingerprint" -> (p12Fingerprint _),
    "p13_event_windows" -> (p13EventWindows _),
    "p14_multimodal" -> (p14Multimodal _),
    "p15_sql_functions" -> (p15SqlFunctions _),
    "p16_knn_ivf" -> (p16KnnIvf _),
    "p17_curation" -> (p17Curation _),
    "p18_hash_split" -> (p18HashSplit _),
    "p19_knn_two_phase" -> (p19KnnTwoPhase _),
    "p20_repetition" -> (p20Repetition _),
    "p21_contamination" -> (p21Contamination _),
    "p22_knn_recall" -> (p22KnnRecall _),
    "p23_stream_windows" -> (p23StreamWindows _),
    "p24_neardup_clusters" -> (p24NearDupClusters _),
    "p25_token_count" -> (p25TokenCount _),
    "p26_dedup_fp_first" -> (p26DedupFingerprintFirst _),
    "p27_stream_sessions" -> (p27StreamSessions _),
    "p28_stream_dedup" -> (p28StreamDedup _),
    "p29_knn_pq" -> (p29KnnPq _),
    "p30_stream_join" -> (p30StreamJoin _),
    "p31_sample_stratified" -> (p31SampleStratified _),
    "p32_knn_ivfpq" -> (p32KnnIvfPq _),
    "p33_media_similarity" -> (p33MediaSimilarity _),
    "p34_text_normalize" -> (p34TextNormalize _),
    "p35_dedup_incremental" -> (p35DedupIncremental _),
    "p36_dedup_recall" -> (p36DedupRecall _),
    "p37_pack_chunks" -> (p37PackChunks _),
    "p38_top_ngrams" -> (p38TopNgrams _),
    "p39_domain_mix" -> (p39DomainMix _),
    "p40_graph_stats" -> (p40GraphStats _),
    "p41_cluster_centroids" -> (p41ClusterCentroids _),
    "p42_bm25" -> (p42Bm25 _),
    "p43_pii_redact" -> (p43PiiRedact _),
    "p44_canonical_keep" -> (p44CanonicalKeep _),
    "p45_column_profile" -> (p45ColumnProfile _),
    "p46_shuffle_shards" -> (p46ShuffleShards _),
    "p47_sliding_windows" -> (p47SlidingWindows _),
    "p48_keywords" -> (p48Keywords _),
    "p49_novelty" -> (p49Novelty _),
    "p50_pagerank" -> (p50PageRank _),
    "p51_stream_enrich" -> (p51StreamEnrich _),
    "p52_histogram" -> (p52Histogram _),
    "p53_contamination_bloom" -> (p53ContaminationBloom _),
    "p54_zorder" -> (p54ZOrder _),
    "p55_score_calibration" -> (p55ScoreCalibration _),
    "p56_curation_pipeline" -> (p56CurationPipeline _),
    "p57_corpus_upsert" -> (p57CorpusUpsert _),
    "p58_token_commonness" -> (p58TokenCommonness _),
    "p59_bigram_lm" -> (p59BigramLm _),
    "p60_snapshot_diff" -> (p60SnapshotDiff _),
    "p61_importance_sample" -> (p61ImportanceSample _),
    "p62_curation_shards" -> (p62CurationShards _),
    "p63_hybrid_rrf" -> (p63HybridRrf _),
    "p64_training_mix" -> (p64TrainingMix _),
    "p65_cluster_sizes" -> (p65ClusterSizes _),
    "p66_dup_passages" -> (p66DupPassages _),
    "p67_passage_strip" -> (p67PassageStrip _),
    "p68_semdedup" -> (p68SemDedup _),
    "p69_curation_semantic" -> (p69CurationSemantic _),
    "p70_hll_distinct" -> (p70HllDistinct _),
    "p71_kcore" -> (p71KCore _),
    "p72_split_leakage" -> (p72SplitLeakage _),
    "p73_passage_incremental" -> (p73PassageIncremental _),
    "p74_coreness" -> (p74Coreness _),
    "p75_stream_passage_filter" -> (p75StreamPassageFilter _),
    "p76_ivf_recall_scaled" -> (p76IvfRecallScaled _),
    "p77_minhash_incremental" -> (p77MinhashIncremental _),
    "p78_count_min" -> (p78CountMin _),
    "p79_stream_neardup_filter" -> (p79StreamNearDupFilter _),
    "p80_quantile_sketch" -> (p80QuantileSketch _),
    "p81_ewma" -> (p81Ewma _),
    "p82_embed_standardize" -> (p82EmbedStandardize _),
    "p83_funnel" -> (p83Funnel _),
    "p84_outliers" -> (p84Outliers _),
    "p85_jaccard_join" -> (p85JaccardJoin _),
    "p86_stream_funnel" -> (p86StreamFunnel _),
    "p87_ivfpq_recall_scaled" -> (p87IvfPqRecallScaled _),
    "p88_stream_ewma" -> (p88StreamEwma _),
    "p89_stream_compacted" -> (p89StreamCompacted _),
    "p90_bpe_vocab" -> (p90BpeVocab _),
    "p91_interval_join" -> (p91IntervalJoin _),
    "p92_weighted_sample" -> (p92WeightedSample _),
    "p93_stream_kmeans" -> (p93StreamKmeans _),
    "p94_containment_join" -> (p94ContainmentJoin _),
    "p95_bpe_tokenize" -> (p95BpeTokenize _),
    "p96_containment_incremental" -> (p96ContainmentIncremental _),
    "p97_bpe_batched" -> (p97BpeVocabBatched _),
    "p98_repetition_stats" -> (p98RepetitionStats _),
    "p99_editdist_neardup" -> (p99EditDistNearDup _),
    "p100_pca_project" -> (p100PcaProject _),
    "p101_pca_semdedup" -> (p101PcaSemDedup _),
    "p102_token_fertility" -> (p102TokenFertility _),
    "p103_ivf_relational" -> (p103IvfRelational _),
    "p104_ivfpq_relational" -> (p104IvfPqRelational _),
    "p105_stream_ivf_index" -> (p105StreamIvfIndex _),
    "p106_ivf_sampled" -> (p106IvfSampled _),
    "p107_stream_pca" -> (p107StreamPca _),
    "p108_stream_bm25" -> (p108StreamBm25 _),
    "p109_stream_hll" -> (p109StreamHll _),
    "p110_stream_countmin" -> (p110StreamCountMin _),
    "p111_stream_quantiles" -> (p111StreamQuantiles _),
    "p112_stream_bloom" -> (p112StreamBloom _),
    "p113_stream_decontam" -> (p113StreamDecontam _),
    "p114_stream_ingest" -> (p114StreamIngest _),
    "p115_ivf_rebuild" -> (p115IvfRebuild _),
    "p116_image_neardup" -> (p116ImageNearDup _),
    "p117_stream_image_index" -> (p117StreamImageIndex _),
    "p118_video_frame_profile" -> (p118VideoFrameProfile _),
    "p119_audio_fingerprint" -> (p119AudioFingerprint _),
    "p120_quantile_rebuild" -> (p120QuantileRebuild _),
    "p121_bloom_rebuild" -> (p121BloomRebuild _),
    "p122_stream_audio_index" -> (p122StreamAudioIndex _),
    "p123_stream_video_index" -> (p123StreamVideoIndex _),
    "p124_audio_neardup" -> (p124AudioNearDup _),
    "p125_video_containment" -> (p125VideoContainment _),
    "p126_stream_audio_neardup" -> (p126StreamAudioNearDup _),
    "p127_stream_video_containment" -> (p127StreamVideoContainment _),
    "p128_media_ingest_capstone" -> (p128MediaIngestCapstone _),
    "p129_pq_rebuild" -> (p129PqRebuild _),
    "p130_audio_containment" -> (p130AudioContainment _),
    "p131_stream_text_containment" -> (p131StreamTextContainment _),
    "p132_tombstone_neardup" -> (p132TombstoneNearDup _),
    "p133_tombstone_bm25" -> (p133TombstoneBm25 _),
    "p134_tombstone_containment" -> (p134TombstoneContainment _),
    "p135_tombstone_ivf" -> (p135TombstoneIvf _),
    "p136_tombstone_sweep" -> (p136TombstoneSweep _),
    "p137_tombstone_ahash" -> (p137TombstoneAHash _),
    "p138_tombstone_mediafp" -> (p138TombstoneMediaFp _),
    "p139_takedown_capstone" -> (p139TakedownCapstone _),
    "p140_stream_clusters" -> (p140StreamClusters _),
    "p141_ridge_quality" -> (p141RidgeQuality _),
    "p142_ridge_wide" -> (p142RidgeWide _),
    "p143_logistic_quality" -> (p143LogisticQuality _),
    "p144_revive_ahash" -> (p144ReviveAHash _),
    "p145_production_loop" -> (p145ProductionLoop _),
    "p146_revive_neardup" -> (p146ReviveNearDup _),
    "p147_revive_loop" -> (p147ReviveLoop _))

  val oracleSql: Map[String, String] = Map(
    "p01_dedup_exact" -> p01Sql,
    "p02_token_stats" -> p02Sql,
    "p03_text_quality" -> p03Sql,
    "p04_lang_stats" -> p04Sql,
    "p05_lang_id" -> p05Sql,
    "p06_knn_brute" -> p06Sql,
    "p07_ngram_jaccard" -> p07Sql,
    "p08_dedup_minhash" -> p08Sql,
    "p09_dedup_simhash" -> p09Sql,
    "p10_knn_lsh" -> p10Sql,
    "p11_embed_neardup" -> p11Sql,
    "p12_fingerprint" -> p12Sql,
    "p13_event_windows" -> p13Sql,
    "p15_sql_functions" -> p15Sql,
    "p16_knn_ivf" -> p16Sql,
    "p17_curation" -> p17Sql,
    "p18_hash_split" -> p18Sql,
    "p19_knn_two_phase" -> p06Sql,
    "p20_repetition" -> p20Sql,
    "p21_contamination" -> p21Sql,
    "p22_knn_recall" -> p22Sql,
    "p23_stream_windows" -> p23Sql,
    "p24_neardup_clusters" -> p24Sql,
    "p25_token_count" -> p25Sql,
    "p26_dedup_fp_first" -> p01Sql,
    "p27_stream_sessions" -> p27Sql,
    "p28_stream_dedup" -> p28Sql,
    "p29_knn_pq" -> p29Sql,
    "p30_stream_join" -> p30Sql,
    "p32_knn_ivfpq" -> p32Sql,
    "p31_sample_stratified" -> p31Sql,
    "p34_text_normalize" -> p34Sql,
    "p35_dedup_incremental" -> p35Sql,
    "p36_dedup_recall" -> p36Sql,
    "p37_pack_chunks" -> p37Sql,
    "p38_top_ngrams" -> p38Sql,
    "p39_domain_mix" -> p39Sql,
    "p40_graph_stats" -> p40Sql,
    "p41_cluster_centroids" -> p41Sql,
    "p42_bm25" -> p42Sql,
    "p43_pii_redact" -> p43Sql,
    "p44_canonical_keep" -> p44Sql,
    "p45_column_profile" -> p45Sql,
    "p46_shuffle_shards" -> p46Sql,
    "p47_sliding_windows" -> p47Sql,
    "p48_keywords" -> p48Sql,
    "p49_novelty" -> p49Sql,
    "p50_pagerank" -> p50Sql,
    "p51_stream_enrich" -> p51Sql,
    "p52_histogram" -> p52Sql,
    "p53_contamination_bloom" -> p21Sql,
    "p54_zorder" -> p54Sql,
    "p55_score_calibration" -> p55Sql,
    "p56_curation_pipeline" -> p56Sql,
    "p57_corpus_upsert" -> p57Sql,
    "p58_token_commonness" -> p58Sql,
    "p59_bigram_lm" -> p59Sql,
    "p60_snapshot_diff" -> p60Sql,
    "p61_importance_sample" -> p61Sql,
    "p62_curation_shards" -> p62Sql,
    "p63_hybrid_rrf" -> p63Sql,
    "p64_training_mix" -> p64Sql,
    "p65_cluster_sizes" -> p65Sql,
    "p66_dup_passages" -> p66Sql,
    "p67_passage_strip" -> p67Sql,
    "p68_semdedup" -> p68Sql,
    "p69_curation_semantic" -> p69Sql,
    "p70_hll_distinct" -> p70Sql,
    "p71_kcore" -> p71Sql,
    "p72_split_leakage" -> p72Sql,
    "p73_passage_incremental" -> p73Sql,
    "p74_coreness" -> p74Sql,
    "p75_stream_passage_filter" -> p75Sql,
    "p76_ivf_recall_scaled" -> p76Sql,
    "p77_minhash_incremental" -> p77Sql,
    "p78_count_min" -> p78Sql,
    "p79_stream_neardup_filter" -> p79Sql,
    "p80_quantile_sketch" -> p80Sql,
    "p81_ewma" -> p81Sql,
    "p82_embed_standardize" -> p82Sql,
    "p83_funnel" -> p83Sql,
    "p84_outliers" -> p84Sql,
    "p85_jaccard_join" -> p85Sql,
    "p86_stream_funnel" -> p86Sql,
    "p87_ivfpq_recall_scaled" -> p87Sql,
    "p88_stream_ewma" -> p88Sql,
    "p89_stream_compacted" -> p89Sql,
    "p90_bpe_vocab" -> p90Sql,
    "p91_interval_join" -> p91Sql,
    "p92_weighted_sample" -> p92Sql,
    "p93_stream_kmeans" -> p93Sql,
    "p94_containment_join" -> p94Sql,
    "p95_bpe_tokenize" -> p95Sql,
    "p96_containment_incremental" -> p96Sql,
    "p97_bpe_batched" -> p97Sql,
    "p98_repetition_stats" -> p98Sql,
    "p99_editdist_neardup" -> p99Sql,
    "p100_pca_project" -> p100Sql,
    "p101_pca_semdedup" -> p101Sql,
    "p102_token_fertility" -> p102Sql,
    "p103_ivf_relational" -> p103Sql,
    "p104_ivfpq_relational" -> p104Sql,
    "p105_stream_ivf_index" -> p105Sql,
    "p106_ivf_sampled" -> p106Sql,
    "p107_stream_pca" -> p107Sql,
    "p108_stream_bm25" -> p108Sql,
    "p109_stream_hll" -> p109Sql,
    "p110_stream_countmin" -> p110Sql,
    "p111_stream_quantiles" -> p111Sql,
    "p112_stream_bloom" -> p112Sql,
    "p113_stream_decontam" -> p113Sql,
    "p114_stream_ingest" -> p114Sql,
    "p115_ivf_rebuild" -> p115Sql,
    "p116_image_neardup" -> p116Sql,
    "p117_stream_image_index" -> p117Sql,
    "p118_video_frame_profile" -> p118Sql,
    "p119_audio_fingerprint" -> p119Sql,
    "p120_quantile_rebuild" -> p120Sql,
    "p121_bloom_rebuild" -> p121Sql,
    "p122_stream_audio_index" -> p122Sql,
    "p123_stream_video_index" -> p123Sql,
    "p124_audio_neardup" -> p124Sql,
    "p125_video_containment" -> p125Sql,
    "p126_stream_audio_neardup" -> p126Sql,
    "p127_stream_video_containment" -> p127Sql,
    "p128_media_ingest_capstone" -> p128Sql,
    "p129_pq_rebuild" -> p129Sql,
    "p130_audio_containment" -> p130Sql,
    "p131_stream_text_containment" -> p131Sql,
    "p132_tombstone_neardup" -> p132Sql,
    "p133_tombstone_bm25" -> p133Sql,
    "p134_tombstone_containment" -> p134Sql,
    "p135_tombstone_ivf" -> p135Sql,
    "p136_tombstone_sweep" -> p136Sql,
    "p137_tombstone_ahash" -> p137Sql,
    "p138_tombstone_mediafp" -> p138Sql,
    "p139_takedown_capstone" -> p139Sql,
    "p140_stream_clusters" -> p140Sql,
    "p141_ridge_quality" -> p141Sql,
    "p142_ridge_wide" -> p142Sql,
    "p143_logistic_quality" -> p143Sql,
    "p144_revive_ahash" -> p144Sql,
    "p145_production_loop" -> p145Sql,
    "p146_revive_neardup" -> p146Sql,
    "p147_revive_loop" -> p147Sql)
}
