package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** IVF with the centroid bank as a RELATION — the unbounded-cell-count
  * scale path that [[Similarity.ivfCentroidsTrained]]'s driver-held bank
  * cannot reach.
  *
  * The driver-bank form is fastest per row (the bank rides into codegen
  * as one reference object feeding a tight kernel loop — NOT literal
  * code, so there is no generated-code-size ceiling), but it is
  * DRIVER-BOUNDED: every Lloyd round `collect()`s cells×dim aggregate
  * rows to the driver and re-ships the whole bank inside the next
  * round's task closures. Model-sized banks (128×64) don't notice; the
  * scale-correct policy does. The r8 sf1 probe measured why cells must
  * grow: pinned at 128 while the corpus grows 10× means 10× occupancy,
  * and the pinned nProbe=48's recall rots 0.98 → 0.84 (SURVEY §6 "sf1
  * scale probes", probe last at `dc914e8`: 96 probes restore 1.00).
  * Cells ∝ corpus keeps occupancy constant — but at 100 TB that is
  * 10⁵–10⁶ cells, where per-round driver pulls and per-task closure
  * shipping of a multi-GB bank are the bottleneck, so
  * the bank must be data end to end, not a driver array.
  *
  * Everything here is plain DataFrame algebra: assignment is a broadcast
  * cross join with the bank plus a map-side `min(struct(dist, cell))`
  * partial aggregation (only one row per vector crosses the exchange —
  * the n·cells distance rows collapse before the wire), and training is
  * the same decimal-staged Lloyd update as the literal path, so banks are
  * bit-identical across partitionings and the existing `ivfBankCtes`
  * DuckDB replay verifies this engine unchanged. The distance is the
  * `seqSqDist` fold (0.0-seeded left fold, dims ascending), ties to the
  * lower cell — the `nearestCentroids` kernel's exact contract.
  *
  * The bank never touches the driver: train → probe composes as pure
  * plans (each round's bank is `localCheckpoint`ed — model-sized — to
  * stop lineage stacking across Lloyd rounds).
  */
object IvfRelational {

  /** Squared-L2 as the `seqSqDist` rounding sequence: 0.0-seeded left
    * fold, dimensions ascending, `(a_i - b_i)²` terms — evaluated by the
    * native codegen'd [[graft.functions.SeqSqDistExpr]] kernel (identical
    * IEEE op chain to the Column-HOF form it replaced, so banks stay
    * bit-identical; the HOF allocated a dim-length `sequence` and ran an
    * interpreted lambda chain n·cells times per scan — VERDICT r9 #2). */
  private def sqDist(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.seqSqDist(a, b)

  /** The stride-sample seed bank as a relation: of the first
    * `nCells·stride` corpus rows by id, every `stride`-th vector becomes
    * cell `(rank-1)/stride`. The single-partition window (Spark warns "No
    * Partition Defined for Window operation") runs on the ALREADY-LIMITED
    * prefix (≤ nCells·stride rows — model-sized), never the corpus. */
  def seedBank(corpus: DataFrame, nCells: Int, stride: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    corpus.orderBy(col(idCol)).limit(nCells * stride)
      .select(col(idCol).as("__id"), col(vecCol).cast("array<double>").as("cv"))
      .withColumn("__rn", row_number().over(Window.orderBy(col("__id"))))
      .filter((col("__rn") - 1) % stride === 0 &&
        (col("__rn") - 1) / stride < nCells)
      .select((((col("__rn") - 1) / stride)).cast("int").as("cell"), col("cv"))

  /** Nearest-cell assignment under a bank RELATION `bank(cell, cv)`:
    * broadcast cross join + argmin of the seqSqDist fold, ties to the
    * lower cell. Partial aggregation collapses the n·cells distance rows
    * map-side; the exchange carries one row per vector. Returns
    * (id, v, cell). */
  def assign(corpus: DataFrame, bank: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    corpus
      .select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .crossJoin(broadcast(bank))
      .withColumn("__d", sqDist(col("v"), col("cv")))
      .groupBy(col("id"))
      // v rides INSIDE the argmin struct: (__d, cell) is already unique
      // per id (cell breaks distance ties), so the comparison never
      // reaches v and the single min buffer carries it for free — one
      // aggregate instead of the r9 min+max pair
      .agg(min(struct(col("__d"), col("cell"), col("v"))).as("__m"))
      .select(col("id"), col("__m.v").as("v"), col("__m.cell").as("cell"))

  /** `iters` decimal-staged Lloyd rounds from the stride seed, entirely
    * as DataFrames — the bank is data end to end. Each round: one
    * broadcast-assign scan + one (cell, pos)-keyed exact-DECIMAL partial
    * aggregation (≤ cells·dim rows cross the exchange); an emptied cell
    * keeps its previous centroid. Returns the bank relation (cell, cv),
    * bit-identical to [[Similarity.ivfCentroidsTrained]] under the same
    * (nCells, iters, stride).
    *
    * Training cost is n·cells distance folds per round — with cells ∝
    * corpus that is quadratic in n. The standard remedy composes here for
    * free: train on a SAMPLE (`trainBank(corpus.filter(...), ...)` — bank
    * quality needs a representative sample, not every vector; a fixed
    * per-cell sample budget makes training cost ∝ cells alone), then
    * [[assign]]/[[topK]] the full corpus under the trained bank — those
    * stay one scan each regardless. */
  def trainBank(corpus: DataFrame, nCells: Int, iters: Int = 3,
      stride: Int = 50, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    var bank = seedBank(corpus, nCells, stride, idCol, vecCol)
      .localCheckpoint(true)
    var it = 0
    while (it < iters) {
      val means = assign(corpus, bank, idCol, vecCol)
        .select(col("cell"), posexplode(col("v")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(col("col").cast(DecimalType(38, 18))).as("__s"),
          count(lit(1)).as("__n"))
        .groupBy(col("cell"))
        .agg(array_sort(collect_list(struct(col("pos"),
          (col("__s").cast("double") / col("__n")).as("m")))).as("__pm"))
        .select(col("cell"),
          transform(col("__pm"), e => e.getField("m")).as("__nc"))
      bank = bank.join(means, Seq("cell"), "left")
        .select(col("cell"), coalesce(col("__nc"), col("cv")).as("cv"))
        .localCheckpoint(true)
      it += 1
    }
    bank
  }

  /** The query→probed-cells relation under the bank: each query's
    * `nProbe` nearest cells by the same (dist, cell) order the assign
    * argmin uses. Returns (query_id, qv, cell) — one row per probe. */
  private def probeCells(queries: DataFrame, bank: DataFrame, nProbe: Int,
      idCol: String, vecCol: String): DataFrame =
    queries
      .select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qv"))
      .crossJoin(broadcast(bank))
      .withColumn("__d", sqDist(col("qv"), col("cv")))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("__d").asc, col("cell").asc)))
      .filter(col("__rn") <= nProbe)
      .select(col("query_id"), col("qv"), col("cell"))

  /** IVF top-k with the relation-form bank: each query probes its
    * `nProbe` nearest cells (same (dist, cell) order), candidates are the
    * probed cells' members, exact cosine rerank keeps k. Queries+probes
    * broadcast; the corpus is scanned once for assignment and never
    * shuffled on anything but its cell. Returns
    * (query_id, rank, neighbor_id, sim). */
  def topK(queries: DataFrame, corpus: DataFrame, bank: DataFrame,
      k: Int, nProbe: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    import graft.functions.VectorExpressions.cosine
    val probes = probeCells(queries, bank, nProbe, idCol, vecCol)
    val assigned = assign(corpus, bank, idCol, vecCol)
      .select(col("id").as("neighbor_id"), col("v").as("nv"), col("cell"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    assigned.join(broadcast(probes), "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosine(col("qv"), col("nv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"))
  }

  /** [[topK]] over a PRE-ASSIGNED index relation — the probe-session form
    * for persisted/assembled indexes ([[graft.streaming.IvfStream
    * .readIndex]]'s (neighbor_id, cell, v) shape): the corpus is NOT
    * re-assigned (no bank distance scan over standing vectors — the
    * assignment already happened, once, at ingest), the index stays a
    * plain scan the broadcast probes join on `cell`, and candidates
    * rerank by exact cosine exactly as [[topK]] does. The bank must be
    * the one the index was assigned under (the `ivfTopK` corpusIndex
    * contract — [[graft.streaming.IvfStream.checkBank]] pins it for the
    * streaming store). Returns (query_id, rank, neighbor_id, sim). */
  def topKIndexed(queries: DataFrame, index: DataFrame, bank: DataFrame,
      k: Int, nProbe: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    import graft.functions.VectorExpressions.cosine
    val probes = probeCells(queries, bank, nProbe, idCol, vecCol)
    val assigned = index.select(col("neighbor_id"),
      col("v").cast("array<double>").as("nv"), col("cell"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    assigned.join(broadcast(probes), "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosine(col("qv"), col("nv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"))
  }

  /** The IVF-PQ index relation under a RELATION coarse bank: one corpus
    * scan — cell from the broadcast-assign argmin, codes from the
    * `pqCodes` kernel. The codebooks stay a driver-side model artifact by
    * design: nCodes is a fixed quantization RESOLUTION (≤ 256 for 8-bit
    * codes), so they are model-sized at ANY corpus scale — only the
    * coarse bank grows with data, and it is a relation here (the
    * SCALING.md "what grows and what doesn't" split). Persist with
    * `.write.bucketBy(n, "cell")` for probe reuse. */
  def ivfPqIndex(corpus: DataFrame, bank: DataFrame,
      banks: Array[Array[Array[Double]]],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import graft.functions.VectorExpressions.pqCodes
    assign(corpus, bank, idCol, vecCol)
      .select(col("id").as("neighbor_id"), col("cell"),
        pqCodes(col("v"), banks).as("codes"))
  }

  /** IVF-PQ top-k with the relation coarse bank — the billion-scale
    * layout with its scale-sensitive half (the coarse bank) as data:
    * probed cells' rows are scored from their RECONSTRUCTED codes, true
    * vectors are fetched only for the k·refine survivors. Row-identical
    * to [[Similarity.ivfPqTopK]] under a bit-identical bank (same
    * argmin, same codes, same rerank tie-breaks). */
  def topKPq(queries: DataFrame, corpus: DataFrame, bank: DataFrame,
      banks: Array[Array[Array[Double]]], k: Int, nProbe: Int,
      refine: Int = 24, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    import graft.functions.VectorExpressions.{cosine, pqDecode}
    val idx = ivfPqIndex(corpus, bank, banks, idCol, vecCol)
    val probes = probeCells(queries, bank, nProbe, idCol, vecCol)
    val wApprox = Window.partitionBy(col("query_id"))
      .orderBy(col("asim").desc, col("neighbor_id").asc)
    val survivors = idx.join(broadcast(probes), "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("asim", cosine(col("qv"), pqDecode(col("codes"), banks)))
      .withColumn("arank", row_number().over(wApprox))
      .filter(col("arank") <= k * refine)
      .select(col("query_id"), col("neighbor_id"))
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv")))
    val cv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    survivors.join(q, "query_id").join(cv, "neighbor_id")
      .withColumn("sim", cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("sim"))
  }
}
