package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed principal-component analysis over an embedding corpus —
  * the whitening / dimensionality-reduction pass that precedes semantic
  * dedup and ANN indexing in an LLM data pipeline (SemDeDup-style
  * curation typically runs on PCA-reduced vectors).
  *
  * Architecture (the 100 TB shape):
  *   1. ONE scan computes every covariance ingredient — per-dim sums and
  *      all upper-triangle pairwise product sums — as a scan-shaped
  *      explode of d + d(d+1)/2 terms per vector into a partial-aggregated
  *      groupBy with d(d+3)/2 groups (for d=64: 2,144). Map-side combine
  *      collapses each partition to one row per group, so the exchange
  *      carries a model-sized relation regardless of corpus size.
  *   2. The d×d covariance matrix (model-sized) folds to the DRIVER, which
  *      runs `iters` rounds of power iteration with Hotelling deflation
  *      for the top-k components — O(k·iters·d²) scalar flops, microseconds
  *      at d=64; no cluster round-trips per iteration (contrast: an RSVD on
  *      the cluster would pay a shuffle per multiply).
  *   3. ONE more scan projects every vector onto the k components — a pure
  *      codegen'd projection with the mean and components embedded as
  *      array literals. No join, no shuffle.
  *
  * Determinism bridge (the p82/p93 discipline): sums are decimal-staged —
  * `CAST(x AS DECIMAL(38,18))` termwise, summed exactly, so the result is
  * bit-identical under any partitioning — and every double fold downstream
  * (matvec, norm, projection) is a 0.0-seeded LEFT fold in a fixed order,
  * so a DuckDB oracle replays the whole decomposition bit-for-bit:
  * covariance from the VARCHAR-bridged decimal sums, power iteration as
  * unrolled per-iteration CTEs with `list_reduce(list_prepend(0.0, …))`
  * folds, projection with the identical term order. IEEE sqrt/divide are
  * correctly rounded, so equal inputs give equal doubles in both engines.
  *
  * The fixed iteration count is part of the SPEC, not a convergence
  * heuristic: both engines run exactly `iters` rounds from the exact
  * uniform start vector 1/√d, so the result is a deterministic function
  * of the data even where eigenvalues are nearly degenerate.
  *
  * The reference has no linear-algebra surface at all; this extends §2c's
  * "similarity search" embedding family. Power iteration per Mises &
  * Pollaczek-Geiringer (1929); deflation per Hotelling (1933).
  */
object Decomp {

  /** Fitted model: per-dim means, top-k components (rows), eigenvalue
    * estimates (the final iteration's pre-normalization norm). */
  final case class PcaModel(mean: Array[Double], components: Array[Array[Double]],
      eigenvalues: Array[Double])

  /** The covariance-moment relation of `vecCol` — (i, -1) rows carry
    * per-dim decimal sums, (i, j>=i) rows the upper-triangle product
    * sums, each with its non-null term count. ONE native imperative
    * aggregate ([[graft.functions.CovMomentsAgg]]): each partition fuses
    * its vectors into a local exact-decimal matrix and only model-sized
    * buffers merge. Exact decimal addition makes the relation
    * ASSOCIATIVE in the corpus: moments of a union = the (i, j)-wise sum
    * of per-part moments, bit-for-bit — the property
    * [[graft.streaming.PcaStream]]'s model-sized deltas rest on. */
  def moments(corpus: DataFrame, vecCol: String = "embedding"): DataFrame =
    corpus.filter(col(vecCol).isNotNull)
      .select(col(vecCol).cast("array<double>").as("v"))
      .filter(size(col("v")) > 0)
      .agg(graft.functions.CovMomentsAgg.covMoments(col("v")).as("m"))
      .select(explode(col("m")).as("e"))
      .select(col("e.i").as("i"), col("e.j").as("j"), col("e.s").as("s"),
        col("e.cnt").as("cnt"))

  /** Fit the top-`k` principal components of `vecCol` (array<float|double>)
    * with `iters` power-iteration rounds per component. One scan + one
    * model-sized exchange + one driver-side O(k·iters·d²) solve.
    * Fails loud on ragged vector lengths (a silent mix of dims would
    * corrupt every covariance entry). */
  def pcaFit(corpus: DataFrame, k: Int = 2, iters: Int = 16,
      vecCol: String = "embedding"): PcaModel = {
    // one pass: see [[moments]]; non-null term counts per group double
    // as the corruption check — both a ragged length mix AND a NULL
    // element inside an array (which a sum silently skips while a row
    // count still includes it) surface as unequal group counts and fail
    // loud instead of corrupting the model. Bit-identical to the
    // equivalent explode → groupBy formulation (same Double.toString
    // decimal staging, exact addition) and ~2.7× faster
    // (SURVEY §8 "Round-9 deltas"; the profile, last at `dc914e8`, also
    // re-verified the 0/2,144-group exact equality)
    fitFromMoments(moments(corpus, vecCol).collect().map(r =>
      (r.getInt(0), r.getInt(1), r.getDecimal(2), r.getLong(3))), k, iters)
  }

  /** The driver-side solve from a collected [[moments]] relation —
    * mean/covariance exactly as the oracle's expression tree, then `iters`
    * power-iteration rounds with Hotelling deflation per component.
    * Factored out of [[pcaFit]] so [[graft.streaming.PcaStream]] can fit
    * from FOLDED moment deltas (exact decimal sums ⇒ the chained fit is
    * bit-identical to a one-shot fit over the union). */
  def fitFromMoments(momentRows: Seq[(Int, Int, java.math.BigDecimal, Long)],
      k: Int, iters: Int): PcaModel = {
    val rows = momentRows
    require(rows.nonEmpty, "pcaFit: empty corpus")
    val counts = rows.map(_._4).distinct
    require(counts.length == 1,
      s"pcaFit: ragged vector lengths or NULL elements " +
        s"(group counts ${counts.sorted.toSeq})")
    val n = counts.head.toDouble
    val d = rows.map(_._1).max + 1
    require(k >= 1 && k <= d, s"pcaFit: k=$k out of range for dim $d")

    // mirror the oracle's expression tree exactly: decimal → double cast,
    // then s/n and s2/n − mu_i·mu_j in doubles
    val mu = Array.ofDim[Double](d)
    val cov = Array.ofDim[Double](d, d)
    rows.foreach { case (i, j, s, _) =>
      if (j == -1) mu(i) = s.doubleValue / n
    }
    rows.foreach { case (i, j, s, _) =>
      if (j >= 0) {
        val c = s.doubleValue / n - mu(i) * mu(j)
        cov(i)(j) = c
        cov(j)(i) = c
      }
    }

    var m = cov
    val comps = Array.ofDim[Double](k, d)
    val eigs = Array.ofDim[Double](k)
    val v0 = 1.0 / math.sqrt(d.toDouble)
    for (c <- 0 until k) {
      var v = Array.fill(d)(v0)
      var lam = 0.0
      for (_ <- 0 until iters) {
        // matvec: 0.0-seeded left fold over j ascending (= the oracle's
        // list_reduce(list_prepend(0.0, …)))
        val w = Array.tabulate(d) { i =>
          var acc = 0.0
          var j = 0
          while (j < d) { acc = acc + m(i)(j) * v(j); j += 1 }
          acc
        }
        var sq = 0.0
        var i = 0
        while (i < d) { sq = sq + w(i) * w(i); i += 1 }
        val nrm = math.sqrt(sq)
        require(nrm > 0.0,
          s"pcaFit: power iteration collapsed (component $c) — " +
        "the deflated matrix annihilated the start vector")
        lam = nrm
        v = w.map(_ / nrm)
      }
      comps(c) = v
      eigs(c) = lam
      val prev = m
      m = Array.tabulate(d, d)((i, j) => prev(i)(j) - lam * v(i) * v(j))
    }
    PcaModel(mu, comps, eigs)
  }

  /** Project every vector onto `model`'s components: pure codegen'd scan,
    * mean/components embedded as literals. Output columns `pc1..pck`
    * (0.0-seeded left-fold dot products — the oracle's term order).
    * Only vectors of EXACTLY the model's dimension project: an empty
    * vector would make `sequence(0, -1)` descend (ANSI error) and a
    * short one would silently truncate the dot product — both excluded
    * here, consistent with [[pcaFit]]'s fail-loud ragged check (the r8
    * per-row contract). The DEGENERATE drop — a non-empty corpus where
    * NO vector matches, i.e. the model itself is wrong-dimensioned —
    * fails loud instead of returning an empty frame with no signal (r9
    * advice); the guard is `isEmpty` on the conforming set, which reads
    * one row when healthy and pays a scan only on the way to the error. */
  def pcaProject(corpus: DataFrame, model: PcaModel,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val ve = corpus.filter(col(vecCol).isNotNull)
      .select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
      .filter(size(col("__v")) === model.mean.length)
    require(!ve.isEmpty || corpus.filter(col(vecCol).isNotNull).isEmpty,
      s"pcaProject: non-empty corpus but no vector has the model's " +
        s"dimension ${model.mean.length} — projecting with a model fitted " +
        "on different-dimensional data?")
    // one native codegen'd fold per component — the identical 0.0-seeded
    // ascending (v_i − mu_i)·pc_i IEEE chain the prior Column-HOF form
    // (and the DuckDB oracle) evaluates, with mean/component as reference
    // objects instead of a dim-length literal array + interpreted lambda
    // chain per row (see graft.functions.CenteredDotExpr)
    ve.select(col(idCol) +:
      model.components.zipWithIndex.map { case (pc, c) =>
        graft.functions.VectorExpressions.centeredDot(col("__v"),
          model.mean, pc).as(s"pc${c + 1}")
      }: _*)
  }

  /** Fit + project in one call (the registry shape). */
  def pca(corpus: DataFrame, k: Int = 2, iters: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    pcaProject(corpus, pcaFit(corpus, k, iters, vecCol), idCol, vecCol)
}
