package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector math over `array<float|double>` columns, composed from
  * codegen'd higher-order built-ins (`zip_with`/`aggregate`). Used by the
  * similarity-search and embedding-dedup operators.
  *
  * All math is done in double after an exact float→double widening, with a
  * fixed left-to-right summation order — reproducible anywhere, including in
  * the DuckDB oracle (see `queries/Pipeline.scala`).
  */
object VectorFunctions {

  /** Exact widening of array<float> → array<double>. */
  def asDouble(v: Column): Column = v.cast("array<double>")

  /** Σ a_i·b_i, left-to-right. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (s, x) => s + x)

  /** Σ a_i², left-to-right. */
  def normSq(a: Column): Column =
    aggregate(a, lit(0.0), (s, x) => s + x * x)

  def norm(a: Column): Column = sqrt(normSq(a))

  /** Cosine similarity with zero-vector guard (0.0 for degenerate inputs).
    * Formula is dot/(√‖a‖²·√‖b‖²) with that exact operation order.
    * Delegates to the native single-pass expression
    * ([[CosineSimilarityExpr]]) — bit-identical to the composed
    * `dot(ad,bd)/(norm(ad)*norm(bd))` form, without the interpreted
    * higher-order-function overhead. */
  def cosine(a: Column, b: Column): Column = VectorExpressions.cosine(a, b)

  /** Deterministic pseudo-random hyperplanes (SplitMix64-seeded, mapped to
    * [-1,1]) — stable across sessions so LSH buckets are reproducible. */
  def seededPlanes(nPlanes: Int, dim: Int, seed: Long): Seq[Seq[Double]] =
    Seq.tabulate(nPlanes) { t =>
      Seq.tabulate(dim) { d =>
        val u = Hash64.mix(seed + t.toLong * 131071L + d)
        // map to [-1, 1) via the top 53 bits
        (u >>> 11).toDouble / (1L << 52).toDouble - 1.0
      }
    }
}
