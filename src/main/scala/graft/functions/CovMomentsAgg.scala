package graft.functions

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.math.{BigDecimal => JBigDecimal, BigInteger, RoundingMode}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types._

/** Partition-local accumulator for [[CovMomentsAgg]]: one exact-decimal
  * sum + one non-null term count per covariance group (d per-dim groups
  * followed by the d(d+1)/2 packed upper triangle). Grows (with repack)
  * if a longer vector arrives, so ragged corpora surface as unequal
  * group counts downstream — the same fail-loud contract as the explode
  * formulation this aggregate replaces. */
final class CovBuffer(var d: Int, var sums: Array[JBigDecimal],
    var counts: Array[Long]) {

  @inline def size(d: Int): Int = d + d * (d + 1) / 2
  /** dims [0, d) first, then pairs row-major from the diagonal:
    * idx(i,j) = d + Σ_{r<i}(d−r) + (j−i). */
  @inline def pairIdx(i: Int, j: Int): Int =
    d + i * d - i * (i - 1) / 2 + (j - i)

  def growTo(nd: Int): Unit = {
    if (d < 0) {
      d = nd
      sums = Array.fill(size(nd))(JBigDecimal.ZERO)
      counts = new Array[Long](size(nd))
    } else if (nd > d) {
      val od = d
      val osums = sums; val ocounts = counts
      d = nd
      sums = Array.fill(size(nd))(JBigDecimal.ZERO)
      counts = new Array[Long](size(nd))
      var i = 0
      while (i < od) {
        sums(i) = osums(i); counts(i) = ocounts(i)
        var j = i
        while (j < od) {
          val nk = pairIdx(i, j)
          val ok = od + i * od - i * (i - 1) / 2 + (j - i)
          sums(nk) = osums(ok); counts(nk) = ocounts(ok)
          j += 1
        }
        i += 1
      }
    }
  }
}

/** The PCA covariance-moment pass as ONE native imperative aggregate:
  * per partition, every vector's d per-dim terms and d(d+1)/2
  * upper-triangle product terms accumulate into a local exact-BigDecimal
  * matrix; partials merge by exact addition. Output: one
  * array<struct<i,j,s,cnt>> row — the same (group, decimal sum, non-null
  * term count) relation as the explode → groupBy formulation it
  * replaces, BIT-IDENTICALLY (the covariance profile — SURVEY §8
  * "Round-9 deltas", probe last at `dc914e8` — verified 0/2,144 group
  * mismatches and measured ~2.7×: 5.6 s → 2.1 s at sf0.1), because each
  * term stages through the identical `Double.toString` decimal cast and
  * decimal addition is exact under any grouping or order.
  *
  * Why imperative: the explode form materializes d(d+3)/2 struct rows
  * per vector through a hash aggregate of as many groups — pure
  * allocation/probe overhead for what is semantically one fused matrix
  * update per row. The buffer is model-sized (2,144 entries at d=64);
  * rows never shuffle — only per-partition buffers do.
  *
  * NULL semantics match SQL: a NULL element contributes no term (sum and
  * count both skip), so corrupt arrays surface as unequal group counts
  * in [[graft.operators.Decomp.pcaFit]]'s fail-loud check. */
case class CovMomentsAgg(child: Expression,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[CovBuffer] with UnaryLike[Expression] {

  override def prettyName: String = "cov_moments"
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("i", IntegerType, nullable = false),
    StructField("j", IntegerType, nullable = false),
    StructField("s", DecimalType(38, 18)),
    StructField("cnt", LongType, nullable = false))), containsNull = false)

  /** Spark's double→DECIMAL(38,18) cast: via the shortest decimal string
    * (`Double.toString`), then scale 18 HALF_UP — the exact staging the
    * oracle's VARCHAR bridge replays. */
  @inline private def stage(x: Double): JBigDecimal =
    new JBigDecimal(java.lang.Double.toString(x))
      .setScale(18, RoundingMode.HALF_UP)

  override def createAggregationBuffer(): CovBuffer =
    new CovBuffer(-1, null, null)

  override def update(b: CovBuffer, input: InternalRow): CovBuffer = {
    val a = child.eval(input)
    if (a == null) return b
    val arr = a.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) return b
    b.growTo(n)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val vi = arr.getDouble(i)
        b.sums(i) = b.sums(i).add(stage(vi))
        b.counts(i) += 1
        var j = i
        while (j < n) {
          if (!arr.isNullAt(j)) {
            val k = b.pairIdx(i, j)
            b.sums(k) = b.sums(k).add(stage(vi * arr.getDouble(j)))
            b.counts(k) += 1
          }
          j += 1
        }
      }
      i += 1
    }
    b
  }

  override def merge(b1: CovBuffer, b2: CovBuffer): CovBuffer = {
    if (b2.d < 0) return b1
    if (b1.d < 0) { b1.d = b2.d; b1.sums = b2.sums; b1.counts = b2.counts; return b1 }
    if (b2.d > b1.d) b1.growTo(b2.d)
    // add b2's entries at b1's (possibly larger) packing
    val od = b2.d
    var i = 0
    while (i < od) {
      b1.sums(i) = b1.sums(i).add(b2.sums(i)); b1.counts(i) += b2.counts(i)
      var j = i
      while (j < od) {
        val k1 = b1.pairIdx(i, j)
        val k2 = od + i * od - i * (i - 1) / 2 + (j - i)
        b1.sums(k1) = b1.sums(k1).add(b2.sums(k2))
        b1.counts(k1) += b2.counts(k2)
        j += 1
      }
      i += 1
    }
    b1
  }

  override def eval(b: CovBuffer): Any = {
    if (b.d < 0) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](b.size(b.d))
    var k = 0
    def emit(i: Int, j: Int, idx: Int): Unit = {
      val dec = Decimal(b.sums(idx))
      if (!dec.changePrecision(38, 18))
        throw new ArithmeticException(
          s"cov_moments: sum at ($i,$j) overflows DECIMAL(38,18)")
      out(k) = InternalRow(i, j, dec, b.counts(idx))
      k += 1
    }
    var i = 0
    while (i < b.d) { emit(i, -1, i); i += 1 }
    i = 0
    while (i < b.d) {
      var j = i
      while (j < b.d) { emit(i, j, b.pairIdx(i, j)); j += 1 }
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(b: CovBuffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(b.d)
    if (b.d >= 0) {
      var k = 0
      while (k < b.size(b.d)) {
        out.writeLong(b.counts(k))
        // scale is invariantly 18 (stage + exact adds); unscaled bytes only
        val u = b.sums(k).unscaledValue().toByteArray
        out.writeInt(u.length)
        out.write(u)
        k += 1
      }
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): CovBuffer = {
    val in = new DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val d = in.readInt()
    if (d < 0) return new CovBuffer(-1, null, null)
    val b = new CovBuffer(-1, null, null)
    b.growTo(d)
    var k = 0
    while (k < b.size(d)) {
      b.counts(k) = in.readLong()
      val u = new Array[Byte](in.readInt())
      in.readFully(u)
      b.sums(k) = new JBigDecimal(new BigInteger(u), 18)
      k += 1
    }
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): CovMomentsAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CovMomentsAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): CovMomentsAgg =
    copy(child = c)
}

object CovMomentsAgg {
  /** The covariance-moment aggregate over an array<double> column. */
  def covMoments(v: Column): Column =
    ColumnBridge.column(
      CovMomentsAgg(ColumnBridge.expression(v)).toAggregateExpression())
}
