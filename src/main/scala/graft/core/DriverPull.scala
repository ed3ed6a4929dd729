package graft.core

import scala.collection.mutable

import org.apache.spark.SparkEnv
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.graftshim.ColumnBridge

/** The one way graft code brings a contract-bounded relation to the
  * driver: ONE `runJob` over the relation's scan, bounded by a shared row
  * budget and a shared byte budget, returning None past either. The
  * reference merges every worker's dictionary on its driver with no bound
  * (`Orchestrator.fs:166-175`); here a relation whose size a store
  * contract bounds (a trickle batch, a delta, a takedown-sized marker) is
  * pulled in one round, and the caller decides what passing the bound
  * means — fall back to its distributed plan, or refuse by name, naming
  * the budget, before it writes anything.
  *
  * One round matters: `limit(n).collect()` runs one job per growing
  * partition wave, and `distinct().collect()` an exchange plus a result
  * job; a pull is always one job with no exchange, also in its
  * `distinct` form (each task drops its own repeats). */
object DriverPull {

  /** The shared row budget: 4M rows a pull. Also the edge rows per
    * partition of [[graft.operators.Dedup]]'s components loops and the
    * size its one-task union-find path accepts. */
  val RowBudget = 4000000L

  /** The shared byte budget: half of `spark.driver.maxResultSize`
    * (Spark's 1g when unset, no cap at 0), and at most a quarter of the
    * driver heap the rows land in. */
  def byteBudget: Long = {
    val max = SparkEnv.get.conf.getSizeAsBytes("spark.driver.maxResultSize",
      "1g")
    math.min(if (max > 0) max / 2 else Long.MaxValue,
      Runtime.getRuntime.maxMemory / 4)
  }

  @volatile private var forced: Option[(Long, Long)] = None

  /** Run `body` with the pull budget forced to `rows` and `bytes` for
    * every pull in the JVM (worker threads included), restoring it after:
    * how a test drives a store verb past the bound. */
  private[graft] def withBudget[A](rows: Long, bytes: Long)(body: => A): A = {
    val before = forced
    forced = Some((rows, bytes))
    try body finally forced = before
  }

  /** The row budget pulls run under ([[RowBudget]] unless forced). */
  def rows: Long = forced.fold(RowBudget)(_._1)

  /** The byte budget pulls run under ([[byteBudget]] unless forced). */
  def bytes: Long = forced.fold(byteBudget)(_._2)

  /** An upper bound on a pulled value's serialized size, Java's or Kryo's:
    * a string takes at most 3 bytes a char in (modified) UTF-8, and every
    * row, collection or boxed value at most a fixed header. */
  def pulledBytes(v: Any): Long = v match {
    case null => 1L
    case s: String => 16L + 3L * s.length
    case r: Row => r.toSeq.foldLeft(64L)((n, x) => n + pulledBytes(x))
    case xs: Iterable[_] => xs.foldLeft(32L)((n, x) => n + pulledBytes(x))
    case _ => 16L
  }

  /** What a task result carries besides its rows (accumulator updates,
    * the class descriptors and schema of the first row), bounded. */
  private val TaskResultBytes = 16384L

  /** `df`'s rows on the driver in ONE job over its scan (a plain collect
    * when `df` derives from local relations only), or None when they
    * pass either bound: more than `maxRows` rows, or more than `maxBytes`
    * of [[pulledBytes]] in all. Each task stops at `maxRows + 1` rows or at
    * its even share of `maxBytes`, so the results Spark ships stay under
    * `maxBytes` in sum whatever their spread (Spark aborts the job past
    * `spark.driver.maxResultSize`); the driver gives up when a task
    * stopped early or the rows add up past `maxRows`. With `distinct`,
    * each task keeps one copy of a repeated row and the driver merges the
    * tasks' sets, so `maxRows` bounds the DISTINCT rows (first-seen
    * order). */
  def apply(df: DataFrame, maxRows: Long = rows, maxBytes: Long = bytes,
      distinct: Boolean = false): Option[Array[Row]] =
    if (df.queryExecution.analyzed.collectLeaves()
        .forall(_.isInstanceOf[LocalRelation])) {
      // rows derived from rows already on the driver (a local relation's
      // projections and filters plan to its rows, no job): the same bounds
      val rs = if (distinct) df.collect().distinct else df.collect()
      Some(rs).filter(_ => rs.length <= maxRows &&
        rs.iterator.map(pulledBytes).sum <= maxBytes)
    } else scan(df, maxRows, maxBytes, distinct)

  private def scan(df: DataFrame, maxRows: Long, maxBytes: Long,
      distinct: Boolean): Option[Array[Row]] = {
    val rdd = df.rdd
    val parts = new Array[Array[Row]](rdd.getNumPartitions)
    val share = maxBytes / math.max(parts.length, 1)
    var total = 0L
    var over = false
    df.sparkSession.sparkContext.runJob(rdd, (it: Iterator[Row]) => {
      val kept = mutable.ArrayBuffer.empty[Row]
      val seen = mutable.HashSet.empty[Row]
      var size = TaskResultBytes
      var full = false
      while (!full && it.hasNext) {
        val r = it.next()
        if (!distinct || seen.add(r)) {
          size += pulledBytes(r)
          if (size > share || kept.size >= maxRows) full = true else kept += r
        }
      }
      (kept.toArray, full)
    }, (i: Int, res: (Array[Row], Boolean)) => {
      total += res._1.length
      over ||= res._2 || (!distinct && total > maxRows)
      if (!over) parts(i) = res._1
    })
    if (over) None
    else Some(if (distinct) parts.flatten.distinct else parts.flatten)
      .filter(_.length <= maxRows)
  }

  /** `c IN keys` as the `InSet` Catalyst's optimizer makes of a long
    * literal `IN`, built directly: `isin` puts one literal node per key
    * through analysis, which measured 5.4 s to plan for 160k keys against
    * 0.2 s for the `InSet` (0.66 s against 0.03 s for 16k). The scan
    * still receives it as a pushed `In` filter. */
  def inSet(c: Column, keys: Set[Long]): Column =
    ColumnBridge.column(InSet(ColumnBridge.expression(c), keys.toSet[Any]))
}
