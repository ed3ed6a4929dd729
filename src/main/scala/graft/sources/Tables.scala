package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Scans for the driver-generated star schema (`TESTDATA.md` / `FIXTURES.md`).
  *
  * The reference's only source is a generic paginated pull loader — a cursor
  * advanced `take` records at a time (`/root/reference/Loader.fs:9-38`),
  * EOF-detected by an empty batch (`/root/reference/Orchestrator.fs:80-88`).
  * Here a source is a declarative Spark scan: Catalyst pushes predicates and
  * column pruning down into the vectorized parquet reader (check
  * `PushedFilters`/`ReadSchema` in `.explain("formatted")`), and partition
  * granularity replaces the reference's `chunkSize` batching. At 100 TB the
  * same call reads a partitioned/bucketed table across executors; nothing in
  * the API changes.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Read one table of the star schema rooted at `dir`.
    *
    * `events.ts` has shipped in two physical layouts across testdata
    * generations, so the load is schema-adaptive and always yields a
    * session-zone TIMESTAMP (µs):
    *  - parquet TIMESTAMP(NANOS): Spark's vectorized reader rejects it, so
    *    it's read as a nanos long (`spark.sql.legacy.parquet.nanosAsLong`)
    *    and rebuilt with integer division (nanos exceed 2^53; double
    *    division would lose precision). DuckDB truncates ns→µs the same way.
    *  - parquet TIMESTAMP(MICROS, isAdjustedToUTC=false): arrives as
    *    TIMESTAMP_NTZ; cast to TIMESTAMP under the session's UTC zone —
    *    the identical wall-clock instants DuckDB reads natively. */
  // r18 (guide §1.2, per-action cost): footer-based schema inference is
  // ~60 ms of driver work per read call (OPTIMIZATION_r18.md "What PlanTax
  // measured"; probe last at `dc914e8`), and a bench/
  // verify session re-reads the SAME immutable testdata files hundreds of
  // times. Cache the inferred schema per (dir, table) — metadata only,
  // every call still plans and scans the parquet files themselves. The
  // events.ts layout adaptivity is preserved: the branch keys off the
  // (cached) physical schema, which is per-dir.
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.types.StructType]()

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    require(names.contains(name), s"unknown table: $name")
    val path = s"$dir/$name.parquet"
    if (name == "events")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val cached = schemaCache.get(path)
    val raw =
      if (cached != null) spark.read.schema(cached).parquet(path)
      else {
        val df = spark.read.parquet(path)
        schemaCache.put(path, df.schema)
        df
      }
    if (name == "events") {
      raw.schema("ts").dataType match {
        case LongType =>
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampNTZType =>
          raw.withColumn("ts", col("ts").cast(TimestampType))
        case _ => raw
      }
    } else raw
  }

  def region(s: SparkSession, d: String): DataFrame = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = apply(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")

  /** Register tables as temp views so `spark.sql(...)` queries run against
    * the same parquet the DuckDB oracle reads. Pass the tables a query needs
    * (schema inference reads each footer — registering all ten costs ~10
    * footer reads per call); no args = all. */
  def registerAll(spark: SparkSession, dir: String, only: String*): Unit =
    (if (only.nonEmpty) only else names)
      .foreach(n => apply(spark, dir, n).createOrReplaceTempView(n))
}
