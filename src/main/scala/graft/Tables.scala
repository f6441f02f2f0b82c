package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Loaders for the driver-generated TPC-H-ish testdata tables
  * (TESTDATA.md). One parquet file per table under `$dir/`.
  *
  * All readers go through [[Tables.load]] so every query in the engine
  * benefits from the same scan behavior: explicit parquet source,
  * column pruning + predicate pushdown handled by Catalyst (never
  * disable), and the footer schema inferred once per table version.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Footer schemas by (files identity, nanosAsLong): inferring one is
    * a Spark job (one task), paid by every read without a schema. */
  private val schemas = new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  /** The table's parquet, read with the schema inferred at its first
    * load. The memo key is the table's physical identity
    * ([[sources.IndexStore.filesIdentity]]), so a rewritten table is
    * inferred again, plus `nanosAsLong`, which [[events]] sets and
    * which turns a nanosecond timestamp into a long. A path that
    * cannot be walked is read as before. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    scala.util.Try(sources.IndexStore.filesIdentity(spark, Seq(path)) +
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")).toOption
      .fold(spark.read.parquet(path)) { key =>
        val schema = Option(schemas.get(key)).getOrElse {
          val inferred = spark.read.parquet(path).schema
          schemas.put(key, inferred)
          inferred
        }
        spark.read.schema(schema).parquet(path)
      }
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** `events.ts` arrives in one of two physical encodings depending on
    * the generator: INT64 TIMESTAMP(NANOS) (read as a raw long via
    * `nanosAsLong` — Spark has no nanosecond timestamp type) or INT64
    * TIMESTAMP(MICROS, isAdjustedToUTC=false) (read as TIMESTAMP_NTZ).
    * Either way the loader exposes the SAME surface: a µs `ts`
    * TimestampType column (for date_trunc-style bucketing — identical
    * to DuckDB at ≥µs granularity; session tz is UTC engine-wide so
    * the NTZ→instant cast is the identity) and an exact `ts_ns` long.
    *
    * Oracle-parity caveat (verified against DuckDB 1.0.0): DuckDB
    * truncates TIMESTAMP(NANOS) parquet to µs — epoch_ns there is
    * really µs·1000. An oracle-checked query must therefore never
    * ORDER BY or output raw `ts_ns` without an explicit tie-break
    * that also resolves sub-µs differences (see q43_latest_wins:
    * order at µs + event_id); `ts_ns` remains exact for arithmetic
    * (gaps, ranges) where both sides use the same bound arithmetic.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEvents(load(s, d, "events"))
  }

  /** Normalize any events-shaped frame to the (`ts` TimestampType,
    * `ts_ns` long) surface regardless of physical encoding. */
  private[graft] def normalizeEvents(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case LongType =>
        // integral division — `/` on longs casts to double, whose ulp
        // at ~1.7e18 ns is 256 ns, enough to flip µs boundaries
        raw.withColumn("ts_ns", col("ts"))
          .withColumn("ts",
            timestamp_micros(call_function("div", col("ts_ns"), lit(1000L))))
      case _: TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
          .withColumn("ts_ns", unix_micros(col("ts")) * 1000L)
      case _ =>
        raw.withColumn("ts_ns", unix_micros(col("ts")) * 1000L)
    }

  /** Configured embedding width (`spark.graft.embedding.dim`, default
    * 64 — the width of the driver testdata and of the default engine
    * deployment). Vector operators that need a materialized plane /
    * centroid matrix size it from THIS value instead of scanning the
    * column for max(size(embedding)): the dim is a property of the
    * embedding model, known ahead of any job, and a pre-scan at 100 TB
    * is a full extra pass over the widest column in the table. Callers
    * that would silently truncate wider vectors must guard in-plan
    * (see [[operators.Dedup.embeddingNearDup]]'s raise_error guard) so
    * a mis-configured dim fails loudly instead of hashing prefixes.
    */
  def embeddingDim(s: SparkSession): Int =
    s.conf.get("spark.graft.embedding.dim", "64").toInt

  /** Decimal-exact sum of a double expression, returned as double.
    * Both Spark and DuckDB round the per-row double to the same
    * DECIMAL(28,6), sum exactly, and cast back — bit-identical results
    * regardless of partitioning/summation order, which a plain
    * double-sum cannot guarantee under parallelism.
    * SQL mirror: CAST(CAST(SUM(CAST(x AS DECIMAL(28,6))) AS VARCHAR)
    * AS DOUBLE) — the VARCHAR hop is load-bearing: DuckDB's direct
    * DECIMAL→DOUBLE cast converts the int128 payload to double BEFORE
    * descaling, so once the scaled sum passes 2^53 the result is not
    * correctly rounded (observed 1-ulp misses vs Spark on 25×-scale
    * price sums, e.g. …769.25 vs …769.24997); the string parse is
    * correctly rounded, matching Spark's BigDecimal.doubleValue.
    */
  def dsum(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    sum(c.cast(DecimalType(28, 6))).cast(DoubleType)

  /** Decimal-exact average as double: exact decimal sum divided by
    * count, both as doubles (single deterministic division).
    * SQL mirror: CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) / COUNT(x).
    */
  def davg(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    dsum(c) / count(c)

  /** Engine-stable round-half-up for NON-NEGATIVE ratios:
    * floor(x·10^d + 0.5)/10^d. Use this instead of round(x, d)
    * whenever x is an exact ratio of integers (k/n): when n has only
    * small prime factors, x·10^d can land EXACTLY on a representable
    * .5 — where Spark's round (BigDecimal HALF_UP on the true binary
    * value) and DuckDB's round (multiply + nearest-even) disagree by
    * one ulp of the last digit (observed: cume_dist at sf0.1,
    * 0.520313 vs 0.520312). The floor form runs the identical IEEE
    * multiply/add/floor in both engines, so the results are
    * bit-identical by construction. On negative values the tie at an
    * exact half rounds toward +∞ instead of away from zero — a
    * deliberate semantic choice that stays engine-identical (both
    * engines run the same floor), unlike round().
    * SQL mirror: floor((x) * 1e<d> + 0.5) / 1e<d>.
    */
  def rhalfup(c: org.apache.spark.sql.Column, digits: Int): org.apache.spark.sql.Column = {
    val p = math.pow(10.0, digits)
    floor(c * p + 0.5) / p
  }
}
