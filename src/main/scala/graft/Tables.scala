package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Shared table loaders + cross-engine determinism helpers.
  *
  * Every graded query reads the driver-generated parquet at
  * `<sfDir>/<table>.parquet` (FIXTURES.md). The helpers here encode the
  * oracle-determinism rules of SURVEY.md §8.4: exact DECIMAL(18,4)
  * aggregation for monetary doubles, round-then-cast-to-double emission
  * (keeps the decimal→double conversion in the exact `<2^52`-unit range so
  * Spark and DuckDB produce bit-identical doubles), epoch-millis emission
  * for `events.ts` (either physical generation), and ISO date strings
  * for timestamps.
  */
object Tables {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** events.ts has shipped as two physical types across fixture
    * generations: parquet TIMESTAMP(NANOS) (read as LongType epoch-nanos
    * under `nanosAsLong`, SURVEY.md §8.6.1) and, since the 2026-08 regen,
    * plain `timestamp[us]` (read as TIMESTAMP_NTZ). Dispatch on the read
    * schema and derive the same canonical columns either way:
    *   - `ts_ms`: epoch millis LONG, == DuckDB `cast(epoch_ms(ts) as bigint)`;
    *   - `ts_t`:  TimestampType (µs) for window/session functions.
    * Filters that must push down to the parquet scan go on raw `ts` via
    * [[graft.functions.Td.tdTimeRangeEvents]], which does the same dispatch.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = t(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType => // legacy epoch-nanos fixture
        raw.withColumn("ts_ms", expr("ts div 1000000"))
          .withColumn("ts_t", expr("timestamp_micros(ts div 1000)"))
      case _ => // timestamp[us]: NTZ ↔ LTZ identity under the pinned UTC session
        raw.withColumn("ts_ms", unix_millis(col("ts").cast(TimestampType)))
          .withColumn("ts_t", col("ts").cast(TimestampType))
    }
  }

  /** Scan-starvation spreader (optimization guide §2.5, "input skew: one
    * huge unsplittable file"): the driver fixtures ship each table as ONE
    * parquet row group, so a scan — and every per-row transform FUSED into
    * it (shingle/gram explosion, hashing, vector math) — runs in a single
    * task while the other cores idle. When the file bytes cannot possibly
    * yield `defaultParallelism` splits (bytes / maxPartitionBytes < cores;
    * parquet row groups can only make real parallelism LOWER than that
    * estimate, never higher), redistribute by a deterministic hash of
    * `key` so the fused compute uses every core. At production scale the
    * condition is false (a 100 TB table is ~10⁶ splits) and this is the
    * identity. The exchange is hash, not round-robin: deterministic under
    * task retry (guide §2.5's SPARK-38388 note) and reusable by any
    * downstream groupBy/join on the same key. */
  def spread(spark: SparkSession, dir: String, name: String,
      df: DataFrame, key: Column): DataFrame = {
    val f = new java.io.File(s"$dir/$name.parquet")
    // directory tables: sum the part files (driver fixtures are single
    // files; this keeps the estimate honest for written intermediates).
    // UNKNOWN size — non-local FS, renamed file, nested part dirs, any
    // path java.io.File cannot stat, a 0-byte file or an empty directory —
    // must mean "assume large, do NOT spread": a 0-byte estimate would
    // make the starved-scan condition (0 / maxSplit < cores) always true
    // and insert a full hash repartition of a 100 TB input exactly when
    // the estimate is unavailable, inverting the identity-at-scale
    // contract. Long.MaxValue keeps the device the identity there.
    val bytes =
      (if (f.isFile) Some(f.length)
       else Option(f.listFiles()).map(_.filter(_.isFile).map(_.length).sum))
        .filter(_ > 0L).getOrElse(Long.MaxValue)
    val cores = spark.sparkContext.defaultParallelism
    val maxSplit = spark.conf.getOption("spark.sql.files.maxPartitionBytes")
      .flatMap(v => scala.util.Try(
        org.apache.spark.network.util.JavaUtils.byteStringAsBytes(v)).toOption)
      .getOrElse(128L * 1024 * 1024)
    if (bytes / maxSplit < cores) df.repartition(cores, key) else df
  }

  val Money: DecimalType = DecimalType(18, 4)

  /** Exact monetary arithmetic: cast double → DECIMAL(18,4) before any
    * aggregation (SURVEY.md §8.4.2). A value outside the DECIMAL(18,4)
    * domain (|x| ≥ 10^14, ±Inf) or NaN is NULL, not an ANSI cast error:
    * a corrupt measure must skip out of the aggregate exactly like a
    * NULL measure does (r20 pathological sweep: a ±1.7e308 events.value
    * threw through ten window/streaming keys). Identity — bit-for-bit —
    * on every in-domain value, so oracle hashes are unchanged. */
  def dec(c: Column): Column =
    when(abs(c.cast(DoubleType)) < lit(1e14), c).cast(Money)

  /** Exact decimal sum, rounded to 4 and emitted as double. Rounding first
    * keeps the unscaled value < 2^52 so both engines take the exact
    * `(double)unscaled / 1e4` path — bit-identical output. */
  def mSum(c: Column): Column = round(sum(dec(c)), 4).cast(DoubleType)

  /** Deterministic mean: exact decimal sum → double, / count, round.
    * The denominator counts dec(c), not c, so an out-of-domain measure
    * dec() nulled skips the mean entirely instead of diluting it (r20
    * review finding; identical on in-domain data). */
  def mAvg(c: Column, digits: Int = 4): Column =
    round(sum(dec(c)).cast(DoubleType) / count(dec(c)), digits)

  /** ISO date string — timestamps are never emitted raw (SURVEY.md §8.4.3). */
  def dateStr(c: Column): Column = date_format(c, "yyyy-MM-dd")

  /** TPC-H revenue aggregate, Σ extendedprice·(1−discount), under the
    * §8.4.2 exact-decimal recipe — ONE definition for every p-tier key
    * (was duplicated per round-file; a width change must hit all TPC-H
    * keys at once or they drift apart). */
  def revenueAgg(alias: String = "revenue"): Column =
    round(sum(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))), 4)
      .cast(DoubleType).as(alias)

  /** The DuckDB mirror of [[revenueAgg]] (append `AS <alias>` at use). */
  val revenueAggSql: String =
    """CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
         (1 - CAST(l_discount AS DECIMAL(18,4)))), 4) AS DOUBLE)"""

  /** Session-timezone-parsed timestamp literal (harness pins UTC); avoids
    * JVM-default-TZ-dependent java.sql.Timestamp.valueOf. */
  def tsLit(isoDate: String): Column = to_timestamp(lit(isoDate))

  /** Epoch millis for an ISO date, computed UTC-safely driver-side. */
  def epochMs(isoDate: String): Long =
    java.time.LocalDate.parse(isoDate).atStartOfDay(java.time.ZoneOffset.UTC)
      .toInstant.toEpochMilli
}
