package graft

import java.nio.file.{FileVisitResult, Files, Path, Paths, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.TimeUnit
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

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
    relation(spark, s"$dir/$name.parquet")

  private[graft] val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  // path → the one relation every read of that table builds on, with the
  // session and stamp it was listed under: one entry per path, replaced on
  // a miss, least recently read first out
  private final case class Listed(session: SparkSession, stamp: (String, Vector[Long]),
      plan: LogicalRelation)
  private[graft] val MaxListed = 256
  private val listed = new java.util.LinkedHashMap[String, Listed](64, 0.75f, true)
  private val relistHooks =
    new java.util.concurrent.CopyOnWriteArrayList[(SparkSession, String) => Unit]()

  /** Run `hook(session, path)` whenever [[relation]] is about to re-list
    * a table (a miss), before it lists: a holder of results computed over
    * that table can release them before the new listing is served. */
  def onRelist(hook: (SparkSession, String) => Unit): Unit = relistHooks.add(hook)

  /** Forget the relation of `path`, so the next read lists it afresh even
    * where its stamp would not move (a file system with coarse mtimes). */
  def forget(path: String): Unit = listed.synchronized(listed.remove(path))

  /** The paths the memo holds a relation for. */
  private[graft] def memoized: Set[String] =
    listed.synchronized(listed.keySet().asScala.toSet)

  /** Location of a managed table's schema metadata inside its dir: the
    * underscore prefix keeps it out of Spark's parquet listing. */
  def schemaPath(tableDir: String): Path = Paths.get(tableDir, "_graft_schema.json")

  /** The relation of the table at `path`, listed once per table stamp: the
    * session, its `nanosAsLong`, and the mtimes of `path` and of every
    * directory under it. A file added or removed under a directory moves
    * that directory's mtime, and a rewritten single-file table moves its
    * own, so the next read re-lists and sees it; over an unchanged table,
    * building a read starts no Spark job (a fresh `spark.read.parquet`
    * infers the schema with one job, and lists more than 32 directories
    * with another). The stamp is taken before the listing, so a write
    * racing it can only cause a later miss. Every miss runs the
    * [[onRelist]] hooks first.
    *
    * Schema: the previous entry's when only the session changed, else
    * `_graft_schema.json` when the table carries it (written by `td.toTd`,
    * the catalog role a real TD/Hive table plays: it keeps an EMPTY
    * partitioned table readable and skips footer sampling), else inferred.
    *
    * The memo holds at most 256 tables. A miss drops the entries whose
    * path is gone or whose session has stopped, then the least recently
    * read ones beyond the cap, so sweeps over thousands of scratch tables
    * and restarted sessions hold no listing or session alive.
    *
    * Each call returns a new instance of the memoized relation (same file
    * listing, fresh attribute ids), as a fresh read would, so two reads of
    * one table can still be joined with each other. */
  def relation(s: SparkSession, path: String): DataFrame = {
    val stamp = (s.conf.get(NanosAsLong, "false"), listingStamp(path))
    val hit = listed.synchronized(listed.get(path))
    val plan =
      if (hit != null && (hit.session eq s) && hit.stamp == stamp && !stamp._2.contains(-1L))
        hit.plan
      else {
        relistHooks.forEach(_(s, path))
        val meta = schemaPath(path)
        // an unchanged table read from another session keeps its schema
        val known = Option(hit).filter(_.stamp == stamp).map(_.plan.relation.schema).orElse(
          Option.when(Files.exists(meta))(DataType.fromJson(
            new String(Files.readAllBytes(meta), "UTF-8")).asInstanceOf[StructType]))
        val df = known.fold(s.read.parquet(path))(s.read.schema(_).parquet(path))
        val l = df.queryExecution.analyzed match { case l: LogicalRelation => l }
        remember(path, Listed(s, stamp, l))
        l
      }
    org.apache.spark.sql.GraftSqlBridge.ofRows(s, plan.newInstance())
  }

  private def remember(path: String, entry: Listed): Unit = listed.synchronized {
    listed.remove(path)
    listed.entrySet().removeIf(e =>
      e.getValue.session.sparkContext.isStopped || !Files.exists(Paths.get(e.getKey)))
    val lru = listed.keySet().iterator()
    while (listed.size >= MaxListed) { lru.next(); lru.remove() }
    listed.put(path, entry)
  }

  /** mtimes (ns) of `path` and of every directory under it, in walk order:
    * a driver-side walk (about 1 ms for 100 directories), no Spark job. An
    * entry that vanishes mid-walk (a concurrent write's `_temporary`)
    * stamps -1, and a stamp holding -1 never hits: a path this walk cannot
    * see (not on the local file system) is listed on every read. */
  private def listingStamp(path: String): Vector[Long] = {
    val root = Paths.get(path)
    val stamp = Vector.newBuilder[Long]
    def mtime(a: BasicFileAttributes) = a.lastModifiedTime.to(TimeUnit.NANOSECONDS)
    Files.walkFileTree(root, new SimpleFileVisitor[Path] {
      override def preVisitDirectory(d: Path, a: BasicFileAttributes) = {
        stamp += mtime(a)
        FileVisitResult.CONTINUE
      }
      override def visitFile(f: Path, a: BasicFileAttributes) = {
        if (f == root) stamp += mtime(a)
        FileVisitResult.CONTINUE
      }
      override def visitFileFailed(f: Path, e: java.io.IOException) = {
        stamp += -1L
        FileVisitResult.CONTINUE
      }
    })
    stamp.result()
  }

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
    spark.conf.set(NanosAsLong, "true")
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
