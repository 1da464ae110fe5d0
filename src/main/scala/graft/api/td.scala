package graft.api

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Td

/** CLIENT-API parity layer (SURVEY.md §3 CLIENT rows, §8.2/§8.3): the Scala
  * face of the reference's public surface —
  *
  *   reference                       here
  *   -------------------------------------------------------------
  *   create_engine('presto:db')     td.createEngine("presto:db")
  *   read_td_query(sql, engine)     td.readTdQuery(sql, engine)
  *   read_td_table(name, ...)       td.readTdTable(name, engine, ...)
  *   read_td_job(job_id, engine)    td.readTdJob(jobId, engine)
  *   to_td(df, 'db.t', con, ...)    td.toTd(df, "db.t", con, ...)
  *   Connection.databases/tables    con.databases() / con.tables(db)
  *
  * (reference symbols: `pandas_td/td.py :: create_engine, read_td_query,
  * read_td_table, read_td_job, to_td, Connection, QueryEngine,
  * StreamingUploader`.)
  *
  * A "database" is a directory of parquet tables; read-only source dirs
  * (the testdata) and a writable warehouse coexist. The reference's REST
  * job lifecycle (issue → poll → download msgpack) collapses into Spark's
  * driver/executor execution; its job-id result cache becomes persisted
  * DataFrames. Its engine toggle `distributed_join` maps to broadcast vs
  * shuffle join strategy.
  *
  * Everything is plan-building only — no action is triggered here, so
  * Catalyst sees the complete pruned/filtered/limited plan (the reference
  * achieved the same by splicing SELECT/WHERE/LIMIT into SQL text;
  * `:: read_td_table` is its entire client-side optimizer).
  *
  * A table is listed once per change, not once per call. Every read of a
  * table (temp views, readTdTable, `con.tables`) builds on the engine's
  * one relation memo, [[graft.Tables.relation]], which the operator
  * registry's `Tables.t` reads through too: one relation per path, kept
  * under the table's stamp (the session, its `nanosAsLong`, and the mtimes
  * of the table path and of every directory under it). A file added under
  * an existing `time_bucket=` directory moves that directory's mtime, so
  * the next read re-lists; an unchanged table is served without a Spark
  * job. Whenever the memo re-lists a table, whoever read it, td first
  * releases its live job results over that table (see [[releaseJobs]]);
  * toTd drops its table's entry after writing.
  *
  * Job results are snapshots. Before toTd writes a table it releases
  * (unpersists) every live job result that reads it, so Spark's
  * post-write re-cache finds nothing to re-list or re-plan; an Append
  * leaves each released result returning the rows it returned before
  * (its executed plan keeps its file list), and a Replace first freezes
  * each such result (a local checkpoint, served from its cache when that
  * is loaded), since the overwrite deletes the files it was read from.
  */
object td {

  sealed trait IfExists
  object IfExists {
    case object Fail extends IfExists
    case object Replace extends IfExists
    case object Append extends IfExists
  }

  /** `create_engine("presto:mydb")` analog. `engineType` is accepted for
    * URL-compat (presto vs hive chose the TD backend; both run on Spark
    * here). `root` is the directory holding `<database>` subdirs or the
    * table files themselves. `apiKey`/`endpoint` are carried from the
    * long-form URL (or TD_API_KEY/TD_API_SERVER env) for parity with the
    * reference's engine handle — stored but inert, since there is no REST
    * hop behind this engine.
    *
    * `header` is the reference's `create_engine(header=)`: a provenance
    * tag prepended to submitted query text as a SQL comment and used as
    * the Spark job description (the analog of TD's job-console tag).
    * None = the default `td:<engine>:<db>` tag; Some("") = suppress
    * (reference header=False). The reference's `show_progress`/
    * `clear_progress` are notebook display-loop knobs with no engine
    * analog — intentionally absent. */
  final case class TdEngine(engineType: String, database: String, root: String,
      apiKey: Option[String] = None, endpoint: Option[String] = None,
      header: Option[String] = None) {
    /** Job-description tag for a query submitted through this engine. */
    def headerTag: String =
      header.getOrElse(s"td:$engineType:$database")
    def tablePath(table: String): String = {
      val nested = Paths.get(root, database, s"$table.parquet")
      if (Files.exists(nested)) nested.toString
      else Paths.get(root, s"$table.parquet").toString
    }
  }

  final case class TdConnection(root: String,
      apiKey: Option[String] = None, apiServer: Option[String] = None) {
    // `%td_databases [pattern]` / `%td_tables [pattern]` filter with an
    // unanchored regex (Python re.search semantics) — a bare substring
    // matches anywhere in the name
    private[td] def matches(pattern: Option[String], name: String): Boolean =
      pattern.forall(_.r.unanchored.findFirstIn(name).isDefined)

    /** `Connection.databases()` / `%td_databases [pat]` — subdirectories
      * holding parquet tables, optionally regex-filtered. */
    def databases(pattern: Option[String] = None)
        (implicit s: SparkSession): DataFrame = {
      import s.implicits._
      val dirs = Option(new java.io.File(root).listFiles()).getOrElse(Array())
        .filter(_.isDirectory).map(_.getName).filter(matches(pattern, _)).sorted
      dirs.toSeq.toDF("name")
    }
    /** `Connection.tables(db)` / `%td_tables [pat]` — name + row count,
      * batched union-of-aggregates (counts served from parquet row-group
      * metadata via the zero-column scan), not a driver-side count() loop
      * per table. Analyzer/optimizer cost grows with union width, so the
      * catalog is planned in bounded batches: each batch is ONE Spark job
      * over ≤64 tables, and only the tiny (name, n_rows) results are
      * unioned driver-side. Tables come from [[graft.Tables.relation]], so
      * over an unchanged catalog the batches are the only jobs. */
    def tables(db: String, pattern: Option[String] = None)
        (implicit s: SparkSession): DataFrame = {
      import s.implicits._
      val dir = Paths.get(root, db).toFile
      val names = Option(dir.listFiles()).getOrElse(Array())
        .filter(_.getName.endsWith(".parquet")).map(_.getName.stripSuffix(".parquet"))
        .filter(matches(pattern, _)).sorted
      val batched = names.toSeq.grouped(64).flatMap { batch =>
        batch
          .map { n =>
            Tables.relation(s, Paths.get(root, db, s"$n.parquet").toString)
              .agg(count(lit(1)).as("n_rows"))
              .select(lit(n).as("name"), col("n_rows"))
          }
          .reduce(_.unionAll(_))
          .collect()
      }.map(r => (r.getString(0), r.getLong(1))).toSeq
      batched.toDF("name", "n_rows").orderBy("name")
    }
  }

  def connect(root: String): TdConnection = TdConnection(root)

  /** Env-var `connect()` (reference `pandas_td.connect()` reads
    * TD_API_KEY / TD_API_SERVER). The key must be PRESENT — parity with
    * the reference, which refuses to build a client without one; key and
    * server are carried on the handle but inert (no REST backend behind
    * this engine). The data root comes from TD_SPARK_ROOT, falling back
    * to the working directory. */
  def connect(): TdConnection = connectFromEnv(sys.env)

  private[graft] def connectFromEnv(env: Map[String, String]): TdConnection = {
    require(env.get("TD_API_KEY").exists(_.trim.nonEmpty),
      "TD_API_KEY is not set (connect() without arguments reads the " +
        "reference's environment variables; pass a root explicitly otherwise)")
    TdConnection(env.getOrElse("TD_SPARK_ROOT", "."),
      apiKey = env.get("TD_API_KEY"),
      apiServer = env.get("TD_API_SERVER").filter(_.trim.nonEmpty))
  }

  // long-form engine URL: td+presto://<apikey>@<endpoint>/<db>[?params].
  // TD api keys contain a '/' (id/secret), so credentials end at the LAST
  // '@' (greedy .*@), not the first. The endpoint must be non-empty
  // (td+presto:///db is malformed), and the database is the FULL remaining
  // path — the reference passes the path through verbatim, so a '/' in the
  // database name survives rather than being silently truncated.
  private val LongUrl = "td\\+(presto|hive)://(?:(.*)@)?([^/@?#]+)/([^?#]+?)/?(?:[?#].*)?".r

  /** Parse `"presto:db"` / `"hive:db"` (reference short URL shapes) and the
    * long form `td+presto://apikey@api.example.com/db` (reference
    * `create_engine` URL). Credentials/endpoint land on the engine handle
    * (apikey falls back to TD_API_KEY, endpoint to TD_API_SERVER — the
    * reference's env defaults) but trigger no REST hop here. */
  def createEngine(url: String, root: String,
      header: Option[String] = None): TdEngine =
    createEngineFromEnv(url, root, sys.env, header)

  private[graft] def createEngineFromEnv(url: String, root: String,
      env: Map[String, String], header: Option[String] = None): TdEngine = {
    def envKey = env.get("TD_API_KEY").filter(_.trim.nonEmpty)
    def envServer = env.get("TD_API_SERVER").filter(_.trim.nonEmpty)
    url match {
      case LongUrl(e, key, endpoint, db) =>
        TdEngine(e, db, root,
          apiKey = Option(key).filter(_.nonEmpty).orElse(envKey),
          endpoint = Some(endpoint), header = header)
      case _ => url.split(":", 2) match {
        case Array(e, db) if (e == "presto" || e == "hive") && db.nonEmpty =>
          TdEngine(e, db, root, apiKey = envKey, endpoint = envServer,
            header = header)
        case _ => throw new IllegalArgumentException(
          "engine url must be presto:<db>, hive:<db> or " +
            s"td+presto://key@endpoint/<db>, got: $url")
      }
    }
  }

  // job-id → persisted result (read_td_job's no-recompute cache)
  private val jobs = new ConcurrentHashMap[Long, DataFrame]()
  private val nextJob = new AtomicLong(0L)

  /** `read_td_query`: SQL passthrough. Tables of the engine's database are
    * registered as temp views; the reference's header comment becomes the
    * Spark job description. `distributedJoin=false` (TD default) prefers
    * broadcast; `true` forces shuffle-partitioned joins — the same Presto
    * session toggle `:: read_td_query(distributed_join=)` injected.
    *
    * Deliberate non-analogs (reference `:: read_td_query(retry_limit=,
    * priority=)`): Spark has no per-query priority tier — scheduling is
    * the cluster manager's (use scheduler pools / YARN queues), and
    * failed-task retry is `spark.task.maxFailures`, not a client-side
    * REST re-poll. Both parameters therefore have no representation
    * here rather than a misleading one. */
  def readTdQuery(sql: String, engine: TdEngine, distributedJoin: Boolean = false,
      params: Map[String, Any] = Map.empty)
      (implicit s: SparkSession): DataFrame = {
    val df = runQuery(sql, engine, distributedJoin, params)
    cacheJob(df)
    df
  }

  /** The shared submit path behind readTdQuery / issueJob / readTdQueryBound:
    * dialect dispatch on the engine type, header tagging, table
    * registration, interpolation — everything except result caching, so
    * every entry point gets IDENTICAL engine-type semantics (issueJob
    * previously ran hive: text through the Presto scope — the exact
    * cross-dialect contamination readTdQuery prevents). `bindArgs`
    * carries engine-side named-parameter bindings (k16): `:name` markers
    * resolved by Spark's parameterized `sql(text, args)`, disjoint from
    * the client-side `{name}` interpolation of `params`. */
  private def runQuery(sql: String, engine: TdEngine, distributedJoin: Boolean,
      params: Map[String, Any], bindArgs: Map[String, Any] = Map.empty)
      (implicit s: SparkSession): DataFrame = {
    s.sparkContext.setJobDescription(engine.headerTag)
    registerTables(engine)
    // DIALECT DISPATCH on the engine type, exactly as the reference's URL
    // chose the TD backend. `presto:` text gets the Presto shims + dialect
    // (split = literal delimiter, regexp_extract group 0, …); `hive:` text
    // is verbatim HiveQL — Spark SQL is Hive-derived, so applying the
    // Presto shadows there would silently flip split/regexp_extract
    // semantics (graft.functions.Hive scaladoc). Both routes resolve the
    // TD UDF tier (TD_TIME_RANGE, …), presto residently, hive
    // statement-scoped.
    val isHive = engine.engineType == "hive"
    if (!isHive) Td.register(s)
    val interpolated0 = interpolate(sql, params)
    val interpolated =
      if (isHive) interpolated0 else graft.functions.Presto.rewrite(interpolated0)
    // the reference prepends the header as a SQL comment so the submitted
    // query text itself carries provenance; a leading comment parses fine
    val tagged = engine.header.filter(_.nonEmpty)
      .map(h => s"-- ${h.replace('\n', ' ')}\n$interpolated")
      .getOrElse(interpolated)
    // builtin shadows are statement-scoped (DialectScope): the dialect
    // resolves for THIS eagerly-analyzed text, then whatever the session
    // resolved those names to BEFORE (native builtins, or a
    // permanently-installed dialect via GraftExtensions) is restored
    def scoped[T](body: => T): T =
      if (isHive) graft.functions.Hive.statementScoped(s)(body)
      else graft.functions.Presto.statementScoped(s)(body)
    def submit(text: String): DataFrame =
      if (bindArgs.isEmpty) s.sql(text) else s.sql(text, bindArgs)
    scoped {
      if (distributedJoin)
        submit(s"SELECT /*+ MERGE */ * FROM (${tagged.stripSuffix(";")})")
      else submit(tagged)
    }
  }

  /** k16 — ENGINE-SIDE parameterized execution (reference
    * `read_td_query(params=)`, SURVEY §8.2, re-expressed as Spark 4
    * native named parameter markers): `:name` placeholders are resolved
    * by the PARSER into literal expressions — the value never transits
    * query text, so an injection-shaped string stays one inert literal
    * (`dryRun`/`params` interpolation remains the explicit text-splicing
    * choice, quoted-and-escaped). The bound plan is byte-identical to
    * the literal plan after parameter substitution, so every pushdown /
    * pruning property of the literal spelling holds — ApiSpec pins both
    * claims. */
  def readTdQueryBound(sql: String, engine: TdEngine, args: Map[String, Any],
      distributedJoin: Boolean = false)
      (implicit s: SparkSession): DataFrame = {
    val df = runQuery(sql, engine, distributedJoin, Map.empty, bindArgs = args)
    cacheJob(df)
    df
  }

  // bounded job-result cache: evict (and unpersist) the oldest beyond this
  // many live results — an unbounded static persist map would pin cache
  // blocks for the JVM lifetime
  private val MaxLiveJobs = 20

  private def cacheJob(df: DataFrame): Long = {
    val id = nextJob.incrementAndGet()
    jobs.put(id, df.persist())
    val evictBelow = id - MaxLiveJobs
    jobs.keySet.forEach { k =>
      if (k <= evictBelow) Option(jobs.remove(k)).foreach(_.unpersist())
    }
    id
  }

  /** `{name}` substitution, the notebook-variable interpolation of the
    * reference's magics (`pandas_td/ipython.py :: QueryMagics`, `{var}`
    * formatting) and `read_td_query(params=)`. Values are rendered as SQL
    * literals — strings quoted with embedded quotes doubled (no injection
    * through a value), numbers/booleans verbatim. Unknown placeholders are
    * left untouched (so JSON-path braces survive). */
  private[graft] def interpolate(sql: String, params: Map[String, Any]): String =
    params.foldLeft(sql) { case (acc, (k, v)) =>
      val lit = v match {
        case s: String => "'" + s.replace("'", "''") + "'"
        case ts: java.sql.Timestamp => s"TIMESTAMP '$ts'"
        case other => other.toString
      }
      acc.replace(s"{$k}", lit)
    }

  /** `--dry-run` (reference `pandas_td/ipython.py :: QueryMagics`,
    * `%%td_presto --dry-run`): the exact SQL that WOULD run after `{var}`
    * interpolation, returned instead of executed — the reference prints
    * it and skips the job submit; here the caller gets the string (and
    * nothing is planned, registered, or cached). */
  def dryRun(sql: String, params: Map[String, Any] = Map.empty): String =
    interpolate(sql, params)

  /** `%%td_use db` analog (reference `pandas_td/ipython.py :: UseMagics`,
    * SURVEY §4.4): a bound handle over one database — the notebook binds
    * once and every subsequent query/table read goes through it without
    * re-stating the engine. Pure delegation: `query` ≡ readTdQuery,
    * `table` ≡ readTdTable, `dryRun` ≡ td.dryRun, so every pushdown
    * property of the unbound entry points holds verbatim. */
  final case class TdUse(engine: TdEngine) {
    def query(sql: String, params: Map[String, Any] = Map.empty,
        distributedJoin: Boolean = false)
        (implicit s: SparkSession): DataFrame =
      readTdQuery(sql, engine, distributedJoin, params)
    def table(name: String, columns: Seq[String] = Nil,
        timeRange: Option[(String, String)] = None, timeCol: String = "time",
        limit: Int = 10000)(implicit s: SparkSession): DataFrame =
      readTdTable(name, engine, columns, timeRange, timeCol, limit)
    def dryRun(sql: String, params: Map[String, Any] = Map.empty): String =
      td.dryRun(sql, params)
  }

  /** Bind a database: `use("mydb", root)` ≈ `%td_use mydb`. */
  def use(db: String, root: String, engineType: String = "presto"): TdUse =
    TdUse(TdEngine(engineType, db, root))

  // `%%td_presto -o name` analog (reference `pandas_td/ipython.py ::
  // QueryMagics` writes the result DataFrame into the notebook user
  // namespace under `name`): a named-result registry beside the job-id
  // cache. Bounded by the same MaxLiveJobs eviction? No — names are
  // explicit user bindings, so they live until rebound or cleared, like
  // notebook variables do.
  private val named = new ConcurrentHashMap[String, DataFrame]()

  /** Run a query and bind its result under `name` (`-o name`). The bound
    * frame is also returned, mirroring the magic's cell output. */
  def queryInto(name: String, sql: String, engine: TdEngine,
      distributedJoin: Boolean = false, params: Map[String, Any] = Map.empty)
      (implicit s: SparkSession): DataFrame = {
    val df = readTdQuery(sql, engine, distributedJoin, params)
    named.put(name, df)
    df
  }

  /** Fetch a `-o`-bound result by name. */
  def result(name: String): DataFrame = {
    val df = named.get(name)
    require(df != null, s"no bound result named '$name'")
    df
  }

  /** `-O path` analog (the magic writes the result to a local CSV file):
    * single-file CSV with header. Driver-coalesced — the magic's output
    * target is a notebook-local file, not a distributed dataset; use
    * `df.write` directly for anything large. */
  def queryToFile(sql: String, engine: TdEngine, path: String,
      params: Map[String, Any] = Map.empty)(implicit s: SparkSession): Unit =
    readTdQuery(sql, engine, params = params)
      .coalesce(1).write.mode("overwrite").option("header", "true").csv(path)

  /** `--pivot` analog: reshape a query RESULT with (index, columns,
    * values) as its first three columns — the post-processing the magic
    * applies client-side with pandas.pivot_table. Pivot values are
    * DISCOVERED from the result (one extra job over the already-small
    * result relation); d14's explicit-value-list pivot remains the form
    * that scales to raw tables. Ties to the reference's one-aggregated-
    * cell-per-pair contract via first(). */
  def pivotResult(df: DataFrame): DataFrame = {
    val cols = df.columns
    require(cols.length >= 3, s"--pivot needs (index, columns, values) " +
      s"as the first three result columns, got ${cols.mkString(", ")}")
    df.groupBy(col(cols(0))).pivot(cols(1)).agg(first(col(cols(2))))
      .orderBy(cols(0))
  }
  // `--plot` has no analog in an engine library (it is a matplotlib call
  // in the reference's notebook process) — intentionally absent.

  /** `read_td` — alias of read_td_query (reference `pandas_td/__init__.py`). */
  def readTd(sql: String, engine: TdEngine, distributedJoin: Boolean = false,
      params: Map[String, Any] = Map.empty)(implicit s: SparkSession): DataFrame =
    readTdQuery(sql, engine, distributedJoin, params)

  /** `parse_dates=` analog: named string/epoch columns → TimestampType.
    * (pandas `index_col=` has no Spark analog — row identity is key
    * columns; documented, intentionally absent.) */
  def parseDates(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.foldLeft(df) { (acc, c) =>
      acc.schema(c).dataType match {
        case org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.IntegerType =>
          acc.withColumn(c, to_timestamp(from_unixtime(col(c)))) // epoch seconds
        case _ => acc.withColumn(c, to_timestamp(col(c)))
      }
    }

  /** Issue a query and get its job id back (poll-free `QueryEngine.execute`).
    * The id is taken from THIS query's cache entry, not a racy re-read of
    * the shared counter. */
  def issueJob(sql: String, engine: TdEngine)(implicit s: SparkSession): Long =
    cacheJob(runQuery(sql, engine, distributedJoin = false, Map.empty))

  /** `read_td_job(job_id)`: re-serve a completed result without recompute.
    * The result is a snapshot: after a toTd into a table it reads, it
    * returns the rows it returned before (recomputed from its own file
    * list after an Append, served from its frozen copy after a Replace). */
  def readTdJob(jobId: Long): DataFrame = {
    val df = jobs.get(jobId)
    require(df != null, s"no such job: $jobId")
    df
  }

  /** `%td_jobs` magic analog: the live job registry as a DataFrame
    * (id + result row count; every listed job is re-servable via
    * readTdJob — TD's job console reduced to the cache the engine keeps). */
  def jobsList()(implicit s: SparkSession): DataFrame = {
    import s.implicits._
    import scala.jdk.CollectionConverters._
    // one union-of-aggregates job over the persisted results, not a
    // driver-side count() loop per job; union width is bounded by
    // MaxLiveJobs (20), so no batching is needed here (cf. tables())
    jobs.entrySet().asScala.toSeq.sortBy(_.getKey)
      .map(e => e.getValue.agg(count(lit(1)).as("n_rows"))
        .select(lit(e.getKey.longValue()).as("job_id"), col("n_rows")))
      .reduceOption(_.unionAll(_))
      .map(_.orderBy("job_id"))
      .getOrElse(Seq.empty[(Long, Long)].toDF("job_id", "n_rows"))
  }

  /** `read_td_table`: the reference's only query *builder* — projected,
    * time-range-filtered, limited scan (`:: read_td_table` generates
    * `SELECT cols WHERE td_time_range(...) LIMIT n`). Here the same three
    * clauses become Catalyst operators, so column pruning, predicate
    * pushdown and limit all reach the parquet scan. */
  def readTdTable(
      table: String,
      engine: TdEngine,
      columns: Seq[String] = Nil,
      timeRange: Option[(String, String)] = None,
      timeCol: String = "time",
      // reference default: read_td_table caps at 10,000 rows unless told
      // otherwise (`:: read_td_table`, limit=10000). limit <= 0 disables.
      limit: Int = 10000)(implicit s: SparkSession): DataFrame = {
    var df = Tables.relation(s, engine.tablePath(table))
    timeRange.foreach { case (from, to) =>
      // accepts ISO dates and 'yyyy-MM-dd HH:mm:ss' datetimes
      def sec(x: String): Long = {
        val t = x.trim
        val ldt =
          if (t.contains(" ") || t.contains("T"))
            java.time.LocalDateTime.parse(t.replace(' ', 'T'))
          else java.time.LocalDate.parse(t).atStartOfDay()
        ldt.toInstant(java.time.ZoneOffset.UTC).getEpochSecond
      }
      df = df.schema(timeCol).dataType match {
        // TD's native `time` column is epoch seconds: numeric half-open range
        case _: org.apache.spark.sql.types.LongType |
             _: org.apache.spark.sql.types.IntegerType =>
          df.where(col(timeCol) >= sec(from) && col(timeCol) < sec(to))
        case _ => df.where(Td.tdTimeRange(col(timeCol), from, to))
      }
      // bucket-partitioned table (toTd(partitionByTime=true)): add the
      // equivalent predicate on the partition column so Catalyst prunes
      // whole bucket directories (PartitionFilters), TD-style. The lower
      // bound carries one day of slack so it stays correct for ANY bucket
      // granularity up to 1 day (the reader doesn't know the writer's
      // bucketSeconds); the upper bound is exact either way. Only valid
      // when the range is applied to the `time` column the buckets were
      // derived from — a range on any other column must NOT pick up an
      // ingest-time filter.
      if (timeCol == "time" && df.columns.contains("time_bucket")) {
        df = df.where(col("time_bucket") > (sec(from) - 86400L)
          && col("time_bucket") < sec(to))
      }
    }
    if (columns.nonEmpty) df = df.select(columns.map(col): _*)
    if (limit > 0) df = df.limit(limit)
    df
  }

  /** `to_td(df, "db.table", con, if_exists=, time_col=)`: managed ingest.
    * Reproduces the reference's time synthesis (`:: to_td`): `timeCol`
    * names a timestamp column converted to epoch seconds; absent that, a
    * constant load time is injected. Chunked idempotent upload
    * (`:: StreamingUploader`) maps to parquet task commit: one task = one
    * chunk, the output committer = the per-chunk unique id. */
  def toTd(
      df: DataFrame,
      name: String,
      con: TdConnection,
      ifExists: IfExists = IfExists.Fail,
      timeCol: Option[String] = None,
      loadTime: Option[Long] = None,
      partitionByTime: Boolean = false,
      bucketSeconds: Long = 3600L): Unit = {
    // readTdTable's partition-pruning predicate allows the lower bound one
    // day of slack — a coarser bucket would make time-range reads silently
    // drop in-range rows (the containing bucket's directory is pruned
    // before the row filter sees it), so refuse to write one
    require(bucketSeconds >= 1L && bucketSeconds <= 86400L,
      s"bucketSeconds must be within [1, 86400] — readTdTable prunes " +
        s"buckets with one day of lower-bound slack; got $bucketSeconds")
    val Array(db, table) = name.split("\\.", 2)
    val out = Paths.get(con.root, db, s"$table.parquet").toString
    val withTime = timeCol match {
      case Some(c) => df.withColumn("time", unix_timestamp(col(c)))
      case None if !df.columns.contains("time") =>
        df.withColumn("time",
          lit(loadTime.getOrElse(System.currentTimeMillis() / 1000L)))
      case None => df
    }
    val mode = ifExists match {
      case IfExists.Fail    => "errorifexists"
      case IfExists.Replace => "overwrite"
      case IfExists.Append  => "append"
    }
    def writeSchemaMeta(written: DataFrame): Unit = {
      // sink metadata (see readTdTable): the underscore prefix keeps the
      // file invisible to Spark's parquet listing, like _SUCCESS
      val p = Tables.schemaPath(out)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, written.schema.json.getBytes("UTF-8"))
    }
    releaseJobs(out, freeze = ifExists == IfExists.Replace)(df.sparkSession)
    if (partitionByTime) {
      // TD storage model: 1-hour time buckets (SURVEY.md §2.1) — hive-style
      // directory partitioning so time-range scans prune whole buckets
      // before any file is opened (the 100 TB path for event tables).
      // Repartition ON the bucket column first: without it every write
      // task owns rows of every bucket and emits tasks×buckets tiny files
      // (measured 16.6 s vs 2 s at sf0.1×32 tasks) — the small-files
      // problem this library's own Compaction utility exists to undo.
      val bucketed = withTime
        .withColumn("time_bucket",
          (col("time").cast("long") / bucketSeconds).cast("long") * bucketSeconds)
      bucketed.repartition(col("time_bucket"))
        .write.mode(mode).partitionBy("time_bucket").parquet(out)
      writeSchemaMeta(bucketed)
    } else {
      withTime.write.mode(mode).parquet(out)
      writeSchemaMeta(withTime)
    }
    // drop this table's relation even when its stamp would not move (a
    // filesystem with coarse mtimes), so the write is seen by the next read
    Tables.forget(out)
  }

  /** Release every live job result that reads the table at `dir`, before
    * toTd writes it or when the relation memo re-lists it: unpersisted, so
    * Spark's post-write `recacheByPath` (one file re-listing and re-plan
    * per cached result over the path) finds nothing to refresh and no
    * stale result answers a new query. The handle stays in `jobs` as a
    * snapshot: its executed plan keeps the file list it was read with,
    * which an Append leaves intact. An overwrite deletes those files, so
    * with `freeze` each result is first replaced by a local checkpoint of
    * itself (read from its cache when that is loaded); a result that
    * cannot be computed is left as it is, failing as it would have. */
  private def releaseJobs(dir: String, freeze: Boolean)(implicit s: SparkSession): Unit = {
    val target = new org.apache.hadoop.fs.Path(dir)
    val fs = target.getFileSystem(s.sparkContext.hadoopConfiguration)
    val prefix = fs.makeQualified(target).toString
    def readsTarget(df: DataFrame): Boolean =
      df.queryExecution.analyzed.collectWithSubqueries {
        case l: LogicalRelation => l.relation
      }.exists {
        case r: HadoopFsRelation => r.location.rootPaths.exists { p =>
          val q = fs.makeQualified(p).toString
          q == prefix || q.startsWith(prefix + "/")
        }
        case _ => false
      }
    jobs.forEach { (id, df) =>
      if (readsTarget(df)) {
        if (freeze) scala.util.Try(df.localCheckpoint()).foreach(jobs.replace(id, df, _))
        df.unpersist(blocking = false)
      }
    }
  }

  // a table whose listing moved may have changed under live job results:
  // Spark's cache matches plans by table path, so a cached result would
  // otherwise answer a later query with the rows from before a write made
  // outside toTd
  Tables.onRelist((s, path) => releaseJobs(path, freeze = false)(s))

  /** Register each table of the engine's database as a temp view over its
    * memoized relation ([[graft.Tables.relation]]): a table is re-listed
    * only when its stamp moves, so a
    * query over an unchanged catalog starts no Spark job here. */
  private def registerTables(engine: TdEngine)(implicit s: SparkSession): Unit = {
    val dir = Paths.get(engine.root, engine.database).toFile
    val flat = new java.io.File(engine.root)
    val files = Option(dir.listFiles()).filter(_.nonEmpty)
      .orElse(Option(flat.listFiles())).getOrElse(Array())
      .filter(_.getName.endsWith(".parquet"))
    // set before any table is read, so every schema of this catalog is
    // inferred (and stamped) under the same value
    if (files.exists(_.getName == "events.parquet")) s.conf.set(Tables.NanosAsLong, "true")
    files.foreach { f =>
      Tables.relation(s, f.getPath).createOrReplaceTempView(f.getName.stripSuffix(".parquet"))
    }
  }
}
