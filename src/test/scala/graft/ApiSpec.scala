package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.api.td
import graft.api.td.IfExists

/** CLIENT-API layer (SURVEY.md §3.A a5–a9, §6.1): like the reference's
  * mocked-client tests assert generated SQL text, these assert the
  * generated *plan* — pruning/pushdown/limit visible to Catalyst — plus
  * to_td mode/time-synthesis behavior by read-back. */
class ApiSpec extends AnyFunSuite {
  implicit lazy val spark: org.apache.spark.sql.SparkSession = TestSpark.spark

  test("createEngine parses presto:db and hive:db, rejects junk") {
    assert(td.createEngine("presto:sf0.001", "/root/testdata").database == "sf0.001")
    assert(td.createEngine("hive:sf0.001", "/root/testdata").engineType == "hive")
    intercept[IllegalArgumentException](td.createEngine("mysql://x", "/root/testdata"))
  }

  test("createEngine accepts the long td+presto URL form (credentials carried, inert)") {
    val e = td.createEngine(
      "td+presto://0123/abcd@api.treasuredata.example.com/sf0.001", "/root/testdata")
    assert(e.engineType == "presto" && e.database == "sf0.001")
    // the handle carries the parsed credentials/endpoint (reference engine
    // attributes) — nothing consumes them in-sandbox, but a migrating
    // caller can read them back; a '/' in the api key survives (greedy @)
    assert(e.apiKey.contains("0123/abcd"))
    assert(e.endpoint.contains("api.treasuredata.example.com"))
    val h = td.createEngine("td+hive://k@host/mydb?param=1", "/root/testdata")
    assert(h.engineType == "hive" && h.database == "mydb")
    intercept[IllegalArgumentException](
      td.createEngine("td+mysql://k@host/mydb", "/root/testdata"))
    // the database is the FULL path (reference passes it through verbatim)
    assert(td.createEngine("td+presto://k@host/db1/db2", "/root/testdata")
      .database == "db1/db2")
    // a trailing slash is not part of the database name
    assert(td.createEngine("td+presto://k@host/mydb/", "/root/testdata")
      .database == "mydb")
    // an empty endpoint is malformed, not silently accepted
    intercept[IllegalArgumentException](
      td.createEngine("td+presto:///mydb", "/root/testdata"))
  }

  test("connect() reads the reference's environment variables") {
    val con = td.connectFromEnv(Map(
      "TD_API_KEY" -> "0123/abcd", "TD_API_SERVER" -> "api.example.com",
      "TD_SPARK_ROOT" -> "/root/testdata"))
    assert(con.root == "/root/testdata")
    assert(con.apiKey.contains("0123/abcd"))
    assert(con.apiServer.contains("api.example.com"))
    // no key → same failure mode as the reference's client construction
    intercept[IllegalArgumentException](td.connectFromEnv(Map.empty))
    intercept[IllegalArgumentException](td.connectFromEnv(Map("TD_API_KEY" -> " ")))
  }

  test("createEngine falls back to TD_API_KEY/TD_API_SERVER env defaults") {
    // short form: key + server both from env (reference create_engine
    // default-apikey behavior)
    val s = td.createEngineFromEnv("presto:mydb", "/root/testdata",
      Map("TD_API_KEY" -> "9/z", "TD_API_SERVER" -> "api.example.com"))
    assert(s.apiKey.contains("9/z") && s.endpoint.contains("api.example.com"))
    // long form: URL credentials win over env; URL endpoint always wins
    val l = td.createEngineFromEnv("td+presto://urlkey@host/db", "/root/testdata",
      Map("TD_API_KEY" -> "9/z", "TD_API_SERVER" -> "api.example.com"))
    assert(l.apiKey.contains("urlkey") && l.endpoint.contains("host"))
    // long form without credentials: env key fills in
    val n = td.createEngineFromEnv("td+presto://host/db", "/root/testdata",
      Map("TD_API_KEY" -> "9/z"))
    assert(n.apiKey.contains("9/z") && n.endpoint.contains("host"))
    // no env at all: fields stay empty, engine still works
    assert(td.createEngineFromEnv("presto:mydb", "/root/testdata", Map.empty)
      .apiKey.isEmpty)
  }

  test("databases/tables accept the magics' optional filter pattern") {
    val wh = Files.createTempDirectory("graft_whp").toString
    val con = td.connect(wh)
    val src = spark.read.parquet(s"${TestSpark.sf}/region.parquet")
    td.toTd(src, "marketing.region", con, IfExists.Replace, loadTime = Some(1L))
    td.toTd(src, "marketing.users", con, IfExists.Replace, loadTime = Some(1L))
    td.toTd(src, "sales.region", con, IfExists.Replace, loadTime = Some(1L))
    // %td_databases mark → unanchored regex, re.search semantics
    assert(con.databases(Some("mark")).collect().map(_.getString(0)).toSeq
      == Seq("marketing"))
    assert(con.databases().count() == 2)
    // %td_tables reg → filters within the db
    assert(con.tables("marketing", Some("^reg")).collect().map(_.getString(0)).toSeq
      == Seq("region"))
    assert(con.tables("marketing").count() == 2)
  }

  test("create_engine(header=) tags the job description and the query text") {
    val e = td.createEngine("presto:sf0.001", "/root/testdata",
      header = Some("nightly kpi rollup"))
    assert(e.headerTag == "nightly kpi rollup")
    // the comment-prefixed text must still parse and run
    val df = td.readTdQuery("SELECT count(*) AS n FROM nation", e)
    assert(df.head().getLong(0) == 25)
    assert(spark.sparkContext.getLocalProperty("spark.job.description")
      == "nightly kpi rollup")
    // default: the td:<engine>:<db> tag
    td.readTdQuery("SELECT 1 AS one", td.createEngine("presto:sf0.001", "/root/testdata"))
    assert(spark.sparkContext.getLocalProperty("spark.job.description")
      == "td:presto:sf0.001")
  }

  test("toTd refuses bucket granularities coarser than the read-side slack") {
    val wh = Files.createTempDirectory("graft_wh3").toString
    val con = td.connect(wh)
    val src = spark.read.parquet(s"${TestSpark.sf}/region.parquet")
    intercept[IllegalArgumentException](
      td.toTd(src, "db9.r", con, IfExists.Replace, loadTime = Some(1700000000L),
        partitionByTime = true, bucketSeconds = 7 * 86400L))
  }

  test("readTdTable prunes columns and pushes the time-range predicate") {
    val e = td.createEngine("presto:sf0.001", "/root/testdata")
    val df = td.readTdTable("orders", e,
      columns = Seq("o_orderkey", "o_orderdate"),
      timeRange = Some(("1996-01-01", "1997-01-01")), timeCol = "o_orderdate")
    assert(df.columns.toSeq == Seq("o_orderkey", "o_orderdate"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters"), plan)
    assert(plan.contains("GreaterThanOrEqual(o_orderdate"), plan)
    // ReadSchema pruned to the two referenced columns (parquet ms
    // timestamps surface as timestamp_ntz in Spark 4)
    assert(plan.contains("ReadSchema: struct<o_orderkey:bigint,o_orderdate:timestamp"), plan)
    val n = df.count()
    assert(n > 0 && n < spark.read.parquet(s"${TestSpark.sf}/orders.parquet").count())
  }

  test("readTdTable limit plans a limit, not a full materialization") {
    val e = td.createEngine("presto:sf0.001", "/root/testdata")
    val df = td.readTdTable("orders", e, limit = 10)
    assert(df.queryExecution.optimizedPlan.toString.contains("GlobalLimit"),
      df.queryExecution.optimizedPlan.toString)
    assert(df.count() == 10)
  }

  test("toTd fail/replace/append modes + time synthesis") {
    val wh = Files.createTempDirectory("graft_wh").toString
    val con = td.connect(wh)
    val src = spark.read.parquet(s"${TestSpark.sf}/region.parquet")
    td.toTd(src, "db1.region", con, IfExists.Fail, loadTime = Some(1700000000L))
    intercept[Exception](td.toTd(src, "db1.region", con, IfExists.Fail))
    td.toTd(src, "db1.region", con, IfExists.Append, loadTime = Some(1700000000L))
    val doubled = spark.read.parquet(s"$wh/db1/region.parquet")
    assert(doubled.count() == 2 * src.count())
    assert(doubled.columns.contains("time")) // injected load time
    assert(doubled.select("time").distinct().head().getLong(0) == 1700000000L)
    td.toTd(src, "db1.region", con, IfExists.Replace, loadTime = Some(1700000000L))
    assert(spark.read.parquet(s"$wh/db1/region.parquet").count() == src.count())

    // time_col synthesis: epoch seconds from a named timestamp column
    val orders = spark.read.parquet(s"${TestSpark.sf}/orders.parquet").limit(5)
    td.toTd(orders, "db1.o5", con, IfExists.Replace, timeCol = Some("o_orderdate"))
    val back = spark.read.parquet(s"$wh/db1/o5.parquet")
    val chk = back.select((col("time") === unix_timestamp(col("o_orderdate"))).as("ok"))
      .agg(sum(when(col("ok"), 0).otherwise(1))).head().getLong(0)
    assert(chk == 0)

    // catalog over the warehouse we just wrote
    assert(con.databases().collect().map(_.getString(0)).contains("db1"))
    val tbls = con.tables("db1").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(tbls("region") == src.count() && tbls.contains("o5"))
  }

  test("toTd(partitionByTime) writes hour buckets; readTdTable prunes them") {
    val wh = Files.createTempDirectory("graft_wh2").toString
    val con = td.connect(wh)
    val ev = Tables.events(spark, TestSpark.sf)
      .select(col("event_id"), col("user_id"), col("value"),
        (col("ts_ms") / 1000).cast("long").as("t_sec"))
      .select(col("event_id"), col("user_id"), col("value"),
        to_timestamp(from_unixtime(col("t_sec"))).as("ev_time"))
    td.toTd(ev, "db2.events_b", con, IfExists.Replace,
      timeCol = Some("ev_time"), partitionByTime = true)
    // hive-style bucket dirs exist
    val dirs = new java.io.File(s"$wh/db2/events_b.parquet").listFiles()
      .filter(_.getName.startsWith("time_bucket=")).map(_.getName)
    assert(dirs.length > 100, s"expected many 1-h buckets, got ${dirs.length}")

    val e = td.createEngine("presto:db2", wh)
    val pruned = td.readTdTable("events_b", e,
      timeRange = Some(("2024-01-05", "2024-01-06")), timeCol = "time")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("time_bucket"), plan)
    // collect() executes THIS QueryExecution, so its scan metrics are the
    // populated ones (count() would spawn a fresh execution)
    val n = pruned.collect().length.toLong
    assert(n > 0 && n < ev.count() / 10,
      s"bucket pruning should cut to ~1/30 of the month, got $n")
    // measured, not just planned: the scan OPENED only the matched
    // buckets' files — the requested day plus the 1-day lower-bound slack
    // is ≤ 72 hour-dirs of the month's ~700; at 100 TB this numFiles cut
    // is the TD time-index behavior the layout exists for
    val numFiles = TestSpark.fileScans(pruned.queryExecution.executedPlan)
      .map(_.metrics("numFiles").value).sum
    assert(numFiles > 0 && numFiles < dirs.length / 3,
      s"scan opened $numFiles files of ${dirs.length} bucket dirs — " +
        "partition pruning did not engage")
  }

  test("readTdQuery executes through temp views; readTdJob re-serves cached") {
    val e = td.createEngine("presto:sf0.001", "/root/testdata")
    val df = td.readTdQuery("SELECT count(*) AS n FROM nation", e)
    assert(df.head().getLong(0) == 25)
    val id = td.issueJob("SELECT count(*) AS n FROM region", e)
    val job = td.readTdJob(id)
    assert(job.head().getLong(0) == 5)
    // cached: the storage level must be non-NONE (no recompute on re-read)
    assert(job.storageLevel.useMemory || job.storageLevel.useDisk)
    intercept[IllegalArgumentException](td.readTdJob(999999L))
    // %td_jobs analog: the issued job is listed with its row count
    val listed = td.jobsList().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(listed.get(id).contains(1L))
  }

  test("readTdQuery runs verbatim Presto-dialect query text end-to-end") {
    // The exact text a pandas-td notebook sends to Presto today — Presto
    // function names, quoted date_diff unit, strpos arg order — must run
    // unchanged (VERDICT r8 item 1; functions/Presto.scala).
    val e = td.createEngine("presto:sf0.001", "/root/testdata")
    val df = td.readTdQuery("""
      SELECT o_orderpriority,
             approx_distinct(o_custkey % 4) AS nd,
             arbitrary(strpos(o_orderpriority, '-')) AS dash_pos,
             max(date_diff('day', DATE '1995-01-01',
                           CAST(o_orderdate AS DATE))) AS max_days
      FROM orders
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority""", e)
    val rows = df.collect()
    assert(rows.length == 5)
    assert(rows.forall(_.getLong(1) == 4L)) // exact-regime HLL
    assert(rows.forall(_.getInt(2) == 2))
    assert(rows.forall(_.getLong(3) > 0L))
  }

  test("dialect builtin shadows are STATEMENT-scoped: native SQL after readTdQuery keeps Spark semantics") {
    // HERMETIC session: the scope restores whatever the session resolved
    // BEFORE the statement — on a session where some earlier suite ran
    // GraftExtensions.registerAll (ExtensionsSpec does, on the shared
    // one), that prior state is legitimately the resident dialect, and
    // this test's "native semantics after" assertion would depend on
    // suite order. A fresh newSession pins the clean-session contract;
    // PrestoSpec pins the resident/override-restore contracts.
    // (named `spark` so the local implicit SHADOWS the suite-level one —
    // two implicit SparkSessions in scope would be ambiguous)
    implicit val spark: org.apache.spark.sql.SparkSession =
      ApiSpec.this.spark.newSession()
    val s = spark
    val e = td.createEngine("presto:sf0.001", "/root/testdata")
    // Presto text: split is LITERAL — '.' splits 'a.b.c'
    val r = td.readTdQuery(
      "SELECT split('a.b.c', '.') AS parts FROM region LIMIT 1", e)
    assert(r.collect().head.getSeq[String](0) == Seq("a", "b", "c"))
    // the SAME session right after: Spark's split is REGEX again — '.'
    // matches every char (4 empty fields on 'abc'), '\\.' is the literal
    // dot. Before the statement-scoping fix the Presto override leaked
    // here and silently returned 1.
    val n = s.sql("SELECT size(split('abc', '.')) AS n")
      .collect().head.getInt(0)
    assert(n == 4, s"native regex split semantics not restored (got $n)")
    assert(s.sql("SELECT split('a.b.c', '\\\\.') AS p")
      .collect().head.getSeq[String](0) == Seq("a", "b", "c"))
  }

  test("-o binding, -O file dump, and --pivot reshape conveniences") {
    val e = td.createEngine("presto:sf0.001", "/root/testdata")
    // -o: run + bind + re-fetch
    val bound = td.queryInto("prio_counts",
      "SELECT o_orderpriority, o_orderstatus, count(*) AS n " +
        "FROM orders GROUP BY 1, 2", e)
    assert(td.result("prio_counts").count() == bound.count())
    intercept[IllegalArgumentException](td.result("never_bound"))
    // --pivot: (index, columns, values) reshape of the bound result
    val piv = td.pivotResult(td.result("prio_counts"))
    assert(piv.columns.head == "o_orderpriority" && piv.columns.length >= 3)
    assert(piv.count() == 5) // one row per priority
    intercept[IllegalArgumentException](
      td.pivotResult(bound.select("o_orderpriority", "n")))
    // -O: header CSV lands on disk as one file
    val out = java.nio.file.Files.createTempDirectory("graft_o").toString + "/res"
    td.queryToFile("SELECT count(*) AS n FROM nation", e, out)
    val csv = spark.read.option("header", "true").csv(out)
    assert(csv.columns.sameElements(Array("n")) && csv.head().getString(0) == "25")
  }

  test("readTdQuery params interpolate as safe SQL literals") {
    val e = td.createEngine("presto:sf0.001", "/root/testdata")
    val df = td.readTdQuery(
      "SELECT count(*) AS n FROM customer WHERE c_mktsegment = {seg} AND c_custkey < {k}",
      e, params = Map("seg" -> "BUILDING", "k" -> 100))
    assert(df.head().getLong(0) > 0)
    // embedded quote is doubled, not an injection point
    assert(td.interpolate("x = {v}", Map("v" -> "O'Brien")) == "x = 'O''Brien'")
    // unknown braces (e.g. JSON paths) survive untouched
    assert(td.interpolate("get_json_object(p,'$.k') AND {known}",
      Map("known" -> 1)) == "get_json_object(p,'$.k') AND 1")
  }

  test("readTdQueryBound: bound plan == literal plan; injection-shaped strings stay inert") {
    val e = td.createEngine("presto:sf0.001", "/root/testdata")
    val text = "SELECT c_custkey, c_name FROM customer " +
      "WHERE c_mktsegment = :seg AND c_custkey < :k ORDER BY c_custkey"
    val bound = td.readTdQueryBound(text, e,
      Map("seg" -> "BUILDING", "k" -> 100))
    val literal = td.readTdQuery("SELECT c_custkey, c_name FROM customer " +
      "WHERE c_mktsegment = 'BUILDING' AND c_custkey < 100 ORDER BY c_custkey", e)
    // the marker resolves in the parser to the SAME literal expression, so
    // the optimized plans are indistinguishable — every pushdown property
    // of the literal spelling holds for the binding
    assert(bound.queryExecution.optimizedPlan.canonicalized ==
      literal.queryExecution.optimizedPlan.canonicalized)
    assert(bound.collect().sameElements(literal.collect()))
    // a bound value never transits query text: the classic injection
    // string is ONE inert literal (no customer has it as a segment), where
    // naive text splicing would have widened the predicate to everything
    val inj = td.readTdQueryBound(
      "SELECT count(*) AS n FROM customer WHERE c_mktsegment = :seg", e,
      Map("seg" -> "BUILDING' OR '1'='1"))
    assert(inj.head().getLong(0) == 0L)
  }

  test("readTd alias and parseDates conversion") {
    val e = td.createEngine("presto:sf0.001", "/root/testdata")
    assert(td.readTd("SELECT 1 AS x", e).head().getInt(0) == 1)
    val df = spark.sql("SELECT 1700000000L AS epoch_s, '2024-01-02 03:04:05' AS iso")
    val parsed = td.parseDates(df, Seq("epoch_s", "iso"))
    import org.apache.spark.sql.types.TimestampType
    assert(parsed.schema("epoch_s").dataType == TimestampType)
    assert(parsed.schema("iso").dataType == TimestampType)
    val r = parsed.select(unix_timestamp(col("epoch_s"))).head().getLong(0)
    assert(r == 1700000000L)
  }

  test("use(db) bound handle delegates to the unbound entry points") {
    val handle = td.use("sf0.001", "/root/testdata")
    val e = td.createEngine("presto:sf0.001", "/root/testdata")
    // bound-handle table read ≡ readTdTable, row for row
    val viaHandle = handle.table("customer",
      columns = Seq("c_custkey", "c_mktsegment"), limit = 50)
      .collect().map(_.toSeq).toSet
    val viaFree = td.readTdTable("customer", e,
      columns = Seq("c_custkey", "c_mktsegment"), limit = 50)
      .collect().map(_.toSeq).toSet
    assert(viaHandle == viaFree && viaHandle.nonEmpty)
    // bound-handle query ≡ readTdQuery
    assert(handle.query("SELECT count(*) AS n FROM nation").head().getLong(0) ==
      td.readTdQuery("SELECT count(*) AS n FROM nation", e).head().getLong(0))
  }

  test("dryRun returns the interpolated SQL without planning anything") {
    val sql = "SELECT * FROM t WHERE seg = {seg} AND k < {k} AND ts < {ts}"
    val rendered = td.dryRun(sql, Map(
      "seg" -> "O'Brien", "k" -> 100,
      "ts" -> java.sql.Timestamp.valueOf("2024-01-02 03:04:05")))
    assert(rendered ==
      "SELECT * FROM t WHERE seg = 'O''Brien' AND k < 100 " +
        "AND ts < TIMESTAMP '2024-01-02 03:04:05.0'")
    // no params → identity; unknown braces survive (JSON paths)
    assert(td.dryRun("SELECT get_json_object(p,'$.k') FROM t") ==
      "SELECT get_json_object(p,'$.k') FROM t")
    // the bound handle exposes the same dry-run
    assert(td.use("sf0.001", "/root/testdata").dryRun("x = {v}",
      Map("v" -> 1)) == "x = 1")
    // dry-run of a nonexistent table must NOT throw — nothing is planned
    assert(td.dryRun("SELECT * FROM table_that_does_not_exist_{i}",
      Map("i" -> 9)).endsWith("_9"))
  }

  /** Spark jobs started while `body` runs. A listener counts the jobs
    * between two marker jobs: the listener bus is asynchronous, so the
    * closing marker's start event is what proves every earlier job of
    * `body` has been seen. */
  private def jobsDuring[A](body: => A): (A, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val token = java.util.UUID.randomUUID().toString
    val markers = new java.util.concurrent.CountDownLatch(2)
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("graft.marker") == token))
          markers.countDown()
        else if (markers.getCount == 1) started.incrementAndGet()
    }
    def marker(): Unit = {
      sc.setLocalProperty("graft.marker", token)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.marker", null)
    }
    sc.addSparkListener(counter)
    try {
      marker()
      val out = body
      marker()
      assert(markers.await(60, java.util.concurrent.TimeUnit.SECONDS))
      (out, started.get)
    } finally sc.removeSparkListener(counter)
  }

  test("a warm readTdQuery over an unchanged catalog starts no Spark job") {
    val e = td.createEngine("presto:sf0.001", TestSpark.sfRoot)
    td.readTdQuery("SELECT 1 AS x", e)
    val (df, jobs) = jobsDuring(
      td.readTdQuery("SELECT count(*) AS n FROM nation", e))
    assert(jobs == 0, s"schema inference re-ran: $jobs jobs")
    assert(df.head().getLong(0) == 25)
  }

  test("readTdQuery sees toTd appends, replaced columns and rewritten files") {
    val wh = Files.createTempDirectory("graft_cat").toString
    val con = td.connect(wh)
    val e = td.createEngine("presto:cat", wh)
    val src = spark.read.parquet(s"${TestSpark.sf}/region.parquet")
    def one(sql: String): Long = td.readTdQuery(sql, e).head().getLong(0)
    td.toTd(src, "cat.r", con, IfExists.Replace, loadTime = Some(1L))
    assert(one("SELECT count(*) FROM r") == 5)
    td.toTd(src, "cat.r", con, IfExists.Append, loadTime = Some(2L))
    assert(one("SELECT count(*) FROM r") == 10)
    td.toTd(src.withColumn("extra", lit(7L)), "cat.r", con, IfExists.Replace,
      loadTime = Some(3L))
    assert(one("SELECT sum(extra) FROM r") == 35)
    // an unmanaged table (no sink metadata): its schema is inferred, and
    // rewriting the file with another schema moves its mtime
    val raw = s"$wh/cat/u.parquet"
    spark.range(3).write.parquet(raw)
    assert(td.readTdQuery("SELECT * FROM u", e).columns.toSeq == Seq("id"))
    spark.range(3).selectExpr("id", "id * 2 AS twice")
      .write.mode("overwrite").parquet(raw)
    assert(one("SELECT sum(twice) FROM u") == 6)
  }

  test("a schema inferred under one nanosAsLong value is never served under the other") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    import org.apache.spark.sql.types.LongType
    // Spark cannot write TIMESTAMP(NANOS), so write it with parquet-mr
    val root = Files.createTempDirectory("graft_nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(
      new org.apache.hadoop.fs.Path(s"$root/db/t.parquet")).withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("ts", 1L))
    finally w.close()
    val e = td.createEngine("presto:db", root)
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    def tsType(nanosAsLong: String) = {
      val prior = spark.conf.getOption(key)
      spark.conf.set(key, nanosAsLong)
      try scala.util.Try(td.readTdTable("t", e).schema("ts").dataType)
      finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
    assert(tsType("true").toOption.contains(LongType))
    assert(!tsType("false").toOption.contains(LongType))
    assert(tsType("true").toOption.contains(LongType))
  }

  /** A fresh warehouse holding `db.ev`: `batch` (400 rows over 40 hours)
    * written by toTd into 40 `time_bucket=` dirs — more than the 32 above
    * which Spark lists a table with a parallel-listing job. */
  private def bucketed(db: String) = {
    val wh = Files.createTempDirectory("graft_bk").toString
    val con = td.connect(wh)
    val batch = spark.range(400).select(col("id"),
      (lit(1700000000L) + col("id") % 40 * 3600L).as("time"))
    td.toTd(batch, s"$db.ev", con, IfExists.Replace, partitionByTime = true)
    (wh, con, td.createEngine(s"presto:$db", wh), batch)
  }

  private def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.collect().map(_.getLong(0)).toSeq.sorted

  test("readTdJob returns the rows it returned before a toTd Append to its table") {
    val (_, con, e, batch) = bucketed("snapa")
    val id = td.issueJob("SELECT id FROM ev WHERE id < 7", e)
    val before = ids(td.readTdJob(id))
    td.toTd(batch, "snapa.ev", con, IfExists.Append, partitionByTime = true)
    assert(ids(td.readTdJob(id)) == before && before.size == 7)
    assert(td.readTdQuery("SELECT count(*) FROM ev WHERE id < 7", e)
      .head().getLong(0) == 14)
  }

  test("readTdJob and jobsList keep results over a table toTd replaces") {
    val wh = Files.createTempDirectory("graft_rep").toString
    val con = td.connect(wh)
    val e = td.createEngine("presto:rep", wh)
    td.toTd(spark.range(5).toDF("id"), "rep.t", con, IfExists.Replace, loadTime = Some(1L))
    val read = td.issueJob("SELECT id FROM t", e)
    val before = ids(td.readTdJob(read))
    // issued, never collected: computed from the files it would have read
    val unread = td.issueJob("SELECT id * 10 FROM t", e)
    td.toTd(spark.range(100, 102).toDF("id"), "rep.t", con, IfExists.Replace,
      loadTime = Some(2L))
    assert(ids(td.readTdJob(read)) == before && before == (0L until 5L))
    assert(ids(td.readTdJob(unread)) == (0L until 50L by 10L))
    val listed = td.jobsList().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(listed(read) == 5L && listed(unread) == 5L)
    assert(ids(td.readTdQuery("SELECT id FROM t", e)) == Seq(100L, 101L))
    // a result that fails when computed does not fail the write (it stays
    // live and unreadable, so jobsList fails until it is evicted: last)
    val broken = td.issueJob("SELECT id, raise_error('boom') FROM t", e)
    td.toTd(spark.range(5).toDF("id"), "rep.t", con, IfExists.Replace, loadTime = Some(3L))
    intercept[Exception](td.readTdJob(broken).collect())
  }

  test("toTd's Spark-job count does not grow with live results over its table") {
    val (_, con, e, batch) = bucketed("cost")
    def append(): Int = jobsDuring(
      td.toTd(batch, "cost.ev", con, IfExists.Append, partitionByTime = true))._2
    val alone = append()
    (1 to 5).foreach(i => td.readTdQuery(s"SELECT count(*) + $i FROM ev", e).collect())
    val withLive = append()
    assert(withLive == alone, s"$alone jobs alone, $withLive with 5 live results")
  }

  test("a second read of an unchanged bucketed table starts no Spark job") {
    val (_, _, e, _) = bucketed("warm")
    td.readTdQuery("SELECT count(*) FROM ev", e)
    val (q, qJobs) = jobsDuring(td.readTdQuery("SELECT count(*) AS n FROM ev", e))
    val (t, tJobs) = jobsDuring(td.readTdTable("ev", e, limit = 0))
    assert(qJobs == 0 && tJobs == 0, s"readTdQuery: $qJobs jobs, readTdTable: $tJobs")
    assert(q.head().getLong(0) == 400 && t.count() == 400)
    // two reads of one table still join as two relations
    val a = td.readTdTable("ev", e, limit = 0)
    val b = td.readTdTable("ev", e, limit = 0)
    assert(a.join(b, a("id") === b("id")).count() == 400)
  }

  test("a file spark.write appends under an existing time_bucket dir is seen by the next read") {
    val (wh, _, e, _) = bucketed("ext")
    assert(td.readTdTable("ev", e, limit = 0).count() == 400)
    assert(td.readTdQuery("SELECT count(*) FROM ev", e).head().getLong(0) == 400)
    val dir = new java.io.File(s"$wh/ext/ev.parquet").listFiles()
      .filter(_.getName.startsWith("time_bucket=")).minBy(_.getName)
    spark.range(3).select(col("id"), lit(1700000000L).as("time"))
      .write.mode("append").parquet(dir.getPath)
    assert(td.readTdTable("ev", e, limit = 0).count() == 403)
    assert(td.readTdQuery("SELECT count(*) FROM ev WHERE id >= 0", e)
      .head().getLong(0) == 403)
  }

  test("a warm Tables.t read of an unchanged table starts no Spark job") {
    Tables.t(spark, TestSpark.sf, "nation")
    val (df, jobs) = jobsDuring(Tables.t(spark, TestSpark.sf, "nation"))
    assert(jobs == 0, s"the read started $jobs jobs")
    assert(df.count() == 25)
  }

  test("a rewritten fixture file is seen by the next Tables.t read") {
    import java.nio.file.StandardCopyOption.REPLACE_EXISTING
    val dir = Files.createTempDirectory("graft_fix")
    val file = dir.resolve("t.parquet")
    Files.copy(java.nio.file.Paths.get(s"${TestSpark.sf}/region.parquet"), file)
    assert(Tables.t(spark, dir.toString, "t").count() == 5)
    Files.copy(java.nio.file.Paths.get(s"${TestSpark.sf}/nation.parquet"), file,
      REPLACE_EXISTING)
    val after = Tables.t(spark, dir.toString, "t")
    assert(after.columns.contains("n_nationkey") && after.count() == 25)
  }

  test("the relation memo drops tables that are gone and keeps at most its cap") {
    // one small managed table (schema metadata: no inference job per read),
    // copied into one directory per table
    val base = Files.createTempDirectory("graft_memo")
    val src = base.resolve("src").toString
    spark.range(3).coalesce(1).write.parquet(src)
    val part = new java.io.File(src).listFiles().filter(_.getName.endsWith(".parquet")).head
    val meta = spark.read.parquet(src).schema.json.getBytes("UTF-8")
    def table(i: Int): String = {
      val dir = Files.createDirectories(base.resolve(s"t$i.parquet"))
      Files.copy(part.toPath, dir.resolve(part.getName))
      Files.write(Tables.schemaPath(dir.toString), meta)
      dir.toString
    }
    val gone = table(0)
    assert(Tables.relation(spark, gone).count() == 3)
    Files.list(java.nio.file.Paths.get(gone)).forEach(f => Files.delete(f))
    Files.delete(java.nio.file.Paths.get(gone))
    val first = table(1)
    Tables.relation(spark, first)
    assert(!Tables.memoized.contains(gone))
    val rest = (2 to Tables.MaxListed + 10).map(table)
    rest.foreach(Tables.relation(spark, _))
    assert(Tables.memoized.size <= Tables.MaxListed)
    // the least recently read went first
    assert(!Tables.memoized.contains(first) && Tables.memoized.contains(rest.last))
  }

  test("readTdQuery supports td_time_range in passthrough SQL") {
    val e = td.createEngine("presto:sf0.001", "/root/testdata")
    val df = td.readTdQuery(
      "SELECT count(*) AS n FROM orders WHERE td_time_range(o_orderdate, '1996-01-01', '1997-01-01')", e)
    val n = df.head().getLong(0)
    assert(n > 0 && n < 1500)
  }
}
