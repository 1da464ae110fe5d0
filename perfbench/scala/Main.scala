package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.api.td

/** The benchmark's JVM side. It drives the public entry points
  * (`graft.api.td`, `graft.SparkEntry.queries`) from outside, on the inputs
  * and the operation plan that `run.py` generated, and writes what it
  * measured to a JSON result file:
  *
  *   java ... perfbench.Main <plan.json>
  *
  * One closed-loop client: each operation starts after the previous one has
  * returned everything to the caller (rows collected for the td facade, a
  * `noop` write of every column for registry keys).
  *
  * With `trace` set, every other timed operation of each kind is traced
  * (for registry keys, each key in one of two passes): spans around
  * each call into a layer, planning phases, per-operator SQL metrics of the
  * final plans, task metrics and streaming progress. The untraced half of
  * the same run gives the tracing overhead.
  */
object Main {
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val plan = json.readTree(Paths.get(args(0)).toFile)
    val run = new Run(plan)
    try run.execute() finally run.close()
  }
}

/** A span: one call into a layer, `[start, end)` in nanoseconds since the
  * run's clock base. `parent` is -1 for an operation's root span. */
final case class Span(id: Int, name: String, start: Long, end: Long,
    parent: Int, op: Int)

final class Tracer(clock0: Long, epochMs0: Long) {
  val spans = mutable.ArrayBuffer.empty[Span]
  @volatile var enabled = false
  @volatile var op = -1
  private var stack = List.empty[Int]
  private var nextId = 0
  var sc: org.apache.spark.SparkContext = _

  def now: Long = System.nanoTime() - clock0
  def fromEpochMs(ms: Long): Long = (ms - epochMs0) * 1000000L

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      sc.setLocalProperty("perfbench.span", id.toString)
      val t0 = now
      try body
      finally {
        spans += Span(id, name, t0, now, parent, op)
        stack = stack.tail
        sc.setLocalProperty("perfbench.span", stack.headOption.map(_.toString).orNull)
      }
    }

  /** A span whose interval was measured elsewhere (planning phases,
    * streaming batches); its parent is the innermost recorded span of the
    * same operation that contains it. */
  def add(name: String, op: Int, start: Long, end: Long): Unit = {
    val slack = 1000000L // the measured interval has millisecond resolution
    val parent = spans.reverseIterator
      .find(s => s.op == op && s.start - slack <= start && end <= s.end + slack &&
        !s.name.startsWith("planning.") && !s.name.startsWith("streaming."))
      .map(_.id).getOrElse(-1)
    spans += Span(nextId, name, start, end, parent, op); nextId += 1
  }
}

/** Everything the listeners saw, keyed by traced operation. */
final class Observed extends SparkListener {
  final class OpCounters {
    var taskMs, gcMs, shuffleWrite, shuffleRead, spill = 0L
  }
  val ops = new ConcurrentHashMap[Int, OpCounters]()
  val jobsBySpan = new ConcurrentHashMap[Int, Integer]()
  private val stageOp = new ConcurrentHashMap[Int, Int]()
  val qes = new ConcurrentHashMap[Int, java.util.List[QueryExecution]]()
  val progress = new ConcurrentHashMap[Int, java.util.List[
    org.apache.spark.sql.streaming.StreamingQueryProgress]]()
  @volatile var op = -1

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty("perfbench.op"))).foreach { o =>
      e.stageIds.foreach(stageOp.put(_, o.toInt))
    }
    props.flatMap(p => Option(p.getProperty("perfbench.span"))).foreach { s =>
      jobsBySpan.merge(s.toInt, 1, (a: Integer, b: Integer) => a + b)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val o = stageOp.getOrDefault(e.stageId, -1)
    if (m != null && o >= 0) {
      val c = ops.computeIfAbsent(o, _ => new OpCounters)
      c.synchronized {
        c.taskMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  val queries: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      if (op >= 0) qes.computeIfAbsent(op, _ => new java.util.ArrayList()).add(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (op >= 0) progress.computeIfAbsent(op, _ => new java.util.ArrayList()).add(e.progress)
  }
}

object Plans {
  /** Every physical node of an executed plan, through AQE's final plan and
    * its query stages; a reused exchange is counted once, where it ran. The
    * plan behind a cached relation counts only when `intoCache` (the
    * operation built that cache), not when it read an earlier one. */
  def nodes(p: SparkPlan, intoCache: Boolean): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan, intoCache)
    case q: QueryStageExec => nodes(q.plan, intoCache)
    case _: ReusedExchangeExec => Nil
    case s: InMemoryTableScanExec =>
      s +: (if (intoCache) nodes(s.relation.cachedPlan, intoCache) else Nil)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes(_, intoCache))
  }

  /** The node families the per-operator metrics are reported for. */
  def family(p: SparkPlan): Option[String] = p.getClass.getSimpleName match {
    case "FileSourceScanExec" | "BatchScanExec" | "InMemoryTableScanExec" |
         "RowDataSourceScanExec" | "LocalTableScanExec" => Some("Scan")
    case "ShuffleExchangeExec" | "BroadcastExchangeExec" => Some("Exchange")
    case "HashAggregateExec" => Some("HashAggregate")
    case "ObjectHashAggregateExec" => Some("ObjectHashAggregate")
    case "SortExec" => Some("Sort")
    case "WindowExec" => Some("Window")
    case "SortMergeJoinExec" => Some("SortMergeJoin")
    case "BroadcastHashJoinExec" => Some("BroadcastHashJoin")
    case "AsOfJoinExec" => Some("AsOfJoin")
    case "IntervalJoinExec" => Some("IntervalJoin")
    case "PartialTopKExec" | "FinalTopKExec" => Some("TopKPerGroup")
    case _ => None
  }

  /** Milliseconds in a node's own timing metrics (0 when Spark keeps none
    * for that operator). */
  def timeMs(p: SparkPlan): Double = p.metrics.values.map { m =>
    m.metricType match {
      case "timing" => m.value.toDouble
      case "nsTiming" => m.value / 1e6
      case _ => 0.0
    }
  }.sum

  def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)
}

object Canon {
  /** Order-insensitive hash of a result: each row becomes its values in
    * canonical text (doubles and decimals at 4 places, half-even, from the
    * exact binary value), rows are sorted, and the lines are SHA-256d.
    * `oracle.py` computes the same over DuckDB's answer. */
  def value(v: Any): String = v match {
    case null => "\\N"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: java.math.BigDecimal => dec(b)
    case b: scala.math.BigDecimal => dec(b.bigDecimal)
    case b: Boolean => b.toString
    case other => other.toString
  }
  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString else dec(new java.math.BigDecimal(d))
  private def dec(b: java.math.BigDecimal): String = {
    val s = b.setScale(4, java.math.RoundingMode.HALF_EVEN)
    (if (s.signum == 0) java.math.BigDecimal.ZERO.setScale(4) else s).toPlainString
  }
  def hash(rows: Array[Row]): String = {
    val lines = rows
      .map(r => (0 until r.length).map(i => value(r.get(i))).mkString("\u001f")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(lines.mkString("\n").getBytes("UTF-8"))
    md.digest().map(b => f"$b%02x").mkString
  }
}

final class Run(plan: JsonNode) {
  private val workload = plan.get("workload").asText
  private val seconds = plan.get("seconds").asDouble
  private val trace = plan.get("trace").asBoolean
  private val cores = plan.get("cores").asInt
  private val dataRoot = plan.get("data_root").asText
  private val db = plan.get("db").asText
  private val runDir = plan.get("run_dir").asText
  private val clock0 = System.nanoTime()
  private val epochMs0 = System.currentTimeMillis()
  private val tracer = new Tracer(clock0, epochMs0)
  private val observed = new Observed
  private val opsOut = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val traceOut = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val extra = mutable.LinkedHashMap.empty[String, Any]
  private var spark: SparkSession = _

  private def texts(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq

  private def newSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$runDir/tmp")
      .config("spark.sql.warehouse.dir", s"$runDir/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** `setup_s`: session up, engine created, first read back. The first
    * repetition counts from JVM start; the session is stopped and built
    * again for each further one. */
  private def setup(): Seq[Double] = {
    val reps = plan.get("setup_reps").asInt
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    (0 until reps).map { i =>
      val t0 = if (i == 0) (System.currentTimeMillis() - jvmStartMs) / 1e3 else 0.0
      val s0 = System.nanoTime()
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      }
      spark = newSession()
      val engine = td.createEngine(s"presto:$db", dataRoot)
      td.readTdTable("nation", engine, limit = 100)(spark).collect()
      t0 + (System.nanoTime() - s0) / 1e9
    }
  }

  def execute(): Unit = {
    val setupS = setup()
    tracer.sc = spark.sparkContext
    if (trace) {
      spark.sparkContext.addSparkListener(observed)
      spark.listenerManager.register(observed.queries)
      spark.streams.addListener(observed.streams)
    }
    workload match {
      case "td_session" => tdSession()
      case "ingest_readback" => ingestReadback()
      case "operator_batch" => operatorBatch()
    }
    val out = mutable.LinkedHashMap[String, Any](
      "setup_s" -> setupS,
      "ops" -> opsOut.toSeq,
      "trace_ops" -> traceOut.toSeq,
      "fingerprint" -> Map(
        "java" -> System.getProperty("java.version"),
        "scala" -> scala.util.Properties.versionNumberString,
        "spark" -> org.apache.spark.SPARK_VERSION,
        "max_heap_bytes" -> Runtime.getRuntime.maxMemory,
        "cores" -> cores,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions")))
    out ++= extra
    Files.write(Paths.get(runDir, "result.json"), Main.json.writeValueAsBytes(out))
    if (trace) {
      val lines = tracer.spans.map(s => Main.json.writeValueAsString(Map("id" -> s.id,
        "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end, "parent" -> s.parent,
        "op" -> s.op)))
      Files.write(Paths.get(runDir, "spans.jsonl"), lines.asJava)
    }
  }

  def close(): Unit = if (spark != null) spark.stop()

  // ------------------------------------------------------------------ timing

  /** Runs one operation: `body` returns the rows the caller receives.
    * `timed=false` operations (warm-up) are checked but not measured. */
  private def op(index: Int, kind: String, cls: String, timed: Boolean, traced: Boolean,
      fields: Map[String, Any] = Map.empty)(body: => Array[Row]): Unit = {
    if (traced) {
      // listener events of earlier operations must not count for this one
      PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.setLocalProperty("perfbench.op", index.toString)
    }
    tracer.enabled = traced; tracer.op = index; observed.op = if (traced) index else -1
    val t0 = System.nanoTime()
    val rec = mutable.LinkedHashMap[String, Any]("i" -> index, "kind" -> kind, "cls" -> cls,
      "timed" -> timed, "traced" -> traced) ++ fields
    current = rec
    try {
      val rows = tracer.span(s"op.$kind")(body)
      rec("t") = (System.nanoTime() - t0) / 1e9 - paused
      rec("rows") = rows.length
      rec("hash") = Canon.hash(rows)
    } catch {
      case e: Throwable =>
        rec("t") = (System.nanoTime() - t0) / 1e9
        rec("err") = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(300)}"
    } finally {
      paused = 0.0
      spark.sparkContext.setLocalProperty("perfbench.op", null)
      tracer.enabled = false
    }
    if (traced) traceOut += traceRecord(index, rec)
    observed.op = -1
    opsOut += rec.toMap
  }

  /** The running operation's record; `note` adds a field to it. */
  private var current: mutable.Map[String, Any] = mutable.Map.empty
  private def note(kv: (String, Any)): Unit = current += kv

  /** Time spent inside an operation on bookkeeping, taken off its latency. */
  private var paused = 0.0
  private def untimed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally paused += (System.nanoTime() - t0) / 1e9
  }

  /** Per-layer counters of one traced operation, read once the listener
    * bus has delivered everything it posted. */
  private def traceRecord(index: Int, rec: mutable.Map[String, Any]): Map[String, Any] = {
    PerfbenchBus.drain(spark.sparkContext)
    val qes = Option(observed.qes.remove(index)).map(_.asScala.toSeq).getOrElse(Nil)
    val builtCache = rec("cls") == "fresh" || rec("cls") == "read" ||
      (rec("kind") == "requery" && rec.get("hit").contains(false))
    val nodes = qes.flatMap(q => scala.util.Try(Plans.nodes(q.executedPlan, builtCache))
      .getOrElse(Nil))
    val opMs = nodes.flatMap(n => Plans.family(n).map(_ -> Plans.timeMs(n)))
      .groupMapReduce(_._1)(_._2)(_ + _)
    val scans = nodes.filter(n => n.getClass.getSimpleName == "FileSourceScanExec")
    val phases = qes.lastOption.map(_.tracker.phases.map { case (k, v) =>
      k -> (v.endTimeMs - v.startTimeMs).toDouble }).getOrElse(Map.empty)
    // planning phases of the operation's last query, as spans
    qes.lastOption.foreach(_.tracker.phases.foreach { case (k, v) =>
      tracer.add(s"planning.$k", index, tracer.fromEpochMs(v.startTimeMs),
        tracer.fromEpochMs(v.endTimeMs))
    })
    val prog = Option(observed.progress.remove(index)).map(_.asScala.toSeq).getOrElse(Nil)
    prog.foreach { p =>
      val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
      val dur = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      tracer.add("streaming.batch", index, tracer.fromEpochMs(startMs),
        tracer.fromEpochMs(startMs + dur))
    }
    val c = Option(observed.ops.remove(index))
    val spansOfOp = tracer.spans.filter(_.op == index)
    Map(
      "i" -> index, "cls" -> rec("cls"), "kind" -> rec("kind"), "t" -> rec.getOrElse("t", 0.0),
      "key" -> rec.getOrElse("key", null),
      "rows" -> rec.getOrElse("rows", 0),
      "err" -> rec.getOrElse("err", null),
      "hit" -> rec.getOrElse("hit", null),
      "jobs_in_span" -> spansOfOp.map(s => s.name ->
        Option(observed.jobsBySpan.remove(s.id)).map(_.intValue).getOrElse(0)).toMap,
      "phases_ms" -> phases,
      "op_ms" -> opMs,
      "scan_files" -> scans.map(Plans.metric(_, "numFiles")).sum,
      "scan_partitions" -> scans.map(Plans.metric(_, "numPartitions")).sum,
      "scan_rows" -> scans.map(Plans.metric(_, "numOutputRows")).sum,
      "task_ms" -> c.map(_.taskMs).getOrElse(0L),
      "gc_ms" -> c.map(_.gcMs).getOrElse(0L),
      "shuffle_write" -> c.map(_.shuffleWrite).getOrElse(0L),
      "shuffle_read" -> c.map(_.shuffleRead).getOrElse(0L),
      "spill" -> c.map(_.spill).getOrElse(0L),
      "stream_batches" -> prog.size,
      "stream_batch_ms" -> prog.map(p =>
        Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)),
      "stream_state_rows" -> prog.map(_.stateOperators.map(_.numRowsTotal).sum),
      "stream_state_bytes" -> prog.map(_.stateOperators.map(_.memoryUsedBytes).sum))
  }

  /** Whether a cached result is already materialized: a re-fetch it serves
    * reads no input. */
  private def cacheLoaded(df: DataFrame): Boolean = untimed {
    val s = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    s.sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .exists(_.cachedRepresentation.cacheBuilder.isCachedColumnBuffersLoaded)
  }

  /** Closed loop over the plan's operations: the first `warmup` are
    * untimed, then operations run until `seconds` of timed wall time have
    * passed and the first timed block of the mix is complete. */
  private def loop(ops: Seq[JsonNode], warmup: Int)(
      run: (Int, JsonNode, Boolean, Boolean) => Unit): Unit = {
    var start = 0L
    val timedOfKind = mutable.Map.empty[String, Int].withDefaultValue(0)
    val it = ops.zipWithIndex.iterator
    var done = false
    while (!done && it.hasNext) {
      val (o, i) = it.next()
      val timed = i >= warmup
      if (timed && start == 0L) start = System.nanoTime()
      if (timed && (System.nanoTime() - start) / 1e9 >= seconds && o.get("block").asInt > 0)
        done = true
      else {
        // every other operation of each kind is traced, the first one included
        val kind = o.get("kind").asText
        run(i, o, timed, trace && timed && timedOfKind(kind) % 2 == 0)
        if (timed) timedOfKind(kind) += 1
      }
    }
  }

  // -------------------------------------------------------------- workloads

  private def tdSession(): Unit = {
    implicit val s: SparkSession = spark
    val engine = td.createEngine(s"presto:$db", dataRoot)
    val ops = plan.get("ops").elements().asScala.toSeq
    val jobIds = mutable.Map.empty[Int, Long]
    def collect(df: DataFrame): Array[Row] = tracer.span("exec.collect")(df.collect())
    def query(sql: String): DataFrame = {
      tracer.span("functions.presto_rewrite")(graft.functions.Presto.rewrite(sql))
      tracer.span("td.read_td_query")(td.readTdQuery(sql, engine))
    }
    loop(ops, plan.get("warmup").asInt) { (i, o, timed, traced) =>
      val kind = o.get("kind").asText
      kind match {
        case "query" =>
          op(i, kind, "fresh", timed, traced)(collect(query(o.get("sql").asText)))
        case "issue" =>
          op(i, kind, "fresh", timed, traced) {
            val sql = o.get("sql").asText
            tracer.span("functions.presto_rewrite")(graft.functions.Presto.rewrite(sql))
            val id = tracer.span("td.issue_job")(td.issueJob(sql, engine))
            jobIds(i) = id
            collect(tracer.span("td.read_td_job")(td.readTdJob(id)))
          }
        case "requery" =>
          op(i, kind, "cached", timed, traced, Map("live" -> o.get("live").asBoolean)) {
            val df = query(o.get("sql").asText)
            if (traced) note("hit" -> cacheLoaded(df))
            collect(df)
          }
        case "job" =>
          op(i, kind, "cached", timed, traced) {
            val df = tracer.span("td.read_td_job")(td.readTdJob(jobIds(o.get("ref").asInt)))
            if (traced) note("hit" -> cacheLoaded(df))
            collect(df)
          }
        case "table" =>
          op(i, kind, "table", timed, traced) {
            val range = Option(o.get("range")).filterNot(_.isNull)
              .map(r => (r.get(0).asText, r.get(1).asText))
            collect(tracer.span("td.read_td_table")(td.readTdTable(o.get("table").asText, engine,
              texts(o.get("columns")), range, o.get("time_col").asText, o.get("limit").asInt)))
          }
        case "jobs" =>
          op(i, kind, "jobs", timed, traced) {
            collect(tracer.span("td.jobs_list")(td.jobsList()))
          }
      }
    }
  }

  private def ingestReadback(): Unit = {
    implicit val s: SparkSession = spark
    val wh = s"$runDir/warehouse"
    val con = td.connect(wh)
    val engine = td.createEngine(s"presto:${plan.get("ingest_db").asText}", wh)
    val table = plan.get("ingest_table").asText
    val tableDir = Paths.get(wh, plan.get("ingest_db").asText, s"$table.parquet")
    // the batches are local data the user already holds: read once,
    // materialized in memory, before anything is measured
    val batches = s.read.parquet(plan.get("batches").asText).localCheckpoint()
    val ops = plan.get("ops").elements().asScala.toSeq
    var rowsWritten = 0L
    loop(ops, plan.get("warmup").asInt) { (i, o, timed, traced) =>
      o.get("kind").asText match {
        case "write" =>
          val b = o.get("batch").asInt
          val df = batches.where(col("batch") === b).drop("batch")
          val n = plan.get("batch_rows").asLong
          op(i, "write", "write", timed, traced, Map("batch" -> b, "written_rows" -> n)) {
            val before = untimed(sinkFiles(tableDir))
            tracer.span("td.to_td")(td.toTd(df, s"${plan.get("ingest_db").asText}.$table", con,
              td.IfExists.Append, timeCol = Some("ts"), partitionByTime = true))
            val after = untimed(sinkFiles(tableDir))
            note("sink" -> Map("files" -> (after._1 - before._1),
              "bytes" -> (after._2 - before._2), "partitions" -> after._3))
            Array.empty[Row]
          }
          rowsWritten += n
        case "read_table" =>
          op(i, "read_table", "read", timed, traced) {
            val r = o.get("range")
            val df = tracer.span("td.read_td_table")(td.readTdTable(table, engine,
              texts(o.get("columns")), Some((r.get(0).asText, r.get(1).asText)), "time", 10000))
            tracer.span("exec.collect")(df.collect())
          }
        case "read_query" =>
          op(i, "read_query", "read", timed, traced) {
            val sql = o.get("sql").asText
            tracer.span("functions.presto_rewrite")(graft.functions.Presto.rewrite(sql))
            val df = tracer.span("td.read_td_query")(td.readTdQuery(sql, engine))
            tracer.span("exec.collect")(df.collect())
          }
      }
    }
    val (files, bytes, parts) = sinkFiles(tableDir)
    extra("sink_total") = Map("files" -> files, "bytes" -> bytes, "partitions" -> parts,
      "rows" -> rowsWritten)
  }

  /** (data files, bytes, partition directories) of a managed table. */
  private def sinkFiles(dir: Path): (Long, Long, Long) =
    if (!Files.exists(dir)) (0L, 0L, 0L)
    else {
      val w = Files.walk(dir)
      try {
        val all = w.iterator().asScala.toSeq
        def name(p: Path) = p.getFileName.toString
        val data = all.filter(p => Files.isRegularFile(p) && name(p).endsWith(".parquet"))
        val parts = all.count(p => Files.isDirectory(p) && name(p).startsWith("time_bucket="))
        (data.size.toLong, data.map(Files.size).sum, parts.toLong)
      } finally w.close()
    }

  private def operatorBatch(): Unit = {
    val keys = texts(plan.get("keys"))
    val queries = graft.SparkEntry.queries
    val oracle = graft.SparkEntry.oracleSql
    val dir = s"$dataRoot/$db"
    extra("oracle") = keys.flatMap(k => oracle.get(k).map(k -> _)).toMap
    // untimed first pass: warms the JVM and writes each key's answer for
    // the oracle comparison
    keys.zipWithIndex.foreach { case (k, j) =>
      spark.catalog.clearCache()
      op(j, "key", "check", timed = false, traced = false, Map("key" -> k)) {
        queries(k)(spark, dir).write.mode("overwrite").parquet(s"$runDir/out/$k")
        Array.empty[Row]
      }
    }
    var index = keys.size
    val start = System.nanoTime()
    var pass = 0
    def elapsed = (System.nanoTime() - start) / 1e9
    // whole passes only, so every key has the same number of samples; a
    // traced run needs two, to trace each key once and leave it untraced once
    while (pass == 0 || (trace && pass < 2) || elapsed < seconds) {
      keys.zipWithIndex.foreach { case (k, j) =>
        spark.catalog.clearCache()
        val traced = trace && (j + pass) % 2 == 0
        op(index, "key", "key", timed = true, traced, Map("key" -> k, "pass" -> pass)) {
          val t0 = System.nanoTime()
          val df = tracer.span("ops.build")(queries(k)(spark, dir))
          note("build" -> (System.nanoTime() - t0) / 1e9)
          tracer.span("exec.noop_write")(df.write.format("noop").mode("overwrite").save())
          Array.empty[Row]
        }
        index += 1
      }
      pass += 1
    }
  }
}
