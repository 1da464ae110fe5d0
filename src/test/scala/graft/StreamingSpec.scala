package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.Streams
import graft.streaming.Streams.Ev

/** Streaming semantics that have no batch oracle (SURVEY.md §3.I):
  * watermark late-drop observed directly on a crafted stream, stream dedup,
  * and batch/stream agreement for session windows. All synchronous via
  * processAllAvailable — no sleeps. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark: org.apache.spark.sql.SparkSession = TestSpark.spark

  private def hourMs(h: Long): Long = h * 3600 * 1000

  test("watermark drops late rows; on-time rows land") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[Ev]
    val agg = stream.toDF()
      .withColumn("ts_t", timestamp_millis(col("ts_ms")))
      .withWatermark("ts_t", "1 hour")
      .groupBy(window(col("ts_t"), "1 hour")).agg(count(lit(1)).as("n"))
      .select(expr("unix_millis(window.start)").as("w"), col("n"))
    val qn = "wmtest_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val ck = java.nio.file.Files.createTempDirectory("wmck").toString
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName(qn).option("checkpointLocation", ck).start()
    try {
      // batch 1: 2 events in hour 0, then advance event time to hour 6
      stream.addData(Ev(1, hourMs(0) + 1000, 1, "a", 1.0),
        Ev(2, hourMs(0) + 2000, 1, "a", 1.0), Ev(3, hourMs(6), 1, "a", 1.0))
      q.processAllAvailable() // watermark now 5:00
      // batch 2: a LATE event for hour 0 (must be dropped) + sentinel at hour 20
      stream.addData(Ev(4, hourMs(0) + 3000, 1, "a", 1.0), Ev(5, hourMs(20), 1, "a", 1.0))
      q.processAllAvailable()
      val rows = spark.table(qn).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(rows(0L) == 2, s"late row must not inflate hour-0 count: $rows")
      assert(rows(hourMs(6)) == 1)
    } finally q.stop()
  }

  test("stream dedup emits each event_id once") {
    val out = Streams.i5(spark, TestSpark.sf).collect()
    val ids = out.map(_.getLong(0))
    assert(ids.length == ids.distinct.length)
    assert(ids.length == 1000) // sf0.001 events
  }

  test("session_window (i3) agrees with lag/gap sessionize (h10) aggregated") {
    val i3 = SparkEntry.queries("i3_win_session")(spark, TestSpark.sf)
      .collect().map(r => (r.getLong(1), r.getLong(0), r.getLong(2))).sorted
    val h10 = SparkEntry.queries("h10_sessionize")(spark, TestSpark.sf)
    val agg = h10.join(Tables.events(spark, TestSpark.sf).select("event_id", "ts_ms"), "event_id")
      .groupBy("user_id", "session_id")
      .agg(min(col("ts_ms")).as("sess_start"), count(lit(1)).as("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3))).sorted
    assert(i3.toSeq == agg.toSeq)
  }

  test("foreachBatch ingest is complete and non-duplicating") {
    val out = Streams.i6(spark, TestSpark.sf).collect()
    assert(out.length == 1000)
    assert(out.map(_.getLong(0)).distinct.length == 1000)
    // pin the MAGNITUDE of the derived epoch-seconds `time`: the r11
    // fixture regen (ts LONG-nanos → timestamp[us]) made i6 read µs as
    // nanos and emit 1000×-off values with matching rows+schema — a
    // value-range assert is what catches that class of silent corruption
    val times = out.map(_.getLong(1))
    val (lo, hi) = (1704067200L, 1706745600L) // [2024-01-01, 2024-02-01) UTC
    assert(times.forall(t => t >= lo && t <= hi),
      s"i6 time out of epoch-second range: min=${times.min} max=${times.max}")
  }

  test("ingest REPLAY with same checkpoint is idempotent (no duplicates)") {
    val mk = (t: String) => java.nio.file.Files.createTempDirectory(t).toString
    val (out, ck, src) = (mk("i6r_out"), mk("i6r_ck"), mk("i6r_src"))
    val first = Streams.i6Run(spark, TestSpark.sf, out, ck, src).count()
    // restart: committed file paths + batch ids are replayed as no-ops —
    // the StreamingUploader per-chunk-unique-id semantics
    val second = Streams.i6Run(spark, TestSpark.sf, out, ck, src).count()
    assert(first == 1000 && second == 1000,
      s"replay must not duplicate: first=$first second=$second")
  }

  test("i24 device: JSONL file-source VARIANT ingest absorbs schema drift across files") {
    // the landing-zone story behind i24, pinned on raw files this spec
    // writes itself: two GENERATIONS of line shape in one directory —
    // gen-2 reorders keys and adds a nested field no schema declared.
    // VARIANT parse-once absorbs both; the typed extraction is stable.
    import java.nio.file.Files
    val src = Files.createTempDirectory("i24j_src").toString
    val ck = Files.createTempDirectory("i24j_ck").toString
    Files.writeString(java.nio.file.Paths.get(src, "gen1.jsonl"),
      """{"event_type":"view","value":1.5}
        |{"event_type":"click","value":2.0}
        |""".stripMargin)
    Files.writeString(java.nio.file.Paths.get(src, "gen2.jsonl"),
      """{"value":3.25,"event_type":"view","extra":{"ab":true}}
        |{"extra":{"ab":false},"event_type":"click","value":0.5,"added_later":7}
        |""".stripMargin)
    val qn = "i24j_" + java.util.UUID.randomUUID.toString.replace("-", "")
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val q = spark.readStream
      .schema(StructType(Seq(StructField("value", StringType))))
      .option("maxFilesPerTrigger", "1").text(src)
      .select(expr("parse_json(value)").as("v"))
      .select(expr("variant_get(v, '$.event_type', 'string')").as("event_type"),
        expr("variant_get(v, '$.value', 'double')").as("value"),
        expr("try_variant_get(v, '$.extra.ab', 'boolean')").as("ab"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("value").as("sum_v"),
        count(col("ab")).as("n_ab"))
      .writeStream.outputMode("complete").format("memory").queryName(qn)
      .option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try {
      q.awaitTermination()
      val rows = spark.table(qn).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
      assert(rows("view") == ((2L, 4.75, 1L)), s"got $rows")
      assert(rows("click") == ((2L, 2.5, 1L)), s"got $rows")
      // maxFilesPerTrigger=1 over 2 files ⇒ the aggregation really was
      // maintained across micro-batches, not one batch in disguise
      assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
        s"expected >=2 data micro-batches, got ${q.recentProgress.length}")
    } finally q.stop()
  }

  test("i14 restart replays committed rate-limited batches as no-ops") {
    def mk(t: String) = java.nio.file.Files.createTempDirectory(t).toString
    val (src, out, ck) = (mk("i14r_src"), mk("i14r_out"), mk("i14r_ck"))
    val first = Streams.i14Run(spark, TestSpark.sf, src, out, ck)
      .collect().map(_.toSeq).toSeq
    val batches = Streams.i14Batches
    assert(batches > 1, s"expected a multi-batch drain, got $batches")
    val second = Streams.i14Run(spark, TestSpark.sf, src, out, ck)
      .collect().map(_.toSeq).toSeq
    assert(second == first, "restart duplicated or lost rows")
    assert(Streams.i14Batches == batches, "restart created new batch dirs")
  }

  test("compaction collapses small ingest files, preserving rows exactly") {
    val dir = java.nio.file.Files.createTempDirectory("compact").toString
    val src = Tables.t(spark, TestSpark.sf, "orders")
    // simulate chunked ingest: many tiny appends
    (0 until 6).foreach { i =>
      src.where(org.apache.spark.sql.functions.col("o_orderkey") % 6 === i)
        .repartition(4).write.mode("append").parquet(dir)
    }
    val rowsBefore = spark.read.parquet(dir).count()
    val (nBefore, nAfter) = graft.ops.Compaction.compact(spark, dir)
    assert(nBefore >= 24 && nAfter < nBefore, s"$nBefore -> $nAfter")
    assert(spark.read.parquet(dir).count() == rowsBefore)
  }

  test("i19 planted cascade: cross-batch dup dropped, late user opens cleanly") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val d = graft.ops.Scratch.dir("i19fix")
    // time-ordered 3-batch split lands [1000] | [2000] | [2500, 3000]:
    // the 2000 'a' arrives in its own batch and must be dropped against
    // batch 1's OPEN 'a' row (the pseudo-change lag); u2 first appears in
    // batch 3; u1's 'b' closes the standing 'a' version across batches
    Seq(
      (1L, 1000L, 1L, "a", 0.0),
      (2L, 2000L, 1L, "a", 0.0),
      (3L, 2500L, 2L, "c", 0.0),
      (4L, 3000L, 1L, "b", 0.0))
      .toDF("event_id", "ts_ms", "user_id", "event_type", "value")
      .withColumn("ts", timestamp_millis(col("ts_ms"))).drop("ts_ms")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/events.parquet")
    val out = graft.streaming.Streams.i19(spark, d)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getBoolean(4)))
    assert(out.toSeq == Seq(
      (1L, "a", 1000L, Some(3000L), false),
      (1L, "b", 3000L, None, true),
      (2L, "c", 2500L, None, true)), out.toSeq.toString)
  }

  test("i21 left-outer stream-stream join emits watermark-closed null rows") {
    val out = SparkEntry.queries("i21_stream_left_outer_join")(spark, TestSpark.sf)
      .collect()
    val unmatched = out.count(_.isNullAt(1))
    val matched = out.length - unmatched
    // the outer surface is genuinely exercised: both null-extended rows
    // (no follow-up click in 5 min, emitted only at window close) and
    // matched pairs exist; every event appears at least once
    assert(unmatched > 0 && matched > 0, s"unmatched=$unmatched matched=$matched")
    val events = Tables.events(spark, TestSpark.sf).count()
    assert(out.map(_.getLong(0)).distinct.length == events,
      "every left event must appear (matched or null-extended)")
  }

  /** Input rows of each micro-batch the streaming query of registry `key`
    * ran over the sf0.001 fixture, in batch order (one progress event per
    * executed batch, the no-data batches included). */
  private def batchesOf(key: String): Seq[Long] = {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val done = new java.util.concurrent.CountDownLatch(1)
    val prefix = key.takeWhile(_ != '_') + "_out_"
    val ids = java.util.concurrent.ConcurrentHashMap.newKeySet[java.util.UUID]()
    val l = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        if (Option(e.name).exists(_.startsWith(prefix))) ids.add(e.id)
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (ids.contains(e.progress.id)) rows.add(e.progress.numInputRows)
      // delivered after every progress event of the query
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        if (ids.contains(e.id)) done.countDown()
    }
    spark.streams.addListener(l)
    try {
      SparkEntry.queries(key)(spark, TestSpark.sf).collect()
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS), s"$key never terminated")
      rows.toArray.toSeq.map(_.asInstanceOf[Long])
    } finally spark.streams.removeListener(l)
  }

  test("the inner stream-stream join runs its fixture in exactly one micro-batch") {
    val b = batchesOf("i8_stream_stream_join")
    assert(b == Seq(2000L), s"batches (input rows): $b")
  }

  test("sentinel harnesses run data plus sentinel, then one no-data batch") {
    Seq("i21_stream_left_outer_join", "i26_stream_full_outer_join",
        "i7_stateful_sessionize", "i10_transform_with_state",
        "i22_stream_topk_state", "i23_stream_map_state").foreach { k =>
      val b = batchesOf(k)
      assert(b.length == 2 && b.last == 0L, s"$k batches (input rows): $b")
    }
  }

  test("state partitions follow the input size, one per 25k events, capped") {
    import Streams.statePartitions
    assert(statePartitions(0L, 4) == 1)
    assert(statePartitions(1000L, 4) == 1)
    assert(statePartitions(100000L, 4) == 4)
    assert(statePartitions(100000L, 2) == 2)
    assert(statePartitions(25001L, 4) == 2)
  }
}
