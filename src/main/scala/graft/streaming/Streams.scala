package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.Tables._

/** §3.I — genuine Structured Streaming: watermarked windowed aggregation
  * with late-data drop (i4), watermarked stream dedup (i5), and
  * foreachBatch idempotent ingest (i6 — the streaming analog of the
  * reference's chunked `StreamingUploader` import, `pandas_td/td.py ::
  * StreamingUploader.upload_frame`: micro-batch = chunk, checkpoint =
  * per-chunk unique id).
  *
  * Each runs a real streaming query to completion inside the query fn, so
  * even the driver's batch Verify exercises the streaming engine; outputs
  * are engineered to be exactly oracle-able (see per-op notes).
  */
object Streams {

  // value is java.lang.Double (nullable): production event streams
  // carry NULL measures, and a scala.Double field makes the encoder
  // assert NOT_NULL on ingest (EventsGuardSpec). Aggregations skip the
  // nulls exactly as the SQL/oracle side does.
  case class Ev(event_id: Long, ts_ms: Long, user_id: Long,
      event_type: String, value: java.lang.Double)

  /** One MinHash band-hash row of an incoming document (i15's stream
    * element — computed map-only at ingest, no aggregation in-stream). */
  case class BandRow(d_inc: Long, band: Int, bh: Long)

  /** Manifest-version file-list schema — DECLARED, never inferred: under
    * AQE an empty manifest write can itself coalesce to zero data files,
    * and a schema-inference read of that directory throws
    * UNABLE_TO_INFER_SCHEMA. i16 learned this first; i17/i18's identical
    * manifest reads relied on Spark happening to emit one empty part file
    * (r19 advice) — one declared schema now serves all three. */
  private val manifestSchema = StructType(Seq(StructField("f", StringType)))
  private def readMani(s: SparkSession, path: String): DataFrame =
    s.read.schema(manifestSchema).parquet(path)

  private def collectEvents(s: SparkSession, d: String): Array[Ev] = {
    import s.implicits._
    // sorted by EVENT TIME (not id): the harnesses split this array into
    // micro-batches, and a time-ordered split guarantees no second-batch
    // row is ever below the first batch's watermark — correctness must not
    // depend on the fixture assigning ids in time order
    events(s, d)
      // an event with a NULL id, NULL event-time, or NULL key cannot be
      // watermarked, windowed, or keyed — the typed stream boundary drops
      // it (the production dead-letter posture; r20 null-riddled sweep:
      // a NULL ts_ms/user_id otherwise trips the Ev encoder's non-null
      // assert). `value` stays nullable BY DESIGN (see Ev).
      // ORACLE SCOPE: the i-key DuckDB oracles compute over the raw
      // events table and are graded on the null-free driver fixtures; on
      // a null-riddled corpus this ingest filter is the engine's
      // documented behavior and the oracles do not apply (r20 review
      // finding — same posture as the c10 family's asofEvents, where the
      // shared-oracle identity contract made the filter family-wide).
      .where(col("event_id").isNotNull && col("ts_ms").isNotNull &&
        col("user_id").isNotNull)
      .select(col("event_id"), col("ts_ms"), col("user_id"),
        col("event_type"), col("value"))
      .as[Ev].collect().sortBy(e => (e.ts_ms, e.event_id))
  }

  private def tmp(tag: String): String = graft.ops.Scratch.unique(tag)

  /* One data batch. Where the protocol provably allows it, a harness
    * feeds all its events as ONE micro-batch: each extra micro-batch pays
    * a full per-batch cost (incremental planning + one state-store
    * open/commit per store per partition; a stream-stream join keeps 4
    * stores per partition) that dominates these keys at fixture scale
    * (scaling ratio ≈ 1 at 8 vs 32 cores in PERF_r21).
    *
    * Feed before start. Such a harness adds every row to its
    * MemoryStream(s) BEFORE `start()`, so the first trigger's offsets
    * cover all of them. Fed after `start()`, the two `addData` calls of a
    * stream-stream join race the first trigger: i8 was seen running its
    * left rows in one batch and its right rows in the next (1000/1000/0
    * rows), in 6 of 25 runs at sf0.001 and in every run at sf0.1.
    *
    * The sentinel rides the data batch. A harness that needs a
    * far-future sentinel to close windows or fire timers (i7, i10, i21,
    * i22, i23, i26) feeds it with the data. A batch reads the watermark
    * the batch before it computed, so the data batch drops, evicts and
    * times out nothing; it ends by moving the watermark to the sentinel,
    * and Spark's own no-data batch then applies it (evictions, null
    * extensions, timeouts, timers). Two batches in all; no explicit empty
    * flush. i8 (inner join: rows are emitted on match, never on eviction)
    * turns that no-data batch off, since `stop()` would discard its
    * evictions anyway: one batch.
    *
    * Why output is row-identical under any split of the events, per key
    * class:
    *  - collectEvents sorts by (ts_ms, event_id), so a later part is
    *    never below the watermark an earlier part set — NO row is
    *    dropped as late under any batching;
    *  - inner interval join (i8): rows are emitted on MATCH, never on
    *    eviction, and the match set over the union of inputs is
    *    batching-invariant (an evicted row can never match a future row:
    *    any future row's event time exceeds the watermark + delay, which
    *    exceeds the evicted row's interval end);
    *  - outer interval joins (i21/i26): null-extension happens at state
    *    eviction, which Spark only performs when the watermark proves no
    *    future match is possible — by the no-late-rows property above,
    *    that decision is identical under any batching of time-ordered
    *    input, so the unmatched set equals the batch join's;
    *  - keyed-state folds (i7/i10/i22/i23): handleInputRows folds the
    *    batch sorted by (ts_ms, event_id); state carries the fold across
    *    batch boundaries, so folding one batch computes the same
    *    sessions/counters/top-k; timer-driven final flushes come from the
    *    sentinel either way (it is its own key, user −1, filtered from the
    *    graded output).
    * Keys whose multi-batch shape IS the semantics keep it: i4 (late rows
    * must arrive after the watermark advanced), i13/i25/i27 (re-sends
    * must land in a later batch than the original). */

  /** Run `body` with `n` shuffle partitions (the state partitions of the
    * streams it starts), restoring the session conf after. State-store
    * count is partitions × stores per operator (a stream-stream join keeps
    * 4 stores per partition) and every micro-batch opens and commits each
    * store, so at fixture scale that fixed cost dominates the actual work.
    * The count is pinned per checkpoint, and these harnesses create a
    * fresh checkpoint per run, so setting it here is invisible to batch
    * queries and to output.
    *
    * Size rule: [[statePartitions]] — one partition per
    * [[RowsPerStatePartition]] input events, at least 1, at most the
    * session's `spark.sql.shuffle.partitions` — for the keys that size
    * their state from their input (i8, i21, i26); the others keep a fixed
    * `n`. `spark.graft.stream.shufflePartitions`, when set, overrides
    * either: an operator retunes it with real key cardinality. */
  val StreamShufflePartitionsKey = "spark.graft.stream.shufflePartitions"
  private def withFewShufflePartitions[T](s: SparkSession, n: Int = 4)(body: => T): T = {
    val eff = s.conf.getOption(StreamShufflePartitionsKey)
      .map(_.trim.toInt).getOrElse(n)
    require(eff >= 1, s"$StreamShufflePartitionsKey must be >= 1, got $eff")
    withConf(s, "spark.sql.shuffle.partitions", eff.toString)(body)
  }

  /** Input events per state partition, from i8 and i21 runs on 4 cores
    * (warm, 3 runs each, 2 JVMs per setting). At 10k events (sf0.01) one
    * partition was fastest: i8 1.6–2.5 s against 1.5–2.4 s on two and
    * 2.0–2.7 s on four, i21 1.9–2.3 s against 2.2–2.5 s and 2.6–3.0 s.
    * At 1k, one partition beat two (i8 0.89 s vs 0.92–1.0 s); at 100k,
    * four beat two and two beat one (i8 2.5 s, 2.9–3.2 s, 5.2 s). 25k is
    * the largest size that still gives 100k events four partitions. */
  val RowsPerStatePartition = 25000L

  /** State partitions for a stream of `rows` events: one per
    * [[RowsPerStatePartition]], at least 1, at most `cap`. */
  def statePartitions(rows: Long, cap: Int): Int =
    math.max(1L, math.min(cap.toLong,
      (rows + RowsPerStatePartition - 1) / RowsPerStatePartition)).toInt

  /** `body` over the events of `d`, under [[withFewShufflePartitions]]
    * sized for them by [[statePartitions]]. */
  private def withSizedState[T](s: SparkSession, d: String)(body: Array[Ev] => T): T = {
    val evs = collectEvents(s, d)
    withFewShufflePartitions(s,
      statePartitions(evs.length, s.conf.get("spark.sql.shuffle.partitions").toInt))(body(evs))
  }

  /** Run `body` with session conf `key` set to `value`, restoring it after. */
  private def withConf[T](s: SparkSession, key: String, value: String)(body: => T): T = {
    val prev = s.conf.getOption(key)
    s.conf.set(key, value)
    try body finally prev.fold(s.conf.unset(key))(s.conf.set(key, _))
  }

  /** i4 — 1-hour watermark, append mode, hourly tumbling windows. Data
    * arrives in two event-time-ordered batches plus re-sent stale rows
    * (≥3 h late → dropped by the watermark) and a far-future sentinel that
    * flushes every real window. Net effect: output == the i1 batch result,
    * which is the oracle — if late rows were NOT dropped, counts would
    * differ and the hash would fail. */
  def i4(s: SparkSession, d: String): DataFrame = withFewShufflePartitions(s) {
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val evs = collectEvents(s, d)
    val half = evs.length / 2
    val maxTs1 = evs.take(half).map(_.ts_ms).maxOption.getOrElse(0L)
    val late = evs.filter(_.ts_ms < maxTs1 - 3L * 3600 * 1000).take(100)
    val sentinel = Ev(-1L, evs.lastOption.map(_.ts_ms).getOrElse(0L) + 365L * 24 * 3600 * 1000,
      -1L, "__sentinel", 0.0)

    val stream = MemoryStream[Ev]
    val windowed = stream.toDF()
      .withColumn("ts_t", timestamp_millis(col("ts_ms")))
      .withWatermark("ts_t", "1 hour")
      .groupBy(window(col("ts_t"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), mSum(col("value")).as("sum_v"))
      .select(expr("unix_millis(window.start)").as("w_start"),
        col("event_type"), col("n"), col("sum_v"))
    val qn = "i4_out_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val q = windowed.writeStream.outputMode("append")
      .format("memory").queryName(qn)
      .option("checkpointLocation", tmp("i4ck")).start()
    stream.addData(evs.take(half).toSeq)
    q.processAllAvailable()
    stream.addData((evs.drop(half) ++ late).toSeq)
    q.processAllAvailable()
    stream.addData(Seq(sentinel))
    q.processAllAvailable()
    q.stop()
    s.table(qn).where(col("event_type") =!= "__sentinel")
      .orderBy("w_start", "event_type")
  }

  /** i5 — watermarked exactly-once-ish dedup on event_id: the stream
    * carries every event twice; `dropDuplicates` keeps the first. Output
    * == the distinct event set (the oracle). */
  def i5(s: SparkSession, d: String): DataFrame = withFewShufflePartitions(s) {
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val evs = collectEvents(s, d)
    val stream = MemoryStream[Ev]
    val deduped = stream.toDF()
      .withColumn("ts_t", timestamp_millis(col("ts_ms")))
      .withWatermark("ts_t", "1 hour")
      .dropDuplicates("event_id")
      .select(col("event_id"), col("user_id"))
    val qn = "i5_out_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName(qn)
      .option("checkpointLocation", tmp("i5ck")).start()
    stream.addData((evs ++ evs).toSeq)
    q.processAllAvailable()
    q.stop()
    s.table(qn).orderBy("event_id")
  }

  /** i25 — STATE-BOUNDED dedup: `dropDuplicatesWithinWatermark` keeps a
    * key's state only until the watermark passes its event time + delay,
    * then evicts it — where i5's plain `dropDuplicates` holds every key
    * seen FOREVER (unbounded state: on an endless 100 TB/day stream that
    * is the operator that eventually OOMs, and Spark added the
    * WithinWatermark form for exactly this). The fixture re-sends every
    * event within the 1-hour delay window, so the dedup still collapses
    * each duplicate pair (== the i5 oracle) while the state store
    * provably tracks only the live window: re-sends arrive in the batch
    * AFTER the original (MemoryStream batches preserve order), inside
    * the bound. The contract difference — a re-send LATER than the
    * delay would be re-emitted rather than deduped — is the documented
    * trade: bounded state buys eventual re-admission, the right default
    * at scale where duplicates cluster near their original (retries,
    * at-least-once sources). */
  def i25(s: SparkSession, d: String): DataFrame = withFewShufflePartitions(s) {
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val evs = collectEvents(s, d)
    val stream = MemoryStream[Ev]
    val deduped = stream.toDF()
      .withColumn("ts_t", timestamp_millis(col("ts_ms")))
      .withWatermark("ts_t", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .select(col("event_id"), col("user_id"))
    val qn = "i25_out_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName(qn)
      .option("checkpointLocation", tmp("i25ck")).start()
    stream.addData(evs.toSeq)
    q.processAllAvailable()
    stream.addData(evs.toSeq) // the duplicate pass: inside the window
    q.processAllAvailable()
    q.stop()
    s.table(qn).orderBy("event_id")
  }

  /** i13 — `dropDuplicatesWithinWatermark`: the BOUNDED-STATE form of i5.
    * Plain streaming dropDuplicates holds every key seen forever — at
    * 100 TB/day of events the dedup state itself becomes the bottleneck.
    * The within-watermark variant evicts state once the watermark passes
    * an event's time, so state is O(events per watermark window), the only
    * shape that survives an unbounded stream. Harness: the full event set,
    * then the SAME set re-sent in a second micro-batch — every resend is
    * inside the 1 h watermark window (or below the watermark entirely),
    * so all are dropped and the output equals the distinct batch result
    * (the oracle). */
  def i13(s: SparkSession, d: String): DataFrame = withFewShufflePartitions(s) {
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val evs = collectEvents(s, d)
    val stream = MemoryStream[Ev]
    val deduped = stream.toDF()
      .withColumn("ts_t", timestamp_millis(col("ts_ms")))
      .withWatermark("ts_t", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .select(col("event_id"), col("user_id"))
    val qn = "i13_out_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName(qn)
      .option("checkpointLocation", tmp("i13ck")).start()
    stream.addData(evs.toSeq)
    q.processAllAvailable()
    stream.addData(evs.toSeq) // exact resend — dedup state must still hold
    q.processAllAvailable()
    q.stop()
    s.table(qn).orderBy("event_id")
  }

  /** Per-user open-session state for i7. */
  case class SessState(sessStart: Long, lastTs: Long, n: Long)

  /** i7 — streaming TD_SESSIONIZE with custom state:
    * `flatMapGroupsWithState` + event-time timeout. A user's state holds
    * the open session; a batch's events extend it or close it (gap >
    * 30 min), closed sessions are emitted append-mode; the watermark
    * passing `lastTs + gap` times the state out and flushes the final
    * session. State per key is O(1) — this is the unbounded-stream form
    * of h10/i3 (whose oracle it must hash-match). */
  def i7(s: SparkSession, d: String): DataFrame = withFewShufflePartitions(s) {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val gapMs = 30L * 60 * 1000
    val evs = collectEvents(s, d)
    val sentinel = Ev(-1L, evs.lastOption.map(_.ts_ms).getOrElse(0L) + 365L * 24 * 3600 * 1000,
      -1L, "__sentinel", 0.0)

    val stream = MemoryStream[Ev]
    val sessions = stream.toDS()
      .withColumn("ts_t", timestamp_millis(col("ts_ms")))
      .withWatermark("ts_t", "10 minutes")
      .as[(Long, Long, Long, String, java.lang.Double, java.sql.Timestamp)]
      .groupByKey(_._3) // user_id
      .flatMapGroupsWithState[SessState, (Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user, it, state: GroupState[SessState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            Iterator((st.sessStart, user, st.n))
          } else {
            val batch = it.toArray.sortBy(e => (e._2, e._1)) // (ts_ms, event_id)
            var cur = state.getOption
            val closed = Iterator.newBuilder[(Long, Long, Long)]
            batch.foreach { e =>
              val ts = e._2
              cur match {
                case Some(st) if ts - st.lastTs > gapMs =>
                  closed += ((st.sessStart, user, st.n))
                  cur = Some(SessState(ts, ts, 1))
                case Some(st) =>
                  cur = Some(st.copy(lastTs = ts, n = st.n + 1))
                case None =>
                  cur = Some(SessState(ts, ts, 1))
              }
            }
            cur.foreach { st =>
              state.update(st)
              state.setTimeoutTimestamp(st.lastTs + gapMs + 1)
            }
            closed.result()
          }
      }
    // one data batch with the sentinel, fed before start (see "One data
    // batch"): the state fold over the (ts, id)-sorted batch computes the
    // same sessions in one pass; the sentinel moves the watermark +1y, so
    // the no-data batch after it times out every open session
    stream.addData((evs :+ sentinel).toSeq)
    val qn = "i7_out_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val q = sessions.toDF("sess_start", "user_id", "n_events")
      .writeStream.outputMode("append").format("memory").queryName(qn)
      .option("checkpointLocation", tmp("i7ck")).start()
    q.processAllAvailable()
    q.stop()
    s.table(qn).where(col("user_id") =!= -1L)
      .orderBy("user_id", "sess_start")
  }

  /** i10's processor: per-user open session in a ValueState, closed either
    * by an in-batch gap or by an event-time timer at lastTs + gap (the
    * timer replaces i7's GroupStateTimeout — timers here are explicit and
    * per-key, the new API's sharper contract). */
  class SessionProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Ev, (Long, Long, Long)] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, ExpiredTimerInfo, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders

    @transient private var sess: ValueState[SessState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sess = getHandle.getValueState[SessState]("sess",
        Encoders.product[SessState], TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[Ev],
        tv: TimerValues): Iterator[(Long, Long, Long)] = {
      val batch = rows.toArray.sortBy(e => (e.ts_ms, e.event_id))
      var cur = if (sess.exists()) Some(sess.get()) else None
      cur.foreach(st => getHandle.deleteTimer(st.lastTs + gapMs + 1))
      val closed = Seq.newBuilder[(Long, Long, Long)]
      batch.foreach { e =>
        cur match {
          case Some(st) if e.ts_ms - st.lastTs > gapMs =>
            closed += ((st.sessStart, user, st.n))
            cur = Some(SessState(e.ts_ms, e.ts_ms, 1))
          case Some(st) =>
            cur = Some(st.copy(lastTs = e.ts_ms, n = st.n + 1))
          case None =>
            cur = Some(SessState(e.ts_ms, e.ts_ms, 1))
        }
      }
      cur.foreach { st =>
        sess.update(st)
        getHandle.registerTimer(st.lastTs + gapMs + 1)
      }
      closed.result().iterator
    }

    override def handleExpiredTimer(user: Long, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[(Long, Long, Long)] =
      if (sess.exists()) {
        val st = sess.get()
        sess.clear()
        Iterator((st.sessStart, user, st.n))
      } else Iterator.empty
  }

  /** i10 — the same streaming TD_SESSIONIZE through Spark 4's
    * `transformWithState` (StatefulProcessor + ValueState + event-time
    * timers on the RocksDB state store) — the successor API to i7's
    * `flatMapGroupsWithState`, and the shape long-running 100 TB/day
    * session pipelines should be written in: typed per-key state with
    * explicit timers, incrementally checkpointed by RocksDB changelogs
    * instead of full HDFS snapshots. Must hash-match the same batch
    * session_window oracle as i3/i7. */
  def i10(s: SparkSession, d: String): DataFrame = withFewShufflePartitions(s, 2) {
    import s.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProv = s.conf.getOption(provKey)
    s.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val gapMs = 30L * 60 * 1000
      val evs = collectEvents(s, d)
      val sentinel = Ev(-1L, evs.lastOption.map(_.ts_ms).getOrElse(0L) + 365L * 24 * 3600 * 1000,
        -1L, "__sentinel", 0.0)

      val stream = MemoryStream[Ev]
      val sessions = stream.toDS()
        .withColumn("ts_t", timestamp_millis(col("ts_ms")))
        .withWatermark("ts_t", "10 minutes")
        .as[(Long, Long, Long, String, java.lang.Double, java.sql.Timestamp)]
        .map(t => Ev(t._1, t._2, t._3, t._4, t._5))
        .groupByKey(_.user_id)
        .transformWithState(new SessionProcessor(gapMs),
          org.apache.spark.sql.streaming.TimeMode.EventTime(),
          OutputMode.Append())
      // the i7 feed: data plus sentinel in one batch before start; every
      // timer fires in the no-data batch after it
      stream.addData((evs :+ sentinel).toSeq)
      val qn = "i10_out_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val q = sessions.toDF("sess_start", "user_id", "n_events")
        .writeStream.outputMode("append").format("memory").queryName(qn)
        .option("checkpointLocation", tmp("i10ck")).start()
      q.processAllAvailable()
      q.stop()
      s.table(qn).where(col("user_id") =!= -1L)
        .orderBy("user_id", "sess_start")
    } finally {
      prevProv match {
        case Some(p) => s.conf.set(provKey, p)
        case None => s.conf.unset(provKey)
      }
    }
  }

  /** i8 — watermarked stream-stream interval join: follow-up events of the
    * same user within 5 minutes. Both sides carry watermarks and the join
    * condition bounds event time on both, so each side's state is evicted
    * once the other's watermark passes the interval — bounded state on an
    * unbounded stream. Event time is ms-precision (`timestamp_millis`) so
    * the join boundary is exactly DuckDB's epoch_ms arithmetic (oracle). */
  def i8(s: SparkSession, d: String): DataFrame = withSizedState(s, d) { evs =>
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val ls = MemoryStream[Ev]; val rs = MemoryStream[Ev]
    def side(m: MemoryStream[Ev], p: String) = m.toDF()
      .select(col("event_id").as(s"${p}_id"), col("user_id").as(s"${p}_user"),
        timestamp_millis(col("ts_ms")).as(s"${p}_t"))
      .withWatermark(s"${p}_t", "10 minutes")
    val joined = side(ls, "a").join(side(rs, "b"),
      col("a_user") === col("b_user")
        && col("b_t") >= col("a_t")
        && col("b_t") <= col("a_t") + expr("INTERVAL 5 MINUTES")
        && col("a_id") =!= col("b_id"))
      .select(col("a_id"), col("b_id"), col("a_user").as("user_id"))
    // one micro-batch, fed before start (see "One data batch"): an inner
    // interval join emits on match only, so the output set is
    // batching-invariant
    ls.addData(evs.toSeq); rs.addData(evs.toSeq)
    val qn = "i8_out_" + java.util.UUID.randomUUID.toString.replace("-", "")
    // no eviction-only no-data batch: its evictions emit nothing here, and
    // stop() discards them
    val q = withConf(s, "spark.sql.streaming.noDataMicroBatches.enabled", "false") {
      joined.writeStream.outputMode("append").format("memory")
        .queryName(qn).option("checkpointLocation", tmp("i8ck")).start()
    }
    q.processAllAvailable()
    q.stop()
    s.table(qn).orderBy("a_id", "b_id")
  }

  /** i21 — stream-stream LEFT OUTER interval join: i8's inner join answers
    * "which events had a follow-up click"; the OUTER form answers the
    * operationally harder "which events had NO follow-up click within 5
    * minutes" — and in a stream that answer can only be emitted once the
    * watermark proves the window is closed (an unmatched row is
    * unmatched-so-far until event time passes a_t + 5 min on both sides).
    * Spark holds the left row in state, emits the null-extended row at
    * state eviction, and the watermarks bound that state exactly as in
    * i8. The harness appends a far-future sentinel (user −1, matches
    * nothing, filtered from the graded output) so the final windows
    * provably close inside the test — production streams close them with
    * ordinary traffic. Output == the batch LEFT JOIN (oracle; NULL
    * ordering pinned on both engines). */
  def i21(s: SparkSession, d: String): DataFrame = withSizedState(s, d) { evs =>
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val ls = MemoryStream[Ev]; val rs = MemoryStream[Ev]
    def side(m: MemoryStream[Ev], p: String) = m.toDF()
      .select(col("event_id").as(s"${p}_id"), col("user_id").as(s"${p}_user"),
        timestamp_millis(col("ts_ms")).as(s"${p}_t"),
        col("event_type").as(s"${p}_type"))
    val left = side(ls, "a").withWatermark("a_t", "10 minutes")
    val right = side(rs, "b").where(col("b_type") === "click")
      .withWatermark("b_t", "10 minutes")
    val joined = left.join(right,
        col("a_user") === col("b_user")
          && col("b_t") >= col("a_t")
          && col("b_t") <= col("a_t") + expr("INTERVAL 5 MINUTES")
          && col("a_id") =!= col("b_id"),
        "leftOuter")
      .select(col("a_id"), col("b_id"), col("a_user").as("user_id"))
    // one data batch with the sentinel, fed before start (see "One data
    // batch"): null-extension is an eviction-time decision the watermark
    // makes identically under any batching of time-ordered input. The
    // sentinel, far past max(ts) + interval, moves the watermark at the
    // data batch's end, and Spark's no-data batch after it evicts every
    // real row. It must survive the right side's type filter — the
    // watermark node sits ABOVE it, so a filtered-out sentinel would
    // advance only the left watermark and the global (min) watermark
    // would never close the last windows (measured: the tail 9 null rows
    // stayed in state). It carries user −1, so it matches nothing real
    // and is filtered from the graded output.
    val far = evs.map(_.ts_ms).maxOption.getOrElse(0L) + 3600 * 1000L
    val sent = Ev(-1L, far, -1L, "click", 0.0)
    ls.addData((evs :+ sent).toSeq); rs.addData((evs :+ sent).toSeq)
    val qn = "i21_out_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName(qn).option("checkpointLocation", tmp("i21ck")).start()
    q.processAllAvailable()
    q.stop()
    s.table(qn).where(col("user_id") =!= -1L)
      .orderBy(asc("a_id"), asc_nulls_first("b_id"))
  }

  /** i26 — stream-stream FULL OUTER interval join, completing the
    * stream-join mode matrix (i8 inner, i21 left outer): BOTH unmatched
    * sides emit at watermark-timed state eviction — events with no
    * follow-up click AND clicks with no preceding event in their 5-minute
    * window (the click-attribution orphan). State bookkeeping is the i21
    * shape on both sides; the sentinel closes both stores because it
    * survives the right side's type filter (it is a click) and carries
    * user −1 so its own null-extended emissions are filtered from the
    * graded output. Output == the batch FULL JOIN (oracle; NULL ordering
    * pinned on both engines). */
  def i26(s: SparkSession, d: String): DataFrame = withSizedState(s, d) { evs =>
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val ls = MemoryStream[Ev]; val rs = MemoryStream[Ev]
    def side(m: MemoryStream[Ev], p: String) = m.toDF()
      .select(col("event_id").as(s"${p}_id"), col("user_id").as(s"${p}_user"),
        timestamp_millis(col("ts_ms")).as(s"${p}_t"),
        col("event_type").as(s"${p}_type"))
    val left = side(ls, "a").withWatermark("a_t", "10 minutes")
    val right = side(rs, "b").where(col("b_type") === "click")
      .withWatermark("b_t", "10 minutes")
    val joined = left.join(right,
        col("a_user") === col("b_user")
          && col("b_t") >= col("a_t")
          && col("b_t") <= col("a_t") + expr("INTERVAL 5 MINUTES")
          && col("a_id") =!= col("b_id"),
        "fullOuter")
      .select(col("a_id"), col("b_id"),
        coalesce(col("a_user"), col("b_user")).as("user_id"))
    // the i21 feed, for both sides: data plus one far-future click in one
    // batch before start; the no-data batch after it evicts (and
    // null-extends) every real row
    val far = evs.map(_.ts_ms).maxOption.getOrElse(0L) + 3600 * 1000L
    val sent = Ev(-1L, far, -1L, "click", 0.0)
    ls.addData((evs :+ sent).toSeq); rs.addData((evs :+ sent).toSeq)
    val qn = "i26_out_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName(qn).option("checkpointLocation", tmp("i26ck")).start()
    q.processAllAvailable()
    q.stop()
    s.table(qn).where(col("user_id") =!= -1L)
      .orderBy(asc_nulls_first("a_id"), asc_nulls_first("b_id"))
  }

  /** i9 — stream-static join: the event stream enriched against the static
    * customer dimension (broadcast — no stream state at all, the standard
    * streaming-enrichment pattern). Output == the batch join (oracle). */
  def i9(s: SparkSession, d: String): DataFrame = withFewShufflePartitions(s) {
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val evs = collectEvents(s, d)
    val cust = t(s, d, "customer").select("c_custkey", "c_name", "c_mktsegment")
    val stream = MemoryStream[Ev]
    val joined = stream.toDF()
      .join(broadcast(cust), col("user_id") === col("c_custkey"))
      .select("event_id", "c_name", "c_mktsegment")
    val qn = "i9_out_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName(qn).option("checkpointLocation", tmp("i9ck")).start()
    stream.addData(evs.toSeq)
    q.processAllAvailable()
    q.stop()
    s.table(qn).orderBy("event_id")
  }

  /** i11 — streaming keyed UPSERT: each micro-batch merges into a managed
    * keyed table (latest event per user wins — CDC compaction). foreachBatch
    * reads the current state, unions the batch, keeps the per-key argmax by
    * (ts, event_id), and atomically swaps directories. This is the
    * MERGE-INTO pattern of Delta/Hudi/Iceberg expressed on raw parquet —
    * at 100 TB the swap becomes a transactional table commit and the
    * per-batch rewrite becomes partition-scoped, but the dataflow
    * (dedup-on-write keyed state table) is exactly this. Final table ==
    * latest event per user (the oracle). */
  def i11(s: SparkSession, d: String): DataFrame = withFewShufflePartitions(s) {
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val evs = collectEvents(s, d)
    val stateDir = tmp("i11state")
    val stream = MemoryStream[Ev]
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(desc("ts_ms"), desc("event_id"))
    val q = stream.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val cur = new java.io.File(s"$stateDir/cur")
        val existing =
          if (cur.exists()) s.read.parquet(cur.getPath)
          else s.emptyDataFrame.select(lit(0L).as("event_id"), lit(0L).as("ts_ms"),
            lit(0L).as("user_id"), lit("").as("event_type"), lit(0.0).as("value"))
            .limit(0)
        val merged = existing.unionByName(batch.select(
            col("event_id"), col("ts_ms"), col("user_id"), col("event_type"), col("value")))
          .withColumn("rn", row_number().over(w)).where(col("rn") === 1).drop("rn")
        // write-new-then-swap: a crashed batch never corrupts `cur`
        val next = s"$stateDir/next_$id"
        merged.write.mode("overwrite").parquet(next)
        val curPath = java.nio.file.Paths.get(s"$stateDir/cur")
        val tmpOld = java.nio.file.Paths.get(s"$stateDir/old_$id")
        if (java.nio.file.Files.exists(curPath))
          java.nio.file.Files.move(curPath, tmpOld)
        java.nio.file.Files.move(java.nio.file.Paths.get(next), curPath)
        ()
      }
      .option("checkpointLocation", tmp("i11ck")).start()
    val third = evs.length / 3
    stream.addData(evs.take(third).toSeq)
    q.processAllAvailable()
    stream.addData(evs.slice(third, 2 * third).toSeq)
    q.processAllAvailable()
    stream.addData(evs.drop(2 * third).toSeq)
    q.processAllAvailable()
    q.stop()
    s.read.parquet(s"$stateDir/cur")
      .select(col("user_id"), col("event_id").as("last_event_id"),
        col("ts_ms").as("last_ts_ms"))
      .orderBy("user_id")
  }

  /** i12 — complete-mode aggregation: the memory sink is REPLACED with the
    * full aggregate every micro-batch; after the final batch it equals the
    * batch groupBy exactly (the oracle) — the dashboard-table output mode
    * next to append (i4) and the keyed-upsert pattern (i11). */
  def i12(s: SparkSession, d: String): DataFrame = withFewShufflePartitions(s) {
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val evs = collectEvents(s, d)
    val stream = MemoryStream[Ev]
    val agg = stream.toDF()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), mSum(col("value")).as("sum_v"))
    val qn = "i12_out_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val q = agg.writeStream.outputMode("complete").format("memory")
      .queryName(qn).option("checkpointLocation", tmp("i12ck")).start()
    val half = evs.length / 2
    stream.addData(evs.take(half).toSeq)
    q.processAllAvailable()
    stream.addData(evs.drop(half).toSeq)
    q.processAllAvailable()
    q.stop()
    s.table(qn).orderBy("event_type")
  }

  /** i6 — to_td-style continuous ingest: file-source stream → foreachBatch
    * append with checkpointing (micro-batch = idempotent chunk; a replayed
    * batch id is skipped on restart, mirroring StreamingUploader's
    * per-chunk unique id). Read-back == the source table (the oracle). */
  def i6(s: SparkSession, d: String): DataFrame =
    i6Run(s, d, tmp("i6out"), tmp("i6ck"), tmp("i6src"))

  /** Parametrized form so tests can REPLAY with the same source dir +
    * checkpoint + output: a restarted run re-reads nothing (file paths and
    * batch ids already committed) — the idempotency the reference gets
    * from per-chunk unique ids. */
  def i6Run(s: SparkSession, d: String, out: String, ck: String,
      srcDir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // file stream source requires a directory: expose the single parquet
    // file through a dir symlink (created once; replays reuse it)
    val link = java.nio.file.Paths.get(srcDir, "events.parquet")
    val target = java.nio.file.Paths.get(d, "events.parquet")
    // replay guard covers BOTH layouts: the single-file case creates
    // `link`, the directory case creates partN.parquet links — either
    // way a non-empty srcDir means the links exist already
    val alreadyLinked = {
      val ls = java.nio.file.Files.list(java.nio.file.Paths.get(srcDir))
      try ls.iterator().hasNext finally ls.close()
    }
    if (!alreadyLinked && !java.nio.file.Files.exists(link)) {
      if (java.nio.file.Files.isDirectory(target)) {
        // table-as-directory (any real warehouse layout): link each part
        // file flat into the stream source dir — a nested dir symlink
        // lists zero files and the read-back dies on an empty sink
        // (EventsGuardSpec)
        val parts = java.nio.file.Files.list(target)
        try {
          val it = parts.iterator()
          var i = 0
          while (it.hasNext) {
            val f = it.next()
            if (f.toString.endsWith(".parquet")) {
              java.nio.file.Files.createSymbolicLink(
                java.nio.file.Paths.get(srcDir, s"part$i.parquet"), f)
              i += 1
            }
          }
        } finally parts.close()
      } else java.nio.file.Files.createSymbolicLink(link, target)
    }
    // pin the stream schema from a footer-only static read: the fixture's
    // ts has shipped as epoch-nanos LONG and as timestamp[us] (NTZ) across
    // generations, and a mismatched explicit schema reads silently wrong
    val schema = s.read.parquet(srcDir).schema
    val timeSec = schema("ts").dataType match {
      case LongType => expr("ts div 1000000000")            // epoch nanos
      case _        => unix_seconds(col("ts").cast(TimestampType))
    }
    val q = s.readStream.schema(schema).parquet(srcDir)
      .select(col("event_id"), timeSec.as("time"), col("user_id"))
      .writeStream
      // one OVERWRITTEN directory per batch id: a batch retried after a
      // partial write (crash between data commit and checkpoint commit)
      // replaces its own output instead of appending a duplicate — true
      // per-chunk idempotency, not just clean-restart no-op
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        df.write.mode("overwrite").parquet(s"$out/batch=$id"); ()
      }
      .option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    s.read.parquet(out).drop("batch").orderBy("event_id")
  }

  /** Micro-batch count of the last i14 run — observable for the spec's
    * "catch-up really was split into multiple bounded batches" assert. */
  @volatile private[graft] var i14Batches: Long = -1L

  /** i14 — bounded-batch backfill: the events table lands as 9 parquet
    * files and the stream drains them AvailableNow but at most 3 files per
    * micro-batch. This is the catch-up mode of a production file stream
    * that restarted days behind: without the rate limit, ONE micro-batch
    * would swallow the whole backlog (state, shuffle and sink commit all
    * sized to days of data — the OOM/straggler shape); with it, each batch
    * is bounded and checkpointed, so a crash mid-catch-up loses at most 3
    * files of work. Same per-batch-id idempotent sink as i6. Output is the
    * drained aggregate — equal to the batch oracle over the full table. */
  def i14(s: SparkSession, d: String): DataFrame =
    i14Run(s, d, tmp("i14src"), tmp("i14out"), tmp("i14ck"))

  /** Parametrized form so tests can REPLAY with the same source dir +
    * checkpoint + output (i6Run's device): a restart re-reads nothing —
    * committed file paths and batch ids replay as no-ops, even when the
    * first run drained in several rate-limited batches. */
  def i14Run(s: SparkSession, d: String, src: String, out: String,
      ck: String): DataFrame = withFewShufflePartitions(s) {
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(src, "_SUCCESS")))
      events(s, d)
        .select(col("event_id"), col("ts_ms"), col("user_id"),
          col("event_type"), col("value"))
        .repartition(9).write.mode("overwrite").parquet(src)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts_ms", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    val q = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "3").parquet(src)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        df.write.mode("overwrite").parquet(s"$out/batch=$id"); ()
      }
      .option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val drained = s.read.parquet(out)
    i14Batches = drained.select("batch").distinct().count()
    drained.groupBy("event_type")
      .agg(count(lit(1)).as("n"), mSum(col("value")).as("sum_v"))
      .orderBy("event_type")
  }

  /** i24 — streaming SEMI-STRUCTURED ingest through VARIANT: raw JSON
    * lines stream in from files (the landing-zone shape — no schema
    * declared on the wire), each micro-batch parses them ONCE into a
    * VARIANT value and extracts typed paths (a34's device, streaming),
    * and a complete-mode aggregation maintains per-type counts/sums.
    * The point vs i14 (schema-on-write parquet): schema-on-READ — the
    * producer never coordinated a schema, new fields would land without
    * a pipeline change, and the parse is a stateless per-row projection
    * the micro-batch engine treats like any other map. Rate-limited
    * AvailableNow drain, checkpointed; == the batch aggregation. */
  def i24(s: SparkSession, d: String): DataFrame = withFewShufflePartitions(s) {
    val src = tmp("i24src"); val ck = tmp("i24ck")
    events(s, d)
      .select(to_json(struct(col("event_id"), col("event_type"),
        col("value"), col("user_id"))).as("value"))
      .repartition(6).write.mode("overwrite").text(src)
    val qn = "i24_out_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val q = s.readStream
      .schema(StructType(Seq(StructField("value", StringType))))
      .option("maxFilesPerTrigger", "2").text(src)
      .select(expr("parse_json(value)").as("v"))
      .select(expr("variant_get(v, '$.event_type', 'string')").as("event_type"),
        expr("variant_get(v, '$.value', 'double')").as("value"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), mSum(col("value")).as("sum_v"))
      .writeStream.outputMode("complete").format("memory").queryName(qn)
      .option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    s.table(qn).orderBy("event_type")
  }

  /** Per-version (version, table row count) of the last i16 run —
    * observable for the spec's atomic-prefix asserts. Counting re-reads
    * every version through its manifest (O(versions) table scans), so it
    * runs only when the spec opts in; the graded path always reads the
    * latest version. */
  @volatile private[graft] var i16Versions: Seq[(Long, Long)] = Seq.empty
  @volatile private[graft] var i16CountVersions: Boolean = false

  /** i16 — streaming ingestion COMMITTING A VERSIONED TABLE: the link
    * between the streaming arc (i6/i14) and the lakehouse arc
    * (a22 manifests → a23 time travel → a25/a26 copy-on-write). Each
    * rate-limited micro-batch writes its data files under a batch-scoped
    * dir (a retried batch overwrites ITSELF — i6's idempotency device),
    * then commits manifest version v=batchId: the previous version's
    * file list plus this batch's files, written as a parquet table
    * (a23's versioned-manifest shape, produced by a stream). A reader
    * pinned to ANY version sees an atomic prefix of the stream —
    * in-flight batches are invisible until it re-resolves the latest
    * manifest; exactly-once follows from the checkpoint (committed batch
    * ids replay as no-ops, proven by the spec's replay) plus the
    * overwrite-idempotent batch dirs. The graded output reads the LATEST
    * version through its manifest, so a double-committed or lost file
    * hash-fails the aggregate. At 100 TB: data IO is O(batch), the
    * manifest write is O(files-so-far) rows of parquet — never a data
    * rewrite; version resolution stays O(manifest) on the driver, the
    * a23/a24 allowance. */
  def i16(s: SparkSession, d: String): DataFrame =
    i16Run(s, d, tmp("i16src"), tmp("i16tbl"), tmp("i16mani"), tmp("i16ck"))

  /** Parametrized form so tests can REPLAY with the same source +
    * checkpoint + table + manifest dirs: a restart re-reads nothing and
    * commits no new version. */
  def i16Run(s: SparkSession, d: String, src: String, tbl: String,
      mani: String, ck: String): DataFrame = withFewShufflePartitions(s) {
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(src, "_SUCCESS")))
      events(s, d)
        .select(col("event_id"), col("ts_ms"), col("user_id"),
          col("event_type"), col("value"))
        .repartition(9).write.mode("overwrite").parquet(src)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts_ms", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    val q = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "3").parquet(src)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val dir = s"$tbl/batch=$id"
        df.write.mode("overwrite").parquet(dir)
        // declared schema: an all-empty micro-batch can commit zero data
        // files, which file inference cannot read back
        val newFiles = s.read.schema(schema).parquet(dir)
          .select(input_file_name().as("f")).distinct()
        val prevDir = s"$mani/v=${id - 1}"
        val m = if (id == 0 ||
            !java.nio.file.Files.exists(java.nio.file.Paths.get(prevDir)))
          newFiles
        else newFiles.unionAll(readMani(s, prevDir))
        m.write.mode("overwrite").parquet(s"$mani/v=$id"); ()
      }
      .option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val vs = Option(new java.io.File(mani).listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(_.startsWith("v=")).map(_.drop(2).toLong)
      .toIndexedSeq.sorted
    // a zero-file manifest (all-empty batches) is a legitimately EMPTY
    // version: resolve against the declared schemas instead of file
    // inference (the a23/a24 readFiles discipline) — under AQE an empty
    // manifest write can itself coalesce to zero data files
    def readV(v: Long) = graft.ops.ManifestIO.readFiles(s,
      readMani(s, s"$mani/v=$v")
        .collect().map(_.getString(0)).toIndexedSeq, schema)
    i16Versions = if (i16CountVersions) vs.map(v => (v, readV(v).count()))
      else Seq.empty
    vs.maxOption.map(readV)
      .getOrElse(graft.ops.ManifestIO.readFiles(s, Nil, schema))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), mSum(col("value")).as("sum_v"))
      .orderBy("event_type")
  }

  /** i17 — i15 PLUS index maintenance on commit: each micro-batch first
    * PROBES the currently committed band-index version, then COMMITS its
    * own band rows as a new version (new files + a manifest that appends
    * them to the previous version's file list — the a23/i16 versioned-
    * table device). A batch-2 document that near-dups a BATCH-1 document
    * is therefore caught by the updated index, not only the pre-stream
    * corpus, with no index rebuild: the per-batch commit cost is O(batch),
    * the probe stays an equi-join on (band, bh). Probe-before-commit
    * means within-batch pairs are deferred to the periodic exact dedup
    * (j28) by design — the contract production ingest dedup runs under.
    * Deterministic batch split (so the oracle can reproduce the cascade):
    * standing corpus = even doc_ids (v0 of the index), batch 1 =
    * doc_id % 4 == 1, batch 2 = doc_id % 4 == 3. */
  def i17(s: SparkSession, d: String): DataFrame = withFewShufflePartitions(s) {
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val bands = graft.ops.LlmOps.minhashBands(graft.ops.LlmOps.minhashSigs(s, d))
    val idxDir = tmp("i17idx"); val mani = tmp("i17mani"); val out = tmp("i17out")
    def filesOf(dir: String) =
      s.read.parquet(dir).select(input_file_name().as("f")).distinct()
    def currentVersion(): Long =
      Option(new java.io.File(mani).listFiles()).getOrElse(Array.empty)
        .map(_.getName).filter(_.startsWith("v=")).map(_.drop(2).toLong).max
    // v0: the standing corpus index, committed like any later version —
    // the stream's first probe already reads through the manifest
    bands.where(col("doc_id") % 2 === 0)
      .select(col("doc_id").as("d_idx"), col("band"), col("bh"))
      .write.mode("overwrite").parquet(s"$idxDir/seg=0")
    filesOf(s"$idxDir/seg=0").write.mode("overwrite").parquet(s"$mani/v=0")
    val incoming = bands.where(col("doc_id") % 2 === 1)
      .select(col("doc_id").as("d_inc"), col("band"), col("bh"))
      .as[BandRow].collect()
    val b1 = incoming.filter(_.d_inc % 4 == 1).sortBy(r => (r.d_inc, r.band))
    val b2 = incoming.filter(_.d_inc % 4 == 3).sortBy(r => (r.d_inc, r.band))
    val stream = MemoryStream[BandRow]
    val q = stream.toDF()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val vPrev = currentVersion()
        // empty standing corpus -> zero-file v0 manifest: an empty index
        // with the seg-0 schema (ManifestIO, the a23/a24 discipline)
        val idx = graft.ops.ManifestIO.readFiles(s,
          readMani(s, s"$mani/v=$vPrev")
            .collect().map(_.getString(0)).toIndexedSeq,
          s.read.parquet(s"$idxDir/seg=0").schema)
        // 1. probe the committed index (idempotent per-batch-id sink)
        df.join(idx, Seq("band", "bh"))
          .select(col("d_inc"), col("d_idx"))
          .write.mode("overwrite").parquet(s"$out/batch=$id")
        // 2. commit this batch's band rows as index version vPrev+1
        val seg = s"$idxDir/seg=${vPrev + 1}"
        df.select(col("d_inc").as("d_idx"), col("band"), col("bh"))
          .write.mode("overwrite").parquet(seg)
        filesOf(seg).unionAll(readMani(s, s"$mani/v=$vPrev"))
          .write.mode("overwrite").parquet(s"$mani/v=${vPrev + 1}")
        ()
      }
      .option("checkpointLocation", tmp("i17ck"))
      .start()
    stream.addData(b1.toSeq); q.processAllAvailable()
    stream.addData(b2.toSeq); q.processAllAvailable()
    q.stop()
    // zero incoming batches write no out dir at all: the result is the
    // empty candidate relation
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(out)))
      s.range(0).select(col("id").as("d_inc"), col("id").as("d_idx"))
    else s.read.parquet(out).select("d_inc", "d_idx").distinct()
      .orderBy("d_inc", "d_idx")
  }

  case class BucketRow(v_inc: Long, bucket: String)

  /** i18 — i17's cascade on the VECTOR side: streaming ANN-candidate
    * detection with per-batch index maintenance. The committed index is
    * the hyperplane-LSH bucket table over the standing embeddings (even
    * vec_ids, v0); incoming vectors arrive as (vec_id, bucket) rows — the
    * bucket assignment is the map-only order-free projection, computed at
    * ingest exactly as at rest — probe the committed version on the
    * bucket key, then commit their own rows as the next version by
    * manifest append. A batch-2 vector whose nearest neighbor landed in
    * batch 1 therefore surfaces candidates WITHOUT an index rebuild —
    * the freshness contract a streaming embedding store needs (cosine
    * re-rank of the candidates stays a batch job, as in j39). Same
    * deterministic split as i17: corpus = even, batch 1 = vec_id%4==1,
    * batch 2 = vec_id%4==3 — so the oracle reproduces the whole cascade
    * including the committed-before-probed relation. */
  def i18(s: SparkSession, d: String): DataFrame = withFewShufflePartitions(s) {
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val buckets = graft.ops.LlmOps
      .lshBuckets(s, d, graft.ops.Knobs.lshPlanes(s))
    val idxDir = tmp("i18idx"); val mani = tmp("i18mani"); val out = tmp("i18out")
    def filesOf(dir: String) =
      s.read.parquet(dir).select(input_file_name().as("f")).distinct()
    def currentVersion(): Long =
      Option(new java.io.File(mani).listFiles()).getOrElse(Array.empty)
        .map(_.getName).filter(_.startsWith("v=")).map(_.drop(2).toLong).max
    buckets.where(col("vec_id") % 2 === 0)
      .select(col("vec_id").as("v_idx"), col("bucket"))
      .write.mode("overwrite").parquet(s"$idxDir/seg=0")
    filesOf(s"$idxDir/seg=0").write.mode("overwrite").parquet(s"$mani/v=0")
    val incoming = buckets.where(col("vec_id") % 2 === 1)
      .select(col("vec_id").as("v_inc"), col("bucket"))
      .as[BucketRow].collect()
    val b1 = incoming.filter(_.v_inc % 4 == 1).sortBy(_.v_inc)
    val b2 = incoming.filter(_.v_inc % 4 == 3).sortBy(_.v_inc)
    val stream = MemoryStream[BucketRow]
    val q = stream.toDF()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val vPrev = currentVersion()
        // empty standing corpus -> zero-file v0 manifest: an empty index
        // with the seg-0 schema (ManifestIO, the a23/a24 discipline)
        val idx = graft.ops.ManifestIO.readFiles(s,
          readMani(s, s"$mani/v=$vPrev")
            .collect().map(_.getString(0)).toIndexedSeq,
          s.read.parquet(s"$idxDir/seg=0").schema)
        df.join(idx, Seq("bucket"))
          .select(col("v_inc"), col("v_idx"))
          .write.mode("overwrite").parquet(s"$out/batch=$id")
        val seg = s"$idxDir/seg=${vPrev + 1}"
        df.select(col("v_inc").as("v_idx"), col("bucket"))
          .write.mode("overwrite").parquet(seg)
        filesOf(seg).unionAll(readMani(s, s"$mani/v=$vPrev"))
          .write.mode("overwrite").parquet(s"$mani/v=${vPrev + 1}")
        ()
      }
      .option("checkpointLocation", tmp("i18ck"))
      .start()
    stream.addData(b1.toSeq); q.processAllAvailable()
    stream.addData(b2.toSeq); q.processAllAvailable()
    q.stop()
    // zero incoming batches write no out dir at all: the result is the
    // empty candidate relation
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(out)))
      s.range(0).select(col("id").as("v_inc"), col("id").as("v_idx"))
    else s.read.parquet(out).select("v_inc", "v_idx").distinct()
      .orderBy("v_inc", "v_idx")
  }

  /** i15 — near-dup detection AT INGEST: the streaming half of j28's
    * incremental dedup. The standing corpus's MinHash band index (doc,
    * band, band-hash) is the STATIC side; incoming documents arrive as a
    * stream of their own band rows (a map-only per-doc computation — no
    * aggregation runs inside the stream) and an equi-join on (band, bh)
    * emits LSH candidate pairs as each micro-batch lands. The exact
    * Jaccard verify stays a batch job over the day's candidates (j28) —
    * the stream's job is the cheap index probe, which is how a 100 TB
    * ingest pipeline flags likely-dups in seconds instead of at the next
    * full dedup run. At scale the static index is hash-partitioned on
    * (band, bh) so each micro-batch shuffles only its own incoming rows;
    * at fixture size AQE broadcasts it. Same per-batch-id idempotent sink
    * as i6/i14; one pair can match in several bands, so the read-back
    * dedups — output equals the batch candidate join (the oracle). */
  def i15(s: SparkSession, d: String): DataFrame = withFewShufflePartitions(s) {
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val sig = graft.ops.LlmOps.minhashSigs(s, d)
    def bandsOf(df: org.apache.spark.sql.DataFrame) =
      graft.ops.LlmOps.minhashBands(df)
    // the index is PRECOMPUTED and cached before the stream starts — a
    // static join side is re-planned every micro-batch, and re-deriving
    // the whole sig pipeline per batch is exactly what an ingest pipeline
    // must not do (at scale: a materialized table, hash-partitioned on the
    // join key). Bench/Verify release the cache after the query.
    val corpusIdx = bandsOf(sig.where(col("doc_id") % 2 === 0))
      .select(col("doc_id").as("d_corp"), col("band"), col("bh"))
      .persist()
    try {
      val incomingRows = bandsOf(sig.where(col("doc_id") % 2 === 1))
        .select(col("doc_id").as("d_inc"), col("band"), col("bh"))
        .as[BandRow].collect().sortBy(r => (r.d_inc, r.band))
      val half = incomingRows.length / 2
      val stream = MemoryStream[BandRow]
      val out = tmp("i15out")
      val q = stream.toDF()
        .join(corpusIdx, Seq("band", "bh"))
        .select(col("d_inc"), col("d_corp"))
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
          df.write.mode("overwrite").parquet(s"$out/batch=$id"); ()
        }
        .option("checkpointLocation", tmp("i15ck"))
        .start()
      stream.addData(incomingRows.take(half).toSeq)
      q.processAllAvailable()
      stream.addData(incomingRows.drop(half).toSeq)
      q.processAllAvailable()
      q.stop()
      s.read.parquet(out).select("d_inc", "d_corp").distinct()
        .orderBy("d_inc", "d_corp")
    } finally {
      // release here, not only via the harness-level clearCache: any other
      // caller (specs, API use) would otherwise leak the cached index for
      // the rest of the session
      corpusIdx.unpersist(blocking = false)
    }
  }

  /** i19 — streaming SCD2 maintenance (CDC apply): each micro-batch folds
    * its changes into the a29 dimension-history table. The incremental
    * trick: only the OPEN rows participate — a batch's impact on history
    * is confined to (open versions ∪ batch changes), so each batch
    * re-runs the a29 lag/lead window over exactly that union (each open
    * row rides along as the pseudo-change at its own valid_from, which
    * makes the lag comparison against the standing version free) and the
    * CLOSED history accumulates untouched. At 100 TB the open set is one
    * row per live entity — the working set CDC appliers actually keep —
    * while closed history is append-only; commit is the i11/i16
    * write-new-then-swap. Correct only for time-ordered arrival (CDC log
    * order, the collectEvents contract); late data would need i4's
    * watermark machinery in front. Final table == the batch a29 rebuild
    * (the oracle). */
  def i19(s: SparkSession, d: String): DataFrame = withFewShufflePartitions(s) {
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val evs = collectEvents(s, d)
    val stateDir = tmp("i19state")
    val stream = MemoryStream[Ev]
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts_ms", "event_id")
    val q = stream.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val cur = new java.io.File(s"$stateDir/cur")
        val existing =
          if (cur.exists()) s.read.parquet(cur.getPath)
          else s.range(0).select(lit(0L).as("user_id"), lit("").as("event_type"),
            lit(0L).as("valid_from"), lit(0L).cast("long").as("valid_to"),
            lit(0L).as("event_id")).limit(0)
        val open = existing.where(col("valid_to").isNull)
        val closed = existing.where(col("valid_to").isNotNull)
        // open rows re-enter as the pseudo-change at their own valid_from
        val changes = open.select(col("user_id"), col("event_type"),
            col("valid_from").as("ts_ms"), col("event_id"))
          .unionByName(batch.select(col("user_id"), col("event_type"),
            col("ts_ms"), col("event_id")))
        val rebuilt = changes
          .withColumn("prev_type", lag(col("event_type"), 1).over(w))
          .where(col("prev_type").isNull ||
            col("prev_type") =!= col("event_type"))
          .withColumn("valid_to", lead(col("ts_ms"), 1).over(w))
          .select(col("user_id"), col("event_type"),
            col("ts_ms").as("valid_from"), col("valid_to"), col("event_id"))
        val merged = closed.unionByName(rebuilt)
        val next = s"$stateDir/next_$id"
        merged.write.mode("overwrite").parquet(next)
        val curPath = java.nio.file.Paths.get(s"$stateDir/cur")
        val tmpOld = java.nio.file.Paths.get(s"$stateDir/old_$id")
        if (java.nio.file.Files.exists(curPath))
          java.nio.file.Files.move(curPath, tmpOld)
        java.nio.file.Files.move(java.nio.file.Paths.get(next), curPath)
        ()
      }
      .option("checkpointLocation", tmp("i19ck")).start()
    val third = evs.length / 3
    stream.addData(evs.take(third).toSeq)
    q.processAllAvailable()
    stream.addData(evs.slice(third, 2 * third).toSeq)
    q.processAllAvailable()
    stream.addData(evs.drop(2 * third).toSeq)
    q.processAllAvailable()
    q.stop()
    s.read.parquet(s"$stateDir/cur")
      .select(col("user_id"), col("event_type"), col("valid_from"),
        col("valid_to"), col("valid_to").isNull.as("is_current"))
      .orderBy("user_id", "valid_from", "event_type")
  }

  /** i22's processor: per-user top-k purchase values in a ListState that
    * the processor itself keeps bounded — state per key is k doubles by
    * CONSTRUCTION (merge-then-truncate on every input), not O(events
    * seen), which is the property that lets a top-k-per-entity stream run
    * forever. One event-time timer per key (re-armed i10-style) emits the
    * final ranking when the watermark passes `endTs`. */
  class TopKProcessor(k: Int, endTs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Ev, (Long, Int, Double)] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, ExpiredTimerInfo, TTLConfig, ListState}
    import org.apache.spark.sql.Encoders

    @transient private var top: ListState[Double] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      top = getHandle.getListState[Double]("top",
        Encoders.scalaDouble, TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[Ev],
        tv: TimerValues): Iterator[(Long, Int, Double)] = {
      // nullable measure: a NULL value contributes nothing to the top-k
      val vs = rows.flatMap(r => Option(r.value).map(_.doubleValue)).toArray
      if (vs.nonEmpty) {
        val merged = (top.get().toSeq ++ vs).sortBy(-_).take(k)
        top.put(merged.toArray)
        getHandle.deleteTimer(endTs)
        getHandle.registerTimer(endTs)
      }
      Iterator.empty
    }

    override def handleExpiredTimer(user: Long, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[(Long, Int, Double)] = {
      val vals = top.get().toSeq // stored sorted desc
      top.clear()
      vals.iterator.zipWithIndex.map { case (v, i) => (user, i + 1, v) }
    }
  }

  /** i23's processor: per-user per-event-type counters in a MapState —
    * the keyed-sub-map shape profile/feature stores keep (bounded by the
    * TYPE alphabet, not the stream). Same timer-driven final flush as
    * [[TopKProcessor]]. */
  class TypeCountProcessor(endTs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Ev, (Long, String, Long)] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, ExpiredTimerInfo, TTLConfig, MapState}
    import org.apache.spark.sql.Encoders

    @transient private var counts: MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[String, Long]("counts",
        Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[Ev],
        tv: TimerValues): Iterator[(Long, String, Long)] = {
      var any = false
      rows.foreach { e =>
        // a NULL type cannot key the state-store map (EventsGuardSpec);
        // untyped events carry no bucket and are skipped
        if (e.event_type != null) {
          any = true
          val cur = if (counts.containsKey(e.event_type))
            counts.getValue(e.event_type) else 0L
          counts.updateValue(e.event_type, cur + 1L)
        }
      }
      if (any) { getHandle.deleteTimer(endTs); getHandle.registerTimer(endTs) }
      Iterator.empty
    }

    override def handleExpiredTimer(user: Long, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[(Long, String, Long)] = {
      val out = counts.iterator().map { p => (user, p._1, p._2) }.toArray
      counts.clear()
      out.sortBy(_._2).iterator
    }
  }

  /** i23 — transformWithState with MAP state: streaming per-user
    * per-event-type counters, completing the typed-state trio (i10
    * ValueState, i22 ListState). The MapState is keyed by the bounded
    * type alphabet inside each user's state row — the sub-keyed profile
    * shape that would otherwise force a (user × type) key explosion one
    * level up. Timer-driven flush; output == the batch (user, type)
    * groupBy (oracle). */
  def i23(s: SparkSession, d: String): DataFrame = withFewShufflePartitions(s, 2) {
    import s.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProv = s.conf.getOption(provKey)
    s.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val evs = collectEvents(s, d)
      val endTs = evs.lastOption.map(_.ts_ms).getOrElse(0L) + 24L * 3600 * 1000
      val sentinel = Ev(-1L, endTs + 365L * 24 * 3600 * 1000, -1L, "sentinel", 0.0)
      val stream = MemoryStream[Ev]
      val counted = stream.toDS()
        .withColumn("ts_t", timestamp_millis(col("ts_ms")))
        .withWatermark("ts_t", "10 minutes")
        .as[(Long, Long, Long, String, java.lang.Double, java.sql.Timestamp)]
        .map(t => Ev(t._1, t._2, t._3, t._4, t._5))
        .groupByKey(_.user_id)
        .transformWithState(new TypeCountProcessor(endTs),
          org.apache.spark.sql.streaming.TimeMode.EventTime(),
          OutputMode.Append())
      // the i7 feed (per-type counters are additive across any batching
      // of the input): data plus sentinel in one batch before start
      stream.addData((evs :+ sentinel).toSeq)
      val qn = "i23_out_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val q = counted.toDF("user_id", "event_type", "n")
        .writeStream.outputMode("append").format("memory").queryName(qn)
        .option("checkpointLocation", tmp("i23ck")).start()
      q.processAllAvailable()
      q.stop()
      s.table(qn).where(col("user_id") =!= -1L)
        .orderBy("user_id", "event_type")
    } finally {
      prevProv match {
        case Some(p) => s.conf.set(provKey, p)
        case None => s.conf.unset(provKey)
      }
    }
  }

  /** i22 — transformWithState with LIST state: streaming per-user top-3
    * purchase values. i10 exercised the ValueState+timer surface; this is
    * the ListState leg — the state shape leaderboards/top-k-per-entity
    * pipelines keep — with the bound enforced IN the processor (k values
    * per key, ever). The purchase filter sits UPSTREAM of groupByKey, so
    * only purchasing users own state. Emission is timer-driven: the
    * sentinel advances the watermark past `endTs` and every key flushes
    * its final ranking; output == the batch per-user top-3 (oracle). */
  def i22(s: SparkSession, d: String): DataFrame = withFewShufflePartitions(s, 2) {
    import s.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProv = s.conf.getOption(provKey)
    s.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val evs = collectEvents(s, d)
      val endTs = evs.lastOption.map(_.ts_ms).getOrElse(0L) + 24L * 3600 * 1000
      val sentinel = Ev(-1L, endTs + 365L * 24 * 3600 * 1000, -1L, "purchase", 0.0)
      val stream = MemoryStream[Ev]
      val ranked = stream.toDS()
        .withColumn("ts_t", timestamp_millis(col("ts_ms")))
        .withWatermark("ts_t", "10 minutes")
        .as[(Long, Long, Long, String, java.lang.Double, java.sql.Timestamp)]
        .map(t => Ev(t._1, t._2, t._3, t._4, t._5))
        .filter(e => e.event_type == "purchase")
        .groupByKey(_.user_id)
        .transformWithState(new TopKProcessor(3, endTs),
          org.apache.spark.sql.streaming.TimeMode.EventTime(),
          OutputMode.Append())
      // the i7 feed (top-k insertion is associative, so the
      // merge-then-truncate state reaches the same final ranking): data
      // plus sentinel in one batch before start
      stream.addData((evs :+ sentinel).toSeq)
      val qn = "i22_out_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val q = ranked.toDF("user_id", "rank", "value")
        .writeStream.outputMode("append").format("memory").queryName(qn)
        .option("checkpointLocation", tmp("i22ck")).start()
      q.processAllAvailable()
      q.stop()
      s.table(qn).where(col("user_id") =!= -1L)
        .orderBy("user_id", "rank")
    } finally {
      prevProv match {
        case Some(p) => s.conf.set(provKey, p)
        case None => s.conf.unset(provKey)
      }
    }
  }

  /** i20 — streaming maintenance of a MERGEABLE-SKETCH table: d22's
    * per-hour HLL distinct-count pre-aggregate, produced and kept fresh
    * by a stream instead of a batch rebuild. Each rate-limited
    * micro-batch (1) partial-aggregates ITS events into per-hour
    * sketches, (2) merges them into the previously committed sketch
    * table via hll_union_agg, and (3) commits the result as version
    * v=batchId (i16's versioned commit; recovery reads the latest
    * version BELOW the replaying batch id, so a half-committed version
    * is simply rebuilt). Per-batch cost is O(batch) for the partials
    * plus O(hours × 2^lgK bytes) to rewrite the sketch relation — never
    * an events rescan; that relation IS the serving layer ("daily
    * uniques" = union over 24 sketch rows, d22's read path). The deeper
    * scale property is that sketch maintenance is RETRY-IDEMPOTENT BY
    * ALGEBRA: HLL registers merge by max, so re-merging an
    * already-merged batch is a no-op — exactly-once falls out of the
    * aggregate itself, where i16's counts needed file-manifest care
    * (Round8Spec pins the self-union; the replay spec pins the
    * versioned-commit recovery too). Exact-regime graded like d22
    * (users ≪ lgK=14 coupon capacity): the final day rollup — computed
    * from the STREAM-BUILT sketches — hash-matches the oracle's exact
    * DISTINCTs, with exact_users alongside for in-row reconciliation. */
  def i20(s: SparkSession, d: String): DataFrame =
    i20Run(s, d, tmp("i20src"), tmp("i20tbl"), tmp("i20ck"))

  /** Parametrized form so the spec can REPLAY with the same dirs (no new
    * version, identical estimates) — i16Run's device. */
  def i20Run(s: SparkSession, d: String, src: String, tbl: String,
      ck: String): DataFrame = withFewShufflePartitions(s) {
    if (!java.nio.file.Files.exists(java.nio.file.Paths.get(src, "_SUCCESS")))
      events(s, d).select(col("event_id"), col("ts_ms"), col("user_id"))
        .repartition(9).write.mode("overwrite").parquet(src)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts_ms", LongType),
      StructField("user_id", LongType)))
    def versions(): Seq[Long] =
      Option(new java.io.File(tbl).listFiles()).getOrElse(Array.empty)
        .map(_.getName).filter(_.startsWith("v=")).map(_.drop(2).toLong)
        .toIndexedSeq.sorted
    val q = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "3").parquet(src)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val part = df
          .withColumn("day", expr("ts_ms div 86400000"))
          .withColumn("hour", expr("ts_ms div 3600000"))
          .groupBy("day", "hour")
          .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
        // recovery contract: merge into the latest version committed by a
        // PRIOR batch — a crash after writing v=id but before the
        // checkpoint commit replays id, ignores the orphan v=id, and
        // rebuilds it from v=id-1 + the same data
        val merged = versions().filter(_ < id).lastOption match {
          case Some(v) => s.read.parquet(s"$tbl/v=$v").unionAll(part)
            .groupBy("day", "hour").agg(expr("hll_union_agg(sk)").as("sk"))
          case None => part
        }
        merged.write.mode("overwrite").parquet(s"$tbl/v=$id"); ()
      }
      .option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    s.read.parquet(s"$tbl/v=${versions().last}")
      .createOrReplaceTempView("graft_i20_sk")
    events(s, d).createOrReplaceTempView("graft_i20_events")
    s.sql("""
      WITH days AS (
        SELECT day, COUNT(*) AS n_hours,
               CAST(hll_sketch_estimate(hll_union_agg(sk)) AS BIGINT) AS est_users
        FROM graft_i20_sk GROUP BY day),
      ex AS (
        SELECT ts_ms div 86400000 AS day,
               COUNT(DISTINCT user_id) AS exact_users
        FROM graft_i20_events GROUP BY ts_ms div 86400000)
      SELECT days.day, days.n_hours, days.est_users, ex.exact_users
      FROM days JOIN ex ON days.day = ex.day
      ORDER BY days.day""")
  }

  /** i27 — the COMPOSED streaming recipe: quality gate → bounded-state
    * dedup → watermarked tumbling aggregation in ONE streaming query —
    * the streaming leg of j79's batch recipe (a production ingest
    * pipeline runs exactly this chain continuously). The gate is a
    * stateless filter (evaluates before any state), the dedup is
    * `dropDuplicatesWithinWatermark` (bounded state — i25's contract,
    * which is what lets this run forever), and the windowed count/sum
    * closes windows as the watermark passes. The harness re-sends the
    * ENTIRE stream in a second batch: re-sends inside the watermark
    * dedup away, re-sends below it are dropped by the watermark
    * pre-filter — either way the output equals the batch oracle over
    * the unique filtered events. Sentinel flush as i4. */
  def i27(s: SparkSession, d: String): DataFrame = withFewShufflePartitions(s) {
    import s.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = s.sqlContext
    val evs = collectEvents(s, d)
    val sentinel = Ev(-1L, evs.lastOption.map(_.ts_ms).getOrElse(0L) + 365L * 24 * 3600 * 1000,
      -1L, "__sentinel", 1e9)
    val stream = MemoryStream[Ev]
    val recipe = stream.toDF()
      .where(col("event_type") =!= "error" && col("value") >= lit(1.0))
      .withColumn("ts_t", timestamp_millis(col("ts_ms")))
      .withWatermark("ts_t", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy(window(col("ts_t"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), graft.Tables.mSum(col("value")).as("sum_v"))
      .select(expr("unix_millis(window.start)").as("w_start"),
        col("event_type"), col("n"), col("sum_v"))
    val qn = "i27_out_" + java.util.UUID.randomUUID.toString.replace("-", "")
    val q = recipe.writeStream.outputMode("append")
      .format("memory").queryName(qn)
      .option("checkpointLocation", tmp("i27ck")).start()
    stream.addData(evs.toSeq)
    q.processAllAvailable()
    stream.addData(evs.toSeq) // full re-send: dedup or late-drop, never double-count
    q.processAllAvailable()
    stream.addData(Seq(sentinel))
    q.processAllAvailable()
    q.stop()
    s.table(qn).where(col("event_type") =!= "__sentinel")
      .orderBy("w_start", "event_type")
  }
}
