package graft.streaming

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.streaming.GroupState
import org.apache.spark.sql.types._

import graft.ops.Num._

/** Event with µs-epoch time, the stateful-op wire format. */
case class UserEvent(user_id: Long, ts_us: Long, cents: Long)

/** Open-session state carried across micro-batches. */
case class OpenSession(start_us: Long, last_us: Long, n: Long, cents: Long)

/** A closed session emitted by the stateful sessionizer. */
case class ClosedSession(
    user_id: Long, start_us: Long, end_us: Long, n_events: Long, cents: Long)

/** Running per-user aggregate carried in `ValueState` (q132). */
case class RunningAgg(n: Long, last_us: Long, cents: Long)

/** Per-batch emission of the q132 processor — the user's running totals. */
case class UserRunning(user_id: Long, n_events: Long, last_us: Long, cents: Long)

/** `StatefulProcessor` for q132: fold each batch's events for a user into
  * one named `ValueState` slot and emit the running row. All folds are
  * commutative and associative (count +, max ts, cents +), so the final
  * state is independent of batch order and partitioning.
  */
class RunningAggProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, UserEvent, UserRunning] {
  @transient private var state: org.apache.spark.sql.streaming.ValueState[RunningAgg] = _

  override def init(outputMode: OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    state = getHandle.getValueState[RunningAgg]("agg",
      org.apache.spark.sql.Encoders.product[RunningAgg],
      org.apache.spark.sql.streaming.TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[UserEvent],
      timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[UserRunning] = {
    val prev = if (state.exists()) state.get() else RunningAgg(0L, Long.MinValue, 0L)
    var n = prev.n
    var last = prev.last_us
    var cents = prev.cents
    rows.foreach { e =>
      n += 1
      if (e.ts_us > last) last = e.ts_us
      cents += e.cents
    }
    state.update(RunningAgg(n, last, cents))
    Iterator.single(UserRunning(key, n, last, cents))
  }
}

/** `StatefulProcessor` for q176 — PROCESSING-TIME timers, the last
  * `transformWithState` time mode left unexercised by q132 (TimeMode.None)
  * and q138/q142 (event time): a per-key wall-clock flush, the "emit my
  * state every N seconds even without input" pattern (periodic dashboards,
  * idle-key eviction).
  *
  * Semantics kept deterministic on purpose: the fold is q132's running
  * aggregate, `handleInputRows` emits the running row, and each input batch
  * re-arms ONE timer expiring immediately (`currentProcessingTime`), so the
  * flush fires at the head of the NEXT micro-batch. A timer flush re-emits
  * the key's running row — content is a prefix of the input-driven
  * emission stream (state only changes on input), so the max-struct
  * collapse is invariant to WHEN wall-clock fires timers, and the result
  * equals the batch GROUP BY (q132's oracle) while the timer path is
  * genuinely exercised. Fires are counted in [[PtFlushProcessor.fires]]
  * (one JVM in local mode) so the spec can assert the path actually ran.
  */
class PtFlushProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, UserEvent, UserRunning] {
  @transient private var state: org.apache.spark.sql.streaming.ValueState[RunningAgg] = _

  override def init(outputMode: OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    state = getHandle.getValueState[RunningAgg]("agg",
      org.apache.spark.sql.Encoders.product[RunningAgg],
      org.apache.spark.sql.streaming.TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[UserEvent],
      tv: org.apache.spark.sql.streaming.TimerValues): Iterator[UserRunning] = {
    val prev = if (state.exists()) state.get() else RunningAgg(0L, Long.MinValue, 0L)
    var n = prev.n; var last = prev.last_us; var cents = prev.cents
    var folded = 0L
    rows.foreach { e =>
      n += 1
      folded += 1
      if (e.ts_us > last) last = e.ts_us
      cents += e.cents
    }
    PtFlushProcessor.inputRows.addAndGet(folded)
    state.update(RunningAgg(n, last, cents))
    // one live timer per key: re-arm at "now" so it expires at the next
    // wall-clock timer sweep (processing-time timers fire when expiry <
    // the batch's wall-clock timestamp)
    getHandle.listTimers().foreach(getHandle.deleteTimer)
    getHandle.registerTimer(tv.getCurrentProcessingTimeInMs())
    Iterator.single(UserRunning(key, n, last, cents))
  }

  override def handleExpiredTimer(key: Long,
      tv: org.apache.spark.sql.streaming.TimerValues,
      info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[UserRunning] = {
    PtFlushProcessor.fires.incrementAndGet()
    if (!state.exists()) return Iterator.empty
    val a = state.get()
    Iterator.single(UserRunning(key, a.n, a.last_us, a.cents))
  }
}

object PtFlushProcessor {
  /** Timer-fire count across the JVM — spec instrumentation AND the q176
    * stop condition (valid in local mode, where all state partitions share
    * this classloader).
    */
  val fires = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Input rows folded so far — q176's progress signal (see its run loop). */
  val inputRows = new java.util.concurrent.atomic.AtomicLong(0L)
}

/** Wire row for the timer sessionizer: event time is ALREADY floored to
  * milliseconds at the source, so watermark, timer, and gap arithmetic all
  * live on one exact ms grid (event-time timers are a ms API).
  */
case class TimedEvent(user_id: Long, ts: java.sql.Timestamp, cents: Long)

/** A session closed by the timer sessionizer (ms-grid bounds). */
case class ClosedSessionMs(
    user_id: Long, start_ms: Long, end_ms: Long, n_events: Long, cents: Long)

/** `StatefulProcessor` for q138 — the event-time-timer surface q132 leaves
  * out: gap sessionization where the TRAILING open session is closed by a
  * registered event-time TIMER once the watermark passes `last + gap`
  * (probe-verified semantics: a timer fires when `expiry <= watermark`,
  * including the final no-data micro-batch under AvailableNow).
  *
  * In-batch closes mirror q64's state machine (an event more than `gap`
  * after the session's last event closes it); each input batch re-arms the
  * key's single timer at `last_ms + gap`, so exactly one timer is live per
  * open session. When the timer fires, no in-flight event can extend the
  * session (anything arriving later carries `ts >= watermark >= last +
  * gap`), so the close-out is safe; the one unreachable edge — an event at
  * EXACTLY `last + gap` ms crossing a batch boundary after the timer fired
  * — is asserted absent LOUDLY per run (q138 counts exact-gap
  * boundary-crossing pairs over the staged chunks and throws if any —
  * the q129 unroll-guard discipline, not a testdata comment).
  */
class SessionTimerProcessor(gapMs: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, TimedEvent, ClosedSessionMs] {
  @transient private var open: org.apache.spark.sql.streaming.ValueState[OpenSession] = _

  override def init(outputMode: OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
    open = getHandle.getValueState[OpenSession]("open",
      org.apache.spark.sql.Encoders.product[OpenSession],
      org.apache.spark.sql.streaming.TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[TimedEvent],
      tv: org.apache.spark.sql.streaming.TimerValues): Iterator[ClosedSessionMs] = {
    // OpenSession's *_us slots carry ms here — the source floors to ms
    val evs = rows.map(e => (e.ts.getTime, e.cents)).toIndexedSeq.sorted
    var cur = if (open.exists()) Option(open.get()) else None
    val out = mutable.Buffer[ClosedSessionMs]()
    evs.foreach { case (ms, cents) =>
      cur match {
        case Some(ss) if ms - ss.last_us <= gapMs =>
          cur = Some(ss.copy(last_us = ms, n = ss.n + 1, cents = ss.cents + cents))
        case Some(ss) =>
          out += ClosedSessionMs(key, ss.start_us, ss.last_us, ss.n, ss.cents)
          cur = Some(OpenSession(ms, ms, 1, cents))
        case None =>
          cur = Some(OpenSession(ms, ms, 1, cents))
      }
    }
    cur.foreach { ss =>
      open.update(ss)
      getHandle.listTimers().foreach(getHandle.deleteTimer) // re-arm: one live timer
      getHandle.registerTimer(ss.last_us + gapMs)
    }
    out.iterator
  }

  override def handleExpiredTimer(key: Long,
      tv: org.apache.spark.sql.streaming.TimerValues,
      info: org.apache.spark.sql.streaming.ExpiredTimerInfo): Iterator[ClosedSessionMs] = {
    if (!open.exists()) return Iterator.empty
    val ss = open.get()
    // re-arming deletes stale timers, so a firing timer always matches the
    // open session; the guard is defensive (a stale fire must never close
    // a session the watermark has not actually passed)
    if (info.getExpiryTimeInMs != ss.last_us + gapMs) return Iterator.empty
    open.clear()
    Iterator.single(ClosedSessionMs(key, ss.start_us, ss.last_us, ss.n, ss.cents))
  }
}

/** Wire row for the typed-state processor (q142). */
case class TypedEvent(
    event_id: Long, user_id: Long, event_type: String,
    ts: java.sql.Timestamp, cents: Long)

/** Per-batch emission of the q142 processor. */
case class StateSummary(
    user_id: Long, n_events: Long, type_counts: String, recent_ids: String)

/** `StatefulProcessor` for q142 — the two typed state primitives the
  * ValueState queries (q132/q138) leave untouched:
  *   * `MapState[String, Long]` — per-event-type running counts (keyed
  *     sub-state: point lookups/updates per input row, never a
  *     read-modify-write of one whole blob — the primitive that keeps
  *     wide per-key state incremental in RocksDB);
  *   * `ListState[Long]` — the rolling last-3 event-id buffer (ordered
  *     sub-state, trimmed on append — bounded whatever the stream length).
  * Batch rows are folded in (ts, event_id) order; with the time-range
  * replay that makes the buffer's content globally deterministic, so both
  * emissions are DuckDB-predictable.
  */
class TypedStateProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[Long, TypedEvent, StateSummary] {
  @transient private var counts: org.apache.spark.sql.streaming.MapState[String, Long] = _
  @transient private var recent: org.apache.spark.sql.streaming.ListState[Long] = _

  override def init(outputMode: OutputMode,
      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
    val ttl = org.apache.spark.sql.streaming.TTLConfig.NONE
    counts = getHandle.getMapState[String, Long]("counts",
      org.apache.spark.sql.Encoders.STRING,
      org.apache.spark.sql.Encoders.scalaLong, ttl)
    recent = getHandle.getListState[Long]("recent",
      org.apache.spark.sql.Encoders.scalaLong, ttl)
  }

  override def handleInputRows(key: Long, rows: Iterator[TypedEvent],
      tv: org.apache.spark.sql.streaming.TimerValues): Iterator[StateSummary] = {
    val evs = rows.toIndexedSeq.sortBy(e => (e.ts.getTime, e.event_id))
    evs.foreach { e =>
      val c = if (counts.containsKey(e.event_type)) counts.getValue(e.event_type) else 0L
      counts.updateValue(e.event_type, c + 1)
    }
    val prev = if (recent.exists()) recent.get().toSeq else Seq.empty
    val buf = (prev ++ evs.map(_.event_id)).takeRight(3)
    recent.put(buf.toArray)
    val pairs = counts.iterator().toSeq.sortBy(_._1)
    Iterator.single(StateSummary(key,
      pairs.map(_._2).sum,
      pairs.map { case (t, c) => s"$t=$c" }.mkString("|"),
      buf.mkString(",")))
  }
}

/** Structured Streaming over the `events` table (SURVEY.md §2.7: the
  * reference is pure batch; this is the streaming surface the new engine
  * adds). The same parquet drives a file-source stream; windowed
  * aggregation runs with `Trigger.AvailableNow` to a memory sink, so the
  * streaming plan is exercised end-to-end and its result is comparable to
  * the batch oracle (`q60`-style SQL).
  */
object EventStream {

  /** File-source stream of events with µs TIMESTAMP `ts`.
    *
    * The streaming file source needs an explicit schema, and the unit of
    * `ts` on disk has drifted across testdata generations (TIMESTAMP(NANOS)
    * → raw nanos `long` under `nanosAsLong=true`; TIMESTAMP(MICROS) → a
    * real timestamp). Hard-coding either unit silently corrupts the other
    * (µs read as ns lands every event in Jan 1970), so the schema is taken
    * from the parquet footer via a one-off batch read and the ts branch
    * mirrors [[graft.Tables.events]].
    */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    // The streaming file source monitors a DIRECTORY; the testdata table is
    // a single read-only file, so stage a dir with a symlink to it — one
    // staged dir per source table per JVM (TempDirs), not per call.
    // A Spark-WRITTEN table (e.g. the GenScale sf1 soak data) is itself a
    // DIRECTORY of part files; the file-stream source does not recurse
    // into nested directories, so a dir-shaped table is FLATTENED — one
    // symlink per contained parquet part (silently reading 0 rows was the
    // round-13 soak failure mode for the symlink-the-dir form).
    val staged = graft.TempDirs.staged(s"events_stream:$dir") { p =>
      val src = java.nio.file.Paths.get(s"$dir/events.parquet")
      if (java.nio.file.Files.isDirectory(src)) {
        val listing = java.nio.file.Files.list(src)
        try listing.forEach { f =>
          if (f.getFileName.toString.endsWith(".parquet"))
            java.nio.file.Files.createSymbolicLink(p.resolve(f.getFileName), f)
        } finally listing.close()
      } else {
        java.nio.file.Files.createSymbolicLink(p.resolve("events.parquet"), src)
      }
    }
    val rawSchema = spark.read.parquet(s"$dir/events.parquet").schema
    val raw = spark.readStream
      .schema(rawSchema)
      .parquet(staged.toString)
    // TimestampType (not NTZ): watermarks require an event-time zone;
    // sessions pin UTC, so wall values match the NTZ batch path.
    rawSchema("ts").dataType match {
      case LongType => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _        => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** Tumbling 1-hour windowed aggregation with a 2-hour watermark — the
    * canonical streaming shape (watermark + window + agg). The watermark
    * only gates state eviction in append mode; under complete mode it is
    * carried but not dropping, which keeps this twin comparable to batch.
    */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))

  /** Run the streaming plan to completion on the static parquet and return
    * the materialized result — the batch-equivalence bridge used by the
    * driver contract (`q63_stream_hourly`).
    */
  def q63StreamHourly(s: SparkSession, dir: String): DataFrame = {
    val name = s"stream_hourly_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = hourlyAgg(eventsStream(s, dir))
      .select(col("window.start").cast("timestamp_ntz").as("hour_start"),
        col("event_type"), col("n"), col("total_value"))
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.table(name).orderBy("hour_start", "event_type")
  }

  val q63Sql: String =
    s"""SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start, event_type,
       |  COUNT(*) AS n, ${sqlDsum("value")} AS total_value
       |FROM events
       |GROUP BY 1, 2
       |ORDER BY hour_start, event_type""".stripMargin

  /** Gap-based sessionization as a custom stateful streaming operator
    * (`flatMapGroupsWithState` — SURVEY.md's M4 custom-state surface).
    * Within each invocation the group's new events are sorted and merged
    * into the open-session state; sessions closed by a gap are emitted,
    * the trailing open session stays in state across micro-batches.
    * Money accumulates in integer cents, so results are engine-exact.
    */
  def sessionize(events: Dataset[UserEvent], gapUs: Long): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[UserEvent], state: GroupState[OpenSession]) =>
          val evs = it.toIndexedSeq.sortBy(_.ts_us)
          var cur = state.getOption
          val out = mutable.Buffer[ClosedSession]()
          evs.foreach { e =>
            cur match {
              case Some(s) if e.ts_us - s.last_us <= gapUs =>
                cur = Some(s.copy(last_us = e.ts_us, n = s.n + 1, cents = s.cents + e.cents))
              case Some(s) =>
                out += ClosedSession(uid, s.start_us, s.last_us, s.n, s.cents)
                cur = Some(OpenSession(e.ts_us, e.ts_us, 1, e.cents))
              case None =>
                cur = Some(OpenSession(e.ts_us, e.ts_us, 1, e.cents))
            }
          }
          cur.foreach(state.update)
          out.iterator
      }
  }

  /** Events stream → µs/cents wire rows. */
  def userEvents(events: DataFrame): Dataset[UserEvent] = {
    import events.sparkSession.implicits._
    events.select(
      col("user_id"),
      expr("unix_micros(ts)").as("ts_us"),
      expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .as[UserEvent]
  }

  /** Driver-contract runner: sessionize the events stream; emitted rows are
    * every session CLOSED by a later event (each user's trailing open
    * session stays in state — mirrored in the oracle by dropping each
    * user's last session).
    */
  def q64StreamSessions(s: SparkSession, dir: String): DataFrame = {
    val name = s"stream_sessions_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val events = eventsStream(s, dir)
    val q = sessionize(userEvents(events), gapUs = 30L * 60 * 1000000)
      .toDF()
      .select(col("user_id"),
        expr("timestamp_micros(start_us)").cast("timestamp_ntz").as("session_start"),
        expr("timestamp_micros(end_us)").cast("timestamp_ntz").as("session_end"),
        col("n_events"),
        (col("cents") / 100.0).as("total_value"))
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.table(name).orderBy("user_id", "session_start")
  }

  val q64Sql: String =
    """WITH sess AS (
      |  SELECT user_id, session_id, COUNT(*) AS n_events,
      |    MIN(ts) AS session_start, MAX(ts) AS session_end,
      |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value
      |  FROM (
      |    SELECT user_id, value, ts,
      |      CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |    FROM (
      |      SELECT user_id, event_id, value, CAST(ts AS TIMESTAMP) AS ts,
      |        CASE WHEN lag(CAST(ts AS TIMESTAMP), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |             OR CAST(ts AS TIMESTAMP) - lag(CAST(ts AS TIMESTAMP), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |                > INTERVAL 30 MINUTE
      |             THEN 1 ELSE 0 END AS new_session
      |      FROM events) flagged) numbered
      |  GROUP BY user_id, session_id)
      |SELECT user_id, session_start, session_end, n_events, total_value
      |FROM (SELECT *, MAX(session_id) OVER (PARTITION BY user_id) AS max_sid FROM sess) s
      |WHERE session_id < max_sid
      |ORDER BY user_id, session_start""".stripMargin

  /** Gap-based sessionization via the BUILT-IN `session_window` operator —
    * the native twin of [[sessionize]]'s custom state machine. Engine
    * semantics differ from q64 in two documented ways: the window end is
    * `last event + gap` (not the last event itself), and every session is
    * emitted (complete mode — no open trailing session is withheld).
    * Merge boundary: a new event extends a session iff it starts STRICTLY
    * before current_end + gap, so the oracle flags a new session at
    * `diff >= gap` (q64's custom operator merges on `<=`).
    */
  def q72StreamSessionWindow(s: SparkSession, dir: String): DataFrame = {
    val name = s"stream_session_window_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = eventsStream(s, dir)
      .select(col("user_id"), col("ts"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .withWatermark("ts", "2 hours")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("cents"))
      .select(col("user_id"),
        col("session_window.start").cast("timestamp_ntz").as("session_start"),
        col("session_window.end").cast("timestamp_ntz").as("session_end"),
        col("n_events"),
        (col("cents") / 100.0).as("total_value"))
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.table(name).orderBy("user_id", "session_start")
  }

  val q72Sql: String =
    """WITH sess AS (
      |  SELECT user_id, session_id, COUNT(*) AS n_events,
      |    MIN(ts) AS session_start, MAX(ts) AS session_end,
      |    CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value
      |  FROM (
      |    SELECT user_id, value, ts,
      |      CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |    FROM (
      |      SELECT user_id, event_id, value, CAST(ts AS TIMESTAMP) AS ts,
      |        CASE WHEN lag(CAST(ts AS TIMESTAMP), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |             OR CAST(ts AS TIMESTAMP) - lag(CAST(ts AS TIMESTAMP), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |                >= INTERVAL 30 MINUTE
      |             THEN 1 ELSE 0 END AS new_session
      |      FROM events) flagged) numbered
      |  GROUP BY user_id, session_id)
      |SELECT user_id, session_start,
      |  session_end + INTERVAL 30 MINUTE AS session_end, n_events, total_value
      |FROM sess
      |ORDER BY user_id, session_start""".stripMargin

  /** Stream-stream interval join — the two-sided stateful surface: each
    * click joins purchases by the same user within the following 30
    * minutes. Both sides carry watermarks and the join condition bounds
    * event-time distance, which is what lets the engine evict join state;
    * under AvailableNow the result equals the batch interval join, so the
    * oracle is the plain SQL self-join.
    */
  def q75StreamStreamJoin(s: SparkSession, dir: String): DataFrame = {
    val name = s"stream_ss_join_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val clicks = eventsStream(s, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
      .withWatermark("click_ts", "2 hours")
    val purchases = eventsStream(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
      .withWatermark("purchase_ts", "2 hours")
    val q = clicks.join(purchases,
        col("user_id") === col("p_user")
          && col("purchase_ts") >= col("click_ts")
          && col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        col("click_ts").cast("timestamp_ntz").as("click_ts"),
        col("purchase_ts").cast("timestamp_ntz").as("purchase_ts"),
        col("value"))
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.table(name).orderBy("user_id", "click_id", "purchase_id")
  }

  val q75Sql: String =
    """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
      |  CAST(c.ts AS TIMESTAMP) AS click_ts,
      |  CAST(p.ts AS TIMESTAMP) AS purchase_ts,
      |  p.value
      |FROM events c
      |JOIN events p ON c.user_id = p.user_id
      |  AND c.event_type = 'click' AND p.event_type = 'purchase'
      |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
      |ORDER BY c.user_id, click_id, purchase_id""".stripMargin

  /** Stream-STATIC join — the remaining streaming join class (q75 covers
    * stream-stream): a re-delivered document feed is checked against the
    * STATIC content-fingerprint index of the already-ingested corpus
    * (doc_id % 10 < 8, the q83 split). Docs the index already holds are
    * flagged `already_ingested` — idempotent re-ingestion, the streaming
    * twin of q83's exact path. The static side is re-read per micro-batch
    * by the engine (no watermark/state needed: the join is stateless on
    * the stream side), and at scale the fingerprint index is a broadcast
    * or bucketed dimension — never stream state.
    */
  private val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  def q86StreamIngestDedup(s: SparkSession, dir: String): DataFrame = {
    val staged = graft.TempDirs.staged(s"documents_stream:$dir") { p =>
      java.nio.file.Files.createSymbolicLink(
        p.resolve("documents.parquet"),
        java.nio.file.Paths.get(s"$dir/documents.parquet"))
    }
    val feed = s.readStream
      .schema(docSchema)
      .parquet(staged.toString)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
    val index = graft.Tables.t(s, dir, "documents")
      .filter(col("doc_id") % 10 < 8)
      .select(md5(col("text").cast("binary")).as("fp")).distinct()
      .withColumn("indexed", lit(1))
    val name = s"stream_ingest_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = feed.join(index, Seq("fp"), "left_outer")
      .select(col("doc_id"), col("indexed").isNotNull.as("already_ingested"))
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.table(name).orderBy("doc_id")
  }

  val q86Sql: String =
    """SELECT d.doc_id, (i.fp IS NOT NULL) AS already_ingested
      |FROM (SELECT doc_id, md5(text) AS fp FROM documents) d
      |LEFT JOIN (SELECT DISTINCT md5(text) AS fp FROM documents
      |           WHERE doc_id % 10 < 8) i ON d.fp = i.fp
      |ORDER BY d.doc_id""".stripMargin

  /** Streaming deduplication — the stateful dedup surface (q86 is the
    * stream-STATIC exact check; this is engine-managed dedup state): at
    * most one event per (user, hour) survives re-delivery.
    * `dropDuplicatesWithinWatermark` keeps each seen key in state until
    * the watermark passes `event time + delay`, so duplicates arriving
    * within the delay are dropped and state is evicted afterwards —
    * bounded state at 100 TB stream scale, which plain `dropDuplicates`
    * (unbounded key state) does not give. Only the key columns are
    * emitted, so the output is exactly the distinct key set and the
    * oracle is a batch SELECT DISTINCT.
    */
  def q109StreamDropDup(s: SparkSession, dir: String): DataFrame = {
    val name = s"stream_dropdup_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = eventsStream(s, dir)
      .withColumn("hour", date_trunc("hour", col("ts")))
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("user_id", "hour")
      .select(col("user_id"), col("hour").cast("timestamp_ntz").as("hour"))
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.table(name).orderBy("user_id", "hour")
  }

  val q109Sql: String =
    """SELECT DISTINCT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour
      |FROM events
      |ORDER BY user_id, hour""".stripMargin

  /** q119: incremental CDC materialization via foreachBatch — the sink-side
    * complement of q117's batch changelog apply. The changelog streams in
    * as 4 micro-batches (maxFilesPerTrigger=1 over a 4-file staging copy,
    * hash-split by user so batches are deliberately NOT time-ordered);
    * each batch folds into a VERSIONED parquet state table:
    *
    *   batch   → per-key (max(struct(ts, event_id, event_type)), count)
    *   state'  = groupBy key of (state ∪ batch): max(last), sum(n_changes)
    *
    * max-of-struct latest-wins is associative, commutative, and
    * idempotent-per-version — batch ORDER cannot change the fixpoint
    * (which is what makes out-of-order re-delivery safe), and writing
    * state version v{batchId} with overwrite makes replay after failure
    * land on identical state (the exactly-once recipe table formats use).
    * The final state filtered of tombstones equals q117's batch apply, so
    * the oracle is the SAME SQL — streaming/batch parity, proven by hash.
    *
    * Scale shape: per batch, one shuffle on the key for the batch agg and
    * one keyed merge join with current state; at 100 TB both sides bucket
    * by key so the merge is shuffle-free, and state versions are
    * table-format snapshots.
    */
  def q119StreamCdcUpsert(s: SparkSession, dir: String): DataFrame = {
    val staged = graft.TempDirs.staged(s"events_cdc:$dir") { p =>
      graft.Tables.events(s, dir)
        .repartition(4, col("user_id"))
        .write.mode("overwrite").parquet(p.toString)
    }
    val stateRoot = graft.TempDirs.staged(s"cdc_state:$dir")()
    val feedSchema = StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", TimestampNTZType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType)))
    val feed = s.readStream
      .schema(feedSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staged.toString)
    // REPLAY-SAFE merge input: batch id → its predecessor's state path,
    // derived from the id alone (prev = v{id-1}, nothing for id 0) — never
    // a mutable latest-version pointer. A foreachBatch RETRY of batch id
    // therefore always folds v{id-1} ∪ batch and overwrites v{id}: it can
    // neither double-merge into state it already produced nor read the
    // path it is about to overwrite, whatever the pointer said when the
    // first attempt died. `maxSeen` is only the FINAL-read cursor (which
    // version to surface after termination), never a merge input.
    var maxSeen: Long = -1L
    val fold: (DataFrame, Long) => Unit = { (batch, id) =>
      val latest = batch.groupBy("user_id").agg(
        max(struct(col("ts"), col("event_id"), col("event_type"))).as("last"),
        count(lit(1)).as("n_changes"))
      val merged =
        if (id <= 0) latest
        else s.read.parquet(s"$stateRoot/v${id - 1}").unionByName(latest)
          .groupBy("user_id")
          .agg(max(col("last")).as("last"), sum(col("n_changes")).as("n_changes"))
      merged.write.mode("overwrite").parquet(s"$stateRoot/v$id")
      maxSeen = math.max(maxSeen, id)
    }
    val q = feed.writeStream
      .foreachBatch(fold)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    if (maxSeen < 0) throw new IllegalStateException("CDC stream delivered no batches")
    s.read.parquet(s"$stateRoot/v$maxSeen")
      .filter(col("last.event_type") =!= "error")
      .select(col("user_id"), col("last.ts").as("last_ts"),
        col("last.event_type").as("last_type"), col("n_changes"))
      .orderBy("user_id")
  }

  /** q174: the same CDC changelog as q119, driven through a DataSource V2
    * STREAMING write into a `graft_evolve` table addressed by `path` and
    * `evolveSchema` ([[graft.sources.EvolveSource]]) instead of
    * foreachBatch. Each micro-batch (epoch) commits through the table's
    * own epoch write ([[graft.sources.TableStreamingWrite]]): task files
    * are attempt-staged and published by rename, and the epoch commit
    * appends them to the manifest as one version. A replayed epoch
    * (a failure between sink commit and checkpoint write-ahead) rewrites
    * its own `ev-je<epoch>-` names and publishes nothing new.
    *
    * The round trip is then read back through the manifest scan (only
    * committed epochs are visible) and collapsed with the q117 batch
    * changelog apply, so the oracle is the SAME SQL as q117/q119:
    * streaming write path, commit protocol, serialization and manifest
    * read path all sit on the hash-checked line. Timestamps travel as
    * epoch micros (UTC session), so reconstruction is bit-exact.
    *
    * Scale shape: writer parallelism is the stream's partitioning (no
    * single-node funnel); the per-epoch commit is O(files).
    */
  def q174StreamEpochSink(s: SparkSession, dir: String): DataFrame = {
    val staged = graft.TempDirs.staged(s"events_cdc:$dir") { p =>
      graft.Tables.events(s, dir)
        .repartition(4, col("user_id"))
        .write.mode("overwrite").parquet(p.toString)
    }
    val sinkDir = graft.TempDirs.staged(s"epoch_sink:$dir")()
    val ckpt = graft.TempDirs.staged(s"epoch_sink_ckpt:$dir")()
    q174Stream(s, staged.toString, sinkDir.toString, ckpt.toString)
    if (graft.sources.DigestManifest.listingFor(sinkDir.toString, "_MANIFEST").isEmpty)
      throw new IllegalStateException("epoch sink committed no epochs")
    val back = s.read.format(classOf[graft.sources.EvolveSource].getName)
      .options(q174Sink(sinkDir.toString)).load()
      .select(col("user_id"),
        expr("CAST(timestamp_micros(ts_us) AS TIMESTAMP_NTZ)").as("ts"),
        col("event_id"), col("event_type"))
    graft.ops.Warehouse.cdcCollapse(back)
  }

  /** The options that address q174's sink table at `sinkDir`: its path
    * and its `(event_id, ts_us, user_id, event_type)` schema.
    */
  private[graft] def q174Sink(sinkDir: String): Map[String, String] = {
    val (nextId, fields) = graft.sources.EvolveSchema.fromStruct(StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts_us", LongType),
      StructField("user_id", LongType),
      StructField("event_type", StringType))))
    Map("path" -> sinkDir,
      "evolveSchema" -> graft.sources.EvolveSchema.serialize(nextId, fields))
  }

  /** Streams the staged events at `feedDir` into q174's sink table, one
    * file per epoch, and waits for the drain.
    */
  private[graft] def q174Stream(s: SparkSession, feedDir: String,
      sinkDir: String, ckpt: String): Unit =
    s.readStream
      .schema(StructType(Seq(
        StructField("event_id", LongType),
        StructField("ts", TimestampNTZType),
        StructField("user_id", LongType),
        StructField("event_type", StringType),
        StructField("value", DoubleType),
        StructField("props", StringType))))
      .option("maxFilesPerTrigger", "1")
      .parquet(feedDir)
      .select(col("event_id"),
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("ts_us"),
        col("user_id"), col("event_type"))
      .writeStream
      .format(classOf[graft.sources.EvolveSource].getName)
      .options(q174Sink(sinkDir))
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** q132: the Spark-4 `transformWithState` arbitrary-state surface — the
    * successor API to q64's `flatMapGroupsWithState` (explicit
    * `StatefulProcessor` lifecycle, named typed state slots, RocksDB
    * state store required). A per-user running aggregate (count / last
    * event time / cents total) carries a `ValueState` across 4 round-robin
    * micro-batches — busy users appear in EVERY batch, so the state is
    * genuinely exercised across invocations, and each batch emits the
    * user's running row. The folds are commutative/associative (+, max),
    * so the fixpoint is batch-order independent; the final per-user row is
    * the max-(n, …) struct of the emissions, and the oracle is the plain
    * batch GROUP BY — streaming/batch parity, the q119 discipline.
    *
    * Scale shape: one shuffle on the grouping key per micro-batch; state
    * lives in per-partition RocksDB instances (spillable, incrementally
    * checkpointed — the 100 TB state backend, vs the in-memory HDFS-backed
    * map). The provider conf is set for this query and restored after.
    */
  def q132TransformWithState(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val name = s"stream_tws_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val staged = graft.TempDirs.staged(s"events_tws:$dir") { p =>
      graft.Tables.events(s, dir)
        .repartition(4) // round-robin: busy users span all 4 micro-batches
        .write.mode("overwrite").parquet(p.toString)
    }
    val feed = s.readStream
      .schema(StructType(Seq(
        StructField("event_id", LongType),
        StructField("ts", TimestampNTZType),
        StructField("user_id", LongType),
        StructField("event_type", StringType),
        StructField("value", DoubleType),
        StructField("props", StringType))))
      .option("maxFilesPerTrigger", "1")
      .parquet(staged.toString)
      .select(col("user_id"),
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("ts_us"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .as[UserEvent]
    withRocksDBProvider(s) {
      val q = feed
        .groupByKey(_.user_id)
        .transformWithState(new RunningAggProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append)
        .toDF()
        .writeStream
        .outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // running emissions are monotone in n per user — the max struct IS the
    // final state
    s.table(name)
      .groupBy("user_id")
      .agg(max(struct(col("n_events"), col("last_us"), col("cents"))).as("f"))
      .select(col("user_id"), col("f.n_events").as("n_events"),
        expr("timestamp_micros(f.last_us)").cast("timestamp_ntz").as("last_ts"),
        col("f.cents").as("cents"))
      .orderBy("user_id")
  }

  /** q176: `transformWithState` under `TimeMode.ProcessingTime()` — see
    * [[PtFlushProcessor]]. Same staging and collapse as q132 (round-robin
    * 4-chunk replay, max-struct per user), so the oracle is q132's batch
    * GROUP BY; what changes is the time mode and the wall-clock timer
    * flushes riding alongside the input-driven emissions.
    *
    * Run protocol: a processing-time stateful operator reports
    * "should run another batch" UNCONDITIONALLY (a timer may expire at any
    * wall-clock instant), so `Trigger.AvailableNow` never terminates — it
    * spins empty timer-sweep batches forever (observed, not theorized: the
    * first cut of this query hung exactly there). A wall-clock stream is
    * stopped, not drained: run with a real ProcessingTime trigger and
    * `stop()` once at least one timer has fired AND every input row's
    * batch has COMMITTED — gated on `recentProgress` (progress is
    * reported only for committed batches), because stopping between a
    * batch's tasks and its commit would drop the final emissions, and
    * the processor's own fold counters flip mid-task, before commit. A
    * two-minute deadline turns "never happened" into a loud failure
    * instead of a silent hang.
    */
  def q176PtTimerFlush(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val name = s"stream_pt_timer_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val staged = graft.TempDirs.staged(s"events_tws:$dir") { p =>
      graft.Tables.events(s, dir)
        .repartition(4)
        .write.mode("overwrite").parquet(p.toString)
    }
    val totalRows = s.read.parquet(staged.toString).count()
    val feed = s.readStream
      .schema(s.read.parquet(staged.toString).schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staged.toString)
      .select(col("user_id"),
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("ts_us"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .as[UserEvent]
    PtFlushProcessor.fires.set(0L)
    PtFlushProcessor.inputRows.set(0L)
    withRocksDBProvider(s) {
      val q = feed
        .groupByKey(_.user_id)
        .transformWithState(new PtFlushProcessor,
          org.apache.spark.sql.streaming.TimeMode.ProcessingTime(), OutputMode.Append)
        .toDF()
        .writeStream
        .outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(Trigger.ProcessingTime("100 milliseconds"))
        .start()
      try {
        val deadline = System.currentTimeMillis() + 120000L
        // COMMIT-level stop gate: StreamingQueryProgress is reported only
        // for committed batches, so "cumulative committed numInputRows ==
        // totalRows" proves the last input-carrying batch's sink commit
        // landed — unlike sink count-stability polling, which a slow
        // RocksDB commit (>~600ms between equal counts) could misread as
        // "final batch done" and drop the tail emissions. recentProgress
        // is a bounded ring, so fold entries into a batchId-keyed map as
        // we poll; no-data progress reuses the last batchId with 0 rows,
        // hence the max-merge.
        val committed = scala.collection.mutable.Map.empty[Long, Long]
        def committedRows(): Long = {
          q.recentProgress.foreach { p =>
            committed(p.batchId) =
              math.max(committed.getOrElse(p.batchId, 0L), p.numInputRows)
          }
          committed.values.sum
        }
        def ready: Boolean =
          committedRows() >= totalRows && PtFlushProcessor.fires.get() > 0L
        while (!ready && System.currentTimeMillis() < deadline) Thread.sleep(100L)
        if (!ready) throw new IllegalStateException(
          s"q176: stream did not commit all $totalRows rows + fire a timer " +
            s"within deadline (committed=${committedRows()}, " +
            s"folded=${PtFlushProcessor.inputRows.get()}, " +
            s"fires=${PtFlushProcessor.fires.get()})")
      } finally {
        q.stop()
        q.awaitTermination()
      }
    }
    s.table(name)
      .groupBy("user_id")
      .agg(max(struct(col("n_events"), col("last_us"), col("cents"))).as("f"))
      .select(col("user_id"), col("f.n_events").as("n_events"),
        expr("timestamp_micros(f.last_us)").cast("timestamp_ntz").as("last_ts"),
        col("f.cents").as("cents"))
      .orderBy("user_id")
  }

  /** Runs `f` with the RocksDB state-store provider set on the session
    * conf and RESTORES the previous provider afterwards —
    * `transformWithState` requires RocksDB (multiple column families),
    * and a query function must not leave process-visible conf changes
    * behind. Shared by q132/q138/q142 and the StreamingSpec restarts.
    */
  private[graft] def withRocksDBProvider[T](s: SparkSession)(f: => T): T =
    graft.Tables.withConf(s, "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")(f)

  /** TIME-ORDERED 4-batch replay of the events table, shared by the
    * event-time stateful queries (q138, q142): event time floored to the
    * ms grid at the source, `repartitionByRange(4, ts)` range files
    * renamed chunk_0..3 with strictly increasing mtimes so the file
    * source replays them oldest-first, one per trigger. Range files are
    * strictly ordered on ts (equal keys land in one partition), so batch
    * i+1 never carries an event below batch i's max — nothing is
    * watermark-late, and cross-batch arrival order is (ts, file order).
    */
  private def rangedReplayDir(s: SparkSession, dir: String): java.nio.file.Path =
    graft.TempDirs.staged(s"events_ranged:$dir") { p =>
      graft.Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          expr("timestamp_millis(unix_micros(CAST(ts AS TIMESTAMP)) div 1000)").as("ts"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        .repartitionByRange(4, col("ts"))
        .write.mode("overwrite").parquet(p.resolve("build").toString)
      val dataFiles = new mutable.ArrayBuffer[java.nio.file.Path]()
      val listing = java.nio.file.Files.list(p.resolve("build"))
      try listing.forEach(f =>
        if (f.getFileName.toString.startsWith("part-")) dataFiles += f)
      finally listing.close() // Files.list holds an open DirectoryStream
      dataFiles.sortBy(_.getFileName.toString).zipWithIndex.foreach { case (f, i) =>
        val target = p.resolve(s"chunk_$i.parquet")
        java.nio.file.Files.move(f, target)
        java.nio.file.Files.setLastModifiedTime(target,
          java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 2000L))
      }
    }

  /** q138: `transformWithState` with EVENT-TIME TIMERS — the half of the
    * Spark-4 arbitrary-state API q132 (TimeMode.None) does not exercise.
    * Gap sessionization (q64's semantics on a ms grid) over 4 TIME-RANGE
    * micro-batches: sessions closed by a later event are emitted from
    * `handleInputRows`; each user's trailing session is closed by its
    * registered event-time timer once the watermark passes `last + gap` —
    * including the final no-data batch, so at termination the emitted set
    * is EXACTLY the sessions with `end_ms + gap <= final watermark` (a
    * session closed by an event satisfies this automatically: its closer
    * arrived later than `end + gap` and the final watermark is the global
    * max). With a 0-second watermark delay the final watermark is the max
    * event time, which makes the emission rule a pure batch predicate —
    * the oracle below.
    *
    * Staging: the replay must be TIME-ORDERED across micro-batches (an
    * event-time state machine fed round-robin batches would see its own
    * past) — `repartitionByRange(4, ts)` writes four range files, renamed
    * chunk_0..3 with strictly increasing mtimes so the file source replays
    * them oldest-first, one per trigger. Late-drop safety: range files are
    * strictly ordered on the µs grid, so batch i+1 never carries an event
    * below batch i's max (= the watermark), and nothing is dropped.
    *
    * Scale shape: one shuffle per micro-batch on user_id; per-key state is
    * one OpenSession row + one timer in RocksDB (bounded by |active
    * users|, evicted at session close — the watermark-driven state bound
    * that makes indefinite streams safe).
    */
  def q138SessionTimers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val gapMs = 30L * 60 * 1000
    val name = s"stream_timer_sessions_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val staged = rangedReplayDir(s, dir)
    // Exact-gap boundary guard: a same-user pair spaced EXACTLY gapMs that
    // straddles a micro-batch boundary is the one edge where the timer
    // close and the in-batch extend rule could disagree (the timer fires
    // iff the boundary watermark equals last+gap). Assert the property
    // loudly instead of trusting a dataset comment — the q129 discipline.
    val wg = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ms")
    val exactGapPairs = s.read
      .schema(StructType(Seq(
        StructField("user_id", LongType),
        StructField("ts", TimestampType),
        StructField("cents", LongType))))
      .parquet(s"$staged/chunk_*.parquet")
      .select(col("user_id"), expr("unix_millis(ts)").as("ms"),
        input_file_name().as("file"))
      .withColumn("prev_ms", lag("ms", 1).over(wg))
      .withColumn("prev_file", lag("file", 1).over(wg))
      .filter(col("ms") - col("prev_ms") === gapMs
        && col("file") =!= col("prev_file"))
      .count()
    require(exactGapPairs == 0L,
      s"q138: $exactGapPairs exact-gap ($gapMs ms) pair(s) cross a " +
        "micro-batch boundary — timer close vs in-batch extend is " +
        "edge-ambiguous there; re-split the replay before trusting the oracle")
    val feed = s.readStream
      .schema(StructType(Seq(
        StructField("user_id", LongType),
        StructField("ts", TimestampType),
        StructField("cents", LongType))))
      .option("maxFilesPerTrigger", "1")
      .parquet(staged.toString)
      .withWatermark("ts", "0 seconds")
      .as[TimedEvent]
    withRocksDBProvider(s) {
      val q = feed
        .groupByKey(_.user_id)
        .transformWithState(new SessionTimerProcessor(gapMs),
          org.apache.spark.sql.streaming.TimeMode.EventTime(), OutputMode.Append)
        .toDF()
        .select(col("user_id"),
          expr("timestamp_millis(start_ms)").cast("timestamp_ntz").as("session_start"),
          expr("timestamp_millis(end_ms)").cast("timestamp_ntz").as("session_end"),
          col("n_events"), col("cents"))
        .writeStream
        .outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    s.table(name).orderBy("user_id", "session_start")
  }

  /** Emission rule as a batch predicate: every ms-grid session whose
    * close-out time has passed the final watermark (= the global max event
    * ms, 0-second delay). Timer fire semantics are `expiry <= watermark`
    * (probe-verified), hence the `<=`.
    */
  val q138Sql: String =
    """WITH e AS (
      |  SELECT user_id,
      |    CAST(FLOOR(epoch_us(CAST(ts AS TIMESTAMP)) / 1000) AS BIGINT) AS ms,
      |    CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |flagged AS (
      |  SELECT user_id, ms, cents,
      |    CASE WHEN lag(ms) OVER (PARTITION BY user_id ORDER BY ms) IS NULL
      |      OR ms - lag(ms) OVER (PARTITION BY user_id ORDER BY ms) > 1800000
      |      THEN 1 ELSE 0 END AS new_session
      |  FROM e),
      |numbered AS (
      |  SELECT user_id, ms, cents,
      |    CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ms
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
      |  FROM flagged),
      |sess AS (
      |  SELECT user_id, sid, COUNT(*) AS n_events,
      |    MIN(ms) AS start_ms, MAX(ms) AS end_ms,
      |    CAST(SUM(cents) AS BIGINT) AS cents
      |  FROM numbered GROUP BY user_id, sid)
      |SELECT user_id,
      |  epoch_ms(start_ms) AS session_start,
      |  epoch_ms(end_ms) AS session_end,
      |  n_events, cents
      |FROM sess
      |WHERE end_ms + 1800000 <= (SELECT MAX(ms) FROM e)
      |ORDER BY user_id, session_start""".stripMargin

  val q132Sql: String =
    """SELECT user_id, COUNT(*) AS n_events,
      |  MAX(CAST(ts AS TIMESTAMP)) AS last_ts,
      |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** q142: `MapState` + `ListState` on `transformWithState` — the typed
    * state primitives q132 (ValueState) and q138 (timers) leave
    * uncovered. A per-user profile carried across the 4 time-range
    * micro-batches: running per-event-type counts in MapState, the
    * rolling last-3 event-id buffer in ListState. Each batch emits the
    * user's running summary; the final row per user is the max-n_events
    * struct (n is strictly monotone per emitting user — the q132
    * discipline), and every field is batch-predictable: counts are a
    * plain GROUP BY, and the time-ordered replay makes "last 3 by
    * arrival" ≡ "last 3 by (ts, event_id)" — the oracle. Scale shape:
    * one shuffle per micro-batch on user_id; state per user is |types|
    * map entries + a 3-element list in RocksDB, evicted nowhere (profile
    * state), incremental per row — never a whole-blob rewrite.
    */
  def q142StatePrimitives(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val name = s"stream_typed_state_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val staged = rangedReplayDir(s, dir)
    val feed = s.readStream
      .schema(StructType(Seq(
        StructField("event_id", LongType),
        StructField("user_id", LongType),
        StructField("event_type", StringType),
        StructField("ts", TimestampType),
        StructField("cents", LongType))))
      .option("maxFilesPerTrigger", "1")
      .parquet(staged.toString)
      .as[TypedEvent]
    withRocksDBProvider(s) {
      val q = feed
        .groupByKey(_.user_id)
        .transformWithState(new TypedStateProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append)
        .toDF()
        .writeStream
        .outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    s.table(name)
      .groupBy("user_id")
      .agg(max(struct(col("n_events"), col("type_counts"), col("recent_ids"))).as("f"))
      .select(col("user_id"), col("f.n_events").as("n_events"),
        col("f.type_counts").as("type_counts"), col("f.recent_ids").as("recent_ids"))
      .orderBy("user_id")
  }

  val q142Sql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type,
      |    CAST(FLOOR(epoch_us(CAST(ts AS TIMESTAMP)) / 1000) AS BIGINT) AS ms
      |  FROM events),
      |counts AS (
      |  SELECT user_id, event_type, COUNT(*) AS c FROM e GROUP BY 1, 2),
      |tc AS (
      |  SELECT user_id, CAST(SUM(c) AS BIGINT) AS n_events,
      |    string_agg(event_type || '=' || c, '|' ORDER BY event_type) AS type_counts
      |  FROM counts GROUP BY user_id),
      |ranked AS (
      |  SELECT user_id, event_id,
      |    row_number() OVER (PARTITION BY user_id ORDER BY ms DESC, event_id DESC) AS rk
      |  FROM e),
      |rec AS (
      |  SELECT user_id,
      |    string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY rk DESC) AS recent_ids
      |  FROM ranked WHERE rk <= 3 GROUP BY user_id)
      |SELECT user_id, n_events, type_counts, recent_ids
      |FROM tc JOIN rec USING (user_id)
      |ORDER BY user_id""".stripMargin

  // ---- q155: count-min sketch INSIDE streaming state ----------------------
  // The q151 custom sketch aggregate composed with the streaming engine:
  // an hourly windowed aggregation whose per-window state is a
  // CountMinAgg buffer — each micro-batch's partial sketch merges into
  // the state-store copy through the aggregate's own merge() (elementwise
  // add), exactly the mergeable-summary contract the streaming state
  // machinery needs. After the run completes, the audit keys' estimates
  // are served off the MATERIALIZED (window, sketch) table with
  // driver-precomputed bucket indices (the q151 serve shape, gaining a
  // window dimension). Oracle: rebuild every per-hour sketch from
  // scratch in SQL (GROUP BY window × row × bucket) and read the same
  // minima — deterministic because the sketch is order- and
  // partitioning-invariant. Scale shape: per-window state is a FIXED
  // d·w·8 bytes regardless of key cardinality — the sketch bounds
  // streaming state where an exact per-key count table would grow with
  // the key space (the q109 dropDuplicates concern, solved by sketching).
  def q155StreamSketch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val name = s"stream_sketch_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val keyed = eventsStream(s, dir).select(col("ts"),
      when(col("event_type") === "error", concat(lit("u"), col("user_id")))
        .otherwise(concat(lit("e"), col("event_id"))).as("key"))
    val q = keyed
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(graft.functions.CountMinAgg
        .count_min(col("key"), graft.ops.Analytics.cmD, graft.ops.Analytics.cmW)
        .as("sk"))
      .select(col("window.start").cast("timestamp_ntz").as("hour_start"), col("sk"))
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val qdf = graft.ops.Analytics.cmAuditKeys.map { k =>
      val idx = graft.ops.Analytics.cmIndices(k)
      (k, idx(0), idx(1), idx(2), idx(3))
    }.toDF("key", "i0", "i1", "i2", "i3")
    s.table(name)
      .crossJoin(broadcast(qdf))
      .select(col("hour_start"), col("key"),
        least(
          element_at(col("sk"), col("i0")), element_at(col("sk"), col("i1")),
          element_at(col("sk"), col("i2")), element_at(col("sk"), col("i3")))
          .as("est"))
      .orderBy("hour_start", "key")
  }

  val q155Sql: String = {
    val mix = graft.ops.Analytics.cmMixSql
    s"""WITH keyed AS (
       |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start,
       |    CASE WHEN event_type = 'error' THEN 'u' || CAST(user_id AS VARCHAR)
       |         ELSE 'e' || CAST(event_id AS VARCHAR) END AS key
       |  FROM events),
       |qk AS (SELECT 'u' || CAST(r AS VARCHAR) AS key FROM range(1, 21) t(r)),
       |kh AS (
       |  SELECT hour_start, j, md5(CAST(j AS VARCHAR) || ':' || key) AS h
       |  FROM keyed CROSS JOIN range(0, ${graft.ops.Analytics.cmD}) t(j)),
       |bux AS (
       |  SELECT hour_start, j, ${mix("h")} AS b, COUNT(*) AS c
       |  FROM kh GROUP BY 1, 2, 3),
       |qh AS (
       |  SELECT key, j, md5(CAST(j AS VARCHAR) || ':' || key) AS h
       |  FROM qk CROSS JOIN range(0, ${graft.ops.Analytics.cmD}) t(j)),
       |qb AS (SELECT key, j, ${mix("h")} AS b FROM qh),
       |est AS (
       |  SELECT w.hour_start, qb.key, CAST(MIN(COALESCE(bux.c, 0)) AS BIGINT) AS est
       |  FROM (SELECT DISTINCT hour_start FROM keyed) w
       |  CROSS JOIN qb
       |  LEFT JOIN bux ON bux.hour_start = w.hour_start
       |    AND bux.j = qb.j AND bux.b = qb.b
       |  GROUP BY w.hour_start, qb.key)
       |SELECT hour_start, key, est FROM est
       |ORDER BY hour_start, key""".stripMargin
  }

  // ---- q158: stream-static broadcast enrichment join ----------------------
  // The remaining Structured Streaming join shape: a STREAM joined to a
  // STATIC dimension (q75 covers stream-stream). The static side —
  // customer ⋈ nation, pre-collapsed to (user_id, n_name) — is a bounded
  // relation: it needs no watermark and holds no join state; Spark
  // broadcasts it to every task of every micro-batch. The enriched stream
  // then runs the canonical watermark + tumbling-window aggregation per
  // (hour, nation). Scale shape: the 100 TB event stream shuffles ONCE
  // (the window agg); the dimension rides the broadcast — the classic
  // star-schema discipline (q4) carried into the streaming runtime, and
  // the broadcast is asserted on the STREAMING physical plan in
  // StreamingSpec (stream side of a stream-static join must never
  // shuffle for the join).
  def q158StreamStaticJoin(s: SparkSession, dir: String): DataFrame = {
    val name = s"stream_static_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val dim = graft.Tables.t(s, dir, "customer")
      .select(col("c_custkey").as("user_id"), col("c_nationkey"))
      .join(graft.Tables.t(s, dir, "nation"),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("user_id"), col("n_name"))
    val q = eventsStream(s, dir)
      .withWatermark("ts", "2 hours")
      .join(broadcast(dim), Seq("user_id"))
      .groupBy(window(col("ts"), "1 hour"), col("n_name"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total_value"))
      .select(col("window.start").cast("timestamp_ntz").as("hour_start"),
        col("n_name"), col("n_events"), col("total_value"))
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    lastStreamStaticPlan =
      org.apache.spark.sql.graftshim.lastStreamingPlan(q)
    s.table(name).orderBy("hour_start", "n_name")
  }

  /** Micro-batch physical plan of the last q158 run, for the
    * StreamingSpec broadcast lock.
    */
  @volatile private[graft] var lastStreamStaticPlan: String = ""

  val q158Sql: String =
    s"""SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start,
       |  n.n_name, COUNT(*) AS n_events, ${sqlDsum("e.value")} AS total_value
       |FROM events e
       |JOIN customer c ON e.user_id = c.c_custkey
       |JOIN nation n ON c.c_nationkey = n.n_nationkey
       |GROUP BY 1, 2
       |ORDER BY hour_start, n_name""".stripMargin

  // ---- q217: ForeachWriter sink — the per-row streaming sink API ----------
  // The last streaming-sink surface next to the V2 table sink (q174):
  // `ForeachWriter`'s open(partition, epoch)/process/close contract, the
  // convenience API for pushing rows at external systems. Correct use is
  // EPOCH-AWARE: each (partition, epoch) opens one output unit, so a
  // replayed epoch OVERWRITES its own unit instead of duplicating (the
  // at-least-once → effectively-once upgrade the open() signature
  // exists for). The 4-batch update-mode aggregation emits per-epoch
  // running rows; the read-back keeps each user's LATEST epoch emission
  // — which must equal the batch GROUP BY (same oracle as q194). A sink
  // that dropped an epoch file, mixed epochs, or emitted stale rows as
  // final fails the hash.
  private class Q217Writer(dirPath: String)
      extends org.apache.spark.sql.ForeachWriter[org.apache.spark.sql.Row] {
    @transient private var out: java.io.BufferedWriter = _
    @transient private var epoch: Long = _
    override def open(partitionId: Long, epochId: Long): Boolean = {
      epoch = epochId
      out = java.nio.file.Files.newBufferedWriter(
        java.nio.file.Paths.get(dirPath, s"p$partitionId-e$epochId.csv"))
      true
    }
    override def process(r: org.apache.spark.sql.Row): Unit =
      out.write(s"$epoch,${r.getLong(0)},${r.getLong(1)},${r.getLong(2)}\n")
    override def close(errorOrNull: Throwable): Unit =
      if (out != null) out.close()
  }

  def q217ForeachWriterSink(s: SparkSession, dir: String): DataFrame = {
    val staged = graft.TempDirs.staged(s"events_tws:$dir") { p =>
      graft.Tables.events(s, dir)
        .repartition(4)
        .write.mode("overwrite").parquet(p.toString)
    }
    val sink = graft.TempDirs.staged(s"foreach_sink:$dir") { out =>
      val q = s.readStream
        .schema(StructType(Seq(
          StructField("event_id", LongType),
          StructField("ts", TimestampNTZType),
          StructField("user_id", LongType),
          StructField("event_type", StringType),
          StructField("value", DoubleType),
          StructField("props", StringType))))
        .option("maxFilesPerTrigger", "1")
        .parquet(staged.toString)
        .select(col("user_id"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), sum("cents").as("cents"))
        .writeStream
        .outputMode("update")
        .foreach(new Q217Writer(out.toString))
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(desc("epoch"))
    s.read
      .schema("epoch LONG, user_id LONG, n_events LONG, cents LONG")
      .csv(s"$sink/p*-e*.csv")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select("user_id", "n_events", "cents")
      .orderBy("user_id")
  }

  /** Latest-epoch emissions ≡ the batch aggregate — q194's oracle.
    * (lazy: q194Sql is declared later in the file — a strict val here
    * would initialize to null under top-down object init)
    */
  lazy val q217Sql: String = q194Sql

  // ---- q209: streaming observe() — in-flight metric collection ------------
  // q171 proves Dataset.observe for batch; streams are where it earns its
  // keep: per-micro-batch audit metrics collected in the SAME pass as the
  // pipeline (no second scan), surfaced through StreamingQueryProgress.
  // The 4-chunk replay runs with an observe("audit", count, sum(cents),
  // count(error)) on the pre-aggregation stream; after completion the
  // progress log must show EXACTLY 4 data-carrying batches whose observed
  // metrics SUM to the whole table's audit numbers — the oracle states
  // those totals from the source, so lost batches, double-counted
  // replays, or metrics computed off a different pass all fail the hash.
  // This (with q194's offline state read) is the streaming observability
  // story at 100 TB: audit in-flight, inspect state offline.
  def q209StreamObserve(s: SparkSession, dir: String): DataFrame = {
    val name = s"stream_obs_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val staged = graft.TempDirs.staged(s"events_tws:$dir") { p =>
      graft.Tables.events(s, dir)
        .repartition(4)
        .write.mode("overwrite").parquet(p.toString)
    }
    val q = s.readStream
      .schema(StructType(Seq(
        StructField("event_id", LongType),
        StructField("ts", TimestampNTZType),
        StructField("user_id", LongType),
        StructField("event_type", StringType),
        StructField("value", DoubleType),
        StructField("props", StringType))))
      .option("maxFilesPerTrigger", "1")
      .parquet(staged.toString)
      .select(col("user_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .observe("audit",
        count(lit(1)).as("rows"),
        sum("cents").as("cents"),
        count(when(col("event_type") === "error", 1)).as("errors"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"))
      .writeStream
      .outputMode("update")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val audits = q.recentProgress.toSeq
      .filter(_.numInputRows > 0)
      .map(p => Option(p.observedMetrics.get("audit")).getOrElse(
        sys.error(s"q209: data batch ${p.batchId} reported no audit metrics")))
    import s.implicits._
    Seq((audits.size,
      audits.map(_.getLong(0)).sum,
      audits.map(_.getLong(1)).sum,
      audits.map(_.getLong(2)).sum))
      .toDF("n_batches", "n_rows", "sum_cents", "n_errors")
  }

  val q209Sql: String =
    """SELECT 4 AS n_batches, COUNT(*) AS n_rows,
      |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
      |  COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS n_errors
      |FROM events""".stripMargin

  // ---- q208: stream-stream LEFT OUTER interval join -----------------------
  // q75 proves the inner stream-stream join; OUTER is its own semantics
  // class: an unmatched click can only emit (null-padded) once the
  // WATERMARK proves no future purchase can still match — i.e. after
  // click_ts + 30 min falls behind the 2-hour watermark. The oracle
  // states exactly that: all matched pairs (identical to q75's relation)
  // UNION the unmatched clicks whose join window has expired at the final
  // watermark (max ts − 2 h); clicks still inside the window at
  // end-of-stream are legitimately WITHHELD, and a sink that emitted them
  // anyway (or dropped an expired one) hash-fails. State shape at scale:
  // both sides keyed on user_id, watermark bounds the buffered range —
  // the outer variant adds only the expiry tracking, not more state.
  def q208StreamOuterJoin(s: SparkSession, dir: String): DataFrame = {
    val name = s"stream_oj_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val clicks = eventsStream(s, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
      .withWatermark("click_ts", "2 hours")
    val purchases = eventsStream(s, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("purchase_ts", "2 hours")
    val q = clicks.join(purchases,
        col("user_id") === col("p_user")
          && col("purchase_ts") >= col("click_ts")
          && col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"),
        "left_outer")
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        col("click_ts").cast("timestamp_ntz").as("click_ts"),
        col("purchase_ts").cast("timestamp_ntz").as("purchase_ts"))
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // null-padded outer columns carry the q90 sentinels (9999-12-31 / -1):
    // null timestamps (NaT) never survive the driver's hash compare
    s.table(name)
      .select(col("user_id"), col("click_id"),
        coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"),
        col("click_ts"),
        coalesce(col("purchase_ts"),
          lit("9999-12-31 00:00:00").cast("timestamp_ntz")).as("purchase_ts"))
      .orderBy("user_id", "click_id", "purchase_id")
  }

  // PROBED ENGINE FACT: the global watermark is the MIN over the two
  // watermarked INPUT streams (each max event-time − delay) — an oracle
  // using the overall max emits 2 extra expired clicks at sf0.01 (the
  // purchase side's max ts trails the click side's by ~13 min).
  val q208Sql: String =
    """WITH wm AS (
      |  SELECT LEAST(
      |    (SELECT MAX(CAST(ts AS TIMESTAMP)) FROM events WHERE event_type = 'click'),
      |    (SELECT MAX(CAST(ts AS TIMESTAMP)) FROM events WHERE event_type = 'purchase')
      |  ) - INTERVAL 2 HOUR AS w),
      |c AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
      |      FROM events WHERE event_type = 'click'),
      |p AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
      |      FROM events WHERE event_type = 'purchase')
      |SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
      |  c.ts AS click_ts, p.ts AS purchase_ts
      |FROM c JOIN p ON c.user_id = p.user_id
      |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
      |UNION ALL
      |SELECT c.user_id, c.event_id, -1, c.ts, TIMESTAMP '9999-12-31 00:00:00'
      |FROM c
      |WHERE NOT EXISTS (
      |    SELECT 1 FROM p WHERE p.user_id = c.user_id
      |      AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE)
      |  AND c.ts + INTERVAL 30 MINUTE < (SELECT w FROM wm)
      |ORDER BY 1, 2, 3""".stripMargin

  // ---- q206: CHAINED stateful operators — two windowed aggs, one query ---
  // Until Spark 3.5 a streaming query allowed ONE stateful operator;
  // this exercises the multi-stateful chain: a 10-minute windowed
  // aggregation feeding a 1-hour rollup aggregation IN THE SAME streaming
  // query, stitched with `window_time()` (the event-time column of a
  // finished window — what makes the second watermark propagate).
  // Append-mode emission: an hour emits once its end passes the final
  // watermark (max ts − 1 h here); the oracle states that as a batch
  // predicate, and because 10-minute windows tile hours exactly, the
  // chained rollup must equal the DIRECT hour aggregation on the
  // finalized range — any drift in window alignment, watermark
  // propagation, or partial-agg routing between the two stateful
  // operators breaks the hash. Scale shape: two keyed state stores, each
  // shuffled once on (window, key) — the rollup state is 6× smaller per
  // key; this is the standard pre-aggregation ladder for high-rate
  // streams at 100 TB/day.
  def q206ChainedWindowAggs(s: SparkSession, dir: String): DataFrame = {
    val name = s"stream_chain_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = eventsStream(s, dir)
      .select(col("ts"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("cents").as("cents"))
      .groupBy(window(window_time(col("window")), "1 hour"), col("event_type"))
      .agg(sum(col("n")).as("n"), sum(col("cents")).as("cents"))
      .select(col("window.start").cast("timestamp_ntz").as("hour_start"),
        col("event_type"), col("n"), col("cents"))
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.table(name).orderBy("hour_start", "event_type")
  }

  val q206Sql: String =
    """WITH wm AS (
      |  SELECT MAX(CAST(ts AS TIMESTAMP)) - INTERVAL 1 HOUR AS w FROM events)
      |SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hour_start,
      |  event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      |FROM events
      |GROUP BY 1, 2
      |HAVING hour_start + INTERVAL 1 HOUR <= (SELECT w FROM wm)
      |ORDER BY 1, 2""".stripMargin

  // ---- q194: OFFLINE STATE INSPECTION — the `statestore` batch source ----
  // Streaming state is normally a black box inside the checkpoint; Spark
  // 4's state data source opens it to BATCH queries: after a 4-micro-batch
  // streaming aggregation commits, `spark.read.format("statestore")`
  // reconstructs every (key, aggregation buffer) pair straight from the
  // checkpoint — no stream restart, no sink involvement. That is the
  // production debugging/audit surface at 100 TB (is state skewed? which
  // key's buffer exploded? what exactly survived the watermark?) and the
  // proof obligation here is end-to-end: the OFFLINE view of the final
  // state must hash-equal the batch GROUP BY of all input — so buffer
  // encoding, multi-batch merge, and the reader's checkpoint walk all sit
  // on the oracle path. The `state-metadata` source is asserted in-query:
  // the state really accumulated across 4 committed micro-batches (the
  // q132 staging), not one collapsed batch.
  def q194StateStoreRead(s: SparkSession, dir: String): DataFrame = {
    val name = s"stream_ss_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val staged = graft.TempDirs.staged(s"events_tws:$dir") { p =>
      graft.Tables.events(s, dir)
        .repartition(4)
        .write.mode("overwrite").parquet(p.toString)
    }
    val ck = java.nio.file.Files.createTempDirectory("graft_ss_ck_").toString
    val q = s.readStream
      .schema(StructType(Seq(
        StructField("event_id", LongType),
        StructField("ts", TimestampNTZType),
        StructField("user_id", LongType),
        StructField("event_type", StringType),
        StructField("value", DoubleType),
        StructField("props", StringType))))
      .option("maxFilesPerTrigger", "1")
      .parquet(staged.toString)
      .select(col("user_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), sum("cents").as("cents"))
      .writeStream
      .outputMode("update")
      .format("memory")
      .queryName(name)
      .option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val md = s.read.format("state-metadata").load(ck)
      .select("operatorName", "maxBatchId").collect()
    require(md.length == 1 && md.head.getString(0) == "stateStoreSave" &&
      md.head.getLong(1) == 3L,
      s"q194: expected one agg operator with 4 committed batches, got " +
        md.mkString(","))
    // buffer field names are the CANONICAL internal ones (count/sum) —
    // part of the state encoding this query pins
    s.read.format("statestore").load(ck)
      .select(col("key.user_id").as("user_id"),
        col("value.count").as("n_events"),
        col("value.sum").as("cents"))
      .orderBy("user_id")
  }

  val q194Sql: String =
    """SELECT user_id, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q63_stream_hourly" -> (q63StreamHourly _),
    "q64_stream_sessions" -> (q64StreamSessions _),
    "q72_stream_session_window" -> (q72StreamSessionWindow _),
    "q75_stream_stream_join" -> (q75StreamStreamJoin _),
    "q86_stream_ingest_dedup" -> (q86StreamIngestDedup _),
    "q109_stream_dropdup" -> (q109StreamDropDup _),
    "q119_stream_cdc_upsert" -> (q119StreamCdcUpsert _),
    "q132_transform_with_state" -> (q132TransformWithState _),
    "q138_session_timers" -> (q138SessionTimers _),
    "q142_state_primitives" -> (q142StatePrimitives _),
    "q155_stream_sketch" -> (q155StreamSketch _),
    "q158_stream_static_join" -> (q158StreamStaticJoin _),
    "q174_stream_epoch_sink" -> (q174StreamEpochSink _),
    "q176_pt_timer_flush" -> (q176PtTimerFlush _),
    "q194_statestore_read" -> (q194StateStoreRead _),
    "q206_chained_window_aggs" -> (q206ChainedWindowAggs _),
    "q208_stream_outer_join" -> (q208StreamOuterJoin _),
    "q209_stream_observe" -> (q209StreamObserve _),
    "q217_foreach_writer_sink" -> (q217ForeachWriterSink _),
  )

  val oracle: Map[String, String] = Map(
    "q63_stream_hourly" -> q63Sql,
    "q64_stream_sessions" -> q64Sql,
    "q72_stream_session_window" -> q72Sql,
    "q75_stream_stream_join" -> q75Sql,
    "q86_stream_ingest_dedup" -> q86Sql,
    "q109_stream_dropdup" -> q109Sql,
    // streaming/batch parity: the incremental fold must land on exactly
    // the batch changelog apply — q117's oracle IS q119's oracle
    "q119_stream_cdc_upsert" -> graft.ops.Warehouse.q117Sql,
    "q132_transform_with_state" -> q132Sql,
    "q138_session_timers" -> q138Sql,
    "q142_state_primitives" -> q142Sql,
    "q155_stream_sketch" -> q155Sql,
    "q158_stream_static_join" -> q158Sql,
    // the epoch-sink round trip must land on the batch changelog apply —
    // q117's oracle is ALSO q174's oracle (write path on the hashed line)
    "q174_stream_epoch_sink" -> graft.ops.Warehouse.q117Sql,
    // timer flushes only DUPLICATE running rows; the collapse lands on the
    // same batch GROUP BY — q132's oracle IS q176's oracle
    "q176_pt_timer_flush" -> q132Sql,
    "q194_statestore_read" -> q194Sql,
    "q206_chained_window_aggs" -> q206Sql,
    "q208_stream_outer_join" -> q208Sql,
    "q209_stream_observe" -> q209Sql,
    "q217_foreach_writer_sink" -> q217Sql,
  )
}
