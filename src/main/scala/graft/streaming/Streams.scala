package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Stream-shaped operators (SURVEY.md §2 group E). Each has one
  * batch-equivalent form (oracle-checked) and runs unchanged on a
  * streaming DataFrame where Spark semantics allow; the runtime
  * wiring (watermarks, foreachBatch upsert, checkpoint resume) lives
  * in [[ChangeStreamJob]] and is exercised by StreamingSpec.
  */
object Streams {

  /** E1: tumbling-window per-type throughput — the generalized form of
    * the reference's stats loop (route81.go:787-803). Uses the same
    * `window()` expression streaming uses, so the batch oracle checks
    * the streaming aggregation logic. Cents-sum keeps it exact.
    */
  def windowStats(events: DataFrame, width: String = "1 hour"): DataFrame =
    events
      .groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(round(value * 100, 0) AS BIGINT)")).as("value_cents"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("value_cents"))

  /** E2: sessionization by inactivity gap: a new session starts when
    * the gap to the previous event of the same user exceeds
    * `gapMinutes`. One shuffle (hash by user) + in-partition sort —
    * the batch twin of flatMapGroupsWithState sessionization.
    */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val flagged = events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        (col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) >
            gapMinutes * 60L * 1000000L).cast("int"))
      .withColumn("session_seq", sum(col("new_session")).over(byUser))
    flagged
      .groupBy(col("user_id"), col("session_seq"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"))
  }

  /** E3: keyed first-wins dedup — the batch twin of streaming
    * `dropDuplicates` state: one shuffle, min_by partial agg.
    */
  def dedupFirst(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"), col("event_type"))
      .agg(min(col("event_id")).as("first_event"),
        min_by(col("value"), col("event_id")).as("first_value"))

  final case class SessionEvent(user_id: Long, event_id: Long, ts_us: Long)
  final case class SessionAssign(user_id: Long, event_id: Long, session_seq: Long)

  /** E2 streaming form: per-key session assignment with
    * `flatMapGroupsWithState` — session numbering survives across
    * micro-batches via the state store (keyed by user, state =
    * (current session, last event time)). The batch [[sessionize]]
    * is the oracle-checked twin; StreamingSpec proves cross-batch
    * continuity equals the batch result.
    */
  def assignSessionsStream(
      events: org.apache.spark.sql.Dataset[SessionEvent],
      gapMinutes: Int = 30): org.apache.spark.sql.Dataset[SessionAssign] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Long, Long), SessionAssign](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (user: Long, it: Iterator[SessionEvent], state: GroupState[(Long, Long)]) =>
          val (out, next) = numberSessions(user, it, gapUs, state.getOption)
          state.update(next)
          out.iterator
      }
  }

  /** Number one key's new events into sessions, in (ts, event id)
    * order, from the carried (session, last event time) state (None
    * for an unseen key); returns the assignments and the next state.
    */
  private def numberSessions(user: Long, events: Iterator[SessionEvent],
                             gapUs: Long, state: Option[(Long, Long)])
      : (Seq[SessionAssign], (Long, Long)) = {
    var (seq, last) = state.getOrElse((0L, Long.MinValue))
    val out = events.toSeq.sortBy(e => (e.ts_us, e.event_id)).map { e =>
      if (last == Long.MinValue || e.ts_us - last > gapUs) seq += 1
      last = e.ts_us
      SessionAssign(user, e.event_id, seq)
    }
    (out, (seq, last))
  }

  /** E2 on the Spark 4 `transformWithState` API: the same session
    * numbering as [[assignSessionsStream]], expressed as a
    * [[org.apache.spark.sql.streaming.StatefulProcessor]] with a
    * named ValueState — the modern arbitrary-state runtime (RocksDB
    * state store, state schema evolution, TTL support). Functional
    * equivalence to the flatMapGroupsWithState form is spec-checked.
    */
  class SessionProcessor(gapUs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, SessionEvent, SessionAssign] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var session: ValueState[(Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      session = getHandle.getValueState[(Long, Long)]("session",
        org.apache.spark.sql.Encoders.product[(Long, Long)], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[SessionEvent],
                                 timerValues: TimerValues): Iterator[SessionAssign] = {
      val (out, next) = numberSessions(key, rows, gapUs,
        if (session.exists()) Some(session.get()) else None)
      session.update(next)
      out.iterator
    }
  }

  /** [[assignSessionsStream]] via `transformWithState`. Requires the
    * RocksDB state store provider (set
    * `spark.sql.streaming.stateStore.providerClass` to
    * `...state.RocksDBStateStoreProvider`).
    */
  def assignSessionsTws(
      events: org.apache.spark.sql.Dataset[SessionEvent],
      gapMinutes: Int = 30): org.apache.spark.sql.Dataset[SessionAssign] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor(gapMinutes * 60L * 1000000L),
        TimeMode.None(), OutputMode.Update())
  }

  final case class TimedEvent(user_id: Long, event_id: Long,
                              ts: java.sql.Timestamp)
  final case class SessionSummary(user_id: Long, n_events: Long,
                                  start_ms: Long, end_ms: Long)

  /** E9: timer-driven session CLOSE — the piece `assignSessionsTws`
    * can't express without timers: a session ends when NO event
    * arrives for `gap`, which only the advancing event-time watermark
    * can prove. Each input batch (re)arms a per-key event-time timer
    * at `last + gap`; when the watermark passes it, the expired-timer
    * callback emits the closed session and clears state — so state for
    * an idle key is always reclaimed, the property that keeps a 100 TB
    * stream's state store bounded by ACTIVE keys, not ever-seen keys.
    */
  class SessionCloseProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, TimedEvent, SessionSummary] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var sess: ValueState[(Long, Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sess = getHandle.getValueState[(Long, Long, Long)]("sess",
        org.apache.spark.sql.Encoders.product[(Long, Long, Long)],
        TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[TimedEvent],
                                 timerValues: TimerValues): Iterator[SessionSummary] = {
      var (n, start, last) =
        if (sess.exists()) sess.get() else (0L, Long.MaxValue, Long.MinValue)
      var closed = List.empty[SessionSummary]
      rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
        val t = e.ts.getTime
        if (n > 0 && t - last > gapMs) { // gap visible in-data: close now
          closed ::= SessionSummary(key, n, start, last)
          n = 0; start = Long.MaxValue
        }
        n += 1
        start = math.min(start, t)
        last = math.max(last, t)
      }
      // one armed timer per key: re-arm at the open session's deadline
      getHandle.listTimers().toSeq.foreach(t => getHandle.deleteTimer(t))
      getHandle.registerTimer(last + gapMs)
      sess.update((n, start, last))
      closed.reverseIterator
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
                                    expiredTimerInfo: ExpiredTimerInfo): Iterator[SessionSummary] =
      if (sess.exists()) {
        val (n, start, last) = sess.get()
        sess.clear() // idle key: state fully reclaimed
        if (n > 0) Iterator.single(SessionSummary(key, n, start, last))
        else Iterator.empty
      } else Iterator.empty
  }

  /** [[SessionCloseProcessor]] wiring: event-time mode (timers fire on
    * watermark advance), append output (sessions emit once, closed).
    */
  def closeSessionsTws(
      events: org.apache.spark.sql.Dataset[TimedEvent],
      gapMinutes: Int = 30,
      lateness: String = "0 seconds"): org.apache.spark.sql.Dataset[SessionSummary] = {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .transformWithState(new SessionCloseProcessor(gapMinutes * 60L * 1000L),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** E3b: streaming dedup with BOUNDED state —
    * `dropDuplicatesWithinWatermark` drops a key's state once the
    * watermark passes its event time + delay, so the state store holds
    * only the recent-horizon keys. Plain `dropDuplicates` on a stream
    * keys state on every id ever seen — unbounded on a 100 TB firehose;
    * this is the shape that survives. Uniqueness is guaranteed within
    * the watermark delay (CDC retries/duplicates cluster in time, so
    * that is the guarantee replay actually needs).
    */
  def dedupWithinWatermark(events: DataFrame,
                           delay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark(Seq("user_id", "event_type"))
}
