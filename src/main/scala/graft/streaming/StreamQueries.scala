package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.operators.Cdc
import graft.plans.MongoPipeline
import graft.sources.TableCatalog

/** SURVEY.md §2 group E (batch-equivalent forms) + C15. */
object StreamQueries {

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("stream_window_agg", (s, dir) =>
      Streams.windowStats(TableCatalog(s, dir).events),
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events GROUP BY 1, 2""".stripMargin),
    QuerySpec("stream_sessionize", (s, dir) =>
      Streams.sessionize(TableCatalog(s, dir).events),
      """WITH flagged AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 30*60*1000000
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sessions AS (
        |  SELECT *, SUM(new_session) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS session_seq
        |  FROM flagged)
        |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
        |  COUNT(*) AS n_events,
        |  MIN(ts) AS session_start, MAX(ts) AS session_end
        |FROM sessions GROUP BY user_id, session_seq""".stripMargin),
    QuerySpec("stream_dedup_first", (s, dir) =>
      Streams.dedupFirst(TableCatalog(s, dir).events),
      """SELECT user_id, event_type, MIN(event_id) AS first_event,
        |  arg_min(value, event_id) AS first_value
        |FROM events GROUP BY user_id, event_type""".stripMargin),
    // C15: the README's change-stream pipeline example — only insert
    // events pass, applied to the envelope before encoding.
    QuerySpec("pipe_changestream", (s, dir) =>
      MongoPipeline(Cdc.eventsAsOpLog(TableCatalog(s, dir).events),
        """[{"$match": {"op": "i"}},
           {"$project": {"event_id": 1, "id": 1, "value": "$data.value"}}]"""),
      """SELECT event_id, CAST(user_id AS VARCHAR) AS id, value
        |FROM events WHERE event_type = 'signup'""".stripMargin),
    // D1 end-to-end: produce real ext-JSON messages, consume them with
    // document-root-path/delete-id-path, fold in arrival order — must
    // equal folding the op log directly (same oracle as
    // cdc_latest_state).
    QuerySpec("consumer_from_messages", (s, dir) => {
      val messages = Cdc.eventsAsOpLog(TableCatalog(s, dir).events)
        .select(col("event_id"), Envelope.encode.as("value"))
      MessageConsumer.fold(messages, "event_id")
    },
      """SELECT user_id, value, props FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id
        |    ORDER BY event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1 AND event_type <> 'error'""".stripMargin),
  )
}
