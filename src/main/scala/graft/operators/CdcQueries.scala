package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.sources.TableCatalog

/** SURVEY.md §2 groups A and D: registered queries + DuckDB oracles.
  * The op mapping (signup→i, click/view/purchase→u, error→d) and the
  * synthetic per-type namespaces are documented in SURVEY.md §4 and
  * replicated verbatim in the oracle SQL.
  */
object CdcQueries {

  private def oplog(s: SparkSession, dir: String): DataFrame =
    Cdc.eventsAsOpLog(TableCatalog(s, dir).events)

  /** Synthetic namespace per event type, used by routing/filter queries:
    * errors pose as the metadata db to exercise the exclusion rule.
    */
  private def nsCol = when(col("event_type") === "error", "route81.resume")
    .otherwise(concat(lit("test."), col("event_type")))

  private val opCase =
    """CASE WHEN event_type = 'signup' THEN 'i'
      |     WHEN event_type = 'error' THEN 'd' ELSE 'u' END""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("cdc_direct_read", (s, dir) =>
      Cdc.directRead(TableCatalog(s, dir).customer, "test.customer", "c_custkey"),
      """SELECT CAST(c_custkey AS VARCHAR) AS meta_id, 'test.customer' AS meta_ns,
        |  '' AS meta_op, c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        |FROM customer""".stripMargin),
    QuerySpec("cdc_changestream_events", (s, dir) =>
      oplog(s, dir).select(col("event_id"), col("id"), col("ns"), col("op"),
        col("data.value").as("value")),
      s"""SELECT event_id, CAST(user_id AS VARCHAR) AS id, 'test.events' AS ns,
         |  $opCase AS op,
         |  CASE WHEN event_type <> 'error' THEN value END AS value
         |FROM events""".stripMargin),
    QuerySpec("cdc_update_desc", (s, dir) => Cdc.updateDescriptions(oplog(s, dir)),
      s"""WITH log AS (
         |  SELECT event_id, CAST(user_id AS VARCHAR) AS id, ts,
         |    $opCase AS op,
         |    CASE WHEN event_type <> 'error' THEN value END AS v,
         |    CASE WHEN event_type <> 'error' THEN props END AS p
         |  FROM events),
         |w AS (
         |  SELECT *, lag(v) OVER (PARTITION BY id ORDER BY ts, event_id) AS pv,
         |            lag(p) OVER (PARTITION BY id ORDER BY ts, event_id) AS pp
         |  FROM log)
         |SELECT event_id, id,
         |  NOT (pv IS NOT DISTINCT FROM v) AS value_changed,
         |  NOT (pp IS NOT DISTINCT FROM p) AS props_changed
         |FROM w WHERE op = 'u'""".stripMargin),
    QuerySpec("cdc_stats", (s, dir) => Cdc.stats(oplog(s, dir)),
      """SELECT COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS inserted,
        |  COUNT(CASE WHEN event_type IN ('click','view','purchase') THEN 1 END) AS updated,
        |  COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS removed,
        |  COUNT(*) AS total
        |FROM events""".stripMargin),
    QuerySpec("stats_http_json", (s, dir) =>
      Cdc.clientStatsJson(oplog(s, dir), Cdc.classify(oplog(s, dir))),
      // A12: route81's /stats JSON byte for byte (MarshalIndent with
      // 4-space indent, Go struct field order) over the same counters
      """SELECT '{' || chr(10)
        |  || '    "producer": {' || chr(10)
        |  || '        "success": ' || COUNT(*) || ',' || chr(10)
        |  || '        "failed": 0,' || chr(10)
        |  || '        "inserted": '
        |  || COUNT(CASE WHEN event_type = 'signup' THEN 1 END) || ',' || chr(10)
        |  || '        "updated": '
        |  || COUNT(CASE WHEN event_type IN ('click','view','purchase') THEN 1 END)
        |  || ',' || chr(10)
        |  || '        "removed": '
        |  || COUNT(CASE WHEN event_type = 'error' THEN 1 END) || ',' || chr(10)
        |  || '        "dropped": 0,' || chr(10)
        |  || '        "queued": 0' || chr(10)
        |  || '    },' || chr(10)
        |  || '    "consumer": {' || chr(10)
        |  || '        "success": ' || COUNT(*) || ',' || chr(10)
        |  || '        "failed": 0,' || chr(10)
        |  || '        "queued": 0' || chr(10)
        |  || '    }' || chr(10)
        |  || '}' AS stats_json
        |FROM events""".stripMargin),
    QuerySpec("cdc_latest_state", (s, dir) => Cdc.latestState(oplog(s, dir)),
      """SELECT user_id, value, props FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |WHERE rn = 1 AND event_type <> 'error'""".stripMargin),
    QuerySpec("consumer_classify", (s, dir) => Cdc.classify(oplog(s, dir)),
      """SELECT event_id,
        |  CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS action,
        |  CAST(user_id AS VARCHAR) AS target_id
        |FROM events""".stripMargin),
    QuerySpec("consumer_apply", (s, dir) => {
      val log = oplog(s, dir)
      val base = Cdc.latestState(log.filter(col("event_id") % 2 === 0))
      Cdc.applyTo(base,
        Cdc.latestWithDeletes(log.filter(col("event_id") % 2 === 1)), "user_id")
    },
      """WITH ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY user_id, event_id % 2
        |                               ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events),
        |base AS (
        |  SELECT user_id, value, props FROM ranked
        |  WHERE event_id % 2 = 0 AND rn = 1 AND event_type <> 'error'),
        |ops AS (
        |  SELECT user_id, value, props, event_type FROM ranked
        |  WHERE event_id % 2 = 1 AND rn = 1)
        |SELECT user_id, value, props FROM base
        |WHERE user_id NOT IN (SELECT user_id FROM ops)
        |UNION ALL
        |SELECT user_id, value, props FROM ops WHERE event_type <> 'error'""".stripMargin),
    QuerySpec("topic_route", (s, dir) => {
      val ev = TableCatalog(s, dir).events
      ev.select(col("event_id"),
        Router.topic(nsCol, Seq(
          Router.ProducerMap("test.purchase", "sales"),
          Router.ProducerMap("test", "catchall")), "r81").as("topic"))
    },
      """SELECT event_id, 'r81.' || (
        |  CASE WHEN ns = 'test.purchase' OR ns LIKE 'test.purchase%' THEN 'sales'
        |       WHEN ns = 'test' OR ns LIKE 'test%' THEN 'catchall'
        |       ELSE ns END) AS topic
        |FROM (SELECT event_id,
        |  CASE WHEN event_type = 'error' THEN 'route81.resume'
        |       ELSE 'test.' || event_type END AS ns FROM events)""".stripMargin),
    QuerySpec("msg_key", (s, dir) => {
      val ev = TableCatalog(s, dir).events
      ev.select(col("event_id"),
        Cdc.docId(col("value")).as("key_plain"),
        Cdc.docId(col("value"), Some(lit("test.events"))).as("key_ns"))
    },
      """SELECT event_id,
        |  CASE WHEN value = CAST(CAST(value AS BIGINT) AS DOUBLE)
        |       THEN CAST(CAST(value AS BIGINT) AS VARCHAR)
        |       ELSE CAST(value AS VARCHAR) END AS key_plain,
        |  'test.events.' || (
        |  CASE WHEN value = CAST(CAST(value AS BIGINT) AS DOUBLE)
        |       THEN CAST(CAST(value AS BIGINT) AS VARCHAR)
        |       ELSE CAST(value AS VARCHAR) END) AS key_ns
        |FROM events""".stripMargin),
    QuerySpec("ns_filter", (s, dir) => {
      val ev = TableCatalog(s, dir).events.withColumn("ns", nsCol)
      Cdc.namespaceFilter(ev, "ns", "route81", Seq("test.signup"))
        .groupBy(col("ns")).agg(count(lit(1)).as("n"))
    },
      """SELECT ns, COUNT(*) AS n FROM (
        |  SELECT CASE WHEN event_type = 'error' THEN 'route81.resume'
        |              ELSE 'test.' || event_type END AS ns FROM events)
        |WHERE ns NOT LIKE 'route81.%' AND ns <> 'test.signup'
        |GROUP BY ns""".stripMargin),
    QuerySpec("resume_ts", (s, dir) => Cdc.resumePoints(oplog(s, dir)),
      """SELECT 'test.events' AS ns, MAX(ts) AS resume_ts,
        |  MAX(event_id) AS resume_event
        |FROM events""".stripMargin),
    QuerySpec("gridfs_files", (s, dir) =>
      GridFs.files(TableCatalog(s, dir).documents, "doc_id", "text"),
      """SELECT doc_id AS files_id, CAST(length(text) AS INTEGER) AS length, 256 AS chunkSize,
        |  md5(text) AS md5, 'doc_' || CAST(doc_id AS VARCHAR) || '.txt' AS filename
        |FROM documents""".stripMargin),
    QuerySpec("gridfs_chunks", (s, dir) =>
      GridFs.chunks(TableCatalog(s, dir).documents, "doc_id", "text"),
      """WITH RECURSIVE s(i) AS (
        |  SELECT 0
        |  UNION ALL
        |  SELECT i + 1 FROM s
        |  WHERE i < (SELECT CAST(floor((max(length(text))-1)/256.0) AS INTEGER)
        |             FROM documents))
        |SELECT doc_id AS files_id, CAST(i AS INTEGER) AS n,
        |  substr(text, CAST(i AS INTEGER)*256 + 1, 256) AS data
        |FROM documents, s
        |WHERE length(text) > 0
        |  AND i <= CAST(floor((length(text)-1)/256.0) AS INTEGER)""".stripMargin),
    QuerySpec("gridfs_reassemble", (s, dir) => {
      val docs = TableCatalog(s, dir).documents
      GridFs.reassemble(
        GridFs.files(docs, "doc_id", "text"),
        GridFs.chunks(docs, "doc_id", "text"))
    },
      // chunks perfectly reassemble the producer's content, so the
      // oracle is the original document: any ordering/slicing bug on the
      // Spark side breaks the md5 equality (and md5_ok = false ≠ true)
      """SELECT doc_id AS files_id, CAST(length(text) AS INTEGER) AS length_r,
        |  md5(text) AS md5_r, true AS md5_ok
        |FROM documents""".stripMargin),
  )
}
