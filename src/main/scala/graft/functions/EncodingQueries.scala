package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.QuerySpec
import graft.operators.Cdc
import graft.sources.TableCatalog
import graft.streaming.Envelope

/** SURVEY.md §2 group B: encoding/decoding queries + DuckDB oracles. */
object EncodingQueries {

  private def oplog(s: SparkSession, dir: String): DataFrame =
    Cdc.eventsAsOpLog(TableCatalog(s, dir).events)

  private val metaSql =
    """'{"meta":{"_id":{"$numberLong":"' || CAST(user_id AS VARCHAR) ||
      |'"},"ts":{"$date":{"$numberLong":"' || CAST(epoch_ms(ts) AS VARCHAR) ||
      |'"}},"ns":"test.events","op":"' ||
      |CASE WHEN event_type = 'signup' THEN 'i'
      |     WHEN event_type = 'error' THEN 'd' ELSE 'u' END || '"}'""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // the full producer message: meta always present, data omitted for
    // deletes (reference README §remove-operation)
    QuerySpec("ext_json_encode", (s, dir) =>
      oplog(s, dir).select(col("event_id"), Envelope.encode.as("msg")),
      s"""SELECT event_id,
         |CASE WHEN event_type = 'error' THEN $metaSql || '}'
         |ELSE $metaSql ||
         |  ',"data":{"user_id":{"$$numberLong":"' || CAST(user_id AS VARCHAR) ||
         |  '"},"value":{"$$numberDouble":"' || CAST(value AS VARCHAR) ||
         |  '"},"props":"' ||
         |  replace(replace(replace(replace(replace(props,
         |    '\\', '\\\\'), '"', '\\"'),
         |    chr(10), '\\n'), chr(13), '\\r'), chr(9), '\\t') || '"}}'
         |END AS msg
         |FROM events""".stripMargin),
    QuerySpec("json_encode_plain", (s, dir) => {
      val ev = TableCatalog(s, dir).events
      val v = when(col("event_type") === "error", lit(Double.PositiveInfinity))
        .when(col("event_type") === "view", lit(Double.NaN))
        .when(col("event_type") === "click", lit(Double.NegativeInfinity))
        .otherwise(col("value"))
      ev.select(col("event_id"),
        ExtJson.jsonFloat(v).as("vjson"),
        ExtJson.jsonTime(col("ts")).as("tjson"))
    },
      """SELECT event_id,
        |  CASE WHEN isnan(v) THEN '"nan"'
        |       WHEN v = 'Infinity'::DOUBLE THEN '"+inf"'
        |       WHEN v = '-Infinity'::DOUBLE THEN '"-inf"'
        |       ELSE CAST(v AS VARCHAR) END AS vjson,
        |  '"' || strftime(ts, '%Y-%m-%dT%H:%M:%S.') ||
        |    substr(strftime(ts, '%f'), 1, 3) || 'Z"' AS tjson
        |FROM (SELECT event_id, ts,
        |  CASE WHEN event_type = 'error' THEN 'Infinity'::DOUBLE
        |       WHEN event_type = 'view' THEN 'NaN'::DOUBLE
        |       WHEN event_type = 'click' THEN '-Infinity'::DOUBLE
        |       ELSE value END AS v
        |  FROM events)""".stripMargin),
    QuerySpec("json_decode", (s, dir) => {
      val ev = TableCatalog(s, dir).events
      ev.select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
    },
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |FROM events""".stripMargin),
    QuerySpec("ext_json_roundtrip", (s, dir) => {
      val ev = TableCatalog(s, dir).events
      import ExtJson._
      val msg = obj(
        field("_id", numberLong(col("user_id"))),
        field("value", numberDouble(col("value"))))
      val schema = StructType(Seq(
        StructField("_id", StructType(Seq(StructField("$numberLong", StringType)))),
        StructField("value", StructType(Seq(StructField("$numberDouble", StringType))))))
      ev.select(col("event_id"), from_json(msg, schema).as("j"))
        .select(col("event_id"),
          col("j").getField("_id").getField("$numberLong").cast("long").as("rt_id"),
          col("j").getField("value").getField("$numberDouble").cast("double").as("rt_value"))
    },
      """SELECT event_id, user_id AS rt_id, value AS rt_value FROM events""".stripMargin),
  )
}
