package graft.streaming

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.ExtJson._

/** The `{meta, data}` Extended-JSON envelope route81 wraps every op in
  * (route81.go:56-67): the encoders, the schema a consumer decodes the
  * events-domain messages with, and the projection from a decoded
  * `data` root back to document columns. A delete carries `meta` only
  * (reference README §remove-operation), so its decoded root is null.
  */
object Envelope {

  /** The change-stream message for an op-log row (`id`, `ts`, `ns`,
    * `op`, `data`), byte-identical to the oracle of `ext_json_encode`.
    */
  def encode: Column = {
    val meta = obj(
      field("_id", numberLong(col("id"))),
      field("ts", date(col("ts"))),
      field("ns", str(col("ns"))),
      field("op", str(col("op"))))
    val data = obj(
      field("user_id", numberLong(col("data.user_id"))),
      field("value", numberDouble(col("data.value"))),
      field("props", str(col("data.props"))))
    when(col("op") === "d", message(meta, None))
      .otherwise(message(meta, Some(data)))
  }

  /** The direct-read message for an encoded table row: `meta` has no
    * `ts` and an empty `op` (route81.go:1376-1381).
    */
  def direct(id: Column, ns: String, document: Column): Column =
    message(obj(
      field("_id", numberLong(id)),
      field("ns", str(lit(ns))),
      field("op", str(lit("")))), Some(document))

  private def message(meta: Column, data: Option[Column]): Column =
    concat(Seq(lit("{\"meta\":"), meta) ++
      data.toSeq.flatMap(d => Seq(lit(",\"data\":"), d)) :+ lit("}"): _*)

  /** What [[encode]] writes, ext-JSON type tags as nested structs. */
  val schema: StructType = StructType(Seq(
    StructField("meta", StructType(Seq(
      StructField("_id", StructType(Seq(StructField("$numberLong", StringType)))),
      StructField("ts", StructType(Seq(
        StructField("$date", StructType(Seq(StructField("$numberLong", StringType))))))),
      StructField("ns", StringType),
      StructField("op", StringType)))),
    StructField("data", StructType(Seq(
      StructField("user_id", StructType(Seq(StructField("$numberLong", StringType)))),
      StructField("value", StructType(Seq(StructField("$numberDouble", StringType)))),
      StructField("props", StringType))))))

  /** A decoded `data` root as the op log's document columns. */
  def document(root: Column): Seq[Column] = Seq(
    root.getField("user_id").getField("$numberLong").cast("long").as("user_id"),
    root.getField("value").getField("$numberDouble").cast("double").as("value"),
    root.getField("props").as("props"))
}
