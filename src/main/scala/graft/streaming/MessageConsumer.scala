package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Cdc

/** The consumer direction on real encoded messages (SURVEY.md §2 D1):
  * decode ext-JSON values, pull the upsert document from
  * `document-root-path`, decide upsert-vs-delete (missing root or
  * `{_id}`-only ⇒ delete, route81.go:1019-1069), the delete id from
  * `delete-id-path`, and fold to final state in arrival order.
  * The whole chain is from_json + struct paths — codegen'd, and the
  * fold is the same single max_by shuffle as [[graft.operators.Cdc]].
  */
object MessageConsumer {

  /** Resolve a gval-style dotted path against a struct column. */
  def path(root: Column, dotted: String): Column =
    dotted.split('.').foldLeft(root)(_ getField _)

  /** Decode messages and classify each as upsert/delete with the
    * configured paths — the reference's per-message decision,
    * columnar.
    */
  def classify(messages: DataFrame, valueCol: String = "value",
               documentRootPath: String = "data",
               deleteIdPath: String = "meta._id.$numberLong"): DataFrame = {
    val j = from_json(col(valueCol), Envelope.schema)
    messages
      .withColumn("__j", j)
      .withColumn("__root", path(col("__j"), documentRootPath))
      .withColumn("action",
        when(col("__root").isNull, "delete").otherwise("upsert"))
      .withColumn("target_id", path(col("__j"), deleteIdPath))
  }

  /** Fold messages (with an arrival-order column, the Kafka-offset
    * analog) to the last action per key, delete markers kept: the
    * `(id, deleted, doc)` frame [[Cdc.applyTo]] applies.
    */
  def latest(messages: DataFrame, offsetCol: String): DataFrame =
    classify(messages)
      .groupBy(col("target_id"))
      .agg(max_by(struct(col("action"), col("__root").as("root")),
        col(offsetCol)).as("last"))
      .select(col("target_id").as("id"),
        (col("last.action") === "delete").as("deleted"),
        struct(Envelope.document(col("last.root")): _*).as("doc"))

  /** Final upsert state of a batch of messages: last writer per id
    * wins, trailing deletes drop the key.
    */
  def fold(messages: DataFrame, offsetCol: String): DataFrame =
    Cdc.upserts(latest(messages, offsetCol))
}
