package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** CDC envelope operators (SURVEY.md §2 groups A and D).
  *
  * The reference wraps every MongoDB document/op in
  * `{meta:{_id, ts, ns, op, updates}, data:{...}}`
  * (/root/reference/route81.go:56-67) and, on the consumer side, folds
  * such messages back into a collection with upsert/delete bulk writes
  * (route81.go:1071-1131). Here both directions are expressed as
  * single-shuffle DataFrame transforms keyed by the document id — the
  * partitioning a 1000-executor cluster would want: everything about
  * one key lands in one task, and partial aggregation keeps the
  * shuffle proportional to distinct keys, not events.
  */
object Cdc {

  /** The events table replayed as an op log (SURVEY.md §4 mapping:
    * signup→i, click/view/purchase→u, error→d). Delete ops carry no
    * data, mirroring the reference's delete messages (README §remove).
    */
  def eventsAsOpLog(events: DataFrame, ns: String = "test.events"): DataFrame =
    events.select(
      col("event_id"),
      col("ts"),
      col("user_id").cast("string").as("id"),
      lit(ns).as("ns"),
      when(col("event_type") === "signup", "i")
        .when(col("event_type") === "error", "d")
        .otherwise("u").as("op"),
      when(col("event_type") =!= "error",
        struct(col("user_id"), col("value"), col("props"))).as("data")
    )

  /** A1: direct read — a full collection scan wrapped in the envelope
    * with `op=""` (route81.go:1376-1381: direct-source ops carry no
    * operation). Purely narrow: no shuffle, scan stays columnar.
    */
  def directRead(table: DataFrame, ns: String, idCol: String): DataFrame =
    table.select(
      col(idCol).cast("string").as("meta_id") +:
      lit(ns).as("meta_ns") +:
      lit("").as("meta_op") +:
      table.columns.map(col): _*
    )

  /** D2: fold an op log to latest state: one hash shuffle on id,
    * max_by(struct) with map-side partial aggregation — never a
    * row_number sort. Keys whose final op is a delete vanish.
    */
  def latestState(oplog: DataFrame): DataFrame =
    upserts(latestWithDeletes(oplog))

  /** Fold an op log to the last op per key, delete markers kept: the
    * `(id, deleted, doc)` frame [[applyTo]] applies (the message fold
    * [[graft.streaming.MessageConsumer.latest]] yields the same shape).
    */
  def latestWithDeletes(oplog: DataFrame): DataFrame =
    oplog
      .groupBy(col("id"))
      .agg(max_by(struct(col("op"), col("data")),
        struct(col("ts"), col("event_id"))).as("last"))
      .select(col("id"), (col("last.op") === "d").as("deleted"),
        col("last.data").as("doc"))

  /** The documents of a folded frame's upserted (not deleted) keys. */
  def upserts(latest: DataFrame): DataFrame =
    latest.filter(!col("deleted")).select(col("doc.*"))

  /** D3: consumer bulk-apply — ReplaceOne-upsert + DeleteOne semantics
    * (route81.go:1088-1117) of a folded `(id, deleted, doc)` frame
    * against an existing materialized state. Both sides hash-partition
    * on the key: one shuffle each for the anti-join and the union, and
    * AQE broadcasts `latest` when the op batch is small relative to the
    * base (the common CDC case). Applying the same frame twice leaves
    * the state of the first application.
    */
  def applyTo(base: DataFrame, latest: DataFrame, keyCol: String): DataFrame = {
    val untouched = base.join(latest.select(col("id")),
      base(keyCol).cast("string") === col("id"), "left_anti")
    untouched.unionByName(upserts(latest))
  }

  /** D1: upsert-vs-delete classification (route81.go:1019-1030): a
    * message whose document root is missing, or is only `{_id}`,
    * is a delete; the delete id comes from `delete-id-path` (here:
    * the envelope id).
    */
  def classify(oplog: DataFrame): DataFrame =
    oplog.select(
      col("event_id"),
      when(col("data").isNull, "delete").otherwise("upsert").as("action"),
      col("id").as("target_id")
    )

  /** A4: producer stats by op (route81.go:500-509,1302-1312). */
  def stats(oplog: DataFrame): DataFrame =
    oplog.agg(
      count(when(col("op") === "i", 1)).as("inserted"),
      count(when(col("op") === "u", 1)).as("updated"),
      count(when(col("op") === "d", 1)).as("removed"),
      count(lit(1)).as("total")
    )

  /** A12: the HTTP `/stats` endpoint's JSON document, byte for byte —
    * route81's one ops-surface with a data contract (route81.go:
    * 945-961 `json.MarshalIndent(stats, "", "    ")` over the
    * `clientStats` struct :488-509): producer counters
    * {success, failed, inserted, updated, removed, dropped, queued}
    * and consumer counters {success, failed, queued}, nested and
    * 4-space-indented exactly as Go emits them, field order pinned
    * by the struct. In the batch-replay model every produced message
    * is delivered (success = [[stats]]' total, the :1280-1298 delivery
    * callback), per-op counters are [[stats]]' (addEventType, :1301-1311; the
    * op log has no collection-drop events, so dropped = 0), and
    * failed/queued are 0 — a finished replay has no in-flight or
    * errored state. Consumer success counts applied messages
    * (:621-625). One row, one string column — a user scraping
    * route81's /stats parses this verbatim.
    */
  def clientStatsJson(oplog: DataFrame, consumed: DataFrame): DataFrame = {
    val c = consumed.agg(count(lit(1)).as("c_success"))
    stats(oplog).crossJoin(c).select(concat(
      lit("{\n    \"producer\": {\n        \"success\": "), col("total"),
      lit(",\n        \"failed\": 0,\n        \"inserted\": "), col("inserted"),
      lit(",\n        \"updated\": "), col("updated"),
      lit(",\n        \"removed\": "), col("removed"),
      lit(",\n        \"dropped\": 0,\n        \"queued\": 0\n    },\n" +
        "    \"consumer\": {\n        \"success\": "), col("c_success"),
      lit(",\n        \"failed\": 0,\n        \"queued\": 0\n    }\n}"))
      .as("stats_json"))
  }

  /** A3: update descriptions — `updates.changed`/`updates.removed`
    * (route81.go:1318-1328). Synthesized by diffing each update
    * against the key's previous version: a window over (id, time),
    * which at scale is the same single hash-partition by id with an
    * in-partition sort.
    */
  def updateDescriptions(oplog: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("id")).orderBy(col("ts"), col("event_id"))
    oplog
      .withColumn("prev_value", lag(col("data.value"), 1).over(w))
      .withColumn("prev_props", lag(col("data.props"), 1).over(w))
      .filter(col("op") === "u")
      .select(
        col("event_id"), col("id"),
        (!col("prev_value").eqNullSafe(col("data.value"))).as("value_changed"),
        (!col("prev_props").eqNullSafe(col("data.props"))).as("props_changed")
      )
  }

  /** A8: resume bookkeeping — the max processed (ts, event id) per
    * namespace, i.e. the value `saveTimestamp` would persist
    * (route81.go:833-851). Tiny agg, map-side partial.
    */
  def resumePoints(oplog: DataFrame): DataFrame =
    oplog.groupBy(col("ns"))
      .agg(max(col("ts")).as("resume_ts"), max(col("event_id")).as("resume_event"))

  /** A7: namespace filter (route81.go:163-179): drop the metadata db
    * and any consumer target namespace so the daemon never re-produces
    * its own writes.
    */
  def namespaceFilter(df: DataFrame, nsCol: String, metadataDb: String,
                      consumerNs: Seq[String]): DataFrame = {
    val notMeta = !col(nsCol).startsWith(metadataDb + ".")
    val notConsumer = consumerNs.foldLeft(notMeta)((acc, ns) => acc && col(nsCol) =!= ns)
    df.filter(notConsumer)
  }

  /** A6: document-id key formatting (route81.go:564-595): an
    * integral float renders without its fractional part; with
    * `ns=true` the namespace prefixes the id.
    */
  def docId(value: org.apache.spark.sql.Column,
            ns: Option[org.apache.spark.sql.Column] = None)
      : org.apache.spark.sql.Column = {
    val formatted = when(value.cast("double") === value.cast("long").cast("double"),
      value.cast("long").cast("string")).otherwise(value.cast("string"))
    ns.map(n => concat(n, lit("."), formatted)).getOrElse(formatted)
  }
}
