package graft

import org.apache.spark.sql.functions._

import graft.operators.{Cdc, GridFs, Router}
import graft.sources.TableCatalog

class CdcSpec extends SparkTestBase {

  private lazy val t = TableCatalog(spark, sfDir)
  private lazy val log = Cdc.eventsAsOpLog(t.events)

  test("latestState drops keys whose final op is a delete") {
    val lastOps = log.groupBy("id")
      .agg(max_by(col("op"), struct(col("ts"), col("event_id"))).as("op"))
    val deleted = lastOps.filter(col("op") === "d").count()
    val users = log.select("id").distinct().count()
    assert(Cdc.latestState(log).count() == users - deleted)
  }

  test("/stats JSON contract: valid JSON, Go field order + 4-space indent, counters agree with A4") {
    val json = Cdc.clientStatsJson(log, Cdc.classify(log))
      .head().getString(0)
    // parses as JSON with route81's exact nesting and field names
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    val prod = root.get("producer"); val cons = root.get("consumer")
    assert(prod != null && cons != null)
    import scala.jdk.CollectionConverters._
    assert(prod.properties().asScala.toSeq.map(_.getKey) ==
      Seq("success", "failed", "inserted", "updated", "removed",
        "dropped", "queued"), "producer field order must match the Go struct")
    assert(cons.properties().asScala.toSeq.map(_.getKey) ==
      Seq("success", "failed", "queued"))
    // counters agree with the A4 stats frame
    val a4 = Cdc.stats(log).head()
    assert(prod.get("inserted").asLong() == a4.getAs[Long]("inserted"))
    assert(prod.get("updated").asLong() == a4.getAs[Long]("updated"))
    assert(prod.get("removed").asLong() == a4.getAs[Long]("removed"))
    assert(prod.get("success").asLong() == a4.getAs[Long]("total"))
    assert(prod.get("failed").asLong() == 0 && prod.get("queued").asLong() == 0)
    assert(cons.get("success").asLong() == Cdc.classify(log).count())
    // byte format IS MarshalIndent("", "    "): 4-space indent, no
    // trailing newline
    assert(json.startsWith("{\n    \"producer\": {\n        \"success\": "))
    assert(json.endsWith("\n    }\n}"))
  }

  test("applyTo(latest(first half), second half) == latest(whole log)") {
    // halves split on time order, so folding then applying must equal
    // folding the full log — the consumer path is exactly resumable.
    val n = log.agg(max("event_id")).head.getLong(0) / 2
    val base = Cdc.latestState(log.filter(col("event_id") <= n))
    val applied = Cdc.applyTo(base,
      Cdc.latestWithDeletes(log.filter(col("event_id") > n)), "user_id")
    val full = Cdc.latestState(log)
    assert(applied.exceptAll(full).isEmpty && full.exceptAll(applied).isEmpty)
  }

  test("router: first matching rule wins, prefix matches, fallthrough keeps ns") {
    val df = spark.createDataFrame(Seq(
      Tuple1("test.purchase"), Tuple1("test.click"), Tuple1("other.db")
    )).toDF("ns")
    val out = df.select(Router.topic(col("ns"), Seq(
      Router.ProducerMap("test.purchase", "sales"),
      Router.ProducerMap("test", "catchall")), "p").as("t"))
      .collect().map(_.getString(0)).toSeq
    assert(out == Seq("p.sales", "p.catchall", "p.other.db"))
  }

  test("gridfs chunks: empty content yields zero chunks, not phantom rows") {
    import spark.implicits._
    val docs = Seq((1L, ""), (2L, "x" * 300)).toDF("doc_id", "text")
    val rows = GridFs.chunks(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(rows.toSet == Set((2L, 0), (2L, 1)))
  }

  test("ext-json escape keeps control characters as valid JSON") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq("a\nb\t\"c\"\\d").toDF("s")
      .select(graft.functions.ExtJson.str(col("s")).as("j"))
    val j = df.head.getString(0)
    assert(j == "\"a\\nb\\t\\\"c\\\"\\\\d\"", j)
    // must round-trip through from_json
    val back = df.select(from_json(concat(lit("{\"v\":"), col("j"), lit("}")),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.StringType)))).getField("v"))
      .head.getString(0)
    assert(back == "a\nb\t\"c\"\\d")
  }

  test("gridfs chunks reassemble to the original text") {
    val doc = t.documents.filter(col("doc_id") === 1)
    val reassembled = GridFs.chunks(doc, "doc_id", "text")
      .orderBy("n").agg(concat_ws("", collect_list("data"))).head.getString(0)
    val original = doc.head.getAs[String]("text")
    assert(reassembled == original)
  }

  test("classify marks exactly the delete ops as deletes") {
    val byAction = Cdc.classify(log).groupBy("action").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val deletes = log.filter(col("op") === "d").count()
    assert(byAction("delete") == deletes)
    assert(byAction("upsert") == log.count() - deletes)
  }
}
