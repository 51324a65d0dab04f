package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.config.EngineConfig
import graft.functions.ExtJson
import graft.operators.Router
import graft.plans.MongoPipeline
import graft.sources.TableCatalog
import graft.streaming.Envelope

/** Facade tying [[EngineConfig]] to jobs — the switch-over surface for
  * a reference user: the same config sections (direct-read
  * namespaces, per-namespace pipelines, producer maps, topic prefix)
  * drive batch direct reads here and the streaming producer in
  * [[graft.streaming.ChangeStreamJob]].
  */
object GraftEngine {

  /** Schema-driven canonical Extended-JSON document for a whole row —
    * the generic form of the reference's `MarshalExtJSON(doc)`:
    * every column encoded by its Spark type, in schema order.
    */
  def encodeDocument(schema: StructType): Column =
    ExtJson.obj(schema.fields.toSeq.map { f =>
      val v = f.dataType match {
        case LongType | IntegerType | ShortType => ExtJson.numberLong(col(f.name))
        case DoubleType | FloatType => ExtJson.numberDouble(col(f.name))
        case TimestampType => ExtJson.date(col(f.name))
        case BooleanType => when(col(f.name), "true").otherwise("false")
        case _ => ExtJson.str(col(f.name).cast("string"))
      }
      ExtJson.field(f.name, v)
    }: _*)

  /** Direct-read producer for one namespace: full scan → optional
    * `direct=true` pipeline → `(topic, key, value)` messages with the
    * direct-source envelope (`op=""`, route81.go:1376-1381). Narrow
    * except what the pipeline itself needs.
    */
  def directReadMessages(spark: SparkSession, cfg: EngineConfig,
                         dir: String, ns: String): DataFrame = {
    val cat = TableCatalog(spark, dir)
    val table = ns.split("\\.", 2).last
    val base = cat.table(table)
    val piped = cfg.pipelineFor(ns, stream = false)
      .map(MongoPipeline(base, _, cat.table)).getOrElse(base)
    val idCol = piped.columns.head
    piped.select(
      Router.topic(lit(ns), cfg.producerMaps, cfg.topicPrefix).as("topic"),
      col(idCol).cast("string").as("key"),
      Envelope.direct(col(idCol), ns, encodeDocument(piped.schema)).as("value"))
  }

  /** All configured direct reads, unioned — `exit-after-direct-reads`
    * is simply this batch job completing.
    */
  def allDirectReads(spark: SparkSession, cfg: EngineConfig, dir: String): DataFrame =
    cfg.directReadNamespaces.map(directReadMessages(spark, cfg, dir, _))
      .reduce(_ unionByName _)
}
