package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Cdc, Router}
import graft.plans.{MongoPipeline, PipelineSinks}

/** Structured-Streaming assembly of the reference's producer/consumer
  * loops (SURVEY.md §2 E4): change stream in → optional aggregation
  * pipeline → Extended-JSON envelope + topic routing out; and the
  * consumer direction as a foreachBatch bulk upsert/delete into a
  * parquet target, the micro-batch twin of route81's bulk writer
  * (route81.go:1071-1131). Checkpoint location IS the resume feature
  * (route81.go:199-224): restart with the same checkpoint dir and the
  * stream continues after the last committed batch.
  */
object ChangeStreamJob {

  /** Producer transform: op-log rows → (topic, key, value) messages.
    * Works identically on batch and streaming DataFrames — the whole
    * transform is stateless column algebra.
    */
  def produce(oplog: DataFrame,
              pipelineJson: Option[String] = None,
              maps: Seq[Router.ProducerMap] = Nil,
              topicPrefix: String = ""): DataFrame = {
    val piped = pipelineJson.map(MongoPipeline(oplog, _)).getOrElse(oplog)
    piped.select(
      Router.topic(col("ns"), maps, topicPrefix).as("topic"),
      col("id").as("key"),
      Envelope.encode.as("value"),
      col("op"), col("ts"), col("event_id").as("seq"))
  }

  /** Consumer sink: a foreachBatch body applying a micro-batch of
    * produced messages to the parquet table at `targetDir`, upsert and
    * delete per key with `bulk-size` ≈ micro-batch. The batch folds to
    * its last action per key in `orderCol` order
    * ([[MessageConsumer.latest]]), [[Cdc.applyTo]] applies that to the
    * live target (a missing target starts as the batch's upserts), and
    * [[PipelineSinks.rewriteParquet]] swaps the result in as one
    * generation. Re-delivering a batch id after its swap — a retry
    * before the stream committed it — applies the same last actions
    * again and leaves the target's rows as they were.
    */
  def consumerSink(spark: SparkSession, targetDir: String, orderCol: String)
                  (batch: DataFrame, batchId: Long): Unit = {
    val latest = MessageConsumer.latest(batch, orderCol)
    // user_id is the document field meta._id is drawn from
    PipelineSinks.rewriteParquet(spark, targetDir)(
      _.fold(Cdc.upserts(latest))(Cdc.applyTo(_, latest, "user_id")))
  }
}
