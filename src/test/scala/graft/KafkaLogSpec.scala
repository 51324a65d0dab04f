package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ListBuffer

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.{Cdc, Router}
import graft.sources.TableCatalog
import graft.streaming.{ChangeStreamJob, KafkaLog, MessageConsumer}

/** The reference's full produce/consume loop (route81.go:1400-1441 →
  * :982-1205) end-to-end against a broker-semantics topic log:
  * envelope encode + producer-map routing → keyed partition assignment
  * + per-partition offsets → checkpointed streaming consumption in two
  * resumed passes → ext-JSON decode → upsert/delete fold — and the
  * folded state must equal folding the op log directly (the consumer
  * reconstructs exactly what the producer saw).
  */
class KafkaLogSpec extends SparkTestBase {

  test("Kafka-loop analogue: produce → log → resume-consume → decode → fold ≡ direct fold") {
    val logDir = Files.createTempDirectory("graft-kafka-log").toString
    val ckpt = Files.createTempDirectory("graft-kafka-ckpt").toString
    val t = TableCatalog(spark, sfDir)
    val oplog = Cdc.eventsAsOpLog(t.events).cache()

    // Producer: envelope + first-match topic routing, then broker
    // append — partition by key hash, dense offsets in send order.
    val messages = ChangeStreamJob.produce(oplog,
      maps = Seq(Router.ProducerMap("test", "events-topic")), topicPrefix = "g")
    val total = messages.count()

    // Two REAL broker appends: the second continues each partition's
    // offsets from the log's high-water mark, and the consumer's
    // second query genuinely RESUMES from the checkpoint rather than
    // re-reading from offset 0.
    val mid = messages.selectExpr("cast(percentile(seq, 0.5) as long)")
      .first().getLong(0)
    KafkaLog.appendTo(spark, logDir,
      messages.filter(col("seq") <= mid), numPartitions = 4, seqCol = "seq")

    val received = ListBuffer[Row]()
    def consumeAvailable(): Unit = {
      val classified = MessageConsumer.classify(
        KafkaLog.subscribe(spark, logDir).filter(col("topic") === "g.events-topic"))
        .select("key", "value", "topic", "partition", "offset", "action", "target_id")
      val q = classified.writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          received.synchronized { received ++= batch.collect() }
          ()
        }
        .start()
      q.awaitTermination()
    }

    consumeAvailable() // first subscription: the prefix
    val afterFirst = received.size
    assert(afterFirst > 0 && afterFirst < total,
      s"first pass should see a strict prefix, got $afterFirst of $total")

    KafkaLog.appendTo(spark, logDir,
      messages.filter(col("seq") > mid), numPartitions = 4, seqCol = "seq")
    consumeAvailable() // resumed subscription: only the new append

    // Exactly-once across the resume: every (partition, offset) seen
    // exactly once, nothing re-delivered, nothing lost.
    assert(received.size == total, s"expected $total messages, got ${received.size}")
    val seen = received.map(r => (r.getAs[Int]("partition"), r.getAs[Long]("offset")))
    assert(seen.distinct.size == total, "duplicate (partition, offset) delivered")

    // Offsets are dense per partition across BOTH appends (the second
    // continued from the high-water mark instead of restarting at 0).
    seen.groupBy(_._1).foreach { case (p, po) =>
      val offs = po.map(_._2).sorted
      assert(offs == (0L until offs.size.toLong),
        s"partition $p offsets not dense: ${offs.take(5)}...")
    }

    // Kafka's key-affinity invariant: all messages of one document id
    // in exactly one partition (what makes per-key offset order total).
    import spark.implicits._
    val receivedDf = spark.createDataFrame(
      spark.sparkContext.parallelize(received.toSeq, 4),
      StructTypeOf.of(received.head))
    val multiHomed = receivedDf.groupBy("key")
      .agg(countDistinct("partition").as("np")).filter($"np" > 1).count()
    assert(multiHomed == 0, "a key spanned partitions")

    // Consumer fold on offsets ≡ direct CDC fold on the op log.
    val folded = MessageConsumer.fold(receivedDf, "offset")
      .select("user_id", "value", "props").collect().toSet
    val direct = Cdc.latestState(oplog)
      .select("user_id", "value", "props").collect().toSet
    assert(folded == direct,
      s"consumer state diverged: ${folded.size} vs ${direct.size} rows")
    oplog.unpersist()
  }

  test("wire contract: subscribeWire presents exactly the spark-sql-kafka-0-10 schema") {
    val logDir = Files.createTempDirectory("graft-kafka-wire").toString
    import spark.implicits._
    val msgs = Seq(("k1", "v1", 1L), ("k2", "v2", 2L), ("k1", "v3", 3L))
      .toDF("key", "value", "seq")
      .withColumn("topic", lit("t"))
    KafkaLog.appendTo(spark, logDir, msgs, numPartitions = 2, seqCol = "seq")

    // schema parity with the real connector: names, types, AND order —
    // a consumer query written against format("kafka") must analyze
    // unchanged against this source
    val wire = KafkaLog.subscribeWire(spark, logDir)
    assert(wire.isStreaming)
    assert(wire.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      KafkaLog.wireSchema.fields.map(f => (f.name, f.dataType)).toSeq,
      s"wire schema drift: ${wire.schema.treeString}")

    // the canonical connector consumer expression round-trips values
    val batchWire = KafkaLog.toWire(
      spark.read.schema(KafkaLog.recordSchema).parquet(logDir))
    val back = batchWire
      .selectExpr("CAST(key AS STRING) AS k", "CAST(value AS STRING) AS v",
        "timestampType", "timestamp")
      .collect()
    assert(back.map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("k1", "v1"), ("k2", "v2"), ("k1", "v3")))
    assert(back.forall(r => r.getInt(2) == 0 && r.getTimestamp(3) != null))
  }

  test("log compaction keeps the latest record per key, drops tombstones, preserves offsets") {
    import spark.implicits._
    // synthetic log: key k1 updated twice then alive; k2 ends in a
    // tombstone (null value); k3 single record
    val msgs = Seq(
      ("t", "k1", "v1", 1L), ("t", "k2", "v2", 2L), ("t", "k1", "v3", 3L),
      ("t", "k3", "v4", 4L), ("t", "k2", null, 5L), ("t", "k1", "v5", 6L))
      .toDF("topic", "key", "value", "seq")
    val log = KafkaLog.append(msgs, numPartitions = 4, seqCol = "seq")
    val compacted = KafkaLog.compact(log).collect()
    val byKey = compacted.map(r => r.getAs[String]("key") -> r).toMap
    assert(compacted.length == 2, s"expected k1,k3 only: ${compacted.mkString(",")}")
    assert(byKey("k1").getAs[String]("value") == "v5")
    assert(byKey("k3").getAs[String]("value") == "v4")
    // offsets/partitions preserved from the original records
    val origK1 = log.filter(col("key") === "k1" && col("value") === "v5").first()
    assert(byKey("k1").getAs[Long]("offset") == origK1.getAs[Long]("offset") &&
      byKey("k1").getAs[Int]("partition") == origK1.getAs[Int]("partition"))

    // real pipeline: consumer fold over the COMPACTED events log must
    // equal the fold over the full log (Kafka's compaction guarantee)
    val t = TableCatalog(spark, sfDir)
    val oplog = Cdc.eventsAsOpLog(t.events)
    val messages = ChangeStreamJob.produce(oplog,
      maps = Seq(Router.ProducerMap("test", "events-topic")), topicPrefix = "g")
    val full = KafkaLog.append(messages, numPartitions = 4, seqCol = "seq")
    def folded(records: org.apache.spark.sql.DataFrame) =
      MessageConsumer.fold(MessageConsumer.classify(records), "offset")
        .select("user_id", "value", "props").collect().toSet
    assert(folded(KafkaLog.compact(full)) == folded(full),
      "fold over compacted log diverged from fold over full log")
  }

  test("capstone: full daemon loop — envelope → broker log → streaming consume → merge into a LIVE parquet target ≡ direct fold") {
    val logDir = Files.createTempDirectory("graft-capstone-log").toString
    val ckpt = Files.createTempDirectory("graft-capstone-ckpt").toString
    val target = Files.createTempDirectory("graft-capstone-tgt").toString + "/state"
    val t = TableCatalog(spark, sfDir)
    val oplog = Cdc.eventsAsOpLog(t.events).cache()

    // producer side: two broker appends (steady-state produce loop)
    val messages = ChangeStreamJob.produce(oplog,
      maps = Seq(Router.ProducerMap("test", "events-topic")), topicPrefix = "g")
    val mid = messages.selectExpr("cast(percentile(seq, 0.5) as long)")
      .first().getLong(0)
    KafkaLog.appendTo(spark, logDir,
      messages.filter(col("seq") <= mid), numPartitions = 4, seqCol = "seq")

    // consumer side: each micro-batch folds to per-key last action and
    // applies upserts + deletes to the live parquet target — route81's
    // bulk writer against a real table, batch boundaries respecting
    // per-partition offset order
    def consumeApply(): Unit = {
      val q = KafkaLog.subscribe(spark, logDir).filter(col("topic") === "g.events-topic")
        .writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch(ChangeStreamJob.consumerSink(spark, target, "offset") _)
        .start()
      q.awaitTermination()
    }

    consumeApply()
    KafkaLog.appendTo(spark, logDir,
      messages.filter(col("seq") > mid), numPartitions = 4, seqCol = "seq")
    consumeApply()

    val fromTarget = spark.read.parquet(target)
      .select("user_id", "value", "props").collect().toSet
    val direct = Cdc.latestState(oplog)
      .select("user_id", "value", "props").collect().toSet
    assert(fromTarget == direct,
      s"persisted target diverged: ${fromTarget.size} vs ${direct.size} rows")
    oplog.unpersist()
  }

  /** Messages of one topic with send sequence `from until until`. */
  private def batch(from: Long, until: Long) = {
    import spark.implicits._
    (from until until).map(i => (s"k${i % 13}", s"v$i", i)).toDF("key", "value", "seq")
      .withColumn("topic", lit("t"))
  }

  /** Offsets of the whole log are dense per partition with no
    * collision, and the record holds what a full scan reads.
    */
  private def assertDense(logDir: String, rows: Long): Unit = {
    val got = spark.read.schema(KafkaLog.recordSchema).parquet(logDir)
      .select("partition", "offset").collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    assert(got.length == rows, s"expected $rows records, got ${got.length}")
    got.groupBy(_._1).foreach { case (p, po) =>
      assert(po.map(_._2).sorted.toSeq == (0L until po.length.toLong),
        s"partition $p offsets not dense: ${po.map(_._2).sorted.take(8).mkString(",")}")
    }
    val record = new String(Files.readAllBytes(
      Paths.get(logDir, KafkaLog.OffsetsRecord)), "UTF-8")
    KafkaLog.highWater(spark, logDir).foreach { case ((t, p), next) =>
      assert(record.contains(s""""topic":"$t","partition":$p,"offset":$next}"""),
        s"record misses ($t, $p) -> $next: $record")
    }
  }

  test("offsets record: a crash after the data commit (no record) recovers the full-scan high-water") {
    val logDir = Files.createTempDirectory("graft-kafka-crash").toString
    KafkaLog.appendTo(spark, logDir, batch(0, 40), numPartitions = 3, seqCol = "seq")
    // the append's data committed but its record was never written
    Files.delete(Paths.get(logDir, KafkaLog.OffsetsRecord))
    KafkaLog.appendTo(spark, logDir, batch(40, 70), numPartitions = 3, seqCol = "seq")
    assertDense(logDir, 70)
  }

  test("offsets record: a record covering another file set than the log holds is not trusted") {
    val logDir = Files.createTempDirectory("graft-kafka-stale").toString
    val record = Paths.get(logDir, KafkaLog.OffsetsRecord)
    KafkaLog.appendTo(spark, logDir, batch(0, 40), numPartitions = 3, seqCol = "seq")
    val first = Files.readAllBytes(record)
    KafkaLog.appendTo(spark, logDir, batch(40, 70), numPartitions = 3, seqCol = "seq")
    // roll the record back: it now covers only the first append's files
    Files.write(record, first)
    KafkaLog.appendTo(spark, logDir, batch(70, 90), numPartitions = 3, seqCol = "seq")
    assertDense(logDir, 90)
    // a writer that bypasses appendTo leaves the record stale too
    KafkaLog.write(KafkaLog.append(batch(90, 100), 3, "seq",
      KafkaLog.highWater(spark, logDir)), logDir)
    KafkaLog.appendTo(spark, logDir, batch(100, 120), numPartitions = 3, seqCol = "seq")
    assertDense(logDir, 120)
  }

  test("appendTo of no messages keeps the log's offsets") {
    val logDir = Files.createTempDirectory("graft-kafka-empty").toString
    KafkaLog.appendTo(spark, logDir, batch(0, 0), numPartitions = 3, seqCol = "seq")
    KafkaLog.appendTo(spark, logDir, batch(0, 40), numPartitions = 3, seqCol = "seq")
    KafkaLog.appendTo(spark, logDir, batch(40, 40), numPartitions = 3, seqCol = "seq")
    KafkaLog.appendTo(spark, logDir, batch(40, 70), numPartitions = 3, seqCol = "seq")
    assertDense(logDir, 70)
  }

  test("appendTo on a non-empty log launches as many jobs as the first append (no high-water scan)") {
    val logDir = Files.createTempDirectory("graft-kafka-jobs").toString
    val (first, _) = jobsOutsideSql(
      KafkaLog.appendTo(spark, logDir, batch(0, 40), numPartitions = 3, seqCol = "seq"))
    val (second, _) = jobsOutsideSql(
      KafkaLog.appendTo(spark, logDir, batch(40, 80), numPartitions = 3, seqCol = "seq"))
    assert(first > 0 && second == first,
      s"first append ran $first jobs, the second $second")
    assertDense(logDir, 80)
  }
}

/** Schema helper: rebuild a StructType from a collected Row. */
private object StructTypeOf {
  def of(r: Row): org.apache.spark.sql.types.StructType = r.schema
}
