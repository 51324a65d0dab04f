package graft.streaming

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import scala.jdk.CollectionConverters._
import scala.util.Try

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A file-backed topic log with Kafka's delivery semantics — the
  * closest end-to-end analogue of the reference's produce/consume loop
  * (route81.go:1400-1441 producer, :982-1205 consumer) that runs in an
  * offline sandbox (no broker, no kafka artifacts on the classpath).
  *
  * What the reference's consumer actually RELIES on from Kafka is
  * narrow and fully reproducible:
  *   1. keyed messages land on partition `murmur(key) % n` — so every
  *      message for one document id lives in ONE partition;
  *   2. offsets are strictly ordered within a partition — so per-key
  *      arrival order is total and equals producer send order;
  *   3. consumers resume from committed offsets.
  * This object models (1) with `pmod(hash(key), n)` (Spark's Murmur3 —
  * same invariant, different constant), (2) with a per-(topic,
  * partition) `row_number` over the producer's send sequence — exactly
  * a broker's sequential append — and (3) with the file-stream source's
  * checkpointed file tracking. A broker's per-partition high-water
  * marks are an offsets record that each [[appendTo]] leaves beside the
  * data, so an append reads no log file; see [[appendTo]] for when the
  * record is trusted and the single-appender assumption. Everything is
  * deterministic column algebra, so the whole loop is oracle-testable.
  *
  * Scale note: the offset window sorts per (topic, partition) — the
  * same per-partition sequencing work a real broker does at append
  * time, sharded across the cluster by the shuffle. Nothing is global.
  */
object KafkaLog {

  /** Data columns of a log record (topic/partition become directory
    * levels, mirroring a broker's on-disk layout).
    */
  val recordSchema: StructType = StructType(Seq(
    StructField("key", StringType),
    StructField("value", StringType),
    StructField("offset", LongType),
    StructField("topic", StringType),
    StructField("partition", IntegerType)))

  /** Broker append: assign each (topic, key, value) message a
    * partition by key hash and a dense per-partition offset ordered by
    * the producer's send sequence `seqCol`. `base` (the next offset per
    * (topic, partition) of the existing log, see [[appendTo]]) continues
    * each partition's offsets from the log's high-water mark — without
    * it a second append would restart at 0 and collide with
    * already-delivered offsets. It is a literal map looked up per row,
    * so no join or broadcast job is planned. `highWater`, when given,
    * collects the next offset of every (topic, partition) this frame
    * touches once it is written: a partition's last record is the row
    * with no `lead` in the offset window, so the existing window
    * computes it and no shuffle is added.
    */
  def append(messages: DataFrame, numPartitions: Int, seqCol: String,
             base: Map[(String, Int), Long] = Map.empty,
             highWater: Option[Observation] = None): DataFrame = {
    val w = Window.partitionBy(col("topic"), col("partition"))
      .orderBy(col(seqCol))
    val rel = messages
      .withColumn("partition", pmod(hash(col("key")), lit(numPartitions)).cast("int"))
      .withColumn("__rel", row_number().over(w).cast("long") - 1)
      .withColumn("__last", lead(col(seqCol), 1).over(w).isNull)
    val offs =
      if (base.isEmpty) rel.withColumn("offset", col("__rel"))
      else {
        val next = base.groupMap(_._1._1) { case ((_, p), o) => p -> o }
          .map { case (t, ps) => t -> ps.toMap }
        rel.withColumn("offset", col("__rel") +
          coalesce(typedLit(next).apply(col("topic"))(col("partition")), lit(0L)))
      }
    highWater.fold(offs)(offs.observe(_, collect_list(when(col("__last"),
      struct(col("topic"), col("partition"), col("offset") + 1))).as("next")))
      .select("key", "value", "offset", "topic", "partition")
  }

  /** Next offset per (topic, partition) of an existing log — the
    * high-water marks a broker keeps per partition — by a full scan of
    * the log's offset column (two Spark jobs whose input grows with
    * the log). [[appendTo]] reads its offsets record instead and falls
    * back to this only when the record does not cover the log's files.
    */
  def highWater(spark: SparkSession, dir: String): Map[(String, Int), Long] =
    spark.read.schema(recordSchema).parquet(dir)
      .groupBy("topic", "partition")
      .agg(max(col("offset")) + 1)
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap

  /** Persist appended records under `dir/topic=<t>/partition=<p>/`. */
  def write(records: DataFrame, dir: String): Unit =
    records.write.mode("append").partitionBy("topic", "partition").parquet(dir)

  /** Name of the offsets record under the log root. The leading `_`
    * hides it from Spark's file index and the streaming file source.
    */
  val OffsetsRecord = "_offsets"

  /** Produce-to-log: continue offsets from the live log and append —
    * the full broker-side send path.
    *
    * The base offsets come from the offsets record that the previous
    * append left (the Structured Streaming offset log's role, and
    * route81's saved resume position, route81.go:199-224): the next
    * offset per (topic, partition) plus the count and digest of the
    * data files it covers. Before appending, the log tree is listed on
    * the driver (a listing, not a job):
    *  - no data files: the base is empty;
    *  - the record covers exactly the listed files: its offsets are
    *    the base;
    *  - otherwise — a crash between the data commit and the record
    *    write, a log written before records existed, or a writer that
    *    bypassed `appendTo` — the base is the full-scan [[highWater]].
    * After the data write commits, the new high-water (the base plus
    * the observed last offset of every touched partition) is written
    * to a temp file and renamed over the record. A missing or stale
    * record only costs the next append a full scan, never an offset.
    *
    * Like a Kafka partition leader, which serializes appends to a
    * partition, this assumes one appender per log at a time.
    */
  def appendTo(spark: SparkSession, dir: String, messages: DataFrame,
               numPartitions: Int, seqCol: String): Unit = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val files = if (fs.exists(root)) dataFiles(fs, root) else Nil
    val base =
      if (files.isEmpty) Map.empty[(String, Int), Long]
      else readRecord(fs, root).collect {
        case (covered, next) if covered == fileDigest(files) => next
      }.getOrElse(highWater(spark, dir))
    val observed = Observation("kafkalog.high-water")
    write(append(messages, numPartitions, seqCol, base, Some(observed)), dir)
    val next = base ++ observed.get("next").asInstanceOf[scala.collection.Seq[Row]]
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2))
    writeRecord(fs, root, fileDigest(dataFiles(fs, root)), next)
  }

  /** Data files of the log relative to its root, sorted; a name
    * starting with `_` or `.` (the record, `_SUCCESS`, checksums,
    * `_temporary`) is skipped, as Spark's file index skips it. Walks
    * with `listStatus`: a recursive `listFiles` builds a
    * `LocatedFileStatus` per file, which copies the file's owner and
    * permission, and the local file system reads those with a forked
    * shell command per file (measured at about 4 ms a file on a 4-vCPU
    * VM, 184 ms for a 44-file log, against 5 ms for this walk).
    */
  private def dataFiles(fs: FileSystem, root: Path): Seq[String] = {
    def walk(dir: Path, rel: String): Seq[String] =
      fs.listStatus(dir).toSeq.flatMap { st =>
        val name = st.getPath.getName
        if (name.startsWith("_") || name.startsWith(".")) Nil
        else if (st.isDirectory) walk(st.getPath, s"$rel$name/")
        else Seq(rel + name)
      }
    walk(root, "").sorted
  }

  /** "<count>:<sha-256 of the sorted names>" — what a record covers. */
  private def fileDigest(files: Seq[String]): String = {
    val sha = MessageDigest.getInstance("SHA-256")
      .digest(files.mkString("\n").getBytes(StandardCharsets.UTF_8))
    s"${files.size}:" + sha.map(b => f"$b%02x").mkString
  }

  private val mapper = new ObjectMapper()

  /** The record's (file digest, next offsets), or None when it is
    * absent or unreadable.
    */
  private def readRecord(fs: FileSystem, root: Path)
      : Option[(String, Map[(String, Int), Long])] =
    Try {
      val in = fs.open(new Path(root, OffsetsRecord))
      val node = try mapper.readTree(in) finally in.close()
      node.get("files").asText() -> node.get("next").elements().asScala.map(n =>
        (n.get("topic").asText(), n.get("partition").asInt()) -> n.get("offset").asLong())
        .toMap
    }.toOption

  private def writeRecord(fs: FileSystem, root: Path, files: String,
                          next: Map[(String, Int), Long]): Unit = {
    val node = mapper.createObjectNode().put("files", files)
    val arr = node.putArray("next")
    next.toSeq.sorted.foreach { case ((t, p), o) =>
      arr.addObject().put("topic", t).put("partition", p).put("offset", o)
    }
    val rec = new Path(root, OffsetsRecord)
    val tmp = new Path(root, OffsetsRecord + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(mapper.writeValueAsBytes(node)) finally out.close()
    // a file system whose rename does not replace (HDFS) needs the old
    // record gone first; a crash in between leaves no record, which
    // the next append repairs by a full scan
    if (!fs.rename(tmp, rec)) {
      fs.delete(rec, false)
      fs.rename(tmp, rec): Unit
    }
  }

  /** Consumer subscription: a streaming scan of the log directory.
    * The checkpoint dir given to the query is the committed-offset
    * store (route81.go:199-224's resume names, file-source flavored).
    */
  def subscribe(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(recordSchema).parquet(dir)

  /** The exact DataFrame schema the `spark-sql-kafka-0-10` connector
    * presents for a real broker subscription (public connector
    * contract; `headers` appears only under `includeHeaders=true` and
    * is omitted here like the connector's default). Field names,
    * types, and order all match, so swapping this modeled log for
    * `spark.readStream.format("kafka")` is a source-config change,
    * not a refactor — KafkaLogSpec asserts the parity.
    */
  val wireSchema: StructType = StructType(Seq(
    StructField("key", BinaryType),
    StructField("value", BinaryType),
    StructField("topic", StringType),
    StructField("partition", IntegerType),
    StructField("offset", LongType),
    StructField("timestamp", TimestampType),
    StructField("timestampType", IntegerType)))

  /** Adapt log records (batch or streaming) to [[wireSchema]]:
    * key/value as the UTF-8 bytes a broker would return (consumers
    * downstream `CAST(value AS STRING)` exactly as they would against
    * the real connector). `timestamp` is a MODELED CreateTime —
    * deterministic `timestamp_micros(offset)`, monotone per partition
    * like a broker's append clock; a real broker supplies wall-clock
    * time here, which no offline model can reproduce. timestampType 0
    * = CreateTime.
    */
  def toWire(records: DataFrame): DataFrame =
    records.select(
      col("key").cast("binary").as("key"),
      col("value").cast("binary").as("value"),
      col("topic"),
      col("partition"),
      col("offset"),
      timestamp_micros(col("offset")).as("timestamp"),
      lit(0).as("timestampType"))

  /** [[subscribe]] presented through the real connector's schema. */
  def subscribeWire(spark: SparkSession, dir: String): DataFrame =
    toWire(subscribe(spark, dir))

  /** Log compaction (Kafka `cleanup.policy=compact`, the topic mode a
    * CDC sync like the reference targets): retain only the LATEST
    * record per key within each (topic, partition) — sound because the
    * consumer folds to last-write-wins anyway — and drop keys whose
    * latest record is a tombstone (null value), Kafka's delete marker.
    * Offsets of survivors are preserved (compaction never renumbers).
    * One keyed aggregation; since a key lives in exactly one partition
    * (broker invariant 1), compaction shards perfectly at any scale.
    */
  def compact(records: DataFrame): DataFrame =
    records
      .groupBy(col("topic"), col("partition"), col("key"))
      .agg(max_by(struct(col("value"), col("offset")), col("offset"))
        .as("__last"))
      .filter(col("__last.value").isNotNull)
      .select(col("key"), col("__last.value").as("value"),
        col("__last.offset").as("offset"), col("topic"), col("partition"))
}
