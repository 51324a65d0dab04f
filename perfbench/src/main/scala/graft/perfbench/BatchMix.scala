package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.{Seams, SparkEntry}
import graft.operators.Dedup
import graft.sources.TableCatalog
import graft.streaming.CurationJob

/** graft's batch side in one session: the LLM-curation daemon and the
  * registered query suite, interleaved.
  *
  * The curation daemon takes a seeded document stream in ascending-id
  * micro-batches through `CurationJob.applyBatch` with one fixed gate
  * stack — markup extraction, the Gopher rules and exact-fingerprint
  * novelty against the standing index — and index/data compaction every
  * [[CompactEvery]] batches. The optional gates (classifier, fuzzy,
  * semantic, span trim, kNN, search stats) are left out: with them a batch
  * costs several times as much, and a run would fit too few batches.
  *
  * The query suite runs the registered `SparkEntry.queries` named in
  * `params.json`, `passes` times in the seed's order, over the generated
  * catalog. Each query is three spans: `plans.build` (the registry call,
  * which includes any `MongoPipeline` translation and analysis),
  * `plans.optimize` (forcing `queryExecution.executedPlan`) and `exec`
  * (`collect()`, which computes every output column). Its latency is the
  * sum of the three, its median over the passes; seams are released
  * outside the timing.
  *
  * Set-up (timed, `setups` times, fresh dirs): open the catalog and scan
  * every table, and stage the stream as one parquet shard per micro-batch.
  * Warm-up (untimed): [[WarmupBatches]] batches into a corpus of their own
  * and one pass of every query, so the window does not measure first-call
  * code generation. The timed window runs curation batch i, then the i-th
  * of `batches` equal slices of the query sequence, for every i: both
  * sides' samples spread over the whole window. After it, `DaemonSweep`'s
  * invariants for this gate stack are checked, and the last pass's rows
  * are written out for the DuckDB oracle check in `run.py`.
  */
object BatchMix {
  val CompactEvery = 2
  /** From the third batch on, every batch folds a compacted generation
    * with the shards after it; the warm-up runs that path once. */
  val WarmupBatches = CompactEvery + 1

  def family(name: String): String = name.takeWhile(_ != '_') match {
    case "pipe" => "plans"
    case "dedup" | "decon" => "dedup"
    case "text" | "vocab" | "bpe" | "classifier" => "text"
    case "sim" | "embed" => "similarity"
    case "cdc" | "consumer" | "resume" | "stats" | "msg" | "ns" | "topic" |
         "ext" | "json" | "gridfs" => "cdc"
    case _ => "other"
  }

  def run(spark: SparkSession, inDir: String, work: String, res: Result): Map[String, Double] = {
    val p = Json.read(s"$inDir/params.json")
    val batchDocs = p.get("batch_docs").asLong
    val nBatches = p.get("batches").asInt
    val order = p.get("queries").elements().asScala.map(_.asText).toSeq
    val tables = p.get("tables").elements().asScala.map(_.asText).toSeq
    val passCount = p.get("passes").asInt
    val setups = p.get("setups").asInt
    val registry = SparkEntry.queries
    val catalog = s"$inDir/tables"
    val docs = spark.read.parquet(s"$inDir/docs.parquet")

    // set-up: open the catalog (load and scan every table: one job) and
    // stage the stream as per-batch shards
    var stream: String = null
    val setupTimes = (1 to setups).flatMap { i =>
      val dir = s"$work/stream$i"
      val t0 = System.nanoTime()
      res.op(s"setup $i") {
        val cat = TableCatalog(spark, catalog)
        tables.map(t => cat.table(t).select(lit(1))).reduce(_ union _).count()
        docs.withColumn("batch", floor(col("doc_id") / batchDocs).cast("int"))
          .write.partitionBy("batch").parquet(dir)
      }.map { _ => stream = dir; Stats.secs(t0, System.nanoTime()) }
    }
    if (stream == null) return Map.empty
    def curate(i: Int, corpus: String): Unit =
      CurationJob.applyBatch(spark.read.parquet(s"$stream/batch=$i"), corpus,
        "doc_id", "text", batchId = i.toLong, compactEvery = CompactEvery,
        markup = true)

    (0 until math.min(WarmupBatches, nBatches)).foreach { i =>
      res.op(s"warm-up batch $i")(curate(i, s"$work/warmup"))
    }
    order.foreach { q =>
      res.op(s"warm-up $q") {
        try registry(q)(spark, catalog).collect() finally Seams.release()
      }
    }

    val corpus = s"$work/corpus"
    val batchTimes = mutable.ArrayBuffer.empty[Double]
    var docsDone = 0L
    var curating = true
    val sequence = Seq.fill(passCount)(order).flatten
    val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val last = mutable.HashMap.empty[String, (Array[Row], StructType)]
    Trace.newTrace()
    Trace.span("loop") {
      (0 until nBatches).foreach { i =>
        // a failed batch leaves the corpus behind the stream: later
        // batches would not be comparable, so the daemon stops
        if (curating) {
          val b0 = System.nanoTime()
          curating = res.op(s"batch $i")(Trace.span("curation.batch")(curate(i, corpus))).isDefined
          if (curating) {
            batchTimes += Stats.secs(b0, System.nanoTime())
            docsDone += batchDocs
          }
        }
        sequence.slice(i * sequence.size / nBatches, (i + 1) * sequence.size / nBatches)
          .foreach { q =>
            val q0 = System.nanoTime()
            res.op(s"query $q") {
              Trace.span(s"family.${family(q)}") {
                val df = Trace.span("plans.build")(registry(q)(spark, catalog))
                Trace.span("plans.optimize")(df.queryExecution.executedPlan)
                val rows = Trace.span("exec")(df.collect())
                (rows, df.schema)
              }
            }.foreach { out =>
              samples.getOrElseUpdate(q, mutable.ArrayBuffer.empty) +=
                Stats.secs(q0, System.nanoTime())
              last(q) = out
            }
            Seams.release()
          }
      }
    }
    val heap = Session.heapAfterGcMb()
    val perQuery = samples.map { case (q, xs) => q -> Stats.median(xs.toSeq) }
    if (batchTimes.nonEmpty && perQuery.nonEmpty) {
      val meds = perQuery.values.toSeq
      val curationS = batchTimes.sum
      res.metric("setup_s", Stats.median(setupTimes), "s", setupTimes.size)
      res.metric("throughput_per_s", docsDone / curationS, "1/s", batchTimes.size)
      res.metric("latency_p50_s", Stats.median(meds), "s", meds.size)
      res.metric("latency_tail_s", Stats.quantile(meds, 0.95), "s", meds.size)
      res.metric("heap_after_gc_mb", heap, "MB", 1)
      res.detail("curation_docs_per_s") = docsDone / curationS
      res.detail("curation_batch_p50_s") = Stats.median(batchTimes.toSeq)
      res.detail("curation_batch_p95_s") = Stats.quantile(batchTimes.toSeq, 0.95)
      res.detail("suite_s") = meds.sum
      res.detail("query_p50_s") = Stats.median(meds)
      res.detail("query_p95_s") = Stats.quantile(meds, 0.95)
    }
    res.detail("batch_seconds") = batchTimes.toSeq
    res.detail("batches") = batchTimes.size
    res.detail("docs") = docsDone
    res.detail("passes") = passCount
    res.detail("query_seconds") = perQuery
    res.detail("query_samples") = samples

    // DaemonSweep's invariants over the corpus the window built
    def corpusDF = spark.read.option("recursiveFileLookup", "true").parquet(s"$corpus/data")
    def indexDF = spark.read.option("recursiveFileLookup", "true").parquet(s"$corpus/index")
    val rows = if (batchTimes.nonEmpty) corpusDF.count() else 0L
    if (batchTimes.nonEmpty) {
      res.check("curation_ids_distinct") {
        corpusDF.select("doc_id").distinct().count() == rows
      }
      res.check("curation_fp_index_covers_corpus") {
        Dedup.fingerprintIndex(corpusDF, "text").except(indexDF.distinct()).isEmpty
      }
    }

    // rows of the last pass, for the DuckDB oracle check in run.py; the
    // writes are independent one-task jobs, so they run concurrently
    val outDir = s"$work/results"
    val writes = last.toSeq.map { case (q, (rows, schema)) =>
      q -> Future(spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.parquet(s"$outDir/$q"))(ExecutionContext.global)
    }
    writes.foreach { case (q, w) => res.op(s"write result $q")(Await.result(w, Duration.Inf)) }
    Files.createDirectories(Paths.get(outDir))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Json(order.map(q => q -> SparkEntry.oracleSql.getOrElse(q, "")).toMap))
    Files.writeString(Paths.get(s"$outDir/catalog"), catalog)

    if (!Trace.enabled || batchTimes.isEmpty) Map.empty
    else {
      // bytes the batches read (their staged shard plus the standing
      // indexes) per staged byte, and the standing state they leave
      val (spans, incl) = Trace.report()
      val batchInput = spans.filter(_.name == "curation.batch")
        .map(s => incl(s.id).inputBytes).sum
      val staged = batchTimes.indices.map(i => Session.du(s"$stream/batch=$i")).sum
      Map("curation.accept_ratio" -> rows.toDouble / math.max(1L, docsDone),
        "curation.index_read_amp" -> batchInput.toDouble / math.max(1L, staged),
        "curation.index_entries" -> indexDF.count().toDouble)
    }
  }
}
