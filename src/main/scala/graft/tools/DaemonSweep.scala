package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.LocalSpark
import graft.operators.{Dedup, LlmQueries, Similarity}
import graft.sources.TableCatalog
import graft.streaming.CurationJob
import graft.streaming.CurationJob.{ClassifierGate, SemanticGate}

/** Scaled-decade evidence for the curation DAEMON loop (dev harness,
  * like [[MakeScale]]): every batch operator is sf10-proven through
  * the oracle sweep, but CurationJob's exactly-once loop (six
  * standing indexes + compaction) only had spec-scale evidence. This
  * main streams the whole scaled `documents` table through the full
  * gate stack as N ascending-id micro-batches and asserts the
  * daemon's contract invariants AT THAT SCALE:
  *
  *   1. streamed ≡ batch — under the equality config (markup +
  *      classifier + exact-fp novelty; ascending ids), the N-batch
  *      corpus must equal the one-batch curation of the whole input
  *      row for row (the StreamingSinkSpec contract, at the decade).
  *      The fuzzy/span/semantic gates are deliberately OUT of this
  *      config: band-CC chains and standing-block trims legitimately
  *      depend on batch boundaries (documented daemon semantics, not
  *      defects), so equality is only a contract where it is claimed.
  *   2. index ≡ corpus — after a full-stack run (fuzzy + spanTrim +
  *      semantic + classifier + markup, compaction every 4 batches):
  *      corpus fingerprints ⊆ exact index (the index additionally
  *      holds vetoed docs' fps by design), band index ≡ bandIndex
  *      (corpus), block index ≡ blockIndex(corpus), semantic index ≡
  *      assignCells(corpus) under the same fixed centroids.
  *   3. exactly-once at the decade — re-delivering the LAST batchId
  *      (own-shard-excluding reads + overwrite) leaves every corpus
  *      and index artifact bit-identically sized and id-identical.
  *   4. search-stats ledger exact (E24) — index-backed
  *      [[CurationJob.searchCorpus]] scores bit-identically to a
  *      fresh two-scan BM25 over the same standing corpus.
  *
  * Embeddings attach deterministically (vec_id = doc_id mod |emb|;
  * every 7th doc NULL to exercise the no-embedding flow-through
  * rule); the coarse quantizer is the fixed first-8-vectors model.
  *
  * Emits ONE JSON line (also written to `<workDir>/daemon_sweep.json`)
  * that tools/sweep_scale.py --daemon commits as DAEMON_SWEEP_rN.json.
  *
  * Usage: runMain graft.tools.DaemonSweep <sfDir> <workDir> [nBatches]
  */
object DaemonSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val workDir = args(1)
    val nBatches = args.lift(2).map(_.toInt).getOrElse(10)
    require(nBatches > 1, s"nBatches must exceed 1: $nBatches")
    val spark = LocalSpark()
    val t0 = System.nanoTime()

    val tables = TableCatalog(spark, sfDir)
    val docs0 = tables.documents.select(col("doc_id"), col("text"))
    val embT = tables.embeddings
    val nEmb = embT.agg(max(col("vec_id"))).head.getLong(0) + 1
    val docs = docs0
      .join(embT.select(col("vec_id").as("__v"), col("embedding")),
        docs0("doc_id") % nEmb === col("__v"), "left")
      .select(col("doc_id"), col("text"),
        when(col("doc_id") % 7 === 0, lit(null).cast("array<float>"))
          .otherwise(col("embedding")).as("embedding"))
    val bounds = docs0.agg(min(col("doc_id")), max(col("doc_id"))).head
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val chunk = (hi - lo) / nBatches + 1
    val nDocs = docs0.count()
    def batchOf(i: Int): DataFrame =
      docs.filter(expr(s"(doc_id - $lo) div $chunk") === i)

    val clf = Some(ClassifierGate(LlmQueries.clfWeights, 50000L, 0.5))
    val cents = embT.filter(col("vec_id") < 8).orderBy("vec_id").collect()
      .map(r => (r.getAs[Long]("vec_id").toInt,
        r.getSeq[Float](r.fieldIndex("embedding")))).toSeq
    val sem = Some(SemanticGate("embedding", 0.9, cents))

    def corpusDF(d: String) = spark.read
      .option("recursiveFileLookup", "true").parquet(s"$d/data")
    def indexDF(d: String, sub: String) = spark.read
      .option("recursiveFileLookup", "true").parquet(s"$d/$sub")
    def setEq(a: DataFrame, b: DataFrame): Boolean =
      a.except(b).isEmpty && b.except(a).isEmpty

    // ——— 1. streamed ≡ batch under the equality config ———
    val eqDir = s"$workDir/eq"
    val eq1Dir = s"$workDir/eq1"
    for (i <- 0 until nBatches)
      CurationJob.applyBatch(batchOf(i).select("doc_id", "text"), eqDir,
        "doc_id", "text", batchId = i.toLong, compactEvery = 4,
        markup = true, classifier = clf)
    CurationJob.applyBatch(docs.select("doc_id", "text"), eq1Dir,
      "doc_id", "text", batchId = 0L, compactEvery = 0,
      markup = true, classifier = clf)
    // setEq is set-based (duplicate-blind), so the equality invariant also
    // checks multiset cardinality: streamed and batch corpora must have the
    // SAME row count AND distinct doc_ids — a daemon bug that leaves both a
    // compaction generation and its source shards live (duplicating rows)
    // fails here instead of slipping past the two except() calls.
    val eqRows = corpusDF(eqDir).count()
    val eq1Rows = corpusDF(eq1Dir).count()
    val eqIdsDistinct =
      corpusDF(eqDir).select("doc_id").distinct().count() == eqRows
    val eqStreamEqualsBatch = eqRows == eq1Rows && eqIdsDistinct && setEq(
      corpusDF(eqDir).select("doc_id", "text"),
      corpusDF(eq1Dir).select("doc_id", "text"))
    println(s"[daemon-sweep] eq: $eqRows corpus rows (batch: $eq1Rows, " +
      s"ids-distinct: $eqIdsDistinct), streamed==batch: $eqStreamEqualsBatch")

    // ——— 2. full stack + index ≡ corpus ———
    val fDir = s"$workDir/full"
    for (i <- 0 until nBatches)
      CurationJob.applyBatch(batchOf(i), fDir, "doc_id", "text",
        batchId = i.toLong, compactEvery = 4, fuzzy = true, markup = true,
        classifier = clf, spanTrim = true, semantic = sem, knnK = 3,
        searchStats = true)
    val corpus = corpusDF(fDir).persist()
    val fullRows = corpus.count()
    val idsDistinct =
      corpus.select("doc_id").distinct().count() == fullRows
    val fpCovers = Dedup.fingerprintIndex(corpus, "text")
      .except(indexDF(fDir, "index").distinct()).isEmpty
    val bandsEqual = setEq(indexDF(fDir, "bands").distinct(),
      Dedup.bandIndex(corpus, "doc_id", "text"))
    val blocksEqual = setEq(indexDF(fDir, "blocks").distinct(),
      Dedup.blockIndex(corpus, "text"))
    val centsDf = {
      import spark.implicits._
      cents.toDF("c_label", "c_emb")
    }
    val semidxEqual = setEq(
      indexDF(fDir, "semidx").select(col("doc_id"), col("cell")).distinct(),
      Similarity.assignCells(spark,
          corpus.filter(col("embedding").isNotNull), centsDf,
          "doc_id", "embedding")
        .select(col("doc_id"), col("cell")))
    // E23 at the decade: the standing edge shards rank to EXACTLY the
    // batch-mode cell-blocked kNN graph over the standing semidx
    val knnEqual = setEq(
      CurationJob.knnGraph(spark, fDir, 3),
      Similarity.cellKnnGraph(spark,
        indexDF(fDir, "semidx").select(
          col("doc_id"), col("cell"), col("embedding")).distinct(),
        "doc_id", "embedding", 3))
    // E24 at the decade: the standing search-stats ledger must score
    // BIT-IDENTICALLY to a fresh two-scan BM25 over the same corpus
    val searchTerms = Seq("spark", "query", "stream")
    def scoreSeq(df: DataFrame): Seq[(Long, Double)] = df.collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val ledgerSearchEqual = scoreSeq(
      CurationJob.searchCorpus(spark, fDir, "doc_id", "text",
        searchTerms, 20)) ==
      scoreSeq(graft.operators.TextAnalysis.bm25(
        corpus, "doc_id", "text", searchTerms, 20))
    corpus.unpersist()
    println(s"[daemon-sweep] full: $fullRows corpus rows, ids-distinct: " +
      s"$idsDistinct, fp<=idx: $fpCovers, bands==: $bandsEqual, " +
      s"blocks==: $blocksEqual, semidx==: $semidxEqual, knn==: $knnEqual")

    // ——— 3. exactly-once: re-deliver the last batch ———
    def stateSig(): Seq[Long] = Seq(
      corpusDF(fDir).count(),
      corpusDF(fDir).agg(coalesce(sum(col("doc_id")), lit(0L)))
        .head.getLong(0),
      indexDF(fDir, "index").distinct().count(),
      indexDF(fDir, "bands").distinct().count(),
      indexDF(fDir, "blocks").distinct().count(),
      indexDF(fDir, "semidx").distinct().count(),
      indexDF(fDir, "knn").distinct().count(),
      indexDF(fDir, "knn").agg(coalesce(sum(col("nbr")), lit(0L)))
        .head.getLong(0),
      indexDF(fDir, "sstats").distinct().count(),
      indexDF(fDir, "sstats").agg(coalesce(sum(col("df")), lit(0L)))
        .head.getLong(0))
    val before = stateSig()
    CurationJob.applyBatch(batchOf(nBatches - 1), fDir, "doc_id", "text",
      batchId = (nBatches - 1).toLong, compactEvery = 4, fuzzy = true,
      markup = true, classifier = clf, spanTrim = true, semantic = sem,
      knnK = 3, searchStats = true)
    val redeliveryNoop = stateSig() == before
    println(s"[daemon-sweep] redelivery no-op: $redeliveryNoop")

    // compaction evidence: the index dir may never exceed
    // compactEvery+1 entries (generations fold shards)
    val idxEntries = Option(new java.io.File(s"$fDir/index").list())
      .map(_.count(n => n.startsWith("b") || n.startsWith("g")))
      .getOrElse(0)
    val gens = Option(new java.io.File(s"$fDir/index").list())
      .map(_.count(_.startsWith("g"))).getOrElse(0)

    val secs = (System.nanoTime() - t0) / 1e9
    val json =
      s"""{"n_docs": $nDocs, "n_batches": $nBatches, "chunk": $chunk,
         | "eq_corpus_rows": $eqRows, "eq_batch_rows": $eq1Rows,
         | "eq_ids_distinct": $eqIdsDistinct,
         | "eq_streamed_equals_batch": $eqStreamEqualsBatch,
         | "full_corpus_rows": $fullRows, "ids_distinct": $idsDistinct,
         | "fp_index_covers_corpus": $fpCovers,
         | "band_index_equals_corpus": $bandsEqual,
         | "block_index_equals_corpus": $blocksEqual,
         | "sem_index_equals_corpus": $semidxEqual,
         | "knn_graph_equals_batch": $knnEqual,
         | "ledger_search_equals_scan": $ledgerSearchEqual,
         | "redelivery_noop": $redeliveryNoop,
         | "index_dir_entries": $idxEntries, "index_generations": $gens,
         | "secs": ${math.round(secs)}}""".stripMargin.replace("\n", "")
    println(json)
    Files.writeString(Paths.get(s"$workDir/daemon_sweep.json"), json)
    val allOk = eqStreamEqualsBatch && idsDistinct && fpCovers &&
      bandsEqual && blocksEqual && semidxEqual && knnEqual &&
      ledgerSearchEqual && redeliveryNoop
    spark.stop()
    if (!allOk) sys.exit(1)
  }
}
