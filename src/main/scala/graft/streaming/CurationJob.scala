package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.operators.{Dedup, Pipeline100TB, TextAnalysis}

/** The LLM-curation daemon loop — the training-data twin of the CDC
  * capstone (KafkaLogSpec E9): a stream of incoming documents is
  * optionally markup-extracted (H21), quality-gated (Gopher
  * structural rules, H16, plus an optional model-based classifier
  * gate, H20), deduped INCREMENTALLY against the standing corpus
  * fingerprint index (F12), and appended to a live corpus, with the
  * index advanced in the same micro-batch — so later batches (and
  * later duplicates inside the stream) dedupe against everything
  * already accepted.
  *
  * Gate order is the production web-curation order: extraction
  * rewrites `textCol` FIRST (the corpus stores extracted prose, and
  * both gates and the fingerprints see post-extraction text — two
  * pages differing only in markup are duplicates), then the opt-in
  * F16b span trim (corpus-seen boilerplate blocks vanish against
  * the standing block index before any gate or fingerprint sees
  * them — a doc that is nothing but known boilerplate trims to
  * empty and fails the structural gate), then the structural gate,
  * then the classifier, then novelty.
  *
  * Semantics: first-arrival-wins across micro-batches, min-id within
  * one — exactly the fold a daemon applying batches in order
  * produces. When ids arrive in increasing order this equals the
  * batch-mode curation of the whole input (spec-checked).
  *
  * Scale: per micro-batch the work is batch-sized hashing + one anti
  * join against the standing fingerprint index. The index is plain
  * per-batch parquet shards plus compacted generations, listed and
  * read by [[readIndexExcept]]. It is not the bucketed table of
  * [[graft.operators.Dedup.persistIndexBucketed]], so the index side
  * of the join is exchanged (or broadcast by AQE) every batch;
  * compaction keeps its listing at compactEvery+1 entries.
  *
  * Standing state: every enabled gate registers one `(subdir, rows)`
  * shard per batch — `index` (exact fps, always), `bands` (fuzzy),
  * `blocks` (spanTrim), `sstats` (searchStats), `semidx` (semantic)
  * and `knn` (knnK > 0). One loop writes each to
  * `<corpusDir>/<subdir>/b<batchId>` and compaction folds the same
  * list, so every index that is written is also compacted.
  *
  * Exactly-once: each batch OVERWRITES its own `b<batchId>`
  * subdirectory of the corpus and of every index (the E9 capstone's
  * generation-swap move, sharded by batch), and every index read
  * EXCLUDES the current batch's own shard — otherwise a retry after
  * a half-committed attempt would see its own fps in the index and
  * silently drop the whole batch. Re-delivery of a batchId is
  * therefore a no-op rewrite of identical content (spec-checked).
  *
  * Compaction: without it every micro-batch lists and reads ALL
  * prior `b*` shards — O(N) small files per batch, O(N²)
  * cumulative, the classic small-files death of a long-running
  * daemon. Once the shard count reaches `compactEvery`, the batch
  * folds every index entry EXCEPT its own shard into one generation
  * `g<batchId>`, so an index directory never holds more than
  * compactEvery+1 entries; corpus shards fold tiered into write-once
  * `h<batchId>` generations ([[compactData]]). Both go through one
  * crash-safe swap ([[swapFold]]: write `.tmp` → atomic rename →
  * delete sources). Exactly-once survives compaction because (a)
  * the current batch's own shard is never folded while its batchId
  * can still be re-delivered, (b) sources are deleted only after the
  * generation is live, and a retry that finds the generation already
  * present just finishes the deletes (the sources' rows are a subset
  * of the generation by construction), and (c) duplicate rows
  * transiently visible during a half-finished swap are harmless to
  * the set-semantic reads.
  */
object CurationJob {

  /** Optional H20 gate: the hashed-feature logistic quality model of
    * [[graft.operators.TextAnalysis.classifierScore]]; docs scoring
    * below `threshold` are rejected before novelty is consulted.
    */
  final case class ClassifierGate(microWeights: Seq[Long], biasMicro: Long,
                                  threshold: Double)

  /** Optional F17 gate: incremental SEMANTIC dedup — batch rows whose
    * embedding is near-duplicate (cosine ≥ tau) of an accepted row's
    * embedding in the same centroid cell are rejected, and
    * batch-internal semantic dups collapse to their CC
    * representative; the standing (id, cell, embedding) index under
    * `corpusDir/semidx` advances by accepted rows. `centroids` is
    * the fixed coarse-quantizer model (trained offline — assignment
    * must not depend on the batch); rows with a NULL embedding are
    * invisible to this gate and flow through on the text gates
    * alone (the F14 no-band rule).
    */
  final case class SemanticGate(embCol: String, tau: Double,
                                centroids: Seq[(Int, Seq[Float])])

  /** Optional H22 accounting: a fixed BPE merge table + vocabulary.
    * When set, every accepted corpus row carries an `n_tok` column
    * with its EXACT subword count (the H15/H22 composition), so
    * downstream shard/packing bookkeeping over the live corpus uses
    * tokenizer-true counts instead of whitespace or chars/4
    * estimates — and a batch re-curation packs identically.
    */
  final case class BpeAccounting(merges: Seq[(String, String)],
                                 vocab: Seq[String])

  /** Start the loop over a streaming `incoming` frame. The corpus
    * lives under `corpusDir/data/{b*,h*}`, each standing index under
    * `corpusDir/<subdir>/{b*,g*}` (read both with
    * `recursiveFileLookup`).
    */
  def run(incoming: DataFrame, corpusDir: String, checkpoint: String,
          idCol: String = "doc_id", textCol: String = "text",
          compactEvery: Int = 8, fuzzy: Boolean = false,
          markup: Boolean = false,
          classifier: Option[ClassifierGate] = None,
          bpe: Option[BpeAccounting] = None,
          spanTrim: Boolean = false,
          semantic: Option[SemanticGate] = None,
          knnK: Int = 0,
          searchStats: Boolean = false): StreamingQuery =
    incoming.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, corpusDir, idCol, textCol, batchId, compactEvery,
          fuzzy, markup, classifier, bpe, spanTrim, semantic, knnK,
          searchStats)
      }
      .start()

  /** One micro-batch of the loop — pure batch logic, testable alone:
    * gate → dedupe vs the index-so-far → overwrite this batch's
    * corpus shard and one shard per standing index → maybe compact.
    * A frame is persisted only while it is read more than once, and
    * unpersisted after: `novel` always (the corpus write joins it, the
    * fp index writes it), `gated` under the fuzzy or semantic gate
    * (whose plans join back to the gated rows several times),
    * `accepted` when an optional gate's shard is derived from it,
    * `newCells` under kNN. Every standing
    * read passes its known schema, so a batch launches no
    * schema-inference job.
    */
  def applyBatch(batch: DataFrame, corpusDir: String,
                 idCol: String, textCol: String, batchId: Long,
                 compactEvery: Int = 8, fuzzy: Boolean = false,
                 markup: Boolean = false,
                 classifier: Option[ClassifierGate] = None,
                 bpe: Option[BpeAccounting] = None,
                 spanTrim: Boolean = false,
                 semantic: Option[SemanticGate] = None,
                 knnK: Int = 0,
                 searchStats: Boolean = false): Unit = {
    require(knnK == 0 || semantic.isDefined,
      "knnK needs the semantic gate: the kNN graph blocks on its cells")
    val spark = batch.sparkSession
    val ownShard = s"b$batchId"
    // H21 first: everything downstream — gates, fingerprints, the
    // stored corpus — sees extracted prose, never raw markup
    val extracted =
      if (markup) batch.withColumn(textCol,
        Pipeline100TB.extractMarkup(col(textCol)))
      else batch
    // F16b second (opt-in): trim blocks the accepted corpus already
    // contains, against the standing block index — corpus-seen
    // boilerplate vanishes BEFORE any gate or fingerprint sees it,
    // so gates judge the novel remainder and two docs differing
    // only in known boilerplate dedupe. Same own-shard-excluding
    // read as the other indexes (retry-safe).
    val prepared =
      if (!spanTrim) extracted
      else {
        val blkIdx = readIndexExcept(spark, s"$corpusDir/blocks",
          ownShard, blockSchema)
        extracted.drop(textCol).join(
          Dedup.substrTrimIncremental(extracted, blkIdx, idCol, textCol)
            .select(col("doc_id").as(idCol), col("clean_text").as(textCol)),
          Seq(idCol))
      }
    val gated = qualityGate(prepared, idCol, textCol, classifier)
    // Every standing index this batch advances, as (subdir, rows): one
    // loop writes each to `<corpusDir>/<subdir>/b<batchId>` and the
    // compaction below folds exactly these subdirs, so no gate can
    // write a shard that is never compacted.
    val shards = scala.collection.mutable.ListBuffer.empty[(String, DataFrame)]
    // the fuzzy gate reads `novelRows` three times (incrementalBands,
    // bandKeys, the final join) and the semantic gate `admitted` three
    // more: uncached, each read re-runs markup, the span trim and the
    // quality gate
    val rereadsGated = fuzzy || semantic.isDefined
    // the try opens BEFORE the first persist: an exception anywhere in
    // the gate plan construction or the shard writes must still
    // unpersist, or a long-running daemon leaks cache across streaming
    // retries.
    var novel: DataFrame = null
    var accepted: DataFrame = null
    var newCells: DataFrame = null
    try {
      if (rereadsGated) gated.persist()
      novel = Dedup.incrementalFingerprint(gated,
        readIndexExcept(spark, s"$corpusDir/index", ownShard, fpSchema),
        idCol, textCol).persist()
      val novelRows = gated
        .join(novel.select(col("survivor").as(idCol)), Seq(idCol))
      // the OPTIONAL second gate (F14): exact-fp novelty alone admits
      // paraphrases/light edits of accepted content — veto batch docs
      // whose LSH bands hit the standing band index and collapse
      // batch-internal near-dups to their band-CC representative.
      // Docs with no bands at all (blank/short) are invisible to the
      // fuzzy gate and flow through on exact-fp novelty alone.
      val admitted = (if (!fuzzy) novelRows
      else {
        val bandIdx = readIndexExcept(spark, s"$corpusDir/bands",
          ownShard, bandSchema)
        val fuzzSurvivors = Dedup
          .incrementalBands(novelRows, bandIdx, idCol, textCol)
          .select(col("survivor").as(idCol))
        val noBand = novelRows.select(col(idCol)).join(
          Dedup.bandKeys(novelRows, idCol, textCol)
            .select(col("id").as(idCol)).distinct(),
          Seq(idCol), "left_anti")
        novelRows.join(fuzzSurvivors.unionByName(noBand).distinct(),
          Seq(idCol))
      })
      // F17 (opt-in): incremental SEMANTIC gate, after text novelty —
      // batch rows embedding-near-dup of accepted content (same
      // centroid cell, cosine ≥ tau) are vetoed; batch-internal
      // semantic dups collapse to their CC representative. NULL
      // embeddings flow through (the no-band rule).
      val semAdmitted = semantic match {
        case None => admitted
        case Some(g) =>
          import spark.implicits._
          val semIdx = readIndexExcept(spark, s"$corpusDir/semidx",
            ownShard, semSchema(idCol, g.embCol))
          val cents = g.centroids.toDF("c_label", "c_emb")
          val keepIds = graft.operators.Similarity
            .incrementalSemantic(spark,
              admitted.filter(col(g.embCol).isNotNull), semIdx, cents,
              g.tau, idCol, g.embCol)
            .filter(col("status") === "keep").select(col(idCol))
          val noEmb = admitted.filter(col(g.embCol).isNull)
            .select(col(idCol))
          admitted.join(keepIds.unionByName(noEmb).distinct(), Seq(idCol))
      }
      // H22 accounting: stamp each accepted row with its exact BPE
      // token count — one more codegen'd projection on the way to the
      // corpus shard, no extra action or shuffle
      accepted = (bpe match {
        case None => semAdmitted
        case Some(m) =>
          import org.apache.spark.sql.GraftBridge
          val ids = GraftBridge.column(graft.functions.BpeEncode(
            GraftBridge.expression(
              graft.functions.Hash60.tokens(
                regexp_replace(col(textCol), "\\|", " "))),
            m.merges, m.vocab))
          semAdmitted.withColumn("n_tok", size(ids).cast("long"))
      })
      // the corpus write reads `accepted`, and so does the shard of
      // every optional gate below (the fp index shard reads `novel`)
      if (fuzzy || spanTrim || searchStats || semantic.isDefined)
        accepted.persist()
      // accepted rows enter the corpus; the emitted fps advance the
      // exact index so the NEXT batch sees them — INCLUDING the fps
      // of fuzzy-vetoed docs (exact copies of a rejected near-dup
      // must stay rejected); every other index advances by ACCEPTED
      // (stored) content only — it indexes what the corpus holds
      shards += "index" -> novel.select("fp")
      if (fuzzy) shards += "bands" -> Dedup.bandIndex(accepted, idCol, textCol)
      if (spanTrim) shards += "blocks" -> Dedup.blockIndex(accepted, textCol)
      // E24: the search-stats ledger — per distinct term its batch df,
      // plus one sentinel row carrying the batch's (docs, Σdl). Rows
      // are SUM-semantic, so each carries its source batch id: that
      // makes every row a unique key, which is what lets the
      // SET-semantic compactIndex fold (full-row distinct) and the
      // reader's window-dedup distinct() both preserve the sums exactly.
      if (searchStats) {
        val toks = graft.functions.Hash60.tokens(col(textCol))
        val termRows = accepted
          .select(explode(array_distinct(toks)).as("term"))
          .groupBy(col("term")).agg(count(lit(1)).as("df"))
          .select(col("term"), col("df"), lit(0L).as("docs"),
            lit(0L).as("sumdl"), lit(batchId).as("src"))
        val totals = accepted
          .agg(count(lit(1)).as("docs"),
            sum(size(toks).cast("long")).as("sumdl"))
          .select(lit("").as("term"), lit(0L).as("df"), col("docs"),
            coalesce(col("sumdl"), lit(0L)).as("sumdl"),
            lit(batchId).as("src"))
        shards += "sstats" -> termRows.unionByName(totals)
      }
      // the semantic index advances by accepted rows' (id, cell,
      // embedding) under the SAME fixed centroids
      semantic.foreach { g =>
        import spark.implicits._
        import graft.operators.Similarity
        val cents = g.centroids.toDF("c_label", "c_emb")
        newCells = Similarity.assignCells(spark,
          accepted.filter(col(g.embCol).isNotNull), cents, idCol, g.embCol)
        if (knnK > 0) {
          // E23: the standing kNN graph advances by this batch's
          // candidate edges — new → (standing ∪ new) plus the reverse
          // standing → new (an old vertex's top-k can only change by
          // gaining a NEW neighbor), each pruned to the source's
          // per-shard top-k (an edge outranked at write time is
          // outranked forever — scores never change). The union of
          // shards therefore reproduces the batch graph exactly; the
          // reader ranks it per vertex (knnGraph below). newCells
          // feeds both this shard and the semidx one, so it stays
          // persisted until both are written.
          newCells.persist()
          val standing = readIndexExcept(spark, s"$corpusDir/semidx",
            ownShard, semSchema(idCol, g.embCol))
          shards += "knn" -> Similarity.cellKnnEdges(spark, newCells,
              standing.unionByName(newCells), idCol, g.embCol, knnK)
            .unionByName(Similarity.cellKnnEdges(spark, standing, newCells,
              idCol, g.embCol, knnK))
        }
        shards += "semidx" -> newCells
      }
      accepted.write.mode("overwrite").parquet(s"$corpusDir/data/$ownShard")
      shards.foreach { case (subdir, rows) =>
        rows.write.mode("overwrite").parquet(s"$corpusDir/$subdir/$ownShard")
      }
    } finally {
      if (newCells != null) newCells.unpersist()
      if (accepted != null) accepted.unpersist()
      if (novel != null) novel.unpersist()
      if (rereadsGated) gated.unpersist()
      // Free the reuse seams the gates created inside this batch
      // (incrementalBands/incrementalSemantic register theirs in
      // graft.Seams): without this a long-running daemon's seam
      // storage grows between ContextCleaner GC cycles (ADVICE r16).
      graft.Seams.release()
    }
    if (compactEvery > 0) {
      shards.foreach { case (subdir, rows) =>
        compactIndex(spark, s"$corpusDir/$subdir", batchId, compactEvery,
          rows.schema)
      }
      compactData(spark, s"$corpusDir/data", batchId, compactEvery,
        accepted.schema)
    }
  }

  /** The quality gates as ONE row predicate over the prepared batch:
    * the Gopher structural rules (H16) and, when set, the classifier
    * (H20) read one shared token array, so the batch is scanned once
    * and no gate joins back to it. The tokens are projected behind
    * [[graft.functions.Opaque]] — `FilterExec` does no subexpression
    * elimination across conjuncts, and without the barrier every
    * conjunct would re-tokenize the row. Null-id rows are dropped: a
    * null id can never be stored as a novelty survivor, so its
    * fingerprint must not advance the index either.
    */
  private[graft] def qualityGate(prepared: DataFrame, idCol: String,
                                 textCol: String,
                                 classifier: Option[ClassifierGate]): DataFrame = {
    val toks = col("__gate_toks")
    val keep = classifier.foldLeft(
        col(idCol).isNotNull && TextAnalysis.gopherPassOf(toks)) { (k, c) =>
      k && TextAnalysis.classifierScoreOf(toks, c.microWeights, c.biasMicro) >=
        c.threshold
    }
    prepared
      .withColumn("__gate_toks",
        graft.functions.Opaque(graft.functions.Hash60.tokens(col(textCol))))
      .filter(keep)
      .drop("__gate_toks")
  }

  /** E23 reader: the LIVE kNN graph — rank the standing candidate-edge
    * shards per vertex. By the shard-writing discipline (every pair
    * written exactly once by its younger endpoint's batch, each side
    * pruned only below its source's per-shard top-k) this equals the
    * batch-mode [[graft.operators.Similarity.cellKnnGraph]] over the
    * standing semidx — spec-asserted across batches, compaction and
    * re-delivery.
    *
    * Edge shards are deduplicated before ranking: during [[compactIndex]]'s
    * documented visible window (generation rename done, source shards not
    * yet deleted — or after a crash until the next batch retries the
    * deletes) every folded edge row appears TWICE. The fp/band/block
    * readers are set-semantic so that window is harmless there, but
    * BoundedTopK would count a duplicate edge toward top-k and displace a
    * genuine neighbor. Duplicates are exact row copies, so `distinct()`
    * restores the appears-once contract at negligible cost.
    */
  def knnGraph(spark: SparkSession, corpusDir: String, k: Int): DataFrame =
    graft.operators.Similarity.knnFromEdges(
      readIndexExcept(spark, s"$corpusDir/knn", "", knnSchema).distinct(), k)

  /** E24: index-backed `$search` over the STANDING curated corpus —
    * BM25 top-k where the corpus stats (N, Σdl, per-term df) come
    * from the incrementally-maintained `sstats` ledger instead of a
    * second corpus scan. At 100 TB this is the difference between 2
    * corpus passes and 1: the tf pass still reads the documents (it
    * must — scores need per-doc tf), but the stats fold into one
    * vocab-sized aggregate over the ledger (the ledger is term-keyed,
    * ~|vocab| rows, not corpus-sized) broadcast as the usual 1-row
    * stats frame. It IS [[graft.operators.TextAnalysis.bm25]] with
    * that frame as `ledgerStats`, so scores and the top-k order are
    * BIT-IDENTICAL to the batch `bm25` over the same corpus: the
    * ledger sums state exactly the values the in-frame aggregate
    * would compute (exact integer arithmetic end to end), and the
    * scoring and top-k tail are the same code.
    * The reader `distinct()`s the ledger first — rows are unique keys
    * by construction (src batch column), so the only duplicates are
    * compactIndex's visible-window full-row copies, and dropping them
    * restores the appears-once contract the sums rest on (the kNN
    * reader's discipline).
    */
  def searchCorpus(spark: SparkSession, corpusDir: String,
                   idCol: String, textCol: String,
                   terms: Seq[String], k: Int = 20): DataFrame = {
    require(terms.nonEmpty, "searchCorpus needs at least one term")
    // PLAIN-TERM contract (round 16, pinned): the sstats ledger is
    // keyed by exact whitespace tokens, so only the text operator's
    // per-term df can be served from it. Virtual-term clause kinds —
    // phrase ("a b"), prefix/wildcard/regex/fuzzy metacharacters —
    // have per-QUERY dfs the ledger does not carry; serving them here
    // would silently score with the wrong df. They stay on the batch
    // $search scan path (its stats pass computes any virtual term),
    // refused loudly rather than approximated.
    terms.foreach { t =>
      require(t.nonEmpty && !t.exists(c => c.isWhitespace ||
        "*?[](){}|\\^$.+".contains(c)) && t == t.toLowerCase,
        s"searchCorpus serves PLAIN lowercase text terms only (got '$t') " +
          "— phrase/prefix/wildcard/regex/fuzzy virtual terms need the " +
          "batch $search scan, whose stats pass computes per-query dfs " +
          "the sstats ledger does not carry")
    }
    val led = readIndexExcept(spark, s"$corpusDir/sstats", "", sstatsSchema)
      .distinct()
    require(!led.isEmpty,
      s"no search-stats ledger under $corpusDir/sstats — run the daemon " +
        "with searchStats = true")
    val aggs = sum(col("docs")).as("n") +: sum(col("sumdl")).as("sumdl") +:
      terms.zipWithIndex.map { case (t, i) =>
        sum(when(col("term") === t, col("df")).otherwise(0L)).as(s"df$i")
      }
    val stats = led.agg(aggs.head, aggs.tail: _*)
    // an absent corpus reads with an empty schema and fails Spark's path check
    val data = s"$corpusDir/data"
    val corpus = spark.read.option("recursiveFileLookup", "true")
      .schema(graft.sources.ParquetFooter.schema(spark, data).getOrElse(new StructType))
      .parquet(data)
    TextAnalysis.bm25(corpus, idCol, textCol, terms, k,
      ledgerStats = Some(stats))
  }

  private val sstatsSchema = StructType(Seq(
    StructField("term", StringType),
    StructField("df", org.apache.spark.sql.types.LongType),
    StructField("docs", org.apache.spark.sql.types.LongType),
    StructField("sumdl", org.apache.spark.sql.types.LongType),
    StructField("src", org.apache.spark.sql.types.LongType)))

  private val knnSchema = StructType(Seq(
    StructField("id", org.apache.spark.sql.types.LongType),
    StructField("nbr", org.apache.spark.sql.types.LongType),
    StructField("cos_r", org.apache.spark.sql.types.DoubleType)))

  private val fpSchema = StructType(Seq(StructField("fp", StringType)))
  private def semSchema(idCol: String, embCol: String) = StructType(Seq(
    StructField(idCol, org.apache.spark.sql.types.LongType),
    StructField("cell", org.apache.spark.sql.types.IntegerType),
    StructField(embCol, org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.FloatType))))
  private val blockSchema = StructType(Seq(
    StructField("h", org.apache.spark.sql.types.LongType)))
  private val bandSchema = StructType(Seq(
    StructField("band", org.apache.spark.sql.types.IntegerType),
    StructField("key", StringType)))

  /** The standing index minus the named batch shard (empty before
    * the first batch), read with the index's known `schema` — no
    * footer-reading inference job. Listing is one metadata call over
    * per-batch shards and compacted generations; in-flight `.tmp`
    * fold targets are invisible until their atomic rename.
    */
  private def readIndexExcept(spark: SparkSession, path: String,
                              ownShard: String,
                              schema: StructType): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    if (!fs.exists(p)) empty
    else {
      val shards = fs.listStatus(p).map(_.getPath)
        .filter(s => s.getName != ownShard && !s.getName.endsWith(".tmp"))
        .map(_.toString)
      if (shards.isEmpty) empty
      else spark.read.schema(schema).parquet(shards.toIndexedSeq: _*)
    }
  }

  /** DATA-side small-file compaction — TIERED, not chained like the
    * index: every `compactEvery` per-batch data shards fold ONCE
    * into a write-once generation `h<batchId>` and prior `h*`
    * generations are never rewritten, so total write amplification
    * is a flat 2× (each corpus byte: its b-shard, then one fold).
    * The indexes refold their generations instead (bounded
    * K+1-entry directories) because index rows are tiny next to
    * corpus bytes; refolding the DATA that way would rewrite the
    * whole corpus every K batches — O(N²/K) bytes over the daemon's
    * life. Data directory entries grow O(N/K), but each is a
    * well-sized parquet dir instead of N tiny per-batch shards.
    *
    * Exactly-once: only shards of COMMITTED batches fold (every
    * b<id> with id < the current batch — streaming applies batches
    * in order, so only the current one can be re-delivered, and its
    * own shard is excluded); batch shards are disjoint novel-row
    * sets, so the fold is an exact union — no dedupe on read. The
    * shards are read with `schema`, the schema of the frame that
    * wrote them.
    */
  private def compactData(spark: SparkSession, path: String,
                          batchId: Long, compactEvery: Int,
                          schema: StructType): Unit =
    swapFold(spark, path, batchId, "h", compactEvery,
      _.startsWith("b")) { (fs, sources) =>
      val nonEmpty = sources.filter(s =>
        fs.listStatus(s).exists(_.getPath.getName.endsWith(".parquet")))
      // an all-empty tier folds to a marker dir
      if (nonEmpty.isEmpty) None
      else Some(spark.read.schema(schema).parquet(nonEmpty.map(_.toString): _*))
    }

  /** Index compaction: fold every shard and generation except the
    * current batch's own into one generation `g<batchId>`, read with
    * `schema`, the schema of the frame that wrote the shard. The fold
    * is distinct full rows because every index is set-semantic (the
    * sstats ledger through its unique `src` keys).
    */
  private def compactIndex(spark: SparkSession, path: String,
                           batchId: Long, compactEvery: Int,
                           schema: StructType): Unit =
    swapFold(spark, path, batchId, "g", compactEvery,
      !_.endsWith(".tmp")) { (_, sources) =>
      Some(spark.read.schema(schema).parquet(sources.map(_.toString): _*)
        .distinct())
    }

  /** The crash-safe generation swap both compactions share (the E9
    * move), folding into `gen` = `<genPrefix><batchId>`. Sources are
    * the entries of `path` that pass `isSource`, minus the current
    * batch's own shard `b<batchId>` and `gen` itself.
    *
    *  1. If `gen` is already live, a previous attempt of this batch
    *     renamed it but did not finish: delete the remaining sources
    *     (each was an input to `gen`) and stop.
    *  2. Below `compactEvery` sources, do nothing.
    *  3. Write the fold to `_<gen>.tmp`, overwriting a stale one. The
    *     leading '_' hides it from parquet/Hadoop readers (corpus
    *     consumers read data/ with recursiveFileLookup and have no
    *     reader-side filter); [[readIndexExcept]] also skips `.tmp`.
    *     A `fold` of None (no rows) makes `gen` an empty marker dir,
    *     which keeps retries idempotent.
    *  4. Rename it to `gen`, then delete the sources. Between the two
    *     (or after a crash, until the batch retry) readers see each
    *     folded row twice: harmless to the set-semantic index reads,
    *     which is why the kNN and sstats readers `distinct()` and
    *     exact-once corpus consumers must exclude b* shards covered
    *     by a live h* generation.
    */
  private def swapFold(spark: SparkSession, path: String, batchId: Long,
                       genPrefix: String, compactEvery: Int,
                       isSource: String => Boolean)
                      (fold: (FileSystem, Seq[Path]) => Option[DataFrame]): Unit = {
    val (ownShard, gen) = (s"b$batchId", s"$genPrefix$batchId")
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) return
    val genPath = new Path(p, gen)
    val sources = fs.listStatus(p).map(_.getPath).toSeq.filter { s =>
      val n = s.getName
      n != ownShard && n != gen && isSource(n)
    }
    if (fs.exists(genPath)) { // finish a half-committed fold from a retry
      sources.foreach(fs.delete(_, true))
      return
    }
    if (sources.length < compactEvery) return
    val tmp = new Path(p, s"_$gen.tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    fold(fs, sources) match {
      case Some(rows) =>
        rows.write.mode("overwrite").parquet(tmp.toString)
        if (!fs.rename(tmp, genPath))
          sys.error(s"compaction rename failed: $tmp -> $genPath")
      case None => fs.mkdirs(genPath)
    }
    sources.foreach(fs.delete(_, true))
  }
}
