package graft

import org.apache.spark.sql.functions._

import graft.operators.{Analytics, Multimodal, TextAnalysis}
import graft.sources.TableCatalog

/** Plan-shape audit (SURVEY.md §5/§8): the properties that make these
  * operators survive a 100 TB cluster, asserted on the optimized
  * plans so regressions fail loudly.
  */
class PlanSpec extends SparkTestBase {

  private lazy val t = TableCatalog(spark, sfDir)

  private def executed(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q6: filter and projection reach the parquet scan") {
    val plan = executed(Analytics.revenueForecast(t.lineitem))
    // (plan metadata strings truncate at ~100 chars — match prefixes)
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)"), plan)
    // only the 4 needed columns are read
    assert(plan.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_shipdate:timestamp"),
      plan)
  }

  test("q5: fixed-cardinality dims broadcast; fact side never broadcasts") {
    val plan = executed(Analytics.localVolume(t.region, t.nation, t.customer,
      t.supplier, t.orders, t.lineitem))
    assert(plan.contains("BroadcastHashJoin"), plan)
    // lineitem (the fact) must not appear under a BroadcastExchange
    val broadcastIdx = plan.indexOf("BroadcastExchange")
    assert(broadcastIdx > 0)
  }

  test("narrow operators plan zero shuffles") {
    for (df <- Seq(
      Multimodal.binaryMeta(t.documents, "doc_id", "text"),
      TextAnalysis.tokenCounts(t.documents, "doc_id", "text"),
      TextAnalysis.fingerprints(t.documents, "doc_id", "text"))) {
      val plan = executed(df)
      assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
    }
  }

  test("bucketed tables co-locate the orderkey join: no exchange at all") {
    // the in-memory catalog forgets tables across sessions but the
    // warehouse files persist — clear both
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")
    for (d <- Seq("li_b", "ord_b")) {
      val p = java.nio.file.Paths.get("/tmp/graft-test-warehouse", d)
      if (java.nio.file.Files.exists(p)) {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
      }
    }
    t.lineitem.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("li_b")
    t.orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("ord_b")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("li_b")
        .join(spark.table("ord_b"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_orderkey").agg(sum("l_quantity"))
      val plan = executed(joined)
      assert(!plan.contains("Exchange"),
        s"bucketed join should be shuffle-free:\n$plan")
      assert(joined.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("latest-state fold is a single shuffle (partial agg, no sort)") {
    val plan = executed(graft.operators.Cdc.latestState(
      graft.operators.Cdc.eventsAsOpLog(t.events)))
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected exactly one shuffle:\n$plan")
    assert(!plan.contains("Window"), "must not use row_number/sort")
  }

  test("correlated $lookup extracts the equi-key: hash join, never nested-loop") {
    val plan = executed(
      SparkEntry.queries("pipe_lookup_let")(spark, sfDir))
      .replaceAll("#\\d+L?", "")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"correlated lookup degenerated to a product join:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"), plan)
    // the non-equi correlated predicate rides the join as a residual
    assert(plan.contains("l_shipdate > o_orderdate") ||
      plan.contains("o_orderdate < l_shipdate"), plan)
  }

  test("$merge plans one keyed full-outer join, filters pushed to the source scan") {
    val plan = executed(
      SparkEntry.queries("pipe_merge")(spark, sfDir))
    assert(plan.contains("FullOuter"), plan)
    assert(plan.contains("PushedFilters: [IsNotNull(c_custkey), LessThanOrEqual(c_custkey,50)"),
      plan)
  }

  test("$setWindowFields compiles to window passes partitioned by the key (no global sort)") {
    val plan = executed(
      SparkEntry.queries("pipe_window_fields")(spark, sfDir))
    assert(plan.contains("Window"), plan)
    assert(plan.contains("hashpartitioning(o_custkey"), plan)
  }

  test("$sample is a top-n (TakeOrdered), never a full sort") {
    val plan = executed(
      SparkEntry.queries("pipe_sample")(spark, sfDir))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Exchange rangepartitioning"),
      s"global sort crept into \\$$sample:\n$plan")
  }

  test("top-k window shapes get WindowGroupLimit: partial per-partition pruning before the shuffle") {
    import graft.operators.Similarity
    val e = t.embeddings
    // Spark's InferWindowGroupLimit must fire on every rank<=k filter
    // shape so only ~k rows per map partition reach the exchange —
    // the built-in partial top-k we deliberately do NOT hand-roll.
    for (df <- Seq(
      Similarity.bruteForceTopK(spark, e, e.filter(col("vec_id") < 3), k = 5),
      Similarity.int8TopK(spark, e, e.filter(col("vec_id") < 3), k = 5),
      Similarity.prunedSurvivors(spark, e, e.filter(col("vec_id") < 3), k = 5))) {
      val plan = executed(df)
      assert(plan.contains("WindowGroupLimit"),
        s"no WindowGroupLimit (partial top-k) in:\n$plan")
    }
  }

  test("no registered query plans an unpartitioned DATA-SIZED window") {
    // An unpartitioned Window ranks its whole input in ONE task, so it
    // is admissible only over a provably bounded frame: a Limit below
    // it (rank-of-top-k, the $rankFusion leg shape) or an Aggregate
    // below it (group-count-sized, e.g. $bucketAuto boundaries). A
    // global window directly over data-sized rows is the scale killer
    // this repo banishes — assert none of the 200+ registered queries
    // plans one.
    import org.apache.spark.sql.catalyst.plans.logical._
    def bounded(p: LogicalPlan): Boolean = p.collectFirst {
      case _: GlobalLimit => true
      case _: LocalLimit => true
      case _: Aggregate => true
    }.nonEmpty ||
      // a frame whose every leaf is a driver-built literal relation is
      // constant-size by construction (e.g. bandChoose's divisor grid)
      p.collectLeaves().forall(l =>
        l.isInstanceOf[LocalRelation] || l.isInstanceOf[OneRowRelation])
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, mk) =>
        val plan = mk(spark, sfDir).queryExecution.optimizedPlan
        plan.collect {
          case w: Window if w.partitionSpec.isEmpty && !bounded(w.child) =>
            s"$name: ${w.simpleString(80)}"
        }
    }
    assert(offenders.isEmpty,
      s"unbounded global windows:\n${offenders.mkString("\n")}")
  }

  test("hash sampling is a pure map-side filter: zero shuffles") {
    val plan = executed(
      SparkEntry.queries("sample_hash")(spark, sfDir))
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
  }

  test("chunking and scrubbing plan zero shuffles") {
    for (name <- Seq("doc_chunks", "text_scrub")) {
      val plan = executed(
        SparkEntry.queries(name)(spark, sfDir))
      assert(!plan.contains("Exchange"), s"$name shuffled:\n$plan")
    }
  }

  test("media-header decodes (image/audio/video) plan zero shuffles") {
    for (q <- Seq("mm_image_dims", "mm_audio_meta", "mm_video_meta")) {
      val plan = executed(SparkEntry.queries(q)(spark, sfDir))
      assert(!plan.contains("Exchange"), s"$q shuffled:\n$plan")
    }
  }

  test("$densify grid generation aggregates before exploding (no driver loop)") {
    val plan = executed(
      SparkEntry.queries("pipe_densify_fill")(spark, sfDir))
    assert(plan.contains("Generate explode"), plan)
    assert(plan.contains("Window"), plan)
  }

  test("embedding norms/quantize: single codegen projection — no join, no shuffle, no HOF") {
    import graft.operators.Similarity
    for (df <- Seq(Similarity.norms(t.embeddings),
      Similarity.quantizeInt8(t.embeddings))) {
      val plan = executed(df)
      assert(!plan.contains("Join"), s"self-join crept back:\n$plan")
      assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
      // interpreted HOF lambdas print as "lambdafunction" in the plan
      assert(!plan.contains("lambdafunction"), s"interpreted HOF:\n$plan")
      assert(plan.startsWith("*(1)"), s"not one codegen span:\n$plan")
    }
  }

  test("langid/quality: native stopword counting — no interpreted lambda, one codegen span") {
    for (df <- Seq(
      TextAnalysis.langId(t.documents, "doc_id", "text"),
      TextAnalysis.quality(t.documents, "doc_id", "text"))) {
      val plan = executed(df)
      assert(plan.contains("in_set_count"), s"native counter missing:\n$plan")
      assert(!plan.contains("lambdafunction"), s"interpreted HOF:\n$plan")
      assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
      // the whole text scan rides one whole-stage-codegen span
      assert(plan.startsWith("*(1)"), s"not one codegen span:\n$plan")
    }
  }

  test("fingerprint collapse: partial-aggregated min_by, one shuffle, never a window") {
    val plan = executed(graft.operators.Dedup.collapseFingerprints(
      t.documents, "doc_id", "text"))
    // the collapse must be a map-side-combinable aggregate: each map
    // task emits at most one candidate row per fingerprint it saw, so
    // the hottest duplicate group (the adversarial input this guard
    // exists for) spreads across map tasks instead of landing in one
    // unsplittable fingerprint-partitioned window task
    assert(plan.contains("partial_min_by"),
      s"collapse lost its partial aggregation:\n$plan")
    assert(!plan.contains("Window"),
      s"skew-prone window crept back into the collapse:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected exactly 1 shuffle:\n$plan")
  }

  test("embedding collapse: partial-aggregated min_by, never a window") {
    val plan = executed(graft.operators.Similarity.nearDupPairsCollapsed(
      spark, t.embeddings, 0.9))
    assert(plan.contains("partial_min_by"),
      s"collapse lost its partial aggregation:\n$plan")
    // the only acceptable window is none — the pair join carries no
    // ranking; a (label, embedding)-partitioned window would pin the
    // most-duplicated vector's copies to one task
    assert(!plan.contains("Window"),
      s"skew-prone window crept back into the collapse:\n$plan")
  }

  test("hot-key stress: collapsing 100k copies of ONE text partial-aggregates (no single-task group)") {
    import spark.implicits._
    // the adversarial duplicate-dense input: one fingerprint owns
    // ~99.9% of all rows, spread over 8 input partitions
    val hot = spark.range(100000).select(col("id").as("doc_id"),
      lit("the same boilerplate page text repeated everywhere").as("text"))
    val tail = spark.range(100).select((col("id") + 200000).as("doc_id"),
      concat(lit("unique document body "), col("id")).as("text"))
    val docs = hot.unionAll(tail).repartition(8)
    val collapsed = graft.operators.Dedup.collapseFingerprints(docs, "doc_id", "text")
    val plan = executed(collapsed)
    // partial aggregation proves each of the 8 map tasks emits ONE
    // candidate row for the hot fingerprint — post-shuffle, the hot
    // key's reduce task merges 8 rows, not 100k
    assert(plan.contains("partial_min_by"), s"no map-side combine:\n$plan")
    assert(!plan.contains("Window"), plan)
    val rows = collapsed.select(col("doc_id"), col("n_members")).collect()
    assert(rows.length == 101)
    val hotRow = rows.filter(_.getLong(1) == 100000L)
    assert(hotRow.length == 1 && hotRow.head.getLong(0) == 0L,
      "hot group must collapse to its min-id representative")
    assert(rows.filter(_.getLong(1) == 1L).length == 100)
  }

  test("tokenBalancedShards: one data shuffle; the global window holds bucket SUMS, never rows") {
    import graft.functions.Hash60.tokens
    val plan = executed(graft.operators.Pipeline100TB.tokenBalancedShards(
      t.documents.select(col("doc_id"), col("text")), col("doc_id"),
      size(tokens(col("text"))).cast("long"), nShards = 8))
    // data shuffles: the bucket-partitioned window (1) and the bucket
    // aggregation feeding the offsets (1); offsets come back by
    // broadcast, never by joining a shuffled corpus
    assert(plan.contains("BroadcastExchange"), plan)
    // the only single-partition window is over the ≤2^bucketBits
    // bucket sums (partitioned windows show `windowspecdefinition(__b`)
    assert(plan.contains("windowspecdefinition(__b"), plan)
  }

  test("cross-corpus band join: an equi-join on (band, key) — no nested loop, no cartesian") {
    val d = t.documents
    val plan = executed(graft.operators.Dedup.crossCorpusCandidates(
      d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 === 1),
      "doc_id", "text"))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("tf-idf corpus count is folded in (broadcast), not a separate driver action") {
    val df = graft.operators.TextAnalysis.topTerms(t.documents, "doc_id", "text", 5)
    val plan = executed(df)
    // the 1-row corpus-count side arrives via a broadcast join, and
    // building the DataFrame runs no job at all (count() would have)
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan)
  }

  test("df/cf statistics never window on token-derived keys; the corpus tokenizes once") {
    import graft.operators.{Pipeline100TB, TextAnalysis}
    // token/shingle keys are Zipf-distributed: a window partitioned by
    // them routes every row for a stopword/boilerplate key into ONE
    // unsplittable task at web scale. df/cf must be groupBy+join
    // (map-side partial agg, AQE-skew-splittable join) instead.
    val docs = t.documents
    val tokenWindow = "windowspecdefinition\\((term|tok|sh|source)#".r

    // topTerms keeps exactly one window — the per-doc top-k rank
    val tt = TextAnalysis.topTerms(docs, "doc_id", "text", 5)
    tt.collect()
    val ttPlan = tt.queryExecution.executedPlan.toString
    assert(tokenWindow.findFirstIn(ttPlan).isEmpty,
      s"token-partitioned window in topTerms:\n$ttPlan")
    assert(ttPlan.contains("windowspecdefinition(id#"), ttPlan)
    // the df branch must REUSE the per-(doc,term) exchange — exactly
    // one executed tokenize pass over the corpus
    assert(ttPlan.contains("ReusedExchange"),
      s"df branch forked a second corpus pass:\n$ttPlan")
    assert("\\*\\(\\d+\\) Generate explode".r.findAllIn(ttPlan).size == 1,
      s"token stream must explode exactly once at runtime:\n$ttPlan")

    // unigram LM and source-KL: no window at all; cf/ns branches
    // reuse the one corpus exchange
    val ul = TextAnalysis.unigramLogProb(docs, "doc_id", "text")
    ul.collect()
    val ulPlan = ul.queryExecution.executedPlan.toString
    assert(!ulPlan.contains("Window"), s"window in unigramLogProb:\n$ulPlan")
    assert(ulPlan.contains("ReusedExchange"), s"cf forked a second pass:\n$ulPlan")
    assert("\\*\\(\\d+\\) Generate explode".r.findAllIn(ulPlan).size == 1, ulPlan)

    val sd = Pipeline100TB.sourceDivergence(docs, "source", "text")
    sd.collect()
    val sdPlan = sd.queryExecution.executedPlan.toString
    assert(!sdPlan.contains("Window"), s"window in sourceDivergence:\n$sdPlan")
    assert(sdPlan.contains("ReusedExchange"), s"cf/ns forked extra passes:\n$sdPlan")
    assert("\\*\\(\\d+\\) Generate explode".r.findAllIn(sdPlan).size == 1, sdPlan)

    // boilerplate: no window; two deliberate narrow scans (documented
    // at the code site), both skew-free
    val bp = TextAnalysis.boilerplate(docs, "doc_id", "text")
    assert(!executed(bp).contains("Window"),
      s"window in boilerplate:\n${executed(bp)}")
  }

  test("array $lookup family: pure equi-joins — no nested loop, no cartesian, no row-id window") {
    for (name <- Seq("pipe_lookup_array", "pipe_lookup_array_fk",
      "pipe_lookup_array_whole")) {
      val plan = executed(
        SparkEntry.queries(name)(spark, sfDir))
      // any-element matching must stay an exploded equi-join (an
      // array_contains theta-join would plan BroadcastNestedLoopJoin);
      // the per-key re-aggregation must key on the local VALUE, never
      // a synthetic row id (retry-nondeterministic)
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$name:\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$name:\n$plan")
      assert(!plan.contains("monotonically_increasing_id"), s"$name:\n$plan")
    }
  }

  test("full curation stack: single pass — one scan, both gates fused as filters, one exchange") {
    val df = SparkEntry.queries("corpus_curate_full")(spark, sfDir)
    val plan = executed(df)
    // extraction runs once and the corpus tokenizes once: the gates
    // are WHERE clauses on the shared token array (no semi-joins), and
    // the survivor rides min_by through the fingerprint groupBy (no
    // join-back) — so the ONLY exchange is the partial-aggregated
    // dedup shuffle, and there is no join of any kind
    assert(!plan.contains("Join"), s"gate stack should not join:\n$plan")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"want exactly the dedup exchange ($exchanges):\n$plan")
    // map-side combine before that shuffle (the F10 skew guarantee)
    assert(plan.contains("partial_min_by") || plan.contains("HashAggregate"),
      plan)
  }

  test("exact centroid/gradient sums never posexplode: vector-summed aggregates only") {
    import graft.operators.Similarity
    val embT = TableCatalog(spark, sfDir).embeddings
    // G17 + G20: zero row-explosion anywhere in the plan
    for (df <- Seq(Similarity.centroidAssign(spark, embT),
                   Similarity.centeredStats(spark, embT))) {
      val plan = executed(df)
      assert(!plan.contains("Generate"), s"posexplode in agg path:\n$plan")
      assert(plan.contains("vec_sum"), plan)
    }
    // G19: the only Generate is the training re-center's m-way
    // subvector split (structural, m rows/vec, one per Lloyd pass) —
    // never a per-dimension explode. The Lloyd re-centers run as
    // driver-state jobs during pqCodebookSeq (capture them via
    // listener and assert they vector-sum whole subvectors); the
    // final encode plan assigns codes MAP-SIDE against the literal
    // codebook (round 13) — no join, no exchange, no explode.
    val lloydPlans = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val lloydListener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        lloydPlans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(lloydListener)
    val pqDf = Similarity.pqCodes(spark, embT) // eager: runs the Lloyd jobs
    // execution listeners deliver async — poll for the re-center jobs
    val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
    while (!lloydPlans.toArray.map(_.toString).exists(_.contains("vec_sum")) &&
           System.nanoTime() < deadline) Thread.sleep(50)
    spark.listenerManager.unregister(lloydListener)
    val recenters = lloydPlans.toArray.map(_.toString).filter(_.contains("vec_sum"))
    assert(recenters.nonEmpty, "no vector-summed Lloyd re-center job captured")
    assert(recenters.forall(p => !p.contains("posexplode(svec")), recenters.head)
    // round 13: the encode is a single zero-shuffle projection against
    // the LITERAL codebook (constant-folded assignment expressions) —
    // no join, no exchange, no explode anywhere in the final plan
    val pqPlan = executed(pqDf)
    assert(!pqPlan.contains("posexplode"), pqPlan)
    assert(!pqPlan.contains("Join"), pqPlan)
    assert(!pqPlan.contains("Exchange"), pqPlan)
    // H20b (lazy path, inspectable): the only Generate is the final
    // (bucket, w_micro) output unpack — gradients vector-sum
    val ctPlan = executed(TextAnalysis.classifierTrain(t.documents,
      "doc_id", "text", positive = col("lang") === "en", dims = 64,
      iters = 2, persist = false))
    assert("Generate".r.findAllIn(ctPlan).size == 1, ctPlan)
    assert(ctPlan.contains("vec_sum"), ctPlan)
    // H24: the DSIR bucket histograms vector-sum too — no explode
    val dsirPlan = executed(TextAnalysis.dsirSelect(t.documents,
      "doc_id", "text", targetPred = col("lang") === "en"))
    assert(!dsirPlan.contains("Generate"), dsirPlan)
    assert(dsirPlan.contains("vec_sum"), dsirPlan)
  }

  test("classifier training scans the corpus ONCE: GD steps read the checkpointed features") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val plans = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = TextAnalysis.classifierTrain(t.documents, "doc_id", "text",
        positive = col("lang") === "en", dims = 64, iters = 3).collect()
      assert(out.length == 65)
      // execution listeners deliver async — wait for the checkpoint
      // executions (1 feature frame + 3 steps) and the final collect
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      while (plans.size < 5 && System.nanoTime() < deadline) Thread.sleep(50)
      import scala.jdk.CollectionConverters._
      val all = plans.asScala.toList
      val fileScans = all.count(_.contains("FileScan parquet"))
      assert(fileScans == 1,
        s"corpus scanned $fileScans times, want 1:\n${all.mkString("\n====\n")}")
      // every step execution reads materialized RDDs, never the file
      assert(all.count(_.contains("Scan ExistingRDD")) >= 3, all.mkString("\n====\n"))
    } finally spark.listenerManager.unregister(listener)
  }

  test("classifier training at iters=8: constant-size step plans, bit-identical to the lazy path") {
    // the lazy (persist=false) path nests each step's plan inside the
    // next — at iters=8 that is the lineage-blowup regime the persist
    // seam exists for; outputs must nevertheless be bit-identical
    val fast = TextAnalysis.classifierTrain(t.documents, "doc_id", "text",
        positive = col("lang") === "en", dims = 64, iters = 8)
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val lazyPath = TextAnalysis.classifierTrain(t.documents, "doc_id", "text",
        positive = col("lang") === "en", dims = 64, iters = 8, persist = false)
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    assert(fast.length == 65)
    assert(fast.toSeq == lazyPath.toSeq)
  }

  test("bucketed co-located join: SortMergeJoin with ZERO exchanges; unbucketed control shuffles") {
    import graft.operators.Pipeline100TB
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val left = t.documents.select(col("doc_id"), col("source"))
      val right = t.documents.select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"))
      Pipeline100TB.writeBucketed(left, "bkspec_corpus", "doc_id")
      Pipeline100TB.writeBucketed(right, "bkspec_stats", "doc_id")
      val j = Pipeline100TB.bucketedJoin(spark, "bkspec_corpus",
        "bkspec_stats", "doc_id")
      val plan = executed(j)
      assert(plan.contains("SortMergeJoin"), s"not a merge join:\n$plan")
      assert(!plan.contains("Exchange"),
        s"bucketed join still shuffles:\n$plan")
      assert(j.count() == t.documents.count())
      // control: the same join over the raw (unbucketed) frames pays
      // the exchange the layout exists to eliminate
      val control = executed(left.hint("merge").join(right, "doc_id"))
      assert(control.contains("Exchange"), s"control did not shuffle:\n$control")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("hamming top-k: the corpus side never shuffles — broadcast query join only") {
    import graft.operators.Similarity
    val e = t.embeddings
    val plan = executed(Similarity.hammingTopK(spark, e,
      e.filter(col("vec_id") < 10), k = 5))
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"), plan)
    // only the rank window's single exchange is allowed; the packed
    // corpus scan itself must not shuffle before the join
    val joinIdx = math.max(plan.indexOf("BroadcastHashJoin"),
      plan.indexOf("BroadcastNestedLoopJoin"))
    val below = plan.substring(joinIdx)
    assert(!below.replaceFirst("BroadcastExchange", "").contains("Exchange hashpartitioning") ||
      !below.contains("Exchange hashpartitioning(vec_id"),
      s"corpus shuffled before the hamming join:\n$plan")
  }

  test("bloom probe: the filter side broadcasts; no corpus-keyed shuffle for the membership test") {
    import graft.operators.Dedup
    val d = t.documents
    val plan = executed(Dedup.bloomProbe(
      d.filter(col("doc_id") % 10 === 0),
      Dedup.fingerprintIndex(d.filter(col("doc_id") % 10 =!= 0), "text"),
      "doc_id", "text"))
    assert(plan.contains("BroadcastHashJoin"),
      s"bloom words not broadcast:\n$plan")
  }

  test("$search plans no corpus shuffle: tf map-side, stats broadcast") {
    import graft.plans.MongoPipeline
    val plan = executed(MongoPipeline(t.documents,
      """[{"$search": {"text": {"query": "spark", "path": "text"}}},
          {"$limit": 5}]"""))
    // corpus stats fold in via a broadcast nested-loop (1-row side);
    // the only exchange is the final TakeOrdered/sort machinery —
    // never a hashpartitioning of the corpus by a text-derived key
    assert(!plan.contains("Exchange hashpartitioning"),
      s"$$search shuffled the corpus:\n$plan")
  }

  test("$search compound: corpus scans are clause-count-INVARIANT (fused stats pass)") {
    // r14 shape: one broadcast-stats corpus-scan subtree PER scored
    // clause (K+1 scans for a K-clause compound). Round 15 fuses all
    // clauses' stats (N, Σdl, per-term df) into ONE aggregate, so a
    // 3-clause compound plans exactly as many parquet scans as a
    // 1-clause search: the tf pass + the stats pass.
    def scans(json: String): Int = {
      val plan = executed(graft.plans.MongoPipeline(t.documents, json))
      "FileScan parquet".r.findAllIn(plan).length
    }
    val one = scans(
      """[{"$search": {"text": {"query": "spark", "path": "text"}}},
          {"$limit": 5},
          {"$project": {"doc_id": 1, "score": {"$meta": "searchScore"}}}]""")
    val three = scans(
      """[{"$search": {"compound": {
            "must": [{"text": {"query": "spark query", "path": "text"}},
                     {"phrase": {"query": "table hash", "path": "text"}}],
            "should": [{"wildcard": {"query": "qu*y", "path": "text"}}]}}},
          {"$limit": 5},
          {"$project": {"doc_id": 1, "score": {"$meta": "searchScore"}}}]""")
    assert(one == 2, s"1-clause $$search planned $one corpus scans, want 2")
    assert(three == one,
      s"3-clause compound planned $three corpus scans vs $one for 1 clause " +
        "— the per-clause stats fusion regressed")
  }

  test("round-16 $search clauses ride the fused pass: fuzzy/slop/matchall/synonyms compound still plans 2 corpus scans; opt-in count costs exactly its documented re-evaluation") {
    import graft.plans.MongoPipeline
    def scans(df: org.apache.spark.sql.DataFrame, json: String,
              tables: String => org.apache.spark.sql.DataFrame =
                n => throw new IllegalArgumentException(n)): Int = {
      val plan = executed(MongoPipeline(df, json, tables))
      "FileScan parquet".r.findAllIn(plan).length
    }
    import spark.implicits._
    val syns = Seq(("equivalent", Seq("query", "scan")))
      .toDF("mappingType", "synonyms")
    // a 4-clause compound mixing every round-16 scored kind (fuzzy,
    // slop, matchall with its hidden indicator entry, synonyms) plans
    // the SAME 2 corpus scans as a 1-clause text search — the r15
    // fused-stats invariant extends to all new clause kinds
    val mixed = scans(t.documents,
      """[{"$search": {"compound": {
            "must": [{"text": {"query": "spark quary", "path": "text",
                       "fuzzy": {"maxEdits": 1}}},
                     {"text": {"query": "spark query", "path": "text",
                       "matchCriteria": "all"}}],
            "should": [{"phrase": {"query": "hash join", "path": "text",
                        "slop": 1}},
                       {"text": {"query": "query", "path": "text",
                        "synonyms": "syns"}}]}}},
          {"$limit": 5},
          {"$project": {"doc_id": 1, "score": {"$meta": "searchScore"}}}]""",
      n => if (n == "syns") syns else throw new IllegalArgumentException(n))
    assert(mixed == 2,
      s"round-16 compound planned $mixed corpus scans, want 2 (fused)")
    // the count option re-evaluates the matched subtree (documented):
    // exactly double the uncounted search's scans, never more
    val counted = scans(t.documents,
      """[{"$search": {"text": {"query": "spark", "path": "text"},
                       "count": {"type": "total"}}},
          {"$limit": 5},
          {"$project": {"doc_id": 1,
                        "total": "$$SEARCH_META.count.total"}}]""")
    assert(counted == 4,
      s"counted search planned $counted scans, want 4 (2 + the " +
        "documented match-set re-evaluation)")
  }

  test("broker log append: offsets sequence per (topic, partition) — no global sort") {
    import graft.streaming.KafkaLog
    val msgs = t.events.selectExpr("'t' as topic",
      "cast(user_id as string) as key", "props as value", "event_id as seq")
    val plan = executed(KafkaLog.append(msgs, 4, "seq"))
    assert(plan.contains("Window"), plan)
    // partitioned window: hashpartitioning on (topic, partition), not a
    // single global range sort
    assert(plan.contains("hashpartitioning"), plan)
    assert(!plan.contains("rangepartitioning"), s"global sort:\n$plan")
    // a known base (the offsets record's) is a literal lookup per row:
    // no broadcast of a high-water frame, same partitioned window
    val based = executed(KafkaLog.append(msgs, 4, "seq", Map(("t", 0) -> 7L, ("t", 3) -> 2L)))
    assert(!based.contains("BroadcastExchange"), based)
    assert(based.contains("hashpartitioning") && !based.contains("rangepartitioning"), based)
  }
}
