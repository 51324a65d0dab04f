package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Pipeline100TB, Similarity, TextAnalysis}
import graft.sources.TableCatalog

/** Round-6 curation operators: benchmark decontamination, sequence
  * packing, Gopher rules, and the composed SemDeDup pass — kernel
  * semantics on constructed inputs plus the plan shapes that hold at
  * scale.
  */
class CurationSpec extends SparkTestBase {

  private def docsDf(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  // ——— decontaminate ———

  test("zipf fit: planted power law reads slope ≈ −1; real corpus negative; layout-invariant") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    // exact Zipf corpus: token w_r appears ⌊2000/r⌉ times, r = 1..64
    val planted = (1 to 64).flatMap(r =>
      Seq.fill(2000 / r)(s"w$r")).grouped(100)
      .map(_.mkString(" ")).zipWithIndex
      .map { case (txt, i) => (i.toLong, txt) }.toSeq
      .toDF("doc_id", "text")
    val fit = TextAnalysis.zipfFit(planted, "text").head
    assert(fit.getInt(0) == 64)
    val slope = fit.getDouble(2)
    assert(slope < -0.9 && slope > -1.1, s"planted Zipf slope $slope")
    // real corpus: frequency decays with rank ⇒ negative slope
    val corpus = graft.sources.TableCatalog(spark, sfDir).documents
    val real = TextAnalysis.zipfFit(corpus, "text").head
    assert(real.getDouble(2) < 0, real.toString)
    // exact determinism across layouts (int64 sums + mirrored floats)
    val again = TextAnalysis.zipfFit(corpus.repartition(7), "text").head
    assert(again.toString == real.toString)
  }

  test("decontaminate flags exactly the docs sharing a trigram with the bench set") {
    // doc 0 is the benchmark; doc 1 shares the trigram "a b c"; doc 2
    // shares bigrams only; doc 3 is disjoint
    val docs = docsDf(
      0L -> "a b c d e",
      1L -> "x a b c y",
      2L -> "b c x d e",
      3L -> "p q r s t")
    val out = Dedup.decontaminate(docs, "doc_id", "text", n = 3,
        benchPred = col("doc_id") === 0)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    assert(out.keySet == Set(1L))
    assert(out(1L) == ((3, 1L))) // 3 trigrams, 1 hit
  }

  test("decontaminate counts distinct overlapping shingles, not occurrences") {
    val docs = docsDf(
      0L -> "a b c a b c",      // bench: trigrams {abc, bca, cab}
      1L -> "a b c a b c a b c") // corpus: same 3 distinct trigrams
    val out = Dedup.decontaminate(docs, "doc_id", "text", n = 3,
        benchPred = col("doc_id") === 0)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 3, 3)))
  }

  test("decontaminate broadcasts the bench side — corpus never shuffles into a join") {
    val t = TableCatalog(spark, sfDir).documents
    val plan = Dedup.decontaminate(t, "doc_id", "text", n = 3,
        benchPred = col("doc_id") % 20 === 0)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("fuzzy decontamination flags near-duplicates of the bench set by shared bands") {
    val benchText = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = docsDf(
      0L -> benchText,                                   // benchmark
      1L -> benchText,                                   // exact dup: all bands
      2L -> (benchText + " iota"),                       // near-dup: most shingles shared
      3L -> "one two three four five six seven eight")   // unrelated
    val out = Dedup.decontaminateFuzzy(docs, "doc_id", "text",
        benchPred = col("doc_id") === 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.getOrElse(1L, 0L) == 4L) // exact dup collides on every band
    assert(out.contains(2L))            // near-dup shares at least one band
    assert(!out.contains(3L))           // unrelated never collides
  }

  test("fuzzy decontamination broadcasts the bench bands") {
    val plan = Dedup.decontaminateFuzzy(TableCatalog(spark, sfDir).documents,
        "doc_id", "text", benchPred = col("doc_id") % 20 === 0)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("bandingEval: metric identities hold; all-duplicate corpus reads empty/null") {
    import spark.implicits._
    val d = TableCatalog(spark, sfDir).documents
    val m = graft.operators.Dedup.bandingEval(d, "doc_id", "text").head
    val (nt, nc, nh) = (m.getLong(0), m.getLong(1), m.getLong(2))
    assert(nh <= math.min(nt, nc), m.toString)
    if (nc > 0) assert(m.getDouble(3) == (nh.toDouble / nc * 1e6).round / 1e6)
    if (nt > 0) assert(m.getDouble(4) == (nh.toDouble / nt * 1e6).round / 1e6)
    // a corpus of pure exact duplicates collapses to ONE rep: no
    // pairs on either side, rates null — the guard works before the
    // generators ever run
    val dup = (1L to 6L).map(i => (i, "same text every time here ok"))
      .toDF("doc_id", "text")
    val z = graft.operators.Dedup.bandingEval(dup, "doc_id", "text").head
    assert((z.getLong(0), z.getLong(1), z.getLong(2)) == ((0L, 0L, 0L)))
    assert(z.isNullAt(3) && z.isNullAt(4))
  }

  test("decontaminateSpans: verbatim aligned quotes counted; clean docs zero; fail-closed") {
    import spark.implicits._
    val benchText = "A" * 30 + "B" * 30 + "C" * 30 // 3 aligned blocks
    val docs = Seq(
      (0L, benchText, Some(true)),             // the bench doc
      (1L, "B" * 30 + "z" * 35, Some(false)),  // quotes bench block 2, aligned
      (2L, "x" * 95, Some(false)),             // clean, 3 blocks, 0 hits
      (3L, "short", Some(false)),              // shorter than a block
      (4L, benchText, None: Option[Boolean])   // NULL pred → corpus, fully quoted
    ).toDF("doc_id", "text", "is_bench")
    val out = graft.operators.Dedup.decontaminateSpans(
        docs, "doc_id", "text", benchPred = col("is_bench") === true)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) -1.0 else r.getDouble(3))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L)) // bench doc not in output
    assert(out(1L) == ((2L, 1L, 0.5)), out(1L).toString)
    assert(out(2L) == ((3L, 0L, 0.0)), out(2L).toString)
    assert(out(3L) == ((0L, 0L, -1.0)), out(3L).toString)
    // fail-closed: the NULL-pred doc is checked as corpus and is
    // 100% quoted bench content
    assert(out(4L) == ((3L, 3L, 1.0)), out(4L).toString)
  }

  test("decontamination guards fail closed: NULL-predicate rows are checked as corpus") {
    import spark.implicits._
    // doc 1's source is NULL: benchPred is NULL there — it must be
    // treated as corpus (and flagged, since it duplicates the bench
    // doc), never silently skipped
    val docs = Seq(
      (0L, Some("eval"), "alpha beta gamma delta epsilon zeta eta theta"),
      (1L, None: Option[String], "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "src", "text")
    val pred = col("src") === "eval"
    val exact = Dedup.decontaminate(docs, "doc_id", "text", n = 3, pred)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(exact == Set(1L))
    val fuzzy = Dedup.decontaminateFuzzy(docs, "doc_id", "text", pred)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(fuzzy == Set(1L))
  }

  // ——— packSequences ———

  test("packSequences: concat-and-split bins and offsets are exact") {
    import spark.implicits._
    // one shard, docs of 3/4/5 tokens, cap 6:
    // cum_before 0,3,7,12 → bins 0,0,1,2; offsets 0,3,1,0
    val docs = Seq(
      (1L, "s", "a b c"), (2L, "s", "a b c d"),
      (3L, "s", "a b c d e"), (4L, "s", "a b")
    ).toDF("doc_id", "src", "text")
    val out = Pipeline100TB.packSequences(docs, "doc_id", "text", "src", cap = 6)
      .orderBy("doc_id")
      .select("doc_id", "n_tok", "cum_before", "bin", "off_tok")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq(
      (1L, 3L, 0L, 0L, 0L), (2L, 4L, 3L, 0L, 3L),
      (3L, 5L, 7L, 1L, 1L), (4L, 2L, 12L, 2L, 0L)))
  }

  test("packSequences: shards pack independently; exact-cap doc starts the next bin") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x", "a b c d e f"), // exactly cap → next doc starts bin 1 offset 0
      (2L, "x", "g"),
      (1L, "y", "a")            // other shard restarts at bin 0
    ).toDF("doc_id", "src", "text")
    val out = Pipeline100TB.packSequences(docs, "doc_id", "text", "src", cap = 6)
      .select("shard", "doc_id", "bin", "off_tok")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(out == Set(("x", 1L, 0L, 0L), ("x", 2L, 1L, 0L), ("y", 1L, 0L, 0L)))
  }

  test("packSequences rejects a non-positive cap") {
    intercept[IllegalArgumentException] {
      Pipeline100TB.packSequences(
        TableCatalog(spark, sfDir).documents, "doc_id", "text", "source", cap = 0)
    }
  }

  test("packSequences plans one shuffle (the shard key), nothing else") {
    val plan = Pipeline100TB.packSequences(
        TableCatalog(spark, sfDir).documents, "doc_id", "text", "source", cap = 512)
      .queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles == 1, plan)
  }

  // ——— gopherRules ———

  test("gopherRules: each rule gates the composite verdict") {
    val fifty = (1 to 50).map(i => s"w$i").mkString(" ")
    val docs = docsDf(
      // 50 in-range words, the/a/of stopwords, healthy ttr → pass
      1L -> ((1 to 47).map(i => s"word$i").mkString(" ") + " the a of"),
      2L -> "the a of is tiny",                    // n_words < 50
      3L -> fifty,                                 // no stopwords
      4L -> ("the a " + Array.fill(48)("of").mkString(" "))) // ttr floor
    val out = TextAnalysis.gopherRules(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getBoolean(5)).toMap
    assert(out == Map(1L -> true, 2L -> false, 3L -> false, 4L -> false))
  }

  test("gopherRules metrics are the documented ratios") {
    val out = TextAnalysis.gopherRules(docsDf(1L -> "aa bb aa cccc"), "doc_id", "text")
      .collect().head
    assert(out.getLong(1) == 4)              // n_words
    assert(out.getDouble(2) == 2.5)          // (2+2+2+4)/4
    assert(out.getDouble(3) == 0.75)         // 3 distinct / 4
    assert(out.getInt(4) == 0)               // stop_hits
  }

  test("gopherRules plans zero shuffles") {
    val plan = TextAnalysis.gopherRules(
        TableCatalog(spark, sfDir).documents, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  // ——— BpeEncode (H22) ———

  private def bpeIds(df: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.GraftBridge
    val toks = graft.functions.Hash60.tokens(col("text"))
    df.select(col("doc_id"), GraftBridge.column(graft.functions.BpeEncode(
      GraftBridge.expression(toks),
      graft.operators.LlmQueries.bpeMerges,
      graft.operators.LlmQueries.bpeVocab)).as("ids"))
  }

  /** Rank-greedy reference apply — the subword-nmt loop: repeatedly
    * merge ALL occurrences of the lowest-rank pair present.
    */
  private def greedyBpe(word: String): Seq[String] = {
    val merges = graft.operators.LlmQueries.bpeMerges
    val rank = merges.zipWithIndex.toMap
    var syms = word.map(_.toString).toVector
    var done = syms.length < 2
    while (!done) {
      val present = syms.zip(syms.tail).flatMap(rank.get)
      if (present.isEmpty) done = true
      else {
        val (a, b) = merges(present.min)
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
            out += a + b; i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.result()
        done = syms.length < 2
      }
    }
    syms
  }

  test("bpe_encode matches the rank-greedy reference tokenizer word by word") {
    val vocabIdx = graft.operators.LlmQueries.bpeVocab.zipWithIndex.toMap
    val words = Seq("the", "then", "and", "band", "inner", "irrational",
      "rethink", "xyz", "a1er9", "anand", "thethe", "q-q")
    for (w <- words) {
      val expected = greedyBpe(w).map(s => vocabIdx.getOrElse(s, -1))
      val got = bpeIds(docsDf(1L -> w)).collect().head
        .getAs[scala.collection.Seq[Int]]("ids").toSeq
      assert(got == expected, s"word '$w': got $got, want $expected")
    }
  }

  test("bpe_encode concatenates per-word ids in document order, skipping empty words") {
    val vocabIdx = graft.operators.LlmQueries.bpeVocab.zipWithIndex.toMap
    val expected = Seq("the", "and", "er").flatMap(w =>
      greedyBpe(w).map(s => vocabIdx.getOrElse(s, -1)))
    val got = bpeIds(docsDf(1L -> "  the   and  er ")).collect().head
      .getAs[scala.collection.Seq[Int]]("ids").toSeq
    assert(got == expected, got)
  }

  test("packSequencesBy packs on the exact BPE counts") {
    import spark.implicits._
    val docs = Seq(
      (1L, "s1", "the and"),     // the→[the]=1 tok, and→[and]=1 tok → 2
      (2L, "s1", "thether"),     // the,the,r → 3
      (3L, "s1", "xyz"))         // x,y,z → 3
      .toDF("doc_id", "source", "text")
    import org.apache.spark.sql.GraftBridge
    val ids = GraftBridge.column(graft.functions.BpeEncode(
      GraftBridge.expression(graft.functions.Hash60.tokens(col("text"))),
      graft.operators.LlmQueries.bpeMerges,
      graft.operators.LlmQueries.bpeVocab))
    val out = graft.operators.Pipeline100TB.packSequencesBy(
        docs, "doc_id", size(ids).cast("long"), "source", cap = 4)
      .orderBy("doc_id")
      .collect().map(r => (r.getAs[Long]("n_tok"), r.getAs[Long]("cum_before"),
        r.getAs[Long]("bin"), r.getAs[Long]("off_tok")))
    assert(out.toSeq == Seq((2L, 0L, 0L, 0L), (3L, 2L, 0L, 2L), (3L, 5L, 1L, 1L)),
      out.toSeq)
  }

  test("bpe_encode plans zero shuffles") {
    val plan = bpeIds(TableCatalog(spark, sfDir).documents)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  // ——— extractMarkup (H21) ———

  test("extractMarkup drops script/style/comments, breaks blocks to lines, decodes entities") {
    val html = "<html><head><script>var x = 1 &lt; 2;</script><style>p{}</style></head>" +
      "<body><!-- menu --><h1>Head &amp; Tail</h1><p>One sentence.</p>" +
      "<ul><li>nav item</li></ul><div>tail&nbsp;bit &#39;q&#39;</div></body></html>"
    val out = docsDf(1L -> html)
      .select(Pipeline100TB.extractMarkup(col("text")).as("t"))
      .collect().head.getString(0)
    assert(out == "Head & Tail\nOne sentence.\nnav item\ntail bit 'q'", out)
  }

  test("extractMarkup decodes &amp; last so double-escaped entities stay literal") {
    val out = docsDf(1L -> "<p>a &amp;lt; b</p>")
      .select(Pipeline100TB.extractMarkup(col("text")).as("t"))
      .collect().head.getString(0)
    assert(out == "a &lt; b", out)
  }

  test("markup → extract → line filter composes: only terminated prose survives") {
    val html = "<p>Keep this sentence.</p><li>Nav Menu</li><p>Also kept!</p>"
    val extracted = docsDf(1L -> html).select(col("doc_id"),
      Pipeline100TB.extractMarkup(col("text")).as("text"))
    val out = TextAnalysis.filterLines(extracted, "doc_id", "text").collect().head
    assert(out.getAs[String]("clean_text") == "Keep this sentence.\nAlso kept!")
    assert(out.getAs[Int]("orig_lines") == 3 && out.getAs[Int]("kept_lines") == 2)
  }

  test("extractMarkup plans zero shuffles over the scan") {
    val plan = TableCatalog(spark, sfDir).documents
      .select(col("doc_id"), Pipeline100TB.extractMarkup(col("text")).as("t"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  // ——— classifierScore (H20) ———

  /** Plain-Scala model twin: same md5-60-bit bucket, same exact
    * integer fold, same float boundary — the single-node reference
    * the distributed inference must match bit-for-bit.
    */
  private def refClf(text: String, w: Seq[Long], biasMicro: Long): Double = {
    val toks = text.toLowerCase.trim.split(" +", -1)
    val raw = toks.map { t =>
      val h = graft.functions.ShingleHashes.hash60(t.getBytes("UTF-8"))
      w((h % w.length).toInt)
    }.sum
    val z = (raw.toDouble / toks.length + biasMicro.toDouble) / 1000000.0
    BigDecimal(1.0 / (1.0 + math.exp(-z)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  test("classifierScore matches the single-node model on a non-trivial weight table") {
    val w = (0 until 64).map(b => ((b * 48271L + 11L) % 2000001L) - 1000000L)
    val docs = docsDf(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "lorem ipsum dolor sit amet consectetur adipiscing elit",
      3L -> "x",
      4L -> "a a a a a a a a")
    val out = TextAnalysis.classifierScore(docs, "doc_id", "text", w,
        biasMicro = 250000L, threshold = 0.5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    for ((id, text) <- Seq(1L -> "the quick brown fox jumps over the lazy dog",
                           2L -> "lorem ipsum dolor sit amet consectetur adipiscing elit",
                           3L -> "x", 4L -> "a a a a a a a a")) {
      val exp = refClf(text, w, 250000L)
      assert(out(id)._2 == exp, s"doc $id: got ${out(id)._2}, want $exp")
      assert(out(id)._3 == (exp >= 0.5), s"keep flag, doc $id")
      assert(out(id)._1 == text.split(" +").length.toLong)
    }
  }

  test("classifierScore separates classes when weights favor known-good tokens") {
    // put all mass on the buckets of the "good" vocabulary, negative
    // elsewhere — docs of good tokens must keep, bad must drop
    val good = Seq("clean", "prose", "article")
    val dims = 64
    val goodBuckets = good.map(t =>
      (graft.functions.ShingleHashes.hash60(t.getBytes("UTF-8")) % dims).toInt).toSet
    val w = (0 until dims).map(b =>
      if (goodBuckets.contains(b)) 3000000L else -3000000L)
    val docs = docsDf(
      1L -> "clean prose article clean prose",
      2L -> "zzyx qwfp vbnm glrt hjkd")
    val out = TextAnalysis.classifierScore(docs, "doc_id", "text", w,
        biasMicro = 0L, threshold = 0.5)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(out == Map(1L -> true, 2L -> false))
  }

  test("classifierScore plans zero shuffles and stays in whole-stage codegen") {
    val plan = TextAnalysis.classifierScore(
        TableCatalog(spark, sfDir).documents, "doc_id", "text",
        graft.operators.LlmQueries.clfWeights, 50000L, 0.5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    // '*(1)' prefix = the projection fused into WholeStageCodegen stage 1
    assert(plan.contains("*(1) Project"), plan)
    assert(plan.contains("hashed_feature_dot"), plan)
  }

  // ——— mixBalance ———

  test("mixBalance: under-budget strata pass whole, over-budget strata shrink") {
    import spark.implicits._
    // source "big": 100 docs × 10 tokens = 1000 tokens; "small": 3 docs
    val docs = ((1L to 100L).map(i => (i, "big", Seq.fill(10)("w").mkString(" "))) ++
      Seq((201L, "small", "a b"), (202L, "small", "c d"), (203L, "small", "e f")))
      .toDF("doc_id", "src", "text")
    val kept = Pipeline100TB.mixBalance(docs, "src", col("doc_id"),
        size(split(col("text"), " ")).cast("long"), targetToks = 300L)
      .select("doc_id", "src").collect().map(r => (r.getLong(0), r.getString(1)))
    val (big, small) = kept.partition(_._2 == "big")
    assert(small.map(_._1).toSet == Set(201L, 202L, 203L)) // rate 1: all kept
    // rate 0.3 over 100 docs: strictly down-sampled, not emptied
    assert(big.length < 60 && big.length > 5, s"kept ${big.length} of big")
  }

  test("mixBalance: NULL strata form their own stratum instead of vanishing") {
    import spark.implicits._
    // 3 null-stratum docs, tiny token mass: rate 1, all must survive —
    // an equi-join on the stratum would silently drop every one
    val docs = ((1L to 100L).map(i =>
        (i, Some("big"), Seq.fill(10)("w").mkString(" "))) ++
      Seq((201L, None, "a b"), (202L, None, "c d"), (203L, None, "e f")))
      .toDF("doc_id", "src", "text")
    val kept = Pipeline100TB.mixBalance(docs, "src", col("doc_id"),
        size(split(col("text"), " ")).cast("long"), targetToks = 300L)
      .select("doc_id", "src").collect()
    val nulls = kept.filter(_.isNullAt(1)).map(_.getLong(0)).toSet
    assert(nulls == Set(201L, 202L, 203L), s"null-stratum rows kept: $nulls")
    // and the null stratum is rated on its OWN mass, not pooled into
    // another stratum: big still strictly down-samples
    val big = kept.filter(r => !r.isNullAt(1)).length
    assert(big < 60 && big > 5, s"kept $big of big")
  }

  test("mixBalance is deterministic across runs and rejects a non-positive target") {
    val d = TableCatalog(spark, sfDir).documents
    def run() = Pipeline100TB.mixBalance(d, "source", col("doc_id"),
        size(split(col("text"), " +")).cast("long"), targetToks = 300L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(run() == run())
    intercept[IllegalArgumentException] {
      Pipeline100TB.mixBalance(d, "source", col("doc_id"), lit(1L), 0L)
    }
  }

  test("mixBalance broadcasts the rate table — the corpus is filtered map-side") {
    val plan = Pipeline100TB.mixBalance(TableCatalog(spark, sfDir).documents,
        "source", col("doc_id"),
        size(split(col("text"), " +")).cast("long"), targetToks = 300L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  // ——— bm25 ———

  test("bm25: term-bearing docs outrank term-free docs; tf raises the score") {
    val docs = docsDf(
      1L -> "spark spark spark alpha beta gamma",
      2L -> "spark alpha beta gamma delta eps",
      3L -> "alpha beta gamma delta eps zeta")
    val out = TextAnalysis.bm25(docs, "doc_id", "text", Seq("spark"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(out.map(_._1).toSeq == Seq(1L, 2L)) // doc 3 scores 0, cut
    assert(out(0)._2 > out(1)._2)              // tf 3 beats tf 1 at equal dl
  }

  test("bm25 rejects an empty term set") {
    intercept[IllegalArgumentException] {
      TextAnalysis.bm25(TableCatalog(spark, sfDir).documents,
        "doc_id", "text", Seq.empty)
    }
  }

  test("bm25 top-k is a distributed TakeOrdered, not a global window") {
    val plan = TextAnalysis.bm25(TableCatalog(spark, sfDir).documents,
        "doc_id", "text", Seq("spark", "query"), k = 20)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Window"), plan)
  }

  // ——— pairCounts ———

  test("pairCounts: adjacent-pair multiset, not distinct shingles; deterministic top-k") {
    val docs = docsDf(
      1L -> "a b a b a b", // pair "a b" ×3, "b a" ×2
      2L -> "a b c")       // "a b" ×1, "b c" ×1
    val out = TextAnalysis.pairCounts(docs, "doc_id", "text", k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(out.toSeq == Seq(("a b", 4L), ("b a", 2L), ("a b c".split(" ").slice(1, 3).mkString(" "), 1L)))
    // single-token and empty docs contribute nothing
    val edge = TextAnalysis.pairCounts(docsDf(1L -> "solo"), "doc_id", "text")
    assert(edge.count() == 0)
  }

  test("pairCounts top-k plans as TakeOrderedAndProject") {
    val plan = TextAnalysis.pairCounts(
        TableCatalog(spark, sfDir).documents, "doc_id", "text", k = 20)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  // ——— unigramLogProb ———

  test("unigram LM score: rare-token docs score below common-token docs") {
    val docs = docsDf(
      1L -> "the the the the",     // all high-frequency mass
      2L -> "the the qzx wvut")    // half rare singletons
    val out = TextAnalysis.unigramLogProb(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out(1L)._1 == 4 && out(2L)._1 == 4)
    assert(out(1L)._2 > out(2L)._2)
    // doc 1: every token has cf=6/nt=8 → avg = ln(0.75)
    assert(math.abs(out(1L)._2 - math.round(math.log(0.75) * 1e4) / 1e4) < 1e-9)
  }

  test("unigram LM score: the (doc,term) shuffle is computed once and reused") {
    val df = TextAnalysis.unigramLogProb(
      TableCatalog(spark, sfDir).documents, "doc_id", "text")
    val static = df.queryExecution.executedPlan.toString
    assert(!static.contains("SortMergeJoin"), static)
    // corpus-total branch is a broadcast 1-row cross join
    assert(static.contains("BroadcastNestedLoopJoin"), static)
    // the per-(doc,term) aggregate feeds both the window branch and
    // the corpus-total branch: statically that prints 4 exchanges,
    // at runtime AQE's exchange reuse collapses the duplicate
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(finalPlan.contains("ReusedExchange") ||
      "Exchange hashpartitioning".r.findAllIn(finalPlan).length <= 3,
      s"duplicate (doc,term) shuffle not reused:\n$finalPlan")
  }

  test("bigram LM score: predictable-sequence docs outrank shuffled-rare ones; sub-bigram docs drop") {
    val docs = docsDf(
      1L -> "a b a b a b a b",  // one dominant bigram pattern
      2L -> "a qzx b wvut a jjk",  // same length, singleton bigrams
      3L -> "solo")            // no bigram positions: excluded
    val out = TextAnalysis.bigramLogProb(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(!out.contains(3L))
    assert(out(1L)._1 == 7 && out(2L)._1 == 5)
    assert(out(1L)._2 > out(2L)._2,
      s"patterned ${out(1L)._2} must beat rare ${out(2L)._2}")
  }

  test("bigram LM score: hand-checked conditional probabilities") {
    // corpus = one doc "x y x y": bigrams xy(2), yx(1); contexts
    // x·=2, y·=1; V = {x,y} = 2.
    // P(y|x) = (2+.5)/(2+1) = 5/6, P(x|y) = (1+.5)/(1+1) = 3/4
    // avg = (2·ln(5/6) + 1·ln(3/4)) / 3   (micronat-rounded per term)
    val docs = docsDf(1L -> "x y x y")
    val out = TextAnalysis.bigramLogProb(docs, "doc_id", "text").collect()
    assert(out.length == 1 && out.head.getLong(1) == 3)
    val exp = (math.round(2.0 * math.log(2.5 / 3.0) * 1e6) +
      math.round(1.0 * math.log(1.5 / 2.0) * 1e6)) / 1e6 / 3.0
    val expR = BigDecimal(exp).setScale(4, BigDecimal.RoundingMode.HALF_UP)
    assert(BigDecimal(out.head.getDouble(2)) == expR,
      s"got ${out.head.getDouble(2)}, want $expR")
  }

  test("trigram LM score: fluent > clause-rotated > rare; sub-trigram docs drop") {
    // background docs train the model; the fluent doc re-uses their
    // trigrams, the shuffled doc has the SAME unigrams in an unseen
    // order (only backoff mass), the rare doc is singleton everything
    val docs = docsDf(
      10L -> "the cat sat on the mat",
      11L -> "the cat sat on the mat",
      12L -> "the cat sat on the mat",
      1L -> "the cat sat on the mat",
      2L -> "on the mat the cat sat", // clause-rotated: 2/4 trigrams seen
      3L -> "qzx wvut jjk plom drat krel",
      4L -> "too short")
    val out = TextAnalysis.trigramLogProb(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(!out.contains(4L), "2-token doc must have no trigram positions")
    assert(out(1L)._1 == 4 && out(2L)._1 == 4 && out(3L)._1 == 4)
    assert(out(1L)._2 > out(2L)._2,
      s"fluent ${out(1L)._2} must beat rotated ${out(2L)._2}")
    assert(out(2L)._2 > out(3L)._2,
      s"rotated ${out(2L)._2} must beat rare ${out(3L)._2}")
  }

  test("trigram LM score: hand-checked interpolated backoff") {
    // corpus = one doc "x y z x y z": trigrams xyz(2), yzx(1), zxy(1);
    // ctx3 x y=2, y z=1, z x=1; bigrams xy(2), yz(2), zx(1) with
    // contexts x=2, y=2, z=1; unigrams all 2, N=6; V={x,y,z}=3, α=.5
    val docs = docsDf(1L -> "x y z x y z")
    val out = TextAnalysis.trigramLogProb(docs, "doc_id", "text").collect()
    assert(out.length == 1 && out.head.getLong(1) == 4)
    def p(cf3: Double, ctx3: Double, cf2: Double, ctx2: Double,
          cf1: Double): Double =
      0.5 * ((cf3 + 0.5) / (ctx3 + 1.5)) +
        0.3 * ((cf2 + 0.5) / (ctx2 + 1.5)) +
        0.2 * ((cf1 + 0.5) / (6.0 + 1.5))
    val sumMicro = math.round(2.0 * math.log(p(2, 2, 2, 2, 2)) * 1e6) +
      math.round(1.0 * math.log(p(1, 1, 1, 1, 2)) * 1e6) +
      math.round(1.0 * math.log(p(1, 1, 2, 2, 2)) * 1e6)
    // the operator's integer-scale final rounding: deci-milli-nats
    val expR = BigDecimal(sumMicro / (4.0 * 100.0))
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble / 10000.0
    assert(out.head.getDouble(2) == expR,
      s"got ${out.head.getDouble(2)}, want $expR")
  }

  test("KN trigram: fluent > rotated > rare; sub-trigram docs drop; layout-invariant") {
    val docs = docsDf(
      10L -> "the cat sat on the mat",
      11L -> "the cat sat on the mat",
      12L -> "the cat sat on the mat",
      1L -> "the cat sat on the mat",
      2L -> "on the mat the cat sat",
      3L -> "qzx wvut jjk plom drat krel",
      4L -> "too short")
    def run(parts: Int) = TextAnalysis.knTrigramLogProb(
        docs.repartition(parts), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val out = run(3)
    assert(!out.contains(4L), "2-token doc must have no trigram positions")
    assert(out(1L)._1 == 4 && out(2L)._1 == 4 && out(3L)._1 == 4)
    assert(out(1L)._2 > out(2L)._2,
      s"fluent ${out(1L)._2} must beat rotated ${out(2L)._2}")
    assert(out(2L)._2 > out(3L)._2,
      s"rotated ${out(2L)._2} must beat rare ${out(3L)._2}")
    // int64 micronat pre-sum: bit-identical on any partition layout
    assert(out == run(7))
  }

  test("KN 5-gram: fluent > rotated > rare; sub-5-gram docs drop; layout-invariant") {
    val docs = docsDf(
      10L -> "the cat sat on the mat by the door",
      11L -> "the cat sat on the mat by the door",
      12L -> "the cat sat on the mat by the door",
      1L -> "the cat sat on the mat by the door",
      2L -> "by the door the cat sat on the mat", // rotated: fewer seen 5-grams
      3L -> "qzx wvut jjk plom drat krel vmbo xxq pafl",
      4L -> "only four words here")
    def run(parts: Int) = TextAnalysis.knFivegramLogProb(
        docs.repartition(parts), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val out = run(3)
    assert(!out.contains(4L), "4-token doc must have no 5-gram positions")
    assert(out(1L)._1 == 5 && out(2L)._1 == 5 && out(3L)._1 == 5)
    assert(out(1L)._2 > out(2L)._2,
      s"fluent ${out(1L)._2} must beat rotated ${out(2L)._2}")
    assert(out(2L)._2 > out(3L)._2,
      s"rotated ${out(2L)._2} must beat rare ${out(3L)._2}")
    // int64 micronat pre-sum: bit-identical on any partition layout
    assert(out == run(7))
  }

  test("KN 5-gram score: hand-checked continuation-count formula") {
    // corpus = "x y z w v x y z w v": 5-gram TYPES xyzwv(2), yzwvx(1),
    // zwvxy(1), wvxyz(1), vxyzw(1); each history h4 has ONE distinct
    // continuation; every suffix type at every level has ONE left
    // context and ONE continuation type; N₁₊(··) = 5 bigram-suffix
    // types {wv, vx, xy, yz, zw}, D = 0.75
    val docs = docsDf(1L -> "x y z w v x y z w v")
    val out = TextAnalysis.knFivegramLogProb(docs, "doc_id", "text").collect()
    assert(out.length == 1 && out.head.getLong(1) == 6)
    val p1 = 1.0 / 5.0
    val p2 = (1.0 - 0.75) / 1.0 + 0.75 * 1.0 / 1.0 * p1
    val p3 = (1.0 - 0.75) / 1.0 + 0.75 * 1.0 / 1.0 * p2
    val p4 = (1.0 - 0.75) / 1.0 + 0.75 * 1.0 / 1.0 * p3
    def p5(cf5: Double, ch4: Double) =
      (cf5 - 0.75) / ch4 + 0.75 * 1.0 / ch4 * p4
    val sumMicro = math.round(2.0 * math.log(p5(2, 2)) * 1e6) +
      4 * math.round(1.0 * math.log(p5(1, 1)) * 1e6)
    val expR = BigDecimal(sumMicro / (6.0 * 100.0))
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble / 10000.0
    assert(out.head.getDouble(2) == expR,
      s"got ${out.head.getDouble(2)}, want $expR")
  }

  test("KN trigram score: hand-checked continuation-count formula") {
    // corpus = "x y z x y z": trigram TYPES xyz(cf3=2), yzx(1), zxy(1);
    // contexts c(xy·)=2, c(yz·)=1, c(zx·)=1, each with ONE distinct
    // continuation; every bc suffix type has ONE left context, every
    // token ONE continuation type, N₁₊(··)=3 bc types, D=0.75
    val docs = docsDf(1L -> "x y z x y z")
    val out = TextAnalysis.knTrigramLogProb(docs, "doc_id", "text").collect()
    assert(out.length == 1 && out.head.getLong(1) == 4)
    val pc = 1.0 / 3.0
    val p2 = (1.0 - 0.75) / 1.0 + 0.75 * 1.0 / 1.0 * pc // = 0.5
    def p3(cf3: Double, cab: Double) =
      (cf3 - 0.75) / cab + 0.75 * 1.0 / cab * p2
    val sumMicro = math.round(2.0 * math.log(p3(2, 2)) * 1e6) +
      math.round(1.0 * math.log(p3(1, 1)) * 1e6) +
      math.round(1.0 * math.log(p3(1, 1)) * 1e6)
    val expR = BigDecimal(sumMicro / (4.0 * 100.0))
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toDouble / 10000.0
    assert(out.head.getDouble(2) == expR,
      s"got ${out.head.getDouble(2)}, want $expR")
  }

  /** Driver-side replay of interpolated Kneser-Ney at `order`, level
    * by level as the Chen & Goodman recursion reads, with `math.log`,
    * the micronat pre-sum and the integer-scale display rounding:
    * doc_id → (positions, avg log-prob). Also returns, per level k of
    * the suffix chain (k < order; k = order is the n-gram table,
    * which has no left contexts), the most left contexts of one
    * suffix and (k ≥ 2) the most continuations of one history, so a
    * spec can show its corpus branches everywhere.
    */
  private def knReplay(docs: Seq[(Long, String)], order: Int, d: Double = 0.75)
      : (Map[Long, (Long, Double)], Map[Int, (Long, Long)]) = {
    def halfUp(x: Double) = BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP)
    val grams = docs.map { case (id, t) =>
      id -> t.trim.toLowerCase.split(" +").toSeq.sliding(order)
        .filter(_.length == order).toSeq
    }.filter(_._2.nonEmpty)
    val cf = grams.flatMap(_._2).groupBy(identity).map { case (g, o) => g -> o.size.toLong }
    // history → (context total, distinct continuations)
    val ctx = cf.groupBy(_._1.init).map { case (h, m) => h -> ((m.values.sum, m.size.toLong)) }
    // suffix s → N₁₊(·s); history h → (Σ N₁₊(·s) over s extending h, #such s)
    var n1p = Map.empty[Seq[String], Long]
    var mid = Map.empty[Seq[String], (Long, Long)]
    var branching = Map(order -> ((0L, ctx.values.map(_._2).max)))
    var upper = cf.keySet.toSeq
    for (k <- order - 1 to 1 by -1) {
      val level = upper.groupBy(_.tail).map { case (s, us) => s -> us.size.toLong }
      val m = level.groupBy(_._1.init).map { case (h, l) => h -> ((l.values.sum, l.size.toLong)) }
      n1p ++= level
      if (k >= 2) mid ++= m
      branching += k -> ((level.values.max, if (k >= 2) m.values.map(_._2).max else 0L))
      upper = level.keySet.toSeq
    }
    val total = n1p.keys.count(_.length == 2).toDouble
    def p(s: Seq[String]): Double =
      if (s.length == 1) n1p(s).toDouble / total
      else {
        val (m, dot) = mid(s.init)
        (n1p(s).toDouble - d) / m.toDouble + d * dot.toDouble / m.toDouble * p(s.tail)
      }
    def pTop(g: Seq[String]): Double = {
      val (c, cont) = ctx(g.init)
      (cf(g).toDouble - d) / c.toDouble + d * cont.toDouble / c.toDouble * p(g.tail)
    }
    val scores = grams.map { case (id, gs) =>
      val tf = gs.groupBy(identity).map { case (g, o) => g -> o.size.toLong }
      val micro = tf.map { case (g, n) => halfUp(n.toDouble * math.log(pTop(g)) * 1e6).toLong }.sum
      id -> ((gs.size.toLong, halfUp(micro / (gs.size * 100.0)).toDouble / 10000.0))
    }.toMap
    (scores, branching)
  }

  test("KN trigram and 5-gram: branching contexts match a driver-side replay of the recursion") {
    // four words, so suffixes at every level have several left
    // contexts and histories several continuations: a swapped
    // N₁₊(·h·)/N₁₊(h·) or a mixed-up lower level changes the scores
    val corpus = Seq(
      1L -> "a b c a b d a b c d",
      2L -> "c a b c a b d d a b",
      3L -> "d a b c d a b c a c b",
      4L -> "b a b c a d b c a b c",
      5L -> "a c b d a b c",
      6L -> "b a c")
    for ((order, run) <- Seq[(Int, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
        3 -> (TextAnalysis.knTrigramLogProb(_, "doc_id", "text")),
        5 -> (TextAnalysis.knFivegramLogProb(_, "doc_id", "text")))) {
      val (want, branching) = knReplay(corpus, order)
      for (k <- 1 to order) {
        val (left, cont) = branching(k)
        if (k < order) assert(left >= 2, s"order $order level $k: no suffix with two left contexts")
        if (k >= 2) assert(cont >= 2, s"order $order level $k: no history with two continuations")
      }
      val got = run(docsDf(corpus: _*)).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
      assert(got == want, s"order $order")
    }
  }

  // ——— negativeSamples ———

  test("negative sampling: deterministic, capped at k, never self or same-label") {
    val emb = TableCatalog(spark, sfDir).embeddings
    def run() = graft.operators.Similarity.negativeSamples(emb, k = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3)))
    val a = run()
    assert(a.nonEmpty)
    assert(a.toSeq == run().toSeq || a.toSet == run().toSet) // same picks
    val labels = emb.collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(a.forall { case (anchor, _, neg, negLabel) =>
      neg != anchor && labels(anchor) != negLabel })
    assert(a.groupBy(_._1).values.forall(_.length <= 4))
    // k is validated
    intercept[IllegalArgumentException] {
      graft.operators.Similarity.negativeSamples(emb, k = 0)
    }
  }

  test("negative sampling joins on the partner id — no cartesian blowup") {
    val plan = graft.operators.Similarity.negativeSamples(
        TableCatalog(spark, sfDir).embeddings, k = 4)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    // the only nested-loop is the broadcast 1-row N aggregate
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).length <= 1, plan)
  }

  // ——— splitAssign ———

  test("splitAssign: stable hash-range splits, zero shuffle, cutoffs validated") {
    val docs = TableCatalog(spark, sfDir).documents.select("doc_id")
    val df = Pipeline100TB.splitAssign(docs, col("doc_id"))
    val out = df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.values.toSet.subsetOf(Set("train", "val", "test")))
    assert(out.values.count(_ == "train") > out.size / 2)
    // adding rows never moves an existing row's split
    val half = Pipeline100TB.splitAssign(
        docs.filter(col("doc_id") < 50), col("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(half.forall { case (id, sp) => out(id) == sp })
    assert(!df.queryExecution.executedPlan.toString.contains("Exchange"))
    intercept[IllegalArgumentException] {
      Pipeline100TB.splitAssign(docs, col("doc_id"), trainPermille = 995,
        valPermille = 10)
    }
  }

  test("null keys: splitAssign routes them to one deterministic split; shuffleOrder keeps them") {
    import spark.implicits._
    val df = Seq((1L, Some("a")), (2L, None: Option[String]), (3L, Some("c")),
      (4L, Some("")))
      .toDF("id", "k")
    val splits = Pipeline100TB.splitAssign(df, col("k"))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    // the null key hashes exactly like the empty string — the pre-fix
    // behavior (when-chain falls through, pooling nulls into "test")
    // would fail this equality unless "" also lands in test
    assert(splits(2L) == splits(4L))
    assert(splits(2L) != "test") // hash60("") mod 1000 = 424 → train
    val pos = Pipeline100TB.shuffleOrder(df, col("k"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(pos.size == 4)                           // null-key row kept
    assert(pos.values.toSet == Set(0L, 1L, 2L, 3L)) // bijection intact
  }

  // ——— shuffleOrder ———

  test("shuffleOrder: a bijective 0..N-1 permutation equal to the global hash rank") {
    import graft.functions.Hash60.hash60
    val docs = TableCatalog(spark, sfDir).documents.select("doc_id")
    val out = Pipeline100TB.shuffleOrder(docs, col("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val n = docs.count()
    assert(out.size == n)
    assert(out.values.toSet == (0L until n).toSet) // bijection onto 0..N-1
    // equals the naive single-window global rank (fine at spec scale)
    val naive = docs
      .withColumn("pos", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(hash60(col("doc_id").cast("string")), col("doc_id")))
        .cast("long") - 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == naive)
  }

  test("shuffleOrder: only bucket COUNTS hit a single partition, never data rows") {
    val plan = Pipeline100TB.shuffleOrder(
        TableCatalog(spark, sfDir).documents.select("doc_id"), col("doc_id"))
      .queryExecution.executedPlan.toString
    // the data-side window is partitioned by the hash bucket
    assert(plan.contains("windowspecdefinition(__b"), plan)
    // offsets branch is broadcast back, not joined by shuffle
    assert(plan.contains("BroadcastExchange"), plan)
    intercept[IllegalArgumentException] {
      Pipeline100TB.shuffleOrder(
        TableCatalog(spark, sfDir).documents, col("doc_id"), bucketBits = 0)
    }
  }

  // ——— semanticDedup ———

  test("semanticDedup keeps exactly the min id of every cosine cluster") {
    val emb = TableCatalog(spark, sfDir).embeddings
    val out = Similarity.semanticDedup(spark, emb, tau = 0.4)
    val rows = out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(rows.nonEmpty)
    // keep ⇔ vec_id == cluster root, one keeper per cluster
    assert(rows.forall { case (v, c, k) => k == (v == c) })
    val byCluster = rows.groupBy(_._2)
    assert(byCluster.values.forall(_.count(_._3) == 1))
    assert(byCluster.forall { case (c, members) => members.map(_._1).min == c })
    // identical clustering to the propagation CC over the same pairs
    val pairs = Similarity.nearDupPairs(spark, emb, tau = 0.4)
      .select(col("a"), col("b"))
    val prop = Pipeline100TB.connectedComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows.map(r => (r._1, r._2)).toSet == prop)
  }

  // ——— tokenBalancedShards ———

  test("tokenBalancedShards: near-equal token mass, equal to the naive global cumsum, null keys kept") {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.Hash60.{hash60, rowKey, tokens}
    val d = TableCatalog(spark, sfDir).documents
      .select(col("doc_id"), col("text"))
    val n = 8
    val out = Pipeline100TB.tokenBalancedShards(
      d, col("doc_id"), size(tokens(col("text"))).cast("long"), nShards = n)
    // every row lands in [0, n); all shards populated on 500 docs
    val byShard = out
      .withColumn("__t", size(tokens(col("text"))).cast("long"))
      .groupBy("shard").agg(sum(col("__t")).as("mass"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byShard.keySet == (0L until n).toSet, byShard.toString)
    // balance: masses deviate by at most the largest single document
    val maxDoc = d.select(max(size(tokens(col("text"))).cast("long"))).head().getLong(0)
    assert(byShard.values.max - byShard.values.min <= maxDoc,
      s"imbalance ${byShard.values.max - byShard.values.min} > maxDoc $maxDoc")
    // exactly the naive single-partition global cumsum assignment
    val naive = d
      .withColumn("__t", size(tokens(col("text"))).cast("long"))
      .withColumn("__h", hash60(rowKey(col("doc_id"))))
      .withColumn("__cb", coalesce(sum(col("__t")).over(
        Window.orderBy(col("__h"), col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .crossJoin(broadcast(d.agg(sum(size(tokens(col("text")))
        .cast("long")).as("__tot"))))
      .selectExpr("doc_id", s"least((__cb * ${n}L) div __tot, ${n - 1}L) AS shard")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = out.select("doc_id", "shard")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == naive)
    // null keys are kept (rowKey), not dropped
    import spark.implicits._
    val withNull = Seq((Some(1L), 5L), (None, 7L), (Some(2L), 3L))
      .toDF("k", "nt")
    val outN = Pipeline100TB.tokenBalancedShards(withNull, col("k"), col("nt"), 2)
    assert(outN.count() == 3)
    intercept[IllegalArgumentException] {
      Pipeline100TB.tokenBalancedShards(withNull, col("k"), col("nt"), 0)
    }
  }

  // ——— sourceDivergence ———

  test("sourceDivergence: the more skewed source diverges more; values are ~non-negative") {
    import spark.implicits._
    // source a: 50/50 x,y — source b: all x. Corpus = 150x/50y, so
    // KL(a)=0.5·ln(0.5/0.75)+0.5·ln(0.5/0.25)≈0.1438, KL(b)=ln(1/0.75)≈0.2877
    val d = ((1L to 50L).map(i => (i, "a", "x y")) ++
      (101L to 150L).map(i => (i, "b", "x x")))
      .toDF("doc_id", "source", "text")
    val out = Pipeline100TB.sourceDivergence(d, "source", "text")
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(math.abs(out("a") - 0.143841) < 1e-4, out.toString)
    assert(math.abs(out("b") - 0.287682) < 1e-4, out.toString)
    assert(out("b") > out("a"))
    // KL against a mixture containing the source is >= 0 up to
    // micronat rounding
    assert(out.values.forall(_ >= -1e-6))
  }

  // ——— incrementalFingerprint ———

  test("incremental dedup ≡ full-corpus dedup restricted to novel fingerprints; index advances") {
    val d = TableCatalog(spark, sfDir).documents
    val corpus = d.filter(col("doc_id") % 10 =!= 0)
    val batch = d.filter(col("doc_id") % 10 === 0)
    val index = Dedup.fingerprintIndex(corpus, "text")
    val inc = Dedup.incrementalFingerprint(batch, index, "doc_id", "text")
    // novel = batch-only dedup minus fingerprints the corpus already has
    val batchOnly = Dedup.fingerprint(batch, "doc_id", "text")
    val want = batchOnly.join(index, Seq("fp"), "left_anti")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val got = inc.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
    assert(got.nonEmpty)
    // advancing the index with the new fps = rebuilding it from scratch
    val advanced = index.union(inc.select("fp"))
      .distinct().collect().map(_.getString(0)).toSet
    val rebuilt = Dedup.fingerprintIndex(d, "text")
      .collect().map(_.getString(0)).toSet
    assert(advanced == rebuilt)
  }

  test("bucketed index: the incremental anti join shuffles ONLY the batch side") {
    val d = TableCatalog(spark, sfDir).documents
    val corpus = d.filter(col("doc_id") % 10 =!= 0)
    val batch = d.filter(col("doc_id") % 10 === 0)
    Dedup.persistIndexBucketed(
      Dedup.fingerprintIndex(corpus, "text"), "graft_fp_index", buckets = 8)
    try {
      val idx = spark.table("graft_fp_index")
      val inc = Dedup.incrementalFingerprint(batch, idx, "doc_id", "text")
      val plan = inc.queryExecution.executedPlan.toString
      // the bucketed scan satisfies the join's hash requirement: the
      // index subtree must contribute NO exchange — only the batch
      // shuffles into the bucket layout (+1 for the final groupBy)
      assert(plan.contains("Bucketed: true"), plan)
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges <= 2, s"expected <=2 shuffles (batch + groupBy):\n$plan")
      // and the results are identical to the unbucketed path
      val want = Dedup.incrementalFingerprint(batch,
          Dedup.fingerprintIndex(corpus, "text"), "doc_id", "text")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val got = inc.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == want)
    } finally spark.sql("DROP TABLE IF EXISTS graft_fp_index")
  }

  test("bucketed band index: the F14 veto join contributes no index-side exchange") {
    val d = TableCatalog(spark, sfDir).documents
    val corpus = d.filter(col("doc_id") % 10 =!= 0)
    val batch = d.filter(col("doc_id") % 10 === 0)
    Dedup.persistBandIndexBucketed(
      Dedup.bandIndex(corpus, "doc_id", "text"), "graft_band_index",
      buckets = 8)
    try {
      val idx = spark.table("graft_band_index")
      val inc = Dedup.incrementalBands(batch, idx, "doc_id", "text")
      val plan = inc.queryExecution.executedPlan.toString
      // the bucketed scan satisfies the semi join's hash requirement —
      // the standing index never re-shuffles; every Exchange in the
      // plan keys on batch-side tables (signature build, veto,
      // candidate self-join, final groupBy)
      assert(plan.contains("Bucketed: true"), plan)
      // and the result matches the unbucketed path exactly
      val want = Dedup.incrementalBands(batch,
          Dedup.bandIndex(corpus, "doc_id", "text"), "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val got = inc.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want && got.nonEmpty)
    } finally spark.sql("DROP TABLE IF EXISTS graft_band_index")
  }

  // ——— nearDupPairsCollapsed (duplicate-dense guard) ———

  test("collapsed cosine pairs are copy-factor invariant and account for every underlying pair") {
    import spark.implicits._
    // two distinct vectors above tau of each other, replicated 4× and 2×
    val va = Array(1.0f, 0.0f, 0.1f)
    val vb = Array(0.9f, 0.1f, 0.1f)
    val vfar = Array(-1.0f, 0.5f, 0.0f)
    val rows =
      (0 until 4).map(i => (10L + i, va, 1)) ++
      (0 until 2).map(i => (20L + i, vb, 1)) ++
      Seq((30L, vfar, 1))
    val emb = rows.toDF("vec_id", "embedding", "label")
    val collapsed = Similarity.nearDupPairsCollapsed(spark, emb, tau = 0.8).collect()
    // one representative pair (10, 20) carrying both group sizes
    assert(collapsed.length == 1)
    val p = collapsed.head
    assert(p.getAs[Long]("a") == 10L && p.getAs[Long]("b") == 20L)
    assert(p.getAs[Long]("n_a") == 4L && p.getAs[Long]("n_b") == 2L)
    // cross pairs (n_a·n_b) + intra-group pairs (cos=1 for exact copies)
    // = everything the uncollapsed generator emits
    val uncollapsed = Similarity.nearDupPairs(spark, emb, tau = 0.8).count()
    val cross = collapsed.map(r => r.getAs[Long]("n_a") * r.getAs[Long]("n_b")).sum
    val intra = Seq(4L, 2L).map(n => n * (n - 1) / 2).sum
    assert(uncollapsed == cross + intra,
      s"uncollapsed=$uncollapsed cross=$cross intra=$intra")
  }

  // ——— cluster-size histogram (F7c) ———

  test("cluster-size histogram: known cluster structure, singletons from totals") {
    import spark.implicits._
    val a = "alpha beta gamma delta epsilon zeta eta theta"
    val b = "one two three four five six seven eight nine ten"
    val docs = (Seq(1L, 2L, 3L).map(i => (i, a)) ++
      Seq(11L, 12L).map(i => (i, b)) ++
      Seq((21L, "completely different words entirely here now")))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashCandidates(docs, "doc_id", "text",
      n = 2, k = 16, bands = 4)
    val clusters = Pipeline100TB.connectedComponents(pairs)
    val hist = clusters.groupBy(col("cluster")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hist == Map(3L -> 1L, 2L -> 1L), s"got $hist")
    // singleton = total - clustered
    assert(docs.count() - clusters.count() == 1)
  }

  // ——— pmiPairs (H7d) ———

  test("pmi: an exclusive collocation outranks a frequent independent pair; rare pairs are floored out") {
    // "new york" always co-occurs (exclusive); "the" pairs with many
    // different neighbors (independent); "rare gem" appears twice only
    val phrase = Seq.fill(6)("new york").mkString(" ")
    val indep = "the a the b the c the d the e the f"
    val docs = docsDf(
      1L -> phrase, 2L -> phrase,
      3L -> indep, 4L -> indep,
      5L -> "rare gem", 6L -> "rare gem")
    val out = TextAnalysis.pmiPairs(docs, "doc_id", "text",
        minCount = 5, k = 10)
      .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(out.contains("new york"))
    assert(!out.contains("rare gem"), "pair below the count floor survived")
    val thePairs = out.keys.filter(_.startsWith("the "))
    assert(thePairs.forall(p => out(p) < out("new york")),
      s"independent 'the *' pairs must score below the collocation: $out")
  }

  // ——— cmsProbe (G21) ———

  test("count-min sketch: one-sided error, exact on a collision-free corpus, absent probes read their collisions") {
    // tiny distinct vocabulary: with d=4 × w=64 the probability that
    // a HAND-CHECKED pair collides in all 4 rows is nil — verify the
    // exact case, then the invariant est >= true on the real table
    val docs = docsDf(
      1L -> "alpha beta alpha",
      2L -> "beta gamma alpha")
    val out = Pipeline100TB.cmsProbe(docs, "text",
        probes = Seq("alpha", "beta", "gamma", "absent"), d = 4, w = 64)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out("alpha")._2 == 3L && out("beta")._2 == 2L &&
      out("gamma")._2 == 1L && out("absent")._2 == 0L)
    // one-sided: estimate never undercounts
    assert(out.values.forall { case (est, tru, over) =>
      est >= tru && over == est - tru })
    // 3 distinct tokens in 256 cells: no full-row collision — exact
    assert(out("alpha")._1 == 3L && out("beta")._1 == 2L)
    // invariant holds on the real corpus too, any partitioning
    val d = TableCatalog(spark, sfDir).documents
    def run(parts: Int) = Pipeline100TB.cmsProbe(d.repartition(parts), "text",
        probes = Seq("the", "of", "qzxkj"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val a = run(2)
    assert(a == run(7))
    assert(a.forall { case (_, est, tru) => est >= tru })
  }

  test("new-operator null/empty hardening: null lang, null source, empty text") {
    import spark.implicits._
    // classifierTrain: null lang = negative class (coalesce), not a
    // null label poisoning every gradient
    val d1 = Seq((1L, "the cat", Some("en")), (2L, "el gato", None))
      .toDF("doc_id", "text", "lang")
    val w = TextAnalysis.classifierTrain(d1, "doc_id", "text",
      positive = col("lang") === "en", dims = 8, iters = 1)
    assert(w.collect().length == 9) // 8 buckets + bias, no NPE
    // dsirSelect: null source = not-target (coalesce); empty text
    // still hashes its one empty token
    val d2 = Seq((1L, "alpha beta", Some("t")), (2L, "", None),
      (3L, "alpha beta gamma", Some("x")))
      .toDF("doc_id", "text", "source")
    val out = TextAnalysis.dsirSelect(d2, "doc_id", "text",
      targetPred = col("source") === "t", dims = 8, k = 10).collect()
    assert(out.length == 3) // every doc scored, none dropped
    // mixTemperature: null strata are excluded (no NULL domain row)
    val d3 = Seq((1L, Some("a"), "w w"), (2L, None, "w w w"))
      .toDF("doc_id", "src", "text")
    val mt = Pipeline100TB.mixTemperature(d3, "src",
      size(split(col("text"), " ")).cast("long"), budget = 10L)
      .collect().map(_.getString(0))
    assert(mt.toSeq == Seq("a"))
    // cmsProbe: empty-text corpus still yields a defined sketch
    val d4 = docsDf(1L -> "")
    val cms = Pipeline100TB.cmsProbe(d4, "text", probes = Seq("x"))
      .collect()
    assert(cms.length == 1 && cms.head.getLong(2) == 0L)
  }

  // ——— classifierTrain (H20b) ———

  private def langDocsDf(rows: (Long, String, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text", "lang")
  }

  test("classifierTrain learns weights that separate the classes it was shown") {
    // disjoint vocabularies: the trained model must score en docs above
    // the others when applied via the SAME hashed-feature inference
    val docs = langDocsDf(
      (1L, "the cat sat on the mat", "en"),
      (2L, "the dog ran to the park", "en"),
      (3L, "el gato grande come pescado", "es"),
      (4L, "el perro corre al parque", "es"))
    val w = TextAnalysis.classifierTrain(docs, "doc_id", "text",
        positive = col("lang") === "en", dims = 64, iters = 2, lr = 5.0)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(w.size == 65 && w.contains(-1), s"expected 65 rows, got ${w.size}")
    val weights = (0 until 64).map(b => w(b))
    val bias = w(-1)
    val scored = TextAnalysis.classifierScore(docs, "doc_id", "text",
        weights, biasMicro = bias, threshold = 0.5)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(Seq(1L, 2L).map(scored).min > Seq(3L, 4L).map(scored).max,
      s"trained model fails to separate: $scored")
  }

  test("classifierTrain is bit-deterministic across partition layouts") {
    val d = TableCatalog(spark, sfDir).documents
    def run(parts: Int) = TextAnalysis.classifierTrain(
        d.repartition(parts), "doc_id", "text",
        positive = col("lang") === "en")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(run(2) == run(7))
  }

  test("classifierTrain's per-iteration exchange is the gradient buffers, not the corpus") {
    // the model state must flow as a broadcast; the only non-broadcast
    // exchange input is the vector-summed gradient agg. persist=false:
    // the default path checkpoints each step, leaving only the output
    // unpack in the final plan — the lazy path keeps the per-iteration
    // shape inspectable.
    val plan = TextAnalysis.classifierTrain(
        TableCatalog(spark, sfDir).documents, "doc_id", "text",
        positive = col("lang") === "en", persist = false)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan)
    assert(plan.contains("hashed_feature_counts"), plan)
  }

  // ——— dsirSelect (H24) ———

  test("dsirSelect prefers docs that look like the target domain") {
    import spark.implicits._
    // target = wiki-ish vocabulary; raw pool has lookalikes and junk.
    // All lookalikes must outrank all junk on the importance weight.
    val tgt = (1L to 6L).map(i =>
      (i, "history of the ancient empire and its trade routes", "wiki"))
    val like = (11L to 14L).map(i =>
      (i, "trade routes of the ancient empire history", "web"))
    val junk = (21L to 24L).map(i =>
      (i, "click here buy cheap pills now free offer", "web"))
    val docs = (tgt ++ like ++ junk).toDF("doc_id", "text", "source")
    val out = TextAnalysis.dsirSelect(docs, "doc_id", "text",
        targetPred = col("source") === "wiki", dims = 64, k = 14)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val likeMin = (11L to 14L).map(out).min
    val junkMax = (21L to 24L).map(out).max
    assert(likeMin > junkMax,
      s"lookalike lw_micro $likeMin must exceed junk $junkMax")
  }

  test("dsirSelect is deterministic and bounded by k") {
    val d = TableCatalog(spark, sfDir).documents
    def run(parts: Int) = TextAnalysis.dsirSelect(
        d.repartition(parts), "doc_id", "text",
        targetPred = col("source") === "src0", k = 25)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val a = run(3)
    assert(a.length == 25)
    assert(a.toSeq == run(8).toSeq)
  }

  // ——— mixTemperature (G12b) ———

  test("mixTemperature: UniMax water-fills — small domains cap, large share equally") {
    import spark.implicits._
    // three domains: 10, 100, 1000 tokens; budget 400, cap 2 epochs.
    // small caps at 2 epochs = 20 tokens; the remaining 380 water-fill
    // EQUALLY over mid and large (λ = 190 < both caps) — the UniMax
    // shape: capped tail, uniform fill level above it.
    val docs = Seq(
      (1L, "s", Seq.fill(10)("w").mkString(" ")),
      (2L, "m", Seq.fill(100)("w").mkString(" ")),
      (3L, "l", Seq.fill(1000)("w").mkString(" ")))
      .toDF("doc_id", "src", "text")
    val out = Pipeline100TB.mixTemperature(docs, "src",
        size(split(col("text"), " ")).cast("long"),
        alpha = 0.3, budget = 400L, capEpochs = 2L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(3), r.getDouble(4)))).toMap
    assert(out("s")._2 == 20.0 && out("s")._3 == 2.0)
    assert(out("m")._2 == 190.0 && out("m")._3 == 1.9)
    assert(out("l")._2 == 190.0 && out("l")._3 == 0.19)
    // allocations exhaust the budget exactly
    assert(out.values.map(_._2).sum == 400.0)
  }

  test("mixTemperature: over-generous budget caps every domain; α=1 is proportional") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a", Seq.fill(30)("w").mkString(" ")),
      (2L, "b", Seq.fill(70)("w").mkString(" ")))
      .toDF("doc_id", "src", "text")
    val out = Pipeline100TB.mixTemperature(docs, "src",
        size(split(col("text"), " ")).cast("long"),
        alpha = 1.0, budget = 10000L, capEpochs = 2L)
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(2), r.getDouble(3)))).toMap
    // budget 10000 > Σ caps (200): all capped at 2 epochs
    assert(out("a")._2 == 60.0 && out("b")._2 == 140.0)
    // α=1 → p_temp is the plain token share
    assert(out("a")._1 == 0.3 && out("b")._1 == 0.7)
  }

  // ——— DoReMi mixture (H25) + deterministic exp ———

  test("withExpDet matches math.exp to 1e-12 relative across [-20, 20]") {
    import spark.implicits._
    val xs = (-200 to 200).map(_ / 10.0)
    val out = TextAnalysis.withExpDet(xs.toDF("x"), col("x"), "e")
      .select("x", "e").collect()
    assert(out.length == xs.length)
    out.foreach { r =>
      val (x, e) = (r.getDouble(0), r.getDouble(1))
      assert(math.abs(e - math.exp(x)) <= 1e-12 * math.exp(x),
        s"x=$x det=$e libm=${math.exp(x)}")
    }
  }

  test("doremiMix upweights the domain a sequence model gains most on") {
    import spark.implicits._
    // both domains share ONE unigram distribution (9 tokens, 3 types,
    // equal counts) so the reference model scores them identically;
    // 'seq' repeats a fixed trigram pattern the KN proxy learns,
    // 'bag' scatters the same tokens into per-doc derangements
    val seq = (1L to 4L).map(i =>
      (i, "seq", "alpha beta gamma alpha beta gamma alpha beta gamma"))
    val bags = Seq(
      "gamma alpha beta beta gamma alpha alpha gamma beta",
      "beta gamma alpha gamma beta alpha beta alpha gamma",
      "alpha gamma beta gamma alpha beta beta gamma alpha",
      "gamma beta alpha alpha gamma beta gamma alpha beta")
    val bag = bags.zipWithIndex.map { case (t, i) => (10L + i, "bag", t) }
    val docs = (seq ++ bag).toDF("doc_id", "source", "text")
    val out = Pipeline100TB.doremiMix(docs, "doc_id", "text", "source")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(3), r.getLong(4)))).toMap
    assert(out.keySet == Set("seq", "bag"))
    val (exSeq, wSeq) = out("seq")
    val (exBag, wBag) = out("bag")
    assert(exSeq > exBag,
      s"sequence-model gain should concentrate on seq: $exSeq vs $exBag")
    // equal token shares ⇒ the exp tilt alone decides the weights
    assert(wSeq > wBag)
    assert(math.abs(wSeq + wBag - 1000000L) <= 2, s"ppm sum: ${wSeq + wBag}")
  }

  // ——— unigram-LM tokenizer (H7e learn / H22b apply) ———

  test("unigram learn: pieces are corpus substrings, single chars always covered, counts consistent") {
    val docs = docsDf(
      1L -> "spark spark stream",
      2L -> "spa park stream stream")
    val vocab = TextAnalysis.unigramLearn(docs, "doc_id", "text",
      maxPieceLen = 3, maxVocab = 16, iters = 2).collect()
    val words = Seq("spark", "stream", "spa", "park")
    val chars = words.flatMap(_.toSeq).toSet
    vocab.foreach { r =>
      val piece = r.getString(0)
      assert(words.exists(_.contains(piece)), s"piece $piece not a substring")
      assert(r.getLong(2) > 0, "smoothed cost must be positive")
    }
    // full character coverage survives the maxVocab cap
    val pieces = vocab.map(_.getString(0)).toSet
    chars.foreach(c => assert(pieces.contains(c.toString), s"char $c missing"))
    // hard-EM counts: total piece occurrences ≤ total corpus chars
    // (each char consumed by exactly one piece per word occurrence)
    val totChars = Seq("spark" -> 2, "stream" -> 3, "spa" -> 1, "park" -> 1)
      .map { case (w, f) => w.length * f }.sum
    assert(vocab.map(_.getLong(1)).sum <= totChars)
  }

  test("unigram apply: EM concentrates mass so frequent whole words become single pieces") {
    // 'zq' dominates; the lone 'z q' doc keeps both singles alive
    val docs = docsDf(
      (1L to 10L).map(i => i -> "zq zq zq zq") :+ (11L -> "z q"): _*)
    val out = TextAnalysis.unigramApply(docs, "doc_id", "text",
        maxPieceLen = 2, maxVocab = 8, iters = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    // p(zq) ≈ p(z) ≈ p(q) ⇒ one 'zq' piece beats 'z'+'q' — each
    // frequent word segments as ONE piece
    (1L to 10L).foreach(i => assert(out(i) == ((4L, 4L)), s"doc $i: ${out(i)}"))
    assert(out(11L) == ((2L, 2L)))
  }

  test("unigram EM objective is non-increasing across iterations and runs deterministically") {
    val docs = TableCatalog(spark, sfDir).documents
    def totalCost(iters: Int): Long =
      TextAnalysis.unigramApply(docs, "doc_id", "text", iters = iters)
        .agg(sum(col("cost_mnat"))).collect().head.getLong(0)
    val j1 = totalCost(1)
    val j2 = totalCost(2)
    // hard-EM coordinate descent: re-segmentation can only lower the
    // objective; the smoothed M-step is within α-mass of the ML
    // minimizer, hence the 1% + 1-nat slack
    assert(j2 <= math.round(j1 * 1.01) + 1000000L, s"J1=$j1 J2=$j2")
    val a = TextAnalysis.unigramLearn(docs, "doc_id", "text")
      .collect().map(_.toSeq).sortBy(_.toString)
    val b = TextAnalysis.unigramLearn(docs, "doc_id", "text")
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(a.toSeq == b.toSeq)
  }
}
