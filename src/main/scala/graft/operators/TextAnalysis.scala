package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Hash60.tokens
import graft.Seams.SeamOps

/** Text analysis for training-data pipelines (SURVEY.md §2 group H).
  * The per-document signal operators (langId, quality, tokenCounts,
  * fingerprints, repetition, gopherRules, filterLines) use only
  * rational arithmetic — no transcendentals, so results are
  * bit-identical to the DuckDB oracle regardless of libm — and plan
  * as narrow zero-shuffle codegen projections. The corpus-statistics
  * operators (vocabulary, topTerms, pairCounts, bm25, unigramLogProb)
  * shuffle once for their term aggregates, and the scoring ones use
  * `ln` behind fixed-point or rounded outputs (precision notes on
  * each).
  */
object TextAnalysis {

  private val profiles = Seq(
    "en" -> Seq("the", "a", "of", "is"),
    "es" -> Seq("el", "la", "de", "y"),
    "fr" -> Seq("le", "la", "et", "de"),
    "de" -> Seq("der", "die", "und", "das"))

  /** Stopword occurrences via the native codegen'd
    * [[graft.functions.InSetCount]] — the interpreted
    * `filter(toks, t -> t IN (...))` lambda it replaces was the last
    * per-token interpreted step on the text scan path.
    */
  private def stopCount(toks: Column, words: Seq[String]): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(graft.functions.InSetCount(
      GraftBridge.expression(toks), words))
  }

  /** H1: stopword-profile language id: score(lang) = fraction of
    * tokens in that language's profile; argmax with fixed tie order.
    */
  def langId(docs: DataFrame, idCol: String, textCol: String,
             opaque: Boolean = false): DataFrame = {
    // opaque = true (guide §4.4): callers that FILTER on `predicted`
    // (corpus_curate) set it so PushDownPredicates cannot inline the
    // tokenize chain into every when-branch of the pushed predicate —
    // FilterExec re-tokenizes per conjunct. Values identical; the
    // chain runs once per row. Default stays false: the barrier also
    // blocks projection elimination, which filterless consumers keep.
    val toksExpr = tokens(col(textCol))
    val base = docs.withColumn("toks",
        if (opaque) graft.functions.Opaque(toksExpr) else toksExpr)
      .withColumn("n", size(col("toks")).cast("double"))
    val scored = profiles.foldLeft(base) { case (df, (lang, words)) =>
      df.withColumn(s"${lang}_score",
        stopCount(col("toks"), words) / col("n"))
    }
    val Seq(en, es, fr, de) = profiles.map(p => col(s"${p._1}_score"))
    scored.select(col(idCol),
      when(en >= es && en >= fr && en >= de, "en")
        .when(es >= fr && es >= de, "es")
        .when(fr >= de, "fr").otherwise("de").as("predicted"),
      en.as("en_score"), es.as("es_score"))
  }

  /** H2: composite quality score from length, stopword ratio and
    * alphabetic ratio (rational arithmetic only).
    */
  def quality(docs: DataFrame, idCol: String, textCol: String,
              opaque: Boolean = false): DataFrame = {
    // opaque = true (guide §4.4): callers that FILTER on `quality`
    // (corpus_curate) set it so the pushed predicate cannot re-derive
    // the tokenize + alphabetic-ratio chains per conjunct. Values
    // identical, one evaluation. Default stays false: the barrier
    // also blocks projection elimination, which filterless consumers
    // keep.
    def barrier(c: org.apache.spark.sql.Column) =
      if (opaque) graft.functions.Opaque(c) else c
    val base = docs.withColumn("__qtoks", barrier(tokens(col(textCol))))
      .withColumn("__alpha", barrier(
        length(regexp_replace(lower(col(textCol)), "[^a-z]", "")).cast("double") /
          length(col(textCol))))
    val nw = size(col("__qtoks")).cast("double")
    val stopRatio = stopCount(col("__qtoks"),
      Seq("the", "a", "of", "is")).cast("double") / nw
    val alphaRatio = col("__alpha")
    base.select(col(idCol),
      nw.cast("long").as("n_words"),
      stopRatio.as("stop_ratio"),
      round(alphaRatio, 6).as("alpha_ratio"),
      round(least(nw / 100.0, lit(1.0)) * 0.5 + stopRatio * 0.3 +
        alphaRatio * 0.2, 6).as("quality"))
  }

  /** H3: token counting — whitespace tokens, regex word tokens, and a
    * BPE-style `ceil(chars/4)` estimate (integer arithmetic).
    */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
      size(tokens(col(textCol))).as("ws_tokens"),
      regexp_count(col(textCol), lit("[a-z]+")).as("re_tokens"),
      expr(s"(length($textCol) + 3) div 4").as("bpe_est"))

  /** H3 with the OPT-IN production tokenizer
    * ([[graft.functions.Hash60.tokensNormalized]]): Unicode-normalize
    * (NFC/NFKC/...) before case-folding, so composed and decomposed
    * spellings of one word tokenize identically. `probes` counts
    * occurrences of given (normalized) words via the native
    * [[graft.functions.InSetCount]] — the oracle-visible proof the
    * normalization actually unified the forms. The default
    * [[tokenCounts]] stays normalization-free: it is the shared
    * parity definition every other query uses (SURVEY §6).
    */
  def tokenCountsNormalized(docs: DataFrame, idCol: String, textCol: String,
                            form: String, probes: Seq[String]): DataFrame = {
    val toks = graft.functions.Hash60.tokensNormalized(col(textCol), form)
    docs.select(col(idCol),
      size(toks).as("ws_tokens"),
      stopCount(toks, probes).as("probe_hits"))
  }

  /** H4: canonical document fingerprint: md5 of the sorted distinct
    * token set (word-order and duplication invariant).
    */
  def fingerprints(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
      md5(to_binary(
        array_join(array_sort(array_distinct(tokens(col(textCol)))), " "),
        lit("utf-8"))).as("fp"))

  /** H7: corpus vocabulary statistics — term frequency and document
    * frequency per token (the vocabulary-building pass a tokenizer
    * training pipeline runs). One explode + one shuffle with map-side
    * partial counts; df via count(distinct) inside the same agg.
    */
  def vocabulary(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("id"), explode(tokens(col(textCol))).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("tf"), countDistinct(col("id")).as("df"))

  /** H8: top-k salient terms per document by tf·idf, with a rational
    * idf (N/df — no logarithm, so the score is exact and the DuckDB
    * oracle bit-matches; the ranking is monotone in the usual log
    * form anyway). Shuffles: per-doc term counts, a df groupBy over
    * those aggregated rows, the df join-back, one per-doc window.
    */
  def topTerms(docs: DataFrame, idCol: String, textCol: String,
               k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val terms = docs
      .select(col(idCol).as("id"), explode(tokens(col(textCol))).as("term"))
    val perDoc = terms.groupBy(col("id"), col("term"))
      .agg(count(lit(1)).as("tf_d"))
    // doc-frequency as a partial-aggregated groupBy over the ALREADY-
    // AGGREGATED per-doc rows (one row per (id,term) ⇒ df = row count
    // per term), joined back on term. Token keys are Zipf-distributed:
    // a window partitioned by term would route every (doc,term) row
    // for a stopword into ONE unsplittable task (~the whole corpus for
    // "the" at web scale); the groupBy partial-aggregates map-side and
    // the equi-join is AQE-skew-splittable, so the hot key spreads.
    // df counts `when(tf_d > 0, 1)` — identical to count(*) since
    // tf_d ≥ 1 by construction — rather than lit(1) ON PURPOSE: with
    // count(1) (or any expression the optimizer can prove non-null,
    // e.g. plain count(tf_d)) tf_d gets pruned from this branch and
    // the aggregate rewritten to a distinct, so the two perDoc
    // subtrees stop canonicalizing equal and the corpus tokenizes and
    // shuffles TWICE; the opaque predicate keeps tf_d referenced, the
    // branches share one ReusedExchange — one corpus pass, still
    // (spec-asserted).
    val dfT = perDoc.groupBy(col("term"))
      .agg(count(when(col("tf_d") > 0, 1)).as("df"))
    val withDf = perDoc.join(dfT, "term")
    // corpus size N as a broadcast 1-row aggregate crossJoin — folded
    // into the one plan instead of a separate driver-side count()
    // (which would be a whole extra pass over the corpus at 100 TB)
    val nDf = broadcast(docs.agg(
      countDistinct(col(idCol)).cast("double").as("__n")))
    withDf
      .crossJoin(nDf)
      .withColumn("score", col("tf_d").cast("double") * col("__n") / col("df"))
      .drop("__n")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("id"))
          .orderBy(col("score").desc, col("term"))))
      .filter(col("rk") <= k)
      .select(col("id"), col("term"), round(col("score"), 6).as("score"),
        col("rk"))
  }

  /** H13: within-document repetition — the duplicate-n-gram fraction
    * quality signal (the Gopher/C4 "repetitious document" filter):
    * 1 − distinct/total n-grams. Distinct count via the native
    * [[graft.functions.WordShingles]] pass; a single codegen'd
    * projection, zero shuffles.
    */
  def repetition(docs: DataFrame, idCol: String, textCol: String,
                 n: Int = 3): DataFrame = {
    val base = docs.withColumn("__toks", tokens(col(textCol)))
    val total = greatest(size(col("__toks")) - (n - 1), lit(0))
    val dist = size(graft.functions.Hash60.shingles("__toks", n))
    base.select(col(idCol),
      total.as("ngrams_total"),
      when(total > 0, dist).otherwise(lit(0)).as("ngrams_distinct"),
      when(total > 0,
        round(lit(1.0) - dist.cast("double") / total.cast("double"), 6))
        .as("dup_frac"))
  }

  /** H19: CROSS-document duplicated n-gram fraction — the
    * RefinedWeb-style boilerplate signal: what share of a document's
    * distinct n-grams also occur in ≥ `minDf` documents corpus-wide.
    * High values mark template/boilerplate-heavy docs whose content
    * is mostly shared with the rest of the corpus — orthogonal to
    * within-doc repetition (H13) and to benchmark decontamination
    * (F8, which compares against a designated eval set, not the
    * corpus itself).
    *
    * Shape: one explode of per-doc DISTINCT shingles (native
    * [[graft.functions.WordShingles]]), shingle document frequency
    * as a partial-aggregated groupBy over those rows joined back on
    * the shingle, one groupBy back to the doc. Boilerplate shingles
    * are BY DEFINITION the hottest keys in this stream — a window
    * partitioned by `sh` would put every occurrence of the most
    * common template n-gram into one unsplittable task; the groupBy
    * collapses them map-side and the join-back is AQE-skew-splittable.
    * Cost note: the postings are narrow (no exchange below the join
    * when the df side broadcasts), so there is no shared exchange to
    * reuse and the corpus is scanned+shingled twice — a deliberate
    * trade: both passes are embarrassingly parallel and skew-free,
    * where the single-pass window alternative pins the hottest
    * shingle to one task and a postings pre-shuffle would move the
    * same bytes the second scan saves.
    */
  def boilerplate(docs: DataFrame, idCol: String, textCol: String,
                  n: Int = 3, minDf: Int = 2): DataFrame = {
    require(minDf >= 1, s"boilerplate minDf must be >= 1: $minDf")
    val post = docs
      .withColumn("__toks", tokens(col(textCol)))
      .select(col(idCol).as("doc_id"),
        explode(graft.functions.Hash60.shingles("__toks", n)).as("sh"))
    val dfT = post.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    post
      .join(dfT, "sh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= minDf, 1L).otherwise(0L)).as("n_common"))
      .withColumn("dup_frac",
        round(col("n_common") / col("n_shingles"), 6))
  }

  /** H14: C4-style boilerplate line filter — keep only lines that end
    * in terminal punctuation (`.` `!` `?` `"`), drop the rest
    * (nav/menu/code debris). One multiline regex pass per document —
    * the anchored pattern removes each non-terminated line including
    * its newline; no per-line explode, no shuffle. (RE2-compatible: no
    * lookbehind, so the same pattern drives the DuckDB oracle.)
    */
  def filterLines(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bad = "(?m)^(?:[^\n]*[^.!?\"\n])?\n"
    val clean = rtrim(
      regexp_replace(concat(col(textCol), lit("\n")), lit(bad), lit("")),
      "\n")
    val lineCount = (t: Column) =>
      when(length(t) === 0, 0).otherwise(size(split(t, "\n")))
    docs.select(col(idCol),
      lineCount(col(textCol)).as("orig_lines"),
      lineCount(clean).as("kept_lines"),
      clean.as("clean_text"))
  }

  /** H7b: BPE-style adjacent-pair statistics — the inner loop of a
    * pair-merge tokenizer training round: corpus-wide counts of
    * ADJACENT token pairs as a multiset (every occurrence counts —
    * unlike the dedup family's per-doc DISTINCT shingle sets), top-k
    * by count with a deterministic tie order. One explode+shuffle
    * for the counts; the top-k plans as TakeOrderedAndProject.
    */
  def pairCounts(docs: DataFrame, idCol: String, textCol: String,
                 k: Int = 20): DataFrame = {
    require(k > 0, s"pairCounts k must be positive: $k")
    val toks = tokens(col(textCol))
    docs
      .select(explode(arrays_zip(
        slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1))).as("p"))
      .select(concat_ws(" ", col("p.0"), col("p.1")).as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(k)
  }

  /** H18: unigram language-model score — the CCNet-style LM quality
    * filter: avg per-token log-probability under the corpus's own
    * unigram distribution. Gibberish and boilerplate-heavy docs score
    * low (rare-token mass), natural text scores near the corpus
    * mean. Shape mirrors tf-idf: ONE explode+shuffle builds
    * per-(doc,term) counts; corpus frequency is a partial-aggregated
    * groupBy over those already-aggregated rows joined back on the
    * token (never a token-partitioned window — Zipf-hot tokens would
    * pin one unsplittable task; the groupBy combines map-side and
    * the join is AQE-skew-splittable); the corpus total folds in as
    * a broadcast 1-row aggregate. The per-(doc,term) exchange is
    * shared by both branches, so the corpus shuffles once.
    *
    * Determinism: per-term contributions are fixed-pointed to int64
    * MICRONATS before the per-doc sum, so the aggregation is an
    * exact integer sum — immune to the float-reassociation drift a
    * shuffled double sum carries (the same exact-integer-sum move
    * the HLL sketch makes) — and divided back out once at the end.
    * One parity assumption survives the fixed-pointing: JVM Math.log
    * vs DuckDB's libm ln. They agree on this data, but a 1-ulp
    * difference on a value whose micronat product lands within half
    * an integer of a rounding boundary could shift one micronat on
    * another platform; the fixed-point mitigates, it doesn't prove.
    */
  def unigramLogProb(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("tok"))
    // NO seam on docTf (re-measured r17, both persist and checkpoint
    // forms): materializing the corpus-sized (doc, tok, tf) table
    // costs more than its three consumers' re-derivations —
    // text_unigram_lp 0.39 → 1.1 s, corpus_mix_doremi 1.9 → 4.4 s.
    // Map-side-combined re-aggregation of the raw explode is cheap;
    // a doc-keyed materialization is not.
    val docTf = toks.groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    val cfT = docTf.groupBy(col("tok")).agg(sum(col("tf")).as("cf"))
    val withCf = docTf.join(cfT, "tok")
    val nTot = broadcast(docTf.agg(sum(col("tf")).cast("double").as("__nt")))
    withCf.crossJoin(nTot)
      .withColumn("__c", round(col("tf").cast("double") *
        log(col("cf").cast("double") / col("__nt")) * lit(1e6)).cast("long"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tok"), sum(col("__c")).as("__lp"))
      .select(col("doc_id"), col("n_tok"),
        round(col("__lp") / lit(1e6) / col("n_tok"), 4).as("avg_logp"))
  }

  /** Every word n-gram position of `textCol`'s tokens, one array per
    * row, via the codegen non-distinct [[graft.functions.WordShinglesAll]].
    */
  private def wordGrams(textCol: String, n: Int): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(graft.functions.WordShinglesAll(
      GraftBridge.expression(tokens(col(textCol))), n))
  }

  /** The n-gram count table every n-gram LM scorer starts from: one
    * `(doc_id, gram, tf)` row per distinct n-gram of a document. The
    * corpus explodes once; every corpus table is a partial-agg
    * groupBy over these already-aggregated rows.
    */
  private def docGrams(docs: DataFrame, idCol: String, textCol: String,
                       n: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"), explode(wordGrams(textCol, n)).as("gram"))
      .groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("tf"))

  /** The per-document tail of the deterministic LM scores: each
    * `(doc_id, tf, __ln)` row fix-points to int64 micronats scaled by
    * tf BEFORE the per-doc sum (exact, order-free), and the mean per
    * position comes out as `scoreCol`, with the positions in `countCol`.
    */
  private def micronatMean(scored: DataFrame, countCol: String,
                           scoreCol: String): DataFrame =
    scored
      .withColumn("__c", round(col("tf").cast("double") * col("__ln") *
        lit(1000000.0)).cast("long"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as(countCol), sum(col("__c")).as("__lp"))
      // final 4-decimal rounding at INTEGER scale: one IEEE division
      // to deci-milli-nats, round to a whole number (scale-0 rounding
      // of the SAME double is engine-identical — fractional-scale
      // round(x, 4) scales by 10⁴ internally in DuckDB and disagreed
      // with exact-decimal HALF_UP on a boundary double at the 100×
      // decade), then an exact /10⁴ back to the display value
      .select(col("doc_id"), col(countCol),
        (round(col("__lp").cast("double") /
          (col(countCol).cast("double") * lit(100.0))) / lit(10000.0))
          .as(scoreCol))

  /** H18b: bigram-LM quality score — the next n up from
    * [[unigramLogProb]], one step toward CCNet's KenLM-style n-gram
    * perplexity filter: per-document average conditional log-prob
    * avg over bigram positions of ln P(b|a), with add-α smoothing
    * P(b|a) = (c(a,b)+α) / (c(a,·)+α·V), α = 0.5, V = distinct token
    * types observed in any bigram (a deterministic, corpus-derivable
    * vocabulary definition both engines share).
    *
    * Shape (the unigram/tfidf discipline): the corpus explodes ONCE
    * to (doc, bigram) counts via the codegen non-distinct
    * [[graft.functions.WordShinglesAll]]; corpus bigram counts and
    * context totals are partial-agg groupBys OVER THOSE AGGREGATED
    * ROWS (never a token-partitioned window — Zipf-hot bigrams stay
    * splittable, the joins AQE-skew-split); V and α fold in from a
    * broadcast 1-row aggregate over the (already tiny) bigram table.
    * Per-(doc,bigram) contributions fix-point to int64 micronats
    * scaled by tf BEFORE the per-doc sum — exact, order-free; `ln`
    * carries the BM25-documented parity assumption. Docs with fewer
    * than 2 tokens have no bigram positions and are excluded.
    */
  def bigramLogProb(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val docBf = docGrams(docs, idCol, textCol, 2)
    val cf = docBf.groupBy(col("gram")).agg(sum(col("tf")).as("cf"))
      .withColumn("a", split(col("gram"), " ").getItem(0))
    val ctx = cf.groupBy(col("a")).agg(sum(col("cf")).as("ctx"))
    val vocab = broadcast(cf
      .select(explode(split(col("gram"), " ")).as("tok"))
      .agg(countDistinct(col("tok")).as("v")))
    docBf
      .join(cf.select(col("gram"), col("cf"), col("a")), "gram")
      .join(ctx, "a")
      .crossJoin(vocab)
      .withColumn("__c", round(col("tf").cast("double") *
        log((col("cf").cast("double") + lit(0.5)) /
            (col("ctx").cast("double") + lit(0.5) * col("v").cast("double"))) *
        lit(1000000.0)).cast("long"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_big"), sum(col("__c")).as("__lp"))
      .select(col("doc_id"), col("n_big"),
        round(col("__lp").cast("double") / lit(1000000.0) /
          col("n_big").cast("double"), 4).as("avg_logp2"))
  }

  /** Deterministic natural log for probabilities in (0, 1] — BOTH
    * engines evaluate the SAME sequence of IEEE-754 +,−,×,÷ ops, so
    * the result is bit-identical by construction (unlike
    * `Math.log` vs libm `ln`, which differ by 1 ulp on some inputs —
    * the parity risk H18/H18b document; at the 100× decade one such
    * ulp flipped a trigram micronat rounding, so H18c eliminates the
    * assumption instead of documenting it):
    *   1. range-reduce by EXACT power-of-two scaling (6 unrolled
    *      conditional steps, 2^32…2^1 — covers p ≥ 2^-63, far below
    *      any smoothed probability at any corpus size) to m ∈ [0.5, 1);
    *   2. atanh series: t = (m−1)/(m+1), |t| ≤ 1/3, odd powers
    *      through t^25 (truncation ≈ 4·10⁻¹⁵ — invisible at micronat
    *      scale);
    *   3. ln(x) = 2·s − e·ln2 with ln2 as a shared literal.
    * Emitted as named intermediate columns (no tree duplication);
    * plain codegen expressions, no higher-order functions.
    */
  private[operators] def withLnDet(df: DataFrame, x: Column,
                                   out: String): DataFrame = {
    val steps = Seq(32, 16, 8, 4, 2, 1)
    val reduced = steps.zipWithIndex.foldLeft(
      df.withColumn("__m0", x).withColumn("__e0", lit(0))) {
      case (d, (k, i)) =>
        val scale = math.pow(2.0, k) // exact: power of two
        d.withColumn(s"__m${i + 1}",
            when(col(s"__m$i") * lit(scale) < 1.0, col(s"__m$i") * lit(scale))
              .otherwise(col(s"__m$i")))
          .withColumn(s"__e${i + 1}",
            when(col(s"__m$i") * lit(scale) < 1.0, col(s"__e$i") + k)
              .otherwise(col(s"__e$i")))
    }
    val n = steps.length
    val powers = reduced
      .withColumn("__t", (col(s"__m$n") - 1.0) / (col(s"__m$n") + 1.0))
      .withColumn("__t2", col("__t") * col("__t"))
    val withQ = (1 to 12).foldLeft(powers.withColumn("__q1", col("__t"))) {
      (d, j) => d.withColumn(s"__q${2 * j + 1}",
        col(s"__q${2 * j - 1}") * col("__t2"))
    }
    val series = (1 to 12).foldLeft(col("__q1"): Column) { (acc, j) =>
      acc + col(s"__q${2 * j + 1}") / lit((2 * j + 1).toDouble) }
    val outDf = withQ.withColumn(out,
      lit(2.0) * series -
        col(s"__e$n").cast("double") * lit(0.6931471805599453))
    outDf.drop((0 to n).flatMap(i => Seq(s"__m$i", s"__e$i")) ++
      Seq("__t", "__t2") ++ (0 to 12).map(j => s"__q${2 * j + 1}"): _*)
  }

  /** Deterministic natural exp — [[withLnDet]]'s sibling, same
    * contract: BOTH engines evaluate the SAME sequence of IEEE-754
    * +,−,×,÷ ops, so the result is bit-identical by construction.
    *   1. range-reduce x = k·ln2 + r with k = ⌊x/ln2 + ½⌋ (floor is
    *      exact; |r| ≤ ln2/2 ≈ 0.347);
    *   2. Taylor series 1 + r + r²/2! + … + r¹²/12! as named power
    *      columns, left-associated sum (truncation ≈ 10⁻¹⁶);
    *   3. scale by 2^k as an UNROLLED fold of exact ×2 / ×0.5 steps
    *      (`aggregate` over sequence — a power-of-two multiply is
    *      exact, so the fold introduces zero rounding), no libm
    *      `pow` anywhere.
    */
  private[graft] def withExpDet(df: DataFrame, x: Column,
                                out: String): DataFrame = {
    val d1 = df
      .withColumn("__xv", x)
      .withColumn("__xk",
        floor(col("__xv") * lit(1.4426950408889634) + lit(0.5)).cast("int"))
      .withColumn("__xr",
        col("__xv") - col("__xk").cast("double") * lit(0.6931471805599453))
    val withP = (2 to 12).foldLeft(d1.withColumn("__xp1", col("__xr"))) {
      (d, j) => d.withColumn(s"__xp$j", col(s"__xp${j - 1}") * col("__xr"))
    }
    val factorials = Seq(1L, 2L, 6L, 24L, 120L, 720L, 5040L, 40320L,
      362880L, 3628800L, 39916800L, 479001600L)
    val series = (2 to 12).foldLeft(lit(1.0) + col("__xp1"): Column) {
      (acc, j) => acc + col(s"__xp$j") / lit(factorials(j - 1).toDouble)
    }
    withP.withColumn("__xs", series)
      .withColumn(out, expr(
        """IF(__xk = 0, __xs,
             aggregate(sequence(1, abs(__xk)), __xs,
               (acc, i) -> IF(__xk > 0, acc * 2.0, acc * 0.5)))"""))
      .drop("__xv" :: "__xk" :: "__xr" :: "__xs" ::
        (1 to 12).map(j => s"__xp$j").toList: _*)
  }

  /** H18c: trigram-LM quality score with interpolated backoff — the
    * next honest step from [[bigramLogProb]] toward CCNet's KenLM
    * 5-gram filter: per-document average log-prob over trigram
    * positions of ln P̂(c|a,b) under the fixed-weight interpolation
    *   P̂ = 0.5·P3 + 0.3·P2 + 0.2·P1,
    * each level add-α smoothed (α = 0.5) against its own
    * corpus-derived context:
    *   P3 = (c(abc)+α)/(c(ab·)+αV)   c(ab·) = Σ_c c(abc)
    *   P2 = (c(bc)+α)/(c(b·)+αV)     from the corpus bigram table
    *   P1 = (c(c)+α)/(N+αV)          from the corpus unigram table
    * with V = distinct token types observed in any trigram (the
    * H18b vocabulary rule, one level up). Interpolation (vs strict
    * Katz backoff) keeps the score a single smooth formula both
    * engines replay operation for operation.
    *
    * Shape (the unigram/bigram discipline): ONE doc-keyed explode
    * builds per-(doc, trigram) counts via the codegen non-distinct
    * [[graft.functions.WordShinglesAll]]; every corpus table — cf3,
    * its ab-context, the bigram cf2/b-context, unigram cf1 — is a
    * partial-agg groupBy to VOCAB-sized rows (never a token-keyed
    * window; Zipf-hot n-grams stay splittable, the joins
    * AQE-skew-split), and every lower-level lookup key (bc, b, c) of
    * a trigram necessarily occurs in its own corpus table, so all
    * joins are inner and lossless. V, N fold in as broadcast 1-row
    * aggregates. Per-position contributions fix-point to int64
    * micronats scaled by tf BEFORE the per-doc sum — exact,
    * order-free — and, unlike H18/H18b, the logarithm itself is the
    * DETERMINISTIC shared-algorithm [[withLnDet]], so this query
    * carries ZERO libm parity assumptions (a JVM-vs-DuckDB 1-ulp
    * `ln` disagreement flipped one doc's micronat rounding at the
    * 100× decade before this). Docs with fewer than 3 tokens have
    * no trigram position and are excluded.
    */
  def trigramLogProb(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val alpha = lit(0.5)
    val docTf = docGrams(docs, idCol, textCol, 3)
    val cf3 = docTf.groupBy(col("gram")).agg(sum(col("tf")).as("cf3"))
      .withColumn("__p", split(col("gram"), " "))
      .select(col("gram"), col("cf3"),
        concat_ws(" ", col("__p").getItem(0), col("__p").getItem(1)).as("ab"),
        concat_ws(" ", col("__p").getItem(1), col("__p").getItem(2)).as("bc"),
        col("__p").getItem(1).as("b"), col("__p").getItem(2).as("c"))
    val ctx3 = cf3.groupBy(col("ab")).agg(sum(col("cf3")).as("ctx3"))
    val bi = docs.select(explode(wordGrams(textCol, 2)).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("cf2"))
      .withColumn("b", split(col("bg"), " ").getItem(0))
    val ctx2 = bi.groupBy(col("b")).agg(sum(col("cf2")).as("ctx2"))
    val uni = docs.select(explode(tokens(col(textCol))).as("c"))
      .groupBy(col("c")).agg(count(lit(1)).as("cf1"))
    val vocab = broadcast(cf3
      .select(explode(split(col("gram"), " ")).as("tok"))
      .agg(countDistinct(col("tok")).as("v")))
    val nTot = broadcast(uni.agg(sum(col("cf1")).as("nt")))
    val vd = col("v").cast("double")
    val scored = docTf
      .join(cf3, "gram")
      .join(ctx3, "ab")
      .join(bi.select(col("bg").as("bc"), col("cf2")), "bc")
      .join(ctx2, "b")
      .join(uni, "c")
      .crossJoin(vocab).crossJoin(nTot)
      .withColumn("__p",
        lit(0.5) * ((col("cf3").cast("double") + alpha) /
          (col("ctx3").cast("double") + alpha * vd)) +
        lit(0.3) * ((col("cf2").cast("double") + alpha) /
          (col("ctx2").cast("double") + alpha * vd)) +
        lit(0.2) * ((col("cf1").cast("double") + alpha) /
          (col("nt").cast("double") + alpha * vd)))
    micronatMean(withLnDet(scored, col("__p"), "__ln"), "n_tri", "avg_logp3")
  }

  /** H18d/H18e: interpolated Kneser-Ney score of order `order` — the
    * smoothing the production CCNet/KenLM filter uses, one grade
    * above [[trigramLogProb]]'s add-α interpolation (Chen & Goodman's
    * interpolated KN). For an n-gram position w₁..wₙ with history
    * h = w₁..wₙ₋₁, and sₖ = the last k words, hₖ₋₁ = sₖ minus its
    * last word:
    *   Pₙ = (c(h wₙ)−D)/c(h·) + D·N₁₊(h·)/c(h·) · Pₙ₋₁(sₙ₋₁)
    *   Pₖ = (N₁₊(·sₖ)−D)/N₁₊(·hₖ₋₁·) + D·N₁₊(hₖ₋₁·)/N₁₊(·hₖ₋₁·) · Pₖ₋₁(sₖ₋₁)
    *   P₁ = N₁₊(·s₁)/N₁₊(··)
    * for k = n−1 down to 2. c(h·) is the n-gram context total,
    * N₁₊(h·) the distinct continuations after h; N₁₊(·sₖ) the
    * distinct LEFT contexts of sₖ (the "novel-continuation"
    * reweighting that makes KN beat plain backoff: "francisco" is
    * frequent but only ever follows "san"), N₁₊(·hₖ₋₁·) = Σ N₁₊(·sₖ)
    * over the sₖ extending hₖ₋₁, N₁₊(hₖ₋₁·) their number, and N₁₊(··)
    * the distinct 2-word suffix types. All max(x−D,0) guards drop
    * because every lookup key OCCURS (counts ≥ 1 > D = 0.75) — the
    * corpus is its own model, the H18c discipline — so every join is
    * inner and lossless, and P > 0 always.
    *
    * Shape: ONE doc-keyed n-gram explode ([[docGrams]]). Every
    * continuation level derives from the distinct n-gram TYPE table by
    * dropping the leftmost word and re-deduping (the standard KN
    * suffix chain; count(*) per key over unique rows IS N₁₊), so no
    * table re-scans the corpus; each is a partial-agg groupBy to
    * vocab-sized rows, and N₁₊(··) folds in as a broadcast 1-row
    * aggregate. The probability depends only on the n-gram TYPE, so
    * the chain joins run over the type table, the fixed-order IEEE
    * formula the oracle mirrors op for op evaluates once per type,
    * ln is the deterministic [[withLnDet]] (zero libm parity), and the
    * corpus stream pays ONE join on the n-gram. Emits
    * `(doc_id, tf, __ln)` per (doc, n-gram) for [[micronatMean]].
    */
  private def knLogProb(docs: DataFrame, idCol: String, textCol: String,
                        order: Int, discount: Double): DataFrame = {
    require(order >= 3, s"knLogProb order must be at least 3: $order")
    val d = lit(discount)
    def words(split: Column, from: Int, to: Int): Column =
      if (from == to) split.getItem(from)
      else concat_ws(" ", (from to to).map(split.getItem(_)): _*)
    // Reuse seams on the type table and every continuation level, only
    // above order 3. Each feeds several consumers (its totals, the next
    // level, the chain join); without a seam column pruning
    // de-canonicalizes each branch, no ReusedExchange fires, and every
    // level re-scans the corpus: order 5 measured 11 scans / 37
    // exchanges without them, 1 scan with them. At order 3 the
    // re-derived branches are a few independent subtrees that run in
    // parallel inside one job, while a seam serializes
    // materialize-then-read: measured slower with seams in r14
    // (text_trigram_lp 1.34×) and r17 (text_kn_lp 1.6 → 3.0 s,
    // corpus_mix_doremi min 1.99 → 2.27 s with the type table alone).
    // The corpus-sized doc table is never seamed: re-deriving the
    // explode beats materializing it at order 5 too (r17).
    def gate(t: DataFrame): DataFrame = if (order > 3) t.seamed else t
    val n = order
    val docTf = docGrams(docs, idCol, textCol, n)
    val types = gate(docTf.groupBy(col("gram")).agg(sum(col("tf")).as("cf"))
      .withColumn("__p", split(col("gram"), " "))
      .select(col("gram"), col("cf"),
        words(col("__p"), 0, n - 2).as(s"h${n - 1}"),
        words(col("__p"), 1, n - 1).as(s"s${n - 1}")))
    // n-gram context totals; type rows are unique, so count(*) per
    // history IS N₁₊(h·)
    val ctx = types.groupBy(col(s"h${n - 1}"))
      .agg(sum(col("cf")).as("ctx"), count(lit(1)).as("n1p_ctx"))
    // the suffix chain, level k = n−1 down to 2: count(*) per sₖ over
    // the unique rows of the level above = N₁₊(·sₖ)
    val ks = n - 1 to 2 by -1
    val conts = ks.scanLeft(types) { (upper, k) =>
      gate(upper.groupBy(col(s"s$k")).agg(count(lit(1)).as(s"n1p_s$k"))
        .withColumn("__q", split(col(s"s$k"), " "))
        .select(col(s"s$k"), col(s"n1p_s$k"),
          words(col("__q"), 0, k - 2).as(s"h${k - 1}"),
          words(col("__q"), 1, k - 1).as(s"s${k - 1}")))
    }.tail
    val bottom = conts.last
    val cont1 = bottom.groupBy(col("s1")).agg(count(lit(1)).as("n1p_s1"))
    val total = broadcast(bottom.agg(count(lit(1)).as("n1p_all")))
    val joined = ks.zip(conts).foldLeft(types.join(ctx, s"h${n - 1}")) {
      case (acc, (k, cont)) =>
        val mid = cont.groupBy(col(s"h${k - 1}"))
          .agg(sum(col(s"n1p_s$k")).as(s"mid$k"), count(lit(1)).as(s"dot$k"))
        acc.join(cont, s"s$k").join(mid, s"h${k - 1}")
    }.join(cont1, "s1").crossJoin(total)
    // the fixed-order IEEE formula — the oracle mirrors every op
    def interp(n1p: String, mid: String, dot: String, lower: String) =
      (col(n1p).cast("double") - d) / col(mid).cast("double") +
        d * col(dot).cast("double") / col(mid).cast("double") * col(lower)
    val probs = (2 until n).foldLeft(joined.withColumn("__p1",
        col("n1p_s1").cast("double") / col("n1p_all").cast("double"))) {
      (df, k) => df.withColumn(s"__p$k",
        interp(s"n1p_s$k", s"mid$k", s"dot$k", s"__p${k - 1}"))
    }.withColumn("__pkn", interp("cf", "ctx", "n1p_ctx", s"__p${n - 1}"))
    val typeLn = withLnDet(probs, col("__pkn"), "__ln")
      .select(col("gram"), col("__ln"))
    docTf.join(typeLn, "gram")
  }

  /** H18d: [[knLogProb]] at order 3. Docs with < 3 tokens have no
    * trigram position and are excluded.
    */
  def knTrigramLogProb(docs: DataFrame, idCol: String, textCol: String,
                       discount: Double = 0.75): DataFrame =
    micronatMean(knLogProb(docs, idCol, textCol, 3, discount), "n_tri", "avg_logp_kn")

  /** H18e: [[knLogProb]] at FIVE, the production CCNet/KenLM filter
    * order. Docs with < 5 tokens have no 5-gram position and are
    * excluded.
    */
  def knFivegramLogProb(docs: DataFrame, idCol: String, textCol: String,
                        discount: Double = 0.75): DataFrame =
    micronatMean(knLogProb(docs, idCol, textCol, 5, discount), "n_5g", "avg_logp_kn5")

  // ——— H7e/H22b: unigram-LM (SentencePiece-style) tokenizer ———

  /** Candidate-piece lattice over the distinct-word table: one row per
    * (word, start, end, piece) substring occurrence with piece length
    * ≤ maxPieceLen — the shared input of candidate counting and every
    * Viterbi pass. Never corpus-sized: |distinct words| · len · L.
    */
  private def unigramWp(words: DataFrame, maxPieceLen: Int): DataFrame =
    words.select(col("w"), col("freq"),
      explode(expr(
        s"""flatten(transform(sequence(1, length(w)), st ->
              transform(sequence(1, least($maxPieceLen, length(w) - st + 1)),
                ln -> named_struct('st', st, 'ln', ln))))""")).as("sl"))
      .select(col("w"), col("freq"), col("sl.st").as("st"),
        (col("sl.st") + col("sl.ln") - 1).as("en"),
        expr("substring(w, sl.st, sl.ln)").as("piece"))

  /** Add-0.5-smoothed unigram piece costs in integer micronats:
    * cost(piece) = ⌊−10⁶·ln p⌋ with p = (cnt+½)/(tot+½·|C|) and ln
    * the deterministic [[withLnDet]] — so every Viterbi comparison
    * downstream is pure int64 arithmetic, bit-identical on any
    * engine/partitioning. Smoothing keeps pieces that the previous
    * hard-EM segmentation abandoned alive (cnt = 0 still costs a
    * finite amount), the standard guard against EM lock-in.
    */
  private def unigramCosts(cnts: DataFrame): DataFrame = {
    val tot = broadcast(cnts.agg(sum(col("cnt")).as("tot"),
      count(lit(1)).as("nc")))
    val withP = cnts.crossJoin(tot)
      .withColumn("__p", (col("cnt").cast("double") + lit(0.5)) /
        (col("tot").cast("double") + lit(0.5) * col("nc").cast("double")))
    withLnDet(withP, col("__p"), "__lnp")
      .select(col("piece"), col("cnt"),
        floor(col("__lnp") * lit(-1000000.0)).cast("long").as("cost"))
  }

  /** ONE declarative Viterbi pass: per distinct word, the minimal-cost
    * segmentation into vocab pieces. The lattice join is broadcast
    * (the candidate vocab is maxVocab+|chars| rows by construction),
    * the DP is two `aggregate` folds over arrays of ≤ |word| · L
    * structs — no shuffle beyond the one word-keyed groupBy, and the
    * whole pass costs O(len·L) int64 ops per DISTINCT word, not per
    * corpus occurrence. The first fold builds best[i] = min cost of
    * the length-i prefix (best[0] = 0, INF-guarded, though single-char
    * pieces make every position reachable); the second re-derives the
    * canonical argmin path FORWARD — at every prefix end i the chosen
    * last piece is the one with MINIMAL start among cost-achieving
    * candidates (longest-piece-first; the piece itself is recovered
    * as substring(w, st, i−st+1), so the fold carries only path
    * strings, space-separated — words cannot contain spaces by
    * construction). Viterbi ties are real (equal-cost splits) and a
    * distributed replay must break them identically; both folds are
    * order-insensitive in the lattice array (min over a filtered
    * set), so the unsorted collect_list is safe.
    */
  private def unigramSegment(wp: DataFrame, cost: DataFrame): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    // Native DP ([[graft.functions.ViterbiSegment]], r16): the two
    // SQL `aggregate` folds this replaces are CodegenFallback and
    // re-filter the whole lattice per prefix position — O(len·|ps|)
    // interpreted lambda calls per distinct word. The kernel replays
    // the folds' exact semantics (INF guard, min-cost, minimal-start
    // tie break, Spark substring char offsets) in one bucketed pass;
    // bit-identity is spec-asserted against the original folds.
    wp.join(broadcast(cost.select(col("piece"), col("cost"))), "piece")
      .groupBy(col("w"), col("freq"))
      .agg(collect_list(struct(col("en"), col("st"), col("cost"))).as("ps"))
      .withColumn("n", length(col("w")))
      .withColumn("__v", GraftBridge.column(graft.functions.ViterbiSegment(
        GraftBridge.expression(col("w")), GraftBridge.expression(col("ps")))))
      .select(col("w"), col("freq"), col("n"),
        col("__v.wcost").as("wcost"), col("__v.segs").as("segs"))
  }

  /** Shared learn core: word vocab → candidate set → `iters` rounds of
    * Viterbi hard-EM. Returns the (localCheckpoint'd) lattice and the
    * final cost table so apply can segment without re-learning.
    *
    * 100 TB shape: ONE corpus scan builds the distinct-word table
    * (localCheckpoint'd — the classifier_train seam, so the EM loop
    * NEVER rescans the corpus); everything after runs on word-vocab- /
    * piece-vocab-sized tables. The candidate cap is TakeOrdered (top
    * maxVocab by (cnt DESC, piece)) ∪ all single chars — the union
    * guarantees every word segments (full character coverage), the
    * cap bounds the broadcast. Each EM round: segment (map-side
    * broadcast join + per-row folds) → piece counts (vocab-sized
    * shuffle) → smoothed costs. Hard (Viterbi) EM rather than full
    * forward–backward: deterministic integer DP with exact tiebreaks
    * is worth more at replay time than the soft E-step's fractional
    * counts, and the coordinate-descent objective still decreases
    * (spec-asserted).
    */
  private def unigramModel(docs: DataFrame, idCol: String, textCol: String,
                           maxPieceLen: Int, maxVocab: Int, iters: Int)
      : (DataFrame, DataFrame) = {
    require(iters >= 1, s"unigram EM needs at least one iteration: $iters")
    // Lazy seams (r16): eager checkpoints here dispatched three
    // serial driver jobs before any EM work started; eager = false
    // materializes each table inside the first job that reads it —
    // same reuse guarantee (one corpus scan, one lattice build),
    // fewer job boundaries on the loop's critical path.
    val words = docs.select(explode(tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .cutLineage(eager = false)
    val wp = unigramWp(words, maxPieceLen).cutLineage(eager = false)
    val counts0 = wp.groupBy(col("piece")).agg(sum(col("freq")).as("cnt"))
    val cand = counts0.orderBy(col("cnt").desc, col("piece")).limit(maxVocab)
      .unionByName(counts0.filter(length(col("piece")) === 1))
      .distinct().cutLineage(eager = false)
    var cost = unigramCosts(cand)
    for (_ <- 1 to iters) {
      val segCnt = unigramSegment(wp, cost)
        .select(col("freq"), explode(col("segs")).as("piece"))
        .groupBy(col("piece")).agg(sum(col("freq")).as("c"))
      cost = unigramCosts(
        cand.select(col("piece"))
          .join(segCnt, Seq("piece"), "left")
          .select(col("piece"), coalesce(col("c"), lit(0L)).as("cnt")))
        .cutLineage() // bound the iterated plan (vocab-sized job)
    }
    (wp, cost)
  }

  /** H7e: unigram-LM tokenizer LEARNING (SentencePiece's model family,
    * via deterministic Viterbi hard-EM) — the second trained tokenizer
    * next to H7c's BPE, closing the same loop from the other classic
    * direction: BPE grows pieces bottom-up by merge frequency; the
    * unigram LM starts from all substrings and lets EM concentrate
    * probability mass on the pieces that segment the corpus cheaply.
    * Emits the final vocab: (piece, cnt, cost_mnat) with cnt the last
    * hard-E-step piece count and cost_mnat the smoothed −10⁶·ln p.
    */
  def unigramLearn(docs: DataFrame, idCol: String, textCol: String,
                   maxPieceLen: Int = 4, maxVocab: Int = 64,
                   iters: Int = 2): DataFrame = {
    val (_, cost) = unigramModel(docs, idCol, textCol, maxPieceLen, maxVocab, iters)
    cost.select(col("piece"), col("cnt"), col("cost").as("cost_mnat"))
  }

  /** H22b: unigram-LM tokenizer APPLY — Viterbi-segment every document
    * under the learned vocab and emit per-doc (n_words, n_pieces,
    * cost_mnat = Σ best-path cost). The segmentation runs ONCE per
    * DISTINCT word (the dedup move — at 100 TB the word vocab is
    * millions of rows; the corpus is billions of occurrences) and
    * joins back to doc-level word counts on the word key; the join's
    * small side is the segmented vocab, left to AQE to broadcast or
    * shuffle by measured size.
    */
  def unigramApply(docs: DataFrame, idCol: String, textCol: String,
                   maxPieceLen: Int = 4, maxVocab: Int = 64,
                   iters: Int = 2): DataFrame = {
    val (wp, cost) = unigramModel(docs, idCol, textCol, maxPieceLen, maxVocab, iters)
    val ws = unigramSegment(wp, cost)
      .select(col("w"), size(col("segs")).as("np"), col("wcost"))
    docs.select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("wc"))
      .join(ws, "w")
      .groupBy(col("doc_id"))
      .agg(sum(col("wc")).as("n_words"),
        sum(col("wc") * col("np")).as("n_pieces"),
        sum(col("wc") * col("wcost")).as("cost_mnat"))
  }

  /** H7d: PMI phrase mining — top-k adjacent token pairs by pointwise
    * mutual information, the classic collocation/phrase-detection
    * statistic (word2vec-phrases, NPMI corpus studies):
    * pmi(a,b) = ln( (c(ab)/N_pairs) / ((c(a)/N_tok)·(c(b)/N_tok)) ),
    * computed as one formula with both engines sharing the exact
    * operation order; a minimum pair count keeps noise pairs out
    * (PMI's low-frequency pathology). Corpus shape: ONE bigram
    * explode+shuffle (codegen [[graft.functions.WordShinglesAll]])
    * and one unigram explode+shuffle to vocab-level count tables;
    * the pair↔unigram joins run on AGGREGATED vocab rows (never
    * corpus-sized), totals fold in as a broadcast 1-row aggregate,
    * and the top-k is TakeOrdered. `ln` carries the BM25-documented
    * parity note behind a 6-decimal round with count tie-breaks.
    */
  def pmiPairs(docs: DataFrame, idCol: String, textCol: String,
               minCount: Long = 5, k: Int = 20): DataFrame = {
    val toks = tokens(col(textCol))
    val uni = docs.select(explode(toks).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c1"))
    val bi = docs.select(explode(wordGrams(textCol, 2)).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("cab"))
      .filter(col("cab") >= minCount)
    val totals = broadcast(uni.groupBy().agg(
      sum(col("c1")).cast("double").as("nt")))
    val nb = broadcast(docs.select(
        (greatest(size(toks) - 1, lit(0))).cast("long").as("np"))
      .groupBy().agg(sum(col("np")).cast("double").as("nb")))
    bi
      .withColumn("a", split(col("bg"), " ").getItem(0))
      .withColumn("b", split(col("bg"), " ").getItem(1))
      .join(uni.select(col("tok").as("a"), col("c1").as("ca")), "a")
      .join(uni.select(col("tok").as("b"), col("c1").as("cb")), "b")
      .crossJoin(totals).crossJoin(nb)
      .select(col("bg"), col("cab"),
        round(log(col("cab").cast("double") * col("nt") * col("nt") /
          (col("nb") * col("ca").cast("double") * col("cb").cast("double"))),
          6).as("pmi"))
      .orderBy(col("pmi").desc, col("bg").asc)
      .limit(k)
  }

  /** H17: BM25 retrieval scoring for a fixed term set — the ranking
    * pass a corpus-search / example-selection pipeline runs over
    * documents. Per-doc term frequencies come from the native
    * [[graft.functions.InSetCount]] in ONE zero-shuffle projection;
    * corpus stats (N, Σdl, df per term) fold into one broadcast
    * 1-row aggregate crossJoin (no second corpus pass, no driver
    * action); the final top-k is `orderBy().limit(k)` — Spark plans
    * TakeOrderedAndProject, a distributed partial top-k, never a
    * single-partition global window. Σdl is exact (integer token
    * counts) so avgdl is order-independent; the score is rounded
    * before the tie-broken ranking so the cut is deterministic.
    */
  /** H26: Zipf-slope diagnostic of the corpus vocabulary — the
    * classic power-law readout (ln p_r ≈ c − s·ln r over frequency
    * ranks; natural text sits near s ≈ 1, and a corpus that drifts
    * far off it after curation usually lost its head or its tail):
    * least squares over the top-N ranks with BOTH axes in exact
    * micronat int64 (x = −⌊lnDet(1/r)·10⁶⌉, y = ⌊lnDet(f/N)·10⁶⌉ —
    * the engine's deterministic ln, zero libm), so Σx, Σy, Σx², Σxy
    * are order-free integers and only the final slope/intercept
    * divisions are float (correctly-rounded ops over exact int64
    * operands — engine-portable). One (n_top, n_tokens, slope_r,
    * intercept_r) row.
    *
    * Shape: one token-count shuffle, a TakeOrdered top-N, a 64-row
    * single-partition rank window, a broadcast 1-row total — corpus
    * work is the ONE groupBy; everything after is constant-size.
    */
  def zipfFit(docs: DataFrame, textCol: String, topN: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = docs.select(explode(tokens(col(textCol))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
    val total = broadcast(tf.agg(sum(col("freq")).as("__nt")))
    val top = tf.orderBy(col("freq").desc, col("tok")).limit(topN)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("freq").desc, col("tok"))))
      .crossJoin(total)
    val withX = withLnDet(top, lit(1.0) / col("rank").cast("double"), "__lnx")
    val withY = withLnDet(withX,
      col("freq").cast("double") / col("__nt").cast("double"), "__lny")
    val pts = withY.select(col("__nt"),
      (-round(col("__lnx") * lit(1000000.0))).cast("long").as("x"),
      round(col("__lny") * lit(1000000.0)).cast("long").as("y"))
    val num = col("n") * col("sxy") - col("sx") * col("sy")
    val den = col("n") * col("sxx") - col("sx") * col("sx")
    pts
      .agg(count(lit(1)).as("n"), first(col("__nt")).as("n_tokens"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
      .select(col("n").cast("int").as("n_top"), col("n_tokens"),
        round(num.cast("double") / den.cast("double"), 6).as("slope_r"),
        round(col("sy").cast("double") / col("n").cast("double") -
          (num.cast("double") / den.cast("double")) *
            (col("sx").cast("double") / col("n").cast("double")), 6)
          .as("intercept_r"))
  }

  /** H17 BM25 top-k (k1=1.2, b=0.75): `(id, round(bm25, 6))` of the
    * matching documents, best first, ties by id. The scoring core is
    * the 1-clause case of [[searchScoresFused]], which the `$search`
    * stage (C39) also calls, so the two can never drift. Every literal
    * and the operation order mirror the DuckDB oracle exactly. The
    * remaining parity assumption is ln itself: JVM Math.log and
    * DuckDB's libm agree on this data, but a 1-ulp libm difference
    * near a round(,6) boundary could flip a rounded score on another
    * platform — the round is a mitigation, not a proof.
    *
    * `ledgerStats` (E24) provides the corpus-stats row from a standing
    * ledger instead of aggregating it from `docs`: one row with LONG
    * columns `(n, sumdl, df0..dfK)`, df per term in order. It is cast
    * exactly as the in-frame aggregate would be (count→double,
    * long→double), so ledger-backed and scan-backed scores are
    * bit-identical when the ledger states the true stats.
    */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
           terms: Seq[String], k: Int = 20,
           ledgerStats: Option[DataFrame] = None): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one term")
    val stats = ledgerStats.map(_.select(
      col("n").cast("double").as("__n") +:
        col("sumdl").cast("double").as("__sumdl0") +:
        terms.indices.map(i =>
          col(s"df$i").cast("double").as(s"__df_0_$i")): _*))
    searchScoresFused(docs, Seq((textCol, terms.map(tfTerm))), Seq("score"),
      stats)
      .select(col(idCol).as("id"), col("score"))
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col("id"))
      .limit(k)
  }

  /** `$search` virtual-term tf recipes (round 15): each scored clause
    * kind compiles to (path, per-virtual-term tf over that path's
    * token array), and [[searchScoresFused]] pushes every virtual
    * term through the same BM25 formula and broadcast stats row. A
    * plain text term counts exact occurrences. All recipes are pure
    * Column algebra over the SHARED token array, so an N-clause fused
    * pass computes every tf on one corpus scan, with no shuffle.
    */
  private[graft] def tfTerm(term: String): Column => Column =
    toks => stopCount(toks, Seq(term)).cast("double")

  /** C39c phrase: the whole phrase acts as ONE virtual term (Lucene's
    * phrase-as-a-term scoring model) whose tf counts exact ADJACENT
    * occurrences of the term sequence. Occurrences count
    * NON-OVERLAPPING (the substring-replace count over the space-
    * joined normalized stream — " a a a " holds ONE " a a "), a
    * documented deviation from Lucene's position counting that keeps
    * the count a single codegen'd expression both engines replay
    * identically.
    */
  private[graft] def tfPhrase(terms: Seq[String]): Column => Column = { toks =>
    val needle = " " + terms.mkString(" ") + " "
    val stream = concat(lit(" "), concat_ws(" ", toks), lit(" "))
    ((length(stream) - length(replace(stream, lit(needle), lit("")))) /
      lit(needle.length)).cast("double")
  }

  /** C39d autocomplete: tf counts the tokens whose PREFIX is the
    * query (Lucene serves this from an edge-n-gram index;
    * declaratively the prefix test runs on the token stream directly).
    */
  private[graft] def tfPrefix(prefix: String): Column => Column =
    toks => size(filter(toks, t => t.startsWith(lit(prefix)))).cast("double")

  /** C39d wildcard: tf counts the tokens matching the LIKE-translated
    * glob (Lucene's wildcard term query; the LIKE translation keeps
    * *, ? semantics identical on any engine — deliberately not a
    * regex dialect).
    */
  private[graft] def tfLike(likePat: String): Column => Column =
    toks => size(filter(toks, t => t.like(likePat))).cast("double")

  /** Regex virtual term (round 15): tf counts tokens FULLY matching
    * the pattern — Lucene's RegexpQuery anchors to the whole term, so
    * the engine wraps `^(?:pat)$` around Java-regex find semantics and
    * the oracle uses DuckDB `regexp_full_match`; the caller has
    * already refused non-RE2-portable features.
    */
  private[graft] def tfRegex(pattern: String): Column => Column =
    toks => size(filter(toks, t => t.rlike("^(?:" + pattern + ")$")))
      .cast("double")

  /** `$search` FUZZY virtual term (round 16) — Atlas' `text.fuzzy`
    * option: tf counts the tokens within `maxEdits` PLAIN Levenshtein
    * edits of the query term, with the first `prefixLength` chars
    * required to match exactly (Lucene's prefix guard, the index-
    * pruning knob — honored here for semantics even though the scan
    * needs no pruning). Distance is plain Levenshtein, NOT Lucene's
    * Damerau-Levenshtein: a transposition counts 2 edits, the
    * documented deviation that keeps the predicate one correctly-
    * replayable function on BOTH engines (Spark `levenshtein` and
    * DuckDB `levenshtein` are both plain). `maxEdits` ∈ {1, 2} per
    * Atlas; the distance-0 term itself always matches (≤ includes 0).
    */
  private[graft] def tfFuzzy(term: String, maxEdits: Int,
                             prefixLength: Int): Column => Column = { toks =>
    val pre = term.take(prefixLength)
    size(filter(toks, t => {
      val preOk =
        if (prefixLength == 0) lit(true)
        else substring(t, 1, prefixLength) === lit(pre)
      preOk && levenshtein(t, lit(term)) <= lit(maxEdits)
    })).cast("double")
  }

  /** `$search.autocomplete.fuzzy` virtual term (round 16): tf counts
    * the tokens whose first |prefix| chars are within `maxEdits`
    * plain-Levenshtein edits of the query prefix (plus the exact
    * `prefixLength`-char guard). Lucene serves this from edge-n-grams
    * with per-gram fuzziness; comparing the length-|prefix| HEAD of
    * each token is the declarative rendering — a deviation stated,
    * not hidden: a token shorter than the prefix matches iff its
    * whole self is within maxEdits of the prefix (substr caps at the
    * token length on both engines).
    */
  private[graft] def tfPrefixFuzzy(prefix: String, maxEdits: Int,
                                   prefixLength: Int): Column => Column = { toks =>
    val pre = prefix.take(prefixLength)
    size(filter(toks, t => {
      val preOk =
        if (prefixLength == 0) lit(true)
        else substring(t, 1, prefixLength) === lit(pre)
      preOk && levenshtein(substring(t, 1, prefix.length),
        lit(prefix)) <= lit(maxEdits)
    })).cast("double")
  }

  /** `$search.phrase.slop` virtual term (round 16) — within-k
    * proximity phrases. Counting convention, stated exactly: tf = the
    * number of START positions i with toks[i] = t₁ and an IN-ORDER
    * embedding of t₂..tₘ inside positions i+1 .. i+(m−1)+slop. The
    * engine decides each start by a GREEDY left-to-right fold over
    * the window (earliest-match is optimal, so greedy-succeeds ⟺
    * any embedding exists — the exchange argument that lets the
    * DuckDB oracle replay the same count as a relational m-way
    * position join with DISTINCT starts). Distinct starts may share
    * trailing terms (overlap allowed) — a documented deviation from
    * slop-0's non-overlapping substring count, which is why slop = 0
    * stays on [[tfPhrase]]'s exact-adjacency model rather than
    * silently changing convention.
    *
    * Scale: one codegen'd expression over the token array — the
    * window fold is O(len · (m+slop)) per document, no shuffle, no
    * explode.
    */
  private[graft] def tfSlop(terms: Seq[String], slop: Int): Column => Column = {
    toks =>
      val m = terms.size
      val win = m - 1 + slop
      val termArr = array(terms.map(lit): _*)
      // least() guards element_at: when k = m the k < m test already
      // fails, but ANSI mode would still fault an out-of-bounds index
      size(filter(sequence(lit(1), size(toks)), i =>
        element_at(toks, i) === lit(terms.head) &&
          aggregate(slice(toks, i + lit(1), lit(win)), lit(1),
            (k, t) => when(k < lit(m) &&
              t === element_at(termArr, least(k + lit(1), lit(m))),
              k + lit(1)).otherwise(k)) === lit(m))).cast("double")
  }

  /** `matchCriteria: "all"` indicator virtual term (round 16): the
    * LEAST of the per-term tfs — > 0 ⟺ every term occurs. Pushed
    * through the same BM25/round(·,6) machinery so the all-test rides
    * the one score-sign convention every matching decision uses.
    */
  private[graft] def tfAll(terms: Seq[String]): Column => Column =
    toks => least(terms.map(t => tfTerm(t)(toks)): _*)

  /** `synonyms` group virtual term (round 16): tf = Σ member tfs
    * (exact integer adds — member order can't matter); the fused
    * stats pass then computes the group's df as docs-containing-ANY-
    * member for free (df = count(tf > 0)).
    */
  private[graft] def tfGroup(group: Seq[String]): Column => Column =
    toks => group.map(t => tfTerm(t)(toks)).reduce(_ + _)

  /** The `lucene.standard`-modeled analyzer (round 16): lowercase,
    * then split on non-alphanumeric runs (`[^a-z0-9]+`), empties
    * dropped — so `"3-MEDIUM"` tokenizes to `[3, medium]` where the
    * default whitespace analyzer keeps one `"3-medium"` token. The
    * ASCII-alnum token class is the stated subset (Lucene's
    * StandardTokenizer is Unicode-segmentation-aware; this is the
    * portable core both engines replay — DuckDB mirrors with
    * `list_filter(string_split_regex(lower(x), '[^a-z0-9]+'),
    * t -> t <> '')`).
    */
  private[graft] def tokensStandard(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9]+"), t => t =!= lit(""))

  /** `$search.moreLikeThis` term selection (round 15) — Lucene MLT's
    * move re-expressed deterministically: tokenize the like document,
    * fetch each candidate term's corpus df in ONE small aggregate
    * (|like-doc vocab| counters, one collected row — driver-model
    * state, the k-means-centroid pattern), drop df = 0 terms (they
    * can never contribute tf), rank by (like-tf DESC, df ASC, term
    * ASC) and keep maxTerms. The rank is LEXICOGRAPHIC rather than
    * Lucene's tf·ln-idf product — same monotone inputs (more frequent
    * in the like doc ≻ rarer in the corpus), but exactly orderable
    * with zero libm parity risk, which is what lets the DuckDB oracle
    * replay the selection bit-for-bit. The returned terms are sorted
    * ALPHABETICALLY so the downstream BM25 float-sum order is
    * data-independent given the selected set (the oracle pivots on
    * the same order).
    */
  private[graft] def mltTerms(docs: DataFrame, textCol: String,
                              like: String, maxTerms: Int): Seq[String] = {
    // SPACE-ONLY split (" +"), exactly Hash60.tokens' corpus regex and
    // the DuckDB oracle's string_split_regex(' +') — a like doc with
    // tabs/newlines must yield the same candidate terms on all three
    // paths (round 16, advice: "\\s+" here silently diverged)
    val likeToks = like.toLowerCase.trim.split(" +")
      .filter(_.nonEmpty).toSeq
    require(likeToks.nonEmpty, "moreLikeThis: empty like document")
    val tfq = likeToks.groupBy(identity).view.mapValues(_.size).toMap
    val cand = tfq.keys.toSeq.sorted
    // r17 (guide §1.2 per-task work): tokenize each document ONCE and
    // aggregate membership flags over the projected array — the old
    // shape inlined tokens(text) into every per-term df counter, so a
    // K-term like doc regex-tokenized the whole corpus K times inside
    // one scan. Opaque (§4.4) pins the single evaluation so neither
    // CollapseProject nor codegen re-inlines the chain; df values are
    // identical (Opaque is an identity), so the selected terms — and
    // the query result — cannot change.
    val aggs = cand.zipWithIndex.map { case (t, i) =>
      sum(when(stopCount(col("__toks"), Seq(t)) > 0, 1).otherwise(0))
        .cast("long").as(s"__df$i")
    }
    val row = docs
      .select(graft.functions.Opaque(tokens(col(textCol))).as("__toks"))
      .agg(aggs.head, aggs.tail: _*).collect()(0)
    val withDf = cand.zipWithIndex
      .map { case (t, i) => (t, tfq(t), row.getLong(i)) }
      .filter(_._3 >= 1)
    require(withDf.nonEmpty,
      "moreLikeThis: the like document shares no vocabulary with the corpus")
    withDf.sortBy { case (t, f, df) => (-f, df, t) }
      .take(maxTerms).map(_._1).sorted
  }

  /** FUSED multi-clause `$search` scoring (round 15) — every scored
    * clause of a compound computes off ONE corpus pass and ONE
    * broadcast stats row, instead of one stats-aggregate corpus scan
    * per clause (the r14 shape: a K-clause compound read the corpus
    * K+1 times; at 100 TB that is the difference between 2 scans and
    * 6). Per distinct path p the frame carries one token array and
    * one document length; the single stats aggregate computes N
    * (path-independent), Σdl per path, and df per virtual term; each
    * clause's score is its terms' k1=1.2/b=0.75 BM25 components
    * summed and rounded to 6 — the IDENTICAL expression tree the
    * round-14 one-scan-per-clause scorers built, so fusing was
    * hash-invariant (pipe_search_compound and all compound consumers
    * stayed hash-green across the switch). [[bm25]] and every
    * `$search` BM25 clause score here; a lone `$search` clause is the
    * 1-clause case.
    *
    * Scale: one corpus scan for tfs (codegen'd recipes), one for the
    * broadcast stats row — constant in the clause count; no shuffle
    * of the corpus.
    */
  private[graft] def searchScoresFused(
      docs: DataFrame,
      clauses: Seq[(String, Seq[Column => Column])],
      outs: Seq[String],
      providedStats: Option[DataFrame] = None,
      tokenize: Column => Column = tokens): DataFrame = {
    require(clauses.nonEmpty && clauses.size == outs.size,
      "searchScoresFused: one output column per clause")
    require(clauses.forall(_._2.nonEmpty), "every clause needs >= 1 term")
    val paths = clauses.map(_._1).distinct
    val pIdx = paths.zipWithIndex.toMap
    // `tokenize` (round 16): the $search analyzer option swaps the
    // default whitespace tokenizer for tokensStandard; every clause's
    // tf recipe and the dl/Σdl stats ride the SAME per-path array, so
    // an analyzer can never apply to scoring but not stats
    val withToks = paths.zipWithIndex.foldLeft(docs) { case (d, (p, pi)) =>
      d.withColumn(s"__toks$pi", tokenize(col(p)))
        .withColumn(s"__dl$pi", size(col(s"__toks$pi")).cast("double"))
    }
    val flat = for {
      (c, ci) <- clauses.zipWithIndex; ti <- c._2.indices
    } yield (ci, ti)
    val withTf = clauses.zipWithIndex.foldLeft(withToks) {
      case (d, ((p, ts), ci)) =>
        ts.zipWithIndex.foldLeft(d) { case (d2, (t, ti)) =>
          d2.withColumn(s"__tf_${ci}_$ti", t(col(s"__toks${pIdx(p)}")))
        }
    }
    val aggs = count(lit(1)).cast("double").as("__n") +:
      (paths.indices.map(pi =>
        sum(col(s"__dl$pi")).cast("long").cast("double").as(s"__sumdl$pi")) ++
        flat.map { case (ci, ti) =>
          sum(when(col(s"__tf_${ci}_$ti") > 0, 1).otherwise(0))
            .cast("double").as(s"__df_${ci}_$ti")
        })
    // providedStats (E24): a caller holding the true corpus stats in
    // an incrementally-maintained ledger (the curation daemon) skips
    // the stats-aggregate corpus scan entirely — the row must carry
    // the same (__n, __sumdl<pi>, __df_<ci>_<ti>) columns this
    // aggregate would produce, already cast double
    val stats = broadcast(
      providedStats.getOrElse(withTf.agg(aggs.head, aggs.tail: _*)))
    // BM25 with k1=1.2, b=0.75 — the formula is character-identical
    // to the round-14 per-clause scorers
    def comp(tf: Column, df: Column, dl: Column, sumdl: Column): Column =
      log(lit(1.0) + (col("__n") - df + 0.5) / (df + 0.5)) *
        tf * lit(2.2) / (tf + lit(1.2) * (lit(0.25) + lit(0.75) * dl /
          (sumdl / col("__n"))))
    val joined = withTf.crossJoin(stats)
    val scored = clauses.zipWithIndex.foldLeft(joined) {
      case (d, ((p, ts), ci)) =>
        val pi = pIdx(p)
        d.withColumn(outs(ci), round(
          ts.indices.map(ti => comp(col(s"__tf_${ci}_$ti"),
            col(s"__df_${ci}_$ti"), col(s"__dl$pi"), col(s"__sumdl$pi")))
            .reduce(_ + _), 6))
    }
    scored.drop(
      paths.indices.flatMap(pi => Seq(s"__toks$pi", s"__dl$pi")) ++
        Seq("__n") ++ paths.indices.map(pi => s"__sumdl$pi") ++
        flat.flatMap { case (ci, ti) =>
          Seq(s"__tf_${ci}_$ti", s"__df_${ci}_$ti") }: _*)
  }

  /** H20: model-based quality filter — fasttext/CCNet-style linear
    * classifier inference over hashed token features: each token
    * hashes into one of `microWeights.length` buckets (the
    * oracle-shared md5-60-bit scheme), the per-token bucket weights
    * fold in ONE codegen'd pass via the native
    * [[graft.functions.HashedFeatureDot]] (exact int64 micro-units,
    * so the sum is token-order- and summation-strategy-independent),
    * and the logistic score is
    * `sigmoid(bias + mean-token-weight)` — the standard "score with a
    * small quality model, keep above threshold" curation stage
    * (CCNet/DCLM/FineWeb). The weight vector ships to executors as a
    * codegen reference object: zero shuffles, one projection over the
    * scan.
    *
    * Keep decision compares the ROUNDED score against the threshold
    * so both engines decide from the identical 6-decimal value; as
    * with BM25/unigram-LM, `exp` is the one libm step — a 1-ulp
    * platform difference landing exactly on a round(,6) boundary is
    * the only (mitigated, not proven-impossible) parity risk.
    */
  /** H20's score as a Column over a pre-tokenized array — the form a
    * composed single-pass pipeline uses so the corpus tokenizes ONCE
    * for every gate; the frame-level [[classifierScore]] delegates
    * here, so the two can never drift.
    */
  def classifierScoreOf(toks: Column, microWeights: Seq[Long],
                        biasMicro: Long): Column = {
    import org.apache.spark.sql.GraftBridge
    val raw = GraftBridge.column(graft.functions.HashedFeatureDot(
      GraftBridge.expression(toks), microWeights))
    val z = (raw.cast("double") / size(toks) + lit(biasMicro.toDouble)) /
      lit(1000000.0)
    round(lit(1.0) / (lit(1.0) + exp(-z)), 6)
  }

  def classifierScore(docs: DataFrame, idCol: String, textCol: String,
                      microWeights: Seq[Long], biasMicro: Long,
                      threshold: Double): DataFrame = {
    val base = docs.withColumn("__toks", tokens(col(textCol)))
    val score = classifierScoreOf(col("__toks"), microWeights, biasMicro)
    base.select(col(idCol),
      size(col("__toks")).cast("long").as("n_tok"),
      score.as("clf_score"),
      (score >= threshold).as("keep"))
  }

  /** H20c: calibration bins of a fixed classifier — the reliability
    * diagram (score decile × observed positive rate) every
    * model-gated curation stage ships with, factored so the batch
    * query, the per-slice DRIFT readout, and the streaming
    * incremental form (E18) share one definition and can never
    * drift from each other.
    *
    * `slices` prepends grouping keys (a source column, an event-time
    * window, …): per-slice reliability curves ARE the drift readout —
    * a slice whose pos_rate at fixed score bins moves away from the
    * corpus curve is the signal to re-threshold or re-train the gate.
    *
    * Shape: one map-side-combined count groupBy of ≤ bins·slices
    * rows. Counts merge, so Structured Streaming maintains the same
    * aggregation INCREMENTALLY over micro-batches (complete mode) —
    * the E17 mergeable-sketch property; streamed state equals the
    * batch readout over the union of batches (spec-pinned).
    */
  def calibrationBins(docs: DataFrame, textCol: String, labelPred: Column,
                      microWeights: Seq[Long], biasMicro: Long,
                      slices: Seq[(String, Column)] = Nil,
                      bins: Int = 10): DataFrame = {
    require(bins > 0, s"calibration needs a positive bin count: $bins")
    val base = docs.withColumn("__toks", tokens(col(textCol)))
    val score = classifierScoreOf(col("__toks"), microWeights, biasMicro)
    val pre = base.select(
      slices.map { case (n, c) => c.as(n) } ++
        Seq(labelPred.as("y"), score.as("s")): _*)
    val keys = slices.map(s => col(s._1)) :+
      least(floor(col("s") * lit(bins.toDouble)), lit((bins - 1).toLong))
        .cast("int").as("bin")
    pre.groupBy(keys: _*)
      .agg(count(lit(1)).as("n"),
        count(when(col("y"), lit(1))).as("n_pos"))
      .select(slices.map(s => col(s._1)) ++ Seq(col("bin"), col("n"),
        col("n_pos"),
        round(col("n_pos").cast("double") / col("n").cast("double"), 6)
          .as("pos_rate")): _*)
  }

  /** H20b: linear-classifier TRAINING over hashed token features —
    * the learn side of [[classifierScore]], closing the quality-model
    * loop the same way H7c's BPE merge learning closed H22's encoder:
    * `iters` full-batch logistic-regression gradient steps, each one
    * fully declarative and exactly deterministic, producing the
    * int64 micro-unit weight vector [[graft.functions.HashedFeatureDot]]
    * applies at inference time.
    *
    * Determinism contract (the G17/H7c fixed-point discipline):
    *   - features are exact integer counts per md5-60-bit bucket, one
    *     dense `array<long>` per doc from the codegen'd
    *     [[graft.functions.HashedFeatureCounts]] — zero shuffle;
    *   - the per-doc score uses the SAME mean-token form as the apply
    *     path (`(Σ w[b]·c[b]/n + bias)/10⁶`), its sigmoid rounded to
    *     6 decimals before the error term (both engines decide from
    *     the identical value; `exp` is the one libm step, same
    *     mitigated parity assumption as H20/BM25);
    *   - every per-doc gradient contribution rounds to int64 micro
    *     units BEFORE the sum, so the aggregate is token-order- and
    *     partition-order-free, and weight updates are integer
    *     subtraction — the trained model is bit-identical on any
    *     cluster layout.
    *
    * Plan shape per iteration: the model state (w, bias, ndocs) is a
    * ONE-row broadcast; scoring + per-doc gradients are a map-side
    * projection over the feature scan; the only exchange is the
    * vector-summed gradient aggregate ([[graft.functions.VecSumAgg]]
    * — one (dims+1)-long int64 buffer per partition, no posexplode
    * row inflation). With `persist = true` (the default, the at-scale
    * shape) the feature frame is localCheckpoint'ed ONCE — the
    * corpus file is scanned exactly one time for the whole training
    * run, every GD step reads the materialized (y, n, c) frame —
    * and each step's one-row weight state is checkpointed so the
    * plan per iteration is CONSTANT size: iters=100 neither grows
    * lineage nor re-derives earlier steps. `persist = false` keeps
    * the fully-lazy declarative form (state flows as a nested
    * broadcast subplan; the corpus is re-scanned per step) — useful
    * for plan inspection and as the bit-identity cross-check. On a
    * real cluster the localCheckpoint seam is where reliable
    * `checkpoint()` to distributed storage would slot in.
    *
    * Output: (bucket, w_micro) — bucket −1 is the bias row, 0..dims−1
    * the hashed-feature weights. Pure integers: hash-exact, and
    * bit-identical between the persisted and lazy paths (same
    * arithmetic, only materialization differs).
    */
  def classifierTrain(docs: DataFrame, idCol: String, textCol: String,
                      positive: Column, dims: Int = 64, iters: Int = 2,
                      lr: Double = 5.0, persist: Boolean = true): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    val toks = tokens(col(textCol))
    val fRaw = docs.select(
      coalesce(positive.cast("double"), lit(0.0)).as("y"),
      size(toks).cast("double").as("n"),
      GraftBridge.column(graft.functions.HashedFeatureCounts(
        GraftBridge.expression(toks), dims)).as("c"))
    // ONE corpus scan: materialize the narrow feature frame to
    // executor storage; each GD step below reads the LogicalRDD.
    val f = if (persist) graft.Seams.cut(fRaw) else fRaw
    val nd = f.groupBy().agg(count(lit(1)).as("ndocs"))
    val w0 = nd.select(array_repeat(lit(0L), dims).as("w"),
      lit(0L).as("bias"), col("ndocs"))
    def step(wDf: DataFrame): DataFrame = {
      val j = f.crossJoin(broadcast(wDf))
      // Codegen'd dot product — the HOF chain it replaces
      // (aggregate∘zip_with) is CodegenFallback, ~3·dims interpreted
      // lambda calls per doc per step; values bit-identical
      // ([[graft.functions.VecDotLong]] mirrors the null/overflow
      // semantics exactly).
      val raw = GraftBridge.column(graft.functions.VecDotLong(
        GraftBridge.expression(col("c")), GraftBridge.expression(col("w"))))
      val z = (raw.cast("double") / col("n") + col("bias").cast("double")) /
        lit(1000000.0)
      val err = round(lit(1.0) / (lit(1.0) + exp(-z)), 6) - col("y")
      // pos 0 = bias gradient, pos 1..dims = bucket gradients; each
      // contribution rounds to micro-units pre-sum (order-free).
      // Codegen'd ([[graft.functions.GradMicroVec]]) — replaces the
      // interpreted concat(array(round), transform(round)) chain with
      // the same per-element arithmetic, op for op.
      val g = GraftBridge.column(graft.functions.GradMicroVec(
        GraftBridge.expression(col("c")), GraftBridge.expression(err),
        GraftBridge.expression(col("n"))))
      // vector-summed gradient: the (dims+1)-long per-doc gradient
      // arrays sum element-wise into ONE Array[Long] buffer per
      // partition (identical int64 sums as the posexploded per-pos
      // groupBy) — the shuffle carries one buffer per partition, and
      // the weight update is a 1-row array projection
      val sums = j.groupBy().agg(GraftBridge.column(
        graft.functions.VecSumAgg(GraftBridge.expression(g), 1.0)
          .toAggregateExpression()).as("gs"))
      def upd1(oldV: Column, gsum: Column): Column =
        oldV - round(lit(lr) * gsum.cast("double") /
          col("ndocs").cast("double")).cast("long")
      sums.crossJoin(broadcast(wDf))
        .select(
          transform(col("w"), (wi, i) =>
            upd1(wi, element_at(col("gs"), i + lit(2)))).as("w"),
          upd1(col("bias"), element_at(col("gs"), lit(1))).as("bias"),
          col("ndocs"))
    }
    // Per-step checkpoint of the ONE-row state frame truncates
    // lineage: iteration k's plan is always {feature LogicalRDD +
    // broadcast 1-row LogicalRDD}, independent of k.
    val wFinal = (1 to iters).foldLeft(w0)((w, _) =>
      if (persist) graft.Seams.cut(step(w)) else step(w))
    wFinal
      .select(posexplode(concat(array(col("bias")), col("w")))
        .as(Seq("pos", "w_micro")))
      .select((col("pos") - 1).cast("int").as("bucket"), col("w_micro"))
  }

  /** H24: DSIR — Data Selection via Importance Resampling (Xie et
    * al. 2023, "Data Selection for Language Models via Importance
    * Resampling"): pick raw-corpus documents whose hashed-n-gram
    * distribution looks like a curated target domain. The standard
    * pre-training recipe for "give me web data that reads like
    * Wikipedia".
    *
    *   1. Feature space: token unigrams AND adjacent bigrams hashed
    *      into `dims` buckets (the paper's hashed n-gram model), as
    *      one dense exact-integer count vector per doc from the
    *      codegen'd [[graft.functions.HashedFeatureCounts]] — zero
    *      shuffle, zero per-token allocation.
    *   2. Bucket log-likelihood ratios λ[b] = ln p̂_target[b] −
    *      ln p̂_raw[b] under add-1 smoothing, converted to int64
    *      MICRO-units once per bucket — so every per-document
    *      importance weight Σ_b c[b]·λ[b] is exact integer
    *      arithmetic, token-order- and partition-free. `ln` runs
    *      `dims` times total (not per doc): the usual mitigated
    *      libm-parity assumption shrinks to 64 values.
    *   3. Gumbel top-k resampling (the paper's sampling-without-
    *      replacement), derandomized the engine-wide way: u ∈ (0,1]
    *      from the doc's md5-60-bit hash, key = lw/10⁶ − ln(−ln u),
    *      rounded to 6 decimals with doc_id tie-break.
    *
    * Plan shape: feature extraction and scoring are map-side
    * projections over the corpus scan; the only exchanges are the
    * vector-summed 1-row histogram aggregate (both bucket histograms
    * in one [[graft.functions.VecSumAgg]] pass — one Array[Long]
    * buffer per partition, no posexplode row inflation) and the
    * TakeOrdered top-k. λ rides to executors as a one-row broadcast.
    * Nothing corpus-sized ever shuffles: at 100 TB this runs as two
    * scans (histogram pass + scoring pass) or one with the feature
    * frame persisted.
    */
  def dsirSelect(docs: DataFrame, idCol: String, textCol: String,
                 targetPred: Column, dims: Int = 64, k: Int = 100): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    val toks = tokens(col(textCol))
    val f = docs.select(col(idCol),
      coalesce(targetPred, lit(false)).as("is_t"),
      // HashedFeatureCounts is null-safe (NULL text → NULL counts);
      // coalesce to the zero vector so a null-text doc scores lw=0
      // with a real Gumbel key, matching the oracle's COALESCE(...,0).
      coalesce(
        GraftBridge.column(graft.functions.HashedFeatureCounts(
          GraftBridge.expression(toks), dims, bigrams = true)),
        array_repeat(lit(0L), dims)).as("c"))
    // the two bucket histograms as ONE vector-summed 1-row aggregate
    // (VecSumAgg long path; a non-target row contributes a null array
    // to the target sum — skipped, the conditional-sum semantics of
    // the per-bucket plan this replaces). λ is then a 64-element
    // map-side zip on that single row — identical integer sums and
    // per-bucket log arithmetic, two fewer exchanges.
    val zeroVec = array_repeat(lit(0L), dims)
    val lam = f.groupBy().agg(
        Similarity.vecSum(when(col("is_t"), col("c")), 1.0).as("tcs"),
        Similarity.vecSum(col("c"), 1.0).as("rcs"))
      .select(coalesce(col("tcs"), zeroVec).as("tcs"),
        coalesce(col("rcs"), zeroVec).as("rcs"))
      .select(col("tcs"), col("rcs"),
        aggregate(col("tcs"), lit(0L), (a, x) => a + x).as("tt"),
        aggregate(col("rcs"), lit(0L), (a, x) => a + x).as("rt"))
      .select(zip_with(col("tcs"), col("rcs"), (tc, rc) =>
        round((log((tc.cast("double") + lit(1.0)) /
                   (col("tt").cast("double") + lit(dims.toDouble))) -
               log((rc.cast("double") + lit(1.0)) /
                   (col("rt").cast("double") + lit(dims.toDouble)))) *
          lit(1000000.0)).cast("long")).as("lam"))
    val lw = aggregate(
      zip_with(col("c"), col("lam"), (ci, li) => ci * li),
      lit(0L), (acc, x) => acc + x)
    val u = (graft.functions.Hash60.hash60(col(idCol).cast("string")) +
      lit(1.0)) / lit(1152921504606846976.0)
    val scored = f.crossJoin(broadcast(lam))
      .select(col(idCol), lw.as("lw_micro"),
        round(lw.cast("double") / lit(1000000.0) + -log(-log(u)), 6)
          .as("gkey"))
    scored.orderBy(col("gkey").desc, col(idCol).asc).limit(k)
  }

  /** H16: Gopher-style quality rule pack — the per-document structural
    * filters from the Gopher/MassiveText curation recipe, evaluated in
    * one pass: word-count bounds, mean word length bounds, type-token
    * ratio floor, and a minimum stopword presence. Emits the metrics
    * plus the composite keep/drop verdict so downstream passes can
    * either filter on `pass` or re-threshold the raw signals.
    * Rational arithmetic only (int/int division in IEEE double) —
    * bit-identical to the DuckDB oracle; stopword hits via the native
    * codegen'd [[graft.functions.InSetCount]]. Zero shuffles.
    */
  /** H16's composite verdict as a Column over a pre-tokenized array —
    * shared by the frame-level [[gopherRules]] and composed
    * single-pass pipelines (same no-drift contract as
    * [[classifierScoreOf]]).
    */
  def gopherPassOf(toks: Column): Column = {
    val n = size(toks).cast("double")
    val mwl = length(array_join(toks, "")).cast("double") / n
    val ttr = size(array_distinct(toks)).cast("double") / n
    val stops = stopCount(toks, Seq("the", "a", "of", "is"))
    n >= 50 && n <= 100000 &&
      mwl >= 3.0 && mwl <= 10.0 &&
      ttr >= 0.2 && stops >= 2
  }

  def gopherRules(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val base = docs.withColumn("__toks", tokens(col(textCol)))
    val n = size(col("__toks")).cast("double")
    val mwl = length(array_join(col("__toks"), "")).cast("double") / n
    val ttr = size(array_distinct(col("__toks"))).cast("double") / n
    val stops = stopCount(col("__toks"), Seq("the", "a", "of", "is"))
    base.select(col(idCol),
      n.cast("long").as("n_words"),
      round(mwl, 6).as("mean_word_len"),
      round(ttr, 6).as("type_token_ratio"),
      stops.as("stop_hits"),
      gopherPassOf(col("__toks")).as("pass"))
  }

  /** H23: CCNet-style perplexity bucketing (Wenzek et al., "CCNet:
    * Extracting High Quality Monolingual Datasets from Web Crawl
    * Data"): documents are ranked by their LM quality score
    * ([[unigramLogProb]]'s avg token log-prob — higher = more
    * fluent) and cut into equal-population head / middle / tail
    * buckets, the standard pre-training mixture knob (keep head,
    * sample middle, drop tail).
    *
    * Bucket = ⌊buckets·rank₀/n⌋ over the total order
    * (avg_logp DESC, doc_id ASC) — avg_logp is pre-rounded to 4
    * decimals, so the doc_id tie-break makes the cut deterministic
    * on any cluster/partitioning/retry.
    *
    * The global rank is the distributed range-partition +
    * zipWithIndex formulation (the same machinery `$bucketAuto`
    * uses): every partition sorts locally in parallel and a
    * per-partition count job supplies exact offsets — never a
    * single-partition `Window.orderBy`, which would pull the whole
    * corpus through one task. Scoring itself is [[unigramLogProb]]'s
    * one-shuffle corpus pass; what ranks is one narrow
    * (doc_id, n_tok, avg_logp) row per document.
    */
  def perplexityBuckets(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    bucketByScore(unigramLogProb(docs, idCol, textCol), "avg_logp")

  /** H23b: the same CCNet tercile cut re-based on the PRODUCTION
    * filter's model order — the Kneser-Ney 5-gram score (H18e) in
    * place of the weak unigram LM. Docs with < 5 tokens carry no
    * 5-gram position and are absent (the H18e contract); buckets
    * cover the scoreable corpus.
    */
  def perplexityBucketsKn5(docs: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    bucketByScore(
      knFivegramLogProb(docs, idCol, textCol)
        .withColumnRenamed("avg_logp_kn5", "avg_logp"), "avg_logp")

  private def bucketByScore(lp: DataFrame, scoreCol: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.LongType
    // NOTE (r16, measured): no checkpoint seam here on purpose. Both
    // rank jobs below share one RDD lineage, so the second job reuses
    // the first's shuffle map outputs and recomputes only the final
    // stage — a localCheckpoint seam materialized every row and
    // measured SLOWER (text_ppl_buckets_kn5 3.2 → 3.9 s warm). The
    // shared shuffle also pins one range partitioning for both jobs.
    val sorted = lp
      .repartitionByRange(col(scoreCol).desc, col("doc_id").asc)
      .sortWithinPartitions(col(scoreCol).desc, col("doc_id").asc)
    val rdd = sorted.rdd
    // job 1: per-partition counts → exact offsets + the total, one pass
    val counts = rdd
      .mapPartitionsWithIndex((i, it) => Iterator((i, it.size.toLong)))
      .collect().sortBy(_._1).map(_._2)
    val offsets = counts.scanLeft(0L)(_ + _)
    val total = counts.sum
    val ranked = lp.sparkSession.createDataFrame(
      rdd.mapPartitionsWithIndex { case (i, it) =>
        var idx = offsets(i)
        it.map { row => val r = Row.fromSeq(row.toSeq :+ idx); idx += 1; r }
      },
      sorted.schema.add("__rank", LongType, nullable = false))
    // integer `div`, not `/`: float division of 3·rank could round
    // across a bucket boundary once ranks exceed double's mantissa
    val b =
      if (total == 0L) lit(0L)
      else expr(s"(3 * __rank) div ${total}L")
    ranked.select(col("doc_id"), col(scoreCol).as("avg_logp"),
      when(b === 0, "head").when(b === 1, "middle").otherwise("tail")
        .as("bucket"))
  }

  /** H23 applied as CCNet's actual selection policy: keep the head
    * tercile entirely, keep a deterministic `midRatePct`% hash
    * sample of the middle (the shared md5-60-bit draw every sampler
    * in this engine uses — reproducible on any cluster/retry), drop
    * the tail. The post-rank filter is map-side; only the rank
    * machinery of [[perplexityBuckets]] touches the corpus.
    */
  def ccnetSelect(docs: DataFrame, idCol: String, textCol: String,
                  midRatePct: Int = 50): DataFrame = {
    import graft.functions.Hash60.{hash60, rowKey}
    require(midRatePct >= 0 && midRatePct <= 100,
      s"midRatePct must be a percentage: $midRatePct")
    perplexityBuckets(docs, idCol, textCol)
      .filter(col("bucket") === "head" ||
        (col("bucket") === "middle" &&
          hash60(rowKey(col("doc_id"))) % 100 < midRatePct))
  }

  /** H7c: BPE merge LEARNING — the training side H22's apply-encoder
    * consumes, closing the tokenizer loop (H7b counts pairs, H7c
    * learns the merge table, H22 applies it): `k` iterations of
    * argmax-pair-then-merge over the corpus word vocabulary, each
    * fully declarative.
    *
    * Everything after the one corpus shuffle (word → freq) runs on
    * the VOCAB symbol table (|vocab|·word-length rows, millions at
    * 100 TB, never corpus-sized), with every window partitioned by
    * the word — parallel across the vocabulary, a few symbols per
    * partition. Per iteration: adjacent-pair counts (freq-weighted,
    * overlapping occurrences counted, standard BPE), argmax with
    * the (n DESC, lhs, rhs) tie rule as a TakeOrderedAndProject
    * broadcast back (no driver action), then ONE simultaneous merge
    * application: left-to-right non-overlapping matching is
    * declarative because matches at i and i+1 can only collide when
    * lhs = rhs — maximal runs of consecutive match positions keep
    * their odd-ranked members (the run-id = pos − match-rank trick),
    * the consumed right neighbor drops via `lag(kept)`, positions
    * renumber, repeat. The recurrence BPE is famous for lives in k
    * UNROLLED plan stages, not a driver loop over rows — the same
    * move that made the trained-IVF oracle expressible.
    *
    * Emits the learned table: (step, lhs, rhs, n) with n the
    * selection-time pair count; fewer than `k` rows when the vocab
    * runs out of pairs.
    */
  def bpeLearn(docs: DataFrame, idCol: String, textCol: String,
               k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, s"bpeLearn k must be at least 1: $k")
    val vocab = docs
      .select(explode(tokens(col(textCol))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    // r17 per-round seams (guide §2.4): each round's symbol table is
    // consumed TWICE (the pair-count argmax and the merge
    // application), and every round chains on the previous one — so
    // without seams the k-th round's branches re-derive the whole
    // unrolled prefix from the corpus, and the final union of k `top`
    // rows re-derives it again per step (974-line plan, 16 scans).
    // The per-round persist computes each round once; `top` is also
    // seamed (1 row) because it feeds the emitted merge table AND the
    // round's broadcast merge predicate.
    var syms = vocab.select(col("w"), col("freq"),
      posexplode(expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))"))
        .as(Seq("pos", "sym")))
      .seamed
    val wWin = Window.partitionBy(col("w")).orderBy(col("pos"))
    var merges = Seq.empty[DataFrame]
    for (step <- 1 to k) {
      val withNext = syms.withColumn("__nxt", lead(col("sym"), 1).over(wWin))
      val top = withNext.filter(col("__nxt").isNotNull)
        .groupBy(col("sym").as("lhs"), col("__nxt").as("rhs"))
        .agg(sum(col("freq")).as("n"))
        .orderBy(col("n").desc, col("lhs"), col("rhs"))
        .limit(1)
        .seamed
      merges :+= top.select(lit(step).as("step"), col("lhs"), col("rhs"), col("n"))
      val marked = withNext
        .crossJoin(broadcast(top.select(col("lhs"), col("rhs"))))
        .withColumn("__mt", col("sym") === col("lhs") && col("__nxt") === col("rhs"))
        // run id: consecutive match positions share (pos − match-rank)
        .withColumn("__rid", when(col("__mt"), col("pos") - row_number().over(
          Window.partitionBy(col("w"), col("__mt")).orderBy(col("pos")))))
        .withColumn("__kept", col("__mt") && row_number().over(
          Window.partitionBy(col("w"), col("__rid")).orderBy(col("pos"))) % 2 === 1)
      syms = marked
        .withColumn("__pk", lag(col("__kept"), 1).over(wWin))
        .filter(!coalesce(col("__pk"), lit(false)))
        .select(col("w"), col("freq"),
          row_number().over(wWin).as("pos"),
          when(col("__kept"), concat(col("lhs"), col("rhs")))
            .otherwise(col("sym")).as("sym"))
        .seamed
    }
    merges.reduce(_ unionAll _)
  }
}
