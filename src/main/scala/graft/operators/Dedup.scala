package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Hash60._
import graft.Seams.SeamOps

/** Deduplication family (SURVEY.md §2 group F) — every near-dup path
  * goes through an inverted index / banding step, never an all-pairs
  * join, so the shuffles stay proportional to postings, not n².
  * Decisions shared with the embedding dedup live once in [[NearDup]]:
  * F1/F2/F12 fold survivors with `survivorFold`, F10 uses `collapse`,
  * F10/F3b re-attach group sizes with `withMembers`, F4/F14 pair band
  * keys with `blockedSelfJoin`, F14 labels with `clusterSurvivors`.
  */
object Dedup {

  /** F1: exact dedup on normalized text — one hash shuffle, min-id
    * survivor per group.
    */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    NearDup.survivorFold(docs, lower(trim(col(textCol))).as("norm"), idCol)
      .select(col("survivor"), col("n_copies"))

  /** Canonical content fingerprint: md5 over the sorted distinct
    * token set (word-order permutations collapse together) — the one
    * expression F2, the collapse guard, and incremental dedup share.
    */
  def fingerprintOf(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    fingerprintOfTokens(tokens(text))

  /** The same fingerprint over a pre-tokenized array — for composed
    * single-pass pipelines that tokenize once and feed every stage.
    */
  def fingerprintOfTokens(toks: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    md5(to_binary(
      array_join(array_sort(array_distinct(toks)), " "),
      lit("utf-8")))

  /** F2: canonical-fingerprint dedup: md5 over the sorted distinct
    * token set, so word-order permutations collapse to one group.
    * Same single-shuffle shape as exact dedup.
    */
  def fingerprint(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    NearDup.survivorFold(docs, fingerprintOf(col(textCol)).as("fp"), idCol)

  /** The standing fingerprint index of an already-deduped corpus —
    * the artifact an incremental pipeline PERSISTS between batches
    * (ideally as a parquet table bucketed on `fp`, so the per-batch
    * join below never re-shuffles the index side).
    */
  def fingerprintIndex(docs: DataFrame, textCol: String): DataFrame =
    docs.select(fingerprintOf(col(textCol)).as("fp")).distinct()

  /** F12: INCREMENTAL dedup — dedupe an arriving batch against the
    * standing corpus index without touching corpus rows: a batch doc
    * survives iff its fingerprint is absent from the index (anti
    * join) AND it is the min-id holder of that fingerprint within
    * the batch. Emits (fp, survivor, n_copies) — F2's shape over the
    * genuinely-new batch content; union the emitted fps into the
    * index to advance it.
    *
    * Scale: per increment this does batch-sized hashing plus one
    * keyed anti join against the index. Spark has no point-lookup
    * store, so the index side is a scan — persist it bucketed on
    * `fp` and the join needs no index shuffle; the batch (small by
    * definition) shuffles to the index's bucketing, or broadcasts
    * when tiny. Never corpus-ROW-sized work, and never a rescan of
    * corpus text.
    *
    * NULL fingerprints (null text): an anti join never matches a
    * null key, so null-fp batch rows always count as novel and pool
    * into one emitted group — conservative-keep, mirrored by the
    * oracle's NOT EXISTS. Callers who treat null text as junk should
    * filter before, not after.
    */
  def incrementalFingerprint(batch: DataFrame, index: DataFrame,
                             idCol: String, textCol: String): DataFrame =
    NearDup.survivorFold(batch
      .withColumn("fp", fingerprintOf(col(textCol)))
      .join(index, Seq("fp"), "left_anti"), col("fp"), idCol)

  /** Persist the standing index as a BUCKETED table on `fp`, so the
    * per-batch anti join reads the index pre-partitioned: only the
    * (small) batch shuffles — DedupSpec asserts the index side joins
    * with zero Exchange. This is the artifact layout the F12 loop
    * should maintain at 100 TB.
    */
  def persistIndexBucketed(index: DataFrame, table: String,
                           buckets: Int = 64): Unit =
    index.write.mode("overwrite")
      .bucketBy(buckets, "fp").sortBy("fp").saveAsTable(table)

  /** Bit position of probe `p` for fingerprint `fp` in an m-bit Bloom
    * filter: the engine-wide 60-bit md5 hash of "fp#p", mod m —
    * deterministic and replayed verbatim by the oracle.
    */
  private def bloomBit(fp: org.apache.spark.sql.Column,
                       p: org.apache.spark.sql.Column,
                       mBits: Int): org.apache.spark.sql.Column =
    hash60(concat(fp, lit("#"), p.cast("string"))) % mBits

  /** F20 (state): Bloom filter over a standing fingerprint index — j
    * deterministic hash60 probes per fingerprint set bits in an m-bit
    * filter stored as m/32 OR-aggregated 32-bit words (BIGINT-held,
    * so no two's-complement edge across engines; `bit_or` map-side
    * combines, ONE tiny shuffle of ≤ m/32 rows).
    *
    * The words frame is KBs for any practical m — broadcastable
    * daemon state next to the bucketed index, and MERGEABLE by plain
    * per-word OR (union corpora ⇒ OR their filters — the same
    * register seam as HLL). Size m ≈ 10·|index| for ~1% FPR at j=3;
    * an undersized filter degrades toward maybe=true, never toward a
    * wrong answer.
    */
  def bloomWords(index: DataFrame, mBits: Int = 1 << 15,
                 hashes: Int = 3): DataFrame =
    index
      .select(col("fp"), explode(sequence(lit(0), lit(hashes - 1))).as("p"))
      .select(bloomBit(col("fp"), col("p"), mBits).as("bit"))
      .select(expr("cast(bit div 32 as int)").as("word"),
        expr("shiftleft(cast(1 as bigint), cast(bit % 32 as int))").as("mask"))
      .groupBy(col("word"))
      .agg(expr("bit_or(mask)").as("bits"))

  /** F20: Bloom-filter prefilter for the F12 incremental loop — the
    * definitely-new gate in FRONT of the standing-index anti join. A
    * batch doc whose j probe bits are not ALL set is DEFINITELY
    * absent from the index (no false negatives — the spec invariant);
    * only the `maybe` fraction needs the index join at all. Emits one
    * row per batch doc: (id, bloom_maybe, in_index) — in_index is the
    * ground truth, so the output doubles as the filter's FPR readout
    * (maybe ∧ ¬in_index = the false positives).
    *
    * 100 TB: a fresh crawl batch is mostly-new by construction, so
    * the broadcast filter turns the standing-index probe from
    * every-doc work into work proportional to the duplicate rate —
    * the index join (even bucketed, G26) still reads index buckets;
    * the filter is a map-side membership test with NO join at all on
    * the definite-negative path.
    *
    * Null fingerprints (null text) probe nothing and match nothing:
    * they read (bloom_maybe=false, in_index=false) — consistent with
    * F12's "null never matches" anti-join semantics.
    */
  def bloomProbe(batch: DataFrame, index: DataFrame, idCol: String,
                 textCol: String, mBits: Int = 1 << 15,
                 hashes: Int = 3): DataFrame =
    batch.select(col(idCol), fingerprintOf(col(textCol)).as("fp"))
      .withColumn("p", explode(sequence(lit(0), lit(hashes - 1))))
      .withColumn("bit", bloomBit(col("fp"), col("p"), mBits))
      .withColumn("word", expr("cast(bit div 32 as int)"))
      .withColumn("mask", expr("shiftleft(cast(1 as bigint), cast(bit % 32 as int))"))
      // the words frame is explicitly broadcast: the whole point is a
      // map-side membership test
      .join(broadcast(bloomWords(index, mBits, hashes)), Seq("word"), "left")
      .groupBy(col(idCol), col("fp"))
      .agg(count(when(coalesce(col("bits"), lit(0L))
        .bitwiseAND(col("mask")) =!= 0L, 1)).as("__n_set"))
      .select(col(idCol), col("fp"),
        (col("__n_set") === hashes).as("bloom_maybe"))
      // ground-truth readout (NOT part of the production fast path —
      // that's the point of the filter); plain keyed join, AQE sizes it
      .join(index.select(col("fp"), lit(true).as("__in")), Seq("fp"), "left")
      .select(col(idCol), col("bloom_maybe"),
        coalesce(col("__in"), lit(false)).as("in_index"))

  /** F20b: closed-form Bloom sizing solver — the F18b move applied to
    * F20: for every (m, j) candidate (m = 2¹²..2²⁰ bits, j = 1..6
    * hashes) the standard FPR formula (1 − e^(−j·n/m))^j evaluates at
    * the STANDING index's actual cardinality n, and the CHOSEN row is
    * the smallest filter meeting the target (ties → fewest hashes) —
    * the knobs derived from the corpus instead of asserted. The
    * exponential is the engine's deterministic exp
    * ([[TextAnalysis.withExpDet]] — zero libm) and the j-th power is
    * a fixed-order literal product, so the whole table is
    * engine-replayable; rows where no candidate qualifies read
    * chosen=false everywhere (the caller must grow past 2²⁰).
    *
    * Scale: ONE count action over the index (the k-means-style driver
    * model-state collect — n is a scalar knob input, not data); the
    * table itself is 54 LOCAL rows, so the solver costs one scan no
    * matter how often downstream consumers re-reference it. Re-run it
    * per compaction epoch and the daemon's filter tracks index growth
    * instead of saturating silently.
    */
  def bloomChoose(index: DataFrame, targetFpr: Double = 0.01): DataFrame = {
    val s = index.sparkSession
    import s.implicits._
    val nKeys = index.count()
    val cand = (for (mExp <- 12 to 20; j <- 1 to 6)
      yield (1L << mExp, j)).toDF("m_bits", "hashes")
    val base = cand
      .withColumn("n_keys", lit(nKeys))
      .withColumn("__x",
        -(col("hashes").cast("double") * col("n_keys").cast("double")) /
          col("m_bits").cast("double"))
    val pb = lit(1.0) - col("__e")
    val scored = TextAnalysis.withExpDet(base, col("__x"), "__e")
      .withColumn("__pb", pb)
      .withColumn("fpr",
        when(col("hashes") === 1, col("__pb"))
          .when(col("hashes") === 2, col("__pb") * col("__pb"))
          .when(col("hashes") === 3, col("__pb") * col("__pb") * col("__pb"))
          .when(col("hashes") === 4,
            col("__pb") * col("__pb") * col("__pb") * col("__pb"))
          .when(col("hashes") === 5,
            col("__pb") * col("__pb") * col("__pb") * col("__pb") * col("__pb"))
          .otherwise(col("__pb") * col("__pb") * col("__pb") *
            col("__pb") * col("__pb") * col("__pb")))
    val bestM = broadcast(scored.filter(col("fpr") <= targetFpr)
      .agg(min(col("m_bits")).as("__bm")))
    val bestJ = broadcast(scored.crossJoin(bestM)
      .filter(col("fpr") <= targetFpr && col("m_bits") === col("__bm"))
      .agg(min(col("hashes")).as("__bj")))
    scored.crossJoin(bestM).crossJoin(bestJ)
      .select(col("m_bits"), col("hashes"), col("n_keys"),
        round(col("fpr"), 6).as("fpr_r"),
        coalesce(col("m_bits") === col("__bm") &&
          col("hashes") === col("__bj"), lit(false)).as("chosen"))
  }

  /** The STANDING fuzzy index for the F14 incremental loop: distinct
    * (band, key) rows of a corpus's MinHash LSH banding — two narrow
    * columns, the fuzzy analogue of [[fingerprintIndex]]. Persist it
    * bucketed on (band, key) (same move as [[persistIndexBucketed]])
    * and the per-batch anti join reads it pre-partitioned.
    */
  def bandIndex(docs: DataFrame, idCol: String, textCol: String,
                n: Int = 2, k: Int = 16, bands: Int = 4): DataFrame =
    bandKeys(docs, idCol, textCol, n, k, bands)
      .select(col("band"), col("key")).distinct()

  /** Persist the standing BAND index bucketed on (band, key) — the
    * F14 twin of [[persistIndexBucketed]]: the per-batch veto join
    * then reads the index pre-partitioned and only the (small) batch
    * band table shuffles (spec-asserted, like F12's).
    */
  def persistBandIndexBucketed(index: DataFrame, table: String,
                               buckets: Int = 64): Unit =
    index.write.mode("overwrite")
      .bucketBy(buckets, "band", "key").sortBy("band", "key")
      .saveAsTable(table)

  /** F14: INCREMENTAL fuzzy dedup — the near-dup complement of F12's
    * exact-fingerprint path (a curation daemon runs both gates:
    * exact fp first, bands second; F12 alone admits paraphrases and
    * light edits of already-accepted content). A batch doc is VETOED
    * when ANY of its LSH bands already exists in the standing index —
    * candidate-level and recall-oriented, the same acceptance rule
    * the fuzzy decontaminator (F8b) uses; a verifying composition
    * would re-check candidates with [[ngramJaccard]] against stored
    * representatives. Batch-internal near-dups then collapse to
    * their band-connected-component min-id representative. Emits
    * (survivor, n_members); advance the index by unioning
    * `bandIndex(survivor rows)`.
    *
    * Scale: batch-sized signature build; one left-anti-shaped join
    * of batch band keys against the index (bucketed index ⇒ only the
    * batch shuffles); candidate pairs and the CC run over the BATCH
    * only — never corpus-sized work, never a corpus-text rescan.
    *
    * Empty/blank documents produce no shingles, hence no band keys:
    * they are invisible to this gate (neither vetoed nor emitted) —
    * route them through the exact-fp gate (F12), where null/blank
    * content pools under one fingerprint.
    */
  def incrementalBands(batch: DataFrame, index: DataFrame,
                       idCol: String, textCol: String,
                       n: Int = 2, k: Int = 16, bands: Int = 4): DataFrame = {
    // Reuse seam: the candidate SELF-join reads one checkpointed copy
    // of kept instead of re-deriving the signature build + veto join
    // per side. The seam deliberately covers ONLY the self-join:
    // the survivor set keeps the full lineage so the bucketed standing-index
    // veto join stays visible in the executed plan (the F14
    // index-never-reshuffles contract is spec-asserted on it), and
    // bk itself stays UNseamed for the same reason — a stats-less
    // LogicalRDD there makes the planner stop exploiting the index's
    // bucketed layout.
    val bk = bandKeys(batch, idCol, textCol, n, k, bands)
    val vetoed = bk.join(index, Seq("band", "key"), "left_semi")
      .select(col("id")).distinct()
    val kept = bk.join(vetoed, Seq("id"), "left_anti")
    val cc = Pipeline100TB.connectedComponents(bandPairs(kept.seamed))
    NearDup.clusterSurvivors(kept.select(col("id")).distinct(), "id", cc)
      .groupBy(col("survivor")).agg(count(lit(1)).as("n_members"))
  }

  /** Duplicate-dense guard (F2∘F3/F6 composition): collapse exact-
    * fingerprint duplicate groups to their min-id representative row
    * BEFORE near-dup pair generation. Pair generators emit every true
    * near-dup pair, so a corpus with copy factor c grows candidates
    * ~quadratically in c (measured: 10× replication → 7× pair-stage
    * cost, SURVEY §8); collapsing first makes one representative carry
    * the whole copy group, so pair volume is quadratic only in the
    * count of DISTINCT contents — the standard production composition
    * for crawl-heavy corpora.
    *
    * Keeps every original column and adds `n_members` (the collapsed
    * group size, so downstream stages can re-weight or re-expand).
    * Shape: [[NearDup.collapse]], `groupBy(fp).agg(min_by(struct(*),
    * id), count)` — skew-immune, never a fingerprint window.
    */
  def collapseFingerprints(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    NearDup.collapse(docs.withColumn("__fp", fingerprintOf(col(textCol))),
      idCol, Seq("__fp"), docs.columns.toSeq)

  /** F3 over the fingerprint-collapsed corpus: near-dup pairs between
    * REPRESENTATIVES only, each side carrying its collapsed group size
    * — pair volume no longer grows with the exact-duplicate copy
    * factor. A pair (a, b, n_a, n_b) stands for the n_a·n_b underlying
    * document pairs ([[NearDup.withMembers]]).
    */
  def ngramJaccardCollapsed(docs: DataFrame, idCol: String, textCol: String,
                            n: Int = 2, tau: Double = 0.8): DataFrame = {
    // Reuse seam — same motivation as [[ngramJaccardTopK]]'s.
    val reps = collapseFingerprints(docs, idCol, textCol)
      .seamed
    NearDup.withMembers(ngramJaccard(reps.drop("n_members"), idCol, textCol, n, tau),
      reps, idCol, "a" -> "n_a", "b" -> "n_b")
  }

  /** (id, shingle) postings with per-doc shingle-set size. */
  private def postings(docs: DataFrame, idCol: String, textCol: String,
                       n: Int): DataFrame =
    docs
      .withColumn("toks", tokens(col(textCol)))
      .withColumn("sh", shingles("toks", n))
      .select(col(idCol).as("id"), col("sh"), size(col("sh")).as("sz"))
      .filter(col("sz") > 0)
      .select(col("id"), col("sz"), explode(col("sh")).as("shingle"))

  /** F3: n-gram Jaccard near-dup pairs with *exact* prefix filtering
    * (AllPairs/PPJoin): shingles get a global rarity order (document
    * frequency asc, shingle asc); a pair with J ≥ τ must share one of
    * each doc's first `⌊sz - τ·sz⌋ + 1` shingles in that order, so
    * joining only on those prefixes is lossless while candidates stay
    * bounded by rare-shingle postings. Verification recomputes the
    * full intersection for candidates only. Shuffles: df-count,
    * prefix rank (window by id), candidate join, verify join — all
    * keyed on near-uniform shingle/id keys.
    */
  def ngramJaccard(docs: DataFrame, idCol: String, textCol: String,
                   n: Int = 2, tau: Double = 0.8): DataFrame = {
    // no cache: the native shingle expressions make recompute cheaper
    // than cache churn across repeated invocations
    val post = postings(docs, idCol, textCol, n)
    val df = post.groupBy("shingle").agg(count(lit(1)).as("df"))
    val ranked = post.join(df, "shingle")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("df"), col("shingle"))))
    // Reuse seam: `prefix` feeds BOTH sides of the candidate self-join
    // below. Without the seam each side re-derives the whole
    // postings → df-count → rank-window chain (per-branch column
    // pruning de-canonicalizes the exchanges, so ReusedExchange never
    // fires — 2 extra corpus scans in the measured plan).
    val prefix = ranked.filter(col("rk") <= floor(col("sz") - lit(tau) * col("sz")) + 1)
      .select(col("id"), col("sz"), col("rk"), col("shingle"))
      .seamed
    // Two exactness-preserving pruning rules inside the join:
    //  - size ratio: J ≥ τ forces min(|A|,|B|) ≥ τ·max(|A|,|B|);
    //  - PPJoin positional bound: overlap needed is
    //    α = ⌈τ/(1+τ)·(|A|+|B|)⌉ and a match at prefix ranks (pa,pb)
    //    can contribute at most min(|A|-pa, |B|-pb)+1 — a pair kept by
    //    any match position survives, so results are unchanged.
    val alpha = ceil(lit(tau / (1 + tau)) * (col("a.sz") + col("b.sz")))
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id") &&
        least(col("a.sz"), col("b.sz")) >=
          lit(tau) * greatest(col("a.sz"), col("b.sz")) &&
        (least(col("a.sz") - col("a.rk"), col("b.sz") - col("b.rk")) + 1) >= alpha)
      .select(col("a.id").as("a"), col("a.sz").as("sza"),
        col("b.id").as("b"), col("b.sz").as("szb"))
    // A pair surfaces once per shared prefix shingle; verifying the
    // duplicates costs one codegen'd intersect each, which is cheaper
    // than a full shuffle to distinct() millions of candidate rows —
    // so dedup happens after the τ filter, on the tiny survivor set.
    // Verification: the corpus's hashed shingle sets attach to the
    // candidates in two keyed joins (a-side, then b-side) with NO
    // forced broadcasts — neither side is reliably small (candidates
    // run ~100k+ rows pre-τ at sf0.1; the corpus is the corpus), so
    // the strategy is left to the planner: AQE broadcast-downgrades
    // whichever side is actually small at runtime, and at 100 TB both
    // joins degrade gracefully to keyed shuffles of (id → set) rows.
    // (An explicit broadcast() of the candidate subtree was measured
    // 10× slower: the hint forces a ~300 MB build of candidate rows
    // carrying their shingle arrays.) Intersections count via the
    // codegen'd sorted-merge — no postings re-join (which would
    // shuffle |cand|·|A∩B| rows).
    // Reuse seam: `hashed` attaches to candidates twice (a-side then
    // b-side) — one corpus tokenize+hash pass instead of two.
    val hashed = docs
      .withColumn("toks", tokens(col(textCol)))
      .select(col(idCol).as("id"), shingleHashes("toks", n).as("hsh"))
      .seamed
    val withA = hashed
      .join(cand, col("id") === col("a"))
      .select(col("a"), col("b"), col("sza"), col("szb"), col("hsh").as("ha"))
    val inter = hashed
      .join(withA, col("id") === col("b"))
      .withColumn("i", {
        import org.apache.spark.sql.GraftBridge
        GraftBridge.column(graft.functions.SortedIntersectCount(
          GraftBridge.expression(col("ha")), GraftBridge.expression(col("hsh"))))
      })
    inter
      .withColumn("jaccard",
        round(col("i").cast("double") / (col("sza") + col("szb") - col("i")), 6))
      .filter(col("jaccard") >= tau)
      .select(col("a"), col("b"), col("jaccard"))
      .distinct()
  }

  /** F3b: bounded near-dup neighbor lists — the at-scale contract for
    * F3. F3's answer is the FULL pair graph, quadratic in a
    * duplicate-dense corpus *by specification* (~25 M pairs at sf10
    * copy factor 100) — that contract cannot scale past sf≈1 no
    * matter the plan, and even a bounded-OUTPUT variant over the raw
    * corpus drowns in its candidate×shingle-array verify stream (a
    * measured ~50 GB spill at sf10 copy factor 100). So this variant
    * composes BOTH of the family's at-scale guards:
    *
    *  - F10's collapse first: exact-duplicate fingerprint groups
    *    reduce to their min-id representative (map-side-combined
    *    `min_by`), so the pair stream is quadratic only in DISTINCT
    *    contents — the duplicate mass rides a linear groupBy, never
    *    the verify join;
    *  - a bounded answer: the k best neighbors per representative
    *    (jaccard desc, neighbor id asc — ties deterministic under any
    *    partitioning) through [[graft.functions.BoundedTopK]], whose
    *    per-group state is capped at k at every stage
    *    (partial/shuffle/merge, map-side combined) — dense NEAR-dup
    *    families (boilerplate variants) stay bounded too.
    *
    * Candidates come from F3's exact PPJoin, so rows are the true
    * top-k of the distinct-content pair graph — not an approximation
    * — and each side carries its collapsed group size (`n_id`,
    * `n_nbr`): a row (id, nbr) stands for n_id·n_nbr underlying
    * document pairs, F10's accounting. On a duplicate-free corpus
    * this equals the windowed top-k of the full F3 graph exactly
    * (spec-proven, along with copy-factor invariance).
    */
  def ngramJaccardTopK(docs: DataFrame, idCol: String, textCol: String,
                       n: Int = 2, tau: Double = 0.8, k: Int = 5): DataFrame = {
    // Reuse seam: the collapsed representatives feed the pair
    // generator (which itself branches several ways) AND both
    // member-count re-attach joins — one collapse pass, not six.
    val reps = collapseFingerprints(docs, idCol, textCol)
      .seamed
    val pairs = ngramJaccard(reps.drop("n_members"), idCol, textCol, n, tau)
    val sym = pairs.select(col("a").as("id"), col("b").as("nbr"), col("jaccard"))
      .unionAll(
        pairs.select(col("b").as("id"), col("a").as("nbr"), col("jaccard")))
    NearDup.withMembers(graft.functions.BoundedTopK.ranked(sym, Seq("id"),
        Seq(col("jaccard"), col("nbr")), Seq(-1, 1),
        struct(col("nbr"), col("jaccard")), k, "rk"),
      reps, idCol, "id" -> "n_id", "nbr" -> "n_nbr")
  }

  /** MinHash LSH band keys `(id, band, key)` per doc, the indexing step
    * of every band operator; public for the curation daemon, which must
    * know WHICH docs carry no bands (blank/short docs skip the fuzzy gate).
    */
  def bandKeys(docs: DataFrame, idCol: String, textCol: String,
               n: Int = 2, k: Int = 16, bands: Int = 4): DataFrame = {
    require(k % bands == 0,
      s"k ($k) must be divisible by bands ($bands) or trailing hashes are dead")
    val r = k / bands
    val post = postings(docs, idCol, textCol, n)
      .withColumn("h", hash60(col("shingle")))
    val sigs = post.groupBy(col("id"))
      .agg(min(perm(col("h"), 0)).as("h0"),
        (1 until k).map(i => min(perm(col("h"), i)).as(s"h$i")): _*)
    sigs.select(col("id"),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          concat_ws(",", (0 until r).map(j => col(s"h${b * r + j}")): _*).as("key"))
      }: _*)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** F4: MinHash + banded LSH candidates: k affine permutations of the
    * 60-bit shingle hash, signatures banded r-per-band; docs sharing
    * any band key are candidates. One shuffle to build signatures
    * (k mins via partial agg), one band-key join. Band keys are
    * near-uniform by construction — no skew hot-spot.
    */
  def minhashCandidates(docs: DataFrame, idCol: String, textCol: String,
                        n: Int = 2, k: Int = 16, bands: Int = 4): DataFrame =
    // Reuse seam: both sides of the band-key self-join — one
    // signature build (postings + 16-min aggregate) instead of two.
    bandPairs(bandKeys(docs, idCol, textCol, n, k, bands).seamed)

  /** Distinct (a < b) pairs of [[bandKeys]] rows sharing a band key. */
  private def bandPairs(keys: DataFrame): DataFrame =
    NearDup.blockedSelfJoin(keys, "id", Seq("band", "key"))
      .select(col("x.id").as("a"), col("y.id").as("b"))
      .distinct()

  /** F13: cross-corpus near-dup candidates — the MinHash band join
    * between TWO corpora of comparable size, where NEITHER side
    * reduces to a broadcastable set (the big×big complement of
    * [[decontaminateFuzzy]], whose eval side is a few MB by
    * assumption): band-key tables on both sides, ONE symmetric
    * shuffle equi-join on (band, key), distinct (left, right) pairs.
    * Candidate volume is bounded by band-bucket co-occupancy — the
    * keys are near-uniform by construction — and the planner remains
    * free to broadcast-downgrade whichever side turns out small.
    * The dataset-overlap / corpus-alignment primitive.
    */
  def crossCorpusCandidates(left: DataFrame, right: DataFrame,
                            idCol: String, textCol: String,
                            n: Int = 2, k: Int = 16, bands: Int = 4): DataFrame = {
    val bl = bandKeys(left, idCol, textCol, n, k, bands)
    val br = bandKeys(right, idCol, textCol, n, k, bands)
    bl.as("x").join(br.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key"))
      .select(col("x.id").as("left_id"), col("y.id").as("right_id"))
      .distinct()
  }

  /** F8b: FUZZY benchmark decontamination — corpus docs whose MinHash
    * signature shares any LSH band with a benchmark doc, the guard
    * for paraphrased/near-duplicate eval leakage that exact n-gram
    * overlap ([[decontaminate]]) misses. Same asymmetric shape: the
    * benchmark side reduces to DISTINCT (band, key) rows and
    * broadcasts, so the corpus band table streams through one
    * broadcast hash join — no corpus-sized shuffle beyond its own
    * signature build. Emits (doc, bands hit); bands hit of `bands`
    * is a collision-strength signal.
    */
  def decontaminateFuzzy(docs: DataFrame, idCol: String, textCol: String,
                         benchPred: org.apache.spark.sql.Column,
                         n: Int = 2, k: Int = 16, bands: Int = 4): DataFrame = {
    val bench = bandKeys(docs.filter(benchPred), idCol, textCol, n, k, bands)
      .select(col("band"), col("key")).distinct()
    // fail closed, as in [[decontaminate]]: NULL-predicate rows are
    // checked as corpus, never silently skipped. (Each branch
    // tokenizes only its own subset — the filter sits below the
    // shingle projection — so total work is one corpus pass plus the
    // small bench pass, at the cost of scanning the source twice.)
    bandKeys(docs.filter(!coalesce(benchPred, lit(false))),
        idCol, textCol, n, k, bands)
      .join(broadcast(bench), Seq("band", "key"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bands_hit"))
      .select(col("id").as(idCol), col("n_bands_hit"))
  }

  /** F5: 60-bit SimHash per document: per-token 60-bit hash, each bit
    * votes ±1 weighted by token frequency; bit j of the signature is
    * set when the vote is positive. Compiled as 60 conditional-sum
    * aggregates — one shuffle, fully codegen'd, no explode-by-bit.
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs
      .withColumn("tok", explode(tokens(col(textCol))))
      .select(col(idCol).as("id"), hash60(col("tok")).as("h"))
    val weights = (0 until 60).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"w$j")
    }
    val sig = (0 until 60).map { j =>
      when(col(s"w$j") > 0, lit(1L << j)).otherwise(0L)
    }.reduce(_ + _)
    toks.groupBy(col("id"))
      .agg(weights.head, weights.tail: _*)
      .select(col("id"), sig.as("simhash"))
  }

  /** Hamming distance between two simhash signatures (bit_count of
    * xor — codegen'd intrinsic, used by the near-dup pair spec).
    */
  def hamming(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    bit_count(a.bitwiseXOR(b))

  /** F8: benchmark decontamination — flag corpus documents sharing
    * any word n-gram with a benchmark/eval set, the standard guard
    * against test-set leakage into training data. `benchPred` selects
    * the benchmark rows out of `docs`; everything else is corpus.
    *
    * Scale shape: the benchmark side reduces to DISTINCT 60-bit
    * shingle hashes and is explicitly broadcast — an eval suite is
    * a few MB of hashes no matter how big the corpus is — so the
    * corpus streams through a broadcast hash join once, with NO
    * corpus-sized shuffle anywhere. Per-doc shingles come from the
    * native [[graft.functions.ShingleHashes]] (sorted distinct, one
    * codegen pass).
    *
    * Emits one row per contaminated doc: distinct-shingle count,
    * hit count, and the contaminated fraction.
    */
  def decontaminate(docs: DataFrame, idCol: String, textCol: String,
                    n: Int, benchPred: org.apache.spark.sql.Column): DataFrame = {
    val withSh = docs
      .withColumn("toks", tokens(col(textCol)))
      .withColumn("sh", shingleHashes("toks", n))
    val bench = withSh.filter(benchPred)
      .select(explode(col("sh")).as("h")).distinct()
    // fail closed: a row where benchPred is NULL is NOT bench, so it
    // must be CHECKED as corpus — `!NULL` would silently skip it,
    // the worst failure mode for a leakage guard
    withSh.filter(!coalesce(benchPred, lit(false)))
      .select(col(idCol), size(col("sh")).as("n_shingles"),
        explode(col("sh")).as("h"))
      .join(broadcast(bench), "h")
      .groupBy(col(idCol), col("n_shingles"))
      .agg(count(lit(1)).as("n_hit"))
      .withColumn("contamination", round(col("n_hit") / col("n_shingles"), 6))
  }

  /** F15: exact substring-span duplication profile (the
    * character-level ExactSubstr diagnostic of Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better"):
    * every document is cut into fixed-length character windows
    * (`spanLen` chars every `stride` chars), a span is DUPLICATED if
    * its exact text occurs in at least two distinct documents, and
    * each document reports how much of it is made of duplicated
    * spans — the signal span-level dedup trims on, where F1–F3 only
    * ever judge whole documents.
    *
    * Shape for 100 TB: spans ship as 60-bit hashes (md5-based,
    * oracle-replicable), never strings, so the wide shuffles carry
    * (doc_id, int64) pairs — chars/stride rows per doc. The
    * span-frequency side is the df/cf groupBy+join pattern (partial
    * aggregate, map-side combined), NOT a window over span keys and
    * NOT a per-span `collect_list` — a boilerplate span occurring in
    * millions of documents stays a count, bounded state in every
    * task. The two consumers of the per-(doc,span) aggregate hang
    * off one canonical subtree, so the corpus is scanned and
    * exploded once (ReusedExchange), plus one narrow id-only rescan
    * to restore span-free (shorter than `spanLen`) documents.
    *
    * Emits one row per input document: doc_id, n_spans, n_dup,
    * dup_frac (null when the document is too short to form a span).
    */
  /** F16: span-TRIMMED corpus — the dedup action F15 diagnoses
    * (Lee et al.'s ExactSubstr removal, under a block-aligned
    * contract that keeps it declarative): the text is cut into
    * NON-overlapping `blockLen`-char blocks; a full block whose
    * exact text occurs in ≥ 2 distinct documents is REMOVED; the
    * document reassembles from its surviving blocks (plus the
    * partial tail, which never participates) in position order.
    * Block-aligned means only grid-aligned duplicate runs collapse —
    * the declarative trade-off vs. a suffix-automaton scan, stated
    * in the contract; the overlapping-window profile (F15) remains
    * the detector for off-grid duplication.
    *
    * Shape: the same hashed-span df groupBy+join as F15 (no window,
    * no per-span doc lists), then one per-document reassembly
    * aggregate whose state is bounded by the document itself
    * (`array_sort` of (pos, block) structs + `array_join` — the one
    * aggregate in this family whose payload is text, and it carries
    * exactly one document per group).
    *
    * Emits doc_id, clean_text, n_blocks, n_removed. Documents
    * shorter than one block pass through verbatim.
    */
  def substrTrim(docs: DataFrame, idCol: String, textCol: String,
                 blockLen: Int = 30): DataFrame = {
    require(blockLen > 0, s"substrTrim blockLen must be positive: $blockLen")
    val blocks = alignedBlocks(docs, textCol, blockLen, Some(idCol))
      .withColumn("h", hash60(col("__b")))
    val nd = blocks.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("__ndocs"))
    reassemble(docs, idCol, textCol, blockLen, blocks.join(nd, Seq("h")),
      col("__ndocs") >= 2)
  }

  /** The aligned-block grid of the span family: one row per full
    * `blockLen`-char block of every document at least one block
    * long, with its 1-based start `__p` and its text `__b`, keyed by
    * `doc_id` when `idCol` is given. Every span operator cuts text
    * through this one grid, so the daemon's standing [[blockIndex]]
    * and the [[substrTrimIncremental]] probe of each batch agree on
    * block boundaries by construction.
    */
  private def alignedBlocks(docs: DataFrame, textCol: String, blockLen: Int,
                            idCol: Option[String]): DataFrame = {
    val id = idCol.map(c => col(c).as("doc_id")).toSeq
    docs
      .filter(length(col(textCol)) >= blockLen)
      .select(id ++ Seq(
        explode(sequence(lit(1), length(col(textCol)) - (blockLen - 1),
          lit(blockLen))).as("__p"),
        col(textCol).as("__t")): _*)
      .select(id.map(_ => col("doc_id")) ++ Seq(col("__p"),
        substring(col("__t"), col("__p"), lit(blockLen)).as("__b")): _*)
  }

  /** The per-document reassembly of the span trims: `judged` holds
    * [[alignedBlocks]] rows, and a block is dropped where `removed`
    * is true (null keeps it). The document reassembles from its kept
    * blocks in position order plus the partial tail after the last
    * full block, verbatim; documents shorter than one block pass
    * through. Emits doc_id, clean_text, n_blocks, n_removed.
    */
  private def reassemble(docs: DataFrame, idCol: String, textCol: String,
                         blockLen: Int, judged: DataFrame,
                         removed: Column): DataFrame = {
    val kept = judged
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(removed, 1L).otherwise(0L)).as("n_removed"),
        array_join(transform(
          array_sort(collect_list(when(!coalesce(removed, lit(false)),
            struct(col("__p"), col("__b"))))),
          x => x.getField("__b")), "").as("__body"))
    docs.select(col(idCol).as("doc_id"), col(textCol).as("__t"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        concat(coalesce(col("__body"), lit("")),
          expr(s"substring(__t, CAST((length(__t) div $blockLen) * $blockLen" +
            " + 1 AS INT))")).as("clean_text"),
        coalesce(col("n_blocks"), lit(0L)).as("n_blocks"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"))
  }

  /** F18: banding-quality evaluation — the F-family twin of the ANN
    * recall matrix (G21b): the precision/recall of the MinHash-LSH
    * candidate generator against the TRUE n-gram-Jaccard ≥ τ pair
    * set, the readout that tunes the banding knobs (k signatures ×
    * bands) the whole fuzzy-dedup family rides on. Both pair sets
    * compute over the fingerprint-COLLAPSED corpus (the F10 guard —
    * pair volume quadratic in distinct contents, copy-factor
    * independent, which also keeps the exact side feasible at scaled
    * decades). One row: n_true, n_cand, n_hit, prec, recall.
    */
  def bandingEval(docs: DataFrame, idCol: String, textCol: String,
                  n: Int = 2, tau: Double = 0.8, k: Int = 16,
                  bands: Int = 4): DataFrame = {
    // Reuse seams: reps feeds two whole pair generators; tp and cp
    // each feed their own count AND the hit semi-join — without the
    // seams the full PPJoin and MinHash pipelines run twice each
    // (16 corpus scans in the measured plan).
    val reps = collapseFingerprints(docs, idCol, textCol).drop("n_members")
      .seamed
    val tp = ngramJaccard(reps, idCol, textCol, n, tau)
      .select(col("a"), col("b"))
      .seamed
    val cp = minhashCandidates(reps, idCol, textCol, n, k, bands)
      .seamed
    val hit = tp.join(cp, Seq("a", "b"), "left_semi")
    tp.agg(count(lit(1)).as("n_true"))
      .crossJoin(cp.agg(count(lit(1)).as("n_cand")))
      .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
      .select(col("n_true"), col("n_cand"), col("n_hit"),
        when(col("n_cand") > 0,
          round(col("n_hit").cast("double") / col("n_cand"), 6)).as("prec"),
        when(col("n_true") > 0,
          round(col("n_hit").cast("double") / col("n_true"), 6)).as("recall"))
  }

  /** F18b: banding auto-tune — the closed-form solver that ACTS on
    * what [[bandingEval]] measures: for every factorization r·b = k
    * of the signature budget, the MinHash-LSH S-curve
    * P(candidate | s) = 1 − (1 − s^r)^b is evaluated at the dedup
    * threshold τ (→ expected recall of true pairs) and at a
    * dissimilar reference s_fp (→ false-candidate rate), and the
    * CHOSEN row is the factorization meeting the recall target with
    * the lowest false-positive mass (ties → larger r). At k = 16,
    * τ = 0.8, target 0.85 the solver lands on (r = 4, b = 4) — the
    * (k = 16, bands = 4) defaults every fuzzy path (F4/F8b/F14)
    * ships with, which is exactly the point: the defaults are the
    * solver's output, not folklore.
    *
    * All probabilities are int64 MICRO-UNITS with floor division at
    * every multiply (s^r and (1−s^r)^b unroll as `aggregate` folds),
    * so the table is bit-identical on any engine/partitioning — no
    * `pow` libm parity anywhere. Floor-at-every-multiply makes
    * recall_m a ONE-SIDED approximation: each multiply rounds the
    * running product down, so s^r is under-estimated, (1−s^r)^b
    * over-estimated, and recall_m is a strict LOWER BOUND on the true
    * S-curve recall — off by at most ~(r+b) micro-units. A
    * factorization whose true recall sits exactly at targetRecall can
    * therefore be reported as (just) missing it; the chosen knobs are
    * conservative, never optimistic. The table is |divisors(k)| rows;
    * the one window is over those few rows by construction (a solver,
    * not a data pass).
    */
  def bandChoose(s: SparkSession, k: Int = 16, tau: Double = 0.8,
                 targetRecall: Double = 0.85, sFp: Double = 0.3): DataFrame = {
    require(k > 0, s"bandChoose k must be positive: $k")
    import s.implicits._
    val tauM = Math.round(tau * 1e6)
    val fpM = Math.round(sFp * 1e6)
    val tgtM = Math.round(targetRecall * 1e6)
    def powM(baseSql: String, nCol: String): String =
      s"aggregate(sequence(1, $nCol), CAST(1000000 AS BIGINT), " +
        s"(acc, i) -> (acc * $baseSql) div 1000000L)"
    (1 to k).filter(k % _ == 0).map(r => (r, k / r)).toDF("r", "b")
      .withColumn("__pr", expr(powM(s"${tauM}L", "r")))
      .withColumn("__pf", expr(powM(s"${fpM}L", "r")))
      .withColumn("__recall_m",
        expr(s"1000000L - ${powM("(1000000L - __pr)", "b")}"))
      .withColumn("__fp_m",
        expr(s"1000000L - ${powM("(1000000L - __pf)", "b")}"))
      .withColumn("meets", col("__recall_m") >= lit(tgtM))
      .withColumn("__rk", row_number().over(Window.orderBy(
        col("meets").desc, col("__fp_m").asc, col("r").desc)))
      .select(col("r"), col("b"),
        round(col("__recall_m").cast("double") / lit(1000000.0), 6).as("recall"),
        round(col("__fp_m").cast("double") / lit(1000000.0), 6).as("fp_rate"),
        col("meets"), (col("__rk") === 1 && col("meets")).as("chosen"))
  }

  /** F8c: SPAN-level benchmark decontamination — the character-level
    * complement of the trigram (F8) and band (F8b) decontaminators:
    * per corpus document, how many of its aligned `blockLen`-char
    * blocks appear VERBATIM anywhere in the benchmark set. Catches
    * long literal quotations of eval content that token-shingle
    * overlap under-weights and paraphrase-band matching misses, and
    * pinpoints HOW MUCH of the doc is quoted (the trim decision
    * input — compose with [[substrTrimIncremental]] against
    * `blockIndex(bench)` to actually remove the spans).
    *
    * Shape: the bench side reduces to its distinct block-hash index
    * (tiny — broadcast); the corpus side is one exploded aligned-grid
    * scan with a map-side-combined per-doc rollup. Never corpus ×
    * corpus; the corpus text is scanned once.
    */
  def decontaminateSpans(docs: DataFrame, idCol: String, textCol: String,
                         benchPred: org.apache.spark.sql.Column,
                         blockLen: Int = 30): DataFrame = {
    require(blockLen > 0, s"decontaminateSpans blockLen must be positive: $blockLen")
    // fail-closed NULL-predicate handling, like the F8/F8b guards:
    // a row whose predicate is NULL is checked as corpus
    val isBench = coalesce(benchPred, lit(false))
    val idx = blockIndex(docs.filter(isBench), textCol, blockLen)
      .withColumn("__hit", lit(true))
    val corpus = docs.filter(!isBench)
    val blocks = alignedBlocks(corpus, textCol, blockLen, Some(idCol))
      .select(col("doc_id"), hash60(col("__b")).as("h"))
    val per = blocks.join(broadcast(idx), Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("__hit"), 1L).otherwise(0L)).as("n_hit"))
    corpus.select(col(idCol).as("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_blocks"), lit(0L)).as("n_blocks"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("contamination", when(col("n_blocks") > 0,
        round(col("n_hit").cast("double") / col("n_blocks"), 6)))
  }

  /** The standing BLOCK index of an already-accepted corpus — one
    * 60-bit hash per distinct aligned block, the artifact an
    * incremental span-trimming pipeline persists between batches
    * (bucketable on `h` exactly like [[fingerprintIndex]]).
    */
  def blockIndex(docs: DataFrame, textCol: String,
                 blockLen: Int = 30): DataFrame =
    alignedBlocks(docs, textCol, blockLen, None)
      .select(hash60(col("__b")).as("h"))
      .distinct()

  /** F16b: INCREMENTAL span trim — [[substrTrim]]'s cross-batch
    * form, the F12/F14 move applied to spans: an arriving batch
    * document drops every aligned block whose exact text the
    * STANDING corpus already contains (boilerplate the corpus has
    * seen arrives pre-trimmed), keeps everything else verbatim, and
    * the accepted survivors' blocks advance the index for the next
    * batch. Batch-internal duplication is [[substrTrim]]'s job —
    * this operator's contract is strictly batch-vs-index, so the
    * join is batch-blocks × index (narrow int64 key, index side
    * bucketable — zero index re-shuffle with a bucketed table),
    * never corpus-sized on the batch's plan.
    */
  def substrTrimIncremental(batch: DataFrame, index: DataFrame,
                            idCol: String, textCol: String,
                            blockLen: Int = 30): DataFrame = {
    require(blockLen > 0, s"blockLen must be positive: $blockLen")
    val blocks = alignedBlocks(batch, textCol, blockLen, Some(idCol))
      .withColumn("h", hash60(col("__b")))
    reassemble(batch, idCol, textCol, blockLen,
      blocks.join(index.select(col("h"), lit(true).as("__hit")), Seq("h"), "left"),
      col("__hit"))
  }

  /** F19: OFF-GRID exact-substring trim — closes [[substrTrim]]'s
    * documented grid-alignment trade-off with content-defined block
    * boundaries (the rolling-anchor move of CDC chunking / rsync):
    * a position starts a new block when the 60-bit hash of the
    * `window`-char text starting there is ≡ 0 mod `divisor`. Anchors
    * are a function of LOCAL CONTENT, not of position, so a duplicated
    * run at ANY byte offset carries the same interior anchors in every
    * copy — its interior blocks are identical strings across copies
    * and the same df ≥ 2 rule that drives [[substrTrim]] removes them.
    * A +3-char shift that is invisible to the aligned grid (F16) and
    * only *detectable* by the overlapping-window profile (F15) is
    * actually TRIMMED here.
    *
    * Contract: every char belongs to exactly one block (no tail);
    * expected block length ≈ `divisor` chars; a run must span ≥ 2
    * anchors for its interior to collapse (the CDC boundary-effect —
    * partial head/tail blocks of a run stay, exactly like rsync).
    * Degenerate anchor-free text forms one whole-document block; the
    * document-length bound itself caps block size.
    *
    * Shape is [[substrTrim]]'s: blocks ship as 60-bit hashes into the
    * df groupBy+join (map-side combined, never a window over span
    * keys), and the one text-carrying aggregate is the per-document
    * reassembly whose state is the document itself. The block cut is
    * pure array algebra inside the row (filter/transform over a
    * position sequence — no explode until blocks exist), so the
    * corpus scans once. The anchor scan is CHUNKED: positions are
    * generated 4096 at a time (an outer n/4096-element chunk-start
    * sequence, an inner ≤4096-element sequence per chunk that dies
    * after its filter), so per-row transient memory is O(4096) and
    * the only length-proportional in-row array is the ANCHOR list —
    * ≈ n/divisor ints, the same order as the document text the
    * reassembly aggregate already carries, never the n-element
    * per-character array a flat scan would materialize.
    */
  def substrTrimCdc(docs: DataFrame, idCol: String, textCol: String,
                    window: Int = 8, divisor: Int = 32): DataFrame = {
    require(window > 0, s"substrTrimCdc window must be positive: $window")
    require(divisor > 1, s"substrTrimCdc divisor must be > 1: $divisor")
    val chunk = 4096
    val d0 = docs
      .select(col(idCol).as("doc_id"), col(textCol).as("__t"),
        length(col(textCol)).as("__n"))
      .withColumn("__starts", concat(array(lit(1)),
        when(col("__n") >= window + 1,
          flatten(transform(
            sequence(lit(2), col("__n") - (window - 1), lit(chunk)),
            cs => filter(
              sequence(cs, least(cs + (chunk - 1),
                col("__n") - (window - 1))),
              p => hash60(col("__t").substr(p, lit(window)))
                % divisor === 0))))
          .otherwise(expr("CAST(array() AS array<int>)"))))
      // block i: starts[i] .. next start - 1 (last block runs to the
      // end); `get` is 0-based and NULL-safe past the end (no ANSI
      // out-of-bounds throw, unlike element_at)
      .withColumn("__blk", transform(col("__starts"), (st, i) =>
        struct(st.as("__p"),
          col("__t").substr(st,
            coalesce(get(col("__starts"), i + 1), col("__n") + 1) - st)
            .as("__b"))))
    val blocks = d0
      .select(col("doc_id"), explode(col("__blk")).as("blk"))
      .select(col("doc_id"), col("blk.__p").as("__p"), col("blk.__b").as("__b"))
      .withColumn("h", hash60(col("__b")))
    val nd = blocks.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("__ndocs"))
    val kept = blocks.join(nd, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("__ndocs") >= 2, 1L).otherwise(0L)).as("n_removed"),
        array_join(transform(
          array_sort(collect_list(when(col("__ndocs") < 2,
            struct(col("__p"), col("__b"))))),
          x => x.getField("__b")), "").as("__body"))
    docs.select(col(idCol).as("doc_id"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("__body"), lit("")).as("clean_text"),
        coalesce(col("n_blocks"), lit(0L)).as("n_blocks"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"))
  }

  /** F21: TRUE ExactSubstr — any-offset duplicated-run detection at a
    * ≥ `minLen`-char threshold (Lee et al. 2022's gold standard,
    * which F15/F16/F19 approximate with strided windows / aligned
    * grids / content-defined anchors). The suffix-array RESULT
    * computed Spark-first, without a suffix array: a position lies
    * inside a duplicated substring of length ≥ L **iff** it lies
    * inside a length-L window (at ANY offset) whose text occurs ≥ 2
    * times in the corpus — take the covering window inside the
    * duplicated substring for (⇒), and note a duplicated window IS a
    * duplicated length-L substring for (⇐). So the all-offset
    * window-hash duplication set characterizes the covered byte set
    * EXACTLY: no stride to miss an offset (F15's trade-off), no grid
    * to align to (F16's), no anchor for a run to lack (F19's).
    *
    * Output: per doc, the maximal covered runs rolled up as
    * (dup_chars, n_runs, longest_run) — char-exact; docs with no
    * duplicated run report zeros. Runs merge when covering windows
    * overlap or touch (next start ≤ prev start + L).
    *
    * Scale: one corpus scan explodes each doc into its n−L+1 window
    * hashes (60-bit — the per-row transient is the position sequence,
    * O(n) ints, the same order as the text the row already carries;
    * rows ship as (doc_id, pos, h) ≈ 20 bytes ≈ L/2× SMALLER than the
    * L-char windows they stand for). Duplication is a partial-agg
    * groupBy(h) count ≥ 2 — never all-pairs, never a global sort (the
    * suffix-array alternative) — and the run merge is a lag/sum
    * window PARTITIONED BY doc over only the duplicated positions.
    * Collisions follow the engine-wide hash60 birthday bound (~10⁹
    * windows → ~10⁻³ expected false-dup positions); the profile is a
    * diagnostic, and a colliding window marks ≤ L bytes.
    *
    * sf10/100 TB disposition: unlike F3's pair graph this is LINEAR
    * in corpus bytes (windows ≈ chars), so it runs at every decade —
    * the window-hash shuffle is ~20 bytes/char; at the 100 TB decade
    * budget partitions by `spark.sql.files.maxPartitionBytes` exactly
    * like the corpus scan itself.
    */
  def substrSuffixProfile(docs: DataFrame, idCol: String, textCol: String,
                          minLen: Int = 50): DataFrame = {
    val runs = dupRuns(docs, idCol, textCol, minLen)
    val per = runs
      .withColumn("__len", col("__e") - col("__s") + 1)
      .groupBy(col("doc_id"))
      .agg(sum(col("__len")).as("dup_chars"),
        count(lit(1)).as("n_runs"),
        max(col("__len")).as("longest_run"))
    docs.select(col(idCol).as("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"),
        coalesce(col("n_runs"), lit(0L)).as("n_runs"),
        coalesce(col("longest_run"), lit(0L)).as("longest_run"))
  }

  /** F21's maximal duplicated runs per doc as 1-based char intervals
    * (doc_id, __s, __e) — the shared core of the profile and the trim
    * ACTION: all-offset length-`minLen` window hashes, global
    * count ≥ 2, per-doc lag/sum island merge (see
    * [[substrSuffixProfile]] for the exactness argument).
    */
  private def dupRuns(docs: DataFrame, idCol: String, textCol: String,
                      minLen: Int): DataFrame = {
    require(minLen > 1, s"substrSuffix minLen must be > 1: $minLen")
    import org.apache.spark.sql.expressions.Window
    val wins = docs
      .filter(col(idCol).isNotNull && length(col(textCol)) >= minLen)
      .select(col(idCol).as("doc_id"),
        explode(sequence(lit(1), length(col(textCol)) - (minLen - 1)))
          .as("__p"),
        col(textCol).as("__t"))
      .select(col("doc_id"), col("__p"),
        hash60(col("__t").substr(col("__p"), lit(minLen))).as("h"))
    // global duplication: ≥ 2 occurrences anywhere — cross-doc,
    // within-doc, and overlapping self-repeats all count (Lee et al.)
    val dupH = wins.groupBy(col("h")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= 2).select(col("h"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("__p"))
    wins.join(dupH, Seq("h"))
      .select(col("doc_id"), col("__p"))
      .withColumn("__prev", lag(col("__p"), 1).over(byDoc))
      .withColumn("__new",
        when(col("__prev").isNull ||
          col("__p") - col("__prev") > minLen, 1L).otherwise(0L))
      .withColumn("__isl", sum(col("__new")).over(byDoc))
      .groupBy(col("doc_id"), col("__isl"))
      .agg(min(col("__p")).as("__s"),
        (max(col("__p")) + lit(minLen.toLong - 1)).as("__e"))
      .select(col("doc_id"), col("__s"), col("__e"))
  }

  /** F21b: the TRIM action the F21 profile diagnoses — Lee et al.'s
    * ExactSubstr DEDUPLICATE step: every byte covered by a duplicated
    * ≥ `minLen` substring (at ANY offset) is removed and the
    * surviving segments re-join in document order. Note this removes
    * ALL copies of a duplicated run (both occurrences lie inside
    * covered intervals — Lee et al.'s cited choice: "remove all but
    * one" needs an occurrence ORDER, which a distributed replay
    * would have to invent; removing every covered byte is
    * deterministic and is what their released tool's default does
    * for self-contained runs).
    *
    * Output: (doc_id, clean_text, dup_chars, n_runs) for EVERY input
    * doc (uncovered docs pass through verbatim).
    *
    * Scale = F21's detection plan + one per-doc reassembly: the keep
    * segments are the runs' complement, derived relationally (lag
    * window over runs within the doc + one closing segment), and the
    * only text-carrying aggregate is the per-doc segment fold — the
    * F16/F19 reassembly discipline (state ≈ the document itself).
    */
  def substrSuffixTrim(docs: DataFrame, idCol: String, textCol: String,
                       minLen: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val runs = dupRuns(docs, idCol, textCol, minLen)
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("__s"))
    // keep-segments: before each run (from the previous run's end),
    // plus the tail after the last run
    val before = runs
      .withColumn("__st", coalesce(lag(col("__e"), 1).over(byDoc),
        lit(0L)) + 1)
      .select(col("doc_id"), col("__st"), (col("__s") - 1).as("__en"))
    val tail = runs.groupBy(col("doc_id"))
      .agg((max(col("__e")) + 1).as("__st"),
        sum(col("__e") - col("__s") + 1).as("dup_chars"),
        count(lit(1)).as("n_runs"))
    val segs = before.unionByName(
        tail.select(col("doc_id"), col("__st"), lit(null).cast("long").as("__en")))
      .join(docs.select(col(idCol).as("doc_id"), col(textCol).as("__t")),
        Seq("doc_id"))
      .withColumn("__en2",
        coalesce(col("__en"), length(col("__t")).cast("long")))
      .filter(col("__en2") >= col("__st"))
      .select(col("doc_id"), col("__st"),
        col("__t").substr(col("__st").cast("int"),
          (col("__en2") - col("__st") + 1).cast("int")).as("__seg"))
    val rebuilt = segs.groupBy(col("doc_id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("__st"), col("__seg")))),
        x => x.getField("__seg")), "").as("clean_text"))
    // tail LEFT rebuilt: a fully-covered doc has runs but zero keep
    // segments — its clean text is EMPTY, never the original
    val per = tail.select(col("doc_id"), col("dup_chars"), col("n_runs"))
      .join(rebuilt, Seq("doc_id"), "left")
    docs.select(col(idCol).as("doc_id"), col(textCol).as("__t"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("n_runs").isNull, col("__t"))
          .otherwise(coalesce(col("clean_text"), lit("")))
          .as("clean_text"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"),
        coalesce(col("n_runs"), lit(0L)).as("n_runs"))
  }

  def substrSpans(docs: DataFrame, idCol: String, textCol: String,
                  spanLen: Int = 30, stride: Int = 7): DataFrame = {
    require(spanLen > 0, s"substrSpans spanLen must be positive: $spanLen")
    require(stride > 0, s"substrSpans stride must be positive: $stride")
    val spans = docs
      // the explicit not-null id filter sits at the BASE so both
      // consumers of the per-(doc,span) aggregate canonicalize
      // identically — otherwise the final join infers IsNotNull on
      // the probe branch only and the shared exchange stops being
      // reusable (the same fork sourceDivergence documents)
      .filter(col(idCol).isNotNull && length(col(textCol)) >= spanLen)
      .select(col(idCol).as("doc_id"),
        explode(sequence(lit(1), length(col(textCol)) - (spanLen - 1),
          lit(stride))).as("__p"),
        col(textCol).as("__t"))
      .select(col("doc_id"),
        hash60(substring(col("__t"), col("__p"), lit(spanLen))).as("h"))
    // one row per (doc, span-hash) with its occurrence count — the
    // single exchange both the doc-frequency side and the per-doc
    // rollup reuse
    val perDoc = spans.groupBy(col("doc_id"), col("h"))
      .agg(count(lit(1)).as("__c"))
    // the doc count per span is written as sum(least(__c, 1)) — __c
    // is a count, so __c ≥ 1 and the sum IS the row count — because
    // the reference to __c must be irreducible: a plain count(1) (or
    // count(__c), which canonicalizes to it) lets the optimizer
    // prune __c and strip perDoc's aggregate to a bare distinct in
    // this branch only, and the two branches stop sharing the one
    // exploded-scan exchange (sourceDivergence's sum(tf) plays the
    // same role; the spec asserts the ReusedExchange)
    val nd = perDoc.groupBy(col("h"))
      .agg(sum(least(col("__c"), lit(1L))).as("__ndocs"))
    val per = perDoc.join(nd, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(sum(col("__c")).as("n_spans"),
        sum(when(col("__ndocs") >= 2, col("__c")).otherwise(0L)).as("n_dup"))
    docs.select(col(idCol).as("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"))
      .withColumn("dup_frac", when(col("n_spans") > 0,
        round(col("n_dup").cast("double") / col("n_spans"), 4)))
  }
}
