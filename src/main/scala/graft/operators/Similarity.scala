package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{BoundedTopK, CosineSimilarity, Int8Dot, Int8Quantize, IntArrayL1, PlaneSignature, RandomProjection, SignBits, VecMaxAbs, VecSqNorm}
import graft.Seams.SeamOps

/** Similarity search over embedding columns (SURVEY.md §2 group G).
  *
  * Every top-k search is a candidate generator followed by one of two
  * ranking tails, each with one implementation:
  *
  *  - the window form, [[rankWithin]] (row_number over the partition,
  *    rank ≤ k). Its one exact-refinement use is [[exactRerank]]:
  *    candidate (query, vector) pairs scored by the rounded cosine and
  *    ranked (cos_r DESC, vec_id). Brute force, LSH, truncated,
  *    Hamming-rerank, exact-pruned and IVF all end in it, so any of
  *    them that keeps every candidate equals brute force row for row.
  *    Hamming, int8, hard negatives, the truncated shortlist, the
  *    pruning threshold and the IVF probe list rank through
  *    [[rankWithin]] directly;
  *  - the bounded form, [[graft.functions.BoundedTopK.ranked]]
  *    (groupBy → bounded top-k aggregate → posexplode, rank = pos + 1),
  *    whose partial state is ≤ k rows per group at every stage, so the
  *    rank exchange ships ≤ k rows per group per partition. The PQ ADC
  *    searches, PQ rerank, the kNN graphs and the graph walk use it;
  *    `cellKnnEdges` and the walk's beam take only its column
  *    constructor ([[graft.functions.BoundedTopK.column]]) and keep
  *    the unranked `explode`.
  *
  * Each family keeps the form it had when its plan was last measured:
  * the window form lets InferWindowGroupLimit prune before the shuffle
  * and keeps the plans the oracle-checked queries were timed on;
  * moving a family to the other form changes its plan and is a
  * performance decision for per-query counters, not a refactor.
  * The embedding dedup shares [[Dedup]]'s core, [[NearDup]]: F11 and
  * G22 use `collapse`, F11 `withMembers`, F6/F17 `blockedSelfJoin`
  * (via [[cosinePairs]]), F17 `clusterSurvivors`, F9/F17 `isSurvivor`.
  */
object Similarity {

  private def withCosine(s: SparkSession): Unit = CosineSimilarity.register(s)

  private def expr1(f: org.apache.spark.sql.catalyst.expressions.Expression => org.apache.spark.sql.catalyst.expressions.Expression)(c: Column): Column =
    GraftBridge.column(f(GraftBridge.expression(c)))

  /** Element-wise exact int64 vector-sum aggregate (G17/G19/G20's
    * `Σ round(v·scale)` per dimension, without the posexplode row
    * inflation — see [[graft.functions.VecSumAgg]]).
    */
  private[operators] def vecSum(c: Column, scale: Double): Column =
    GraftBridge.column(graft.functions.VecSumAgg(
      GraftBridge.expression(c), scale).toAggregateExpression())

  /** The broadcast `(query_id, q_emb)` frame every exact-cosine
    * search joins its candidates to.
    */
  private def queryFrame(queries: DataFrame): DataFrame =
    broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb")))

  /** The one window rank: `rankCol` = row_number over `partition` in
    * `order`, keeping rank ≤ k — the filter lets Spark's
    * InferWindowGroupLimit cut each partition key to k rows before
    * the window's shuffle.
    */
  private def rankWithin(df: DataFrame, partition: Seq[Column],
                         order: Seq[Column], k: Int,
                         rankCol: String): DataFrame =
    df.withColumn(rankCol, row_number().over(
        Window.partitionBy(partition: _*).orderBy(order: _*)))
      .filter(col(rankCol) <= k)

  /** The one exact-refinement tail of the cosine searches: candidate
    * `(query_id, vec_id, q_emb, embedding)` rows are scored
    * `cos_r = round(cosine_sim(q_emb, embedding), 4)`, ranked per query
    * by (cos_r DESC, vec_id) and cut at k, as
    * `(query_id, neighbor_id, cos_r, rank)`. Every cosine search is a
    * candidate generator plus this tail, so a search that keeps every
    * candidate returns exactly [[bruteForceTopK]]'s rows.
    */
  private def exactRerank(cands: DataFrame, k: Int): DataFrame =
    rankWithin(
      cands.withColumn("cos_r", expr("round(cosine_sim(q_emb, embedding), 4)")),
      Seq(col("query_id")), Seq(col("cos_r").desc, col("vec_id")), k, "rank")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("cos_r"), col("rank"))

  /** One reciprocal-rank fusion term, `⌊weight·10⁹/(c + rank)⌋` in
    * int64 (integer division — no FP reciprocal to disagree on), over
    * the rank column `rankCol`. Shared by [[hybridRrf]] and the
    * `$rankFusion` stage.
    */
  private[graft] def rrfTerm(weight: Long, c: Int, rankCol: String): Column =
    expr(s"(${weight}L * 1000000000L) div (${c}L + $rankCol)")

  /** G1: brute-force cosine top-k — the exact baseline. The query set
    * is explicitly broadcast, so the big side streams once through a
    * codegen'd loop with no shuffle of the embedding table; ranking is
    * [[exactRerank]], a window over (query, rounded-cos desc, id).
    */
  def bruteForceTopK(s: SparkSession, emb: DataFrame, queries: DataFrame,
                     k: Int): DataFrame = {
    withCosine(s)
    exactRerank(emb.join(queryFrame(queries), col("vec_id") =!= col("query_id")), k)
  }

  /** G13b: HARD-negative mining — the contrastive-training complement
    * of [[negativeSamples]]' random draws: for each anchor, the k
    * NEAREST corpus vectors with a DIFFERENT label (the items the
    * model most confuses — the standard hard-negative miner of
    * retrieval/embedding training). Same plan shape as
    * [[bruteForceTopK]]: the anchor set (a training batch — small by
    * nature) broadcasts, the corpus scans once, and
    * InferWindowGroupLimit prunes per map partition before the one
    * per-anchor shuffle. Ties (cos_r DESC, vec_id ASC).
    */
  def hardNegatives(s: SparkSession, emb: DataFrame, anchors: DataFrame,
                    k: Int): DataFrame = {
    require(k > 0, s"hardNegatives k must be positive: $k")
    withCosine(s)
    val a = broadcast(anchors.select(col("vec_id").as("anchor"),
      col("label").as("a_label"), col("embedding").as("a_emb")))
    rankWithin(emb.join(a, col("vec_id") =!= col("anchor") &&
        col("label") =!= col("a_label"))
      .withColumn("cos_r", expr("round(cosine_sim(a_emb, embedding), 4)")),
      Seq(col("anchor")), Seq(col("cos_r").desc, col("vec_id")), k, "rank")
      .select(col("anchor"), col("vec_id").as("negative"),
        col("label").as("neg_label"), col("cos_r"),
        col("rank").cast("int").as("rank"))
  }

  /** Deterministic random-hyperplane signature: plane p's coefficient
    * for dimension d is `((1+p*64+d)*2654435761 mod 1000003)/1000003
    * - 0.5` — integer arithmetic both engines reproduce exactly.
    * One native codegen'd loop per row ([[graft.functions.PlaneSignature]]):
    * narrow, no shuffle, no explode, no interpreted lambdas.
    */
  def planeSignature(embCol: String, planes: Int): Column =
    expr1(PlaneSignature(_, planes))(col(embCol))

  /** G2: LSH-bucketed ANN: vectors hash to a `planes`-bit bucket; a
    * query only scores candidates in its own bucket, then reranks with
    * exact cosine. At scale the bucket id is the shuffle key (uniform
    * by construction) and each bucket is a tiny local top-k.
    */
  def lshTopK(s: SparkSession, emb: DataFrame, queries: DataFrame,
              k: Int, planes: Int = 8): DataFrame = {
    withCosine(s)
    val bucketed = emb.withColumn("bucket", planeSignature("embedding", planes))
    val q = broadcast(queries
      .withColumn("bucket", planeSignature("embedding", planes))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("bucket")))
    exactRerank(bucketed.join(q, Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id")), k)
  }

  /** G18: Matryoshka-style two-stage retrieval — coarse-score every
    * candidate on the FIRST `dPrefix` dimensions (Matryoshka/MRL
    * embeddings are trained so prefixes are usable sub-embeddings;
    * truncation is the standard cheap first pass), shortlist `cands`
    * per query, exact-rerank the shortlist with the full vector.
    * The at-scale win is bandwidth: the coarse pass reads dPrefix/d
    * of the vector bytes per comparison (with a column layout that
    * stores the prefix separately, dPrefix/d of the scan too).
    *
    * Plan: the query set broadcasts; coarse scoring streams the
    * embedding table once through the codegen cosine; the shortlist
    * window and the rerank window share the ONE query_id exchange
    * (same partitioning key — plan-asserted in SimilaritySpec). Only
    * `cands` rows per query carry full vectors past the shortlist.
    */
  def truncatedTopK(s: SparkSession, emb: DataFrame, queries: DataFrame,
                    dPrefix: Int, cands: Int, k: Int): DataFrame = {
    withCosine(s)
    val scored = emb.join(queryFrame(queries), col("vec_id") =!= col("query_id"))
      .withColumn("cos_c", expr(
        s"round(cosine_sim(slice(q_emb, 1, $dPrefix), " +
          s"slice(embedding, 1, $dPrefix)), 4)"))
    exactRerank(rankWithin(scored, Seq(col("query_id")),
      Seq(col("cos_c").desc, col("vec_id")), cands, "crank"), k)
  }

  /** G28: 1-bit (sign) quantization + Hamming-distance top-k — the
    * bottom rung of the quantization ladder (float32 → int8 → PQ codes
    * → 1 bit/dim): a 64-dim embedding collapses to TWO int64 words
    * (32× smaller than float32), distance is
    * `bit_count(w0⊕q0) + bit_count(w1⊕q1)` — pure register ops, zero
    * multiplies, the classic Charikar-sketch search leg (the same
    * sign-random-projection family as F5's SimHash, applied to the
    * raw dimensions as an ANN strategy and graded in the G21b recall
    * matrix like every other leg).
    *
    * Words are 32-bit halves stored as BIGINT so every value is
    * non-negative — two's-complement sign-bit edge cases can't differ
    * across engines. Strict `v > 0` sign is exact on both sides.
    * Ranking is (hamming ASC, vec_id): ties are massive by design at
    * 64 bits, so the id tiebreak carries the determinism argument.
    *
    * 100 TB shape: the packed corpus is 16 bytes/vector — a
    * billion-vector sign index is 16 GB, scan-at-memory-bandwidth
    * with a broadcast query set and no shuffle of the big side; the
    * natural FIRST filter in a multi-stage funnel (sign-scan →
    * shortlist → exact re-rank, the G19c pattern).
    */
  def hammingTopK(s: SparkSession, emb: DataFrame, queries: DataFrame,
                  k: Int): DataFrame = {
    def words(df: DataFrame, id: String, p: String) = df.select(
      col("vec_id").as(id),
      expr1(SignBits(_, 0, 32))(col("embedding")).as(p + "0"),
      expr1(SignBits(_, 32, 32))(col("embedding")).as(p + "1"))
    val q = broadcast(words(queries, "query_id", "q"))
    rankWithin(words(emb, "vec_id", "w")
      .join(q, col("vec_id") =!= col("query_id"))
      .withColumn("hamming",
        expr("cast(bit_count(w0 ^ q0) + bit_count(w1 ^ q1) as int)")),
      Seq(col("query_id")), Seq(col("hamming"), col("vec_id")), k, "rank")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("hamming"), col("rank"))
  }

  /** G30: k-center coreset by farthest-first traversal (Gonzalez'
    * 2-approximation — the classic diverse-subset selector; in LLM
    * curation: pick k maximally-spread exemplars for fine-tuning
    * sets, eval panels, or cluster seeding). Start from the min
    * vec_id; each round pick the point FARTHEST from its nearest
    * chosen center (ties → min vec_id), emitting (rk, vec_id,
    * radius_q) where radius_q is the chosen point's distance at
    * selection time — the non-increasing coverage-radius curve that
    * certifies the spread.
    *
    * Determinism: distances are the exact Σ(round(v·2²⁰)Δ)² int64
    * idiom (the G25/G19 kernel — zero float summation), so argmax +
    * id tiebreak is a total order any engine replays. Shape: the
    * min-distance state is ONE narrow column maintained map-side
    * (each round folds the new center in via `least` — no rescan of
    * prior centers, no pairwise matrix); the per-round argmax is a
    * TakeOrdered head (the documented k-means-style driver-state
    * collect, k−1 single-row actions total); lineage truncated per
    * round. 100 TB: k passes over the corpus, each map-side + one
    * top-1 — the textbook distributed farthest-first.
    */
  def kcenterSample(emb: DataFrame, k: Int = 8): DataFrame = {
    require(k >= 1, s"kcenterSample needs k >= 1: $k")
    val s = emb.sparkSession
    import s.implicits._
    def qc(c: Column): Column =
      round(c.cast("double") * lit(1048576.0)).cast("long")
    def d2(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => qc(x) - qc(y)),
        lit(0L), (acc, v) => acc + v * v)
    def centerLit(v: Seq[Float]): Column =
      array(v.map(lit(_)): _*).cast("array<float>")
    val first = emb.orderBy(col("vec_id"))
      .select(col("vec_id"), col("embedding")).head()
    val firstVec = first.getSeq[Float](1)
    var picks = Vector((1, first.getLong(0), None: Option[Long]))
    var state = emb.select(col("vec_id"), col("embedding"))
      .filter(col("vec_id") =!= first.getLong(0))
      .withColumn("__mind", d2(col("embedding"), centerLit(firstVec)))
      .cutLineage(eager = false)
    for (t <- 2 to k) {
      val next = state.orderBy(col("__mind").desc, col("vec_id")).head()
      val (id, vec, r) =
        (next.getLong(0), next.getSeq[Float](1), next.getLong(2))
      picks :+= ((t, id, Some(r)))
      state = state.filter(col("vec_id") =!= id)
        .withColumn("__mind",
          least(col("__mind"), d2(col("embedding"), centerLit(vec))))
        .cutLineage(eager = false)
    }
    picks.toDF("rk", "vec_id", "radius_q")
  }

  /** G29: sparse signed random projection — Achlioptas'
    * database-friendly Johnson–Lindenstrauss transform (density 1/3,
    * coefficients in {−1, 0, +1}): projects 64-dim embeddings to
    * `outDims` integer micro-unit sums in ONE codegen'd map-side pass
    * ([[graft.functions.RandomProjection]]), no shuffle, no stored
    * projection matrix (coefficients are a hash formula both engines
    * replay). JL's guarantee: pairwise distances survive within
    * (1 ± ε) at k = O(ln n / ε²) dims — the cheap front half of a
    * project → bucket/search → exact-re-rank funnel, and a 4× scan
    * reduction for any downstream ANN at 100 TB. All-int64 outputs
    * (Σ ±round(v·2²⁰)) keep it hash-exact on any partitioning; rows
    * emit exploded (vec_id, rp_dim, y_q) so no array column crosses
    * the driver boundary.
    */
  def randomProjection(emb: DataFrame, outDims: Int = 16): DataFrame =
    emb.select(col("vec_id"),
        posexplode(expr1(RandomProjection(_, outDims))(col("embedding"))))
      .select(col("vec_id"), col("pos").cast("int").as("rp_dim"),
        col("col").as("y_q"))

  /** G28b: sign-scan + exact re-rank — the G19c "+R" funnel applied
    * to the 1-bit leg: [[hammingTopK]] retrieves a kShort shortlist
    * from the 16-byte/vector sign index (the memory-bandwidth scan),
    * then ONLY the shortlist's true vectors are fetched and re-scored
    * with the exact rounded cosine, top-k by (cos DESC, vec_id). The
    * shortlist is queries×kShort rows — a broadcast — so the fetch is
    * one hash-join pass over stored embeddings, no shuffle of the big
    * side; the billion-vector ladder touches full vectors only
    * kShort-per-query.
    */
  def hammingRerankTopK(s: SparkSession, emb: DataFrame,
                        queries: DataFrame, k: Int,
                        kShort: Int = 15): DataFrame = {
    withCosine(s)
    val shortlist = hammingTopK(s, emb, queries, kShort)
      .select(col("query_id"), col("neighbor_id"))
    exactRerank(emb.join(broadcast(shortlist), col("vec_id") === col("neighbor_id"))
      .join(queryFrame(queries), Seq("query_id")), k)
  }

  /** G5: symmetric int8 quantization of an embedding column — the
    * memory-bandwidth lever for 100 TB ANN (4× smaller scans, SIMD
    * int dot products). Per-vector scale = max|x|/127; emits the
    * quantized array + scale + max reconstruction error. Narrow, no
    * shuffle; formulas are exact-rational over the float inputs so
    * the DuckDB oracle reproduces them bit-for-bit.
    */
  def quantizeInt8(emb: DataFrame): DataFrame = {
    val maxAbs = expr1(VecMaxAbs(_))(col("embedding"))
    emb.select(
      col("vec_id"),
      round(maxAbs, 6).as("scale_r"),
      GraftBridge.column(Int8Quantize(
        GraftBridge.expression(col("embedding")),
        GraftBridge.expression(maxAbs))).as("q"))
  }

  /** G7: quantized top-k — the production ANN scan shape at 100 TB.
    * Both sides quantize to int8 (4× less memory traffic), the query
    * side broadcasts, and ranking happens on the EXACT integer dot
    * product via the native codegen'd [[graft.functions.Int8Dot]]
    * (no FP reassociation → identical result on any engine, any
    * partitioning). One pass over the corpus, no shuffle of it; the
    * per-query top-k window shuffles only (queries × corpus-rows
    * surviving nothing — it ranks all pairs, bounded by the tiny
    * broadcast query set).
    */
  def int8TopK(s: SparkSession, emb: DataFrame, queries: DataFrame,
               k: Int): DataFrame = {
    val corpus = quantizeInt8(emb)
      .select(col("vec_id"), col("scale_r").as("scale_c"), col("q"))
    val q = broadcast(quantizeInt8(queries)
      .select(col("vec_id").as("query_id"), col("scale_r").as("scale_q"),
        col("q").as("qq")))
    def dot = GraftBridge.column(graft.functions.Int8Dot(
      GraftBridge.expression(col("qq")), GraftBridge.expression(col("q"))))
    // Rank on the DESCALED score dot_i·scale_q·scale_c: per-vector
    // scales make the raw integer dot incomparable across corpus
    // vectors (q_a·q_b ∝ (a·b)/(maxA·maxB)); the exact integer dot
    // stays the kernel, two FP multiplies descale it (fixed order —
    // bit-identical on any engine).
    rankWithin(corpus.join(q, col("vec_id") =!= col("query_id"))
      .withColumn("dot_i", dot)
      .withColumn("score",
        col("dot_i").cast("double") * col("scale_q") * col("scale_c")),
      Seq(col("query_id")), Seq(col("score").desc, col("vec_id")), k, "rank")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("dot_i"), round(col("score"), 4).as("score_r"), col("rank"))
  }

  /** G9: EXACT cosine top-k behind an error-bounded int8 prefilter —
    * the "cheap scan first" shape a 100 TB ANN serving layer wants
    * when the answer must equal brute force.
    *
    * Per-vector symmetric quantization gives `a_i = qa_i·sa + ea_i`
    * with `|ea_i| ≤ sa/2` (`sa = maxAbs_a/127`, round-half-up), so
    * `|a·b − sa·sb·(qa·qb)| ≤ (sa·sb/2)·(‖qa‖₁ + ‖qb‖₁ + d/2)` — an
    * error bound computable from integer quantities already in the
    * code row ([[graft.functions.IntArrayL1]]). Dividing by the norms
    * brackets the true cosine in `[appr−err, appr+err]`.
    *
    * Pass 1 scans int8 codes, ranks lower bounds, and keeps the k-th
    * largest lower bound per query — the `rank ≤ k` filter lets
    * Spark's built-in WindowGroupLimit prune to ~k rows per map
    * partition before the only shuffle (tiny: ids + doubles). Pass 2
    * re-scans the codes with the per-query threshold broadcast back —
    * ZERO shuffle — keeping candidates whose upper bound reaches
    * `thr − 1.01e-4`; the slack makes exclusion safe under the
    * rounded-to-4-decimals ranking (excluded ⇒ true cosine more than
    * 1e-4 below k candidates ⇒ strictly smaller rounded score, so the
    * vec_id tie-break can never resurrect it). The exact FP32 rerank
    * touches survivors only (corpus rows reached via a broadcast
    * semi-join on the tiny survivor set).
    *
    * Cost at scale: two memory-bandwidth int8 scans + an FP32 scan of
    * ~k·margin rows, versus one FP32 all-pairs scan for brute force —
    * a ~4× traffic win that GROWS with dimension, while the result is
    * provably identical (oracle: the brute-force SQL verbatim).
    */
  def exactPrunedTopK(s: SparkSession, emb: DataFrame, queries: DataFrame,
                      k: Int): DataFrame = {
    withCosine(s)
    val surv = prunedSurvivors(s, emb, queries, k)
    exactRerank(emb.join(broadcast(surv), Seq("vec_id"))
      .join(queryFrame(queries), Seq("query_id")), k)
  }

  /** Passes 1–2 of [[exactPrunedTopK]]: the (query_id, vec_id)
    * survivor set of the error-bounded prefilter. Public so the spec
    * can assert the bound actually prunes (not just "equals brute
    * force because everything survived").
    */
  def prunedSurvivors(s: SparkSession, emb: DataFrame, queries: DataFrame,
                      k: Int): DataFrame = {
    def codes(df: DataFrame, p: String): DataFrame = {
      val ma = expr1(VecMaxAbs(_))(col("embedding"))
      df.select(
        col("vec_id").as(p + "id"),
        (ma / 127.0).as(p + "s"),
        GraftBridge.column(Int8Quantize(
          GraftBridge.expression(col("embedding")),
          GraftBridge.expression(ma))).as(p + "q"),
        sqrt(expr1(VecSqNorm(_))(col("embedding"))).as(p + "n"),
        size(col("embedding")).as(p + "d"))
        .withColumn(p + "l1", expr1(IntArrayL1(_))(col(p + "q")))
    }

    val c = codes(emb, "c")
    val q = broadcast(codes(queries, "q"))

    // Candidate pass: integer dot + cosine bracket, all narrow. Built
    // twice (passes 1 and 2) — recomputing the cheap int8 kernel beats
    // materializing q×n bracket rows anywhere.
    def pairs: DataFrame = c.join(q, col("cid") =!= col("qid"))
      .withColumn("dot_i", GraftBridge.column(Int8Dot(
        GraftBridge.expression(col("qq")),
        GraftBridge.expression(col("cq")))))
      .withColumn("ss", col("qs") * col("cs"))
      .withColumn("den", col("qn") * col("cn"))
      .withColumn("appr", col("dot_i") * col("ss") / col("den"))
      // 1.0001 relative + 1e-9 absolute slack absorbs the FP evaluation
      // of the (exact-rational) bound itself.
      .withColumn("err",
        (col("ss") / 2.0 *
          (col("ql1") + col("cl1") + least(col("qd"), col("cd")) / 2.0) *
          1.0001 + 1e-9) / col("den"))

    val thr = rankWithin(pairs.withColumn("lo", col("appr") - col("err")),
        Seq(col("qid")), Seq(col("lo").desc, col("cid")), k, "rn")
      .groupBy(col("qid")).agg(min(col("lo")).as("thr"))

    pairs.join(broadcast(thr), Seq("qid"), "left")
      .filter(col("appr") + col("err") >=
        coalesce(col("thr"), lit(-2.0)) - 0.000101)
      .select(col("qid").as("query_id"), col("cid").as("vec_id"))
  }

  /** G3: norms/normalization plumbing — exact double accumulation in
    * index order via fold, no shuffle.
    */
  def norms(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
      size(col("embedding")).as("dim"),
      round(sqrt(expr1(VecSqNorm(_))(col("embedding"))), 4).as("norm"))

  /** G2b: IVF-style ANN with a trained coarse quantizer. k-means with
    * deterministic seeding (centroids start at the first `nlist`
    * vectors); per iteration, vectors assign to their max-cosine
    * centroid and centroids re-center (posexplode + per-dim mean —
    * one shuffle of n·dim rows). Model (nlist·dim floats) lives on
    * the driver and broadcasts — the data never collects. Search
    * probes the query's `nprobe` closest cells and reranks exactly,
    * so cost is (n/nlist)·nprobe per query instead of n.
    *
    * `iters = 0` runs the SAME search path under a FIXED quantizer
    * (cells = the first `nlist` vectors, no training): every stage —
    * assignment, probe selection, exact rerank — is then plain
    * column algebra over raw stored vectors, which is what lets the
    * `sim_topk_ivf_fixed` query hash-match a DuckDB oracle
    * end-to-end. The TRAINED variant trains DETERMINISTICALLY: each
    * component accumulates as a scaled int64 (`round(v·2²⁰)`, the
    * G8/G16 exact-integer idiom), so the per-dim sums are exact
    * integers independent of shuffle/partition order, and the mean's
    * single float rounding is identical on every run and every
    * cluster layout (double-run spec under different partitionings).
    * Since round 10 the trained variant is oracle-checked too: the
    * fixed iteration count unrolls into plain DuckDB CTEs that
    * replay the training arithmetic step for step (the `sim_topk_
    * ivf` oracle in ExtendedQueries), leaving only the raw-double
    * cosine-argmax parity assumption the fixed variant always
    * carried. Quantization bound: |v|≤1-ish embeddings keep
    * `2²⁰·Σ|v|` < 2⁵³ up to ~8·10⁹ members per (cell, dim), far past
    * any sane cell size at 100 TB (and k-means quality is unaffected
    * by micro-rounding the centroid).
    */
  private def centDf(s: SparkSession,
                     cents: Seq[(Int, Seq[Float])]): DataFrame = {
    import s.implicits._
    broadcast(cents.toDF("cid", "cvec"))
  }

  /** Cosine-argmax cell assignment against a broadcast centroid frame
    * (ties → lower cid, the G17 `max_by(cid, struct(cs, −cid))`
    * rule): (vec_id, cid, embedding). Shared by [[ivfTopK]]'s train
    * loop/search and [[clusterEval]] so assignment can never drift
    * between the index and its quality readout.
    */
  private def ivfAssign(emb: DataFrame, c: DataFrame): DataFrame =
    emb.join(c, expr("true"))
      .withColumn("cs", expr("cosine_sim(embedding, cvec)"))
      .groupBy(col("vec_id"))
      .agg(max_by(col("cid"), struct(col("cs"), -col("cid"))).as("cid"),
        first(col("embedding")).as("embedding"))

  /** [[ivfTopK]]'s deterministic Lloyd loop as shareable driver model
    * state (init = first `nlist` vectors; per iteration: [[ivfAssign]]
    * + exact scaled-int64 re-center with float32 snap).
    */
  private[operators] def trainedCentroids(s: SparkSession, emb: DataFrame,
                                          nlist: Int, iters: Int)
      : Seq[(Int, Seq[Float])] = {
    withCosine(s)
    var cents: Seq[(Int, Seq[Float])] = emb.filter(col("vec_id") < nlist)
      .orderBy("vec_id")
      .collect()
      .map(r => (r.getAs[Long]("vec_id").toInt,
        r.getSeq[Float](r.fieldIndex("embedding"))))
      .toSeq
    val Scale = 1048576.0 // 2^20: exact int64 accumulation, order-free
    for (_ <- 1 to iters) {
      val assigned = ivfAssign(emb, centDf(s, cents))
      // vector-summed re-center: one Array[Long] buffer per cell, no
      // 64× posexplode row inflation (identical Σ round(v·2²⁰) sums)
      cents = assigned
        .groupBy(col("cid"))
        .agg(vecSum(col("embedding"), Scale).as("__s"),
          count(col("embedding")).as("__n"))
        .select(col("cid"),
          transform(col("__s"), s =>
            (s.cast("double") / (col("__n") * lit(Scale))).cast("float"))
            .as("cvec"))
        .collect()
        .map(r => (r.getAs[Int]("cid"), r.getSeq[Float](1)))
        .toSeq
    }
    cents
  }

  def ivfTopK(s: SparkSession, emb: DataFrame, queries: DataFrame, k: Int,
              nlist: Int = 8, nprobe: Int = 4, iters: Int = 2): DataFrame = {
    withCosine(s)

    val cents = trainedCentroids(s, emb, nlist, iters)
    val cells = ivfAssign(emb, centDf(s, cents)).select(col("vec_id"),
      col("cid"), col("embedding"))
    val probes = rankWithin(queries
        .join(centDf(s, cents), expr("true"))
        .withColumn("cs", expr("cosine_sim(embedding, cvec)")),
        Seq(col("vec_id")), Seq(col("cs").desc, col("cid")), nprobe, "pr")
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("cid"))
    exactRerank(cells.join(broadcast(probes), Seq("cid"))
      .filter(col("vec_id") =!= col("query_id")), k)
  }

  /** G25: clustering-quality evaluation of the trained IVF index —
    * the Davies-Bouldin readout: per cell, intra-cluster scatter
    * S_i = mean member→centroid distance; per cell pair, centroid
    * separation M_ij; R_i = max_{j≠i} (S_i + S_j)/M_ij; DB index =
    * mean R_i (lower = tighter, better-separated cells — the knob
    * readout for nlist/iters, the role `sim_recall_matrix` plays for
    * search recall and `dedup_eval` for banding). Uses the SAME
    * [[trainedCentroids]] + [[ivfAssign]] the index itself uses, so
    * the evaluation can never drift from what search actually probes.
    *
    * Determinism: every distance is the exact-integer idiom —
    * components quantize to round(v·2²⁰) int64, squared-L2 sums
    * integer diffs (order-free), the root is correctly-rounded IEEE
    * `sqrt` snapped to an int64 scaled unit; means re-enter doubles
    * only through the scale-0-round trick; ratios integerize to
    * micro-units before the max. The one remaining parity assumption
    * is the raw-double cosine argmax inside assignment — exactly the
    * documented `sim_topk_ivf` assumption, unchanged.
    *
    * Shape: ONE broadcast-assign pass over the corpus + a vocab-sized
    * per-cell aggregate; the pair matrix is nlist² driver-state rows.
    * Empty cells and coincident centroids (M = 0) drop from the
    * readout on both engines (inner joins / the m > 0 guard).
    */
  def clusterEval(s: SparkSession, emb: DataFrame, nlist: Int = 8,
                  iters: Int = 2): DataFrame = {
    val intDist2 =
      """aggregate(zip_with(%s, %s, (x, y) ->
        |  CAST(round(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT) -
        |  CAST(round(CAST(y AS DOUBLE) * 1048576.0) AS BIGINT)),
        |  CAST(0 AS BIGINT), (acc, v) -> acc + v * v)""".stripMargin
    val cents = trainedCentroids(s, emb, nlist, iters)
    val cdf = centDf(s, cents)
    val perCell = ivfAssign(emb, cdf)
      .join(cdf, "cid")
      .withColumn("__s",
        round(sqrt(expr(intDist2.format("embedding", "cvec")).cast("double")))
          .cast("long"))
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_members"), sum(col("__s")).as("__ss"))
      .withColumn("s_scaled",
        round(col("__ss").cast("double") / col("n_members").cast("double"))
          .cast("long"))
    val rAgg = cdf.select(col("cid").as("i"), col("cvec").as("vi"))
      .crossJoin(cdf.select(col("cid").as("j"), col("cvec").as("vj")))
      .filter(col("i") =!= col("j"))
      .withColumn("__m",
        round(sqrt(expr(intDist2.format("vi", "vj")).cast("double")))
          .cast("long"))
      .filter(col("__m") > 0)
      .join(perCell.select(col("cid").as("i"), col("s_scaled").as("si")), "i")
      .join(perCell.select(col("cid").as("j"), col("s_scaled").as("sj")), "j")
      .withColumn("__r",
        round((col("si") + col("sj")).cast("double") * lit(1000000.0) /
          col("__m").cast("double")).cast("long"))
      .groupBy(col("i").as("cid")).agg(max(col("__r")).as("r_micro"))
    val w = Window.partitionBy() // nlist rows, post-aggregation
    perCell.join(rAgg, "cid")
      .withColumn("__sr", sum(col("r_micro")).over(w))
      .withColumn("__k", count(lit(1)).over(w))
      .select(col("cid"), col("n_members"), col("s_scaled"), col("r_micro"),
        round(col("__sr").cast("double") / col("__k").cast("double"))
          .cast("long").as("db_micro"))
  }

  /** G19: product quantization — the memory lever for billion-scale
    * ANN (Jégou et al., "Product Quantization for Nearest Neighbor
    * Search"): each vector splits into `m` subvectors; each subspace
    * gets its own `ksub`-centroid codebook; a vector stores as m
    * small codes (here 4 codes ≈ 1 byte vs 256 float bytes). Emits
    * per-vector codes plus the quantization error, the readout that
    * sizes a PQ deployment.
    *
    * Training is the G2b deterministic k-means generalized by a
    * `sub` key: the codebook is (m·ksub)-row DRIVER STATE flowing
    * iteration to iteration (the [[ivfTopK]] centroid shape — see
    * [[pqCodebookSeq]] for why). Init = subvectors of the first
    * `ksub` vectors; `iters` Lloyd steps.
    *
    * DISTANCE IS EXACT INTEGER: components quantize to round(v·2²⁰)
    * int64 and the squared-L2 sums those integer differences — no
    * float summation anywhere in assignment, so argmin ties, codes
    * and error are bit-identical on any partitioning AND carry zero
    * libm/fold-order parity assumptions against the oracle (stronger
    * than the cosine paths' raw-double argmax assumption). Centroid
    * means use the scaled-int64 exact sums and snap through float,
    * exactly like G2b/G17. Empty cells drop out of the codebook
    * identically in both engines.
    *
    * ASSIGNMENT IS A NATIVE MAP-SIDE PRIMITIVE LOOP (round 13):
    * because the codebook is literal driver state, nearest-codeword
    * assignment runs as ONE [[graft.functions.PqEncode]] expression
    * per vector (a tight m×ksub×dsub int64 loop over the stored
    * float array — no joins, no argmin shuffles, no interpreted HOF
    * lambdas, no per-element Round/BigDecimal; the r12 shape paid a
    * broadcast join + a (vec,sub)-keyed argmin exchange + an
    * interpreted zip_with per candidate). Per Lloyd iteration the
    * only exchange left is the (sub,cid)-keyed re-center
    * ([[graft.functions.VecSumAgg]] — one dsub-long int64 buffer per
    * cell per partition, map-side combined).
    */
  private val PqScale = 1048576.0 // 2^20, the G2b exact-accumulation scale
  /** Column-side exact quantization (kept for the shortlist-sized
    * re-rank path; the corpus-sized paths use the native
    * [[graft.functions.PqQuant]] — same values bit-for-bit).
    */
  private def pqQ(c: Column): Column = round(c * lit(PqScale)).cast("long")

  /** Codebook as driver state: (sub, cid, cvec) entries. */
  private type PqCents = Seq[(Int, Int, Seq[Double])]

  /** Flatten the codebook into the literal model the NATIVE
    * expressions consume, in (sub ASC, cid ASC) order — which is
    * also the flat LUT position order the ADC scan indexes by:
    * per-sub candidate offsets, candidate→cid, candidate→sub, and
    * the pre-quantized int64 codewords
    * ([[graft.functions.PqQuant.quantize]] — exact, see its
    * exactness argument).
    */
  private def pqFlat(cents: PqCents, m: Int)
      : (Seq[Int], Seq[Int], Seq[Long], Seq[Int]) = {
    val sorted = cents.sortBy(t => (t._1, t._2))
    val counts = Array.fill(m)(0)
    sorted.foreach(t => counts(t._1) += 1)
    (counts.scanLeft(0)(_ + _).toSeq, sorted.map(_._2),
      sorted.flatMap(_._3.map(graft.functions.PqQuant.quantize)),
      sorted.map(_._1))
  }

  /** The per-vector encode struct (cids, pos, dsum) — ONE native
    * primitive loop over the stored float array against the literal
    * codebook ([[graft.functions.PqEncode]]): zero joins, zero
    * shuffles, zero per-element Round allocations on the corpus
    * path.
    */
  private def pqEncodeCol(cents: PqCents, m: Int, dsub: Int): Column = {
    val (subOff, cids, qcw, _) = pqFlat(cents, m)
    GraftBridge.column(graft.functions.PqEncode(
      GraftBridge.expression(col("embedding")), m, dsub, subOff, cids, qcw))
  }

  /** The query-side flat ADC lookup table (int64, LUT-position
    * order) — [[graft.functions.PqAdcLut]] on the tiny query frame.
    */
  private def pqLutCol(cents: PqCents, m: Int, dsub: Int): Column = {
    val (_, _, qcw, subOfCand) = pqFlat(cents, m)
    GraftBridge.column(graft.functions.PqAdcLut(
      GraftBridge.expression(col("embedding")), dsub, subOfCand, qcw))
  }

  /** One tiny prefix job: the first `n` vectors (vec_id ASC) as
    * driver state — shared by the codebook init (subvectors of the
    * first ksub vectors) and [[ivfPqTopK]]'s fixed coarse quantizer
    * (the first nlist vectors), so the composed index pays ONE
    * prefix collect, not two.
    */
  private def embPrefix(emb: DataFrame, n: Int): Seq[(Int, Seq[Float])] =
    emb.filter(col("vec_id") < n).orderBy("vec_id")
      .select(col("vec_id").cast("int"), col("embedding"))
      .collect().map(r => (r.getInt(0), r.getSeq[Float](1))).toSeq

  /** The trained (sub, cid, cvec) codebook — deterministic Lloyd
    * iterations shared by the code emitter ([[pqCodes]]) and the ADC
    * searches ([[pqTopK]]/[[ivfPqTopK]]) so the consumers can never
    * train differently.
    *
    * The codebook is MODEL STATE (m·ksub rows — 16 at the defaults)
    * and lives on the DRIVER between iterations, exactly like
    * [[ivfTopK]]'s centroids: each Lloyd step folds the current
    * codebook into the NATIVE literal-model assignment
    * ([[graft.functions.PqEncode]] — map-side, one primitive loop
    * per vector) and pays exactly ONE exchange (the
    * (sub,cid)-keyed VecSumAgg re-center) plus its collect; every
    * consumer likewise encodes against literal state instead of
    * replaying a join. At deployment scale this is exactly where the
    * trained codebook persists as a table between index build and
    * search; the per-iteration state transfer is 16 rows, never data.
    *
    * `prefix` = the pre-collected [[embPrefix]] rows (≥ ksub) — the
    * init subvectors slice driver-side from it, so training launches
    * no separate init job.
    */
  private[graft] def pqCodebookSeq(emb: DataFrame, m: Int, dsub: Int,
                                   ksub: Int, iters: Int,
                                   prefix: Seq[(Int, Seq[Float])]): PqCents = {
    var cents: PqCents =
      for (i <- 0 until m; (vid, v) <- prefix.take(ksub))
        yield (i, vid, v.slice(i * dsub, (i + 1) * dsub).map(_.toDouble))
    for (_ <- 1 to iters) {
      // map-side NATIVE assignment vs the literal codebook, exploded
      // to the (sub, cid, svec) rows the re-center sums; the svec
      // slice is the identical cast-then-slice arithmetic of every
      // prior round
      val assigned = emb
        .select(col("embedding"),
          pqEncodeCol(cents, m, dsub).getField("cids").as("__c"))
        .select(posexplode(array((0 until m).map { i =>
          struct(lit(i).as("sub"), element_at(col("__c"), i + 1).as("cid"),
            slice(col("embedding").cast("array<double>"), i * dsub + 1, dsub)
              .as("svec"))
        }: _*)).as(Seq("__p", "a")))
      cents = assigned
        .groupBy(col("a.sub").as("sub"), col("a.cid").as("cid"))
        .agg(vecSum(col("a.svec"), PqScale).as("__s"),
          count(col("a.svec")).as("__n"))
        .select(col("sub"), col("cid"),
          transform(col("__s"), sc =>
            (sc.cast("double") / (col("__n") * lit(PqScale)))
              .cast("float").cast("double")).as("cvec"))
        .collect().map(r =>
          (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toSeq)).toSeq
    }
    cents.sortBy(t => (t._1, t._2))
  }

  def pqCodes(s: SparkSession, emb: DataFrame, m: Int = 4, dsub: Int = 16,
              ksub: Int = 4, iters: Int = 2): DataFrame = {
    val cents = pqCodebookSeq(emb, m, dsub, ksub, iters, embPrefix(emb, ksub))
    // ONE zero-shuffle projection over the corpus: codes string and
    // quantization error both read the single native encode struct —
    // the r12 shape paid an m-way explode + broadcast join + two
    // keyed aggregations for the same output
    emb.select(col("vec_id"), pqEncodeCol(cents, m, dsub).as("__e"))
      .select(col("vec_id"),
        concat(lit("["),
          concat_ws(",", (0 until m).map(i =>
            element_at(col("__e.cids"), i + 1).cast("string")): _*),
          lit("]")).as("codes"),
        round(col("__e.dsum").cast("double") /
          lit(1099511627776.0), 6).as("err2"))
  }

  /** G27: OPQ-lite — the space-decomposition lever of Ge et al.'s
    * Optimized Product Quantization, in its deterministic
    * permutation form (the paper's structured baseline: balance the
    * variance PQ must quantize across subspaces, without a learned
    * rotation): rank dimensions by corpus variance, deal them
    * round-robin into the m subspaces (rank r → subspace r mod m),
    * so no subspace is stuck quantizing all the high-energy
    * dimensions with the same ksub codewords. Returns the 0-based
    * source-dimension order (driver model state, like the centroid
    * seqs): permuted[s·dsub + slot] = dim with rank slot·m + s.
    *
    * Variance stats are ONE corpus aggregate in the exact idiom: per
    * dim, Σ round(v·2¹⁰) and Σ round(v·2¹⁰)² as [[VecSumAgg]] int64
    * buffers (2¹⁰ keeps q² sums inside int64 to ~10¹² rows), then
    * var·10⁶ snaps to int64 on the driver — ranking ties break by
    * dimension index, so the permutation is bit-stable anywhere.
    */
  private[graft] def opqPermutation(s: SparkSession, emb: DataFrame,
                                    m: Int = 4): Seq[Int] = {
    val varScaled = dimVariances(emb)
    val dims = varScaled.length
    val dsub = dims / m
    val ranked = varScaled.zipWithIndex.sortBy { case (v, d) => (-v, d) }
      .map(_._2)
    for (s0 <- 0 until m; slot <- 0 until dsub) yield ranked(slot * m + s0)
  }

  /** Int64-snapped per-dimension corpus variances (·10⁶) — ONE corpus
    * aggregate in the exact idiom, shared by [[opqPermutation]] and
    * [[opqAllocation]]: per dim, Σ round(v·2¹⁰) and Σ round(v·2¹⁰)²
    * as [[VecSumAgg]] int64 buffers (2¹⁰ keeps q² sums inside int64
    * to ~10¹² rows), then var·10⁶ snaps to int64 on the driver.
    */
  private def dimVariances(emb: DataFrame): IndexedSeq[Long] = {
    val qArr =
      "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1024.0) AS BIGINT))"
    val row = emb.select(
      vecSum(expr(qArr), 1.0).as("s1"),
      vecSum(expr(s"transform($qArr, q -> q * q)"), 1.0).as("s2"),
      count(lit(1)).as("n")).head()
    val s1 = row.getSeq[Long](0)
    val s2 = row.getSeq[Long](1)
    val n = row.getLong(2).toDouble
    s1.indices.map { d =>
      math.round((s2(d).toDouble / n -
        (s1(d).toDouble / n) * (s1(d).toDouble / n)) * 1e6)
    }
  }

  /** The deterministic ln of the engine's `withLnDet`, as a DRIVER
    * scalar: exact power-of-two range reduction to m ∈ [0.5, 1),
    * atanh series through t²⁵, ln = 2s − e·ln2 — the identical IEEE
    * op sequence the oracle's lnDet CTEs replay, so a driver-side
    * model decision branching on its output is bit-reproducible in
    * DuckDB. Domain: p ∈ (0, 1].
    */
  private[graft] def lnDetScalar(p: Double): Double = {
    var m = p; var e = 0
    if (m * 4294967296.0 < 1.0) { m *= 4294967296.0; e += 32 }
    if (m * 65536.0 < 1.0) { m *= 65536.0; e += 16 }
    if (m * 256.0 < 1.0) { m *= 256.0; e += 8 }
    if (m * 16.0 < 1.0) { m *= 16.0; e += 4 }
    if (m * 4.0 < 1.0) { m *= 4.0; e += 2 }
    if (m * 2.0 < 1.0) { m *= 2.0; e += 1 }
    val t = (m - 1.0) / (m + 1.0); val t2 = t * t
    val q1 = t; val q3 = q1 * t2; val q5 = q3 * t2; val q7 = q5 * t2
    val q9 = q7 * t2; val q11 = q9 * t2; val q13 = q11 * t2
    val q15 = q13 * t2; val q17 = q15 * t2; val q19 = q17 * t2
    val q21 = q19 * t2; val q23 = q21 * t2; val q25 = q23 * t2
    2.0 * (q1 + q3 / 3.0 + q5 / 5.0 + q7 / 7.0 + q9 / 9.0 + q11 / 11.0 +
      q13 / 13.0 + q15 / 15.0 + q17 / 17.0 + q19 / 19.0 + q21 / 21.0 +
      q23 / 23.0 + q25 / 25.0) - e.toDouble * 0.6931471805599453
  }

  /** G27b: LEARNED space decomposition — Ge et al.'s EIGENVALUE
    * ALLOCATION (OPQ §3.2.2, the non-parametric solution's balanced
    * init): under the independence assumption PQ distortion is
    * Σ_s dsub·(∏_{d∈s} λ_d)^(1/dsub), minimized by balancing the
    * PRODUCT of variances per subspace ⇔ balancing Σ log λ. The
    * engine runs the paper's greedy verbatim, in the log domain:
    * per-dim log-variance c_d = round(ln λ_d · 10⁶) in int64
    * micronats, computed as −lnDet(1/λ_d) ([[lnDetScalar]] is the
    * withLnDet op sequence, so the oracle replays every cost
    * bit-for-bit; 1/λ keeps ln in its (0,1] domain; zero-variance
    * dims guard to λ = 1 scaled unit → cost 0). Dims are visited
    * HOTTEST FIRST (descending λ — the paper's eigenvalue order) and
    * each goes to the subspace with the smallest running log-product
    * among those with free slots (ties → lower subspace index, then
    * lower dim — a total order). Every pick is a permutation-matrix
    * column choice, so the learned map stays orthogonal — the OPQ
    * contract.
    *
    * Versus [[opqPermutation]]'s rank-dealing: on decaying spectra
    * the hottest-first greedy reproduces the even hot-dim spread
    * dealing gets by construction, and on PAIRING-adversarial
    * spectra (where dealing's rank-mod-m stride stacks hot dims
    * together) it balances the products dealing cannot — the G27b
    * spec plants exactly that case. The decisive property is
    * DETERMINISM: allocation is a pure function of the int64 cost
    * table (driver model state, one collected variance row — never a
    * data pass), replayed step for step by the oracle's list_reduce.
    *
    * Returns the 0-based source-dimension order, subspace-major with
    * slots in assignment order: permuted[s·dsub + slot] = the slot-th
    * dimension assigned to subspace s.
    */
  private[graft] def opqAllocation(s: SparkSession, emb: DataFrame,
                                   m: Int = 4): Seq[Int] = {
    val varScaled = dimVariances(emb)
    val dims = varScaled.length
    require(dims % m == 0, s"dims $dims must be divisible by m = $m")
    val dsub = dims / m
    val costs = varScaled.map { v =>
      val g = math.max(v, 1L)
      math.round(-lnDetScalar(1.0 / g.toDouble) * 1e6)
    }
    // hottest first — log cost is monotone in λ, so cost order IS λ order
    val ranked = costs.zipWithIndex.sortBy { case (c, d) => (-c, d) }
    val sums = Array.fill(m)(0L)
    val buckets = Array.fill(m)(Vector.empty[Int])
    ranked.foreach { case (c, d) =>
      val pick = (0 until m).filter(buckets(_).size < dsub)
        .minBy(x => (sums(x), x))
      sums(pick) += c
      buckets(pick) = buckets(pick) :+ d
    }
    buckets.toIndexedSeq.flatten
  }

  /** G27b codes: [[opqAllocation]] composed in front of the unchanged
    * [[pqCodes]] train/encode machinery (the G27 move with the
    * learned allocation in place of the rank-dealt permutation).
    * Same output schema as `embed_pq_codes`/`embed_opq_codes`; err2
    * is the readout that shows what the learned balance bought.
    */
  def opqRotCodes(s: SparkSession, emb: DataFrame, m: Int = 4,
                  dsub: Int = 16, ksub: Int = 4, iters: Int = 2): DataFrame = {
    val alloc = opqAllocation(s, emb, m)
    require(alloc.length == m * dsub,
      s"dims ${alloc.length} must equal m*dsub = ${m * dsub}")
    val permuted = emb.select(col("vec_id"),
      array(alloc.map(d => col("embedding").getItem(d)): _*).as("embedding"))
    pqCodes(s, permuted, m, dsub, ksub, iters)
  }

  /** G27: OPQ-lite codes — [[opqPermutation]] composed in front of
    * the unchanged [[pqCodes]] train/encode machinery (the permuted
    * frame keeps the (vec_id, embedding) contract, so codebook
    * training, native encode and the error readout are literally the
    * G19 path). Same output schema as `embed_pq_codes`; err2 is the
    * readout that shows what the re-decomposition bought.
    */
  def opqCodes(s: SparkSession, emb: DataFrame, m: Int = 4, dsub: Int = 16,
               ksub: Int = 4, iters: Int = 2): DataFrame = {
    val perm = opqPermutation(s, emb, m)
    require(perm.length == m * dsub,
      s"dims ${perm.length} must equal m*dsub = ${m * dsub}")
    val permuted = emb.select(col("vec_id"),
      array(perm.map(d => col("embedding").getItem(d)): _*).as("embedding"))
    pqCodes(s, permuted, m, dsub, ksub, iters)
  }

  /** G19b: PQ ADC top-k search — the SEARCH side of G19's index
    * compression (Jégou et al.'s asymmetric distance computation):
    * the corpus is stored as m small codes per vector; a query
    * pre-computes one (m × ksub) lookup table of quantized-L2
    * distances from its own subvectors to every codeword, and a
    * corpus vector scores as the SUM of m table entries picked by
    * its codes — the scan touches codes, never corpus floats.
    *
    * Everything is exact int64 (the G19 arithmetic): LUT entries,
    * sums, and the (adc ASC, vec_id ASC) ranking carry ZERO
    * float-summation or libm parity assumptions — hash-exact against
    * the oracle end to end.
    *
    * Plan (round 13 shape): the corpus encodes MAP-SIDE against the
    * literal codebook into an m-int position array; each query row
    * carries its whole LUT as one flat int64 array, so the scan is a
    * broadcast nested-loop of the tiny query frame against the code
    * table — BY DEFINITION the exhaustive ADC linear scan (every
    * query scores every code; [[ivfPqTopK]] is the indexed
    * alternative) — with the per-pair score just m array lookups.
    * The ONLY exchange in the whole search is the final bounded
    * rank. At scale the codes table IS the stored index (32
    * bits/vector here vs 256 float bytes) — the memory lever G19
    * documents, now queryable.
    */
  def pqTopK(s: SparkSession, emb: DataFrame, queries: DataFrame, k: Int,
             m: Int = 4, dsub: Int = 16, ksub: Int = 4,
             iters: Int = 2): DataFrame = {
    val cents = pqCodebookSeq(emb, m, dsub, ksub, iters, embPrefix(emb, ksub))
    val codes = emb.select(col("vec_id"),
      pqEncodeCol(cents, m, dsub).getField("pos").as("cp"))
    val lutQ = queries.select(col("vec_id").as("query_id"),
      pqLutCol(cents, m, dsub).as("lut"))
    adcRank(codes.crossJoin(broadcast(lutQ)), m, k)
  }

  /** Shared ADC ranking tail of [[pqTopK]]/[[ivfPqTopK]]: the in-row
    * ADC sum (m LUT lookups via the code-position array — int64, no
    * grouping needed since the (query, vec) pair is already one row),
    * then the per-query top-k via the bounded
    * [[graft.functions.BoundedTopK.ranked]] tail.
    * (adc ASC, vec_id ASC) ordering — adc_dist ties ARE possible
    * (two corpus vectors that encode to identical PQ codes score
    * identically for every query), so determinism rests on the
    * vec_id ASC tiebreak, not on distinctness of the distances.
    */
  private def adcRank(scored: DataFrame, m: Int, k: Int): DataFrame = {
    val adc = (0 until m).map(i =>
      element_at(col("lut"), element_at(col("cp"), i + 1) + 1)).reduce(_ + _)
    BoundedTopK.ranked(scored
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"), adc.as("adc_dist")),
      Seq("query_id"), Seq(col("adc_dist"), col("vec_id")), Seq(1, 1),
      struct(col("vec_id"), col("adc_dist")), k, "rank")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("adc_dist"), col("rank"))
  }

  /** G23: IVF∘PQ composed top-k search — Jégou et al.'s IVFADC, the
    * composition that turns PQ from a compressed LINEAR scan ([[pqTopK]]
    * ADC-scores every corpus code for every query) into a billion-scale
    * INDEX: a coarse quantizer routes vectors into `nlist` cells
    * (inverted lists); a query probes only its `nprobe` closest cells
    * and ADC-scores just those cells' codes. Per-query work drops from
    * n to ≈ n·nprobe/nlist while storage stays m codes/vector.
    *
    * Coarse side = the FIXED quantizer contract of `sim_topk_ivf_fixed`
    * (cells = the first `nlist` vectors, assignment by deterministic
    * cosine argmax with (cs DESC, cid ASC) ties) so cell routing is
    * plain column algebra the oracle replays; fine side = the SAME
    * trained codebook as [[pqCodes]]/[[pqTopK]] ([[pqCodebookSeq]] —
    * train and search can never drift) with the all-int64 ADC
    * arithmetic: LUT entries, sums and the (adc ASC, vec_id ASC)
    * ranking carry zero float-summation assumptions.
    *
    * Plan shape (round 13): the stored index is the (cell, vec_id, cp)
    * code table, built in ONE zero-shuffle projection (cell routing
    * AND code assignment are both literal-codebook codegen — the r12
    * shape paid an explode + broadcast join + keyed aggregation); at
    * deployment scale it persists BUCKETED ON `cell` (the
    * inverted-list layout), built once per corpus. Search joins the
    * broadcast (cell, query, lut) probe frame BY CELL — a broadcast
    * HASH join, so unprobed cells' codes never reach scoring — and
    * pays the same single bounded-rank exchange as [[pqTopK]]. The
    * coarse centroids and the codebook init share ONE prefix collect
    * ([[embPrefix]]), so the composed index launches no more jobs
    * than the exhaustive scan despite carrying the extra model.
    */
  def ivfPqTopK(s: SparkSession, emb: DataFrame, queries: DataFrame, k: Int,
                nlist: Int = 8, nprobe: Int = 4, m: Int = 4, dsub: Int = 16,
                ksub: Int = 4, iters: Int = 2): DataFrame = {
    withCosine(s)
    val prefix = embPrefix(emb, math.max(nlist, ksub))
    val coarse = prefix.take(nlist)
    // per-cent (cosine, -cid) score structs; struct ORDER = (cs DESC,
    // cid ASC) — the G17 deterministic tie rule. The CORPUS-side cell
    // pick is an UNROLLED `greatest` over nlist structs (plain
    // codegen'd expressions — a transform() lambda would drop the
    // whole corpus projection to interpreted eval); the query side
    // (tiny) sorts the same structs as an array for its nprobe list.
    def centCos(cvec: Seq[Float]): Column = GraftBridge.column(
      CosineSimilarity(GraftBridge.expression(col("embedding")),
        GraftBridge.expression(typedLit(cvec))))
    val scoreStructs = coarse.map { case (cid, cvec) =>
      struct(centCos(cvec), lit(-cid)) }
    val cellOf = (-greatest(scoreStructs: _*).getField("col2")).as("cell")
    val scores = array(scoreStructs: _*)
    val cents = pqCodebookSeq(emb, m, dsub, ksub, iters, prefix)
    // the stored index: (cell, vec_id, cp) in ONE map-side projection
    val codes = emb.select(col("vec_id"), cellOf,
      pqEncodeCol(cents, m, dsub).getField("pos").as("cp"))
    // probe frame: each query's top-nprobe cells (an in-row sort of
    // the nlist-long score array) exploded to (cell, query, lut) rows
    // — queries × nprobe rows, each carrying the query's whole LUT,
    // so the code table pays ONE broadcast hash join keyed on cell
    val probeLut = queries
      .select(col("vec_id").as("query_id"),
        explode(slice(reverse(array_sort(scores)), 1, nprobe)).as("__s"),
        pqLutCol(cents, m, dsub).as("lut"))
      .select(col("query_id"), (-col("__s.col2")).as("cell"), col("lut"))
    adcRank(codes.join(broadcast(probeLut), Seq("cell")), m, k)
  }

  /** G19c: PQ search with exact re-ranking — Jégou et al.'s "+R"
    * refinement (IVFADC+R): the ADC scan is cheap but lossy (each
    * corpus vector is m codes), so retrieve a SHORTLIST of
    * `kShort` > k candidates by ADC distance, fetch just those
    * candidates' true vectors, re-score them with the EXACT
    * quantized squared-L2 (full 64-dim, the same round(v·2²⁰) int64
    * arithmetic as the codebook — zero float-summation assumptions),
    * and emit the top k of the re-ranked shortlist. Recall at k
    * strictly dominates raw [[pqTopK]] whenever the true neighbor is
    * in the shortlist but ADC mis-orders it — `sim_recall_matrix`
    * grades exactly that gap (pq_rerank vs pq rows).
    *
    * Plan shape — the scale story is that the refinement touches
    * corpus floats only for queries×kShort rows: the shortlist is a
    * tiny broadcast, so the candidate fetch is ONE pass over the
    * stored embeddings (broadcast hash join, no shuffle), query
    * vectors fold in as a second tiny broadcast, and the final top-k
    * is the same BOUNDED [[graft.functions.BoundedTopK]] exchange as
    * [[pqTopK]] — ≤ k rows per query per partition. At deployment
    * scale this is the standard billion-vector memory ladder: codes
    * in RAM for the scan, full vectors on slower storage touched
    * kShort-per-query times.
    */
  def pqRerankTopK(s: SparkSession, emb: DataFrame, queries: DataFrame,
                   k: Int, kShort: Int, m: Int = 4, dsub: Int = 16,
                   ksub: Int = 4, iters: Int = 2): DataFrame = {
    require(kShort >= k, s"shortlist $kShort must be >= k=$k")
    val short = pqTopK(s, emb, queries, kShort, m, dsub, ksub, iters)
      .select(col("query_id"), col("neighbor_id"), col("adc_dist"))
    val cand = emb
      .select(col("vec_id").as("neighbor_id"),
        col("embedding").cast("array<double>").as("n_emb"))
      .join(broadcast(short), Seq("neighbor_id"))
    val qemb = queries.select(col("vec_id").as("query_id"),
      col("embedding").cast("array<double>").as("q_emb"))
    val exact = cand.join(broadcast(qemb), Seq("query_id"))
      .withColumn("d2", aggregate(
        zip_with(col("n_emb"), col("q_emb"),
          (x, y) => (pqQ(x) - pqQ(y)) * (pqQ(x) - pqQ(y))),
        lit(0L), (acc, x) => acc + x))
    // (d2 ASC, neighbor_id ASC) re-rank — d2 ties possible for
    // duplicate vectors, so determinism rests on the id tiebreak
    BoundedTopK.ranked(exact, Seq("query_id"),
      Seq(col("d2"), col("neighbor_id")), Seq(1, 1),
      struct(col("neighbor_id"), col("adc_dist"), col("d2")), k, "rank")
      .select(col("query_id"), col("neighbor_id"), col("adc_dist"),
        col("d2"), col("rank"))
  }

  /** G24: hybrid sparse+dense retrieval via reciprocal-rank fusion —
    * the standard production composition (Cormack et al.'s RRF; every
    * hybrid-search engine ships it): a BM25 keyword leg and a dense
    * cosine leg each produce a bounded top-kLeg ranking, and a
    * document's fused score is Σ_legs 1/(c + rank). Rank fusion beats
    * score fusion because BM25 scores and cosines are incommensurable
    * — ranks need no calibration.
    *
    * Contributions are INTEGER micro-units (⌊10⁹/(c+rank)⌋ via int64
    * DIV — [[rrfTerm]], the term `$rankFusion` sums too), a missing leg
    * contributes 0 (rank columns COALESCE to 0 = "not retrieved by
    * this leg"; the legs meet in a full-outer join rather than
    * `$rankFusion`'s union because the output carries each leg's
    * rank), and the final ordering is (rrf_micro DESC, doc_id) —
    * hash-exact end to end; the only float anywhere is inside each
    * leg's own already-oracle-checked ranking.
    *
    * Plan shape: both legs are the EXISTING bounded searches (BM25's
    * TakeOrdered, brute-force cosine's broadcast scan) so the fusion
    * itself touches ≤ 2·kLeg rows — the full-outer join and the rank
    * window are driver-tiny by construction, and at deployment scale
    * the legs stay the distributed parts (any leg upgrade — IVFADC
    * for dense, an inverted index for sparse — drops in behind the
    * same (doc_id, rank) contract).
    */
  def hybridRrf(s: SparkSession, docs: DataFrame, emb: DataFrame,
                terms: Seq[String], queryVec: Long, kLeg: Int = 20,
                k: Int = 10, c: Int = 60): DataFrame = {
    val sparse = TextAnalysis.bm25(docs, "doc_id", "text", terms, kLeg)
      .withColumn("bm25_rank", row_number().over(
        Window.orderBy(col("score").desc, col("id"))))
      .select(col("id").as("doc_id"), col("bm25_rank"))
    val dense = bruteForceTopK(s, emb,
        emb.filter(col("vec_id") === queryVec), kLeg)
      .select(col("neighbor_id").as("doc_id"), col("rank").as("dense_rank"))
    val fused = sparse.join(dense, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("bm25_rank"), lit(0)).as("bm25_rank"),
        coalesce(col("dense_rank"), lit(0)).as("dense_rank"))
    def term(rank: String): Column =
      when(col(rank) > 0, rrfTerm(1L, c, rank)).otherwise(lit(0L))
    rankWithin(fused.withColumn("rrf_micro", term("bm25_rank") + term("dense_rank")),
      Nil, Seq(col("rrf_micro").desc, col("doc_id")), k, "rank")
  }

  /** G20: corpus mean-centering diagnostics — retrieval embeddings
    * cluster around a dominant mean direction (anisotropy); centering
    * is the standard preprocessing before cosine search/whitening
    * (all-but-the-top). Emits, per vector: its cosine to the corpus
    * mean and its centered norm — the two readouts that size how much
    * centering changes a corpus.
    *
    * The mean accumulates per-dimension as round(v·2²⁰) int64 (the
    * G17/G2b exact order-free trick) through ONE vector-summed
    * aggregate ([[graft.functions.VecSumAgg]] — a single Array[Long]
    * buffer per partition, no per-dim row inflation), snaps to float,
    * and broadcasts back as a single 64-float row; both outputs are
    * then zero-shuffle map-side expressions over the embedding scan.
    * The centered norm is integer-exact (the G19 quantized-L2 form:
    * Σ(round(x·2²⁰)−round(μ·2²⁰))² in int64, sqrt once at the end),
    * so it carries no fold-order assumption; cos_mean carries G1's
    * raw-double cosine parity.
    */
  def centeredStats(s: SparkSession, emb: DataFrame): DataFrame = {
    withCosine(s)
    val Scale = 1048576.0
    def q(c: Column): Column = round(c * lit(Scale)).cast("long")
    val mean = emb
      .groupBy()
      .agg(vecSum(col("embedding"), Scale).as("__s"),
        count(col("embedding")).as("__n"))
      .select(transform(col("__s"), sc =>
        (sc.cast("double") / (col("__n") * lit(Scale))).cast("float"))
        .as("mvec"))
    val dq = aggregate(
      zip_with(col("embedding"), col("mvec"),
        (x, y) => (q(x) - q(y)) * (q(x) - q(y))),
      lit(0L), (acc, x) => acc + x)
    emb.crossJoin(broadcast(mean))
      .select(col("vec_id"),
        // + 0.0 canonicalizes IEEE negative zero: a cosine rounding to
        // -0.0 would otherwise string-render differently across engines
        (expr("round(cosine_sim(embedding, mvec), 4)") + lit(0.0))
          .as("cos_mean"),
        round(sqrt(dq.cast("double")) / lit(Scale), 4).as("norm_c"))
  }

  /** F8d: EMBEDDING-space benchmark decontamination — the semantic
    * sibling of the n-gram (F8), band (F8b) and span (F8c)
    * decontaminators: a corpus vector is contaminated when its cosine
    * to ANY benchmark vector in the same label cell reaches `tau`
    * (paraphrased benchmark items that shed every n-gram overlap
    * still land next to the original in embedding space — the gap the
    * text-side decontaminators can't close). Emits one row per
    * contaminated corpus vector: (vec_id, n_hits, max_cos).
    *
    * Scale shape: the BENCHMARK side is small by nature (eval sets,
    * not corpora), so it BROADCASTS — the corpus never shuffles, and
    * the pair volume is |corpus ∩ cell| · |bench ∩ cell|, linear in
    * the corpus. This is deliberately the reverse of F6's symmetric
    * pair join: decontamination has an asymmetric small side and the
    * plan should say so.
    */
  def deconEmbed(s: SparkSession, corpus: DataFrame, bench: DataFrame,
                 tau: Double): DataFrame = {
    withCosine(s)
    val c = corpus.select(col("label"), col("vec_id"),
      col("embedding").as("__ec"))
    val b = bench.select(col("label"), col("vec_id").as("__bid"),
      col("embedding").as("__eb"))
    c.join(broadcast(b), Seq("label"))
      .filter(col("vec_id") =!= col("__bid"))
      .withColumn("cos_r", expr("round(cosine_sim(__ec, __eb), 4)"))
      .filter(col("cos_r") >= tau)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_hits"), max(col("cos_r")).as("max_cos"))
  }

  /** F6: embedding near-dup pairs, blocked by label (the coarse
    * quantizer an IVF index would give): pairs only form inside a
    * label partition — one shuffle on label, never all-pairs.
    */
  def nearDupPairs(s: SparkSession, emb: DataFrame, tau: Double): DataFrame =
    cosinePairs(s, emb, "vec_id", "embedding", "label", tau)

  /** `(block, a, b, cos_r)` pairs (a < b) of `rows` whose cosine ≥ tau. */
  private def cosinePairs(s: SparkSession, rows: DataFrame, idCol: String,
                          embCol: String, block: String, tau: Double): DataFrame = {
    withCosine(s)
    val cos = expr(s"round(cosine_sim(x.$embCol, y.$embCol), 4)")
    NearDup.blockedSelfJoin(rows, idCol, Seq(block), cos >= tau)
      .select(col(s"x.$block").as(block), col(s"x.$idCol").as("a"),
        col(s"y.$idCol").as("b"), cos.as("cos_r"))
  }

  /** F6 over an exact-duplicate-collapsed corpus (the duplicate-dense
    * guard, mirroring [[Dedup.ngramJaccardCollapsed]]): identical
    * (label, vector) rows collapse to their min-id representative
    * first, so cosine pair volume is quadratic only in DISTINCT
    * vectors per label cell, not in the copy factor. Each emitted pair
    * carries both collapsed group sizes (`n_a`, `n_b`) — it stands for
    * n_a·n_b underlying pairs. The collapse is [[NearDup.collapse]],
    * `groupBy(label, embedding).agg(min_by(struct(*), id), count)` —
    * never a vector-partitioned window — then the usual label-blocked
    * pair join. At 100 TB the
    * collapse key would be a 128-bit content hash of the vector
    * rather than the 64-float vector itself (narrower shuffle rows,
    * collision-negligible); here the raw vector keeps the oracle
    * byte-exact.
    */
  def nearDupPairsCollapsed(s: SparkSession, emb: DataFrame, tau: Double): DataFrame = {
    val reps = NearDup.collapse(emb, "vec_id", Seq("label", "embedding"),
      emb.columns.toSeq)
    NearDup.withMembers(nearDupPairs(s, reps.drop("n_members"), tau),
      reps, "vec_id", "a" -> "n_a", "b" -> "n_b")
  }

  /** G22: label-blocked kNN GRAPH over collapsed distinct vectors —
    * the graph-construction step cluster-aware curation runs
    * (SemDeDup's neighbor structure, diversity audits, graph-based
    * dedup): each DISTINCT (label, embedding) representative gets its
    * top-k most-similar representatives within its coarse cell, with
    * both collapsed group sizes attached (a row stands for
    * n_id·n_nbr underlying vector pairs).
    *
    * Collapse-first is the F10 duplicate-dense guard applied to
    * graph building: pair volume is quadratic in DISTINCT contents
    * per cell, never in the copy factor — the collapsed graph is
    * copy-factor INVARIANT, which is also what makes it replayable
    * at scaled decades. Per-rep state is the [[graft.functions.BoundedTopK]]
    * aggregate (≤ k entries per group at every stage — map-side
    * partials ship k rows per rep, the dedup_ngram_topk contract),
    * never a window over the full pair set.
    */
  def knnGraph(s: SparkSession, emb: DataFrame, k: Int = 3): DataFrame = {
    withCosine(s)
    val reps = NearDup.collapse(emb, "vec_id", Seq("label", "embedding"))
    val a = reps.select(col("label"), col("vec_id").as("id"),
      col("embedding").as("ea"), col("n_members").as("n_id"))
    val b = reps.select(col("label"), col("vec_id").as("nbr"),
      col("embedding").as("eb"), col("n_members").as("n_nbr"))
    val scored = a.join(b, Seq("label"))
      .filter(col("id") =!= col("nbr"))
      .withColumn("cos_r", expr("round(cosine_sim(ea, eb), 4)"))
    BoundedTopK.ranked(scored, Seq("id", "n_id"),
      Seq(col("cos_r"), col("nbr")), Seq(-1, 1),
      struct(col("nbr"), col("cos_r"), col("n_nbr")), k, "rk")
      .select(col("id").as("vec_id"), col("rk"), col("nbr"), col("cos_r"),
        col("n_id"), col("n_nbr"))
  }

  /** E23: cell-blocked kNN candidate edges from `a`'s vertices to
    * same-cell candidates in `b`, pruned per SOURCE vertex to its
    * top-k — the incremental-graph building block: a batch shard
    * stores `cellKnnEdges(new, standing ∪ new) ∪ cellKnnEdges(
    * standing, new)` and the union of shards provably contains every
    * edge of the true graph (a vertex's final top-k can only draw
    * from its birth candidates and later arrivals, and an edge
    * outranked at write time — below its source's per-shard top-k —
    * is outranked forever: scores never change, candidates only
    * accumulate). Inputs carry (idCol, cell, embCol); per-source
    * state is the BoundedTopK aggregate, ≤ k entries at every stage.
    */
  def cellKnnEdges(s: SparkSession, a: DataFrame, b: DataFrame,
                   idCol: String, embCol: String, k: Int): DataFrame = {
    require(k > 0, s"cellKnnEdges k must be positive: $k")
    withCosine(s)
    val av = a.select(col("cell"), col(idCol).as("id"),
      col(embCol).as("__ea"))
    val bv = b.select(col("cell"), col(idCol).as("nbr"),
      col(embCol).as("__eb"))
    val scored = av.join(bv, Seq("cell"))
      .filter(col("id") =!= col("nbr"))
      .withColumn("cos_r", expr("round(cosine_sim(__ea, __eb), 4)"))
    val best = BoundedTopK.column(Seq(col("cos_r"), col("nbr")), Seq(-1, 1),
      struct(col("nbr"), col("cos_r")), k)
    scored.groupBy(col("id")).agg(best.as("top"))
      .select(col("id"), explode(col("top")).as("__e"))
      .select(col("id"), col("__e.nbr").as("nbr"), col("__e.cos_r").as("cos_r"))
  }

  /** E23: rank candidate edges into the top-k graph — the READ side
    * of the incremental edge store (and the final step of the batch
    * reference [[cellKnnGraph]]): per source vertex, the k best
    * (cos_r DESC, nbr ASC) candidates, emitted best-first with
    * ranks. Assumes each (id → nbr) candidate appears once (the
    * shard-writing discipline: a pair is written by the batch of its
    * younger endpoint, exactly once).
    */
  def knnFromEdges(edges: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"knnFromEdges k must be positive: $k")
    BoundedTopK.ranked(edges, Seq("id"), Seq(col("cos_r"), col("nbr")),
      Seq(-1, 1), struct(col("nbr"), col("cos_r")), k, "rk")
  }

  /** E23 batch reference: the cell-blocked kNN graph computed in one
    * pass over a standing (id, cell, embedding) index — what the
    * incremental shard union must reproduce exactly.
    */
  def cellKnnGraph(s: SparkSession, idx: DataFrame, idCol: String,
                   embCol: String, k: Int): DataFrame =
    knnFromEdges(cellKnnEdges(s, idx, idx, idCol, embCol, k), k)

  /** G31: graph-walk ANN — greedy BEAM SEARCH over the G22 kNN graph,
    * the HNSW/DiskANN search pattern expressed declaratively: the
    * index is the label-blocked collapsed kNN graph (one edge list
    * per distinct-vector representative), entries are each label
    * component's min-id representative (multi-entry — the blocked
    * graph is disconnected across labels by design, so one entry per
    * component reaches everything reachable), and each of `rounds`
    * fixed expansion rounds scores the beam's out-neighbors and keeps
    * the best `beamWidth` visited nodes per query. The answer is the
    * top-k of everything VISITED (minus the query itself) — greedy
    * search never rescans the corpus: per query per round the work is
    * ≤ beamWidth·graphK candidate scorings.
    *
    * Scale: the graph build is G22's (collapse-first, banded by
    * label, BoundedTopK state); the search is `rounds` equi-join
    * hops — beam ⋈ edges (graph side checkpointed once) then a
    * vec_id-keyed join to fetch candidate vectors — with Q·beamWidth
    * rows of per-query state, never a corpus scan. Ties break
    * (cos_r DESC, node ASC) everywhere, so the walk is deterministic
    * on any partitioning. Visited-set dedup is an exact groupBy
    * (scores are round-4 cosines — identical for identical pairs).
    *
    * Output: (query_id, neighbor_id, cos_r, rank) best-first —
    * recall vs the exact scan is measured in SimilaritySpec and is a
    * function of graph degree, beam width, and rounds (the
    * HNSW/DiskANN trade dial).
    */
  def graphTopK(s: SparkSession, emb: DataFrame, queries: DataFrame,
                k: Int = 5, beamWidth: Int = 16, rounds: Int = 4,
                graphK: Int = 8): DataFrame = {
    require(k > 0 && beamWidth > 0 && rounds >= 0,
      s"graphTopK needs k > 0, beamWidth > 0, rounds >= 0")
    withCosine(s)
    val edges = knnGraph(s, emb, graphK)
      .select(col("vec_id").as("node"), col("nbr").as("dst"))
      .cutLineage(eager = false)
    val reps = emb.groupBy(col("label"), col("embedding"))
      .agg(min(col("vec_id")).as("vec_id"))
      .cutLineage(eager = false)
    val entries = reps.groupBy(col("label"))
      .agg(min(col("vec_id")).as("node")).select(col("node"))
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("__q"))
    val repVecs = reps.select(col("vec_id").as("node"),
      col("embedding").as("__e"))
    def score(cand: DataFrame): DataFrame = cand
      .join(repVecs, Seq("node"))
      .join(q, Seq("query_id"))
      .withColumn("cos_r", expr("round(cosine_sim(__q, __e), 4)"))
      .select(col("query_id"), col("node"), col("cos_r"))
    def beamOf(visited: DataFrame): DataFrame = {
      val best = BoundedTopK.column(Seq(col("cos_r"), col("node")),
        Seq(-1, 1), col("node"), beamWidth)
      visited.groupBy(col("query_id")).agg(best.as("top"))
        .select(col("query_id"), explode(col("top")).as("node"))
    }
    var visited = score(q.select(col("query_id")).crossJoin(entries))
      .cutLineage(eager = false)
    (1 to rounds).foreach { _ =>
      val expand = beamOf(visited).join(edges, Seq("node"))
        .select(col("query_id"), col("dst").as("node")).distinct()
      visited = visited.unionByName(score(expand))
        .groupBy(col("query_id"), col("node"))
        .agg(max(col("cos_r")).as("cos_r"))
        .cutLineage(eager = false)
    }
    BoundedTopK.ranked(visited.filter(col("node") =!= col("query_id")),
      Seq("query_id"), Seq(col("cos_r"), col("node")), Seq(-1, 1),
      struct(col("node"), col("cos_r")), k, "rank")
      .select(col("query_id"), col("node").as("neighbor_id"), col("cos_r"),
        col("rank"))
  }

  /** G13: deterministic negative sampling for contrastive training:
    * k pseudo-random partners per anchor via the shared 60-bit hash
    * (`hash60(anchor + "-" + draw) mod N`), self-pairs and same-label
    * pairs filtered (the standard "in-batch negatives, different
    * class" draw) — identical picks on any cluster/partitioning/
    * retry, unlike `rand(seed)`. Cost: the anchor set fans out ×k,
    * then ONE equi-join on the partner id brings in the negative's
    * row; N folds in as a broadcast 1-row aggregate. Draws landing
    * on id gaps simply drop (ids need not be dense) — callers get
    * ≤ k negatives per anchor, deterministically.
    */
  def negativeSamples(emb: DataFrame, k: Int): DataFrame = {
    import graft.functions.Hash60.hash60
    require(k > 0, s"negativeSamples k must be positive: $k")
    val nv = broadcast(emb.agg((max(col("vec_id")) + 1).as("__nv")))
    val anchors = emb.select(col("vec_id").as("anchor"), col("label").as("a_label"))
      .crossJoin(nv)
      .withColumn("draw", explode(sequence(lit(1), lit(k))))
      .withColumn("partner",
        hash60(concat(col("anchor").cast("string"), lit("-"),
          col("draw").cast("string"))) % col("__nv"))
    anchors.join(emb.select(col("vec_id"), col("label")),
        col("vec_id") === col("partner"))
      .filter(col("vec_id") =!= col("anchor") &&
        col("label") =!= col("a_label"))
      .select(col("anchor"), col("draw"),
        col("vec_id").as("negative"), col("label").as("neg_label"))
  }

  /** F9: SemDeDup-style semantic dedup, end to end: cosine near-dup
    * pairs from the label-blocked pass ([[nearDupPairs]] — pairs only
    * form inside a coarse-quantizer cell, never all-pairs), connected
    * components over the pair graph (star contraction, O(log²)
    * rounds), min-id survivor per component. One row per clustered
    * vector: its cluster root and whether it's the kept
    * representative. Vectors with no near-dup don't appear (they are
    * trivially kept). Every stage is the bounded-shuffle shape its
    * standalone operator already audits.
    */
  def semanticDedup(s: SparkSession, emb: DataFrame, tau: Double): DataFrame = {
    val pairs = nearDupPairs(s, emb, tau).select(col("a"), col("b"))
    Pipeline100TB.connectedComponentsStar(pairs)
      .select(col("doc_id").as("vec_id"), col("cluster"),
        NearDup.isSurvivor(col("doc_id"), col("cluster")).as("keep"))
  }

  /** G21b: ANN recall@k read-out — the evaluation every production
    * deployment tunes its index knobs (nlist/nprobe, planes, cands,
    * quantization width) against: each approximate strategy's top-k
    * is scored against the exact brute-force top-k on the same
    * corpus/query frame, micro-averaged over all (query, truth-
    * neighbor) pairs. One row per strategy: hits, truth size,
    * recall = hits/truth.
    *
    * Shape: every strategy pipeline runs once, their (strategy,
    * query_id, neighbor_id) picks union; ONE broadcast semi-join
    * against the truth set scores all strategies together (truth is
    * queries×k rows — tiny), and the readout aggregates to
    * |strategies| rows. The dominant cost is intentionally the
    * strategies themselves; at a real deployment scale the truth
    * frame (one brute-force pass) would persist — it is exactly the
    * ground-truth sample such evaluations maintain.
    *
    * Strategy set = the repo's eleven ANN paths at their registry
    * parameterizations, all evaluated at the same k: exact
    * error-bounded pruning (must recall 1.0 by construction), int8
    * quantized scan, Matryoshka truncated-prefix rerank, trained
    * IVF, fixed-quantizer IVF, hyperplane LSH, exhaustive PQ ADC,
    * the composed IVF∘PQ index ([[ivfPqTopK]]), its exact-re-rank
    * refinement ([[pqRerankTopK]]), the 1-bit sign/Hamming scan
    * ([[hammingTopK]]), and its exact-re-rank funnel
    * ([[hammingRerankTopK]]).
    */
  def recallMatrix(s: SparkSession, emb: DataFrame, queries: DataFrame,
                   k: Int = 3): DataFrame = {
    import s.implicits._
    // r17 input seams: every one of the 11 strategies (and their
    // codebook/centroid collect jobs during construction) scans the
    // SAME embedding and query frames — persist them once and the 60
    // residual per-strategy parquet re-scans become cache reads. The
    // strategies stay independent operators (no signature coupling);
    // the sharing is plan-level via the cached subtree.
    val embS = graft.Seams.seam(emb)
    val qS = graft.Seams.seam(queries)
    // Reuse seam: truth feeds the hit semi-join AND the n_truth
    // count — one brute-force pass instead of two.
    val truth = bruteForceTopK(s, embS, qS, k)
      .select(col("query_id"), col("neighbor_id"))
      .seamed
    val strategies: Seq[(String, DataFrame)] = Seq(
      "exact_pruned" -> exactPrunedTopK(s, embS, qS, k),
      "int8" -> int8TopK(s, embS, qS, k),
      "truncated" -> truncatedTopK(s, embS, qS, dPrefix = 16,
        cands = 20, k = k),
      "ivf" -> ivfTopK(s, embS, qS, k),
      "ivf_fixed" -> ivfTopK(s, embS, qS, k, iters = 0),
      "lsh" -> lshTopK(s, embS, qS, k, planes = 8),
      "pq" -> pqTopK(s, embS, qS, k),
      "ivfpq" -> ivfPqTopK(s, embS, qS, k),
      "pq_rerank" -> pqRerankTopK(s, embS, qS, k, kShort = 15),
      "hamming" -> hammingTopK(s, embS, qS, k),
      "hamming_rerank" -> hammingRerankTopK(s, embS, qS, k, kShort = 15))
    val picks = strategies.map { case (nm, df) =>
      df.select(lit(nm).as("strategy"), col("query_id"), col("neighbor_id"))
    }.reduce(_.unionAll(_))
    val hitCounts = picks
      .join(broadcast(truth), Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("strategy")).agg(count(lit(1)).as("n_hit"))
    val nTruth = broadcast(truth.agg(count(lit(1)).as("n_truth")))
    strategies.map(_._1).toDF("strategy")
      .join(hitCounts, Seq("strategy"), "left")
      .crossJoin(nTruth)
      .select(col("strategy"), col("n_truth"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)).cast("double") /
          col("n_truth"), 6).as("recall"))
  }

  /** Per-label exact centroids (the G17 build, shared so the
    * incremental gate can never drift from the assignment oracle):
    * scaled-int64 vector sums, float-snapped means — one tiny
    * (c_label, c_emb) row per label.
    */
  def labelCentroids(emb: DataFrame): DataFrame = {
    val Scale = 1048576.0 // 2^20: exact int64 accumulation, order-free
    emb
      .groupBy(col("label"))
      .agg(vecSum(col("embedding"), Scale).as("__s"),
        count(col("embedding")).as("__n"))
      .select(col("label").as("c_label"),
        transform(col("__s"),
          sc => (sc.cast("double") / Scale / col("__n"))
            .cast("float")).as("c_emb"))
  }

  /** G17: nearest-centroid assignment — the cluster-assignment step
    * of every clustering-based curation pass (cluster-balanced
    * mixtures, SemDeDup's cluster stage, IVF coarse quantization)
    * as a standalone oracle-checked operator: per-label centroids
    * from the corpus, every vector re-assigned to its most-similar
    * centroid, with the true label kept for a purity read-out.
    *
    * Centroids accumulate per-dimension as scaled int64
    * (`round(v·2²⁰)` — G2b's exact, order-free trick), so the model
    * is bit-identical on any partitioning; the mean is divided back
    * out once and SNAPPED TO FLOAT32, which both engines replicate
    * exactly (round-to-nearest), keeping the cosine inputs
    * bit-equal. Assignment is the IVF search shape: centroids are a
    * tiny broadcast (one row per label), the embedding table streams
    * ONCE through a codegen cosine loop with no shuffle, and the
    * per-vector argmax is a map-side `max_by` over the struct order
    * (cos_r DESC, label ASC) — deterministic ties, no window, no
    * row explosion surviving past the partial aggregate.
    *
    * The per-dim accumulation is the vector-summing
    * [[graft.functions.VecSumAgg]]: one Array[Long] buffer per label
    * per partition, map-side combined — the corpus never inflates
    * into per-dimension rows, and the (only) shuffle carries
    * |labels|·partitions fixed-size buffers.
    */
  def centroidAssign(s: SparkSession, emb: DataFrame): DataFrame = {
    withCosine(s)
    // vector-summed centroid build: one Array[Long] buffer per label,
    // map-side combined — no 64× posexplode row inflation; identical
    // Σ round(v·2²⁰) sums and float-snapped means
    val cents = labelCentroids(emb)
    emb.join(broadcast(cents))
      .withColumn("cos_r", expr("round(cosine_sim(embedding, c_emb), 4)"))
      .groupBy(col("vec_id"))
      .agg(
        first(col("label")).as("label"),
        max_by(struct(col("cos_r"), (-col("c_label")).as("__nl")),
          struct(col("cos_r"), (-col("c_label")).as("__nl"))).as("__w"))
      .select(col("vec_id"), col("label"),
        (-col("__w.__nl")).as("assigned"), col("__w.cos_r").as("cos_r"))
      .withColumn("correct", col("label") === col("assigned"))
  }

  /** Nearest-centroid cell assignment under a FIXED centroid frame —
    * the coarse-quantizer step of the incremental semantic gate:
    * unlike [[centroidAssign]] (which trains centroids from its own
    * input), the centroids here are a standing model, so a batch's
    * cells do not depend on the batch. Deterministic argmax:
    * (cos_r DESC, c_label ASC), the G17 tie rule.
    */
  def assignCells(s: SparkSession, vecs: DataFrame, cents: DataFrame,
                  idCol: String = "vec_id",
                  embCol: String = "embedding"): DataFrame = {
    withCosine(s)
    vecs.select(col(idCol), col(embCol)).join(broadcast(cents))
      .withColumn("cos_r",
        expr(s"round(cosine_sim($embCol, c_emb), 4)"))
      .groupBy(col(idCol))
      .agg(
        first(col(embCol)).as(embCol),
        max_by(struct(col("cos_r"), (-col("c_label")).as("__nl")),
          struct(col("cos_r"), (-col("c_label")).as("__nl"))).as("__w"))
      .select(col(idCol), (-col("__w.__nl")).as("cell"), col(embCol))
  }

  /** F17: INCREMENTAL semantic dedup — the embedding-side twin of the
    * F12/F14 incremental gates: a batch of vectors is scored against
    * a STANDING semantic index (previously accepted vectors with
    * their centroid-cell assignments, persisted bucketed on `cell`)
    * instead of re-running SemDeDup over the whole corpus.
    *
    *   1. assign each batch vector to its nearest standing centroid
    *      ([[assignCells]] — the coarse quantizer is a fixed model,
    *      so assignment is batch-independent);
    *   2. VETO batch vectors with cosine ≥ tau to ANY standing index
    *      row in the same cell (duplicate of accepted content — the
    *      F14 band-veto move, with cells as the blocking key);
    *   3. SemDeDup the survivors batch-internally per cell: near-dup
    *      pairs → connected components → min-id representative.
    *
    * Emits one row per batch vector: (id, cell, survivor, status)
    * with status ∈ vetoed | keep | collapsed (survivor is NULL for
    * vetoed, the CC root otherwise). Advance the index by unioning
    * the kept rows' (id, cell, embedding).
    *
    * Scale: batch-sized assignment (centroids broadcast); ONE
    * cell-keyed join against the index — persist the index bucketed
    * on `cell` ([[Dedup.persistIndexBucketed]]'s move) and only the
    * batch shuffles; pair generation and CC run over the BATCH only.
    * Never corpus-sized work, never an all-pairs pass.
    */
  def incrementalSemantic(s: SparkSession, batch: DataFrame,
                          index: DataFrame, cents: DataFrame, tau: Double,
                          idCol: String = "vec_id",
                          embCol: String = "embedding"): DataFrame = {
    // Reuse seams: the batch assignment feeds the veto probe, the
    // kept filter, and the vetoed readout; kept feeds both sides of
    // the pair self-join and the survivor set. Without the seams each
    // consumer re-runs the centroid-broadcast assignment aggregate.
    val b = assignCells(s, batch, cents, idCol, embCol)
      .seamed
    val vet = b.as("b")
      .join(index.as("i"), col("b.cell") === col("i.cell"))
      .filter(expr(s"round(cosine_sim(b.$embCol, i.$embCol), 4)") >= tau)
      .select(col(s"b.$idCol").as(idCol)).distinct()
    val kept = b.join(vet, Seq(idCol), "left_anti")
      .seamed
    val cc = Pipeline100TB.connectedComponents(
      cosinePairs(s, kept, idCol, embCol, "cell", tau))
    val keptOut = NearDup.clusterSurvivors(kept.select(col(idCol), col("cell")),
        idCol, cc)
      .withColumn("status", when(NearDup.isSurvivor(col(idCol), col("survivor")),
        "keep").otherwise("collapsed"))
    val vetoOut = b.join(vet, Seq(idCol), "left_semi")
      .select(col(idCol), col("cell"),
        lit(null).cast("long").as("survivor"), lit("vetoed").as("status"))
    keptOut.unionByName(vetoOut)
  }
}
