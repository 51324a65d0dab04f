package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.sources.TableCatalog
import graft.Seams.SeamOps

/** SURVEY.md §2 groups F/G/H: dedup, similarity, text analysis,
  * multimodal — registered queries + DuckDB oracles. Hash-based
  * oracles replicate the engine's exact md5-60bit scheme (SURVEY §6);
  * the longer SQL (minhash, simhash) is generated programmatically to
  * mirror the Scala constants.
  */
object LlmQueries {

  private def docs(s: SparkSession, dir: String) = TableCatalog(s, dir).documents
  private def emb(s: SparkSession, dir: String) = TableCatalog(s, dir).embeddings

  /** H7c's oracle: one BPE learn-iteration as CTEs — adjacent-pair
    * counts over the symbol table, the (n DESC, lhs, rhs) argmax,
    * then the simultaneous merge application with the run-parity
    * rule for lhs = rhs chains (`bpeLearn`'s plan, window for
    * window).
    */
  private def bpeLearnIter(i: Int): String = {
    val prev = s"sym${i - 1}"
    s"""p$i AS (SELECT w, freq, pos, sym,
       |        lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt
       |      FROM $prev),
       |cnt$i AS (SELECT sym AS lhs, nxt AS rhs, CAST(SUM(freq) AS BIGINT) AS n
       |      FROM p$i WHERE nxt IS NOT NULL GROUP BY 1, 2),
       |top$i AS (SELECT $i AS step, lhs, rhs, n FROM cnt$i
       |      ORDER BY n DESC, lhs, rhs LIMIT 1),
       |mk$i AS (SELECT p.w, p.freq, p.pos, p.sym, p.nxt, t.lhs, t.rhs,
       |        (p.sym = t.lhs AND p.nxt = t.rhs) AS mt
       |      FROM p$i p CROSS JOIN top$i t),
       |mr$i AS (SELECT *, CASE WHEN mt THEN pos - row_number()
       |          OVER (PARTITION BY w, mt ORDER BY pos) END AS rid FROM mk$i),
       |kp$i AS (SELECT *, mt AND (row_number()
       |          OVER (PARTITION BY w, rid ORDER BY pos) % 2 = 1) AS kept
       |      FROM mr$i),
       |dr$i AS (SELECT *, lag(kept) OVER (PARTITION BY w ORDER BY pos) AS pkept
       |      FROM kp$i),
       |sym$i AS (SELECT w, freq,
       |        CAST(row_number() OVER (PARTITION BY w ORDER BY pos) AS INTEGER)
       |          AS pos,
       |        CASE WHEN kept THEN lhs || rhs ELSE sym END AS sym
       |      FROM dr$i WHERE COALESCE(pkept, FALSE) = FALSE)""".stripMargin
  }

  private val bpeLearnSql: String =
    s"""WITH v AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM (
       |       SELECT unnest(string_split_regex(trim(lower(text)), ' +')) AS w
       |       FROM documents) WHERE len(w) > 0 GROUP BY w),
       |s0 AS (SELECT w, freq,
       |       [{'p': CAST(i AS INTEGER), 's': substr(w, CAST(i AS INTEGER), 1)}
       |        for i in generate_series(1, len(w))] AS cs
       |     FROM v),
       |sx AS (SELECT w, freq, unnest(cs, recursive := false) AS c FROM s0),
       |sym0 AS (SELECT w, freq, c.p AS pos, c.s AS sym FROM sx),
       |${bpeLearnIter(1)},
       |${bpeLearnIter(2)},
       |${bpeLearnIter(3)}
       |SELECT * FROM top1 UNION ALL SELECT * FROM top2
       |UNION ALL SELECT * FROM top3""".stripMargin

  /** H20's fixed model: 64 bucket micro-weights (w·10⁶ as int64,
    * w ∈ [-1, 1]) from a Knuth-multiplicative mix of the bucket id —
    * deterministic, reproducible verbatim in the oracle's list
    * literal. A production caller passes a trained vector instead.
    */
  private[graft] val clfWeights: Seq[Long] =
    (0 until 64).map(b => ((b * 2654435761L + 40503L) % 2000001L) - 1000000L)

  /** H22's fixed tokenizer: base vocab a–z 0–9, eight learned merges
    * (each output symbol appears in later rules only — the
    * well-formedness that makes in-order apply ≡ rank-greedy apply).
    * A production caller passes a real learned table instead.
    */
  private[graft] val bpeMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "a" -> "n", "an" -> "d",
    "i" -> "n", "e" -> "r", "o" -> "n", "r" -> "e")
  private[graft] val bpeVocab: Seq[String] =
    (('a' to 'z') ++ ('0' to '9')).map(_.toString) ++
      Seq("th", "the", "an", "and", "in", "er", "on", "re")

  /** Oracle twin of [[graft.functions.BpeEncode]]: recursive CTE over
    * the rule index; each step replays one rule exhaustively via the
    * doubled-separator string-replace trick (`|a||b|` → `|ab|` is a
    * left-to-right non-overlapping scan on both engines). Emits
    * `ids(doc_id, ids)`.
    */
  private def bpeCtes: String = {
    val mergeValues = bpeMerges.zipWithIndex
      .map { case ((a, b), i) => s"($i, '$a', '$b')" }.mkString(", ")
    val vocabMap = bpeVocab.zipWithIndex
      .map { case (t, i) => s"'$t': $i" }.mkString("MAP {", ", ", "}")
    s"""m(i, a, b) AS (SELECT * FROM (VALUES $mergeValues) v(i, a, b)),
       |init AS (SELECT doc_id, array_to_string(list_transform(
       |    string_split_regex(trim(lower(regexp_replace(text, '\\|', ' ', 'g'))), ' +'),
       |    w -> regexp_replace(w, '(.)', '|\\1|', 'g')), ' ') AS state
       |  FROM documents),
       |bpe AS (
       |  SELECT doc_id, state, 0 AS i FROM init
       |  UNION ALL
       |  SELECT bpe.doc_id,
       |    replace(bpe.state, '|'||m.a||'||'||m.b||'|', '|'||m.a||m.b||'|'),
       |    bpe.i + 1
       |  FROM bpe JOIN m ON m.i = bpe.i),
       |fin AS (SELECT doc_id, state FROM bpe WHERE i = ${bpeMerges.length}),
       |ids AS (SELECT doc_id,
       |  CASE WHEN state = '' THEN CAST([] AS INTEGER[])
       |  ELSE list_transform(
       |    string_split(trim(replace(state, ' ', ''), '|'), '||'),
       |    t -> coalesce(($vocabMap)[t][1], -1)) END AS ids
       |  FROM fin)""".stripMargin
  }

  // ——— shared oracle fragments ———

  private val toksCte =
    "SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS toks FROM documents"

  /** bigram shingle postings over a `t(doc_id, toks)` CTE that the
    * caller supplies: (doc_id, sz, shingle)
    */
  private val shingleBody =
    """sh0 AS (SELECT doc_id,
      |  list_distinct([toks[i] || ' ' || toks[i+1]
      |                 for i in generate_series(1, len(toks)-1)]) AS sharr
      |  FROM t),
      |sh AS (SELECT doc_id, len(sharr) AS sz, unnest(sharr) AS shingle
      |       FROM sh0 WHERE len(sharr) > 0)""".stripMargin

  /** bigram shingle postings over the full corpus: (doc_id, sz, shingle) */
  private val shingleCtes =
    s"""t AS ($toksCte),
       |$shingleBody""".stripMargin

  /** the exact PPJoin pair pipeline of `dedup_ngram_jaccard`, as CTEs
    * downstream of `sh0`/`sh` (emits `inter(a, b, sza, szb, i)`)
    */
  private val jaccardPairBody =
    """df AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY 1),
      |rk AS (SELECT s.doc_id, s.sz, s.shingle,
      |         row_number() OVER (PARTITION BY s.doc_id
      |                            ORDER BY d.df, s.shingle) AS rk
      |       FROM sh s JOIN df d USING (shingle)),
      |pref AS (SELECT * FROM rk WHERE rk <= floor(sz - 0.8 * sz) + 1),
      |cand AS (SELECT DISTINCT a.doc_id AS a, a.sz AS sza,
      |                b.doc_id AS b, b.sz AS szb
      |         FROM pref a JOIN pref b
      |           ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |          AND least(a.sz, b.sz) >= 0.8 * greatest(a.sz, b.sz)),
      |hsh AS (SELECT doc_id,
      |          list_sort([CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)
      |                     for s in sharr]) AS h
      |        FROM sh0 WHERE len(sharr) > 0),
      |inter AS (SELECT c.a, c.b, c.sza, c.szb,
      |            len(list_intersect(xa.h, xb.h)) AS i
      |          FROM cand c
      |          JOIN hsh xa ON xa.doc_id = c.a
      |          JOIN hsh xb ON xb.doc_id = c.b)""".stripMargin

  private val hash60Sql = "CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT)"

  private def minhashSigSql: String = {
    val mins = (0 until 16).map { i =>
      s"MIN((hm * ${1 + 7 * i} + ${13 + 11 * i}) % 2147483647) AS h$i"
    }.mkString(",\n    ")
    s"""h AS (SELECT doc_id, $hash60Sql % 2147483647 AS hm FROM sh),
       |sig AS (SELECT doc_id,
       |    $mins
       |  FROM h GROUP BY doc_id)""".stripMargin
  }

  private def bandKeysSql: String =
    (0 until 4).map { b =>
      val key = (0 until 4).map(j => s"CAST(h${b * 4 + j} AS VARCHAR)")
        .mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, $key AS key FROM sig"
    }.mkString("\nUNION ALL\n")

  private def simhashSql: String = {
    val ws = (0 until 60).map(j =>
      s"SUM(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS w$j")
      .mkString(",\n    ")
    val bits = (0 until 60).map(j =>
      s"CASE WHEN w$j > 0 THEN (CAST(1 AS BIGINT) << $j) ELSE 0 END")
      .mkString(" +\n    ")
    s"""WITH t AS ($toksCte),
       |tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
       |h AS (SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h FROM tok),
       |w AS (SELECT doc_id, $ws FROM h GROUP BY doc_id)
       |SELECT doc_id AS id, $bits AS simhash FROM w""".stripMargin
  }

  private val cosSql =
    "list_cosine_similarity(CAST(%s AS DOUBLE[]), CAST(%s AS DOUBLE[]))"

  private val stopIn = "x -> x IN ('the', 'a', 'of', 'is')"

  /** H19 BM25 replay (k1=1.2, b=0.75, the engine's literal-for-literal
    * formula) — emits the (id, score) top-k; shared by the `text_bm25`
    * oracle and the G24 hybrid-fusion oracle so the sparse leg can
    * never drift between them.
    */
  /** The H17 per-doc score chain as prefix-parameterized CTEs ending
    * in `<p>sc(id, score)` for EVERY doc (no match filter, no limit)
    * — one definition shared by [[bm25Sql]] and the C39b compound
    * oracle, so per-clause scoring can never drift. With p = "" the
    * generated text is byte-identical to the historical bm25Sql body.
    */
  private[graft] def bm25ScoreCtes(terms: Seq[String], p: String): String =
    scoreCtesCustom(terms.map(t =>
      s"len(list_filter(toks, x -> x = '${t.replace("'", "''")}'))"), p)

  /** The generalized virtual-term score chain (round 16):
    * [[bm25ScoreCtes]]' exact CTE shape with caller-supplied per-term
    * tf expressions over `toks` (fuzzy edit-distance counts, analyzer-
    * retokenized counts, …) and an optionally-swapped toks CTE (the
    * analyzer oracle tokenizes differently; the slop oracle supplies a
    * whole relational tf chain instead — see [[slopScoreCtes]]). With
    * the plain-equality tf exprs and the default toks CTE the emitted
    * text is byte-identical to the historical bm25ScoreCtes body, so
    * every existing oracle is unchanged by the refactor.
    */
  private[graft] def scoreCtesCustom(tfExprs: Seq[String], p: String,
                                     toks: String = toksCte): String = {
    val tfs = tfExprs.zipWithIndex.map { case (e, i) =>
      s"CAST($e AS DOUBLE) AS tf$i"
    }.mkString(",\n  ")
    val dfs = tfExprs.indices.map(i =>
      s"CAST(SUM(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df$i")
      .mkString(",\n  ")
    val score = tfExprs.indices.map(i =>
      s"ln(1.0 + (n - df$i + 0.5) / (df$i + 0.5)) * tf$i * 2.2 / " +
        s"(tf$i + 1.2 * (0.25 + 0.75 * dl / (sumdl / n)))")
      .mkString(" + ")
    s"""${p}t AS ($toks),
       |${p}d AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
       |  $tfs
       |  FROM ${p}t),
       |${p}s AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
       |  CAST(CAST(SUM(dl) AS BIGINT) AS DOUBLE) AS sumdl,
       |  $dfs
       |  FROM ${p}d),
       |${p}sc AS (SELECT ${p}d.doc_id AS id, round($score, 6) AS score
       |  FROM ${p}d, ${p}s)""".stripMargin
  }

  /** C39m oracle tf (round 16): the fuzzy virtual term — tokens within
    * `maxEdits` PLAIN Levenshtein edits (DuckDB `levenshtein` ≡ Spark
    * `levenshtein`, both plain — the engine's documented Damerau
    * deviation) with the exact `prefixLength`-char guard.
    */
  private[graft] def fuzzyTfSql(term: String, maxEdits: Int,
                                prefixLength: Int): String = {
    val t = term.replace("'", "''")
    val pre =
      if (prefixLength == 0) ""
      else s"substr(x, 1, $prefixLength) = " +
        s"'${term.take(prefixLength).replace("'", "''")}' AND "
    s"len(list_filter(toks, x -> ${pre}levenshtein(x, '$t') <= $maxEdits))"
  }

  /** C39n oracle (round 16): the slop-phrase score chain. The engine
    * counts starts with a greedy in-order window fold; greedy-succeeds
    * ⟺ any in-order embedding exists (earliest-match exchange
    * argument), so the oracle replays the SAME count relationally:
    * position postings, an m-way ordered join bounded by
    * a0.pos + (m−1)+slop, DISTINCT starts — structurally different
    * implementation, provably the same number. Emits `<p>sc(id, score)`
    * for every doc, like [[bm25ScoreCtes]].
    */
  private[graft] def slopScoreCtes(terms: Seq[String], slop: Int,
                                   p: String): String = {
    require(terms.size >= 2, "a slop phrase needs at least two terms")
    val m = terms.size
    val win = m - 1 + slop
    val joins = (1 until m).map { j =>
      s"  JOIN ${p}p a$j ON a$j.doc_id = a0.doc_id AND " +
        s"a$j.pos > a${j - 1}.pos AND a$j.pos <= a0.pos + $win"
    }.mkString("\n")
    val conds = terms.zipWithIndex.map { case (t, i) =>
      s"a$i.tok = '${t.replace("'", "''")}'"
    }.mkString(" AND ")
    s"""${p}t AS ($toksCte),
       |${p}p AS (SELECT doc_id, unnest(toks) AS tok,
       |  unnest(generate_series(1, len(toks))) AS pos FROM ${p}t),
       |${p}o AS (SELECT a0.doc_id, a0.pos FROM ${p}p a0
       |$joins
       |  WHERE $conds GROUP BY 1, 2),
       |${p}c AS (SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS tf
       |  FROM ${p}o GROUP BY 1),
       |${p}d AS (SELECT t0.doc_id, CAST(len(t0.toks) AS DOUBLE) AS dl,
       |  COALESCE(c0.tf, 0.0) AS tf0
       |  FROM ${p}t t0 LEFT JOIN ${p}c c0 USING (doc_id)),
       |${p}s AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
       |  CAST(CAST(SUM(dl) AS BIGINT) AS DOUBLE) AS sumdl,
       |  CAST(SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0
       |  FROM ${p}d),
       |${p}sc AS (SELECT ${p}d.doc_id AS id,
       |    round(ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5)) * tf0 * 2.2
       |      / (tf0 + 1.2 * (0.25 + 0.75 * dl / (sumdl / n))), 6) AS score
       |  FROM ${p}d, ${p}s)""".stripMargin
  }

  /** C39c oracle: the phrase-as-one-virtual-term BM25 replay — tf is
    * the non-overlapping substring count of the space-delimited
    * phrase in the space-joined token stream (the engine's replace
    * trick, op for op), pushed through the same k1/b formula.
    */
  /** The phrase-as-one-virtual-term score chain as prefix-parameterized
    * CTEs ending in `<p>sc(id, score)` for EVERY doc (no match filter,
    * no limit) — the [[bm25ScoreCtes]] move for the phrase operator, so
    * the standalone ranking and the compound/boost oracles share one
    * chain. With p = "p" the text matches the historical phraseSql body.
    */
  private[graft] def phraseScoreCtes(terms: Seq[String], p: String): String = {
    val needle = " " + terms.mkString(" ") + " "
    s"""${p}t AS ($toksCte),
       |${p}d AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
       |    (len(stream) - len(replace(stream, '$needle', '')))
       |      / ${needle.length} AS tf0
       |  FROM (SELECT doc_id, toks,
       |          ' ' || array_to_string(toks, ' ') || ' ' AS stream
       |        FROM ${p}t) __s),
       |${p}s AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
       |  CAST(CAST(SUM(dl) AS BIGINT) AS DOUBLE) AS sumdl,
       |  CAST(SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0
       |  FROM ${p}d),
       |${p}sc AS (SELECT ${p}d.doc_id AS id,
       |    round(ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5)) * tf0 * 2.2
       |      / (tf0 + 1.2 * (0.25 + 0.75 * dl / (sumdl / n))), 6) AS score
       |  FROM ${p}d, ${p}s)""".stripMargin
  }

  private[graft] def phraseSql(terms: Seq[String], k: Int): String =
    s"""WITH ${phraseScoreCtes(terms, "p")}
       |SELECT id, score FROM psc WHERE score > 0
       |ORDER BY score DESC, id LIMIT $k""".stripMargin

  /** C39d oracle: the autocomplete (token-prefix) virtual-term BM25
    * replay — tf = count of tokens starting with the prefix, then the
    * shared k1/b formula.
    */
  private[graft] def autocompleteSql(prefix: String, k: Int): String =
    s"""WITH at AS ($toksCte),
       |ad AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
       |    CAST(len(list_filter(toks, x -> starts_with(x, '$prefix')))
       |      AS DOUBLE) AS tf0
       |  FROM at),
       |as0 AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
       |  CAST(CAST(SUM(dl) AS BIGINT) AS DOUBLE) AS sumdl,
       |  CAST(SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0
       |  FROM ad),
       |asc0 AS (SELECT ad.doc_id AS id,
       |    round(ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5)) * tf0 * 2.2
       |      / (tf0 + 1.2 * (0.25 + 0.75 * dl / (sumdl / n))), 6) AS score
       |  FROM ad, as0)
       |SELECT id, score FROM asc0 WHERE score > 0
       |ORDER BY score DESC, id LIMIT $k""".stripMargin

  /** C39d oracle: the wildcard (LIKE-glob) virtual-term replay. */
  private[graft] def wildcardSql(likePat: String, k: Int): String = {
    val sqlPat = likePat.replace("'", "''") // same escape class as regexSql
    s"""WITH wt AS ($toksCte),
       |wd AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
       |    CAST(len(list_filter(toks, x -> x LIKE '$sqlPat' ESCAPE '\\'))
       |      AS DOUBLE) AS tf0
       |  FROM wt),
       |ws0 AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
       |  CAST(CAST(SUM(dl) AS BIGINT) AS DOUBLE) AS sumdl,
       |  CAST(SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0
       |  FROM wd),
       |wsc AS (SELECT wd.doc_id AS id,
       |    round(ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5)) * tf0 * 2.2
       |      / (tf0 + 1.2 * (0.25 + 0.75 * dl / (sumdl / n))), 6) AS score
       |  FROM wd, ws0)
       |SELECT id, score FROM wsc WHERE score > 0
       |ORDER BY score DESC, id LIMIT $k""".stripMargin
  }

  /** C39f oracle: the regex (whole-term) virtual-term replay — DuckDB
    * `regexp_full_match` mirrors the engine's `^(?:pat)$` anchoring
    * over the RE2-shared syntax subset the stage enforces.
    */
  private[graft] def regexSql(pattern: String, k: Int): String = {
    // SQL-literal escape (round 16, advice): a single quote is a valid
    // Java-regex char and passes the portability check — unescaped it
    // would break (or inject into) the oracle text
    val sqlPat = pattern.replace("'", "''")
    s"""WITH rt AS ($toksCte),
       |rd AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
       |    CAST(len(list_filter(toks, x -> regexp_full_match(x, '$sqlPat')))
       |      AS DOUBLE) AS tf0
       |  FROM rt),
       |rs0 AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
       |  CAST(CAST(SUM(dl) AS BIGINT) AS DOUBLE) AS sumdl,
       |  CAST(SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0
       |  FROM rd),
       |rsc AS (SELECT rd.doc_id AS id,
       |    round(ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5)) * tf0 * 2.2
       |      / (tf0 + 1.2 * (0.25 + 0.75 * dl / (sumdl / n))), 6) AS score
       |  FROM rd, rs0)
       |SELECT id, score FROM rsc WHERE score > 0
       |ORDER BY score DESC, id LIMIT $k""".stripMargin
  }

  private[graft] def bm25Sql(terms: Seq[String], k: Int): String =
    s"""WITH ${bm25ScoreCtes(terms, "")}
       |SELECT id, score FROM sc WHERE score > 0
       |ORDER BY score DESC, id LIMIT $k""".stripMargin

  /** G19 oracle: PQ training unrolled (the sim_topk_ivf move), all
    * subspaces as one `sub`-keyed chain. Distance is pure int64
    * (round(v·2²⁰) quantized squared-L2) so the replay carries NO
    * float-summation or libm parity assumption at all.
    */
  /** quantized-L2 over (svec, cvec) — pure int64, shared by training
    * replay and the ADC lookup table
    */
  private[graft] val pqDist =
    "list_sum([ (CAST(round(svec[i]*1048576.0) AS BIGINT)" +
      " - CAST(round(cvec[i]*1048576.0) AS BIGINT))" +
      " * (CAST(round(svec[i]*1048576.0) AS BIGINT)" +
      " - CAST(round(cvec[i]*1048576.0) AS BIGINT))" +
      " for i in generate_series(1, 16) ])"

  /** G19's full training chain (subvectors → init → two Lloyd steps →
    * final assignment a3, codebook c2) as shared CTEs — the code
    * emitter and the ADC search replay ONE training.
    */
  private[graft] val pqChain: String =
    pqTrainCtes(
      """sv AS (SELECT vec_id, s.sub, v[s.sub*16+1 : s.sub*16+16] AS svec
        |       FROM e, (SELECT unnest(range(4)) AS sub) s)""".stripMargin)

  /** The PQ Lloyd-training chain (c0 init → two assign/re-center
    * rounds → final assignment a3) over a caller-supplied `sv`
    * subvector CTE — [[pqChain]] instantiates it with the contiguous
    * 16-dim slices; the G27 OPQ oracle with variance-permuted ones.
    * One definition, so the two quantizers' training replays can
    * never drift.
    */
  private[graft] def pqTrainCtes(svCte: String): String = {
    def assignCte(a: String, c: String) =
      s"""$a AS (SELECT * FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id, sub
         |              ORDER BY dist, cid) AS rn
         |  FROM (SELECT sv.vec_id, sv.sub, sv.svec, c.cid, $pqDist AS dist
         |        FROM sv JOIN $c c USING (sub)))
         |  WHERE rn = 1)""".stripMargin
    def centCtes(mName: String, cName: String, a: String) =
      s"""$mName AS (SELECT sub, cid, g.d,
         |    CAST(SUM(CAST(round(svec[g.d]*1048576.0) AS BIGINT)) AS DOUBLE)
         |      / (COUNT(*) * 1048576.0) AS mv
         |  FROM $a, generate_series(1, 16) AS g(d)
         |  GROUP BY 1, 2, 3),
         |$cName AS (SELECT sub, cid,
         |    list(CAST(CAST(mv AS FLOAT) AS DOUBLE) ORDER BY d) AS cvec
         |  FROM $mName GROUP BY 1, 2)""".stripMargin
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |           FROM embeddings),
       |$svCte,
       |c0 AS (SELECT sub, CAST(vec_id AS INTEGER) AS cid, svec AS cvec
       |       FROM sv WHERE vec_id < 4),
       |${assignCte("a1", "c0")},
       |${centCtes("m1", "c1", "a1")},
       |${assignCte("a2", "c1")},
       |${centCtes("m2", "c2", "a2")},
       |${assignCte("a3", "c2")}""".stripMargin
  }

  /** The (codes, err2) readout over the final PQ assignment `a3` —
    * shared by the G19 and G27 oracles.
    */
  private val pqCodesSelect: String =
    """SELECT vec_id,
      |  '[' || array_to_string(list(CAST(cid AS VARCHAR) ORDER BY sub), ',')
      |      || ']' AS codes,
      |  round(CAST(SUM(dist) AS BIGINT) / 1099511627776.0, 6) AS err2
      |FROM a3 GROUP BY 1""".stripMargin

  // plain concatenation: a second stripMargin would eat the leading
  // `|` of pqCodesSelect's `|| ']'` continuation line
  private val pqSql: String = s"WITH $pqChain\n$pqCodesSelect"

  /** G27 oracle: the variance-permutation CTEs in front of the SAME
    * factored PQ training replay ([[pqTrainCtes]]) — rank dims by
    * int64-snapped variance (ties → dim), deal round-robin
    * (rank mod 4 → subspace, rank div 4 → slot), then train/encode
    * on the permuted subvectors.
    */
  private val opqSql: String =
    s"WITH " + pqTrainCtes(
      """qv AS (SELECT vec_id,
        |    list_transform(v, x -> CAST(round(x * 1024.0) AS BIGINT)) AS q
        |  FROM e),
        |st AS (SELECT g.d, CAST(SUM(q[g.d]) AS BIGINT) AS s1,
        |    CAST(SUM(q[g.d] * q[g.d]) AS BIGINT) AS s2, COUNT(*) AS n
        |  FROM qv, generate_series(1, 64) AS g(d) GROUP BY 1),
        |vr AS (SELECT d, CAST(round((CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
        |    - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
        |      * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))) * 1000000.0)
        |      AS BIGINT) AS vs
        |  FROM st),
        |perm AS (SELECT d,
        |    CAST((row_number() OVER (ORDER BY vs DESC, d) - 1) % 4 AS INT)
        |      AS sub,
        |    CAST((row_number() OVER (ORDER BY vs DESC, d) - 1) // 4 AS INT)
        |      AS slot
        |  FROM vr),
        |sv AS (SELECT vec_id, p.sub, list(v[p.d] ORDER BY p.slot) AS svec
        |       FROM e, perm p GROUP BY 1, 2)""".stripMargin) +
      s"\n$pqCodesSelect"

  /** G27b oracle: Ge et al.'s eigenvalue allocation replayed — int64
    * variance snap, λ/Σλ normalization, per-dim log cost through the
    * SHARED lnDet CTE chain (the same op sequence as the engine's
    * driver-side lnDetScalar, so every cost lands on the same int64
    * micronat), then the LPT greedy as ONE list_reduce over the
    * cost-ranked dims — state is a flat BIGINT list
    * [sums(4), counts(4), picks…] (DuckDB's list_reduce mis-carries
    * lists nested in struct state, so the state is flat by
    * construction), each step assigning to the min-(sum, index)
    * subspace with free slots and appending d·10+sub. The decoded
    * (d, sub, slot) map feeds the SAME factored PQ training replay
    * as G19/G27.
    */
  private val opqRotSql: String = {
    // min-(running cost sum, subspace) among subspaces with < 16 slots
    val pick = """list_min(list_transform(
      list_filter([1,2,3,4], x -> acc[4+x] < 16),
      x -> [acc[x], CAST(x AS BIGINT)]))[2]"""
    s"WITH " + pqTrainCtes(
      s"""qv AS (SELECT vec_id,
        |    list_transform(v, x -> CAST(round(x * 1024.0) AS BIGINT)) AS q
        |  FROM e),
        |vst AS (SELECT g.d, CAST(SUM(q[g.d]) AS BIGINT) AS s1,
        |    CAST(SUM(q[g.d] * q[g.d]) AS BIGINT) AS s2, COUNT(*) AS n
        |  FROM qv, generate_series(1, 64) AS g(d) GROUP BY 1),
        |vr0 AS (SELECT d, GREATEST(CAST(round((CAST(s2 AS DOUBLE)
        |      / CAST(n AS DOUBLE)
        |    - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
        |      * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))) * 1000000.0)
        |      AS BIGINT), 1) AS vs
        |  FROM vst),
        |vp AS (SELECT d AS doc_id, CAST(1 AS BIGINT) AS tf,
        |    1.0 / CAST(vs AS DOUBLE) AS p
        |  FROM vr0),
        |${lnDetCtesN("vp", "opq")},
        |vr AS (SELECT doc_id AS d,
        |    CAST(round(-lnp * 1000000.0) AS BIGINT) AS vs
        |  FROM sropq),
        |its AS (SELECT list([vs, CAST(d AS BIGINT)] ORDER BY vs DESC, d)
        |          AS l FROM vr),
        |alloc AS (SELECT list_reduce(
        |    list_prepend([0,0,0,0,0,0,0,0]::BIGINT[], l),
        |    (acc, it) -> list_concat(list_concat(
        |      list_transform([1,2,3,4], s -> acc[s] +
        |        CASE WHEN CAST(s AS BIGINT) = $pick THEN it[1] ELSE 0 END),
        |      list_transform([1,2,3,4], s -> acc[4+s] +
        |        CASE WHEN CAST(s AS BIGINT) = $pick THEN 1 ELSE 0 END)),
        |      list_append(acc[9:], it[2] * 10 + $pick))) AS st
        |  FROM its),
        |am AS (SELECT CAST(u.a // 10 AS INT) AS d,
        |         CAST(u.a % 10 AS INT) AS sub, u.i
        |       FROM (SELECT unnest(st[9:]) AS a,
        |               unnest(range(1, len(st[9:]) + 1)) AS i
        |             FROM alloc) u),
        |perm AS (SELECT d, sub, CAST(row_number() OVER (
        |           PARTITION BY sub ORDER BY i) AS INT) AS slot
        |         FROM am),
        |sv AS (SELECT vec_id, p.sub, list(v[p.d] ORDER BY p.slot) AS svec
        |       FROM e, perm p GROUP BY 1, 2)""".stripMargin) +
      s"\n$pqCodesSelect"
  }

  /** G19b: ADC search replay — the query-side (m × ksub) LUT of
    * quantized-L2 distances, summed along each corpus vector's codes.
    * Integer-exact end to end.
    */
  private[graft] val pqTopKSql: String =
    s"""WITH $pqChain,
       |qsv AS (SELECT vec_id, sub, svec FROM sv WHERE vec_id < 10),
       |lut AS (SELECT q.vec_id AS query_id, q.sub, c.cid, $pqDist AS dq
       |        FROM qsv q JOIN c2 c ON q.sub = c.sub),
       |sc AS (SELECT l.query_id, a.vec_id, SUM(l.dq) AS adc
       |       FROM a3 a JOIN lut l ON l.sub = a.sub AND l.cid = a.cid
       |       WHERE a.vec_id <> l.query_id
       |       GROUP BY 1, 2),
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |        ORDER BY adc, vec_id) AS rank FROM sc)
       |SELECT query_id, vec_id AS neighbor_id,
       |  CAST(adc AS BIGINT) AS adc_dist, CAST(rank AS INTEGER) AS rank
       |FROM r WHERE rank <= 5""".stripMargin

  /** G28 oracle: the same sign-bit words (32-bit halves as BIGINT —
    * never negative, so two's-complement never differs across
    * engines), XOR + popcount distance, (hamming ASC, vec_id) ranking.
    * k-parameterized so the G28b re-rank and the G21b matrix chain
    * replay the same scan at their own depths.
    */
  private[graft] def hammingSql(k: Int): String =
    s"""WITH w AS (SELECT vec_id,
      |    CAST(list_sum([CASE WHEN embedding[i] > 0
      |           THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE CAST(0 AS BIGINT) END
      |         for i in generate_series(1, 32)]) AS BIGINT) AS w0,
      |    CAST(list_sum([CASE WHEN embedding[i] > 0
      |           THEN (CAST(1 AS BIGINT) << (i - 33)) ELSE CAST(0 AS BIGINT) END
      |         for i in generate_series(33, 64)]) AS BIGINT) AS w1
      |  FROM embeddings),
      |q AS (SELECT vec_id AS query_id, w0 AS q0, w1 AS q1
      |      FROM w WHERE vec_id < 10),
      |scored AS (SELECT q.query_id, w.vec_id,
      |    CAST(bit_count(xor(w.w0, q.q0)) + bit_count(xor(w.w1, q.q1))
      |         AS INTEGER) AS hamming
      |  FROM q, w WHERE w.vec_id <> q.query_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |        ORDER BY hamming, vec_id) AS rank FROM scored)
      |SELECT query_id, vec_id AS neighbor_id, hamming,
      |  CAST(rank AS INTEGER) AS rank
      |FROM r WHERE rank <= $k""".stripMargin

  private[graft] val hammingTopKSql: String = hammingSql(5)

  /** G28b oracle: the k=15 hamming shortlist re-scored with the exact
    * rounded cosine, (cos DESC, vec_id) final ranking.
    */
  private[graft] lazy val hammingRerankSql: String =
    s"""WITH hs AS (SELECT query_id, neighbor_id FROM (
       |${hammingSql(15)}
       |) __h),
       |scored AS (SELECT hs.query_id, hs.neighbor_id AS vec_id,
       |    round(${cosSql.format("eq.embedding", "en.embedding")}, 4) AS cos_r
       |  FROM hs
       |  JOIN embeddings eq ON eq.vec_id = hs.query_id
       |  JOIN embeddings en ON en.vec_id = hs.neighbor_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |        ORDER BY cos_r DESC, vec_id) AS rank FROM scored)
       |SELECT query_id, vec_id AS neighbor_id, cos_r,
       |  CAST(rank AS INTEGER) AS rank
       |FROM r WHERE rank <= 5""".stripMargin

  /** G22 oracle (factored: the G22b PageRank replay rides on the same
    * edge set): collapse to distinct (label, embedding) reps,
    * label-blocked pairs, top-k per rep by (cos DESC, nbr).
    */
  private[graft] def knnGraphSqlK(k: Int): String = {
    val kcos = cosSql.format("a.embedding", "b.embedding")
    s"""WITH g AS (SELECT label, embedding, MIN(vec_id) AS vec_id,
       |    COUNT(*) AS n_members
       |  FROM embeddings GROUP BY label, embedding),
       |p AS (SELECT a.vec_id AS vec_id, a.n_members AS n_id,
       |    b.vec_id AS nbr, b.n_members AS n_nbr,
       |    round($kcos, 4) AS cos_r
       |  FROM g a JOIN g b
       |    ON a.label = b.label AND a.vec_id <> b.vec_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY vec_id
       |        ORDER BY cos_r DESC, nbr) AS rk FROM p)
       |SELECT vec_id, CAST(rk AS INTEGER) AS rk, nbr, cos_r,
       |  CAST(n_id AS BIGINT) AS n_id, CAST(n_nbr AS BIGINT) AS n_nbr
       |FROM r WHERE rk <= $k""".stripMargin
  }

  private[graft] val knnGraphSql: String = knnGraphSqlK(3)

  /** G31 oracle: the beam search unrolled — the G22 edge set as a
    * derived table, one (expand → score → visited-merge → beam) CTE
    * block per round, row_number beams with the engine's
    * (cos_r DESC, node ASC) tie rule, final top-k minus the query
    * itself.
    */
  private def graphTopKSql(k: Int = 5, beamW: Int = 16, rounds: Int = 4,
                           graphK: Int = 8): String = {
    val qcos = cosSql.format("q.qe", "rv.ne")
    def round(r: Int): String =
      s"""b${r - 1} AS (SELECT query_id, node FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos_r DESC, node) AS rn FROM v${r - 1}) __b
         |  WHERE rn <= $beamW),
         |x$r AS (SELECT DISTINCT b.query_id, ed0.dst AS node
         |        FROM b${r - 1} b JOIN ed0 ON ed0.node = b.node),
         |s$r AS (SELECT x.query_id, x.node, round($qcos, 4) AS cos_r
         |        FROM x$r x JOIN rv ON rv.node = x.node
         |        JOIN q ON q.query_id = x.query_id),
         |v$r AS (SELECT query_id, node, MAX(cos_r) AS cos_r FROM (
         |          SELECT * FROM v${r - 1} UNION ALL SELECT * FROM s$r) __u
         |        GROUP BY 1, 2)""".stripMargin
    s"""WITH ed0 AS (SELECT vec_id AS node, nbr AS dst FROM (
       |${knnGraphSqlK(graphK)}
       |) __k),
       |g AS (SELECT label, embedding, MIN(vec_id) AS vec_id
       |      FROM embeddings GROUP BY label, embedding),
       |ent AS (SELECT MIN(vec_id) AS node FROM g GROUP BY label),
       |q AS (SELECT vec_id AS query_id, embedding AS qe
       |      FROM embeddings WHERE vec_id < 10),
       |rv AS (SELECT vec_id AS node, embedding AS ne FROM g),
       |v0 AS (SELECT q.query_id, ent.node, round($qcos, 4) AS cos_r
       |       FROM q CROSS JOIN ent JOIN rv ON rv.node = ent.node),
       |${(1 to rounds).map(round).mkString(",\n")}
       |SELECT query_id, node AS neighbor_id, cos_r,
       |  CAST(rn AS INTEGER) AS rank
       |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |        ORDER BY cos_r DESC, node) AS rn
       |      FROM v$rounds WHERE node <> query_id) __f
       |WHERE rn <= $k""".stripMargin
  }

  /** G22b oracle: the engine's integer PageRank unrolled — 4
    * iterations of ⌊15·S/(100·N)⌋ + Σ⌊85·r(u)/(100·deg⁺u)⌋ over the
    * G22 edge set (scoped as a derived table, the recall-matrix
    * composition move), S = 10¹².
    */
  private def pageRankSql: String = {
    val S = "1000000000000"
    def iter(i: Int): String =
      s"""c$i AS (SELECT e.dst AS id,
         |    CAST(SUM((85 * r${i - 1}.rank) // (100 * e.outdeg)) AS BIGINT)
         |      AS inflow
         |  FROM e JOIN r${i - 1} ON r${i - 1}.id = e.src GROUP BY 1),
         |r$i AS (SELECT g.vec_id AS id,
         |    CAST((15 * $S) // (100 * nn.n) AS BIGINT)
         |      + COALESCE(c$i.inflow, 0) AS rank
         |  FROM g CROSS JOIN nn LEFT JOIN c$i ON c$i.id = g.vec_id)"""
        .stripMargin
    s"""WITH ed AS (SELECT vec_id AS src, nbr AS dst FROM (
       |$knnGraphSql
       |) __k),
       |g AS (SELECT label, embedding, MIN(vec_id) AS vec_id
       |      FROM embeddings GROUP BY label, embedding),
       |nn AS (SELECT COUNT(*) AS n FROM g),
       |dg AS (SELECT src, COUNT(*) AS outdeg FROM ed GROUP BY 1),
       |e AS (SELECT ed.src, ed.dst, dg.outdeg FROM ed JOIN dg USING (src)),
       |r0 AS (SELECT g.vec_id AS id, CAST($S // nn.n AS BIGINT) AS rank
       |       FROM g CROSS JOIN nn),
       |${(1 to 4).map(iter).mkString(",\n")}
       |SELECT id, rank AS rank_ppt FROM r4""".stripMargin
  }

  /** G30 oracle: k−1 unrolled farthest-first rounds — each round is a
    * (mind DESC, vec_id) top-1 over the previous round's min-distance
    * state, then a LEAST fold of the new center's exact int64 L2.
    */
  private def kcenterSql(k: Int): String = {
    def d2(a: String, b: String) =
      s"""CAST(list_sum([
         |  (CAST(round(CAST($a[i] AS DOUBLE)*1048576.0) AS BIGINT)
         |   - CAST(round(CAST($b[i] AS DOUBLE)*1048576.0) AS BIGINT))
         |  * (CAST(round(CAST($a[i] AS DOUBLE)*1048576.0) AS BIGINT)
         |     - CAST(round(CAST($b[i] AS DOUBLE)*1048576.0) AS BIGINT))
         |  for i in generate_series(1, 64)]) AS BIGINT)""".stripMargin
    val rounds = (2 to k).map { t =>
      s"""c$t AS (SELECT vec_id AS id$t, embedding AS e$t, __mind AS r$t
         |  FROM m${t - 1} ORDER BY __mind DESC, vec_id LIMIT 1),
         |m$t AS (SELECT m.vec_id, m.embedding,
         |    LEAST(m.__mind, ${d2("m.embedding", s"c$t.e$t")}) AS __mind
         |  FROM m${t - 1} m, c$t WHERE m.vec_id <> c$t.id$t)""".stripMargin
    }
    val selects =
      s"SELECT CAST(1 AS INTEGER) AS rk, id1 AS vec_id, CAST(NULL AS BIGINT) AS radius_q FROM c1" +:
        (2 to k).map(t =>
          s"SELECT CAST($t AS INTEGER), id$t, r$t FROM c$t")
    s"""WITH c1 AS (SELECT vec_id AS id1, embedding AS e1
       |  FROM embeddings ORDER BY vec_id LIMIT 1),
       |m1 AS (SELECT v.vec_id, v.embedding, ${d2("v.embedding", "c1.e1")} AS __mind
       |  FROM embeddings v, c1 WHERE v.vec_id <> c1.id1),
       |${rounds.mkString(",\n")}
       |${selects.mkString("\nUNION ALL\n")}""".stripMargin
  }

  private val bruteTopKSql =
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb
       |           FROM embeddings WHERE vec_id < 10),
       |scored AS (SELECT q.query_id, e.vec_id,
       |    round(${cosSql.format("q.q_emb", "e.embedding")}, 4) AS cos_r
       |  FROM q, embeddings e WHERE e.vec_id <> q.query_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |        ORDER BY cos_r DESC, vec_id) AS rank FROM scored)
       |SELECT query_id, vec_id AS neighbor_id, cos_r,
       |  CAST(rank AS INTEGER) AS rank
       |FROM r WHERE rank <= 5""".stripMargin

  /** The engine's deterministic natural log
    * ([[TextAnalysis.withLnDet]]) as SQL CTEs `rd`/`sr`: consumes a
    * (doc_id, tf, p) source CTE, yields (doc_id, tf, lnp). ONE shared
    * replay for every lnDet-scored oracle (H18c trigram, H18d
    * Kneser-Ney) so the op-for-op parity argument lives in one place.
    */
  private def lnDetCtes(src: String): String = lnDetCtesN(src, "")

  /** Suffix-parameterized form of [[lnDetCtes]] (CTEs `rd<sfx>` /
    * `sr<sfx>`) so one oracle can replay the deterministic ln more
    * than once — the unigram-LM EM re-costs its vocab every
    * iteration.
    */
  private def lnDetCtesN(src: String, sfx: String): String =
    s"""-- deterministic ln (the engine's withLnDet, op for op): exact
       |-- power-of-two range reduction to m in [0.5,1), atanh series
       |-- through t^25, ln = 2*s - e*ln2 — zero libm anywhere
       |rd$sfx AS (SELECT doc_id, tf,
       |  CASE WHEN p*4294967296.0 < 1.0 THEN p*4294967296.0 ELSE p END AS m1,
       |  CASE WHEN p*4294967296.0 < 1.0 THEN 32 ELSE 0 END AS e1,
       |  CASE WHEN m1*65536.0 < 1.0 THEN m1*65536.0 ELSE m1 END AS m2,
       |  CASE WHEN m1*65536.0 < 1.0 THEN e1+16 ELSE e1 END AS e2,
       |  CASE WHEN m2*256.0 < 1.0 THEN m2*256.0 ELSE m2 END AS m3,
       |  CASE WHEN m2*256.0 < 1.0 THEN e2+8 ELSE e2 END AS e3,
       |  CASE WHEN m3*16.0 < 1.0 THEN m3*16.0 ELSE m3 END AS m4,
       |  CASE WHEN m3*16.0 < 1.0 THEN e3+4 ELSE e3 END AS e4,
       |  CASE WHEN m4*4.0 < 1.0 THEN m4*4.0 ELSE m4 END AS m5,
       |  CASE WHEN m4*4.0 < 1.0 THEN e4+2 ELSE e4 END AS e5,
       |  CASE WHEN m5*2.0 < 1.0 THEN m5*2.0 ELSE m5 END AS m6,
       |  CASE WHEN m5*2.0 < 1.0 THEN e5+1 ELSE e5 END AS e6
       |  FROM $src),
       |sr$sfx AS (SELECT doc_id, tf,
       |  (m6 - 1.0) / (m6 + 1.0) AS t, t*t AS t2,
       |  t AS q1, q1*t2 AS q3, q3*t2 AS q5, q5*t2 AS q7, q7*t2 AS q9,
       |  q9*t2 AS q11, q11*t2 AS q13, q13*t2 AS q15, q15*t2 AS q17,
       |  q17*t2 AS q19, q19*t2 AS q21, q21*t2 AS q23, q23*t2 AS q25,
       |  2.0 * (q1 + q3/3.0 + q5/5.0 + q7/7.0 + q9/9.0 + q11/11.0
       |         + q13/13.0 + q15/15.0 + q17/17.0 + q19/19.0 + q21/21.0
       |         + q23/23.0 + q25/25.0)
       |    - CAST(e6 AS DOUBLE) * 0.6931471805599453 AS lnp
       |  FROM rd$sfx)""".stripMargin

  /** H18's unigram-LM per-doc score chain as prefix-`p` CTEs ending in
    * `<p>lp(doc_id, n_tok, avg_logp)` — ONE definition shared by the
    * standalone `text_unigram_lp` oracle and the H25 DoReMi
    * composition, so the reference leg can never drift. The libm `ln`
    * parity caveat H18 documents is absorbed by the 4-decimal round
    * exactly as in the standalone query.
    */
  private def uniLpCtes(p: String): String =
    s"""${p}t AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), ' +')) AS tok
       |  FROM documents),
       |${p}tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM ${p}t GROUP BY 1, 2),
       |${p}cf AS (SELECT doc_id, tok, tf,
       |         SUM(tf) OVER (PARTITION BY tok) AS cf
       |       FROM ${p}tf),
       |${p}nt AS (SELECT CAST(SUM(tf) AS DOUBLE) AS nt FROM ${p}tf),
       |${p}c AS (SELECT doc_id, tf,
       |        CAST(round(CAST(tf AS DOUBLE)
       |               * ln(CAST(cf AS DOUBLE) / nt) * 1000000.0) AS BIGINT)
       |          AS micronats
       |      FROM ${p}cf, ${p}nt),
       |${p}lp AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tok,
       |  round(CAST(SUM(micronats) AS BIGINT) / 1000000.0 / SUM(tf), 4)
       |    AS avg_logp
       |  FROM ${p}c GROUP BY doc_id)""".stripMargin

  /** H18d's Kneser-Ney per-doc score chain as prefix-`p` CTEs ending
    * in `<p>lp(doc_id, n_tri, avg_logp_kn)` — shared by the
    * standalone `text_kn_lp` oracle and the H25 DoReMi proxy leg.
    * Inner table aliases keep the body references unprefixed; the
    * lnDet replay rides the same prefix. The N₁₊(··) total rides the
    * cc CTE as a window over the GROUPED result (Σ over c partitions
    * = COUNT(*) of cb): a separate 1-row CTE re-referencing the cb
    * chain sends DuckDB's join-order planner into a minutes-long
    * spiral.
    */
  private def knLpCtes(p: String): String =
    s"""${p}t AS (SELECT doc_id,
       |  string_split_regex(trim(lower(text)), ' +') AS toks
       |  FROM documents),
       |${p}t3 AS (SELECT doc_id,
       |         unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
       |                 for i in generate_series(1, len(toks)-2)]) AS tg
       |       FROM ${p}t WHERE len(toks) >= 3),
       |${p}dtf AS (SELECT doc_id, tg, COUNT(*) AS tf FROM ${p}t3 GROUP BY 1, 2),
       |${p}cf3 AS (SELECT tg, CAST(SUM(tf) AS BIGINT) AS cf3,
       |         split_part(tg,' ',1) || ' ' || split_part(tg,' ',2) AS ab,
       |         split_part(tg,' ',2) || ' ' || split_part(tg,' ',3) AS bc,
       |         split_part(tg,' ',2) AS b,
       |         split_part(tg,' ',3) AS c
       |       FROM ${p}dtf GROUP BY 1),
       |${p}x3 AS (SELECT ab, CAST(SUM(cf3) AS BIGINT) AS cab,
       |         CAST(COUNT(*) AS BIGINT) AS n1p_ab
       |       FROM ${p}cf3 GROUP BY 1),
       |${p}cb AS (SELECT bc, CAST(COUNT(*) AS BIGINT) AS n1p_bc,
       |         split_part(bc,' ',1) AS b, split_part(bc,' ',2) AS c
       |       FROM ${p}cf3 GROUP BY bc),
       |${p}mb AS (SELECT b, CAST(SUM(n1p_bc) AS BIGINT) AS n1p_mid_b,
       |         CAST(COUNT(*) AS BIGINT) AS n1p_b_dot
       |       FROM ${p}cb GROUP BY 1),
       |${p}cc AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS n1p_c,
       |         CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS nbc
       |       FROM ${p}cb GROUP BY 1),
       |${p}c0 AS (SELECT dtf.doc_id, dtf.tf,
       |          (CAST(cf3.cf3 AS DOUBLE) - 0.75) / CAST(x3.cab AS DOUBLE)
       |        + 0.75 * CAST(x3.n1p_ab AS DOUBLE) / CAST(x3.cab AS DOUBLE)
       |          * ((CAST(cb.n1p_bc AS DOUBLE) - 0.75)
       |               / CAST(mb.n1p_mid_b AS DOUBLE)
       |             + 0.75 * CAST(mb.n1p_b_dot AS DOUBLE)
       |               / CAST(mb.n1p_mid_b AS DOUBLE)
       |               * (CAST(cc.n1p_c AS DOUBLE)
       |                  / CAST(cc.nbc AS DOUBLE))) AS p
       |      FROM ${p}dtf dtf JOIN ${p}cf3 cf3 USING (tg)
       |      JOIN ${p}x3 x3 ON x3.ab = cf3.ab
       |      JOIN ${p}cb cb ON cb.bc = cf3.bc
       |      JOIN ${p}mb mb ON mb.b = cf3.b
       |      JOIN ${p}cc cc ON cc.c = cf3.c),
       |${lnDetCtesN(s"${p}c0", p)},
       |${p}mn AS (SELECT doc_id, tf,
       |        CAST(round(CAST(tf AS DOUBLE) * lnp * 1000000.0) AS BIGINT)
       |          AS micronats
       |      FROM sr$p),
       |${p}lp AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tri,
       |  round(CAST(SUM(micronats) AS DOUBLE)
       |        / (CAST(SUM(tf) AS DOUBLE) * 100.0)) / 10000.0 AS avg_logp_kn
       |  FROM ${p}mn GROUP BY 1)""".stripMargin

  /** H18e's Kneser-Ney 5-gram replay as prefix-`p` CTEs ending in
    * `<p>lp(doc_id, n_5g, avg_logp_kn5)` — the [[knLpCtes]] recursion
    * two levels deeper: every continuation table derives from the
    * distinct 5-gram TYPE table by drop-left + re-dedup (c4 → c3 →
    * c2 → c1), one nested fixed-order IEEE formula, shared lnDet
    * replay, micronat fixed-point pre-sum.
    */
  private def kn5LpCtes(p: String): String =
    s"""${p}t AS (SELECT doc_id,
       |  string_split_regex(trim(lower(text)), ' +') AS toks
       |  FROM documents),
       |${p}t5 AS (SELECT doc_id,
       |         unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] ||
       |                 ' ' || toks[i+3] || ' ' || toks[i+4]
       |                 for i in generate_series(1, len(toks)-4)]) AS tg
       |       FROM ${p}t WHERE len(toks) >= 5),
       |${p}dtf AS (SELECT doc_id, tg, COUNT(*) AS tf FROM ${p}t5 GROUP BY 1, 2),
       |${p}cf5 AS (SELECT tg, CAST(SUM(tf) AS BIGINT) AS cf5,
       |         split_part(tg,' ',1) || ' ' || split_part(tg,' ',2) || ' ' ||
       |           split_part(tg,' ',3) || ' ' || split_part(tg,' ',4) AS h4,
       |         split_part(tg,' ',2) || ' ' || split_part(tg,' ',3) || ' ' ||
       |           split_part(tg,' ',4) || ' ' || split_part(tg,' ',5) AS s4
       |       FROM ${p}dtf GROUP BY 1),
       |${p}x5 AS (SELECT h4, CAST(SUM(cf5) AS BIGINT) AS ch4,
       |         CAST(COUNT(*) AS BIGINT) AS n1p_h4
       |       FROM ${p}cf5 GROUP BY 1),
       |${p}c4 AS (SELECT s4, CAST(COUNT(*) AS BIGINT) AS n1p_s4,
       |         split_part(s4,' ',1) || ' ' || split_part(s4,' ',2) || ' ' ||
       |           split_part(s4,' ',3) AS h3,
       |         split_part(s4,' ',2) || ' ' || split_part(s4,' ',3) || ' ' ||
       |           split_part(s4,' ',4) AS s3
       |       FROM ${p}cf5 GROUP BY s4),
       |${p}m4 AS (SELECT h3, CAST(SUM(n1p_s4) AS BIGINT) AS n1p_mid_h3,
       |         CAST(COUNT(*) AS BIGINT) AS n1p_h3_dot
       |       FROM ${p}c4 GROUP BY 1),
       |${p}c3 AS (SELECT s3, CAST(COUNT(*) AS BIGINT) AS n1p_s3,
       |         split_part(s3,' ',1) || ' ' || split_part(s3,' ',2) AS h2,
       |         split_part(s3,' ',2) || ' ' || split_part(s3,' ',3) AS s2
       |       FROM ${p}c4 GROUP BY s3),
       |${p}m3 AS (SELECT h2, CAST(SUM(n1p_s3) AS BIGINT) AS n1p_mid_h2,
       |         CAST(COUNT(*) AS BIGINT) AS n1p_h2_dot
       |       FROM ${p}c3 GROUP BY 1),
       |${p}c2 AS (SELECT s2, CAST(COUNT(*) AS BIGINT) AS n1p_s2,
       |         split_part(s2,' ',1) AS b, split_part(s2,' ',2) AS c
       |       FROM ${p}c3 GROUP BY s2),
       |${p}m2 AS (SELECT b, CAST(SUM(n1p_s2) AS BIGINT) AS n1p_mid_b,
       |         CAST(COUNT(*) AS BIGINT) AS n1p_b_dot
       |       FROM ${p}c2 GROUP BY 1),
       |${p}c1 AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS n1p_c,
       |         CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS ns2
       |       FROM ${p}c2 GROUP BY c),
       |${p}c0 AS (SELECT dtf.doc_id, dtf.tf,
       |          (CAST(cf5.cf5 AS DOUBLE) - 0.75) / CAST(x5.ch4 AS DOUBLE)
       |        + 0.75 * CAST(x5.n1p_h4 AS DOUBLE) / CAST(x5.ch4 AS DOUBLE)
       |          * ((CAST(c4.n1p_s4 AS DOUBLE) - 0.75)
       |               / CAST(m4.n1p_mid_h3 AS DOUBLE)
       |             + 0.75 * CAST(m4.n1p_h3_dot AS DOUBLE)
       |               / CAST(m4.n1p_mid_h3 AS DOUBLE)
       |               * ((CAST(c3.n1p_s3 AS DOUBLE) - 0.75)
       |                    / CAST(m3.n1p_mid_h2 AS DOUBLE)
       |                  + 0.75 * CAST(m3.n1p_h2_dot AS DOUBLE)
       |                    / CAST(m3.n1p_mid_h2 AS DOUBLE)
       |                  * ((CAST(c2.n1p_s2 AS DOUBLE) - 0.75)
       |                       / CAST(m2.n1p_mid_b AS DOUBLE)
       |                     + 0.75 * CAST(m2.n1p_b_dot AS DOUBLE)
       |                       / CAST(m2.n1p_mid_b AS DOUBLE)
       |                     * (CAST(c1.n1p_c AS DOUBLE)
       |                        / CAST(c1.ns2 AS DOUBLE))))) AS p
       |      FROM ${p}dtf dtf JOIN ${p}cf5 cf5 USING (tg)
       |      JOIN ${p}x5 x5 ON x5.h4 = cf5.h4
       |      JOIN ${p}c4 c4 ON c4.s4 = cf5.s4
       |      JOIN ${p}m4 m4 ON m4.h3 = c4.h3
       |      JOIN ${p}c3 c3 ON c3.s3 = c4.s3
       |      JOIN ${p}m3 m3 ON m3.h2 = c3.h2
       |      JOIN ${p}c2 c2 ON c2.s2 = c3.s2
       |      JOIN ${p}m2 m2 ON m2.b = c2.b
       |      JOIN ${p}c1 c1 ON c1.c = c2.c),
       |${lnDetCtesN(s"${p}c0", p)},
       |${p}mn AS (SELECT doc_id, tf,
       |        CAST(round(CAST(tf AS DOUBLE) * lnp * 1000000.0) AS BIGINT)
       |          AS micronats
       |      FROM sr$p),
       |${p}lp AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_5g,
       |  round(CAST(SUM(micronats) AS DOUBLE)
       |        / (CAST(SUM(tf) AS DOUBLE) * 100.0)) / 10000.0 AS avg_logp_kn5
       |  FROM ${p}mn GROUP BY 1)""".stripMargin

  /** H7e/H22b oracle scaffolding: the unigram-LM Viterbi hard-EM
    * replayed in DuckDB op for op. Per EM round k: `lat`/`dp`/`seg`
    * CTEs mirror [[TextAnalysis.unigramSegment]]'s two `aggregate`
    * folds as `list_reduce` folds (the list-of-lists trick supplies
    * the fold's init; the backward walk rides a VARCHAR list whose
    * head is the current position), `cnt` re-counts pieces over the
    * candidate set, and the suffixed lnDet replay re-costs them. All
    * DP arithmetic is int64 micronats with the same (en, st)
    * struct-sort tiebreaks, so every engine walks the same path.
    */
  private def unigramCtes(iters: Int, maxPieceLen: Int = 4,
                          maxVocab: Int = 64): String = {
    def costCtes(cntTbl: String, k: Int): String =
      s"""tot$k AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tot, COUNT(*) AS nc
         |  FROM $cntTbl),
         |lp$k AS (SELECT piece AS doc_id, cnt AS tf,
         |  (CAST(cnt AS DOUBLE) + 0.5) /
         |    (CAST(tot AS DOUBLE) + 0.5 * CAST(nc AS DOUBLE)) AS p
         |  FROM $cntTbl CROSS JOIN tot$k),
         |${lnDetCtesN(s"lp$k", k.toString)},
         |cost$k AS (SELECT doc_id AS piece, tf AS cnt,
         |  CAST(floor(lnp * -1000000.0) AS BIGINT) AS cost FROM sr$k)""".stripMargin
    def segCtes(k: Int): String =
      s"""lat$k AS (SELECT wp.w, wp.freq, length(wp.w) AS n,
         |    list({'en': wp.en, 'st': wp.st, 'cost': c.cost}) AS ps
         |  FROM wp JOIN cost${k - 1} c ON wp.piece = c.piece
         |  GROUP BY wp.w, wp.freq),
         |dp$k AS (SELECT w, freq, n, ps,
         |    list_reduce(list_prepend([CAST(0 AS BIGINT)],
         |        list_transform(range(1, n + 1), i -> [CAST(i AS BIGINT)])),
         |      (acc, x) -> list_append(acc, coalesce(
         |        list_min(list_transform(
         |          list_filter(ps, p -> p.en = CAST(x[1] AS INT)),
         |          p -> acc[p.st] + p.cost)),
         |        CAST(1000000000000000 AS BIGINT)))) AS best
         |  FROM lat$k),
         |pth$k AS (SELECT w, freq, n, best,
         |    list_reduce(list_prepend([''],
         |        list_transform(range(1, n + 1), i -> [CAST(i AS VARCHAR)])),
         |      (acc, x) -> list_append(acc,
         |        list_transform(
         |          [list_min(list_transform(list_filter(ps,
         |              p -> p.en = CAST(x[1] AS INT)
         |                AND best[p.st] + p.cost = best[CAST(x[1] AS INT) + 1]),
         |            p -> p.st))],
         |          s -> acc[s] || ' ' ||
         |            substring(w, s, CAST(x[1] AS INT) - s + 1))[1]))
         |    AS paths
         |  FROM dp$k),
         |seg$k AS (SELECT w, freq, n, best,
         |    list_filter(string_split(paths[n + 1], ' '), x -> x <> '') AS segs
         |  FROM pth$k),
         |cnt$k AS (SELECT cand.piece, CAST(coalesce(sc.c, 0) AS BIGINT) AS cnt
         |  FROM cand LEFT JOIN (SELECT seg AS piece, SUM(freq) AS c FROM (
         |      SELECT unnest(segs) AS seg, freq FROM seg$k) GROUP BY 1) sc
         |  ON cand.piece = sc.piece)""".stripMargin
    val rounds = (1 to iters).map(k =>
      s"${segCtes(k)},\n${costCtes(s"cnt$k", k)}").mkString(",\n")
    s"""uw AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM (
       |    SELECT unnest(string_split_regex(trim(lower(text)), ' +')) AS w
       |    FROM documents)
       |  WHERE length(w) > 0 GROUP BY w),
       |wp AS (SELECT w, freq, CAST(st AS INT) AS st,
       |    CAST(st + u.ln - 1 AS INT) AS en,
       |    substring(w, CAST(st AS INT), CAST(u.ln AS INT)) AS piece
       |  FROM (SELECT w, freq, unnest(range(1, length(w) + 1)) AS st
       |        FROM uw) sw
       |    CROSS JOIN range(1, ${maxPieceLen + 1}) u(ln)
       |  WHERE u.ln <= least($maxPieceLen, length(w) - st + 1)),
       |c0 AS (SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt
       |  FROM wp GROUP BY piece),
       |cand AS (SELECT DISTINCT piece, cnt FROM (
       |  (SELECT piece, cnt FROM c0 ORDER BY cnt DESC, piece LIMIT $maxVocab)
       |  UNION ALL
       |  (SELECT piece, cnt FROM c0 WHERE length(piece) = 1))),
       |${costCtes("cand", 0)},
       |$rounds""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("dedup_exact", (s, dir) => Dedup.exact(docs(s, dir), "doc_id", "text"),
      """SELECT min(doc_id) AS survivor, COUNT(*) AS n_copies
        |FROM documents GROUP BY lower(trim(text))""".stripMargin),
    QuerySpec("dedup_fingerprint", (s, dir) => Dedup.fingerprint(docs(s, dir), "doc_id", "text"),
      s"""WITH t AS ($toksCte)
         |SELECT md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp,
         |  min(doc_id) AS survivor, COUNT(*) AS n_copies
         |FROM t GROUP BY 1""".stripMargin),
    QuerySpec("dedup_ngram_jaccard", (s, dir) =>
      Dedup.ngramJaccard(docs(s, dir), "doc_id", "text", n = 2, tau = 0.8),
      s"""WITH $shingleCtes,
         |$jaccardPairBody
         |SELECT a, b,
         |  round(CAST(i AS DOUBLE) / (sza + szb - i), 6) AS jaccard
         |FROM inter
         |WHERE round(CAST(i AS DOUBLE) / (sza + szb - i), 6) >= 0.8""".stripMargin),
    // —— F3b: bounded top-k near-dup neighbors — F3's at-scale contract ——
    QuerySpec("dedup_ngram_topk", (s, dir) =>
      Dedup.ngramJaccardTopK(docs(s, dir), "doc_id", "text",
        n = 2, tau = 0.8, k = 3),
      s"""WITH t0 AS ($toksCte),
         |fpt AS (SELECT doc_id,
         |  md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp
         |  FROM t0),
         |grp AS (SELECT fp, min(doc_id) AS rep, COUNT(*) AS n_members
         |        FROM fpt GROUP BY 1),
         |t AS (SELECT t0.doc_id, t0.toks
         |      FROM t0 JOIN grp g ON t0.doc_id = g.rep),
         |$shingleBody,
         |$jaccardPairBody,
         |pairs AS (SELECT a, b,
         |    round(CAST(i AS DOUBLE) / (sza + szb - i), 6) AS jaccard
         |  FROM inter
         |  WHERE round(CAST(i AS DOUBLE) / (sza + szb - i), 6) >= 0.8),
         |sym AS (SELECT a AS id, b AS nbr, jaccard FROM pairs
         |        UNION ALL SELECT b, a, jaccard FROM pairs),
         |r AS (SELECT id, nbr, jaccard,
         |        row_number() OVER (PARTITION BY id
         |          ORDER BY jaccard DESC, nbr) AS rk
         |      FROM sym)
         |SELECT r.id, CAST(r.rk AS INTEGER) AS rk, r.nbr, r.jaccard,
         |  gi.n_members AS n_id, gn.n_members AS n_nbr
         |FROM r
         |JOIN grp gi ON gi.rep = r.id
         |JOIN grp gn ON gn.rep = r.nbr
         |WHERE r.rk <= 3""".stripMargin),
    QuerySpec("dedup_minhash_lsh", (s, dir) =>
      Dedup.minhashCandidates(docs(s, dir), "doc_id", "text", n = 2, k = 16, bands = 4),
      s"""WITH $shingleCtes,
         |$minhashSigSql,
         |bandkeys AS (
         |$bandKeysSql)
         |SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |FROM bandkeys x JOIN bandkeys y
         |  ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id""".stripMargin),
    QuerySpec("dedup_simhash", (s, dir) => Dedup.simhash(docs(s, dir), "doc_id", "text"),
      simhashSql),
    QuerySpec("dedup_embed_cosine", (s, dir) =>
      Similarity.nearDupPairs(s, emb(s, dir), tau = 0.4),
      s"""SELECT label, a, b, cos_r FROM (
         |  SELECT a.label, a.vec_id AS a, b.vec_id AS b,
         |    round(${cosSql.format("a.embedding", "b.embedding")}, 4) AS cos_r
         |  FROM embeddings a JOIN embeddings b
         |    ON a.label = b.label AND a.vec_id < b.vec_id)
         |WHERE cos_r >= 0.4""".stripMargin),
    // —— F3∘F2: duplicate-dense guard — pairs over the fingerprint-
    //    collapsed corpus, each side carrying its group size ——
    QuerySpec("dedup_pairs_collapsed", (s, dir) =>
      Dedup.ngramJaccardCollapsed(docs(s, dir), "doc_id", "text", n = 2, tau = 0.8),
      s"""WITH t0 AS ($toksCte),
         |fpt AS (SELECT doc_id,
         |  md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp
         |  FROM t0),
         |grp AS (SELECT fp, min(doc_id) AS rep, COUNT(*) AS n_members
         |        FROM fpt GROUP BY 1),
         |t AS (SELECT t0.doc_id, t0.toks
         |      FROM t0 JOIN grp g ON t0.doc_id = g.rep),
         |$shingleBody,
         |$jaccardPairBody
         |SELECT i.a, i.b,
         |  round(CAST(i.i AS DOUBLE) / (i.sza + i.szb - i.i), 6) AS jaccard,
         |  ga.n_members AS n_a, gb.n_members AS n_b
         |FROM inter i
         |JOIN grp ga ON ga.rep = i.a
         |JOIN grp gb ON gb.rep = i.b
         |WHERE round(CAST(i.i AS DOUBLE) / (i.sza + i.szb - i.i), 6) >= 0.8""".stripMargin),
    // —— F6∘collapse: cosine pairs over exact-duplicate-collapsed vectors ——
    QuerySpec("dedup_embed_collapsed", (s, dir) =>
      Similarity.nearDupPairsCollapsed(s, emb(s, dir), tau = 0.4),
      s"""WITH g AS (SELECT label, embedding, min(vec_id) AS rep,
         |             COUNT(*) AS n_members
         |           FROM embeddings GROUP BY 1, 2)
         |SELECT label, a, b, cos_r, n_a, n_b FROM (
         |  SELECT x.label, x.rep AS a, y.rep AS b,
         |    round(${cosSql.format("x.embedding", "y.embedding")}, 4) AS cos_r,
         |    x.n_members AS n_a, y.n_members AS n_b
         |  FROM g x JOIN g y ON x.label = y.label AND x.rep < y.rep)
         |WHERE cos_r >= 0.4""".stripMargin),
    // —— F10 for the LSH generator: band candidates over the collapsed corpus ——
    QuerySpec("dedup_minhash_collapsed", (s, dir) => {
      val reps = Dedup.collapseFingerprints(docs(s, dir), "doc_id", "text")
        .drop("n_members")
      Dedup.minhashCandidates(reps, "doc_id", "text", n = 2, k = 16, bands = 4)
    },
      s"""WITH t0 AS ($toksCte),
         |fpt AS (SELECT doc_id,
         |  md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp
         |  FROM t0),
         |grp AS (SELECT fp, min(doc_id) AS rep FROM fpt GROUP BY 1),
         |t AS (SELECT t0.doc_id, t0.toks
         |      FROM t0 JOIN grp g ON t0.doc_id = g.rep),
         |$shingleBody,
         |$minhashSigSql,
         |bandkeys AS (
         |$bandKeysSql)
         |SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |FROM bandkeys x JOIN bandkeys y
         |  ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id""".stripMargin),
    // —— F13: cross-corpus MinHash band join (two big sides) ——
    QuerySpec("dedup_cross_corpus", (s, dir) => {
      val d = docs(s, dir)
      Dedup.crossCorpusCandidates(
        d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 === 1),
        "doc_id", "text")
    },
      s"""WITH $shingleCtes,
         |$minhashSigSql,
         |bandkeys AS (
         |$bandKeysSql)
         |SELECT DISTINCT x.doc_id AS left_id, y.doc_id AS right_id
         |FROM bandkeys x JOIN bandkeys y
         |  ON x.band = y.band AND x.key = y.key
         | AND x.doc_id % 2 = 0 AND y.doc_id % 2 = 1""".stripMargin),
    // —— G16: per-source KL divergence from the corpus distribution ——
    QuerySpec("mix_divergence", (s, dir) =>
      Pipeline100TB.sourceDivergence(docs(s, dir), "source", "text"),
      """WITH t AS (SELECT source,
        |    unnest(string_split_regex(trim(lower(text)), ' +')) AS tok
        |  FROM documents WHERE source IS NOT NULL),
        |tf AS (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS tf
        |       FROM t GROUP BY 1, 2),
        |x AS (SELECT source, tok, tf,
        |    CAST(SUM(tf) OVER (PARTITION BY tok) AS BIGINT) AS cf,
        |    CAST(SUM(tf) OVER (PARTITION BY source) AS BIGINT) AS ns,
        |    CAST(SUM(tf) OVER () AS BIGINT) AS nc
        |  FROM tf),
        |c AS (SELECT source, tf,
        |    CAST(round(ln((CAST(tf AS DOUBLE) * nc)
        |           / (CAST(ns AS DOUBLE) * cf)) * 1000000.0) AS BIGINT) * tf
        |      AS mn
        |  FROM x)
        |SELECT source, CAST(SUM(tf) AS BIGINT) AS n_tok,
        |  round(CAST(SUM(mn) AS BIGINT) / 1000000.0 / SUM(tf), 6) AS kl
        |FROM c GROUP BY 1""".stripMargin),
    // —— F14: incremental FUZZY dedup of a batch vs the standing band index ——
    QuerySpec("dedup_incremental_fuzzy", (s, dir) => {
      val d = docs(s, dir)
      Dedup.incrementalBands(
        d.filter(col("doc_id") % 10 === 0),
        Dedup.bandIndex(d.filter(col("doc_id") % 10 =!= 0), "doc_id", "text"),
        "doc_id", "text")
    },
      s"""WITH RECURSIVE $shingleCtes,
         |$minhashSigSql,
         |bandkeys AS (
         |$bandKeysSql),
         |bb AS (SELECT * FROM bandkeys WHERE doc_id % 10 = 0),
         |ib AS (SELECT DISTINCT band, key FROM bandkeys WHERE doc_id % 10 <> 0),
         |vet AS (SELECT DISTINCT bb.doc_id FROM bb
         |        JOIN ib ON bb.band = ib.band AND bb.key = ib.key),
         |kept AS (SELECT * FROM bb
         |         WHERE doc_id NOT IN (SELECT doc_id FROM vet)),
         |pairs AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |          FROM kept x JOIN kept y
         |            ON x.band = y.band AND x.key = y.key
         |           AND x.doc_id < y.doc_id),
         |e AS (SELECT a AS s, b AS d FROM pairs
         |      UNION SELECT b, a FROM pairs),
         |reach(s, d) AS (
         |  SELECT s, d FROM e
         |  UNION
         |  SELECT r.s, e.d FROM reach r JOIN e ON r.d = e.s),
         |lab AS (SELECT s AS id, LEAST(s, MIN(d)) AS cluster
         |        FROM reach GROUP BY s),
         |kd AS (SELECT DISTINCT doc_id FROM kept)
         |SELECT cluster AS survivor, CAST(COUNT(*) AS BIGINT) AS n_members
         |FROM (SELECT kd.doc_id, COALESCE(lab.cluster, kd.doc_id) AS cluster
         |      FROM kd LEFT JOIN lab ON lab.id = kd.doc_id)
         |GROUP BY 1""".stripMargin),
    // —— F12: incremental dedup of a batch vs the standing corpus index ——
    QuerySpec("dedup_incremental", (s, dir) => {
      val d = docs(s, dir)
      Dedup.incrementalFingerprint(
        d.filter(col("doc_id") % 10 === 0),
        Dedup.fingerprintIndex(d.filter(col("doc_id") % 10 =!= 0), "text"),
        "doc_id", "text")
    },
      s"""WITH t AS ($toksCte),
         |fpt AS (SELECT doc_id,
         |  md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp
         |  FROM t),
         |b AS (SELECT * FROM fpt WHERE doc_id % 10 = 0)
         |SELECT fp, min(doc_id) AS survivor, COUNT(*) AS n_copies
         |FROM b
         |WHERE NOT EXISTS (SELECT 1 FROM fpt i
         |                  WHERE i.doc_id % 10 <> 0 AND i.fp = b.fp)
         |GROUP BY fp""".stripMargin),
    // —— F20b: closed-form Bloom sizing solver over the standing
    //    index's actual cardinality ——
    QuerySpec("dedup_bloom_choose", (s, dir) => {
      val d = docs(s, dir)
      Dedup.bloomChoose(
        Dedup.fingerprintIndex(d.filter(col("doc_id") % 10 =!= 0), "text"))
    },
      // F20b: 54-candidate (m, j) table, deterministic-exp FPR at the
      // index's true cardinality, smallest-qualifying chosen
      s"""WITH t AS ($toksCte),
         |fpt AS (SELECT doc_id,
         |  md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp
         |  FROM t),
         |idx AS (SELECT DISTINCT fp FROM fpt WHERE doc_id % 10 <> 0),
         |nk AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys FROM idx),
         |cand AS (SELECT CAST((CAST(1 AS BIGINT) << me) AS BIGINT) AS m_bits,
         |    CAST(j AS INTEGER) AS hashes
         |  FROM generate_series(12, 20) s(me), generate_series(1, 6) u(j)),
         |b0 AS (SELECT m_bits, hashes, n_keys,
         |    -(CAST(hashes AS DOUBLE) * CAST(n_keys AS DOUBLE))
         |      / CAST(m_bits AS DOUBLE) AS xv
         |  FROM cand, nk),
         |-- deterministic exp (the engine's withExpDet, op for op)
         |e2 AS (SELECT *, CAST(floor(xv * 1.4426950408889634 + 0.5) AS INT)
         |    AS xk FROM b0),
         |e3 AS (SELECT *, xv - CAST(xk AS DOUBLE) * 0.6931471805599453 AS xr
         |  FROM e2),
         |e4 AS (SELECT *, xr AS p1, p1*xr AS p2, p2*xr AS p3, p3*xr AS p4,
         |    p4*xr AS p5, p5*xr AS p6, p6*xr AS p7, p7*xr AS p8,
         |    p8*xr AS p9, p9*xr AS p10, p10*xr AS p11, p11*xr AS p12
         |  FROM e3),
         |e5 AS (SELECT *, 1.0 + p1 + p2/2.0 + p3/6.0 + p4/24.0 + p5/120.0
         |    + p6/720.0 + p7/5040.0 + p8/40320.0 + p9/362880.0
         |    + p10/3628800.0 + p11/39916800.0 + p12/479001600.0 AS xs
         |  FROM e4),
         |e6 AS (SELECT *, list_reduce(list_concat([xs],
         |      list_transform(range(1, abs(xk) + 1),
         |        i -> CASE WHEN xk > 0 THEN 2.0 ELSE 0.5 END)),
         |    (a, b) -> a * b) AS expv FROM e5),
         |pf AS (SELECT *, 1.0 - expv AS pb FROM e6),
         |f AS (SELECT m_bits, hashes, n_keys,
         |    CASE hashes WHEN 1 THEN pb WHEN 2 THEN pb*pb
         |      WHEN 3 THEN pb*pb*pb WHEN 4 THEN pb*pb*pb*pb
         |      WHEN 5 THEN pb*pb*pb*pb*pb
         |      ELSE pb*pb*pb*pb*pb*pb END AS fpr
         |  FROM pf),
         |mm AS (SELECT min(m_bits) AS bm FROM f WHERE fpr <= 0.01),
         |jm AS (SELECT min(hashes) AS bj FROM f, mm
         |       WHERE fpr <= 0.01 AND m_bits = mm.bm)
         |SELECT f.m_bits, f.hashes, f.n_keys, round(f.fpr, 6) AS fpr_r,
         |  COALESCE(f.m_bits = mm.bm AND f.hashes = jm.bj, FALSE) AS chosen
         |FROM f, mm, jm""".stripMargin),
    // —— F20: Bloom-filter definitely-new gate in front of the F12
    //    standing-index anti join ——
    QuerySpec("dedup_bloom_inc", (s, dir) => {
      val d = docs(s, dir)
      Dedup.bloomProbe(
        d.filter(col("doc_id") % 10 === 0),
        Dedup.fingerprintIndex(d.filter(col("doc_id") % 10 =!= 0), "text"),
        "doc_id", "text")
    },
      // F20: m=32768-bit filter as 1024 OR'd 32-bit words, j=3 hash60
      // probes of "fp#p"; batch docs read (all-bits-set, ground truth)
      s"""WITH t AS ($toksCte),
         |fpt AS (SELECT doc_id,
         |  md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp
         |  FROM t),
         |idx AS (SELECT DISTINCT fp FROM fpt WHERE doc_id % 10 <> 0),
         |ib AS (SELECT CAST('0x' || substr(md5(fp || '#' || CAST(p AS VARCHAR)), 1, 15)
         |         AS BIGINT) % 32768 AS bit
         |       FROM idx, generate_series(0, 2) s(p)),
         |words AS (SELECT CAST(bit // 32 AS INTEGER) AS word,
         |    bit_or(CAST(1 AS BIGINT) << CAST(bit % 32 AS INTEGER)) AS bits
         |  FROM ib GROUP BY 1),
         |b AS (SELECT doc_id, fp FROM fpt WHERE doc_id % 10 = 0),
         |pr AS (SELECT b.doc_id, b.fp,
         |    CAST('0x' || substr(md5(b.fp || '#' || CAST(p AS VARCHAR)), 1, 15)
         |      AS BIGINT) % 32768 AS bit
         |  FROM b, generate_series(0, 2) s(p)),
         |hit AS (SELECT pr.doc_id, pr.fp,
         |    COUNT(CASE WHEN (COALESCE(w.bits, 0)
         |          & (CAST(1 AS BIGINT) << CAST(pr.bit % 32 AS INTEGER))) <> 0
         |          THEN 1 END) AS n_set
         |  FROM pr LEFT JOIN words w ON w.word = CAST(pr.bit // 32 AS INTEGER)
         |  GROUP BY 1, 2)
         |SELECT h.doc_id, (h.n_set = 3) AS bloom_maybe,
         |  EXISTS(SELECT 1 FROM idx i WHERE i.fp = h.fp) AS in_index
         |FROM hit h""".stripMargin),
    // —— G15: token-balanced shard assignment in the global hash order ——
    QuerySpec("shard_tokens", (s, dir) => {
      import graft.functions.Hash60.tokens
      Pipeline100TB.tokenBalancedShards(
          docs(s, dir).select("doc_id", "source", "text"), col("doc_id"),
          size(tokens(col("text"))).cast("long"), nShards = 8)
        .select(col("doc_id"), col("source"), col("shard"))
    },
      """WITH t AS (SELECT doc_id, source,
        |    CAST(len(string_split_regex(trim(lower(text)), ' +')) AS BIGINT)
        |      AS n_tok,
        |    CAST('0x'||substr(md5(COALESCE(CAST(doc_id AS VARCHAR), '')),1,15)
        |      AS BIGINT) AS h
        |  FROM documents),
        |c AS (SELECT doc_id, source,
        |    CAST(COALESCE(SUM(n_tok) OVER (ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS cb,
        |    CAST(SUM(n_tok) OVER () AS BIGINT) AS tot
        |  FROM t)
        |SELECT doc_id, source,
        |  CAST(CASE WHEN tot <= 0 THEN 0
        |       ELSE LEAST((cb * 8) // tot, 7) END AS BIGINT) AS shard
        |FROM c""".stripMargin),
    QuerySpec("sim_topk_bruteforce", (s, dir) => {
      val e = emb(s, dir)
      Similarity.bruteForceTopK(s, e, e.filter(col("vec_id") < 10), k = 5)
    },
      bruteTopKSql),
    QuerySpec("sim_topk_lsh", (s, dir) => {
      val e = emb(s, dir)
      Similarity.lshTopK(s, e, e.filter(col("vec_id") < 10), k = 3, planes = 8)
    },
      s"""WITH dots AS (SELECT vec_id, p,
         |    SUM(CAST(embedding[d + 1] AS DOUBLE) *
         |        (CAST(((1 + p * 64 + d) * 2654435761) % 1000003 AS DOUBLE)
         |           / 1000003.0 - 0.5)) AS w
         |  FROM embeddings, generate_series(0, 7) t(p), generate_series(0, 63) u(d)
         |  GROUP BY 1, 2),
         |sig AS (SELECT vec_id,
         |    SUM(CASE WHEN w > 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS bucket
         |  FROM dots GROUP BY 1),
         |cand AS (SELECT sq.vec_id AS query_id, se.vec_id AS neighbor_id
         |  FROM sig sq JOIN sig se
         |    ON sq.bucket = se.bucket AND sq.vec_id < 10 AND se.vec_id <> sq.vec_id),
         |scored AS (SELECT c.query_id, c.neighbor_id,
         |    round(${cosSql.format("eq.embedding", "en.embedding")}, 4) AS cos_r
         |  FROM cand c
         |  JOIN embeddings eq ON eq.vec_id = c.query_id
         |  JOIN embeddings en ON en.vec_id = c.neighbor_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY cos_r DESC, neighbor_id) AS rank FROM scored)
         |SELECT query_id, neighbor_id, cos_r, CAST(rank AS INTEGER) AS rank
         |FROM r WHERE rank <= 3""".stripMargin),
    // —— G28: 1-bit sign quantization + Hamming-distance scan ——
    QuerySpec("sim_topk_hamming", (s, dir) => {
      val e = emb(s, dir)
      Similarity.hammingTopK(s, e, e.filter(col("vec_id") < 10), k = 5)
    },
      hammingTopKSql),
    // —— G28b: sign-scan shortlist + exact cosine re-rank ——
    QuerySpec("sim_topk_hamming_rerank", (s, dir) => {
      val e = emb(s, dir)
      Similarity.hammingRerankTopK(s, e, e.filter(col("vec_id") < 10),
        k = 5, kShort = 15)
    },
      hammingRerankSql),
    QuerySpec("sim_topk_pruned", (s, dir) => {
      val e = emb(s, dir)
      Similarity.exactPrunedTopK(s, e, e.filter(col("vec_id") < 10), k = 5)
    },
      // EXACT by construction (error-bounded prefilter + exact rerank)
      // ⇒ the oracle is the brute-force SQL verbatim.
      bruteTopKSql),
    // —— G19: product quantization — 4 subspaces × 4-centroid
    //    codebooks, integer-exact quantized-L2 training ——
    QuerySpec("embed_pq_codes", (s, dir) =>
      Similarity.pqCodes(s, emb(s, dir), m = 4, dsub = 16, ksub = 4,
        iters = 2),
      pqSql),
    // —— G29: sparse signed random projection (Achlioptas JL) ——
    QuerySpec("embed_rp", (s, dir) => Similarity.randomProjection(emb(s, dir)),
      // G29: coefficient formula and round(v·2²⁰) quantization replayed
      // term for term; list_sum over int64 terms is order-free
      """SELECT vec_id, CAST(j AS INTEGER) AS rp_dim,
        |  CAST(list_sum([
        |    CASE (1 + j*64 + (d-1)) * 2654435761 % 1000003 % 6
        |      WHEN 0 THEN -CAST(round(embedding[d] * 1048576.0) AS BIGINT)
        |      WHEN 5 THEN CAST(round(embedding[d] * 1048576.0) AS BIGINT)
        |      ELSE CAST(0 AS BIGINT) END
        |    for d in generate_series(1, 64)]) AS BIGINT) AS y_q
        |FROM embeddings, generate_series(0, 15) t(j)""".stripMargin),
    // —— H26: Zipf-slope vocabulary diagnostic ——
    QuerySpec("text_zipf", (s, dir) => TextAnalysis.zipfFit(docs(s, dir), "text"),
      // H26: token counts → top-64 ranks → TWO lnDet replays (x over
      // 1/rank, y over freq/N) → exact micronat least squares; only the
      // final divisions are float, mirrored op for op
      s"""WITH t AS ($toksCte),
         |tok AS (SELECT unnest(toks) AS tok FROM t),
         |tfq AS (SELECT tok, COUNT(*) AS freq FROM tok GROUP BY 1),
         |nt AS (SELECT CAST(SUM(freq) AS BIGINT) AS n_tokens FROM tfq),
         |top AS (SELECT tok, freq,
         |    row_number() OVER (ORDER BY freq DESC, tok) AS rank
         |  FROM tfq ORDER BY freq DESC, tok LIMIT 64),
         |px AS (SELECT rank AS doc_id, freq AS tf,
         |         1.0 / CAST(rank AS DOUBLE) AS p FROM top),
         |${lnDetCtesN("px", "zx")},
         |py AS (SELECT top.rank AS doc_id, top.freq AS tf,
         |         CAST(top.freq AS DOUBLE) / CAST(nt.n_tokens AS DOUBLE) AS p
         |       FROM top, nt),
         |${lnDetCtesN("py", "zy")},
         |pts AS (SELECT
         |    CAST(-round(x.lnp * 1000000.0) AS BIGINT) AS x,
         |    CAST(round(y.lnp * 1000000.0) AS BIGINT) AS y
         |  FROM srzx x JOIN srzy y ON x.doc_id = y.doc_id),
         |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         |    CAST(SUM(x*x) AS BIGINT) AS sxx,
         |    CAST(SUM(x*y) AS BIGINT) AS sxy FROM pts)
         |SELECT CAST(n AS INTEGER) AS n_top, nt.n_tokens,
         |  round(CAST(n*sxy - sx*sy AS DOUBLE)
         |        / CAST(n*sxx - sx*sx AS DOUBLE), 6) AS slope_r,
         |  round(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
         |        - (CAST(n*sxy - sx*sy AS DOUBLE)
         |           / CAST(n*sxx - sx*sx AS DOUBLE))
         |          * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)), 6)
         |    AS intercept_r
         |FROM s, nt""".stripMargin),
    // —— G30: k-center coreset by farthest-first traversal ——
    QuerySpec("sample_kcenter", (s, dir) => Similarity.kcenterSample(emb(s, dir)),
      kcenterSql(8)),
    // —— G27: OPQ-lite — variance-balanced dimension permutation in
    //    front of the same PQ train/encode machinery ——
    QuerySpec("embed_opq_codes", (s, dir) =>
      Similarity.opqCodes(s, emb(s, dir), m = 4, dsub = 16, ksub = 4,
        iters = 2),
      opqSql),
    // —— G27b: LEARNED OPQ decomposition — greedy variance-balancing
    //    allocation (sum-domain eigenvalue allocation) ∘ PQ ——
    QuerySpec("embed_opq_rot", (s, dir) =>
      Similarity.opqRotCodes(s, emb(s, dir), m = 4, dsub = 16, ksub = 4,
        iters = 2),
      opqRotSql),
    // —— G19b: PQ ADC search — codes-only scan, integer-exact ——
    QuerySpec("sim_topk_pq", (s, dir) => {
      val e = emb(s, dir)
      Similarity.pqTopK(s, e, e.filter(col("vec_id") < 10), k = 5)
    },
      pqTopKSql),
    // —— G18: Matryoshka truncated-prefix coarse pass + exact rerank ——
    QuerySpec("sim_topk_truncated", (s, dir) => {
      val e = emb(s, dir)
      Similarity.truncatedTopK(s, e, e.filter(col("vec_id") < 10),
        dPrefix = 16, cands = 20, k = 5)
    },
      // G18: coarse pass on the 16-dim prefix, rerank the 20-shortlist
      // with the full vector — slices replay as 1-based DuckDB [1:16]
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb
         |           FROM embeddings WHERE vec_id < 10),
         |scored AS (SELECT q.query_id, e.vec_id, e.embedding, q.q_emb,
         |    round(${cosSql.format("q.q_emb[1:16]", "e.embedding[1:16]")}, 4)
         |      AS cos_c
         |  FROM q, embeddings e WHERE e.vec_id <> q.query_id),
         |c AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY cos_c DESC, vec_id) AS crank FROM scored),
         |rr AS (SELECT query_id, vec_id,
         |    round(${cosSql.format("q_emb", "embedding")}, 4) AS cos_r
         |  FROM c WHERE crank <= 20),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
         |        ORDER BY cos_r DESC, vec_id) AS rank FROM rr)
         |SELECT query_id, vec_id AS neighbor_id, cos_r,
         |  CAST(rank AS INTEGER) AS rank
         |FROM r WHERE rank <= 5""".stripMargin),
    QuerySpec("embed_norms", (s, dir) => Similarity.norms(emb(s, dir)),
      """SELECT vec_id, dim, round(sqrt(ss), 4) AS norm
        |FROM (SELECT e.vec_id, CAST(len(e.embedding) AS INTEGER) AS dim,
        |        SUM(CAST(e.embedding[d] AS DOUBLE) * CAST(e.embedding[d] AS DOUBLE)) AS ss
        |      FROM embeddings e, generate_series(1, 64) t(d)
        |      GROUP BY e.vec_id, len(e.embedding))""".stripMargin),
    // —— G20: corpus mean-centering diagnostics ——
    QuerySpec("embed_center", (s, dir) => Similarity.centeredStats(s, emb(s, dir)),
      // G20: exact scaled-int64 mean (float-snapped), then map-side
      // cosine-to-mean + integer-exact centered norm
      {
        val dq = "list_sum([ (CAST(round(embedding[i]*1048576.0) AS BIGINT)" +
          " - CAST(round(mvec[i]*1048576.0) AS BIGINT))" +
          " * (CAST(round(embedding[i]*1048576.0) AS BIGINT)" +
          " - CAST(round(mvec[i]*1048576.0) AS BIGINT))" +
          " for i in generate_series(1, 64) ])"
        s"""WITH m0 AS (SELECT g.d,
           |    CAST(SUM(CAST(round(embedding[g.d]*1048576.0) AS BIGINT))
           |         AS DOUBLE) / (COUNT(*) * 1048576.0) AS mv
           |  FROM embeddings, generate_series(1, 64) AS g(d) GROUP BY 1),
           |m AS (SELECT list(CAST(CAST(mv AS FLOAT) AS DOUBLE) ORDER BY d)
           |        AS mvec FROM m0)
           |SELECT vec_id,
           |  round(${cosSql.format("embedding", "mvec")}, 4) + 0.0 AS cos_mean,
           |  round(sqrt(CAST($dq AS DOUBLE)) / 1048576.0, 4) AS norm_c
           |FROM embeddings, m""".stripMargin
      }),
    QuerySpec("text_langid", (s, dir) => TextAnalysis.langId(docs(s, dir), "doc_id", "text"),
      s"""WITH t AS ($toksCte),
         |s AS (SELECT doc_id,
         |  CAST(len(list_filter(toks, $stopIn)) AS DOUBLE) / len(toks) AS en_score,
         |  CAST(len(list_filter(toks, x -> x IN ('el', 'la', 'de', 'y'))) AS DOUBLE) / len(toks) AS es_score,
         |  CAST(len(list_filter(toks, x -> x IN ('le', 'la', 'et', 'de'))) AS DOUBLE) / len(toks) AS fr_score,
         |  CAST(len(list_filter(toks, x -> x IN ('der', 'die', 'und', 'das'))) AS DOUBLE) / len(toks) AS de_score
         |  FROM t)
         |SELECT doc_id,
         |  CASE WHEN en_score >= es_score AND en_score >= fr_score AND en_score >= de_score THEN 'en'
         |       WHEN es_score >= fr_score AND es_score >= de_score THEN 'es'
         |       WHEN fr_score >= de_score THEN 'fr' ELSE 'de' END AS predicted,
         |  en_score, es_score
         |FROM s""".stripMargin),
    QuerySpec("text_quality", (s, dir) => TextAnalysis.quality(docs(s, dir), "doc_id", "text"),
      s"""WITH t AS (SELECT doc_id, text,
         |    string_split_regex(trim(lower(text)), ' +') AS toks FROM documents),
         |s AS (SELECT doc_id,
         |    CAST(len(toks) AS DOUBLE) AS nw,
         |    CAST(len(list_filter(toks, $stopIn)) AS DOUBLE) / len(toks) AS stop_ratio,
         |    CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS DOUBLE)
         |      / length(text) AS alpha_raw
         |  FROM t)
         |SELECT doc_id, CAST(nw AS BIGINT) AS n_words, stop_ratio,
         |  round(alpha_raw, 6) AS alpha_ratio,
         |  round(least(nw / 100.0, 1.0) * 0.5 + stop_ratio * 0.3 + alpha_raw * 0.2, 6)
         |    AS quality
         |FROM s""".stripMargin),
    QuerySpec("text_tokens", (s, dir) => TextAnalysis.tokenCounts(docs(s, dir), "doc_id", "text"),
      """SELECT doc_id,
        |  CAST(len(string_split_regex(trim(lower(text)), ' +')) AS INTEGER) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+')) AS INTEGER) AS re_tokens,
        |  (length(text) + 3) // 4 AS bpe_est
        |FROM documents""".stripMargin),
    // the opt-in NFC+casefold tokenizer, made load-bearing by
    // appending DECOMPOSED mixed-case tokens (e + combining acute,
    // i + combining diaeresis) to every document: after NFC + lower
    // they must count as the composed lowercase probe words on both
    // engines (DuckDB side uses its native nfc_normalize)
    QuerySpec("text_tokens_nfc", (s, dir) => {
      val d = docs(s, dir).withColumn("text",
        concat(col("text"),
          lit(" CafÉ naïve FIANCÉE")))
      TextAnalysis.tokenCountsNormalized(d, "doc_id", "text", "NFC",
        Seq("café", "naïve", "fiancée"))
    },
      // decomposed suffix built with chr() (769 = combining acute,
      // 776 = combining diaeresis) and composed probes with chr(233/239)
      // so the SQL stays ASCII-safe through the JSON dump; DuckDB's
      // native nfc_normalize is the oracle for the engine's NFC mode
      """WITH t AS (SELECT doc_id, string_split_regex(trim(lower(nfc_normalize(
        |    text || ' CafE' || chr(769) || ' nai' || chr(776) ||
        |    've FIANCE' || chr(769) || 'E'))), ' +') AS toks
        |  FROM documents)
        |SELECT doc_id, CAST(len(toks) AS INTEGER) AS ws_tokens,
        |  CAST(len(list_filter(toks, x -> x IN
        |    ('caf' || chr(233), 'na' || chr(239) || 've',
        |     'fianc' || chr(233) || 'e'))) AS INTEGER) AS probe_hits
        |FROM t""".stripMargin),
    QuerySpec("text_fingerprint", (s, dir) =>
      TextAnalysis.fingerprints(docs(s, dir), "doc_id", "text"),
      s"""WITH t AS ($toksCte)
         |SELECT doc_id,
         |  md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp
         |FROM t""".stripMargin),
    QuerySpec("text_vocab", (s, dir) => TextAnalysis.vocabulary(docs(s, dir), "doc_id", "text"),
      s"""WITH t AS ($toksCte),
         |tok AS (SELECT doc_id AS id, unnest(toks) AS term FROM t)
         |SELECT term, COUNT(*) AS tf, COUNT(DISTINCT id) AS df
         |FROM tok GROUP BY term""".stripMargin),
    QuerySpec("text_tfidf", (s, dir) => TextAnalysis.topTerms(docs(s, dir), "doc_id", "text"),
      s"""WITH t AS ($toksCte),
         |tok AS (SELECT doc_id AS id, unnest(toks) AS term FROM t),
         |perdoc AS (SELECT id, term, COUNT(*) AS tf_d FROM tok GROUP BY 1, 2),
         |dfreq AS (SELECT term, COUNT(DISTINCT id) AS df FROM tok GROUP BY 1),
         |n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
         |scored AS (
         |  SELECT p.id, p.term,
         |    CAST(p.tf_d AS DOUBLE) * (SELECT CAST(n AS DOUBLE) FROM n) / d.df
         |      AS score
         |  FROM perdoc p JOIN dfreq d USING (term)),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY id
         |             ORDER BY score DESC, term) AS rk FROM scored)
         |SELECT id, term, round(score, 6) AS score, CAST(rk AS INTEGER) AS rk
         |FROM ranked WHERE rk <= 3""".stripMargin),
    QuerySpec("text_repetition", (s, dir) =>
      TextAnalysis.repetition(docs(s, dir), "doc_id", "text"),
      s"""WITH t AS ($toksCte),
         |g AS (SELECT doc_id, greatest(len(toks) - 2, 0) AS total,
         |        [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
         |         for i in generate_series(1, len(toks) - 2)] AS grams
         |      FROM t)
         |SELECT doc_id, CAST(total AS INTEGER) AS ngrams_total,
         |  CAST(CASE WHEN total > 0 THEN len(list_distinct(grams))
         |       ELSE 0 END AS INTEGER) AS ngrams_distinct,
         |  CASE WHEN total > 0 THEN
         |    round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / total, 6)
         |  END AS dup_frac
         |FROM g""".stripMargin),
    // —— H19: cross-document duplicated n-gram (boilerplate) fraction ——
    QuerySpec("text_boilerplate", (s, dir) =>
      TextAnalysis.boilerplate(docs(s, dir), "doc_id", "text", n = 3, minDf = 2),
      s"""WITH t AS ($toksCte),
         |sh0 AS (SELECT doc_id,
         |  list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
         |                 for i in generate_series(1, len(toks)-2)]) AS sharr
         |  FROM t),
         |sh AS (SELECT doc_id, unnest(sharr) AS sh
         |       FROM sh0 WHERE len(sharr) > 0),
         |d AS (SELECT doc_id, COUNT(*) OVER (PARTITION BY sh) AS df FROM sh)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
         |  CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_common,
         |  round(CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |        / COUNT(*), 6) AS dup_frac
         |FROM d GROUP BY 1""".stripMargin),
    QuerySpec("embed_quantize", (s, dir) => {
      import org.apache.spark.sql.functions._
      // Serialize the int8 vector: the driver's pandas compare can't
      // sort rows on array columns.
      Similarity.quantizeInt8(emb(s, dir))
        .withColumn("q", concat(lit("["), array_join(col("q"), ","), lit("]")))
    },
      """WITH m AS (
        |  SELECT e.vec_id, MAX(abs(CAST(e.embedding[d] AS DOUBLE))) AS max_abs
        |  FROM embeddings e, generate_series(1, 64) t(d)
        |  GROUP BY e.vec_id)
        |SELECT e.vec_id, round(m.max_abs, 6) AS scale_r,
        |  '[' || array_to_string(
        |    [CAST(round(CAST(x AS DOUBLE) * 127.0 / m.max_abs, 0) AS INTEGER)
        |     for x in e.embedding], ',') || ']' AS q
        |FROM embeddings e JOIN m ON e.vec_id = m.vec_id""".stripMargin),
    QuerySpec("mm_binary_meta", (s, dir) => Multimodal.binaryMeta(docs(s, dir), "doc_id", "text"),
      """SELECT doc_id AS media_id, CAST(octet_length(encode(text)) AS INTEGER) AS bytes,
        |  md5(text) AS content_md5,
        |  (octet_length(encode(text)) + 255) // 256 AS n_chunks,
        |  'text/plain' AS mime
        |FROM documents""".stripMargin),
    // —— H5b: real PNG/JPEG/GIF header decode; the oracle states the
    //    generator's ground truth, the engine must re-derive it by
    //    parsing the container bytes it built ——
    QuerySpec("mm_image_dims", (s, dir) => Multimodal.imageDims(docs(s, dir), "doc_id"),
      // Ground truth stated directly from the payload-generator
      // parameters (format selector, dimension formulas, corruption
      // stride): the engine side cannot shortcut — it reconstructs these
      // values only by byte-parsing the PNG/JPEG/GIF containers it built.
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 13 = 0 THEN NULL
        |       WHEN doc_id % 4 = 0 THEN 'png'
        |       WHEN doc_id % 4 = 1 THEN 'jpeg'
        |       WHEN doc_id % 4 = 2 THEN 'gif'
        |       ELSE 'webp' END AS format,
        |  CASE WHEN doc_id % 13 = 0 THEN NULL
        |       ELSE CAST(16 + doc_id % 2048 AS INTEGER) END AS width,
        |  CASE WHEN doc_id % 13 = 0 THEN NULL
        |       ELSE CAST(16 + (doc_id * 3) % 2048 AS INTEGER) END AS height,
        |  CASE WHEN doc_id % 13 = 0 THEN NULL
        |       WHEN doc_id % 4 = 0 THEN
        |         CAST([1,2,4,8,16][CAST(doc_id % 5 AS INTEGER) + 1] AS INTEGER)
        |       WHEN doc_id % 4 = 2 THEN CAST(doc_id % 8 + 1 AS INTEGER)
        |       ELSE 8 END AS bit_depth
        |FROM documents""".stripMargin),
    // —— H6: real RIFF/WAV and ISO-BMFF header walks over binary payloads ——
    QuerySpec("mm_audio_meta", (s, dir) => Multimodal.audioMeta(docs(s, dir), "doc_id"),
      // H6: the analytic ground truth of the WAV generator — the oracle
      // predicts what the chunk walk must recover from the bytes
      """WITH p AS (SELECT doc_id,
        |    (doc_id % 2) * 2 + 1 AS codec,
        |    doc_id % 2 + 1 AS channels,
        |    (doc_id % 8) * 4000 + 8000 AS sample_rate,
        |    (doc_id % 3 + 1) * 8 AS bit_depth
        |  FROM documents),
        |q AS (SELECT *,
        |    (channels * bit_depth) // 8 AS block_align FROM p),
        |r AS (SELECT *,
        |    (doc_id % 1000 + 1) * block_align AS data_bytes,
        |    sample_rate * block_align AS byte_rate FROM q)
        |SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 13 = 0 THEN NULL ELSE 'wav' END AS format,
        |  CASE WHEN doc_id % 13 = 0 THEN NULL
        |       ELSE CAST(codec AS INTEGER) END AS codec,
        |  CASE WHEN doc_id % 13 = 0 THEN NULL
        |       ELSE CAST(channels AS INTEGER) END AS channels,
        |  CASE WHEN doc_id % 13 = 0 THEN NULL
        |       ELSE CAST(sample_rate AS INTEGER) END AS sample_rate,
        |  CASE WHEN doc_id % 13 = 0 THEN NULL
        |       ELSE CAST(bit_depth AS INTEGER) END AS bit_depth,
        |  CASE WHEN doc_id % 13 = 0 THEN NULL
        |       ELSE CAST(data_bytes AS BIGINT) END AS data_bytes,
        |  CASE WHEN doc_id % 13 = 0 THEN NULL
        |       ELSE CAST(data_bytes * 1000 // byte_rate AS BIGINT)
        |       END AS duration_ms
        |FROM r""".stripMargin),
    QuerySpec("mm_video_meta", (s, dir) => Multimodal.videoMeta(docs(s, dir), "doc_id"),
      // H6: the analytic ground truth of the MP4 generator
      """WITH p AS (SELECT doc_id,
        |    ['isom','mp42','qt  '][CAST(doc_id % 3 AS INTEGER) + 1] AS brand,
        |    (doc_id % 10) * 100 + 600 AS timescale,
        |    (doc_id % 100000) + 1000 AS duration,
        |    doc_id % 3 + 1 AS n_tracks
        |  FROM documents)
        |SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 13 = 0 THEN NULL ELSE brand END AS brand,
        |  CASE WHEN doc_id % 13 = 0 THEN NULL
        |       ELSE CAST(timescale AS BIGINT) END AS timescale,
        |  CASE WHEN doc_id % 13 = 0 THEN NULL
        |       ELSE CAST(duration AS BIGINT) END AS duration,
        |  CASE WHEN doc_id % 13 = 0 THEN NULL
        |       ELSE CAST(n_tracks AS INTEGER) END AS n_tracks,
        |  CASE WHEN doc_id % 13 = 0 THEN NULL
        |       ELSE CAST(duration * 1000 // timescale AS BIGINT)
        |       END AS duration_ms
        |FROM p""".stripMargin),
    // —— H6d: INTERLEAVED multimodal packing — each doc costs its text
    //    tokens PLUS an image-token budget derived from the REAL
    //    decoded image dims (⌈w/256⌉·⌈h/256⌉ patch tiles, the
    //    vision-encoder accounting; corrupted payloads contribute 0),
    //    through the exact H15 packing machinery ——
    QuerySpec("mm_pack", (s, dir) => {
      import graft.functions.Hash60.tokens
      val d = docs(s, dir)
      val dims = Multimodal.imageDims(d, "doc_id")
        .select(col("media_id").as("doc_id"), col("width"), col("height"))
      val imgTok = when(col("width").isNull, lit(0L))
        .otherwise((expr("(width + 255) div 256") *
          expr("(height + 255) div 256")).cast("long"))
      graft.operators.Pipeline100TB.packSequencesBy(
        d.join(dims, Seq("doc_id")), "doc_id",
        size(tokens(col("text"))).cast("long") + imgTok,
        shardCol = "source", cap = 512)
    },
      // H6d: text tokens + analytically-predicted image patch tiles,
      // through the standard packing window
      """WITH t AS (SELECT d.doc_id, d.source AS shard,
        |    CAST(len(string_split_regex(trim(lower(d.text)), ' +')) AS BIGINT)
        |    + CASE WHEN d.doc_id % 13 = 0 THEN 0
        |           ELSE ((16 + d.doc_id % 2048 + 255) // 256)
        |                * ((16 + (d.doc_id * 3) % 2048 + 255) // 256)
        |      END AS n_tok
        |  FROM documents d),
        |c AS (SELECT doc_id, shard, n_tok,
        |  CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |    AS cum_before
        |  FROM t)
        |SELECT doc_id, shard, n_tok, cum_before,
        |  cum_before // 512 AS bin, cum_before % 512 AS off_tok
        |FROM c""".stripMargin),
    QuerySpec("mm_frame_sample", (s, dir) => Multimodal.frameSample(docs(s, dir), "doc_id", "text"),
      """WITH RECURSIVE s(i) AS (
        |  SELECT 0
        |  UNION ALL
        |  SELECT i + 1 FROM s
        |  WHERE i < (SELECT CAST(floor((max(length(text))-1)/256.0) AS INTEGER)
        |             FROM documents))
        |SELECT doc_id AS media_id, CAST(i // 4 AS INTEGER) AS frame_idx,
        |  md5(substr(text, CAST(i AS INTEGER) * 256 + 1, 256)) AS frame_md5
        |FROM documents, s
        |WHERE length(text) > 0 AND i % 4 = 0
        |  AND i <= CAST(floor((length(text) - 1) / 256.0) AS INTEGER)""".stripMargin),
    // —— F8: benchmark decontamination (trigram overlap vs eval set) ——
    QuerySpec("decon_ngram", (s, dir) =>
      Dedup.decontaminate(docs(s, dir), "doc_id", "text", n = 3,
        benchPred = col("doc_id") % 20 === 0),
      s"""WITH t AS ($toksCte),
         |sh0 AS (SELECT doc_id,
         |  list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
         |                 for i in generate_series(1, len(toks)-2)]) AS sharr
         |  FROM t),
         |sh AS (SELECT doc_id, CAST(len(sharr) AS INTEGER) AS n_shingles,
         |         unnest(sharr) AS shingle
         |       FROM sh0 WHERE len(sharr) > 0),
         |b AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 20 = 0),
         |c AS (SELECT * FROM sh WHERE doc_id % 20 <> 0)
         |SELECT c.doc_id, c.n_shingles, COUNT(*) AS n_hit,
         |  round(COUNT(*) / c.n_shingles, 6) AS contamination
         |FROM c JOIN b USING (shingle)
         |GROUP BY 1, 2""".stripMargin),
    // —— F8c: span-level decontamination — verbatim aligned-block
    //    overlap with the benchmark set ——
    QuerySpec("decon_spans", (s, dir) =>
      Dedup.decontaminateSpans(docs(s, dir), "doc_id", "text",
        benchPred = col("doc_id") % 20 === 0),
      // F8c: aligned-grid blocks vs the bench set's distinct block set
      """WITH idx AS (SELECT DISTINCT unnest(
        |    [CAST('0x' || substr(md5(substr(text, CAST(i AS INTEGER), 30)), 1, 15)
        |          AS BIGINT)
        |     for i in generate_series(1, len(text) - 29, 30)]) AS h
        |  FROM documents WHERE doc_id % 20 = 0 AND len(text) >= 30),
        |s0 AS (SELECT doc_id,
        |    [CAST('0x' || substr(md5(substr(text, CAST(i AS INTEGER), 30)), 1, 15)
        |          AS BIGINT)
        |     for i in generate_series(1, len(text) - 29, 30)] AS hs
        |  FROM documents WHERE doc_id % 20 <> 0 AND len(text) >= 30),
        |s AS (SELECT doc_id, unnest(hs) AS h FROM s0),
        |per AS (SELECT s.doc_id, COUNT(*) AS n_blocks,
        |          COUNT(CASE WHEN idx.h IS NOT NULL THEN 1 END) AS n_hit
        |        FROM s LEFT JOIN idx USING (h) GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(COALESCE(per.n_blocks, 0) AS BIGINT) AS n_blocks,
        |  CAST(COALESCE(per.n_hit, 0) AS BIGINT) AS n_hit,
        |  CASE WHEN per.n_blocks > 0
        |       THEN round(CAST(per.n_hit AS DOUBLE) / per.n_blocks, 6)
        |  END AS contamination
        |FROM documents d LEFT JOIN per USING (doc_id)
        |WHERE d.doc_id % 20 <> 0""".stripMargin),
    // —— G22: label-blocked kNN graph over collapsed distinct vectors ——
    // —— G31: graph-walk ANN — greedy beam search over the G22 kNN
    //    graph (the HNSW/DiskANN search pattern), multi-entry ——
    QuerySpec("sim_topk_graph", (s, dir) => {
      val e = emb(s, dir)
      Similarity.graphTopK(s, e, e.filter(col("vec_id") < 10), k = 5,
        beamWidth = 16, rounds = 4, graphK = 8)
    },
      graphTopKSql()),
    QuerySpec("sim_knn_graph", (s, dir) =>
      Similarity.knnGraph(s, emb(s, dir), k = 3),
      // G22: collapse to distinct (label, embedding) reps, label-blocked
      // pairs, top-k per rep by (cos DESC, nbr)
      knnGraphSql),
    // —— G22b: PageRank centrality over the G22 kNN graph — the
    //    graph-quality-propagation curation signal ——
    QuerySpec("graph_pagerank", (s, dir) => {
      val e = emb(s, dir)
      val reps = e.groupBy(col("label"), col("embedding"))
        .agg(min(col("vec_id")).as("id")).select("id")
      val edges = Similarity.knnGraph(s, e, k = 3)
        .select(col("vec_id").as("src"), col("nbr").as("dst"))
      Pipeline100TB.pageRank(reps, edges)
    },
      pageRankSql),
    // —— G22c: triangle count + clustering coefficient over the same
    //    kNN graph — the neighborhood-redundancy diagnostic ——
    QuerySpec("graph_triangles", (s, dir) => {
      val e = emb(s, dir)
      val reps = e.groupBy(col("label"), col("embedding"))
        .agg(min(col("vec_id")).as("id")).select("id")
      val edges = Similarity.knnGraph(s, e, k = 3)
        .select(col("vec_id").as("src"), col("nbr").as("dst"))
      Pipeline100TB.triangleStats(reps, edges)
    },
      // G22c: same derived edge set, wedge-close counting, int64 div
      s"""WITH ed AS (SELECT vec_id AS src, nbr AS dst FROM (
         |$knnGraphSql
         |) __k),
         |und AS (SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
         |        FROM ed WHERE src <> dst),
         |g AS (SELECT label, embedding, MIN(vec_id) AS vec_id
         |      FROM embeddings GROUP BY label, embedding),
         |deg AS (SELECT n, COUNT(*) AS deg FROM
         |          (SELECT u AS n FROM und UNION ALL SELECT v FROM und)
         |        GROUP BY 1),
         |sym AS (SELECT u AS c, v AS n FROM und
         |        UNION ALL SELECT v, u FROM und),
         |wed AS (SELECT a.c, a.n AS p, b.n AS q
         |        FROM sym a JOIN sym b ON a.c = b.c AND a.n < b.n),
         |tri AS (SELECT c, COUNT(*) AS n_tri FROM wed
         |        WHERE EXISTS (SELECT 1 FROM und
         |                      WHERE und.u = wed.p AND und.v = wed.q)
         |        GROUP BY c)
         |SELECT g.vec_id,
         |  CAST(COALESCE(deg.deg, 0) AS BIGINT) AS deg,
         |  CAST(COALESCE(tri.n_tri, 0) AS BIGINT) AS n_tri,
         |  CASE WHEN COALESCE(deg.deg, 0) >= 2
         |       THEN CAST((2 * COALESCE(tri.n_tri, 0) * 1000000)
         |                 // (deg.deg * (deg.deg - 1)) AS BIGINT)
         |       ELSE CAST(0 AS BIGINT) END AS coeff_micro
         |FROM g LEFT JOIN deg ON deg.n = g.vec_id
         |       LEFT JOIN tri ON tri.c = g.vec_id""".stripMargin),
    // —— F18: precision/recall of the MinHash banding vs true Jaccard ——
    QuerySpec("dedup_eval", (s, dir) =>
      Dedup.bandingEval(docs(s, dir), "doc_id", "text"),
      // F18: both pair pipelines over the collapsed corpus, then the
      // precision/recall readout of the banding against true Jaccard
      s"""WITH t0 AS ($toksCte),
         |fpt AS (SELECT doc_id,
         |  md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp
         |  FROM t0),
         |grp AS (SELECT fp, min(doc_id) AS rep FROM fpt GROUP BY 1),
         |t AS (SELECT t0.doc_id, t0.toks
         |      FROM t0 JOIN grp g ON t0.doc_id = g.rep),
         |$shingleBody,
         |$jaccardPairBody,
         |tp AS (SELECT i.a, i.b FROM inter i
         |       WHERE round(CAST(i.i AS DOUBLE) / (i.sza + i.szb - i.i), 6)
         |             >= 0.8),
         |$minhashSigSql,
         |bandkeys AS (
         |$bandKeysSql),
         |cp AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |       FROM bandkeys x JOIN bandkeys y
         |         ON x.band = y.band AND x.key = y.key
         |        AND x.doc_id < y.doc_id),
         |m AS (SELECT
         |  (SELECT COUNT(*) FROM tp) AS n_true,
         |  (SELECT COUNT(*) FROM cp) AS n_cand,
         |  (SELECT COUNT(*) FROM tp JOIN cp
         |     ON tp.a = cp.a AND tp.b = cp.b) AS n_hit)
         |SELECT CAST(n_true AS BIGINT) AS n_true,
         |  CAST(n_cand AS BIGINT) AS n_cand,
         |  CAST(n_hit AS BIGINT) AS n_hit,
         |  CASE WHEN n_cand > 0
         |       THEN round(CAST(n_hit AS DOUBLE) / n_cand, 6) END AS prec,
         |  CASE WHEN n_true > 0
         |       THEN round(CAST(n_hit AS DOUBLE) / n_true, 6) END AS recall
         |FROM m""".stripMargin),
    // —— F18b: closed-form S-curve banding solver — the (r, b)
    //    factorization table with the chosen knobs flagged ——
    QuerySpec("dedup_band_choose", (s, dir) => Dedup.bandChoose(s),
      // F15: the identical span grid (1-based char positions every 7,
      // 30-char windows) and the shared md5-60bit span hash
      // F18b: the integer S-curve solver — floor-division fixed-point
      // powers, so the replay is bit-exact with zero libm assumptions
      """WITH cand AS (SELECT CAST(d AS INTEGER) AS r,
        |         CAST(16 // d AS INTEGER) AS b
        |       FROM generate_series(1, 16) t(d) WHERE 16 % d = 0),
        |p AS (SELECT r, b,
        |  list_reduce(list_prepend(CAST(1000000 AS BIGINT),
        |      [CAST(0 AS BIGINT) for i in generate_series(1, r)]),
        |    (acc, x) -> (acc * 800000) // 1000000) AS pr,
        |  list_reduce(list_prepend(CAST(1000000 AS BIGINT),
        |      [CAST(0 AS BIGINT) for i in generate_series(1, r)]),
        |    (acc, x) -> (acc * 300000) // 1000000) AS pf
        |  FROM cand),
        |q AS (SELECT r, b,
        |  1000000 - list_reduce(list_prepend(CAST(1000000 AS BIGINT),
        |      [CAST(0 AS BIGINT) for i in generate_series(1, b)]),
        |    (acc, x) -> (acc * (1000000 - pr)) // 1000000) AS recall_m,
        |  1000000 - list_reduce(list_prepend(CAST(1000000 AS BIGINT),
        |      [CAST(0 AS BIGINT) for i in generate_series(1, b)]),
        |    (acc, x) -> (acc * (1000000 - pf)) // 1000000) AS fp_m
        |  FROM p),
        |m AS (SELECT r, b, recall_m, fp_m, recall_m >= 850000 AS meets,
        |        row_number() OVER (ORDER BY recall_m >= 850000 DESC,
        |                           fp_m ASC, r DESC) AS rk
        |      FROM q)
        |SELECT r, b,
        |  round(CAST(recall_m AS DOUBLE) / 1000000.0, 6) AS recall,
        |  round(CAST(fp_m AS DOUBLE) / 1000000.0, 6) AS fp_rate,
        |  meets, (rk = 1 AND meets) AS chosen
        |FROM m""".stripMargin),
    // —— F9: SemDeDup pass: cosine pairs → CC → survivors ——
    QuerySpec("dedup_semantic", (s, dir) =>
      Similarity.semanticDedup(s, emb(s, dir), tau = 0.4),
      {
        val pairsSql =
          s"""SELECT a.vec_id AS a, b.vec_id AS b
           |FROM embeddings a JOIN embeddings b
           |  ON a.label = b.label AND a.vec_id < b.vec_id
           |WHERE round(${cosSql.format("a.embedding", "b.embedding")}, 4) >= 0.4"""
            .stripMargin
        s"""WITH RECURSIVE pairs AS ($pairsSql),
           |e AS (SELECT a AS s, b AS d FROM pairs
           |      UNION SELECT b, a FROM pairs),
           |reach(s, d) AS (
           |  SELECT s, d FROM e
           |  UNION
           |  SELECT r.s, e.d FROM reach r JOIN e ON r.d = e.s)
           |SELECT s AS vec_id, LEAST(s, MIN(d)) AS cluster,
           |  s = LEAST(s, MIN(d)) AS keep
           |FROM reach GROUP BY s""".stripMargin
      }),
    // —— F17: INCREMENTAL semantic dedup — batch vectors vs the
    //    standing centroid-cell index (centroids + index from the
    //    already-accepted 90%, batch = vec_id % 10 = 0) ——
    QuerySpec("dedup_semantic_inc", (s, dir) => {
      val e = emb(s, dir)
      val standing = e.filter(col("vec_id") % 10 =!= 0)
      // Reuse seam: the centroid model feeds the standing-index
      // assignment AND the batch assignment inside the gate — one
      // centroid aggregate instead of two.
      val cents = Similarity.labelCentroids(standing)
        .seamed
      Similarity.incrementalSemantic(
        s, e.filter(col("vec_id") % 10 === 0),
        Similarity.assignCells(s, standing, cents), cents, tau = 0.4)
    },
      // F17: the incremental chain replayed — centroids from the
      // standing 90% (scaled-int64 sums, float snap), every vector
      // assigned under the (cos DESC, label) argmax, cell-blocked veto
      // vs the index, per-cell CC over the kept batch
      {
        val bcos = cosSql.format("b.embedding", "i.embedding")
        val pcos = cosSql.format("x.embedding", "y.embedding")
        s"""WITH RECURSIVE u AS (SELECT label,
           |    CAST(unnest(generate_series(1, len(embedding))) AS INTEGER) AS dim,
           |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1048576.0) AS BIGINT)
           |      AS sv
           |  FROM embeddings WHERE vec_id % 10 <> 0),
           |c AS (SELECT label, dim, SUM(sv) AS s, COUNT(*) AS n
           |      FROM u GROUP BY 1, 2),
           |cent AS (SELECT label AS c_label,
           |    CAST(list(CAST(s AS DOUBLE) / 1048576.0 / n ORDER BY dim)
           |         AS FLOAT[]) AS c_emb
           |  FROM c GROUP BY label),
           |sc AS (SELECT e.vec_id, e.embedding, cent.c_label,
           |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
           |            CAST(c_emb AS DOUBLE[])), 4) AS cos_r
           |  FROM embeddings e CROSS JOIN cent),
           |r AS (SELECT *, row_number() OVER (PARTITION BY vec_id
           |        ORDER BY cos_r DESC, c_label) AS rn FROM sc),
           |asg AS (SELECT vec_id, embedding, c_label AS cell
           |        FROM r WHERE rn = 1),
           |bb AS (SELECT * FROM asg WHERE vec_id % 10 = 0),
           |idx AS (SELECT * FROM asg WHERE vec_id % 10 <> 0),
           |vet AS (SELECT DISTINCT b.vec_id FROM bb b JOIN idx i
           |        ON b.cell = i.cell AND round($bcos, 4) >= 0.4),
           |kept AS (SELECT * FROM bb
           |         WHERE vec_id NOT IN (SELECT vec_id FROM vet)),
           |pairs AS (SELECT x.vec_id AS a, y.vec_id AS b FROM kept x
           |          JOIN kept y ON x.cell = y.cell AND x.vec_id < y.vec_id
           |          WHERE round($pcos, 4) >= 0.4),
           |e2 AS (SELECT a AS s, b AS d FROM pairs
           |       UNION SELECT b, a FROM pairs),
           |reach(s, d) AS (
           |  SELECT s, d FROM e2
           |  UNION
           |  SELECT r2.s, e2.d FROM reach r2 JOIN e2 ON r2.d = e2.s),
           |cl AS (SELECT s AS vec_id, LEAST(s, MIN(d)) AS cluster
           |       FROM reach GROUP BY s)
           |SELECT k.vec_id, k.cell,
           |  COALESCE(cl.cluster, k.vec_id) AS survivor,
           |  CASE WHEN COALESCE(cl.cluster, k.vec_id) = k.vec_id
           |       THEN 'keep' ELSE 'collapsed' END AS status
           |FROM kept k LEFT JOIN cl ON k.vec_id = cl.vec_id
           |UNION ALL
           |SELECT vec_id, cell, CAST(NULL AS BIGINT) AS survivor,
           |  'vetoed' AS status
           |FROM bb WHERE vec_id IN (SELECT vec_id FROM vet)""".stripMargin
      }),
    // —— H15: greedy sequence packing at a 512-token budget ——
    QuerySpec("pack_sequences", (s, dir) =>
      graft.operators.Pipeline100TB.packSequences(
        docs(s, dir), "doc_id", "text", shardCol = "source", cap = 512),
      s"""WITH t AS (SELECT doc_id, source AS shard,
         |  CAST(len(string_split_regex(trim(lower(text)), ' +')) AS BIGINT) AS n_tok
         |  FROM documents),
         |c AS (SELECT doc_id, shard, n_tok,
         |  CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |    AS cum_before
         |  FROM t)
         |SELECT doc_id, shard, n_tok, cum_before,
         |  cum_before // 512 AS bin, cum_before % 512 AS off_tok
         |FROM c""".stripMargin),
    // —— H22: BPE apply — exact subword ids under a fixed merge table ——
    QuerySpec("bpe_encode", (s, dir) => {
      import org.apache.spark.sql.GraftBridge
      val d = docs(s, dir)
      val toks = graft.functions.Hash60.tokens(
        regexp_replace(col("text"), "\\|", " "))
      val ids = GraftBridge.column(graft.functions.BpeEncode(
        GraftBridge.expression(toks), bpeMerges, bpeVocab))
      d.select(col("doc_id"),
        size(ids).cast("long").as("n_bpe"),
        concat(lit("["), array_join(ids.cast("array<string>"), ","), lit("]"))
          .as("ids_str"))
    },
      s"""WITH RECURSIVE $bpeCtes
         |SELECT doc_id, CAST(len(ids) AS BIGINT) AS n_bpe,
         |  '[' || array_to_string(ids, ',') || ']' AS ids_str
         |FROM ids""".stripMargin),
    // —— H15∘H22: packing with EXACT tokenizer counts, not estimates ——
    QuerySpec("pack_sequences_bpe", (s, dir) => {
      import org.apache.spark.sql.GraftBridge
      val toks = graft.functions.Hash60.tokens(
        regexp_replace(col("text"), "\\|", " "))
      val ids = GraftBridge.column(graft.functions.BpeEncode(
        GraftBridge.expression(toks), bpeMerges, bpeVocab))
      graft.operators.Pipeline100TB.packSequencesBy(
        docs(s, dir), "doc_id", size(ids).cast("long"),
        shardCol = "source", cap = 256)
    },
      s"""WITH RECURSIVE $bpeCtes,
         |t AS (SELECT d.doc_id, d.source AS shard,
         |    CAST(len(ids.ids) AS BIGINT) AS n_tok
         |  FROM documents d JOIN ids USING (doc_id)),
         |c AS (SELECT doc_id, shard, n_tok,
         |  CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |    AS cum_before
         |  FROM t)
         |SELECT doc_id, shard, n_tok, cum_before,
         |  cum_before // 256 AS bin, cum_before % 256 AS off_tok
         |FROM c""".stripMargin),
    // —— H16: Gopher-style structural quality rules ——
    QuerySpec("text_gopher", (s, dir) => TextAnalysis.gopherRules(docs(s, dir), "doc_id", "text"),
      s"""WITH t AS ($toksCte)
         |SELECT doc_id,
         |  CAST(len(toks) AS BIGINT) AS n_words,
         |  round(length(array_to_string(toks, '')) / len(toks), 6)
         |    AS mean_word_len,
         |  round(len(list_distinct(toks)) / len(toks), 6) AS type_token_ratio,
         |  CAST(len(list_filter(toks, $stopIn)) AS INTEGER) AS stop_hits,
         |  (len(toks) BETWEEN 50 AND 100000
         |   AND length(array_to_string(toks, '')) / len(toks) BETWEEN 3.0 AND 10.0
         |   AND len(list_distinct(toks)) / len(toks) >= 0.2
         |   AND len(list_filter(toks, $stopIn)) >= 2) AS pass
         |FROM t""".stripMargin),
    // —— H20: model-based quality filter (hashed features × broadcast
    //    weight vector → logistic score), fixed deterministic model ——
    QuerySpec("text_classifier", (s, dir) =>
      TextAnalysis.classifierScore(docs(s, dir), "doc_id", "text",
        clfWeights, biasMicro = 50000L, threshold = 0.5),
      s"""WITH t AS ($toksCte),
         |c AS (SELECT doc_id, len(toks) AS n,
         |  CAST(list_sum(list_transform(toks, tok ->
         |    (${clfWeights.mkString("[", ", ", "]")})
         |      [(CAST('0x'||substr(md5(tok),1,15) AS BIGINT) % 64) + 1]))
         |    AS BIGINT) AS raw
         |  FROM t),
         |s AS (SELECT doc_id, n,
         |  round(1.0 / (1.0 + exp(-((CAST(raw AS DOUBLE) / n + 50000.0)
         |                           / 1000000.0))), 6) AS clf_score
         |  FROM c)
         |SELECT doc_id, CAST(n AS BIGINT) AS n_tok, clf_score,
         |  clf_score >= 0.5 AS keep
         |FROM s""".stripMargin),
    // —— H20c: calibration read-out for the fixed H20 model — 10
    //    score bins × observed positive rate, one map-side-combined
    //    shuffle of ≤10 rows; the reliability diagram every
    //    model-gated curation stage ships with ——
    QuerySpec("classifier_calibration", (s, dir) => {
      TextAnalysis.calibrationBins(docs(s, dir), "text",
        col("lang") === "en", clfWeights, biasMicro = 50000L)
    },
      // H20c: the same score chain as text_classifier, binned; COUNT
      // (not SUM) keeps both outputs BIGINT
      s"""WITH t AS (SELECT doc_id, lang,
         |  string_split_regex(trim(lower(text)), ' +') AS toks
         |  FROM documents),
         |c AS (SELECT doc_id, lang, len(toks) AS n,
         |  CAST(list_sum(list_transform(toks, tok ->
         |    (${clfWeights.mkString("[", ", ", "]")})
         |      [(CAST('0x'||substr(md5(tok),1,15) AS BIGINT) % 64) + 1]))
         |    AS BIGINT) AS raw
         |  FROM t),
         |s AS (SELECT lang = 'en' AS y,
         |  round(1.0 / (1.0 + exp(-((CAST(raw AS DOUBLE) / n + 50000.0)
         |                           / 1000000.0))), 6) AS s
         |  FROM c)
         |SELECT CAST(least(floor(s * 10.0), 9) AS INTEGER) AS bin,
         |  COUNT(*) AS n,
         |  COUNT(CASE WHEN y THEN 1 END) AS n_pos,
         |  round(CAST(COUNT(CASE WHEN y THEN 1 END) AS DOUBLE)
         |        / CAST(COUNT(*) AS DOUBLE), 6) AS pos_rate
         |FROM s GROUP BY 1""".stripMargin),
    // —— H20c drift: the same reliability diagram PER SOURCE slice —
    //    a slice whose curve departs the corpus curve is the
    //    re-threshold/re-train signal ——
    QuerySpec("classifier_drift", (s, dir) => {
      TextAnalysis.calibrationBins(docs(s, dir), "text",
        col("lang") === "en", clfWeights, biasMicro = 50000L,
        slices = Seq("source" -> col("source")))
    },
      // H20c drift: the same chain with the source slice prepended
      s"""WITH t AS (SELECT doc_id, lang, source,
         |  string_split_regex(trim(lower(text)), ' +') AS toks
         |  FROM documents),
         |c AS (SELECT doc_id, lang, source, len(toks) AS n,
         |  CAST(list_sum(list_transform(toks, tok ->
         |    (${clfWeights.mkString("[", ", ", "]")})
         |      [(CAST('0x'||substr(md5(tok),1,15) AS BIGINT) % 64) + 1]))
         |    AS BIGINT) AS raw
         |  FROM t),
         |s AS (SELECT source, lang = 'en' AS y,
         |  round(1.0 / (1.0 + exp(-((CAST(raw AS DOUBLE) / n + 50000.0)
         |                           / 1000000.0))), 6) AS s
         |  FROM c)
         |SELECT source, CAST(least(floor(s * 10.0), 9) AS INTEGER) AS bin,
         |  COUNT(*) AS n,
         |  COUNT(CASE WHEN y THEN 1 END) AS n_pos,
         |  round(CAST(COUNT(CASE WHEN y THEN 1 END) AS DOUBLE)
         |        / CAST(COUNT(*) AS DOUBLE), 6) AS pos_rate
         |FROM s GROUP BY 1, 2""".stripMargin),
    // —— H20b: classifier TRAINING — 2 unrolled deterministic
    //    full-batch logistic GD steps over hashed features ——
    QuerySpec("classifier_train", (s, dir) =>
      TextAnalysis.classifierTrain(docs(s, dir), "doc_id", "text",
        positive = col("lang") === "en", dims = 64, iters = 2, lr = 5.0),
      // H20b: the two GD iterations unrolled into plain CTEs (the
      // H7c/G2b move) — sparse (doc,bucket,count) postings replay the
      // engine's dense-array arithmetic exactly: absent buckets
      // contribute round(0) = 0 to every gradient sum, so COALESCE(.,0)
      // on the bucket join is the dense zero
      """WITH t AS (SELECT doc_id,
        |  CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
        |  string_split_regex(trim(lower(text)), ' +') AS toks
        |  FROM documents),
        |d AS (SELECT doc_id, y, CAST(len(toks) AS DOUBLE) AS n, toks FROM t),
        |e AS (SELECT doc_id,
        |        (CAST('0x'||substr(md5(u.tok),1,15) AS BIGINT) % 64) AS b
        |      FROM d, UNNEST(toks) AS u(tok)),
        |cb AS (SELECT doc_id, b, COUNT(*) AS c FROM e GROUP BY 1, 2),
        |nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS ndocs FROM d),
        |s1 AS (SELECT doc_id, y, n,
        |         round(1.0/(1.0 + exp(-((0.0 / n + 0.0) / 1000000.0))), 6) - y
        |           AS err
        |       FROM d),
        |g1 AS (SELECT cb.b,
        |         SUM(CAST(round(s1.err * CAST(cb.c AS DOUBLE) * 1000000.0
        |                        / s1.n) AS BIGINT)) AS gsum
        |       FROM s1 JOIN cb USING (doc_id) GROUP BY 1),
        |gb1 AS (SELECT SUM(CAST(round(err * 1000000.0) AS BIGINT)) AS gsum
        |        FROM s1),
        |w1 AS (SELECT r.range AS b,
        |         0 - CAST(round(5.0 * COALESCE(g1.gsum, 0) / nd.ndocs)
        |                  AS BIGINT) AS w
        |       FROM range(64) r LEFT JOIN g1 ON g1.b = r.range, nd),
        |b1 AS (SELECT 0 - CAST(round(5.0 * gb1.gsum / nd.ndocs) AS BIGINT)
        |         AS bias
        |       FROM gb1, nd),
        |r2 AS (SELECT d.doc_id, d.y, d.n,
        |         COALESCE(SUM(cb.c * w1.w), 0) AS raw
        |       FROM d LEFT JOIN cb ON cb.doc_id = d.doc_id
        |              LEFT JOIN w1 ON w1.b = cb.b
        |       GROUP BY 1, 2, 3),
        |s2 AS (SELECT r2.doc_id, y, n,
        |         round(1.0/(1.0 + exp(-((CAST(raw AS DOUBLE) / n
        |             + CAST(b1.bias AS DOUBLE)) / 1000000.0))), 6) - y AS err
        |       FROM r2, b1),
        |g2 AS (SELECT cb.b,
        |         SUM(CAST(round(s2.err * CAST(cb.c AS DOUBLE) * 1000000.0
        |                        / s2.n) AS BIGINT)) AS gsum
        |       FROM s2 JOIN cb USING (doc_id) GROUP BY 1),
        |gb2 AS (SELECT SUM(CAST(round(err * 1000000.0) AS BIGINT)) AS gsum
        |        FROM s2),
        |w2 AS (SELECT r.range AS b,
        |         w1.w - CAST(round(5.0 * COALESCE(g2.gsum, 0) / nd.ndocs)
        |                     AS BIGINT) AS w
        |       FROM range(64) r LEFT JOIN w1 ON w1.b = r.range
        |            LEFT JOIN g2 ON g2.b = r.range, nd),
        |b2 AS (SELECT b1.bias - CAST(round(5.0 * gb2.gsum / nd.ndocs)
        |                             AS BIGINT) AS bias
        |       FROM b1, gb2, nd)
        |SELECT CAST(-1 AS INTEGER) AS bucket, bias AS w_micro FROM b2
        |UNION ALL
        |SELECT CAST(b AS INTEGER) AS bucket, w AS w_micro FROM w2""".stripMargin),
    // —— G12: deterministic source-mixture balancing (600-token budget) ——
    QuerySpec("mix_balance", (s, dir) => {
      import graft.functions.Hash60.tokens
      val d = docs(s, dir)
      graft.operators.Pipeline100TB.mixBalance(d, "source",
          keyCol = col("doc_id"),
          tokCol = size(tokens(col("text"))).cast("long"),
          targetToks = 600L)
        .select(col("doc_id"), col("source"), col("__tok").as("n_tok"))
    },
      s"""WITH t AS (SELECT doc_id, source,
         |  CAST(len(string_split_regex(trim(lower(text)), ' +')) AS BIGINT)
         |    AS n_tok
         |  FROM documents),
         |r AS (SELECT source,
         |  least(1.0, CAST(600 AS DOUBLE) / CAST(SUM(n_tok) AS BIGINT)) AS rate
         |  FROM t GROUP BY 1)
         |SELECT t.doc_id, t.source, t.n_tok
         |FROM t JOIN r ON t.source IS NOT DISTINCT FROM r.source
         |WHERE CAST('0x'||substr(md5(COALESCE(CAST(doc_id AS VARCHAR), '')),1,15) AS BIGINT)
         |      < CAST(round(rate * 1152921504606846976.0) AS BIGINT)""".stripMargin),
    // —— G12b: temperature + UniMax mixture allocation over sources ——
    QuerySpec("mix_temperature", (s, dir) => {
      import graft.functions.Hash60.tokens
      graft.operators.Pipeline100TB.mixTemperature(docs(s, dir), "source",
        tokCol = size(tokens(col("text"))).cast("long"),
        alpha = 0.3, budget = 100000L, capEpochs = 2L)
    },
      // G12b: window replay of the UniMax closed form — the capped set
      // is pure int64 arithmetic (bit-deterministic), λ one division
      """WITH n AS (SELECT source AS stratum,
        |  SUM(CAST(len(string_split_regex(trim(lower(text)), ' +'))
        |      AS BIGINT)) AS n_tok
        |  FROM documents WHERE source IS NOT NULL GROUP BY 1),
        |t AS (SELECT stratum, n_tok,
        |        CAST(round(pow(CAST(n_tok AS DOUBLE), 0.3) * 1000000.0)
        |             AS BIGINT) AS t_micro,
        |        n_tok * 2 AS cap_tok
        |      FROM n),
        |z AS (SELECT SUM(t_micro) AS z_micro, COUNT(*) AS l FROM t),
        |r AS (SELECT t.*, z.z_micro, z.l,
        |        row_number() OVER (ORDER BY cap_tok, stratum) AS rn,
        |        SUM(cap_tok) OVER (ORDER BY cap_tok, stratum
        |                           ROWS UNBOUNDED PRECEDING) AS pre
        |      FROM t, z),
        |c AS (SELECT *,
        |        cap_tok * (l - rn) + pre <= 100000 AS capped
        |      FROM r),
        |sel AS (SELECT COALESCE(SUM(CASE WHEN capped THEN 1 END), 0) AS m,
        |          COALESCE(SUM(CASE WHEN capped THEN cap_tok END), 0) AS pre_m
        |        FROM c),
        |f AS (SELECT c.*,
        |        CASE WHEN sel.m < c.l THEN
        |          (100000.0 - CAST(sel.pre_m AS DOUBLE))
        |            / CAST(c.l - sel.m AS DOUBLE) END AS lam
        |      FROM c, sel),
        |a AS (SELECT *,
        |        CASE WHEN lam IS NULL THEN CAST(cap_tok AS DOUBLE)
        |             ELSE least(CAST(cap_tok AS DOUBLE), lam) END AS alloc
        |      FROM f)
        |SELECT stratum, CAST(n_tok AS BIGINT) AS n_tok,
        |  round(CAST(t_micro AS DOUBLE) / CAST(z_micro AS DOUBLE), 6)
        |    AS p_temp,
        |  round(alloc, 4) AS alloc_tok,
        |  round(alloc / CAST(n_tok AS DOUBLE), 6) AS epochs
        |FROM a""".stripMargin),
    // —— G26: bucketed corpus layout — co-located standing-index
    //    join through the session catalog, zero exchanges ——
    QuerySpec("corpus_bucketed_join", (s, dir) => {
      import graft.functions.Hash60.tokens
      val d = docs(s, dir)
      graft.operators.Pipeline100TB.writeBucketed(
        d.select(col("doc_id"), col("source")), "graft_bk_corpus", "doc_id")
      graft.operators.Pipeline100TB.writeBucketed(
        d.select(col("doc_id"),
          size(tokens(col("text"))).cast("long").as("n_tok")),
        "graft_bk_stats", "doc_id")
      graft.operators.Pipeline100TB
        .bucketedJoin(s, "graft_bk_corpus", "graft_bk_stats", "doc_id")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("toks"))
    },
      // G26: the bucketed layout changes the PLAN, never the result —
      // the oracle is the plain join-free aggregate
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(len(string_split_regex(trim(lower(text)), ' +'))) AS BIGINT)
        |    AS toks
        |FROM documents GROUP BY 1""".stripMargin),
    // —— H25: DoReMi-style excess-loss domain reweighting (weak
    //    unigram reference vs KN-trigram proxy, deterministic exp) ——
    QuerySpec("corpus_mix_doremi", (s, dir) =>
      graft.operators.Pipeline100TB.doremiMix(docs(s, dir),
        "doc_id", "text", "source"),
      // H25: DoReMi excess-loss reweighting — the two score chains are
      // the FACTORED uni/kn CTE builders (can't drift from their
      // standalone oracles), composed with the deterministic-exp replay
      s"""WITH ${uniLpCtes("u")},
         |${knLpCtes("k")},
         |pd AS (SELECT d.source, u.n_tok,
         |    CAST(round(k.avg_logp_kn * 10000.0) AS BIGINT)
         |      - CAST(round(u.avg_logp * 10000.0) AS BIGINT) AS ex
         |  FROM documents d JOIN ulp u ON u.doc_id = d.doc_id
         |  JOIN klp k ON k.doc_id = d.doc_id),
         |dom AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(n_tok) AS BIGINT) AS toks,
         |    CAST(SUM(ex) AS BIGINT) AS sx
         |  FROM pd GROUP BY 1),
         |dx AS (SELECT *, CAST(round(CAST(sx AS DOUBLE) * 100.0
         |    / CAST(n_docs AS DOUBLE)) AS BIGINT) AS excess_micro FROM dom),
         |-- deterministic exp (the engine's withExpDet, op for op):
         |-- k = floor(x/ln2 + 1/2), Taylor to r^12/12!, exact 2^k fold
         |e1 AS (SELECT *,
         |    CAST(excess_micro AS DOUBLE) / 1000000.0 * 1.0 AS xv FROM dx),
         |e2 AS (SELECT *, CAST(floor(xv * 1.4426950408889634 + 0.5) AS INT)
         |    AS xk FROM e1),
         |e3 AS (SELECT *, xv - CAST(xk AS DOUBLE) * 0.6931471805599453 AS xr
         |  FROM e2),
         |e4 AS (SELECT *, xr AS p1, p1*xr AS p2, p2*xr AS p3, p3*xr AS p4,
         |    p4*xr AS p5, p5*xr AS p6, p6*xr AS p7, p7*xr AS p8,
         |    p8*xr AS p9, p9*xr AS p10, p10*xr AS p11, p11*xr AS p12
         |  FROM e3),
         |e5 AS (SELECT *, 1.0 + p1 + p2/2.0 + p3/6.0 + p4/24.0 + p5/120.0
         |    + p6/720.0 + p7/5040.0 + p8/40320.0 + p9/362880.0
         |    + p10/3628800.0 + p11/39916800.0 + p12/479001600.0 AS xs
         |  FROM e4),
         |e6 AS (SELECT *, list_reduce(list_concat([xs],
         |      list_transform(range(1, abs(xk) + 1),
         |        i -> CASE WHEN xk > 0 THEN 2.0 ELSE 0.5 END)),
         |    (a, b) -> a * b) AS expv FROM e5),
         |w1 AS (SELECT *, CAST(SUM(toks) OVER () AS BIGINT) AS tot FROM e6),
         |w2 AS (SELECT *, CAST(round(CAST(toks AS DOUBLE) / CAST(tot AS DOUBLE)
         |    * expv * 1000000000.0) AS BIGINT) AS wm FROM w1),
         |w3 AS (SELECT *, CAST(SUM(wm) OVER () AS BIGINT) AS sw FROM w2)
         |SELECT source, n_docs, toks, excess_micro,
         |  CAST(round(CAST(wm AS DOUBLE) * 1000000.0 / CAST(sw AS DOUBLE))
         |    AS BIGINT) AS weight_ppm
         |FROM w3""".stripMargin),
    // —— G21: Count-Min sketch with probe-term error readout ——
    QuerySpec("sketch_cms", (s, dir) =>
      graft.operators.Pipeline100TB.cmsProbe(docs(s, dir), "text",
        probes = Seq("the", "a", "of", "is", "qzxkj"), d = 4, w = 64),
      // G21: cell placement replays the md5-60-bit + affine-perm family;
      // every value is exact int64 — zero float anywhere
      """WITH t AS (SELECT unnest(string_split_regex(trim(lower(text)), ' +'))
        |             AS tok
        |           FROM documents),
        |h AS (SELECT tok, CAST('0x'||substr(md5(tok),1,15) AS BIGINT) AS h60
        |      FROM t),
        |cells AS (SELECT r.range AS row,
        |    (((h60 % 2147483647) * (1 + 7*r.range) + (13 + 11*r.range))
        |     % 2147483647) % 64 AS bucket
        |  FROM h, range(4) r),
        |sk AS (SELECT row, bucket, COUNT(*) AS cell_n FROM cells GROUP BY 1, 2),
        |p AS (SELECT unnest(['the', 'a', 'of', 'is', 'qzxkj']) AS probe),
        |ph AS (SELECT probe,
        |         CAST('0x'||substr(md5(probe),1,15) AS BIGINT) AS h60
        |       FROM p),
        |pc AS (SELECT probe, r.range AS row,
        |    (((h60 % 2147483647) * (1 + 7*r.range) + (13 + 11*r.range))
        |     % 2147483647) % 64 AS bucket
        |  FROM ph, range(4) r),
        |est AS (SELECT probe, MIN(COALESCE(sk.cell_n, 0)) AS est_n
        |        FROM pc LEFT JOIN sk USING (row, bucket) GROUP BY 1),
        |tr AS (SELECT tok, COUNT(*) AS true_n FROM t
        |       WHERE tok IN ('the', 'a', 'of', 'is', 'qzxkj') GROUP BY 1)
        |SELECT probe, CAST(est_n AS BIGINT) AS est_n,
        |  CAST(COALESCE(tr.true_n, 0) AS BIGINT) AS true_n,
        |  CAST(est_n - COALESCE(tr.true_n, 0) AS BIGINT) AS over_n
        |FROM est LEFT JOIN tr ON tr.tok = est.probe""".stripMargin),
    // —— H17: BM25 scoring over a fixed query-term set, top-20 ——
    QuerySpec("text_bm25", (s, dir) =>
      TextAnalysis.bm25(docs(s, dir), "doc_id", "text",
        terms = Seq("spark", "query", "stream"), k = 20),
      bm25Sql(Seq("spark", "query", "stream"), 20)),
    // —— G24: hybrid sparse+dense retrieval — the H19 BM25 leg and a
    //    cosine dense leg fused by reciprocal rank (RRF, c = 60),
    //    integer micro-unit contributions, missing leg = 0 ——
    QuerySpec("sim_hybrid_rrf", (s, dir) =>
      Similarity.hybridRrf(s, docs(s, dir), emb(s, dir),
        terms = Seq("spark", "query", "stream"), queryVec = 0L),
      // G24: both legs replay their existing oracles (the BM25 chain
      // scoped as a derived table, the brute-force cosine inline); the
      // fusion is pure int64 — ⌊10⁹/(c+rank)⌋ via // , COALESCE 0
      s"""WITH bm AS (SELECT id AS doc_id,
         |    CAST(row_number() OVER (ORDER BY score DESC, id) AS INTEGER)
         |      AS bm25_rank
         |  FROM (${bm25Sql(Seq("spark", "query", "stream"), 20)}) __b),
         |q AS (SELECT vec_id AS query_id, embedding AS q_emb
         |      FROM embeddings WHERE vec_id = 0),
         |dsc AS (SELECT e.vec_id,
         |    round(${cosSql.format("q.q_emb", "e.embedding")}, 4) AS cos_r
         |  FROM q, embeddings e WHERE e.vec_id <> q.query_id),
         |dn0 AS (SELECT vec_id, row_number() OVER
         |          (ORDER BY cos_r DESC, vec_id) AS rk FROM dsc),
         |dn AS (SELECT vec_id AS doc_id, CAST(rk AS INTEGER) AS dense_rank
         |       FROM dn0 WHERE rk <= 20),
         |f AS (SELECT COALESCE(bm.doc_id, dn.doc_id) AS doc_id,
         |        COALESCE(bm.bm25_rank, 0) AS bm25_rank,
         |        COALESCE(dn.dense_rank, 0) AS dense_rank
         |      FROM bm FULL OUTER JOIN dn ON bm.doc_id = dn.doc_id),
         |r AS (SELECT doc_id, bm25_rank, dense_rank,
         |        CAST(CASE WHEN bm25_rank > 0
         |               THEN 1000000000 // (60 + bm25_rank) ELSE 0 END
         |           + CASE WHEN dense_rank > 0
         |               THEN 1000000000 // (60 + dense_rank) ELSE 0 END
         |             AS BIGINT) AS rrf_micro
         |      FROM f),
         |rk AS (SELECT *, row_number() OVER
         |         (ORDER BY rrf_micro DESC, doc_id) AS rank FROM r)
         |SELECT doc_id, bm25_rank, dense_rank, rrf_micro,
         |  CAST(rank AS INTEGER) AS rank
         |FROM rk WHERE rank <= 10""".stripMargin),
    // —— H7b: BPE pair-merge statistics, top-20 adjacent pairs ——
    QuerySpec("vocab_pairs", (s, dir) =>
      TextAnalysis.pairCounts(docs(s, dir), "doc_id", "text", k = 20),
      s"""WITH t AS ($toksCte),
         |p0 AS (SELECT [toks[i] || ' ' || toks[i+1]
         |               for i in generate_series(1, len(toks)-1)] AS pairs
         |       FROM t),
         |p AS (SELECT unnest(pairs) AS pair FROM p0)
         |SELECT pair, COUNT(*) AS n
         |FROM p GROUP BY 1
         |ORDER BY n DESC, pair LIMIT 20""".stripMargin),
    // —— H7d: PMI collocations, min pair count 5, top-20 ——
    QuerySpec("vocab_pmi", (s, dir) =>
      TextAnalysis.pmiPairs(docs(s, dir), "doc_id", "text",
        minCount = 5, k = 20),
      // H7d: identical PMI formula, identical operation order
      """WITH t AS (SELECT doc_id,
        |  string_split_regex(trim(lower(text)), ' +') AS toks
        |  FROM documents),
        |u AS (SELECT tok, COUNT(*) AS c1
        |      FROM (SELECT unnest(toks) AS tok FROM t) GROUP BY 1),
        |b AS (SELECT bg, COUNT(*) AS cab
        |      FROM (SELECT unnest([toks[i] || ' ' || toks[i+1]
        |                           for i in generate_series(1, len(toks)-1)])
        |              AS bg
        |            FROM t)
        |      GROUP BY 1 HAVING COUNT(*) >= 5),
        |nt AS (SELECT CAST(SUM(c1) AS DOUBLE) AS nt FROM u),
        |nb AS (SELECT CAST(SUM(greatest(len(toks) - 1, 0)) AS DOUBLE) AS nb
        |       FROM t)
        |SELECT b.bg, b.cab,
        |  round(ln(CAST(b.cab AS DOUBLE) * nt.nt * nt.nt
        |           / (nb.nb * CAST(ua.c1 AS DOUBLE)
        |              * CAST(ub.c1 AS DOUBLE))), 6) AS pmi
        |FROM b
        |JOIN u ua ON ua.tok = split_part(b.bg, ' ', 1)
        |JOIN u ub ON ub.tok = split_part(b.bg, ' ', 2),
        |nt, nb
        |ORDER BY pmi DESC, bg LIMIT 20""".stripMargin),
    // —— H18: unigram LM quality score (avg token log-prob) ——
    QuerySpec("text_unigram_lp", (s, dir) =>
      TextAnalysis.unigramLogProb(docs(s, dir), "doc_id", "text"),
      s"""WITH ${uniLpCtes("u")}
         |SELECT doc_id, n_tok, avg_logp FROM ulp""".stripMargin),
    // —— H18c: trigram LM, interpolated backoff over corpus
    //    trigram/bigram/unigram tables (0.5/0.3/0.2, add-0.5) ——
    QuerySpec("text_trigram_lp", (s, dir) =>
      TextAnalysis.trigramLogProb(docs(s, dir), "doc_id", "text"),
      // H18c: interpolated-backoff trigram replay — the three corpus
      // tables as CTEs, one smooth formula shared operation for
      // operation with the engine, micronat fixed-point pre-sum
      s"""WITH t AS (SELECT doc_id,
        |  string_split_regex(trim(lower(text)), ' +') AS toks
        |  FROM documents),
        |t3 AS (SELECT doc_id,
        |         unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |                 for i in generate_series(1, len(toks)-2)]) AS tg
        |       FROM t WHERE len(toks) >= 3),
        |dtf AS (SELECT doc_id, tg, COUNT(*) AS tf FROM t3 GROUP BY 1, 2),
        |cf3 AS (SELECT tg, CAST(SUM(tf) AS BIGINT) AS cf3,
        |         split_part(tg,' ',1) || ' ' || split_part(tg,' ',2) AS ab,
        |         split_part(tg,' ',2) || ' ' || split_part(tg,' ',3) AS bc,
        |         split_part(tg,' ',2) AS b,
        |         split_part(tg,' ',3) AS c
        |       FROM dtf GROUP BY 1),
        |ctx3 AS (SELECT ab, CAST(SUM(cf3) AS BIGINT) AS ctx3
        |         FROM cf3 GROUP BY 1),
        |b0 AS (SELECT unnest([toks[i] || ' ' || toks[i+1]
        |                 for i in generate_series(1, len(toks)-1)]) AS bg
        |       FROM t WHERE len(toks) >= 2),
        |cf2 AS (SELECT bg, COUNT(*) AS cf2, split_part(bg,' ',1) AS b1
        |        FROM b0 GROUP BY 1),
        |ctx2 AS (SELECT b1, CAST(SUM(cf2) AS BIGINT) AS ctx2
        |         FROM cf2 GROUP BY 1),
        |u AS (SELECT unnest(toks) AS tok FROM t),
        |uni AS (SELECT tok, COUNT(*) AS cf1 FROM u GROUP BY 1),
        |v AS (SELECT COUNT(DISTINCT tok) AS v
        |      FROM (SELECT unnest(string_split(tg, ' ')) AS tok FROM cf3)),
        |nt AS (SELECT CAST(SUM(cf1) AS BIGINT) AS nt FROM uni),
        |c0 AS (SELECT dtf.doc_id, dtf.tf,
        |            0.5 * ((CAST(cf3.cf3 AS DOUBLE) + 0.5)
        |                   / (CAST(ctx3.ctx3 AS DOUBLE)
        |                      + 0.5 * CAST(v.v AS DOUBLE)))
        |          + 0.3 * ((CAST(cf2.cf2 AS DOUBLE) + 0.5)
        |                   / (CAST(ctx2.ctx2 AS DOUBLE)
        |                      + 0.5 * CAST(v.v AS DOUBLE)))
        |          + 0.2 * ((CAST(uni.cf1 AS DOUBLE) + 0.5)
        |                   / (CAST(nt.nt AS DOUBLE)
        |                      + 0.5 * CAST(v.v AS DOUBLE))) AS p
        |      FROM dtf JOIN cf3 USING (tg)
        |      JOIN ctx3 ON ctx3.ab = cf3.ab
        |      JOIN cf2 ON cf2.bg = cf3.bc
        |      JOIN ctx2 ON ctx2.b1 = cf3.b
        |      JOIN uni ON uni.tok = cf3.c, v, nt),
        |${lnDetCtes("c0")},
        |c AS (SELECT doc_id, tf,
        |        CAST(round(CAST(tf AS DOUBLE) * lnp * 1000000.0) AS BIGINT)
        |          AS micronats
        |      FROM sr)
        |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tri,
        |  round(CAST(SUM(micronats) AS DOUBLE)
        |        / (CAST(SUM(tf) AS DOUBLE) * 100.0)) / 10000.0 AS avg_logp3
        |FROM c GROUP BY 1""".stripMargin),
    // —— H18d: interpolated Kneser-Ney trigram (D = 0.75,
    //    continuation-count lower orders — the KenLM-grade smoothing) ——
    QuerySpec("text_kn_lp", (s, dir) =>
      TextAnalysis.knTrigramLogProb(docs(s, dir), "doc_id", "text"),
      // H18d: interpolated Kneser-Ney replay — context totals and the
      // three continuation-count tables all derive from the distinct
      // trigram-TYPE table cf3; one fixed-order IEEE formula, shared
      // lnDet CTEs, micronat fixed-point pre-sum
      s"""WITH ${knLpCtes("n")}
         |SELECT doc_id, n_tri, avg_logp_kn FROM nlp""".stripMargin),
    // —— H18e: interpolated Kneser-Ney FIVE-gram — the production
    //    CCNet/KenLM filter order (same recursion, two more levels) ——
    QuerySpec("text_kn5_lp", (s, dir) =>
      TextAnalysis.knFivegramLogProb(docs(s, dir), "doc_id", "text"),
      // H18e: the same interpolated-KN replay at order 5 — all four
      // continuation tables from the distinct 5-gram-type suffix chain
      s"""WITH ${kn5LpCtes("f")}
         |SELECT doc_id, n_5g, avg_logp_kn5 FROM flp""".stripMargin),
    // —— H18b: bigram LM conditional log-prob, add-0.5 smoothing ——
    QuerySpec("text_bigram_lp", (s, dir) =>
      TextAnalysis.bigramLogProb(docs(s, dir), "doc_id", "text"),
      // H18b: sparse replay of the bigram LM — non-distinct bigram
      // comprehension (every occurrence), add-0.5 smoothing, micronat
      // fixed-point pre-sum
      """WITH t AS (SELECT doc_id,
        |  string_split_regex(trim(lower(text)), ' +') AS toks
        |  FROM documents),
        |b0 AS (SELECT doc_id,
        |         unnest([toks[i] || ' ' || toks[i+1]
        |                 for i in generate_series(1, len(toks)-1)]) AS bg
        |       FROM t WHERE len(toks) >= 2),
        |dbf AS (SELECT doc_id, bg, COUNT(*) AS tf FROM b0 GROUP BY 1, 2),
        |cf AS (SELECT bg, CAST(SUM(tf) AS BIGINT) AS cf,
        |         split_part(bg, ' ', 1) AS a
        |       FROM dbf GROUP BY 1),
        |ctx AS (SELECT a, CAST(SUM(cf) AS BIGINT) AS ctx FROM cf GROUP BY 1),
        |v AS (SELECT COUNT(DISTINCT tok) AS v
        |      FROM (SELECT unnest(string_split(bg, ' ')) AS tok FROM cf)),
        |c AS (SELECT dbf.doc_id, dbf.tf,
        |        CAST(round(CAST(dbf.tf AS DOUBLE)
        |          * ln((CAST(cf.cf AS DOUBLE) + 0.5)
        |               / (CAST(ctx.ctx AS DOUBLE)
        |                  + 0.5 * CAST(v.v AS DOUBLE)))
        |          * 1000000.0) AS BIGINT) AS micronats
        |      FROM dbf JOIN cf USING (bg) JOIN ctx ON ctx.a = cf.a, v)
        |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_big,
        |  round(CAST(SUM(micronats) AS BIGINT) / 1000000.0
        |        / CAST(SUM(tf) AS DOUBLE), 4) AS avg_logp2
        |FROM c GROUP BY 1""".stripMargin),
    // —— H7e: unigram-LM tokenizer learning (SentencePiece family,
    //    deterministic Viterbi hard-EM, 2 rounds) ——
    QuerySpec("vocab_unigram_learn", (s, dir) =>
      TextAnalysis.unigramLearn(docs(s, dir), "doc_id", "text"),
      // H7e: the 2-round unigram-LM hard-EM replay; the learned vocab
      // is cost2 (piece, last E-step count, smoothed micronat cost)
      s"""WITH ${unigramCtes(2)}
         |SELECT piece, cnt, cost AS cost_mnat FROM cost2""".stripMargin),
    // —— H22b: unigram-LM tokenizer apply — per-doc Viterbi
    //    segmentation readout under the learned vocab ——
    QuerySpec("text_unigram_tok", (s, dir) =>
      TextAnalysis.unigramApply(docs(s, dir), "doc_id", "text"),
      // H22b: one more Viterbi pass (seg3) under the final cost2 vocab,
      // joined back to per-doc word counts
      s"""WITH ${unigramCtes(3)},
         |aw AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS wc FROM (
         |    SELECT doc_id,
         |      unnest(string_split_regex(trim(lower(text)), ' +')) AS w
         |    FROM documents)
         |  WHERE length(w) > 0 GROUP BY doc_id, w),
         |ws AS (SELECT w, CAST(len(segs) AS INT) AS np, best[n + 1] AS wcost
         |  FROM seg3)
         |SELECT doc_id, CAST(SUM(wc) AS BIGINT) AS n_words,
         |  CAST(SUM(wc * np) AS BIGINT) AS n_pieces,
         |  CAST(SUM(wc * wcost) AS BIGINT) AS cost_mnat
         |FROM aw JOIN ws USING (w) GROUP BY doc_id""".stripMargin),
    // —— G13: deterministic contrastive negative sampling, k=4 ——
    QuerySpec("embed_negatives", (s, dir) =>
      Similarity.negativeSamples(emb(s, dir), k = 4),
      """WITH n AS (SELECT MAX(vec_id) + 1 AS nv FROM embeddings),
        |j AS (SELECT e.vec_id AS anchor, e.label AS a_label,
        |        CAST(s.j AS INTEGER) AS draw,
        |        CAST('0x' || substr(md5(CAST(e.vec_id AS VARCHAR) || '-'
        |          || CAST(s.j AS VARCHAR)), 1, 15) AS BIGINT) % nv AS partner
        |      FROM embeddings e, generate_series(1, 4) s(j), n)
        |SELECT j.anchor, j.draw, b.vec_id AS negative, b.label AS neg_label
        |FROM j JOIN embeddings b ON b.vec_id = j.partner
        |WHERE b.vec_id <> j.anchor AND b.label <> j.a_label""".stripMargin),
    // —— G6d: deterministic train/val/test split (98/1/1) ——
    QuerySpec("split_assign", (s, dir) =>
      Pipeline100TB.splitAssign(
          docs(s, dir).select("doc_id", "source"), col("doc_id"))
        .select(col("doc_id"), col("source"), col("split")),
      """SELECT doc_id, source,
        |  CASE WHEN CAST('0x'||substr(md5(COALESCE(CAST(doc_id AS VARCHAR), '')),1,15)
        |            AS BIGINT) % 1000 < 980 THEN 'train'
        |       WHEN CAST('0x'||substr(md5(COALESCE(CAST(doc_id AS VARCHAR), '')),1,15)
        |            AS BIGINT) % 1000 < 990 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents""".stripMargin),
    // —— F8b: fuzzy (MinHash-band) benchmark decontamination ——
    QuerySpec("decon_fuzzy", (s, dir) =>
      Dedup.decontaminateFuzzy(docs(s, dir), "doc_id", "text",
        benchPred = col("doc_id") % 20 === 0),
      s"""WITH $shingleCtes,
         |$minhashSigSql,
         |bandkeys AS (
         |$bandKeysSql),
         |b AS (SELECT DISTINCT band, key FROM bandkeys WHERE doc_id % 20 = 0),
         |c AS (SELECT * FROM bandkeys WHERE doc_id % 20 <> 0)
         |SELECT c.doc_id, COUNT(*) AS n_bands_hit
         |FROM c JOIN b USING (band, key)
         |GROUP BY 1""".stripMargin),
    // —— G13b: HARD-negative mining — nearest wrong-label neighbors
    //    per anchor, the contrastive complement of G13's random draws ——
    QuerySpec("embed_hard_negatives", (s, dir) => {
      val e = emb(s, dir)
      Similarity.hardNegatives(s, e, e.filter(col("vec_id") < 10), k = 4)
    },
      // G13b: anchors × wrong-label corpus, round-4 cosine, per-anchor
      // (cos_r DESC, vec_id) rank window truncated at k
      s"""WITH a AS (SELECT vec_id AS anchor, label AS a_label,
         |           embedding AS a_emb FROM embeddings WHERE vec_id < 10),
         |p AS (SELECT a.anchor, e.vec_id, e.label,
         |    round(${cosSql.format("a.a_emb", "e.embedding")}, 4) AS cos_r
         |  FROM a JOIN embeddings e
         |    ON e.vec_id <> a.anchor AND e.label <> a.a_label),
         |r AS (SELECT *, row_number() OVER (PARTITION BY anchor
         |        ORDER BY cos_r DESC, vec_id) AS rank FROM p)
         |SELECT anchor, vec_id AS negative, label AS neg_label, cos_r,
         |  CAST(rank AS INTEGER) AS rank
         |FROM r WHERE rank <= 4""".stripMargin),
    // —— F8d: EMBEDDING-space decontamination — corpus vectors
    //    cosine-near a broadcast benchmark set in the same cell ——
    QuerySpec("decon_embed", (s, dir) => {
      val e = emb(s, dir)
      Similarity.deconEmbed(s, e.filter(col("vec_id") % 5 =!= 0),
        e.filter(col("vec_id") % 5 === 0), tau = 0.35)
    },
      // F8d: label-blocked corpus×benchmark cosine, threshold at the
      // proven round-4 boundary, per-corpus-vector rollup
      s"""WITH b AS (SELECT label, vec_id, embedding FROM embeddings
         |           WHERE vec_id % 5 = 0),
         |c AS (SELECT label, vec_id, embedding FROM embeddings
         |      WHERE vec_id % 5 <> 0),
         |p AS (SELECT c.vec_id,
         |    round(${cosSql.format("c.embedding", "b.embedding")}, 4) AS cos_r
         |  FROM c JOIN b USING (label) WHERE c.vec_id <> b.vec_id)
         |SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
         |  MAX(cos_r) AS max_cos
         |FROM p WHERE cos_r >= 0.35 GROUP BY 1""".stripMargin),
    // —— G14: reproducible global shuffle order for training export ——
    QuerySpec("corpus_shuffle", (s, dir) =>
      Pipeline100TB.shuffleOrder(
          docs(s, dir).select("doc_id", "source"), col("doc_id"))
        .select(col("doc_id"), col("source"), col("pos")),
      """SELECT doc_id, source,
        |  CAST(row_number() OVER (
        |    ORDER BY CAST('0x'||substr(md5(COALESCE(CAST(doc_id AS VARCHAR), '')),1,15)
        |               AS BIGINT),
        |             doc_id) - 1 AS BIGINT) AS pos
        |FROM documents""".stripMargin),
    // —— F15: exact substring-span duplication profile ——
    QuerySpec("dedup_substr_spans", (s, dir) =>
      Dedup.substrSpans(docs(s, dir), "doc_id", "text",
        spanLen = 30, stride = 7),
      """WITH s0 AS (
        |  SELECT doc_id,
        |    [CAST('0x' || substr(md5(substr(text, CAST(i AS INTEGER), 30)), 1, 15)
        |          AS BIGINT)
        |     for i in generate_series(1, len(text) - 29, 7)] AS hs
        |  FROM documents WHERE len(text) >= 30),
        |s AS (SELECT doc_id, unnest(hs) AS h FROM s0),
        |pd AS (SELECT doc_id, h, COUNT(*) AS c FROM s GROUP BY 1, 2),
        |nd AS (SELECT h, COUNT(*) AS ndocs FROM pd GROUP BY 1),
        |per AS (SELECT pd.doc_id, SUM(pd.c) AS n_spans,
        |          SUM(CASE WHEN nd.ndocs >= 2 THEN pd.c ELSE 0 END) AS n_dup
        |        FROM pd JOIN nd USING (h) GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(COALESCE(per.n_spans, 0) AS BIGINT) AS n_spans,
        |  CAST(COALESCE(per.n_dup, 0) AS BIGINT) AS n_dup,
        |  CASE WHEN per.n_spans > 0
        |       THEN round(CAST(per.n_dup AS DOUBLE) / per.n_spans, 4) END AS dup_frac
        |FROM documents d LEFT JOIN per USING (doc_id)""".stripMargin),
    // —— H23: CCNet perplexity head/middle/tail buckets ——
    QuerySpec("text_ppl_buckets_kn5", (s, dir) =>
      TextAnalysis.perplexityBucketsKn5(docs(s, dir), "doc_id", "text"),
      // H23: text_unigram_lp's CTE verbatim, then the rank-closed-form
      // tercile cut ⌊3·(rn−1)/n⌋ over (avg_logp DESC, doc_id)
      // H23b: the kn5 chain + the identical rank-closed-form tercile cut
      s"""WITH ${kn5LpCtes("f")},
         |r AS (SELECT doc_id, avg_logp_kn5 AS avg_logp,
         |        row_number() OVER (ORDER BY avg_logp_kn5 DESC, doc_id) AS rn,
         |        COUNT(*) OVER () AS n
         |      FROM flp)
         |SELECT doc_id, avg_logp,
         |  CASE (3 * (rn - 1)) // n WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM r""".stripMargin),
    QuerySpec("text_ppl_buckets", (s, dir) =>
      TextAnalysis.perplexityBuckets(docs(s, dir), "doc_id", "text"),
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), ' +')) AS tok
        |  FROM documents),
        |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM t GROUP BY 1, 2),
        |cf AS (SELECT doc_id, tok, tf,
        |         SUM(tf) OVER (PARTITION BY tok) AS cf
        |       FROM tf),
        |nt AS (SELECT CAST(SUM(tf) AS DOUBLE) AS nt FROM tf),
        |c AS (SELECT doc_id, tf,
        |        CAST(round(CAST(tf AS DOUBLE)
        |               * ln(CAST(cf AS DOUBLE) / nt) * 1000000.0) AS BIGINT)
        |          AS micronats
        |      FROM cf, nt),
        |u AS (SELECT doc_id,
        |        round(CAST(SUM(micronats) AS BIGINT) / 1000000.0 / SUM(tf), 4)
        |          AS avg_logp
        |      FROM c GROUP BY doc_id),
        |r AS (SELECT doc_id, avg_logp,
        |        row_number() OVER (ORDER BY avg_logp DESC, doc_id) AS rn,
        |        COUNT(*) OVER () AS n
        |      FROM u)
        |SELECT doc_id, avg_logp,
        |  CASE (3 * (rn - 1)) // n WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
        |       ELSE 'tail' END AS bucket
        |FROM r""".stripMargin),
    // —— G17: nearest-centroid assignment (cluster-assignment step) ——
    // —— G17b: cluster-balanced sampling — deterministic hash-ranked
    //    k per assigned cluster (the SemDeDup/DCLM "equal share per
    //    cluster" selection step) ——
    QuerySpec("sample_cluster_balanced", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val a = Similarity.centroidAssign(s, emb(s, dir))
      a.select(col("vec_id"), col("assigned"),
          graft.functions.Hash60.hash60(col("vec_id").cast("string")).as("__h"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("assigned")).orderBy(col("__h"), col("vec_id"))))
        .filter(col("rk") <= 25)
        .select(col("vec_id"), col("assigned"), col("rk").cast("int").as("rk"))
    },
      // G17b: the same assignment chain, then a deterministic
      // hash-ranked k per cluster
      s"""WITH $centroidAssignCtes,
         |asg AS (SELECT vec_id, c_label AS assigned FROM r WHERE rn = 1),
         |hk AS (SELECT vec_id, assigned,
         |         CAST('0x'||substr(md5(CAST(vec_id AS VARCHAR)),1,15)
         |              AS BIGINT) AS h
         |       FROM asg),
         |rk AS (SELECT *, row_number() OVER (PARTITION BY assigned
         |         ORDER BY h, vec_id) AS rk FROM hk)
         |SELECT vec_id, assigned, CAST(rk AS INTEGER) AS rk
         |FROM rk WHERE rk <= 25""".stripMargin),
    QuerySpec("embed_centroid_assign", (s, dir) =>
      Similarity.centroidAssign(s, emb(s, dir)),
      // G17: scaled-int64 centroid sums (2^20), float32-snapped means,
      // double cosine — every arithmetic step mirrored engine-side
      s"""WITH $centroidAssignCtes
         |SELECT vec_id, label, c_label AS assigned, cos_r, label = c_label AS correct
         |FROM r WHERE rn = 1""".stripMargin),
    // —— F16: block-aligned span-trimmed corpus (F15's action) ——
    QuerySpec("dedup_substr_trim", (s, dir) =>
      Dedup.substrTrim(docs(s, dir), "doc_id", "text", blockLen = 30),
      // F16: the identical non-overlapping block grid; duplicated
      // blocks dropped, survivors + the verbatim tail reassembled in
      // position order
      """WITH b0 AS (
        |  SELECT doc_id, text,
        |    [{'p': CAST(i AS INTEGER),
        |      'b': substr(text, CAST(i AS INTEGER), 30)}
        |     for i in generate_series(1, len(text) - 29, 30)] AS bs
        |  FROM documents WHERE len(text) >= 30),
        |b AS (SELECT doc_id, unnest(bs, recursive := false) AS s FROM b0),
        |bb AS (SELECT doc_id, s.p AS p, s.b AS blk,
        |         CAST('0x' || substr(md5(s.b), 1, 15) AS BIGINT) AS h
        |       FROM b),
        |nd AS (SELECT h, COUNT(DISTINCT doc_id) AS ndocs FROM bb GROUP BY h),
        |kept AS (SELECT bb.doc_id,
        |           COUNT(*) AS n_blocks,
        |           CAST(SUM(CASE WHEN nd.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |             AS n_removed,
        |           COALESCE(string_agg(CASE WHEN nd.ndocs < 2 THEN bb.blk END, ''
        |                               ORDER BY bb.p), '') AS body
        |         FROM bb JOIN nd USING (h) GROUP BY bb.doc_id)
        |SELECT d.doc_id,
        |  COALESCE(k.body, '') ||
        |    substr(d.text, (len(d.text) // 30) * 30 + 1) AS clean_text,
        |  CAST(COALESCE(k.n_blocks, 0) AS BIGINT) AS n_blocks,
        |  CAST(COALESCE(k.n_removed, 0) AS BIGINT) AS n_removed
        |FROM documents d LEFT JOIN kept k USING (doc_id)""".stripMargin),
    // —— H23 selection policy: head + 50% hash-sampled middle ——
    QuerySpec("corpus_select_ccnet", (s, dir) =>
      TextAnalysis.ccnetSelect(docs(s, dir), "doc_id", "text"),
      // H23 selection: the ppl-bucket closed form + the shared
      // md5-60bit hash draw on doc_id for the middle tercile
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), ' +')) AS tok
        |  FROM documents),
        |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM t GROUP BY 1, 2),
        |cf AS (SELECT doc_id, tok, tf,
        |         SUM(tf) OVER (PARTITION BY tok) AS cf
        |       FROM tf),
        |nt AS (SELECT CAST(SUM(tf) AS DOUBLE) AS nt FROM tf),
        |c AS (SELECT doc_id, tf,
        |        CAST(round(CAST(tf AS DOUBLE)
        |               * ln(CAST(cf AS DOUBLE) / nt) * 1000000.0) AS BIGINT)
        |          AS micronats
        |      FROM cf, nt),
        |u AS (SELECT doc_id,
        |        round(CAST(SUM(micronats) AS BIGINT) / 1000000.0 / SUM(tf), 4)
        |          AS avg_logp
        |      FROM c GROUP BY doc_id),
        |r AS (SELECT doc_id, avg_logp,
        |        row_number() OVER (ORDER BY avg_logp DESC, doc_id) AS rn,
        |        COUNT(*) OVER () AS n
        |      FROM u),
        |bk AS (SELECT doc_id, avg_logp,
        |         CASE (3 * (rn - 1)) // n WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
        |              ELSE 'tail' END AS bucket
        |       FROM r)
        |SELECT doc_id, avg_logp, bucket FROM bk
        |WHERE bucket = 'head'
        |   OR (bucket = 'middle' AND
        |       CAST('0x'||substr(md5(COALESCE(CAST(doc_id AS VARCHAR), '')),1,15)
        |            AS BIGINT) % 100 < 50)""".stripMargin),
    // —— H24: DSIR importance resampling — select docs that "read
    //    like" the src0 target domain, Gumbel top-100 ——
    QuerySpec("corpus_select_dsir", (s, dir) =>
      TextAnalysis.dsirSelect(docs(s, dir), "doc_id", "text",
        targetPred = col("source") === "src0", dims = 64, k = 100),
      // H24: DSIR replay — sparse unigram+bigram postings (non-distinct
      // bigrams, unlike the minhash shingle CTEs), add-1-smoothed bucket
      // log-ratios in int64 micro-units, exact integer doc weights,
      // Gumbel key from the engine-wide md5-60-bit draw
      """WITH t AS (SELECT doc_id, source,
        |  string_split_regex(trim(lower(text)), ' +') AS toks
        |  FROM documents),
        |u1 AS (SELECT doc_id, unnest(toks) AS g FROM t),
        |u2 AS (SELECT doc_id,
        |         unnest([toks[i] || ' ' || toks[i+1]
        |                 for i in generate_series(1, len(toks)-1)]) AS g
        |       FROM t),
        |e AS (SELECT doc_id,
        |        CAST('0x'||substr(md5(g),1,15) AS BIGINT) % 64 AS b
        |      FROM (SELECT * FROM u1 UNION ALL SELECT * FROM u2)),
        |cb AS (SELECT doc_id, b, COUNT(*) AS c FROM e GROUP BY 1, 2),
        |cb2 AS (SELECT cb.b, cb.c, (d.source = 'src0') AS is_t
        |        FROM cb JOIN t d USING (doc_id)),
        |tot AS (SELECT r.range AS b,
        |          COALESCE(SUM(CASE WHEN is_t THEN c END), 0) AS tc,
        |          COALESCE(SUM(c), 0) AS rc
        |        FROM range(64) r LEFT JOIN cb2 ON cb2.b = r.range
        |        GROUP BY 1),
        |s AS (SELECT SUM(tc) AS tt, SUM(rc) AS rt FROM tot),
        |lam AS (SELECT b,
        |          CAST(round((ln((CAST(tc AS DOUBLE) + 1.0)
        |                          / (CAST(tt AS DOUBLE) + 64.0))
        |                    - ln((CAST(rc AS DOUBLE) + 1.0)
        |                          / (CAST(rt AS DOUBLE) + 64.0)))
        |                     * 1000000.0) AS BIGINT) AS lam
        |        FROM tot, s),
        |sc AS (SELECT d.doc_id,
        |         CAST(COALESCE(SUM(cb.c * lam.lam), 0) AS BIGINT) AS lw
        |       FROM t d LEFT JOIN cb ON cb.doc_id = d.doc_id
        |            LEFT JOIN lam ON lam.b = cb.b
        |       GROUP BY 1)
        |SELECT doc_id, lw AS lw_micro,
        |  round(CAST(lw AS DOUBLE) / 1000000.0 +
        |    -ln(-ln((CAST('0x'||substr(md5(CAST(doc_id AS VARCHAR)),1,15)
        |              AS BIGINT) + 1.0) / 1152921504606846976.0)), 6) AS gkey
        |FROM sc
        |ORDER BY gkey DESC, doc_id LIMIT 100""".stripMargin),
    // —— H7c: BPE merge learning, k = 3 unrolled iterations ——
    QuerySpec("vocab_bpe_learn", (s, dir) =>
      TextAnalysis.bpeLearn(docs(s, dir), "doc_id", "text", k = 3),
      // H7c: the unrolled 3-iteration learn — see bpeLearnSql
      bpeLearnSql),
    // —— F19: OFF-GRID span trim — content-defined block boundaries
    //    (rolling-anchor CDC), so shifted duplicate runs collapse ——
    QuerySpec("dedup_substr_offgrid", (s, dir) =>
      Dedup.substrTrimCdc(docs(s, dir), "doc_id", "text",
        window = 8, divisor = 32),
      // F19: content-defined (rolling-anchor) block boundaries — a
      // position starts a block when hash60 of its 8-char window ≡ 0
      // mod 32; then the same df ≥ 2 removal and reassembly as F16
      """WITH st AS (
        |  SELECT doc_id, text, len(text) AS n,
        |    list_prepend(1, CASE WHEN len(text) >= 9 THEN
        |      [p for p in generate_series(2, len(text) - 7)
        |       if CAST('0x'||substr(md5(substr(text, p, 8)),1,15) AS BIGINT)
        |          % 32 = 0]
        |    ELSE [] END) AS starts
        |  FROM documents),
        |b0 AS (SELECT doc_id,
        |  [{'p': CAST(starts[i] AS INTEGER),
        |    'b': substr(text, starts[i],
        |                COALESCE(starts[i+1], n+1) - starts[i])}
        |   for i in generate_series(1, len(starts))] AS bs
        |  FROM st),
        |b AS (SELECT doc_id, unnest(bs, recursive := false) AS s FROM b0),
        |bb AS (SELECT doc_id, s.p AS p, s.b AS blk,
        |         CAST('0x' || substr(md5(s.b), 1, 15) AS BIGINT) AS h
        |       FROM b),
        |nd AS (SELECT h, COUNT(DISTINCT doc_id) AS ndocs FROM bb GROUP BY h),
        |kept AS (SELECT bb.doc_id,
        |           COUNT(*) AS n_blocks,
        |           CAST(SUM(CASE WHEN nd.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |             AS n_removed,
        |           COALESCE(string_agg(CASE WHEN nd.ndocs < 2 THEN bb.blk END, ''
        |                               ORDER BY bb.p), '') AS body
        |         FROM bb JOIN nd USING (h) GROUP BY bb.doc_id)
        |SELECT d.doc_id, COALESCE(k.body, '') AS clean_text,
        |  CAST(COALESCE(k.n_blocks, 0) AS BIGINT) AS n_blocks,
        |  CAST(COALESCE(k.n_removed, 0) AS BIGINT) AS n_removed
        |FROM documents d LEFT JOIN kept k USING (doc_id)""".stripMargin),
    // —— F21: TRUE ExactSubstr — any-offset duplicated-run profile at
    //    the Lee et al. ≥ 50-char threshold (all-offset window
    //    hashes ≡ the suffix-array byte set, no stride/grid/anchor) ——
    QuerySpec("dedup_substr_suffix", (s, dir) =>
      Dedup.substrSuffixProfile(docs(s, dir), "doc_id", "text",
        minLen = 50),
      // F21: the all-offset window-hash replay — identical md5-60bit
      // window hashes, global count ≥ 2, then the identical lag/sum
      // island merge (runs touch when next start ≤ prev + 50)
      """WITH w0 AS (
        |  SELECT doc_id,
        |    [CAST('0x' || substr(md5(substr(text, CAST(i AS INTEGER), 50)), 1, 15)
        |          AS BIGINT)
        |     for i in generate_series(1, len(text) - 49, 1)] AS hs
        |  FROM documents WHERE len(text) >= 50),
        |w AS (SELECT doc_id, unnest(hs) AS h,
        |        unnest(range(1, len(hs) + 1)) AS p FROM w0),
        |dh AS (SELECT h FROM w GROUP BY h HAVING COUNT(*) >= 2),
        |d2 AS (SELECT w.doc_id, w.p FROM w JOIN dh USING (h)),
        |i1 AS (SELECT doc_id, p,
        |        CASE WHEN lag(p) OVER (PARTITION BY doc_id ORDER BY p) IS NULL
        |             OR p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) > 50
        |             THEN 1 ELSE 0 END AS nw
        |      FROM d2),
        |i2 AS (SELECT doc_id, p,
        |        SUM(nw) OVER (PARTITION BY doc_id ORDER BY p) AS isl
        |      FROM i1),
        |r AS (SELECT doc_id, isl, MAX(p) - MIN(p) + 50 AS len
        |      FROM i2 GROUP BY 1, 2),
        |per AS (SELECT doc_id, CAST(SUM(len) AS BIGINT) AS dup_chars,
        |        CAST(COUNT(*) AS BIGINT) AS n_runs,
        |        CAST(MAX(len) AS BIGINT) AS longest_run
        |      FROM r GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(COALESCE(per.dup_chars, 0) AS BIGINT) AS dup_chars,
        |  CAST(COALESCE(per.n_runs, 0) AS BIGINT) AS n_runs,
        |  CAST(COALESCE(per.longest_run, 0) AS BIGINT) AS longest_run
        |FROM documents d LEFT JOIN per USING (doc_id)""".stripMargin),
    // —— F21b: the TRIM action — every byte covered by a duplicated
    //    >= 50-char any-offset substring removed, segments re-joined ——
    QuerySpec("dedup_substr_suffix_trim", (s, dir) =>
      Dedup.substrSuffixTrim(docs(s, dir), "doc_id", "text",
        minLen = 50),
      // F21b: same island CTEs, then the keep segments (run complement
      // via lag + a closing tail segment) string_agg'd in position order
      """WITH w0 AS (
        |  SELECT doc_id,
        |    [CAST('0x' || substr(md5(substr(text, CAST(i AS INTEGER), 50)), 1, 15)
        |          AS BIGINT)
        |     for i in generate_series(1, len(text) - 49, 1)] AS hs
        |  FROM documents WHERE len(text) >= 50),
        |w AS (SELECT doc_id, unnest(hs) AS h,
        |        unnest(range(1, len(hs) + 1)) AS p FROM w0),
        |dh AS (SELECT h FROM w GROUP BY h HAVING COUNT(*) >= 2),
        |d2 AS (SELECT w.doc_id, w.p FROM w JOIN dh USING (h)),
        |i1 AS (SELECT doc_id, p,
        |        CASE WHEN lag(p) OVER (PARTITION BY doc_id ORDER BY p) IS NULL
        |             OR p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) > 50
        |             THEN 1 ELSE 0 END AS nw
        |      FROM d2),
        |i2 AS (SELECT doc_id, p,
        |        SUM(nw) OVER (PARTITION BY doc_id ORDER BY p) AS isl
        |      FROM i1),
        |r AS (SELECT doc_id, isl, MIN(p) AS s, MAX(p) + 49 AS e
        |      FROM i2 GROUP BY 1, 2),
        |tl AS (SELECT doc_id, MAX(e) + 1 AS st,
        |        CAST(SUM(e - s + 1) AS BIGINT) AS dup_chars,
        |        CAST(COUNT(*) AS BIGINT) AS n_runs
        |      FROM r GROUP BY 1),
        |segs AS (
        |  SELECT doc_id,
        |    COALESCE(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) + 1 AS st,
        |    s - 1 AS en
        |  FROM r
        |  UNION ALL
        |  SELECT tl.doc_id, tl.st, len(d.text) AS en
        |  FROM tl JOIN documents d USING (doc_id)),
        |built AS (
        |  SELECT s2.doc_id,
        |    string_agg(substr(d.text, CAST(s2.st AS INTEGER),
        |      CAST(s2.en - s2.st + 1 AS INTEGER)), '' ORDER BY s2.st)
        |      AS clean_text
        |  FROM segs s2 JOIN documents d USING (doc_id)
        |  WHERE s2.en >= s2.st GROUP BY 1)
        |SELECT d.doc_id,
        |  CASE WHEN tl.n_runs IS NULL THEN d.text
        |       ELSE COALESCE(built.clean_text, '') END AS clean_text,
        |  CAST(COALESCE(tl.dup_chars, 0) AS BIGINT) AS dup_chars,
        |  CAST(COALESCE(tl.n_runs, 0) AS BIGINT) AS n_runs
        |FROM documents d
        |LEFT JOIN tl USING (doc_id)
        |LEFT JOIN built USING (doc_id)""".stripMargin),
    // —— F16b: incremental span trim of a batch vs the standing index ——
    QuerySpec("dedup_substr_trim_inc", (s, dir) => {
      val d = docs(s, dir)
      Dedup.substrTrimIncremental(
        d.filter(col("doc_id") % 10 === 0),
        Dedup.blockIndex(d.filter(col("doc_id") % 10 =!= 0), "text"),
        "doc_id", "text")
    },
      // F16b: batch blocks against the standing corpus block set
      """WITH idx AS (
        |  SELECT DISTINCT
        |    CAST('0x' || substr(md5(substr(text, CAST(i AS INTEGER), 30)), 1, 15)
        |         AS BIGINT) AS h
        |  FROM documents, LATERAL (SELECT unnest(generate_series(1,
        |         len(text) - 29, 30)) AS i) g
        |  WHERE doc_id % 10 <> 0 AND len(text) >= 30),
        |b0 AS (
        |  SELECT doc_id, text,
        |    [{'p': CAST(i AS INTEGER),
        |      'b': substr(text, CAST(i AS INTEGER), 30)}
        |     for i in generate_series(1, len(text) - 29, 30)] AS bs
        |  FROM documents WHERE doc_id % 10 = 0 AND len(text) >= 30),
        |b AS (SELECT doc_id, unnest(bs, recursive := false) AS s FROM b0),
        |bb AS (SELECT doc_id, s.p AS p, s.b AS blk,
        |         CAST('0x' || substr(md5(s.b), 1, 15) AS BIGINT) AS h
        |       FROM b),
        |mk AS (SELECT bb.*, idx.h IS NOT NULL AS hit
        |       FROM bb LEFT JOIN idx USING (h)),
        |kept AS (SELECT doc_id,
        |           COUNT(*) AS n_blocks,
        |           CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT)
        |             AS n_removed,
        |           COALESCE(string_agg(CASE WHEN NOT hit THEN blk END, ''
        |                               ORDER BY p), '') AS body
        |         FROM mk GROUP BY doc_id)
        |SELECT d.doc_id,
        |  COALESCE(k.body, '') ||
        |    substr(d.text, (len(d.text) // 30) * 30 + 1) AS clean_text,
        |  CAST(COALESCE(k.n_blocks, 0) AS BIGINT) AS n_blocks,
        |  CAST(COALESCE(k.n_removed, 0) AS BIGINT) AS n_removed
        |FROM documents d LEFT JOIN kept k USING (doc_id)
        |WHERE d.doc_id % 10 = 0""".stripMargin),
  )

  /** G17's assignment chain as a shared CTE block, so the
    * sampling composition can never drift from the assignment oracle.
    */
  private lazy val centroidAssignCtes: String =
    """u AS (SELECT label,
      |        CAST(unnest(generate_series(1, len(embedding))) AS INTEGER) AS dim,
      |        CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1048576.0) AS BIGINT)
      |          AS sv
      |      FROM embeddings),
      |c AS (SELECT label, dim, SUM(sv) AS s, COUNT(*) AS n FROM u GROUP BY 1, 2),
      |cent AS (SELECT label AS c_label,
      |           CAST(list(CAST(s AS DOUBLE) / 1048576.0 / n ORDER BY dim)
      |                AS FLOAT[]) AS c_emb
      |         FROM c GROUP BY label),
      |sc AS (SELECT e.vec_id, e.label, cent.c_label,
      |         round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
      |                                      CAST(c_emb AS DOUBLE[])), 4) AS cos_r
      |       FROM embeddings e CROSS JOIN cent),
      |r AS (SELECT *, row_number() OVER (PARTITION BY vec_id
      |        ORDER BY cos_r DESC, c_label) AS rn FROM sc)""".stripMargin
}
