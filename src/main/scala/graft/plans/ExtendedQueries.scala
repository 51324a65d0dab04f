package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QuerySpec
import graft.operators.Pipeline100TB
import graft.sources.TableCatalog

/** Round-2 capability queries: window/densify/fill/graph/union/sample
  * pipeline stages, correlated $lookup, $merge, plus the 100 TB
  * pipeline operators (CC clustering, hash sampling, scrubbing,
  * chunking). Registered like every other SURVEY §2 row: a Spark
  * query + a DuckDB oracle over the same parquet.
  */
object ExtendedQueries {

  private def run(s: SparkSession, dir: String, table: String, pipeline: String): DataFrame = {
    val cat = TableCatalog(s, dir)
    MongoPipeline(cat.table(table), pipeline, cat.table)
  }

  /** The oracle SQL of an LlmQueries query this family's oracles compose. */
  private def llmSql(name: String): String =
    QuerySpec.oracleOf(graft.operators.LlmQueries.specs, name)

  /** H21's synthetic wrapper: script/style/comment blocks, block tags,
    * and every decoded entity class — shared verbatim with the oracle
    * (single-quote-free so it embeds in a SQL literal unchanged).
    */
  private val MarkupPrefix =
    "<html><head><script type=\"text/javascript\">var x = 1 &lt; 2;</script>" +
      "<style>p { color: red }</style></head><body><!-- nav -->" +
      "<h1>Title &amp; Intro</h1><p>"
  private val MarkupSuffix =
    "</p><ul><li>item one</li><li>item two</li></ul>" +
      "<div id=\"footer\">tail&nbsp;note &#39;quoted&#39; &quot;q2&quot;</div>" +
      "</body></html>"

  private val centsExpr =
    """{"$toLong": {"$round": [{"$multiply": ["$o_totalprice", 100]}, 0]}}"""

  /** C36's query vector: a 64-dim deterministic lattice of eighths
    * (k/8 is exactly representable in float32, so the stage's
    * array<float> cast is lossless and the DOUBLE[] oracle literal is
    * bit-identical). Shared by the pipeline JSON and the oracle SQL so
    * the two can never drift.
    */
  private lazy val vsQueryVec: IndexedSeq[Double] =
    (0 until 64).map(i => ((i * 37) % 19 - 9) / 8.0)
  private lazy val vsQueryJson = vsQueryVec.mkString("[", ", ", "]")
  private def vsQuerySqlList(n: Int) =
    vsQueryVec.take(n).mkString("CAST([", ", ", "] AS DOUBLE[])")

  /** The H21 extract chain as one DuckDB scalar expression over a
    * `text` column wrapped in the synthetic page — shared by the
    * standalone `text_extract_markup` oracle and the composed
    * `corpus_curate_full` oracle so the two can never drift.
    */
  private lazy val markupChainSql: String =
    s"""regexp_replace(
       |    regexp_replace(
       |      regexp_replace(
       |        replace(
       |          regexp_replace(
       |            replace(replace(replace(replace(
       |              regexp_replace(
       |                regexp_replace(
       |                  regexp_replace(
       |                    regexp_replace(
       |                      regexp_replace(
       |                        '$MarkupPrefix' || text || '$MarkupSuffix',
       |                        '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
       |                      '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
       |                    '(?s)<!--.*?-->', ' ', 'g'),
       |                  '(?i)</(p|h[1-6]|li|div|tr)>|<br[^>]*>', chr(10), 'g'),
       |                '<[^>]+>', ' ', 'g'),
       |              '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
       |            '&#39;|&apos;', chr(39), 'g'),
       |          '&amp;', '&'),
       |        '[ \\t\\r]+', ' ', 'g'),
       |      '( ?\\n ?)+', chr(10), 'g'),
       |    '^[\\n ]+|[\\n ]+$$', '', 'g')""".stripMargin

  private val duckCents = "CAST(round(o_totalprice*100,0) AS BIGINT)"
  // mirrors the translator's row hash: columns cast to string, joined
  // with a  separator so adjacent values can't alias
  private val duckRowHash =
    "CAST('0x'||substr(md5(CAST(o_orderkey AS VARCHAR)||chr(1)||CAST(o_totalprice AS VARCHAR)),1,15) AS BIGINT)"

  /** One k-means iteration as CTEs: assign every vector to its
    * max-cosine centroid in `cin` (ties → lower cid, exactly the
    * engine's `max_by(cid, struct(cs, -cid))`), then re-center with
    * the scaled-int64 exact sum and float32 snap
    * (Similarity.ivfTopK's loop body, arithmetic step for step).
    */
  private def kmeansIter(cin: String, i: Int, cout: String): String =
    s"""a$i AS (SELECT e.vec_id, e.embedding, c.cid,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
       |                 CAST(c.cvec AS DOUBLE[])) DESC, c.cid) AS rn
       |  FROM embeddings e CROSS JOIN $cin c),
       |m$i AS (SELECT vec_id, embedding, cid FROM a$i WHERE rn = 1),
       |u$i AS (SELECT cid,
       |    CAST(unnest(generate_series(1, len(embedding))) AS INTEGER) AS d,
       |    CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1048576.0) AS BIGINT)
       |      AS sv
       |  FROM m$i),
       |s$i AS (SELECT cid, d, SUM(sv) AS s, COUNT(*) AS n FROM u$i GROUP BY 1, 2),
       |$cout AS (SELECT cid,
       |    CAST(list(CAST(s AS DOUBLE) / (n * 1048576.0) ORDER BY d) AS FLOAT[])
       |      AS cvec
       |  FROM s$i GROUP BY cid)""".stripMargin

  private val ivfTrainedSql: String =
    s"""WITH c0 AS (SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS cvec
       |            FROM embeddings WHERE vec_id < 8),
       |${kmeansIter("c0", 1, "c1")},
       |${kmeansIter("c1", 2, "c2")},
       |asg AS (SELECT e.vec_id, e.embedding, c.cid,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
       |                 CAST(c.cvec AS DOUBLE[])) DESC, c.cid) AS rn
       |  FROM embeddings e CROSS JOIN c2 c),
       |cells AS (SELECT vec_id, embedding, cid FROM asg WHERE rn = 1),
       |probes AS (SELECT q.vec_id AS query_id, q.embedding AS q_emb, c.cid,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
       |                 CAST(c.cvec AS DOUBLE[])) DESC, c.cid) AS prn
       |  FROM embeddings q CROSS JOIN c2 c WHERE q.vec_id < 10),
       |cand AS (SELECT p.query_id, p.q_emb, s.vec_id, s.embedding
       |  FROM (SELECT * FROM probes WHERE prn <= 4) p
       |  JOIN cells s USING (cid)
       |  WHERE s.vec_id <> p.query_id),
       |sc AS (SELECT query_id, vec_id,
       |    round(list_cosine_similarity(CAST(q_emb AS DOUBLE[]),
       |            CAST(embedding AS DOUBLE[])), 4) AS cos_r
       |  FROM cand),
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |        ORDER BY cos_r DESC, vec_id) AS rank FROM sc)
       |SELECT query_id, vec_id AS neighbor_id, cos_r,
       |  CAST(rank AS INTEGER) AS rank
       |FROM r WHERE rank <= 3""".stripMargin

  /** G25's exact-integer distance as SQL: round(v·2²⁰) int64 per
    * component, integer squared-L2, correctly-rounded sqrt snapped to
    * an int64 scaled unit — the engine's clusterEval idiom op for op.
    */
  private def intDistSql(a: String, b: String): String =
    s"""CAST(round(sqrt(CAST(
       |  list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(range(1, len($a) + 1), i ->
       |      CAST(round(CAST($a[i] AS DOUBLE) * 1048576.0) AS BIGINT)
       |      - CAST(round(CAST($b[i] AS DOUBLE) * 1048576.0) AS BIGINT))),
       |    (x, y) -> x + y * y) AS DOUBLE))) AS BIGINT)""".stripMargin

  /** G25 oracle: the trained-IVF centroid replay (kmeansIter ×2, the
    * ivfTrainedSql chain) + the Davies-Bouldin arithmetic — integer
    * scatter/separation, micro-unit ratios, scale-0-round means.
    */
  private val clusterEvalSql: String =
    s"""WITH c0 AS (SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS cvec
       |            FROM embeddings WHERE vec_id < 8),
       |${kmeansIter("c0", 1, "c1")},
       |${kmeansIter("c1", 2, "c2")},
       |asg AS (SELECT e.vec_id, e.embedding, c.cid,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
       |                 CAST(c.cvec AS DOUBLE[])) DESC, c.cid) AS rn
       |  FROM embeddings e CROSS JOIN c2 c),
       |cells AS (SELECT vec_id, embedding, cid FROM asg WHERE rn = 1),
       |md AS (SELECT m.cid, ${intDistSql("m.embedding", "c.cvec")} AS s
       |  FROM cells m JOIN c2 c USING (cid)),
       |pc AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_members,
       |    CAST(SUM(s) AS BIGINT) AS ss FROM md GROUP BY 1),
       |pc2 AS (SELECT *, CAST(round(CAST(ss AS DOUBLE)
       |    / CAST(n_members AS DOUBLE)) AS BIGINT) AS s_scaled FROM pc),
       |pr AS (SELECT a.cid AS i, b.cid AS j,
       |    ${intDistSql("a.cvec", "b.cvec")} AS m
       |  FROM c2 a CROSS JOIN c2 b WHERE a.cid <> b.cid),
       |rr AS (SELECT pr.i AS cid,
       |    MAX(CAST(round(CAST(si.s_scaled + sj.s_scaled AS DOUBLE)
       |      * 1000000.0 / CAST(pr.m AS DOUBLE)) AS BIGINT)) AS r_micro
       |  FROM pr JOIN pc2 si ON si.cid = pr.i
       |  JOIN pc2 sj ON sj.cid = pr.j
       |  WHERE pr.m > 0 GROUP BY 1),
       |fin AS (SELECT pc2.cid, pc2.n_members, pc2.s_scaled, rr.r_micro,
       |    CAST(SUM(rr.r_micro) OVER () AS BIGINT) AS sr,
       |    CAST(COUNT(*) OVER () AS BIGINT) AS kk
       |  FROM pc2 JOIN rr ON rr.cid = pc2.cid)
       |SELECT cid, n_members, s_scaled, r_micro,
       |  CAST(round(CAST(sr AS DOUBLE) / CAST(kk AS DOUBLE)) AS BIGINT)
       |    AS db_micro
       |FROM fin""".stripMargin

  private val ivfFixedSql: String =
    """WITH c AS (SELECT vec_id AS cid, embedding AS cvec
      |           FROM embeddings WHERE vec_id < 8),
      |asg AS (SELECT e.vec_id, e.embedding, c.cid,
      |    row_number() OVER (PARTITION BY e.vec_id
      |      ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
      |                 CAST(c.cvec AS DOUBLE[])) DESC, c.cid) AS rn
      |  FROM embeddings e CROSS JOIN c),
      |cells AS (SELECT vec_id, embedding, cid FROM asg WHERE rn = 1),
      |probes AS (SELECT q.vec_id AS query_id, q.embedding AS q_emb, c.cid,
      |    row_number() OVER (PARTITION BY q.vec_id
      |      ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
      |                 CAST(c.cvec AS DOUBLE[])) DESC, c.cid) AS prn
      |  FROM embeddings q CROSS JOIN c WHERE q.vec_id < 10),
      |cand AS (SELECT p.query_id, p.q_emb, s.vec_id, s.embedding
      |  FROM (SELECT * FROM probes WHERE prn <= 4) p
      |  JOIN cells s USING (cid)
      |  WHERE s.vec_id <> p.query_id),
      |sc AS (SELECT query_id, vec_id,
      |    round(list_cosine_similarity(CAST(q_emb AS DOUBLE[]),
      |            CAST(embedding AS DOUBLE[])), 4) AS cos_r
      |  FROM cand),
      |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |        ORDER BY cos_r DESC, vec_id) AS rank FROM sc)
      |SELECT query_id, vec_id AS neighbor_id, cos_r,
      |  CAST(rank AS INTEGER) AS rank
      |FROM r WHERE rank <= 3""".stripMargin

  /** G23 oracle: the IVFADC replay — ivfFixedSql's coarse cell /
    * probe CTEs composed with the PQ training chain's codes (a3) and
    * codebook (c2); ADC restricted to probed cells. Integer-exact on
    * the ADC side; coarse routing carries the ivf_fixed cosine-argmax
    * parity assumption.
    */
  private val ivfPqSql: String =
    s"""WITH ${graft.operators.LlmQueries.pqChain},
       |coarse AS (SELECT CAST(vec_id AS INTEGER) AS cid, embedding AS cvec
       |           FROM embeddings WHERE vec_id < 8),
       |casg AS (SELECT e2.vec_id, c.cid,
       |    row_number() OVER (PARTITION BY e2.vec_id
       |      ORDER BY list_cosine_similarity(CAST(e2.embedding AS DOUBLE[]),
       |                 CAST(c.cvec AS DOUBLE[])) DESC, c.cid) AS rn
       |  FROM embeddings e2 CROSS JOIN coarse c),
       |cells AS (SELECT vec_id, cid AS cell FROM casg WHERE rn = 1),
       |probes AS (SELECT q.vec_id AS query_id, c.cid AS cell,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
       |                 CAST(c.cvec AS DOUBLE[])) DESC, c.cid) AS prn
       |  FROM embeddings q CROSS JOIN coarse c WHERE q.vec_id < 10),
       |qsv AS (SELECT vec_id, sub, svec FROM sv WHERE vec_id < 10),
       |lut AS (SELECT q.vec_id AS query_id, q.sub, cb.cid,
       |          ${graft.operators.LlmQueries.pqDist} AS dq
       |        FROM qsv q JOIN c2 cb ON q.sub = cb.sub),
       |sc AS (SELECT p.query_id, a.vec_id, SUM(l.dq) AS adc
       |       FROM (SELECT query_id, cell FROM probes WHERE prn <= 4) p
       |       JOIN cells s ON s.cell = p.cell
       |       JOIN a3 a ON a.vec_id = s.vec_id
       |       JOIN lut l ON l.query_id = p.query_id
       |                 AND l.sub = a.sub AND l.cid = a.cid
       |       WHERE a.vec_id <> p.query_id
       |       GROUP BY 1, 2),
       |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |        ORDER BY adc, vec_id) AS rank FROM sc)
       |SELECT query_id, vec_id AS neighbor_id,
       |  CAST(adc AS BIGINT) AS adc_dist, CAST(rank AS INTEGER) AS rank
       |FROM r WHERE rank <= 5""".stripMargin

  /** G19c oracle: ADC shortlist (rank ≤ 15 of the pqTopKSql replay)
    * re-scored with the EXACT full-64-dim quantized L2 — the same
    * round(v·2²⁰) int64 arithmetic as the training chain, so the
    * re-rank side carries zero float-summation assumptions.
    */
  private val pqRerankSql: String =
    s"""WITH ${graft.operators.LlmQueries.pqChain},
       |qsv AS (SELECT vec_id, sub, svec FROM sv WHERE vec_id < 10),
       |lut AS (SELECT q.vec_id AS query_id, q.sub, c.cid,
       |          ${graft.operators.LlmQueries.pqDist} AS dq
       |        FROM qsv q JOIN c2 c ON q.sub = c.sub),
       |sc AS (SELECT l.query_id, a.vec_id, SUM(l.dq) AS adc
       |       FROM a3 a JOIN lut l ON l.sub = a.sub AND l.cid = a.cid
       |       WHERE a.vec_id <> l.query_id
       |       GROUP BY 1, 2),
       |shortl AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |             ORDER BY adc, vec_id) AS srank FROM sc),
       |ex AS (SELECT c.query_id, c.vec_id, c.adc,
       |    list_sum([ (CAST(round(qe.v[i]*1048576.0) AS BIGINT)
       |                - CAST(round(ne.v[i]*1048576.0) AS BIGINT))
       |             * (CAST(round(qe.v[i]*1048576.0) AS BIGINT)
       |                - CAST(round(ne.v[i]*1048576.0) AS BIGINT))
       |             for i in generate_series(1, 64) ]) AS d2
       |  FROM (SELECT query_id, vec_id, adc FROM shortl WHERE srank <= 15) c
       |  JOIN e qe ON qe.vec_id = c.query_id
       |  JOIN e ne ON ne.vec_id = c.vec_id),
       |rr AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |         ORDER BY d2, vec_id) AS rank FROM ex)
       |SELECT query_id, vec_id AS neighbor_id,
       |  CAST(adc AS BIGINT) AS adc_dist, CAST(d2 AS BIGINT) AS d2,
       |  CAST(rank AS INTEGER) AS rank
       |FROM rr WHERE rank <= 5""".stripMargin

  private val int8Sql: String =
    """WITH m AS (
      |  SELECT e.vec_id, MAX(abs(CAST(e.embedding[d] AS DOUBLE))) AS max_abs
      |  FROM embeddings e, generate_series(1, 64) t(d) GROUP BY e.vec_id),
      |qv AS (
      |  SELECT e.vec_id, round(m.max_abs, 6) AS scale_r,
      |    [CAST(round(CAST(x AS DOUBLE) * 127.0 / m.max_abs, 0) AS INTEGER)
      |     for x in e.embedding] AS q
      |  FROM embeddings e JOIN m ON e.vec_id = m.vec_id),
      |qs AS (SELECT vec_id AS query_id, scale_r AS scale_q, q AS qq
      |       FROM qv WHERE vec_id < 10),
      |scored AS (
      |  SELECT qs.query_id, c.vec_id,
      |    CAST(list_sum([qs.qq[i] * c.q[i]
      |                   for i in generate_series(1, len(c.q))]) AS BIGINT) AS dot_i,
      |    qs.scale_q, c.scale_r AS scale_c
      |  FROM qv c JOIN qs ON c.vec_id <> qs.query_id),
      |descaled AS (
      |  SELECT query_id, vec_id, dot_i,
      |    CAST(dot_i AS DOUBLE) * scale_q * scale_c AS score
      |  FROM scored),
      |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |             ORDER BY score DESC, vec_id) AS rk FROM descaled)
      |SELECT query_id, vec_id AS neighbor_id, dot_i,
      |  round(score, 4) AS score_r, CAST(rk AS INTEGER) AS rank
      |FROM ranked WHERE rk <= 5""".stripMargin

  /** G21b oracle: each strategy's EXISTING oracle replay, scoped as a
    * subquery (DuckDB CTE names inside a derived table are local, so
    * the eleven WITH-chains compose without collisions), truncated to a
    * common k = 3 — per-query ranks are a total order, so top-3 of a
    * top-5 replay IS the k=3 result — then micro-averaged recall
    * against the brute-force truth.
    */
  private def recallMatrixSql: String = {
    def ids(sql: String, filter: String = "") =
      s"SELECT query_id, neighbor_id FROM (\n$sql\n) __t $filter"
    val brute = llmSql("sim_topk_bruteforce")
    val trunc = llmSql("sim_topk_truncated")
    val lsh = llmSql("sim_topk_lsh")
    val strategies = Seq(
      "exact_pruned" -> "truth",
      "int8" -> "s_int8",
      "truncated" -> "s_trunc",
      "ivf" -> "s_ivf",
      "ivf_fixed" -> "s_ivff",
      "lsh" -> "s_lsh",
      "pq" -> "s_pq",
      "ivfpq" -> "s_ivfpq",
      "pq_rerank" -> "s_rerank",
      "hamming" -> "s_ham",
      "hamming_rerank" -> "s_hamr")
    val rows = strategies.map { case (nm, cte) =>
      s"""SELECT '$nm' AS strategy,
         |  (SELECT COUNT(*) FROM truth t JOIN $cte s
         |    ON t.query_id = s.query_id AND t.neighbor_id = s.neighbor_id)
         |    AS n_hit""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH truth AS (${ids(brute, "WHERE rank <= 3")}),
       |s_int8 AS (${ids(int8Sql, "WHERE rank <= 3")}),
       |s_trunc AS (${ids(trunc, "WHERE rank <= 3")}),
       |s_ivf AS (${ids(ivfTrainedSql)}),
       |s_ivff AS (${ids(ivfFixedSql)}),
       |s_lsh AS (${ids(lsh)}),
       |s_pq AS (${ids(graft.operators.LlmQueries.pqTopKSql,
                      "WHERE rank <= 3")}),
       |s_ivfpq AS (${ids(ivfPqSql, "WHERE rank <= 3")}),
       |s_rerank AS (${ids(pqRerankSql, "WHERE rank <= 3")}),
       |s_ham AS (${ids(graft.operators.LlmQueries.hammingTopKSql,
                       "WHERE rank <= 3")}),
       |s_hamr AS (${ids(graft.operators.LlmQueries.hammingRerankSql,
                        "WHERE rank <= 3")}),
       |m AS (
       |  $rows)
       |SELECT strategy,
       |  CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_truth,
       |  CAST(n_hit AS BIGINT) AS n_hit,
       |  round(CAST(n_hit AS DOUBLE) / (SELECT COUNT(*) FROM truth), 6)
       |    AS recall
       |FROM m""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    // —— C20: $setWindowFields ——
    QuerySpec("pipe_window_fields", (s, dir) => run(s, dir, "orders",
      s"""[{"$$setWindowFields": {
            "partitionBy": "$$o_custkey",
            "sortBy": {"o_orderkey": 1},
            "output": {
              "run_cents": {"$$sum": $centsExpr,
                            "window": {"documents": ["unbounded", "current"]}},
              "rnk": {"$$documentNumber": {}},
              "prev_cents": {"$$shift": {"output": $centsExpr, "by": -1, "default": 0}}}}},
          {"$$project": {"o_orderkey": 1, "o_custkey": 1, "run_cents": 1,
                         "rnk": 1, "prev_cents": 1}}]"""),
      s"""SELECT o_orderkey, o_custkey,
         |  CAST(SUM($duckCents) OVER w AS BIGINT) AS run_cents,
         |  CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS INTEGER) AS rnk,
         |  COALESCE(lag($duckCents) OVER (PARTITION BY o_custkey ORDER BY o_orderkey), 0) AS prev_cents
         |FROM orders
         |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin),
    // —— C21: $unionWith (with sub-pipeline) ——
    QuerySpec("pipe_unionwith", (s, dir) => run(s, dir, "customer",
      """[{"$project": {"id": "$c_custkey", "name": "$c_name",
                        "kind": {"$literal": "customer"}}},
          {"$unionWith": {"coll": "supplier", "pipeline":
            [{"$project": {"id": "$s_suppkey", "name": "$s_name",
                           "kind": {"$literal": "supplier"}}}]}}]"""),
      """SELECT c_custkey AS id, c_name AS name, 'customer' AS kind FROM customer
        |UNION ALL
        |SELECT s_suppkey, s_name, 'supplier' FROM supplier""".stripMargin),
    // —— C22: $sample (deterministic hash-order draw) ——
    QuerySpec("pipe_sample", (s, dir) => run(s, dir, "orders",
      """[{"$project": {"o_orderkey": 1, "o_totalprice": 1}},
          {"$sample": {"size": 25}}]"""),
      s"""SELECT o_orderkey, o_totalprice FROM orders
         |ORDER BY $duckRowHash LIMIT 25""".stripMargin),
    // —— C23: $bucketAuto ——
    QuerySpec("pipe_bucketauto", (s, dir) => run(s, dir, "orders",
      s"""[{"$$project": {"o_orderkey": 1, "o_totalprice": 1}},
           {"$$bucketAuto": {"groupBy": "$$o_totalprice", "buckets": 4,
             "output": {"n": {"$$sum": 1},
                        "total_cents": {"$$sum": $centsExpr}}}}]"""),
      s"""WITH tiled AS (
         |  SELECT o_totalprice,
         |    ntile(4) OVER (ORDER BY o_totalprice, $duckRowHash) AS tile
         |  FROM orders)
         |SELECT MIN(o_totalprice) AS _id_min, MAX(o_totalprice) AS _id_max,
         |  COUNT(*) AS n,
         |  CAST(SUM($duckCents) AS BIGINT) AS total_cents
         |FROM tiled GROUP BY tile ORDER BY _id_min""".stripMargin),
    // —— C24: $densify + $fill (hourly grid + locf) ——
    QuerySpec("pipe_densify_fill", (s, dir) => run(s, dir, "events",
      """[{"$set": {"hour": {"$dateTrunc": {"date": "$ts", "unit": "hour"}}}},
          {"$group": {"_id": {"u": "$user_id", "h": "$hour"},
                      "cents": {"$sum": {"$toLong": {"$round": [{"$multiply": ["$value", 100]}, 0]}}}}},
          {"$densify": {"field": "_id_h", "partitionByFields": ["_id_u"],
                        "range": {"step": 1, "unit": "hour", "bounds": "partition"}}},
          {"$fill": {"partitionBy": "$_id_u", "sortBy": {"_id_h": 1},
                     "output": {"cents": {"method": "locf"}}}}]"""),
      """WITH RECURSIVE agg AS (
        |  SELECT user_id AS u, date_trunc('hour', ts) AS h,
        |    CAST(SUM(CAST(round(value*100,0) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |bounds AS (SELECT u, MIN(h) AS lo, MAX(h) AS hi FROM agg GROUP BY u),
        |grid(u, h, hi) AS (
        |  SELECT u, lo, hi FROM bounds
        |  UNION ALL
        |  SELECT u, h + INTERVAL 1 HOUR, hi FROM grid WHERE h < hi)
        |SELECT g.u AS _id_u, g.h AS _id_h,
        |  last_value(a.cents IGNORE NULLS) OVER (
        |    PARTITION BY g.u ORDER BY g.h
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cents
        |FROM grid g LEFT JOIN agg a ON a.u = g.u AND a.h = g.h""".stripMargin),
    // —— C35: $geoNear (planar legacy-2d proximity search; places
    //    derived deterministically from customer — integer lattice
    //    coords over [-180,180)×[-90,90), so every arithmetic step is
    //    an IEEE correctly-rounded op both engines reproduce) ——
    QuerySpec("pipe_geonear", (s, dir) => {
      val cat = TableCatalog(s, dir)
      val places = cat.table("customer").select(
        col("c_custkey").as("ck"),
        array(
          pmod(col("c_custkey") * 7919, lit(36000)) / lit(100.0) - lit(180.0),
          pmod(col("c_custkey") * 104729, lit(18000)) / lit(100.0) - lit(90.0))
          .as("loc"),
        col("c_mktsegment").as("seg"))
      MongoPipeline(places,
        """[{"$geoNear": {"near": [12.5, -33.25], "distanceField": "dist",
             "key": "loc", "query": {"seg": {"$in": ["BUILDING", "AUTOMOBILE"]}},
             "maxDistance": 60.0, "distanceMultiplier": 111.325, "num": 40}},
            {"$project": {"ck": 1, "seg": 1, "dist": 1}}]""")
    },
      // raw (pre-multiplier) distance bounds the filter and drives the
      // order — exactly $geoNear's order of operations; ties break by
      // ck (the translator's all-columns tiebreak reduces to ck on a
      // frame keyed by it)
      """WITH places AS (
        |  SELECT c_custkey AS ck, c_mktsegment AS seg,
        |    (c_custkey*7919 % 36000) / 100.0 - 180.0 AS x,
        |    (c_custkey*104729 % 18000) / 100.0 - 90.0 AS y
        |  FROM customer),
        |d AS (
        |  SELECT ck, seg,
        |    sqrt((x - 12.5)*(x - 12.5) + (y - (-33.25))*(y - (-33.25))) AS raw
        |  FROM places WHERE seg IN ('BUILDING','AUTOMOBILE'))
        |SELECT ck, seg, raw * 111.325 AS dist
        |FROM d WHERE raw <= 60.0
        |ORDER BY raw, ck LIMIT 40""".stripMargin),
    // —— C39i: $search geoWithin (round 15) — constant-score box +
    //    circle filters over the planar legacy-pair model $geoNear
    //    uses (same deterministic lattice); box + text as musts,
    //    circle as a should booster; no $limit → the full match set ——
    QuerySpec("pipe_search_geo", (s, dir) => {
      val cat = TableCatalog(s, dir)
      val places = cat.table("customer").select(
        col("c_custkey").as("ck"),
        array(
          pmod(col("c_custkey") * 7919, lit(36000)) / lit(100.0) - lit(180.0),
          pmod(col("c_custkey") * 104729, lit(18000)) / lit(100.0) - lit(90.0))
          .as("loc"),
        col("c_mktsegment").as("seg"))
      MongoPipeline(places,
        """[{"$search": {"compound": {
             "must": [{"text": {"query": "building automobile", "path": "seg"}},
                      {"geoWithin": {"path": "loc", "box": {
                         "bottomLeft": [-60.0, -60.0],
                         "topRight": [60.0, 20.0]}}}],
             "should": [{"geoWithin": {"path": "loc", "circle": {
                         "center": [12.5, -33.25], "radius": 30.0}}}]}}},
            {"$project": {"ck": 1, "score": {"$meta": "searchScore"}}}]""")
    },
      // C39i: the geoWithin replay — the lattice, the 2-term seg BM25
      // chain (dl = 1 token per row), box as a raw-match filter (must
      // clauses contribute constant 1.0), circle as a should booster;
      // pure IEEE planar arithmetic both engines replay
      """WITH gplaces AS (
        |  SELECT c_custkey AS ck, c_mktsegment AS seg,
        |    (c_custkey*7919 % 36000) / 100.0 - 180.0 AS x,
        |    (c_custkey*104729 % 18000) / 100.0 - 90.0 AS y
        |  FROM customer),
        |gd AS (SELECT ck, x, y, CAST(1 AS DOUBLE) AS dl,
        |    CASE WHEN lower(seg) = 'building' THEN 1.0 ELSE 0.0 END AS tf0,
        |    CASE WHEN lower(seg) = 'automobile' THEN 1.0 ELSE 0.0 END AS tf1
        |  FROM gplaces),
        |gs AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        |  CAST(CAST(SUM(dl) AS BIGINT) AS DOUBLE) AS sumdl,
        |  CAST(SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df0,
        |  CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df1
        |  FROM gd),
        |gsc AS (SELECT gd.ck, gd.x, gd.y,
        |    round(ln(1.0 + (n - df0 + 0.5) / (df0 + 0.5)) * tf0 * 2.2
        |        / (tf0 + 1.2 * (0.25 + 0.75 * dl / (sumdl / n)))
        |      + ln(1.0 + (n - df1 + 0.5) / (df1 + 0.5)) * tf1 * 2.2
        |        / (tf1 + 1.2 * (0.25 + 0.75 * dl / (sumdl / n))), 6) AS ts
        |  FROM gd, gs)
        |SELECT ck,
        |  ts + 1.0
        |    + (CASE WHEN (x - 12.5)*(x - 12.5) + (y - (-33.25))*(y - (-33.25))
        |            <= 30.0*30.0 THEN 1.0 ELSE 0.0 END) AS score
        |FROM gsc
        |WHERE ts > 0
        |  AND x >= -60.0 AND x <= 60.0 AND y >= -60.0 AND y <= 20.0""".stripMargin),
    // —— C36: $vectorSearch (Atlas ANN as a pipeline stage —
    //    pre-filter, coarse-prefix shortlist of numCandidates, exact
    //    cosine re-rank, score via {$meta: "vectorSearchScore"}) ——
    QuerySpec("pipe_vectorsearch", (s, dir) => {
      val cat = TableCatalog(s, dir)
      MongoPipeline(cat.table("embeddings"),
        s"""[{"$$vectorSearch": {"path": "embedding",
              "queryVector": $vsQueryJson,
              "numCandidates": 60, "limit": 12,
              "filter": {"label": {"$$gte": 1}}}},
             {"$$project": {"vec_id": 1, "label": 1,
              "score": {"$$meta": "vectorSearchScore"}}}]""")
    },
      // two-stage replay of the stage's ANN path: coarse 16-dim prefix
      // score → top-60 shortlist → exact 64-dim re-rank → top-12; both
      // scores are (1 + round(cos, 4))/2 — exact IEEE normalization of
      // the proven-portable rounded cosine. vec_id is unique, so the
      // all-columns tiebreak reduces to vec_id on both sides.
      s"""WITH f AS (SELECT vec_id, embedding, label FROM embeddings
        |  WHERE label >= 1),
        |c AS (SELECT vec_id, embedding, label,
        |    (1 + round(list_cosine_similarity(
        |       CAST(embedding[1:16] AS DOUBLE[]), ${vsQuerySqlList(16)}), 4)) / 2
        |      AS coarse
        |  FROM f),
        |s AS (SELECT * FROM c ORDER BY coarse DESC, vec_id LIMIT 60),
        |e AS (SELECT vec_id, label,
        |    (1 + round(list_cosine_similarity(
        |       CAST(embedding AS DOUBLE[]), ${vsQuerySqlList(64)}), 4)) / 2
        |      AS score
        |  FROM s)
        |SELECT vec_id, label, score FROM e
        |ORDER BY score DESC, vec_id LIMIT 12""".stripMargin),
    // —— C37: $rankFusion (Mongo 8.1 hybrid-search RRF as a pipeline
    //    stage — two selection-only ranked legs, integer-ppb fused
    //    score via {$meta: "score"}) ——
    QuerySpec("pipe_rankfusion", (s, dir) => run(s, dir, "orders",
      """[{"$rankFusion": {"input": {"pipelines": {
            "price": [{"$match": {"o_orderstatus": "F"}},
                      {"$sort": {"o_totalprice": -1, "o_orderkey": 1}},
                      {"$limit": 25}],
            "recent": [{"$sort": {"o_orderdate": -1, "o_orderkey": 1}},
                       {"$limit": 25}]}},
          "combination": {"weights": {"price": 2}}}},
         {"$project": {"o_orderkey": 1, "score": {"$meta": "score"}}}]"""),
      // C37: per-leg row_number over the leg's key-complete sort (the
      // o_orderkey component makes each leg's rank and limit boundary a
      // total order, so the engine's all-columns tiebreak is inert),
      // int64-ppb RRF contributions, fused by sum per document
      """WITH lp AS (SELECT o_orderkey,
        |    row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders WHERE o_orderstatus = 'F'),
        |lr AS (SELECT o_orderkey,
        |    row_number() OVER (ORDER BY o_orderdate DESC, o_orderkey) AS rk
        |  FROM orders),
        |u AS (SELECT o_orderkey,
        |        CAST((2 * 1000000000) // (60 + rk) AS BIGINT) AS c
        |      FROM lp WHERE rk <= 25
        |      UNION ALL
        |      SELECT o_orderkey,
        |        CAST(1000000000 // (60 + rk) AS BIGINT) AS c
        |      FROM lr WHERE rk <= 25)
        |SELECT o_orderkey, CAST(SUM(c) AS BIGINT) AS score
        |FROM u GROUP BY 1""".stripMargin),
    // —— C39: $search (Atlas full-text search — BM25 text operator on
    //    the shared H17 scoring core, score via {$meta: "searchScore"}) ——
    QuerySpec("pipe_search", (s, dir) => run(s, dir, "documents",
      """[{"$search": {"text": {"query": "spark query stream",
            "path": "text"}}},
          {"$limit": 20},
          {"$project": {"doc_id": 1, "score": {"$meta": "searchScore"}}}]"""),
      // C39: the factored H17 BM25 replay verbatim (stage and
      // standalone ranking share one oracle chain), id aliased to the
      // projected name
      s"""SELECT id AS doc_id, score FROM (
         |${graft.operators.LlmQueries.bm25Sql(Seq("spark", "query", "stream"), 20)}
         |) __s""".stripMargin),
    // —— C40: $searchMeta (Atlas search metadata — count + facets
    //    over the SAME match set as $search, one shared compiler) ——
    QuerySpec("pipe_searchmeta", (s, dir) => run(s, dir, "documents",
      """[{"$searchMeta": {"facet": {
            "operator": {"text": {"query": "spark query", "path": "text"}},
            "facets": {
              "langs": {"type": "string", "path": "lang", "numBuckets": 10},
              "sizes": {"type": "number", "path": "n_chars",
                        "boundaries": [0, 150, 300, 450, 1000000]}}}}}]"""),
      // C40: the match set is the factored BM25 replay (score > 0 —
      // the $search contract), faceted relationally: string buckets by
      // count DESC then value, number buckets labeled by their [lo, hi)
      // lower boundary rendered as the engine's double→string cast
      s"""WITH ${graft.operators.LlmQueries.bm25ScoreCtes(
             Seq("spark", "query"), "sm")},
         |mdoc AS (SELECT d.* FROM documents d
         |       JOIN smsc ON smsc.id = d.doc_id WHERE smsc.score > 0),
         |fl AS (SELECT 'langs' AS facet, CAST(lang AS VARCHAR) AS bucket,
         |         CAST(COUNT(*) AS BIGINT) AS count
         |       FROM mdoc GROUP BY 2 ORDER BY count DESC, bucket LIMIT 10),
         |fn AS (SELECT 'sizes' AS facet, CAST(b AS VARCHAR) AS bucket,
         |         CAST(COUNT(*) AS BIGINT) AS count
         |       FROM (SELECT CASE
         |           WHEN n_chars >= 0 AND n_chars < 150 THEN 0.0
         |           WHEN n_chars >= 150 AND n_chars < 300 THEN 150.0
         |           WHEN n_chars >= 300 AND n_chars < 450 THEN 300.0
         |           WHEN n_chars >= 450 AND n_chars < 1000000 THEN 450.0
         |           END AS b FROM mdoc)
         |       WHERE b IS NOT NULL GROUP BY 2)
         |SELECT facet, bucket, count FROM fl
         |UNION ALL
         |SELECT facet, bucket, count FROM fn""".stripMargin),
    // —— C40b: $searchMeta DATE facets (round 15) — boundaries are ISO
    //    instants, [lo, hi) buckets labeled by the lower bound as
    //    given, out-of-range rows ignored (events span Jan 1–30;
    //    the boundaries cover Jan 5–26, so both tails drop) ——
    QuerySpec("pipe_searchmeta_date", (s, dir) => run(s, dir, "events",
      """[{"$searchMeta": {"facet": {
            "operator": {"text": {"query": "purchase view",
                                  "path": "event_type"}},
            "facets": {
              "kinds": {"type": "string", "path": "event_type",
                        "numBuckets": 5},
              "when": {"type": "date", "path": "ts",
                       "boundaries": ["2024-01-05T00:00:00Z",
                                      "2024-01-12T00:00:00Z",
                                      "2024-01-19T00:00:00Z",
                                      "2024-01-26T00:00:00Z"]}}}}}]"""),
      // C40b: the date-facet replay. The match set reduces exactly to an
      // IN filter: event_type tokenizes to ONE token, so BM25 score > 0
      // ⟺ the type is one of the query terms — the oracle states the
      // match set directly instead of replaying the score arithmetic.
      // TZ contract: these naive TIMESTAMP literals equal the engine's
      // instant boundaries' UTC walls; parity is pinned by the sessions'
      // spark.sql.session.timeZone=UTC (see the date-facet compile).
      """WITH mdoc AS (SELECT * FROM events
        |        WHERE event_type IN ('purchase', 'view')),
        |fk AS (SELECT 'kinds' AS facet, CAST(event_type AS VARCHAR) AS bucket,
        |         CAST(COUNT(*) AS BIGINT) AS count
        |       FROM mdoc GROUP BY 2 ORDER BY count DESC, bucket LIMIT 5),
        |fd AS (SELECT 'when' AS facet, b AS bucket,
        |         CAST(COUNT(*) AS BIGINT) AS count
        |       FROM (SELECT CASE
        |           WHEN ts >= TIMESTAMP '2024-01-05 00:00:00'
        |            AND ts < TIMESTAMP '2024-01-12 00:00:00'
        |             THEN '2024-01-05T00:00:00Z'
        |           WHEN ts >= TIMESTAMP '2024-01-12 00:00:00'
        |            AND ts < TIMESTAMP '2024-01-19 00:00:00'
        |             THEN '2024-01-12T00:00:00Z'
        |           WHEN ts >= TIMESTAMP '2024-01-19 00:00:00'
        |            AND ts < TIMESTAMP '2024-01-26 00:00:00'
        |             THEN '2024-01-19T00:00:00Z'
        |           END AS b FROM mdoc)
        |       WHERE b IS NOT NULL GROUP BY 2)
        |SELECT facet, bucket, count FROM fk
        |UNION ALL
        |SELECT facet, bucket, count FROM fd""".stripMargin),
    // —— C39c: $search phrase operator — exact-adjacency matching,
    //    the phrase as ONE virtual BM25 term ——
    QuerySpec("pipe_search_phrase", (s, dir) => run(s, dir, "documents",
      """[{"$search": {"phrase": {"query": "table hash", "path": "text"}}},
          {"$limit": 20},
          {"$project": {"doc_id": 1, "score": {"$meta": "searchScore"}}}]"""),
      // C39c: the factored phrase replay, id aliased to the projection
      s"""SELECT id AS doc_id, score FROM (
         |${graft.operators.LlmQueries.phraseSql(Seq("table", "hash"), 20)}
         |) __p""".stripMargin),
    // —— C39d: $search autocomplete (token-prefix virtual term) +
    //    constant-scored attribute clauses (range) in compound ——
    QuerySpec("pipe_search_autocomplete", (s, dir) => run(s, dir, "documents",
      """[{"$search": {"autocomplete": {"query": "quer", "path": "text"}}},
          {"$limit": 20},
          {"$project": {"doc_id": 1, "score": {"$meta": "searchScore"}}}]"""),
      // C39d: the factored autocomplete replay; the range compound =
      // text BM25 + constant 1.0 attribute score, both must-matched
      s"""SELECT id AS doc_id, score FROM (
         |${graft.operators.LlmQueries.autocompleteSql("quer", 20)}
         |) __a""".stripMargin),
    QuerySpec("pipe_search_near", (s, dir) => run(s, dir, "documents",
      """[{"$search": {"compound": {
            "must": [{"text": {"query": "spark", "path": "text"}}],
            "should": [{"near": {"path": "n_chars", "origin": 300,
                                 "pivot": 50}}]}}},
          {"$limit": 15},
          {"$project": {"doc_id": 1, "score": {"$meta": "searchScore"}}}]"""),
      // near inside compound: text BM25 + the pivot decay, summed in
      // declaration order (both components exact IEEE). The decay term is
      // COALESCE'd to 0.0 to mirror the engine's NearC null handling (a
      // NULL origin field contributes no near score; the row survives on
      // its BM25 score alone).
      s"""WITH ${graft.operators.LlmQueries.bm25ScoreCtes(Seq("spark"), "nr")},
         |m AS (SELECT d.doc_id,
         |    nrsc.score
         |      + COALESCE(50.0 / (50.0 + abs(CAST(d.n_chars AS DOUBLE) - 300.0)), 0.0)
         |      AS score
         |  FROM documents d JOIN nrsc ON nrsc.id = d.doc_id
         |  WHERE nrsc.score > 0)
         |SELECT doc_id, score FROM m
         |ORDER BY score DESC, doc_id LIMIT 15""".stripMargin),
    QuerySpec("pipe_search_wildcard", (s, dir) => run(s, dir, "documents",
      """[{"$search": {"wildcard": {"query": "qu*y", "path": "text"}}},
          {"$limit": 20},
          {"$project": {"doc_id": 1, "score": {"$meta": "searchScore"}}}]"""),
      s"""SELECT id AS doc_id, score FROM (
         |${graft.operators.LlmQueries.wildcardSql("qu%y", 20)}
         |) __w""".stripMargin),
    // —— C39f: $search regex operator (round 15) — whole-term match
    //    over the RE2-shared syntax subset, as one virtual BM25 term ——
    QuerySpec("pipe_search_regex", (s, dir) => run(s, dir, "documents",
      """[{"$search": {"regex": {"query": "qu[ae]ry|s(?:can|ort)",
                                 "path": "text"}}},
          {"$limit": 20},
          {"$project": {"doc_id": 1, "score": {"$meta": "searchScore"}}}]"""),
      // C39f: the whole-term regex replay (regexp_full_match over the
      // same pattern the engine anchors with ^(?:…)$)
      s"""SELECT id AS doc_id, score FROM (
         |${graft.operators.LlmQueries.regexSql("qu[ae]ry|s(?:can|ort)", 20)}
         |) __r""".stripMargin),
    // —— C39l: $search highlight option (round 15) — the relational
    //    rendering: per matched doc, the hit terms as term:count in
    //    alphabetical order, pipe-joined (one string column) ——
    QuerySpec("pipe_search_highlight", (s, dir) => run(s, dir, "documents",
      """[{"$search": {"text": {"query": "spark query stream", "path": "text"},
                       "highlight": {"path": "text"}}},
          {"$limit": 20},
          {"$project": {"doc_id": 1, "score": {"$meta": "searchScore"},
                        "hl": {"$meta": "searchHighlights"}}}]"""),
      // C39l: the highlight replay — per-term tfs from the shared score
      // chain's d-CTE, hit terms rendered term:count alphabetically
      // (query < spark < stream; tf1/tf0/tf2 in the chain's term order)
      s"""WITH ${graft.operators.LlmQueries.bm25ScoreCtes(
             Seq("spark", "query", "stream"), "hx")},
         |top AS (SELECT id, score FROM hxsc WHERE score > 0
         |        ORDER BY score DESC, id LIMIT 20)
         |SELECT t.id AS doc_id, t.score,
         |  array_to_string(list_filter([
         |    CASE WHEN d.tf1 > 0 THEN 'query:' ||
         |      CAST(CAST(d.tf1 AS BIGINT) AS VARCHAR) END,
         |    CASE WHEN d.tf0 > 0 THEN 'spark:' ||
         |      CAST(CAST(d.tf0 AS BIGINT) AS VARCHAR) END,
         |    CASE WHEN d.tf2 > 0 THEN 'stream:' ||
         |      CAST(CAST(d.tf2 AS BIGINT) AS VARCHAR) END],
         |    x -> x IS NOT NULL), '|') AS hl
         |FROM top t JOIN hxd d ON d.doc_id = t.id""".stripMargin),
    // —— C39k: $search embeddedDocument (round 15) — block-join over a
    //    nested array-of-documents path (orders ⊃ line items), sum
    //    aggregate = matching-child count; composed with an equals
    //    must; no $limit → the full match set ——
    QuerySpec("pipe_search_embedded", (s, dir) => {
      val cat = TableCatalog(s, dir)
      val items = cat.table("lineitem").groupBy(col("l_orderkey").as("ok"))
        .agg(collect_list(struct(col("l_quantity").as("qty"),
          col("l_discount").as("disc"))).as("items"))
      val nested = cat.table("orders")
        .select(col("o_orderkey").as("ok"), col("o_orderstatus").as("status"))
        .join(items, "ok")
      MongoPipeline(nested,
        """[{"$search": {"compound": {
             "must": [{"embeddedDocument": {"path": "items",
                       "operator": {"range": {"path": "qty",
                                              "gte": 30, "lte": 50}},
                       "score": {"embedded": {"aggregate": "sum"}}}},
                      {"equals": {"path": "status", "value": "O"}}]}}},
            {"$project": {"ok": 1, "score": {"$meta": "searchScore"}}}]""")
    },
      // C39k: the block-join replay — matching-child count per parent
      // (sum aggregate of constant-score children) + the equals must's
      // constant 1.0, declaration-order sum; parents with no matching
      // child filtered by the raw-match rule
      """WITH em AS (SELECT l_orderkey AS ok,
        |    CAST(SUM(CASE WHEN l_quantity >= 30 AND l_quantity <= 50
        |             THEN 1 ELSE 0 END) AS DOUBLE) AS nm
        |  FROM lineitem GROUP BY 1)
        |SELECT o.o_orderkey AS ok, em.nm + 1.0 AS score
        |FROM orders o JOIN em ON em.ok = o.o_orderkey
        |WHERE em.nm > 0 AND o.o_orderstatus = 'O'""".stripMargin),
    // —— C39j: $search sort option (round 15) — field order replaces
    //    best-score-first; the match set is unchanged, what $limit
    //    keeps moves ——
    QuerySpec("pipe_search_sort", (s, dir) => run(s, dir, "documents",
      """[{"$search": {"text": {"query": "spark query", "path": "text"},
                       "sort": {"n_chars": -1}}},
          {"$limit": 15},
          {"$project": {"doc_id": 1, "n_chars": 1,
                        "score": {"$meta": "searchScore"}}}]"""),
      // C39j: the sort-option replay — same match set, field order with
      // the doc_id tiebreak deciding the $limit boundary
      s"""WITH ${graft.operators.LlmQueries.bm25ScoreCtes(Seq("spark", "query"), "so")}
         |SELECT d.doc_id, d.n_chars, sosc.score
         |FROM documents d JOIN sosc ON sosc.id = d.doc_id
         |WHERE sosc.score > 0
         |ORDER BY d.n_chars DESC, d.doc_id LIMIT 15""".stripMargin),
    // —— C39h: $search moreLikeThis (round 15) — deterministic salient
    //    -term selection (like-tf DESC, corpus-df ASC, term ASC; df=0
    //    dropped) fed into the shared multi-term BM25 text clause ——
    QuerySpec("pipe_search_mlt", (s, dir) => run(s, dir, "documents",
      """[{"$search": {"moreLikeThis": {
            "like": {"text": "spark query stream join hash table"},
            "maxQueryTerms": 4}}},
          {"$limit": 20},
          {"$project": {"doc_id": 1, "score": {"$meta": "searchScore"}}}]"""),
      // C39h: the moreLikeThis replay — the SELECTION derives from data
      // (per-term corpus df), so the oracle re-runs it in SQL: like-doc
      // term tfs, df per candidate, rank (tfq DESC, df ASC, term ASC)
      // LIMIT 4, then the BM25 chain over the selected terms pivoted in
      // ALPHABETICAL rank order so the float-sum order matches the
      // engine's term-sorted reduce exactly
      """WITH mlc AS (SELECT unnest(string_split_regex(trim(lower(
        |         'spark query stream join hash table')), ' +')) AS term),
        |mlq AS (SELECT term, COUNT(*) AS tfq FROM mlc GROUP BY 1),
        |mt AS (SELECT doc_id,
        |         string_split_regex(trim(lower(text)), ' +') AS toks
        |       FROM documents),
        |mdl AS (SELECT doc_id, toks, CAST(len(toks) AS DOUBLE) AS dl FROM mt),
        |mdf0 AS (SELECT q.term, q.tfq,
        |         CAST(SUM(CASE WHEN list_contains(d.toks, q.term)
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS df
        |         FROM mlq q CROSS JOIN mdl d GROUP BY q.term, q.tfq),
        |msel AS (SELECT term FROM mdf0 WHERE df >= 1
        |         ORDER BY tfq DESC, df ASC, term ASC LIMIT 4),
        |mrk AS (SELECT term, row_number() OVER (ORDER BY term ASC) AS rk
        |        FROM msel),
        |mtf AS (SELECT d.doc_id, d.dl, r.rk,
        |        CAST(len(list_filter(d.toks, x -> x = r.term)) AS DOUBLE) AS tf
        |        FROM mdl d CROSS JOIN mrk r),
        |mst AS (SELECT rk,
        |        CAST(SUM(CASE WHEN tf > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df
        |        FROM mtf GROUP BY rk),
        |mn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
        |       CAST(CAST(SUM(dl) AS BIGINT) AS DOUBLE) AS sumdl FROM mdl),
        |mcmp AS (SELECT t.doc_id, t.rk,
        |         ln(1.0 + (n - s.df + 0.5) / (s.df + 0.5)) * t.tf * 2.2
        |           / (t.tf + 1.2 * (0.25 + 0.75 * t.dl / (sumdl / n))) AS c
        |         FROM mtf t JOIN mst s USING (rk), mn),
        |mpv AS (SELECT doc_id,
        |        round(COALESCE(MAX(CASE WHEN rk = 1 THEN c END), 0)
        |            + COALESCE(MAX(CASE WHEN rk = 2 THEN c END), 0)
        |            + COALESCE(MAX(CASE WHEN rk = 3 THEN c END), 0)
        |            + COALESCE(MAX(CASE WHEN rk = 4 THEN c END), 0), 6) AS score
        |        FROM mcmp GROUP BY doc_id)
        |SELECT doc_id, score FROM mpv WHERE score > 0
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin),
    // —— C39g: $search queryString (round 15) — simple-query-string
    //    sugar compiling to the compound algebra: +must, -mustNot,
    //    bare should, quoted phrase ——
    QuerySpec("pipe_search_qs", (s, dir) => run(s, dir, "documents",
      """[{"$search": {"queryString": {"defaultPath": "text",
            "query": "+spark query stream -\"table hash\""}}},
          {"$limit": 20},
          {"$project": {"doc_id": 1, "score": {"$meta": "searchScore"}}}]"""),
      // C39g: the compiled compound replay — must(spark) scored +
      // should(query) + should(stream), phrase "table hash" excluded;
      // per-clause chains summed in declaration order (must first)
      s"""WITH ${graft.operators.LlmQueries.bm25ScoreCtes(Seq("spark"), "qa")},
         |${graft.operators.LlmQueries.bm25ScoreCtes(Seq("query"), "qb")},
         |${graft.operators.LlmQueries.bm25ScoreCtes(Seq("stream"), "qc")},
         |${graft.operators.LlmQueries.phraseScoreCtes(Seq("table", "hash"), "qd")}
         |SELECT qasc.id AS doc_id,
         |  qasc.score + qbsc.score + qcsc.score AS score
         |FROM qasc JOIN qbsc ON qbsc.id = qasc.id
         |          JOIN qcsc ON qcsc.id = qasc.id
         |          JOIN qdsc ON qdsc.id = qasc.id
         |WHERE qasc.score > 0 AND qdsc.score = 0
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin),
    QuerySpec("pipe_search_range", (s, dir) => run(s, dir, "documents",
      """[{"$search": {"compound": {
            "must": [{"text": {"query": "spark", "path": "text"}},
                     {"range": {"path": "n_chars", "gte": 200, "lte": 400}}]}}},
          {"$limit": 25},
          {"$project": {"doc_id": 1, "score": {"$meta": "searchScore"}}}]"""),
      s"""WITH ${graft.operators.LlmQueries.bm25ScoreCtes(Seq("spark"), "rg")},
         |m AS (SELECT d.doc_id,
         |    rgsc.score + 1.0 AS score
         |  FROM documents d JOIN rgsc ON rgsc.id = d.doc_id
         |  WHERE rgsc.score > 0 AND d.n_chars >= 200 AND d.n_chars <= 400)
         |SELECT doc_id, score FROM m
         |ORDER BY score DESC, doc_id LIMIT 25""".stripMargin),
    // —— C38: $scoreFusion (Mongo 8.2 score-based hybrid fusion —
    //    a $vectorSearch leg + a $score leg, minMaxScaler normalized,
    //    weighted-mean combined, score via {$meta: "score"}) ——
    QuerySpec("pipe_scorefusion", (s, dir) => {
      val cat = TableCatalog(s, dir)
      MongoPipeline(cat.table("embeddings"),
        s"""[{"$$scoreFusion": {"input": {"normalization": "minMaxScaler",
              "pipelines": {
                "near": [{"$$vectorSearch": {"path": "embedding",
                   "queryVector": $vsQueryJson, "limit": 15, "exact": true}}],
                "ids": [{"$$match": {"label": {"$$gte": 1}}},
                        {"$$score": {"score": {"$$toDouble": "$$vec_id"}}}]}},
              "combination": {"weights": {"near": 2, "ids": 1}}}},
             {"$$project": {"vec_id": 1, "score": {"$$meta": "score"}}}]""")
    },
      // C38: exact-mode vectorSearch leg (the proven-portable rounded
      // cosine) + field-score leg, each minMax-normalized AFTER its own
      // limit, fused by the stage's literal weighted mean
      s"""WITH l1 AS (
        |  SELECT vec_id, (1 + round(list_cosine_similarity(
        |      CAST(embedding AS DOUBLE[]), ${vsQuerySqlList(64)}), 4)) / 2.0 AS s
        |  FROM embeddings
        |  ORDER BY s DESC, vec_id LIMIT 15),
        |m1 AS (SELECT min(s) AS mn, max(s) AS mx FROM l1),
        |n1 AS (SELECT vec_id,
        |    CASE WHEN mx = mn THEN 0.0 ELSE (s - mn) / (mx - mn) END AS n
        |  FROM l1, m1),
        |l2 AS (SELECT vec_id, CAST(vec_id AS DOUBLE) AS s
        |       FROM embeddings WHERE label >= 1),
        |m2 AS (SELECT min(s) AS mn, max(s) AS mx FROM l2),
        |n2 AS (SELECT vec_id,
        |    CASE WHEN mx = mn THEN 0.0 ELSE (s - mn) / (mx - mn) END AS n
        |  FROM l2, m2)
        |SELECT COALESCE(n1.vec_id, n2.vec_id) AS vec_id,
        |  (2.0 * COALESCE(n1.n, 0.0) + 1.0 * COALESCE(n2.n, 0.0)) / 3.0 AS score
        |FROM n1 FULL OUTER JOIN n2 ON n1.vec_id = n2.vec_id""".stripMargin),
    // —— C37b: $rankFusion with a $vectorSearch leg — the true Atlas
    //    hybrid (dense ANN rank ⊕ attribute rank, integer RRF) ——
    QuerySpec("pipe_rankfusion_vs", (s, dir) => {
      val cat = TableCatalog(s, dir)
      MongoPipeline(cat.table("embeddings"),
        s"""[{"$$rankFusion": {"input": {"pipelines": {
              "near": [{"$$vectorSearch": {"path": "embedding",
                 "queryVector": $vsQueryJson, "limit": 15, "exact": true}}],
              "label": [{"$$sort": {"label": -1, "vec_id": 1}},
                        {"$$limit": 15}]}},
            "combination": {"weights": {"near": 2}}}},
           {"$$project": {"vec_id": 1, "score": {"$$meta": "score"}}}]""")
    },
      // C37b: the exact-mode vectorSearch leg re-ranked (same proven
      // rounded-cosine score order), the attribute leg's key-complete
      // sort, int64-ppb RRF fused per document
      s"""WITH l1 AS (
        |  SELECT vec_id, (1 + round(list_cosine_similarity(
        |      CAST(embedding AS DOUBLE[]), ${vsQuerySqlList(64)}), 4)) / 2.0 AS s
        |  FROM embeddings
        |  ORDER BY s DESC, vec_id LIMIT 15),
        |r1 AS (SELECT vec_id,
        |    row_number() OVER (ORDER BY s DESC, vec_id) AS rk FROM l1),
        |r2 AS (SELECT vec_id,
        |    row_number() OVER (ORDER BY label DESC, vec_id) AS rk
        |  FROM embeddings),
        |u AS (SELECT vec_id,
        |        CAST((2 * 1000000000) // (60 + rk) AS BIGINT) AS c FROM r1
        |      UNION ALL
        |      SELECT vec_id, CAST(1000000000 // (60 + rk) AS BIGINT)
        |      FROM r2 WHERE rk <= 15)
        |SELECT vec_id, CAST(SUM(c) AS BIGINT) AS score
        |FROM u GROUP BY 1""".stripMargin),
    // —— C39b: $search compound — Lucene boolean clauses over the
    //    shared BM25 core (must scores+filters, should scores,
    //    mustNot excludes) ——
    QuerySpec("pipe_search_compound", (s, dir) => run(s, dir, "documents",
      """[{"$search": {"compound": {
            "must": [{"text": {"query": "spark query", "path": "text"}}],
            "should": [{"text": {"query": "stream", "path": "text"}}],
            "mustNot": [{"text": {"query": "the", "path": "text"}}]}}},
          {"$limit": 20},
          {"$project": {"doc_id": 1, "score": {"$meta": "searchScore"}}}]"""),
      // C39b: three prefix-parameterized per-clause BM25 score chains,
      // boolean-combined (must > 0, mustNot = 0, must+should summed in
      // declaration order)
      s"""WITH ${graft.operators.LlmQueries.bm25ScoreCtes(Seq("spark", "query"), "ca")},
         |${graft.operators.LlmQueries.bm25ScoreCtes(Seq("stream"), "cb")},
         |${graft.operators.LlmQueries.bm25ScoreCtes(Seq("the"), "cc")}
         |SELECT casc.id AS doc_id, casc.score + cbsc.score AS score
         |FROM casc JOIN cbsc ON casc.id = cbsc.id
         |          JOIN ccsc ON casc.id = ccsc.id
         |WHERE casc.score > 0 AND ccsc.score = 0
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin),
    // —— C39e: $search score modifiers — per-clause boost (multiply)
    //    and constant (replace-on-match), Atlas' compound weighting ——
    QuerySpec("pipe_search_boost", (s, dir) => run(s, dir, "documents",
      """[{"$search": {"compound": {
            "must": [{"text": {"query": "spark query", "path": "text",
                      "score": {"boost": {"value": 2.5}}}}],
            "should": [{"phrase": {"query": "table hash", "path": "text",
                        "score": {"constant": {"value": 1.5}}}}]}}},
          {"$limit": 20},
          {"$project": {"doc_id": 1, "score": {"$meta": "searchScore"}}}]"""),
      // C39e: per-clause modified scores — boost multiplies the round-6
      // BM25 then re-rounds (the engine's applyMod op for op); constant
      // replaces a matching phrase score with the literal; must-match on
      // the MODIFIED score (boost preserves positivity, so equivalent to
      // the raw test — mirrored anyway for exactness)
      s"""WITH ${graft.operators.LlmQueries.bm25ScoreCtes(Seq("spark", "query"), "bo")},
         |${graft.operators.LlmQueries.phraseScoreCtes(Seq("table", "hash"), "bp")},
         |m AS (SELECT bosc.id AS doc_id,
         |    round(bosc.score * 2.5, 6)
         |      + (CASE WHEN bpsc.score > 0 THEN 1.5 ELSE 0.0 END) AS score,
         |    round(bosc.score * 2.5, 6) AS msc
         |  FROM bosc JOIN bpsc ON bosc.id = bpsc.id)
         |SELECT doc_id, score FROM m WHERE msc > 0
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin),
    // —— C39e (function form): score: {function: {path}} — a matching
    //    clause re-scores to a FIELD value (rank-by-popularity);
    //    matching stays decided by the raw BM25 ——
    QuerySpec("pipe_search_fnscore", (s, dir) => run(s, dir, "documents",
      """[{"$search": {"compound": {
            "must": [{"text": {"query": "spark", "path": "text",
                      "score": {"function": {"path": {"value": "n_chars"}}}}}],
            "should": [{"text": {"query": "query", "path": "text"}}]}}},
          {"$limit": 20},
          {"$project": {"doc_id": 1, "score": {"$meta": "searchScore"}}}]"""),
      // C39e (function form): match on the raw must score, re-score the
      // must clause to COALESCE(n_chars, 0.0), sum with the unmodified
      // should component in declaration order
      s"""WITH ${graft.operators.LlmQueries.bm25ScoreCtes(Seq("spark"), "fa")},
         |${graft.operators.LlmQueries.bm25ScoreCtes(Seq("query"), "fb")},
         |m AS (SELECT fasc.id AS doc_id,
         |    (CASE WHEN fasc.score > 0
         |          THEN COALESCE(CAST(d.n_chars AS DOUBLE), 0.0)
         |          ELSE 0.0 END) + fbsc.score AS score,
         |    fasc.score AS raw
         |  FROM fasc JOIN fbsc ON fbsc.id = fasc.id
         |            JOIN documents d ON d.doc_id = fasc.id)
         |SELECT doc_id, score FROM m WHERE raw > 0
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin),
    // —— C39m: $search text.fuzzy (round 16) — bounded-edit virtual
    //    terms: 'quary'→query, 'streem'→stream at maxEdits 1, with the
    //    2-char exact-prefix guard exercised on both engines ——
    QuerySpec("pipe_search_fuzzy", (s, dir) => run(s, dir, "documents",
      """[{"$search": {"text": {"query": "quary streem", "path": "text",
            "fuzzy": {"maxEdits": 1, "prefixLength": 2}}}},
          {"$limit": 20},
          {"$project": {"doc_id": 1, "score": {"$meta": "searchScore"}}}]"""),
      // C39m: the fuzzy replay — per-term bounded-edit tf (DuckDB
      // levenshtein ≡ Spark levenshtein, both plain) with the 2-char
      // exact-prefix guard, through the shared score chain
      s"""WITH ${graft.operators.LlmQueries.scoreCtesCustom(
             Seq(graft.operators.LlmQueries.fuzzyTfSql("quary", 1, 2),
               graft.operators.LlmQueries.fuzzyTfSql("streem", 1, 2)), "fz")}
         |SELECT id AS doc_id, score FROM fzsc WHERE score > 0
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin),
    // —— C39n: $search phrase.slop (round 16) — proximity phrases:
    //    'hash join' within one intervening position (catches
    //    'hash scan join' that exact adjacency misses) ——
    QuerySpec("pipe_search_slop", (s, dir) => run(s, dir, "documents",
      """[{"$search": {"phrase": {"query": "hash join", "path": "text",
                                  "slop": 1}}},
          {"$limit": 20},
          {"$project": {"doc_id": 1, "score": {"$meta": "searchScore"}}}]"""),
      // C39n: the slop replay — DISTINCT in-order starts within the
      // (m−1)+slop window via the position join (greedy ⟺ exists —
      // see slopScoreCtes), same BM25 tail
      s"""WITH ${graft.operators.LlmQueries.slopScoreCtes(
             Seq("hash", "join"), 1, "sl")}
         |SELECT id AS doc_id, score FROM slsc WHERE score > 0
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin),
    // —— C39o: $search compound.minimumShouldMatch (round 16) — at
    //    least 2 of the 3 should clauses must match (raw score > 0);
    //    all matching should scores still contribute ——
    QuerySpec("pipe_search_msm", (s, dir) => run(s, dir, "documents",
      """[{"$search": {"compound": {
            "must": [{"text": {"query": "spark", "path": "text"}}],
            "should": [{"text": {"query": "query", "path": "text"}},
                       {"text": {"query": "stream", "path": "text"}},
                       {"text": {"query": "table", "path": "text"}}],
            "minimumShouldMatch": 2}}},
          {"$limit": 20},
          {"$project": {"doc_id": 1, "score": {"$meta": "searchScore"}}}]"""),
      // C39o: the minimumShouldMatch replay — must matches, AND at least
      // 2 of the 3 should chains score > 0; all matching shoulds still
      // contribute, summed in declaration order
      s"""WITH ${graft.operators.LlmQueries.bm25ScoreCtes(Seq("spark"), "ma")},
         |${graft.operators.LlmQueries.bm25ScoreCtes(Seq("query"), "mb")},
         |${graft.operators.LlmQueries.bm25ScoreCtes(Seq("stream"), "mc")},
         |${graft.operators.LlmQueries.bm25ScoreCtes(Seq("table"), "md")}
         |SELECT masc.id AS doc_id,
         |  masc.score + mbsc.score + mcsc.score + mdsc.score AS score
         |FROM masc JOIN mbsc ON mbsc.id = masc.id
         |          JOIN mcsc ON mcsc.id = masc.id
         |          JOIN mdsc ON mdsc.id = masc.id
         |WHERE masc.score > 0
         |  AND (CASE WHEN mbsc.score > 0 THEN 1 ELSE 0 END
         |     + CASE WHEN mcsc.score > 0 THEN 1 ELSE 0 END
         |     + CASE WHEN mdsc.score > 0 THEN 1 ELSE 0 END) >= 2
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin),
    // —— C40c: $$SEARCH_META (round 16) — the $search count option's
    //    exact total read by a later $project on every emitted row ——
    QuerySpec("pipe_search_meta_var", (s, dir) => run(s, dir, "documents",
      """[{"$search": {"text": {"query": "spark query", "path": "text"},
                       "count": {"type": "total"}}},
          {"$limit": 10},
          {"$project": {"doc_id": 1, "score": {"$meta": "searchScore"},
                        "total": "$$SEARCH_META.count.total"}}]"""),
      // C40c: the $$SEARCH_META replay — the count option's total is the
      // EXACT match-set size (score > 0 over the full chain), attached to
      // every emitted row; the $limit bounds rows, never the total
      s"""WITH ${graft.operators.LlmQueries.bm25ScoreCtes(
             Seq("spark", "query"), "mv")},
         |top AS (SELECT id, score FROM mvsc WHERE score > 0
         |        ORDER BY score DESC, id LIMIT 10),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total
         |        FROM mvsc WHERE score > 0)
         |SELECT t.id AS doc_id, t.score, tot.total FROM top t, tot""".stripMargin),
    // —— C39q: $search text.matchCriteria "all" (round 16) — the
    //    conjunction form: every term must occur; score stays the
    //    per-term BM25 sum, matching rides the least-tf indicator ——
    QuerySpec("pipe_search_matchall", (s, dir) => run(s, dir, "documents",
      """[{"$search": {"text": {"query": "spark query stream",
            "path": "text", "matchCriteria": "all"}}},
          {"$limit": 20},
          {"$project": {"doc_id": 1, "score": {"$meta": "searchScore"}}}]"""),
      // C39q: the matchCriteria-all replay — the score chain unchanged,
      // the match filter mirroring the engine's least-tf INDICATOR score
      // (> 0 ⟺ all terms occur), both through the same rounded BM25
      s"""WITH ${graft.operators.LlmQueries.bm25ScoreCtes(
             Seq("spark", "query", "stream"), "mt")},
         |${graft.operators.LlmQueries.scoreCtesCustom(
             Seq("least(len(list_filter(toks, x -> x = 'spark')), " +
               "len(list_filter(toks, x -> x = 'query')), " +
               "len(list_filter(toks, x -> x = 'stream')))"), "mi")}
         |SELECT mtsc.id AS doc_id, mtsc.score AS score
         |FROM mtsc JOIN misc ON misc.id = mtsc.id
         |WHERE misc.score > 0
         |ORDER BY mtsc.score DESC, doc_id LIMIT 20""".stripMargin),
    // —— C39r: $search text.synonyms (round 16) — equivalent-mapping
    //    groups as single virtual terms: tf = Σ member tfs, df =
    //    any-member doc count, loaded from a mapping collection via
    //    the $lookup table resolver ——
    QuerySpec("pipe_search_synonyms", (s, dir) => {
      val cat = TableCatalog(s, dir)
      import s.implicits._
      val syns = Seq(
        ("equivalent", Seq("query", "scan")),
        ("equivalent", Seq("batch", "stream")))
        .toDF("mappingType", "synonyms")
      MongoPipeline(cat.table("documents"),
        """[{"$search": {"text": {"query": "query stream", "path": "text",
              "synonyms": "syns"}}},
            {"$limit": 20},
            {"$project": {"doc_id": 1, "score": {"$meta": "searchScore"}}}]""",
        name => if (name == "syns") syns else cat.table(name))
    },
      // C39r: the synonyms replay — each group is ONE virtual term with
      // tf = Σ member tfs (exact integer adds), df falling out as the
      // any-member doc count from the same tf > 0 test
      s"""WITH ${graft.operators.LlmQueries.scoreCtesCustom(
             Seq("len(list_filter(toks, x -> x = 'query')) + " +
               "len(list_filter(toks, x -> x = 'scan'))",
               "len(list_filter(toks, x -> x = 'batch')) + " +
                 "len(list_filter(toks, x -> x = 'stream'))"), "sy")}
         |SELECT id AS doc_id, score FROM sysc WHERE score > 0
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin),
    // —— C39p: $search analyzer option (round 16) — lucene.standard
    //    lowercases and splits on non-alphanumeric runs, so 'medium
    //    urgent' matches the hyphenated '3-MEDIUM'/'1-URGENT'
    //    priorities the whitespace tokenizer keeps whole ——
    QuerySpec("pipe_search_analyzer", (s, dir) => run(s, dir, "orders",
      """[{"$search": {"text": {"query": "medium urgent",
                                "path": "o_orderpriority"},
                       "analyzer": "lucene.standard"}},
          {"$limit": 25},
          {"$project": {"o_orderkey": 1,
                        "score": {"$meta": "searchScore"}}}]"""),
      // C39p: the analyzer replay — the toks CTE retokenizes with the
      // lucene.standard mirror (lowercase, split on non-alphanumeric
      // runs, empties dropped), then the unchanged score chain
      s"""WITH ${graft.operators.LlmQueries.scoreCtesCustom(
             Seq("len(list_filter(toks, x -> x = 'medium'))",
               "len(list_filter(toks, x -> x = 'urgent'))"), "az",
             "SELECT o_orderkey AS doc_id, " +
               "list_filter(string_split_regex(lower(o_orderpriority), " +
               "'[^a-z0-9]+'), x -> x <> '') AS toks FROM orders")}
         |SELECT id AS o_orderkey, score FROM azsc WHERE score > 0
         |ORDER BY score DESC, o_orderkey LIMIT 25""".stripMargin),
    // —— C38b: $scoreFusion with a $search leg — BM25 relevance ⊕
    //    attribute score, minMax-normalized weighted mean ——
    QuerySpec("pipe_scorefusion_text", (s, dir) => run(s, dir, "documents",
      """[{"$scoreFusion": {"input": {"normalization": "minMaxScaler",
            "pipelines": {
              "rel": [{"$search": {"text": {"query": "spark query stream",
                        "path": "text"}}},
                      {"$limit": 20}],
              "ids": [{"$score": {"score": {"$toDouble": "$doc_id"}}}]}},
            "combination": {"weights": {"rel": 2}}}},
          {"$project": {"doc_id": 1, "score": {"$meta": "score"}}}]"""),
      // C38b: the factored BM25 leg replay (post-limit minMax, like the
      // engine normalizes AFTER the leg's own limit) + field leg +
      // literal weighted mean
      s"""WITH b AS (
         |${graft.operators.LlmQueries.bm25Sql(Seq("spark", "query", "stream"), 20)}
         |),
         |m1 AS (SELECT min(score) AS mn, max(score) AS mx FROM b),
         |n1 AS (SELECT id AS doc_id,
         |    CASE WHEN mx = mn THEN 0.0
         |         ELSE (score - mn) / (mx - mn) END AS n
         |  FROM b, m1),
         |l2 AS (SELECT doc_id, CAST(doc_id AS DOUBLE) AS s FROM documents),
         |m2 AS (SELECT min(s) AS mn, max(s) AS mx FROM l2),
         |n2 AS (SELECT doc_id,
         |    CASE WHEN mx = mn THEN 0.0 ELSE (s - mn) / (mx - mn) END AS n
         |  FROM l2, m2)
         |SELECT COALESCE(n1.doc_id, n2.doc_id) AS doc_id,
         |  (2.0 * COALESCE(n1.n, 0.0) + 1.0 * COALESCE(n2.n, 0.0)) / 3.0
         |    AS score
         |FROM n1 FULL OUTER JOIN n2 ON n1.doc_id = n2.doc_id""".stripMargin),
    // —— C37c: $rankFusion with a $search leg — BM25 rank ⊕ attribute
    //    rank under the same integer RRF ——
    QuerySpec("pipe_rankfusion_text", (s, dir) => run(s, dir, "documents",
      """[{"$rankFusion": {"input": {"pipelines": {
            "rel": [{"$search": {"text": {"query": "spark query stream",
                      "path": "text"}}},
                    {"$limit": 15}],
            "ids": [{"$sort": {"doc_id": 1}}, {"$limit": 15}]}},
          "combination": {"weights": {"rel": 2}}}},
         {"$project": {"doc_id": 1, "score": {"$meta": "score"}}}]"""),
      // C37c: the factored BM25 top-15 is the rel leg's rank order; the
      // id leg is a key-complete sort; int64-ppb RRF fused per document
      s"""WITH b AS (
         |${graft.operators.LlmQueries.bm25Sql(Seq("spark", "query", "stream"), 15)}
         |),
         |r1 AS (SELECT id AS doc_id,
         |    row_number() OVER (ORDER BY score DESC, id) AS rk FROM b),
         |r2 AS (SELECT doc_id,
         |    row_number() OVER (ORDER BY doc_id) AS rk FROM documents),
         |u AS (SELECT doc_id,
         |        CAST((2 * 1000000000) // (60 + rk) AS BIGINT) AS c FROM r1
         |      UNION ALL
         |      SELECT doc_id, CAST(1000000000 // (60 + rk) AS BIGINT)
         |      FROM r2 WHERE rk <= 15)
         |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS score
         |FROM u GROUP BY 1""".stripMargin),
    // —— C25: $graphLookup (bounded BFS over a key chain) ——
    QuerySpec("pipe_graphlookup", (s, dir) => {
      val cat = TableCatalog(s, dir)
      val chain = cat.table("customer")
        .select(col("c_custkey").as("ck"), (col("c_custkey") - 1).as("prev"))
      MongoPipeline(chain,
        """[{"$match": {"ck": {"$lte": 5}}},
            {"$graphLookup": {"from": "chain", "startWith": "$prev",
              "connectFromField": "prev", "connectToField": "ck",
              "as": "up", "maxDepth": 3, "depthField": "d"}},
            {"$unwind": "$up"},
            {"$project": {"origin": "$ck", "node": "$up.ck", "depth": "$up.d"}}]""",
        name => if (name == "chain") chain else cat.table(name))
    },
      """SELECT c.c_custkey AS origin, c.c_custkey - 1 - t.i AS node,
        |  CAST(t.i AS INTEGER) AS depth
        |FROM customer c, generate_series(0, 3) t(i)
        |WHERE c.c_custkey <= 5 AND c.c_custkey - 1 - t.i >= 0""".stripMargin),
    // —— C26: correlated $lookup with let + pipeline ——
    QuerySpec("pipe_lookup_let", (s, dir) => run(s, dir, "orders",
      """[{"$match": {"o_orderkey": {"$lte": 200}}},
          {"$lookup": {"from": "lineitem",
            "let": {"oid": "$o_orderkey", "cutoff": "$o_orderdate"},
            "pipeline": [{"$match": {"$expr": {"$and": [
               {"$eq": ["$l_orderkey", "$$oid"]},
               {"$gt": ["$l_shipdate", "$$cutoff"]},
               {"$gte": ["$l_quantity", 10]}]}}}],
            "as": "items"}},
          {"$project": {"o_orderkey": 1, "n_items": {"$size": "$items"}}}]"""),
      """SELECT o_orderkey,
        |  CAST(COUNT(CASE WHEN l_orderkey IS NOT NULL THEN 1 END) AS INTEGER) AS n_items
        |FROM orders LEFT JOIN lineitem
        |  ON l_orderkey = o_orderkey AND l_shipdate > o_orderdate AND l_quantity >= 10
        |WHERE o_orderkey <= 200 GROUP BY o_orderkey""".stripMargin),
    // —— C27: $merge (keyed upsert of a pipeline result into a target) ——
    QuerySpec("pipe_merge", (s, dir) => {
      val cat = TableCatalog(s, dir)
      val source = MongoPipeline(cat.table("customer"),
        """[{"$match": {"c_custkey": {"$lte": 50}}},
            {"$set": {"c_acctbal": {"$multiply": ["$c_acctbal", 2]}}},
            {"$unionWith": {"coll": "customer", "pipeline":
              [{"$match": {"c_custkey": {"$lte": 10}}},
               {"$set": {"c_custkey": {"$add": ["$c_custkey", 1000000]}}}]}}]""",
        cat.table)
      PipelineSinks.merge(cat.table("customer"), source, "c_custkey",
        whenMatched = "replace", whenNotMatched = "insert")
    },
      // A true merge replay, NOT the "appended keys are always free"
      // shortcut: at the 100x-replicated decade the shifted insert keys
      // (orig + 1e6) COLLIDE with scaled base keys, and a real $merge
      // must replace those rows, not append them. The closed form below
      // reproduces matched-replace + unmatched-insert at any scale.
      """WITH src AS (
        |  SELECT c_custkey, c_name, c_nationkey,
        |    c_acctbal * 2 AS c_acctbal, c_mktsegment
        |  FROM customer WHERE c_custkey <= 50
        |  UNION ALL
        |  SELECT c_custkey + 1000000 AS c_custkey, c_name, c_nationkey,
        |    c_acctbal, c_mktsegment
        |  FROM customer WHERE c_custkey <= 10)
        |SELECT b.c_custkey,
        |  CASE WHEN s.c_custkey IS NOT NULL THEN s.c_name
        |       ELSE b.c_name END AS c_name,
        |  CASE WHEN s.c_custkey IS NOT NULL THEN s.c_nationkey
        |       ELSE b.c_nationkey END AS c_nationkey,
        |  CASE WHEN s.c_custkey IS NOT NULL THEN s.c_acctbal
        |       ELSE b.c_acctbal END AS c_acctbal,
        |  CASE WHEN s.c_custkey IS NOT NULL THEN s.c_mktsegment
        |       ELSE b.c_mktsegment END AS c_mktsegment
        |FROM customer b LEFT JOIN src s ON b.c_custkey = s.c_custkey
        |UNION ALL
        |SELECT s.c_custkey, s.c_name, s.c_nationkey, s.c_acctbal, s.c_mktsegment
        |FROM src s LEFT JOIN customer b ON s.c_custkey = b.c_custkey
        |WHERE b.c_custkey IS NULL""".stripMargin),
    // —— C28: rich expression pack (dates, strings, arrays, sets, math) ——
    QuerySpec("pipe_expr_pack", (s, dir) => run(s, dir, "lineitem",
      """[{"$match": {"l_orderkey": {"$lte": 500}}},
          {"$project": {
            "l_orderkey": 1, "l_linenumber": 1,
            "ship_plus2d": {"$dateAdd": {"startDate": "$l_shipdate", "unit": "day", "amount": 2}},
            "ship_hour_trunc": {"$dateTrunc": {"date": "$l_shipdate", "unit": "day"}},
            "days_since_order": {"$dateDiff": {"startDate": {"$dateTrunc": {"date": "$l_shipdate", "unit": "year"}}, "endDate": "$l_shipdate", "unit": "day"}},
            "wk": {"$week": "$l_shipdate"},
            "dow": {"$dayOfWeek": "$l_shipdate"},
            "flag_clean": {"$replaceAll": {"input": "$l_returnflag", "find": "N", "replacement": "_"}},
            "is_rf": {"$regexMatch": {"input": "$l_returnflag", "regex": "^[RF]$"}},
            "cmp_flag": {"$strcasecmp": ["$l_returnflag", "n"]},
            "qty_sqrt": {"$round": [{"$sqrt": "$l_quantity"}, 6]},
            "qty_sq": {"$pow": ["$l_quantity", 2]},
            "qty_trunc": {"$trunc": [{"$divide": ["$l_quantity", 7]}, 1]},
            "rng_sum": {"$reduce": {"input": {"$range": [0, {"$toInt": {"$mod": ["$l_linenumber", 5]}}]},
                                    "initialValue": 0,
                                    "in": {"$add": ["$$value", "$$this"]}}},
            "big_elems": {"$size": {"$filter": {"input": {"$range": [0, 10]}, "as": "x",
                                    "cond": {"$gte": ["$$x", {"$toInt": "$l_linenumber"}]}}}},
            "doubled_last": {"$arrayElemAt": [{"$map": {"input": {"$range": [1, 4]}, "as": "x",
                                    "in": {"$multiply": ["$$x", 2]}}}, 2]},
            "set_u": {"$setUnion": [{"$range": [0, 3]}, {"$range": [2, 5]}]},
            "set_i_n": {"$size": {"$setIntersection": [{"$range": [0, 4]}, {"$range": [2, 6]}]}},
            "subset": {"$setIsSubset": [{"$range": [1, 3]}, {"$range": [0, 5]}]}}},
          {"$set": {"set_u": {"$reduce": {"input": "$set_u", "initialValue": 0,
                              "in": {"$add": ["$$value", "$$this"]}}}}}]"""),
      """SELECT l_orderkey, l_linenumber,
        |  l_shipdate + INTERVAL 2 DAY AS ship_plus2d,
        |  CAST(date_trunc('day', l_shipdate) AS TIMESTAMP) AS ship_hour_trunc,
        |  CAST(datediff('day', date_trunc('year', l_shipdate), l_shipdate) AS BIGINT) AS days_since_order,
        |  CAST(weekofyear(l_shipdate) AS INTEGER) AS wk,
        |  CAST(dayofweek(l_shipdate) + 1 AS INTEGER) AS dow,
        |  replace(l_returnflag, 'N', '_') AS flag_clean,
        |  regexp_matches(l_returnflag, '^[RF]$') AS is_rf,
        |  CASE WHEN lower(l_returnflag) > 'n' THEN 1
        |       WHEN lower(l_returnflag) < 'n' THEN -1 ELSE 0 END AS cmp_flag,
        |  round(sqrt(l_quantity), 6) AS qty_sqrt,
        |  l_quantity * l_quantity AS qty_sq,
        |  trunc(l_quantity / 7 * 10) / 10 AS qty_trunc,
        |  CAST(COALESCE(list_sum([x for x in range(0, CAST(l_linenumber AS INTEGER) % 5)]), 0) AS BIGINT) AS rng_sum,
        |  CAST(len([x for x in range(0, 10) if x >= l_linenumber]) AS INTEGER) AS big_elems,
        |  CAST(6 AS INTEGER) AS doubled_last,
        |  CAST(0+1+2+3+4 AS BIGINT) AS set_u,
        |  CAST(2 AS INTEGER) AS set_i_n,
        |  true AS subset
        |FROM lineitem WHERE l_orderkey <= 500""".stripMargin),
    QuerySpec("pipe_expr_trig", (s, dir) => run(s, dir, "lineitem",
      """[{"$match": {"l_orderkey": {"$lte": 200}}},
          {"$project": {
            "l_orderkey": 1, "l_linenumber": 1,
            "sn": {"$round": [{"$sin": "$l_quantity"}, 4]},
            "cs": {"$round": [{"$cos": "$l_quantity"}, 4]},
            "t2": {"$round": [{"$atan2": ["$l_quantity", "$l_linenumber"]}, 4]},
            "rads": {"$round": [{"$degreesToRadians": "$l_quantity"}, 4]},
            "degs": {"$round": [{"$radiansToDegrees": "$l_discount"}, 4]},
            "tnh": {"$round": [{"$tanh": "$l_discount"}, 4]},
            "atn": {"$round": [{"$atan": "$l_tax"}, 4]},
            "asn": {"$round": [{"$asin": "$l_discount"}, 4]},
            "lb": {"$strLenBytes": {"$concat": ["$l_returnflag", "$l_linestatus"]}}}}]"""),
      """SELECT l_orderkey, l_linenumber,
        |  round(sin(l_quantity), 4) AS sn,
        |  round(cos(l_quantity), 4) AS cs,
        |  round(atan2(l_quantity, l_linenumber), 4) AS t2,
        |  round(radians(l_quantity), 4) AS rads,
        |  round(degrees(l_discount), 4) AS degs,
        |  round((exp(2 * l_discount) - 1) / (exp(2 * l_discount) + 1), 4) AS tnh,
        |  round(atan(l_tax), 4) AS atn,
        |  round(asin(l_discount), 4) AS asn,
        |  CAST(strlen(l_returnflag || l_linestatus) AS INTEGER) AS lb
        |FROM lineitem WHERE l_orderkey <= 200""".stripMargin),
    // —— C31: bitwise ops, $dateSubtract, $substrBytes ——
    QuerySpec("pipe_expr_bits", (s, dir) => run(s, dir, "lineitem",
      """[{"$match": {"l_orderkey": {"$lte": 300}}},
          {"$project": {
            "l_orderkey": 1, "l_linenumber": 1,
            "band": {"$bitAnd": ["$l_orderkey", 255]},
            "ored": {"$bitOr": ["$l_orderkey", {"$bitAnd": [{"$toLong": "$l_linenumber"}, 3]}]},
            "xed": {"$bitXor": ["$l_orderkey", {"$toLong": "$l_linenumber"}]},
            "flipped": {"$bitNot": {"$toLong": "$l_linenumber"}},
            "back3d": {"$dateSubtract": {"startDate": "$l_shipdate", "unit": "day", "amount": 3}},
            "back1mo": {"$dateSubtract": {"startDate": "$l_shipdate", "unit": "month", "amount": 1}},
            "sb": {"$substrBytes": [{"$concat": ["$l_returnflag", "$l_linestatus", "XYZ"]}, 1, 3]}}}]"""),
      """SELECT l_orderkey, l_linenumber,
        |  l_orderkey & 255 AS band,
        |  l_orderkey | (CAST(l_linenumber AS BIGINT) & 3) AS ored,
        |  xor(l_orderkey, CAST(l_linenumber AS BIGINT)) AS xed,
        |  ~CAST(l_linenumber AS BIGINT) AS flipped,
        |  l_shipdate - INTERVAL 3 DAY AS back3d,
        |  l_shipdate - INTERVAL 1 MONTH AS back1mo,
        |  substr(l_returnflag || l_linestatus || 'XYZ', 2, 3) AS sb
        |FROM lineitem WHERE l_orderkey <= 300""".stripMargin),
    // —— C34: long-tail expressions ($indexOfBytes, $toObjectId, ——
    // ——       $isoWeekYear, $binarySize) ——
    QuerySpec("pipe_expr_tail", (s, dir) => run(s, dir, "lineitem",
      """[{"$match": {"l_orderkey": {"$lte": 250}}},
          {"$project": {
            "l_orderkey": 1, "l_linenumber": 1,
            "ib": {"$indexOfBytes": [{"$concat": ["$l_returnflag", "é", "$l_linestatus", "XFZ"]}, "F"]},
            "ibr": {"$indexOfBytes": [{"$concat": ["$l_returnflag", "$l_linestatus", "XFZ"]}, "F", 2]},
            "ibe": {"$indexOfBytes": [{"$concat": ["$l_returnflag", "$l_linestatus", "XFZ"]}, "F", 1, 3]},
            "oid": {"$toObjectId": {"$cond": [{"$eq": ["$l_linestatus", "O"]}, "507F1F77BCF86CD799439011", "zz"]}},
            "iwy": {"$isoWeekYear": "$l_shipdate"},
            "bsz": {"$binarySize": {"$concat": ["$l_returnflag", "é"]}}}}]"""),
      """SELECT l_orderkey, l_linenumber,
        |  CAST(CASE WHEN strpos(l_returnflag || 'é' || l_linestatus || 'XFZ', 'F') > 0
        |       THEN strlen(substr(l_returnflag || 'é' || l_linestatus || 'XFZ', 1,
        |                          strpos(l_returnflag || 'é' || l_linestatus || 'XFZ', 'F') - 1))
        |       ELSE -1 END AS INTEGER) AS ib,
        |  CAST(CASE WHEN strpos(substr(l_returnflag || l_linestatus || 'XFZ', 3), 'F') > 0
        |       THEN 1 + strpos(substr(l_returnflag || l_linestatus || 'XFZ', 3), 'F')
        |       ELSE -1 END AS INTEGER) AS ibr,
        |  CAST(CASE WHEN strpos(substr(l_returnflag || l_linestatus || 'XFZ', 2, 2), 'F') > 0
        |       THEN strpos(substr(l_returnflag || l_linestatus || 'XFZ', 2, 2), 'F')
        |       ELSE -1 END AS INTEGER) AS ibe,
        |  CASE WHEN l_linestatus = 'O' THEN '507f1f77bcf86cd799439011' END AS oid,
        |  CAST(isoyear(l_shipdate) AS BIGINT) AS iwy,
        |  CAST(strlen(l_returnflag || 'é') AS INTEGER) AS bsz
        |FROM lineitem WHERE l_orderkey <= 250""".stripMargin),
    // —— C32: $documents literal-source stage ——
    QuerySpec("pipe_documents", (s, dir) => run(s, dir, "region",
      """[{"$documents": [
            {"k": 1, "name": "alpha", "v": 10},
            {"k": 2, "name": "beta",  "v": 5},
            {"k": 3, "name": "gamma", "v": 7},
            {"k": 4, "name": "delta", "v": 2}]},
          {"$match": {"v": {"$gte": 5}}},
          {"$set": {"vv": {"$multiply": ["$v", 2]}}},
          {"$sort": {"k": 1}}]"""),
      """SELECT CAST(k AS BIGINT) AS k, name, CAST(v AS BIGINT) AS v,
        |  CAST(v * 2 AS BIGINT) AS vv
        |FROM (VALUES (1, 'alpha', 10), (2, 'beta', 5), (3, 'gamma', 7),
        |             (4, 'delta', 2)) t(k, name, v)
        |WHERE v >= 5 ORDER BY k""".stripMargin),
    // —— C33: $redact (level-relative decisions over the doc tree) ——
    QuerySpec("pipe_redact", (s, dir) => run(s, dir, "events",
      """[{"$match": {"event_id": {"$lte": 2000}}},
          {"$set": {"lvl": {"$mod": ["$event_id", 5]},
                    "detail": {"lvl": {"$mod": ["$user_id", 5]},
                               "info": "$event_type"}}},
          {"$redact": {"$switch": {"branches": [
              {"case": {"$lt": ["$lvl", 1]}, "then": "$$KEEP"},
              {"case": {"$lt": ["$lvl", 3]}, "then": "$$DESCEND"}],
            "default": "$$PRUNE"}}},
          {"$project": {"event_id": 1, "lvl": 1,
                        "note": {"$ifNull": ["$detail.info", "REDACTED"]}}}]"""),
      """SELECT event_id, event_id % 5 AS lvl,
        |  CASE WHEN event_id % 5 < 1 OR user_id % 5 < 3
        |       THEN event_type ELSE 'REDACTED' END AS note
        |FROM events
        |WHERE event_id <= 2000 AND event_id % 5 < 3""".stripMargin),
    // —— F7: near-dup cluster assignment (CC over minhash pairs) ——
    QuerySpec("dedup_clusters", (s, dir) => {
      val docs = TableCatalog(s, dir).documents
      val pairs = graft.operators.Dedup.minhashCandidates(
        docs, "doc_id", "text", n = 2, k = 16, bands = 4)
      Pipeline100TB.connectedComponents(pairs)
    },
      {
        val pairsSql = llmSql("dedup_minhash_lsh")
        s"""WITH RECURSIVE pairs AS ($pairsSql),
           |e AS (SELECT a AS s, b AS d FROM pairs
           |      UNION SELECT b, a FROM pairs),
           |reach(s, d) AS (
           |  SELECT s, d FROM e
           |  UNION
           |  SELECT r.s, e.d FROM reach r JOIN e ON r.d = e.s)
           |SELECT s AS doc_id, LEAST(s, MIN(d)) AS cluster
           |FROM reach GROUP BY s""".stripMargin
      }),
    // —— F7c: near-dup cluster-size histogram — the dedup audit
    //    readout (how much mass sits in how-big clusters); singleton
    //    count derived from totals, not a join-back over the corpus ——
    QuerySpec("dedup_cluster_sizes", (s, dir) => {
      val docs = TableCatalog(s, dir).documents
      val pairs = graft.operators.Dedup.minhashCandidates(
        docs, "doc_id", "text", n = 2, k = 16, bands = 4)
      val clusters = Pipeline100TB.connectedComponents(pairs)
      val hist = clusters.groupBy(col("cluster"))
        .agg(count(lit(1)).as("sz"))
        .groupBy(col("sz")).agg(count(lit(1)).as("n_clusters"))
      val tot = broadcast(docs.groupBy().agg(count(lit(1)).as("__nd")))
      val cl = broadcast(clusters.groupBy().agg(count(lit(1)).as("__nc")))
      hist.unionByName(tot.crossJoin(cl)
        .select(lit(1L).as("sz"), (col("__nd") - col("__nc")).as("n_clusters")))
    },
      {
        val pairsSql = llmSql("dedup_minhash_lsh")
        s"""WITH RECURSIVE pairs AS ($pairsSql),
           |e AS (SELECT a AS s, b AS d FROM pairs
           |      UNION SELECT b, a FROM pairs),
           |reach(s, d) AS (
           |  SELECT s, d FROM e
           |  UNION
           |  SELECT r.s, e.d FROM reach r JOIN e ON r.d = e.s),
           |cl AS (SELECT s AS doc_id, LEAST(s, MIN(d)) AS cluster
           |       FROM reach GROUP BY s),
           |sz AS (SELECT cluster, COUNT(*) AS sz FROM cl GROUP BY 1)
           |SELECT sz, COUNT(*) AS n_clusters FROM sz GROUP BY 1
           |UNION ALL
           |SELECT 1 AS sz,
           |  (SELECT COUNT(*) FROM documents) - (SELECT COUNT(*) FROM cl)
           |    AS n_clusters""".stripMargin
      }),
    // —— F22: soft dedup — weight = 1/|cluster| instead of dropping;
    //    singletons keep 1.0 (every doc emits exactly one row) ——
    QuerySpec("dedup_soft_weights", (s, dir) => {
      val docs = TableCatalog(s, dir).documents
      val pairs = graft.operators.Dedup.minhashCandidates(
        docs, "doc_id", "text", n = 2, k = 16, bands = 4)
      Pipeline100TB.softDedupWeights(docs, pairs)
    },
      // F22: the CC chain + 1/size; docs outside any cluster keep 1.0
      {
        val pairsSql = llmSql("dedup_minhash_lsh")
        s"""WITH RECURSIVE pairs AS ($pairsSql),
           |e AS (SELECT a AS s, b AS d FROM pairs
           |      UNION SELECT b, a FROM pairs),
           |reach(s, d) AS (
           |  SELECT s, d FROM e
           |  UNION
           |  SELECT r.s, e.d FROM reach r JOIN e ON r.d = e.s),
           |cl AS (SELECT s AS doc_id, LEAST(s, MIN(d)) AS cluster
           |       FROM reach GROUP BY s),
           |sz AS (SELECT cluster, CAST(COUNT(*) AS DOUBLE) AS sz
           |       FROM cl GROUP BY 1),
           |w AS (SELECT cl.doc_id, 1.0 / sz.sz AS weight
           |      FROM cl JOIN sz USING (cluster))
           |SELECT d.doc_id, COALESCE(w.weight, 1.0) AS weight
           |FROM documents d LEFT JOIN w ON w.doc_id = d.doc_id""".stripMargin
      }),
    // —— F7b: same clusters via large-star/small-star contraction ——
    QuerySpec("dedup_clusters_star", (s, dir) => {
      val docs = TableCatalog(s, dir).documents
      val pairs = graft.operators.Dedup.minhashCandidates(
        docs, "doc_id", "text", n = 2, k = 16, bands = 4)
      Pipeline100TB.connectedComponentsStar(pairs)
    },
      {
        // identical oracle to dedup_clusters: the star variant must
        // produce byte-identical clusters, just in fewer rounds
        val pairsSql = llmSql("dedup_minhash_lsh")
        s"""WITH RECURSIVE pairs AS ($pairsSql),
           |e AS (SELECT a AS s, b AS d FROM pairs
           |      UNION SELECT b, a FROM pairs),
           |reach(s, d) AS (
           |  SELECT s, d FROM e
           |  UNION
           |  SELECT r.s, e.d FROM reach r JOIN e ON r.d = e.s)
           |SELECT s AS doc_id, LEAST(s, MIN(d)) AS cluster
           |FROM reach GROUP BY s""".stripMargin
      }),
    // —— G7: int8-quantized exact-integer top-k (native Int8Dot) ——
    QuerySpec("sim_topk_int8", (s, dir) => {
      val e = TableCatalog(s, dir).embeddings
      graft.operators.Similarity.int8TopK(s, e, e.filter(col("vec_id") < 10), k = 5)
    },
      int8Sql),
    // —— B6: $oid + BSON $timestamp{t,i} envelope forms ——
    QuerySpec("ext_json_bson_types", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import graft.functions.ExtJson
      val ev = TableCatalog(s, dir).events
      val withT = ev.withColumn("t", expr("unix_micros(ts) div 1000000"))
      val inc = row_number().over(
        Window.partitionBy(col("t")).orderBy(col("event_id")))
      withT.select(col("event_id"),
        ExtJson.obj(
          ExtJson.field("_id", ExtJson.oid(
            substring(md5(to_binary(col("event_id").cast("string"), lit("utf-8"))), 1, 24))),
          ExtJson.field("ts", ExtJson.timestampBson(col("t"), inc))).as("msg"))
    },
      """WITH b AS (
        |  SELECT event_id, epoch_us(ts) // 1000000 AS t FROM events),
        |r AS (
        |  SELECT event_id, t,
        |    CAST(row_number() OVER (PARTITION BY t ORDER BY event_id) AS INTEGER) AS i
        |  FROM b)
        |SELECT event_id,
        |  '{"_id":{"$oid":"' || substr(md5(CAST(event_id AS VARCHAR)), 1, 24) ||
        |  '"},"ts":{"$timestamp":{"t":' || t || ',"i":' || i || '}}}' AS msg
        |FROM r""".stripMargin),
    // —— C5b: $median / $percentile accumulators (exact interpolated) ——
    QuerySpec("pipe_group_median", (s, dir) => run(s, dir, "lineitem",
      """[{"$group": {"_id": "$l_returnflag",
           "med_qty": {"$median": {"input": "$l_quantity", "method": "approximate"}},
           "p90_price": {"$percentile": {"input": "$l_extendedprice", "p": [0.9], "method": "approximate"}}}},
          {"$set": {"med_qty": {"$round": ["$med_qty", 4]},
                    "p90_price": {"$round": ["$p90_price", 4]}}}]"""),
      """SELECT l_returnflag AS _id,
        |  round(quantile_cont(l_quantity, 0.5), 4) AS med_qty,
        |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price
        |FROM lineitem GROUP BY 1""".stripMargin),
    // —— I6: exact per-group quantiles (rank-defined, no sketch) ——
    QuerySpec("quantiles_exact", (s, dir) => {
      val ev = TableCatalog(s, dir).events
      graft.operators.Analytics.exactQuantiles(
        ev, "event_type", "value", "event_id", Seq(0.5, 0.9, 0.99))
    },
      """WITH r AS (
        |  SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM events)
        |SELECT event_type,
        |  MAX(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN value END) AS p50,
        |  MAX(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN value END) AS p90,
        |  MAX(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT) THEN value END) AS p99
        |FROM r GROUP BY event_type""".stripMargin),
    // —— B5: avro envelope round trip — encode the op log through the
    //    binary codec, decode, fold; must equal folding directly ——
    QuerySpec("consumer_avro_roundtrip", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import graft.functions.AvroCodec
      val ev = TableCatalog(s, dir).events.select(
        col("event_id"), expr("unix_micros(ts)").as("ts_us"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      val schema =
        """{"type":"record","name":"ev","fields":[
          |{"name":"event_id","type":"long"},{"name":"ts_us","type":"long"},
          |{"name":"user_id","type":"long"},{"name":"event_type","type":"string"},
          |{"name":"value","type":"double"},{"name":"props","type":"string"}]}"""
          .stripMargin
      val decoded = AvroCodec.decode(
        AvroCodec.encode(ev, schema, binary = true), schema, binary = true)
      decoded
        .withColumn("rn", row_number().over(Window.partitionBy(col("user_id"))
          .orderBy(col("ts_us").desc, col("event_id").desc)))
        .filter(col("rn") === 1 && col("event_type") =!= "error")
        .select(col("user_id"), col("value"), col("props"))
    },
      QuerySpec.oracleOf(graft.operators.CdcQueries.specs, "cdc_latest_state")),
    // —— C19: $facet (serialized to JSON strings for the driver compare) ——
    QuerySpec("pipe_facet", (s, dir) => {
      run(s, dir, "orders",
        """[{"$facet": {
             "by_status": [{"$group": {"_id": "$o_orderstatus", "n": {"$sum": 1}}}],
             "price_hist": [{"$bucket": {"groupBy": "$o_totalprice",
               "boundaries": [0, 100000, 600000], "default": "other",
               "output": {"n": {"$sum": 1}}}}]}}]""")
        .select(to_json(col("by_status")).as("by_status"),
          to_json(col("price_hist")).as("price_hist"))
    },
      """WITH bs AS (
        |  SELECT o_orderstatus AS _id, COUNT(*) AS n FROM orders GROUP BY 1),
        |ph AS (
        |  SELECT CASE WHEN o_totalprice >= 0 AND o_totalprice < 100000 THEN '0'
        |              WHEN o_totalprice >= 100000 AND o_totalprice < 600000 THEN '100000'
        |              ELSE 'other' END AS _id, COUNT(*) AS n
        |  FROM orders GROUP BY 1)
        |SELECT
        |  (SELECT '[' || string_agg('{"_id":"'||_id||'","n":'||n||'}', ','
        |                            ORDER BY _id, n) || ']' FROM bs) AS by_status,
        |  (SELECT '[' || string_agg('{"_id":"'||_id||'","n":'||n||'}', ','
        |                            ORDER BY _id, n) || ']' FROM ph) AS price_hist""".stripMargin),
    // —— G8: engine-exact HLL distinct sketch ——
    QuerySpec("sketch_hll_distinct", (s, dir) => {
      val ev = TableCatalog(s, dir).events
      graft.operators.Sketches.hllDistinct(
        ev, Seq("event_type"), col("user_id"), p = 8)
    },
      """WITH h AS (
        |  SELECT event_type,
        |    CAST('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,15) AS BIGINT) AS h
        |  FROM events),
        |r AS (
        |  SELECT event_type, h % 256 AS bucket,
        |    MAX(CASE WHEN h // 256 = 0 THEN 53
        |        ELSE 53 - length(printf('%b', h // 256)) END) AS rho
        |  FROM h GROUP BY 1, 2),
        |s AS (
        |  SELECT event_type,
        |    CAST(COUNT(*) AS BIGINT) AS registers_used,
        |    CAST(SUM(CAST(1 AS BIGINT) << (53 - rho)) AS BIGINT) AS obs
        |  FROM r GROUP BY 1),
        |raw AS (
        |  SELECT event_type, registers_used,
        |    obs + (256 - registers_used) * (CAST(1 AS BIGINT) << 53) AS reg_sum,
        |    0.7213 / (1.0 + 1.079 / 256.0) * 256.0 * 256.0 * 9007199254740992.0
        |      / (obs + (256 - registers_used) * (CAST(1 AS BIGINT) << 53)) AS r
        |  FROM s)
        |SELECT event_type, registers_used, reg_sum,
        |  round(CASE WHEN registers_used < 256 AND r <= 640.0
        |             THEN 256.0 * ln(256.0 / (256 - registers_used))
        |             ELSE r END, 4) AS hll_est
        |FROM raw""".stripMargin),
    // —— G2b: IVF ANN with a TRAINED quantizer — oracle-checked as of
    //    round 10: the fixed iteration count (iters = 2) lets the
    //    k-means unroll into plain CTEs (see ivfTrainedSql), and the
    //    scaled-int64 training arithmetic makes the model replayable
    //    bit-for-bit. SimilaritySpec additionally checks recall vs
    //    brute force and cross-partitioning bit-determinism. ——
    QuerySpec("sim_topk_ivf", (s, dir) => {
      val e = TableCatalog(s, dir).embeddings
      graft.operators.Similarity.ivfTopK(
        s, e, e.filter(col("vec_id") < 10), k = 3)
    },
      // G2b TRAINED: the 2-iteration k-means UNROLLED as plain CTEs —
      // "iterative" stopped being a blocker once the iteration count is
      // a fixed literal of the query; every arithmetic step (raw-double
      // cosine argmax with the (cs DESC, cid) tie rule, scaled-int64
      // per-dim sums, the /(n·2²⁰) mean, the float32 snap) replays the
      // engine op-for-op, so the TRAINED MODEL and the search result
      // hash-match end-to-end. The remaining parity assumption is the
      // one sim_topk_ivf_fixed already carries: JVM vs DuckDB double
      // cosine agree to the last bit on this data; a 1-ulp divergence
      // at an argmax boundary could flip one assignment elsewhere.
      ivfTrainedSql),
    // —— G25: Davies-Bouldin quality readout over the trained IVF
    //    cells (same centroids + assignment as the index itself) ——
    QuerySpec("sim_cluster_eval", (s, dir) =>
      graft.operators.Similarity.clusterEval(
        s, TableCatalog(s, dir).embeddings),
      clusterEvalSql),
    // —— G2b search path under a FIXED quantizer (iters = 0: cells =
    //    the first nlist vectors): assignment → nprobe probe → exact
    //    rerank, end-to-end hash-checked against DuckDB ——
    QuerySpec("sim_topk_ivf_fixed", (s, dir) => {
      val e = TableCatalog(s, dir).embeddings
      graft.operators.Similarity.ivfTopK(
        s, e, e.filter(col("vec_id") < 10), k = 3, iters = 0)
    },
      ivfFixedSql),
    // —— G23: IVF∘PQ composed search (IVFADC) — coarse cell probing
    //    in front of the ADC code scan; only nprobe cells' codes are
    //    touched per query ——
    QuerySpec("sim_topk_ivfpq", (s, dir) => {
      val e = TableCatalog(s, dir).embeddings
      graft.operators.Similarity.ivfPqTopK(
        s, e, e.filter(col("vec_id") < 10), k = 5)
    },
      ivfPqSql),
    // —— G19c: PQ search + exact re-rank (IVFADC+R refinement) — ADC
    //    shortlist of 15, exact int64 quantized-L2 re-score, top 5 ——
    QuerySpec("sim_topk_pq_rerank", (s, dir) => {
      val e = TableCatalog(s, dir).embeddings
      graft.operators.Similarity.pqRerankTopK(
        s, e, e.filter(col("vec_id") < 10), k = 5, kShort = 15)
    },
      pqRerankSql),
    // —— G21b: recall@3 of all eleven ANN strategies vs brute force ——
    QuerySpec("sim_recall_matrix", (s, dir) => {
      val e = TableCatalog(s, dir).embeddings
      graft.operators.Similarity.recallMatrix(
        s, e, e.filter(col("vec_id") < 10), k = 3)
    },
      // G21b: recall@k of every ANN strategy against brute-force truth,
      // all at k = 3 — each strategy's oracle replay is reused verbatim
      // as a scoped subquery (top-3 of a strategy's top-5 IS its top-3:
      // per-query ranks are a total order)
      recallMatrixSql),
    // —— G6: reproducible stratified hash sampling ——
    QuerySpec("sample_hash", (s, dir) => {
      val ev = TableCatalog(s, dir).events
      Pipeline100TB.hashSample(ev, col("event_id"),
        when(col("event_type") === "purchase", 50).otherwise(10))
        .select(col("event_id"), col("user_id"), col("event_type"))
    },
      """SELECT event_id, user_id, event_type FROM events
        |WHERE CAST('0x'||substr(md5(COALESCE(CAST(event_id AS VARCHAR), '')),1,15) AS BIGINT) % 100
        |      < CASE WHEN event_type = 'purchase' THEN 50 ELSE 10 END""".stripMargin),
    // —— G6b/G6c: weighted + per-stratum deterministic sampling ——
    QuerySpec("sample_weighted", (s, dir) => {
      val ev = TableCatalog(s, dir).events
      Pipeline100TB.weightedHashSample(ev, col("event_id"),
        least(col("value") / 100.0, lit(1.0)))
        .select(col("event_id"), col("event_type"), col("value"))
    },
      """SELECT event_id, event_type, value FROM events
        |WHERE CAST('0x'||substr(md5(COALESCE(CAST(event_id AS VARCHAR), '')),1,15) AS BIGINT)
        |      < CAST(round(least(value / 100.0, 1.0) * 1152921504606846976.0) AS BIGINT)""".stripMargin),
    QuerySpec("sample_stratified_k", (s, dir) => {
      val ev = TableCatalog(s, dir).events
      Pipeline100TB.stratifiedK(ev, col("event_type"), col("event_id"), k = 3)
        .select(col("event_id"), col("event_type"))
    },
      """SELECT event_id, event_type FROM (
        |  SELECT event_id, event_type,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY CAST('0x'||substr(md5(COALESCE(CAST(event_id AS VARCHAR), '')),1,15) AS BIGINT)) AS rk
        |  FROM events)
        |WHERE rk <= 3""".stripMargin),
    // —— H9: PII / noise scrubbing — props carry no natural PII, so
    //    deterministic event-keyed probes (IPv4, full-form IPv6, +CC
    //    phone) make every branch of the redaction chain load-bearing ——
    QuerySpec("text_scrub", (s, dir) => {
      val ev = TableCatalog(s, dir).events
      val probed = concat(col("props"),
        lit(" src 10.20."), (col("event_id") % 256).cast("string"),
        lit("."), (col("event_id") % 100).cast("string"),
        lit(" node 2001:0db8:85a3:0000:0000:8a2e:0370:"),
        lpad((col("event_id") % 10000).cast("string"), 4, "0"),
        lit(" call +1-415-"),
        lpad((col("event_id") % 10000).cast("string"), 4, "0"),
        lit("-"), lpad((col("event_id") * 7 % 10000).cast("string"), 4, "0"),
        lit(" ok"))
      ev.select(col("event_id"),
        Pipeline100TB.scrub(probed).as("scrubbed"))
    },
      """SELECT event_id,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |  regexp_replace(regexp_replace(
        |    props || ' src 10.20.' || CAST(event_id % 256 AS VARCHAR)
        |      || '.' || CAST(event_id % 100 AS VARCHAR)
        |      || ' node 2001:0db8:85a3:0000:0000:8a2e:0370:'
        |      || lpad(CAST(event_id % 10000 AS VARCHAR), 4, '0')
        |      || ' call +1-415-'
        |      || lpad(CAST(event_id % 10000 AS VARCHAR), 4, '0')
        |      || '-' || lpad(CAST(event_id * 7 % 10000 AS VARCHAR), 4, '0')
        |      || ' ok',
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    'https?://[^ \t\n]+', '<URL>', 'g'),
        |    '([0-9A-Fa-f]{1,4}:){4,7}[0-9A-Fa-f]{0,4}', '<IP>', 'g'),
        |    '[0-9]{1,3}(\.[0-9]{1,3}){3}', '<IP>', 'g'),
        |    '\+?[0-9]{1,3}[-. ]\(?[0-9]{2,4}\)?[-. ][0-9]{2,4}[-. ][0-9]{2,4}',
        |      '<PHONE>', 'g'),
        |    '[0-9]+', '<NUM>', 'g') AS scrubbed
        |FROM events""".stripMargin),
    // —— H21: markup → text extraction over synthetically wrapped docs ——
    QuerySpec("text_extract_markup", (s, dir) => {
      val d = TableCatalog(s, dir).documents
      val wrapped = concat(lit(MarkupPrefix), col("text"), lit(MarkupSuffix))
      d.select(col("doc_id"),
        Pipeline100TB.extractMarkup(wrapped).as("clean_text"))
    },
      s"""SELECT doc_id,
         |  $markupChainSql AS clean_text
         |FROM documents""".stripMargin),
    // —— H10: sliding-window chunking ——
    QuerySpec("doc_chunks", (s, dir) =>
      Pipeline100TB.chunk(TableCatalog(s, dir).documents, "doc_id", "text"),
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS toks
        |  FROM documents),
        |d AS (SELECT doc_id, toks, CAST(len(toks) AS INTEGER) AS nw
        |      FROM t WHERE len(toks) > 0),
        |s(doc_id, start, nw) AS (
        |  SELECT doc_id, 0, nw FROM d
        |  UNION ALL
        |  SELECT doc_id, start + 8, nw FROM s WHERE start + 8 <= nw - 1)
        |SELECT s.doc_id, s.start,
        |  CAST(least(s.start + 16, s.nw) - s.start AS INTEGER) AS n_tok,
        |  array_to_string(list_slice(d.toks, s.start + 1, least(s.start + 16, s.nw)), ' ') AS chunk_text
        |FROM s JOIN d USING (doc_id)""".stripMargin),
    // —— H12: per-document token entropy (repetition/diversity signal) ——
    QuerySpec("text_entropy", (s, dir) => {
      val docs = TableCatalog(s, dir).documents
      val toks = docs.select(col("doc_id"),
        explode(split(trim(lower(col("text"))), " +")).as("tok"))
      val tf = toks.groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("tf"))
      tf.groupBy(col("doc_id"))
        .agg(sum(col("tf")).as("n"),
          count(lit(1)).as("distinct_toks"),
          // Σ tf·ln(tf): with n, entropy = ln(n) − Σtf·ln(tf)/n — one
          // order-insensitive double sum of identical per-(doc,tok)
          // terms on both engines, rounded at 4
          sum(col("tf").cast("double") * log(col("tf").cast("double")))
            .as("__s"))
        .select(col("doc_id"), col("n"),
          col("distinct_toks").cast("int").as("distinct_toks"),
          round(log(col("n").cast("double")) - col("__s") / col("n"), 4)
            .as("entropy"))
    },
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), ' +')) AS tok
        |  FROM documents),
        |tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM t GROUP BY 1, 2)
        |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n,
        |  CAST(COUNT(*) AS INTEGER) AS distinct_toks,
        |  round(ln(CAST(SUM(tf) AS DOUBLE))
        |        - SUM(CAST(tf AS DOUBLE) * ln(CAST(tf AS DOUBLE))) / SUM(tf),
        |        4) AS entropy
        |FROM tf GROUP BY doc_id""".stripMargin),
    // —— H11: the composed curation pass — quality ∧ language ∧ dedup
    //    survivor in ONE plan (each component is the already-verified
    //    operator; Catalyst fuses the three narrow passes over
    //    documents and the dedup shuffle into a single job) ——
    QuerySpec("corpus_curate", (s, dir) => {
      import graft.operators.{Dedup, TextAnalysis}
      val docs = TableCatalog(s, dir).documents
      val q = TextAnalysis.quality(docs, "doc_id", "text", opaque = true)
        .select(col("doc_id"), col("quality"))
      val l = TextAnalysis.langId(docs, "doc_id", "text", opaque = true)
        .select(col("doc_id"), col("predicted"))
      val d = Dedup.exact(docs, "doc_id", "text")
        .select(col("survivor").as("doc_id"), col("n_copies"))
      q.join(l, "doc_id").join(d, "doc_id")
        .filter(col("quality") >= 0.35 && col("predicted") === "en")
        .select(col("doc_id"), col("n_copies"), col("quality"))
    },
      {
        val qualitySql = llmSql("text_quality")
        val langSql = llmSql("text_langid")
        val dedupSql = llmSql("dedup_exact")
        s"""WITH q AS ($qualitySql),
           |l AS ($langSql),
           |d AS ($dedupSql)
           |SELECT q.doc_id, d.n_copies, q.quality
           |FROM q JOIN l ON q.doc_id = l.doc_id
           |JOIN d ON q.doc_id = d.survivor
           |WHERE q.quality >= 0.35 AND l.predicted = 'en'""".stripMargin
      }),
    // —— E15 batch twin: the curation daemon's FULL gate stack as one
    //    oracle-checked plan — H21 extraction rewrites the text first
    //    (fingerprints see prose, so cross-markup duplicates collapse),
    //    then the H16 structural gate, the H20 classifier gate, and
    //    F2-style fingerprint dedup. SINGLE-PASS shape: extraction
    //    runs once, the corpus tokenizes once, both gates are WHERE
    //    clauses on that shared array (the Column forms of the
    //    verified operators), and the survivor + its score ride the
    //    F10 partial-aggregated min_by through the fingerprint
    //    groupBy — ONE scan, ONE exchange, no join-back. ——
    QuerySpec("corpus_curate_full", (s, dir) => {
      import graft.operators.{Dedup, LlmQueries, TextAnalysis}
      import graft.functions.Hash60
      val docs = TableCatalog(s, dir).documents
      // Opaque barrier (guide §4.4): without it, PushDownPredicates
      // inlines this 14-regex + tokenize chain into EVERY filter
      // conjunct below (12 copies per row in the measured plan —
      // FilterExec has no cross-conjunct subexpression elimination).
      // Values are identical; the chain now runs once per row.
      val staged = docs.select(col("doc_id"),
          Pipeline100TB.extractMarkup(
            concat(lit(MarkupPrefix), col("text"), lit(MarkupSuffix))).as("text"))
        .withColumn("__toks", graft.functions.Opaque(Hash60.tokens(col("text"))))
        .withColumn("clf_score", TextAnalysis.classifierScoreOf(
          col("__toks"), LlmQueries.clfWeights, biasMicro = 50000L))
        .filter(TextAnalysis.gopherPassOf(col("__toks")) &&
          col("clf_score") >= 0.5)
      staged
        .groupBy(Dedup.fingerprintOfTokens(col("__toks")).as("fp"))
        .agg(min_by(struct(col("doc_id"), col("clf_score")), col("doc_id"))
            .as("__s"),
          count(lit(1)).as("n_copies"))
        .select(col("__s.doc_id").as("doc_id"), col("n_copies"),
          col("__s.clf_score").as("clf_score"))
    },
      {
        val weights = graft.operators.LlmQueries.clfWeights.mkString("[", ", ", "]")
        s"""WITH ext AS (SELECT doc_id,
           |  $markupChainSql AS text
           |FROM documents),
           |t AS (SELECT doc_id, string_split_regex(trim(lower(text)), ' +') AS toks
           |      FROM ext),
           |g AS (SELECT doc_id FROM t
           |      WHERE len(toks) BETWEEN 50 AND 100000
           |        AND length(array_to_string(toks, '')) / len(toks) BETWEEN 3.0 AND 10.0
           |        AND len(list_distinct(toks)) / len(toks) >= 0.2
           |        AND len(list_filter(toks, x -> x IN ('the', 'a', 'of', 'is'))) >= 2),
           |c AS (SELECT doc_id,
           |  round(1.0 / (1.0 + exp(-((CAST(CAST(list_sum(list_transform(toks, tok ->
           |    ($weights)
           |      [(CAST('0x'||substr(md5(tok),1,15) AS BIGINT) % 64) + 1]))
           |    AS BIGINT) AS DOUBLE) / len(toks) + 50000.0) / 1000000.0))), 6)
           |    AS clf_score
           |  FROM t),
           |gated AS (SELECT t.doc_id, t.toks, c.clf_score
           |          FROM t JOIN g USING (doc_id) JOIN c USING (doc_id)
           |          WHERE c.clf_score >= 0.5),
           |fp AS (SELECT doc_id, clf_score,
           |         md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp
           |       FROM gated),
           |d AS (SELECT fp, min(doc_id) AS survivor, COUNT(*) AS n_copies
           |      FROM fp GROUP BY 1)
           |SELECT f.doc_id, CAST(d.n_copies AS BIGINT) AS n_copies, f.clf_score
           |FROM fp f JOIN d ON f.doc_id = d.survivor""".stripMargin
      }),
  )
}
