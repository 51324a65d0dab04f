package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Analytics
import graft.sources.TableCatalog

/** Driver contract — see SURVEY.md §2.
  *
  * Every implemented capability from SURVEY.md §2 registers one
  * [[QuerySpec]]: the query plus the DuckDB-equivalent SQL the driver
  * hash-compares it against at sf0.01. Column names/aliases match on
  * both sides (the driver sorts columns by name before hashing).
  */
object SparkEntry {

  /** Flagship on /root/testdata/sf0.001 (driver smoke-checks rows>0):
    * the full reference workflow in one plan — config-driven direct
    * read, aggregation pipeline, producer-map routing, Extended-JSON
    * envelope encoding.
    */
  def entry(spark: SparkSession): DataFrame = {
    val cfg = graft.config.EngineConfig.fromJson(
      """{"direct-read-namespaces": ["test.customer"],
         |"topic-name-prefix": "graft",
         |"producer-map": [{"mongo-namespace": "test", "kafka-topic": "firehose"}],
         |"pipeline": [{"namespace": "test.customer", "direct": true,
         |  "stages": "[{\"$match\": {\"c_acctbal\": {\"$gt\": 0}}}]"}]}""".stripMargin)
    GraftEngine.allDirectReads(spark, cfg, "/root/testdata/sf0.001")
  }

  private def cat(s: SparkSession, dir: String) = TableCatalog(s, dir)

  /** DuckDB Morton code: unrolled Σ ((x»i)&1)·2^2i + ((y»i)&1)·2^2i+1
    * — bit-identical to [[graft.functions.BitInterleave]].
    */
  private val mortonSql: String = (0 until 16).map(i =>
    s"((((__x16 >> $i) & 1) << ${2 * i}) + (((__y16 >> $i) & 1) << ${2 * i + 1}))")
    .mkString(" + ")

  private val baseSpecs: Seq[QuerySpec] = Seq(
    // —— group I: headline analytics ——
    QuerySpec("q1_pricing", (s, dir) => Analytics.pricingSummary(cat(s, dir).lineitem),
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS sum_disc_price,
        |  CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)))), 2) AS DOUBLE) AS sum_charge,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    QuerySpec("q3_shipping", (s, dir) => {
      val t = cat(s, dir)
      Analytics.shippingPriority(t.customer, t.orders, t.lineitem)
    },
      """SELECT o_orderkey, o_orderdate, o_orderpriority,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING' AND l_shipdate > o_orderdate
        |GROUP BY o_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, o_orderkey
        |LIMIT 10""".stripMargin),
    QuerySpec("q5_volume", (s, dir) => {
      val t = cat(s, dir)
      Analytics.localVolume(t.region, t.nation, t.customer, t.supplier,
        t.orders, t.lineitem)
    },
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin),
    QuerySpec("q6_revenue", (s, dir) => Analytics.revenueForecast(cat(s, dir).lineitem),
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.02 AND 0.09
        |  AND l_quantity < 25""".stripMargin),
    QuerySpec("events_funnel", (s, dir) => Analytics.eventsFunnel(cat(s, dir).events),
      """SELECT user_id, purchases,
        |  COALESCE(purchase_value, 0.0) AS purchase_value,
        |  purchases > 0 AS converted
        |FROM (
        |  SELECT user_id,
        |    MIN(CASE WHEN event_type = 'signup' THEN ts END) AS first_signup,
        |    COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchases,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS purchase_value
        |  FROM events GROUP BY user_id
        |) WHERE first_signup IS NOT NULL
        |ORDER BY user_id""".stripMargin),
    // —— I5b: ordered signup→view→purchase funnel ——
    QuerySpec("events_funnel_ordered", (s, dir) =>
      Analytics.orderedFunnel(cat(s, dir).events),
      """WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events
        |            WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, MIN(e.ts) AS t2
        |       FROM events e JOIN s1 USING (user_id)
        |       WHERE e.event_type = 'view' AND e.ts >= s1.t1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, MIN(e.ts) AS t3
        |       FROM events e JOIN s2 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.ts >= s2.t2 GROUP BY 1)
        |SELECT s1.user_id, epoch_us(t1) AS t1_us, epoch_us(t2) AS t2_us,
        |  epoch_us(t3) AS t3_us,
        |  CAST(1 + CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END
        |         + CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END AS INTEGER)
        |    AS steps
        |FROM s1 LEFT JOIN s2 USING (user_id)
        |        LEFT JOIN s3 USING (user_id)""".stripMargin),
    // —— I9: weekly retention cohorts ——
    QuerySpec("events_retention", (s, dir) =>
      Analytics.retentionCohorts(cat(s, dir).events),
      """WITH su AS (SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cw
        |            FROM events WHERE event_type = 'signup' GROUP BY 1),
        |aw AS (SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS w
        |       FROM events)
        |SELECT cw AS cohort_week,
        |  CAST(datediff('day', cw, w) // 7 AS INTEGER) AS week_offset,
        |  COUNT(*) AS n_active
        |FROM su JOIN aw USING (user_id)
        |WHERE w >= cw
        |GROUP BY 1, 2""".stripMargin),
    // —— I10: daily trending event types, top-3 ——
    QuerySpec("events_trending", (s, dir) =>
      Analytics.trendingTypes(cat(s, dir).events),
      """WITH c AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
        |             event_type, COUNT(*) AS n
        |           FROM events GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY day
        |        ORDER BY n DESC, event_type) AS rnk FROM c)
        |SELECT day, event_type, n, CAST(rnk AS INTEGER) AS rnk
        |FROM r WHERE rnk <= 3""".stripMargin),
    QuerySpec("quantiles_sketch", (s, dir) => {
      import org.apache.spark.sql.functions._
      graft.operators.Pipeline100TB.quantileSketch(
        cat(s, dir).lineitem,
        concat_ws("-", col("l_orderkey"), col("l_linenumber")), ratePct = 5,
        Seq(col("l_returnflag")), col("l_extendedprice"),
        Seq("p50_est" -> 0.5, "p95_est" -> 0.95))
    },
      """SELECT l_returnflag, COUNT(*) AS sample_n,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_est,
        |  round(quantile_cont(l_extendedprice, 0.95), 4) AS p95_est
        |FROM lineitem
        |WHERE CAST('0x' || substr(md5(l_orderkey || '-' || l_linenumber), 1, 15) AS BIGINT) % 100 < 5
        |GROUP BY 1""".stripMargin),
    QuerySpec("layout_zorder", (s, dir) =>
      graft.operators.Pipeline100TB.zorderStats(
        cat(s, dir).lineitem, "l_partkey", "l_suppkey"),
      s"""WITH m AS (SELECT MAX(l_partkey) AS __xmax, MAX(l_suppkey) AS __ymax
         |           FROM lineitem),
         |b AS (SELECT l_partkey, l_suppkey,
         |        (l_partkey * 65536) // (__xmax + 1) AS __x16,
         |        (l_suppkey * 65536) // (__ymax + 1) AS __y16
         |      FROM lineitem, m),
         |z AS (SELECT l_partkey, l_suppkey, $mortonSql AS __z FROM b)
         |SELECT __z >> 24 AS file_id, COUNT(*) AS n_rows,
         |  MIN(l_partkey) AS x_min, MAX(l_partkey) AS x_max,
         |  MIN(l_suppkey) AS y_min, MAX(l_suppkey) AS y_max
         |FROM z GROUP BY 1""".stripMargin),
    // —— I7: as-of join (attribution: purchase ← latest prior view) ——
    QuerySpec("join_asof", (s, dir) => {
      import org.apache.spark.sql.functions._
      val ev = cat(s, dir).events
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("v_ts"), col("event_id").as("v_id"))
      graft.operators.TemporalJoin.asOfJoin(
          purchases, views, keys = Seq("user_id"),
          leftTime = "ts", rightTime = "v_ts", rightSeq = "v_id",
          payload = Seq("v_id"))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"),
          unix_micros(col("v_ts")).as("v_ts_us"), col("v_id"))
    },
      """WITH p AS (SELECT event_id, user_id, ts, value FROM events
        |           WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, ts AS v_ts, event_id AS v_id FROM events
        |      WHERE event_type = 'view'),
        |j AS (SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us, p.value,
        |        epoch_us(v.v_ts) AS v_ts_us, v.v_id,
        |        row_number() OVER (PARTITION BY p.event_id
        |                           ORDER BY v.v_ts DESC, v.v_id DESC) AS rn
        |      FROM p LEFT JOIN v
        |        ON v.user_id = p.user_id AND v.v_ts <= p.ts)
        |SELECT event_id, user_id, ts_us, value, v_ts_us, v_id
        |FROM j WHERE rn = 1""".stripMargin),
    // —— I7 forward + tolerance: next view within 1 h after purchase ——
    QuerySpec("join_asof_fwd", (s, dir) => {
      import org.apache.spark.sql.functions._
      val ev = cat(s, dir).events
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("v_ts"), col("event_id").as("v_id"))
      graft.operators.TemporalJoin.asOfJoin(
          purchases, views, keys = Seq("user_id"),
          leftTime = "ts", rightTime = "v_ts", rightSeq = "v_id",
          payload = Seq("v_id"), direction = "forward",
          tolerance = Some(expr("INTERVAL 1 HOUR")))
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("value"),
          unix_micros(col("v_ts")).as("v_ts_us"), col("v_id"))
    },
      """WITH p AS (SELECT event_id, user_id, ts, value FROM events
        |           WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, ts AS v_ts, event_id AS v_id FROM events
        |      WHERE event_type = 'view'),
        |j AS (SELECT p.event_id, p.user_id, epoch_us(p.ts) AS ts_us, p.value,
        |        epoch_us(v.v_ts) AS v_ts_us, v.v_id,
        |        row_number() OVER (PARTITION BY p.event_id
        |                           ORDER BY v.v_ts ASC, v.v_id ASC) AS rn
        |      FROM p LEFT JOIN v
        |        ON v.user_id = p.user_id AND v.v_ts >= p.ts)
        |SELECT event_id, user_id, ts_us, value,
        |  CASE WHEN v_ts_us <= ts_us + 3600000000 THEN v_ts_us END AS v_ts_us,
        |  CASE WHEN v_ts_us <= ts_us + 3600000000 THEN v_id END AS v_id
        |FROM j WHERE rn = 1""".stripMargin),
    // —— I8: interval join (purchases within 6 h after each click) ——
    QuerySpec("join_range", (s, dir) => {
      import org.apache.spark.sql.functions._
      val ev = cat(s, dir).events
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"), col("value").as("p_value"))
      val pairs = graft.operators.TemporalJoin.rangeJoinPairs(
        clicks, purchases, keys = Seq("user_id"),
        leftTime = "ts", rightTime = "p_ts",
        payload = Seq("p_value"), widthSec = 21600L)
      val agg = pairs.groupBy(col("event_id"))
        .agg(count(lit(1)).as("__n"),
          // decimal sum: order-independent, bit-equal to the oracle
          sum(col("p_value").cast("decimal(18,2)")).cast("double").as("__v"))
      clicks.join(agg, Seq("event_id"), "left")
        .select(col("event_id"), col("user_id"),
          coalesce(col("__n"), lit(0L)).as("n_purch"),
          col("__v").as("purch_value"))
    },
      """WITH c AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts AS p_ts, value AS p_value FROM events
        |      WHERE event_type = 'purchase')
        |SELECT c.event_id, c.user_id,
        |  count(p.p_ts) AS n_purch,
        |  CAST(SUM(CAST(p.p_value AS DECIMAL(18,2))) AS DOUBLE) AS purch_value
        |FROM c LEFT JOIN p
        |  ON p.user_id = c.user_id AND p.p_ts > c.ts
        | AND p.p_ts <= c.ts + INTERVAL 6 HOUR
        |GROUP BY 1, 2""".stripMargin),
    // —— I8 salted (salt = 4): pairs must be IDENTICAL to unsalted,
    //    so the oracle is join_range's SQL verbatim ——
    QuerySpec("join_range_salted", (s, dir) => {
      import org.apache.spark.sql.functions._
      val ev = cat(s, dir).events
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"), col("value").as("p_value"))
      val pairs = graft.operators.TemporalJoin.rangeJoinPairs(
        clicks, purchases, keys = Seq("user_id"),
        leftTime = "ts", rightTime = "p_ts",
        payload = Seq("p_value"), widthSec = 21600L, salt = 4)
      val agg = pairs.groupBy(col("event_id"))
        .agg(count(lit(1)).as("__n"),
          sum(col("p_value").cast("decimal(18,2)")).cast("double").as("__v"))
      clicks.join(agg, Seq("event_id"), "left")
        .select(col("event_id"), col("user_id"),
          coalesce(col("__n"), lit(0L)).as("n_purch"),
          col("__v").as("purch_value"))
    },
      """WITH c AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts AS p_ts, value AS p_value FROM events
        |      WHERE event_type = 'purchase')
        |SELECT c.event_id, c.user_id,
        |  count(p.p_ts) AS n_purch,
        |  CAST(SUM(CAST(p.p_value AS DECIMAL(18,2))) AS DOUBLE) AS purch_value
        |FROM c LEFT JOIN p
        |  ON p.user_id = c.user_id AND p.p_ts > c.ts
        | AND p.p_ts <= c.ts + INTERVAL 6 HOUR
        |GROUP BY 1, 2""".stripMargin),
  )

  /** Every registered query, one spec per name; a repeated name fails
    * here, at object construction. Defined after `baseSpecs`, because
    * object vals initialise in order.
    */
  val specs: Seq[QuerySpec] = QuerySpec.unique(
    baseSpecs ++ graft.plans.PipelineQueries.specs ++
      graft.operators.CdcQueries.specs ++
      graft.functions.EncodingQueries.specs ++
      graft.operators.LlmQueries.specs ++
      graft.streaming.StreamQueries.specs ++
      graft.plans.ExtendedQueries.specs)

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(q => q.name -> q.run).toMap

  /** DuckDB SQL per query, runnable on the same parquet tables. */
  val oracleSql: Map[String, String] =
    specs.map(q => q.name -> q.oracleSql).toMap
}
