package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.QuerySpec
import graft.sources.TableCatalog

/** SURVEY.md §2 group C: one registered query per pipeline capability,
  * each a JSON pipeline compiled by [[MongoPipeline]] — exercising the
  * translator end-to-end exactly as route81 users configure pipelines
  * (TOML `[[pipeline]] stages = "[...json...]"`).
  */
object PipelineQueries {

  private def run(s: SparkSession, dir: String, table: String, pipeline: String): DataFrame = {
    val cat = TableCatalog(s, dir)
    MongoPipeline(cat.table(table), pipeline, cat.table)
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("pipe_match", (s, dir) => run(s, dir, "lineitem",
      """[{"$match": {"l_quantity": {"$lt": 5}, "l_returnflag": "R"}},
         {"$project": {"l_orderkey": 1, "l_linenumber": 1, "l_quantity": 1}}]"""),
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |WHERE l_quantity < 5 AND l_returnflag = 'R'""".stripMargin),
    QuerySpec("pipe_match_in_regex", (s, dir) => run(s, dir, "orders",
      """[{"$match": {"$and": [
           {"o_orderstatus": {"$in": ["F", "O"]}},
           {"o_orderpriority": {"$regex": "^[12]-"}},
           {"o_orderpriority": {"$regex": "urgent|high", "$options": "i"}},
           {"o_totalprice": {"$gte": 1000, "$lte": 150000}},
           {"$or": [{"o_custkey": {"$lt": 50}}, {"o_custkey": {"$gte": 100}}]}]}},
         {"$project": {"o_orderkey": 1, "o_custkey": 1, "o_totalprice": 1}}]"""),
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderstatus IN ('F','O')
        |  AND regexp_matches(o_orderpriority, '^[12]-')
        |  AND regexp_matches(o_orderpriority, 'urgent|high', 'i')
        |  AND o_totalprice BETWEEN 1000 AND 150000
        |  AND (o_custkey < 50 OR o_custkey >= 100)""".stripMargin),
    QuerySpec("pipe_project", (s, dir) => run(s, dir, "customer",
      """[{"$project": {"c_custkey": 1,
           "name_upper": {"$toUpper": "$c_name"},
           "bal_band": {"$cond": [{"$gte": ["$c_acctbal", 0]}, "pos", "neg"]}}}]"""),
      """SELECT c_custkey, upper(c_name) AS name_upper,
        |  CASE WHEN c_acctbal >= 0 THEN 'pos' ELSE 'neg' END AS bal_band
        |FROM customer""".stripMargin),
    QuerySpec("pipe_set_unset", (s, dir) => run(s, dir, "part",
      """[{"$set": {"retail_cents": {"$toLong": {"$round": [{"$multiply": ["$p_retailprice", 100]}, 0]}}}},
         {"$unset": "p_type"}]"""),
      """SELECT p_partkey, p_name, p_brand, p_size, p_retailprice,
        |  CAST(round(p_retailprice*100, 0) AS BIGINT) AS retail_cents
        |FROM part""".stripMargin),
    QuerySpec("pipe_group", (s, dir) => run(s, dir, "lineitem",
      """[{"$group": {"_id": "$l_returnflag",
           "n": {"$sum": 1},
           "total_qty": {"$sum": "$l_quantity"},
           "avg_qty": {"$avg": "$l_quantity"},
           "max_price": {"$max": "$l_extendedprice"},
           "min_disc": {"$min": "$l_discount"},
           "revenue_cents": {"$sum": {"$toLong": {"$round": [{"$multiply": ["$l_extendedprice", 100]}, 0]}}}}}]"""),
      """SELECT l_returnflag AS _id, COUNT(*) AS n,
        |  SUM(l_quantity) AS total_qty, AVG(l_quantity) AS avg_qty,
        |  MAX(l_extendedprice) AS max_price, MIN(l_discount) AS min_disc,
        |  CAST(SUM(CAST(round(l_extendedprice*100, 0) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem GROUP BY 1""".stripMargin),
    QuerySpec("pipe_group_collect", (s, dir) => {
      import org.apache.spark.sql.functions._
      // The driver's pandas compare can't sort rows on array columns, so
      // Verify serializes the set to its canonical "[a,b,c]" string form.
      run(s, dir, "customer",
        """[{"$group": {"_id": "$c_mktsegment",
             "nations": {"$addToSet": "$c_nationkey"},
             "n": {"$sum": 1}}}]""")
        .withColumn("nations",
          concat(lit("["), array_join(col("nations"), ","), lit("]")))
    },
      """SELECT c_mktsegment AS _id,
        |  '[' || array_to_string(list_sort(list(DISTINCT c_nationkey)), ',') || ']' AS nations,
        |  COUNT(*) AS n
        |FROM customer GROUP BY 1""".stripMargin),
    QuerySpec("pipe_first_last", (s, dir) => run(s, dir, "events",
      """[{"$sort": {"event_id": 1}},
         {"$group": {"_id": "$user_id",
           "first_type": {"$first": "$event_type"},
           "last_value": {"$last": "$value"}}}]"""),
      """SELECT user_id AS _id,
        |  arg_min(event_type, event_id) AS first_type,
        |  arg_max(value, event_id) AS last_value
        |FROM events GROUP BY 1""".stripMargin),
    QuerySpec("pipe_topn", (s, dir) => {
      import org.apache.spark.sql.functions._
      // Bounded top-n aggregate (BoundedTopK): ≤ n rows per group ship
      // through the shuffle. Array serialized for the driver compare.
      run(s, dir, "events",
        """[{"$group": {"_id": "$event_type",
             "top_ids": {"$topN": {"output": "$event_id",
                                   "sortBy": {"value": -1}, "n": 3}},
             "worst": {"$bottom": {"output": "$event_id",
                                   "sortBy": {"value": -1}}}}}]""")
        .withColumn("top_ids",
          concat(lit("["), array_join(col("top_ids"), ","), lit("]")))
    },
      """WITH l AS (SELECT event_type AS _id,
        |  list(event_id ORDER BY value DESC, event_id) AS ids
        |  FROM events GROUP BY 1)
        |SELECT _id,
        |  '[' || array_to_string(ids[1:3], ',') || ']' AS top_ids,
        |  ids[-1] AS worst
        |FROM l""".stripMargin),
    QuerySpec("pipe_sort_skip_limit", (s, dir) => run(s, dir, "orders",
      """[{"$sort": {"o_totalprice": -1, "o_orderkey": 1}},
         {"$skip": 5}, {"$limit": 10},
         {"$project": {"o_orderkey": 1, "o_totalprice": 1}}]"""),
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10 OFFSET 5""".stripMargin),
    QuerySpec("pipe_unwind", (s, dir) => run(s, dir, "documents",
      """[{"$set": {"words": {"$split": ["$text", " "]}}},
         {"$unwind": {"path": "$words", "includeArrayIndex": "idx"}},
         {"$match": {"idx": {"$lt": 3}}},
         {"$project": {"doc_id": 1, "idx": 1, "words": 1}}]"""),
      """SELECT doc_id, CAST(i - 1 AS INTEGER) AS idx,
        |  string_split(text, ' ')[i] AS words
        |FROM documents, generate_series(1, 3) t(i)
        |WHERE i <= len(string_split(text, ' '))""".stripMargin),
    QuerySpec("pipe_lookup", (s, dir) => run(s, dir, "orders",
      """[{"$lookup": {"from": "customer", "localField": "o_custkey",
                       "foreignField": "c_custkey", "as": "cust"}},
         {"$unwind": "$cust"},
         {"$project": {"o_orderkey": 1, "cname": "$cust.c_name"}}]"""),
      """SELECT o_orderkey, c_name AS cname FROM orders
        |JOIN customer ON o_custkey = c_custkey""".stripMargin),
    // array-valued localField: Mongo's "any element matches" equality
    QuerySpec("pipe_lookup_array", (s, dir) => run(s, dir, "orders",
      """[{"$match": {"o_orderkey": {"$lt": 3000}}},
         {"$set": {"cks": [{"$toLong": "$o_custkey"},
                           {"$add": [{"$toLong": "$o_custkey"}, 1]}]}},
         {"$lookup": {"from": "customer", "localField": "cks",
                      "foreignField": "c_custkey", "as": "cust"}},
         {"$unwind": "$cust"},
         {"$group": {"_id": "$o_orderkey", "n": {"$sum": 1},
           "bal_cents": {"$sum": {"$toLong": {"$round": [{"$multiply": ["$cust.c_acctbal", 100]}, 0]}}}}}]"""),
      """SELECT o_orderkey AS _id, COUNT(*) AS n,
        |  CAST(SUM(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT)
        |    AS bal_cents
        |FROM orders JOIN customer
        |  ON c_custkey = o_custkey OR c_custkey = o_custkey + 1
        |WHERE o_orderkey < 3000
        |GROUP BY 1""".stripMargin),
    // array-valued foreignField over REAL array data: per-order part
    // lists derived from lineitem resolve as the `from` table, so the
    // foreign-array explode+pack path is oracle-checked end-to-end
    QuerySpec("pipe_lookup_array_fk", (s, dir) => {
      import org.apache.spark.sql.functions._
      val cat = TableCatalog(s, dir)
      val orderParts = cat.table("lineitem")
        .groupBy(col("l_orderkey").as("ok"))
        .agg(array_sort(collect_set(col("l_partkey"))).as("pks"))
      val tables: String => DataFrame = {
        case "order_parts" => orderParts
        case n => cat.table(n)
      }
      MongoPipeline(cat.table("part"),
        """[{"$match": {"p_partkey": {"$lte": 400}}},
           {"$lookup": {"from": "order_parts", "localField": "p_partkey",
                        "foreignField": "pks", "as": "ords"}},
           {"$unwind": "$ords"},
           {"$group": {"_id": "$p_partkey", "n_orders": {"$sum": 1},
                       "okey_sum": {"$sum": "$ords.ok"}}}]""", tables)
    },
      """WITH m AS (SELECT DISTINCT l_partkey, l_orderkey FROM lineitem)
        |SELECT p_partkey AS _id, COUNT(*) AS n_orders,
        |  CAST(SUM(l_orderkey) AS BIGINT) AS okey_sum
        |FROM part JOIN m ON l_partkey = p_partkey
        |WHERE p_partkey <= 400
        |GROUP BY 1""".stripMargin),
    // BOTH sides array-valued (self-lookup of sparse per-order part
    // lists): element-overlap matches plus the whole-array equality
    // rule, which the deliberately-empty lists make observable
    // (empty pks match exactly the other empty-pks orders)
    QuerySpec("pipe_lookup_array_whole", (s, dir) => {
      import org.apache.spark.sql.functions._
      val cat = TableCatalog(s, dir)
      val op = cat.table("lineitem").filter(col("l_orderkey") < 1500)
        .groupBy(col("l_orderkey").as("ok"))
        .agg(array_sort(array_compact(collect_set(
          when(col("l_partkey") % 7 === 0, col("l_partkey"))))).as("pks"))
      val tables: String => DataFrame = {
        case "op2" => op
        case n => cat.table(n)
      }
      MongoPipeline(op,
        """[{"$lookup": {"from": "op2", "localField": "pks",
                         "foreignField": "pks", "as": "m"}},
           {"$unwind": "$m"},
           {"$group": {"_id": "$ok", "n": {"$sum": 1},
                       "ok_sum": {"$sum": "$m.ok"}}}]""", tables)
    },
      """WITH op AS (
        |  SELECT l_orderkey AS ok,
        |    COALESCE(list_sort(list(DISTINCT l_partkey)
        |      FILTER (WHERE l_partkey % 7 = 0)), []) AS pks
        |  FROM lineitem WHERE l_orderkey < 1500 GROUP BY 1)
        |SELECT a.ok AS _id, COUNT(*) AS n, CAST(SUM(b.ok) AS BIGINT) AS ok_sum
        |FROM op a JOIN op b
        |  ON len(list_intersect(a.pks, b.pks)) > 0 OR a.pks = b.pks
        |GROUP BY 1""".stripMargin),
    QuerySpec("pipe_count", (s, dir) => run(s, dir, "lineitem",
      """[{"$match": {"l_quantity": {"$gt": 45}}}, {"$count": "big"}]"""),
      "SELECT COUNT(*) AS big FROM lineitem WHERE l_quantity > 45"),
    QuerySpec("pipe_bucket", (s, dir) => run(s, dir, "orders",
      """[{"$bucket": {"groupBy": "$o_totalprice",
           "boundaries": [0, 50000, 150000, 400000], "default": "other",
           "output": {"n": {"$sum": 1},
                      "total_cents": {"$sum": {"$toLong": {"$round": [{"$multiply": ["$o_totalprice", 100]}, 0]}}}}}}]"""),
      """SELECT CASE
        |    WHEN o_totalprice >= 0 AND o_totalprice < 50000 THEN '0'
        |    WHEN o_totalprice >= 50000 AND o_totalprice < 150000 THEN '50000'
        |    WHEN o_totalprice >= 150000 AND o_totalprice < 400000 THEN '150000'
        |    ELSE 'other' END AS _id,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(round(o_totalprice*100, 0) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),
    QuerySpec("pipe_sortbycount", (s, dir) => run(s, dir, "events",
      """[{"$sortByCount": "$event_type"}]"""),
      """SELECT event_type AS _id, COUNT(*) AS count FROM events
        |GROUP BY 1 ORDER BY count DESC, _id""".stripMargin),
    QuerySpec("pipe_expr", (s, dir) => run(s, dir, "lineitem",
      """[{"$project": {"l_orderkey": 1, "l_linenumber": 1,
           "gross_cents": {"$toLong": {"$round": [{"$multiply": ["$l_extendedprice", 100]}, 0]}},
           "label": {"$concat": [{"$toLower": "$l_returnflag"}, "-", {"$toString": "$l_linenumber"}]},
           "ship_year": {"$year": "$l_shipdate"},
           "qty_band": {"$cond": {"if": {"$gte": ["$l_quantity", 25]}, "then": "hi", "else": "lo"}},
           "half_qty": {"$divide": ["$l_quantity", 2]},
           "qty_mod": {"$mod": [{"$toLong": "$l_quantity"}, 7]}}}]"""),
      """SELECT l_orderkey, l_linenumber,
        |  CAST(round(l_extendedprice*100, 0) AS BIGINT) AS gross_cents,
        |  lower(l_returnflag) || '-' || CAST(l_linenumber AS VARCHAR) AS label,
        |  CAST(year(l_shipdate) AS INTEGER) AS ship_year,
        |  CASE WHEN l_quantity >= 25 THEN 'hi' ELSE 'lo' END AS qty_band,
        |  l_quantity / 2 AS half_qty,
        |  CAST(l_quantity AS BIGINT) % 7 AS qty_mod
        |FROM lineitem""".stripMargin),
    QuerySpec("pipe_replaceroot", (s, dir) => run(s, dir, "customer",
      """[{"$project": {"info": {"ck": "$c_custkey", "seg": "$c_mktsegment"}}},
         {"$replaceRoot": {"newRoot": "$info"}}]"""),
      "SELECT c_custkey AS ck, c_mktsegment AS seg FROM customer"),
    QuerySpec("pipe_switch", (s, dir) => run(s, dir, "orders",
      """[{"$project": {"o_orderkey": 1, "band": {"$switch": {
           "branches": [
             {"case": {"$gte": ["$o_totalprice", 300000]}, "then": "high"},
             {"case": {"$gte": ["$o_totalprice", 100000]}, "then": "mid"}],
           "default": "low"}}}}]"""),
      """SELECT o_orderkey,
        |  CASE WHEN o_totalprice >= 300000 THEN 'high'
        |       WHEN o_totalprice >= 100000 THEN 'mid'
        |       ELSE 'low' END AS band
        |FROM orders""".stripMargin),
    QuerySpec("pipe_datetostring", (s, dir) => run(s, dir, "lineitem",
      """[{"$project": {"l_orderkey": 1, "l_linenumber": 1,
           "ship_day": {"$dateToString": {"format": "%Y-%m-%d", "date": "$l_shipdate"}}}}]"""),
      """SELECT l_orderkey, l_linenumber,
        |  strftime(l_shipdate, '%Y-%m-%d') AS ship_day
        |FROM lineitem""".stripMargin),
    QuerySpec("skew_salted_agg", (s, dir) => {
      import org.apache.spark.sql.functions._
      val ev = graft.sources.TableCatalog(s, dir).events
      graft.operators.Skew.saltedAgg(ev, "event_type", col("event_id"),
        Seq(
          "n" -> count(lit(1)),
          "value_cents" -> sum(expr("CAST(round(value * 100, 0) AS BIGINT)"))))
    },
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events GROUP BY event_type""".stripMargin),
  )
}
