package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.operators.Pipeline100TB
import graft.plans.{MongoPipeline, PipelineSinks}
import graft.sources.TableCatalog

/** Round-2 translator stages ($setWindowFields, $unionWith, $sample,
  * $bucketAuto, $densify/$fill, $graphLookup, correlated $lookup),
  * $merge sink semantics, and the 100 TB pipeline operators.
  */
class ExtendedPipelineSpec extends SparkTestBase {

  private lazy val cat = TableCatalog(spark, sfDir)
  private def pipe(table: String, json: String) =
    MongoPipeline(cat.table(table), json, cat.table)

  test("$setWindowFields running sum is monotone per partition and resets across keys") {
    val rows = pipe("orders",
      """[{"$setWindowFields": {"partitionBy": "$o_custkey",
           "sortBy": {"o_orderkey": 1},
           "output": {"run": {"$sum": "$o_totalprice",
                              "window": {"documents": ["unbounded", "current"]}},
                      "rn": {"$documentNumber": {}}}}},
          {"$project": {"o_custkey": 1, "o_orderkey": 1, "run": 1, "rn": 1}}]""")
      .collect()
    val byCust = rows.groupBy(_.getAs[Long]("o_custkey"))
    byCust.values.foreach { g =>
      val sorted = g.sortBy(_.getAs[Long]("o_orderkey"))
      val runs = sorted.map(_.getAs[Double]("run"))
      assert(runs.zip(runs.tail).forall { case (a, b) => b >= a })
      assert(sorted.map(_.getAs[Int]("rn")).toSeq == (1 to g.length))
    }
  }

  test("$shift by -1 yields the previous document's value with default") {
    val rows = pipe("orders",
      """[{"$setWindowFields": {"partitionBy": "$o_custkey",
           "sortBy": {"o_orderkey": 1},
           "output": {"prev_key": {"$shift": {"output": "$o_orderkey", "by": -1, "default": -1}}}}},
          {"$project": {"o_custkey": 1, "o_orderkey": 1, "prev_key": 1}}]""")
      .collect()
    rows.groupBy(_.getAs[Long]("o_custkey")).values.foreach { g =>
      val sorted = g.sortBy(_.getAs[Long]("o_orderkey"))
      assert(sorted.head.getAs[Long]("prev_key") == -1L)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getAs[Long]("prev_key") == a.getAs[Long]("o_orderkey"))
        case _ => ()
      }
    }
  }

  test("$unionWith combines both collections, null-filling missing columns") {
    val n = pipe("nation", """[{"$unionWith": "region"}]""").count()
    assert(n == cat.table("nation").count() + cat.table("region").count())
  }

  test("$sample is deterministic, uniform-ish, and bounded") {
    val q = """[{"$project": {"o_orderkey": 1}}, {"$sample": {"size": 40}}]"""
    val a = pipe("orders", q).collect().map(_.getLong(0)).toSet
    val b = pipe("orders", q).collect().map(_.getLong(0)).toSet
    assert(a == b && a.size == 40)
  }

  test("$bucketAuto produces n contiguous buckets covering all rows") {
    val rows = pipe("orders",
      """[{"$bucketAuto": {"groupBy": "$o_totalprice", "buckets": 5}}]""")
      .orderBy("_id_min").collect()
    assert(rows.length == 5)
    assert(rows.map(_.getAs[Long]("count")).sum == cat.table("orders").count())
    val maxes = rows.map(_.getAs[Double]("_id_max"))
    val mins = rows.map(_.getAs[Double]("_id_min"))
    mins.zip(maxes).foreach { case (lo, hi) => assert(lo <= hi) }
    maxes.init.zip(mins.tail).foreach { case (hi, nextLo) => assert(hi <= nextLo) }
  }

  test("$densify fills interior grid points and $fill locf carries values") {
    import spark.implicits._
    val df = Seq(("a", 0L, 1.0), ("a", 3L, 4.0), ("b", 10L, 2.0))
      .toDF("k", "x", "v")
    val out = MongoPipeline(df,
      """[{"$densify": {"field": "x", "partitionByFields": ["k"],
                        "range": {"step": 1, "bounds": "partition"}}},
          {"$fill": {"partitionBy": "$k", "sortBy": {"x": 1},
                     "output": {"v": {"method": "locf"}}}}]""")
      .orderBy("k", "x").collect()
    assert(out.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq ==
      Seq(("a", 0L, 1.0), ("a", 1L, 1.0), ("a", 2L, 1.0), ("a", 3L, 4.0),
          ("b", 10L, 2.0)))
  }

  test("$sampleRate keeps a deterministic fraction, composable with predicates") {
    val q = """[{"$match": {"$sampleRate": 0.3, "o_totalprice": {"$gt": 0}}},
                {"$project": {"o_orderkey": 1}}]"""
    val a = pipe("orders", q).collect().map(_.getLong(0)).toSet
    val b = pipe("orders", q).collect().map(_.getLong(0)).toSet
    assert(a == b)
    val total = cat.table("orders").count().toDouble
    assert(math.abs(a.size / total - 0.3) < 0.1, s"rate ${a.size / total}")
  }

  test("$densify bounds full spans every partition over the global range") {
    import spark.implicits._
    val df = Seq(("a", 0L, 1.0), ("a", 1L, 2.0), ("b", 3L, 5.0))
      .toDF("k", "x", "v")
    val out = MongoPipeline(df,
      """[{"$densify": {"field": "x", "partitionByFields": ["k"],
                        "range": {"step": 1, "bounds": "full"}}}]""")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    // both partitions get grid points 0..3
    assert(out == (for (k <- Seq("a", "b"); x <- 0L to 3L) yield (k, x)).toSet)
  }

  test("$fill linear interpolates interior gaps, leaves endpoints null") {
    import spark.implicits._
    val df = Seq(
      ("a", 0L, Some(10.0)), ("a", 1L, None), ("a", 2L, None),
      ("a", 3L, Some(40.0)), ("a", 4L, None),
      ("b", 0L, None), ("b", 1L, Some(5.0)))
      .toDF("k", "x", "v")
    val out = MongoPipeline(df,
      """[{"$fill": {"partitionBy": "$k", "sortBy": {"x": 1},
                     "output": {"v": {"method": "linear"}}}}]""")
      .orderBy("k", "x").collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(out.toSeq == Seq(
      ("a", 0L, Some(10.0)), ("a", 1L, Some(20.0)), ("a", 2L, Some(30.0)),
      ("a", 3L, Some(40.0)), ("a", 4L, None), // no following point
      ("b", 0L, None), ("b", 1L, Some(5.0))))
  }

  test("$graphLookup walks the chain to maxDepth with cycle safety") {
    import spark.implicits._
    // 1→2→3→1 cycle plus isolated 9
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 1L), (9L, 99L)).toDF("id", "next")
    val out = MongoPipeline(chain,
      """[{"$graphLookup": {"from": "chain", "startWith": "$next",
            "connectFromField": "next", "connectToField": "id",
            "as": "reached", "maxDepth": 10, "depthField": "d"}},
          {"$unwind": {"path": "$reached", "preserveNullAndEmptyArrays": true}},
          {"$project": {"id": 1, "r": "$reached.id", "d": "$reached.d"}}]""",
      name => chain).collect()
    val byId = out.groupBy(_.getAs[Long]("id"))
    // the cycle: every node reaches all three exactly once (min depth)
    Seq(1L, 2L, 3L).foreach { id =>
      val rs = byId(id).map(r => r.getAs[Long]("r")).toSet
      assert(rs == Set(1L, 2L, 3L), s"node $id reached $rs")
    }
    // 9 points at 99 which doesn't exist → no reached rows, row preserved
    assert(byId(9L).length == 1 && byId(9L).head.isNullAt(1))
  }

  test("correlated $lookup packs only rows matching the let-bound condition") {
    import spark.implicits._
    val left = Seq((1L, 5L), (2L, 100L)).toDF("id", "cut")
    val right = Seq((1L, 3L), (1L, 7L), (2L, 50L), (3L, 1L)).toDF("fid", "fv")
    val out = MongoPipeline(left,
      """[{"$lookup": {"from": "r", "let": {"lid": "$id", "c": "$cut"},
            "pipeline": [{"$match": {"$expr": {"$and": [
              {"$eq": ["$fid", "$$lid"]}, {"$gt": ["$fv", "$$c"]}]}}}],
            "as": "hits"}},
          {"$project": {"id": 1, "n": {"$size": "$hits"}}}]""",
      name => right).collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(out == Map(1L -> 1, 2L -> 0)) // only (1,7) passes fv > cut
  }

  test("$setWindowFields range frame sums values within the sort-key span") {
    import spark.implicits._
    val df = Seq((1L, 0L, 1.0), (1L, 5L, 2.0), (1L, 11L, 4.0), (2L, 0L, 8.0))
      .toDF("k", "t", "v")
    val out = MongoPipeline(df,
      """[{"$setWindowFields": {"partitionBy": "$k", "sortBy": {"t": 1},
           "output": {"w": {"$sum": "$v",
                            "window": {"range": [-5, "current"]}}}}}]""")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("w")).toMap
    // t=5 sees t∈[0,5] → 3.0; t=11 sees t∈[6,11] → 4.0 only
    assert(out == Map((1L, 0L) -> 1.0, (1L, 5L) -> 3.0, (1L, 11L) -> 4.0,
      (2L, 0L) -> 8.0))
  }

  test("uncorrelated $lookup pipeline packs one shared result for every row") {
    import spark.implicits._
    val left = Seq(1L, 2L).toDF("id")
    val right = Seq((10L, "x"), (20L, "y"), (30L, "z")).toDF("rid", "tag")
    val out = MongoPipeline(left,
      """[{"$lookup": {"from": "r",
            "pipeline": [{"$match": {"rid": {"$gte": 20}}},
                         {"$project": {"rid": 1}}],
            "as": "all_big"}},
          {"$project": {"id": 1, "n": {"$size": "$all_big"}}}]""",
      name => right).collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(out == Map(1L -> 2, 2L -> 2))
  }

  test("$merge semantics: replace, keepExisting, merge, discard") {
    import spark.implicits._
    val target = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val source = Seq((2L, "B"), (3L, "C")).toDF("k", "v")
    def run(wm: String, wnm: String) =
      PipelineSinks.merge(target, source, "k", wm, wnm)
        .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(run("replace", "insert") == Map(1L -> "a", 2L -> "B", 3L -> "C"))
    assert(run("keepExisting", "insert") == Map(1L -> "a", 2L -> "b", 3L -> "C"))
    assert(run("replace", "discard") == Map(1L -> "a", 2L -> "B"))
    val src2 = Seq((2L, null.asInstanceOf[String]), (3L, "C")).toDF("k", "v")
    assert(PipelineSinks.merge(target, src2, "k", "merge", "insert")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap ==
      Map(1L -> "a", 2L -> "b", 3L -> "C")) // null source field keeps existing
  }

  test("$merge whenMatched update pipeline mixes target and $$new values") {
    import spark.implicits._
    val target = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
    val source = Seq((2L, 5.0), (3L, 30.0)).toDF("k", "v")
    val out = PipelineSinks.applyMergeStage(source,
      """{"into": "t", "on": "k",
          "whenMatched": [{"$set": {"v": {"$add": ["$v", "$$new.v"]}}}],
          "whenNotMatched": "insert"}""",
      name => target)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    // matched key 2: existing 20 + incoming 5; key 3 inserted as-is
    assert(out == Map(1L -> 10.0, 2L -> 25.0, 3L -> 30.0))
  }

  test("$merge update pipeline: whenNotMatched fail raises on a new key, unknown modes are rejected") {
    import spark.implicits._
    val target = Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v")
    def stage(wnm: String) =
      s"""{"into": "t", "on": "k",
          "whenMatched": [{"$$set": {"v": {"$$add": ["$$v", "$$$$new.v"]}}}],
          "whenNotMatched": "$wnm"}"""
    def run(source: org.apache.spark.sql.DataFrame, wnm: String) =
      PipelineSinks.applyMergeStage(source, stage(wnm), _ => target)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    // only matched keys: nothing to fail on
    assert(run(Seq((2L, 5.0)).toDF("k", "v"), "fail") == Map(1L -> 10.0, 2L -> 25.0))
    val err = intercept[Exception](run(Seq((2L, 5.0), (3L, 30.0)).toDF("k", "v"), "fail"))
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("new key: 3")), err.toString)
    intercept[IllegalArgumentException](run(Seq((3L, 30.0)).toDF("k", "v"), "upsert"))
    intercept[IllegalArgumentException](run(Seq((3L, 30.0, 1)).toDF("k", "v", "x"), "insert"))
  }

  test("$setWindowFields stdDev and covariance window operators") {
    import spark.implicits._
    val df = Seq((1L, 1.0, 2.0), (1L, 2.0, 4.0), (1L, 3.0, 6.0))
      .toDF("k", "x", "y")
    val r = MongoPipeline(df,
      """[{"$setWindowFields": {"partitionBy": "$k", "sortBy": {"x": 1},
           "output": {
             "sd": {"$stdDevPop": "$x",
                    "window": {"documents": ["unbounded", "unbounded"]}},
             "cv": {"$covariancePop": ["$x", "$y"],
                    "window": {"documents": ["unbounded", "unbounded"]}}}}},
          {"$limit": 1}]""").collect()(0)
    assert(math.abs(r.getAs[Double]("sd") - math.sqrt(2.0 / 3)) < 1e-12)
    assert(math.abs(r.getAs[Double]("cv") - 4.0 / 3) < 1e-12)
  }

  test("$derivative and $integral time-series window operators") {
    import spark.implicits._
    // y = 2t: derivative 2 everywhere, integral of [0,4] = 16
    val df = Seq((1L, 0.0, 0.0), (1L, 2.0, 4.0), (1L, 4.0, 8.0))
      .toDF("k", "t", "y")
    val rows = MongoPipeline(df,
      """[{"$setWindowFields": {"partitionBy": "$k", "sortBy": {"t": 1},
           "output": {
             "dv": {"$derivative": {"input": "$y"},
                    "window": {"documents": [-1, 0]}},
             "ig": {"$integral": {"input": "$y"},
                    "window": {"documents": ["unbounded", "current"]}}}}}]""")
      .orderBy("t").collect()
    assert(rows.drop(1).forall(r => math.abs(r.getAs[Double]("dv") - 2.0) < 1e-12))
    assert(math.abs(rows.last.getAs[Double]("ig") - 16.0) < 1e-12)
    // time-unit variant: per-hour derivative over timestamps
    val ts = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 10.0),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 02:00:00"), 16.0))
      .toDF("k", "t", "y")
    val d = MongoPipeline(ts,
      """[{"$setWindowFields": {"partitionBy": "$k", "sortBy": {"t": 1},
           "output": {"dv": {"$derivative": {"input": "$y", "unit": "hour"},
                             "window": {"documents": ["unbounded", "unbounded"]}}}}},
          {"$limit": 1}]""").collect()(0).getAs[Double]("dv")
    assert(math.abs(d - 3.0) < 1e-12) // 6 units over 2 hours
  }

  test("expression pack: math/date/string/array ops not covered by the oracle") {
    val r = pipe("lineitem",
      """[{"$limit": 1},
          {"$project": {
             "e": {"$round": [{"$exp": 1}, 6]},
             "l": {"$round": [{"$ln": {"$exp": 1}}, 6]},
             "lg": {"$round": [{"$log10": 1000}, 6]},
             "lb": {"$round": [{"$log": [8, 2]}, 6]},
             "rv": {"$reverseArray": {"$range": [0, 3]}},
             "sl": {"$slice": [{"$range": [0, 10]}, -3]},
             "io": {"$indexOfArray": [{"$range": [5, 10]}, 7]},
             "ic": {"$indexOfCP": ["abcde", "cd"]},
             "sd": {"$setDifference": [{"$range": [0, 4]}, {"$range": [2, 6]}]},
             "mo": {"$mergeObjects": [null, {"a": 1}]},
             "at": {"$allElementsTrue": [[true, true]]},
             "an": {"$anyElementTrue": [[false, true]]}}}]""").collect()(0)
    assert(math.abs(r.getAs[Double]("e") - 2.718282) < 1e-6)
    assert(r.getAs[Double]("l") == 1.0)
    assert(r.getAs[Double]("lg") == 3.0)
    assert(r.getAs[Double]("lb") == 3.0)
    assert(r.getSeq[Int](r.fieldIndex("rv")).toSeq == Seq(2, 1, 0))
    assert(r.getSeq[Int](r.fieldIndex("sl")).toSeq == Seq(7, 8, 9))
    assert(r.getAs[Int]("io") == 2)
    assert(r.getAs[Int]("ic") == 2)
    assert(r.getSeq[Int](r.fieldIndex("sd")).toSeq == Seq(0, 1))
    assert(r.getAs[org.apache.spark.sql.Row]("mo").getAs[Long]("a") == 1L)
    assert(r.getAs[Boolean]("at") && r.getAs[Boolean]("an"))
  }

  test("$let, array-fold aggregators, $sortArray, $zip, and array matchers") {
    import spark.implicits._
    val df = Seq((Seq(3.0, 1.0, 2.0), Seq("a", "b"))).toDF("xs", "tags")
    val r = MongoPipeline(df,
      """[{"$project": {
            "mx": {"$max": "$xs"}, "mn": {"$min": "$xs"},
            "sm": {"$sum": "$xs"}, "av": {"$avg": "$xs"},
            "mx2": {"$max": [10, 4]},
            "srt": {"$sortArray": {"input": "$xs", "sortBy": -1}},
            "zp": {"$size": {"$zip": {"inputs": ["$xs", "$xs"]}}},
            "lt": {"$let": {"vars": {"t": {"$sum": "$xs"}},
                            "in": {"$multiply": ["$$t", 2]}}}}}]""").collect()(0)
    assert(r.getAs[Double]("mx") == 3.0 && r.getAs[Double]("mn") == 1.0)
    assert(r.getAs[Double]("sm") == 6.0 && r.getAs[Double]("av") == 2.0)
    assert(r.getAs[Long]("mx2") == 10L)
    assert(r.getSeq[Double](r.fieldIndex("srt")).toSeq == Seq(3.0, 2.0, 1.0))
    assert(r.getAs[Int]("zp") == 3)
    assert(r.getAs[Double]("lt") == 12.0)
    // $match array operators
    val m = MongoPipeline(df,
      """[{"$match": {"xs": {"$size": 3},
                      "tags": {"$all": ["a", "b"]},
                      "$and": [{"xs": {"$elemMatch": {"$gte": 2.5}}}]}}]""")
    assert(m.count() == 1)
    assert(MongoPipeline(df,
      """[{"$match": {"tags": {"$all": ["a", "z"]}}}]""").count() == 0)
    assert(MongoPipeline(df,
      """[{"$match": {"xs": {"$elemMatch": {"$gt": 5}}}}]""").count() == 0)
  }

  test("group accumulators: stdDev, minN/maxN, topN/bottomN") {
    import spark.implicits._
    val df = Seq(("g", 1.0, "w"), ("g", 2.0, "x"), ("g", 3.0, "y"), ("g", 6.0, "z"))
      .toDF("k", "v", "tag")
    val r = MongoPipeline(df,
      """[{"$sort": {"v": 1}},
          {"$group": {"_id": "$k",
            "sp": {"$stdDevPop": "$v"},
            "mn": {"$minN": {"input": "$v", "n": 2}},
            "mx": {"$maxN": {"input": "$v", "n": 2}},
            "tp": {"$topN": {"output": "$tag", "sortBy": {"v": 1}, "n": 2}},
            "bt": {"$bottomN": {"output": "$tag", "sortBy": {"v": 1}, "n": 2}}}}]""")
      .collect()(0)
    assert(math.abs(r.getAs[Double]("sp") - 1.8708286933869707) < 1e-9)
    assert(r.getSeq[Double](r.fieldIndex("mn")).toSeq == Seq(1.0, 2.0))
    assert(r.getSeq[Double](r.fieldIndex("mx")).toSeq == Seq(6.0, 3.0))
    assert(r.getSeq[String](r.fieldIndex("tp")).toSeq == Seq("w", "x"))
    assert(r.getSeq[String](r.fieldIndex("bt")).toSeq == Seq("y", "z"))
  }

  test("$topN/$bottomN honor descending sortBy directions") {
    import spark.implicits._
    val df = Seq(("g", 1.0, "w"), ("g", 2.0, "x"), ("g", 3.0, "y"), ("g", 6.0, "z"))
      .toDF("k", "v", "tag")
    val r = MongoPipeline(df,
      """[{"$group": {"_id": "$k",
            "top_desc": {"$topN": {"output": "$tag", "sortBy": {"v": -1}, "n": 2}},
            "bot_desc": {"$bottomN": {"output": "$tag", "sortBy": {"v": -1}, "n": 2}}}}]""")
      .collect()(0)
    // sortBy {v:-1} orders z,y,x,w: topN = first 2, bottomN = last 2
    assert(r.getSeq[String](r.fieldIndex("top_desc")).toSeq == Seq("z", "y"))
    assert(r.getSeq[String](r.fieldIndex("bot_desc")).toSeq == Seq("x", "w"))
    // mixed directions: secondary key breaks primary-key ties
    val df2 = Seq(("g", 1.0, 10.0, "a"), ("g", 1.0, 20.0, "b"), ("g", 2.0, 5.0, "c"))
      .toDF("k", "v", "u", "tag")
    val r2 = MongoPipeline(df2,
      """[{"$group": {"_id": "$k",
            "t": {"$topN": {"output": "$tag", "sortBy": {"v": 1, "u": -1}, "n": 3}}}}]""")
      .collect()(0)
    assert(r2.getSeq[String](r2.fieldIndex("t")).toSeq == Seq("b", "a", "c"))
  }

  test("$topN family is a bounded aggregate: correct across partial merges, plus $top/$bottom") {
    import spark.implicits._
    // 10k-row skewed group scattered over 16 partitions: every partial
    // holds ≤ n elements and the merge+serialize path must reproduce
    // the global answer (the old collect_list plan buffered all 10k).
    val big = (1 to 10000).map(i => ("hot", (i * 7919) % 10007, s"t$i"))
      .toDF("k", "v", "tag").repartition(16)
    val r = MongoPipeline(big,
      """[{"$group": {"_id": "$k",
            "top3": {"$topN": {"output": "$v", "sortBy": {"v": 1}, "n": 3}},
            "bot3": {"$bottomN": {"output": "$v", "sortBy": {"v": 1}, "n": 3}},
            "mn3": {"$minN": {"input": "$v", "n": 3}},
            "mx3": {"$maxN": {"input": "$v", "n": 3}},
            "first": {"$top": {"output": "$tag", "sortBy": {"v": 1}}},
            "last": {"$bottom": {"output": "$tag", "sortBy": {"v": 1}}}}}]""")
      .collect()(0)
    val vs = (1 to 10000).map(i => (i * 7919) % 10007).sorted
    assert(r.getSeq[Int](r.fieldIndex("top3")).toSeq == vs.take(3))
    assert(r.getSeq[Int](r.fieldIndex("bot3")).toSeq == vs.takeRight(3))
    assert(r.getSeq[Int](r.fieldIndex("mn3")).toSeq == vs.take(3))
    assert(r.getSeq[Int](r.fieldIndex("mx3")).toSeq == vs.takeRight(3).reverse)
    val minI = (1 to 10000).minBy(i => (i * 7919) % 10007)
    val maxI = (1 to 10000).maxBy(i => (i * 7919) % 10007)
    assert(r.getAs[String]("first") == s"t$minI")
    assert(r.getAs[String]("last") == s"t$maxI")
    // null sortBy keys sort lowest (BSON order), null outputs survive
    val withNulls = Seq(("g", Some(2), "x"), ("g", None, "n"), ("g", Some(1), "w"))
      .toDF("k", "v", "tag")
    val rn = MongoPipeline(withNulls,
      """[{"$group": {"_id": "$k",
            "t2": {"$topN": {"output": "$tag", "sortBy": {"v": 1}, "n": 2}}}}]""")
      .collect()(0)
    assert(rn.getSeq[String](rn.fieldIndex("t2")).toSeq == Seq("n", "w"))
  }

  test("$densify preserves original documents that sit off the step grid") {
    import spark.implicits._
    // 5 is NOT on the min-anchored grid {0, 3, 6}; it must survive
    val df = Seq(("a", 0L, 1.0), ("a", 5L, 2.0), ("a", 6L, 3.0))
      .toDF("k", "x", "v")
    val out = MongoPipeline(df,
      """[{"$densify": {"field": "x", "partitionByFields": ["k"],
                        "range": {"step": 3, "bounds": "partition"}}}]""")
      .orderBy("x").collect()
      .map(r => (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    assert(out.toSeq == Seq(
      (0L, Some(1.0)), (3L, None), (5L, Some(2.0)), (6L, Some(3.0))))
  }

  test("$densify without partitionByFields densifies globally") {
    import spark.implicits._
    val df = Seq((0L, 1.0), (4L, 2.0)).toDF("x", "v")
    val out = MongoPipeline(df,
      """[{"$densify": {"field": "x", "range": {"step": 2}}}]""")
      .orderBy("x").collect().map(_.getLong(0))
    assert(out.toSeq == Seq(0L, 2L, 4L))
  }

  test("expression pack round 3: object/array conversion, regex find, replaceOne, date parts, toBool, type") {
    import spark.implicits._
    val df = Seq((1L, "a-b-a", 2.5, "2024-03-05 06:07:08")).toDF("k", "s", "d", "ts")
    val out = MongoPipeline(df,
      """[{"$set": {
           "o2a": {"$objectToArray": {"x": "$k", "y": "$s"}},
           "rep1": {"$replaceOne": {"input": "$s", "find": "a", "replacement": "z"}},
           "rfind": {"$regexFind": {"input": "$s", "regex": "[b-c]"}},
           "rall": {"$regexFindAll": {"input": "$s", "regex": "a"}},
           "dfp": {"$dateFromParts": {"year": 2024, "month": 3, "day": 5,
                                      "hour": 6, "minute": 7, "second": 8}},
           "bool_n": {"$toBool": "$d"}, "bool_s": {"$toBool": "$s"},
           "ty_s": {"$type": "$s"}, "ty_k": {"$type": "$k"}, "ty_d": {"$type": "$d"}}},
         {"$set": {
           "back": {"$arrayToObject": "$o2a"},
           "dtp": {"$dateToParts": {"date": "$dfp"}}}}]""")
      .collect()(0)
    val o2a = out.getSeq[Row](out.fieldIndex("o2a"))
    assert(o2a.map(r => (r.getString(0), r.getString(1))) ==
      Seq(("x", "1"), ("y", "a-b-a")))
    assert(out.getAs[Map[String, String]]("back") ==
      Map("x" -> "1", "y" -> "a-b-a"))
    assert(out.getAs[String]("rep1") == "z-b-a")
    val rf = out.getAs[Row]("rfind")
    assert(rf.getString(0) == "b" && rf.getInt(1) == 2)
    assert(out.getSeq[String](out.fieldIndex("rall")) == Seq("a", "a"))
    assert(out.getAs[java.sql.Timestamp]("dfp").toString.startsWith("2024-03-05 06:07:08"))
    val dtp = out.getAs[Row]("dtp")
    assert(dtp.getInt(0) == 2024 && dtp.getInt(1) == 3 && dtp.getInt(5) == 8)
    assert(out.getAs[Boolean]("bool_n") && out.getAs[Boolean]("bool_s"))
    assert(out.getAs[String]("ty_s") == "string" &&
      out.getAs[String]("ty_k") == "long" && out.getAs[String]("ty_d") == "double")
  }

  test("$setWindowFields $locf / $linearFill / $expMovingAvg window operators") {
    import spark.implicits._
    val df = Seq(
      ("a", 0L, Some(10.0)), ("a", 1L, None), ("a", 2L, None),
      ("a", 3L, Some(40.0)), ("b", 0L, Some(2.0)), ("b", 1L, None))
      .toDF("g", "t", "v")
    val out = MongoPipeline(df,
      """[{"$setWindowFields": {"partitionBy": "$g", "sortBy": {"t": 1},
           "output": {
             "carried": {"$locf": "$v"},
             "interp": {"$linearFill": "$v"},
             "ema": {"$expMovingAvg": {"input": "$v", "alpha": 0.5}}}}}]""")
      .orderBy("g", "t").collect()
    // locf carries 10 through the gap; linear interpolates 20, 30
    assert(out(1).getAs[Double]("carried") == 10.0)
    assert(out(1).getAs[Double]("interp") == 20.0)
    assert(out(2).getAs[Double]("interp") == 30.0)
    // ema: 10, (null input keeps 10), then 0.5*40 + 0.5*10 = 25
    assert(out(0).getAs[Double]("ema") == 10.0)
    assert(out(1).getAs[Double]("ema") == 10.0)
    assert(out(3).getAs[Double]("ema") == 25.0)
    // partition b independent: trailing null keeps 2.0, no interp anchor
    assert(out(5).getAs[Double]("ema") == 2.0 && out(5).isNullAt(
      out(5).fieldIndex("interp")))
    // N form: alpha = 2/(N+1) = 0.5 gives the identical series
    val n2 = MongoPipeline(df,
      """[{"$setWindowFields": {"partitionBy": "$g", "sortBy": {"t": 1},
           "output": {"ema": {"$expMovingAvg": {"input": "$v", "N": 3}}}}}]""")
      .orderBy("g", "t").collect()
    assert(n2.map(_.getAs[Double]("ema")).toSeq ==
      out.map(_.getAs[Double]("ema")).toSeq)
  }

  test("$densify explicit [lower, upper) bounds: literal grid, upper exclusive, originals kept") {
    import spark.implicits._
    val df = Seq((1L, "a"), (7L, "b")).toDF("x", "v")
    val out = MongoPipeline(df,
      """[{"$densify": {"field": "x", "range": {"step": 2, "bounds": [0, 6]}}}]""")
      .orderBy("x").collect().map(r => (r.getLong(0), r.getString(1)))
    // grid 0,2,4 (6 excluded) + originals 1 and 7 (outside the bounds, still kept)
    assert(out.toSeq == Seq((0L, null), (1L, "a"), (2L, null), (4L, null), (7L, "b")))
  }

  test("$densify with a null partition value neither drops nor duplicates its rows") {
    import spark.implicits._
    val df = Seq((Some("a"), 0L), (Some("a"), 2L), (None, 0L), (None, 2L))
      .toDF("g", "x")
    val out = MongoPipeline(df,
      """[{"$densify": {"field": "x", "partitionByFields": ["g"],
           "range": {"step": 1}}}]""")
      .collect().map(r => (Option(r.getString(0)), r.getLong(1)))
    val nullGroup = out.filter(_._1.isEmpty).map(_._2).sorted
    assert(nullGroup.toSeq == Seq(0L, 1L, 2L), nullGroup.mkString(","))
  }

  test("$options without $regex is rejected, not a match-everything") {
    import spark.implicits._
    val df = Seq((1L, "x")).toDF("k", "s")
    val e = intercept[IllegalArgumentException] {
      MongoPipeline(df, """[{"$match": {"s": {"$options": "i"}}}]""").collect()
    }
    assert(e.getMessage.contains("$options requires"))
  }

  test("$regex honors $options flags (i, m, s)") {
    import spark.implicits._
    val df = Seq((1L, "Alpha"), (2L, "beta"), (3L, "line1\nline2"))
      .toDF("id", "s")
    val ci = MongoPipeline(df,
      """[{"$match": {"s": {"$regex": "^al", "$options": "i"}}}]""")
      .collect().map(_.getLong(0)).toSeq
    assert(ci == Seq(1L))
    val ml = MongoPipeline(df,
      """[{"$match": {"s": {"$regex": "^line2$", "$options": "m"}}}]""")
      .collect().map(_.getLong(0)).toSeq
    assert(ml == Seq(3L))
    val dotall = MongoPipeline(df,
      """[{"$match": {"s": {"$regex": "line1.line2", "$options": "s"}}}]""")
      .collect().map(_.getLong(0)).toSeq
    assert(dotall == Seq(3L))
    // bare $regex unchanged: case-sensitive
    val cs = MongoPipeline(df,
      """[{"$match": {"s": {"$regex": "^al"}}}]""").count()
    assert(cs == 0)
  }

  test("$convert with onError/onNull, $dateFromString, iso date parts") {
    import spark.implicits._
    val df = Seq(("12", "x", "2024-03-04 05:06:07", null.asInstanceOf[String]))
      .toDF("num", "junk", "dstr", "nothing")
    val r = MongoPipeline(df,
      """[{"$project": {
            "ok": {"$convert": {"input": "$num", "to": "int"}},
            "bad": {"$convert": {"input": "$junk", "to": "int", "onError": -1}},
            "nul": {"$convert": {"input": "$nothing", "to": "int", "onNull": -2}},
            "d": {"$dateFromString": {"dateString": "$dstr"}},
            "iw": {"$isoWeek": {"$dateFromString": {"dateString": "$dstr"}}},
            "idw": {"$isoDayOfWeek": {"$dateFromString": {"dateString": "$dstr"}}}}}]""")
      .collect()(0)
    assert(r.getAs[Int]("ok") == 12)
    assert(r.getAs[Long]("bad") == -1L)
    assert(r.getAs[Long]("nul") == -2L)
    assert(r.getAs[java.sql.Timestamp]("d").toString.startsWith("2024-03-04"))
    assert(r.getAs[Int]("iw") == 10) // ISO week of Mar 4 2024
    assert(r.getAs[Int]("idw") == 1) // Monday
  }

  test("translator rejects malformed pipelines loudly, not silently") {
    import spark.implicits._
    val df = Seq((1L, "a")).toDF("k", "v")
    def bad(json: String): String =
      intercept[IllegalArgumentException](
        MongoPipeline(df, json).collect()).getMessage
    assert(bad("""[{"$frobnicate": 1}]""").contains("unsupported stage"))
    assert(bad("""[{"$match": {"k": {"$near": 1}}}]""")
      .contains("unsupported $match op"))
    assert(bad("""[{"$project": {"x": {"$cbrt": "$k"}}}]""")
      .contains("unsupported expression op"))
    assert(bad("""[{"$match": {"k": {"$gt": 1}, "$extra": 2, "v": "a"},
                   "$second": {}}]""").contains("exactly one operator"))
    // unbound lambda var
    assert(bad("""[{"$project": {"x": "$$nope"}}]""")
      .contains("unbound lambda variable"))
  }

  test("mixed-direction $sort orders correctly and feeds $first/$last guards") {
    import spark.implicits._
    val df = Seq((1L, 1.0), (1L, 2.0), (2L, 5.0)).toDF("k", "v")
    val sorted = MongoPipeline(df, """[{"$sort": {"k": 1, "v": -1}}]""")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(sorted == Seq((1L, 2.0), (1L, 1.0), (2L, 5.0)))
    // mixed-direction $first would be ambiguous — must refuse
    val e = intercept[IllegalArgumentException](
      MongoPipeline(df,
        """[{"$sort": {"k": 1, "v": -1}},
            {"$group": {"_id": "$k", "f": {"$first": "$v"}}}]""").collect())
    assert(e.getMessage.contains("uniform-direction"))
  }

  test("connected components: clusters get the min member id") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("a", "b")
    val cc = Pipeline100TB.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L))
  }

  test("weighted sampling tracks the per-row inclusion probability") {
    val ev = cat.events
    val total = ev.count().toDouble
    // weight = min(value/100, 1): expected keep-rate = E[weight]
    val expRate = ev.agg(avg(least(col("value") / 100.0, lit(1.0))))
      .collect()(0).getDouble(0)
    val kept = Pipeline100TB.weightedHashSample(ev, col("event_id"),
      least(col("value") / 100.0, lit(1.0))).count().toDouble
    assert(math.abs(kept / total - expRate) < 0.1,
      s"keep rate ${kept / total} vs expected $expRate")
    // high-weight rows must be kept more often than low-weight rows
    val kept2 = Pipeline100TB.weightedHashSample(ev, col("event_id"),
      least(col("value") / 100.0, lit(1.0)))
    val avgKept = kept2.agg(avg("value")).collect()(0).getDouble(0)
    val avgAll = ev.agg(avg("value")).collect()(0).getDouble(0)
    assert(avgKept > avgAll)
  }

  test("stratified-k draws exactly k per stratum, stable across runs") {
    val ev = cat.events
    val a = Pipeline100TB.stratifiedK(ev, col("event_type"), col("event_id"), 3)
      .collect().map(_.getAs[Long]("event_id")).toSet
    val b = Pipeline100TB.stratifiedK(ev.repartition(5), col("event_type"),
      col("event_id"), 3).collect().map(_.getAs[Long]("event_id")).toSet
    assert(a == b && a.size == 5 * 3) // five event types
  }

  test("$setField/$unsetField edit structs; $tsSecond/$tsIncrement read BSON timestamps") {
    import spark.implicits._
    val df = Seq((1L, 10L, 2L)).toDF("id", "t0", "i0")
      .withColumn("ts", struct(col("t0").as("t"), col("i0").as("i")))
      .drop("t0", "i0")
    val r = MongoPipeline(df,
      """[{"$project": {
            "id": 1,
            "sec": {"$tsSecond": "$ts"},
            "inc": {"$tsIncrement": "$ts"},
            "bump": {"$getField": {"input": {"$setField": {"field": "t", "input": "$ts", "value": 99}}, "field": "t"}},
            "gone": {"$unsetField": {"field": "i", "input": "$ts"}}}}]""")
      .collect()(0)
    assert(r.getAs[Long]("sec") == 10L && r.getAs[Long]("inc") == 2L)
    assert(r.getAs[Long]("bump") == 99L)
    assert(r.getAs[Row]("gone").schema.fieldNames.toSeq == Seq("t"))
  }

  test("array-expression forms of $firstN/$lastN/$minN/$maxN") {
    import spark.implicits._
    val df = Seq(Tuple1(Seq(5L, 1L, 4L, 2L))).toDF("arr")
    val r = MongoPipeline(df,
      """[{"$project": {
            "f2": {"$firstN": {"input": "$arr", "n": 2}},
            "l2": {"$lastN": {"input": "$arr", "n": 2}},
            "mn2": {"$minN": {"input": "$arr", "n": 2}},
            "mx2": {"$maxN": {"input": "$arr", "n": 2}},
            "l9": {"$lastN": {"input": "$arr", "n": 9}}}}]""")
      .collect()(0)
    def seq(f: String) = r.getSeq[Long](r.fieldIndex(f)).toSeq
    assert(seq("f2") == Seq(5L, 1L) && seq("l2") == Seq(4L, 2L))
    assert(seq("mn2") == Seq(1L, 2L) && seq("mx2") == Seq(5L, 4L))
    assert(seq("l9") == Seq(5L, 1L, 4L, 2L)) // n > size: whole array
  }

  test("$firstN/$lastN follow the preceding $sort, including mixed directions") {
    import spark.implicits._
    val df = Seq(("g", 1.0, "w"), ("g", 2.0, "x"), ("g", 3.0, "y"), ("g", 6.0, "z"))
      .toDF("k", "v", "tag")
    val r = MongoPipeline(df,
      """[{"$sort": {"v": -1}},
          {"$group": {"_id": "$k",
            "f2": {"$firstN": {"input": "$tag", "n": 2}},
            "l2": {"$lastN": {"input": "$tag", "n": 2}}}}]""")
      .collect()(0)
    // sort v desc → z,y,x,w: firstN = [z,y], lastN = [x,w] (in order)
    assert(r.getSeq[String](r.fieldIndex("f2")).toSeq == Seq("z", "y"))
    assert(r.getSeq[String](r.fieldIndex("l2")).toSeq == Seq("x", "w"))
  }

  test("morton code interleaves bits; z-order files cluster both dimensions") {
    // bit-level semantics of the codegen kernel
    assert(graft.functions.BitInterleave.morton(0L, 0L) == 0L)
    assert(graft.functions.BitInterleave.morton(0xFFFFL, 0L) == 0x55555555L)
    assert(graft.functions.BitInterleave.morton(0L, 0xFFFFL) == 0xAAAAAAAAL)
    assert(graft.functions.BitInterleave.morton(3L, 1L) == 7L) // x:11 y:01 → 0111
    // layout quality: every z-range file must cover a NARROW slab of
    // each normalized dimension (that's the whole point of the layout —
    // min/max file stats prune on either predicate)
    val li = cat.lineitem
    val stats = Pipeline100TB.zorderStats(li, "l_partkey", "l_suppkey").collect()
    assert(stats.length > 1, "expected multiple z-range files")
    val xSpan = li.agg(max("l_partkey")).collect()(0).getLong(0).toDouble
    val ySpan = li.agg(max("l_suppkey")).collect()(0).getLong(0).toDouble
    // top-8-bit file id fixes 4 high bits of each dim ⇒ each file spans
    // ≤ 1/16 of each axis (plus normalization rounding)
    stats.foreach { r =>
      val xr = (r.getAs[Long]("x_max") - r.getAs[Long]("x_min")) / xSpan
      val yr = (r.getAs[Long]("y_max") - r.getAs[Long]("y_min")) / ySpan
      assert(xr <= 0.0725 && yr <= 0.0725,
        s"file ${r.getAs[Long]("file_id")} spans x=$xr y=$yr of the axes")
    }
  }

  test("hash-sample quantile sketch tracks the exact quantiles") {
    val li = cat.lineitem
    val sk = Pipeline100TB.quantileSketch(li,
        concat_ws("-", col("l_orderkey"), col("l_linenumber")), 5,
        Seq(col("l_returnflag")), col("l_extendedprice"),
        Seq("p50_est" -> 0.5, "p95_est" -> 0.95))
      .collect().map(r => r.getString(0) -> r).toMap
    val exact = li.groupBy("l_returnflag")
      .agg(percentile(col("l_extendedprice"), lit(0.5)).as("p50"),
        percentile(col("l_extendedprice"), lit(0.95)).as("p95"))
      .collect().map(r => r.getString(0) -> r).toMap
    exact.foreach { case (flag, e) =>
      val s = sk(flag)
      val relErr50 = math.abs(s.getAs[Double]("p50_est") - e.getAs[Double]("p50")) /
        e.getAs[Double]("p50")
      assert(relErr50 < 0.15, s"$flag p50 rel err $relErr50")
      assert(s.getAs[Long]("sample_n") > 0)
    }
  }

  test("round-2 stages reach the engine through config-driven pipelines") {
    val cfg = graft.config.EngineConfig.fromJson(
      """{"direct-read-namespaces": ["test.orders"],
        |"pipeline": [{"namespace": "test.orders", "direct": true,
        |  "stages": "[{\"$setWindowFields\": {\"partitionBy\": \"$o_custkey\", \"sortBy\": {\"o_orderkey\": 1}, \"output\": {\"rnk\": {\"$documentNumber\": {}}}}}, {\"$match\": {\"rnk\": 1}}]"}]}"""
        .stripMargin)
    val out = GraftEngine.allDirectReads(spark, cfg, sfDir)
    assert(out.count() > 0)
  }

  test("hash sampling is deterministic and respects strata rates") {
    val ev = cat.events
    val s1 = Pipeline100TB.hashSample(ev, col("event_id"), lit(10))
      .select("event_id").collect().map(_.getLong(0)).toSet
    val s2 = Pipeline100TB.hashSample(ev, col("event_id"), lit(10))
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(s1 == s2)
    val total = ev.count()
    assert(s1.size > total / 20 && s1.size < total / 5) // ~10%
  }

  test("scrub redacts emails before urls before digit runs") {
    import spark.implicits._
    val df = Seq("mail bob42@x.org or https://a.io/p?q=7 tel 555123").toDF("t")
    val out = df.select(Pipeline100TB.scrub(col("t"))).collect()(0).getString(0)
    assert(out == "mail <EMAIL> or <URL> tel <NUM>")
  }

  test("scrub redacts IPv6, IPv4 and phones as units, in chain order") {
    import spark.implicits._
    val cases = Seq(
      // IPv4 must become one <IP>, not a <PHONE>/<NUM> fragment salad
      "from 192.168.254.1 ok" -> "from <IP> ok",
      // full-form IPv6 (7 groups) and trailing-compressed (4+ groups)
      // (the bare '6' of "v6" is itself a digit run → <NUM>)
      "v6 2001:0db8:85a3:0000:0000:8a2e:0370:7334 x" -> "v<NUM> <IP> x",
      // +CC and parenthesized-area forms are one <PHONE> each
      "call +1-415-555-0142 now" -> "call <PHONE> now",
      "or 1 (212) 555 0199 then" -> "or <PHONE> then",
      // timestamps stay out of the IPv6 net (4+ colon groups) and
      // bare years out of the phone net (needs 3 separated groups);
      // both fall through to the digit-run mop-up
      "at 03:04:05 in 2024 end" -> "at <NUM>:<NUM>:<NUM> in <NUM> end",
      // email wins over the phone/digit passes even with digits inside
      "ping bob+1-415@x.org done" -> "ping <EMAIL> done")
    val out = cases.map(_._1).toDF("t")
      .select(Pipeline100TB.scrub(col("t"))).collect().map(_.getString(0))
    out.zip(cases.map(_._2)).foreach { case (got, want) =>
      assert(got == want, s"got '$got', want '$want'")
    }
  }

  test("chunking covers every token with stride overlap") {
    import spark.implicits._
    val df = Seq((1L, (0 until 20).map(i => s"t$i").mkString(" "))).toDF("id", "text")
    val rows = Pipeline100TB.chunk(df, "id", "text", size = 16, stride = 8)
      .orderBy("start").collect()
    assert(rows.map(_.getAs[Int]("start")).toSeq == Seq(0, 8, 16))
    assert(rows.map(_.getAs[Int]("n_tok")).toSeq == Seq(16, 12, 4))
    assert(rows.last.getAs[String]("chunk_text") == "t16 t17 t18 t19")
  }

  test("star-contraction CC solves a 2000-node path in O(log) rounds") {
    import spark.implicits._
    // diameter 1999: min-label propagation would need ~2000 rounds;
    // large-star/small-star must finish inside maxIter=50
    val path = (0L until 1999L).map(i => (i, i + 1)).toDF("a", "b")
    val out = Pipeline100TB.connectedComponentsStar(path).collect()
    assert(out.length == 2000)
    assert(out.forall(_.getAs[Long]("cluster") == 0L))
  }

  test("star-contraction CC handles a 10k-neighbor hub (skew) in a handful of rounds") {
    import spark.implicits._
    // one hub with 10,000 neighbors — the skewed shape a banded-LSH
    // candidate graph produces around a boilerplate document. The hub
    // is NOT the component minimum (neighbors are even ids, plus a
    // tail edge 2—1), so labels must route through the hub, and the
    // per-round groupBy on the hub key carries the whole neighbor set.
    val hub = 999999L
    val pairs = ((1L to 10000L).map(i => (hub, 2L * i)) :+ (2L, 1L)).toDF("a", "b")
    val star = Pipeline100TB.connectedComponentsStar(pairs, maxIter = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(star.length == 10002) // hub + 10k evens + node 1
    assert(star.forall(_._2 == 1L),
      s"stray labels: ${star.filter(_._2 != 1L).take(5).toSeq}")
    val prop = Pipeline100TB.connectedComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(star.toSet == prop)
  }

  test("CC refuses to return a partially contracted result when maxIter is exhausted") {
    import spark.implicits._
    val path = (0L until 200L).map(i => (i, i + 1)).toDF("a", "b")
    intercept[IllegalArgumentException] {
      Pipeline100TB.connectedComponentsStar(path, maxIter = 1).collect()
    }
    intercept[IllegalArgumentException] {
      Pipeline100TB.connectedComponents(path, maxIter = 3).collect()
    }
  }

  test("star-contraction CC is row-identical to min-label propagation") {
    import spark.implicits._
    // several components incl. a cycle, a self-loop-ish doubled edge,
    // and reversed-order pairs
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L), (7L, 5L), (5L, 6L),
      (10L, 11L), (11L, 10L), (20L, 21L), (21L, 22L), (22L, 23L))
      .toDF("a", "b")
    val prop = Pipeline100TB.connectedComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val star = Pipeline100TB.connectedComponentsStar(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(star == prop)
    assert(star.filter(_._1 <= 3L).forall(_._2 == 1L))
  }

  test("$redact prunes array elements and nested subdocuments level-relatively") {
    import spark.implicits._
    val df = Seq(
      (1L, 0L, Seq((0L, "a0"), (4L, "a4")), (0L, "n0")),
      (2L, 2L, Seq((1L, "b1"), (3L, "b3")), (4L, "n4")),
      (3L, 4L, Seq((0L, "c0")), (0L, "n0")))
      .toDF("id", "lvl", "items", "detail")
      .withColumn("items", expr(
        "transform(items, x -> named_struct('lvl', x._1, 'tag', x._2))"))
      .withColumn("detail", expr(
        "named_struct('lvl', detail._1, 'tag', detail._2)"))
    val out = MongoPipeline(df,
      """[{"$redact": {"$cond": [{"$lt": ["$lvl", 3]}, "$$DESCEND", "$$PRUNE"]}}]""")
      .orderBy("id").collect()
    // id=3 pruned at the root; id=2's detail (lvl 4) pruned to null;
    // array elements with lvl >= 3 removed from the array
    assert(out.map(_.getAs[Long]("id")).toSeq == Seq(1L, 2L))
    val r1 = out(0)
    assert(r1.getSeq[Row](r1.fieldIndex("items")).map(_.getAs[String]("tag")) == Seq("a0"))
    assert(r1.getAs[Row]("detail").getAs[String]("tag") == "n0")
    val r2 = out(1)
    assert(r2.getSeq[Row](r2.fieldIndex("items")).map(_.getAs[String]("tag")) == Seq("b1"))
    assert(r2.getAs[Row]("detail") == null)
  }

  test("$redact $$KEEP stops descent: kept subtree survives nested prunes") {
    import spark.implicits._
    val df = Seq((1L, 0L, (9L, "deep")), (2L, 1L, (9L, "deep")))
      .toDF("id", "lvl", "detail")
      .withColumn("detail", expr(
        "named_struct('lvl', detail._1, 'tag', detail._2)"))
    val out = MongoPipeline(df,
      """[{"$redact": {"$switch": {"branches": [
            {"case": {"$lt": ["$lvl", 1]}, "then": "$$KEEP"},
            {"case": {"$lt": ["$lvl", 5]}, "then": "$$DESCEND"}],
          "default": "$$PRUNE"}}}]""").orderBy("id").collect()
    // id=1: root KEEP — detail survives despite its lvl 9
    assert(out(0).getAs[Row]("detail").getAs[String]("tag") == "deep")
    // id=2: root DESCEND — detail (lvl 9) pruned
    assert(out(1).getAs[Row]("detail") == null)
  }

  test("$redact: refs to fields a level lacks read as null, including multi-segment paths") {
    import spark.implicits._
    // root has lvl + meta.level; detail has NEITHER — its decision
    // must evaluate both refs as null (→ $$DESCEND via the $lt being
    // null-false ... default branch), not throw at analysis
    val df = Seq((1L, 0L, 7L, ("x", 1L)), (2L, 0L, 2L, ("y", 2L)))
      .toDF("id", "lvl", "metalvl", "detail")
      .withColumn("meta", expr("named_struct('level', metalvl)")).drop("metalvl")
      .withColumn("detail", expr("named_struct('tag', detail._1, 'v', detail._2)"))
    val out = MongoPipeline(df,
      """[{"$redact": {"$switch": {"branches": [
            {"case": {"$gte": ["$meta.level", 5]}, "then": "$$PRUNE"}],
          "default": "$$DESCEND"}}}]""").orderBy("id").collect()
    // id=1 pruned at root (meta.level=7); id=2 survives and its
    // detail subdoc (which lacks both lvl and meta) descends intact
    assert(out.map(_.getAs[Long]("id")).toSeq == Seq(2L))
    assert(out(0).getAs[Row]("detail").getAs[String]("tag") == "y")
  }

  test("$redact: a deeper path THROUGH an array of documents projects element-wise") {
    import spark.implicits._
    // spec references $items.qty (array<struct>.field): the pad
    // rebuild must keep the element-wise projection working — and
    // still null out a deeper ref the elements genuinely lack
    val df = Seq(
      (1L, Seq((5L, "x1"), (2L, "x2"))),
      (2L, Seq((1L, "y1"))),
      (3L, Seq.empty[(Long, String)]))
      .toDF("id", "items")
      .withColumn("items", expr(
        "transform(items, x -> named_struct('qty', x._1, 'tag', x._2))"))
    val out = MongoPipeline(df,
      """[{"$redact": {"$cond": [{"$in": [5, "$items.qty"]},
           "$$PRUNE", "$$DESCEND"]}}]""")
      .orderBy("id").collect()
    // id=1 carries qty 5 → pruned at the root; 2 and 3 survive whole
    assert(out.map(_.getAs[Long]("id")).toSeq == Seq(2L, 3L))
    assert(out(0).getSeq[Row](1).map(_.getAs[String]("tag")) == Seq("y1"))
    // a ref the elements lack projects as a null array (never
    // matches) instead of throwing at analysis — the pad grafts the
    // missing field into the root-resolved array<struct> shape
    val out2 = MongoPipeline(df,
      """[{"$redact": {"$cond": [{"$in": ["z", "$items.missing"]},
           "$$PRUNE", "$$DESCEND"]}}]""")
      .orderBy("id").collect()
    assert(out2.map(_.getAs[Long]("id")).toSeq == Seq(1L, 2L, 3L))
  }

  test("$redact rejects documents hidden in maps at any nesting depth") {
    import spark.implicits._
    val df = Seq((1L, "k", "s"))
      .toDF("id", "k", "s")
      .withColumn("m", expr("array(map(k, named_struct('secret', s)))"))
      .drop("k", "s")
    val e = intercept[IllegalArgumentException] {
      MongoPipeline(df,
        """[{"$redact": {"$cond": [{"$eq": ["$id", 0]}, "$$KEEP", "$$PRUNE"]}}]""")
    }
    assert(e.getMessage.contains("map-typed"))
  }

  test("$documents: empty array yields zero documents; inside $facet it is rejected") {
    import spark.implicits._
    val df = Seq((1L, "a")).toDF("k", "v")
    val empty = MongoPipeline(df, """[{"$documents": []}]""")
    assert(empty.count() == 0)
    intercept[IllegalArgumentException] {
      MongoPipeline(df,
        """[{"$facet": {"f": [{"$documents": [{"x": 1}]}]}}]""")
    }
    intercept[IllegalArgumentException] { // and never mid-pipeline
      MongoPipeline(df,
        """[{"$match": {"k": 1}}, {"$documents": [{"x": 1}]}]""")
    }
  }

  test("$indexOfCP/$indexOfBytes accept expression needles, not just literals") {
    import spark.implicits._
    val df = Seq(("abcFdé", "F"), ("xyz", "q")).toDF("s", "needle")
    val out = MongoPipeline(df,
      """[{"$project": {
            "cp": {"$indexOfCP": ["$s", "$needle"]},
            "by": {"$indexOfBytes": [{"$concat": ["é", "$s"]}, "$needle"]}}}]""")
      .collect()
    assert(out.map(_.getAs[Int]("cp")).toSeq == Seq(3, -1))
    // é prefix is 2 bytes, so the byte index shifts +2 vs the char form
    assert(out.map(_.getAs[Int]("by")).toSeq == Seq(5, -1))
  }

  test("$substrBytes slices bytes, not code points") {
    import spark.implicits._
    val df = Seq(("héllo", 1)).toDF("s", "one")
    // 'é' is 2 bytes in UTF-8: bytes [1,3) = "é", while substrCP [1,3) = "él"
    val out = MongoPipeline(df,
      """[{"$project": {"b": {"$substrBytes": ["$s", 1, 2]},
                        "cp": {"$substrCP": ["$s", 1, 2]}}}]""").head()
    assert(out.getAs[String]("b") == "é")
    assert(out.getAs[String]("cp") == "él")
  }

  test("$dateSubtract mirrors $dateAdd with month clamping") {
    import spark.implicits._
    val df = Seq("2021-03-31 12:00:00").toDF("s")
    val out = MongoPipeline(df,
      """[{"$set": {"ts": {"$toDate": "$s"}}},
          {"$project": {
            "m1": {"$dateSubtract": {"startDate": "$ts", "unit": "month", "amount": 1}},
            "d2": {"$dateSubtract": {"startDate": "$ts", "unit": "day", "amount": 2}}}}]""")
      .head()
    assert(out.getAs[java.sql.Timestamp]("m1").toString.startsWith("2021-02-28"))
    assert(out.getAs[java.sql.Timestamp]("d2").toString.startsWith("2021-03-29"))
  }

  test("enclosing $let variables stay visible inside $filter/$map bodies") {
    import spark.implicits._
    val df = Seq((3L, Seq(1L, 2L, 3L, 4L, 5L))).toDF("cut", "xs")
    val out = MongoPipeline(df,
      """[{"$project": {"kept": {"$let": {
            "vars": {"c": "$cut"},
            "in": {"$size": {"$filter": {"input": "$xs", "as": "x",
                    "cond": {"$gte": ["$$x", "$$c"]}}}}}}}}]""").head()
    assert(out.getAs[Int]("kept") == 3)
  }

  // ——— $geoNear (C35) ———

  private def geoPlaces = cat.table("customer")
    .filter(col("c_custkey") <= 140).select(
    col("c_custkey").as("ck"),
    array(
      pmod(col("c_custkey") * 7919, lit(36000)) / lit(100.0) - lit(180.0),
      pmod(col("c_custkey") * 104729, lit(18000)) / lit(100.0) - lit(90.0))
      .as("loc"))

  test("$geoNear spherical matches a plain-Scala haversine, sorted, num-capped") {
    val out = MongoPipeline(geoPlaces,
      """[{"$geoNear": {"near": [10.0, 20.0], "distanceField": "d",
           "key": "loc", "spherical": true, "num": 25}}]""")
      .select("ck", "d").collect()
    assert(out.length == 25)
    // reference: haversine central angle in radians over the same
    // derived lattice, computed independently in Scala
    def hav(ck: Long): Double = {
      val x = (ck * 7919 % 36000) / 100.0 - 180.0
      val y = (ck * 104729 % 18000) / 100.0 - 90.0
      val toRad = math.Pi / 180.0
      val sLat = math.sin((y - 20.0) * toRad / 2)
      val sLon = math.sin((x - 10.0) * toRad / 2)
      2 * math.asin(math.sqrt(sLat * sLat +
        math.cos(y * toRad) * math.cos(20.0 * toRad) * sLon * sLon))
    }
    val expect = (0L to 140L).map(ck => (ck, hav(ck)))
      .sortBy { case (ck, d) => (d, ck) }.take(25)
    out.zip(expect).foreach { case (row, (ck, d)) =>
      assert(row.getLong(0) == ck)
      assert(math.abs(row.getDouble(1) - d) < 1e-12,
        s"ck=$ck spark=${row.getDouble(1)} scala=$d")
    }
  }

  test("$geoNear bounds the RAW distance while reporting the multiplied one") {
    val out = MongoPipeline(geoPlaces,
      """[{"$geoNear": {"near": [0.0, 0.0], "distanceField": "d",
           "key": "loc", "minDistance": 30.0, "maxDistance": 90.0,
           "distanceMultiplier": 2.0}}]""")
      .select("ck", "d").collect()
    assert(out.nonEmpty)
    // every reported d = 2 * raw with raw in [30, 90] — values outside
    // [60, 180] would mean the bounds applied to the multiplied value
    assert(out.forall(r => r.getDouble(1) >= 60.0 && r.getDouble(1) <= 180.0))
    def raw(ck: Long): Double = {
      val x = (ck * 7919 % 36000) / 100.0 - 180.0
      val y = (ck * 104729 % 18000) / 100.0 - 90.0
      math.sqrt(x * x + y * y)
    }
    val expectCks = (0L to 140L).filter(ck => raw(ck) >= 30.0 && raw(ck) <= 90.0)
    assert(out.map(_.getLong(0)).sorted.toSeq == expectCks)
    // proximity order is the RAW distance (ties would otherwise be
    // manufactured by double-rounding the product), and a negative
    // multiplier — which would silently invert the order — is refused
    val ordered = out.map(r => (r.getDouble(1) / 2.0, r.getLong(0)))
    assert(ordered.toSeq == ordered.sortBy(identity).toSeq)
    val e = intercept[IllegalArgumentException] {
      MongoPipeline(geoPlaces,
        """[{"$geoNear": {"near": [0.0, 0.0], "distanceField": "d",
             "key": "loc", "distanceMultiplier": -1.0}}]""")
    }
    assert(e.getMessage.contains("non-negative"))
  }

  // ——— $vectorSearch (C36) ———

  test("$vectorSearch exact mode matches a plain-Scala cosine top-k; score hidden unless $meta asks") {
    val ref = cat.embeddings.select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray, r.getInt(2)))
    val q = (0 until 64).map(i => ((i * 37) % 19 - 9) / 8.0).toArray
    def cos(a: Array[Double]): Double = {
      var (dot, na, nb) = (0.0, 0.0, 0.0)
      var i = 0
      while (i < a.length) { dot += a(i) * q(i); na += a(i) * a(i); nb += q(i) * q(i); i += 1 }
      if (na == 0 || nb == 0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val qjson = q.mkString("[", ", ", "]")
    val out = MongoPipeline(cat.embeddings,
      s"""[{"$$vectorSearch": {"path": "embedding", "queryVector": $qjson,
            "limit": 7, "exact": true}},
           {"$$project": {"vec_id": 1, "score": {"$$meta": "vectorSearchScore"}}}]""")
      .collect()
    val expect = ref.map { case (id, emb, _) =>
      (id, (1.0 + BigDecimal(cos(emb)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) / 2.0)
    }.sortBy { case (id, sc) => (-sc, id) }.take(7)
    assert(out.length == 7)
    out.zip(expect).foreach { case (row, (id, sc)) =>
      assert(row.getLong(0) == id)
      assert(math.abs(row.getDouble(1) - sc) < 1e-12,
        s"vec $id spark=${row.getDouble(1)} scala=$sc")
    }
    // without a $meta projection the score column must not leak
    val bare = MongoPipeline(cat.embeddings,
      s"""[{"$$vectorSearch": {"path": "embedding", "queryVector": $qjson,
            "limit": 3, "exact": true}}]""")
    assert(bare.columns.toSeq == cat.embeddings.columns.toSeq)
  }

  test("$vectorSearch euclidean and dotProduct normalize per Atlas; ANN pool ⊆ corpus and respects filter") {
    val q = (0 until 64).map(i => ((i * 29) % 17 - 8) / 8.0)
    val qjson = q.mkString("[", ", ", "]")
    val eu = MongoPipeline(cat.embeddings,
      s"""[{"$$vectorSearch": {"path": "embedding", "queryVector": $qjson,
            "limit": 5, "exact": true, "similarity": "euclidean"}},
           {"$$project": {"vec_id": 1, "score": {"$$meta": "vectorSearchScore"}}}]""")
      .collect()
    assert(eu.length == 5)
    // euclidean score = 1/(1+d²) ∈ (0, 1]
    assert(eu.forall(r => r.getDouble(1) > 0 && r.getDouble(1) <= 1.0))
    val ref = cat.embeddings.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble)))
    def d2(a: Seq[Double]): Double = {
      // fixed array-index fold, like the stage
      var acc = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - q(i); acc += d * d; i += 1 }
      acc
    }
    val euExpect = ref.map { case (id, emb) =>
      (id, 1.0 / (1.0 + BigDecimal(d2(emb)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
    }.sortBy { case (id, sc) => (-sc, id) }.take(5)
    eu.zip(euExpect).foreach { case (row, (id, sc)) =>
      assert(row.getLong(0) == id && math.abs(row.getDouble(1) - sc) < 1e-12)
    }
    val dp = MongoPipeline(cat.embeddings,
      s"""[{"$$vectorSearch": {"path": "embedding", "queryVector": $qjson,
            "limit": 5, "numCandidates": 30, "similarity": "dotProduct",
            "filter": {"label": 0}}},
           {"$$project": {"vec_id": 1, "label": 1,
            "score": {"$$meta": "vectorSearchScore"}}}]""").collect()
    assert(dp.length == 5)
    assert(dp.forall(_.getInt(1) == 0)) // pre-filter applied
  }

  test("$vectorSearch contract errors: stage position, numCandidates, limit, unknown $meta") {
    val q = (0 until 64).map(_ => 0.125).mkString("[", ", ", "]")
    intercept[IllegalArgumentException] {
      MongoPipeline(cat.embeddings,
        s"""[{"$$match": {"label": 0}},
             {"$$vectorSearch": {"path": "embedding", "queryVector": $q, "limit": 3}}]""")
    }
    intercept[IllegalArgumentException] { // ANN mode without numCandidates
      MongoPipeline(cat.embeddings,
        s"""[{"$$vectorSearch": {"path": "embedding", "queryVector": $q, "limit": 3}}]""")
    }
    intercept[IllegalArgumentException] { // numCandidates < limit
      MongoPipeline(cat.embeddings,
        s"""[{"$$vectorSearch": {"path": "embedding", "queryVector": $q,
              "limit": 10, "numCandidates": 5}}]""")
    }
    intercept[IllegalArgumentException] { // unsupported meta kind
      MongoPipeline(cat.embeddings,
        s"""[{"$$vectorSearch": {"path": "embedding", "queryVector": $q,
              "limit": 3, "exact": true}},
             {"$$project": {"s": {"$$meta": "textScore"}}}]""")
    }
  }

  // ——— $rankFusion (C37) ———

  test("$rankFusion fuses two ranked legs by weighted integer RRF; score hidden unless $meta asks") {
    val out = MongoPipeline(cat.orders,
      """[{"$rankFusion": {"input": {"pipelines": {
            "price": [{"$match": {"o_orderstatus": "F"}},
                      {"$sort": {"o_totalprice": -1, "o_orderkey": 1}},
                      {"$limit": 25}],
            "recent": [{"$sort": {"o_orderdate": -1, "o_orderkey": 1}},
                       {"$limit": 25}]}},
          "combination": {"weights": {"price": 2}}}},
         {"$project": {"o_orderkey": 1, "score": {"$meta": "score"}}}]""")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    // plain-Scala replay from independently-computed legs
    // ISO-rendered timestamps sort identically to the raw column
    val rows = cat.orders.select(col("o_orderkey"), col("o_orderstatus"),
      col("o_totalprice"), col("o_orderdate").cast("string")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getString(3)))
    val price = rows.filter(_._2 == "F")
      .sortBy { case (k, _, p, _) => (-p, k) }.take(25)
      .zipWithIndex.map { case ((k, _, _, _), i) =>
        k -> (2L * 1000000000L) / (60L + i + 1) }
    implicit val ord: Ordering[(String, Long)] =
      Ordering.Tuple2(Ordering.String.reverse, Ordering.Long)
    val recent = rows
      .sortBy { case (k, _, _, d) => (d, k) }(ord).take(25)
      .zipWithIndex.map { case ((k, _, _, _), i) =>
        k -> 1000000000L / (60L + i + 1) }
    val expect = (price ++ recent).groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2).sum }
    assert(out.toMap == expect, s"only-got=${out.toMap.toSet -- expect.toSet}")
    // best-first output order: fused score descending
    assert(out.map(_._2).toSeq == out.map(_._2).sortBy(-_).toSeq)
    // without a $meta projection the fused score must not leak
    val bare = MongoPipeline(cat.orders,
      """[{"$rankFusion": {"input": {"pipelines": {
            "one": [{"$sort": {"o_orderkey": 1}}, {"$limit": 5}]}}}}]""")
    assert(bare.columns.toSeq == cat.orders.columns.toSeq)
    assert(bare.count() == 5)
  }

  test("$rankFusion with a $vectorSearch leg: score order is the rank; fused with an attribute leg") {
    val q = (0 until 64).map(i => ((i * 37) % 19 - 9) / 8.0)
    val qjson = q.mkString("[", ", ", "]")
    val out = MongoPipeline(cat.embeddings,
      s"""[{"$$rankFusion": {"input": {"pipelines": {
            "near": [{"$$vectorSearch": {"path": "embedding",
               "queryVector": $qjson, "limit": 10, "exact": true}}],
            "label": [{"$$sort": {"label": -1, "vec_id": 1}},
                      {"$$limit": 10}]}}}},
           {"$$project": {"vec_id": 1, "score": {"$$meta": "score"}}}]""")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // replay: vectorSearch leg ranks = its own exact top-10 order
    val vsLeg = MongoPipeline(cat.embeddings,
      s"""[{"$$vectorSearch": {"path": "embedding", "queryVector": $qjson,
            "limit": 10, "exact": true}},
           {"$$project": {"vec_id": 1}}]""")
      .collect().map(_.getLong(0))
    val lblLeg = cat.embeddings.select("vec_id", "label").collect()
      .map(r => (r.getLong(0), r.getInt(1)))
      .sortBy { case (id, l) => (-l, id) }.take(10).map(_._1)
    val expect = (vsLeg.zipWithIndex.map { case (id, i) =>
        id -> 1000000000L / (60L + i + 1) } ++
      lblLeg.zipWithIndex.map { case (id, i) =>
        id -> 1000000000L / (60L + i + 1) })
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
    assert(out == expect)
    // a $sort after $vectorSearch is refused (rank = the score order)
    intercept[IllegalArgumentException] {
      MongoPipeline(cat.embeddings,
        s"""[{"$$rankFusion": {"input": {"pipelines": {
              "a": [{"$$vectorSearch": {"path": "embedding",
                 "queryVector": $qjson, "limit": 5, "exact": true}},
                    {"$$sort": {"vec_id": 1}}]}}}}]""")
    }
  }

  test("$rankFusion with a $search leg: BM25 rank order fused with an attribute rank") {
    import graft.operators.TextAnalysis
    val docs = cat.documents
    val out = MongoPipeline(docs,
      """[{"$rankFusion": {"input": {"pipelines": {
            "rel": [{"$search": {"text": {"query": "spark", "path": "text"}}},
                    {"$limit": 10}],
            "ids": [{"$sort": {"doc_id": 1}}, {"$limit": 10}]}}}},
         {"$project": {"doc_id": 1, "score": {"$meta": "score"}}}]""")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rel = TextAnalysis.bm25(docs, "doc_id", "text", Seq("spark"), k = 10)
      .collect().map(_.getLong(0))
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted.take(10)
    val expect = (rel.zipWithIndex.map { case (id, i) =>
        id -> 1000000000L / (60L + i + 1) } ++
      ids.zipWithIndex.map { case (id, i) =>
        id -> 1000000000L / (60L + i + 1) })
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
    assert(out == expect)
  }

  test("$rankFusion contract errors: stage position, selection-only legs, $sort required, integer weights") {
    intercept[IllegalArgumentException] { // not first
      MongoPipeline(cat.orders,
        """[{"$match": {"o_orderstatus": "F"}},
            {"$rankFusion": {"input": {"pipelines": {
              "a": [{"$sort": {"o_orderkey": 1}}, {"$limit": 5}]}}}}]""")
    }
    intercept[IllegalArgumentException] { // $project modifies documents
      MongoPipeline(cat.orders,
        """[{"$rankFusion": {"input": {"pipelines": {
            "a": [{"$project": {"o_orderkey": 1}},
                  {"$sort": {"o_orderkey": 1}}, {"$limit": 5}]}}}}]""")
    }
    intercept[IllegalArgumentException] { // no $sort — no rank order
      MongoPipeline(cat.orders,
        """[{"$rankFusion": {"input": {"pipelines": {
            "a": [{"$match": {"o_orderstatus": "F"}}, {"$limit": 5}]}}}}]""")
    }
    intercept[IllegalArgumentException] { // fractional weight
      MongoPipeline(cat.orders,
        """[{"$rankFusion": {"input": {"pipelines": {
              "a": [{"$sort": {"o_orderkey": 1}}, {"$limit": 5}]}},
            "combination": {"weights": {"a": 1.5}}}}]""")
    }
    intercept[IllegalArgumentException] { // weight for unknown leg
      MongoPipeline(cat.orders,
        """[{"$rankFusion": {"input": {"pipelines": {
              "a": [{"$sort": {"o_orderkey": 1}}, {"$limit": 5}]}},
            "combination": {"weights": {"nope": 1}}}}]""")
    }
  }

  test("$searchMeta: count form is the exact $search match-set size; facets bucket the same set") {
    val docs = cat.documents
    val matchCount = MongoPipeline(docs,
      """[{"$search": {"text": {"query": "spark", "path": "text"}}},
          {"$count": "n"}]""").collect().head.getLong(0)
    val total = MongoPipeline(docs,
      """[{"$searchMeta": {"count": {"type": "total"},
           "text": {"query": "spark", "path": "text"}}}]""")
      .collect().head.getLong(0)
    assert(total == matchCount && total > 0)
    // facet rows partition the match set: per-facet counts sum to it
    val fac = MongoPipeline(docs,
      """[{"$searchMeta": {"facet": {
           "operator": {"text": {"query": "spark", "path": "text"}},
           "facets": {
             "langs": {"type": "string", "path": "lang"},
             "sizes": {"type": "number", "path": "n_chars",
                       "boundaries": [0, 300, 1000000]}}}}}]""")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(fac.filter(_._1 == "langs").map(_._3).sum == total)
    assert(fac.filter(_._1 == "sizes").map(_._3).sum == total)
    // number buckets are labeled by their lower boundary
    assert(fac.filter(_._1 == "sizes").map(_._2).toSet.subsetOf(
      Set("0.0", "300.0")))
    // string facet order: count DESC then value ASC within the facet
    val langs = fac.filter(_._1 == "langs")
    assert(langs.toSeq == langs.sortBy(x => (-x._3, x._2)).toSeq)
    // contract errors: facet+count don't combine; boundaries ascend
    intercept[IllegalArgumentException] {
      MongoPipeline(docs,
        """[{"$match": {"lang": "en"}},
            {"$searchMeta": {"count": {"type": "total"},
             "text": {"query": "spark", "path": "text"}}}]""")
    }
    intercept[IllegalArgumentException] {
      MongoPipeline(docs,
        """[{"$searchMeta": {"facet": {
             "operator": {"text": {"query": "spark", "path": "text"}},
             "facets": {"bad": {"type": "number", "path": "n_chars",
                                "boundaries": [300, 0]}}}}}]""")
    }
  }

  test("$rankFusion refuses unbounded legs: every $sort-/$search-led leg must carry $limit") {
    // a limitless $sort leg would rank the whole selection in ONE
    // unpartitioned window task — refused loudly, not planned
    val e1 = intercept[IllegalArgumentException] {
      MongoPipeline(cat.orders,
        """[{"$rankFusion": {"input": {"pipelines": {
            "a": [{"$sort": {"o_orderkey": 1}}]}}}}]""")
    }
    assert(e1.getMessage.contains("$limit"))
    val e2 = intercept[IllegalArgumentException] { // $search-led, no bound
      MongoPipeline(cat.documents,
        """[{"$rankFusion": {"input": {"pipelines": {
            "rel": [{"$search": {"text": {"query": "spark", "path": "text"}}}],
            "ids": [{"$sort": {"doc_id": 1}}, {"$limit": 5}]}}}}]""")
    }
    assert(e2.getMessage.contains("$limit"))
    // bounded legs (and $vectorSearch's own required limit) still plan
    val q = (0 until 64).map(i => ((i * 37) % 19 - 9) / 8.0)
      .mkString("[", ", ", "]")
    assert(MongoPipeline(cat.embeddings,
      s"""[{"$$rankFusion": {"input": {"pipelines": {
            "near": [{"$$vectorSearch": {"path": "embedding",
               "queryVector": $q, "limit": 5, "exact": true}}],
            "ids": [{"$$sort": {"vec_id": 1}}, {"$$limit": 5}]}}}}]""")
      .count() >= 5)
  }

  // ——— $search (C39) ———

  test("$search text operator ranks exactly like the standalone BM25; score hidden unless $meta asks") {
    import graft.operators.TextAnalysis
    val docs = cat.documents
    val out = MongoPipeline(docs,
      """[{"$search": {"text": {"query": "Spark QUERY stream", "path": "text"}}},
          {"$limit": 20},
          {"$project": {"doc_id": 1, "score": {"$meta": "searchScore"}}}]""")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // the stage IS the shared scoring core: identical to H17's top-k
    // (query string case-folds through the engine-wide tokenizer)
    val standalone = TextAnalysis.bm25(docs, "doc_id", "text",
      Seq("spark", "query", "stream"), k = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(out.toSeq == standalone.toSeq)
    assert(out.nonEmpty && out.forall(_._2 > 0))
    // best-first, and only matching docs
    assert(out.map(_._2).toSeq == out.map(_._2).sortBy(-_).toSeq)
    // without $meta the score must not leak
    val bare = MongoPipeline(docs,
      """[{"$search": {"text": {"query": "spark", "path": "text"}}},
          {"$limit": 3}]""")
    assert(bare.columns.toSeq == docs.columns.toSeq)
    // contract errors: position, unsupported operator, empty query
    intercept[IllegalArgumentException] {
      MongoPipeline(docs,
        """[{"$limit": 5},
            {"$search": {"text": {"query": "x", "path": "text"}}}]""")
    }
    intercept[IllegalArgumentException] {
      MongoPipeline(docs,
        """[{"$search": {"compound": {"must": []}}}]""")
    }
    intercept[IllegalArgumentException] {
      MongoPipeline(docs,
        """[{"$search": {"text": {"query": "   ", "path": "text"}}}]""")
    }
  }

  test("$search phrase: adjacency decides, tf counts non-overlapping occurrences, one-term refused") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta"),        // adjacent once
      (2L, "alpha gamma beta delta"),        // both terms, NOT adjacent
      (3L, "alpha beta x alpha beta y"),     // adjacent twice → higher tf
      (4L, "nothing relevant here at all"),
      (5L, "ALPHA  BETA uppercase and doubled spaces still match"))
      .toDF("doc_id", "text")
    val out = MongoPipeline(docs,
      """[{"$search": {"phrase": {"query": "alpha beta", "path": "text"}}},
          {"$project": {"doc_id": 1, "score": {"$meta": "searchScore"}}}]""")
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    val got = out.toMap
    assert(got.keySet == Set(1L, 3L, 5L), s"matched: ${got.keySet}")
    // doc 3's doubled occurrence outranks doc 1 despite a longer doc
    assert(got(3L) > got(1L), s"tf must matter: $got")
    // best-first output order
    assert(out.map(_._2).toSeq == out.map(_._2).sortBy(-(_: Double)).toSeq)
    // phrase composes into compound clauses
    val comp = MongoPipeline(docs,
      """[{"$search": {"compound": {
           "must": [{"phrase": {"query": "alpha beta", "path": "text"}}],
           "mustNot": [{"text": {"query": "uppercase", "path": "text"}}]}}},
          {"$project": {"doc_id": 1}}]""")
      .collect().map(_.getLong(0)).toSet
    assert(comp == Set(1L, 3L), comp.toString)
    // a one-term phrase IS the text operator — refused loudly
    intercept[IllegalArgumentException] {
      MongoPipeline(docs,
        """[{"$search": {"phrase": {"query": "alpha", "path": "text"}}}]""")
    }
  }

  test("$search autocomplete + attribute clauses: prefix tf, constant-score range/equals/in, contract errors") {
    import spark.implicits._
    val docs = Seq(
      (1L, "querying the queue quickly", 10),
      (2L, "a query about query planners", 20),
      (3L, "nothing relevant", 30),
      (4L, "quer exact-prefix token", 20))
      .toDF("doc_id", "text", "n")
    // autocomplete: tf counts prefix-matching tokens — doc1 has one
    // ("querying"; "queue" misses the prefix), doc2 has two
    val auto = MongoPipeline(docs,
      """[{"$search": {"autocomplete": {"query": "quer", "path": "text"}}},
          {"$project": {"doc_id": 1, "score": {"$meta": "searchScore"}}}]""")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(auto.keySet == Set(1L, 2L, 4L), auto.toString)
    assert(auto(2L) > auto(1L), s"two prefix tokens must outrank one: $auto")
    // range + equals + in are constant-score filters inside compound
    val rng = MongoPipeline(docs,
      """[{"$search": {"compound": {
           "must": [{"autocomplete": {"query": "quer", "path": "text"}},
                    {"range": {"path": "n", "gte": 15, "lt": 30}}]}}},
          {"$project": {"doc_id": 1, "score": {"$meta": "searchScore"}}}]""")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(rng.keySet == Set(2L, 4L), rng.toString)
    // the attribute clause contributed exactly 1.0 on top
    assert(math.abs(rng(2L) - (auto(2L) + 1.0)) < 1e-12)
    val eq = MongoPipeline(docs,
      """[{"$search": {"compound": {
           "must": [{"equals": {"path": "n", "value": 20}}],
           "mustNot": [{"in": {"path": "doc_id", "value": [4]}}]}}},
          {"$project": {"doc_id": 1}}]""")
      .collect().map(_.getLong(0)).toSet
    assert(eq == Set(2L), eq.toString)
    // wildcard: LIKE-translated glob, ? = one char, * = any run;
    // exists is a constant-score not-null filter
    val wild = MongoPipeline(docs,
      """[{"$search": {"wildcard": {"query": "qu?ue", "path": "text"}}},
          {"$project": {"doc_id": 1}}]""")
      .collect().map(_.getLong(0)).toSet
    assert(wild == Set(1L), s"qu?ue should match only 'queue': $wild")
    val star = MongoPipeline(docs,
      """[{"$search": {"wildcard": {"query": "quer*", "path": "text"}}},
          {"$project": {"doc_id": 1}}]""")
      .collect().map(_.getLong(0)).toSet
    assert(star == Set(1L, 2L, 4L), star.toString)
    val ex = MongoPipeline(
      docs.withColumn("opt", when(col("doc_id") <= 2, col("n"))),
      """[{"$search": {"compound": {
           "must": [{"exists": {"path": "opt"}}]}}},
          {"$project": {"doc_id": 1}}]""")
      .collect().map(_.getLong(0)).toSet
    assert(ex == Set(1L, 2L), ex.toString)
    // near: pure proximity scorer — pivot/(pivot+|x−origin|), exact
    // 1.0 at the origin, halved one pivot away, nulls score 0
    val near = MongoPipeline(
      docs.withColumn("opt", when(col("doc_id") <= 3, col("n"))),
      """[{"$search": {"near": {"path": "opt", "origin": 20, "pivot": 10}}},
          {"$project": {"doc_id": 1, "score": {"$meta": "searchScore"}}}]""")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(near(2L) == 1.0 && near(1L) == 0.5 && near(3L) == 0.5, near.toString)
    assert(!near.contains(4L), "null path must score 0 and drop")
    intercept[IllegalArgumentException] { // pivot must be positive
      MongoPipeline(docs,
        """[{"$search": {"near": {"path": "n", "origin": 20, "pivot": 0}}}]""")
    }
    // a glob with no metacharacter IS the text operator — refused
    intercept[IllegalArgumentException] {
      MongoPipeline(docs,
        """[{"$search": {"wildcard": {"query": "plain", "path": "text"}}}]""")
    }
    // contract errors: empty range, non-array in, multi-term prefix
    intercept[IllegalArgumentException] {
      MongoPipeline(docs,
        """[{"$search": {"range": {"path": "n"}}}]""")
    }
    intercept[IllegalArgumentException] {
      MongoPipeline(docs,
        """[{"$search": {"in": {"path": "n", "value": 5}}}]""")
    }
    intercept[IllegalArgumentException] {
      MongoPipeline(docs,
        """[{"$search": {"autocomplete": {"query": "two words", "path": "text"}}}]""")
    }
  }

  test("$search score modifiers: boost multiplies the round-6 score, constant replaces on match, non-positive refused") {
    val docs = cat.documents
    def scores(json: String): Map[Long, Double] =
      MongoPipeline(docs, json)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val plain = scores(
      """[{"$search": {"text": {"query": "spark", "path": "text"}}},
          {"$project": {"doc_id": 1, "score": {"$meta": "searchScore"}}}]""")
    val boosted = scores(
      """[{"$search": {"text": {"query": "spark", "path": "text",
            "score": {"boost": {"value": 2.5}}}}},
          {"$project": {"doc_id": 1, "score": {"$meta": "searchScore"}}}]""")
    assert(boosted.keySet == plain.keySet, "boost must not change matching")
    boosted.foreach { case (id, s) =>
      val want = BigDecimal(plain(id) * 2.5)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(s == want, s"doc $id: got $s want $want")
    }
    val const = scores(
      """[{"$search": {"text": {"query": "spark", "path": "text",
            "score": {"constant": {"value": 1.5}}}}},
          {"$project": {"doc_id": 1, "score": {"$meta": "searchScore"}}}]""")
    assert(const.keySet == plain.keySet, "constant must not change matching")
    assert(const.values.forall(_ == 1.5), const.values.take(3).toString)
    // compound composition: boosted must + constant should sum
    val should = scores(
      """[{"$search": {"text": {"query": "query", "path": "text"}}},
          {"$project": {"doc_id": 1, "score": {"$meta": "searchScore"}}}]""")
    val comp = scores(
      """[{"$search": {"compound": {
            "must": [{"text": {"query": "spark", "path": "text",
                      "score": {"boost": {"value": 2.0}}}}],
            "should": [{"text": {"query": "query", "path": "text",
                        "score": {"constant": {"value": 1.0}}}}]}}},
          {"$project": {"doc_id": 1, "score": {"$meta": "searchScore"}}}]""")
    assert(comp.keySet == plain.keySet)
    comp.foreach { case (id, s) =>
      val m = BigDecimal(plain(id) * 2.0)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val want = m + (if (should.contains(id)) 1.0 else 0.0)
      assert(s == want, s"doc $id: got $s want $want")
    }
    // function-path score: a matching doc re-scores to the FIELD value;
    // matching is still decided by the raw BM25 (order of operations)
    val fn = scores(
      """[{"$search": {"text": {"query": "spark", "path": "text",
            "score": {"function": {"path": {"value": "n_chars"}}}}}},
          {"$project": {"doc_id": 1, "score": {"$meta": "searchScore"}}}]""")
    assert(fn.keySet == plain.keySet,
      "function score must not change matching")
    val chars = cat.documents.select("doc_id", "n_chars")
      .collect().map(r => r.getLong(0) -> r.getLong(1).toDouble).toMap
    fn.foreach { case (id, s) => assert(s == chars(id), s"doc $id") }
    // contract errors: non-positive values, both modifiers, no value,
    // out-of-subset function forms
    for (bad <- Seq(
      """{"boost": {"value": -1}}""",
      """{"constant": {"value": 0}}""",
      """{"boost": {"value": 2}, "constant": {"value": 1}}""",
      """{"boost": {}}""",
      """{"function": {"multiply": []}}""",
      """{"function": {"path": "n_chars"}}""")) {
      intercept[IllegalArgumentException] {
        MongoPipeline(docs,
          s"""[{"$$search": {"text": {"query": "spark", "path": "text",
                "score": $bad}}}]""")
      }
    }
  }

  test("$search regex: whole-term anchoring, virtual-term BM25, non-portable features refused") {
    import spark.implicits._
    val docs = Seq(
      (1L, "query the queue"),     // query matches qu[ae]ry; queue does not
      (2L, "xquery is not query"), // xquery must NOT match (whole term)
      (3L, "quary quarry"),        // quary matches; quarry does not
      (4L, "nothing here"))
      .toDF("doc_id", "text")
    val out = MongoPipeline(docs,
      """[{"$search": {"regex": {"query": "qu[ae]ry", "path": "text"}}},
          {"$project": {"doc_id": 1, "score": {"$meta": "searchScore"}}}]""")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out.keySet == Set(1L, 2L, 3L), out.toString)
    // doc 2 matched via its standalone "query" token, not "xquery":
    // tf is 1 for all three → rank purely by dl (shorter wins)
    val comp = MongoPipeline(docs,
      """[{"$search": {"compound": {
            "must": [{"regex": {"query": "qu[ae]ry", "path": "text"}}],
            "mustNot": [{"regex": {"query": "x.*", "path": "text"}}]}}},
          {"$project": {"doc_id": 1}}]""")
      .collect().map(_.getLong(0)).toSet
    assert(comp == Set(1L, 3L), comp.toString)
    // alternation + bounded repeat are in the portable subset
    val alt = MongoPipeline(docs,
      """[{"$search": {"regex": {"query": "qu(?:ar|eu)e?r?y?", "path": "text"}}},
          {"$project": {"doc_id": 1}}]""")
    assert(alt.count() > 0)
    // non-portable: lookaround, backreference, possessive; bad syntax
    for (bad <- Seq("(?=x)y", "(a)\\\\1", "a*+b", "(unclosed")) {
      intercept[IllegalArgumentException] {
        MongoPipeline(docs,
          s"""[{"$$search": {"regex": {"query": "$bad", "path": "text"}}}]""")
      }
    }
  }

  test("$search queryString: compiles to the compound algebra; connectives and stray syntax refused") {
    val docs = cat.documents
    def ids(json: String): Seq[(Long, Double)] =
      MongoPipeline(docs, json)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val qs = ids(
      """[{"$search": {"queryString": {"defaultPath": "text",
            "query": "+spark query stream -\"table hash\""}}},
          {"$limit": 20},
          {"$project": {"doc_id": 1, "score": {"$meta": "searchScore"}}}]""")
    val explicit = ids(
      """[{"$search": {"compound": {
            "must": [{"text": {"query": "spark", "path": "text"}}],
            "should": [{"text": {"query": "query", "path": "text"}},
                       {"text": {"query": "stream", "path": "text"}}],
            "mustNot": [{"phrase": {"query": "table hash", "path": "text"}}]}}},
          {"$limit": 20},
          {"$project": {"doc_id": 1, "score": {"$meta": "searchScore"}}}]""")
    assert(qs == explicit, "queryString must be pure compound sugar")
    assert(qs.nonEmpty)
    // field: override routes the clause to that path
    val byField = MongoPipeline(docs,
      """[{"$search": {"queryString": {"defaultPath": "text",
            "query": "+lang:en spark"}}},
          {"$limit": 500},
          {"$project": {"doc_id": 1, "lang": 1}}]""")
      .collect().map(_.getString(1)).toSet
    assert(byField == Set("en"), byField.toString)
    // a quoted single word compiles to text, not a refused 1-term phrase
    assert(MongoPipeline(docs,
      """[{"$search": {"queryString": {"defaultPath": "text",
            "query": "\"spark\""}}}, {"$limit": 3}]""").count() == 3)
    // contract errors: connectives, stray quote, only-mustNot, empty
    for (bad <- Seq("spark AND query", "spark \"unclosed", "-spark", "   ")) {
      intercept[IllegalArgumentException] {
        MongoPipeline(docs,
          s"""[{"$$search": {"queryString": {"defaultPath": "text",
                "query": "${bad.replace("\"", "\\\"")}"}}}]""")
      }
    }
  }

  test("$search compound across DIFFERENT paths: per-path dl/Σdl in the fused stats pass") {
    import spark.implicits._
    // two text fields with deliberately different length profiles, so
    // a fused pass that mixed up per-path Σdl or dl would mis-score
    val docs = Seq(
      (1L, "alpha beta gamma", "x y z w v u t s r q"),
      (2L, "alpha delta", "x k"),
      (3L, "epsilon zeta eta theta iota", "x"),
      (4L, "alpha", "m n o p"))
      .toDF("doc_id", "title", "body")
    def single(json: String): Map[Long, Double] =
      MongoPipeline(docs, json)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val titleOnly = single(
      """[{"$search": {"text": {"query": "alpha", "path": "title"}}},
          {"$project": {"doc_id": 1, "score": {"$meta": "searchScore"}}}]""")
    val bodyOnly = single(
      """[{"$search": {"text": {"query": "x", "path": "body"}}},
          {"$project": {"doc_id": 1, "score": {"$meta": "searchScore"}}}]""")
    val fused = single(
      """[{"$search": {"compound": {
            "must": [{"text": {"query": "alpha", "path": "title"}}],
            "should": [{"text": {"query": "x", "path": "body"}}]}}},
          {"$project": {"doc_id": 1, "score": {"$meta": "searchScore"}}}]""")
    assert(fused.keySet == titleOnly.keySet)
    fused.foreach { case (id, s) =>
      val want = titleOnly(id) + bodyOnly.getOrElse(id, 0.0)
      assert(s == want, s"doc $id: fused $s != ${titleOnly(id)} + " +
        s"${bodyOnly.getOrElse(id, 0.0)} — per-path stats leaked")
    }
    // and the two single-clause paths themselves disagree on Σdl
    // (title avg 2.75 tokens vs body avg 4.25), so a shared-stats bug
    // could not cancel out
    assert(titleOnly(2L) != bodyOnly(2L))
  }

  test("$search highlight: term:count rendering, hit terms only, hidden without $meta, contract errors") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta alpha gamma"), // alpha:2, beta:1
      (2L, "beta beta beta"),         // beta:3
      (3L, "nothing here"))
      .toDF("doc_id", "text")
    val out = MongoPipeline(docs,
      """[{"$search": {"text": {"query": "alpha beta", "path": "text"},
                       "highlight": {"path": "text"}}},
          {"$project": {"doc_id": 1, "hl": {"$meta": "searchHighlights"}}}]""")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "alpha:2|beta:1", 2L -> "beta:3"), out.toString)
    // without a $meta read the hidden column must not leak
    val bare = MongoPipeline(docs,
      """[{"$search": {"text": {"query": "alpha", "path": "text"},
                       "highlight": {"path": "text"}}}, {"$limit": 1}]""")
    assert(bare.columns.toSeq == docs.columns.toSeq, bare.columns.toSeq)
    // compound: terms collected across every text clause on the path
    val comp = MongoPipeline(docs,
      """[{"$search": {"compound": {
            "must": [{"text": {"query": "beta", "path": "text"}}],
            "should": [{"text": {"query": "alpha", "path": "text"}}]},
            "highlight": {"path": "text"}}},
          {"$project": {"doc_id": 1, "hl": {"$meta": "searchHighlights"}}}]""")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(comp == Map(1L -> "alpha:2|beta:1", 2L -> "beta:3"), comp.toString)
    // queryString grafts highlight through its compiled compound
    val viaQs = MongoPipeline(docs,
      """[{"$search": {"queryString": {"defaultPath": "text",
                                       "query": "+beta alpha"},
                       "highlight": {"path": "text"}}},
          {"$project": {"doc_id": 1, "hl": {"$meta": "searchHighlights"}}}]""")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(viaQs == comp, viaQs.toString)
    // contract errors: out-of-subset options, un-targeted path
    intercept[IllegalArgumentException] {
      MongoPipeline(docs,
        """[{"$search": {"text": {"query": "alpha", "path": "text"},
              "highlight": {"path": "text", "maxNumPassages": 3}}}]""")
    }
    intercept[IllegalArgumentException] {
      MongoPipeline(docs,
        """[{"$search": {"text": {"query": "alpha", "path": "text"},
              "highlight": {"path": "doc_id"}}}]""")
    }
  }

  test("$search embeddedDocument: sum counts matching children, maximum caps at 1, null array no-match") {
    import spark.implicits._
    val docs = Seq(
      (1L, Seq((10, "a"), (35, "b"), (45, "c"))), // two in [30,50]
      (2L, Seq((40, "d"))),                       // one
      (3L, Seq((10, "e"), (20, "f"))),            // none
      (4L, Seq.empty[(Int, String)]))             // no children
      .toDF("doc_id", "raw")
      .select(col("doc_id"), transform(col("raw"),
        x => struct(x.getField("_1").as("qty"), x.getField("_2").as("tag")))
        .as("items"))
    val withNull = docs.withColumn("items",
      when(col("doc_id") === 4L, lit(null)).otherwise(col("items")))
    def scores(d: org.apache.spark.sql.DataFrame, json: String) =
      MongoPipeline(d, json)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val sum = scores(withNull,
      """[{"$search": {"embeddedDocument": {"path": "items",
            "operator": {"range": {"path": "qty", "gte": 30, "lte": 50}},
            "score": {"embedded": {"aggregate": "sum"}}}}},
          {"$project": {"doc_id": 1, "score": {"$meta": "searchScore"}}}]""")
    assert(sum == Map(1L -> 2.0, 2L -> 1.0),
      s"sum = matching-child count; none/null drop: $sum")
    val max = scores(withNull,
      """[{"$search": {"embeddedDocument": {"path": "items",
            "operator": {"range": {"path": "qty", "gte": 30, "lte": 50}},
            "score": {"embedded": {"aggregate": "maximum"}}}}},
          {"$project": {"doc_id": 1, "score": {"$meta": "searchScore"}}}]""")
    assert(max == Map(1L -> 1.0, 2L -> 1.0), max.toString)
    // composes in compound with a mustNot on a child predicate
    val comp = MongoPipeline(withNull,
      """[{"$search": {"compound": {
            "must": [{"embeddedDocument": {"path": "items",
              "operator": {"range": {"path": "qty", "gte": 30, "lte": 50}}}}],
            "mustNot": [{"embeddedDocument": {"path": "items",
              "operator": {"equals": {"path": "tag", "value": "b"}}}}]}}},
          {"$project": {"doc_id": 1}}]""")
      .collect().map(_.getLong(0)).toSet
    assert(comp == Set(2L), s"doc 1 excluded by its 'b' child: $comp")
    // contract errors: scored child clause, degenerate aggregate,
    // multiple inner operators, bad score form
    for (bad <- Seq(
      """{"path": "items", "operator": {"text": {"query": "x", "path": "tag"}}}""",
      """{"path": "items", "operator": {"range": {"path": "qty", "gte": 1}},
          "score": {"embedded": {"aggregate": "mean"}}}""",
      """{"path": "items", "operator": {"range": {"path": "qty", "gte": 1},
          "equals": {"path": "tag", "value": "a"}}}""",
      """{"path": "items", "operator": {"range": {"path": "qty", "gte": 1}},
          "score": {"boost": {"value": 2}}}""")) {
      intercept[IllegalArgumentException] {
        MongoPipeline(withNull,
          s"""[{"$$search": {"embeddedDocument": $bad}}]""")
      }
    }
  }

  test("$search sort option: field order replaces best-score-first; match set unchanged; $meta sorts refused") {
    val docs = cat.documents
    def rows(json: String): Seq[(Long, Long)] =
      MongoPipeline(docs, json)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val sorted = rows(
      """[{"$search": {"text": {"query": "spark", "path": "text"},
                       "sort": {"n_chars": 1}}},
          {"$limit": 10},
          {"$project": {"doc_id": 1, "n_chars": 1}}]""")
    assert(sorted.map(_._2) == sorted.map(_._2).sorted,
      s"ascending n_chars order: $sorted")
    // match set identical to the unsorted search
    val sortedAll = MongoPipeline(docs,
      """[{"$search": {"text": {"query": "spark", "path": "text"},
                       "sort": {"n_chars": 1}}},
          {"$project": {"doc_id": 1}}]""").collect().map(_.getLong(0)).toSet
    val plainAll = MongoPipeline(docs,
      """[{"$search": {"text": {"query": "spark", "path": "text"}}},
          {"$project": {"doc_id": 1}}]""").collect().map(_.getLong(0)).toSet
    assert(sortedAll == plainAll, "sort must not change matching")
    // composes with compound and queryString
    val viaQs = rows(
      """[{"$search": {"queryString": {"defaultPath": "text",
                                       "query": "+spark"},
                       "sort": {"n_chars": -1}}},
          {"$limit": 5},
          {"$project": {"doc_id": 1, "n_chars": 1}}]""")
    assert(viaQs.map(_._2) == viaQs.map(_._2).sorted.reverse, viaQs.toString)
    // contract errors: $meta-valued sort, zero direction, empty sort
    for (bad <- Seq(
      """{"score": {"$meta": "searchScore"}}""",
      """{"n_chars": 0}""",
      """{}""")) {
      intercept[IllegalArgumentException] {
        MongoPipeline(docs,
          s"""[{"$$search": {"text": {"query": "spark", "path": "text"},
                "sort": $bad}}]""")
      }
    }
  }

  test("$search geoWithin: inclusive box, squared-distance circle boundary, planar-subset errors") {
    import spark.implicits._
    val docs = Seq(
      (1L, Seq(0.0, 0.0), "alpha"),
      (2L, Seq(10.0, 10.0), "alpha"),   // exactly the box topRight
      (3L, Seq(-5.0, -5.0), "alpha"),   // exactly the box bottomLeft
      (4L, Seq(10.0, 10.001), "alpha"), // just past the top edge
      (5L, Seq(3.0, 4.0), "alpha"),     // exactly ON the r=5 circle
      (6L, Seq(3.0, 4.001), "alpha"))   // just outside it
      .toDF("doc_id", "loc", "kind")
    def ids(json: String): Set[Long] =
      MongoPipeline(docs, json).collect().map(_.getLong(0)).toSet
    val inBox = ids(
      """[{"$search": {"geoWithin": {"path": "loc", "box": {
            "bottomLeft": [-5.0, -5.0], "topRight": [10.0, 10.0]}}}},
          {"$project": {"doc_id": 1}}]""")
    assert(inBox == Set(1L, 2L, 3L, 5L, 6L),
      s"box edges are INCLUSIVE (only 10.001 falls out): $inBox")
    val inCircle = ids(
      """[{"$search": {"geoWithin": {"path": "loc", "circle": {
            "center": [0.0, 0.0], "radius": 5.0}}}},
          {"$project": {"doc_id": 1}}]""")
    assert(inCircle == Set(1L, 5L),
      s"3-4-5 point is ON the circle (inclusive), 4.001 is out: $inCircle")
    // composes as a compound must with a scored clause
    val comp = ids(
      """[{"$search": {"compound": {
            "must": [{"text": {"query": "alpha", "path": "kind"}},
                     {"geoWithin": {"path": "loc", "circle": {
                        "center": [0.0, 0.0], "radius": 5.0}}}]}}},
          {"$project": {"doc_id": 1}}]""")
    assert(comp == Set(1L, 5L), comp.toString)
    // contract errors: both shapes, inverted box, zero radius,
    // GeoJSON point object, out-of-subset geometry
    for (bad <- Seq(
      """{"path": "loc", "box": {"bottomLeft": [0,0], "topRight": [1,1]},
          "circle": {"center": [0,0], "radius": 1}}""",
      """{"path": "loc", "box": {"bottomLeft": [1,1], "topRight": [0,0]}}""",
      """{"path": "loc", "circle": {"center": [0,0], "radius": 0}}""",
      """{"path": "loc", "circle": {"center": {"type": "Point",
          "coordinates": [0,0]}, "radius": 1}}""",
      """{"path": "loc", "geometry": {"type": "Polygon"}}""")) {
      intercept[IllegalArgumentException] {
        MongoPipeline(docs, s"""[{"$$search": {"geoWithin": $bad}}]""")
      }
    }
  }

  test("$search moreLikeThis: the like doc ranks first, mustNot excludes it, df=0 terms dropped") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),  // the like doc
      (2L, "alpha beta gamma zeta eta"),       // 3 shared terms
      (3L, "alpha beta theta iota kappa"),     // 2 shared terms
      (4L, "alpha mu nu xi omicron"),          // 1 shared term
      (5L, "pi rho sigma tau upsilon"))        // none
      .toDF("doc_id", "text")
    // like = doc 1's own text + a term absent from the corpus (must be
    // dropped by the df >= 1 rule, not crash or burn a term slot)
    val out = MongoPipeline(docs,
      """[{"$search": {"moreLikeThis": {
            "like": {"text": "alpha beta gamma delta epsilon NOSUCHTERM"}}}},
          {"$project": {"doc_id": 1, "score": {"$meta": "searchScore"}}}]""")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(out.map(_._1).toSet == Set(1L, 2L, 3L, 4L), out.mkString(","))
    // the like doc itself scores highest (it contains every term)
    assert(out.head._1 == 1L, s"like doc must rank first: ${out.toSeq}")
    assert(out.map(_._2).toSeq == out.map(_._2).sortBy(-(_: Double)).toSeq)
    // excludable via compound mustNot — the MLT-recommendation shape
    val rec = MongoPipeline(docs,
      """[{"$search": {"compound": {
            "must": [{"moreLikeThis": {
              "like": {"text": "alpha beta gamma delta epsilon"}}}],
            "mustNot": [{"equals": {"path": "doc_id", "value": 1}}]}}},
          {"$project": {"doc_id": 1}}]""")
      .collect().map(_.getLong(0))
    assert(rec.toSet == Set(2L, 3L, 4L) && rec.head == 2L, rec.mkString(","))
    // maxQueryTerms bounds the selection: with 1 term, ties rank by
    // (tfq desc, df asc, term asc) — all tfq=1; dfs: alpha 4, beta 3,
    // gamma 2, delta 1, epsilon 1 → 'delta' wins on the term tiebreak
    val one = MongoPipeline(docs,
      """[{"$search": {"moreLikeThis": {
            "like": {"text": "alpha beta gamma delta epsilon"},
            "maxQueryTerms": 1}}},
          {"$project": {"doc_id": 1}}]""")
      .collect().map(_.getLong(0)).toSet
    assert(one == Set(1L), s"only the delta-holding doc matches: $one")
    // contract errors: no shared vocabulary, malformed like, bad maxQueryTerms
    intercept[IllegalArgumentException] {
      MongoPipeline(docs,
        """[{"$search": {"moreLikeThis": {"like": {"text": "ZZZ YYY"}}}}]""")
    }
    intercept[IllegalArgumentException] {
      MongoPipeline(docs,
        """[{"$search": {"moreLikeThis": {"like": {"text": "alpha", "doc_id": "x"}}}}]""")
    }
    intercept[IllegalArgumentException] {
      MongoPipeline(docs,
        """[{"$search": {"moreLikeThis": {
              "like": {"text": "alpha"}, "maxQueryTerms": 0}}}]""")
    }
  }

  test("$searchMeta date facets: [lo,hi) lower-bound labels, out-of-range ignored, non-ascending refused") {
    import spark.implicits._
    def ts(s: String) =
      java.sql.Timestamp.from(java.time.Instant.parse(s))
    val rows = Seq(
      (1L, "alpha", ts("2024-01-02T10:00:00Z")), // before first boundary → ignored
      (2L, "alpha", ts("2024-01-05T00:00:00Z")), // exactly lo → first bucket
      (3L, "alpha", ts("2024-01-11T23:59:59Z")), // still first bucket
      (4L, "alpha", ts("2024-01-12T00:00:00Z")), // exactly boundary → second
      (5L, "alpha", ts("2024-01-19T00:00:00Z")), // exactly hi → ignored
      (6L, "beta",  ts("2024-01-13T00:00:00Z"))) // operator non-match → not counted
      .toDF("doc_id", "kind", "at")
    val out = MongoPipeline(rows,
      """[{"$searchMeta": {"facet": {
            "operator": {"text": {"query": "alpha", "path": "kind"}},
            "facets": {"when": {"type": "date", "path": "at",
              "boundaries": ["2024-01-05T00:00:00Z",
                             "2024-01-12T00:00:00Z",
                             "2024-01-19T00:00:00Z"]}}}}}]""")
      .collect().map(r => (r.getString(1), r.getLong(2))).toMap
    assert(out == Map("2024-01-05T00:00:00Z" -> 2L,
      "2024-01-12T00:00:00Z" -> 1L), out.toString)
    // date-only boundaries parse as midnight UTC
    val dOnly = MongoPipeline(rows,
      """[{"$searchMeta": {"facet": {
            "operator": {"text": {"query": "alpha", "path": "kind"}},
            "facets": {"when": {"type": "date", "path": "at",
              "boundaries": ["2024-01-05", "2024-01-19"]}}}}}]""")
      .collect().map(r => (r.getString(1), r.getLong(2))).toMap
    assert(dOnly == Map("2024-01-05" -> 3L), dOnly.toString)
    // contract errors: non-ascending, unparseable, too few boundaries
    for (bs <- Seq(
      """["2024-01-12T00:00:00Z", "2024-01-05T00:00:00Z"]""",
      """["2024-01-05T00:00:00Z", "2024-01-05T00:00:00Z"]""",
      """["not a date", "2024-01-05T00:00:00Z"]""",
      """["2024-01-05T00:00:00Z"]""")) {
      intercept[IllegalArgumentException] {
        MongoPipeline(rows,
          s"""[{"$$searchMeta": {"facet": {
                "operator": {"text": {"query": "alpha", "path": "kind"}},
                "facets": {"when": {"type": "date", "path": "at",
                  "boundaries": $bs}}}}}]""")
      }
    }
  }

  test("$search compound: must filters+scores, should scores, mustNot excludes; replay from standalone legs") {
    import graft.operators.TextAnalysis
    val docs = cat.documents
    val out = MongoPipeline(docs,
      """[{"$search": {"compound": {
            "must": [{"text": {"query": "spark", "path": "text"}}],
            "should": [{"text": {"query": "stream", "path": "text"}}],
            "mustNot": [{"text": {"query": "the", "path": "text"}}]}}},
          {"$project": {"doc_id": 1, "score": {"$meta": "searchScore"}}}]""")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def leg(terms: Seq[String]): Map[Long, Double] =
      TextAnalysis.searchScoresFused(docs,
        Seq(("text", terms.map(TextAnalysis.tfTerm))), Seq("s"))
        .select("doc_id", "s").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val (must, should, not) = (leg(Seq("spark")), leg(Seq("stream")), leg(Seq("the")))
    val expect = must.keys
      .filter(id => must(id) > 0 && not(id) == 0.0)
      .map(id => id -> (must(id) + should(id))).toMap
    assert(out == expect)
    assert(out.nonEmpty)
    // exclusion did real work: some must-matching docs carry the term
    assert(must.exists { case (id, s) => s > 0 && not(id) > 0 })
    // contract errors: unknown clause kind; no scoring clause at all
    intercept[IllegalArgumentException] {
      MongoPipeline(docs,
        """[{"$search": {"compound": {"filter":
            [{"text": {"query": "x", "path": "text"}}]}}}]""")
    }
    intercept[IllegalArgumentException] {
      MongoPipeline(docs,
        """[{"$search": {"compound": {"mustNot":
            [{"text": {"query": "x", "path": "text"}}]}}}]""")
    }
  }

  // ——— $scoreFusion (C38) ———

  test("$scoreFusion minMaxScaler fusion equals a plain-Scala replay; absent legs contribute zero") {
    val out = MongoPipeline(cat.orders,
      """[{"$scoreFusion": {"input": {"normalization": "minMaxScaler",
            "pipelines": {
              "price": [{"$match": {"o_orderstatus": "F"}},
                        {"$score": {"score": {"$toDouble": "$o_totalprice"}}}],
              "key": [{"$score": {"score": {"$toDouble": "$o_orderkey"}}}]}},
            "combination": {"weights": {"price": 3, "key": 1}}}},
         {"$project": {"o_orderkey": 1, "score": {"$meta": "score"}}}]""")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val rows = cat.orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    def mm(xs: Seq[(Long, Double)]): Map[Long, Double] = {
      val (mn, mx) = (xs.map(_._2).min, xs.map(_._2).max)
      xs.map { case (k, s) =>
        k -> (if (mx == mn) 0.0 else (s - mn) / (mx - mn)) }.toMap
    }
    val n1 = mm(rows.filter(_._2 == "F").map(t => (t._1, t._3)).toSeq)
    val n2 = mm(rows.map(t => (t._1, t._1.toDouble)).toSeq)
    val expect = rows.map(_._1).map { k =>
      k -> (3.0 * n1.getOrElse(k, 0.0) + 1.0 * n2.getOrElse(k, 0.0)) / 4.0
    }.toMap
    assert(out == expect)
    // a doc outside the "price" leg still scores through the "key" leg
    val nonF = rows.find(_._2 != "F").get._1
    assert(out(nonF) == 1.0 * n2(nonF) / 4.0)
  }

  test("$scoreFusion with a $search leg: BM25 relevance fused with an attribute score") {
    import graft.operators.TextAnalysis
    val docs = cat.documents
    val out = MongoPipeline(docs,
      """[{"$scoreFusion": {"input": {"normalization": "minMaxScaler",
            "pipelines": {
              "rel": [{"$search": {"text": {"query": "spark", "path": "text"}}},
                      {"$limit": 10}],
              "ids": [{"$score": {"score": {"$toDouble": "$doc_id"}}}]}}}},
         {"$project": {"doc_id": 1, "score": {"$meta": "score"}}}]""")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // replay from the standalone H17 leg + the id leg
    val rel = TextAnalysis.bm25(docs, "doc_id", "text", Seq("spark"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    def mm(xs: Seq[(Long, Double)]): Map[Long, Double] = {
      val (mn, mx) = (xs.map(_._2).min, xs.map(_._2).max)
      xs.map { case (k, s) =>
        k -> (if (mx == mn) 0.0 else (s - mn) / (mx - mn)) }.toMap
    }
    val ids = docs.select("doc_id").collect().map(_.getLong(0))
    val n1 = mm(rel.toSeq)
    val n2 = mm(ids.map(i => (i, i.toDouble)).toSeq)
    val expect = ids.map(i =>
      i -> (1.0 * n1.getOrElse(i, 0.0) + 1.0 * n2(i)) / 2.0).toMap
    assert(out == expect)
    // the top BM25 doc outranks its id-only baseline
    val top = rel.head._1
    assert(out(top) > 1.0 * n2(top) / 2.0)
  }

  test("$scoreFusion sigmoid normalization: bounded, order-preserving, partition-invariant") {
    def run(df: org.apache.spark.sql.DataFrame) = MongoPipeline(df,
      """[{"$scoreFusion": {"input": {"normalization": "sigmoid",
            "pipelines": {
              "key": [{"$score": {"score": {"$multiply":
                [{"$toDouble": "$o_orderkey"}, 0.01]}}}]}}}},
         {"$project": {"o_orderkey": 1, "score": {"$meta": "score"}}}]""")
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    val out = run(cat.orders.limit(50))
    assert(out.forall { case (_, s) => s > 0.0 && s < 1.0 })
    // sigmoid is strictly increasing: bigger key ⇒ bigger score (the
    // 0.01 scale keeps raw scores ≤ ~2, far from double saturation)
    val sorted = out.sortBy(_._1)
    sorted.sliding(2).foreach { case Array((k1, s1), (k2, s2)) =>
      assert(s2 >= s1, s"sigmoid not monotone: $k1->$s1 vs $k2->$s2")
    }
    assert(run(cat.orders.limit(50).repartition(7)).sortBy(_._1).toSeq ==
      sorted.toSeq)
  }

  test("$scoreFusion contract errors: position, normalization, scoreless leg, zero weights, modifying stage") {
    intercept[IllegalArgumentException] { // not first
      MongoPipeline(cat.orders,
        """[{"$match": {"o_orderstatus": "F"}},
            {"$scoreFusion": {"input": {"pipelines": {
              "a": [{"$score": {"score": 1}}]}}}}]""")
    }
    intercept[IllegalArgumentException] { // unknown normalization
      MongoPipeline(cat.orders,
        """[{"$scoreFusion": {"input": {"normalization": "zscore",
            "pipelines": {"a": [{"$score": {"score": 1}}]}}}}]""")
    }
    intercept[IllegalArgumentException] { // no $vectorSearch, no $score
      MongoPipeline(cat.orders,
        """[{"$scoreFusion": {"input": {"pipelines": {
            "a": [{"$sort": {"o_orderkey": 1}}, {"$limit": 5}]}}}}]""")
    }
    intercept[IllegalArgumentException] { // all-zero weights
      MongoPipeline(cat.orders,
        """[{"$scoreFusion": {"input": {"pipelines": {
              "a": [{"$score": {"score": 1}}]}},
            "combination": {"weights": {"a": 0}}}}]""")
    }
    intercept[IllegalArgumentException] { // $group modifies documents
      MongoPipeline(cat.orders,
        """[{"$scoreFusion": {"input": {"pipelines": {
            "a": [{"$group": {"_id": "$o_orderstatus"}},
                  {"$score": {"score": 1}}]}}}}]""")
    }
  }

  test("$rankFusion and $scoreFusion input contract: each error is word for word and names its own stage") {
    val stages = Seq(
      ("$rankFusion", "integer", """[{"$sort": {"o_orderkey": 1}}, {"$limit": 5}]"""),
      ("$scoreFusion", "number", """[{"$score": {"score": 1}}]"""))
    for ((stage, kind, leg) <- stages) {
      def err(body: String): String = intercept[IllegalArgumentException] {
        MongoPipeline(cat.orders, "[{\"" + stage + "\": " + body + "}]")
      }.getMessage
      def weighted(weights: String): String =
        s"""{"input": {"pipelines": {"a": $leg}},
            "combination": {"weights": $weights}}"""
      val cases = Seq(
        "{}" -> s"$stage.input.pipelines is required",
        """{"input": {"normalization": "none"}}""" ->
          s"$stage.input.pipelines is required",
        """{"input": {"pipelines": {}}}""" ->
          s"$stage needs at least one input pipeline",
        s"""{"input": {"pipelines": {"a": $leg, "b": []}}}""" ->
          s"$stage pipeline 'b' must be a non-empty stage array",
        weighted("""{"a": 1, "nope": 1}""") ->
          s"$stage weight for unknown pipeline: nope",
        weighted("""{"a": -1}""") ->
          s"$stage.combination.weights.a must be a non-negative $kind (got -1)")
      for ((body, msg) <- cases)
        assert(err(body) == s"requirement failed: $msg", s"$stage $body")
    }
  }

  test("$geoNear anywhere but stage 0 fails loudly; missing key/distanceField too") {
    val base = geoPlaces
    intercept[IllegalArgumentException] {
      MongoPipeline(base,
        """[{"$match": {"ck": {"$lte": 100}}},
            {"$geoNear": {"near": [0.0, 0.0], "distanceField": "d", "key": "loc"}}]""")
    }
    intercept[IllegalArgumentException] {
      MongoPipeline(base,
        """[{"$geoNear": {"near": [0.0, 0.0], "distanceField": "d"}}]""")
    }
    intercept[IllegalArgumentException] {
      MongoPipeline(base, """[{"$geoNear": {"near": [0.0, 0.0], "key": "loc"}}]""")
    }
  }

  test("$search text.fuzzy: bounded plain-Levenshtein match, prefixLength guard, maxEdits bound refused") {
    import spark.implicits._
    val docs = Seq(
      (1L, "query alpha"),   // levenshtein(query, quary) = 1
      (2L, "quarry alpha"),  // levenshtein(quarry, quary) = 1 (1 insert)
      (3L, "diary alpha"),   // distance 2 AND fails the 'qu' prefix
      (4L, "alpha beta"))    // no fuzzy hit
      .toDF("doc_id", "text")
    def ids(json: String): Set[Long] =
      MongoPipeline(docs, json).collect().map(_.getLong(0)).toSet
    val e1 = ids(
      """[{"$search": {"text": {"query": "quary", "path": "text",
            "fuzzy": {"maxEdits": 1}}}},
          {"$project": {"doc_id": 1}}]""")
    assert(e1 == Set(1L, 2L), s"maxEdits 1 catches query+quarry: $e1")
    // maxEdits 2 without a prefix guard reaches 'diary' (2 subs)
    val e2 = ids(
      """[{"$search": {"text": {"query": "quary", "path": "text",
            "fuzzy": {"maxEdits": 2}}}},
          {"$project": {"doc_id": 1}}]""")
    assert(e2 == Set(1L, 2L, 3L), s"maxEdits 2 reaches diary: $e2")
    // the 2-char exact prefix excludes diary again at the same maxEdits
    val ep = ids(
      """[{"$search": {"text": {"query": "quary", "path": "text",
            "fuzzy": {"maxEdits": 2, "prefixLength": 2}}}},
          {"$project": {"doc_id": 1}}]""")
    assert(ep == Set(1L, 2L), s"prefixLength 2 re-excludes diary: $ep")
    // composes in compound with a boost — fuzzy rides the fused pass
    val boosted = MongoPipeline(docs,
      """[{"$search": {"compound": {
            "must": [{"text": {"query": "quary", "path": "text",
              "fuzzy": {"maxEdits": 1},
              "score": {"boost": {"value": 2.0}}}}],
            "mustNot": [{"equals": {"path": "doc_id", "value": 2}}]}}},
          {"$project": {"doc_id": 1, "score": {"$meta": "searchScore"}}}]""")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(boosted.map(_._1).toSet == Set(1L), boosted.mkString(","))
    // autocomplete.fuzzy: head-of-token comparison — 'qu' within 1
    // edit of token heads 'qu'(ery)/'qu'(arry)/'di'(ary): diary's 'di'
    // is 2 edits away, out
    val af = ids(
      """[{"$search": {"autocomplete": {"query": "qu", "path": "text",
            "fuzzy": {"maxEdits": 1}}}},
          {"$project": {"doc_id": 1}}]""")
    assert(af == Set(1L, 2L), s"autocomplete fuzzy head match: $af")
    // contract errors: maxEdits out of Atlas' bound, negative
    // prefixLength, unknown fuzzy key, non-object fuzzy
    for (bad <- Seq(
      """{"maxEdits": 3}""",
      """{"maxEdits": 0}""",
      """{"prefixLength": -1}""",
      """{"maxEdits": 1, "transpositions": true}""",
      """2""")) {
      intercept[IllegalArgumentException] {
        MongoPipeline(docs,
          s"""[{"$$search": {"text": {"query": "quary", "path": "text",
                "fuzzy": $bad}}}]""")
      }
    }
  }

  test("$search phrase.slop: proximity matches what adjacency misses; slop 0 keeps the exact-adjacency model") {
    import spark.implicits._
    val docs = Seq(
      (1L, "hash join alpha"),        // adjacent — matches at any slop
      (2L, "hash scan join alpha"),   // one intervening token — slop 1
      (3L, "hash scan scan join"),    // two intervening — slop 2 only
      (4L, "join hash alpha"),        // wrong order — never
      (5L, "hash alpha beta"))        // no join — never
      .toDF("doc_id", "text")
    def ids(slop: Int): Set[Long] =
      MongoPipeline(docs,
        s"""[{"$$search": {"phrase": {"query": "hash join", "path": "text",
              "slop": $slop}}},
            {"$$project": {"doc_id": 1}}]""")
        .collect().map(_.getLong(0)).toSet
    assert(ids(1) == Set(1L, 2L), s"slop 1: ${ids(1)}")
    assert(ids(2) == Set(1L, 2L, 3L), s"slop 2: ${ids(2)}")
    // slop 0 ≡ the plain phrase operator, row for row
    val viaSlop0 = MongoPipeline(docs,
      """[{"$search": {"phrase": {"query": "hash join", "path": "text",
            "slop": 0}}},
          {"$project": {"doc_id": 1, "score": {"$meta": "searchScore"}}}]""")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val viaPlain = MongoPipeline(docs,
      """[{"$search": {"phrase": {"query": "hash join", "path": "text"}}},
          {"$project": {"doc_id": 1, "score": {"$meta": "searchScore"}}}]""")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(viaSlop0 == viaPlain, s"slop 0 must ride PhraseC: $viaSlop0")
    // counted-starts convention: 'a a b' with phrase 'a b' slop 1 has
    // TWO in-order starts (positions 1 and 2) — overlap allowed
    val tf2 = Seq((1L, "a a b"), (2L, "a c c b")).toDF("doc_id", "text")
    val scores = MongoPipeline(tf2,
      """[{"$search": {"phrase": {"query": "a b", "path": "text",
            "slop": 2}}},
          {"$project": {"doc_id": 1, "score": {"$meta": "searchScore"}}}]""")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(scores.keySet == Set(1L, 2L), scores.toString)
    assert(scores(1L) > scores(2L),
      s"two starts (tf 2, shorter doc) must outscore one: $scores")
    // composes in compound; negative slop refused
    val comp = MongoPipeline(docs,
      """[{"$search": {"compound": {
            "must": [{"phrase": {"query": "hash join", "path": "text",
                      "slop": 1}}],
            "mustNot": [{"equals": {"path": "doc_id", "value": 1}}]}}},
          {"$project": {"doc_id": 1}}]""")
      .collect().map(_.getLong(0)).toSet
    assert(comp == Set(2L), comp.toString)
    intercept[IllegalArgumentException] {
      MongoPipeline(docs,
        """[{"$search": {"phrase": {"query": "hash join", "path": "text",
              "slop": -1}}}]""")
    }
  }

  test("$search compound.minimumShouldMatch: m of the shoulds must match; m > |should| refused") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark query stream"), // must + 2 shoulds
      (2L, "spark query alpha"),  // must + 1 should
      (3L, "spark alpha beta"),   // must + 0 shoulds
      (4L, "query stream gamma")) // 2 shoulds but no must
      .toDF("doc_id", "text")
    def out(msmLine: String): Map[Long, Double] =
      MongoPipeline(docs,
        s"""[{"$$search": {"compound": {
              "must": [{"text": {"query": "spark", "path": "text"}}],
              "should": [{"text": {"query": "query", "path": "text"}},
                         {"text": {"query": "stream", "path": "text"}}]
              $msmLine}}},
            {"$$project": {"doc_id": 1, "score": {"$$meta": "searchScore"}}}]""")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val m0 = out("")
    val m1 = out(""", "minimumShouldMatch": 1""")
    val m2 = out(""", "minimumShouldMatch": 2""")
    assert(m0.keySet == Set(1L, 2L, 3L), m0.toString)
    assert(m1.keySet == Set(1L, 2L), m1.toString)
    assert(m2.keySet == Set(1L), m2.toString)
    // msm only FILTERS — surviving docs keep the identical score
    m2.foreach { case (k, v) => assert(v == m0(k), s"$k rescored: $v vs ${m0(k)}") }
    m1.foreach { case (k, v) => assert(v == m0(k), s"$k rescored: $v vs ${m0(k)}") }
    // m = 0 explicit ≡ absent; m > |should| and negative refused
    assert(out(""", "minimumShouldMatch": 0""") == m0)
    intercept[IllegalArgumentException] { out(""", "minimumShouldMatch": 3""") }
    intercept[IllegalArgumentException] { out(""", "minimumShouldMatch": -1""") }
  }

  test("$$SEARCH_META.count.total: the exact match-set size on every row, $limit-invariant; facet tails refused") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark query"), (2L, "spark stream"), (3L, "spark table"),
      (4L, "alpha beta"))
      .toDF("doc_id", "text")
    val rows = MongoPipeline(docs,
      """[{"$search": {"text": {"query": "spark", "path": "text"},
                       "count": {"type": "total"}}},
          {"$limit": 2},
          {"$project": {"doc_id": 1,
                        "total": "$$SEARCH_META.count.total"}}]""")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length == 2 && rows.forall(_._2 == 3L),
      s"total is the FULL match count (3), not the limited 2: ${rows.toSeq}")
    // lowerBound tail reads the same exact number; works via compound
    val lb = MongoPipeline(docs,
      """[{"$search": {"compound": {
            "must": [{"text": {"query": "spark", "path": "text"}}]},
            "count": {"type": "lowerBound"}}},
          {"$limit": 1},
          {"$project": {"total": "$$SEARCH_META.count.lowerBound"}}]""")
      .collect().map(_.getLong(0))
    assert(lb.toSeq == Seq(3L), lb.mkString(","))
    // the hidden column never leaks when unread
    val cols = MongoPipeline(docs,
      """[{"$search": {"text": {"query": "spark", "path": "text"},
                       "count": {"type": "total"}}}]""").columns.toSet
    assert(!cols.exists(_.contains("search_meta")), cols.toString)
    // contract errors: facet tail, bad count type, unknown count key
    intercept[IllegalArgumentException] {
      MongoPipeline(docs,
        """[{"$search": {"text": {"query": "spark", "path": "text"},
              "count": {"type": "total"}}},
            {"$project": {"f": "$$SEARCH_META.facet.langs"}}]""")
    }
    intercept[IllegalArgumentException] {
      MongoPipeline(docs,
        """[{"$search": {"text": {"query": "spark", "path": "text"},
              "count": {"type": "estimate"}}}]""")
    }
    intercept[IllegalArgumentException] {
      MongoPipeline(docs,
        """[{"$search": {"text": {"query": "spark", "path": "text"},
              "count": {"type": "total", "threshold": 5}}}]""")
    }
  }

  test("$search analyzer lucene.standard: splits on non-alphanumeric; whitespace default keeps tokens whole") {
    import spark.implicits._
    val docs = Seq(
      (1L, "3-MEDIUM"), (2L, "1-URGENT"), (3L, "4-NOT SPECIFIED"),
      (4L, "MEDIUM rare"))
      .toDF("doc_id", "pri")
    def ids(json: String): Set[Long] =
      MongoPipeline(docs, json).collect().map(_.getLong(0)).toSet
    val std = ids(
      """[{"$search": {"text": {"query": "medium urgent", "path": "pri"},
                       "analyzer": "lucene.standard"}},
          {"$project": {"doc_id": 1}}]""")
    assert(std == Set(1L, 2L, 4L),
      s"standard splits 3-MEDIUM/1-URGENT on the hyphen: $std")
    val ws = ids(
      """[{"$search": {"text": {"query": "medium urgent", "path": "pri"}}},
          {"$project": {"doc_id": 1}}]""")
    assert(ws == Set(4L),
      s"whitespace keeps '3-medium' whole — only the bare MEDIUM doc: $ws")
    // lucene.whitespace is accepted and ≡ the default
    val wsExplicit = ids(
      """[{"$search": {"text": {"query": "medium urgent", "path": "pri"},
                       "analyzer": "lucene.whitespace"}},
          {"$project": {"doc_id": 1}}]""")
    assert(wsExplicit == ws, wsExplicit.toString)
    // the QUERY side retokenizes too: a hyphenated query term splits
    val hq = ids(
      """[{"$search": {"text": {"query": "medium-urgent", "path": "pri"},
                       "analyzer": "lucene.standard"}},
          {"$project": {"doc_id": 1}}]""")
    assert(hq == Set(1L, 2L, 4L), s"query 'medium-urgent' → 2 terms: $hq")
    // contract errors: unknown analyzer; highlight/moreLikeThis combos
    intercept[IllegalArgumentException] {
      MongoPipeline(docs,
        """[{"$search": {"text": {"query": "medium", "path": "pri"},
              "analyzer": "lucene.english"}}]""")
    }
    intercept[IllegalArgumentException] {
      MongoPipeline(docs,
        """[{"$search": {"text": {"query": "medium", "path": "pri"},
              "analyzer": "lucene.standard",
              "highlight": {"path": "pri"}}}]""")
    }
    intercept[IllegalArgumentException] {
      MongoPipeline(docs,
        """[{"$search": {"moreLikeThis": {"like": {"pri": "medium rare"}},
              "analyzer": "lucene.standard"}}]""")
    }
  }

  test("$search regex: Java-only constructs RE2 parses differently are refused (class intersection, \\p{java*}, \\G)") {
    val docs = cat.documents
    for (bad <- Seq(
      "[a-z&&[^x]]+",          // class intersection — literal &s in RE2
      "\\p{javaLowerCase}+",   // Java-only property
      "\\Gquery"))             // Java-only boundary
      intercept[IllegalArgumentException] {
        MongoPipeline(docs,
          s"""[{"$$search": {"regex": {"query": ${
            com.fasterxml.jackson.databind.node.TextNode.valueOf(bad)
          }, "path": "text"}}}]""")
      }
  }

  test("$search text.matchCriteria all: every term must occur; score unchanged for survivors; composes as should") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark query stream"), // all three
      (2L, "spark query alpha"),  // two of three
      (3L, "spark alpha beta"),   // one
      (4L, "alpha beta gamma"))   // none
      .toDF("doc_id", "text")
    def out(json: String): Map[Long, Double] =
      MongoPipeline(docs, json)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val any = out(
      """[{"$search": {"text": {"query": "spark query stream",
            "path": "text"}}},
          {"$project": {"doc_id": 1, "score": {"$meta": "searchScore"}}}]""")
    val allM = out(
      """[{"$search": {"text": {"query": "spark query stream",
            "path": "text", "matchCriteria": "all"}}},
          {"$project": {"doc_id": 1, "score": {"$meta": "searchScore"}}}]""")
    assert(any.keySet == Set(1L, 2L, 3L) && allM.keySet == Set(1L),
      s"any: ${any.keySet}, all: ${allM.keySet}")
    assert(allM(1L) == any(1L),
      s"matchCriteria only FILTERS — the survivor keeps its any-score: " +
        s"${allM(1L)} vs ${any(1L)}")
    // a non-matching all-SHOULD contributes ZERO score (gated), unlike
    // the default should which pays partial matches
    val comp = out(
      """[{"$search": {"compound": {
            "must": [{"text": {"query": "spark", "path": "text"}}],
            "should": [{"text": {"query": "query stream", "path": "text",
                        "matchCriteria": "all"}}]}}},
          {"$project": {"doc_id": 1, "score": {"$meta": "searchScore"}}}]""")
    val mustOnly = out(
      """[{"$search": {"text": {"query": "spark", "path": "text"}}},
          {"$project": {"doc_id": 1, "score": {"$meta": "searchScore"}}}]""")
    assert(comp.keySet == Set(1L, 2L, 3L), comp.toString)
    assert(comp(2L) == mustOnly(2L) && comp(3L) == mustOnly(3L),
      s"partial all-should must contribute 0: $comp vs $mustOnly")
    assert(comp(1L) > mustOnly(1L), s"full all-should contributes: $comp")
    // matchCriteria 'all' excludes via mustNot only when ALL occur
    val mn = MongoPipeline(docs,
      """[{"$search": {"compound": {
            "must": [{"text": {"query": "spark", "path": "text"}}],
            "mustNot": [{"text": {"query": "query stream", "path": "text",
                         "matchCriteria": "all"}}]}}},
          {"$project": {"doc_id": 1}}]""")
      .collect().map(_.getLong(0)).toSet
    assert(mn == Set(2L, 3L), mn.toString)
    // one-term all ≡ any; bad matchCriteria and all+fuzzy refused
    assert(out("""[{"$search": {"text": {"query": "spark", "path": "text",
        "matchCriteria": "all"}}},
        {"$project": {"doc_id": 1, "score": {"$meta": "searchScore"}}}]""")
      == mustOnly)
    intercept[IllegalArgumentException] {
      MongoPipeline(docs,
        """[{"$search": {"text": {"query": "a b", "path": "text",
              "matchCriteria": "most"}}}]""")
    }
    intercept[IllegalArgumentException] {
      MongoPipeline(docs,
        """[{"$search": {"text": {"query": "a b", "path": "text",
              "matchCriteria": "all", "fuzzy": {"maxEdits": 1}}}}]""")
    }
  }

  test("$search text.synonyms: equivalent groups score as one virtual term; contract errors refuse loudly") {
    import spark.implicits._
    val docs = Seq(
      (1L, "car fast"),      // group member
      (2L, "auto fast"),     // other member — must score ≡ doc 1
      (3L, "car auto fast"), // both members: tf 2
      (4L, "fast alpha"))    // none
      .toDF("doc_id", "text")
    val syns = Seq(("equivalent", Seq("car", "auto")))
      .toDF("mappingType", "synonyms")
    def resolve(n: String) =
      if (n == "syns") syns
      else throw new IllegalArgumentException(s"no table $n")
    val out = MongoPipeline(docs,
      """[{"$search": {"text": {"query": "car", "path": "text",
            "synonyms": "syns"}}},
          {"$project": {"doc_id": 1, "score": {"$meta": "searchScore"}}}]""",
      resolve)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(out.keySet == Set(1L, 2L, 3L), out.toString)
    assert(out(1L) == out(2L),
      s"synonym members are ONE term — equal docs score equally: $out")
    assert(out(3L) > out(1L), s"tf 2 (both members) outscores tf 1: $out")
    // an unmapped term stays itself (singleton group)
    val un = MongoPipeline(docs,
      """[{"$search": {"text": {"query": "fast", "path": "text",
            "synonyms": "syns"}}},
          {"$project": {"doc_id": 1}}]""", resolve)
      .collect().map(_.getLong(0)).toSet
    assert(un == Set(1L, 2L, 3L, 4L), un.toString)
    // contract errors: explicit mapping, overlapping groups,
    // synonyms+fuzzy, synonyms+matchCriteria-all, missing columns
    def withMapping(m: org.apache.spark.sql.DataFrame) =
      intercept[IllegalArgumentException] {
        MongoPipeline(docs,
          """[{"$search": {"text": {"query": "car", "path": "text",
                "synonyms": "m"}}}]""",
          n => if (n == "m") m else throw new RuntimeException(n))
      }
    withMapping(Seq(("explicit", Seq("car", "auto")))
      .toDF("mappingType", "synonyms"))
    withMapping(Seq(("equivalent", Seq("car", "auto")),
      ("equivalent", Seq("auto", "vehicle")))
      .toDF("mappingType", "synonyms"))
    withMapping(Seq(("equivalent", Seq("car")))
      .toDF("mappingType", "synonyms"))
    withMapping(Seq(Tuple1(Seq("car", "auto"))).toDF("synonyms"))
    intercept[IllegalArgumentException] {
      MongoPipeline(docs,
        """[{"$search": {"text": {"query": "car", "path": "text",
              "synonyms": "syns", "fuzzy": {"maxEdits": 1}}}}]""", resolve)
    }
    intercept[IllegalArgumentException] {
      MongoPipeline(docs,
        """[{"$search": {"text": {"query": "car fast", "path": "text",
              "synonyms": "syns", "matchCriteria": "all"}}}]""", resolve)
    }
  }

  test("$search moreLikeThis tokenizes the like doc SPACE-ONLY — a tabbed token stays one corpus-parity token") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha\tbeta gamma"), // 'alpha\tbeta' is ONE whitespace-token
      (2L, "gamma delta"))
      .toDF("doc_id", "text")
    val out = MongoPipeline(docs,
      """[{"$search": {"moreLikeThis": {
            "like": {"text": "alpha\tbeta"}}}},
          {"$project": {"doc_id": 1}}]""")
      .collect().map(_.getLong(0)).toSet
    // under a \s+ like-doc split the term would shatter into alpha/
    // beta (both df 0 → 'no shared vocabulary' error); space-only
    // parity keeps it one term that matches doc 1's token
    assert(out == Set(1L), out.toString)
  }

  /** A small corpus every `$search` clause kind has something to match
    * in: text, a nullable number, a nullable score field, a planar
    * point and an array of child documents (null for doc 4).
    */
  private def searchCorpus = {
    import spark.implicits._
    Seq(
      (1L, "spark stream fast engine", Some(10L), Some(1.5), Seq(0.0, 0.0),
        Seq((Some(10), "a"), (Some(35), "b"))),
      (2L, "spark spark batch quick", Some(20L), None, Seq(3.0, 4.0),
        Seq((Some(40), "d"))),
      (3L, "stream processing engine fast", None, Some(2.0), Seq(10.0, 10.0),
        Seq.empty[(Option[Int], String)]),
      (4L, "the quick brown fox", Some(30L), Some(0.5), Seq(6.0, 1.0),
        Seq((Some(1), "z"))),
      (5L, "sparkling streams of data", Some(40L), Some(3.0), Seq(-2.0, 1.0),
        Seq((Some(45), "c"), (None, "a"), (Some(30), "a"))),
      (6L, "fast fast spark engine stream", Some(50L), None, Seq(1.0, 1.0),
        Seq((Some(5), "e"), (None, "x"))),
      (7L, "batch engine of the spark", Some(60L), Some(4.0), Seq(2.0, 2.0),
        Seq((Some(31), "f"))),
      (8L, "spork strem fst engine", Some(70L), Some(1.0), Seq(20.0, 20.0),
        Seq((Some(50), "g"))))
      .toDF("doc_id", "text", "qty", "pop", "loc", "raw")
      .select(col("doc_id"), col("text"), col("qty"), col("pop"), col("loc"),
        when(col("doc_id") === 4L, lit(null)).otherwise(transform(col("raw"),
          x => struct(x.getField("_1").as("qty"), x.getField("_2").as("tag"))))
          .as("items"))
  }

  test("$search: a lone clause returns the rows and searchScore of its one-clause compound, every kind and score modifier") {
    import spark.implicits._
    val docs = searchCorpus
    val syns = Seq(("equivalent", Seq("fast", "quick")))
      .toDF("mappingType", "synonyms")
    def resolve(n: String) =
      if (n == "syns") syns
      else throw new IllegalArgumentException(s"no table $n")
    def run(search: String): Seq[(Long, Double)] =
      MongoPipeline(docs,
        s"""[{"$$search": $search},
            {"$$project": {"doc_id": 1, "score": {"$$meta": "searchScore"}}}]""",
        resolve)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    // (kind, body fields): one entry per clause kind and option
    val clauses = Seq(
      "text" -> """"query": "spark stream", "path": "text"""",
      "text" -> """"query": "spark", "path": "text", "fuzzy": {"maxEdits": 1}""",
      "text" -> """"query": "spark engine", "path": "text", "matchCriteria": "all"""",
      "text" -> """"query": "fast", "path": "text", "synonyms": "syns"""",
      "phrase" -> """"query": "spark engine", "path": "text"""",
      "phrase" -> """"query": "spark engine", "path": "text", "slop": 2""",
      "autocomplete" -> """"query": "spa", "path": "text"""",
      "autocomplete" -> """"query": "spo", "path": "text", "fuzzy": {"maxEdits": 1}""",
      "wildcard" -> """"query": "str*m", "path": "text"""",
      "regex" -> """"query": "st.*", "path": "text"""",
      "moreLikeThis" -> """"like": {"text": "spark stream engine"}""",
      "near" -> """"path": "qty", "origin": 30, "pivot": 10""",
      "range" -> """"path": "qty", "gte": 20, "lt": 50""",
      "equals" -> """"path": "qty", "value": 30""",
      "in" -> """"path": "qty", "value": [10, 40, 70]""",
      "exists" -> """"path": "pop"""",
      "geoWithin" -> """"path": "loc", "box": {"bottomLeft": [0, 0], "topRight": [5, 5]}""",
      "geoWithin" -> """"path": "loc", "circle": {"center": [0, 0], "radius": 5}""")
    val mods = Seq("",
      """, "score": {"boost": {"value": 2.5}}""",
      """, "score": {"constant": {"value": 3}}""",
      """, "score": {"function": {"path": {"value": "pop", "undefined": 0.25}}}""")
    // embeddedDocument's score option is its child aggregate, not a modifier
    val embedded = Seq("sum", "maximum").map { agg =>
      "embeddedDocument" ->
        ("""{"path": "items", "operator": {"range": {"path": "qty", "gte": 30, "lte": 50}},""" +
          s""" "score": {"embedded": {"aggregate": "$agg"}}}""")
    }
    val cases = (for ((kind, body) <- clauses; mod <- mods)
      yield kind -> s"{$body$mod}") ++ embedded
    for ((kind, clause) <- cases) {
      val lone = run(s"""{"$kind": $clause}""")
      val compound = run(s"""{"compound": {"must": [{"$kind": $clause}]}}""")
      assert(lone.nonEmpty, s"$kind $clause matches nothing")
      assert(lone == compound, s"$kind $clause: lone $lone vs compound $compound")
    }
  }

  test("$search attribute clauses match as $match does on the path, and count children as filter over the array") {
    val docs = searchCorpus
    def ids(json: String): Set[Long] =
      MongoPipeline(docs, json).collect().map(_.getLong(0)).toSet
    def childCounts(json: String): Map[Long, Double] =
      MongoPipeline(docs, json)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // (search clause body without path, $match operators, child predicate)
    val q = (x: org.apache.spark.sql.Column) => x.getField("qty")
    val cases = Seq[(String, String, org.apache.spark.sql.Column => org.apache.spark.sql.Column)](
      ("range", """"gte": 20, "lt": 50""", x => q(x) >= 20 && q(x) < 50),
      ("equals", """"value": 30""", x => q(x) === 30),
      ("in", """"value": [10, 40, 70]""", x => q(x).isin(10, 40, 70)),
      ("exists", "", x => q(x).isNotNull))
    val ops = Map(
      "range" -> """{"$gte": 20, "$lt": 50}""",
      "equals" -> """{"$eq": 30}""",
      "in" -> """{"$in": [10, 40, 70]}""",
      "exists" -> """{"$exists": true}""")
    for ((kind, fields, childPred) <- cases) {
      val body = if (fields.isEmpty) """"path": "qty"""" else s""""path": "qty", $fields"""
      val searched = ids(
        s"""[{"$$search": {"$kind": {$body}}}, {"$$project": {"doc_id": 1}}]""")
      val matched = ids(
        s"""[{"$$match": {"qty": ${ops(kind)}}}, {"$$project": {"doc_id": 1}}]""")
      assert(searched.nonEmpty && searched == matched,
        s"$kind: $$search $searched vs $$match $matched")
      val counts = childCounts(
        s"""[{"$$search": {"embeddedDocument": {"path": "items",
              "operator": {"$kind": {$body}}}}},
            {"$$project": {"doc_id": 1, "score": {"$$meta": "searchScore"}}}]""")
      val expected = docs
        .select(col("doc_id"), size(filter(col("items"), childPred)).as("n"))
        .where(col("n") > 0) // a null array has no size
        .collect().map(r => r.getLong(0) -> r.getInt(1).toDouble).toMap
      assert(counts.nonEmpty && counts == expected,
        s"embedded $kind: $$search $counts vs size(filter) $expected")
    }
  }
}
