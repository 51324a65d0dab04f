package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, udf}

class BenchSpec extends SparkTestBase {

  test("a query that throws has no timing and is reported as failed") {
    val boom = udf((x: Long) =>
      if (x == 2) throw new IllegalStateException("boom") else x)
    // dirs are only labels here: "late" throws on the measured dir only
    val queries = Map[String, (SparkSession, String) => DataFrame](
      "ok" -> ((s, _) => s.range(5).toDF()),
      "throws" -> ((s, _) => s.range(5).toDF().filter(boom(col("id")) >= 0)),
      "late" -> ((s, dir) =>
        if (dir == "measured") throw new IllegalStateException("late")
        else s.range(1).toDF()))
    val r = Bench.run(spark, queries, sfDir = "measured", warmDir = "warm", reps = 2)
    assert(r.timings.map(_._1) == Seq("ok"))
    assert(r.timings.forall(_._2 >= 0.0))
    assert(r.failed.toSet == Set("throws", "late"))
  }
}
