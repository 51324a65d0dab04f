package graft.tools

import org.apache.spark.sql.functions._

import graft.LocalSpark
import graft.operators.TemporalJoin
import graft.sources.TableCatalog

/** Dev harness (not part of the driver contract): measure the salted
  * interval join at a REAL hot key — half of all events are remapped
  * to one user id, so one (key, bucket) stripe owns ~50% of every
  * shuffle. Runs the same join with salt 1 vs salt 8, with AQE's
  * skew-join split enabled and disabled, and prints pair counts
  * (they must be identical across all four configurations — salting
  * is results-invariant, spec-checked) plus wall times.
  *
  * The expectation being documented: AQE's skew split already
  * absorbs moderate skew for plain shuffle joins, so the salt's win
  * shows mainly when AQE cannot help (skew split applies only to
  * sort-merge joins, not to stream-stream or broadcast shapes) or
  * when one cell exceeds what split-by-map-ranges can balance.
  *
  * Usage: runMain graft.tools.RangeJoinSkew <sfDir> <reps>
  */
object RangeJoinSkew {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, repsStr) = args
    val reps = repsStr.toInt
    val spark = LocalSpark()
    // the salt's regime is a big-x-big shuffle join: at 100 TB neither
    // side broadcasts. At test SFs Spark would broadcast the purchase
    // side and dissolve the key stripes entirely (a broadcast join
    // has no reduce partitioning — also the FIRST skew lever when one
    // side fits), so force the shuffle path for the measurement.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // one user owns ~half of all clicks AND purchases
    val ev = TableCatalog(spark, sfDir).events
      .withColumn("user_id",
        when(col("user_id") % 2 === 0, lit(1L)).otherwise(col("user_id")))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"), col("value").as("p_value"))
    for (aqeSkew <- Seq(true, false); salt <- Seq(1, 8); rep <- 1 to reps) {
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", aqeSkew.toString)
      val t0 = System.nanoTime()
      val n = TemporalJoin.rangeJoinPairs(clicks, purchases,
        keys = Seq("user_id"), leftTime = "ts", rightTime = "p_ts",
        payload = Seq("p_value"), widthSec = 21600L, salt = salt).count()
      println(f"RJSKEW aqeSkew=$aqeSkew salt=$salt rep$rep: " +
        f"${(System.nanoTime() - t0) / 1e9}%.2f s ($n pairs)")
    }
    // Stripe-balance probe — the metric that actually predicts
    // cluster wall-clock (stage time ≈ max reduce-partition load; a
    // 32-core local box hides a 1-task straggler that a 1000-task
    // cluster stage cannot). AQE disabled so partition ids map 1:1
    // to reduce stripes.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    for (salt <- Seq(1, 8)) {
      val per = TemporalJoin.rangeJoinPairs(clicks, purchases,
        keys = Seq("user_id"), leftTime = "ts", rightTime = "p_ts",
        payload = Seq("p_value"), widthSec = 21600L, salt = salt)
        .select(spark_partition_id().as("p"))
        .groupBy("p").count()
        .agg(max(col("count")).as("mx"), avg(col("count")).as("mean"),
          count(lit(1)).as("parts"))
        .head()
      val (mx, mean) = (per.getLong(0), per.getDouble(1))
      println(f"RJBAL salt=$salt: max-partition=$mx%,d mean=${mean}%,.0f " +
        f"imbalance=${mx / mean}%.1fx over ${per.getLong(2)} partitions")
    }
    spark.stop()
  }
}
