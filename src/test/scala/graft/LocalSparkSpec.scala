package graft

import org.apache.spark.network.util.JavaUtils

class LocalSparkSpec extends SparkTestBase {

  test("LocalSpark(4): local[4], UTC, 4 shuffle partitions, no UI") {
    val s = LocalSpark(cpus = 4)
    assert(s.sparkContext.master == "local[4]")
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(s.sparkContext.uiWebUrl.isEmpty)
  }

  test("Spark's own AQE coalescing defaults are the values Bench once set") {
    val s = LocalSpark(cpus = 4)
    assert(s.conf.get("spark.sql.adaptive.coalescePartitions.parallelismFirst") == "true")
    val advisory = s.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    assert(JavaUtils.byteStringAsBytes(advisory) == JavaUtils.byteStringAsBytes("64m"))
  }
}
