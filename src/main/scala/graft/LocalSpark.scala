package graft

import org.apache.spark.sql.SparkSession

/** The one session factory for graft's entry points, tools and specs:
  * `local[cpus]` with one shuffle partition per core, UTC session time,
  * no UI, WARN logging. With `SPARK_GRAFT_CHECKPOINT_DIR` set, the
  * context gets that reliable checkpoint dir, so every [[Seams]] seam
  * and cut survives executor loss; unset, they stay `localCheckpoint`.
  *
  * Extensions are not installed: [[GraftExtensions]] would change plans.
  */
object LocalSpark {

  /** `SPARK_GRAFT_CPUS` if set, else the JVM's available processors. */
  private def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    sys.env.get("SPARK_GRAFT_CHECKPOINT_DIR")
      .foreach(spark.sparkContext.setCheckpointDir)
    spark
  }
}
