package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession for the whole test run. */
object SparkTestBase {
  lazy val spark: SparkSession = LocalSpark(cpus = 4)

  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkTestBase.spark
    // Keep the suite log signal-bearing (the r13 hygiene note):
    //  - WindowExec's single-partition warning fires on the BOUNDED
    //    post-aggregation windows (≤ 64 rows by construction); the
    //    data-sized case it exists to flag is now ASSERTED impossible
    //    by PlanSpec's registered-query sweep, so the blanket warning
    //    only masks real ones;
    //  - Executor/TaskSetManager stack traces for EXPECTED-exception
    //    tests (intercept[...]) are redundant with the thrown error
    //    the test already asserts on — real failures still propagate.
    import org.apache.logging.log4j.Level
    import org.apache.logging.log4j.core.config.Configurator
    Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec", Level.ERROR)
    Configurator.setLevel("org.apache.spark.executor.Executor", Level.FATAL)
    Configurator.setLevel(
      "org.apache.spark.scheduler.TaskSetManager", Level.FATAL)
    s
  }
  def sfDir: String = SparkTestBase.sfDir
}
