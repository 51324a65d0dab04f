package org.apache.spark

/** Test-only access to `SparkContext.checkpointDir` (private[spark]):
  * Spark can set a reliable checkpoint dir but not unset it, and a spec
  * that sets one on the shared test session must put it back.
  */
object CheckpointDirBridge {
  def set(sc: SparkContext, dir: Option[String]): Unit = sc.checkpointDir = dir
}
