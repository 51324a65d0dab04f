package graft.perfbench

import scala.util.control.NonFatal

/** Entry point of one benchmark run (launched by `run.py`):
  *
  *   graft.perfbench.Main <workload> <trace 0|1> <inputDir> <workDir> <resultJson>
  *
  * Reads the generated inputs and `params.json` (which sizes the run's
  * work) from `inputDir`, keeps all state under `workDir`, and writes the
  * run's [[Result]] to `resultJson`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, traceArg, inDir, work, out) = args
    val spark = Session(work)
    if (traceArg == "1") Trace.enable(spark.sparkContext)
    val res = new Result
    try {
      val extra = workload match {
        case "cdc_sync" => CdcSync.run(spark, inDir, work, res)
        case "batch_mix" => BatchMix.run(spark, inDir, work, res)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      if (Trace.enabled) Layers.fill(res, extra)
    } catch {
      case NonFatal(e) =>
        res.op("workload")(throw e)
    }
    res.write(out)
    spark.stop()
  }
}
