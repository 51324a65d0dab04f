package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.execution.FormattedMode

import graft.{Bench, LocalSpark, Seams, SparkEntry}

/** Dev probe over the registered queries (not part of the driver
  * contract). For each query it writes the formatted physical plan to
  * `<outDir>/<name>.txt` and prints the plan's exchange, parquet-scan,
  * sort-merge-join and broadcast-hash-join counts. With `reps > 0` it
  * then warms the query up once on the sf0.001 tables next to `sfDir`
  * and times `reps` runs of `count()`, printing each run's wall time
  * and the Spark jobs, stages (skipped ones left out) and tasks it ran.
  * Seams are released after every dump and run, as Bench does.
  *
  * Usage: runMain graft.tools.Probe <sfDir> <outDir> <reps> <name...|all>
  */
object Probe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4, "usage: Probe <sfDir> <outDir> <reps> <name...|all>")
    val Array(sfDir, outDir, repsArg) = args.take(3)
    val reps = repsArg.toInt
    val names =
      if (args.drop(3).sameElements(Seq("all"))) SparkEntry.queries.keys.toSeq.sorted
      else args.drop(3).toSeq
    lazy val warmDir = Bench.warmDirFor(sfDir)
    val spark = LocalSpark()
    val sc = spark.sparkContext
    val counts = new Counts
    sc.addSparkListener(counts)
    Files.createDirectories(Paths.get(outDir))
    for (name <- names) {
      val query = SparkEntry.queries(name)
      val plan = query(spark, sfDir).queryExecution.explainString(FormattedMode)
      Files.writeString(Paths.get(outDir, s"$name.txt"), plan)
      def n(op: String) = op.r.findAllIn(plan).size
      println(s"PLAN $name exchanges=${n("Exchange") - n("ReusedExchange")} " +
        s"scans=${n("Scan parquet")} smj=${n("SortMergeJoin")} bhj=${n("BroadcastHashJoin")}")
      // Drop this query's seam registrations so the next plan can't pick
      // up a cross-query InMemoryRelation substitution.
      Seams.release()
      if (reps > 0) {
        try query(spark, warmDir).count()
        finally Seams.release()
        for (rep <- 1 to reps) {
          GraftBridge.drainListenerBus(sc)
          counts.reset()
          val t0 = System.nanoTime()
          val rows = query(spark, sfDir).count()
          val secs = (System.nanoTime() - t0) / 1e9
          GraftBridge.drainListenerBus(sc)
          println(f"PROBE $name rep$rep: $secs%.3f s ($rows rows) " +
            s"jobs=${counts.jobs} stages=${counts.stages} tasks=${counts.tasks}")
          Seams.release()
        }
      }
    }
    spark.stop()
  }

  /** Jobs, completed stages (a skipped stage never completes) and
    * finished tasks since the last reset.
    */
  private final class Counts extends SparkListener {
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    def reset(): Unit = { jobs = 0; stages = 0; tasks = 0 }
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      stages += 1
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = tasks += 1
  }
}
