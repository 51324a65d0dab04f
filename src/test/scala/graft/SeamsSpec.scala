package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.CheckpointDirBridge

/** Reliable-mode seams: [[Seams.release]] must free the checkpoint
  * files along with the blocks, or a daemon that releases after every
  * batch still grows its checkpoint dir without bound. And a seam is
  * not lazy under AQE: building one runs the shuffle stages below it.
  */
class SeamsSpec extends SparkTestBase {

  test("building a seam over an aggregate launches jobs before any action") {
    import org.apache.spark.sql.functions.col
    val agg = spark.range(10000).groupBy((col("id") % 7).as("k")).count()
    try {
      val (jobs, _) = jobsOutsideSql(Seams.seam(agg): Unit)
      assert(jobs >= 1, s"$jobs jobs while the seam was built")
    } finally Seams.release()
  }

  test("reliable-mode release deletes the seam's checkpoint files") {
    val sc = spark.sparkContext
    val before = sc.getCheckpointDir
    val dir = Files.createTempDirectory("graft-seams-ckpt")
    def rddDirs(): Seq[Path] = {
      val s = Files.walk(dir)
      try s.iterator.asScala
        .filter(p => Files.isDirectory(p) &&
          p.getFileName.toString.startsWith("rdd-")).toList
      finally s.close()
    }
    sc.setCheckpointDir(dir.toString)
    try {
      val cut = Seams.cut(spark.range(100).toDF("x"))
      assert(cut.count() == 100)
      assert(rddDirs().nonEmpty, "the cut wrote no reliable checkpoint")
      Seams.release()
      assert(rddDirs().isEmpty, s"checkpoint files left: ${rddDirs()}")
    } finally CheckpointDirBridge.set(sc, before)
    assert(sc.getCheckpointDir == before)
  }
}
