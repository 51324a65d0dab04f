package graft

import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.types.{LongType, TimestampType}

import graft.sources.{ParquetFooter, TableCatalog}

/** Catalog reads take their schema from one parquet footer read on the
  * driver ([[ParquetFooter]]): the same schema Spark's inference
  * gives, without the inference job.
  */
class CatalogSpec extends SparkTestBase {

  // the driver's verify scale, next to the suite's sf0.001 tables
  private val dir = new java.io.File(sfDir).getParent + "/sf0.01"
  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  /** The frame's schema when read with the footer's: Spark makes every
    * file-source column nullable, with or without inference.
    */
  private def readWithFooter(path: String, recursive: Boolean = false) =
    spark.read.option("recursiveFileLookup", recursive.toString)
      .schema(ParquetFooter.schema(spark, path).get).parquet(path).schema

  test("catalog parity: every table's schema is the one Spark infers") {
    val cat = TableCatalog(spark, dir)
    for (t <- tables) {
      val got = cat.table(t).schema // sets events' nanosAsLong first
      val inferred = spark.read.parquet(s"$dir/$t.parquet").schema
      assert(readWithFooter(s"$dir/$t.parquet") == inferred, t)
      if (t == "events") {
        // the ts branch normalizes whichever type inference yields
        val norm = inferred.fields.map(f =>
          if (f.name == "ts") f.copy(dataType = TimestampType) else f)
        assert(got.fields.toSeq == norm.toSeq, t)
      } else assert(got == inferred, t)
    }
  }

  test("catalog: building all ten tables launches no Spark job") {
    val (jobs, _) = jobsOutsideSql {
      val cat = TableCatalog(spark, dir)
      tables.foreach(cat.table(_).schema)
    }
    assert(jobs == 0, s"$jobs jobs")
  }

  test("catalog: events over µs data leaves the session's nanosAsLong unset") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    def set = spark.sessionState.conf.getAllConfs.get(key) // None: never set
    val before = set
    spark.conf.unset(key)
    try {
      val ev = TableCatalog(spark, dir).events
      assert(ev.schema("ts").dataType == TimestampType)
      assert(set.isEmpty, set)
    } finally before.foreach(spark.conf.set(key, _))
  }

  test("registry build is job-free: building q1_pricing launches no Spark job") {
    val (jobs, _) = jobsOutsideSql(SparkEntry.queries("q1_pricing")(spark, dir))
    assert(jobs == 0, s"$jobs jobs")
  }

  test("catalog: an absent table fails with Spark's own path error, an empty one as inference does") {
    val root = tmp("graft-catalog-missing")
    val missing = intercept[AnalysisException](TableCatalog(spark, root).table("lineitem"))
    assert(missing.getCondition == "PATH_NOT_FOUND", missing.getMessage)
    assert(ParquetFooter.schema(spark, s"$root/lineitem.parquet").isEmpty)
    Files.createDirectories(Paths.get(root, "region.parquet"))
    Files.createFile(Paths.get(root, "region.parquet", "_SUCCESS"))
    val ours = intercept[AnalysisException](TableCatalog(spark, root).table("region"))
    val spark0 = intercept[AnalysisException](spark.read.parquet(s"$root/region.parquet"))
    assert(ours.getCondition == spark0.getCondition, ours.getMessage)
  }

  test("ParquetFooter: a directory of part files skips _SUCCESS and .crc files") {
    import spark.implicits._
    val out = tmp("graft-footer-dir") + "/t"
    (1L to 40L).map(i => (i, s"v$i", i * 0.5)).toDF("k", "v", "x")
      .repartition(3).write.parquet(out)
    val names = new java.io.File(out).list().toSet
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")), names)
    val (jobs, _) = jobsOutsideSql(readWithFooter(out): Unit)
    assert(jobs == 0, s"$jobs jobs")
    assert(readWithFooter(out) == spark.read.parquet(out).schema)
  }

  test("ParquetFooter: a recursive shard tree reads the first data leaf in listing order") {
    import spark.implicits._
    val root = tmp("graft-footer-tree")
    // a0 holds only a marker, hidden entries hold unreadable files: the
    // search must pass all three to reach b1, whose schema differs from b2's
    Files.createDirectories(Paths.get(root, "a0"))
    Files.createFile(Paths.get(root, "a0", "_SUCCESS"))
    for (h <- Seq(".hidden", "_tmp")) {
      Files.createDirectories(Paths.get(root, h))
      Files.writeString(Paths.get(root, h, "part-0.parquet"), "not parquet")
    }
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$root/b1")
    Seq((2L, "b", 3L)).toDF("k", "v", "extra").write.parquet(s"$root/b2")
    val inferred = spark.read.option("recursiveFileLookup", "true").parquet(root).schema
    assert(readWithFooter(root, recursive = true) == inferred)
    assert(inferred.fieldNames.toSeq == Seq("k", "v"))
  }

  test("ParquetFooter: TIMESTAMP(NANOS) resolves with the session's nanosAsLong, and events normalizes it") {
    val root = tmp("graft-footer-nanos")
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(new Path(s"$root/events.parquet"))
      .withType(schema).withConf(new Configuration()).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("event_id", 1L).append("ts", 1700000000123456789L))
    finally w.close()
    val ev = TableCatalog(spark, root).events // sets nanosAsLong
    val path = s"$root/events.parquet"
    assert(readWithFooter(path) == spark.read.parquet(path).schema)
    assert(ParquetFooter.schema(spark, path).get("ts").dataType == LongType)
    assert(ev.schema("ts").dataType == TimestampType)
    val ts = ev.select("ts").head().getTimestamp(0)
    assert(ts.getTime == 1700000000123L && ts.getNanos == 123456000)
  }
}
