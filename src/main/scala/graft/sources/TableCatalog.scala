package graft.sources

import org.apache.parquet.hadoop.Footer
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Named access to the engine's input tables (one parquet file per
  * table under a scale-factor directory).
  *
  * Mirrors the reference's notion of a MongoDB namespace
  * (`db.collection`) as the unit a direct read targets
  * (/root/reference/route81.go:446 `direct-read-namespace`): here a
  * namespace is `<dir>/<name>.parquet` and scans stay lazy so
  * Catalyst can push filters/projections into the parquet reader.
  * Building a table's frame launches no Spark job: its schema comes
  * from the parquet footer, read on the driver.
  */
final class TableCatalog(spark: SparkSession, dir: String) {

  /** Lazy scan of one table; no action is triggered. */
  def table(name: String): DataFrame =
    if (name == "events") events else raw(name)

  /** A table read with its footer schema ([[ParquetFooter]]), so
    * building it launches no schema-inference job. An absent table
    * reads with an empty schema, which leaves Spark's own path check
    * to fail it. `prepare` sees the footer before it is converted.
    */
  private def raw(name: String, prepare: Footer => Unit = _ => ()): DataFrame = {
    val path = s"$dir/$name.parquet"
    val footer = ParquetFooter.read(spark, path)
    footer.foreach(prepare)
    spark.read.schema(footer.map(ParquetFooter.toSpark(spark, _)).getOrElse(new StructType))
      .parquet(path)
  }

  def region: DataFrame = table("region")
  def nation: DataFrame = table("nation")
  def customer: DataFrame = table("customer")
  def supplier: DataFrame = table("supplier")
  def part: DataFrame = table("part")
  def orders: DataFrame = table("orders")
  def lineitem: DataFrame = table("lineitem")
  /** `events.ts` has shipped in two physical shapes across testdata
    * generations: TIMESTAMP(NANOS) (which Spark's vectorized reader
    * rejects — read nanos as long, then truncate ns→µs exactly like
    * DuckDB does on fetch) and plain `timestamp[us]` (read as
    * TIMESTAMP_NTZ when the file's isAdjustedToUTC is false). Branch
    * on the scanned dtype so either generation yields the same
    * session-TZ TimestampType column the oracles compare against.
    *
    * Reading nanos as long takes the session-wide
    * `spark.sql.legacy.parquet.nanosAsLong`, at planning and at scan
    * time alike, so it is set only when the footer shows a
    * TIMESTAMP(NANOS) `ts`; a µs table leaves the session untouched.
    */
  def events: DataFrame = {
    val df = raw("events", footer => if (nanosTs(footer))
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true"))
    df.schema("ts").dataType match {
      case LongType =>
        // integer `div`, not `/`: nanosecond epochs exceed double's 2^53
        // mantissa, so float division corrupts the low microseconds
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        // naive µs wall-clock; session TZ is UTC everywhere in this
        // engine, so the cast reinterprets without shifting the instant
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df // already a session-TZ timestamp
    }
  }
  private def nanosTs(footer: Footer): Boolean = {
    val schema = footer.getParquetMetadata.getFileMetaData.getSchema
    schema.containsField("ts") && (schema.getType(schema.getFieldIndex("ts")).getLogicalTypeAnnotation match {
      case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
      case _ => false
    })
  }
  def documents: DataFrame = table("documents")
  def embeddings: DataFrame = table("embeddings")
}

object TableCatalog {
  def apply(spark: SparkSession, dir: String): TableCatalog =
    new TableCatalog(spark, dir)
}
