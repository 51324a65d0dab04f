package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** A parquet table's schema from one footer, read on the driver.
  *
  * A schema-less `spark.read.parquet` infers the schema with a Spark
  * job (one task, even for a single file) every time a frame is
  * built. Passing this schema instead (`spark.read.schema(s)`) builds
  * the same frame with no job: like a streaming file source, the
  * schema is fixed when the read is set up.
  */
object ParquetFooter {

  /** The Spark schema of the parquet data at `path`, as Spark's own
    * inference with schema merging off resolves it: the footer of the
    * file itself, or of the first data file under a directory (names
    * sorted at every level, `_*` and `.*` entries skipped — the files
    * Spark's listing hides — subdirectories searched too, as a
    * `recursiveFileLookup` read lists them). The converter reads
    * the session conf at call time, so `nanosAsLong`, binary-as-string,
    * INT96 and NTZ inference resolve as inference resolves them.
    *
    * None when nothing exists at `path`; a directory without a data
    * file fails as inference does (`UNABLE_TO_INFER_SCHEMA`).
    */
  def schema(spark: SparkSession, path: String): Option[StructType] =
    read(spark, path).map(toSpark(spark, _))

  /** The footer [[schema]] converts, unconverted: for a caller that
    * must look at the file's own parquet types (say, a timestamp's
    * unit) before choosing the session settings to convert with.
    */
  def read(spark: SparkSession, path: String): Option[Footer] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else {
      val file = firstDataFile(fs, fs.getFileStatus(p)).getOrElse(
        throw new AnalysisException("UNABLE_TO_INFER_SCHEMA", Map("format" -> "Parquet")))
      Some(new Footer(file.getPath, ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(file, fs.getConf), ParquetMetadataConverter.SKIP_ROW_GROUPS)))
    }
  }

  /** `footer`'s Spark schema under the session conf as it is now. */
  def toSpark(spark: SparkSession, footer: Footer): StructType =
    ParquetFileFormat.readSchemaFromFooter(footer,
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))

  private def firstDataFile(fs: FileSystem, st: FileStatus): Option[FileStatus] =
    if (!st.isDirectory) Some(st)
    else fs.listStatus(st.getPath)
      .filterNot(c => c.getPath.getName.startsWith("_") || c.getPath.getName.startsWith("."))
      .sortBy(_.getPath.getName).iterator
      .flatMap(firstDataFile(fs, _)).nextOption()
}
