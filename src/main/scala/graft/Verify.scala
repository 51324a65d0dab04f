package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter (local use;
    // the driver always runs the full set with 2 args). A leading '-'
    // on the FIRST entry flips it to an exclude list — scaled sweeps
    // expect-exclude the by-design-quadratic pair-graph queries
    // (SURVEY §2 F3 disposition) without enumerating the other 130+.
    val filterArg = args.lift(2).map(_.split(',').toSet)
    val (only, except) = filterArg match {
      case Some(s) if s.exists(_.startsWith("-")) =>
        (None, Some(s.map(_.stripPrefix("-"))))
      case other => (other, None)
    }
    val spark = LocalSpark()
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.queries
      .filter { case (name, _) =>
        only.forall(_.contains(name)) && except.forall(!_.contains(name)) }
    // Record per-query failures durably: a silent catch once turned a
    // one-line input-type drift into 38 invisibly-absent driver entries.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    selected.foreach { case (name, fn) =>
      // repartition(1), NOT coalesce(1): coalesce collapses the whole
      // upstream plan of a map-only query into ONE task (a zero-shuffle
      // scan single-threads at scaled SFs); the explicit exchange keeps
      // compute parallel and still lands one tidy part file.
      try fn(spark, sfDir).repartition(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        errors(name) = msg.linesIterator.take(4).mkString(" | ")
        System.err.println(s"[verify] $name FAILED: ${errors(name)}")
      }
      finally Seams.release() // bound seam storage to one query
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), errJson)
    if (errors.nonEmpty) {
      System.err.println(
        s"[verify] FAILED ${errors.size}/${selected.size} queries: " +
          errors.keys.mkString(", "))
    } else
      System.err.println(s"[verify] OK ${selected.size}/${selected.size} queries")
    spark.stop()
  }
}
