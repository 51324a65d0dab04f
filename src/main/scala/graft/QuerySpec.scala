package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its name, the Spark plan it builds over an sf
  * directory, and the DuckDB SQL the oracle gate compares it against.
  * Each family object lists its queries as `specs`; [[SparkEntry]]
  * concatenates them.
  */
final case class QuerySpec(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracleSql: String)

object QuerySpec {

  /** `specs` unchanged, or an error naming every name that repeats. */
  def unique(specs: Seq[QuerySpec]): Seq[QuerySpec] = {
    val dups = specs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty,
      s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    specs
  }

  /** The oracle SQL of `name` in one family's `specs`, for oracles that
    * compose another query's SQL.
    */
  def oracleOf(specs: Seq[QuerySpec], name: String): String =
    specs.find(_.name == name)
      .getOrElse(throw new NoSuchElementException(s"no query spec $name"))
      .oracleSql
}
