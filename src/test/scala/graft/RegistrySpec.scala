package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The query registry: one [[QuerySpec]] per name, oracle included. */
class RegistrySpec extends AnyFunSuite {

  private val noop: (SparkSession, String) => DataFrame = (s, _) => s.emptyDataFrame

  test("a spec list with a repeated name throws and names it") {
    val specs = Seq("a", "b", "a", "c").map(QuerySpec(_, noop, "SELECT 1"))
    val e = intercept[IllegalArgumentException](QuerySpec.unique(specs))
    assert(e.getMessage.contains("duplicate query names: a"), e.getMessage)
    assert(QuerySpec.unique(specs.distinctBy(_.name)).size == 3)
  }

  test("SparkEntry's query and oracle views have one entry per spec") {
    val names = SparkEntry.specs.map(_.name)
    assert(SparkEntry.queries.size == names.size)
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.oracleSql.keySet == names.toSet)
  }

  test("every oracle string is non-blank") {
    val blank = SparkEntry.specs.filter(_.oracleSql.trim.isEmpty).map(_.name)
    assert(blank.isEmpty, s"blank oracle SQL: $blank")
  }
}
