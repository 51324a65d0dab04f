package graft.tools

import org.apache.spark.sql.functions._

import graft.LocalSpark

/** Dev harness (not part of the driver contract): build a larger
  * scale factor by key-offset replication of an existing one, for
  * local scaling sweeps — e.g. sf0.1 × 10 ≈ sf1.
  *
  * Each scalable table is unioned `copies` times with every key
  * column shifted by `i * (max(key over its domain) + 1)`, using ONE
  * offset base per key DOMAIN so foreign keys stay consistent across
  * tables (copy i of lineitem joins copy i of orders/part/supplier).
  * The fixed-cardinality dims (region, nation) are copied verbatim,
  * exactly as TPC-H holds them constant across scale factors.
  *
  * Semantics note for derived sweeps: text/embedding payloads are NOT
  * perturbed, so replicated documents are TRUE duplicates — the
  * dedup/similarity families see a 10×-denser duplicate graph (more
  * output pairs per doc), which is the honest hard case, not a bug.
  *
  * BENCH-ONLY output: `events.ts` is written as int64 nanos (Spark
  * cannot write TIMESTAMP(NANOS)); `TableCatalog.events` reads both
  * encodings identically, but the DuckDB oracle tooling
  * (check_oracle/driver_compare) would see BIGINT where the generated
  * testdata has TIMESTAMP_NS — run Bench against a scaled dir, never
  * the oracle gate.
  *
  * Usage: runMain graft.tools.MakeScale <srcDir> <dstDir> <copies>
  */
object MakeScale {
  def main(args: Array[String]): Unit = {
    val Array(srcDir, dstDir, copiesStr) = args
    val copies = copiesStr.toInt
    require(copies >= 1, "copies must be >= 1")
    val spark = LocalSpark()
    // events.ts is TIMESTAMP(NANOS): read it as a plain long and write
    // it back as int64 — TableCatalog.events handles both encodings
    // (`ts div 1000` is typed the same over long and nanos-as-long)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    def read(name: String) = spark.read.parquet(s"$srcDir/$name.parquet")

    // key domain → (table, column) that defines the offset base;
    // one agg JOB per table (not per domain) over the narrow key cols
    val domains = Seq(
      "custkey" -> ("customer", "c_custkey"),
      "orderkey" -> ("orders", "o_orderkey"),
      "partkey" -> ("part", "p_partkey"),
      "suppkey" -> ("supplier", "s_suppkey"),
      "event" -> ("events", "event_id"),
      "user" -> ("events", "user_id"),
      "doc" -> ("documents", "doc_id"),
      "vec" -> ("embeddings", "vec_id"))
    val bases: Map[String, Long] = domains.groupBy(_._2._1).toSeq.flatMap {
      case (table, ds) =>
        val row = read(table)
          .agg(max(col(ds.head._2._2)), ds.tail.map(d => max(col(d._2._2))): _*)
          .head
        ds.zipWithIndex.map { case ((domain, _), i) => domain -> (row.getLong(i) + 1L) }
    }.toMap
    // table → its key columns and their domains
    val tableKeys: Seq[(String, Seq[(String, String)])] = Seq(
      "customer" -> Seq("c_custkey" -> "custkey"),
      "supplier" -> Seq("s_suppkey" -> "suppkey"),
      "part" -> Seq("p_partkey" -> "partkey"),
      "orders" -> Seq("o_orderkey" -> "orderkey", "o_custkey" -> "custkey"),
      "lineitem" -> Seq("l_orderkey" -> "orderkey", "l_partkey" -> "partkey",
        "l_suppkey" -> "suppkey"),
      "events" -> Seq("event_id" -> "event", "user_id" -> "user"),
      "documents" -> Seq("doc_id" -> "doc"),
      "embeddings" -> Seq("vec_id" -> "vec"))

    for (name <- Seq("region", "nation"))
      read(name).write.mode("overwrite").parquet(s"$dstDir/$name.parquet")
    for ((name, keys) <- tableKeys) {
      val src = read(name)
      val scaled = (0 until copies).map { i =>
        keys.foldLeft(src) { case (df, (c, d)) =>
          df.withColumn(c, col(c) + lit(i * bases(d)))
        }
      }.reduce(_ union _)
      scaled.write.mode("overwrite").parquet(s"$dstDir/$name.parquet")
      println(s"[scale] $name: x$copies written")
    }
    spark.stop()
  }
}
