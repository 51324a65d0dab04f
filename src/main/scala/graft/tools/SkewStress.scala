package graft.tools

import org.apache.spark.sql.functions._

import graft.LocalSpark
import graft.operators.{Pipeline100TB, TextAnalysis}
import graft.sources.TableCatalog

/** Dev harness (not part of the driver contract): measure
  * skew-immunity of the df/cf statistics family — `text_tfidf`,
  * `text_boilerplate`, `text_unigram_lp`, `mix_divergence`.
  *
  * Builds two corpora from `<sfDir>/documents.parquet`: a verbatim
  * baseline, and a "hot" variant with one synthetic token appended
  * (three times) to 90% of documents — the most extreme Zipf head
  * possible, df = 0.9·N, the "the"-at-web-scale case. Both are
  * materialized to parquet so the scans are identical, then each
  * query is timed on both.
  *
  * With the groupBy+join df/cf formulation the hot/base ratio stays
  * ~1 at every scale: the hot token partial-aggregates map-side and
  * the join back is AQE-splittable. The former token-partitioned
  * window formulation funneled the hot token's entire posting list
  * (90% of all (doc, term) rows for that term) into ONE window task
  * — the ratio this harness exists to keep measured.
  *
  * Usage: runMain graft.tools.SkewStress <sfDir> <reps>
  */
object SkewStress {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, repsStr) = args
    val reps = repsStr.toInt
    val spark = LocalSpark()
    val docs = TableCatalog(spark, sfDir).documents
    val base = "/tmp/graft_skew_base"
    val hot = "/tmp/graft_skew_hot"
    docs.write.mode("overwrite").parquet(base)
    docs.withColumn("text",
      when(col("doc_id") % 10 < 9,
        concat(col("text"), lit(" zzhotzz zzhotzz zzhotzz")))
        .otherwise(col("text")))
      .write.mode("overwrite").parquet(hot)
    for ((label, dir) <- Seq("base" -> base, "hot" -> hot)) {
      val d = spark.read.parquet(dir)
      val queries = Seq[(String, () => org.apache.spark.sql.DataFrame)](
        "text_tfidf" -> (() => TextAnalysis.topTerms(d, "doc_id", "text", 3)),
        "text_boilerplate" -> (() => TextAnalysis.boilerplate(d, "doc_id", "text")),
        "text_unigram_lp" -> (() => TextAnalysis.unigramLogProb(d, "doc_id", "text")),
        "mix_divergence" -> (() => Pipeline100TB.sourceDivergence(d, "source", "text")))
      for ((name, q) <- queries; rep <- 1 to reps) {
        val t0 = System.nanoTime()
        val n = q().count()
        println(f"SKEW $label $name rep$rep: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
      }
    }
    spark.stop()
  }
}
