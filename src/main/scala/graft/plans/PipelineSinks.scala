package graft.plans

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** `$out` / `$merge` — the pipeline sink stages. route81's consumer
  * applies the same two shapes to its MongoDB target: wholesale
  * replace (ReplaceOne-upsert of everything, cf.
  * /root/reference/route81.go:1088-1117) and keyed merge. Here they
  * are pure batch operators: given the pipeline result and the
  * current target table, produce the post-write target — which a
  * caller then persists (parquet write, foreachBatch upsert, …).
  * Keeping them pure keeps the merge plan testable and lets the same
  * logic back both the batch path and the streaming micro-batch sink.
  *
  * Scale shape: one sort-merge full-outer join on the merge key.
  * Spark has no broadcast full-outer join, so both sides shuffle on
  * the key — the target too, however small the incoming batch (the
  * AQE final plan of a CDC merge is `SortMergeJoin FullOuter` over
  * two shuffle exchanges). The merge's cost therefore grows with the
  * target, not with the batch.
  */
object PipelineSinks {

  private val mapper = new ObjectMapper()

  /** `$merge`-style keyed merge of `source` into `target`.
    *
    * @param on            join key column (Mongo default `_id`)
    * @param whenMatched    "replace" | "keepExisting" | "merge" | "fail"
    * @param whenNotMatched "insert" | "discard" | "fail"
    */
  def merge(target: DataFrame, source: DataFrame, on: String,
            whenMatched: String = "replace",
            whenNotMatched: String = "insert"): DataFrame =
    mergeCore(target, source, on, whenNotMatched) { c =>
      whenMatched match {
        case "replace"      => col(s"s_$c")
        case "keepExisting" => col(s"t_$c")
        case "merge"        => coalesce(col(s"s_$c"), col(s"t_$c"))
        case "fail" => raise_error(concat(
          lit(s"$$merge whenMatched: fail — key exists: "), col(s"t_$on").cast("string")))
        case other =>
          throw new IllegalArgumentException(s"unsupported whenMatched: $other")
      }
    }

  /** `$merge` with a whenMatched UPDATE PIPELINE (Mongo's custom-merge
    * form): an array of `{$set: {...}}` stages where plain `$field`
    * reads the EXISTING target row and `$$new.field` reads the
    * incoming source row. Compiles to per-column when-chains over the
    * same single full-outer join as the scalar modes.
    */
  def mergeWithPipeline(target: DataFrame, source: DataFrame, on: String,
                        whenMatchedPipeline: String,
                        whenNotMatched: String = "insert"): DataFrame = {
    val stages = mapper.readTree(whenMatchedPipeline)
    require(stages.isArray, "whenMatched pipeline must be an array")
    val cols = target.columns.toSeq
    // $$new resolves to the source row; bare $field to the target row
    val newStruct = struct(cols.map(c => col(s"s_$c").as(c)): _*)
    var updated: Map[String, Column] =
      cols.map(c => c -> col(s"t_$c")).toMap
    stages.elements().asScala.foreach { stage =>
      val set = stage.get("$set")
      require(set != null, "whenMatched pipeline supports $set stages")
      set.properties().asScala.foreach { e =>
        updated += e.getKey -> MongoPipeline.expression(
          MongoPipeline.rewriteFieldRefs(e.getValue, "t_"), Map("new" -> newStruct))
      }
    }
    mergeCore(target, source, on, whenNotMatched)(updated)
  }

  /** The one full-outer join both `$merge` forms compile to: target
    * and source columns aliased `t_`/`s_`, `matchedVal(c)` picks column
    * `c` for a key on both sides, a target-only row stays, and a
    * source-only row is inserted, dropped or raised on per
    * `whenNotMatched`.
    */
  private def mergeCore(target: DataFrame, source: DataFrame, on: String,
                        whenNotMatched: String)
                       (matchedVal: String => Column): DataFrame = {
    require(target.columns.toSet == source.columns.toSet,
      "merge requires same-schema source and target")
    val unmatchedKeep = whenNotMatched match {
      case "insert"  => true
      case "discard" => false
      case "fail"    => true // the pick below raises instead of keeping
      case other =>
        throw new IllegalArgumentException(s"unsupported whenNotMatched: $other")
    }
    val cols = target.columns.toSeq
    val t = target.select(cols.map(c => col(c).as(s"t_$c")): _*)
    val s = source.select(cols.map(c => col(c).as(s"s_$c")): _*)
    val joined = t.join(s, col(s"t_$on") <=> col(s"s_$on"), "full_outer")
    val matched = col(s"t_$on").isNotNull && col(s"s_$on").isNotNull
    val onlyTarget = col(s"s_$on").isNull
    val onlySource = col(s"t_$on").isNull
    val picked = cols.map { c =>
      when(matched, matchedVal(c))
        .when(onlyTarget, col(s"t_$c"))
        .otherwise(if (whenNotMatched == "fail")
          raise_error(concat(lit(s"$$merge whenNotMatched: fail — new key: "),
            col(s"s_$on").cast("string")))
        else col(s"s_$c")).as(c)
    }
    val kept =
      if (unmatchedKeep) joined
      else joined.filter(!onlySource)
    kept.select(picked: _*)
  }

  /** Persist a merge END-TO-END against a live parquet table: read
    * the current target from `targetDir`, merge `source` into it, and
    * atomically swap the result in through [[rewriteParquet]].
    */
  def mergeIntoParquet(spark: org.apache.spark.sql.SparkSession,
                       source: DataFrame, targetDir: String, on: String,
                       whenMatched: String = "replace",
                       whenNotMatched: String = "insert"): Unit =
    // Mongo's $merge creates a missing target collection: a first
    // merge bootstraps from an empty same-schema table (every source
    // row is "not matched").
    rewriteParquet(spark, targetDir)(current =>
      merge(current.getOrElse(source.limit(0)), source, on, whenMatched, whenNotMatched))

  /** Rewrite a live parquet table from itself: repair a half-done swap
    * ([[recoverGeneration]]), hand `next` the current generation (None
    * when the table does not exist yet), and swap its result in. The
    * current generation is read with its own schema, taken from a
    * part file's footer on the driver ([[graft.sources.ParquetFooter]]),
    * so the read launches no schema-inference job. A
    * rewrite reads the very table it overwrites, so the new generation
    * is fully materialized in a side directory BEFORE the live one is
    * touched — a half-written target can never be observed, and a
    * failed rewrite leaves the old generation in place (the
    * idempotent-rewrite discipline a 100 TB target needs; a lakehouse
    * table format would do the same swap via its commit log).
    */
  def rewriteParquet(spark: org.apache.spark.sql.SparkSession, dir: String)
                    (next: Option[DataFrame] => DataFrame): Unit = {
    recoverGeneration(spark, dir)
    val current = graft.sources.ParquetFooter.schema(spark, dir)
      .map(spark.read.schema(_).parquet(dir))
    swapInto(spark, next(current), dir)
  }

  /** `$out` persisted: wholesale replace of the parquet target, same
    * atomic generation swap.
    */
  def outToParquet(spark: org.apache.spark.sql.SparkSession,
                   result: DataFrame, targetDir: String): Unit =
    swapInto(spark, result, targetDir)

  /** Materialize `df` beside `dir`, then swap generations by rename.
    * The swap itself is two renames, so there is an instants-wide
    * window where the live name is absent (a table FORMAT with a
    * commit log — Delta/Iceberg — closes even that); a crash inside
    * the window is repaired by [[recoverGeneration]] on the next
    * merge, and a failure while writing `.__next__` leaves the old
    * generation untouched.
    */
  private def swapInto(spark: org.apache.spark.sql.SparkSession,
                       df: DataFrame, dir: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val next = new org.apache.hadoop.fs.Path(dir + ".__next__")
    val prev = new org.apache.hadoop.fs.Path(dir + ".__prev__")
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    df.write.mode("overwrite").parquet(next.toString)
    if (fs.exists(prev)) fs.delete(prev, true)
    if (fs.exists(path) && !fs.rename(path, prev))
      throw new java.io.IOException(s"could not retire $path")
    if (!fs.rename(next, path)) {
      fs.rename(prev, path) // roll the old generation back in
      throw new java.io.IOException(s"could not promote $next")
    }
    fs.delete(prev, true): Unit
  }

  /** Repair a crash that landed between swapInto's two renames: the
    * live dir is absent but the retired generation is still on disk —
    * promote it back so readers and the next merge see the last
    * complete generation.
    */
  private def recoverGeneration(spark: org.apache.spark.sql.SparkSession,
                                dir: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val prev = new org.apache.hadoop.fs.Path(dir + ".__prev__")
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(path) && fs.exists(prev))
      fs.rename(prev, path): Unit
  }

  /** Parse a `$merge` stage spec and run it against `tables`. The
    * final pipeline stage in Mongo; modeled as result-producing here.
    */
  def applyMergeStage(result: DataFrame, specJson: String,
                      tables: String => DataFrame): DataFrame = {
    val spec = mapper.readTree(specJson)
    val into =
      if (spec.isTextual) spec.asText() else spec.get("into").asText()
    val on = Option(spec.get("on")).map(_.asText()).getOrElse("_id")
    val wnm = Option(spec.get("whenNotMatched")).map(_.asText()).getOrElse("insert")
    val wmNode = spec.get("whenMatched")
    if (wmNode != null && wmNode.isArray)
      mergeWithPipeline(tables(into), result, on, wmNode.toString, wnm)
    else {
      val wm = Option(wmNode).map(_.asText()).getOrElse("replace")
      merge(tables(into), result, on, wm, wnm)
    }
  }
}
