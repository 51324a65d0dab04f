package graft.plans

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Seams.SeamOps
import graft.functions.BoundedTopK

/** MongoDB aggregation-pipeline → DataFrame translator.
  *
  * This is the reference's query language: route81 applies
  * user-configured JSON pipeline stages to change streams and direct
  * reads (/root/reference/route81.go:92-97,268-282; README
  * §pipelines). Here each stage compiles to declarative
  * Column/Dataset operations, so the whole pipeline is one Catalyst
  * plan: filters/projections push into the scan, groups get partial
  * aggregation, and whole-stage codegen spans the stage chain —
  * nothing is interpreted per-row.
  *
  * Distributed-determinism deviations from MongoDB (documented):
  *  - `$push`/`$addToSet` return value-sorted arrays (input order is
  *    not defined after a shuffle);
  *  - `$first`/`$last` require a preceding `$sort` and compile to
  *    min_by/max_by over the sort key (order-insensitive, one pass);
  *  - `$sortByCount` breaks count ties by ascending key.
  *
  * Supported stages: $match, $project, $addFields/$set, $unset,
  * $group, $sort, $skip, $limit, $count, $unwind, $lookup, $bucket,
  * $bucketAuto, $sortByCount, $replaceRoot/$replaceWith, $facet,
  * $unionWith, $sample, $setWindowFields, $densify, $fill,
  * $graphLookup, $geoNear, $vectorSearch, $rankFusion, $searchMeta, $out, $merge (the last two
  * via [[PipelineSinks]]).
  *
  * Distributed-determinism deviation: `$sample` draws the n smallest
  * by a 60-bit content hash (uniform but reproducible) rather than a
  * seeded RNG — a cluster re-run must produce identical output for
  * the CDC replay guarantee to hold.
  */
object MongoPipeline {

  private val mapper = new ObjectMapper()

  /** Compile and apply a JSON pipeline. `tables` resolves `$lookup.from`. */
  def apply(df: DataFrame, pipelineJson: String,
            tables: String => DataFrame = name =>
              throw new IllegalArgumentException(s"no table resolver for $$lookup: $name"))
      : DataFrame = compile(df, pipelineJson, tables, documentsAllowed = true)

  /** `documentsAllowed=false` inside `$facet` sub-pipelines: Mongo
    * forbids `$documents` there (a facet reads its parent's stream; a
    * literal source would silently discard it).
    */
  private def compile(df: DataFrame, pipelineJson: String,
                      tables: String => DataFrame,
                      documentsAllowed: Boolean,
                      keepScores: Boolean = false): DataFrame = {
    val root = mapper.readTree(pipelineJson)
    require(root.isArray, "pipeline must be a JSON array of stages")
    var cur = df
    var lastSort: Seq[(String, Boolean)] = Nil // (field, ascending)
    var stageIdx = -1
    root.elements().asScala.foreach { stage =>
      stageIdx += 1
      val fields = stage.properties().asScala.toSeq
      require(fields.size == 1, s"stage must have exactly one operator: $stage")
      val (op, spec) = (fields.head.getKey, fields.head.getValue)
      op match {
        case "$match" =>
          // {$sampleRate: p} needs the row's columns for its content
          // hash, so it resolves here rather than in matchPredicate;
          // deterministic (hash < p*2^60), unlike Mongo's RNG — same
          // rationale as $sample
          val srNode = Option(spec.get("$sampleRate"))
          srNode.foreach { p =>
            val h = graft.functions.Hash60.hash60(
              concat_ws("\u0001", cur.columns.map(c => col(c).cast("string")): _*))
            cur = cur.filter(h.cast("double") <
              lit(p.asDouble() * 1152921504606846976.0 /* 2^60 */))
          }
          val rest = mapper.createObjectNode()
          spec.properties().asScala.toSeq.filter(_.getKey != "$sampleRate")
            .foreach(e => rest.set[JsonNode](e.getKey, e.getValue))
          if (rest.properties().size() > 0 || srNode.isEmpty)
            cur = cur.filter(matchPredicate(if (srNode.isEmpty) spec else rest))
        case "$project" => cur = project(cur, spec)
        case "$addFields" | "$set" =>
          spec.properties().asScala.toSeq.foreach { e =>
            cur = cur.withColumn(e.getKey, expression(e.getValue))
          }
        case "$unset" =>
          val names =
            if (spec.isArray) spec.elements().asScala.map(_.asText()).toSeq
            else Seq(spec.asText())
          cur = cur.drop(names: _*)
        case "$group"   => cur = group(cur, spec, lastSort)
        case "$sort" =>
          // .toSeq BEFORE .map: properties() is a Set and mapping it
          // would lose the JSON key order that $sort semantics need.
          lastSort = spec.properties().asScala.toSeq
            .map(e => (e.getKey, e.getValue.asInt() >= 0))
          cur = cur.orderBy(lastSort.map { case (f, asc) =>
            if (asc) col(f).asc else col(f).desc
          }: _*)
        case "$skip"    => cur = cur.offset(spec.asInt())
        case "$limit"   => cur = cur.limit(spec.asInt())
        case "$count"   => cur = cur.agg(count(lit(1)).as(spec.asText()))
        case "$unwind"  => cur = unwind(cur, spec)
        case "$lookup"  => cur = lookup(cur, spec, tables)
        case "$bucket"  => cur = bucket(cur, spec, lastSort)
        case "$bucketAuto" => cur = bucketAuto(cur, spec, lastSort)
        case "$sortByCount" =>
          cur = cur.groupBy(expression(spec).as("_id"))
            .agg(count(lit(1)).as("count"))
            .orderBy(col("count").desc, col("_id").asc)
        case "$replaceRoot" =>
          val newRoot = expression(spec.get("newRoot"))
          cur = cur.select(newRoot.as("__root")).select(col("__root.*"))
        case "$replaceWith" =>
          cur = cur.select(expression(spec).as("__root")).select(col("__root.*"))
        case "$unionWith" =>
          // {coll} or {coll, pipeline}; missing columns null-fill so a
          // projected union still lines up by name.
          val (coll, sub) =
            if (spec.isTextual) (spec.asText(), None)
            else (spec.get("coll").asText(),
              Option(spec.get("pipeline")).filterNot(_.isNull))
          val other = sub.map(p => apply(tables(coll), p.toString, tables))
            .getOrElse(tables(coll))
          cur = cur.unionByName(other, allowMissingColumns = true)
        case "$sample" =>
          // Deterministic "random": order by 60-bit hash of the whole
          // row, take n. Uniform over rows, stable across re-runs, and
          // the sort is a top-n (TakeOrdered), never a full sort.
          val n = spec.get("size").asInt()
          val h = graft.functions.Hash60.hash60(
            concat_ws("\u0001", cur.columns.map(c => col(c).cast("string")): _*))
          cur = cur.orderBy(h).limit(n)
        case "$setWindowFields" => cur = setWindowFields(cur, spec)
        case "$densify" => cur = densify(cur, spec)
        case "$fill"    => cur = fill(cur, spec)
        case "$graphLookup" => cur = graphLookup(cur, spec, tables)
        case "$documents" =>
          // literal-source stage: replaces the input with the inline
          // document array (Mongo: db.aggregate([{$documents: […]}])).
          // Mongo only permits it as the FIRST stage of a collectionless
          // aggregate — a misplaced one would silently discard all prior
          // stages' work, so fail loudly instead.
          require(documentsAllowed, "$documents is not allowed inside $facet")
          require(stageIdx == 0,
            s"$$documents must be the first pipeline stage (found at stage $stageIdx)")
          require(spec.isArray, "$documents requires a document array")
          cur = documentsSource(cur.sparkSession, spec)
        case "$redact" => cur = redact(cur, spec)
        case "$geoNear" =>
          require(stageIdx == 0,
            s"$$geoNear must be the first pipeline stage (found at stage $stageIdx)")
          cur = geoNear(cur, spec)
          lastSort = Seq((spec.get("distanceField").asText(), true))
        case "$vectorSearch" =>
          require(stageIdx == 0,
            s"$$vectorSearch must be the first pipeline stage (found at stage $stageIdx)")
          cur = vectorSearch(cur, spec)
          lastSort = Seq((VsScoreCol, false)) // score DESC = best-first
        case "$rankFusion" =>
          require(stageIdx == 0,
            s"$$rankFusion must be the first pipeline stage (found at stage $stageIdx)")
          cur = rankFusion(cur, spec, tables)
          lastSort = Seq((RfScoreCol, false)) // fused score DESC = best-first
        case "$scoreFusion" =>
          require(stageIdx == 0,
            s"$$scoreFusion must be the first pipeline stage (found at stage $stageIdx)")
          cur = scoreFusion(cur, spec, tables)
          lastSort = Seq((RfScoreCol, false))
        case "$search" =>
          require(stageIdx == 0,
            s"$$search must be the first pipeline stage (found at stage $stageIdx)")
          cur = search(cur, spec, tables)
          lastSort = Seq((SearchScoreCol, false))
        case "$searchMeta" =>
          require(stageIdx == 0,
            s"$$searchMeta must be the first pipeline stage (found at stage $stageIdx)")
          cur = searchMeta(cur, spec, tables)
        case "$facet" =>
          // each facet = a sub-pipeline over the same input; output is
          // one row with an array-of-struct column per facet
          // (value-sorted for distributed determinism).
          require(spec.properties().asScala.nonEmpty, "$facet needs at least one facet")
          val facets = spec.properties().asScala.toSeq.map { e =>
            val sub = compile(cur, e.getValue.toString, tables, documentsAllowed = false)
            sub.agg(array_sort(collect_list(struct(sub.columns.map(col): _*))))
              .toDF(e.getKey)
          }
          cur = facets.reduce(_ crossJoin _)
        case other =>
          throw new IllegalArgumentException(s"unsupported stage: $other")
      }
    }
    // $vectorSearch's / $rankFusion's scores ride hidden columns so
    // {$meta: "vectorSearchScore"} / {$meta: "score"} can read them
    // from any later stage; if no projection consumed them, they must
    // not leak into the output schema (Mongo adds no field unless
    // $meta is asked for). `$scoreFusion` compiles its scored legs
    // with keepScores=true — the fusion consumes the hidden column.
    if (keepScores) cur
    else cur.drop(VsScoreCol, RfScoreCol, SearchScoreCol, SearchHighlightsCol,
      SearchMetaCountCol)
  }

  /** `$documents` source: a handful of driver-side literal rows. The
    * schema is inferred in ONE pass over the Jackson tree (integral →
    * long, float → double, conflicting scalars → string, struct keys
    * sorted — the same surface `spark.read.json` produces) and the
    * rows become a LocalRelation, so compiling the stage costs zero
    * Spark jobs — the old read.json path ran an inference job plus a
    * parse job even for a three-row literal.
    */
  private def documentsSource(spark: org.apache.spark.sql.SparkSession,
                              spec: JsonNode): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    def widen(a: DataType, b: DataType): DataType = (a, b) match {
      case (x, y) if x == y => x
      case (NullType, x) => x
      case (x, NullType) => x
      case (LongType, DoubleType) | (DoubleType, LongType) => DoubleType
      case (x: StructType, y: StructType) =>
        val names = (x.fieldNames ++ y.fieldNames).distinct.sorted
        StructType(names.map { nm =>
          val fa = x.fields.find(_.name == nm).map(_.dataType).getOrElse(NullType)
          val fb = y.fields.find(_.name == nm).map(_.dataType).getOrElse(NullType)
          StructField(nm, widen(fa, fb), nullable = true)
        })
      case (ArrayType(x, _), ArrayType(y, _)) => ArrayType(widen(x, y), true)
      case _ => StringType // read.json's conflicting-type fallback
    }
    def infer(n: JsonNode): DataType =
      if (n == null || n.isNull) NullType
      else if (n.isTextual) StringType
      else if (n.isBoolean) BooleanType
      else if (n.isIntegralNumber) LongType
      else if (n.isNumber) DoubleType
      else if (n.isArray)
        ArrayType(n.elements().asScala.map(infer)
          .foldLeft(NullType: DataType)(widen), true)
      else StructType(n.properties().asScala.toSeq
        .map(e => StructField(e.getKey, infer(e.getValue), nullable = true))
        .sortBy(_.name))
    def solidify(dt: DataType): DataType = dt match { // all-null → string
      case NullType => StringType
      case StructType(fs) =>
        StructType(fs.map(f => f.copy(dataType = solidify(f.dataType))))
      case ArrayType(et, _) => ArrayType(solidify(et), true)
      case x => x
    }
    def convert(n: JsonNode, dt: DataType): Any =
      if (n == null || n.isNull) null
      else dt match {
        case StringType => if (n.isTextual) n.asText() else n.toString
        case BooleanType => n.asBoolean()
        case LongType => n.asLong()
        case DoubleType => n.asDouble()
        case st: StructType =>
          Row.fromSeq(st.fields.toSeq.map(f => convert(n.get(f.name), f.dataType)))
        case ArrayType(et, _) => n.elements().asScala.map(convert(_, et)).toSeq
        case other => throw new IllegalArgumentException(
          s"unexpected $$documents type: $other")
      }
    val docs = spec.elements().asScala.toSeq
    require(docs.forall(_.isObject), "$documents requires an array of documents")
    // an empty literal array is legal in Mongo: zero documents
    val schema = solidify(docs.map(infer)
      .foldLeft(StructType(Nil): org.apache.spark.sql.types.DataType)(widen))
      .asInstanceOf[StructType]
    val rows = docs.map(d => convert(d, schema).asInstanceOf[Row]).asJava
    spark.createDataFrame(rows, schema)
  }

  /** `$geoNear` (SURVEY.md §2 C35) — proximity sort + distance
    * readout over a legacy coordinate-pair field (`key` names the
    * [x, y] array column; there is no 2d/2dsphere index metadata to
    * infer it from, so `key` is REQUIRED, as modern Mongo itself
    * requires with more than one geo index).
    *
    * Semantics implemented (Mongo order of operations):
    * `query` filters FIRST; the raw distance to `near` is flat
    * Euclidean for the default planar (legacy 2d) mode or the
    * haversine great-circle angle in RADIANS for `spherical: true`
    * (the legacy-pair spherical convention); `minDistance` /
    * `maxDistance` bound the RAW distance; `distanceMultiplier`
    * scales only the REPORTED `distanceField`; `num` caps the
    * result after the proximity sort.
    *
    * Determinism & oracle parity: the planar distance is
    * sqrt/multiply/subtract over the operands in a FIXED expression
    * shape — every step is an IEEE-754 correctly-rounded operation
    * (no libm transcendentals), so DuckDB reproduces it
    * bit-for-bit and the planar query is hash-oracle-checked.
    * Spherical needs sin/cos/atan — JVM StrictMath-vs-libm parity
    * is not guaranteed at 1 ulp, so the spherical mode is
    * spec-checked against a plain-Scala haversine instead
    * (ExtendedPipelineSpec), the same split as $expMovingAvg.
    * Mongo leaves equal-distance order unspecified; a distributed
    * re-run must not, so ties break by ALL input columns in frame
    * order (a total order whenever rows are distinct — the same
    * contract $bucketAuto uses for its boundary ties).
    */
  private def geoNear(df: DataFrame, spec: JsonNode): DataFrame = {
    val near = spec.get("near")
    require(near != null && near.isArray && near.size == 2,
      "$geoNear.near must be a [x, y] coordinate pair")
    require(spec.get("distanceField") != null, "$geoNear.distanceField is required")
    require(spec.get("key") != null,
      "$geoNear.key is required (no geo-index metadata to infer the location field)")
    val distField = spec.get("distanceField").asText()
    val key = spec.get("key").asText()
    val spherical = Option(spec.get("spherical")).exists(_.asBoolean())
    val mult = Option(spec.get("distanceMultiplier")).map(_.asDouble()).getOrElse(1.0)
    require(mult >= 0,
      s"$$geoNear.distanceMultiplier must be non-negative (got $mult) — " +
        "a negative multiplier would silently invert the proximity order")
    val nx = near.get(0).asDouble()
    val ny = near.get(1).asDouble()
    val x = element_at(col(key), 1).cast("double")
    val y = element_at(col(key), 2).cast("double")
    val raw =
      if (!spherical)
        sqrt((x - lit(nx)) * (x - lit(nx)) + (y - lit(ny)) * (y - lit(ny)))
      else {
        // haversine central angle (radians) on (lon, lat) degrees
        val toRad = math.Pi / 180.0
        val sLat = sin((y * lit(toRad) - lit(ny * toRad)) / 2)
        val sLon = sin((x * lit(toRad) - lit(nx * toRad)) / 2)
        lit(2) * asin(sqrt(sLat * sLat +
          cos(y * lit(toRad)) * lit(math.cos(ny * toRad)) * sLon * sLon))
      }
    val filtered = Option(spec.get("query"))
      .map(q => df.filter(matchPredicate(q))).getOrElse(df)
    val tie = filtered.columns.map(col).toSeq
    var out = filtered.withColumn("__geo_raw", raw)
    Option(spec.get("minDistance")).foreach(v =>
      out = out.filter(col("__geo_raw") >= lit(v.asDouble())))
    Option(spec.get("maxDistance")).foreach(v =>
      out = out.filter(col("__geo_raw") <= lit(v.asDouble())))
    // proximity order is the RAW distance (Mongo's contract) — ordering
    // by the multiplied distField instead can collapse distinct raws
    // into a tied product under double rounding and let the tiebreak
    // disagree with true proximity at the `num` boundary
    out = out
      .orderBy(col("__geo_raw") +: tie: _*)
      .withColumn(distField,
        if (mult == 1.0) col("__geo_raw") else col("__geo_raw") * lit(mult))
      .drop("__geo_raw")
    Option(spec.get("num")).orElse(Option(spec.get("limit")))
      .foreach(n => out = out.limit(n.asInt()))
    out
  }

  /** Hidden column carrying `$vectorSearch`'s similarity score until a
    * `{$meta: "vectorSearchScore"}` projection reads it (or the end of
    * the pipeline drops it). `__`-prefixed like every internal column.
    */
  private val VsScoreCol = "__vs_score"

  /** Hidden column carrying `$rankFusion`'s fused score until a
    * `{$meta: "score"}` projection reads it. Unit: integer
    * parts-per-billion (Σ ⌊w·10⁹/(60+rank)⌋ — the G24 `rrf_micro`
    * convention), a deliberate deviation from Mongo's float score so
    * the fused ranking is bit-exact on any engine/partitioning.
    */
  private val RfScoreCol = "__rf_score"

  /** `$rankFusion` (SURVEY.md §2 C37, MongoDB 8.1) — hybrid-search
    * rank fusion as a pipeline stage, composed onto the G24
    * reciprocal-rank-fusion convention: each named input pipeline
    * ranks documents its own way; a document's fused score is
    * Σ_p ⌊weight_p·10⁹/(60+rank_p)⌋ (Cormack et al.'s RRF, c=60 —
    * Mongo's constant), and the stage emits unique documents
    * best-first.
    *
    * Contract (Mongo's, enforced loudly): first-stage-only; input
    * pipelines are SELECTION-ONLY ($match/$sort/$limit/$skip — stages
    * that modify documents are refused, so every leg emits the input
    * schema and fusion can group on the full document); each leg is
    * ranked either by leading with `$vectorSearch` (rank = its score
    * order — the true Atlas hybrid shape) or by carrying an explicit
    * $sort — ranks need a total order, completed with the engine's
    * all-columns tiebreak (Mongo leaves equal-key order unspecified;
    * a distributed replay must not). Weights are
    * non-negative INTEGERS (fractional weights would reintroduce the
    * float-parity risk the integer convention exists to avoid).
    *
    * Scale shape: each leg is a bounded ranked pipeline ($sort+$limit
    * compiles to TakeOrdered — never a full sort); every $sort-/
    * $search-led leg MUST carry a $limit (enforced loudly —
    * $vectorSearch legs are bounded by that stage's own required
    * `limit`), so the rank window provably runs over the ≤limit
    * surviving rows of a leg and the fusion group-by touches
    * ≤ Σ limits rows. The legs are the distributed
    * work; fusion cost is bounded by construction — the same shape as
    * the standalone `sim_hybrid_rrf`.
    *
    * Shared with `$scoreFusion`: [[fusionLegs]] parses the legs and the
    * weights, [[scoredLeg]] compiles every `$vectorSearch`/`$search`-led
    * leg. Shared with `sim_hybrid_rrf`: the RRF term
    * ([[graft.operators.Similarity.rrfTerm]]).
    */
  private def rankFusion(df: DataFrame, spec: JsonNode,
                         tables: String => DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val legs = fusionLegs("$rankFusion", spec, "integer",
      w => w.isIntegralNumber && w.asLong() >= 0)
    val docCols = df.columns.toSeq
    val docOrder = docCols.map(col(_).asc)
    val ranked = legs.map { leg =>
      val name = leg.name
      def rrf(sub: DataFrame, order: Seq[Column]): DataFrame = sub
        .withColumn("__rf_rank", row_number().over(Window.orderBy(order: _*)))
        .withColumn(RfScoreCol, graft.operators.Similarity.rrfTerm(
          leg.weight.map(_.asLong()).getOrElse(1L), 60, "__rf_rank"))
        .drop("__rf_rank", LegScoreCol)
      // a $vectorSearch- or $search-led leg IS ranked (by its score) —
      // the true Atlas hybrid; otherwise the leg must carry an
      // explicit $sort
      // every leg must be BOUNDED: the per-leg rank window is
      // unpartitioned (a total order needs one), which is safe only
      // because the window covers ≤ limit rows. A limitless $sort- or
      // $search-led leg would funnel the whole selection into one
      // task, so the bound is a loud contract, not a convention
      // ($vectorSearch legs are bounded by that stage's own required
      // `limit`, checked in vectorSearch()).
      if (leg.scored) {
        leg.ops.tail.foreach(op => require(
          Seq("$match", "$limit", "$skip").contains(op),
          s"$$rankFusion pipeline '$name': '$op' not allowed after " +
            s"${leg.ops.head} (ranking comes from the search score)"))
        require(leg.ops.head == "$vectorSearch" || leg.ops.contains("$limit"),
          s"$$rankFusion pipeline '$name' must carry a $$limit — a " +
            "$search-led leg emits every matching document and an " +
            "unbounded leg cannot be ranked distributively")
        rrf(scoredLeg(df, leg, tables), col(LegScoreCol).desc +: docOrder)
      } else {
        var sortSpec: Seq[(String, Boolean)] = Nil
        leg.ops.zip(leg.stages.elements().asScala.toSeq).foreach { case (op, st) =>
          op match {
            case "$match" | "$limit" | "$skip" => ()
            case "$sort" =>
              sortSpec = st.get("$sort").properties().asScala.toSeq
                .map(x => (x.getKey, x.getValue.asInt() >= 0))
            case other => throw new IllegalArgumentException(
              s"$$rankFusion input pipelines are selection-only " +
                s"($$match/$$sort/$$limit/$$skip); '$other' modifies documents")
          }
        }
        require(sortSpec.nonEmpty,
          s"$$rankFusion pipeline '$name' must contain $$sort — " +
            "ranks need an explicit order")
        require(leg.ops.contains("$limit"),
          s"$$rankFusion pipeline '$name' must carry a $$limit — an " +
            "unbounded leg cannot be ranked distributively (the rank " +
            "window covers only the ≤ limit surviving rows)")
        rrf(compile(df, leg.stages.toString, tables, documentsAllowed = false),
          sortSpec.map { case (f, asc) =>
            if (asc) col(f).asc else col(f).desc
          } ++ docOrder)
      }
    }
    ranked.reduce(_ unionByName _)
      .groupBy(docCols.map(col): _*)
      .agg(sum(col(RfScoreCol)).as(RfScoreCol))
      .orderBy(col(RfScoreCol).desc +: docOrder: _*)
  }

  /** One input leg of `$rankFusion`/`$scoreFusion`: its name, stage
    * array, the stage operators in order, and its
    * `combination.weights` entry if any.
    */
  private case class FusionLeg(name: String, stages: JsonNode,
                               ops: Seq[String], weight: Option[JsonNode]) {
    /** Led by a search stage, so the leg's score is that stage's. */
    def scored: Boolean = ops.head == "$vectorSearch" || ops.head == "$search"
  }

  /** The one parser of a fusion stage's `input.pipelines` and
    * `combination.weights`, shared by `$rankFusion` and `$scoreFusion`:
    * every error names `stage`; a weight must name a leg and pass
    * `weightOk` (the per-stage validator — an integer for rank fusion,
    * a number for score fusion; `kind` says which in the message); a
    * leg must be a non-empty stage array.
    */
  private def fusionLegs(stage: String, spec: JsonNode, kind: String,
                         weightOk: JsonNode => Boolean): Seq[FusionLeg] = {
    val input = spec.get("input")
    require(input != null && input.get("pipelines") != null &&
      input.get("pipelines").isObject,
      s"$stage.input.pipelines is required")
    val pipes = input.get("pipelines").properties().asScala.toSeq
    require(pipes.nonEmpty, s"$stage needs at least one input pipeline")
    val weights = Option(spec.get("combination"))
      .flatMap(c => Option(c.get("weights")))
    weights.foreach(w => w.properties().asScala.foreach { e =>
      require(pipes.exists(_.getKey == e.getKey),
        s"$stage weight for unknown pipeline: ${e.getKey}")
      require(weightOk(e.getValue),
        s"$stage.combination.weights.${e.getKey} must be a " +
          s"non-negative $kind (got ${e.getValue})")
    })
    pipes.map { e =>
      val (name, stages) = (e.getKey, e.getValue)
      require(stages.isArray && stages.size() > 0,
        s"$stage pipeline '$name' must be a non-empty stage array")
      FusionLeg(name, stages, stages.elements().asScala.toSeq
          .map(_.properties().asScala.head.getKey),
        weights.flatMap(w => Option(w.get(name))))
    }
  }

  /** The one compile of a `$vectorSearch`/`$search`-led fusion leg: the
    * leg keeps its hidden score (`keepScores = true`), which is copied
    * into [[LegScoreCol]] before the four hidden columns are dropped.
    */
  private def scoredLeg(df: DataFrame, leg: FusionLeg,
                        tables: String => DataFrame): DataFrame =
    compile(df, leg.stages.toString, tables, documentsAllowed = false,
        keepScores = true)
      .withColumn(LegScoreCol,
        col(if (leg.ops.head == "$vectorSearch") VsScoreCol else SearchScoreCol))
      .drop(VsScoreCol, SearchScoreCol, SearchHighlightsCol,
        SearchMetaCountCol)

  /** A search-led fusion leg's score, as [[scoredLeg]] emits it. */
  private val LegScoreCol = "__leg_score"

  /** Hidden column carrying `$search`'s BM25 relevance until a
    * `{$meta: "searchScore"}` projection reads it.
    */
  private val SearchScoreCol = "__search_score"

  /** Hidden column carrying `$search`'s highlights until a
    * `{$meta: "searchHighlights"}` projection reads it. The engine's
    * relational rendering of Atlas' passage documents: per matched
    * document, the highlight path's text-clause terms that HIT, as
    * `term:count` joined by `|` in alphabetical term order — a plain
    * deterministic string (Atlas nests passages with char offsets;
    * offsets belong to Lucene's stored-field machinery and are out of
    * the subset, which says so).
    */
  private val SearchHighlightsCol = "__search_highlights"

  /** Hidden column carrying the `$search.count` option's exact
    * match-set total until a later stage reads it via
    * `$$SEARCH_META.count.total` (round 16) — Atlas' SEARCH_META
    * variable, in the count subset (facets stay on the `$searchMeta`
    * stage, whose tabular rendering a variable can't carry).
    */
  private val SearchMetaCountCol = "__search_meta_count_total"

  /** `$search` (SURVEY.md §2 C39) — Atlas full-text search as a
    * pipeline stage, its `text` operator composed onto the H17 BM25
    * machinery (the scoring core is the SHARED
    * [[graft.operators.TextAnalysis.searchScoresFused]], which
    * [[graft.operators.TextAnalysis.bm25]] also calls, so stage and
    * standalone ranking can never drift): the query string tokenizes
    * on whitespace (lowercased — the engine-wide tokenizer), each
    * term contributes its k1=1.2/b=0.75 BM25 component, matching docs
    * (score > 0) emit best-first with the all-columns tiebreak. The
    * score reads only via `{$meta: "searchScore"}` (Atlas' meta name);
    * with no Lucene index to consult, corpus stats (N, Σdl, per-term
    * df) fold into one broadcast 1-row aggregate — the same
    * missing-index move as `$geoNear`'s `key`. Every search is a
    * compound: a lone clause compiles as `{must: [clause]}`, so one
    * matching and scoring algebra serves both forms.
    *
    * Scale: one corpus scan for tf (codegen'd `tf*` recipes over the
    * token array), one for the stats row (broadcast), ranking via
    * orderBy (+$limit ⇒ TakeOrdered); no shuffle of the corpus.
    */
  /** `$search` clause kinds (C39/C39c/C39d): scored text/phrase/
    * autocomplete clauses and the constant-scored attribute clauses
    * range/equals/in/exists (Lucene's constant-score filter queries —
    * score 1 on match, 0 otherwise, which is exactly what the compound
    * algebra's score > 0 ⇔ matches contract needs).
    */
  private sealed trait SearchClause
  private case class TextC(path: String, terms: Seq[String]) extends SearchClause
  private case class PhraseC(path: String, terms: Seq[String]) extends SearchClause
  private case class AutoC(path: String, prefix: String) extends SearchClause
  private case class WildC(path: String, likePat: String) extends SearchClause
  private case class RegexC(path: String, pattern: String) extends SearchClause

  /** `text` with the `fuzzy` option (round 16) — each query term
    * becomes a bounded-edit virtual term (see
    * [[graft.operators.TextAnalysis.tfFuzzy]]); `autocomplete.fuzzy`
    * fuzzes the token HEAD against the prefix
    * ([[graft.operators.TextAnalysis.tfPrefixFuzzy]]).
    */
  private case class FuzzyC(path: String, terms: Seq[String],
                            maxEdits: Int, prefixLength: Int)
    extends SearchClause
  private case class AutoFuzzyC(path: String, prefix: String,
                                maxEdits: Int, prefixLength: Int)
    extends SearchClause

  /** `text` with `matchCriteria: "all"` (round 16) — Lucene's
    * conjunction form: the clause matches only when EVERY query term
    * occurs; the score stays the usual per-term BM25 sum (all terms
    * present by definition). Matching rides one extra hidden
    * indicator clause whose single virtual term is the LEAST of the
    * per-term tfs (> 0 ⟺ all present), so the all-test flows through
    * the same fused pass / rounded-score sign convention as every
    * other matching decision — no second semantics.
    */
  private case class AllC(path: String, terms: Seq[String])
    extends SearchClause

  /** `text` with `synonyms: "<mapping>"` (round 16) — Lucene's
    * SynonymQuery re-expressed declaratively: each query term expands
    * to its EQUIVALENT-mapping group and the group acts as ONE
    * virtual term with tf = Σ member tfs; the fused stats pass then
    * computes the group df as docs-containing-ANY-member for free
    * (df = count(tf > 0)). The stated deviation from Lucene's blended
    * max-docFreq: group df is the exact any-member document count —
    * deterministic and oracle-replayable. `terms` holds one
    * member-group per original query term (singleton when unmapped).
    */
  private case class SynC(path: String, groups: Seq[Seq[String]])
    extends SearchClause

  /** Load an Atlas-shaped synonym mapping collection (rows of
    * `{mappingType: "equivalent", synonyms: [..]}`) into a
    * term → sorted-group map. Collected driver-side — a synonym
    * mapping is vocabulary-sized model state (the k-means-centroid
    * pattern), never corpus-sized. `explicit` mappings (directional
    * input → synonyms) and overlapping groups (a term in two groups
    * has no unique expansion) are refused loudly.
    */
  private def loadSynonyms(tables: String => DataFrame,
                           name: String): Map[String, Seq[String]] = {
    val mdf = tables(name)
    require(Seq("mappingType", "synonyms").forall(mdf.columns.contains),
      s"synonym mapping '$name' needs (mappingType, synonyms) columns " +
        s"(got ${mdf.columns.mkString(", ")})")
    val rows = mdf.select(col("mappingType"), col("synonyms")).collect()
    require(rows.nonEmpty, s"synonym mapping '$name' is empty")
    val out = scala.collection.mutable.Map.empty[String, Seq[String]]
    rows.foreach { r =>
      require(r.getString(0) == "equivalent",
        s"synonym mapping '$name': mappingType '${r.getString(0)}' is " +
          "out of the supported subset (equivalent only — explicit " +
          "mappings are directional and say so)")
      val g = r.getSeq[String](1).map(_.toLowerCase).distinct.sorted
      require(g.size >= 2,
        s"synonym mapping '$name': a group needs >= 2 distinct terms")
      g.foreach { t =>
        require(!out.contains(t),
          s"synonym mapping '$name': term '$t' appears in two groups — " +
            "no unique expansion")
        out(t) = g
      }
    }
    out.toMap
  }

  /** `phrase` with `slop` > 0 (round 16) — proximity phrases: tf =
    * count of in-order starts within a (m−1)+slop window (see
    * [[graft.operators.TextAnalysis.tfSlop]] for the exact counting
    * convention and why slop = 0 stays on [[PhraseC]]).
    */
  private case class SlopC(path: String, terms: Seq[String], slop: Int)
    extends SearchClause
  private case class MltC(path: String, like: String, maxTerms: Int)
    extends SearchClause

  /** `embeddedDocument` (round 15) — Lucene's block-join over an
    * array-of-documents path, in the constant-score-children subset:
    * the inner operator is an attribute clause (range/equals/in/
    * exists) over child fields, so each matching child scores exactly
    * 1 and the parent aggregate is pure Column algebra over the array
    * (no explode, no shuffle, no child-corpus stats): `sum` = the
    * count of matching children (more matching children ⇒ more
    * relevant — the useful constant-score aggregate), `maximum` = 1
    * on any match. `mean`/`minimum` degenerate to `maximum` for
    * constant child scores and are refused rather than implying
    * Lucene score parity; scored child clauses (text) are likewise
    * out of the subset and say so.
    */
  private case class EmbC(path: String, pred: Column => Column,
                          agg: String) extends SearchClause
  private case class NearC(path: String, origin: Double, pivot: Double)
    extends SearchClause
  private case class AttrC(pred: Column) extends SearchClause

  /** `$search` score modifiers (round 15) — Atlas' per-clause `score`
    * option, the first thing a real compound-search user reaches for
    * to weight clauses: `{boost: {value: v}}` multiplies the clause's
    * score by v; `{constant: {value: v}}` replaces the score of every
    * matching document with v. Both require v > 0 — BM25 scores are
    * ≥ 0 with "matches" ⇔ score > 0, and the compound algebra's
    * must/mustNot tests ride on that sign, so a non-positive modifier
    * would silently corrupt matching and is refused loudly.
    */
  private sealed trait ScoreMod
  private case class BoostM(v: Double) extends ScoreMod
  private case class ConstM(v: Double) extends ScoreMod

  /** `score: {function: {path: {value, undefined}}}` — Atlas' field-
    * valued score source ("rank by popularity"): a matching document's
    * clause score becomes the field's value (or `undefined`'s default
    * when null). Unlike boost/constant the replacement value is NOT
    * sign-constrained — matching is therefore decided on the RAW
    * clause scores before modifiers apply (see the compound path).
    * Other function forms (multiply/gauss/log/unary) are refused
    * loudly as out of the supported subset.
    */
  private case class FnPathM(field: String, undefined: Double) extends ScoreMod

  /** `$search.queryString` (round 15) — Lucene simple-query-string
    * sugar compiled onto the compound algebra (one scorer, one
    * matcher, no second semantics). Flat grammar, no precedence to
    * get wrong:
    *   query := unit+
    *   unit  := [+|-] [field:] (term | "phrase")
    * `+` marks a must clause, `-` a mustNot, bare units are should;
    * `field:` overrides defaultPath; a quoted multi-word phrase
    * compiles to the `phrase` operator, a quoted single word to
    * `text`. The boolean connectives AND/OR/NOT are refused loudly —
    * they imply precedence this flat form deliberately doesn't have —
    * and any text the unit grammar can't consume (stray quotes,
    * dangling `:`) is an error, never silently dropped.
    */
  private def compileQueryString(qs: JsonNode): JsonNode = {
    require(qs.get("defaultPath") != null,
      "$search.queryString.defaultPath is required")
    require(qs.get("query") != null, "$search.queryString.query is required")
    val defPath = qs.get("defaultPath").asText()
    val q = qs.get("query").asText()
    val unitRe = """([+-])?(?:([A-Za-z_][\w.]*):)?(?:"([^"]*)"|([^\s"]+))""".r
    val ms = unitRe.findAllMatchIn(q).toList
    require(ms.nonEmpty, "$search.queryString.query holds no units")
    var pos = 0
    ms.foreach { m =>
      require(q.substring(pos, m.start).forall(_.isWhitespace),
        s"$$search.queryString: cannot parse near " +
          s"'${q.substring(pos, m.start)}'")
      pos = m.end
    }
    require(q.substring(pos).forall(_.isWhitespace),
      s"$$search.queryString: cannot parse near '${q.substring(pos)}'")
    val out = mapper.createObjectNode()
    val comp = out.putObject("compound")
    ms.foreach { m =>
      val kind = m.group(1) match {
        case "+" => "must"
        case "-" => "mustNot"
        case _   => "should"
      }
      val field = Option(m.group(2)).getOrElse(defPath)
      val (phrase, bare) = (Option(m.group(3)), Option(m.group(4)))
      bare.filter(b => Seq("AND", "OR", "NOT").contains(b)).foreach { b =>
        throw new IllegalArgumentException(
          s"$$search.queryString: '$b' connectives are not supported — " +
            "this is the flat simple-query-string form; use +term " +
            "(must) and -term (mustNot)")
      }
      val clause = mapper.createObjectNode()
      phrase match {
        case Some(p) =>
          val terms = p.trim.split("\\s+").filter(_.nonEmpty)
          require(terms.nonEmpty,
            "$search.queryString: empty quoted phrase")
          val op = if (terms.length >= 2) "phrase" else "text"
          clause.putObject(op).put("query", p).put("path", field)
        case None =>
          clause.putObject("text").put("query", bare.get).put("path", field)
      }
      comp.withArray(s"/$kind").add(clause)
    }
    out
  }

  /** The `$search` attribute clauses, constant-score filters on one
    * path. */
  private val AttrKinds = Seq("range", "equals", "in", "exists")

  /** Compile an attribute clause to the `$match` operators it means
    * (range's gte/gt/lte/lt → `$gte/$gt/$lte/$lt`, equals → `$eq`,
    * in → `$in`, exists → `$exists: true`) through [[fieldPredicate]],
    * so `$search` and `$match` share one predicate compiler. The
    * result applies to `col(path)` for a top-level clause and to
    * `x.getField(path)` for an embeddedDocument child (`child`, which
    * only selects the error wording).
    */
  private def attributePredicate(kind: String, body: JsonNode,
                                 child: Boolean): Column => Column = {
    val where = if (child) s"$$search.embeddedDocument $kind" else s"$$search.$kind"
    val ops = mapper.createObjectNode()
    kind match {
      case "range" =>
        Seq("gte", "gt", "lte", "lt").foreach { k =>
          Option(body.get(k)).foreach(v => ops.set[JsonNode]("$" + k, v))
        }
        require(!ops.isEmpty,
          if (child) s"$where needs gte/gt/lte/lt"
          else s"$where needs at least one of gte/gt/lte/lt")
      case "equals" =>
        require(body.get("value") != null, s"$where.value is required")
        ops.set[JsonNode]("$eq", body.get("value"))
      case "in" =>
        val vs = Option(body.get("value")).filter(_.isArray)
          .getOrElse(throw new IllegalArgumentException(
            s"$where.value must be an array"))
        ops.set[JsonNode]("$in", vs)
      case "exists" =>
        ops.put("$exists", true)
    }
    c => fieldPredicate(c, ops)
  }

  private def search(df: DataFrame, spec: JsonNode,
                     tables: String => DataFrame): DataFrame = {
    val clauseKinds = Seq("text", "phrase", "autocomplete", "wildcard",
      "regex", "moreLikeThis", "near") ++ AttrKinds ++
      Seq("geoWithin", "embeddedDocument")
    val unknown = spec.properties().asScala.map(_.getKey)
      .filterNot(k => k == "compound" || k == "queryString" || k == "sort" ||
        k == "highlight" || k == "count" || k == "analyzer" ||
        clauseKinds.contains(k))
    require(unknown.isEmpty, s"unsupported $$search operators: $unknown")
    // the analyzer option (round 16): one analyzer per $search stage,
    // applied to EVERY scored clause's tokenization (corpus side AND
    // query side) plus the shared dl/Σdl stats — per-clause analyzers
    // would let two clauses disagree on document length and are out of
    // the subset. lucene.whitespace is the engine default (lowercase +
    // space split); lucene.standard lowercases and splits on
    // non-alphanumeric runs (see TextAnalysis.tokensStandard).
    val analyzer: Option[String] = Option(spec.get("analyzer")).map { an =>
      val a = an.asText()
      require(Seq("lucene.standard", "lucene.whitespace").contains(a),
        s"$$search.analyzer '$a' is out of the supported subset " +
          "(lucene.standard | lucene.whitespace)")
      a
    }.filter(_ == "lucene.standard")
    val tokenize: Column => Column = analyzer match {
      case Some(_) => graft.operators.TextAnalysis.tokensStandard
      case None    => graft.functions.Hash60.tokens(_)
    }
    // query-side tokenization must match the corpus side exactly
    def queryTokens(q: String): Seq[String] = analyzer match {
      case Some(_) =>
        q.toLowerCase.split("[^a-z0-9]+").toSeq.filter(_.nonEmpty)
      case None =>
        q.toLowerCase.trim.split("\\s+").toSeq.filter(_.nonEmpty)
    }
    // the count option (round 16): {count: {type: total|lowerBound}}
    // attaches the EXACT match-set size as hidden per-row state a later
    // stage reads via $$SEARCH_META.count.total (counts are exact, so
    // lowerBound reports the same number — a valid lower bound)
    val countRequested: Boolean = Option(spec.get("count")).exists { cn =>
      val ks = cn.properties().asScala.map(_.getKey).toSet
      require(ks.subsetOf(Set("type")),
        s"$$search.count supports only {type} (got $ks)")
      val ct = Option(cn.get("type")).map(_.asText()).getOrElse("lowerBound")
      require(Seq("total", "lowerBound").contains(ct),
        s"$$search.count.type must be total|lowerBound (got $ct)")
      true
    }
    // the highlight option (round 15): attach the relational highlight
    // rendering (see SearchHighlightsCol) for the stated path, fed by
    // the text-clause terms that target it — one more codegen'd
    // projection on the SAME scan, no extra pass
    val addHl: (DataFrame, Seq[SearchClause]) => DataFrame =
      (d, cs) => Option(spec.get("highlight")) match {
        case None => d
        case Some(h) =>
          require(analyzer.isEmpty,
            "$search.highlight does not combine with a non-default " +
              "analyzer — the highlight term counts ride the whitespace " +
              "tokenizer (the highlightable subset)")
          val ks = h.properties().asScala.map(_.getKey).toSet
          require(ks == Set("path"),
            s"$$search.highlight supports only {path} (got $ks — " +
              "maxCharsToExamine/maxNumPassages are out of the subset)")
          val hPath = h.get("path").asText()
          val terms = cs.collect { case TextC(p, ts) if p == hPath => ts }
            .flatten.distinct.sorted
          require(terms.nonEmpty,
            s"$$search.highlight.path '$hPath' is not targeted by any " +
              "text clause — nothing to highlight (the highlightable subset)")
          val toks = graft.functions.Hash60.tokens(col(hPath))
          val parts = terms.map { t =>
            val hits = graft.operators.TextAnalysis.tfTerm(t)(toks)
            when(hits > 0, concat(lit(t + ":"),
              hits.cast("long").cast("string"))).otherwise(lit(null))
          }
          d.withColumn(SearchHighlightsCol, concat_ws("|", parts: _*))
      }
    // the sort option (round 15): Atlas' sort-by-field-instead-of-
    // relevance — the match set is unchanged, only the output order
    // (and therefore what a downstream $limit keeps) moves from
    // best-score-first to the stated fields. Supported subset: plain
    // {field: 1 | -1} entries, applied in declaration order, with the
    // engine's all-columns tiebreak appended (total order, so a
    // $limit boundary is deterministic); {$meta}-valued sorts are
    // refused loudly.
    val sortCols: Seq[Column] = Option(spec.get("sort")).map { sn =>
      require(sn.isObject && sn.properties().asScala.nonEmpty,
        "$search.sort must be a non-empty {field: 1|-1} document")
      sn.properties().asScala.toSeq.map { e =>
        require(e.getValue.isNumber &&
          math.abs(e.getValue.asInt()) == 1,
          s"$$search.sort.${e.getKey} must be 1 or -1 " +
            "($meta-valued sorts are out of the subset)")
        if (e.getValue.asInt() > 0) col(e.getKey).asc else col(e.getKey).desc
      }
    }.getOrElse(Seq(col(SearchScoreCol).desc))
    // queryString is pure sugar: compile to the compound algebra and
    // recurse — one scorer, one matcher, no second semantics
    if (spec.get("queryString") != null) {
      require(spec.properties().asScala.map(_.getKey).toSet
        .subsetOf(Set("queryString", "sort", "highlight", "count",
          "analyzer")),
        "$search.queryString does not combine with other operators")
      val translated = compileQueryString(spec.get("queryString"))
      Seq("sort", "highlight", "count", "analyzer").foreach { opt =>
        Option(spec.get(opt)).foreach { sn =>
          translated
            .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
            .replace(opt, sn)
          ()
        }
      }
      return search(df, translated, tables)
    }
    def scoreMod(body: JsonNode, kind: String): Option[ScoreMod] =
      Option(body.get("score")).map { sn =>
        val ks = sn.properties().asScala.map(_.getKey).toSet
        require(ks == Set("boost") || ks == Set("constant") ||
          ks == Set("function"),
          s"$$search.$kind.score takes exactly one of " +
            s"boost|constant|function (got $ks)")
        if (ks == Set("function")) {
          val fn = sn.get("function")
          val fks = fn.properties().asScala.map(_.getKey).toSet
          require(fks == Set("path"),
            s"$$search.$kind.score.function supports only the path form " +
              s"(got $fks — multiply/gauss/log are out of the subset)")
          val pn = fn.get("path")
          require(pn.isObject && pn.get("value") != null &&
            pn.get("value").isTextual,
            s"$$search.$kind.score.function.path needs {value: <field>}")
          val undef = Option(pn.get("undefined")).map(_.asDouble())
            .getOrElse(0.0)
          FnPathM(pn.get("value").asText(), undef)
        } else {
          val which = ks.head
          val vn = Option(sn.get(which)).map(_.get("value")).orNull
          require(vn != null && vn.isNumber,
            s"$$search.$kind.score.$which.value is a required number")
          val v = vn.asDouble()
          require(v > 0,
            s"$$search.$kind.score.$which.value must be positive: $v — " +
              "matching rides on score > 0, a non-positive modifier would " +
              "silently corrupt compound must/mustNot semantics")
          if (which == "boost") BoostM(v) else ConstM(v)
        }
      }
    def textClause(node: JsonNode): (SearchClause, Option[ScoreMod]) = {
      val kinds = clauseKinds.filter(node.get(_) != null)
      require(kinds.size == 1,
        s"$$search clauses take exactly one operator of $clauseKinds")
      val body = node.get(kinds.head)
      def path = {
        require(body.get("path") != null,
          s"$$search.${kinds.head}.path is required")
        body.get("path").asText()
      }
      def terms(min: Int) = {
        require(body.get("query") != null,
          s"$$search.${kinds.head}.query is required")
        val ts = queryTokens(body.get("query").asText())
        require(ts.size >= min,
          s"$$search.${kinds.head}.query needs >= $min term(s)")
        ts
      }
      // fuzzy (round 16): {maxEdits: 1|2 (default 2), prefixLength >= 0
      // (default 0)} on text and autocomplete; maxEdits > 2 is
      // refused loudly (Atlas' own bound — and the edit-distance
      // predicate's selectivity collapses past it)
      def fuzzyOf(kind: String): Option[(Int, Int)] =
        Option(body.get("fuzzy")).map { fz =>
          require(fz.isObject,
            s"$$search.$kind.fuzzy must be a {maxEdits, prefixLength} object")
          val ks = fz.properties().asScala.map(_.getKey).toSet
          require(ks.subsetOf(Set("maxEdits", "prefixLength")),
            s"$$search.$kind.fuzzy supports maxEdits/prefixLength (got $ks)")
          val me = Option(fz.get("maxEdits")).map(_.asInt()).getOrElse(2)
          require(me == 1 || me == 2,
            s"$$search.$kind.fuzzy.maxEdits must be 1 or 2 (got $me)")
          val pl = Option(fz.get("prefixLength")).map(_.asInt()).getOrElse(0)
          require(pl >= 0,
            s"$$search.$kind.fuzzy.prefixLength must be >= 0 (got $pl)")
          (me, pl)
        }
      val clause = kinds.head match {
        case "text" =>
          val ts = terms(1)
          val fz = fuzzyOf("text")
          // matchCriteria (round 16): "any" (default) | "all"
          val matchAll = Option(body.get("matchCriteria")).map(_.asText())
            .map { mc =>
              require(Seq("any", "all").contains(mc),
                s"$$search.text.matchCriteria must be any|all (got '$mc')")
              mc == "all"
            }.getOrElse(false)
          // synonyms (round 16): the named EQUIVALENT mapping expands
          // each query term to its group (see SynC). Combinations
          // Atlas itself forbids are refused loudly: synonyms+fuzzy
          // is invalid Atlas; matchCriteria-all over groups is out of
          // the supported subset (all-of-which-member?) and says so.
          val synGroups = Option(body.get("synonyms")).map { sn =>
            require(sn.isTextual && sn.asText().nonEmpty,
              "$search.text.synonyms must be a mapping collection name")
            require(fz.isEmpty,
              "$search.text does not combine synonyms with fuzzy " +
                "(Atlas forbids it: a fuzzy term has no exact group key)")
            require(!matchAll,
              "$search.text.matchCriteria 'all' with synonyms is out of " +
                "the supported subset (ambiguous over groups) — use " +
                "compound must clauses instead")
            val mapping = loadSynonyms(tables, sn.asText())
            ts.map(t => mapping.getOrElse(t, Seq(t)))
          }
          require(!(matchAll && fz.isDefined),
            "$search.text.matchCriteria 'all' with fuzzy is out of the " +
              "supported subset — use compound must clauses of single " +
              "fuzzy terms instead")
          (fz, synGroups) match {
            case (Some((me, pl)), _) => FuzzyC(path, ts, me, pl)
            case (_, Some(gs))       => SynC(path, gs)
            case _ if matchAll && ts.size >= 2 => AllC(path, ts)
            case _ => TextC(path, ts) // all-of-one ≡ any-of-one
          }
        case "phrase" =>
          val ts = terms(2) // a one-term phrase IS the text operator
          val slop = Option(body.get("slop")).map(_.asInt()).getOrElse(0)
          require(slop >= 0,
            s"$$search.phrase.slop must be >= 0 (got $slop)")
          // slop = 0 keeps the exact-adjacency (non-overlapping
          // substring-count) model; slop > 0 switches to the counted-
          // starts proximity convention — see TextAnalysis.tfSlop
          if (slop == 0) PhraseC(path, ts) else SlopC(path, ts, slop)
        case "autocomplete" =>
          val ts = terms(1)
          require(ts.size == 1,
            "$search.autocomplete.query is a single prefix")
          fuzzyOf("autocomplete") match {
            case None           => AutoC(path, ts.head)
            case Some((me, pl)) => AutoFuzzyC(path, ts.head, me, pl)
          }
        case "wildcard" =>
          // glob → SQL LIKE (identical *, ? semantics on any engine —
          // deliberately NOT a regex dialect); % and _ in the glob are
          // escaped so they match literally, as Lucene's wildcard does
          val ts = terms(1)
          require(ts.size == 1, "$search.wildcard.query is a single pattern")
          require(ts.head.exists(c => c == '*' || c == '?'),
            "$search.wildcard.query needs a * or ? — a literal pattern " +
              "IS the text operator")
          val pat = ts.head.replace("\\", "\\\\").replace("%", "\\%")
            .replace("_", "\\_").replace('*', '%').replace('?', '_')
          WildC(path, pat)
        case "regex" =>
          // Lucene's whole-term regex query over the RE2-shared syntax
          // subset (the H9/H21 portability discipline): features Java
          // accepts but RE2 (the oracle engine) rejects — lookaround,
          // backreferences, possessive quantifiers — are refused
          // loudly rather than silently diverging
          require(body.get("query") != null, "$search.regex.query is required")
          val pat = body.get("query").asText()
          require(pat.nonEmpty, "$search.regex.query must be non-empty")
          // Java-only constructs RE2 parses DIFFERENTLY (not just
          // rejects) are blacklisted too (round 16, advice): class
          // intersection `&&` degrades to literal ampersands in RE2,
          // `\p{java...}` properties and `\G` are Java-specific — all
          // three would pass Pattern.compile and silently diverge
          // from the regexp_full_match oracle.
          val nonPortable = Seq("(?=", "(?!", "(?<", "*+", "++", "?+",
            "&&", "\\G", "\\p{java", "\\P{java")
            .filter(pat.contains) ++
            "\\\\[1-9]".r.findFirstIn(pat).map(b => s"backreference $b")
          require(nonPortable.isEmpty,
            s"$$search.regex.query uses non-portable regex features " +
              s"$nonPortable — the supported subset is the RE2-shared " +
              "syntax (literals, classes, ., *, +, ?, |, (?:), {m,n})")
          // fail fast on syntax errors at compile time, not per row
          try java.util.regex.Pattern.compile(pat)
          catch { case e: java.util.regex.PatternSyntaxException =>
            throw new IllegalArgumentException(
              s"$$search.regex.query does not parse: ${e.getMessage}") }
          RegexC(path, pat)
        case "moreLikeThis" =>
          // Atlas' remaining scored operator. Supported subset: `like`
          // is ONE document with ONE text field (the field name IS the
          // path); salient terms are selected deterministically (see
          // TextAnalysis.mltTerms) and fed into the shared text-clause
          // BM25, so mlt composes into compound like any text clause.
          require(analyzer.isEmpty,
            "$search.moreLikeThis does not combine with a non-default " +
              "analyzer — its term selection rides the whitespace " +
              "tokenizer (the supported subset)")
          val like = body.get("like")
          require(like != null && like.isObject &&
            like.properties().asScala.size == 1,
            "$search.moreLikeThis.like must be ONE document with ONE " +
              "text field (the supported subset; the field name is the path)")
          val e = like.properties().asScala.head
          require(e.getValue.isTextual && e.getValue.asText().trim.nonEmpty,
            s"$$search.moreLikeThis.like.${e.getKey} must be non-empty text")
          val maxT = Option(body.get("maxQueryTerms")).map(_.asInt())
            .getOrElse(25)
          require(maxT > 0,
            s"$$search.moreLikeThis.maxQueryTerms must be positive: $maxT")
          MltC(e.getKey, e.getValue.asText(), maxT)
        case kind @ ("range" | "equals" | "in" | "exists") =>
          AttrC(attributePredicate(kind, body, child = false)(col(path)))
        case "embeddedDocument" =>
          val op = body.get("operator")
          require(op != null && op.isObject,
            "$search.embeddedDocument.operator is required")
          val aggKind = Option(body.get("score")).map { sc =>
            val ks = sc.properties().asScala.map(_.getKey).toSet
            require(ks == Set("embedded"),
              "$search.embeddedDocument.score takes the " +
                s"{embedded: {aggregate}} form (got $ks)")
            val a = Option(sc.get("embedded").get("aggregate"))
              .map(_.asText()).getOrElse("sum")
            require(Seq("sum", "maximum").contains(a),
              s"$$search.embeddedDocument aggregate must be sum|maximum " +
                s"(got '$a' — mean/minimum degenerate to maximum for " +
                "constant-score children and are refused rather than " +
                "implying Lucene score parity)")
            a
          }.getOrElse("sum")
          val innerKinds = AttrKinds.filter(op.get(_) != null)
          require(innerKinds.size == 1 &&
            op.properties().asScala.size == 1,
            "$search.embeddedDocument.operator supports exactly one " +
              "attribute clause (range|equals|in|exists) over child " +
              "fields — scored child clauses (text) are out of the subset")
          val ib = op.get(innerKinds.head)
          require(ib.get("path") != null,
            s"$$search.embeddedDocument.operator.${innerKinds.head}.path " +
              "is required")
          val ipath = ib.get("path").asText()
          val pred = attributePredicate(innerKinds.head, ib, child = true)
          EmbC(path, x => pred(x.getField(ipath)), aggKind)
        case "geoWithin" =>
          // constant-score geo filter (Lucene's filter-query class)
          // over the PLANAR legacy-pair model $geoNear already uses —
          // [x, y] array path, euclidean geometry, every step an IEEE
          // correctly-rounded op both engines replay. Spherical
          // GeoJSON geometry/polygons are out of the subset and say so.
          def pt(node: JsonNode, what: String): (Double, Double) = {
            require(node != null && node.isArray && node.size == 2,
              s"$$search.geoWithin.$what must be a legacy [x, y] pair " +
                "(GeoJSON points are out of the supported subset)")
            (node.get(0).asDouble(), node.get(1).asDouble())
          }
          val px = col(path).getItem(0)
          val py = col(path).getItem(1)
          val shapes = Seq("box", "circle").filter(body.get(_) != null)
          require(shapes.size == 1,
            "$search.geoWithin takes exactly one of box|circle " +
              "(geometry polygons are out of the subset)")
          shapes.head match {
            case "box" =>
              val b = body.get("box")
              val (x1, y1) = pt(b.get("bottomLeft"), "box.bottomLeft")
              val (x2, y2) = pt(b.get("topRight"), "box.topRight")
              require(x1 < x2 && y1 < y2,
                "$search.geoWithin.box needs bottomLeft strictly below-" +
                  s"left of topRight: [$x1,$y1] vs [$x2,$y2]")
              AttrC(px >= lit(x1) && px <= lit(x2) &&
                py >= lit(y1) && py <= lit(y2))
            case "circle" =>
              val cNode = body.get("circle")
              val (cx, cy) = pt(cNode.get("center"), "circle.center")
              require(cNode.get("radius") != null &&
                cNode.get("radius").isNumber,
                "$search.geoWithin.circle.radius is a required number")
              val r = cNode.get("radius").asDouble()
              require(r > 0,
                s"$$search.geoWithin.circle.radius must be positive: $r")
              // squared comparison: no sqrt, pure IEEE mul/add both
              // engines reproduce bit for bit
              AttrC((px - lit(cx)) * (px - lit(cx)) +
                (py - lit(cy)) * (py - lit(cy)) <= lit(r) * lit(r))
          }
        case "near" =>
          // numeric proximity: score = pivot/(pivot + |x − origin|) —
          // Atlas' decay curve, every step a correctly-rounded IEEE op
          require(body.get("origin") != null && body.get("pivot") != null,
            "$search.near needs origin and pivot")
          val origin = body.get("origin").asDouble()
          val pivot = body.get("pivot").asDouble()
          require(pivot > 0, s"$$search.near.pivot must be positive: $pivot")
          NearC(path, origin, pivot)
      }
      // embeddedDocument's score option is its own {embedded: ...}
      // aggregate form, parsed inside the case — not a score modifier
      val mod = if (kinds.head == "embeddedDocument") None
        else scoreMod(body, kinds.head)
      (clause, mod)
    }
    // the fused-pass recipe of a BM25-scored clause kind; None for the
    // clause kinds that don't consume corpus stats (near's pure decay
    // scorer and the constant-score attribute clauses)
    def recipe(c: SearchClause): Option[(String, Seq[Column => Column])] = {
      import graft.operators.{TextAnalysis => TA}
      c match {
        case TextC(p, ts) => Some((p, ts.map(TA.tfTerm)))
        case AllC(p, ts) => Some((p, ts.map(TA.tfTerm)))
        case SynC(p, gs) => Some((p, gs.map(TA.tfGroup)))
        case FuzzyC(p, ts, me, pl) =>
          Some((p, ts.map(TA.tfFuzzy(_, me, pl))))
        case PhraseC(p, ts) => Some((p, Seq(TA.tfPhrase(ts))))
        case SlopC(p, ts, slop) => Some((p, Seq(TA.tfSlop(ts, slop))))
        case AutoC(p, pre) => Some((p, Seq(TA.tfPrefix(pre))))
        case AutoFuzzyC(p, pre, me, pl) =>
          Some((p, Seq(TA.tfPrefixFuzzy(pre, me, pl))))
        case WildC(p, pat) => Some((p, Seq(TA.tfLike(pat))))
        case RegexC(p, pat) => Some((p, Seq(TA.tfRegex(pat))))
        case MltC(p, like, maxT) =>
          // one small driver-side df aggregate selects the terms; the
          // scoring itself joins the fused pass like any text clause
          Some((p, TA.mltTerms(df, p, like, maxT).map(TA.tfTerm)))
        case _ => None
      }
    }
    def applyMod(d: DataFrame, out: String, mod: Option[ScoreMod]): DataFrame =
      mod match {
        case None => d
        case Some(BoostM(v)) =>
          d.withColumn(out, round(col(out) * lit(v), 6))
        case Some(ConstM(v)) =>
          d.withColumn(out, when(col(out) > 0, lit(v)).otherwise(lit(0.0)))
        case Some(FnPathM(f, undef)) =>
          d.withColumn(out, when(col(out) > 0,
            coalesce(col(f).cast("double"), lit(undef))).otherwise(lit(0.0)))
      }
    // the per-row scorers of the clause kinds without a recipe; every
    // BM25 clause scores in the fused pass instead
    def scoreClause(d: DataFrame, c: SearchClause, out: String): DataFrame =
      c match {
        case NearC(path, origin, pivot) =>
          // matches everything (score > 0 always) — Lucene's near is a
          // pure scorer; nulls score 0 (no value = no proximity)
          d.withColumn(out, coalesce(
            lit(pivot) / (lit(pivot) +
              abs(col(path).cast("double") - lit(origin))), lit(0.0)))
        case AttrC(pred) =>
          d.withColumn(out, when(pred, 1.0).otherwise(0.0))
        case EmbC(path, pred, aggKind) =>
          // pure Column algebra over the array: matching-child count
          // (each constant-score child scores 1). A NULL array means
          // no children — score 0, no match.
          val nm = coalesce(
            size(filter(col(path), x => pred(x))).cast("double"), lit(0.0))
          d.withColumn(out, aggKind match {
            case "sum" => nm
            case "maximum" => when(nm > 0, 1.0).otherwise(0.0)
          })
        case other => throw new IllegalStateException(
          s"BM25 clause outside the fused pass: $other") // unreachable
      }
    val tie = df.columns.map(col).toSeq
    // shared tail: highlight projection, then (opt-in) the count
    // option's hidden $$SEARCH_META state — ONE exact 1-row aggregate
    // of the match set, broadcast back onto every row (the repo's
    // stats-row pattern; never a single-partition window) — then the
    // sort/tiebreak order. Cost, stated honestly: the aggregate re-
    // evaluates the matched subtree (Catalyst reuses no subtrees), so
    // an opt-in count adds the search's own scans again (2 for a
    // scored clause). A zero-cost alternative — count via tf-level
    // predicates folded into the fused stats row — was REJECTED: the
    // emit filter tests round(score, 6) > 0, and at corpus sizes
    // where a universal term's idf drops below 5e-7 the rounded score
    // hits 0 while its tf stays positive, so a tf-based count could
    // disagree with the rows actually emitted. Count must count what
    // the user receives.
    def finish(matchedFrame: DataFrame, cs: Seq[SearchClause]): DataFrame = {
      val withHl = addHl(matchedFrame, cs)
      val withCount =
        if (!countRequested) withHl
        else withHl.crossJoin(broadcast(withHl.agg(
          count(lit(1)).cast("long").as(SearchMetaCountCol))))
      withCount.orderBy(sortCols ++ tie: _*)
    }
    // compound: must clauses all match AND contribute score; should
    // clauses contribute score (should-only searches need at least
    // one should match); mustNot clauses exclude on any match —
    // Lucene's boolean-query contract over the shared BM25 core.
    // BM25 scores are ≥ 0 with "matches" ⇔ score > 0, so exclusion
    // is an exact score = 0 test. A lone clause is the one-clause
    // compound {must: [clause]}: its score is that clause's score and
    // it matches on that score > 0, so it needs no algebra of its own.
    val comp = Option(spec.get("compound")).getOrElse {
      val lone = mapper.createObjectNode()
      lone.putArray("must").add(spec)
      lone
    }
    val badKinds = comp.properties().asScala.map(_.getKey)
      .filterNot(k => Seq("must", "should", "mustNot",
        "minimumShouldMatch").contains(k))
    require(badKinds.isEmpty,
      s"unsupported $$search.compound clauses: $badKinds")
    def clauses(kind: String): Seq[(SearchClause, Option[ScoreMod])] =
      Option(comp.get(kind)).toSeq.flatMap { arr =>
        require(arr.isArray, s"$$search.compound.$kind must be an array")
        arr.elements().asScala.toSeq.map(textClause)
      }
    val (must, should, mustNot) =
      (clauses("must"), clauses("should"), clauses("mustNot"))
    require(must.nonEmpty || should.nonEmpty,
      "$search.compound needs at least one must or should clause")
    // minimumShouldMatch (round 16) — Lucene's boolean knob: at
    // least m of the should clauses must match (raw score > 0, the
    // same sign test every other matching decision rides). m = 0 is
    // the default pure-score-contribution behavior; m > |should| can
    // never match and is refused loudly rather than returning an
    // always-empty search.
    val msm = Option(comp.get("minimumShouldMatch")).map { mn =>
      require(mn.isNumber,
        s"$$search.compound.minimumShouldMatch must be a number: $mn")
      mn.asInt()
    }.getOrElse(0)
    require(msm >= 0,
      s"$$search.compound.minimumShouldMatch must be >= 0 (got $msm)")
    require(msm <= should.size,
      s"$$search.compound.minimumShouldMatch ($msm) exceeds the " +
        s"number of should clauses (${should.size}) — no document " +
        "could ever match")
    val all = (must ++ should ++ mustNot).zipWithIndex
    // FUSED stats pass (round 15): every BM25-scored clause computes
    // off ONE corpus scan + ONE broadcast stats row via
    // searchScoresFused — a K-clause compound reads the corpus 2×,
    // not K+1× (the r14 shape). Non-stats clauses (near/attribute)
    // attach per-row columns on the same frame, costing no extra scan.
    // recipes computed ONCE per clause (an mlt recipe runs a small
    // driver-side term-selection aggregate — never re-run it)
    val recipes = all.map { case ((c, _), i) => i -> recipe(c) }.toMap
    val fusedPart = all.flatMap { case ((_, _), i) =>
      recipes(i).map(r => (r, i)) }
    // matchCriteria-all clauses ride ONE extra indicator entry each
    // in the SAME fused pass (least-tf virtual term), then their
    // score column is gated to 0 unless all terms occur — after
    // which the unchanged must/should/mustNot/msm algebra applies
    val indPart = all.collect { case ((AllC(p, ts), _), i) =>
      ((p, Seq(graft.operators.TextAnalysis.tfAll(ts))), i) }
    val fusedAll =
      fusedPart.map { case (r, i) => (r, s"__sc$i") } ++
        indPart.map { case (r, i) => (r, s"__ind$i") }
    val base =
      if (fusedAll.isEmpty) df
      else graft.operators.TextAnalysis.searchScoresFused(
        df, fusedAll.map(_._1), fusedAll.map(_._2),
        tokenize = tokenize)
    val scoredUngated = all.foldLeft(base) { case (d, ((c, _), i)) =>
      if (recipes(i).isDefined) d else scoreClause(d, c, s"__sc$i")
    }
    val scoredRaw = indPart.foldLeft(scoredUngated) { case (d, (_, i)) =>
      d.withColumn(s"__sc$i", when(col(s"__ind$i") > 0,
        col(s"__sc$i")).otherwise(lit(0.0))).drop(s"__ind$i")
    }
    val nm = must.size
    val ns = should.size
    // `scoring` is late-bound: inside `matched` (materialized on the
    // PRE-modifier frame) it reads RAW clause scores; in the final
    // sum (on the post-modifier frame) it reads MODIFIED ones.
    // Matching is decided on the raw scores, BEFORE score modifiers
    // apply (Atlas: the query decides what matches, the score option
    // only re-scores it). For boost/constant (both require > 0)
    // raw-vs-modified matching is provably identical; for a
    // path-valued function score it is not, which is why the
    // __matched column is computed first.
    val scoring = (0 until nm + ns).map(i => col(s"__sc$i"))
    val matched = (
      (0 until nm).map(i => col(s"__sc$i") > 0) ++
        (if (nm == 0) Seq(scoring.reduce(_ + _) > 0) else Nil) ++
        (if (msm == 0) Nil
         else Seq((nm until nm + ns)
           .map(i => when(col(s"__sc$i") > 0, lit(1)).otherwise(lit(0)))
           .reduce(_ + _) >= lit(msm))) ++
        (nm + ns until nm + ns + mustNot.size)
          .map(i => col(s"__sc$i") === 0.0))
      .reduce(_ && _)
    val withMatch = scoredRaw.withColumn("__matched", matched)
    val scored = all.foldLeft(withMatch) { case (d, ((_, m), i)) =>
      applyMod(d, s"__sc$i", m)
    }
    finish(scored
      .withColumn(SearchScoreCol, scoring.reduce(_ + _))
      .filter(col("__matched"))
      .drop("__matched" +: all.indices.map(i => s"__sc$i"): _*),
      all.map(_._1._1))
  }

  /** `$searchMeta` (SURVEY.md §2 C40) — Atlas search METADATA as a
    * pipeline stage: the same match set as [[search]] (one shared
    * compiler, so `$search` and `$searchMeta` can never disagree on
    * what matches), aggregated instead of emitted.
    *
    * Two forms, mirroring Atlas:
    *  - `{count: {type: "total"}, text|compound: …}` → ONE row
    *    `{total}` (counts are exact — no Lucene lower-bound estimate
    *    to honor, so `type: "lowerBound"` also reports the exact
    *    count, which is a valid lower bound);
    *  - `{facet: {operator: {…}, facets: {name: {type: "string",
    *    path, numBuckets} | {type: "number", path, boundaries}}}}` →
    *    one row per non-empty bucket, flattened to the engine's
    *    tabular twin `(facet, bucket, count)` best-first (Atlas nests
    *    buckets in one meta document; a DataFrame row set is the
    *    relational rendering). String buckets rank by count DESC then
    *    value ASC (Atlas' order, made total); number buckets label by
    *    their lower boundary ([lo, hi) half-open, out-of-range rows
    *    ignored — Atlas' rule) and sort by it.
    *
    * Scale: the matching scan is [[search]]'s (one corpus pass,
    * broadcast stats row); each facet is a partial-agg groupBy to
    * ≤ numBuckets/|boundaries| rows; count is a 1-row aggregate. The
    * match-set sort is eliminated under the aggregates (Catalyst's
    * EliminateSorts), so no ordering work survives planning.
    */
  private def searchMeta(df: DataFrame, spec: JsonNode,
                         tables: String => DataFrame): DataFrame = {
    import com.fasterxml.jackson.databind.node.ObjectNode
    val keys = spec.properties().asScala.map(_.getKey).toSet
    if (keys.contains("facet")) {
      require(keys == Set("facet"),
        s"$$searchMeta.facet does not combine with ${keys - "facet"}")
      val f = spec.get("facet")
      require(f.get("operator") != null,
        "$searchMeta.facet.operator is required")
      val facets = f.get("facets")
      require(facets != null && facets.isObject &&
        facets.properties().asScala.nonEmpty,
        "$searchMeta.facet.facets needs at least one facet definition")
      val matched = search(df, f.get("operator"), tables)
        .drop(SearchScoreCol, SearchHighlightsCol, SearchMetaCountCol)
      val parts = facets.properties().asScala.toSeq.map { e =>
        val (name, fd) = (e.getKey, e.getValue)
        require(fd.get("path") != null,
          s"$$searchMeta facet '$name' needs a path")
        val path = fd.get("path").asText()
        Option(fd.get("type")).map(_.asText()).getOrElse("string") match {
          case "string" =>
            val nb = Option(fd.get("numBuckets")).map(_.asInt()).getOrElse(10)
            require(nb > 0, s"$$searchMeta facet '$name': numBuckets > 0")
            matched.groupBy(col(path).cast("string").as("bucket"))
              .agg(count(lit(1)).as("count"))
              .orderBy(col("count").desc, col("bucket").asc)
              .limit(nb)
              .select(lit(name).as("facet"), col("bucket"), col("count"))
          case "number" =>
            val bn = fd.get("boundaries")
            require(bn != null && bn.isArray && bn.size >= 2,
              s"$$searchMeta facet '$name': boundaries needs >= 2 values")
            val bs = bn.elements().asScala.toSeq.map(_.asDouble())
            require(bs == bs.sorted && bs.distinct == bs,
              s"$$searchMeta facet '$name': boundaries must strictly increase")
            val v = col(path).cast("double")
            val bucket = bs.init.zip(bs.tail)
              .foldLeft(lit(null).cast("double")) { case (acc, (lo, hi)) =>
                when(v >= lit(lo) && v < lit(hi), lit(lo)).otherwise(acc)
              }
            matched.select(bucket.as("__b")).filter(col("__b").isNotNull)
              .groupBy(col("__b")).agg(count(lit(1)).as("count"))
              .select(lit(name).as("facet"),
                col("__b").cast("string").as("bucket"), col("count"))
          case "date" =>
            // round 15: Atlas' third facet type — boundaries are ISO
            // instants (or dates, midnight UTC), buckets [lo, hi)
            // labeled by the lower bound AS GIVEN, out-of-range rows
            // ignored, non-ascending boundaries refused loudly (the
            // number-facet rules on the time axis)
            val bn = fd.get("boundaries")
            require(bn != null && bn.isArray && bn.size >= 2,
              s"$$searchMeta facet '$name': boundaries needs >= 2 values")
            val raw = bn.elements().asScala.toSeq.map(_.asText())
            def inst(sv: String): java.time.Instant =
              try {
                if (sv.contains("T")) java.time.Instant.parse(sv)
                else java.time.LocalDate.parse(sv)
                  .atStartOfDay(java.time.ZoneOffset.UTC).toInstant
              } catch {
                case _: java.time.format.DateTimeParseException =>
                  throw new IllegalArgumentException(
                    s"$$searchMeta facet '$name': unparseable date " +
                      s"boundary '$sv' (ISO-8601 instant or yyyy-MM-dd)")
              }
            val is = raw.map(inst)
            require(is.zip(is.tail).forall { case (a, b) => a.isBefore(b) },
              s"$$searchMeta facet '$name': date boundaries must strictly increase")
            // Timezone contract (round 16, advice): boundary literals
            // are INSTANTS (Timestamp.from(Instant) → epoch micros,
            // session-TZ-independent) and the parquet ts column is
            // instant-semantics too, so the engine-side comparison
            // never consults the session zone. The DuckDB oracle
            // compares NAIVE walls — equal to these instants' UTC
            // walls — so parity additionally requires the session
            // timeZone be UTC for any path that re-walls the column
            // (e.g. a string-typed `path` cast to timestamp). Every
            // entrypoint (Verify/Bench/SparkTestBase/tools) pins
            // spark.sql.session.timeZone=UTC; a non-UTC host JVM
            // cannot reach this comparison un-pinned.
            val v = col(path).cast("timestamp")
            val bucket = (0 until is.size - 1)
              .foldLeft(lit(null).cast("string")) { (acc, j) =>
                when(v >= lit(java.sql.Timestamp.from(is(j))) &&
                  v < lit(java.sql.Timestamp.from(is(j + 1))),
                  lit(raw(j))).otherwise(acc)
              }
            matched.select(bucket.as("__b")).filter(col("__b").isNotNull)
              .groupBy(col("__b")).agg(count(lit(1)).as("count"))
              .select(lit(name).as("facet"),
                col("__b").as("bucket"), col("count"))
          case other => throw new IllegalArgumentException(
            s"$$searchMeta facet '$name': unsupported type '$other'")
        }
      }
      parts.reduce(_ unionByName _)
        .orderBy(col("facet").asc, col("count").desc, col("bucket").asc)
    } else {
      require(keys.contains("count"),
        "$searchMeta needs either a count or a facet collector")
      val cntType = Option(spec.get("count").get("type")).map(_.asText())
        .getOrElse("lowerBound")
      require(Seq("total", "lowerBound").contains(cntType),
        s"$$searchMeta.count.type must be total|lowerBound (got $cntType)")
      val op = spec.deepCopy[ObjectNode]()
      op.remove("count")
      search(df, op, tables).agg(count(lit(1)).as("total"))
    }
  }

  /** `$scoreFusion` (SURVEY.md §2 C38, MongoDB 8.2) — SCORE-based
    * hybrid fusion, the sibling of `$rankFusion` for legs whose
    * scores are already meaningful: each named input pipeline is a
    * SCORED pipeline — either it starts with `$vectorSearch` or
    * `$search` (its hidden score is the leg score — dense-ANN ⊕ BM25
    * score fusion, the full Atlas hybrid matrix) or it is selection
    * stages ($match/$sort/$limit/$skip) ending in a `{$score: {score:
    * <expression>}}` stage (Mongo 8.2's custom-score stage, supported
    * here as a scoreFusion leg terminal). Per-leg `normalization`
    * (`input.normalization`): `none`, `minMaxScaler` ((s−min)/(max−min)
    * over that leg's results, 0 when degenerate), or `sigmoid`
    * (1/(1+e^(−s)) via the engine's deterministic exp — zero libm).
    *
    * Combination — stated exactly, since floats are involved: fused =
    * (Σ_p w_p·n_p) / (Σ_p w_p) with a doc absent from a leg
    * contributing n_p = 0, legs folded in declaration order (a FIXED
    * expression shape, never a float SUM aggregate — deterministic on
    * any partitioning). Weights are non-negative numbers, Σw > 0.
    * The fused score rides the same hidden column as `$rankFusion`
    * and reads via `{$meta: "score"}`.
    *
    * Every arithmetic step (min/max, subtract, divide, weighted mean)
    * is a correctly-rounded IEEE op over engine-portable inputs, so
    * the minMaxScaler/none paths stay hash-oracle-checkable; sigmoid
    * carries the deterministic-exp replay (the H24 convention).
    * Assumes unique input documents (Mongo's _id uniqueness; fusion
    * joins on the full document).
    *
    * Scale: legs are bounded searches/selections (the distributed
    * work); normalization is a broadcast 2-value aggregate per leg;
    * fusion is K−1 full-outer joins over ≤ Σ leg sizes rows.
    *
    * Legs are parsed by [[fusionLegs]] and search-led legs compiled by
    * [[scoredLeg]], the same two steps `$rankFusion` runs; only the
    * weight validator (a number here, an integer there) and what
    * follows the compile are per stage.
    */
  private def scoreFusion(df: DataFrame, spec: JsonNode,
                          tables: String => DataFrame): DataFrame = {
    val legs = fusionLegs("$scoreFusion", spec, "number",
      w => w.isNumber && w.asDouble() >= 0)
    val norm = Option(spec.get("input").get("normalization"))
      .map(_.asText()).getOrElse("none")
    require(Seq("none", "minMaxScaler", "sigmoid").contains(norm),
      s"unsupported $$scoreFusion normalization: $norm")
    def weightOf(leg: FusionLeg): Double =
      leg.weight.map(_.asDouble()).getOrElse(1.0)
    require(legs.map(weightOf).sum > 0,
      "$scoreFusion weights must not all be zero")
    val docCols = df.columns.toSeq

    def legFrame(leg: FusionLeg): DataFrame = {
      val (name, stages, ops) = (leg.name, leg.stages, leg.ops)
      if (leg.scored) {
        ops.tail.foreach(op => require(
          Seq("$match", "$sort", "$limit", "$skip").contains(op),
          s"$$scoreFusion pipeline '$name': '$op' not allowed after " +
            s"${ops.head} (selection stages only)"))
        scoredLeg(df, leg, tables).withColumnRenamed(LegScoreCol, "__sf_raw")
      } else {
        require(ops.last == "$score",
          s"$$scoreFusion pipeline '$name' must start with $$vectorSearch " +
            "or $$search, or end with a {$score: {score: <expr>}} stage")
        ops.init.foreach(op => require(
          Seq("$match", "$sort", "$limit", "$skip").contains(op),
          s"$$scoreFusion pipeline '$name': '$op' modifies documents — " +
            "selection stages only before $score"))
        val scoreSpec = stages.get(stages.size() - 1).get("$score")
        require(scoreSpec != null && scoreSpec.get("score") != null,
          s"$$scoreFusion pipeline '$name': $$score needs a score expression")
        val prefix = mapper.createArrayNode()
        stages.elements().asScala.toSeq.init.foreach(prefix.add)
        compile(df, prefix.toString, tables, documentsAllowed = false)
          .withColumn("__sf_raw",
            expression(scoreSpec.get("score")).cast("double"))
      }
    }

    def normalized(leg: DataFrame): DataFrame = norm match {
      case "none" => leg.withColumn("__sf_n", col("__sf_raw"))
      case "minMaxScaler" =>
        val mm = broadcast(leg.agg(min(col("__sf_raw")).as("__mn"),
          max(col("__sf_raw")).as("__mx")))
        leg.crossJoin(mm)
          .withColumn("__sf_n",
            when(col("__mx") === col("__mn"), lit(0.0))
              .otherwise((col("__sf_raw") - col("__mn")) /
                (col("__mx") - col("__mn"))))
          .drop("__mn", "__mx")
      case "sigmoid" =>
        graft.operators.TextAnalysis
          .withExpDet(leg, -col("__sf_raw"), "__sf_e")
          .withColumn("__sf_n", lit(1.0) / (lit(1.0) + col("__sf_e")))
          .drop("__sf_e")
    }

    val joined = legs.zipWithIndex.map { case (leg, i) =>
      normalized(legFrame(leg))
        .select(docCols.map(col) :+ col("__sf_n").as(s"__sf_n$i"): _*)
    }.reduce(_.join(_, docCols, "full_outer"))
    val wsum = legs.map(weightOf).sum
    val fused = legs.zipWithIndex.map { case (leg, i) =>
      lit(weightOf(leg)) * coalesce(col(s"__sf_n$i"), lit(0.0))
    }.reduce(_ + _) / lit(wsum)
    joined
      .withColumn(RfScoreCol, fused)
      .drop(legs.indices.map(i => s"__sf_n$i"): _*)
      .orderBy(col(RfScoreCol).desc +: docCols.map(col(_).asc): _*)
  }

  /** `$vectorSearch` (SURVEY.md §2 C36) — Atlas vector search as a
    * pipeline stage, composed onto the engine's ANN machinery rather
    * than re-derived: exact mode is G1's scan shape (scan + bounded
    * top-k), approximate mode is G18's Matryoshka two-stage shape
    * (coarse prefix score → `numCandidates` shortlist → exact
    * re-rank), both ending in TakeOrderedAndProject — no full sort at
    * any scale.
    *
    * Semantics (Atlas order of operations): `filter` (MQL match
    * expressions) prunes BEFORE the search; `numCandidates` bounds the
    * approximate search's candidate pool (required when `exact` is
    * false, must be ≥ `limit`, as Atlas requires); `limit` caps the
    * final result. The score is NOT a result field — it is exposed
    * only through `{$meta: "vectorSearchScore"}` in a later
    * projection, exactly Mongo's contract; un-projected scores never
    * appear in the output schema.
    *
    * Similarity functions mirror Atlas' score normalizations:
    * `cosine`/`dotProduct` → (1 + sim)/2, `euclidean` → 1/(1 + d²).
    * Atlas reads the function off the vector-index definition; with no
    * index catalog to consult, the stage takes a `similarity` field
    * (default `cosine`) — the same required-`key` move `$geoNear`
    * makes for its missing geo index.
    *
    * Determinism: the raw similarity is rounded to 4 decimals before
    * normalization (the G1 scheme the brute-force oracle proved
    * engine-portable), the normalization itself is exact IEEE
    * arithmetic (add, halve, or divide of exactly-representable
    * operands), and ties break by ALL input columns in frame order —
    * Mongo leaves equal-score order unspecified; a distributed replay
    * must not. dotProduct/euclidean fold in array-index order via
    * `aggregate` over double-cast arrays, the order DuckDB's list
    * kernels use.
    */
  private def vectorSearch(df: DataFrame, spec: JsonNode): DataFrame = {
    val qvNode = spec.get("queryVector")
    require(qvNode != null && qvNode.isArray && qvNode.size > 0,
      "$vectorSearch.queryVector must be a non-empty number array")
    require(spec.get("path") != null, "$vectorSearch.path is required")
    require(spec.get("limit") != null, "$vectorSearch.limit is required")
    val path = spec.get("path").asText()
    val limit = spec.get("limit").asInt()
    val exact = Option(spec.get("exact")).exists(_.asBoolean())
    val numCand = Option(spec.get("numCandidates")).map(_.asInt())
    require(exact || numCand.isDefined,
      "$vectorSearch.numCandidates is required when exact is false")
    numCand.foreach(nc => require(nc >= limit,
      s"$$vectorSearch.numCandidates ($nc) must be >= limit ($limit)"))
    val simFn = Option(spec.get("similarity")).map(_.asText()).getOrElse("cosine")
    val qv = qvNode.elements().asScala.map(_.asDouble()).toSeq

    def qLit(v: Seq[Double]): Column =
      array(v.map(lit): _*).cast("array<float>")
    def cosine(a: Column, b: Column): Column =
      org.apache.spark.sql.GraftBridge.column(graft.functions.CosineSimilarity(
        org.apache.spark.sql.GraftBridge.expression(a),
        org.apache.spark.sql.GraftBridge.expression(b)))
    // fixed-order double folds (array-index order, like DuckDB's list
    // kernels) for the two non-cosine similarities
    def dotF(a: Column, b: Column): Column =
      aggregate(zip_with(a.cast("array<double>"), b.cast("array<double>"),
        (x, y) => x * y), lit(0.0), (acc, v) => acc + v)
    def sqDist(a: Column, b: Column): Column =
      aggregate(zip_with(a.cast("array<double>"), b.cast("array<double>"),
        (x, y) => (x - y) * (x - y)), lit(0.0), (acc, v) => acc + v)
    def score(embCol: Column, q: Seq[Double]): Column = simFn match {
      case "cosine"     => (lit(1.0) + round(cosine(embCol, qLit(q)), 4)) / lit(2.0)
      case "dotProduct" => (lit(1.0) + round(dotF(embCol, qLit(q)), 4)) / lit(2.0)
      case "euclidean"  => lit(1.0) / (lit(1.0) + round(sqDist(embCol, qLit(q)), 4))
      case other => throw new IllegalArgumentException(
        s"unsupported $$vectorSearch.similarity: $other")
    }

    val filtered = Option(spec.get("filter"))
      .map(f => df.filter(matchPredicate(f))).getOrElse(df)
    val tie = filtered.columns.map(col).toSeq
    val pool =
      if (exact) filtered
      else {
        // Matryoshka-style coarse pass: score the first dPrefix dims
        // (G18's shape — at scale this is the cheap scan; the exact
        // re-rank touches only numCandidates rows)
        val dPrefix = math.min(16, qv.size)
        filtered
          .withColumn("__vs_coarse",
            score(slice(col(path), 1, dPrefix), qv.take(dPrefix)))
          .orderBy(col("__vs_coarse").desc +: tie: _*)
          .limit(numCand.get)
          .drop("__vs_coarse")
      }
    pool
      .withColumn(VsScoreCol, score(col(path), qv))
      .orderBy(col(VsScoreCol).desc +: tie: _*)
      .limit(limit)
  }

  // ——— $match query language ———

  /** Compile a MongoDB query document to one boolean Column. */
  def matchPredicate(spec: JsonNode): Column = {
    val parts = spec.properties().asScala.toSeq.map { e =>
      e.getKey match {
        case "$and" => e.getValue.elements().asScala
          .map(matchPredicate).reduce(_ && _)
        case "$or" => e.getValue.elements().asScala
          .map(matchPredicate).reduce(_ || _)
        case "$nor" => !e.getValue.elements().asScala
          .map(matchPredicate).reduce(_ || _)
        case "$expr" => expression(e.getValue)
        case field => fieldPredicate(col(field), e.getValue)
      }
    }
    if (parts.isEmpty) lit(true) else parts.reduce(_ && _)
  }

  /** `field: value` or `field: {$op: v, ...}`. */
  private def fieldPredicate(c: Column, spec: JsonNode): Column =
    if (spec.isObject && spec.properties().asScala.exists(_.getKey.startsWith("$"))) {
      spec.properties().asScala.toSeq.map { e =>
        val v = e.getValue
        e.getKey match {
          case "$eq"  => c === literal(v)
          case "$ne"  => !(c <=> literal(v))
          case "$gt"  => c > literal(v)
          case "$gte" => c >= literal(v)
          case "$lt"  => c < literal(v)
          case "$lte" => c <= literal(v)
          case "$in"  => c.isInCollection(v.elements().asScala.map(literalValue).toSeq)
          case "$nin" => !c.isInCollection(v.elements().asScala.map(literalValue).toSeq)
          case "$exists" => if (v.asBoolean()) c.isNotNull else c.isNull
          case "$regex" =>
            // {$regex: pat, $options: "ims"} — flags map to Java's
            // embedded flag expression (?ims) prefixed onto the pattern
            val opts = Option(spec.get("$options")).map(_.asText()).getOrElse("")
            val bad = opts.filterNot("ims".contains(_))
            require(bad.isEmpty, s"unsupported $$options flags: $bad")
            val pat = if (opts.isEmpty) v.asText() else s"(?$opts)${v.asText()}"
            c.rlike(pat)
          case "$options" => // consumed by the $regex branch; alone it
            // must fail loudly (Mongo: "$options needs a $regex"), not
            // silently match everything
            require(spec.has("$regex"), "$options requires a sibling $regex")
            lit(true)
          case "$not"    => !fieldPredicate(c, v)
          case "$mod" =>
            val it = v.elements().asScala.toSeq
            c % literal(it.head) === literal(it(1))
          case "$size" => size(c) === literal(v)
          case "$all" => // every listed value present in the array field
            v.elements().asScala.map(x => array_contains(c, literalValue(x)))
              .reduce(_ && _)
          case "$elemMatch" => // some element satisfies the sub-predicate
            exists(c, el => fieldPredicate(el, v))
          case other =>
            throw new IllegalArgumentException(s"unsupported $$match op: $other")
        }
      }.reduce(_ && _)
    } else if (spec.isNull) c.isNull // Mongo {f: null} matches null/missing
    else if (spec.isObject || spec.isArray)
      // refuse rather than silently comparing against asText() == ""
      throw new IllegalArgumentException(
        s"unsupported $$match literal (object/array equality): $spec")
    else c === literal(spec)

  // ——— expression language ———

  /** Compile an aggregation expression: "$field", literal, or {$op: args}.
    * `binds` resolves "$$var" lambda variables inside $filter/$map/
    * $reduce bodies to the enclosing higher-order-function argument.
    */
  def expression(n: JsonNode, binds: Map[String, Column] = Map.empty): Column = {
    if (n.isTextual && n.asText().startsWith("$$")) {
      // "$$var" or "$$var.path.to.field"
      val parts = n.asText().drop(2).split('.')
      // $$SEARCH_META (round 16): reads the $search.count option's
      // hidden total. Counts are exact, so count.lowerBound reports
      // the same number (a valid lower bound); facet tails are out of
      // the variable subset (they live on the $searchMeta stage) and
      // refuse loudly. An unresolved-column error here means the
      // upstream $search carried no {count} option.
      if (parts.head == "SEARCH_META") {
        val tail = parts.tail.toSeq
        require(tail == Seq("count", "total") ||
          tail == Seq("count", "lowerBound"),
          s"$$$$SEARCH_META supports count.total / count.lowerBound " +
            s"only (got ${n.asText()} — facets read via the " +
            "$searchMeta stage)")
        return col(SearchMetaCountCol)
      }
      val base = binds.getOrElse(parts.head,
        throw new IllegalArgumentException(
          s"unbound lambda variable: $$${parts.head}"))
      return parts.tail.foldLeft(base)(_ getField _)
    }
    if (n.isTextual && n.asText().startsWith("$")) {
      // "$path" ≡ "$$CURRENT.path": when a bound CURRENT exists (the
      // $redact recursion rebasing field refs onto a subdocument),
      // resolve against it; at the root, CURRENT is the row itself.
      return binds.get("CURRENT") match {
        case Some(cu) => n.asText().drop(1).split('.').foldLeft(cu)(_ getField _)
        case None     => col(n.asText().drop(1))
      }
    }
    if (n.isArray) // bare array in expression position = array literal
      return array(n.elements().asScala.map(x => expression(x, binds)).toSeq: _*)
    if (!n.isObject) return literal(n)
    val fields = n.properties().asScala.toSeq
    // An object whose (single) key is not a $-operator is a computed
    // sub-document → struct column.
    if (fields.isEmpty || !fields.head.getKey.startsWith("$"))
      return struct(fields.map(e => expression(e.getValue, binds).as(e.getKey)): _*)
    require(fields.size == 1, s"expression must have one operator: $n")
    val (op, a) = (fields.head.getKey, fields.head.getValue)
    def args: Seq[Column] = a.elements().asScala.map(x => expression(x, binds)).toSeq
    op match {
      // {$meta: "vectorSearchScore"}: read $vectorSearch's hidden
      // score column (the only meta the engine defines — textScore
      // etc. belong to features with no counterpart here, fail loudly)
      case "$meta" =>
        require(a.isTextual, s"unsupported $$meta: $a")
        a.asText() match {
          case "vectorSearchScore" => col(VsScoreCol)
          // Mongo 8.1's fused-score meta; integer ppb units (see
          // RfScoreCol) rather than Mongo's float
          case "score" => col(RfScoreCol)
          case "searchScore" => col(SearchScoreCol)
          case "searchHighlights" => col(SearchHighlightsCol)
          case other => throw new IllegalArgumentException(
            s"unsupported $$meta: $other")
        }
      case "$add"      => args.reduce(_ + _)
      case "$subtract" => args.reduce(_ - _)
      case "$multiply" => args.reduce(_ * _)
      case "$divide"   => args.reduce(_ / _)
      case "$mod"      => args.reduce(_ % _)
      // —— bitwise (Mongo 6.3+): variadic and/or/xor, unary not; ——
      // integer-only per Mongo, so operands pass through unchanged.
      // Empty operand arrays take Mongo's documented identities
      // (-1 for and, 0 for or/xor) instead of reduce() throwing.
      case "$bitAnd"   => args.reduceOption(_ bitwiseAND _).getOrElse(lit(-1L))
      case "$bitOr"    => args.reduceOption(_ bitwiseOR _).getOrElse(lit(0L))
      case "$bitXor"   => args.reduceOption(_ bitwiseXOR _).getOrElse(lit(0L))
      case "$bitNot"   => bitwise_not(expression(a, binds))
      case "$abs"      => abs(expression(a, binds))
      case "$ceil"     => ceil(expression(a, binds))
      case "$floor"    => floor(expression(a, binds))
      case "$round" =>
        val it = a.elements().asScala.toSeq
        round(expression(it.head, binds), if (it.size > 1) it(1).asInt() else 0)
      case "$concat"   => concat(args: _*)
      case "$toUpper"  => upper(expression(a, binds))
      case "$toLower"  => lower(expression(a, binds))
      case "$strLenCP" => length(expression(a, binds))
      case "$strLenBytes" => octet_length(expression(a, binds))
      case "$binarySize" => octet_length(expression(a, binds))
      case "$substrCP" =>
        val it = a.elements().asScala.toSeq
        // Mongo is 0-based, Spark substring 1-based
        expression(it.head, binds).substr(expression(it(1), binds) + lit(1), expression(it(2), binds))
      case "$substrBytes" | "$substr" =>
        // byte-indexed substring ($substr is its legacy alias): Spark's
        // substring over BINARY slices bytes, not code points, so a
        // UTF-8 round trip through binary gives Mongo's byte semantics
        // (caller owns char-boundary alignment, as in Mongo)
        val it = a.elements().asScala.toSeq
        substring(expression(it.head, binds).cast("binary"),
          expression(it(1), binds) + lit(1), expression(it(2), binds)).cast("string")
      case "$split" =>
        val it = a.elements().asScala.toSeq
        split(expression(it.head, binds), java.util.regex.Pattern.quote(it(1).asText()))
      case "$trim"     => trim(expression(a.get("input"), binds))
      case "$switch" =>
        val branches = a.get("branches").elements().asScala.toSeq
        val chain = branches.foldLeft[Option[Column]](None) { (acc, b) =>
          val cond = expression(b.get("case"), binds)
          val thenV = expression(b.get("then"), binds)
          Some(acc match {
            case None => when(cond, thenV)
            case Some(c) => c.when(cond, thenV)
          })
        }.getOrElse(throw new IllegalArgumentException("$switch needs branches"))
        Option(a.get("default")).filterNot(_.isNull)
          .map(d => chain.otherwise(expression(d, binds))).getOrElse(chain)
      case "$dateToString" =>
        val fmt = Option(a.get("format")).map(_.asText())
          .getOrElse("%Y-%m-%dT%H:%M:%S.%LZ")
        date_format(expression(a.get("date"), binds), mongoDateFormat(fmt))
      case "$cond" =>
        val (i, t, e) =
          if (a.isArray) {
            val it = a.elements().asScala.toSeq
            (it(0), it(1), it(2))
          } else (a.get("if"), a.get("then"), a.get("else"))
        when(expression(i, binds), expression(t, binds)).otherwise(expression(e, binds))
      case "$ifNull"   => coalesce(args: _*)
      case "$eq"  => args.head === args(1)
      case "$ne"  => !(args.head <=> args(1))
      case "$gt"  => args.head > args(1)
      case "$gte" => args.head >= args(1)
      case "$lt"  => args.head < args(1)
      case "$lte" => args.head <= args(1)
      case "$cmp" => when(args.head > args(1), 1)
        .when(args.head < args(1), -1).otherwise(0)
      case "$and" => args.reduce(_ && _)
      case "$or"  => args.reduce(_ || _)
      case "$not" => !expression(if (a.isArray) a.get(0) else a, binds)
      case "$year"       => year(expression(a, binds))
      case "$month"      => month(expression(a, binds))
      case "$dayOfMonth" => dayofmonth(expression(a, binds))
      case "$hour"       => hour(expression(a, binds))
      case "$toString"   => expression(a, binds).cast("string")
      case "$toInt"      => expression(a, binds).cast("int")
      case "$toLong"     => expression(a, binds).cast("long")
      case "$toDouble"   => expression(a, binds).cast("double")
      case "$toDecimal"  => expression(a, binds).cast("decimal(18,2)")
      case "$literal"    => literal(a)
      case "$size"       => size(expression(a, binds))
      case "$arrayElemAt" =>
        val it = a.elements().asScala.toSeq
        element_at(expression(it.head, binds), it(1).asInt() + 1) // Mongo 0-based
      // —— math ——
      case "$pow"   => pow(args.head, args(1))
      case "$sqrt"  => sqrt(expression(a, binds))
      case "$exp"   => exp(expression(a, binds))
      case "$ln"    => log(expression(a, binds))
      case "$log10" => log10(expression(a, binds))
      case "$log"   => log(args.head) / log(args(1)) // $log: [num, base]
      // —— trigonometry (IEEE libm on both engines; oracle rounds) ——
      case "$sin"   => sin(expression(a, binds))
      case "$cos"   => cos(expression(a, binds))
      case "$tan"   => tan(expression(a, binds))
      case "$asin"  => asin(expression(a, binds))
      case "$acos"  => acos(expression(a, binds))
      case "$atan"  => atan(expression(a, binds))
      case "$atan2" => atan2(args.head, args(1))
      case "$sinh"  => sinh(expression(a, binds))
      case "$cosh"  => cosh(expression(a, binds))
      case "$tanh"  => tanh(expression(a, binds))
      case "$degreesToRadians" => radians(expression(a, binds))
      case "$radiansToDegrees" => degrees(expression(a, binds))
      case "$trunc" =>
        val it = a.elements().asScala.toSeq
        if (it.size > 1)
          (expression(it.head, binds) * pow(lit(10.0), it(1).asInt())).cast("long") /
            pow(lit(10.0), it(1).asInt())
        else expression(it.head, binds).cast("long")
      // —— dates ——
      case "$minute" => minute(expression(a, binds))
      case "$second" => second(expression(a, binds))
      case "$dayOfWeek" => dayofweek(expression(a, binds))
      case "$dayOfYear" => dayofyear(expression(a, binds))
      case "$week"      => weekofyear(expression(a, binds))
      case "$dateTrunc" =>
        date_trunc(a.get("unit").asText(), expression(a.get("date"), binds))
      case "$dateAdd" =>
        val units = Set("YEAR", "MONTH", "WEEK", "DAY", "HOUR", "MINUTE", "SECOND")
        val unit = a.get("unit").asText().toUpperCase
        require(units(unit), s"unsupported $$dateAdd unit: $unit")
        timestamp_add(unit, expression(a.get("amount"), binds),
          expression(a.get("startDate"), binds))
      case "$dateSubtract" =>
        // $dateAdd's twin (route81 forwards both verbatim): negate the
        // amount so both share timestamp_add's unit handling
        val units = Set("YEAR", "MONTH", "WEEK", "DAY", "HOUR", "MINUTE", "SECOND")
        val unit = a.get("unit").asText().toUpperCase
        require(units(unit), s"unsupported $$dateSubtract unit: $unit")
        timestamp_add(unit, -expression(a.get("amount"), binds),
          expression(a.get("startDate"), binds))
      case "$dateDiff" =>
        val s = expression(a.get("startDate"), binds)
        val e = expression(a.get("endDate"), binds)
        a.get("unit").asText() match {
          case "day"    => datediff(e.cast("date"), s.cast("date")).cast("long")
          case "hour"   => ((unix_timestamp(e) - unix_timestamp(s)) / 3600L).cast("long")
          case "minute" => ((unix_timestamp(e) - unix_timestamp(s)) / 60L).cast("long")
          case "second" => (unix_timestamp(e) - unix_timestamp(s)).cast("long")
          case other => throw new IllegalArgumentException(
            s"unsupported $$dateDiff unit: $other")
        }
      case "$toDate" => expression(a, binds).cast("timestamp")
      case "$toObjectId" =>
        // ObjectIds travel as their 24-hex string (the $oid Ext-JSON
        // form, functions/ExtJson.scala); validate + canonicalize to
        // lowercase, null on malformed input ($convert TRY convention)
        val v = expression(a, binds)
        when(v.rlike("^[0-9a-fA-F]{24}$"), lower(v))
      case "$convert" =>
        val input = expression(a.get("input"), binds)
        val to = a.get("to").asText() match {
          case "int" => "int"; case "long" => "long"
          case "double" => "double"; case "decimal" => "decimal(18,2)"
          case "string" => "string"; case "bool" => "boolean"
          case "date" => "timestamp"
          case other => throw new IllegalArgumentException(
            s"unsupported $$convert target: $other")
        }
        val converted = try_cast_col(input, to)
        val withErr = Option(a.get("onError")).filterNot(_.isNull)
          .map(d => when(input.isNotNull && converted.isNull,
            expression(d, binds)).otherwise(converted))
          .getOrElse(converted)
        Option(a.get("onNull")).filterNot(_.isNull)
          .map(d => when(input.isNull, expression(d, binds)).otherwise(withErr))
          .getOrElse(withErr)
      case "$dateFromString" =>
        val fmt = Option(a.get("format")).map(f =>
          mongoDateFormat(f.asText())).getOrElse("yyyy-MM-dd HH:mm:ss")
        to_timestamp(expression(a.get("dateString"), binds), fmt)
      case "$isoWeek" => weekofyear(expression(a, binds))
      case "$isoWeekYear" =>
        // ISO week-numbering year = calendar year of that ISO week's
        // Thursday (weekday(): Mon=0..Sun=6, so Thursday = d + 3 - wd)
        val d = expression(a, binds).cast("date")
        year(date_add(d, lit(3) - weekday(d))).cast("long")
      case "$isoDayOfWeek" => // 1=Monday..7=Sunday
        ((dayofweek(expression(a, binds)) + 5) % 7) + 1
      case "$millisecond" =>
        (expression(a, binds).cast("double") * 1000).cast("long") % 1000
      // —— strings ——
      case "$ltrim" => ltrim(expression(a.get("input"), binds))
      case "$rtrim" => rtrim(expression(a.get("input"), binds))
      case "$replaceAll" =>
        // literal find/replace (regex-quoted), matching Mongo semantics
        regexp_replace(expression(a.get("input"), binds),
          java.util.regex.Pattern.quote(a.get("find").asText()),
          java.util.regex.Matcher.quoteReplacement(a.get("replacement").asText()))
      case "$regexMatch" =>
        expression(a.get("input"), binds).rlike(a.get("regex").asText())
      case "$indexOfCP" =>
        val it = a.elements().asScala.toSeq
        // Mongo: 0-based index, -1 when absent; Spark instr is 1-based,
        // 0-absent. The needle is any string EXPRESSION (a JSON literal
        // compiles to lit), so call_function reaches the two-column
        // instr form the typed `functions.instr` doesn't expose.
        (call_function("instr", expression(it.head, binds),
          expression(it(1), binds)) - 1).cast("int")
      case "$indexOfBytes" =>
        // byte-indexed twin of $indexOfCP: locate the CHAR position,
        // then count the bytes before it; the optional [start, end)
        // byte bounds slice through binary first, exactly as
        // $substrBytes does (caller owns char-boundary alignment)
        val it = a.elements().asScala.toSeq
        val sub = expression(it(1), binds)
        val whole = expression(it.head, binds)
        val hasRange = it.size > 2
        val target =
          if (!hasRange) whole
          else {
            val start = expression(it(2), binds).cast("int")
            val len =
              if (it.size > 3) expression(it(3), binds).cast("int") - start
              else octet_length(whole) - start
            whole.cast("binary").substr(start + lit(1), len).cast("string")
          }
        val pos = call_function("instr", target, sub) // 1-based chars, 0 absent
        val byteIdx = octet_length(target.substr(lit(1), pos - 1))
        val off = if (hasRange) expression(it(2), binds).cast("int") else lit(0)
        when(pos === 0, lit(-1)).otherwise((byteIdx + off).cast("int"))
      case "$strcasecmp" =>
        val (x, y) = (lower(args.head), lower(args(1)))
        when(x > y, 1).when(x < y, -1).otherwise(0)
      case "$isNumber" =>
        expression(a, binds).cast("double").isNotNull
      // —— arrays ——
      case "$concatArrays" => concat(args: _*)
      case "$slice" =>
        val it = a.elements().asScala.toSeq
        if (it.size == 2) {
          val n = it(1).asInt()
          if (n >= 0) slice(expression(it.head, binds), 1, n)
          else slice(expression(it.head, binds), n, -n)
        } else slice(expression(it.head, binds), it(1).asInt() + 1, it(2).asInt())
      case "$in" => // {$in: [value, array]}
        array_contains(args(1), args.head)
      case "$indexOfArray" =>
        val it = a.elements().asScala.toSeq
        // array_position: 1-based, 0 when absent → Mongo 0-based/-1
        (array_position(expression(it.head, binds), expression(it(1), binds)) - 1).cast("int")
      case "$reverseArray" => reverse(expression(a, binds))
      case "$range" =>
        val it = a.elements().asScala.toSeq
        val stepExpr = if (it.size > 2) expression(it(2), binds) else lit(1)
        // Mongo $range is end-exclusive; Spark sequence is inclusive —
        // and sequence(0, -1) counts DOWN, so guard the empty case.
        val s = expression(it.head, binds).cast("int")
        val e = expression(it(1), binds).cast("int")
        when(e <= s, array().cast("array<int>"))
          .otherwise(sequence(s, e - 1, stepExpr.cast("int")))
      case "$filter" =>
        val input = expression(a.get("input"), binds)
        val asName = Option(a.get("as")).map(_.asText()).getOrElse("this")
        filter(input, x => expression(a.get("cond"), binds + (asName -> x)))
      case "$map" =>
        val input = expression(a.get("input"), binds)
        val asName = Option(a.get("as")).map(_.asText()).getOrElse("this")
        transform(input, x => expression(a.get("in"), binds + (asName -> x)))
      case "$reduce" =>
        val input = expression(a.get("input"), binds)
        val init = expression(a.get("initialValue"), binds)
        aggregate(input, init,
          (acc2, x) => expression(a.get("in"), binds ++ Map("value" -> acc2, "this" -> x)))
      // —— sets (Mongo set ops treat arrays as value sets) ——
      case "$setUnion" => array_sort(array_distinct(concat(args: _*)))
      case "$setIntersection" =>
        array_sort(args.reduce((x, y) => array_intersect(x, y)))
      case "$setDifference" =>
        array_sort(array_except(args.head, args(1)))
      case "$setIsSubset" =>
        size(array_except(array_distinct(args.head), args(1))) === 0
      case "$allElementsTrue" =>
        forall(expression(if (a.isArray) a.get(0) else a, binds), x => x.cast("boolean"))
      case "$anyElementTrue" =>
        exists(expression(if (a.isArray) a.get(0) else a, binds), x => x.cast("boolean"))
      // —— dual-form aggregators: [exprs...] = pointwise, single arg = array fold ——
      case "$max" =>
        if (a.isArray) greatest(args: _*) else array_max(expression(a, binds))
      case "$min" =>
        if (a.isArray) least(args: _*) else array_min(expression(a, binds))
      case "$sum" =>
        if (a.isArray) args.reduce(_ + _)
        else aggregate(expression(a, binds), lit(0.0).cast("double"),
          (acc, x) => acc + x.cast("double"))
      case "$avg" =>
        if (a.isArray) args.reduce(_ + _) / args.length
        else {
          val arr = expression(a, binds)
          aggregate(arr, lit(0.0).cast("double"),
            (acc, x) => acc + x.cast("double")) / size(arr)
        }
      case "$sortArray" =>
        val input = expression(a.get("input"), binds)
        if (a.get("sortBy").asInt() >= 0) array_sort(input)
        else reverse(array_sort(input))
      // array-expression forms of the N family (the accumulator forms
      // live in accumulator() on the bounded top-n aggregate)
      case "$firstN" =>
        slice(expression(a.get("input"), binds), 1, a.get("n").asInt())
      case "$lastN" =>
        val in = expression(a.get("input"), binds)
        val n = a.get("n").asInt()
        slice(in, greatest(size(in) - (n - 1), lit(1)), lit(n))
      case "$minN" =>
        slice(array_sort(expression(a.get("input"), binds)), 1, a.get("n").asInt())
      case "$maxN" =>
        slice(reverse(array_sort(expression(a.get("input"), binds))), 1,
          a.get("n").asInt())
      case "$zip" =>
        val inputs = a.get("inputs").elements().asScala
          .map(x => expression(x, binds)).toSeq
        arrays_zip(inputs: _*)
      case "$let" =>
        val varBinds = a.get("vars").properties().asScala.toSeq.map { e =>
          e.getKey -> expression(e.getValue, binds)
        }.toMap
        expression(a.get("in"), binds ++ varBinds)
      // —— objects ——
      case "$mergeObjects" =>
        // right-biased whole-value merge (field-wise struct merge has
        // no deterministic order under a shuffle)
        args.reduce((x, y) => coalesce(y, x))
      case "$getField" =>
        if (a.isTextual) col(a.asText()) // {$getField: "f"} on $$CURRENT
        else expression(a.get("input"), binds).getField(a.get("field").asText())
      case "$setField" => // {field, input: <struct>, value}
        expression(a.get("input"), binds)
          .withField(a.get("field").asText(), expression(a.get("value"), binds))
      case "$unsetField" => // {field, input: <struct>}
        expression(a.get("input"), binds).dropFields(a.get("field").asText())
      // BSON timestamp {t, i} struct accessors (the $timestamp encode
      // form in plans/ExtendedQueries produces this shape)
      case "$tsSecond"    => expression(a, binds).getField("t")
      case "$tsIncrement" => expression(a, binds).getField("i")
      case "$objectToArray" =>
        // document → [{k, v}] via the JSON map normalization (values
        // stringify — Spark arrays are homogeneous where BSON's are
        // not; key order is the document's field order, preserved by
        // to_json)
        transform(
          map_entries(from_json(to_json(expression(a, binds)),
            org.apache.spark.sql.types.MapType(
              org.apache.spark.sql.types.StringType,
              org.apache.spark.sql.types.StringType))),
          e => struct(e.getField("key").as("k"), e.getField("value").as("v")))
      case "$arrayToObject" =>
        // [{k, v}] → map (dotted-path reads resolve through GetMapValue)
        map_from_entries(transform(expression(a, binds),
          e => struct(e.getField("k"), e.getField("v"))))
      case "$replaceOne" =>
        // first literal occurrence only — splice at locate, codegen'd
        val in = expression(a.get("input"), binds)
        val find = a.get("find").asText()
        val rep = a.get("replacement").asText()
        val at = locate(find, in) // 1-based, 0 when absent
        when(at === 0, in).otherwise(concat(
          in.substr(lit(1), at - 1), lit(rep),
          in.substr(at + find.length, length(in))))
      case "$regexFind" =>
        val in = expression(a.get("input"), binds)
        val pat = a.get("regex").asText()
        when(in.rlike(pat), struct(
          regexp_extract(in, pat, 0).as("match"),
          (regexp_instr(in, lit(pat)) - 1).cast("int").as("idx")))
      case "$regexFindAll" =>
        regexp_extract_all(expression(a.get("input"), binds),
          lit(a.get("regex").asText()), lit(0))
      case "$dateFromParts" =>
        def part(name: String, dflt: Int): Column =
          Option(a.get(name)).map(expression(_, binds)).getOrElse(lit(dflt))
        make_timestamp(part("year", 1970), part("month", 1), part("day", 1),
          part("hour", 0), part("minute", 0),
          part("second", 0).cast("double") +
            part("millisecond", 0).cast("double") / 1000.0)
      case "$dateToParts" =>
        val d = expression(a.get("date"), binds)
        struct(year(d).as("year"), month(d).as("month"),
          dayofmonth(d).as("day"), hour(d).as("hour"),
          minute(d).as("minute"), second(d).as("second"),
          ((d.cast("double") * 1000).cast("long") % 1000).cast("int")
            .as("millisecond"))
      case "$toBool" =>
        // Mongo: numbers → x != 0, strings → true, bool → identity —
        // branch on the ENGINE type via typeof (schema-agnostic)
        val v = expression(a, binds)
        val t = typeof(v)
        when(v.isNull, lit(null).cast("boolean"))
          .when(t === "boolean", v.cast("boolean"))
          .when(t.isin("tinyint", "smallint", "int", "bigint", "float",
            "double") || t.startsWith("decimal"), v.cast("double") =!= 0.0)
          .otherwise(lit(true))
      case "$type" =>
        // engine type → BSON type-name mapping
        val t = typeof(expression(a, binds))
        when(expression(a, binds).isNull, "null")
          .when(t === "string", "string")
          .when(t === "boolean", "bool")
          .when(t.isin("tinyint", "smallint", "int"), "int")
          .when(t === "bigint", "long")
          .when(t.isin("float", "double") || t.startsWith("decimal"), "double")
          .when(t.isin("date", "timestamp", "timestamp_ntz"), "date")
          .when(t.startsWith("array"), "array")
          .when(t.startsWith("struct") || t.startsWith("map"), "object")
          .when(t === "binary", "binData")
          .otherwise(t)
      case "$rand" =>
        // genuinely random per document (Mongo semantics) — the ONE
        // non-reproducible operator; keep out of oracle queries
        rand()
      case other =>
        throw new IllegalArgumentException(s"unsupported expression op: $other")
    }
  }

  /** Mongo strftime-ish specifiers → java DateTimeFormatter pattern;
    * literal letters (like the T and Z in the default ISO layout)
    * must be single-quoted or they'd be interpreted as pattern
    * letters / zone offsets.
    */
  private def mongoDateFormat(fmt: String): String = {
    val spec2java = Map('Y' -> "yyyy", 'm' -> "MM", 'd' -> "dd",
      'H' -> "HH", 'M' -> "mm", 'S' -> "ss", 'L' -> "SSS", 'j' -> "DDD")
    val sb = new StringBuilder
    var i = 0
    while (i < fmt.length) {
      val ch = fmt.charAt(i)
      if (ch == '%' && i + 1 < fmt.length) {
        sb.append(spec2java.getOrElse(fmt.charAt(i + 1),
          throw new IllegalArgumentException(
            s"unsupported date format specifier: %${fmt.charAt(i + 1)}")))
        i += 2
      } else {
        if (ch.isLetter) sb.append('\'').append(ch).append('\'')
        else sb.append(ch)
        i += 1
      }
    }
    sb.toString
  }

  /** try_cast as a Column op (absent from the functions API). */
  private def try_cast_col(c: Column, to: String): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(org.apache.spark.sql.catalyst.expressions.Cast(
      GraftBridge.expression(c),
      org.apache.spark.sql.types.DataType.fromDDL(to),
      None, org.apache.spark.sql.catalyst.expressions.EvalMode.TRY))
  }

  private def literal(n: JsonNode): Column = lit(literalValue(n))

  private def literalValue(n: JsonNode): Any =
    if (n.isNull) null
    else if (n.isBoolean) n.asBoolean()
    else if (n.isIntegralNumber) n.asLong()
    else if (n.isNumber) n.asDouble()
    else n.asText()

  // ——— stages ———

  private def project(df: DataFrame, spec: JsonNode): DataFrame = {
    val entries = spec.properties().asScala.toSeq
    val excludes = entries.filter(e =>
      (e.getValue.isIntegralNumber && e.getValue.asInt() == 0) ||
      (e.getValue.isBoolean && !e.getValue.asBoolean()))
    if (excludes.size == entries.size) df.drop(excludes.map(_.getKey): _*)
    else {
      val cols = entries.collect {
        case e if (e.getValue.isIntegralNumber && e.getValue.asInt() == 1) ||
                  (e.getValue.isBoolean && e.getValue.asBoolean()) =>
          col(e.getKey)
        case e if !e.getValue.isIntegralNumber && !e.getValue.isBoolean =>
          expression(e.getValue).as(e.getKey)
      }
      df.select(cols: _*)
    }
  }

  private def group(df: DataFrame, spec: JsonNode,
                    lastSort: Seq[(String, Boolean)]): DataFrame = {
    val idNode = spec.get("_id")
    val accums = spec.properties().asScala.toSeq.filter(_.getKey != "_id").map { e =>
      accumulator(e.getValue, lastSort).as(e.getKey)
    }
    val keys: Seq[org.apache.spark.sql.Column] =
      if (idNode == null || idNode.isNull)
        Seq(lit(null).cast("string").as("_id"))
      else if (idNode.isObject && !idNode.properties().asScala.exists(_.getKey.startsWith("$")))
        // composite key: one output column per sub-key, named _id_<k>
        idNode.properties().asScala.toSeq.map(e =>
          expression(e.getValue).as(s"_id_${e.getKey}"))
      else Seq(expression(idNode).as("_id"))
    if (accums.isEmpty) df.select(keys: _*).distinct() // {$group: {_id: ...}}
    else df.groupBy(keys: _*).agg(accums.head, accums.tail: _*)
  }

  private def accumulator(n: JsonNode, lastSort: Seq[(String, Boolean)]): Column = {
    val fields = n.properties().asScala.toSeq
    require(fields.size == 1, s"accumulator must have one operator: $n")
    val (op, a) = (fields.head.getKey, fields.head.getValue)
    // $first/$last compile to one-pass min_by/max_by over the last $sort
    // key (struct ordering = lexicographic over the sort columns); mixed
    // asc/desc sorts are not supported for these accumulators.
    def sortKey: Column = {
      require(lastSort.nonEmpty, s"$op requires a preceding $$sort stage")
      require(lastSort.map(_._2).distinct.size == 1,
        s"$op requires a uniform-direction $$sort")
      struct(lastSort.map { case (f, _) => col(f) }: _*)
    }
    op match {
      case "$sum" =>
        if (a.isNumber && a.asDouble() == 1.0) count(lit(1))
        else sum(expression(a))
      case "$avg"   => avg(expression(a))
      case "$min"   => min(expression(a))
      case "$max"   => max(expression(a))
      case "$count" => count(lit(1))
      case "$push"     => array_sort(collect_list(expression(a)))
      case "$addToSet" => array_sort(collect_set(expression(a)))
      case "$first" =>
        if (lastSort.forall(_._2)) min_by(expression(a), sortKey)
        else max_by(expression(a), sortKey)
      case "$last" =>
        if (lastSort.forall(_._2)) max_by(expression(a), sortKey)
        else min_by(expression(a), sortKey)
      case "$stdDevPop"  => stddev_pop(expression(a))
      case "$stdDevSamp" => stddev_samp(expression(a))
      case "$median" => // exact interpolated median (not Mongo's t-digest)
        acceptPercentileMethod(a)
        percentile(expression(a.get("input")), lit(0.5))
      case "$percentile" =>
        val p = a.get("p").elements().asScala.toSeq
        require(p.size == 1, "$percentile here takes exactly one p")
        acceptPercentileMethod(a)
        percentile(expression(a.get("input")), lit(p.head.asDouble()))
      case "$mergeObjects" =>
        // right-biased whole-value merge in sort order: the latest
        // non-null document wins (distributed stand-in for Mongo's
        // field-wise merge, which has no order under a shuffle)
        max_by(expression(a), sortKey)
      case "$firstN" | "$lastN" =>
        // first/last n documents in the preceding $sort order — the
        // bounded-n generalization of $first/$last; BoundedTopK's
        // per-key directions support mixed asc/desc sorts here.
        require(lastSort.nonEmpty, s"$op requires a preceding $$sort stage")
        BoundedTopK.column(lastSort.map { case (f, _) => col(f) },
          lastSort.map { case (_, asc) => if (asc) 1 else -1 },
          expression(a.get("input")), a.get("n").asInt(),
          keepLargest = op == "$lastN", emitDesc = false, skipNull = false)
      case "$minN" =>
        BoundedTopK.column(Seq(expression(a.get("input"))), Seq(1),
          expression(a.get("input")), a.get("n").asInt(),
          keepLargest = false, emitDesc = false, skipNull = true)
      case "$maxN" =>
        BoundedTopK.column(Seq(expression(a.get("input"))), Seq(1),
          expression(a.get("input")), a.get("n").asInt(),
          keepLargest = true, emitDesc = true, skipNull = true)
      case "$topN" =>
        // {output, sortBy, n}: the first n documents in sortBy order
        // (honoring 1/-1 per key), emitting output
        val specs = sortBySpecs(a)
        BoundedTopK.column(specs.map(_._1), specs.map(_._2),
          expression(a.get("output")), a.get("n").asInt(),
          keepLargest = false, emitDesc = false, skipNull = false)
      case "$bottomN" =>
        // the last n documents in sortBy order, still in that order
        val specs = sortBySpecs(a)
        BoundedTopK.column(specs.map(_._1), specs.map(_._2),
          expression(a.get("output")), a.get("n").asInt(),
          keepLargest = true, emitDesc = false, skipNull = false)
      case "$top" =>
        val specs = sortBySpecs(a)
        element_at(BoundedTopK.column(specs.map(_._1), specs.map(_._2),
          expression(a.get("output")), 1,
          keepLargest = false, emitDesc = false, skipNull = false), 1)
      case "$bottom" =>
        val specs = sortBySpecs(a)
        element_at(BoundedTopK.column(specs.map(_._1), specs.map(_._2),
          expression(a.get("output")), 1,
          keepLargest = true, emitDesc = false, skipNull = false), 1)
      case other =>
        throw new IllegalArgumentException(s"unsupported accumulator: $other")
    }
  }

  private def sortBySpecs(a: JsonNode): Seq[(Column, Int)] =
    a.get("sortBy").properties().asScala.toSeq
      .map(e => (expression(mapper.readTree(s""""$$${e.getKey}"""")),
        e.getValue.asInt()))

  /** Mongo requires `method: "approximate"` on $median/$percentile
    * (its only implementation is a t-digest); we acknowledge the flag
    * but always compute the EXACT interpolated percentile — a strictly
    * stronger answer whose distributed merge is deterministic.
    */
  private def acceptPercentileMethod(a: JsonNode): Unit =
    Option(a.get("method")).filterNot(_.isNull).foreach { m =>
      require(Set("approximate", "exact")(m.asText()),
        s"unsupported percentile method: ${m.asText()}")
    }

  /** `$redact`: evaluate `spec` at every document level; the decision
    * ($$PRUNE/$$KEEP/$$DESCEND) drops, keeps whole, or recurses into
    * the (sub)document. Root-level PRUNE is a row filter; a pruned
    * subdocument becomes null (the relational encoding of a removed
    * field); pruned array elements are removed from the array. The
    * recursion is compile-time over the SCHEMA — the emitted plan is
    * one filter + one projection, so redaction rides whole-stage
    * codegen like any other projection (no per-row interpretation of
    * the document tree). Field refs inside `spec` are level-relative
    * (Mongo semantics) via the CURRENT rebinding in [[expression]].
    */
  private def redact(df: DataFrame, spec: JsonNode): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
    // can this type contain documents (structs) at any nesting depth?
    def hidesDocs(dt: DataType): Boolean = dt match {
      case _: StructType => true
      case ArrayType(et, _) => hidesDocs(et)
      case MapType(_, v, _) => hidesDocs(v)
      case _ => false
    }
    val sysBinds = Map("DESCEND" -> lit("__DESCEND__"),
      "PRUNE" -> lit("__PRUNE__"), "KEEP" -> lit("__KEEP__"))
    // Level-relative field paths the condition references ("$a.b" and
    // "$$CURRENT.a.b" forms) — needed so a level that LACKS one of
    // them evaluates it as null/missing (Mongo) instead of the
    // analyzer throwing on getField against the sub-struct's schema.
    def refs(n: JsonNode): Seq[Seq[String]] =
      if (n.isTextual) {
        val t = n.asText()
        if (t.startsWith("$$CURRENT.")) Seq(t.drop(10).split('.').toSeq)
        else if (t.startsWith("$$")) Nil
        else if (t.startsWith("$")) Seq(t.drop(1).split('.').toSeq)
        else Nil
      }
      else if (n.isArray) n.elements().asScala.toSeq.flatMap(refs)
      else if (n.isObject)
        n.properties().asScala.toSeq.flatMap(e => refs(e.getValue))
      else Nil
    val paths = refs(spec)
    // Root-schema type of a path, following Spark's field-projection
    // rules (a path through array<struct> projects element-wise to an
    // array). Null pads reuse this type where the path resolves at
    // the root, so array-consuming operators ($in, $max, $size) stay
    // analyzable on levels that lack the field.
    def rootTypeOf(path: Seq[String]): Option[DataType] = {
      def walk(dt: DataType, p: Seq[String]): Option[DataType] = p match {
        case Seq() => Some(dt)
        case _ => dt match {
          case s: StructType =>
            s.fields.find(_.name == p.head)
              .flatMap(f => walk(f.dataType, p.tail))
          case ArrayType(et, _) => walk(et, p).map(ArrayType(_, true))
          case _ => None
        }
      }
      walk(df.schema, path)
    }
    // The type a null pad at `prefix` needs so every referenced TAIL
    // resolves: start from the root-resolved type of `prefix` when
    // there is one (preserving array wrappers, so array-consuming
    // operators stay analyzable), graft in any referenced fields it
    // lacks; with no root shape, synthesize structs with string
    // leaves. `prefix` = the segments already consumed above `tails`.
    def shape(dt: Option[DataType], tails: Seq[Seq[String]]): DataType = {
      import org.apache.spark.sql.types.{StringType, StructField}
      val deeper = tails.filter(_.nonEmpty)
      dt match {
        case Some(t) if deeper.isEmpty => t
        case Some(ArrayType(et, n)) => ArrayType(shape(Some(et), deeper), n)
        case Some(s: StructType) =>
          val byH = deeper.groupBy(_.head)
          StructType(
            s.fields.map { f =>
              byH.get(f.name) match {
                case Some(ts) =>
                  StructField(f.name,
                    shape(Some(f.dataType), ts.map(_.tail)), nullable = true)
                case None => f
              }
            } ++ byH.keys.toSeq.filterNot(s.fieldNames.contains).sorted.map(h =>
              StructField(h, shape(None, byH(h).map(_.tail)), nullable = true)))
        case _ => // no root shape, or a path through a scalar
          if (deeper.isEmpty) StringType
          else StructType(deeper.groupBy(_.head).toSeq.sortBy(_._1).map {
            case (h, ts) =>
              StructField(h, shape(None, ts.map(_.tail)), nullable = true)
          })
      }
    }
    def shapeOf(tails: Seq[Seq[String]], prefix: Seq[String]): DataType =
      shape(rootTypeOf(prefix), tails)
    // Rebuild `value` (typed `st`) so every referenced path resolves:
    // absent fields become typed nulls (null STRUCTS when the path
    // goes deeper, so multi-segment refs still resolve), and a deeper
    // path THROUGH a scalar also reads as null (Mongo: a path through
    // a non-document is missing) unless the same head is also read
    // directly, which keeps the scalar. Purely compile-time.
    // a path can resolve THROUGH arrays when documents sit at the
    // leaf (Spark projects `arr.field` element-wise) — those fields
    // are documents for padding purposes, not scalars
    def structLeaf(dt: DataType): Option[StructType] = dt match {
      case s: StructType => Some(s)
      case ArrayType(et, _) => structLeaf(et)
      case _ => None
    }
    def pad(value: Column, st: StructType, ps: Seq[Seq[String]],
            prefix: Seq[String]): Column = {
      val byHead = ps.filter(_.nonEmpty).groupBy(_.head)
      val missing = byHead.keys.toSeq.filterNot(st.fieldNames.contains).sorted
      def scalarRedirect(f: org.apache.spark.sql.types.StructField): Boolean = {
        val refs = byHead.getOrElse(f.name, Nil)
        structLeaf(f.dataType).isEmpty &&
          refs.exists(_.tail.nonEmpty) && refs.forall(_.tail.nonEmpty)
      }
      // pad element documents in place through any array nesting, so
      // `$arr.field` still projects element-wise after the rebuild
      def padThrough(c: Column, dt: DataType, deeper: Seq[Seq[String]],
                     pfx: Seq[String]): Column =
        dt match {
          case s: StructType => pad(c, s, deeper, pfx)
          case at: ArrayType =>
            transform(c, x => padThrough(x, at.elementType, deeper, pfx))
          case _ => c
        }
      val needsDeepPad = st.fields.exists(f =>
        if (structLeaf(f.dataType).isDefined)
          byHead.getOrElse(f.name, Nil).exists(_.tail.nonEmpty)
        else scalarRedirect(f))
      if (missing.isEmpty && !needsDeepPad) value
      else {
        val fields = st.fields.toSeq.map { f =>
          val deeper = byHead.getOrElse(f.name, Nil).map(_.tail).filter(_.nonEmpty)
          f.dataType match {
            case s: StructType if deeper.nonEmpty =>
              pad(value.getField(f.name), s, deeper, prefix :+ f.name).as(f.name)
            case at: ArrayType if deeper.nonEmpty && structLeaf(at).isDefined =>
              padThrough(value.getField(f.name), at, deeper, prefix :+ f.name)
                .as(f.name)
            case _ if scalarRedirect(f) =>
              lit(null).cast(shapeOf(deeper, prefix :+ f.name)).as(f.name)
            case _ => value.getField(f.name).as(f.name)
          }
        }
        val added = missing.map(k =>
          lit(null).cast(shapeOf(byHead(k).map(_.tail), prefix :+ k)).as(k))
        struct(fields ++ added: _*)
      }
    }
    def decide(current: Option[(Column, StructType)]): Column =
      expression(spec, sysBinds ++
        current.map { case (c, st) => "CURRENT" -> pad(c, st, paths, Nil) })
    // value = a (sub)document-typed column; returns the redacted value
    def rec(value: Column, dt: DataType): Column = dt match {
      case st: StructType =>
        val d = decide(Some((value, st)))
        val descended = struct(st.fields.toSeq.map(f =>
          rec(value.getField(f.name), f.dataType).as(f.name)): _*)
        when(value.isNull, lit(null).cast(st))
          .when(d === "__PRUNE__", lit(null).cast(st))
          .when(d === "__KEEP__", value)
          .otherwise(descended)
      case ArrayType(et: StructType, _) =>
        // array of documents: drop pruned elements, recurse the rest
        val kept = filter(value, x => decide(Some((x, et))) =!= "__PRUNE__")
        transform(kept, x => rec(x, et))
      case ArrayType(et: ArrayType, _) =>
        // nested arrays: recurse so documents at any array depth are
        // still redacted, never passed through unexamined
        transform(value, x => rec(x, et))
      case other if hidesDocs(other) =>
        // a map hiding documents (at any nesting depth) cannot be
        // redacted compile-time (keys are data, not schema) — failing
        // beats silently leaking
        throw new IllegalArgumentException(
          s"$$redact cannot descend into map-typed documents: $other")
      case _ => value // scalars/arrays-of-scalars have no sub-levels
    }
    val rootD = decide(Some((struct(df.columns.map(col): _*), df.schema)))
    val cols = df.schema.fields.toSeq.map { f =>
      when(rootD === "__KEEP__", col(f.name))
        .otherwise(rec(col(f.name), f.dataType)).as(f.name)
    }
    df.filter(rootD =!= "__PRUNE__").select(cols: _*)
  }

  private def unwind(df: DataFrame, spec: JsonNode): DataFrame = {
    val (path, preserve, idxCol) =
      if (spec.isTextual) (spec.asText(), false, None)
      else (spec.get("path").asText(),
            Option(spec.get("preserveNullAndEmptyArrays")).exists(_.asBoolean()),
            Option(spec.get("includeArrayIndex")).map(_.asText()))
    val field = path.drop(1)
    val others = df.columns.filterNot(_ == field).map(col).toSeq
    idxCol match {
      case Some(idx) =>
        val ex = if (preserve) posexplode_outer(col(field)) else posexplode(col(field))
        df.select(others :+ ex.as(Seq(idx, field)): _*)
      case None =>
        val ex = if (preserve) explode_outer(col(field)) else explode(col(field))
        df.select(others :+ ex.as(field): _*)
    }
  }

  /** $lookup: left outer equi-join; the joined rows arrive as an array
    * of structs in field `as` (value-sorted for determinism). The
    * foreign side is pre-aggregated per key so the join is 1:1 — at
    * scale this is one shuffle on the foreign key, never a row
    * explosion, and AQE broadcast-downgrades a small foreign side.
    *
    * ARRAY-valued localField (Mongo semantics: the equality match
    * treats the array as "any element matches foreignField"): the
    * local side explodes its DISTINCT elements to a scalar equi-key,
    * joins the same packed foreign table, and re-aggregates per local
    * row — still a pure equi-join (never an `array_contains`
    * theta-join, which would plan a nested loop), at the cost of one
    * element-wise fan-out + one re-grouping shuffle. Distinct
    * elements guarantee each matching foreign doc appears once, as
    * in Mongo.
    *
    * ARRAY-valued foreignField is symmetric: the foreign side
    * explodes its distinct elements before packing (a doc owns one
    * join key per element), and the per-key re-aggregation
    * de-duplicates docs reached through several keys.
    *
    * When BOTH sides are arrays, BSON `{F: L}` equality also matches
    * the whole local array against the whole foreign array — an
    * additional exact (order-sensitive) array-equality join.
    * Observable beyond element overlap exactly when both arrays are
    * EMPTY (equal non-empty arrays already share elements), which is
    * precisely Mongo's empty-array match behavior. Scalar-vs-whole-
    * array equality stays unmodeled: schema-typed columns cannot mix
    * scalar and array values the way BSON can.
    *
    * Determinism & retry safety: matches are aggregated per DISTINCT
    * local key VALUE and equi-joined back on that value — never
    * grouped by a synthetic row id (`monotonically_increasing_id`
    * can differ between task retries) and never grouping the local
    * rows themselves (map-typed local columns stay legal, duplicate
    * local rows each keep their own output row).
    */
  private def lookup(df: DataFrame, spec: JsonNode,
                     tables: String => DataFrame): DataFrame = {
    if (spec.get("pipeline") != null) return lookupPipeline(df, spec, tables)
    val from = spec.get("from").asText()
    val localField = spec.get("localField").asText()
    val foreignField = spec.get("foreignField").asText()
    val as = spec.get("as").asText()
    val foreign = tables(from)
    def isArray(d: DataFrame, c: String) =
      d.select(col(c)).schema.head.dataType
        .isInstanceOf[org.apache.spark.sql.types.ArrayType]
    // ARRAY-valued foreignField (Mongo: a foreign doc matches when ANY
    // of its elements equals the key): explode distinct elements
    // before packing, so one doc may own several join keys. A doc the
    // local side reaches through MULTIPLE keys must still appear once
    // — the array-localField branch below de-duplicates the flattened
    // result for exactly that case.
    val foreignIsArray = isArray(foreign, foreignField)
    val packed =
      (if (foreignIsArray)
         foreign.withColumn("__graft_key",
           explode(array_distinct(col(foreignField))))
       else foreign.withColumn("__graft_key", col(foreignField)))
        .groupBy(col("__graft_key"))
        .agg(array_sort(collect_list(
          struct(foreign.columns.map(col): _*))).as(as))
    // Mongo OVERWRITES an existing `as` field. Stash the join key
    // first (`as` may BE the localField) and drop the old column, so
    // neither branch emits a duplicate column name.
    val (local0, lk0) =
      if (!df.columns.contains(as)) (df, col(localField))
      else (df.withColumn("__graft_lkey", col(localField)).drop(as),
        col("__graft_lkey"))
    // Deviation from Mongo (both paths): an unmatched local row gets
    // NULL in `as` (not []) — a typed empty-array literal would need
    // internal APIs; a following `$unwind` treats both the same.
    val localIsArray = isArray(df, localField)
    val out =
      if (!localIsArray && !foreignIsArray)
        local0.join(packed, lk0 === col("__graft_key"), "left")
          .drop("__graft_key")
      else {
        // matches per DISTINCT local key value (scalar or array):
        // explode the key's distinct elements, pull each element's
        // packed foreign list, re-flatten per key value
        val keyT = local0.select(lk0.as("__graft_lkval")).distinct()
        val elems =
          if (localIsArray)
            keyT.select(col("__graft_lkval"),
              explode_outer(array_distinct(col("__graft_lkval"))).as("__graft_lk"))
          else keyT.select(col("__graft_lkval"),
            col("__graft_lkval").as("__graft_lk"))
        val elemMatches = elems
          .join(packed.withColumnRenamed(as, "__graft_arr"),
            col("__graft_lk") === col("__graft_key"), "left")
          .groupBy(col("__graft_lkval"))
          .agg(flatten(collect_list(col("__graft_arr"))).as("__graft_els"))
        val withWhole =
          if (localIsArray && foreignIsArray) {
            // BSON {F: L} also equality-matches the WHOLE local array
            // against the whole foreign array (the empty-array match;
            // equal non-empty arrays already overlap element-wise)
            val whole = foreign
              .groupBy(col(foreignField).as("__graft_wk"))
              .agg(array_sort(collect_list(
                struct(foreign.columns.map(col): _*))).as("__graft_warr"))
            elemMatches
              .join(whole, col("__graft_lkval") === col("__graft_wk"), "left")
              .select(col("__graft_lkval"),
                flatten(array_compact(array(
                  col("__graft_els"), col("__graft_warr")))).as("__graft_all"))
          } else
            elemMatches.select(col("__graft_lkval"),
              col("__graft_els").as("__graft_all"))
        // array_distinct: an array-valued foreignField (or the whole-
        // array rule) can hand the same foreign doc to several of one
        // key's elements
        val mapping = withWhole
          .withColumn(as,
            when(size(col("__graft_all")) > 0,
              array_sort(array_distinct(col("__graft_all")))))
          .select(col("__graft_lkval"), col(as))
        local0.join(mapping, lk0 === col("__graft_lkval"), "left")
          .drop("__graft_lkval")
      }
    if (out.columns.contains("__graft_lkey")) out.drop("__graft_lkey") else out
  }

  /** Correlated `$lookup` with `let` + `pipeline`. Supported pipeline
    * shape: a single `{$match: {$expr: ...}}` stage (the canonical
    * correlated-subquery form). The $expr compiles to ONE join
    * condition: `$$var` resolves to the let-bound local expression,
    * `$field` to the foreign table — Catalyst then extracts the
    * equality conjuncts as equi-join keys (shuffle or AQE-broadcast
    * join), leaving only residual non-equi predicates as filters, so
    * the correlated lookup costs the same as a plain one.
    */
  private def lookupPipeline(df: DataFrame, spec: JsonNode,
                             tables: String => DataFrame): DataFrame = {
    val foreign0 = tables(spec.get("from").asText())
    val as = spec.get("as").asText()
    val stages = spec.get("pipeline").elements().asScala.toSeq
    if (spec.get("let") == null) {
      // Uncorrelated: the sub-pipeline runs once; every local row gets
      // the same packed array — broadcast-cross-join of ONE row, any
      // pipeline shape allowed.
      val sub = apply(foreign0, spec.get("pipeline").toString, tables)
      val packed = sub.agg(array_sort(
        collect_list(struct(sub.columns.map(col): _*))).as(as))
      return df.crossJoin(broadcast(packed))
    }
    require(stages.size == 1 && stages.head.get("$match") != null &&
      stages.head.get("$match").get("$expr") != null,
      "correlated $lookup pipeline support: exactly one {$match: {$expr: ...}} stage")
    val exprNode = rewriteFieldRefs(stages.head.get("$match").get("$expr"), "__f.")
    val binds: Map[String, Column] =
      Option(spec.get("let")).map(_.properties().asScala.toSeq.map { e =>
        val v = e.getValue
        val c =
          if (v.isTextual && v.asText().startsWith("$") && !v.asText().startsWith("$$"))
            col("__l." + v.asText().drop(1))
          else literal(v)
        e.getKey -> c
      }.toMap).getOrElse(Map.empty)
    val fromCols = foreign0.columns.toSeq
    // __rid makes each local row its own group even under duplicate
    // rows; it never reaches the output. __fm marks a real match so
    // unmatched left rows don't collect a struct of nulls.
    val local = df.withColumn("__rid", monotonically_increasing_id()).as("__l")
    val foreign = foreign0.withColumn("__fm", lit(1)).as("__f")
    val cond = expression(exprNode, binds)
    val joined = local.join(foreign, cond, "left")
    val localCols = df.columns.toSeq
    val payload = when(col("__f.__fm").isNotNull,
      struct(fromCols.map(c => col(s"__f.$c")): _*))
    joined.groupBy((col("__rid") +: localCols.map(c => col(s"__l.$c"))): _*)
      .agg(array_sort(collect_list(payload)).as(as))
      .drop("__rid")
  }

  /** Deep-rewrite "$field" refs to "$<prefix>field" leaving "$$var"
    * lambda/let refs untouched — the pre-pass that lets one compiled
    * expression mix two sides of a join: the foreign side of a
    * correlated lookup (`__f.`), the target side of a `$merge` update
    * pipeline (`t_`).
    */
  private[plans] def rewriteFieldRefs(n: JsonNode, prefix: String): JsonNode = n match {
    case t if t.isTextual &&
        t.asText().startsWith("$") && !t.asText().startsWith("$$") =>
      mapper.getNodeFactory.textNode("$" + prefix + t.asText().drop(1))
    case o if o.isObject =>
      val out = mapper.createObjectNode()
      o.properties().asScala.toSeq.foreach(e =>
        out.set[JsonNode](e.getKey, rewriteFieldRefs(e.getValue, prefix)))
      out
    case arr if arr.isArray =>
      val out = mapper.createArrayNode()
      arr.elements().asScala.foreach(e => out.add(rewriteFieldRefs(e, prefix)): Unit)
      out
    case other => other
  }

  private def bucket(df: DataFrame, spec: JsonNode,
                     lastSort: Seq[(String, Boolean)]): DataFrame = {
    val groupExpr = expression(spec.get("groupBy"))
    val bounds = spec.get("boundaries").elements().asScala.map(literalValue).toSeq
    val defaultNode = Option(spec.get("default")).filterNot(_.isNull)
    // A textual default (Mongo allows heterogeneous bucket ids) forces
    // the id column to string so all CASE branches share one type.
    val asText = defaultNode.exists(_.isTextual)
    def idLit(v: Any): Column = if (asText) lit(v).cast("string") else lit(v)
    val bucketed = bounds.sliding(2).toSeq.foldLeft(
      when(lit(false), idLit(bounds.head))) { case (acc, lohi) =>
      val (lo, hi) = (lohi.head, lohi(1))
      acc.when(groupExpr >= lit(lo) && groupExpr < lit(hi), idLit(lo))
    }
    // Mongo aborts when a value falls outside the boundaries and no
    // default exists — mirror that instead of a silent null bucket.
    val withDefault = defaultNode.map(d => bucketed.otherwise(literal(d)))
      .getOrElse(bucketed.otherwise(raise_error(concat(
        lit("$bucket value out of range and no default: "),
        groupExpr.cast("string")))))
    val outSpec = Option(spec.get("output"))
    val accums = outSpec match {
      case Some(o) => o.properties().asScala.toSeq.map(e =>
        accumulator(e.getValue, lastSort).as(e.getKey))
      case None => Seq(count(lit(1)).as("count"))
    }
    df.groupBy(withDefault.as("_id")).agg(accums.head, accums.tail: _*)
      .orderBy(col("_id"))
  }

  /** $bucketAuto: equi-population buckets via ntile over the groupBy
    * key. Ties on the key break by the row's 60-bit content hash so
    * bucket membership is deterministic under any partitioning. One
    * window pass + one aggregation — no quantile sketch needed because
    * the bucket ids are rank-defined, not value-defined.
    */
  private def bucketAuto(df: DataFrame, spec: JsonNode,
                         lastSort: Seq[(String, Boolean)]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.LongType
    val groupExpr = expression(spec.get("groupBy"))
    val n = spec.get("buckets").asInt()
    val tieBreak = graft.functions.Hash60.hash60(
      concat_ws("\u0001", df.columns.map(c => col(c).cast("string")): _*))
    // Global ranking WITHOUT a single-partition window: range-partition
    // on (key, tiebreak) so every partition sorts locally in parallel,
    // then zipWithIndex assigns the exact global rank (one lightweight
    // per-partition count job + offset add). ntile(b) over total rows
    // is a closed form of that rank, so the result is identical to
    // `ntile(n).over(Window.orderBy(...))` while the sort stays fully
    // distributed — no "all data to a single partition" stage.
    val keyed = df.withColumn("__graft_key", groupExpr)
      .withColumn("__graft_tb", tieBreak)
    // Checkpoint-free two-pass ranking: the range shuffle WRITE (the
    // wide, expensive part) happens once and its files are reused by
    // both jobs; only the cheap post-shuffle local sort re-runs. No
    // localCheckpoint = no full-dataset write to non-replicated
    // executor disk (executor loss there = recompute anyway), and the
    // per-partition counts job doubles as the total-count pass.
    val sorted = keyed
      .repartitionByRange(col("__graft_key"), col("__graft_tb"))
      .sortWithinPartitions(col("__graft_key"), col("__graft_tb"))
    val spark = df.sparkSession
    val rdd = sorted.rdd
    // job 1: per-partition counts (gives zipWithIndex's offsets AND
    // the ntile total in the same pass)
    val counts = rdd
      .mapPartitionsWithIndex((i, it) => Iterator((i, it.size.toLong)))
      .collect().sortBy(_._1).map(_._2)
    val offsets = counts.scanLeft(0L)(_ + _)
    // job 2 (the final action): exact global rank = partition offset +
    // local index, then tile + aggregate
    val ranked = spark.createDataFrame(
      rdd.mapPartitionsWithIndex { case (i, it) =>
        var idx = offsets(i)
        it.map { row => val r = Row.fromSeq(row.toSeq :+ idx); idx += 1; r }
      },
      sorted.schema.add("__graft_rank", LongType, nullable = false))
    // ntile semantics: the first (total % n) buckets take one extra row
    val totalN = counts.sum
    val q = totalN / n
    val r = totalN % n
    val span = (q + 1) * r
    val rank1 = col("__graft_rank") + 1 // 1-based global rank
    val tile =
      if (q == 0) rank1 // fewer rows than buckets: one row per bucket
      else when(rank1 <= span, ceil(rank1.cast("double") / (q + 1)))
        .otherwise(lit(r) + ceil((rank1 - span).cast("double") / q))
    val accums = Option(spec.get("output")) match {
      case Some(o) => o.properties().asScala.toSeq.map(e =>
        accumulator(e.getValue, lastSort).as(e.getKey))
      case None => Seq(count(lit(1)).as("count"))
    }
    val aggCols = Seq(min(col("__graft_key")).as("_id_min"),
      max(col("__graft_key")).as("_id_max")) ++ accums
    ranked.withColumn("__graft_tile", tile.cast("int"))
      .groupBy(col("__graft_tile"))
      .agg(aggCols.head, aggCols.tail: _*)
      .drop("__graft_tile")
      .orderBy(col("_id_min"))
  }

  /** $setWindowFields → Spark window functions. Supports documents
    * frames ([lo, hi] of ints / "unbounded" / "current"), rank-family
    * ops, $shift (lag/lead), and the summing/extreme accumulators.
    */
  private def setWindowFields(df: DataFrame, spec: JsonNode): DataFrame = {
    import org.apache.spark.sql.expressions.{Window, WindowSpec}
    val sortBy: Seq[(String, Boolean)] =
      Option(spec.get("sortBy")).map(_.properties().asScala.toSeq
        .map(e => (e.getKey, e.getValue.asInt() >= 0))).getOrElse(Nil)
    val sortCols = sortBy.map { case (f, asc) =>
      if (asc) col(f).asc else col(f).desc }
    val base0 = Option(spec.get("partitionBy")) match {
      case Some(p) => Window.partitionBy(expression(p))
      case None    => Window.partitionBy()
    }
    val ordered = if (sortCols.nonEmpty) base0.orderBy(sortCols: _*) else base0
    def bound(n: JsonNode, isLower: Boolean): Long = n match {
      case t if t.isTextual && t.asText() == "unbounded" =>
        if (isLower) Window.unboundedPreceding else Window.unboundedFollowing
      case t if t.isTextual && t.asText() == "current" => Window.currentRow
      case t => t.asLong()
    }
    def framed(w: JsonNode): WindowSpec = Option(w) match {
      case Some(x) if x.get("documents") != null =>
        val b = x.get("documents").elements().asScala.toSeq
        ordered.rowsBetween(bound(b.head, isLower = true),
          bound(b(1), isLower = false))
      case Some(x) if x.get("range") != null =>
        // value-range frame over the (single) sortBy column; the
        // optional time unit scales finite offsets to seconds
        require(sortBy.size == 1, "range window requires one sortBy field")
        val b = x.get("range").elements().asScala.toSeq
        val scale = Option(x.get("unit")).map(_.asText() match {
          case "second" => 1L
          case "minute" => 60L
          case "hour"   => 3600L
          case "day"    => 86400L
          case other => throw new IllegalArgumentException(
            s"unsupported range-window unit: $other")
        }).getOrElse(1L)
        def scaled(v: Long): Long =
          if (v == Window.unboundedPreceding || v == Window.unboundedFollowing ||
            v == Window.currentRow) v
          else v * scale
        ordered.rangeBetween(scaled(bound(b.head, isLower = true)),
          scaled(bound(b(1), isLower = false)))
      case _ => ordered
    }
    var cur = df
    spec.get("output").properties().asScala.toSeq.foreach { e =>
      val outName = e.getKey
      val fields = e.getValue.properties().asScala.toSeq
        .filter(_.getKey != "window")
      require(fields.size == 1, s"window output needs one operator: ${e.getValue}")
      val (op, a) = (fields.head.getKey, fields.head.getValue)
      if (op == "$expMovingAvg") {
        // sequential recurrence — handled as a per-partition sorted
        // pass, not a window column (see expMovingAvg)
        require(sortCols.nonEmpty, "$expMovingAvg requires sortBy")
        cur = expMovingAvg(cur, Option(spec.get("partitionBy")),
          sortCols, outName, a)
      } else {
      val w = framed(e.getValue.get("window"))
      val back = ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val fwd = ordered.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val c = op match {
        case "$sum"   => sum(expression(a)).over(w)
        case "$avg"   => avg(expression(a)).over(w)
        case "$min"   => min(expression(a)).over(w)
        case "$max"   => max(expression(a)).over(w)
        case "$count" => count(lit(1)).over(w)
        case "$stdDevPop"  => stddev_pop(expression(a)).over(w)
        case "$stdDevSamp" => stddev_samp(expression(a)).over(w)
        case "$covariancePop" =>
          val xs = a.elements().asScala.toSeq
          covar_pop(expression(xs.head), expression(xs(1))).over(w)
        case "$covarianceSamp" =>
          val xs = a.elements().asScala.toSeq
          covar_samp(expression(xs.head), expression(xs(1))).over(w)
        case "$derivative" =>
          // (Δ input)/(Δ sortBy) across the window frame, optionally
          // scaled to a time unit when sortBy is a timestamp
          require(sortBy.size == 1, "$derivative requires one sortBy field")
          val input = expression(a.get("input"))
          val sortCol = col(sortBy.head._1)
          // a single-row frame has zero span -> null (Mongo semantics),
          // not an ANSI divide-by-zero
          val denom = nullif(unitScaledSpan(sortCol, a, w), lit(0.0))
          (last(input).over(w) - first(input).over(w)) / denom
        case "$integral" =>
          // trapezoidal rule: per-row term (t_i − t_{i−1})·(y_i+y_{i−1})/2
          // precomputed with lag over the partition, summed over the
          // frame — exact for cumulative/unbounded frames
          require(sortBy.size == 1, "$integral requires one sortBy field")
          val input = expression(a.get("input"))
          val sortCol = col(sortBy.head._1)
          val prevT = lag(sortCol, 1).over(ordered)
          val prevY = lag(input, 1).over(ordered)
          val dt = unitScaledDelta(sortCol, prevT, a)
          val term = coalesce(dt * (input + prevY) / 2, lit(0.0))
          sum(term).over(w)
        case "$push"  => collect_list(expression(a)).over(w)
        case "$first" => first(expression(a)).over(w)
        case "$last"  => last(expression(a)).over(w)
        case "$rank"           => rank().over(ordered)
        case "$denseRank"      => dense_rank().over(ordered)
        case "$documentNumber" => row_number().over(ordered)
        case "$shift" =>
          val by = Option(a.get("by")).map(_.asInt()).getOrElse(1)
          val dflt = Option(a.get("default")).filterNot(_.isNull)
          val outExpr = expression(a.get("output"))
          val shifted =
            if (by >= 0) lead(outExpr, by) else lag(outExpr, -by)
          dflt.map(d => coalesce(shifted.over(ordered), expression(d)))
            .getOrElse(shifted.over(ordered))
        case "$locf" => // last observation carried forward
          last(expression(a), ignoreNulls = true).over(back)
        case "$linearFill" =>
          // interpolate nulls between the surrounding non-null points
          // on the (single) sortBy axis; endpoints stay null
          require(sortBy.size == 1, "$linearFill requires one sortBy field")
          val v = expression(a)
          val x = col(sortBy.head._1).cast("double")
          val pv = last(v, ignoreNulls = true).over(back)
          val px = last(when(v.isNotNull, x), ignoreNulls = true).over(back)
          val nv = first(v, ignoreNulls = true).over(fwd)
          val nx = first(when(v.isNotNull, x), ignoreNulls = true).over(fwd)
          when(v.isNotNull, v)
            .otherwise(pv + (nv - pv) * (x - px) / nullif(nx - px, lit(0.0)))
        case other =>
          throw new IllegalArgumentException(s"unsupported window op: $other")
      }
      cur = cur.withColumn(outName, c)
      }
    }
    cur
  }

  /** `$expMovingAvg`: e_i = α·x_i + (1−α)·e_{i−1} — an inherently
    * sequential recurrence (the closed-form window rewrite overflows
    * (1−α)^{−i} after a few hundred rows), so it runs as Mongo runs
    * it: each partition's documents in sortBy order through one
    * stateful pass, partitions distributed across the cluster
    * (`flatMapSortedGroups` — Spark sorts within groups during the
    * shuffle, no extra pass). Null inputs leave the average unchanged
    * and carry the current value, matching Mongo's ignore-nulls.
    */
  private def expMovingAvg(df: DataFrame, partNode: Option[JsonNode],
                           sortCols: Seq[Column], outName: String,
                           a: JsonNode): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    val alpha = Option(a.get("alpha")).map(_.asDouble()).getOrElse {
      val n = a.get("N").asInt()
      require(n >= 1, "$expMovingAvg N must be >= 1")
      2.0 / (n + 1)
    }
    val input = expression(a.get("input"))
    val withIn = df
      .withColumn("__ema_in", input.cast("double"))
      .withColumn("__ema_pk",
        partNode.map(expression(_).cast("string")).getOrElse(lit("")))
    val outSchema = StructType(
      withIn.schema.fields :+ StructField(outName, DoubleType))
    val grouped = withIn
      .groupByKey((r: Row) => r.getAs[String]("__ema_pk"))(Encoders.STRING)
    grouped.flatMapSortedGroups(sortCols: _*) { (_: String, it: Iterator[Row]) =>
      var ema: java.lang.Double = null
      it.map { r =>
        val x = r.getAs[java.lang.Double]("__ema_in")
        if (x != null)
          ema = if (ema == null) x
                else java.lang.Double.valueOf(alpha * x + (1 - alpha) * ema)
        Row.fromSeq(r.toSeq :+ ema)
      }
    }(Encoders.row(outSchema))
      .drop("__ema_in", "__ema_pk")
  }

  /** Span of the sort column across a window frame, scaled by the
    * optional `unit` (timestamps count in the given unit; numeric
    * sort columns pass through).
    */
  private def unitScaledSpan(sortCol: Column, a: JsonNode,
                             w: org.apache.spark.sql.expressions.WindowSpec): Column = {
    val span = Option(a.get("unit")).map { u =>
      val perSec = unitSeconds(u.asText())
      (unix_micros(last(sortCol).over(w)) -
        unix_micros(first(sortCol).over(w))).cast("double") / (1e6 * perSec)
    }.getOrElse(
      (last(sortCol).over(w) - first(sortCol).over(w)).cast("double"))
    span
  }

  /** Per-row delta of the sort column vs its predecessor, unit-scaled. */
  private def unitScaledDelta(sortCol: Column, prev: Column, a: JsonNode): Column =
    Option(a.get("unit")).map { u =>
      val perSec = unitSeconds(u.asText())
      (unix_micros(sortCol) - unix_micros(prev)).cast("double") / (1e6 * perSec)
    }.getOrElse((sortCol - prev).cast("double"))

  private def unitSeconds(u: String): Long = u match {
    case "second" => 1L
    case "minute" => 60L
    case "hour"   => 3600L
    case "day"    => 86400L
    case other =>
      throw new IllegalArgumentException(s"unsupported window unit: $other")
  }

  /** $densify: generate the missing steps of `field` per partition
    * (bounds: "partition" — densify between each partition's min and
    * max). The step grid comes from one tiny per-partition aggregate
    * exploded through `sequence`, left-joined back — no driver loop,
    * shuffles keyed by the partition fields.
    */
  private def densify(df: DataFrame, spec: JsonNode): DataFrame = {
    val field = spec.get("field").asText()
    val parts: Seq[String] = Option(spec.get("partitionByFields"))
      .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil)
    val range = spec.get("range")
    val step = range.get("step").asLong()
    val unit = Option(range.get("unit")).map(_.asText())
    val boundsNode = Option(range.get("bounds"))
    val explicitBounds = boundsNode.filter(_.isArray)
    val bounds = boundsNode.filterNot(_.isArray).map(_.asText())
      .getOrElse("partition")
    require(explicitBounds.isDefined || bounds == "partition" || bounds == "full",
      "$densify supports bounds: \"partition\" | \"full\" | [lower, upper]")
    val pcols = parts.map(col)
    val stepCol = unit match {
      case Some(u) => // time-stepped grid via make_interval multiples
        val iv = u match {
          case "hour"   => expr(s"make_interval(0,0,0,0,$step,0,0)")
          case "minute" => expr(s"make_interval(0,0,0,0,0,$step,0)")
          case "day"    => expr(s"make_interval(0,0,0,$step,0,0,0)")
          case "second" => expr(s"make_interval(0,0,0,0,0,0,$step)")
          case other => throw new IllegalArgumentException(
            s"unsupported $$densify unit: $other")
        }
        iv
      case None => lit(step)
    }
    // bounds "partition": each partition spans its own min..max;
    // bounds "full": every partition spans the GLOBAL min..max — the
    // one-row global aggregate broadcast-joins onto the partition list.
    // With no partitionByFields (Mongo's global densify) both reduce
    // to one grid over the whole collection's min..max.
    // Explicit [lower, upper) bounds: the grid is data-independent —
    // the same literal range in every partition (or one global range
    // when there are no partition fields), upper end EXCLUSIVE.
    def boundLit(n: JsonNode): Column = {
      require(n.isTextual || n.isIntegralNumber,
        s"$$densify bounds must be integral numbers or date strings, got $n")
      val raw = if (n.isTextual) to_timestamp(lit(n.asText())) else lit(n.asLong())
      raw.cast(df.schema(field).dataType)
    }
    val grid = explicitBounds match {
      case Some(b) =>
        require(b.size() == 2, "$densify bounds array must be [lower, upper]")
        val lo = boundLit(b.get(0))
        val hi = boundLit(b.get(1))
        val span =
          if (parts.isEmpty) // grid exists even over an empty input
            df.sparkSession.range(1).select(lo.as("__lo"), hi.as("__hi"))
          else df.select(pcols: _*).distinct()
            .withColumn("__lo", lo).withColumn("__hi", hi)
        span.select((pcols :+
            explode(sequence(col("__lo"), col("__hi"), stepCol)).as(field)): _*)
          .filter(col(field) < hi)
      case None => (bounds, parts.isEmpty) match {
      case (_, true) =>
        df.agg(min(col(field)).as("__lo"), max(col(field)).as("__hi"))
          .select(explode(sequence(col("__lo"), col("__hi"), stepCol)).as(field))
      case ("partition", _) =>
        df.groupBy(pcols: _*)
          .agg(min(col(field)).as("__lo"), max(col(field)).as("__hi"))
          .select((pcols :+
            explode(sequence(col("__lo"), col("__hi"), stepCol)).as(field)): _*)
      case _ =>
        val globalBounds = broadcast(
          df.agg(min(col(field)).as("__lo"), max(col(field)).as("__hi")))
        df.select(pcols: _*).distinct()
          .crossJoin(globalBounds)
          .select((pcols :+
            explode(sequence(col("__lo"), col("__hi"), stepCol)).as(field)): _*)
      }
    }
    // Mongo preserves EVERY original document (even off the
    // min-anchored step grid) and only adds the grid points that have
    // no exact match: anti-join the grid against the existing
    // (partition, field) pairs, null-fill the other columns, union.
    val present = df.select((pcols :+ col(field)): _*).distinct()
    // null-SAFE anti-join: a null partition value is a real Mongo
    // group, and plain = would fail to suppress its matched grid rows
    val antiCond = (parts :+ field).map(c => grid(c) <=> present(c))
      .reduce(_ && _)
    val added = grid.join(present, antiCond, "left_anti")
      .select(df.columns.map { c =>
        if (parts.contains(c) || c == field) col(c)
        else lit(null).cast(df.schema(c).dataType).as(c)
      }: _*)
    df.unionByName(added)
  }

  /** $fill: value fill (constant/expression) and locf via the
    * ignore-nulls last() window — one pass, no self-join.
    */
  private def fill(df: DataFrame, spec: JsonNode): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sortBy: Seq[(String, Boolean)] =
      Option(spec.get("sortBy")).map(_.properties().asScala.toSeq
        .map(e => (e.getKey, e.getValue.asInt() >= 0))).getOrElse(Nil)
    val sortCols = sortBy.map { case (f, asc) =>
      if (asc) col(f).asc else col(f).desc }
    val w0 = Option(spec.get("partitionBy")) match {
      case Some(p) => Window.partitionBy(expression(p))
      case None    => Window.partitionBy()
    }
    val ordered = if (sortCols.nonEmpty) w0.orderBy(sortCols: _*) else w0
    val back = ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = ordered.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    var cur = df
    spec.get("output").properties().asScala.toSeq.foreach { e =>
      val name = e.getKey
      val node = e.getValue
      val c = Option(node.get("value")) match {
        case Some(v) => coalesce(col(name), expression(v))
        case None => node.get("method").asText() match {
          case "locf" => last(col(name), ignoreNulls = true).over(back)
          case "linear" =>
            // interpolate between the surrounding non-null points on
            // the (single) sortBy axis; endpoints stay null like Mongo
            require(sortBy.size == 1, "$fill linear requires one sortBy field")
            val x = col(sortBy.head._1).cast("double")
            val pv = last(col(name), ignoreNulls = true).over(back)
            val px = last(when(col(name).isNotNull, x), ignoreNulls = true).over(back)
            val nv = first(col(name), ignoreNulls = true).over(fwd)
            val nx = first(when(col(name).isNotNull, x), ignoreNulls = true).over(fwd)
            when(col(name).isNotNull, col(name))
              .otherwise(pv + (nv - pv) * (x - px) / nullif(nx - px, lit(0.0)))
          case other => throw new IllegalArgumentException(
            s"unsupported $$fill method: $other")
        }
      }
      cur = cur.withColumn(name, c)
    }
    cur
  }

  /** $graphLookup: bounded BFS over `from`. Each round is one shuffle
    * join frontier⋈from on the connect key, so depth-d traversal is d
    * joins — never a driver-side collect of the graph. Cycle-safe:
    * reached nodes accumulate in a distinct set keyed by origin row.
    */
  private def graphLookup(df: DataFrame, spec: JsonNode,
                          tables: String => DataFrame): DataFrame = {
    val from = tables(spec.get("from").asText())
    val startWith = expression(spec.get("startWith"))
    val connectFrom = spec.get("connectFromField").asText()
    val connectTo = spec.get("connectToField").asText()
    val as = spec.get("as").asText()
    val maxDepth = Option(spec.get("maxDepth")).map(_.asInt()).getOrElse(20)
    val depthField = Option(spec.get("depthField")).map(_.asText())
    // Stable origin key: hash of the full origin row (collision space
    // 2^60 — the same keying the dedup family uses).
    val originKey = graft.functions.Hash60.hash60(
      concat_ws("\u0001", df.columns.map(c => col(c).cast("string")): _*))
    val origin = df.withColumn("__gk", originKey)
    val fromCols = from.columns
    // frontier: (__gk, __connect) pairs still to expand; visited
    // accumulates the pairs expanded in rounds >= 1 so cyclic graphs
    // can't re-expand the same node every round (exponential duplicate
    // rows otherwise — output stayed right only via the final
    // min-depth dedup, at blow-up cost in the intermediate). The
    // initial frontier is deliberately NOT tracked: its size is
    // unknown without an extra pass, and a cycle re-entering a start
    // key dies one round later when its successors hit `visited`.
    //
    // Checkpointed frames carry no Catalyst size stats, so AQE can't
    // pick broadcast joins here — but the per-round count() gives us
    // EXACT row bounds, so we make that call ourselves: hint broadcast
    // whenever the small side is provably under broadcastRows.
    val broadcastRows = 1L << 20
    def hinted(d: DataFrame, small: Boolean): DataFrame =
      if (small) broadcast(d) else d
    var frontier = origin.select(col("__gk"), startWith.as("__connect")).distinct()
    var frontierBound: Option[Long] = None
    var visited: Option[DataFrame] = None
    var visitedBound = 0L
    var acc: Option[DataFrame] = None
    var depth = 0
    var done = false
    while (depth <= maxDepth && !done) {
      val f = hinted(frontier, frontierBound.exists(_ <= broadcastRows))
      val hits = f.join(from, col("__connect") === col(connectTo))
        .select(col("__gk") +: lit(depth).as("__depth") +:
          fromCols.map(col): _*)
      // lazy local checkpoint + count: ONE job per depth — count()
      // computes every partition (materializing the checkpoint, which
      // cuts the iterative lineage) and answers the emptiness check,
      // so depth-d traversal is d+1 actions, not 2(d+1)
      val hitsD = hits.cutLineage(eager = false)
      val n = hitsD.count()
      if (n == 0) done = true
      else {
        acc = Some(acc.map(_.unionByName(hitsD)).getOrElse(hitsD))
        val nextKeys = hitsD.select(col("__gk"),
          col(connectFrom).as("__connect")).distinct()
        // lazy-checkpoint the frontier as well: it materializes inside
        // the NEXT round's count job (it feeds that join), after which
        // later `visited` references read the checkpoint instead of
        // recomputing a compounding chain of anti-joins
        val next = (visited match {
          case Some(v) => nextKeys.join(
            hinted(v, visitedBound <= broadcastRows),
            Seq("__gk", "__connect"), "left_anti")
          case None => nextKeys
        }).cutLineage(eager = false)
        frontier = next
        frontierBound = Some(n) // next has at most n = |hits| rows
        visited = Some(visited.map(_.unionByName(next)).getOrElse(next))
        visitedBound += n
        depth += 1
      }
    }
    val out = acc match {
      case Some(a) =>
        val dedup = a.groupBy(col("__gk"), struct(fromCols.map(col): _*).as("__doc"))
          .agg(min(col("__depth")).as("__depth"))
        val payload = depthField match {
          case Some(d) => struct(col("__doc.*"), col("__depth").as(d))
          case None    => col("__doc")
        }
        val packed = dedup.groupBy(col("__gk"))
          .agg(array_sort(collect_list(payload)).as(as))
        origin.join(packed, Seq("__gk"), "left")
      case None => origin.withColumn(as, array())
    }
    out.drop("__gk")
  }
}
