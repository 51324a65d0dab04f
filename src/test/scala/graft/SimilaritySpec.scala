package graft

import org.apache.spark.sql.functions._

import graft.functions.CosineSimilarity
import graft.operators.{Multimodal, Similarity}
import graft.sources.TableCatalog

class SimilaritySpec extends SparkTestBase {

  private lazy val emb = TableCatalog(spark, sfDir).embeddings

  test("native cosine expression runs inside whole-stage codegen") {
    CosineSimilarity.register(spark)
    val df = emb.limit(10).select(expr("cosine_sim(embedding, embedding)").as("c"))
    // codegen'd stages print with a "*(n)" prefix in the executed plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [cosine_sim"), s"no codegen span in:\n$plan")
    df.collect().foreach(r => assert(math.abs(r.getDouble(0) - 1.0) < 1e-12))
  }

  test("cosine matches a reference scala computation") {
    CosineSimilarity.register(spark)
    val rows = emb.filter(col("vec_id").isin(0, 1))
      .orderBy("vec_id").collect()
    val a = rows(0).getSeq[Float](rows(0).fieldIndex("embedding"))
    val b = rows(1).getSeq[Float](rows(1).fieldIndex("embedding"))
    val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    val expect = dot / (math.sqrt(a.map(x => x.toDouble * x.toDouble).sum) *
      math.sqrt(b.map(x => x.toDouble * x.toDouble).sum))
    val got = emb.filter(col("vec_id") === 0).select(col("embedding").as("ea"))
      .crossJoin(emb.filter(col("vec_id") === 1).select(col("embedding").as("eb")))
      .select(expr("cosine_sim(ea, eb)")).head.getDouble(0)
    assert(math.abs(got - expect) < 1e-12)
  }

  test("VecMath kernels propagate null elements like the SQL folds they replaced") {
    import org.apache.spark.sql.GraftBridge
    import graft.functions.{Int8Quantize, PlaneSignature, VecMaxAbs, VecSqNorm}
    import spark.implicits._
    // array<float> with containsNull=true: one clean row, one null-holed row
    val df = Seq(Seq[java.lang.Float](3.0f, 4.0f), Seq[java.lang.Float](1.0f, null))
      .toDF("v")
    def c(f: org.apache.spark.sql.catalyst.expressions.Expression) =
      GraftBridge.column(f)
    val e = GraftBridge.expression(col("v"))
    val out = df.select(
      c(VecSqNorm(e)).as("n"), c(VecMaxAbs(e)).as("m"),
      c(Int8Quantize(e, GraftBridge.expression(lit(4.0).cast("double")))).as("q"),
      c(PlaneSignature(e, 8)).as("s")).collect()
    assert(out(0).getDouble(0) == 25.0 && out(0).getDouble(1) == 4.0)
    assert(!out(0).isNullAt(2) && !out(0).isNullAt(3))
    (0 to 3).foreach(i => assert(out(1).isNullAt(i),
      s"null element must null column $i"))
  }

  test("brute-force top-k ranks are 1..k per query with descending cos") {
    val out = Similarity.bruteForceTopK(spark, emb,
      emb.filter(col("vec_id") < 3), k = 5).collect()
    val byQuery = out.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.size == 3)
    byQuery.values.foreach { rows =>
      assert(rows.map(_.getAs[Int]("rank")).sorted.toSeq == (1 to 5))
      val cs = rows.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cos_r"))
      assert(cs.zip(cs.tail).forall { case (x, y) => x >= y })
    }
  }

  test("truncated-prefix retrieval: full-width prefix equals brute force; 16-dim coarse pass recalls most true neighbors") {
    val queries = emb.filter(col("vec_id") < 10)
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("cos_r"), r.getAs[Int]("rank"))
    val brute = Similarity.bruteForceTopK(spark, emb, queries, k = 5)
      .collect().map(key).toSet
    // dPrefix = full dim and a corpus-sized shortlist → exactly brute force
    val dims = emb.head.getAs[Seq[Float]]("embedding").length
    val full = Similarity.truncatedTopK(spark, emb, queries,
      dPrefix = dims, cands = 1000000, k = 5).collect().map(key).toSet
    assert(full == brute)
    // the real config: 16-dim coarse + 20-candidate rerank. The
    // testdata vectors are random, NOT Matryoshka-trained, so a 1/4
    // prefix is a weak scorer — the bar is "far above chance" (a
    // random 20-shortlist over ~500 vectors would recall ~0.04), not
    // the high recall trained MRL prefixes give. Measured ~0.38 here.
    val trunc = Similarity.truncatedTopK(spark, emb, queries,
        dPrefix = 16, cands = 20, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val bruteIds = brute.map(t => (t._1, t._2))
    val recall = bruteIds.count(trunc.contains).toDouble / bruteIds.size
    assert(recall >= 0.2, s"recall $recall")
  }

  test("truncated-prefix retrieval: coarse and rerank windows share one exchange") {
    val plan = Similarity.truncatedTopK(spark, emb,
        emb.filter(col("vec_id") < 10), dPrefix = 16, cands = 20, k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.split("Exchange hashpartitioning").length - 1 == 1, plan)
    assert(plan.contains("BroadcastExchange"), plan)
  }

  test("cluster-balanced sampling: at most k per cluster, lowest-hash members, deterministic") {
    import org.apache.spark.sql.expressions.Window
    // contract run: the declared query, through the registry
    val out = SparkEntry.queries("sample_cluster_balanced")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    val perCluster = out.groupBy(_._2)
    assert(perCluster.values.forall(_.length <= 25))
    assert(perCluster.values.forall(g =>
      g.map(_._3).sorted.toSeq == (1 to g.length)))
    // determinism run: same chain over a DIFFERENT partition layout —
    // the result must not depend on how the embeddings are laid out
    def run(parts: Int) = {
      val a = Similarity.centroidAssign(spark, emb.repartition(parts))
      a.select(col("vec_id"), col("assigned"),
          graft.functions.Hash60.hash60(col("vec_id").cast("string")).as("__h"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("assigned")).orderBy(col("__h"), col("vec_id"))))
        .filter(col("rk") <= 25)
        .select(col("vec_id"), col("assigned"), col("rk").cast("int").as("rk"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    }
    assert(out.toSet == run(3).toSet)
    assert(out.toSet == run(17).toSet)
  }

  test("incremental semantic dedup: status partition is exhaustive, layout-invariant, batch-only work") {
    val standing = emb.filter(col("vec_id") % 10 =!= 0)
    val batch = emb.filter(col("vec_id") % 10 === 0)
    val cents = Similarity.labelCentroids(standing)
    def run(parts: Int) = Similarity.incrementalSemantic(spark,
        batch.repartition(parts),
        Similarity.assignCells(spark, standing, cents), cents, tau = 0.4)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getString(3)))
    val out = run(3)
    val batchIds = batch.select("vec_id").collect().map(_.getLong(0)).toSet
    // one verdict per batch vector, never an index vector
    assert(out.map(_._1).toSet == batchIds)
    assert(out.length == batchIds.size)
    out.foreach { case (id, _, surv, status) =>
      status match {
        case "vetoed" => assert(surv == -1L)
        case "keep" => assert(surv == id)
        case "collapsed" => assert(surv != id && surv != -1L &&
          batchIds.contains(surv))
        case other => fail(s"unknown status $other")
      }
    }
    // bit-identical across partition layouts
    assert(out.toSet == run(17).toSet)
  }

  test("kNN graph: collapsed rows are copy-factor invariant; member counts scale") {
    def graph(df: org.apache.spark.sql.DataFrame) =
      Similarity.knnGraph(spark, df, k = 3).collect()
        .map(r => ((r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)),
          (r.getLong(4), r.getLong(5)))).toMap
    val base = graph(emb)
    // MakeScale-style replication: ids shift by the domain size, so
    // reps (min ids) and cosines are unchanged — the collapsed graph
    // must be IDENTICAL except n_members scaling 3x
    val n = emb.agg(max(col("vec_id"))).head.getLong(0) + 1
    val tripled = (0 until 3).map(i =>
      emb.select((col("vec_id") + lit(i * n)).as("vec_id"),
        col("label"), col("embedding"))).reduce(_.unionByName(_))
    val big = graph(tripled)
    assert(base.keySet == big.keySet,
      s"collapsed edges changed under replication: ${base.size} vs ${big.size}")
    base.foreach { case (k0, (nid, nnbr)) =>
      assert(big(k0) == (nid * 3, nnbr * 3), s"member counts at $k0")
    }
  }

  test("pq ADC top-k: integer-exact, layout-invariant, k per query, never self") {
    def run(parts: Int) = Similarity.pqTopK(spark, emb.repartition(parts),
        emb.filter(col("vec_id") < 10), k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    val out = run(4)
    val perQ = out.groupBy(_._1)
    assert(perQ.keySet == (0L until 10L).toSet)
    perQ.values.foreach { g =>
      assert(g.map(_._4).sorted.toSeq == (1 to g.length) && g.length == 5)
      // ADC distances are non-negative ints, ascending in rank
      assert(g.sortBy(_._4).map(_._3).toSeq == g.map(_._3).sorted.toSeq)
      assert(g.forall(r => r._3 >= 0L && r._2 != r._1))
    }
    // pure-integer ranking: bit-identical on any partition layout
    assert(out.toSet == run(17).toSet)
  }

  test("ivf∘pq: composed IVFADC is layout-invariant and confined to probed cells") {
    def run(parts: Int) = Similarity.ivfPqTopK(spark, emb.repartition(parts),
        emb.filter(col("vec_id") < 10), k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    val out = run(4)
    // fixed coarse routing + all-int64 ADC: bit-identical on any layout
    assert(out.toSet == run(17).toSet)
    val perQ = out.groupBy(_._1)
    assert(perQ.keySet == (0L until 10L).toSet)
    perQ.values.foreach { g =>
      assert(g.map(_._4).sorted.toSeq == (1 to g.length) && g.length == 5)
      assert(g.sortBy(_._4).map(_._3).toSeq == g.map(_._3).sorted.toSeq)
      assert(g.forall(r => r._3 >= 0L && r._2 != r._1))
    }
    // the IVFADC contract: a neighbor can only come from one of its
    // query's nprobe probed cells — ivf_fixed at a corpus-sized k
    // enumerates exactly the probed cells' membership, so every
    // ivfpq pick must appear in it
    val probedCells = Similarity.ivfTopK(spark, emb,
        emb.filter(col("vec_id") < 10), k = 100000, iters = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.forall(r => probedCells.contains((r._1, r._2))),
      "ivfpq returned a neighbor outside its query's probed cells")
  }

  test("pq re-rank: picks confined to the ADC shortlist, exact-d2 ordered, layout-invariant") {
    def run(parts: Int) = Similarity.pqRerankTopK(spark, emb.repartition(parts),
        emb.filter(col("vec_id") < 10), k = 5, kShort = 15)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4)))
    val out = run(4)
    // all-int64 ADC + all-int64 exact re-score: bit-identical layouts
    assert(out.toSet == run(17).toSet)
    val perQ = out.groupBy(_._1)
    assert(perQ.keySet == (0L until 10L).toSet)
    perQ.values.foreach { g =>
      assert(g.map(_._5).sorted.toSeq == (1 to g.length) && g.length == 5)
      // ranked by the EXACT distance, ascending — not by ADC
      assert(g.sortBy(_._5).map(_._4).toSeq == g.map(_._4).sorted.toSeq)
      assert(g.forall(r => r._3 >= 0L && r._4 >= 0L && r._2 != r._1))
    }
    // the "+R" contract: every pick comes from the ADC top-15 shortlist
    val short = Similarity.pqTopK(spark, emb,
        emb.filter(col("vec_id") < 10), k = 15)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.forall(r => short.contains((r._1, r._2))),
      "re-rank returned a neighbor outside its ADC shortlist")
    // and the shortlist's ADC distance rides through unchanged
    val adcOf = Similarity.pqTopK(spark, emb,
        emb.filter(col("vec_id") < 10), k = 15)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out.forall(r => adcOf((r._1, r._2)) == r._3))
  }

  test("hybrid RRF: fused ranking equals the recomputed leg fusion, layout-invariant") {
    val docs = TableCatalog(spark, sfDir).documents
    val terms = Seq("spark", "query", "stream")
    def run(parts: Int) = Similarity.hybridRrf(spark, docs.repartition(parts),
        emb, terms, queryVec = 0L)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getLong(3), r.getInt(4)))
    val out = run(4)
    assert(out.length == 10 && out.map(_._5).sorted.toSeq == (1 to 10))
    // integer fusion: bit-identical on any layout
    assert(out.toSet == run(9).toSet)
    // recompute both legs independently and fuse in plain Scala
    val bmLeg = graft.operators.TextAnalysis
      .bm25(docs, "doc_id", "text", terms, k = 20)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy { case (id, s) => (-s, id) }.zipWithIndex
      .map { case ((id, _), i) => id -> (i + 1) }.toMap
    val dnLeg = Similarity.bruteForceTopK(spark, emb,
        emb.filter(col("vec_id") === 0L), k = 20)
      .collect().map(r => r.getLong(1) -> r.getInt(3)).toMap
    def contrib(r: Option[Int]) = r.fold(0L)(x => 1000000000L / (60L + x))
    val expected = (bmLeg.keySet ++ dnLeg.keySet).toSeq
      .map(id => (id, contrib(bmLeg.get(id)) + contrib(dnLeg.get(id))))
      .sortBy { case (id, m) => (-m, id) }.take(10).zipWithIndex
      .map { case ((id, m), i) => (id, bmLeg.getOrElse(id, 0),
        dnLeg.getOrElse(id, 0), m, i + 1) }
    assert(out.sortBy(_._5).toSeq == expected,
      s"fusion mismatch:\n${out.sortBy(_._5).mkString("\n")}\nvs\n${expected.mkString("\n")}")
  }

  test("recall matrix: exact recalls 1.0; known strategy ordering holds") {
    val m = Similarity.recallMatrix(spark, emb, emb.filter(col("vec_id") < 10), k = 3)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(m.keySet == Set("exact_pruned", "int8", "truncated", "ivf",
      "ivf_fixed", "lsh", "pq", "ivfpq", "pq_rerank", "hamming",
      "hamming_rerank"))
    // exact re-ranking a 15-deep sign shortlist can only help
    assert(m("hamming_rerank")._3 >= m("hamming")._3 - 1e-9,
      s"re-rank lost recall vs raw hamming: ${m("hamming_rerank")} vs ${m("hamming")}")
    // exact re-ranking a 15-deep ADC shortlist can only help: the
    // re-rank must dominate the raw ADC ordering it refines
    assert(m("pq_rerank")._3 >= m("pq")._3 - 1e-9,
      s"re-rank lost recall vs raw ADC: ${m("pq_rerank")} vs ${m("pq")}")
    // the composition can only rescore a SUBSET of the exhaustive ADC
    // scan's candidates under the same codebook — on this corpus it
    // loses nothing (and must never fall under the one-bucket LSH scan)
    assert(m("ivfpq")._3 >= m("lsh")._3)
    assert(m("ivfpq")._3 >= m("pq")._3 - 1e-9,
      s"cell probing lost ADC recall: ${m("ivfpq")} vs ${m("pq")}")
    // micro-average over all (query, truth-neighbor) pairs
    assert(m.values.forall { case (nt, nh, r) =>
      nt == 30 && nh >= 0 && nh <= nt && r >= 0.0 && r <= 1.0 })
    // the error-bounded exact prefilter must lose nothing, ever
    assert(m("exact_pruned")._3 == 1.0)
    // trained IVF probes 4/8 cells; LSH visits one 8-plane bucket —
    // at fixed candidate budgets the coarse-to-fine ordering holds
    assert(m("ivf")._3 >= m("ivf_fixed")._3)
    assert(m("ivf_fixed")._3 >= m("lsh")._3)
    assert(m("int8")._3 >= 0.9, s"int8 quantization lost too much: $m")
  }

  test("two cosine_sim calls fuse into one codegen stage without local-name collisions") {
    graft.functions.CosineSimilarity.register(spark)
    // fallback=false makes a janino compile failure THROW instead of
    // silently dropping the stage to the interpreted path — the
    // regression this guards was observed at sf10 on multi-cosine
    // projections (fixed locals redeclared across fused calls)
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val out = emb.selectExpr("vec_id",
        "cosine_sim(embedding, embedding) AS c1",
        "cosine_sim(slice(embedding, 1, 8), slice(embedding, 1, 8)) AS c2")
        .collect()
      assert(out.nonEmpty)
      assert(out.forall(r =>
        math.abs(r.getDouble(1) - 1.0) < 1e-9 &&
        math.abs(r.getDouble(2) - 1.0) < 1e-9))
    } finally spark.conf.unset("spark.sql.codegen.fallback")
  }

  test("pq: separable subspace clusters share codes; cross-cluster errors dominate") {
    import spark.implicits._
    // 64-dim vectors built from two well-separated patterns per
    // 16-dim subspace: members of the same pattern must quantize to
    // the same code in every subspace and reconstruct near-exactly
    def vec(hi: Boolean): Array[Float] =
      Array.tabulate(64)(d => if (hi) 1.0f else -1.0f)
    val rows = (0L to 3L).map(i => (i, vec(i % 2 == 0))) ++
      (4L to 11L).map(i => (i, vec(i % 2 == 0)))
    val emb2 = rows.toDF("vec_id", "embedding")
    val out = Similarity.pqCodes(spark, emb2, m = 4, dsub = 16, ksub = 4,
        iters = 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toList
    val byPattern = out.groupBy(_._1 % 2)
    // every even vec shares one code string, every odd the other
    assert(byPattern(0L).map(_._2).distinct.size == 1)
    assert(byPattern(1L).map(_._2).distinct.size == 1)
    assert(byPattern(0L).head._2 != byPattern(1L).head._2)
    // exact-duplicate clusters sit ON their centroid: zero error
    assert(out.forall(_._3 == 0.0), s"errors: ${out.map(_._3)}")
  }

  test("pq codes are bit-deterministic across partition layouts") {
    def run(parts: Int) = Similarity.pqCodes(spark,
        emb.repartition(parts), m = 4, dsub = 16, ksub = 4, iters = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    val a = run(2)
    assert(a.nonEmpty && a == run(7))
    // codes stay in range and errors are non-negative
    assert(a.forall { case (_, codes, err) =>
      err >= 0.0 && codes.stripPrefix("[").stripSuffix("]").split(",")
        .forall(c => c.toInt >= 0 && c.toInt < 4)
    })
  }

  test("centered stats: the mean vector itself has zero centered norm and cosine 1") {
    import spark.implicits._
    // symmetric pairs around m = (0.5,...,0.5) plus m itself: the
    // corpus mean IS m (exact under the 2^20 scale), so the m row
    // must read norm_c = 0, cos_mean = 1
    val m = Array.fill(64)(0.5f)
    val hi = Array.fill(64)(0.75f)
    val lo = Array.fill(64)(0.25f)
    val emb2 = Seq((1L, hi), (2L, lo), (3L, m)).toDF("vec_id", "embedding")
    val out = Similarity.centeredStats(spark, emb2).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(out(3L) == ((1.0, 0.0)), s"mean row: ${out(3L)}")
    // the symmetric pair sits equidistant from the mean
    assert(out(1L)._2 == out(2L)._2 && out(1L)._2 > 0.0)
  }

  test("centered stats are deterministic across partition layouts") {
    def run(parts: Int) = Similarity.centeredStats(spark, emb.repartition(parts))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
    val a = run(2)
    assert(a.nonEmpty && a == run(7))
  }

  test("exact pruned top-k equals brute force row-for-row AND actually prunes") {
    val queries = emb.filter(col("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(spark, emb, queries, k = 5)
      .collect().map(_.toSeq).toSet
    val pruned = Similarity.exactPrunedTopK(spark, emb, queries, k = 5)
      .collect().map(_.toSeq).toSet
    assert(pruned == brute,
      s"pruned ≠ brute: only-pruned=${pruned -- brute}, only-brute=${brute -- pruned}")
    // The error bound must do real work: most candidate pairs die in
    // the int8 prefilter, never reaching the FP32 rerank.
    val nQueries = queries.count()
    val allPairs = (emb.count() - 1) * nQueries
    val survivors = Similarity.prunedSurvivors(spark, emb, queries, k = 5).count()
    assert(survivors >= 5 * nQueries, "must keep at least k per query")
    assert(survivors < allPairs * 6 / 10,
      s"prefilter kept $survivors of $allPairs pairs — bound too loose to prune")
  }

  test("lsh top-k neighbors all share the query's bucket") {
    val out = Similarity.lshTopK(spark, emb, emb.filter(col("vec_id") < 10), k = 3)
    val sig = emb.withColumn("bucket", Similarity.planeSignature("embedding", 8))
      .select(col("vec_id"), col("bucket"))
    val joined = out
      .join(sig.withColumnRenamed("vec_id", "query_id")
        .withColumnRenamed("bucket", "qb"), "query_id")
      .join(sig.withColumnRenamed("vec_id", "neighbor_id")
        .withColumnRenamed("bucket", "nb"), "neighbor_id")
    assert(joined.filter(col("qb") =!= col("nb")).count() == 0)
  }

  test("pagerank: exact int64 replay on a planted graph; hubs beat leaves; isolates read the floor") {
    import spark.implicits._
    import graft.operators.Pipeline100TB
    // star: 1..5 all point at 0; 0 points back at 1; 6 is isolated
    val nodes = (0L to 6L).toDF("id")
    val edges = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L), (5L, 0L),
      (0L, 1L)).toDF("src", "dst")
    val got = Pipeline100TB.pageRank(nodes, edges, iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // plain-Scala replay of the documented integer recurrence
    val S = 1000000000000L
    val n = 7L
    val deg = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L, 0L -> 1L)
    val out = Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 0L, 5L -> 0L)
      .keys.map(u => u -> Seq(0L)).toMap ++ Map(0L -> Seq(1L))
    var r = (0L to 6L).map(_ -> S / n).toMap
    for (_ <- 1 to 4) {
      val base = (15L * S) / (100L * n)
      val inflow = (0L to 6L).map { v =>
        v -> out.toSeq.collect {
          case (u, dsts) if dsts.contains(v) => (85L * r(u)) / (100L * deg(u))
        }.sum
      }.toMap
      r = (0L to 6L).map(v => v -> (base + inflow(v))).toMap
    }
    assert(got == r, s"got=$got expect=$r")
    // structure: the 0↔1 cycle holds the circulating mass (1 receives
    // the hub's whole damped rank each round), leaves tie, the
    // isolate reads the floor
    assert(got(1L) > got(0L) && got(0L) > got(2L))
    assert((2L to 5L).map(got).toSet.size == 1)
    assert(got(6L) == (15L * S) / (100L * n))
    // mass only leaks (floor losses + dangling): never exceeds S
    assert(got.values.sum <= S)
    // layout invariance
    val again = Pipeline100TB.pageRank(nodes.repartition(5),
      edges.repartition(3), iters = 4)
      .collect().map(r2 => r2.getLong(0) -> r2.getLong(1)).toMap
    assert(again == got)
  }

  test("triangles: exact counts on a planted K4-plus-tail; coefficient bounds; layout invariance") {
    import spark.implicits._
    import graft.operators.Pipeline100TB
    // K4 on {0,1,2,3} (every node: deg 3, 3 triangles, coeff 1.0),
    // tail 3-4-5 (4: deg 3, no extra triangle... 4 connects 3 and 5)
    val nodes = (0L to 5L).toDF("id")
    val edges = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (3L, 1L),
      (2L, 3L), (3L, 4L), (5L, 4L)).toDF("src", "dst")
    val got = Pipeline100TB.triangleStats(nodes, edges).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(got(0L) == ((3L, 3L, 1000000L)) && got(1L) == ((3L, 3L, 1000000L))
      && got(2L) == ((3L, 3L, 1000000L)))
    // node 3: deg 4 (K4 + tail), still 3 triangles: ⌊2·3·10⁶/12⌋
    assert(got(3L) == ((4L, 3L, 500000L)))
    // tail: no triangles; 5 has deg 1 → coefficient 0 by contract
    assert(got(4L) == ((2L, 0L, 0L)) && got(5L) == ((1L, 0L, 0L)))
    // coefficient always in [0, 10⁶]; global Σtri divisible by 3
    val full = Pipeline100TB.triangleStats(nodes.repartition(3),
      edges.repartition(5)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(full == got)
    assert(got.values.map(_._2).sum % 3 == 0)
    assert(got.values.forall(v => v._3 >= 0 && v._3 <= 1000000L))
  }

  test("k-center: exact plain-scala replay; radius non-increasing; planted clusters each get a center") {
    val got = Similarity.kcenterSample(emb, k = 8).collect()
      .map(r => (r.getInt(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).sortBy(_._1)
    // plain-Scala farthest-first replay with the same int64 distance
    val vecs = emb.collect().map(r =>
      r.getAs[Long]("vec_id") -> r.getSeq[Float](r.fieldIndex("embedding"))).toMap
    def q(x: Float): Long = java.math.BigDecimal.valueOf(x.toDouble * 1048576.0)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
    def d2(a: Seq[Float], b: Seq[Float]): Long =
      a.zip(b).map { case (x, y) => val d = q(x) - q(y); d * d }.sum
    val start = vecs.keys.min
    var mind = vecs.collect { case (id, v) if id != start =>
      id -> d2(v, vecs(start)) }
    var expect = Vector((1, start, None: Option[Long]))
    for (t <- 2 to 8) {
      val (id, r) = mind.toSeq.maxBy { case (i, d) => (d, -i) }
      expect :+= ((t, id, Some(r)))
      mind = (mind - id).map { case (i, d) =>
        i -> math.min(d, d2(vecs(i), vecs(id))) }
    }
    assert(got.toSeq == expect)
    // coverage radius can only shrink as centers accumulate
    val radii = got.flatMap(_._3)
    radii.sliding(2).foreach { case Array(a, b) =>
      assert(b <= a, s"radius grew: $a -> $b") }
    // planted structure: 3 tight clusters far apart, k=3 ⇒ one center each
    import spark.implicits._
    val planted = (0 until 12).map { i =>
      val base = (i % 3) * 50.0f
      (i.toLong, (0 until 64).map(d => base + ((i * 64 + d) % 5) * 0.01f))
    }.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>"))
    val centers = Similarity.kcenterSample(planted, k = 3).collect()
      .map(_.getLong(1))
    assert(centers.map(_ % 3).toSet == Set(0L, 1L, 2L),
      s"centers $centers missed a planted cluster")
    // layout invariance
    val again = Similarity.kcenterSample(emb.repartition(7), k = 8).collect()
      .map(r => (r.getInt(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).sortBy(_._1)
    assert(again.toSeq == got.toSeq)
  }

  test("random projection: exact plain-scala replay, codegen'd, and distance-preserving on average") {
    val df = Similarity.randomProjection(emb, outDims = 16)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("random_projection"), s"missing expr in:\n$plan")
    val got = df.collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val vecs = emb.collect().map(r =>
      r.getAs[Long]("vec_id") -> r.getSeq[Float](r.fieldIndex("embedding"))).toMap
    def q(x: Float): Long = java.math.BigDecimal.valueOf(x.toDouble * 1048576.0)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
    def rp(v: Seq[Float]): IndexedSeq[Long] =
      (0 until 16).map { j =>
        v.indices.map { d =>
          ((1L + j * 64L + d) * 2654435761L) % 1000003L % 6L match {
            case 0L => -q(v(d))
            case 5L => q(v(d))
            case _  => 0L
          }
        }.sum
      }
    vecs.foreach { case (id, v) =>
      val e = rp(v)
      (0 until 16).foreach(j => assert(got((id, j)) == e(j),
        s"vec $id dim $j: got ${got((id, j))} expect ${e(j)}"))
    }
    // JL property on PLANTED structure (the corpus' own pairwise
    // distances are concentrated near 2.0 — no scale separation for a
    // projection to preserve): two tight clusters 10 apart must stay
    // separated after projection — every cross-cluster projected
    // distance above every within-cluster one
    import spark.implicits._
    val planted = (0 until 10).map { i =>
      val base = if (i < 5) 0.0f else 10.0f
      (i.toLong, (0 until 64).map(d => base + ((i * 64 + d) % 7) * 0.01f))
    }.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>"))
    val prj = Similarity.randomProjection(planted, 16).collect()
      .groupBy(_.getLong(0))
      .map { case (id, rows) =>
        id -> rows.sortBy(_.getInt(1)).map(_.getLong(2)) }
    def pd2(a: Long, b: Long): Double =
      prj(a).zip(prj(b)).map { case (x, y) =>
        (x - y).toDouble * (x - y) }.sum
    val within = for (a <- 0L to 4L; b <- 0L to 4L if a < b) yield pd2(a, b)
    val cross = for (a <- 0L to 4L; b <- 5L to 9L) yield pd2(a, b)
    assert(cross.min > within.max,
      s"projection lost cluster separation: cross.min=${cross.min} " +
        s"within.max=${within.max}")
    // layout invariance
    val again = Similarity.randomProjection(emb.repartition(7), 16)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(again == got)
  }

  test("sign-bit words match a plain-scala pack and run codegen'd") {
    import org.apache.spark.sql.GraftBridge
    import graft.functions.SignBits
    val df = emb.select(col("vec_id"), col("embedding"),
      GraftBridge.column(SignBits(GraftBridge.expression(col("embedding")), 0, 32)).as("w0"),
      GraftBridge.column(SignBits(GraftBridge.expression(col("embedding")), 32, 32)).as("w1"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("sign_bits"), s"missing sign_bits in:\n$plan")
    assert(plan.contains("*(1)"), s"no codegen span in:\n$plan")
    df.collect().foreach { r =>
      val v = r.getSeq[Float](1)
      def pack(lo: Int): Long =
        (0 until 32).map(i => if (v(lo + i) > 0f) 1L << i else 0L).sum
      assert(r.getLong(2) == pack(0) && r.getLong(3) == pack(32),
        s"word mismatch for vec ${r.getLong(0)}")
      assert(r.getLong(2) >= 0L && r.getLong(3) >= 0L)
    }
  }

  test("hamming top-k equals a plain-scala xor/popcount recomputation") {
    val queries = emb.filter(col("vec_id") < 10)
    val got = Similarity.hammingTopK(spark, emb, queries, k = 5).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        (r.getAs[Long]("neighbor_id"), r.getAs[Int]("hamming"))).toMap
    val vecs = emb.collect().map(r =>
      r.getAs[Long]("vec_id") -> r.getSeq[Float](r.fieldIndex("embedding"))).toMap
    def sig(v: Seq[Float]): Long =
      v.zipWithIndex.map { case (x, i) => if (x > 0f) 1L << i else 0L }.sum
    val sigs = vecs.map { case (id, v) => id -> sig(v) }
    val expect = (0L until 10L).flatMap { q =>
      sigs.toSeq.filter(_._1 != q)
        .map { case (id, s) =>
          (id, java.lang.Long.bitCount(s ^ sigs(q))) }
        .sortBy { case (id, h) => (h, id) }
        .take(5).zipWithIndex
        .map { case ((id, h), i) => (q, i + 1) -> ((id, h)) }
    }.toMap
    assert(got == expect, s"only-got=${got.toSet -- expect.toSet}, " +
      s"only-expect=${expect.toSet -- got.toSet}")
  }

  test("hamming rerank: picks come from the sign shortlist; exact cosine order within it") {
    val queries = emb.filter(col("vec_id") < 10)
    val short = Similarity.hammingTopK(spark, emb, queries, k = 15)
      .collect().map(r =>
        (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val rr = Similarity.hammingRerankTopK(spark, emb, queries, k = 5,
      kShort = 15).collect()
    rr.foreach { r =>
      assert(short.contains((r.getAs[Long]("query_id"),
        r.getAs[Long]("neighbor_id"))),
        s"re-rank pick escaped the shortlist: $r")
    }
    // within each query the emitted order is (cos_r DESC, id)
    rr.groupBy(_.getAs[Long]("query_id")).values.foreach { rows =>
      val sorted = rows.sortBy(_.getAs[Int]("rank"))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          val (ca, cb) = (a.getAs[Double]("cos_r"), b.getAs[Double]("cos_r"))
          assert(ca > cb || (ca == cb &&
            a.getAs[Long]("neighbor_id") < b.getAs[Long]("neighbor_id")))
        case _ => ()
      }
    }
  }

  test("hamming top-k is bit-identical across partitionings") {
    val queries = emb.filter(col("vec_id") < 10)
    def run(parts: Int) =
      Similarity.hammingTopK(spark, emb.repartition(parts), queries, k = 5)
        .collect().map(_.toString).sorted.toSeq
    assert(run(2) == run(7))
  }

  test("ivf: trained cells cover all vectors; probed search recalls most true neighbors") {
    val queries = emb.filter(col("vec_id") < 5)
    val ivf = Similarity.ivfTopK(spark, emb, queries, k = 5,
      nlist = 8, nprobe = 4, iters = 2).collect()
    val truth = Similarity.bruteForceTopK(spark, emb, queries, k = 5).collect()
    def pairs(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = pairs(ivf).intersect(pairs(truth)).size.toDouble / truth.length
    assert(recall >= 0.4, s"ivf recall too low: $recall")
    // every ivf result must appear in the brute-force FULL ranking top-50
    assert(ivf.nonEmpty)
  }

  test("ivf: training is bit-deterministic across partitionings (scaled-int64 sums)") {
    val queries = emb.filter(col("vec_id") < 5)
    def run(parts: Int) =
      Similarity.ivfTopK(spark, emb.repartition(parts), queries, k = 5,
          nlist = 8, nprobe = 4, iters = 2)
        .collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
          r.getAs[Double]("cos_r"), r.getAs[Int]("rank")))
        .sortBy(t => (t._1, t._4))
    // different partition counts force different shuffle/arrival
    // orders into the centroid aggregation; exact int64 accumulation
    // must still yield the identical model, hence identical results
    val a = run(2)
    val b = run(7)
    assert(a.nonEmpty && a.sameElements(b),
      s"trained-IVF results differ across partitionings: ${a.length} vs ${b.length}")
  }

  test("exact-rerank tail: brute force, ivf probing every cell and hamming rerank over the whole corpus all equal a plain-Scala top-k row for row") {
    val queries = emb.filter(col("vec_id") < 10)
    val vecs = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble))).toMap
    // the cosine_sim kernel's sequential double fold, then Spark's
    // round(x, 4) (HALF_UP on the double's decimal string)
    def cosR(a: Seq[Double], b: Seq[Double]): Double = {
      val (dot, na, nb) = a.zip(b).foldLeft((0.0, 0.0, 0.0)) {
        case ((d, x, y), (p, q)) => (d + p * q, x + p * p, y + q * q)
      }
      val c = if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
      BigDecimal(c).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val expect = (0L until 10L).flatMap { q =>
      vecs.toSeq.filter(_._1 != q)
        .map { case (id, v) => (id, cosR(vecs(q), v)) }
        .sortBy { case (id, c) => (-c, id) }
        .take(5).zipWithIndex
        .map { case ((id, c), i) => (q, id, c, i + 1) }
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "cos_r", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .sortBy(t => (t._1, t._4)).toSeq
    assert(rows(Similarity.bruteForceTopK(spark, emb, queries, k = 5)) == expect)
    // nprobe = nlist: every cell is probed, so every vector is a candidate
    for (iters <- Seq(0, 2))
      assert(rows(Similarity.ivfTopK(spark, emb, queries, k = 5,
        nlist = 8, nprobe = 8, iters = iters)) == expect, s"ivf iters=$iters")
    // a shortlist as long as the corpus keeps every vector
    assert(rows(Similarity.hammingRerankTopK(spark, emb, queries, k = 5,
      kShort = vecs.size)) == expect)
  }

  test("multimodal decode stub: deterministic features, bytes = text length") {
    val docs = TableCatalog(spark, sfDir).documents.limit(20)
    val feats = Multimodal.decodeFeatures(spark, docs, "doc_id", "text").collect()
    assert(feats.length == 20)
    val lens = docs.select(col("doc_id").cast("long"), length(col("text")))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    feats.foreach { f =>
      assert(f.bytes == lens(f.mediaId))
      assert(f.feature.length == 2 && f.feature(0) > 0)
    }
  }

  test("image_dims parses real PNG/JPEG/GIF header bytes and nulls out broken ones") {
    import graft.functions.ImageDims
    def hx(s: String): Array[Byte] =
      s.replaceAll(" ", "").grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    def parse(b: Array[Byte]) = {
      val r = ImageDims.compute(b)
      if (r.isNullAt(0)) None
      else Some((r.getUTF8String(0).toString, r.getInt(1), r.getInt(2), r.getInt(3)))
    }
    // the canonical 1×1 RGBA PNG header, real CRC and all
    assert(parse(hx("89504E470D0A1A0A 0000000D 49484452 00000001 00000001" +
      " 08 06 00 00 00 1F15C489")) == Some(("png", 1, 1, 8)))
    // progressive JPEG whose walk must skip APP1(Exif), DQT, and DHT —
    // DHT (FFC4) sits inside the C0–CF range but is NOT a frame header
    assert(parse(hx("FFD8 FFE10008 457869660000 FFDB0005 010203" +
      " FFC40004 0102 FFC2000B 08 0100 0200 01 112233")) ==
      Some(("jpeg", 512, 256, 8)))
    // GIF87a: LE dims, color resolution from packed bits 6..4
    assert(parse(hx("474946383761 0A00 1400 A2 00 00")) == Some(("gif", 10, 20, 3)))
    // broken inputs: truncated JPEG, SOS before SOF, bad IHDR tag,
    // garbage, empty
    assert(parse(hx("FFD8 FFE0")) == None)
    assert(parse(hx("FFD8 FFDA0002 00")) == None)
    assert(parse(hx("89504E470D0A1A0A 0000000D 58585858 00000001 00000001" +
      " 08 06 00 00 00 1F15C489")) == None)
    assert(parse("hello".getBytes) == None)
    assert(parse(Array.emptyByteArray) == None)
    // WebP, all three chunk kinds: VP8X (LE24 canvas-1), VP8L (14-bit
    // packed dims after the 0x2F sig), lossy VP8 (9D 01 2A sync +
    // 14-bit LE dims); a wrong fourth byte and a bad sync both null
    assert(parse(hx("52494646 16000000 57454250 56503858 0A000000" +
      " 00 000000 130000 250000")) == Some(("webp", 20, 38, 8)))
    // VP8L bits = (10-1) | (20-1)<<14 = 0x0004C009
    assert(parse(hx("52494646 12000000 57454250 5650384C 05000000" +
      " 2F 09C00400 00")) == Some(("webp", 10, 20, 8)))
    assert(parse(hx("52494646 1A000000 57454250 56503820 0E000000" +
      " 000000 9D012A 4001 8002")) == Some(("webp", 320, 640, 8)))
    assert(parse(hx("52494646 16000000 57454250 56503851 0A000000" +
      " 00 000000 130000 250000")) == None) // unknown VP8Q chunk
    assert(parse(hx("52494646 1A000000 57454250 56503820 0E000000" +
      " 000000 9D012B 4001 8002")) == None) // broken lossy sync
  }

  test("mm_image_dims round trip: built containers parse back to the generator parameters") {
    import spark.implicits._
    val ids = (0L until 120L).toDF("doc_id")
    val rows = Multimodal.imageDims(ids, "doc_id").collect()
    assert(rows.length == 120)
    rows.foreach { r =>
      val id = r.getAs[Long]("media_id")
      if (id % 13 == 0) {
        assert(r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3) && r.isNullAt(4),
          s"corrupted payload $id must yield null fields")
      } else {
        val wantFmt = Seq("png", "jpeg", "gif", "webp")((id % 4).toInt)
        assert(r.getAs[String]("format") == wantFmt)
        assert(r.getAs[Int]("width") == 16 + (id % 2048).toInt)
        assert(r.getAs[Int]("height") == 16 + (id * 3 % 2048).toInt)
        val wantBd = (id % 4) match {
          case 0 => Seq(1, 2, 4, 8, 16)((id % 5).toInt)
          case 2 => (id % 8).toInt + 1
          case _ => 8
        }
        assert(r.getAs[Int]("bit_depth") == wantBd, s"bit depth of $id")
      }
    }
  }

  test("audio_meta walks real RIFF/WAV chunks and nulls out broken ones") {
    import graft.functions.AudioMeta
    def hx(s: String): Array[Byte] =
      s.replaceAll(" ", "").grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    def parse(b: Array[Byte]) = {
      val r = AudioMeta.compute(b)
      if (r.isNullAt(0)) None
      else Some((r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4),
        if (r.isNullAt(5)) -1L else r.getLong(5),
        if (r.isNullAt(6)) -1L else r.getLong(6)))
    }
    // canonical PCM header: fmt(16) mono 8000 Hz 16-bit, data 16000
    // bytes → exactly 1000 ms; an odd-sized LIST chunk (3 bytes +
    // pad) sits before fmt so the walk and the pad rule are exercised
    val wav = "52494646 00000000 57415645" +
      " 4C495354 03000000 414141 00" +               // LIST len 3 + pad
      " 666D7420 10000000 0100 0100 401F0000 803E0000 0200 1000" +
      " 64617461 803E0000"                           // data 16000 bytes
    assert(parse(hx(wav)) == Some((1, 1, 8000, 16, 16000L, 1000L)))
    // fmt but no data chunk: format fields real, data/duration null
    val noData = "52494646 00000000 57415645" +
      " 666D7420 10000000 0300 0200 80BB0000 00EE0200 0400 1000"
    assert(parse(hx(noData)) == Some((3, 2, 48000, 16, -1L, -1L)))
    // broken: not RIFF, RIFF-but-not-WAVE, truncated fmt, garbage, empty
    assert(parse(hx("52494647 00000000 57415645")) == None)
    assert(parse(hx("52494646 00000000 57415646")) == None)
    assert(parse(hx("52494646 00000000 57415645 666D7420 10000000 0100")) == None)
    assert(parse("hello world".getBytes) == None)
    assert(parse(Array.emptyByteArray) == None)
  }

  test("video_meta walks real ISO-BMFF boxes (v0 and v1 mvhd) and nulls out broken ones") {
    import graft.functions.VideoMeta
    def hx(s: String): Array[Byte] =
      s.replaceAll(" ", "").grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    def parse(b: Array[Byte]) = {
      val r = VideoMeta.compute(b)
      if (r.isNullAt(0)) None
      else Some((r.getUTF8String(0).toString, r.getLong(1), r.getLong(2),
        r.getInt(3), if (r.isNullAt(4)) -1L else r.getLong(4)))
    }
    // ftyp(isom) + moov{free(2), mvhd v0 ts=600 dur=1500, trak, trak}
    val v0 = "00000010 66747970 69736F6D 00000000" +
      " 0000003E 6D6F6F76" +
      " 0000000A 66726565 4141" +
      " 0000001C 6D766864 00000000 00000000 00000000 00000258 000005DC" +
      " 00000008 7472616B 00000008 7472616B"
    assert(parse(hx(v0)) == Some(("isom", 600L, 1500L, 2, 2500L)))
    // mvhd VERSION 1: 64-bit times; one trak; brand "qt  "
    val v1 = "00000010 66747970 71742020 00000000" +
      " 00000038 6D6F6F76" +
      " 00000028 6D766864 01000000 0000000000000000 0000000000000000" +
      " 000003E8 0000000000002710" +
      " 00000008 7472616B"
    assert(parse(hx(v1)) == Some(("qt  ", 1000L, 10000L, 1, 10000L)))
    // broken: moov without mvhd, ftyp alone, box size past the buffer,
    // bad mvhd version, garbage, empty
    assert(parse(hx("00000010 66747970 69736F6D 00000000" +
      " 00000010 6D6F6F76 00000008 7472616B")) == None)
    assert(parse(hx("00000010 66747970 69736F6D 00000000")) == None)
    assert(parse(hx("00000010 66747970 69736F6D 00000000 000000FF 6D6F6F76")) == None)
    assert(parse(hx("00000010 66747970 69736F6D 00000000" +
      " 00000014 6D6F6F76 0000000C 6D766864 05000000")) == None)
    assert(parse("not a movie at all".getBytes) == None)
    assert(parse(Array.emptyByteArray) == None)
  }

  test("mm_audio/video_meta round trip: built containers parse back to generator parameters") {
    import spark.implicits._
    val ids = (0L until 120L).toDF("doc_id")
    val au = Multimodal.audioMeta(ids, "doc_id").collect()
    assert(au.length == 120)
    au.foreach { r =>
      val id = r.getAs[Long]("media_id")
      if (id % 13 == 0) assert(r.isNullAt(1), s"corrupt $id parsed")
      else {
        val ba = ((id % 2 + 1) * ((id % 3 + 1) * 8) / 8).toInt
        assert(r.getAs[String]("format") == "wav")
        assert(r.getAs[Int]("codec") == (id % 2).toInt * 2 + 1)
        assert(r.getAs[Int]("channels") == (id % 2).toInt + 1)
        assert(r.getAs[Int]("sample_rate") == (id % 8).toInt * 4000 + 8000)
        assert(r.getAs[Int]("bit_depth") == ((id % 3).toInt + 1) * 8)
        assert(r.getAs[Long]("data_bytes") == (id % 1000 + 1) * ba)
      }
    }
    val vi = Multimodal.videoMeta(ids, "doc_id").collect()
    assert(vi.length == 120)
    vi.foreach { r =>
      val id = r.getAs[Long]("media_id")
      if (id % 13 == 0) assert(r.isNullAt(1), s"corrupt $id parsed")
      else {
        assert(r.getAs[String]("brand") ==
          Seq("isom", "mp42", "qt  ")((id % 3).toInt))
        assert(r.getAs[Long]("timescale") == (id % 10) * 100 + 600)
        assert(r.getAs[Long]("duration") == (id % 100000) + 1000)
        assert(r.getAs[Int]("n_tracks") == (id % 3).toInt + 1)
      }
    }
  }

  test("mm_pack: image docs cost text + patch tiles; corrupted payloads cost text alone") {
    import graft.functions.Hash60.tokens
    val d = graft.sources.TableCatalog(spark, sfDir).documents
    val out = SparkEntry.queries("mm_pack")(spark, sfDir)
      .select(col("doc_id"), col("n_tok")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val textTok = d.select(col("doc_id"), size(tokens(col("text"))).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    textTok.foreach { case (id, nt) =>
      val tiles =
        if (id % 13 == 0) 0L
        else ((16 + id % 2048 + 255) / 256) * ((16 + id * 3 % 2048 + 255) / 256)
      assert(out(id) == nt + tiles, s"doc $id: ${out(id)} vs $nt + $tiles")
    }
  }

  test("Int8Dot matches the interpreted integer dot product and stays in codegen") {
    import org.apache.spark.sql.GraftBridge
    import spark.implicits._
    val df = Seq((Array(1, -2, 127), Array(3, 4, -128))).toDF("a", "b")
    val dot = GraftBridge.column(graft.functions.Int8Dot(
      GraftBridge.expression(col("a")), GraftBridge.expression(col("b"))))
    assert(df.select(dot).collect()(0).getLong(0) == 3 - 8 - 127 * 128)
    // quantized top-k ranks close to the float cosine baseline: the
    // true nearest neighbor at rank 1 survives quantization on this data
    val e = TableCatalog(spark, sfDir).embeddings
    val q = e.filter(col("vec_id") < 3)
    val int8 = Similarity.int8TopK(spark, e, q, k = 1).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    val exact = Similarity.bruteForceTopK(spark, e, q, k = 1).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("neighbor_id")).toMap
    assert(int8.keySet == exact.keySet)
    val agree = int8.count { case (k2, v) => exact(k2) == v }
    assert(agree >= int8.size - 1, s"int8 top-1 diverged: $int8 vs $exact")
  }

  test("HLL sketch estimates within the expected error band and is deterministic") {
    val ev = TableCatalog(spark, sfDir).events
    val est = graft.operators.Sketches
      .hllDistinct(ev, Seq("event_type"), col("user_id"), p = 8)
      .collect()
    val truth = ev.groupBy("event_type").agg(countDistinct("user_id"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    est.foreach { r =>
      val e = r.getAs[Double]("hll_est")
      val t = truth(r.getAs[String]("event_type")).toDouble
      // m=256 → ~6.5% standard error; allow 4 sigma
      assert(math.abs(e - t) / t < 0.26, s"est $e vs true $t")
    }
    val est2 = graft.operators.Sketches
      .hllDistinct(ev.repartition(7), Seq("event_type"), col("user_id"), p = 8)
      .collect().map(r => r.getAs[String]("event_type") -> r.getAs[Double]("hll_est")).toMap
    est.foreach(r => assert(
      est2(r.getAs[String]("event_type")) == r.getAs[Double]("hll_est"),
      "estimate changed under repartitioning"))
  }

  test("centroid assignment: separable clusters all correct, equal-sim ties take the lower label") {
    import spark.implicits._
    // separable case: label 0 near e1, label 1 near e2
    val rows = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(0.9f, 0.1f), 0),
      (2L, Array(0.0f, 1.0f), 1),
      (3L, Array(0.1f, 0.9f), 1)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.centroidAssign(spark, rows).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Int]("assigned"), r.getAs[Boolean]("correct")))).toMap
    assert(got(0L) == ((0, true)) && got(1L) == ((0, true)))
    assert(got(2L) == ((1, true)) && got(3L) == ((1, true)))
    // genuine tie: labels 5 and 6 hold IDENTICAL member sets, so
    // their centroids are bit-equal — every vector's cos_r to both
    // is the same and the (cos_r DESC, label ASC) rule must always
    // resolve to the LOWER label, 5
    val tied = Seq(
      (10L, Array(1.0f, 0.0f), 5), (11L, Array(0.0f, 1.0f), 5),
      (12L, Array(1.0f, 0.0f), 6), (13L, Array(0.0f, 1.0f), 6)
    ).toDF("vec_id", "embedding", "label")
    val t = Similarity.centroidAssign(spark, tied).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("assigned")).toMap
    assert(t.values.forall(_ == 5), s"tie not resolved to lower label: $t")
  }

  test("centroid assignment on testdata: deterministic across partitionings, broadcast join, no shuffle of the embedding side past the centroid build") {
    val df = Similarity.centroidAssign(spark, emb)
    val a = df.collect().map(r => r.getAs[Long]("vec_id") ->
      ((r.getAs[Int]("assigned"), r.getAs[Double]("cos_r")))).toMap
    val b = Similarity.centroidAssign(spark, emb.repartition(7)).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Int]("assigned"), r.getAs[Double]("cos_r")))).toMap
    assert(a == b, "assignment changed under repartitioning")
    assert(a.size == emb.count())
    // the scoring join is a broadcast of the tiny centroid table
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"), s"no broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"shuffle join of embeddings:\n$plan")
  }

  // ——— G27: OPQ-lite variance-balanced permutation ———

  test("opqPermutation: valid, variance-balanced at least as well as contiguous, deterministic") {
    val perm = Similarity.opqPermutation(spark, emb)
    assert(perm.sorted == (0 until 64))
    val rows = emb.select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble))
    val n = rows.length.toDouble
    val vars = (0 until 64).map { d =>
      val xs = rows.map(_(d)); val m = xs.sum / n
      xs.map(x => (x - m) * (x - m)).sum / n
    }
    def imbalance(groups: Seq[Seq[Int]]): Double = {
      val sums = groups.map(_.map(vars).sum)
      sums.max - sums.min
    }
    val contiguous = (0 until 4).map(s => (s * 16 until (s + 1) * 16): Seq[Int])
    val dealt = (0 until 4).map(s => perm.slice(s * 16, (s + 1) * 16))
    assert(imbalance(dealt) <= imbalance(contiguous) + 1e-9,
      s"opq ${imbalance(dealt)} vs contiguous ${imbalance(contiguous)}")
    assert(Similarity.opqPermutation(spark, emb.repartition(7)) == perm)
  }

  test("opqCodes beats contiguous PQ when the energy is concentrated in one block") {
    import spark.implicits._
    // all the variance lives in dims 0–15: contiguous PQ forces one
    // 4-codeword codebook to carry it all; the permutation deals the
    // hot dims 4-per-subspace
    def mk(i: Int): Array[Float] = {
      val a = Array.fill(64)(0.0f)
      val h = i * 2654435761L // 16 independent pseudo-random sign bits
      (0 until 16).foreach(d => a(d) = if (((h >> d) & 1L) == 1L) 1.0f else -1.0f)
      (16 until 64).foreach(d => a(d) = 0.01f * ((i + d) % 3))
      a
    }
    val skew = (0 until 24).map(i => (i.toLong, mk(i))).toDF("vec_id", "embedding")
    def totalErr(df: org.apache.spark.sql.DataFrame): Double =
      df.agg(sum(col("err2"))).head().getDouble(0)
    val pqErr = totalErr(Similarity.pqCodes(spark, skew))
    val opqErr = totalErr(Similarity.opqCodes(spark, skew))
    assert(opqErr < pqErr,
      s"balanced decomposition should quantize better: opq=$opqErr pq=$pqErr")
  }

  // ——— G13b: hard-negative mining ———

  test("hardNegatives: nearest WRONG-label items, never self/same-label, plan broadcasts the anchors") {
    val anchors = emb.filter(col("vec_id") < 10)
    val out = Similarity.hardNegatives(spark, emb, anchors, k = 4)
    val rows = out.collect()
    val labels = emb.collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    rows.foreach { r =>
      val (a, n, nl) = (r.getLong(0), r.getLong(1), r.getInt(2))
      assert(n != a && labels(a) != nl, s"bad negative: $r")
    }
    assert(rows.groupBy(_.getLong(0)).values.forall(_.length <= 4))
    // the picks ARE the cosine-nearest wrong-label items: compare to a
    // plain-Scala replay for one anchor
    val a0 = anchors.collect().minBy(_.getLong(0))
    val a0id = a0.getLong(0); val a0l = a0.getInt(2)
    val a0e = a0.getSeq[Float](1).map(_.toDouble)
    def cos(x: Seq[Double], y: Seq[Double]) = {
      val d = x.zip(y).map { case (p, q) => p * q }.sum
      math.rint(d / (math.sqrt(x.map(v => v * v).sum) *
        math.sqrt(y.map(v => v * v).sum)) * 1e4) / 1e4
    }
    val want = emb.collect()
      .filter(r => r.getLong(0) != a0id && r.getInt(2) != a0l)
      .map(r => (cos(a0e, r.getSeq[Float](1).map(_.toDouble)), r.getLong(0)))
      .sortBy { case (c, id) => (-c, id) }.take(4).map(_._2).toSeq
    val got = rows.filter(_.getLong(0) == a0id).sortBy(_.getInt(4))
      .map(_.getLong(1)).toSeq
    assert(got == want, s"anchor $a0id: got $got want $want")
    // scale shape: anchors broadcast, corpus never shuffles pre-window,
    // and the partial top-k prunes before the exchange
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  // ——— F8d: embedding-space decontamination ———

  test("deconEmbed flags planted paraphrase-contamination; benchmark broadcasts, corpus never shuffles") {
    import spark.implicits._
    def v(parts: Double*): Array[Float] = parts.map(_.toFloat).toArray
    val bench = Seq((900L, 1, v(1, 0, 0, 0)), (901L, 2, v(0, 1, 0, 0)))
      .toDF("vec_id", "label", "embedding")
    val corpus = Seq(
      (1L, 1, v(0.99, 0.14, 0, 0)),   // ≈ bench 900 → contaminated
      (2L, 1, v(0, 0, 1, 0)),         // same cell, far → clean
      (3L, 2, v(0.1, 0.99, 0.1, 0)),  // ≈ bench 901 → contaminated
      (4L, 3, v(1, 0, 0, 0)))         // identical direction, WRONG cell
      .toDF("vec_id", "label", "embedding")
    val out = Similarity.deconEmbed(spark, corpus, bench, tau = 0.95)
    val got = out.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.keySet == Set(1L, 3L), s"flagged: ${got.keySet}")
    assert(got(1L)._1 == 1L && got(1L)._2 >= 0.95)
    // scale shape: the benchmark side broadcasts — no corpus exchange
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"),
      s"corpus-side shuffle join crept in:\n$plan")
  }

  // ——— G31: graph-walk ANN ———

  test("graphTopK: the walk beats its entry points, holds a recall floor, and is layout-invariant") {
    import org.apache.spark.sql.expressions.Window
    val q = emb.filter(col("vec_id") < 10)
    val walk = Similarity.graphTopK(spark, emb, q, k = 5) // registers cosine_sim
    // exact top-5 in the REP space — the id space the graph answers in
    val reps = emb.groupBy(col("label"), col("embedding"))
      .agg(min(col("vec_id")).as("vec_id"))
    val exact = q.select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      .crossJoin(reps.select(col("vec_id").as("node"), col("embedding").as("ne")))
      .filter(col("query_id") =!= col("node"))
      .withColumn("cos_r", expr("round(cosine_sim(qe, ne), 4)"))
      .withColumn("rn", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("cos_r").desc, col("node"))))
      .filter(col("rn") <= 5).select("query_id", "node")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (got intersect exact).size.toDouble / exact.size
    }
    val rWalk = recall(walk)
    // entry points alone (rounds = 0) are the walk's baseline: the
    // navigability claim is that expansion strictly improves on them
    val rEntry = recall(Similarity.graphTopK(spark, emb, q, k = 5,
      rounds = 0))
    assert(rWalk > rEntry,
      s"the walk must beat its entries: walk=$rWalk entries=$rEntry")
    // measured floor at the shipped knobs on this corpus (uniform
    // synthetic data is ANN's hard case — the sign/Hamming ladder
    // sits in the same band at matched budget)
    assert(rWalk >= 0.3, s"recall@5 floor: $rWalk")
    // ≤ k answers per query, best-first, never the query itself
    val rows = walk.collect()
    assert(rows.groupBy(_.getLong(0)).forall(_._2.length <= 5))
    assert(rows.forall(r => r.getLong(0) != r.getLong(1)))
    rows.groupBy(_.getLong(0)).values.foreach { rs =>
      val byRank = rs.sortBy(_.getInt(3)).map(_.getDouble(2)).toSeq
      assert(byRank == byRank.sorted.reverse, s"not best-first: $byRank")
    }
    // deterministic on any layout
    val again = Similarity.graphTopK(spark, emb.repartition(7), q, k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).toSet
    assert(again == rows.map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).toSet)
  }

  // ——— G27b: learned OPQ allocation ———

  test("opqAllocation: hand-checked log-domain LPT greedy; valid permutation; layout-invariant") {
    import spark.implicits._
    // planted spectrum on 8 dims (m=2 → dsub=4): amps 10,8,7,5,4,3,2,1
    // → variances 100,64,49,25,16,9,4,1; log costs ln(λ·2²⁰·10⁶)·10⁶
    // ≈ [32.29, 31.84, 31.57, 30.90, 30.46, 29.88, 29.48, 27.68]e6.
    // Hottest-first greedy into the min-log-product bucket:
    // d0→s0, d1→s1, d2→s1, d3→s0, d4→s0, d5→s1, d6→s1(full), d7→s0 —
    // comparison margins ≥ 0.2e6 micronats, far above ln-replay noise
    def mk(i: Int): Array[Float] = {
      val sign = if (i % 2 == 0) 1.0f else -1.0f
      Array(10.0f, 8.0f, 7.0f, 5.0f, 4.0f, 3.0f, 2.0f, 1.0f).map(_ * sign)
    }
    val planted = (0 until 32).map(i => (i.toLong, mk(i)))
      .toDF("vec_id", "embedding")
    val alloc = Similarity.opqAllocation(spark, planted, m = 2)
    assert(alloc.sorted == (0 until 8))
    assert(alloc == Seq(0, 3, 4, 7, 1, 2, 5, 6),
      s"eigenvalue allocation drifted: $alloc")
    assert(Similarity.opqAllocation(spark, planted.repartition(5), m = 2)
      == alloc)
    // the driver-side deterministic ln tracks math.log to 1e-12 over
    // the allocation's whole input domain
    Seq(1e-9, 3.731e-3, 0.0597, 0.3731, 0.5, 0.9999, 1.0).foreach { p =>
      assert(math.abs(Similarity.lnDetScalar(p) - math.log(p)) < 1e-12,
        s"lnDetScalar($p)")
    }
  }

  test("opqRotCodes beats rank-dealing on a pairing-adversarial spectrum; objective never worse") {
    import spark.implicits._
    // variances (55, 20, 20, 1) with m=2, dsub=2: rank-dealing's
    // stride pairs {55, 20} | {20, 1} — products 1100 | 20; the
    // eigenvalue allocation pairs {55, 1} | {20, 20} — products
    // 55 | 400, the balance the paper's objective asks for. Values
    // take 4 deterministic levels per dim so ksub=4 codewords
    // under-cover and the decomposition is what decides err2.
    def lev(i: Int, d: Int): Float =
      (((i * 2654435761L + d * 40503L) >> 7) & 3L) - 1.5f
    def mkA(i: Int): Array[Float] = {
      val amps = Array(7.4f, 4.5f, 4.5f, 1.0f)
      Array.tabulate(4)(d => amps(d) * lev(i, d))
    }
    val corp = (0 until 48).map(i => (i.toLong, mkA(i)))
      .toDF("vec_id", "embedding")
    assert(Similarity.opqAllocation(spark, corp, m = 2)
      .grouped(2).map(_.toSet).toSet == Set(Set(0, 3), Set(1, 2)))
    def totalErr(df: org.apache.spark.sql.DataFrame): Double =
      df.agg(sum(col("err2"))).head().getDouble(0)
    val permErr = totalErr(
      Similarity.opqCodes(spark, corp, m = 2, dsub = 2, ksub = 4, iters = 2))
    val rotErr = totalErr(
      Similarity.opqRotCodes(spark, corp, m = 2, dsub = 2, ksub = 4, iters = 2))
    assert(rotErr < permErr,
      s"balanced products should quantize better: rot=$rotErr perm=$permErr")
    // objective-level guarantee on a geometric-decay spectrum (where
    // end-to-end err2 is k-means-init noise): the allocation's
    // log-product imbalance is never worse than rank-dealing's
    def mkC(i: Int): Array[Float] = {
      val a = Array.fill(64)(0.0f)
      val h = i * 2654435761L
      (0 until 16).foreach { d =>
        val amp = math.pow(0.7, d).toFloat * 8.0f
        a(d) = if (((h >> d) & 1L) == 1L) amp else -amp
      }
      (16 until 64).foreach(d => a(d) = 0.01f * ((i + d) % 3))
      a
    }
    val decay = (0 until 24).map(i => (i.toLong, mkC(i)))
      .toDF("vec_id", "embedding")
    val rows = decay.select("embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble))
    val n = rows.length.toDouble
    val logVar = (0 until 64).map { d =>
      val xs = rows.map(_(d)); val mu = xs.sum / n
      math.log(math.max(xs.map(x => (x - mu) * (x - mu)).sum / n, 1e-12))
    }
    def imbalance(groups: Seq[Seq[Int]]): Double = {
      val sums = groups.map(_.map(logVar).sum)
      sums.max - sums.min
    }
    val dealt = Similarity.opqPermutation(spark, decay)
      .grouped(16).toSeq.map(_.toSeq)
    val alloc = Similarity.opqAllocation(spark, decay)
      .grouped(16).toSeq.map(_.toSeq)
    assert(imbalance(alloc) <= imbalance(dealt) + 1e-9,
      s"alloc ${imbalance(alloc)} vs dealt ${imbalance(dealt)}")
  }

  // ——— G25: Davies-Bouldin cluster evaluation ———

  test("clusterEval: tight well-separated planted clusters score far better than one split cluster") {
    import spark.implicits._
    // two tight clusters on orthogonal axes, ids 0/1 seed the cells
    def jitter(base: Array[Float], k: Int): Array[Float] =
      base.zipWithIndex.map { case (v, d) => v + 0.001f * ((k + d) % 3) }
    val a = Array.fill(8)(0.0f).updated(0, 1.0f)
    val b = Array.fill(8)(0.0f).updated(4, 1.0f)
    val tight = ((0 until 6).map(i => (i.toLong, jitter(a, i))) ++
      (6 until 12).map(i => (i.toLong, jitter(b, i))))
      .toDF("vec_id", "embedding")
    // re-key so ids 0 and 1 land in DIFFERENT planted clusters (the
    // nlist=2 init picks vec_id 0 and 1 as seeds)
    val seeded = tight.withColumn("vec_id",
      when(col("vec_id") === 1, 6L).when(col("vec_id") === 6, 1L)
        .otherwise(col("vec_id")))
    val good = Similarity.clusterEval(spark, seeded, nlist = 2, iters = 2)
      .collect()
    assert(good.length == 2)
    val dbGood = good.head.getAs[Long]("db_micro")
    assert(good.forall(_.getAs[Long]("db_micro") == dbGood))
    assert(good.map(_.getAs[Long]("n_members")).sorted.toSeq == Seq(6L, 6L))
    // same data forced into ONE planted direction split across two
    // seeds → centroids nearly coincide, scatter spans both blobs
    val bad = Similarity.clusterEval(spark,
      tight.withColumn("embedding",
        when(col("vec_id") >= 6, col("embedding")).otherwise(col("embedding"))),
      nlist = 2, iters = 0).collect() // untrained: seeds 0,1 both in blob A
    val dbBad = bad.head.getAs[Long]("db_micro")
    assert(dbGood < dbBad,
      s"planted separation should dominate: good=$dbGood bad=$dbBad")
    // determinism across partitionings
    val again = Similarity.clusterEval(spark, seeded.repartition(5),
      nlist = 2, iters = 2).collect()
    assert(good.map(_.toSeq).sortBy(_.toString).toSeq ==
      again.map(_.toSeq).sortBy(_.toString).toSeq)
  }
}
