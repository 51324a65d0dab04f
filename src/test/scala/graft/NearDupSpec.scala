package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}

/** The near-duplicate core shared by the text, band and embedding
  * dedup operators: the incremental gates' cluster-survivor tail
  * against a plain-Scala union-find, and both min-id collapses'
  * representative rows and member counts.
  */
class NearDupSpec extends SparkTestBase {

  /** Union-find over `pairs`, each root the min id of its component:
    * id → survivor for every id in `ids`.
    */
  private def survivors(ids: Seq[Long], pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    ids.map(i => i -> find(i)).toMap
  }

  // word windows over one token stream: three overlapping windows four
  // words apart form a band chain (1~2, 2~3, not 1~3), asserted below
  private def window(from: Int, len: Int = 30): String =
    (from until from + len).map(w => s"t$w").mkString(" ")

  test("incrementalBands labels a chain, a veto and a singleton like union-find") {
    import spark.implicits._
    val corpus = Seq((1L, window(500))).toDF("doc_id", "text")
    val batch = Seq((11L, window(0)), (12L, window(4)), (13L, window(8)),
      (5L, window(500)), (20L, window(900))).toDF("doc_id", "text")
    val keys = Dedup.bandKeys(batch, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getString(2)))
      .groupBy(_._1).map { case (id, ks) => id -> ks.map(_._2).toSet }
    val index = Dedup.bandIndex(corpus, "doc_id", "text").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    def share(a: Long, b: Long) = (keys(a) & keys(b)).nonEmpty
    assert(share(11, 12) && share(12, 13) && !share(11, 13), "no band chain")
    val vetoed = keys.collect { case (id, ks) if (ks & index).nonEmpty => id }.toSet
    assert(vetoed == Set(5L))
    val kept = keys.keys.filterNot(vetoed).toSeq.sorted
    assert(kept.filter(id => kept.forall(o => o == id || !share(id, o))) == Seq(20L))
    val pairs = for (a <- kept; b <- kept if a < b && share(a, b)) yield (a, b)
    val want = survivors(kept, pairs).groupBy(_._2).map { case (s, m) => s -> m.size.toLong }
    assert(want == Map(11L -> 3L, 20L -> 1L))
    val got = Dedup.incrementalBands(batch, index.toSeq.toDF("band", "key"),
      "doc_id", "text").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("incrementalSemantic labels a chain, a veto and a singleton like union-find") {
    import spark.implicits._
    def unit(deg: Double) =
      Seq(math.cos(math.toRadians(deg)).toFloat, math.sin(math.toRadians(deg)).toFloat, 0f, 0f)
    val tau = 0.7
    // 0°, 40°, 80°: cos 40° ≈ 0.77 links neighbours, cos 80° ≈ 0.17
    // does not link the ends
    val batchRows = Seq(11L -> unit(0), 12L -> unit(40), 13L -> unit(80),
      5L -> Seq(0f, 0f, 1f, 0f), 20L -> Seq(0f, 0f, 0f, 1f))
    val indexRows = Seq(1L -> Seq(0f, 0f, 1f, 0.01f))
    val cents = Seq((0, Seq(1f, 1f, 1f, 1f))).toDF("c_label", "c_emb")
    val index = Similarity.assignCells(spark,
      indexRows.toDF("vec_id", "embedding"), cents)
    def cos(a: Seq[Float], b: Seq[Float]) = {
      def dot(x: Seq[Float], y: Seq[Float]) = x.zip(y).map { case (p, q) => p.toDouble * q }.sum
      dot(a, b) / math.sqrt(dot(a, a) * dot(b, b))
    }
    val vetoed = batchRows.collect {
      case (id, v) if indexRows.exists { case (_, w) => cos(v, w) >= tau } => id
    }.toSet
    assert(vetoed == Set(5L))
    val kept = batchRows.filterNot(r => vetoed(r._1))
    val pairs = for ((a, va) <- kept; (b, vb) <- kept if a < b && cos(va, vb) >= tau)
      yield (a, b)
    assert(pairs.toSet == Set((11L, 12L), (12L, 13L)))
    val byId = survivors(kept.map(_._1), pairs)
    val want = byId.map { case (id, s) =>
        id -> (Option(s), if (s == id) "keep" else "collapsed") } ++
      vetoed.map(_ -> (Option.empty[Long], "vetoed"))
    assert(want(20L) == (Some(20L), "keep") && want(13L) == (Some(11L), "collapsed"))
    val got = Similarity.incrementalSemantic(spark,
        batchRows.toDF("vec_id", "embedding"), index, cents, tau)
      .collect().map(r => r.getLong(0) ->
        (Option(r.getAs[java.lang.Long](2)).map(_.longValue), r.getString(3))).toMap
    assert(got == want)
  }

  test("both collapses keep the min-id row with exact n_members on copy groups of 1, 2 and 5") {
    import spark.implicits._
    // text: word-order permutations and case share a fingerprint
    val docs = Seq(
      (7L, "alpha beta", "a"),
      (9L, "delta gamma", "b"), (4L, "gamma delta", "c"),
      (15L, "x y z", "d"), (3L, "z y x", "e"), (12L, "Y X Z", "f"),
      (8L, "x z y", "g"), (10L, "y z x", "h")).toDF("doc_id", "text", "tag")
    val text = Dedup.collapseFingerprints(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    assert(text == Set((7L, "alpha beta", "a", 1L), (4L, "gamma delta", "c", 2L),
      (3L, "z y x", "e", 5L)))
    // (label, embedding): the same vector under another label is
    // another group
    val v1 = Seq(1f, 0f, 0f, 0f)
    val v2 = Seq(0.9f, 0.1f, 0f, 0f)
    val v5 = Seq(0.8f, 0.2f, 0f, 0f)
    val emb = (Seq((30L, 1, v1), (27L, 1, v2), (22L, 1, v2), (5L, 2, v5)) ++
      Seq(19L, 11L, 16L, 14L, 18L).map(id => (id, 1, v5)))
      .toDF("vec_id", "label", "embedding")
    val pairs = Similarity.nearDupPairsCollapsed(spark, emb, 0.5).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(4), r.getLong(5))).toSet
    assert(pairs == Set((11L, 22L, 5L, 2L), (11L, 30L, 5L, 1L), (22L, 30L, 2L, 1L)))
    val graph = Similarity.knnGraph(spark, emb, k = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(4)).toSet
    assert(graph == Set(11L -> 5L, 22L -> 2L, 30L -> 1L))
  }
}
