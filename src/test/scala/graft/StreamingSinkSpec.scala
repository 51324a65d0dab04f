package graft

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.plans.PipelineSinks

/** E6/E7: stream-stream interval join and the $merge micro-batch
  * sink — the streaming forms of C27 and the join surface. The merge
  * sink invariant: folding a CDC stream through foreachBatch-merge
  * must land the same final table as one batch merge of everything.
  */
class StreamingSinkSpec extends SparkTestBase {

  final case class Click(user: Long, click_id: Long, ts: Timestamp)
  final case class View(user: Long, view_id: Long, ts: Timestamp)

  private def t(ms: Long) = new Timestamp(1700000000000L + ms)

  /** A 60-word doc that passes every Gopher rule; a seed-unique token
    * gives each seed its own fingerprint.
    */
  private def gopherDoc(seed: Int): String = {
    val pool = Vector("quick", "brown", "foxes", "jumped", "fences",
      "little", "garden", "stones", "rivers", "bright", "clouds",
      "forest", "meadow", "silver", "golden", "branch")
    (0 until 60).map { i =>
      if (i % 7 == 3) "the" else if (i % 11 == 5) "of"
      else if (i % 17 == 2) s"word$seed"
      else pool((seed * 13 + i * 5) % pool.size)
    }.mkString(" ")
  }

  test("E6: stream-stream interval join matches clicks to views within the window") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val clicks = MemoryStream[Click]
    val views = MemoryStream[View]
    val c = clicks.toDF().withWatermark("ts", "1 minute")
    val v = views.toDF().withWatermark("ts", "1 minute")
    // view must precede the click by at most 30s — the ad-attribution shape
    val joined = v.alias("v").join(c.alias("c"),
      expr("""v.user = c.user AND
              c.ts >= v.ts AND c.ts <= v.ts + interval 30 seconds"""))
      .select(col("v.user").as("user"), col("view_id"), col("click_id"))
    val q = joined.writeStream.format("memory").queryName("attributed")
      .outputMode("append").start()
    try {
      views.addData(View(1, 100, t(0)), View(2, 200, t(0)))
      clicks.addData(Click(1, 900, t(10000)),  // within 30s → match
        Click(2, 901, t(45000)))               // 45s later → no match
      q.processAllAvailable()
      val rows = spark.table("attributed").collect()
        .map(r => (r.getAs[Long]("user"), r.getAs[Long]("view_id"),
          r.getAs[Long]("click_id"))).toSet
      assert(rows == Set((1L, 100L, 900L)))
    } finally q.stop()
  }

  test("E7: foreachBatch $merge sink converges to the batch merge result") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    final case class Doc(k: Long, v: String)
    val ms = MemoryStream[(Long, String)]
    // target starts with two rows; stream delivers upserts across batches
    var target = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val q = ms.toDF().toDF("k", "v").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // micro-batch upsert = the same pure merge operator as C27
        target = PipelineSinks.merge(target, batch, "k",
          whenMatched = "replace", whenNotMatched = "insert")
          .localCheckpoint(eager = true)
        ()
      }.start()
    try {
      ms.addData((2L, "B1"))
      q.processAllAvailable()
      ms.addData((2L, "B2"), (3L, "C"))
      q.processAllAvailable()
      val got = target.collect().map(r => (r.getLong(0), r.getString(1))).toMap
      assert(got == Map(1L -> "a", 2L -> "B2", 3L -> "C"))
      // equivalence: one batch merge of the stream's latest-per-key state
      val all = Seq((2L, "B1"), (2L, "B2"), (3L, "C")).toDF("k", "v")
        .groupBy("k").agg(max_by(col("v"), col("v")).as("v")) // B2 > B1 lexically
      val batchMerge = PipelineSinks.merge(
        Seq((1L, "a"), (2L, "b")).toDF("k", "v"), all, "k")
        .collect().map(r => (r.getLong(0), r.getString(1))).toMap
      assert(batchMerge == got)
    } finally q.stop()
  }

  test("C27 persisted: $merge/$out write a live parquet target, survive re-read and a second merge") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-merge-target")
      .toString + "/state"

    // generation 0: $out seeds the target
    PipelineSinks.outToParquet(spark,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), dir)
    assert(spark.read.parquet(dir).count() == 2)

    // generation 1: merge reads the live target it is about to replace
    PipelineSinks.mergeIntoParquet(spark,
      Seq((2L, "B"), (3L, "C")).toDF("k", "v"), dir, "k")
    val g1 = spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(g1 == Map(1L -> "a", 2L -> "B", 3L -> "C"))

    // generation 2: a second round on the re-read table (discard new keys)
    PipelineSinks.mergeIntoParquet(spark,
      Seq((3L, "C2"), (4L, "D")).toDF("k", "v"), dir, "k",
      whenNotMatched = "discard")
    val g2 = spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(g2 == Map(1L -> "a", 2L -> "B", 3L -> "C2"))

    // no generation debris left beside the live directory
    val parent = new java.io.File(dir).getParentFile.listFiles().map(_.getName)
    assert(parent.sameElements(Array("state")), parent.mkString(","))
  }

  test("C27 persisted: first merge into a nonexistent target bootstraps it ($merge creates the collection)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-merge-boot")
      .toString + "/fresh"
    PipelineSinks.mergeIntoParquet(spark,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), dir, "k")
    val got = spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got == Map(1L -> "a", 2L -> "b"))
  }

  test("C27 persisted: a merge into a live target launches no schema-inference job") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-merge-noinfer")
      .toString + "/state"
    PipelineSinks.mergeIntoParquet(spark,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), dir, "k")
    // generation 2 reads generation 1 with the schema of its footer
    val (all, outside) = jobsOutsideSql(PipelineSinks.mergeIntoParquet(spark,
      Seq((2L, "B"), (3L, "C")).toDF("k", "v"), dir, "k"))
    assert(all > 0)
    assert(outside.isEmpty, s"jobs outside a SQL execution: $outside of $all")
    val got = spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got == Map(1L -> "a", 2L -> "B", 3L -> "C"))
  }

  test("C27 persisted: a merge whose source lacks a target column, or adds one, raises and leaves the target unchanged") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-merge-schema")
      .toString + "/state"
    PipelineSinks.outToParquet(spark,
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "v", "w"), dir)
    def live() = spark.read.parquet(dir)
    intercept[IllegalArgumentException](PipelineSinks.mergeIntoParquet(spark,
      Seq((2L, "B"), (3L, "C")).toDF("k", "v"), dir, "k"))
    intercept[IllegalArgumentException](PipelineSinks.mergeIntoParquet(spark,
      Seq((2L, "B", 1L, "x")).toDF("k", "v", "w", "extra"), dir, "k"))
    assert(live().columns.toSeq == Seq("k", "v", "w"))
    assert(live().collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSet == Set((1L, "a", 10L), (2L, "b", 20L)))
  }

  test("D4: bulk-size chunking — no flush exceeds bulk-size, nothing is dropped") {
    import spark.implicits._
    import graft.streaming.BulkWriter
    val sizes = spark.sparkContext.collectionAccumulator[Int]("bulkSizes")
    val batch = (1L to 10L).toDF("k").repartition(3)
    BulkWriter.chunked(bulkSize = 3)(rows => sizes.add(rows.size))(batch, 0L)
    val flushed = sizes.value
    assert(flushed.asScala.forall(_ <= 3), s"oversized bulk: $flushed")
    assert(flushed.asScala.sum == 10, s"lost rows: $flushed")
    assert(flushed.size() >= 4) // 10 rows / bulk 3 needs ≥ 4 writes
  }

  test("curation capstone: streamed gate → incremental dedup → live corpus ≡ batch curation") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import graft.operators.{Dedup, TextAnalysis}
    import graft.streaming.CurationJob
    // 60-word docs that pass every Gopher rule; pool of 4-6 letter
    // words + periodic stopwords; seed varies the content
    val pool = Vector("quick", "brown", "foxes", "jumped", "fences",
      "little", "garden", "stones", "rivers", "bright", "clouds",
      "forest", "meadow", "silver", "golden", "branch")
    // the i*5 walk visits the whole pool for every seed, so a
    // seed-unique token is what makes the distinct-token SET (and
    // hence the fingerprint) differ between seeds
    def doc(seed: Int): String = (0 until 60).map { i =>
      if (i % 7 == 3) "the" else if (i % 11 == 5) "of"
      else if (i % 17 == 2) s"word$seed"
      else pool((seed * 13 + i * 5) % pool.size)
    }.mkString(" ")

    val dir = java.nio.file.Files.createTempDirectory("graft-curation").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-curation-ckpt").toString
    val ms = MemoryStream[(Long, String)]
    val q = CurationJob.run(ms.toDF().toDF("doc_id", "text"), dir, ckpt)
    val allRows = scala.collection.mutable.ListBuffer[(Long, String)]()
    def feed(rows: (Long, String)*): Unit = {
      allRows ++= rows; ms.addData(rows: _*); q.processAllAvailable()
    }
    try {
      // batch 1: three distinct docs, one same-batch duplicate (id 6
      // copies id 1 → min-id wins), one junk doc (fails Gopher)
      feed((1L, doc(1)), (2L, doc(2)), (3L, doc(3)), (6L, doc(1)),
        (99L, "too short"))
      // batch 2: a cross-batch duplicate (id 7 copies id 2 → the
      // standing index drops it) and one genuinely new doc
      feed((7L, doc(2)), (8L, doc(8)))
    } finally q.stop()

    def corpus() = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$dir/data")
    val corpusIds = corpus().select("doc_id").collect().map(_.getLong(0)).toSet
    assert(corpusIds == Set(1L, 2L, 3L, 8L), corpusIds.toString)
    // the standing index holds exactly the accepted fingerprints
    assert(spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$dir/index").distinct().count() == 4)
    // exactly-once: re-delivering batch 1 (same batchId) is a no-op —
    // the index read excludes the batch's own shard, so the retry
    // rewrites identical content instead of dropping the batch
    graft.streaming.CurationJob.applyBatch(
      Seq((7L, doc(2)), (8L, doc(8))).toDF("doc_id", "text"),
      dir, "doc_id", "text", batchId = 1L)
    assert(corpus().select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 3L, 8L))
    // ids arrived in increasing order ⇒ the streamed fold must equal
    // batch-mode curation of the whole input
    val all = allRows.toSeq.toDF("doc_id", "text")
    val gated = all.join(TextAnalysis.gopherRules(all, "doc_id", "text")
      .filter(col("pass")).select("doc_id"), Seq("doc_id"))
    val batchMode = Dedup.fingerprint(gated, "doc_id", "text")
      .select("survivor").collect().map(_.getLong(0)).toSet
    assert(corpusIds == batchMode)
  }

  test("curation index compaction: shard count stays bounded, dedup and exactly-once survive the fold") {
    import spark.implicits._
    import graft.streaming.CurationJob
    // same Gopher-passing doc generator as the capstone spec
    val pool = Vector("quick", "brown", "foxes", "jumped", "fences",
      "little", "garden", "stones", "rivers", "bright", "clouds",
      "forest", "meadow", "silver", "golden", "branch")
    def doc(seed: Int): String = (0 until 60).map { i =>
      if (i % 7 == 3) "the" else if (i % 11 == 5) "of"
      else if (i % 17 == 2) s"word$seed"
      else pool((seed * 13 + i * 5) % pool.size)
    }.mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft-curation-compact").toString
    val K = 3
    def entries(sub: String, root: String = dir) = {
      val p = new org.apache.hadoop.fs.Path(s"$root/$sub")
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      fs.listStatus(p).map(_.getPath.getName).toSeq.sorted
    }
    def indexEntries() = entries("index")
    def corpusIds() = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$dir/data").select("doc_id").collect().map(_.getLong(0)).toSet
    // 12 micro-batches (= 4K): each brings one fresh doc and one
    // duplicate of a doc accepted ~3 batches earlier — by then the
    // original's fp lives only inside a compacted generation, so a
    // drop proves the fold preserved the fingerprints
    def rows(b: Int): Seq[(Long, String)] = {
      val fresh = (100L + b, doc(b))
      if (b >= 3) Seq(fresh, (900L + b, doc(b - 3))) else Seq(fresh)
    }
    (0 until 6).foreach { b =>
      CurationJob.applyBatch(rows(b).toDF("doc_id", "text"), dir,
        "doc_id", "text", batchId = b.toLong, compactEvery = K)
    }
    // with K=3 the folds fire at batches 3 and 5; batch 5's first
    // attempt folded {g3, b3, b4} into g5. Re-deliver batch 5 (the
    // only batch the streaming protocol can retry at this point):
    // its own shard is excluded from the index read and was NOT
    // folded, so the retry must rewrite identical content — not
    // drop the batch against its own fingerprints
    val before = corpusIds()
    assert(indexEntries().contains("g5"), indexEntries().toString)
    CurationJob.applyBatch(rows(5).toDF("doc_id", "text"), dir,
      "doc_id", "text", batchId = 5L, compactEvery = K)
    assert(corpusIds() == before, "compaction-boundary retry dropped rows")
    (6 until 12).foreach { b =>
      CurationJob.applyBatch(rows(b).toDF("doc_id", "text"), dir,
        "doc_id", "text", batchId = b.toLong, compactEvery = K)
    }
    // every fresh doc accepted, every lagged duplicate dropped —
    // including those whose originals were folded generations ago
    assert(corpusIds() == (0 until 12).map(100L + _).toSet, corpusIds().toString)
    // the index never holds more than K+1 entries and exactly the
    // accepted fingerprints (no loss, no double-count after distinct)
    assert(indexEntries().size <= K + 1, indexEntries().toString)
    assert(spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$dir/index").distinct().count() == 12)
    // DATA shards fold tiered (write-once h* generations, b-shards
    // only between folds): with K=3 over 12 batches the folds fire
    // at 3/6/9 (each folding the three shards BEFORE its own), so
    // the tail b9..b11 stays un-folded (batch 11 sees only
    // {b9, b10} — below K). The corpusIds assertion above already
    // proved the folds lost nothing.
    assert(entries("data") == Seq("b10", "b11", "b9", "h3", "h6", "h9"),
      entries("data").toString)
    // the same 12 batches with every text gate on: each gate's standing
    // dir is compacted along with the fp index, never left to grow
    val dir2 = java.nio.file.Files.createTempDirectory("graft-curation-compact2").toString
    (0 until 12).foreach { b =>
      CurationJob.applyBatch(rows(b).toDF("doc_id", "text"), dir2,
        "doc_id", "text", batchId = b.toLong, compactEvery = K,
        fuzzy = true, spanTrim = true, searchStats = true)
    }
    Seq("index", "bands", "blocks", "sstats").foreach { sub =>
      assert(entries(sub, dir2).size <= K + 1, s"$sub: ${entries(sub, dir2)}")
    }
    assert(entries("data", dir2) == Seq("b10", "b11", "b9", "h3", "h6", "h9"),
      entries("data", dir2).toString)
  }

  test("curation daemon fuzzy gate: paraphrases of accepted content are vetoed across batches") {
    import spark.implicits._
    import graft.streaming.CurationJob
    val pool = Vector("quick", "brown", "foxes", "jumped", "fences",
      "little", "garden", "stones", "rivers", "bright", "clouds",
      "forest", "meadow", "silver", "golden", "branch")
    def doc(seed: Int): String = (0 until 60).map { i =>
      if (i % 7 == 3) "the" else if (i % 11 == 5) "of"
      else if (i % 17 == 2) s"word$seed"
      else pool((seed * 13 + i * 5) % pool.size)
    }.mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft-curation-fuzzy").toString
    CurationJob.applyBatch(Seq((1L, doc(1)), (2L, doc(2))).toDF("doc_id", "text"),
      dir, "doc_id", "text", batchId = 0L, fuzzy = true)
    // batch 1: an exact copy (same token SET -> exact-fp gate drops
    // it), a PARAPHRASE with appended words (different fingerprint —
    // the exact gate would admit it; only the band gate can veto),
    // and a genuinely new doc
    CurationJob.applyBatch(Seq(
      (10L, doc(1)),
      (11L, doc(1) + " appended trailing words"),
      (12L, doc(9))).toDF("doc_id", "text"),
      dir, "doc_id", "text", batchId = 1L, fuzzy = true)
    def corpusIds() = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$dir/data").select("doc_id").collect().map(_.getLong(0)).toSet
    assert(corpusIds() == Set(1L, 2L, 12L), corpusIds().toString)
    // sanity: the paraphrase really does carry a DIFFERENT exact
    // fingerprint — without the band gate it would have been accepted
    val fps = graft.operators.Dedup.fingerprintIndex(
      Seq(doc(1), doc(1) + " appended trailing words").toDF("text"), "text")
    assert(fps.count() == 2)
    // exactly-once across the fuzzy path: re-delivering batch 1
    // rewrites identical content (its own data/index/bands shards are
    // excluded from the reads)
    CurationJob.applyBatch(Seq(
      (10L, doc(1)),
      (11L, doc(1) + " appended trailing words"),
      (12L, doc(9))).toDF("doc_id", "text"),
      dir, "doc_id", "text", batchId = 1L, fuzzy = true)
    assert(corpusIds() == Set(1L, 2L, 12L))
    // the band index holds exactly the ACCEPTED docs' bands: 3 docs
    // x 4 bands (all distinct here)
    assert(spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$dir/bands").distinct().count() == 12)
  }

  test("curation daemon span-trim gate: corpus-seen blocks vanish before gating, re-delivery no-op") {
    import spark.implicits._
    import graft.streaming.CurationJob
    val pool = Vector("quick", "brown", "foxes", "jumped", "fences",
      "little", "garden", "stones", "rivers", "bright", "clouds",
      "forest", "meadow", "silver", "golden", "branch")
    def doc(seed: Int): String = (0 until 60).map { i =>
      if (i % 7 == 3) "the" else if (i % 11 == 5) "of"
      else if (i % 17 == 2) s"word$seed"
      else pool((seed * 13 + i * 5) % pool.size)
    }.mkString(" ")
    val a = doc(1)
    val dir = java.nio.file.Files.createTempDirectory("graft-curation-trim").toString
    CurationJob.applyBatch(Seq((1L, a)).toDF("doc_id", "text"),
      dir, "doc_id", "text", batchId = 0L, spanTrim = true)
    def corpus() = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$dir/data").select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(corpus() == Map(1L -> a), "first batch stores verbatim")
    // batch 1: doc 10 leads with A's first aligned block + novel
    // content — the seen block must be trimmed BEFORE gating and the
    // stored text lacks it; doc 11 is NOTHING BUT A's first two
    // blocks — it trims to empty and the Gopher gate rejects it
    val b = a.take(30) + " " + doc(5)
    CurationJob.applyBatch(Seq((10L, b), (11L, a.take(60)))
        .toDF("doc_id", "text"),
      dir, "doc_id", "text", batchId = 1L, spanTrim = true)
    assert(corpus() == Map(1L -> a, 10L -> b.drop(30)),
      s"got ${corpus().view.mapValues(_.take(40)).toMap}")
    // re-delivery of batch 1: own blocks shard excluded → identical
    CurationJob.applyBatch(Seq((10L, b), (11L, a.take(60)))
        .toDF("doc_id", "text"),
      dir, "doc_id", "text", batchId = 1L, spanTrim = true)
    assert(corpus() == Map(1L -> a, 10L -> b.drop(30)))
    // the block index holds exactly the stored docs' aligned blocks
    val idx = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$dir/blocks").distinct().count()
    val expect = graft.operators.Dedup.blockIndex(
      Seq(a, b.drop(30)).toDF("text"), "text").count()
    assert(idx == expect, s"index $idx vs expected $expect")
  }

  test("curation daemon semantic gate: embedding near-dups vetoed, batch-internal collapse, re-delivery no-op, streamed ≡ batch") {
    import spark.implicits._
    import graft.streaming.CurationJob
    val pool = Vector("quick", "brown", "foxes", "jumped", "fences",
      "little", "garden", "stones", "rivers", "bright", "clouds",
      "forest", "meadow", "silver", "golden", "branch")
    def doc(seed: Int): String = (0 until 60).map { i =>
      if (i % 7 == 3) "the" else if (i % 11 == 5) "of"
      else if (i % 17 == 2) s"word$seed"
      else pool((seed * 13 + i * 5) % pool.size)
    }.mkString(" ")
    // fixed 2-cell coarse quantizer; vectors engineered so ONLY the
    // semantic gate can produce each outcome (all texts are distinct)
    val cents = Seq(0 -> Seq(1f, 0f, 0f, 0f), 1 -> Seq(0f, 1f, 0f, 0f))
    val gate = Some(CurationJob.SemanticGate("embedding", 0.98, cents))
    val u1 = Seq(0.9f, 0.1f, 0f, 0f) // cell 0
    val u2 = Seq(0.1f, 0.9f, 0f, 0f) // cell 1
    val e10 = Seq(0.88f, 0.12f, 0f, 0f) // ≈ u1 → vetoed vs standing
    val e12 = Seq(0.1f, 0.2f, 0.95f, 0f) // cell 1, far from everything
    val e13 = Seq(0.1f, 0.85f, 0.2f, 0f) // ≈ e14, both cell 1
    val e14 = Seq(0.12f, 0.84f, 0.2f, 0f) // collapses to 13
    val b0 = Seq((1L, doc(1), u1), (2L, doc(2), u2))
    val b1 = Seq((10L, doc(3), e10), (12L, doc(4), e12),
      (13L, doc(5), e13), (14L, doc(6), e14))
    val dir = java.nio.file.Files.createTempDirectory("graft-curation-sem").toString
    def apply1(rows: Seq[(Long, String, Seq[Float])], id: Long, d: String = dir) =
      CurationJob.applyBatch(rows.toDF("doc_id", "text", "embedding"),
        d, "doc_id", "text", batchId = id, semantic = gate)
    def corpusIds(d: String = dir) = spark.read
      .option("recursiveFileLookup", "true")
      .parquet(s"$d/data").select("doc_id").collect().map(_.getLong(0)).toSet
    apply1(b0, 0L)
    apply1(b1, 1L)
    // 10 is a semantic dup of accepted 1 (exact fp differs!); 14
    // collapses onto batch-mate 13; 12 is genuinely novel
    assert(corpusIds() == Set(1L, 2L, 12L, 13L), corpusIds().toString)
    // exactly-once: re-delivery of batch 1 excludes its own semidx
    // shard → identical rewrite, nothing dropped
    apply1(b1, 1L)
    assert(corpusIds() == Set(1L, 2L, 12L, 13L))
    // the semantic index holds exactly the accepted rows' cells
    val idx = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$dir/semidx").distinct()
    assert(idx.count() == 4)
    assert(idx.select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 12L, 13L))
    // streamed fold ≡ batch-mode curation of the whole input: the
    // cross-batch veto of 10 becomes a batch-internal collapse onto
    // 1 — same surviving corpus
    val dir2 = java.nio.file.Files.createTempDirectory("graft-curation-sem2").toString
    apply1(b0 ++ b1, 0L, dir2)
    assert(corpusIds(dir2) == Set(1L, 2L, 12L, 13L), corpusIds(dir2).toString)
  }

  test("incremental kNN graph (E23): streamed edge shards ≡ batch graph across batches, compaction, re-delivery") {
    import spark.implicits._
    import graft.streaming.CurationJob
    import graft.operators.Similarity
    val pool = Vector("quick", "brown", "foxes", "jumped", "fences",
      "little", "garden", "stones", "rivers", "bright", "clouds",
      "forest", "meadow", "silver", "golden", "branch")
    def doc(seed: Int): String = (0 until 60).map { i =>
      if (i % 7 == 3) "the" else if (i % 11 == 5) "of"
      else if (i % 17 == 2) s"word$seed"
      else pool((seed * 13 + i * 5) % pool.size)
    }.mkString(" ")
    val cents = Seq(0 -> Seq(1f, 0f, 0f, 0f), 1 -> Seq(0f, 1f, 0f, 0f))
    // tau high enough that none of the spread vectors veto (max
    // pairwise cos ≈ 0.9903) — the gate is on, the graph is the point
    val gate = Some(CurationJob.SemanticGate("embedding", 0.999, cents))
    val vecs = Map(
      1L -> Seq(1f, 0.2f, 0f, 0f), 3L -> Seq(1f, 0f, 0.5f, 0f),
      5L -> Seq(1f, 0f, 0f, 0.7f), 7L -> Seq(0.9f, 0.1f, 0.3f, 0.3f),
      9L -> Seq(1f, 0.1f, 0.1f, 0f),
      2L -> Seq(0.2f, 1f, 0f, 0f), 4L -> Seq(0f, 1f, 0.5f, 0f),
      6L -> Seq(0f, 1f, 0f, 0.6f), 8L -> Seq(0.1f, 0.9f, 0.2f, 0.2f))
    val batches = Seq(Seq(1L, 2L, 3L), Seq(4L, 5L, 6L), Seq(7L, 8L, 9L))
    val dir = java.nio.file.Files.createTempDirectory("graft-curation-knn").toString
    def apply1(ids: Seq[Long], b: Long): Unit = CurationJob.applyBatch(
      ids.map(i => (i, doc(i.toInt), vecs(i))).toDF("doc_id", "text", "embedding"),
      dir, "doc_id", "text", batchId = b, compactEvery = 2,
      semantic = gate, knnK = 2)
    def graphSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    def streamed = graphSet(CurationJob.knnGraph(spark, dir, k = 2))
    def reference = graphSet(Similarity.cellKnnGraph(spark,
      spark.read.option("recursiveFileLookup", "true").parquet(s"$dir/semidx"),
      "doc_id", "embedding", k = 2))
    batches.zipWithIndex.foreach { case (ids, b) =>
      apply1(ids, b.toLong)
      assert(streamed == reference, s"batch $b: streamed ≠ batch graph")
    }
    val after = streamed
    // an OLD vertex's list was updated by a later batch: 9 (batch 2)
    // is vertex 1's best neighbor (cos ≈ 0.9903 beats every batch-0/1
    // cell-mate) — the standing→new reverse edges did their job
    val v1 = after.filter(_._1 == 1L).toSeq.sortBy(_._2)
    assert(v1.head._3 == 9L, s"vertex 1 top-1 should be 9: $v1")
    // every vertex has ≤ k = 2 neighbors; all 9 vertices present
    assert(after.groupBy(_._1).forall(_._2.size <= 2))
    assert(after.map(_._1).size == 9 * 2 ||
      after.groupBy(_._1).size == 9)
    // re-delivery of the last batch: own knn + semidx shards excluded
    // on read → identical rewrite
    apply1(batches.last, 2L)
    assert(streamed == after)
    assert(streamed == reference)
    // compaction's visible window (the r15 advice fix): the folded
    // generation is renamed in but the source shards aren't deleted
    // yet — every edge row appears TWICE. Set-semantic readers shrug;
    // the RANKED reader must too, or a duplicated best-neighbor row
    // displaces the genuine second neighbor from a k=2 list. Simulate
    // by writing a full copy of the standing edges as one more shard.
    val allEdges = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$dir/knn")
    allEdges.write.parquet(s"$dir/knn/gwindow")
    assert(streamed == after,
      "duplicated edge shards displaced genuine neighbors — the " +
        "knnGraph reader must dedup before BoundedTopK ranking")
  }

  test("streaming BM25 stats ledger (E24): ledger-backed search ≡ batch scan across batches, compaction, re-delivery, window") {
    import spark.implicits._
    import graft.streaming.CurationJob
    import graft.operators.TextAnalysis
    val pool = Vector("quick", "brown", "foxes", "jumped", "fences",
      "little", "garden", "stones", "rivers", "bright", "clouds",
      "forest", "meadow", "silver", "golden", "branch")
    def doc(seed: Int): String = (0 until 60).map { i =>
      if (i % 7 == 3) "the" else if (i % 11 == 5) "of"
      else if (i % 17 == 2) s"word$seed"
      else pool((seed * 13 + i * 5) % pool.size)
    }.mkString(" ")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-curation-sstats").toString
    val batches = Seq(Seq(1L, 2L, 3L), Seq(4L, 5L), Seq(6L, 7L, 8L))
    def apply1(ids: Seq[Long], b: Long): Unit = CurationJob.applyBatch(
      ids.map(i => (i, doc(i.toInt))).toDF("doc_id", "text"),
      dir, "doc_id", "text", batchId = b, compactEvery = 2,
      searchStats = true)
    val terms = Seq("quick", "word1", "garden")
    def viaLedger = CurationJob
      .searchCorpus(spark, dir, "doc_id", "text", terms, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    def viaScan = TextAnalysis.bm25(
      spark.read.option("recursiveFileLookup", "true").parquet(s"$dir/data"),
      "doc_id", "text", terms, k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    batches.zipWithIndex.foreach { case (ids, b) =>
      apply1(ids, b.toLong)
      assert(viaLedger == viaScan, s"batch $b: ledger scores ≠ scan scores")
    }
    val settled = viaLedger
    assert(settled.nonEmpty && settled.forall(_._2 > 0))
    // re-delivery of the last batch: the overwritten shard is an
    // identical rewrite, sums unchanged
    apply1(batches.last, 2L)
    assert(viaLedger == settled)
    // compaction's visible window: a full copy of the ledger rows as
    // one more shard — rows are unique keys (src column), so the
    // reader's distinct() drops exactly the copies; the SUM-semantic
    // ledger must survive what the set-semantic indexes shrug off
    spark.read.option("recursiveFileLookup", "true").parquet(s"$dir/sstats")
      .write.parquet(s"$dir/sstats/gwindow")
    assert(viaLedger == settled,
      "window-duplicated ledger shards corrupted the BM25 stats sums")
    // the at-scale claim, plan-asserted: ONE corpus (data) scan — the
    // tf pass — plus ONE vocab-sized sstats scan; no second corpus
    // pass for stats (that is the whole point of the ledger)
    val plan = CurationJob
      .searchCorpus(spark, dir, "doc_id", "text", terms, k = 10)
      .queryExecution.executedPlan.toString
    val scans = "FileScan parquet".r.findAllIn(plan).length
    assert(scans == 2, s"want 2 scans (data tf + sstats ledger), got $scans:\n$plan")
    assert("sstats".r.findAllIn(plan).nonEmpty, plan)
    // contract error: no ledger
    val bare = java.nio.file.Files
      .createTempDirectory("graft-curation-noled").toString
    intercept[IllegalArgumentException] {
      CurationJob.searchCorpus(spark, bare, "doc_id", "text", Seq("x"))
    }
    // PLAIN-TERM contract (round 16): the sstats ledger is keyed by
    // exact whitespace tokens — phrase/prefix/wildcard/regex/fuzzy
    // VIRTUAL terms have per-query dfs it does not carry, and
    // non-lowercase terms can never match the lowercased ledger keys;
    // all refused loudly rather than scored with the wrong df
    for (virtual <- Seq("machine learning", "qu*y", "quer?", "qu[ae]ry",
      "a|b", "Spark", ""))
      intercept[IllegalArgumentException] {
        CurationJob.searchCorpus(spark, dir, "doc_id", "text", Seq(virtual))
      }
  }

  test("curation loop survives an all-rejected batch: empty shards don't poison later reads") {
    import spark.implicits._
    import graft.streaming.CurationJob
    val dir = java.nio.file.Files.createTempDirectory("graft-curation-empty").toString
    // batch 0: everything fails the Gopher gate → empty corpus+index shards
    CurationJob.applyBatch(Seq((1L, "too short")).toDF("doc_id", "text"),
      dir, "doc_id", "text", batchId = 0L)
    // batch 1 must read the (empty) index shard without schema errors
    val words = (0 until 60).map(i =>
      if (i % 7 == 3) "the" else if (i % 11 == 5) "of" else s"word${i % 13}")
      .mkString(" ")
    CurationJob.applyBatch(Seq((2L, words)).toDF("doc_id", "text"),
      dir, "doc_id", "text", batchId = 1L)
    val ids = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$dir/data").select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(2L), ids.toString)
  }

  test("curation batch launches no schema-inference job: every job of a compacting batch runs under a SQL execution") {
    import spark.implicits._
    import graft.streaming.CurationJob
    val dir = java.nio.file.Files.createTempDirectory("graft-curation-noinfer").toString
    def apply(b: Long, rows: (Long, String)*): Unit =
      CurationJob.applyBatch(rows.toDF("doc_id", "text"), dir, "doc_id",
        "text", batchId = b, compactEvery = 2, markup = true)
    apply(0L, (1L, gopherDoc(1)), (2L, gopherDoc(2)))
    apply(1L, (3L, gopherDoc(3)), (4L, gopherDoc(1)))
    // batch 2 reads a two-shard index and folds both the index and the
    // data shards b0, b1 (compactEvery = 2)
    val (all, outside) = jobsOutsideSql(
      apply(2L, (5L, gopherDoc(5)), (6L, gopherDoc(2))))
    assert(all > 0)
    assert(outside.isEmpty, s"jobs outside a SQL execution: $outside of $all")
    def entries(sub: String) = new java.io.File(s"$dir/$sub").list().toSet
    assert(entries("index").contains("g2") && entries("data").contains("h2"),
      s"${entries("index")} / ${entries("data")}")
    val ids = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$dir/data").select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 3L, 5L), ids.toString)
  }

  test("curation quality gate is one row predicate: null ids accept nothing, one batch scan, no join before novelty") {
    import spark.implicits._
    import graft.operators.Pipeline100TB
    import graft.streaming.CurationJob
    val dir = java.nio.file.Files.createTempDirectory("graft-curation-gate").toString
    // a null-id doc alone in its fingerprint group must neither enter
    // the corpus nor advance the fp index
    CurationJob.applyBatch(
      Seq((None: Option[Long], gopherDoc(1)), (Some(2L), gopherDoc(2)))
        .toDF("doc_id", "text"),
      dir, "doc_id", "text", batchId = 0L)
    def standing(sub: String) = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$dir/$sub")
    assert(standing("data").select("doc_id").collect().map(_.getLong(0)).toSeq ==
      Seq(2L))
    assert(standing("index").count() == 1)
    // plan shape: markup, Gopher and the classifier over one scan of the
    // batch, with no join
    val batchDir = s"$dir/incoming"
    Seq((1L, gopherDoc(1)), (2L, "too short")).toDF("doc_id", "text")
      .write.parquet(batchDir)
    val gate = CurationJob.ClassifierGate(Seq.fill(64)(3000000L), 0L, 0.5)
    val batch = spark.read.parquet(batchDir)
    val gated = CurationJob.qualityGate(
      batch.withColumn("text", Pipeline100TB.extractMarkup(col("text"))),
      "doc_id", "text", Some(gate))
    val plan = gated.queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(plan).size == 1, plan)
    assert(!plan.contains("Join") && !plan.contains("Exchange"), plan)
    assert(gated.columns.toSeq == batch.columns.toSeq)
    assert(gated.select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("curation daemon full gate stack: markup extraction + classifier + dedup, streamed ≡ batch, re-delivery no-op") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import graft.operators.{Dedup, Pipeline100TB, TextAnalysis}
    import graft.streaming.CurationJob
    val pool = Vector("quick", "brown", "foxes", "jumped", "fences",
      "little", "garden", "stones", "rivers", "bright", "clouds",
      "forest", "meadow", "silver", "golden", "branch")
    def doc(seed: Int): String = (0 until 60).map { i =>
      if (i % 7 == 3) "the" else if (i % 11 == 5) "of"
      else if (i % 17 == 2) s"word$seed"
      else pool((seed * 13 + i * 5) % pool.size)
    }.mkString(" ")
    // every incoming doc is a web page: prose inside <p>, plus
    // script/style/comment junk that extraction must drop WITH content
    def page(body: String, cls: String = "a"): String =
      s"""<html><head><style>.x{color:red}</style></head>""" +
        s"""<body class="$cls"><!-- nav --><p>$body</p>""" +
        s"""<script>track("p");</script></body></html>"""
    // classifier: every hash bucket is "good" except the buckets of a
    // known spam vocabulary — a spam-vocab page scores sigmoid(≈-2)
    // and must be vetoed by the CLASSIFIER (it passes Gopher: right
    // length, stopwords present, healthy type-token ratio)
    val spamPool = Vector("spam", "pills", "casino", "winner", "scam",
      "click", "rich", "jackpot", "luck", "lottery", "urgent", "claim",
      "reward", "muito", "instant", "promo")
    def spamDoc: String = (0 until 60).map { i =>
      if (i % 7 == 3) "the" else if (i % 11 == 5) "of"
      else spamPool((i * 5) % spamPool.size)
    }.mkString(" ")
    val dims = 64
    val spamBuckets = spamPool.map(t =>
      (graft.functions.ShingleHashes.hash60(t.getBytes("UTF-8")) % dims).toInt).toSet
    val w = (0 until dims).map(b =>
      if (spamBuckets.contains(b)) -3000000L else 3000000L)
    val gate = CurationJob.ClassifierGate(w, biasMicro = 0L, threshold = 0.5)
    // guard the fixture itself: no good-pool token may land in a spam
    // bucket, or the "good docs pass" premise silently weakens
    val goodToks = pool ++ Seq("the", "of") ++ (0 until 10).map(s => s"word$s")
    assert(goodToks.forall(t => !spamBuckets.contains(
      (graft.functions.ShingleHashes.hash60(t.getBytes("UTF-8")) % dims).toInt)))

    val dir = java.nio.file.Files.createTempDirectory("graft-curation-full").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-curation-full-ckpt").toString
    val ms = MemoryStream[(Long, String)]
    val q = CurationJob.run(ms.toDF().toDF("doc_id", "text"), dir, ckpt,
      markup = true, classifier = Some(gate))
    val allRows = scala.collection.mutable.ListBuffer[(Long, String)]()
    def feed(rows: (Long, String)*): Unit = {
      allRows ++= rows; ms.addData(rows: _*); q.processAllAvailable()
    }
    try {
      // batch 0: two good pages, one spam page (classifier veto), one
      // junk page (Gopher veto after extraction — markup stripped, the
      // remaining prose is too short)
      feed((1L, page(doc(1))), (2L, page(doc(2))), (3L, spamDoc),
        (4L, page("too short to pass")))
      // batch 1: id 7 repeats doc(2) under DIFFERENT markup (other
      // class attr) — only extraction-first makes it an exact
      // duplicate; id 8 is genuinely new
      feed((7L, page(doc(2), cls = "zz")), (8L, page(doc(8))))
    } finally q.stop()

    def corpus() = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$dir/data")
    val corpusIds = corpus().select("doc_id").collect().map(_.getLong(0)).toSet
    assert(corpusIds == Set(1L, 2L, 8L), corpusIds.toString)
    // the corpus stores EXTRACTED prose, never raw markup
    val stored = corpus().select("text").collect().map(_.getString(0))
    assert(stored.forall(t => !t.contains("<") && !t.contains("track(")), stored.mkString("|"))
    // exactly-once: re-delivering batch 1 through the full gate stack
    // is a no-op rewrite
    CurationJob.applyBatch(
      Seq((7L, page(doc(2), cls = "zz")), (8L, page(doc(8)))).toDF("doc_id", "text"),
      dir, "doc_id", "text", batchId = 1L, markup = true, classifier = Some(gate))
    assert(corpus().select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 8L))
    // streamed fold ≡ batch-mode curation of the whole input through
    // the same three gates (ids arrived in increasing order)
    val all = allRows.toSeq.toDF("doc_id", "text")
      .withColumn("text", Pipeline100TB.extractMarkup(col("text")))
    val structPass = TextAnalysis.gopherRules(all, "doc_id", "text")
      .filter(col("pass")).select("doc_id")
    val clfPass = TextAnalysis.classifierScore(all, "doc_id", "text",
      w, 0L, 0.5).filter(col("keep")).select("doc_id")
    val gated = all.join(structPass, Seq("doc_id")).join(clfPass, Seq("doc_id"))
    val batchMode = Dedup.fingerprint(gated, "doc_id", "text")
      .select("survivor").collect().map(_.getLong(0)).toSet
    assert(corpusIds == batchMode)
  }

  test("curation daemon BPE accounting: corpus rows carry exact token counts; streamed packing ≡ batch packing") {
    import spark.implicits._
    import org.apache.spark.sql.GraftBridge
    import graft.operators.{Dedup, Pipeline100TB, TextAnalysis}
    import graft.streaming.CurationJob
    val pool = Vector("quick", "brown", "foxes", "jumped", "fences",
      "little", "garden", "stones", "rivers", "bright", "clouds",
      "forest", "meadow", "silver", "golden", "branch")
    def doc(seed: Int): String = (0 until 60).map { i =>
      if (i % 7 == 3) "the" else if (i % 11 == 5) "of"
      else if (i % 17 == 2) s"word$seed"
      else pool((seed * 13 + i * 5) % pool.size)
    }.mkString(" ")
    val bpe = CurationJob.BpeAccounting(
      graft.operators.LlmQueries.bpeMerges, graft.operators.LlmQueries.bpeVocab)
    def bpeCount(textCol: org.apache.spark.sql.Column) =
      size(GraftBridge.column(graft.functions.BpeEncode(
        GraftBridge.expression(graft.functions.Hash60.tokens(
          regexp_replace(textCol, "\\|", " "))),
        bpe.merges, bpe.vocab))).cast("long")

    val dir = java.nio.file.Files.createTempDirectory("graft-curation-bpe").toString
    // three batches applied in order: duplicates dropped, survivors
    // stamped with exact counts at accept time
    val batches = Seq(
      Seq(1L -> doc(1), 2L -> doc(2)),
      Seq(6L -> doc(1), 7L -> doc(7)),
      Seq(9L -> doc(9)))
    batches.zipWithIndex.foreach { case (rows, b) =>
      CurationJob.applyBatch(rows.toDF("doc_id", "text"), dir,
        "doc_id", "text", batchId = b.toLong, bpe = Some(bpe))
    }
    val corpus = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$dir/data")
    // every stored count equals a fresh exact encode of the stored text
    assert(corpus.filter(col("n_tok") =!= bpeCount(col("text"))).count() == 0)
    // packing over the daemon's STORED counts ≡ packing a batch
    // re-curation of the same input with counts computed from scratch
    def packed(df: org.apache.spark.sql.DataFrame, tok: org.apache.spark.sql.Column) =
      Pipeline100TB.packSequencesBy(
          df.withColumn("src", lit("s")), "doc_id", tok, "src", cap = 64)
        .select("doc_id", "bin", "off_tok")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val all = batches.flatten.toDF("doc_id", "text")
    val gated = all.join(TextAnalysis.gopherRules(all, "doc_id", "text")
      .filter(col("pass")).select("doc_id"), Seq("doc_id"))
    val batchCurated = gated.join(
      Dedup.fingerprint(gated, "doc_id", "text")
        .select(col("survivor").as("doc_id")), Seq("doc_id"))
    assert(packed(corpus, col("n_tok")) == packed(batchCurated, bpeCount(col("text"))))
  }

  test("curation daemon all options on: markup + classifier + fuzzy gate + BPE accounting interact correctly") {
    import spark.implicits._
    import graft.streaming.CurationJob
    val pool = Vector("quick", "brown", "foxes", "jumped", "fences",
      "little", "garden", "stones", "rivers", "bright", "clouds",
      "forest", "meadow", "silver", "golden", "branch")
    def doc(seed: Int): String = (0 until 60).map { i =>
      if (i % 7 == 3) "the" else if (i % 11 == 5) "of"
      else if (i % 17 == 2) s"word$seed" else pool((seed * 13 + i * 5) % pool.size)
    }.mkString(" ")
    def page(body: String, cls: String = "a"): String =
      s"""<html><body class="$cls"><p>$body</p><script>x()</script></body></html>"""
    // all-good weights: every doc passes the classifier; this test is
    // about OPTION INTERACTION (markup×fuzzy×bpe), not the veto itself
    val gate = CurationJob.ClassifierGate(Seq.fill(64)(3000000L), 0L, 0.5)
    val bpe = CurationJob.BpeAccounting(
      graft.operators.LlmQueries.bpeMerges, graft.operators.LlmQueries.bpeVocab)
    val dir = java.nio.file.Files.createTempDirectory("graft-curation-allopt").toString
    def apply(b: Long, rows: (Long, String)*): Unit =
      CurationJob.applyBatch(rows.toDF("doc_id", "text"), dir, "doc_id", "text",
        batchId = b, fuzzy = true, markup = true, classifier = Some(gate),
        bpe = Some(bpe), spanTrim = true)
    apply(0L, (1L, page(doc(1))), (2L, page(doc(2))))
    // batch 1: an exact copy under DIFFERENT markup (extraction-first
    // makes it exact → fp gate), a PARAPHRASE under different markup
    // (only the fuzzy band gate can veto it), and a new doc
    apply(1L,
      (10L, page(doc(1), cls = "zz")),
      (11L, page(doc(1) + " appended trailing words", cls = "q")),
      (12L, page(doc(9))))
    def corpus() = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$dir/data")
    assert(corpus().select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 12L))
    // BPE accounting active on every accepted row, over EXTRACTED text
    assert(corpus().filter(col("n_tok").isNull || col("n_tok") <= 0).count() == 0)
    assert(corpus().filter(col("text").contains("<")).count() == 0)
    // re-delivery through the full option set is still a no-op
    apply(1L,
      (10L, page(doc(1), cls = "zz")),
      (11L, page(doc(1) + " appended trailing words", cls = "q")),
      (12L, page(doc(9))))
    assert(corpus().select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L, 12L))
    // span-trim interacts with extraction: a doc that leads with an
    // ALIGNED block of doc(9)'s stored (extracted) text plus novel
    // content stores WITHOUT that block, and its n_tok counts the
    // trimmed text (markup -> trim -> gates -> bpe, in that order)
    val stored9 = corpus().filter(col("doc_id") === 12L)
      .select("text").collect()(0).getString(0)
    apply(2L, (20L, page(stored9.take(30) + " " + doc(7))))
    val row20 = corpus().filter(col("doc_id") === 20L)
      .select("text", "n_tok").collect()(0)
    assert(!row20.getString(0).startsWith(stored9.take(30)),
      s"seen block survived: ${row20.getString(0).take(40)}")
    assert(row20.getString(0).contains("word7"))
    assert(row20.getLong(1) > 0)
  }

  test("D4: bulk-flush-duration — a partial buffer flushes at the tick, not at bulk-size") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import graft.streaming.BulkWriter
    val ckpt = java.nio.file.Files.createTempDirectory("graft-bulk-ckpt").toString
    val sizes = spark.sparkContext.collectionAccumulator[Int]("tickSizes")
    val ms = MemoryStream[Long]
    // bulk-size 100 with ONE pending message: only the ticker can flush it
    val q = BulkWriter.timed(ms.toDF().toDF("k"), "50 milliseconds", ckpt)
      .foreachBatch(BulkWriter.chunked(100)(rows => sizes.add(rows.size)))
      .start()
    try {
      ms.addData(42L)
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (sizes.value.isEmpty && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(sizes.value.asScala.sum == 1,
        s"partial buffer not flushed by the duration tick: ${sizes.value}")
    } finally q.stop()
  }
}
