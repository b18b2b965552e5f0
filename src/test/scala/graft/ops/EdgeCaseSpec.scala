package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._

/** Library-robustness gates: the ops facades must handle degenerate
  * corpora (empty, single-document, single-word documents, empty strings)
  * without crashing — the inputs a real pipeline feeds them on day one. */
class EdgeCaseSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  private def docsOf(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def emptyDocs = spark.createDataFrame(
    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
    StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))

  test("corpus dedup ops on an empty corpus return empty, not errors") {
    assert(Corpus.exactDuplicateGroups(emptyDocs).count() == 0)
    assert(Corpus.minhashSignatures(emptyDocs).count() == 0)
    assert(Corpus.minhashCandidatePairs(spark, emptyDocs).count() == 0)
    assert(Corpus.ngramJaccardPairs(spark, emptyDocs).count() == 0)
    assert(Corpus.duplicateClusters(spark, emptyDocs).count() == 0)
    assert(Corpus.simhashPairs(spark, emptyDocs).count() == 0)
    assert(Corpus.paragraphDedup(emptyDocs).count() == 0)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("single and degenerate documents survive every text/dedup op") {
    val docs = docsOf(Seq(
      (1L, "just one document with a few words here"),
      (2L, "x"),              // single word: shingle/segment floor paths
      (3L, "a b"),            // below trigram width
      (4L, "")))              // empty string
    assert(Corpus.exactDuplicateGroups(docs).count() == 4)
    // no near-dup pairs among unrelated degenerate docs, and no crash
    Corpus.minhashCandidatePairs(spark, docs).count()
    Corpus.ngramJaccardPairs(spark, docs).count()
    Corpus.simhashPairs(spark, docs).count()
    assert(Corpus.paragraphDedup(docs).count() == 4)
    assert(Text.stats(docs).count() == 4)
    assert(Text.fingerprints(docs).count() == 4)
    assert(Text.cleaned(docs).count() == 4)
    // repetition requires >= 3 tokens; only doc 1 qualifies
    assert(Text.repetitionSignals(docs).count() == 1)
    assert(Text.piiScrub(docs).count() == 4)
  }

  test("identical documents collapse to one exact group and one cluster") {
    val docs = docsOf(Seq(
      (10L, "the same exact text repeated across documents many times over"),
      (11L, "the same exact text repeated across documents many times over"),
      (12L, "the same exact text repeated across documents many times over")))
    val g = Corpus.exactDuplicateGroups(docs).collect()
    assert(g.length == 1 && g(0).getLong(1) == 10L && g(0).getLong(2) == 3L)
    val clusters = Corpus.duplicateClusters(spark, docs).collect()
    assert(clusters.length == 1 && clusters(0).getLong(1) == 3L &&
      clusters(0).getLong(2) == 10L)
  }

  test("vector ops on an empty or query-free corpus return empty") {
    import spark.implicits._
    val emptyEmb = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
    assert(Vectors.nearDuplicatePairs(spark, emptyEmb).count() == 0)
    val one = Seq((1L, Array.fill(8)(1.0f))).toDF("vec_id", "embedding")
    // no query ids match -> empty; the lone vector has no neighbor
    assert(Vectors.cosineTopK(spark, one, Seq(99L), k = 3).count() == 0)
    assert(Vectors.cosineTopK(spark, one, Seq(1L), k = 3).count() == 0)
    // same contract for the SQ8 path, incl. an all-zero vector whose
    // quantizer scale would otherwise divide by zero (greatest(m, 1))
    assert(Vectors.sq8TopK(spark, emptyEmb, Seq(1L), k = 3).count() == 0)
    assert(Vectors.sq8TopK(spark, one, Seq(1L), k = 3).count() == 0)
    val withZero = Seq((1L, Array.fill(8)(1.0f)), (2L, Array.fill(8)(0.0f)))
      .toDF("vec_id", "embedding")
    assert(Vectors.sq8TopK(spark, withZero, Seq(1L), k = 3).count() == 1)
  }

  test("new text/media ops survive empty and degenerate inputs") {
    import spark.implicits._
    val docs = docsOf(Seq(
      (1L, "just one document with a few words here"),
      (2L, "x"), (3L, "a b"), (4L, "")))
    assert(Text.gopherFilters(docs).count() == 4)
    assert(Text.gopherFilters(emptyDocs).count() == 0)
    // every doc yields >= 1 chunk (even the empty string: one "" token)
    assert(Text.chunkWindows(docs).count() == 4)
    assert(Text.chunkWindows(emptyDocs).count() == 0)
    // one source -> weight exactly 1.0
    val mw = Text.mixWeights(docs.withColumn("source", lit("s"))).collect()
    assert(mw.length == 1 && mw(0).getAs[Double]("mix_weight") == 1.0)
    assert(Text.mixWeights(emptyDocs.withColumn("source", lit("s")))
      .count() == 0)
    // BPE learning on an empty corpus learns nothing, without crashing
    assert(Text.bpeMerges(emptyDocs, nMerges = 2).count() == 0)
    // energy segmentation over an empty payload frame
    val emptyPayloads = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("doc_id", LongType),
        StructField("payload", BinaryType))))
    assert(Media.energySegments(emptyPayloads).count() == 0)
  }

  test("round-8 ops survive degenerate inputs; preconditions fail by name") {
    import spark.implicits._
    // longestSharedSpans: empty and single-doc corpora -> empty result
    assert(Corpus.longestSharedSpans(spark, emptyDocs).count() == 0)
    assert(Corpus.longestSharedSpans(spark,
      docsOf(Seq((1L, "only one document here with several words")))).count() == 0)
    // two identical docs: span = min(cap, n_tokens)
    val twins = Corpus.longestSharedSpans(spark,
      docsOf(Seq((1L, "a b c d e f"), (2L, "a b c d e f"))))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(twins == Set((1L, 6L, 2L), (2L, 6L, 1L)), twins)
    // perplexityFilter: clean slice with no bigrams fails by name
    val e1 = intercept[IllegalArgumentException] {
      Text.perplexityFilter(
        docsOf(Seq((1L, "some document with words"))),
        docsOf(Seq((2L, "x")))).count()
    }
    assert(e1.getMessage.contains("clean slice"), e1.getMessage)
    // gopherFilters: stopwords with SQL metacharacters fail by name
    val e2 = intercept[IllegalArgumentException] {
      Text.gopherFilters(docsOf(Seq((1L, "a b"))),
        stopwords = Seq("don't")).count()
    }
    assert(e2.getMessage.contains("stopword"), e2.getMessage)
    // bpeEncode: an all-empty-text corpus has chars_total = 0 — the
    // compression division must be zero-safe, not NULL/divide-by-zero
    val enc = Text.bpeEncode(docsOf(Seq((1L, ""), (2L, "ab ab ab"))))
      .orderBy("doc_id").collect()
    assert(enc.length == 2)
    assert(enc.head.getAs[Long]("chars_total") == 0L &&
      enc.head.getAs[Long]("compression_pm") == 0L, enc.head)
    // ivfPqTopK: sparse ids (nothing below the sample bound) fail by name
    val sparse = (0 until 40).map(i =>
      (100000L + i, Array.fill(64)(((i * 7 + 3) % 11) / 10.0f).toSeq))
      .toDF("vec_id", "embedding")
    val e3 = intercept[Exception] {
      Vectors.ivfPqTopK(spark, sparse, Seq(100000L), k = 3).count()
    }
    assert(e3.getMessage.contains("dense from 0"), e3.getMessage)
  }

  test("selection/MMR ops (late r8) survive degenerate inputs; preconditions fail by name") {
    import spark.implicits._
    // noveltyFractions: empty corpus and all-too-short docs -> empty
    assert(Corpus.noveltyFractions(emptyDocs).count() == 0)
    assert(Corpus.noveltyFractions(docsOf(Seq((1L, "ab cd")))).count() == 0)
    // k = 1 scores single-word docs; identical docs: only the first is novel
    val n1 = Corpus.noveltyFractions(
      docsOf(Seq((1L, "x"), (2L, "x"))), k = 1).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSeq
    assert(n1 == Seq((1L, 1000L), (2L, 0L)), n1)
    // invalid gram width fails by name
    val e1 = intercept[IllegalArgumentException](
      Corpus.noveltyFractions(emptyDocs, k = 0))
    assert(e1.getMessage.contains("gram width"), e1.getMessage)
    // dsirSelect: a whole-pool target with keepFrac 1.0 keeps every
    // scorable doc; sub-2-token docs are omitted, not crashed on
    val pool = docsOf(Seq((1L, "a b c"), (2L, "a b"), (3L, "x")))
    val sel = Text.dsirSelect(pool, org.apache.spark.sql.functions.lit(true),
      keepFrac = 1.0).orderBy("doc_id").collect()
    assert(sel.map(_.getLong(0)).toSeq == Seq(1L, 2L) &&
      sel.forall(_.getAs[Boolean]("selected")), sel.mkString(","))
    // a pool column named like a kernel internal ("f") cannot collide —
    // dsirSelect projects (doc_id, text, is_target) before featurizing
    import org.apache.spark.sql.functions.lit
    val weird = Seq((1L, "a b c", 9L), (2L, "a b d", 9L))
      .toDF("id", "body", "f")
    assert(Text.dsirSelect(weird, lit(true), keepFrac = 1.0,
      idCol = "id", textCol = "body").count() == 2)
    // an unscorable pool (no doc reaches 2 tokens) fails by name
    val e2 = intercept[IllegalArgumentException](
      Text.dsirSelect(docsOf(Seq((1L, "x"))),
        org.apache.spark.sql.functions.lit(true)))
    assert(e2.getMessage.contains("target slice"), e2.getMessage)
    // keepFrac outside (0, 1] fails by name
    val e3 = intercept[IllegalArgumentException](
      Text.dsirSelect(pool, org.apache.spark.sql.functions.lit(true),
        keepFrac = 0.0))
    assert(e3.getMessage.contains("keepFrac"), e3.getMessage)
    // mmrRerank: empty corpus -> empty; k = 1 is the pure-relevance top-1
    val emptyVecs = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("embedding",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType)))))
    assert(Vectors.mmrRerank(spark, emptyVecs, Seq(0L)).count() == 0)
    val tiny = Seq((0L, Array(1f, 0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.5f, 0.5f))).toDF("vec_id", "embedding")
    val k1 = Vectors.mmrRerank(spark, tiny, Seq(0L), k = 1, pool = 2)
      .collect()
    assert(k1.length == 1 && k1.head.getLong(2) == 1L, k1.mkString(","))
    // pool < k fails by name
    val e4 = intercept[IllegalArgumentException](
      Vectors.mmrRerank(spark, tiny, Seq(0L), k = 5, pool = 2))
    assert(e4.getMessage.contains("pool >= k"), e4.getMessage)
  }

  test("p04/p05 on an all-dropped corpus: mix weights 0.0, never divide-by-zero") {
    // the r8 heavytail scale corpus reaches this for real: its vocabulary
    // contains no stopwords, the Gopher gate drops every document, and
    // total_st = 0 — the weight division must be zero-safe in BOTH the
    // gated queries (found as an ANSI DIVIDE_BY_ZERO crash at ht10x)
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_alldrop").toString
    try {
      (0L until 30L).map(i =>
        (i, Seq.fill(60)(s"w$i").mkString(" "), "en", s"src${i % 3}",
          0L)).toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val p04 = graft.queries.PipelineOps.p04AdmissionIndex(spark, dir).collect()
      assert(p04.nonEmpty)
      assert(p04.forall(r => r.getAs[Long]("n_kept") == 0L &&
        r.getAs[Double]("mix_weight") == 0.0), p04.mkString("\n"))
      val p05 = graft.queries.PipelineOps.p05MultimodalAdmission(spark, dir).collect()
      assert(p05.nonEmpty)
      assert(p05.forall(r => r.getAs[Long]("n_admitted") == 0L &&
        r.getAs[Double]("mix_weight") == 0.0), p05.mkString("\n"))
    } finally
      graft.examples.RecipeFixtures.deleteRecursively(dir)
  }
}
