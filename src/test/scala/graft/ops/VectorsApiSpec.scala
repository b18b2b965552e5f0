package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

class VectorsApiSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  private val d = "/root/testdata/sf0.001"

  private def renamed: DataFrame =
    graft.queries.Tables.embeddings(spark, d)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))

  test("cosineTopK == s01 under renamed columns") {
    val api = Vectors.cosineTopK(spark, renamed, 0L until 10L, k = 5,
      idCol = "id", vecCol = "vec").orderBy("query_id", "rk")
    val gated = graft.queries.SimilarityOps.s01CosineTopk(spark, d)
    assert(api.columns.sameElements(gated.columns))
    assert(api.exceptAll(gated).isEmpty && gated.exceptAll(api).isEmpty)
  }

  test("Text.nearDuplicateDocs == s02 under renamed columns") {
    val docsRenamed = spark.read.parquet(s"$d/documents.parquet")
      .selectExpr("doc_id AS id", "text AS body")
    val api = graft.ops.Text.nearDuplicateDocs(spark, docsRenamed,
      idCol = "id", textCol = "body").orderBy("vec_a", "vec_b")
    val gated = graft.queries.SimilarityOps.s02EmbedNearDup(spark, d)
    assert(api.columns.sameElements(gated.columns))
    assert(api.exceptAll(gated).isEmpty && gated.exceptAll(api).isEmpty)
  }

  test("Corpus.nearDupFamilies == p12 under renamed columns") {
    val docsRenamed = spark.read.parquet(s"$d/documents.parquet")
      .selectExpr("doc_id AS id", "text AS body")
    val api = graft.ops.Corpus.nearDupFamilies(spark, docsRenamed,
      idCol = "id", textCol = "body").orderBy("family_id")
    val gated = graft.queries.PipelineOps.p12NeardupFamilies(spark, d)
    assert(api.columns.sameElements(gated.columns))
    assert(api.exceptAll(gated).isEmpty && gated.exceptAll(api).isEmpty)
  }

  test("nearDuplicatePairs (adaptive defaults) == s05 under renamed columns") {
    val api = Vectors.nearDuplicatePairs(spark, renamed,
      idCol = "id", vecCol = "vec")
      .orderBy("vec_a", "vec_b")
    val gated = graft.queries.SimilarityOps.s05NearDupWide(spark, d)
    assert(api.columns.sameElements(gated.columns))
    assert(api.exceptAll(gated).isEmpty && gated.exceptAll(api).isEmpty)
  }

  test("knnGraph == s11 under renamed columns; twin clusters are mutual rank-1") {
    val api = Vectors.knnGraph(spark, renamed, idCol = "id", vecCol = "vec")
      .orderBy("vec_id", "rk")
    val gated = graft.queries.SimilarityOps.s11KnnGraph(spark, d)
    assert(api.columns.sameElements(gated.columns))
    assert(api.exceptAll(gated).isEmpty && gated.exceptAll(api).isEmpty)
    // structural invariants: ranks are 1..k, dense, distinct neighbors,
    // no self-edges
    import org.apache.spark.sql.functions._
    assert(api.filter(col("vec_id") === col("neighbor_id")).isEmpty)
    val perV = api.groupBy("vec_id").agg(count(lit(1)).as("n"),
      max("rk").as("mx"), countDistinct("neighbor_id").as("nd"))
    assert(perV.filter(col("mx") =!= col("n") || col("nd") =!= col("n") ||
      col("n") > graft.queries.SimilarityOps.KnnK).isEmpty)
    // constructed twin-cluster fixture: identical vectors band-collide
    // with certainty, so each twin is the other's rank-1 at sim 1.0
    import spark.implicits._
    val fx = Seq(
      (1L, Array(1f, 0f, 0f, 0f)), (2L, Array(1f, 0f, 0f, 0f)),
      (3L, Array(0f, 1f, 0f, 0f)), (4L, Array(0f, 1f, 0f, 0f)),
      (5L, Array(0f, 0f, 1f, 0f)), (6L, Array(0f, 0f, 1f, 0f))
    ).toDF("vec_id", "embedding")
    val g = Vectors.knnGraph(spark, fx, k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val twins = Map(1L -> 2L, 2L -> 1L, 3L -> 4L, 4L -> 3L, 5L -> 6L, 6L -> 5L)
    twins.foreach { case (v, t) =>
      assert(g.get(v).contains(t), s"vec $v rank-1 was ${g.get(v)}, want $t")
    }
  }

  test("mmrRerank == s10 under renamed columns; diversity semantics on a fixture") {
    val api = Vectors.mmrRerank(spark, renamed, 0L until 10L,
      idCol = "id", vecCol = "vec").orderBy("query_id", "rank")
    val gated = graft.queries.SimilarityOps.s10MmrRerank(spark, d)
    assert(api.columns.sameElements(gated.columns))
    assert(api.exceptAll(gated).isEmpty && gated.exceptAll(api).isEmpty)
    // rank-1 is pure relevance: equals s01's top-1 neighbor per query
    val top1 = graft.queries.SimilarityOps.s01CosineTopk(spark, d)
      .filter(col("rk") === 1).select("query_id", "neighbor_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    api.filter(col("rank") === 1).collect().foreach { r =>
      assert(r.getLong(2) == top1(r.getLong(0)), r)
    }
    // selections are distinct per query and ranks are 1..k
    val perQ = api.groupBy("query_id")
      .agg(countDistinct("vec_id").as("nv"), count(lit(1)).as("n"),
        max("rank").as("mx"))
    assert(perQ.filter(col("nv") =!= col("n") ||
      col("mx") =!= col("n")).isEmpty)

    // constructed fixture: query q along x; a is top (rel .91), b is a
    // near-clone of a (rel .90, sim(a,b) ~ .9998), c mirrors a below the
    // x-axis (rel .90, sim(a,c) ~ .638). Pure top-2 = {a, b}; MMR at
    // lambda=0.7: mmr(b) = 6.3 - 3*.9998 = 3.30 < mmr(c) = 6.3 -
    // 3*.638 = 4.39, so the diverse c takes rank 2 and the clone drops
    // to rank 3.
    import spark.implicits._
    val fx = Seq(
      (100L, Array(1.00f, 0.0000f, 0f, 0f)), // query
      (1L, Array(0.91f, 0.4146f, 0f, 0f)),   // a: rel .91
      (2L, Array(0.90f, 0.4360f, 0f, 0f)),   // b: clone of a
      (3L, Array(0.90f, -0.4360f, 0f, 0f))   // c: diverse mirror
    ).toDF("id", "vec")
    val m = Vectors.mmrRerank(spark, fx, Seq(100L), k = 3, pool = 3,
      idCol = "id", vecCol = "vec")
      .orderBy("rank").collect().map(_.getLong(2)).toSeq
    assert(m == Seq(1L, 3L, 2L), s"MMR order was $m, want diverse c at rank 2")
    // lambda10 = 10 is pure relevance: identical to the shortlist order
    val rel = Vectors.mmrRerank(spark, fx, Seq(100L), k = 3, pool = 3,
      lambda10 = 10, idCol = "id", vecCol = "vec")
      .orderBy("rank").collect().map(_.getLong(2)).toSeq
    assert(rel == Seq(1L, 2L, 3L), rel)
  }

  test("sq8TopK == s07 under renamed columns") {
    val api = Vectors.sq8TopK(spark, renamed, 0L until 10L, k = 5,
      idCol = "id", vecCol = "vec").orderBy("query_id", "rk")
    val gated = graft.queries.SimilarityOps.s07Sq8Topk(spark, d)
    assert(api.columns.sameElements(gated.columns))
    assert(api.exceptAll(gated).isEmpty && gated.exceptAll(api).isEmpty)
  }

  test("lshTopK == s03 under renamed columns") {
    val api = Vectors.lshTopK(spark, renamed, 0L until 10L, k = 5,
      idCol = "id", vecCol = "vec").orderBy("query_id", "rk")
    val gated = graft.queries.SimilarityOps.s03AnnLsh(spark, d)
    assert(api.columns.sameElements(gated.columns))
    assert(api.exceptAll(gated).isEmpty && gated.exceptAll(api).isEmpty)
  }

  test("ivfTopK == s04 under renamed columns") {
    val api = Vectors.ivfTopK(spark, renamed, 0L until 10L, k = 5,
      idCol = "id", vecCol = "vec").orderBy("query_id", "rk")
    val gated = graft.queries.SimilarityOps.s04AnnIvf(spark, d)
    assert(api.columns.sameElements(gated.columns))
    assert(api.exceptAll(gated).isEmpty && gated.exceptAll(api).isEmpty)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("ivfPqTopK == s08 under renamed columns") {
    val api = Vectors.ivfPqTopK(spark, renamed, 0L until 10L, k = 5,
      nProbe = graft.queries.SimilarityOps.PqNProbe,
      idCol = "id", vecCol = "vec").orderBy("query_id", "rk")
    val gated = graft.queries.SimilarityOps.s08IvfPqTopk(spark, d)
    assert(api.columns.sameElements(gated.columns))
    assert(api.exceptAll(gated).isEmpty && gated.exceptAll(api).isEmpty)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("filteredTopK == s19; post-filtering a shortlist demonstrably under-fills k") {
    val renamedL = graft.queries.Tables.embeddings(spark, d)
      .select(col("vec_id").as("id"), col("embedding").as("vec"),
        col("label").as("tag"))
    val api = Vectors.filteredTopK(spark, renamedL, 0L until 10L, k = 5,
      idCol = "id", vecCol = "vec", labelCol = "tag")
      .orderBy("query_id", "rk")
    val gated = graft.queries.SimilarityOps.s19FilteredTopk(spark, d)
    assert(api.columns.sameElements(gated.columns))
    assert(api.exceptAll(gated).isEmpty && gated.exceptAll(api).isEmpty)
    // every hit carries its query's label, and every query fills k
    val labels = graft.queries.Tables.embeddings(spark, d)
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = gated.collect()
    assert(rows.forall(r => r.getInt(3) == labels(r.getLong(0))))
    assert(rows.groupBy(_.getLong(0)).forall(_._2.length == 5))
    // the failure mode the join-filter avoids: POST-filtering the exact
    // unfiltered top-5 by label keeps only the same-label hits — with
    // ~10 balanced labels that is ~0.5 per query, not k
    val post = graft.queries.SimilarityOps.s01CosineTopk(spark, d)
      .collect()
      .filter(r => labels(r.getLong(2)) == labels(r.getLong(0)))
    val filled = post.groupBy(_.getLong(0)).count(_._2.length >= 5)
    info(s"post-filtered s01: $filled/10 queries still fill k=5, " +
      s"${post.length}/50 hits survive")
    assert(filled < 10,
      "post-filtering filled every query — the fixture lost its point")
  }

  test("bqTopK == s18 under renamed columns; recall vs exact s01 floored") {
    val api = Vectors.bqTopK(spark, renamed, 0L until 10L, k = 5,
      idCol = "id", vecCol = "vec").orderBy("query_id", "rk")
    val gated = graft.queries.SimilarityOps.s18BqTopk(spark, d)
    assert(api.columns.sameElements(gated.columns))
    assert(api.exceptAll(gated).isEmpty && gated.exceptAll(api).isEmpty)
    // recall@5 vs the exact s01 answer: 64 sign bits + 4k-wide exact
    // rescore recovers most true neighbors; floor defensively (Hamming
    // is an angle ESTIMATOR — 64 planes give ~sqrt(pi^2/64) rad noise)
    val exact = graft.queries.SimilarityOps.s01CosineTopk(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val got = gated.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & got).size.toDouble / exact.size
    info(s"s18 recall@5 vs s01 = $recall")
    assert(recall >= 0.7, s"s18 recall collapsed: $recall")
    // a wider rescore pool can only improve agreement with exact top-k
    val wide = Vectors.bqTopK(spark, renamed, 0L until 10L, k = 5,
        r = 100, idCol = "id", vecCol = "vec")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recallWide = (exact & wide).size.toDouble / exact.size
    info(s"s18 recall@5 at r=100 = $recallWide")
    assert(recallWide >= recall)
  }

  test("semanticDedup == s06 under renamed columns") {
    val api = Vectors.semanticDedup(spark, renamed,
      idCol = "id", vecCol = "vec").orderBy("vec_id")
    val gated = graft.queries.SimilarityOps.s06SemanticDedup(spark, d)
    assert(api.columns.sameElements(gated.columns))
    assert(api.exceptAll(gated).isEmpty && gated.exceptAll(api).isEmpty)
  }

  test("semanticDedup numCells knob: one cell prunes at least as much as sqrt(n) cells") {
    // every pair is compared in the single-cell (exact-SemDeDup) limit, so
    // its pruned set must contain the clustered run's — the knob trades
    // exactly this recall for per-cell locality
    def prunedIds(numCells: Long): Set[Long] =
      Vectors.semanticDedup(spark, renamed, numCells = numCells,
        idCol = "id", vecCol = "vec")
        .filter(!col("kept")).select("vec_id")
        .collect().map(_.getLong(0)).toSet
    val clustered = prunedIds(0L)
    val exact = prunedIds(1L)
    assert(clustered.subsetOf(exact),
      s"clustered pruned ${clustered.diff(exact)} that the exact limit kept")
    assert(exact.nonEmpty, "single-cell run pruned nothing — fixture vacuous")
  }

  test("cosineTopKFor scores a separate query table against the corpus") {
    import spark.implicits._
    // corpus of axis-aligned vectors; query = near-e0 -> top neighbor is id 0
    val dim = 64
    def unit(axis: Int): Array[Float] =
      Array.tabulate(dim)(i => if (i == axis) 1.0f else 0.0f)
    val corpus = (0 until 4).map(a => (a.toLong, unit(a))).toDF("vec_id", "embedding")
    val q = Seq((100L, Array.tabulate(dim)(i =>
      if (i == 0) 0.9f else if (i == 1) 0.1f else 0.0f)))
      .toDF("vec_id", "embedding")
    val got = Vectors.cosineTopKFor(spark, corpus, q, k = 2)
      .orderBy("rk").collect()
    assert(got.length == 2)
    assert(got(0).getLong(0) == 100L && got(0).getLong(2) == 0L)
    assert(got(1).getLong(2) == 1L)
    assert(got(0).getDouble(3) > got(1).getDouble(3))
  }

  test("nearDuplicatePairs wide-band scale path: full recall on planted pairs, fewer candidates") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val dim = 64
    def unit(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x * x.toDouble).sum).toFloat
      v.map(_ / n)
    }
    val base = (0 until 500).map(i =>
      (i.toLong, unit(Array.fill(dim)(rng.nextGaussian().toFloat))))
    // 20 planted near-dup pairs at cosine ~0.95
    val planted = (0 until 20).flatMap { p =>
      val a = base(p)._2
      // |noise|^2 ~ 64 * 0.04^2 = 0.1 -> cosine(a,b) ~ 1/sqrt(1.1) ~ 0.95
      val b = unit(a.zip(Array.fill(dim)(rng.nextGaussian().toFloat * 0.04f))
        .map { case (x, e) => x + e })
      Seq((1000L + 2 * p, a), (1001L + 2 * p, b))
    }
    val emb = (base ++ planted).toDF("vec_id", "embedding")
    val wide = Vectors.nearDuplicatePairs(spark, emb, threshold = 0.7,
      bands = 32, bandBits = 8)
    val found = wide.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0 until 20).foreach { p =>
      assert(found.contains((1000L + 2 * p, 1001L + 2 * p)),
        s"planted pair $p missed by the wide-band path")
    }
    // the wide construction generates strictly fewer random candidates
    val q = graft.queries.SimilarityOps.withQuantized(emb, "embedding")
    val candWide = graft.queries.SimilarityOps.s02Candidates(q, 32, 8).count()
    val candDefault = graft.queries.SimilarityOps.s02Candidates(q, 16, 4).count()
    assert(candWide < candDefault / 4,
      s"wide bands should cut candidates: $candWide vs $candDefault")
  }

  test("cosineTopKFor keeps corpus vectors whose ids collide with query ids") {
    import spark.implicits._
    // Query table has its OWN 0-based id space: query id 0 collides with
    // corpus id 0, which is the true nearest neighbor and must NOT be
    // self-excluded (it's an unrelated row in a different table).
    val dim = 8
    def unit(axis: Int): Array[Float] =
      Array.tabulate(dim)(i => if (i == axis) 1.0f else 0.0f)
    val corpus = (0 until 4).map(a => (a.toLong, unit(a))).toDF("vec_id", "embedding")
    val q = Seq((0L, unit(0))).toDF("vec_id", "embedding")
    val got = Vectors.cosineTopKFor(spark, corpus, q, k = 1).collect()
    assert(got.length == 1)
    assert(got(0).getLong(0) == 0L)          // query_id
    assert(got(0).getLong(2) == 0L)          // neighbor_id == colliding corpus id
    assert(got(0).getDouble(3) == 1.0)       // exact match survives
  }
}
