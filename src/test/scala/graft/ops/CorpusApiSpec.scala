package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The library facade must be EXACTLY the oracle-gated query semantics:
  * every Corpus call over a column-renamed copy of `documents` agrees
  * row-for-row with the corresponding d0x query on the original table. */
class CorpusApiSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  private val d = "/root/testdata/sf0.001"

  /** The documents table under user-shaped column names. */
  private def renamed: DataFrame =
    graft.queries.Tables.documents(spark, d)
      .select(col("doc_id").as("id"), col("text").as("body"))

  private def same(a: DataFrame, b: DataFrame): Unit = {
    assert(a.columns.sameElements(b.columns), s"${a.columns.toSeq} vs ${b.columns.toSeq}")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("leakageSafeSplit == d13; clusters never straddle the boundary") {
    import spark.implicits._
    same(Corpus.leakageSafeSplit(spark, renamed, idCol = "id",
      textCol = "body").orderBy("doc_id"),
      graft.queries.DedupOps2.d13LeakageSplit(spark, d))
    val split = graft.queries.DedupOps2.d13LeakageSplit(spark, d)
    // cluster-atomicity: no cluster carries both splits
    val straddling = split.groupBy("cluster_id")
      .agg(countDistinct("split").as("n"))
      .filter(col("n") > 1)
    assert(straddling.isEmpty, straddling.collect().take(3).mkString(","))
    // both sides are populated (≈10% of 500 singleton clusters hit 'val')
    val counts = split.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.getOrElse("val", 0L) > 0L &&
      counts.getOrElse("train", 0L) > counts.getOrElse("val", 0L), counts)
    // a planted near-dup pair (one token edited) must land TOGETHER:
    // same cluster, same side — the whole point of the operator
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val fixture = Seq(
      (100L, base), (200L, base.replace("kappa", "edited")),
      (300L, "completely different content about unrelated topics " +
        "with nothing shared whatsoever between these documents at all " +
        "plus extra filler words to reach shingle length"))
      .toDF("id", "body")
    val got = Corpus.leakageSafeSplit(spark, fixture, idCol = "id",
      textCol = "body").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(got(100L) == got(200L),
      s"near-dup pair split apart: ${got.mkString(",")}")
    assert(got(300L)._1 == 300L, s"unrelated doc must stay singleton: $got")
  }

  test("exactDuplicateGroups == d01's group stage") {
    val api = Corpus.exactDuplicateGroups(renamed, "id", "body")
    val agg = api.groupBy()
      .agg(count(lit(1)).as("n_unique"),
        sum(col("n_copies")).as("n_total"),
        sum(when(col("n_copies") > 1, col("n_copies") - 1).otherwise(0L))
          .as("n_dropped"))
    same(agg, graft.queries.DedupOps.d01ExactDedup(spark, d))
  }

  test("minhashSignatures == d03") {
    same(Corpus.minhashSignatures(renamed, "id", "body").orderBy("doc_id"),
      graft.queries.DedupOps.d03MinhashSig(spark, d))
  }

  test("minhashCandidatePairs == d04") {
    same(Corpus.minhashCandidatePairs(spark, renamed, "id", "body")
      .orderBy("doc_a", "doc_b"),
      graft.queries.DedupOps.d04MinhashLsh(spark, d))
  }

  test("ngramJaccardPairs == d02") {
    same(Corpus.ngramJaccardPairs(spark, renamed, "id", "body")
      .orderBy("doc_a", "doc_b"),
      graft.queries.DedupOps.d02NgramJaccard(spark, d))
  }

  test("duplicateClusters == d07") {
    same(Corpus.duplicateClusters(spark, renamed, "id", "body")
      .orderBy("cluster_id"),
      graft.queries.DedupOps.d07DupClusters(spark, d))
  }

  test("paragraphDedup == d08") {
    same(Corpus.paragraphDedup(renamed, "id", "body").orderBy("doc_id"),
      graft.queries.DedupOps2.d08ParagraphDedup(spark, d))
  }

  test("duplicatedSpans == d10; maximal spans cover strictly more than their grams") {
    val api = Corpus.duplicatedSpans(renamed, idCol = "id", textCol = "body")
      .orderBy("doc_id")
    same(api, graft.queries.DedupOps2.d10SpanDedup(spark, d))
    // span accounting sanity: every span covers k-1 more tokens than its
    // gram-run length, so dup_tokens > n_dup_grams whenever spans exist
    import org.apache.spark.sql.functions.col
    assert(api.filter(col("dup_tokens") <= col("n_dup_grams")).isEmpty)
    assert(api.count() > 0, "no duplicated spans on the fixture — probe vacuous")
  }

  test("softDedupWeights == d12; exposure is capped at one copy per content") {
    import org.apache.spark.sql.functions._
    val api = Corpus.softDedupWeights(renamed, idCol = "id", textCol = "body")
      .orderBy("doc_id")
    same(api, graft.queries.DedupOps2.d12SoftDedup(spark, d))
    // unique docs keep full weight; the effective token mass equals
    // n_tokens scaled by the weight
    assert(api.filter(col("n_copies") === 1 &&
      col("weight_milli") =!= 1000).isEmpty)
    assert(api.filter(col("eff_tokens_milli") =!=
      col("n_tokens") * col("weight_milli")).isEmpty)
    // the sf0.001 corpus has no exact duplicates, so the cap is
    // exercised on a constructed fixture: a triplicated doc gets weight
    // 333 each (total exposure 999 <= one copy's 1000), the unique doc
    // keeps 1000
    import spark.implicits._
    val fx = Seq((1L, "a b c"), (2L, "a b c"), (3L, "a b c"), (4L, "x y"))
      .toDF("doc_id", "text")
    val got = graft.queries.DedupOps2.softDedupOf(fx).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == Seq((1L, 3L, 333L, 999L), (2L, 3L, 333L, 999L),
      (3L, 3L, 333L, 999L), (4L, 1L, 1000L, 2000L)), got)
  }

  test("noveltyFractions == t21; brute-force ingestion-order recompute agrees") {
    import org.apache.spark.sql.functions._
    val api = Corpus.noveltyFractions(renamed, idCol = "id", textCol = "body")
      .orderBy("doc_id")
    same(api, graft.queries.SelectionOps.t21NoveltyFrac(spark, d))
    // the earliest doc introduces every gram it contains
    val first = api.limit(1).collect().head
    assert(first.getAs[Long]("novel_milli") == 1000L, first)
    // full brute-force recompute: walk docs in id order, count grams
    // first seen — must match the distributed window/agg result exactly
    val k = graft.queries.SelectionOps.NoveltyK
    val corpus = graft.queries.Tables.documents(spark, d)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ").toSeq))
      .sortBy(_._1)
    val seen = scala.collection.mutable.Set.empty[String]
    val want = corpus.filter(_._2.size >= k).map { case (id, ws) =>
      val grams = ws.sliding(k).map(_.mkString(" ")).toSet
      val novel = grams.count(!seen(_)); seen ++= grams
      (id, grams.size.toLong, novel.toLong,
        1000L * novel / grams.size)
    }.toSeq
    val got = api.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == want, got.zip(want).filter(p => p._1 != p._2).take(3))
    // constructed fixture: overlap halves novelty
    import spark.implicits._
    val fx = Seq((1L, "a b c d"), (2L, "b c d e"), (3L, "a b c x"))
      .toDF("doc_id", "text")
    val f = graft.queries.SelectionOps.noveltyOf(fx, 3).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSeq
    assert(f == Seq((1L, 1000L), (2L, 500L), (3L, 500L)), f)
  }

  test("longestSharedSpans == d11; adjacency semantics on a constructed fixture") {
    val api = Corpus.longestSharedSpans(spark, renamed,
      idCol = "id", textCol = "body").orderBy("doc_id")
    same(api, graft.queries.DedupOps2.d11SuffixLcp(spark, d))

    // constructed fixture: A/D share an 8-token span, B shares 6 with
    // both but only D is its adjacent-suffix witness; C shares nothing
    import spark.implicits._
    val docs = Seq(
      (1L, "q w e r t y u i o p"),
      (2L, "z x q w e r t y c v"),
      (3L, "m n b v c x l k j h"),
      (4L, "q w e r t y u i a s")).toDF("doc_id", "text")
    val got = graft.queries.DedupOps2.suffixSpansOf(spark, docs, 30, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 8L, 4L), (2L, 6L, 4L), (4L, 8L, 1L)), got)

    // brute-force recompute on the real corpus: sort ALL capped suffixes,
    // credit adjacent cross-doc pairs — must equal the distributed result
    // (this also exercises the cross-partition boundary fix-up, since the
    // suffix frame spans the 4 test partitions)
    val corpus = graft.queries.Tables.documents(spark, d)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ").toSeq))
    val sfx = corpus.flatMap { case (id, ws) =>
      ws.indices.map(i => (id, i + 1L, ws.slice(i, i + 30)))
    }.sortBy { case (id, i, toks) => (toks.mkString("\u0001"), id, i) }
    def cpl(a: Seq[String], b: Seq[String]): Int =
      a.zip(b).takeWhile { case (x, y) => x == y }.size
    val credits = sfx.sliding(2).flatMap {
      case Array((da, _, ta), (db, _, tb)) if da != db =>
        val l = cpl(ta, tb)
        if (l >= 5) Seq((da, db, l.toLong), (db, da, l.toLong)) else Nil
      case _ => Nil
    }.toSeq
    val expect = credits.groupBy(_._1).map { case (id, cs) =>
      val best = cs.map(_._3).max
      (id, best, cs.filter(_._3 == best).map(_._2).min)
    }.toSet
    val gotReal = graft.queries.DedupOps2.d11SuffixLcp(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(gotReal == expect,
      s"extra=${gotReal.diff(expect).take(3)} missing=${expect.diff(gotReal).take(3)}")
    assert(gotReal.nonEmpty, "no shared spans on the fixture — probe vacuous")
  }

  test("simhashSignatures == d05, simhashPairs == d06") {
    same(Corpus.simhashSignatures(renamed, "id", "body").orderBy("doc_id"),
      graft.queries.DedupOps.d05Simhash(spark, d))
    same(Corpus.simhashPairs(spark, renamed, "id", "body")
      .orderBy("doc_a", "doc_b"),
      graft.queries.DedupOps.d06SimhashPairs(spark, d))
  }

  test("incrementalDedup == d09 when split by the batch source") {
    val docs = graft.queries.Tables.documents(spark, d)
      .select(col("doc_id").as("id"), col("source"), col("text").as("body"))
    val api = Corpus.incrementalDedup(spark,
      docs.filter(col("source") =!= graft.queries.DedupOps2.NewBatchSource),
      docs.filter(col("source") === graft.queries.DedupOps2.NewBatchSource),
      "id", "body").orderBy("doc_id")
    same(api, graft.queries.DedupOps2.d09BloomIncremental(spark, d))
  }

  test("ppjoinPairs == d15 under renamed columns; boundary + prefix-theorem fixtures") {
    import spark.implicits._
    same(Corpus.ppjoinPairs(renamed, idCol = "id", textCol = "body")
        .orderBy("doc_a", "doc_b"),
      graft.queries.DedupOps.d15PpjoinPairs(spark, d))
    // hand fixture at gram width 1 (sets = distinct words), t = 0.6:
    // A = {a b c d e}, B = {a b c} -> inter 3, union 5, J = 0.6 exactly
    // (boundary INCLUDED: 10*3 >= 6*5); C = {a x y z} vs A: inter 1,
    // union 8 -> excluded; D = {f} disjoint -> no shared gram at all
    val fix = Seq((0L, "a b c d e"), (1L, "a b c"), (2L, "a x y z"),
      (3L, "f")).toDF("doc_id", "text")
    val out = graft.queries.DedupOps.ppjoinPairsOf(fix, 6, 1)
      .orderBy("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(out.toSeq == Seq((0L, 1L, 3L, 5L, 600L)), out.toSeq)
    // the prefix filter must also be LOSSLESS against a naive computation
    // on a corpus slice with heavy overlap (every candidate the theorem
    // claims is generated): naive = all shared-gram pairs, exact Jaccard
    val docs = graft.queries.Tables.documents(spark, d)
      .filter(col("doc_id") < 100).select("doc_id", "text")
    val grams = graft.queries.DedupOps.ppjoinGramsOf(docs, 5)
    val n = grams.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val naive = grams.as("x").join(grams.as("y"),
        col("x.f") === col("y.f") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .join(n.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(n.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .withColumn("union_n", col("na") + col("nb") - col("inter"))
      .filter(expr("10 * inter >= 6 * union_n"))
      .withColumn("jacc_milli", expr("(1000 * inter) div union_n"))
      .select("doc_a", "doc_b", "inter", "union_n", "jacc_milli")
    val fast = graft.queries.DedupOps.ppjoinPairsOf(docs, 6, 5)
    assert(fast.exceptAll(naive).isEmpty && naive.exceptAll(fast).isEmpty)
  }

  test("containmentPairs == d17; quote inclusion caught where Jaccard misses; lossless vs naive") {
    import spark.implicits._
    same(Corpus.containmentPairs(renamed, idCol = "id", textCol = "body")
        .orderBy("doc_a", "doc_b"),
      graft.queries.DedupOps.d17ContainmentPairs(spark, d))
    // the asymmetric case that MOTIVATES d17: doc 0's full text is quoted
    // inside doc 1, which is 15x larger — containment(0 -> 1) = 1000 while
    // Jaccard is far below d15's 0.6 threshold, and (1 -> 0) fails
    val quote = "alpha beta gamma delta epsilon zeta"
    val filler = (0 until 90).map(i => s"w$i").mkString(" ")
    val fix = Seq((0L, quote), (1L, s"$filler $quote")).toDF("doc_id", "text")
    val cont = graft.queries.DedupOps.containmentPairsOf(fix, 8, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
    assert(cont.toSeq == Seq((0L, 1L, 1000L)), cont.toSeq)
    assert(graft.queries.DedupOps.ppjoinPairsOf(fix, 6, 5).count() == 0,
      "Jaccard should miss the quote inclusion — that is d17's point")
    // losslessness of the one-sided prefix filter vs a naive directed join
    val docs = graft.queries.Tables.documents(spark, d)
      .filter(col("doc_id") < 100).select("doc_id", "text")
    val grams = graft.queries.DedupOps.ppjoinGramsOf(docs, 5)
    val n = grams.groupBy("doc_id").agg(count(lit(1)).as("na"))
    val naive = grams.as("x").join(grams.as("y"),
        col("x.f") === col("y.f") && col("x.doc_id") =!= col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .join(n.withColumnRenamed("doc_id", "doc_a"), "doc_a")
      .filter(expr("10 * inter >= 8 * na"))
      .withColumn("containment_milli", expr("(1000 * inter) div na"))
      .select("doc_a", "doc_b", "na", "inter", "containment_milli")
    val fast = graft.queries.DedupOps.containmentPairsOf(docs, 8, 5)
    assert(fast.exceptAll(naive).isEmpty && naive.exceptAll(fast).isEmpty)
  }

  test("d16 audit: zero capped-join loss on the corpus; the cap's failure mode is detectable") {
    import spark.implicits._
    // corpus: every exact trigram pair at 0.8 is found by the capped join
    val audit = graft.queries.DedupOps.d16DedupRecallAudit(spark, d).collect()
    assert(audit.nonEmpty)
    assert(audit.forall(_.getBoolean(3)),
      s"capped join lost pairs on the corpus: ${audit.filterNot(_.getBoolean(3)).take(3).toSeq}")
    // and the flag CAN go false: 130 identical docs whose only shingle is
    // hotter than MaxShingleDf = 128 — the capped join drops the shingle
    // (bounded state, as documented) and finds NO pairs, while the exact
    // prefix join finds all C(130,2); the audit is what reports the gap
    graft.functions.GraftFunctions.register(spark)
    val hot = (0L until 130L).map(i => (i, "a b c")).toDF("doc_id", "text")
    val exact = graft.queries.DedupOps.ppjoinPairsOf(hot, 8, 3)
    assert(exact.count() == 130L * 129 / 2)
    val capped = graft.queries.DedupOps.d02Build(
      graft.queries.DedupOps.groupedShinglesOf(
        graft.queries.DedupOps.shinglesOf(hot)))
    assert(capped.count() == 0L,
      "the df cap should drop the hot shingle entirely")
  }

  test("dupProvenance == d14 under renamed columns; hand fixture pins the triage") {
    import spark.implicits._
    val docs = graft.queries.Tables.documents(spark, d)
      .select(col("doc_id").as("id"), col("source").as("feed"),
        col("text").as("body"))
    same(Corpus.dupProvenance(docs, "id", "body", "feed")
        .orderBy("canonical_doc", "canonical_seg"),
      graft.queries.DedupOps2.d14DupProvenance(spark, d))
    // hand fixture (docs shorter than SegWords = one segment each):
    // "x x" appears in srcA (docs 0, 1) and srcB (doc 2) -> cross-source,
    // top srcA (2 copies); "y" only in srcB docs 3, 4 -> boilerplate;
    // "z" unique -> absent. Tie case: "w w" once in srcA, once in srcB
    // -> top source is the lexicographically lowest (srcA).
    val fix = Seq(
      (0L, "srcA", "x x"), (1L, "srcA", "x x"), (2L, "srcB", "x x"),
      (3L, "srcB", "y"), (4L, "srcB", "y"), (5L, "srcA", "z"),
      (6L, "srcA", "w w"), (7L, "srcB", "w w"))
      .toDF("doc_id", "source", "text")
    val out = graft.queries.DedupOps2.dupProvenanceOf(fix)
      .orderBy("canonical_doc").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getString(4),
        r.getLong(5), r.getBoolean(6)))
    assert(out.toSeq == Seq(
      (0L, 3L, 2L, "srcA", 2L, true),
      (3L, 2L, 1L, "srcB", 2L, false),
      (6L, 2L, 2L, "srcA", 1L, true)), out.toSeq)
  }

  test("facade releases its caches like the query bodies do") {
    // start from a known-clean cache state: this asserts the FACADE's
    // hygiene, not the accumulated state of whichever suites ran earlier
    // in the shared-session test JVM
    spark.sharedState.cacheManager.clearCache()
    Corpus.minhashCandidatePairs(spark, renamed, "id", "body").count()
    Corpus.ngramJaccardPairs(spark, renamed, "id", "body").count()
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("minhash width/banding are tunable; identical texts are invariant to them") {
    // identical texts have identical signatures at ANY width, and identical
    // signatures collide in EVERY band under ANY banding — so every pair
    // of same-text documents must surface with est_sim = 1.0 at both the
    // gated (16, 4) and a widened (32, 8) construction. (The reverse is
    // not an invariant: est_sim=1.0 at 16 hashes includes chance
    // agreements a wider signature correctly splits.)
    import spark.implicits._
    // the sf0.001 fixture has no exact duplicates — plant copies of two
    // existing docs under fresh ids
    val copies = renamed.filter(col("id").isin(3L, 7L))
      .select((col("id") + 10000L).as("id"), col("body"))
    val docs = renamed.unionByName(copies)
    val sameText = docs.as("a")
      .join(docs.as("b"),
        col("a.body") === col("b.body") && col("a.id") < col("b.id"))
      .select(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sameText == Set((3L, 10003L), (7L, 10007L)))
    Seq((16, 4), (32, 8)).foreach { case (h, b) =>
      val perfect = Corpus.minhashCandidatePairs(spark, docs, "id", "body",
        numHashes = h, numBands = b)
        .filter(col("est_sim") === 1.0)
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(sameText.subsetOf(perfect),
        s"identical-text pairs missed at ($h,$b): ${sameText.diff(perfect)}")
    }
    // and the widened signature really is 32 columns
    assert(Corpus.minhashSignatures(renamed, "id", "body", numHashes = 32)
      .columns.count(_.startsWith("h")) == 32)
  }

  test("facade operators are lazy: constructing a plan runs no Spark jobs") {
    // build the input frame BEFORE the listener: spark.read.parquet does
    // its file listing eagerly, and that (data-source, not facade) work is
    // not what this test gates
    val input = renamed
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        counter.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val pairs = Corpus.minhashCandidatePairs(spark, input, "id", "body")
      Corpus.ngramJaccardPairs(spark, input, "id", "body")
      Corpus.simhashPairs(spark, input, "id", "body")
      // listener delivery is async; a brief drain window is enough for a
      // job-start event that would have fired during plan construction
      Thread.sleep(500)
      assert(counter.get() == 0,
        "facade plan construction must not launch jobs")
      // and the lazy plan still computes the gated result when acted on
      assert(pairs.count() ==
        graft.queries.DedupOps.d04MinhashLsh(spark, d).count())
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
