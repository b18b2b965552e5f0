package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Kernel-level gates for the dedup machinery introduced/changed in round 5:
  * the two connected-components execution paths must agree (the single-task
  * union-find is the common case; the distributed pointer-doubling
  * propagation takes over past [[DedupOps.SingleTaskEdgeMax]] — a fixture
  * can force it by passing a zero threshold), and the single-pass
  * `collect_list_capped` aggregate must be exactly the two-pass
  * df-filter + collect_list it replaced in d02. */
class DedupKernelSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  private def ccLabels(pairs: Seq[(Long, Long)], singleTaskMax: Long): Map[Long, Long] = {
    import spark.implicits._
    val df = pairs.toDF("doc_a", "doc_b")
    DedupOps.connectedComponents(spark, df, singleTaskMax)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("connectedComponents: distributed propagation agrees with union-find on a chain graph") {
    // a 60-node chain (worst diameter per edge) + a separate 3-cycle + an
    // isolated pair: exercises pointer doubling across many iterations
    val chain = (0L until 59L).map(i => (i, i + 1))
    val cycle = Seq((100L, 101L), (101L, 102L), (102L, 100L))
    val pair = Seq((200L, 201L))
    val edges = chain ++ cycle ++ pair
    val single = ccLabels(edges, singleTaskMax = Long.MaxValue)
    val dist = ccLabels(edges, singleTaskMax = 0L) // forces the iterative path
    assert(single == dist)
    // and the fixpoint is the min-id labeling
    assert((0L until 60L).forall(i => single(i) == 0L))
    assert(Seq(100L, 101L, 102L).forall(i => single(i) == 100L))
    assert(single(200L) == 200L && single(201L) == 200L)
  }

  test("connectedComponents: random graph, both paths agree") {
    val rnd = new scala.util.Random(42)
    val edges = (1 to 300).map(_ => (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    assert(ccLabels(edges, Long.MaxValue) == ccLabels(edges, 0L))
  }

  test("collect_list_capped property: random groups, random caps, partial-agg merge paths") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val rng = new scala.util.Random(31)
    (1 to 8).foreach { round =>
      val cap = 1 + rng.nextInt(12)
      val nKeys = 1 + rng.nextInt(20)
      val rows = (1 to 200 + rng.nextInt(400)).map { i =>
        (s"k${rng.nextInt(nKeys)}", i.toLong)
      }
      // many input partitions force map-side partials + merge()
      val df = spark.createDataset(rows).repartition(7).toDF("g", "doc_id")
      val got = df.groupBy("g")
        .agg(expr(s"collect_list_capped(doc_id, $cap)").as("docs"))
        .collect()
        .map(r => r.getString(0) -> Option(r.getSeq[Long](1)).map(_.toSet))
        .toMap
      val expect = rows.groupBy(_._1).map { case (k, vs) =>
        k -> (if (vs.length > cap) None else Some(vs.map(_._2).toSet)) }
      assert(got == expect, s"round=$round cap=$cap")
    }
  }

  test("collect_list_capped equals the two-pass df-filter + collect_list") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // keys with group sizes straddling the cap: size 1..6, cap 4
    val rows = (1 to 6).flatMap(k => (1 to k).map(v => (s"k$k", (k * 100 + v).toLong)))
    val df = rows.toDF("g", "doc_id")
    val capped = df.groupBy("g")
      .agg(expr("collect_list_capped(doc_id, 4)").as("docs"))
    // overflowed groups are NULL (k5, k6), survivors carry the full set
    val byKey = capped.collect()
      .map(r => r.getString(0) -> Option(r.getSeq[Long](1)).map(_.toSet)).toMap
    assert(byKey("k5").isEmpty && byKey("k6").isEmpty)
    (1 to 4).foreach { k =>
      assert(byKey(s"k$k").get == (1 to k).map(v => (k * 100 + v).toLong).toSet)
    }
    // exact equivalence with the two-pass formulation on the real table
    val d = "/root/testdata/sf0.001"
    val sh = Tables.documents(spark, d)
      .withColumn("words", split(col("text"), " "))
      .withColumn("g", explode(array_distinct(expr(
        "transform(sequence(1, greatest(size(words) - 2, 1)), " +
          "i -> concat_ws(' ', slice(words, i, 3)))"))))
      .select("doc_id", "g")
    val cap = 8
    val onePass = sh.groupBy("g")
      .agg(expr(s"collect_list_capped(doc_id, $cap)").as("docs"))
      .filter(col("docs").isNotNull)
      .select(col("g"), array_sort(col("docs")).as("docs"))
    val twoPass = sh.groupBy("g").agg(collect_list("doc_id").as("docs"))
      .filter(size(col("docs")) <= cap)
      .select(col("g"), array_sort(col("docs")).as("docs"))
    assert(onePass.exceptAll(twoPass).isEmpty && twoPass.exceptAll(onePass).isEmpty)
  }

  test("d02 ratio prefilter keeps boundary pairs that ROUND up to the threshold") {
    // doc 1 ⊂ doc 2 with 3999/4999 shingles: exact jaccard = 0.79996 < 0.8
    // but round(j, 4) = 0.8 — the oracle (and the final filter) emit the
    // pair, so the size-ratio prefilter (min/max = 0.79996 < 0.8) must use
    // the rounding-slackened bound, not the bare threshold
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val sh = ((0 until 3999).map(i => (1L, s"g$i")) ++
      (0 until 4999).map(i => (2L, s"g$i"))).toDF("doc_id", "g")
    val out = graft.queries.DedupOps.d02Build(
      graft.queries.DedupOps.groupedShinglesOf(sh)).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(r.getLong(2) == 3999L) // inter
    assert(r.getDouble(3) == 0.8) // round(0.79996, 4)
  }

  test("d10 spans merge as token INTERVALS: overlapping gram windows never double-count") {
    // doc A's duplicated 5-gram starts are {1, 3, 5} (gaps of 2 — each
    // window overlaps the previous by 3 tokens) with the in-between starts
    // {2, 4} NOT duplicated: doc B repeats A[1..5], A[3..7], A[5..9] with
    // separator tokens so no other gram of A recurs. The r7 per-run
    // formula summed (r + k - 1) per consecutive run = 3*5 = 15 > 11
    // tokens (dup_frac 1.36); interval merge must give ONE island
    // covering tokens 1..9.
    import spark.implicits._
    val a = "a b c d e f g h i j k"                       // 11 tokens
    val b = "a b c d e P c d e f g Q e f g h i"           // 17 tokens
    val docs = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val out = DedupOps2.spanDedupOf(docs, 5)
      .orderBy("doc_id").collect()
    assert(out.length == 2)
    val ra = out(0)
    assert(ra.getAs[Long]("n_tokens") == 11L)
    assert(ra.getAs[Long]("n_dup_grams") == 3L)
    assert(ra.getAs[Long]("n_spans") == 1L)      // one merged island
    assert(ra.getAs[Long]("dup_tokens") == 9L)   // tokens 1..9 = 5-1+5
    assert(ra.getAs[Double]("dup_frac") == math.rint(9.0 / 11 * 10000) / 10000)
    val rb = out(1)
    assert(rb.getAs[Long]("n_spans") == 3L)      // disjoint in B (gaps 6)
    assert(rb.getAs[Long]("dup_tokens") == 15L)
    // the paper's invariant the r7 accounting violated:
    out.foreach(r => assert(r.getAs[Double]("dup_frac") <= 1.0,
      s"dup_frac > 1 for doc ${r.getAs[Long]("doc_id")}"))
  }

  test("d16 sampled audit == exact audit restricted to the sample; estimator gap pinned") {
    // the r9 gate: d16 audits a deterministic doc_id % S == 0 sample
    // (exact-join mass / S^2). Contract: the sampled rows are EXACTLY the
    // full (S=1) offline certification's rows whose BOTH ids fall in the
    // sample — same jacc_milli, same found flag — and on this corpus the
    // sampled found-rate estimator agrees with the exact found-rate.
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
      .select("doc_id", "text")
    def rows(sampleDen: Long) =
      graft.ops.Corpus.dedupRecallAudit(spark, docs, sampleDen)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
        .toSet
    val exact = rows(1L)
    val sampled = rows(DedupOps.AuditSampleDen)
    assert(exact.size > sampled.size && sampled.nonEmpty,
      s"degenerate fixture: exact ${exact.size} vs sampled ${sampled.size}")
    val S = DedupOps.AuditSampleDen
    val expected = exact.filter(t => t._1 % S == 0 && t._2 % S == 0)
    assert(sampled == expected,
      s"sampled audit drifted from the restricted exact audit: " +
        s"extra ${sampled.diff(expected)}, missing ${expected.diff(sampled)}")
    def rate(xs: Set[(Long, Long, Long, Boolean)]): Double =
      xs.count(_._4).toDouble / xs.size
    info(s"exact found-rate ${rate(exact)} over ${exact.size} pairs; " +
      s"sampled ${rate(sampled)} over ${sampled.size}")
    assert(rate(sampled) == rate(exact),
      "estimator gap on the certification corpus (both should be 1.0 here)")
  }
}
