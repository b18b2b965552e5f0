package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Physical-plan quality gates: these assertions are the 100 TB contract —
  * filters reach the parquet scan, projections prune the read schema, small
  * dims broadcast instead of shuffling, global top-k never global-sorts,
  * and aggregates run partial+final. A refactor that silently regresses one
  * of these fails here even though results stay correct.
  */
class PlanSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  private val d = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q02: predicate pushdown + column pruning reach the parquet scan") {
    val p = plan(Relational.q02FilterProject(spark, d))
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("l_shipdate"), p)
    // pruned read schema: only the 4 referenced columns, not all 11
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_extendedprice"))
    assert(!readSchema.contains("l_returnflag") && !readSchema.contains("l_tax"),
      s"read schema not pruned: $readSchema")
  }

  test("q03/q04: dimension tables broadcast, never shuffled") {
    assert(plan(Relational.q03JoinAgg(spark, d)).contains("BroadcastHashJoin"))
    val p4 = plan(Relational.q04StarJoin(spark, d))
    assert(p4.contains("BroadcastHashJoin"), p4)
  }

  test("q05: global top-k compiles to TakeOrderedAndProject (no global sort)") {
    val p = plan(Relational.q05TopK(spark, d))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q01: aggregation is partial+final (map-side combine)") {
    val p = plan(Relational.q01Agg(spark, d))
    assert(p.contains("partial_"), p) // partial aggregate functions present
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q01/q02: whole-stage codegen covers the scan->agg pipeline") {
    val p = Relational.q01Agg(spark, d).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(p.contains("WholeStageCodegen"), p.take(500))
  }

  test("s01: query side of brute-force top-k is broadcast") {
    val p = plan(SimilarityOps.s01CosineTopk(spark, d))
    assert(p.contains("Broadcast"), p)
  }

  test("t04: token frequency aggregates partially before the shuffle") {
    val p = plan(TextOps.t04TokenFreq(spark, d))
    assert(p.contains("partial_"), p)
  }

  test("s04: IVF probe side broadcasts; candidate join is an equi-join on cell") {
    // gate the lazy builder plan: the public query checkpoints eagerly, so
    // its own executedPlan is just the checkpoint scan
    val p = plan(SimilarityOps.s04Build(SimilarityOps.s04Tagged(spark, d)))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("s08: IVF-PQ probe/LUT side broadcasts; ADC candidate join is an equi-join") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // gate the lazy builder (the public query checkpoints eagerly)
    val tagged = SimilarityOps.ivfTagOf(spark,
      Tables.embeddings(spark, d)
        .selectExpr("vec_id", SimilarityOps.quantize("embedding") + " AS q")
        .as[(Long, Array[Long])], SimilarityOps.PqNProbe)
    val p = plan(SimilarityOps.ivfPqBuildOf(spark, tagged,
      org.apache.spark.sql.functions.col("vec_id") < 10, 5))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // the ADC kernel is the codegen'd table-lookup expression
    assert(p.contains("pq_adc_i64"), p)
  }

  test("s09: MaxSim scoring is equi-joins; NO corpus-vocab collect in the plan") {
    val p = plan(SimilarityOps.s09MaxsimTopk(spark, d))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // the per-word max aggregation must run partial (map-side combine)
    assert(p.contains("partial_max"), p)
    // the r8 verdict's s09 fix pinned: the corpus vocabulary must never
    // land on the driver — the old plan materialized the driver-built
    // Vq×Vc table as a LocalTableScan; the distributed rewrite computes
    // word vectors via the md5 expression and fans the (small) query
    // side out as a literal explode, so NO local relation may appear
    assert(!p.contains("LocalTableScan"), p)
  }

  test("st11/p12: admission probe and family prune stay equi-join-only") {
    val p1 = plan(graft.queries.StreamOps.st11NeardupAdmission(spark, d))
    assert(!p1.contains("CartesianProduct") &&
      !p1.contains("BroadcastNestedLoopJoin"), p1)
    val p2 = plan(graft.queries.PipelineOps.p12NeardupFamilies(spark, d))
    assert(!p2.contains("CartesianProduct") &&
      !p2.contains("BroadcastNestedLoopJoin"), p2)
  }

  test("s02: band join and rescore are equi-joins, never a cross product") {
    val p = plan(SimilarityOps.s02EmbedNearDup(spark, d))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // no driver-side collect shape: the plan is joins + exchange only
    assert(p.contains("Join"), p)
  }

  test("s05: the wide (32x8) construction keeps the same equi-join shape") {
    val p = plan(SimilarityOps.s05NearDupWide(spark, d))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Join"), p)
  }

  test("s06: within-cell pair join is an equi-join on cell, never a cross product") {
    val p = plan(SimilarityOps.semanticDedupOf(
      SimilarityOps.s04Tagged(spark, d), 0.45))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Join"), p)
  }

  test("s06: two-level tagger is equi-joins only, with the codegen'd dot kernel") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // the r10 scale fix: the k ∝ n quantizer must never cross-join or
    // nested-loop — group assignment is a map-only scan, within-group
    // argmin an equi-join on grp, join-back an equi-join on vec_id
    val emb = Tables.embeddings(spark, d)
      .selectExpr("vec_id", SimilarityOps.quantize("embedding") + " AS q")
      .as[(Long, Array[Long])]
    val p = plan(SimilarityOps.ivfTagTwoLevel(spark, emb, 45L))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // seed-distance kernel stays inside whole-stage codegen
    assert(p.contains("dot_i64"), p)
    // within-group argmin aggregates PARTIALLY (map-side combine) so only
    // one row per vector leaves the join stage
    assert(p.contains("partial_min"), p)
  }

  test("m06/p03: phash is a codegen'd expression, not a mapPartitions barrier") {
    val p6 = plan(MultiModalOps.m06PhashDedup(spark, d))
    // a mapPartitions kernel would show as MapPartitions+SerializeFromObject
    assert(!p6.contains("MapPartitions"), p6)
    assert(p6.contains("wht_phash"), p6)
    val p3 = plan(PipelineOps.p03MediaPipeline(spark, d))
    assert(!p3.contains("CartesianProduct") &&
      !p3.contains("BroadcastNestedLoopJoin"), p3)
  }

  test("t13: the global prefix sum never plans a single-partition window") {
    val p = plan(TextOps.t13SequencePack(spark, d))
    // Window over an empty partition spec would exchange to SinglePartition
    // BEFORE the window — the corpus through one task. The final presentation
    // orderBy's range exchange is fine; a pre-window SinglePartition is not.
    assert(p.contains("Window"), p)
    assert(!p.contains("SinglePartition"), p)
    assert(p.contains("hashpartitioning(shard"), p)
  }

  test("d02: shingle candidate join is an equi-join, never a cross product") {
    // gate the lazy builder plans: the public query checkpoints eagerly, so
    // its own executedPlan is just the checkpoint scan
    val grouped = DedupOps.d02Grouped(spark, d)
    val pg = plan(grouped)
    // the df-cap is FUSED into the aggregation: exactly one shingle explode
    // (Generate) and an ObjectHashAggregate partial/final pair — the r04
    // two-pass shape ran the explode once per consumer (~4×)
    assert("Generate".r.findAllIn(pg).size == 1, pg)
    assert(pg.contains("ObjectHashAggregate"), pg)
    assert(pg.contains("partial_collect_list_capped"), pg)
    val p = plan(DedupOps.d02Build(grouped))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q22/q23: as-of and range joins never degrade to nested-loop plans") {
    Seq(Relational3.q22AsofJoin(spark, d), Relational3.q23RangeJoin(spark, d))
      .foreach { df =>
        val p = plan(df)
        assert(!p.contains("CartesianProduct") &&
          !p.contains("BroadcastNestedLoopJoin"), p.take(800))
      }
  }

  test("t14: gopher filters are a single map-only scan (no shuffle before the sort)") {
    val p = plan(TextOps.t14GopherFilters(spark, d))
    // the only exchange allowed is the final orderBy's range partitioning;
    // a hash exchange would mean the per-doc rules grew an agg or join
    assert(!p.contains("Exchange hashpartitioning"), p)
    // AQE top-level strings elide codegen spans; ask codegen-mode explain
    val cg = TextOps.t14GopherFilters(spark, d).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(cg.contains("WholeStageCodegen"), cg.take(500))
  }

  test("s07: SQ8 query codes broadcast; exact rescore touches only the winners") {
    val p = plan(SimilarityOps.s07Sq8Topk(spark, d))
    assert(p.contains("Broadcast"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("t18: scoring subtree is ONE corpus scan with broadcast LM joins") {
    // gate the lazy scoring plan (the public query checkpoints eagerly);
    // the naive derived-branch formulation planned EIGHT FileScans —
    // this pins the fix. Small LMs broadcast (the caller pre-hints).
    import spark.implicits._
    val docs = Tables.documents(spark, d)
      .filter(org.apache.spark.sql.functions.col("lang") === TextOps.PplLang)
    val c2 = Seq(("the", "cat", 3L)).toDF("w1", "w2", "c2")
    val c1 = Seq(("the", 3L)).toDF("w1", "c1")
    val p = plan(TextOps.perplexityScoresLazy(TextOps.docBigramsOf(docs),
      org.apache.spark.sql.functions.broadcast(c2),
      org.apache.spark.sql.functions.broadcast(c1), 1L))
    val scans = "FileScan parquet".r.findAllIn(p).size
    assert(scans == 1, s"t18 scoring plans $scans corpus scans (want 1):\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("t18: past the broadcast threshold the LM joins SHUFFLE (never collected)") {
    // the 100 TB shape: a Wikipedia-scale clean slice (~10^8 bigram rows)
    // cannot be broadcast, let alone collected — unhinted LM frames must
    // plan as shuffle joins of the doc-bigram mass against the LM, still
    // off ONE corpus scan
    import spark.implicits._
    val docs = Tables.documents(spark, d)
      .filter(org.apache.spark.sql.functions.col("lang") === TextOps.PplLang)
    val c2 = Seq(("the", "cat", 3L)).toDF("w1", "w2", "c2")
      .hint("shuffle_merge") // stand-in for a frame past autoBroadcast size
    val c1 = Seq(("the", 3L)).toDF("w1", "c1").hint("shuffle_merge")
    val p = plan(TextOps.perplexityScoresLazy(
      TextOps.docBigramsOf(docs), c2, c1, 1L))
    val scans = "FileScan parquet".r.findAllIn(p).size
    assert(scans == 1, s"t18 shuffle scoring plans $scans corpus scans:\n$p")
    assert(p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("t20: DSIR scoring subtree is ONE corpus scan + broadcast LM join") {
    import spark.implicits._
    val lm = Seq((1L, 5L, 2L)).toDF("f", "c_r", "c_t")
    val p = plan(SelectionOps.dsirScoresLazy(
      SelectionOps.hashedBigramsOf(Tables.documents(spark, d)), lm))
    val scans = "FileScan parquet".r.findAllIn(p).size
    assert(scans == 1, s"t20 scoring plans $scans corpus scans (want 1):\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("t15: ONE corpus scan; totals windowed over the metadata-sized agg") {
    val p = plan(TextOps.t15MixWeights(spark, d))
    assert("FileScan parquet".r.findAllIn(p).size == 1,
      s"expected exactly one corpus scan:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("d11: suffix sort is range-partitioned (never single-partition), no cross products") {
    // gate the lazy suffix frame: the public query checkpoints eagerly
    import org.apache.spark.sql.functions.{col, concat_ws, expr, posexplode, split}
    val sfx = Tables.documents(spark, d).select("doc_id", "text")
      .withColumn("words", split(col("text"), " "))
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(1, size(words)), i -> slice(words, i, 30))"))
        .as(Seq("pos", "toks")))
      .withColumn("key", concat_ws(" ", col("toks")))
      .repartitionByRange(4, col("key"), col("doc_id"), col("pos"))
      .sortWithinPartitions("key", "doc_id", "pos")
    val p = plan(sfx)
    assert(p.toLowerCase.contains("rangepartitioning"), p)
    assert(!p.contains("SinglePartition"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("d10: span dedup is equi-join + partial aggs, windowed on doc partitions") {
    val p = plan(DedupOps2.d10SpanDedup(spark, d))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_"), p)
    // the islands window must partition by doc_id, never a global window
    assert(!p.contains("Window [") ||
      p.contains("windowspecdefinition(doc_id"), p)
  }

  test("p04: the composed admission pipeline is ONE corpus scan") {
    val p = plan(PipelineOps.p04AdmissionIndex(spark, d))
    assert("FileScan parquet".r.findAllIn(p).size == 1,
      s"expected exactly one corpus scan:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("p13: mixed-container admission is ONE corpus scan, family-thin shuffle") {
    val p = plan(PipelineOps.p13MixedAdmission(spark, d))
    assert("FileScan parquet".r.findAllIn(p).size == 1,
      s"expected exactly one corpus scan:\n$p")
    // the dup verdict windows on the perceptual hash, never globally
    assert(p.contains("windowspecdefinition(phash"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
    // the hash is computed BEFORE the window shuffle (payloads never cross
    // it): wht_phash lives in the plan segment below the first Exchange
    val belowExchange = p.substring(p.indexOf("Exchange"))
    assert(belowExchange.contains("wht_phash"),
      s"phash not computed pre-shuffle:\n$p")
  }

  test("p10: admission subtree is ONE corpus scan; manifest never re-plans it") {
    val pp = plan(PipelineOps.p10SurvivorsLazy(
      Tables.documents(spark, d)))
    assert("FileScan parquet".r.findAllIn(pp).size == 1,
      s"p10 survivors subtree plans more than one corpus scan:\n$pp")
    // the dedup verdict must window on the content hash, never globally
    assert(pp.contains("windowspecdefinition(h"), pp)
    val p = plan(PipelineOps.p10ShardBuild(spark, d))
    assert(!p.contains("FileScan parquet"),
      s"p10 re-plans the corpus scan past the checkpoint:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("t22: posting build is ONE scan; scoring joins broadcast the query terms") {
    import org.apache.spark.sql.functions.col
    // the lazy posting subtree (checkpointed in the full query) must be
    // exactly one corpus scan with a partial+final hash agg
    val pp = plan(RetrievalOps.bm25PostingsLazy(
      Tables.documents(spark, d).select("doc_id", "text"),
      col("doc_id") < RetrievalOps.Bm25NumQueries))
    assert("FileScan parquet".r.findAllIn(pp).size == 1,
      s"posting build plans more than one corpus scan:\n$pp")
    assert(pp.contains("partial_"), pp)
    // the full query: no file scans survive the checkpoint, the
    // inverted-index probe side is broadcast, and nothing cross-products
    val p = plan(RetrievalOps.t22Bm25Topk(spark, d))
    assert(!p.contains("FileScan parquet"),
      s"t22 re-plans the corpus scan past the checkpoint:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("p07: fusion joins rank lists only; embeddings scanned at most twice") {
    import org.apache.spark.sql.functions.col
    val df = PipelineOps.p07HybridRetrieval(spark, d)
    val p = plan(df)
    // the lexical arm's corpus scan is checkpointed away; the dense arm
    // is the accepted s01 two-branch class (corpus + query projections of
    // the embeddings scan). A third scan means the fusion re-joined a
    // corpus instead of the metadata-sized rank lists.
    val scans = "FileScan parquet".r.findAllIn(p).size
    assert(scans <= 2, s"p07 plans $scans file scans (> 2):\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // fusion invariants: every emitted item was retrieved by SOME arm,
    // fused scores decompose exactly into the two RRF contributions, and
    // every query emits exactly k rows
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getAs[Long]("bm25_rk") > 0 ||
      r.getAs[Long]("dense_rk") > 0))
    assert(rows.forall { r =>
      def c(rk: Long) =
        if (rk > 0) 1000000L / (RetrievalOps.RrfK + rk) else 0L
      r.getAs[Long]("rrf_milli") ==
        c(r.getAs[Long]("bm25_rk")) + c(r.getAs[Long]("dense_rk"))
    })
    val perQuery = rows.groupBy(_.getAs[Long]("query_id")).view.mapValues(_.length)
    assert(perQuery.size == SimilarityOps.NumQueries &&
      perQuery.values.forall(_ == RetrievalOps.Bm25TopK), perQuery.toMap)
  }

  test("s15: probe is a thin band equi-join on the checkpointed frame") {
    val p = plan(SimilarityOps.s15IncrementalKnn(spark, d))
    assert(!p.contains("FileScan parquet"),
      s"s15 re-plans the embeddings scan past the checkpoint:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("s13: iterations run on checkpointed graph frames, equi-joins only") {
    val p = plan(ClusterOps.s13Pagerank(spark, d))
    // edges and nodes are checkpointed once; three unrolled iterations
    // must not re-plan the embeddings scan or introduce a cross product
    assert(!p.contains("FileScan parquet"),
      s"s13 re-plans a file scan past the checkpoints:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("p08: pack runs on the checkpointed encode; stream is gapless") {
    import org.apache.spark.sql.functions.col
    val df = PipelineOps.p08TokenizerPipeline(spark, d)
    val p = plan(df)
    // learning ran eagerly (vocab-sized driver iterations), the encode
    // scan is checkpointed — the final plan is a join of materialized
    // frames, no file scan, no cross product
    assert(!p.contains("FileScan parquet"),
      s"p08 re-plans a corpus scan past the checkpoint:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // the packed stream is GAPLESS in doc_id order: each doc starts
    // exactly where the previous one ended, and window bounds bracket
    // the doc's token range
    val rows = df.collect()
    assert(rows.length > 0)
    var expectedStart = 0L
    rows.foreach { r =>
      assert(r.getAs[Long]("pack_start") == expectedStart,
        s"gap at doc ${r.getAs[Long]("doc_id")}")
      expectedStart += r.getAs[Long]("tokens_after")
      assert(r.getAs[Long]("first_window") ==
        r.getAs[Long]("pack_start") / TextOps.PackWindow)
      assert(r.getAs[Long]("last_window") >= r.getAs[Long]("first_window"))
    }
  }

  test("p09: a planted cross-split shared run is reported, not hidden") {
    import spark.implicits._
    // the corpus-level audit is all-zero at sf0.001 (no 5-gram crosses
    // the split there) — this fixture proves the machinery DETECTS
    // leakage: two otherwise-disjoint docs share one 5-word run, too
    // little overlap for LSH to cluster them, with ids chosen so the
    // d13 hash puts them on OPPOSITE sides
    def h60(sv: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(sv.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val valId = (0L to 200L).find(i => h60(i.toString) % 10 == 0).get
    val trainId = (0L to 200L).find(i => h60(i.toString) % 10 != 0).get
    val shared = "alpha beta gamma delta epsilon"
    def filler(p: String) = (1 to 10).map(j => s"$p$j").mkString(" ")
    val docs = Seq(
      (valId, s"${filler("v")} $shared ${filler("w")}"),
      (trainId, s"${filler("t")} $shared ${filler("u")}"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("p09fix").toString
    docs.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = PipelineOps.p09SplitAudit(spark, dir).collect()
    assert(got.length == 1 && got.head.getLong(0) == valId, got.mkString(","))
    // exactly the one planted 5-gram crosses (25 words -> 21 grams)
    assert(got.head.getAs[Long]("n_grams") == 21L &&
      got.head.getAs[Long]("n_shared") == 1L, got.head)
    assert(got.head.getAs[Long]("leak_milli") == 1000L / 21L)
  }

  test("st10: ONE event scan; drift math runs on the checkpointed aggregate") {
    val p = plan(StreamOps.st10DriftScore(spark, d))
    // baseline, totals, window totals and the scoring grid all derive
    // from the (window x type) aggregate — after its checkpoint no
    // branch may re-plan the event scan
    assert(!p.contains("FileScan parquet"),
      s"st10 re-plans the event scan past the checkpoint:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("st09: two inherent passes, one consumer chain, broadcast cut join") {
    // cut-training agg + gate scan are the only event scans (the t20
    // two-pass shape); the review-pass caught the original two-branch
    // ledger re-planning the gate scan per consumer (3-4 scans)
    val p = plan(StreamOps.st09ScoredAdmission(spark, d))
    val scans = "FileScan parquet".r.findAllIn(p).size
    assert(scans == 2, s"st09 plans $scans event scans (want 2):\n$p")
    assert(p.contains("Broadcast"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("p06: accounting partitions each source; final plan is the pruned totals branch") {
    val df = PipelineOps.p06CuratedMix(spark, d)
    // the two DSIR passes ran eagerly (collect + checkpoint); what
    // remains in the plan is the column-pruned per-source totals branch
    // and metadata-sized joins — exactly one FileScan, no cross product
    val p = plan(df)
    assert("FileScan parquet".r.findAllIn(p).size == 1,
      s"p06 final plan should hold only the totals scan:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // per-stage drop accounting PARTITIONS every source's corpus
    import org.apache.spark.sql.functions.{col, sum, abs}
    val bad = df.filter(col("n_docs") =!= col("n_unscored") +
      col("n_unselected") + col("n_dup_dropped") + col("n_admitted"))
    assert(bad.isEmpty, bad.collect().take(3).mkString(","))
    // mix weights are a distribution over sources (rounding-tolerant)
    val tot = df.agg(sum("mix_weight")).collect().head.getDouble(0)
    assert(math.abs(tot - 1.0) < 1e-3, s"mix weights sum to $tot")
    // selection actually bites on the benchmark corpus (the sf0.001
    // documents table has NO exact duplicates, so the dedup stage's
    // n_dup_dropped is structurally 0 here — its semantics are pinned by
    // the oracle row and the d12/CorpusApiSpec duplicate fixtures)
    val any = df.agg(sum("n_unselected").as("u"), sum("n_dup_dropped").as("dd"),
      sum("n_admitted").as("a")).collect().head
    assert(any.getLong(0) > 0 && any.getLong(2) > 0, any)
    assert(any.getLong(1) == 0L,
      s"sf0.001 grew exact duplicates (${any.getLong(1)} dropped) — " +
        "strengthen this probe to assert the dedup stage bites")
  }

  test("p05: one corpus pass per modality, no cross products") {
    val p = plan(PipelineOps.p05MultimodalAdmission(spark, d))
    // scan census: phash payload pass + VAD id pass + gopher text pass +
    // d10's gram explode and its duplicated-gram-set branch (d10's own
    // accepted two-branch shape) = 5. A sixth scan means a stage started
    // re-joining the corpus instead of passing columns through.
    val scans = "FileScan parquet".r.findAllIn(p).size
    assert(scans <= 5, s"p05 plans $scans corpus scans (> 5):\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("m11/m12/m13/m14/m15: media codecs are map-only — no shuffle before the presentation sort") {
    for (df <- Seq(MultiModalOps.m11PngDecode(spark, d),
        MultiModalOps.m12GifDecode(spark, d),
        MultiModalOps.m13MediaProbe(spark, d),
        MultiModalOps.m14JpegDecode(spark, d),
        MultiModalOps.m15Mp3Index(spark, d))) {
      val p = plan(df)
      // the only exchange allowed is the final orderBy's range
      // partitioning; a hash exchange would mean the per-row codec grew
      // an agg or join
      assert(!p.contains("Exchange hashpartitioning"), p.take(800))
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), p.take(800))
    }
  }

  test("s17: ONE pruned label read builds the contingency; the audit runs on its checkpoint") {
    import org.apache.spark.sql.functions.col
    // the corpus pass: exactly one embeddings read, pruned to
    // (vec_id, label) — the vectors themselves are never re-read
    val assign = ClusterOps.s12Kmeans(spark, d).drop("d2")
    val labels = Tables.embeddings(spark, d).select("vec_id", "label")
    val lazyP = plan(ClusterOps.purityContingencyLazy(assign, labels))
    assert("FileScan parquet".r.findAllIn(lazyP).size == 1, lazyP.take(1200))
    assert(lazyP.contains("ReadSchema: struct<vec_id:bigint,label:int>"),
      s"label read not pruned: ${lazyP.linesIterator.find(_.contains("ReadSchema")).getOrElse("")}")
    // the full query: both audit branches feed off the checkpointed k×L
    // table — no FileScan survives into the final plan, no cross product
    val p = plan(ClusterOps.s17ClusterPurity(spark, d))
    assert(!p.contains("FileScan parquet"), p.take(1200))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("s19: the label filter is a broadcast equi-join, never a post-filter or cross product") {
    val p = plan(SimilarityOps.s19FilteredTopk(spark, d))
    assert(p.contains("BroadcastHashJoin"), p.take(1200))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(800))
    // the scan must read the label column (the predicate reaches the scan
    // side, not a shortlist)
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("label:int"), s"label not in scan: $readSchema")
  }

  test("d15: prefix join and verify are equi-joins only — no cross product at any df") {
    val p = plan(DedupOps.d15PpjoinPairs(spark, d))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(1200))
    // the corpus parquet is read once (at the grams checkpoint build) —
    // no FileScan survives into the pair plan
    assert(!p.contains("FileScan parquet"), p.take(1200))
  }

  test("p11: decode is map-only into one hash-partitioned family agg") {
    val p = plan(PipelineOps.p11CrossFormatDedup(spark, d))
    // one scan, the decode kernel, ONE hash agg on the 60-bit hash and
    // the final range sort — any second hash exchange means the family
    // accounting grew a join
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1, p.take(1200))
    assert("FileScan parquet".r.findAllIn(p).size == 1, p.take(1200))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("t05/t06: single-scan text ops stay inside whole-stage codegen") {
    val p = TextOps.t05LangIdNgram(spark, d).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(p.contains("WholeStageCodegen"), p.take(500))
  }

  test("d08/d09/p02: segment dedup joins are equi-joins with partial aggs") {
    Seq(DedupOps2.d08ParagraphDedup(spark, d),
      DedupOps2.d09BloomIncremental(spark, d),
      PipelineOps.p02IncrementalUpdate(spark, d)).foreach { df =>
      val p = plan(df)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), p.take(800))
    }
    // d08's canonical-occurrence choice is a min-agg: map-side combine runs
    assert(plan(DedupOps2.d08ParagraphDedup(spark, d)).contains("partial_"))
    // d09's bloom probe is the NATIVE codegen'd pair (r10): the corpus
    // scan must show might_contain and NO scala udf — the one lambda the
    // codebase carried broke whole-stage codegen in the probe stage
    val p9 = plan(DedupOps2.d09BloomIncremental(spark, d))
    assert(p9.contains("might_contain"), p9.take(800))
    assert(!p9.contains("UDF"), p9.take(800))
  }

  test("t11: contamination probes the corpus grams in ONE pass") {
    val p = plan(TextOps.t11Contamination(spark, d))
    assert(p.contains("BroadcastHashJoin"), p)
    // one corpus-side gram explode feeding one final aggregation: the
    // explode (Generate) appears for train + bench derivations, never more
    assert("Generate explode".r.findAllIn(p).size <= 2, p)
  }

  test("t12: domain cap never plans a global sort before the window") {
    val p = plan(TextOps.t12DomainBalance(spark, d))
    // the row_number window sorts within hash partitions of `source` —
    // a rangepartitioning exchange feeding the window would be a global sort
    assert(p.contains("hashpartitioning(source"), p)
    // plans print top-down: text AFTER the Window node is its input subtree;
    // only the tiny aggregated output above it may range-partition (ORDER BY)
    assert(!p.split("Window ").last.contains("rangepartitioning"), p)
  }

  test("q34: CMS cell aggregate runs partial; probe join is an equi-join") {
    val p = plan(Relational3.q34CmsSketch(spark, d))
    // the d-row fan-out must aggregate map-side so the shuffle carries
    // at most d*w cells per partition — the mergeable-sketch property.
    // The exact per-key count feeds both the grid and the audit side; the
    // cell aggregate over it must run partial (partial_sum).
    assert(p.contains("partial_sum"), p.take(800))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(800))
  }

  test("q24/q34: the shared aggregate is a reused exchange over ONE lineitem scan") {
    // both builders return plans with two consumers of one aggregate: AQE
    // must compute the aggregate's exchange once and reuse it for the
    // second consumer, so lineitem is scanned once
    Seq("q24" -> Relational3.q24KmvSketch(spark, d),
      "q34" -> Relational3.q34CmsSketch(spark, d)).foreach { case (name, df) =>
      df.collect() // AQE finalizes during execution
      // the adaptive plan prints its final plan, then the initial one
      val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
      assert(p.contains("== Final Plan =="), p)
      assert(p.contains("ReusedExchange"), s"$name:\n$p")
      val scans = "FileScan parquet[^\\n]*".r.findAllIn(p).toList
      assert(scans.size == 1 && scans.head.contains("lineitem.parquet"),
        s"$name:\n$p")
    }
  }

  /** The physical plans of every SQL execution `body` starts, initial and
    * adaptive updates alike. The listener bus delivers events in order, so
    * once a marker job's start is seen every plan `body` produced has been
    * seen too. */
  private def plansDuring(body: => Unit): Seq[String] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val marker = s"plan-spec-${java.util.UUID.randomUUID()}"
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var markerSeen = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.jobGroup.id") == marker) markerSeen = true
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.add(s.physicalPlanDescription)
        case u: SparkListenerSQLAdaptiveExecutionUpdate => plans.add(u.physicalPlanDescription)
        case _ =>
      }
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      import org.scalatest.concurrent.Eventually._
      import org.scalatest.time.SpanSugar._
      eventually(timeout(10.seconds))(assert(markerSeen))
    } finally sc.removeSparkListener(listener)
    plans.asScala.toSeq
  }

  test("d07: no range-partitioning exchange sorts the candidate pair table") {
    // d07 builds its edge table as the union of both pair projections; a
    // presentation orderBy on the pairs survives under that Union as a
    // sampling job, an exchange and a sort of the pair table for nothing
    val plans = plansDuring(DedupOps.d07DupClusters(spark, d).collect())
    assert(plans.nonEmpty)
    val sorted = plans.filter(_.contains("rangepartitioning(doc_a"))
    assert(sorted.isEmpty, sorted.headOption.getOrElse(""))
  }

  test("q30: grouping sets expand into a single aggregation pipeline") {
    val p = plan(Relational3.q30GroupingSets(spark, d))
    assert(p.contains("Expand"), p)
    // one shuffle for the agg + one for the final ORDER BY — never one per set
    assert("Exchange".r.findAllIn(p).size <= 2, p)
  }

  test("Corpus.minhashCandidatePairs: AQE reuses the signature exchange in one action") {
    // the lazy facade leaves the (expensive) signature aggregation in the
    // band and both rescore branches; at runtime AQE must collapse them
    // into one computed stage + reuses — otherwise one action pays the
    // aggregation 2-3x
    import spark.implicits._
    val docs = (0 until 200)
      .map(i => (i.toLong, s"w$i alpha beta gamma delta epsilon " * 4))
      .toDF("doc_id", "text")
    val pairs = graft.ops.Corpus.minhashCandidatePairs(spark, docs)
    pairs.collect() // AQE finalizes during execution
    val p = pairs.queryExecution.executedPlan.toString
    assert(p.contains("ReusedQueryStage") || p.contains("ReusedExchange"), p)
  }

  test("broadcast-misestimate gate: no corpus-side broadcast at 10^6 checkpoint-derived rows") {
    // The SCALE_r12 §1 defect class (localCheckpoint lineage → size
    // underestimate → BroadcastExchange build of a corpus-derived join
    // side → driver OOM at scale), audited fleet-wide in r13 with live
    // runs at 10^6 rows (SCALE_r13 §1). This gate pins
    // the STATIC plans at the 10^6-row scale where a mis-broadcast is
    // fatal: every self-join family must plan with ZERO
    // BroadcastExchange nodes. Planning-only — nothing executes.
    import org.apache.spark.sql.functions.{col, expr}
    graft.functions.GraftFunctions.register(spark)
    val n = 1000000L
    val docs = spark.range(n).toDF("doc_id")
      .withColumn("text", expr(
        "concat_ws(' ', transform(sequence(0, 7), " +
          "j -> concat('w', abs(hash(doc_id, j)) % 10000)))"))
      .localCheckpoint(true)
    val emb = spark.range(n).toDF("vec_id")
      .withColumn("q", expr("transform(sequence(0, 63), " +
        "j -> cast(hash(vec_id, j) % 1000 as bigint))"))
      .withColumn("nrm", expr(
        "aggregate(q, cast(0 as bigint), (a, x) -> a + x * x)"))
      .withColumn("cell", expr(s"abs(hash(vec_id)) % ${n / 64}"))
      .localCheckpoint(true)
    try {
      val sig = DedupOps.minhashSigOf(
        graft.ops.Corpus.shingles(docs, "doc_id", "text")).localCheckpoint(true)
      val sh = graft.ops.Corpus.simhashSignatures(docs).localCheckpoint(true)
      try {
        val fams = Seq(
          "d04" -> DedupOps.lshPairsOf(sig),
          "d06" -> DedupOps.simhashPairsOf(sh),
          "d15" -> DedupOps.ppjoinPairsOf(docs, t10 = 8, k = 3),
          "d17" -> DedupOps.containmentPairsOf(docs, 8, 3),
          "s06" -> SimilarityOps.semanticDedupOf(emb, 0.45))
        fams.foreach { case (name, df) =>
          val p = plan(df)
          assert(!p.contains("BroadcastExchange"),
            s"$name plans a broadcast at n=$n:\n${p.take(3000)}")
        }
      } finally { sig.unpersist(blocking = false); sh.unpersist(blocking = false) }
    } finally {
      docs.unpersist(blocking = false); emb.unpersist(blocking = false)
    }
  }
}
