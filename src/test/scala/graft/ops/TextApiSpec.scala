package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The Text facade must be exactly the oracle-gated t0x semantics over a
  * column-renamed corpus; piiScrub (raw-text variant) is checked against a
  * hand-computed fixture. */
class TextApiSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  private val d = "/root/testdata/sf0.001"

  private def renamed: DataFrame =
    graft.queries.Tables.documents(spark, d)
      .select(col("doc_id").as("id"), col("text").as("body"))

  private def same(a: DataFrame, b: DataFrame): Unit = {
    assert(a.columns.sameElements(b.columns), s"${a.columns.toSeq} vs ${b.columns.toSeq}")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("stats == t01") {
    same(Text.stats(renamed, "id", "body"),
      graft.queries.TextOps.t01TextStats(spark, d))
  }

  test("fingerprints == t03") {
    same(Text.fingerprints(renamed, "id", "body"),
      graft.queries.TextOps.t03Fingerprint(spark, d))
  }

  test("tokenCounts == t06") {
    same(Text.tokenCounts(renamed, "id", "body"),
      graft.queries.TextOps.t06BpeTokens(spark, d))
  }

  test("chunkWindows == t16 under renamed columns; chunks cover every token") {
    same(Text.chunkWindows(renamed, idCol = "id", textCol = "body"),
      graft.queries.TextOps.t16ChunkWindows(spark, d))
    // coverage invariant: with stride <= window, the union of [start,
    // start+len) covers [0, n) for every doc — no token falls in a gap
    val chunks = Text.chunkWindows(renamed, idCol = "id", textCol = "body")
      .groupBy("doc_id")
      .agg(max(col("start_tok") + col("chunk_tokens")).as("covered"),
        sum(col("chunk_tokens")).as("sum_tokens"))
    val docs = graft.queries.TextOps.t01TextStats(spark, d)
      .select(col("doc_id"), col("n_tokens"))
    val bad = chunks.join(docs, "doc_id")
      .filter(col("covered") =!= col("n_tokens") ||
        col("sum_tokens") < col("n_tokens"))
    assert(bad.isEmpty, bad.collect().take(3).mkString(","))
  }

  test("sequence packing: zero-token docs occupy an empty [first,first] range") {
    import spark.implicits._
    // reachable through p08's BPE counts (all-empty-word text encodes to
    // 0 tokens); doc 1 sits EXACTLY on a window boundary, where the raw
    // (pack_start + n - 1) div w formula would put last_window BEFORE
    // first_window
    val counts = Seq((0L, 256L), (1L, 0L), (2L, 10L)).toDF("doc_id", "n_tokens")
    val got = graft.queries.TextOps.sequencePackCountsOf(counts, 256)
      .orderBy("doc_id").collect()
    assert(got(1).getAs[Long]("pack_start") == 256L)
    assert(got(1).getAs[Long]("first_window") == 1L &&
      got(1).getAs[Long]("last_window") == 1L, got.mkString(","))
    // and the empty doc consumes no stream positions
    assert(got(2).getAs[Long]("pack_start") == 256L)
  }

  test("bm25TopK == t22; a verbatim copy of a query ranks first") {
    import spark.implicits._
    same(Text.bm25TopK(renamed, 0L until 10L, k = 5, "id", "body")
      .orderBy("query_id", "rk"),
      graft.queries.RetrievalOps.t22Bm25Topk(spark, d))
    // retrieval sanity on a hand-built corpus. The copy sits at the
    // HIGHEST doc_id so it cannot win by the ascending-id tie-break —
    // it must win on score, which requires idf_bits > 0: durian /
    // elderberry / fig appear in exactly 2 of 5 docs (5 div 2 = 2 →
    // 1 bit), while apple / banana / cherry appear in 3 (5 div 3 = 1 →
    // 0 bits, the stopword-suppression arm — docs matching ONLY those
    // score 0).
    val fixture = Seq(
      (0L, "apple banana cherry durian elderberry fig"),
      (1L, "apple banana common words only here today"),
      (2L, "totally disjoint vocabulary zone without overlap"),
      (3L, "cherry alone plus unrelated filler text here"),
      (4L, "apple banana cherry durian elderberry fig")).toDF("id", "body")
    val got = Text.bm25TopK(fixture, Seq(0L), k = 4, "id", "body")
      .orderBy("rk").collect()
    assert(got.head.getAs[Long]("doc_id") == 4L &&
      got.head.getAs[Long]("score_milli") > 0L,
      s"the high-id exact copy must rank first ON SCORE: ${got.mkString(",")}")
    // docs matching only saturated (0-bit) terms trail at score 0, in
    // ascending-id order
    assert(got.map(r => (r.getAs[Long]("doc_id"),
      r.getAs[Long]("score_milli"))).drop(1).toSeq ==
      Seq((1L, 0L), (3L, 0L)), got.mkString(","))
    assert(!got.map(_.getAs[Long]("doc_id")).contains(2L),
      "a zero-overlap doc can never be retrieved")
  }

  test("bpeMerges == t17 under renamed columns; merge semantics guards hold") {
    import spark.implicits._
    same(Text.bpeMerges(renamed, idCol = "id", textCol = "body"),
      graft.queries.TextOps.t17BpeMerges(spark, d))
    // the documented merge-application caveat (two-pass boundary replace
    // vs reference BPE's pairwise scan) diverges — in grouping AND, for
    // even runs of 6+, in merge-site count — only on words with a 5+-fold
    // repetition of some substring; assert none exist so the
    // simplification cannot silently change semantics
    val runs = graft.queries.Tables.documents(spark, d)
      .filter(col("text").rlike("(.+)\\1\\1\\1\\1"))
    assert(runs.isEmpty, "corpus now contains a 5-fold repetition; revisit t17")
    // learning more merges extends, never changes, the earlier ones
    val m3 = Text.bpeMerges(renamed, nMerges = 3, "id", "body")
      .collect().map(_.toSeq).toVector
    val m5 = Text.bpeMerges(renamed, nMerges = 5, "id", "body")
      .collect().map(_.toSeq).toVector
    assert(m5.take(3) == m3, s"prefix mismatch: $m3 vs ${m5.take(3)}")
    assert(m5.size == 5)
    // two-pass application handles consecutive winner occurrences exactly
    // like reference BPE's greedy scan ("banana": both (a,n) sites merge)
    val banana = Seq((1L, "banana banana banana")).toDF("id", "body")
    val bm = Text.bpeMerges(banana, nMerges = 1, "id", "body").collect()
    assert(bm.head.getString(1) == "a~n" && bm.head.getLong(3) == 6L,
      bm.mkString(","))
    // exhausted vocabulary stops early instead of crashing
    val tiny = Seq((1L, "ab ab")).toDF("id", "body")
    assert(Text.bpeMerges(tiny, nMerges = 5, "id", "body").count() == 1)
    // a tilde in the corpus fails by name, not with forged boundaries
    val bad = Seq((1L, "oops~here")).toDF("id", "body")
    val e = intercept[IllegalArgumentException](
      Text.bpeMerges(bad, nMerges = 1, "id", "body").count())
    assert(e.getMessage.contains("delimiter"), e.getMessage)
  }

  test("bpeEncode == t19; more merges never produce more tokens") {
    val api = Text.bpeEncode(renamed, idCol = "id", textCol = "body")
      .orderBy("doc_id")
    same(api, graft.queries.TextOps.t19BpeEncode(spark, d))
    // encode invariants: tokens never exceed characters (each merge only
    // shrinks), and learning MORE merges is monotone non-increasing in
    // per-doc token count
    assert(api.filter(col("tokens_after") > col("chars_total")).isEmpty)
    val m1 = Text.bpeEncode(renamed, nMerges = 1, "id", "body")
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("tokens_after")).toMap
    val m3 = api.collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("tokens_after")).toMap
    assert(m3.forall { case (id, t3) => t3 <= m1(id) },
      m3.collect { case (id, t3) if t3 > m1(id) => (id, m1(id), t3) }.take(3))
    // and the merges must actually fire on this corpus
    assert(m3.exists { case (id, t3) => t3 < m1(id) }, "no merge applied — vacuous")
  }

  test("bpeMerges batched: B=8 == B=1 on a disjoint-pair corpus, deferral included") {
    import spark.implicits._
    // 16 two-char words over 32 distinct chars (every pair symbol-
    // disjoint) with strictly decreasing counts, plus "ppq" whose two
    // pairs OVERLAP on 'p' — the batch must defer p~q behind p~p, then
    // pick up the newly-formed pp~q next iteration, exactly as the
    // sequential trainer does
    val chars = ('a' to 'z') ++ ('0' to '5')
    val words = (0 until 16).map(i => s"${chars(2 * i)}${chars(2 * i + 1)}")
    val docs = (words.zipWithIndex.map { case (w, i) =>
      (i.toLong, Seq.fill(50 - i)(w).mkString(" "))
    } :+ (99L, Seq.fill(3)("ppq").mkString(" "))).toDF("doc_id", "text")
    val seqRows = Text.bpeMerges(docs, nMerges = 18, batch = 1)
      .collect().map(_.toSeq).toVector
    val batRows = Text.bpeMerges(docs, nMerges = 18, batch = 8)
      .collect().map(_.toSeq).toVector
    assert(seqRows.size == 18, s"expected 18 merges, got ${seqRows.size}")
    assert(batRows == seqRows,
      s"batched diverged:\nseq=${seqRows.mkString("\n")}\nbat=${batRows.mkString("\n")}")
    // the overlapping word's merges land last and in the right order
    assert(seqRows(16)(1) == "p~p" && seqRows(17)(1) == "pp~q", seqRows.drop(16))
  }

  test("lateInteractionTopK == s09; a verbatim copy of the query ranks first") {
    same(Text.lateInteractionTopK(spark, renamed, 0L until 10L, k = 5,
      idCol = "id", textCol = "body").orderBy("query_id", "rk"),
      graft.queries.SimilarityOps.s09MaxsimTopk(spark, d))
    // MaxSim sanity on an UNSATURATED vocabulary (the bench corpus's
    // 30-word dictionary makes most docs contain every query word, so
    // scores saturate and ties go to the lowest id — a corpus property,
    // not an operator one): with per-doc-distinct words, only the
    // verbatim copy matches every query token, so it must rank #1 with
    // maxsim within one floor-ulp micro-unit per token of the ceiling
    import spark.implicits._
    val fixture = Seq(
      (0L, "alpha beta gamma delta"),
      (1L, "epsilon zeta eta theta iota"),
      (2L, "kappa lambdaa mu nu xi"),
      (3L, "omicron pi rho sigma tau"),
      (5000L, "alpha beta gamma delta")).toDF("id", "body")
    val got = Text.lateInteractionTopK(spark, fixture,
      Seq(0L), k = 3, idCol = "id", textCol = "body")
      .orderBy("rk").collect()
    assert(got.head.getAs[Long]("doc_id") == 5000L, got.mkString("\n"))
    val n = got.head.getAs[Long]("n_q_tokens")
    val ms = got.head.getAs[Long]("maxsim_milli")
    assert(n == 4L && ms >= n * 999999L && ms <= n * 1000000L, s"n=$n ms=$ms")
    // and the copy's score strictly exceeds every non-copy score
    assert(got.drop(1).forall(_.getAs[Long]("maxsim_milli") < ms),
      got.mkString("\n"))
  }

  test("dsirSelect == t20 under renamed columns; selection invariants hold") {
    import spark.implicits._
    val pool = graft.queries.Tables.documents(spark, d)
      .select(col("doc_id").as("id"), col("text").as("body"),
        col("lang"), col("source"))
    val tgt = col("lang") === graft.queries.TextOps.PplLang &&
      col("source").isin(graft.queries.TextOps.PplCleanSources: _*)
    val api = Text.dsirSelect(pool, tgt, idCol = "id", textCol = "body")
      .orderBy("doc_id")
    same(api, graft.queries.SelectionOps.t20DsirSelect(spark, d))
    // keepFrac contract: selected count == ceil-ish fraction at the
    // percentile cut — at least keepFrac of scored docs, and the
    // selected set is exactly the score-threshold upper slice
    val rows = api.select("score_milli", "selected")
      .as[(Long, Boolean)].collect()
    val n = rows.length
    val kept = rows.count(_._2)
    assert(kept >= (n * graft.queries.SelectionOps.DsirKeepFrac).floor.toInt,
      s"kept $kept of $n")
    val minSel = rows.filter(_._2).map(_._1).min
    assert(rows.forall { case (sc, sel) => sel == (sc >= minSel) || !sel },
      "selection is not an upper slice of the score distribution")
    assert(rows.filter(!_._2).forall(_._1 < minSel), "unselected doc above cut")
    // a target slice with no bigram features fails by name
    val e = intercept[IllegalArgumentException](
      Text.dsirSelect(pool, col("lang") === "zz", idCol = "id", textCol = "body"))
    assert(e.getMessage.contains("target slice"), e.getMessage)
    // keepFrac = 1.0 keeps everything
    val all = Text.dsirSelect(pool, tgt, keepFrac = 1.0,
      idCol = "id", textCol = "body")
    assert(all.filter(!col("selected")).isEmpty)
  }

  test("perplexityFilter == t18 under renamed columns; buckets partition the scored docs") {
    val docs = graft.queries.Tables.documents(spark, d)
      .filter(col("lang") === graft.queries.TextOps.PplLang)
    val renamedEn = docs.select(col("doc_id").as("id"), col("text").as("body"))
    val clean = docs
      .filter(col("source").isin(graft.queries.TextOps.PplCleanSources: _*))
      .select(col("doc_id").as("id"), col("text").as("body"))
    val api = Text.perplexityFilter(renamedEn, clean, "id", "body")
      .orderBy("doc_id")
    same(api, graft.queries.TextOps.t18PerplexityFilter(spark, d))
    // the past-threshold SHUFFLE path scores identically (threshold 0
    // forces every LM join to exchange instead of broadcast)
    same(Text.perplexityFilter(renamedEn, clean, "id", "body",
      broadcastMaxBigrams = 0L).orderBy("doc_id"),
      graft.queries.TextOps.t18PerplexityFilter(spark, d))
    // tertile sanity: all three buckets are non-empty and partition the
    // scored docs; head scores <= every tail score
    val byBucket = api.groupBy("bucket").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(Set("head", "middle", "tail").subsetOf(byBucket.keySet), byBucket)
    assert(byBucket.values.sum == api.count())
    val maxHead = api.filter(col("bucket") === "head")
      .agg(max("ppl_milli")).collect()(0).getLong(0)
    val minTail = api.filter(col("bucket") === "tail")
      .agg(org.apache.spark.sql.functions.min("ppl_milli")).collect()(0).getLong(0)
    assert(maxHead <= minTail, s"head max $maxHead > tail min $minTail")
  }

  test("mixWeights == t15 under renamed columns") {
    val docs = graft.queries.Tables.documents(spark, d)
      .select(col("source").as("origin"), col("text").as("body"))
    same(Text.mixWeights(docs, "origin", "body").orderBy("source"),
      graft.queries.TextOps.t15MixWeights(spark, d))
  }

  test("gopherFilters == t14 (bench stopword subset); default = Gopher 8-list") {
    // the bench entry passes the corpus-discriminating {the, a} subset
    same(Text.gopherFilters(renamed, "id", "body",
      stopwords = graft.queries.TextOps.BenchStopwords),
      graft.queries.TextOps.t14GopherFilters(spark, d))
    // the facade DEFAULT is the paper's 8-word list; on this synthetic
    // corpus (only 'the' occurs from that list) the stopword rule must
    // fail every document — pinning that the default really is the list
    import org.apache.spark.sql.functions.col
    val full = Text.gopherFilters(renamed, "id", "body")
    assert(full.filter(col("pass_stop")).isEmpty)
    assert(full.filter(col("n_stop_kinds") > 1).isEmpty)
  }

  test("cleaned == t08") {
    same(Text.cleaned(renamed, "id", "body"),
      graft.queries.TextOps.t08CleanText(spark, d))
  }

  test("repetitionSignals == t10") {
    same(Text.repetitionSignals(renamed, "id", "body"),
      graft.queries.TextOps.t10Repetition(spark, d))
  }

  test("languageId / languageIdNgram == the gated guesses without the label") {
    val api2 = Text.languageId(renamed, "id", "body")
    val gated2 = graft.queries.TextOps.t02LangId(spark, d).drop("lang")
    assert(api2.columns.sameElements(gated2.columns))
    assert(api2.exceptAll(gated2).isEmpty && gated2.exceptAll(api2).isEmpty)
    val api5 = Text.languageIdNgram(renamed, "id", "body")
    val gated5 = graft.queries.TextOps.t05LangIdNgram(spark, d).drop("lang")
    assert(api5.columns.sameElements(gated5.columns))
    assert(api5.exceptAll(gated5).isEmpty && gated5.exceptAll(api5).isEmpty)
  }

  test("deterministicSample flags aggregate to the gated t07 summary") {
    val docs = graft.queries.Tables.documents(spark, d)
    val agg = Text.deterministicSample(docs, percent = 10)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("sampled")).cast("long").as("n_sampled"),
        min(when(col("sampled") === 1, col("doc_id"))).as("first_sampled"))
      .orderBy("lang")
    val gated = graft.queries.TextOps.t07SampleStrata(spark, d)
    assert(agg.exceptAll(gated).isEmpty && gated.exceptAll(agg).isEmpty)
  }

  test("contamination == t11 when split by the benchmark rule") {
    val mod = graft.queries.TextOps.BenchMod
    val api = Text.contamination(
      renamed.filter(col("id") % mod =!= 0),
      renamed.filter(col("id") % mod === 0),
      n = graft.queries.TextOps.ContamN,
      idCol = "id", textCol = "body").orderBy("doc_id")
    same(api, graft.queries.TextOps.t11Contamination(spark, d))
  }

  test("domainBalance selection aggregates to the gated t12 summary") {
    val cap = graft.queries.TextOps.DomainCap
    val sel = Text.domainBalance(
      graft.queries.Tables.documents(spark, d), cap)
    val agg = sel.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), col("n_chars")).otherwise(0L)).as("chars_kept"),
        min(when(col("kept"), col("n_chars"))).as("min_kept_chars"))
      .orderBy("source")
    val gated = graft.queries.TextOps.t12DomainBalance(spark, d)
    assert(agg.exceptAll(gated).isEmpty && gated.exceptAll(agg).isEmpty)
    // and the flags themselves respect the cap
    assert(sel.filter(col("kept")).groupBy("source").count()
      .filter(col("count") > cap).isEmpty)
  }

  test("sequencePack == t13 under renamed columns; shard span is invariant") {
    val api = Text.sequencePack(renamed, idCol = "id", textCol = "body")
      .orderBy("doc_id")
    val gated = graft.queries.TextOps.t13SequencePack(spark, d)
    same(api, gated)
    // the shard decomposition is an implementation detail: any span gives
    // the same global prefix sum
    val otherSpan = Text.sequencePack(renamed, shardSpan = 7L,
      idCol = "id", textCol = "body").orderBy("doc_id")
    same(otherSpan, gated)
  }

  test("stopwordDiscovery == t25; discover->gate loop closes into gopherFilters") {
    import spark.implicits._
    same(Text.stopwordDiscovery(spark, renamed, idCol = "id", textCol = "body"),
      graft.queries.TextOps.t25StopwordDiscovery(spark, d))
    // hand fixture: 'the' in 3/4 docs (750 milli), 'cat' in 2/4 (500),
    // 'dog' in 1/4 (250 — under the 400 floor); 'the' repeated within a
    // doc counts once (document frequency, not term frequency)
    val docs = Seq((0L, "the the cat"), (1L, "the cat"), (2L, "the dog"),
      (3L, "bird")).toDF("doc_id", "text")
    val out = graft.queries.TextOps.stopwordDiscoveryOf(spark, docs, 10, 400L)
      .orderBy("rk").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((1L, "the", 3L, 750L), (2L, "cat", 2L, 500L)),
      out.toSeq)
    // the loop: discovered terms feed t14's stopword parameter — the
    // gate accepts them and its n_stop_kinds counts against THAT set
    val discovered = graft.queries.TextOps
      .t25StopwordDiscovery(spark, d).collect().map(_.getString(1)).toSeq
    assert(discovered.nonEmpty)
    val gated = Text.gopherFilters(renamed, stopwords = discovered,
      idCol = "id", textCol = "body")
    assert(gated.count() == renamed.count())
    assert(gated.filter(col("n_stop_kinds") > discovered.length).isEmpty)
  }

  test("vocabGrowth == t24 under renamed columns; hand fixture pins the curve") {
    import spark.implicits._
    same(Text.vocabGrowth(spark, renamed, idCol = "id", textCol = "body"),
      graft.queries.TextOps.t24VocabGrowth(spark, d))
    // 4 docs / 2 slices: slice 0 = {a b, a c} (4 toks, 3 new: a b c),
    // slice 1 = {b c d, a} (4 toks, 1 new: d)
    val docs = Seq((0L, "a b"), (1L, "a c"), (2L, "b c d"), (3L, "a"))
      .toDF("doc_id", "text")
    val out = graft.queries.TextOps.vocabGrowthOf(spark, docs, 2)
      .orderBy("slice").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(out.toSeq == Seq(
      (0L, 4L, 3L, 3L, 750L),
      (1L, 4L, 1L, 4L, 250L)), out.toSeq)
    // a slice with no novel terms reports 0, not a dropped row
    val docs2 = Seq((0L, "a b"), (1L, "a b")).toDF("doc_id", "text")
    val out2 = graft.queries.TextOps.vocabGrowthOf(spark, docs2, 2)
      .orderBy("slice").collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(out2.toSeq == Seq((0L, 2L), (1L, 0L)), out2.toSeq)
  }

  test("piiScrub redacts raw text with the gated patterns") {
    import spark.implicits._
    val docs = Seq(
      (1L, "mail me at jo.doe@corp.io or call +1-555-0199 from 10.1.2.3 now"),
      (2L, "clean text with no pii at all"),
      (3L, "two mails a@b.cc c@d.ee and ip 10.255.0.255")
    ).toDF("id", "body")
    val got = Text.piiScrub(docs, "id", "body")
      .orderBy("doc_id").collect()
    assert(got(0).getLong(1) == 1 && got(0).getLong(2) == 1 && got(0).getLong(3) == 1)
    assert(got(0).getString(4) ==
      "mail me at <EMAIL> or call <PHONE> from <IP> now")
    assert(got(1).getLong(1) == 0 && got(1).getLong(2) == 0 && got(1).getLong(3) == 0)
    assert(got(1).getString(4) == "clean text with no pii at all")
    assert(got(2).getLong(1) == 2 && got(2).getLong(3) == 1)
    assert(got(2).getString(4) == "two mails <EMAIL> <EMAIL> and ip <IP>")
  }
}
