package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Semantic invariants for the round-3 corpus operators (d08/d09/t11/st05):
  * each is cross-checked against an independently-computed expectation on
  * sf0.001 (the DuckDB oracle covers engine agreement at sf0.01; these gates
  * assert the *semantics* are the intended ones, not just engine parity).
  */
class CorpusOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  private val d = "/root/testdata/sf0.001"

  test("documents.doc_id is unique (shingles' per-row distinct relies on it)") {
    // DedupOps.shingles replaces a global DISTINCT with per-row
    // array_distinct; that equivalence (and oracle agreement) holds only
    // while doc_id is the table's primary key.
    val docs = Tables.documents(spark, d)
    assert(docs.groupBy("doc_id").count().filter(col("count") > 1).isEmpty)
  }

  test("d08: dropped-segment total equals occurrences minus distinct segments") {
    val res = DedupOps2.d08ParagraphDedup(spark, d)
    val docs = Tables.documents(spark, d)
    // independent expectation: segment every doc in plain Scala
    val segs = docs.select("doc_id", "text").collect().flatMap { r =>
      val words = r.getString(1).split(" ")
      words.grouped(DedupOps2.SegWords).map(_.mkString(" ")).toVector
    }
    val totalSegs = segs.length.toLong
    val distinctSegs = segs.distinct.length.toLong
    val agg = res.agg(
      sum("n_segs").cast("long"), sum("n_dropped").cast("long"),
      sum("kept_words").cast("long")).head()
    assert(agg.getLong(0) == totalSegs)
    assert(agg.getLong(1) == totalSegs - distinctSegs)
    // every kept word is a real word of some document: kept_words equals the
    // word count of the distinct segment set (each kept exactly once)
    val distinctWords = segs.distinct.map(_.split(" ").length.toLong).sum
    assert(agg.getLong(2) == distinctWords)
    assert(res.filter(col("n_dropped") < 0 || col("kept_words") < 0).isEmpty)
  }

  test("d09: bloom-prefiltered result equals the exact segment semi-join") {
    val res = DedupOps2.d09BloomIncremental(spark, d)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
      .toSet
    // independent expectation: plain Scala segment overlap, no bloom
    val docs = Tables.documents(spark, d)
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def segSet(t: String): Set[String] =
      t.split(" ").grouped(DedupOps2.SegWords).map(_.mkString(" ")).toSet
    val corpusSegs = docs.filter(_._2 != DedupOps2.NewBatchSource)
      .flatMap { case (id, _, t) => segSet(t).map(_ -> id) }
      .groupBy(_._1).map { case (seg, xs) => seg -> xs.map(_._2).min }
    val expected = docs.filter(_._2 == DedupOps2.NewBatchSource).flatMap {
      case (id, _, t) =>
        val segs = segSet(t)
        val hit = segs.filter(corpusSegs.contains)
        if (hit.isEmpty) None
        else Some((id, segs.size.toLong, hit.size.toLong,
          BigDecimal(hit.size.toDouble / segs.size)
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
          hit.map(corpusSegs).min))
    }.toSet
    assert(res == expected)
    assert(res.nonEmpty)
  }

  test("t11: only non-benchmark docs are flagged, with a brute-force cross-check") {
    val res = TextOps.t11Contamination(spark, d)
    assert(res.filter(col("doc_id") % TextOps.BenchMod === 0).isEmpty)
    assert(res.filter(col("contamination") <= 0 || col("contamination") > 1).isEmpty)
    // brute-force expectation in plain Scala
    val docs = Tables.documents(spark, d).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toVector
    def grams(t: String): Set[String] = {
      val w = t.split(" ")
      val n = math.max(w.length - (TextOps.ContamN - 1), 1)
      (1 to n).map(i => w.slice(i - 1, i - 1 + TextOps.ContamN).mkString(" ")).toSet
    }
    val bench = docs.filter(_._1 % TextOps.BenchMod == 0).flatMap(x => grams(x._2)).toSet
    val expected = docs.filter(_._1 % TextOps.BenchMod != 0).flatMap { case (id, t) =>
      val g = grams(t); val hit = g.count(bench.contains)
      if (hit > 0) Some((id, g.size.toLong, hit.toLong,
        BigDecimal(hit.toDouble / g.size).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
      else None
    }.toSet
    val got = res.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == expected)
  }

  test("t11 plan: benchmark n-gram side is broadcast, not shuffled") {
    val p = TextOps.t11Contamination(spark, d).queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("st05: dedup never exceeds raw and totals cover every event") {
    val res = StreamOps.st05StreamDedup(spark, d)
    assert(res.filter(col("n_dedup") > col("n_raw")).isEmpty)
    val total = res.agg(sum("n_raw").cast("long")).head().getLong(0)
    assert(total == Tables.events(spark, d).count())
  }

  test("p10: manifest conserves the packed stream and every stage bites") {
    val m = PipelineOps.p10ShardBuild(spark, d).collect()
    assert(m.nonEmpty)
    // token conservation: manifest totals equal the survivor stream
    val surv = PipelineOps.p10SurvivorsLazy(Tables.documents(spark, d))
    val survDocs = surv.count()
    val survToks = surv.agg(sum("n_tokens")).head().getLong(0)
    assert(m.map(_.getLong(1)).sum == survDocs)
    assert(m.map(_.getLong(2)).sum == survToks)
    // the admission stages are non-vacuous on this corpus
    val corpusDocs = Tables.documents(spark, d).count()
    assert(survDocs > 0 && survDocs < corpusDocs,
      s"admission dropped nothing ($survDocs of $corpusDocs)")
    // doc ranges are disjoint and ordered: packing follows doc_id order
    val sorted = m.sortBy(_.getLong(0))
    sorted.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getLong(4) < b.getLong(3),
          s"shard ${a.getLong(0)} last_doc >= shard ${b.getLong(0)} first_doc")
        assert(a.getLong(5) < b.getLong(5),
          "start_token must increase with shard_id")
      case _ =>
    }
    // boundary-spanning docs exist (256-token windows vs ~55-token docs
    // guarantee some doc straddles a 4-window shard edge) and never
    // exceed one per shard boundary
    val spanning = m.map(_.getLong(6)).sum
    assert(spanning > 0 && spanning < m.length.toLong,
      s"spanning=$spanning of ${m.length} shards")
    assert(m.forall(_.getLong(6) <= 1L),
      "a doc can straddle at most the shard's trailing boundary")
  }
}
