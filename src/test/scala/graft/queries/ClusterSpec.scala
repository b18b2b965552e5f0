package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** s12 k-means: the distributed treeAggregate training must equal a
  * straightforward single-threaded Lloyd reference on the same data, and
  * the documented edge semantics (tie-break, empty clusters, dimension
  * mismatch) must hold by name. */
class ClusterSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  private val d = "/root/testdata/sf0.001"

  /** Single-threaded reference Lloyd with the identical contract. */
  private def referenceKmeans(vecs: Array[(Long, Array[Long])], k: Int,
                              iters: Int): Map[Long, (Long, Long)] = {
    val dim = vecs.head._2.length
    var cents = vecs.filter(_._1 < k).sortBy(_._1).map(_._2.clone())
    def cellOf(v: Array[Long]): Int = {
      var best = 0; var bestD = Long.MaxValue
      for (c <- cents.indices) {
        var d2 = 0L
        for (j <- 0 until dim) { val df = v(j) - cents(c)(j); d2 += df * df }
        if (d2 < bestD) { bestD = d2; best = c }
      }
      best
    }
    for (_ <- 1 to iters) {
      val byCell = vecs.groupBy(x => cellOf(x._2))
      cents = Array.tabulate(k) { c =>
        byCell.get(c) match {
          case None => cents(c)
          case Some(members) =>
            Array.tabulate(dim)(j => members.map(_._2(j)).sum / members.length)
        }
      }
    }
    vecs.map { case (id, v) =>
      val c = cellOf(v)
      var d2 = 0L
      for (j <- 0 until dim) { val df = v(j) - cents(c)(j); d2 += df * df }
      id -> (c.toLong, d2)
    }.toMap
  }

  test("s12 equals the single-threaded Lloyd reference on the real corpus") {
    import spark.implicits._
    val vecs = Tables.embeddings(spark, d)
      .select(col("vec_id"), expr(SimilarityOps.quantize("embedding")).as("q"))
      .as[(Long, Array[Long])].collect()
    val want = referenceKmeans(vecs, ClusterOps.KmK, ClusterOps.KmIters)
    val got = ClusterOps.s12Kmeans(spark, d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.size == vecs.length)
    assert(got == want)
    // the clustering is non-trivial on this corpus: >1 populated cell
    assert(got.values.map(_._1).toSet.size > 1)
  }

  test("facade kmeans == s12 under renamed columns") {
    import spark.implicits._
    val renamed = Tables.embeddings(spark, d)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val a = graft.ops.Vectors.kmeans(spark, renamed,
      ClusterOps.KmK, ClusterOps.KmIters, "id", "vec").orderBy("vec_id")
    val b = ClusterOps.s12Kmeans(spark, d)
    assert(a.columns.sameElements(b.columns))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("ties go to the lowest cell; an emptied cluster keeps its centroid") {
    import spark.implicits._
    // all vectors identical: both seeds coincide, every assignment ties
    // -> cell 0; cell 1 is empty from iteration 1 and must not crash or
    // divide by zero
    val same = Seq.tabulate(4)(i => (i.toLong, Array(5L, 5L, 5L)))
      .toDF("vec_id", "q")
    val out = ClusterOps.kmeansOf(spark, same, k = 2, iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length == 4)
    assert(out.forall { case (_, cell, d2) => cell == 0L && d2 == 0L }, out.toSeq)
  }

  test("iters = 0 labels directly against the seed centroids") {
    import spark.implicits._
    val data = Seq(
      (0L, Array(0L, 0L)), (1L, Array(100L, 100L)),
      (2L, Array(1L, 0L)), (3L, Array(99L, 100L))).toDF("vec_id", "q")
    val out = ClusterOps.kmeansOf(spark, data, k = 2, iters = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(0L -> 0L, 1L -> 1L, 2L -> 0L, 3L -> 1L))
  }

  test("s13 pagerank: hand-computable star graph; hubs outrank leaves") {
    import spark.implicits._
    // star: nodes 1..4 each point only at node 0; node 0 points at node 1
    val nodes = (0L to 4L).toDF("vec_id")
    val edges = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L), (0L, 1L))
      .toDF("vec_id", "neighbor_id")
    // one sweep: pr(0) = 150 + 850*(4*1000/1)/1000 = 3550;
    // pr(1) = 150 + 850*1000/1000 = 1000; pr(2..4) = 150
    val got1 = ClusterOps.pagerankOf(nodes, edges, iters = 1)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got1 == Map(0L -> (1L, 3550L), 1L -> (1L, 1000L),
      2L -> (1L, 150L), 3L -> (1L, 150L), 4L -> (1L, 150L)), got1)
    // two sweeps: senders 1..4 now hold (1000, 150, 150, 150), so
    // pr(0) = 150 + 850*(1000 + 3*150)/1000 = 1382; the hub's sweep-1
    // mass flows on to node 1: pr(1) = 150 + 850*3550/1000 = 3167
    val got2 = ClusterOps.pagerankOf(nodes, edges, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got2(0L) == 150L + 850L * (1000L + 3L * 150L) / 1000L
      && got2(1L) == 150L + 850L * 3550L / 1000L, got2)
    // floor invariant: every score >= the teleport base
    assert(got2.values.forall(_ >= 150L))
  }

  test("s13 on the corpus: isolates keep base-ish mass; facade matches") {
    val df = ClusterOps.s13Pagerank(spark, d)
    val rows = df.collect()
    assert(rows.length == 500)
    assert(rows.forall(_.getLong(2) >= 150L))
    // the kNN graph on this corpus has real structure: scores spread
    assert(rows.map(_.getLong(2)).distinct.length > 10)
    val renamed = Tables.embeddings(spark, d)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val fac = graft.ops.Vectors.knnPagerank(spark, renamed,
      SimilarityOps.KnnK, ClusterOps.PrIters, "id", "vec").orderBy("vec_id")
    assert(fac.columns.sameElements(df.columns))
    assert(fac.exceptAll(df).isEmpty && df.exceptAll(fac).isEmpty)
  }

  test("s14 coreset: per-cell quotas exact; central flag flips the keep set") {
    import spark.implicits._
    val df = ClusterOps.s14CoresetSample(spark, d)
    val rows = df.collect()
    assert(rows.length == 500)
    // quota: kept per cell == ceil(size / keepDen), and the kept set is
    // exactly the lowest-rank (most central) slice
    val byCell = rows.groupBy(_.getLong(1))
    byCell.foreach { case (cell, rs) =>
      val size = rs.head.getLong(4)
      assert(size == rs.length, s"cell $cell size mismatch")
      val want = (size + ClusterOps.CoresetKeepDen - 1) / ClusterOps.CoresetKeepDen
      val kept = rs.filter(_.getBoolean(5))
      assert(kept.length == want, s"cell $cell kept ${kept.length} want $want")
      assert(kept.map(_.getLong(3)).max <= want, s"cell $cell kept a high rank")
    }
    // facade equivalence under renamed columns + the outlier flip:
    // central=false must keep the per-cell MAX-d2 vector, not the min
    val renamed = Tables.embeddings(spark, d)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val fac = graft.ops.Vectors.coresetSample(spark, renamed,
      ClusterOps.KmK, ClusterOps.KmIters, idCol = "id", vecCol = "vec")
      .orderBy("vec_id")
    assert(fac.exceptAll(df).isEmpty && df.exceptAll(fac).isEmpty)
    val outliers = graft.ops.Vectors.coresetSample(spark, renamed,
      ClusterOps.KmK, ClusterOps.KmIters, central = false,
      idCol = "id", vecCol = "vec").collect()
    outliers.groupBy(_.getLong(1)).foreach { case (cell, rs) =>
      val maxD2 = rs.map(_.getLong(2)).max
      assert(rs.filter(_.getBoolean(5)).exists(_.getLong(2) == maxD2),
        s"cell $cell: outlier mode must keep the farthest vector")
    }
  }

  test("s17 purity: hand fixture (majority, tie-to-lowest-label, milli floor); facade matches") {
    import spark.implicits._
    // cell 0: labels {1,1,2} -> top 1 (n=2), purity 666; cell 1: {3,4}
    // tie -> lowest label 3 wins, purity 500; cell 2: {7} pure 1000
    val assign = Seq((0L, 0L), (1L, 0L), (2L, 0L), (3L, 1L), (4L, 1L),
      (5L, 2L)).toDF("vec_id", "cell")
    val labels = Seq((0L, 1), (1L, 1), (2L, 2), (3L, 4), (4L, 3), (5L, 7))
      .toDF("vec_id", "label")
    val out = ClusterOps.clusterPurityOf(assign, labels).orderBy("cell")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getInt(3), r.getLong(4), r.getLong(5)))
    assert(out.toSeq == Seq(
      (0L, 3L, 2L, 1, 2L, 666L),
      (1L, 2L, 2L, 3, 1L, 500L),
      (2L, 1L, 1L, 7, 1L, 1000L)), out.toSeq)
    // corpus: facade (own clustering) == gated query; cells partition the
    // corpus and purity is a valid milli fraction
    val gated = ClusterOps.s17ClusterPurity(spark, d)
    val fac = graft.ops.Vectors.clusterPurity(spark,
        Tables.embeddings(spark, d), ClusterOps.KmK, ClusterOps.KmIters)
      .orderBy("cell")
    assert(fac.columns.sameElements(gated.columns))
    assert(fac.exceptAll(gated).isEmpty && gated.exceptAll(fac).isEmpty)
    val rows = gated.collect()
    assert(rows.nonEmpty)
    val total = Tables.embeddings(spark, d).count()
    assert(rows.map(_.getLong(1)).sum == total,
      "cells must partition the corpus")
    assert(rows.forall { r =>
      r.getLong(5) >= 1000L / math.max(r.getLong(2), 1L) &&
        r.getLong(5) <= 1000L && r.getLong(4) <= r.getLong(1)
    })
  }

  test("t23 exact-range guard bounds the worst-case PRODUCTS, not just total tokens") {
    import ClusterOps.milliLiftRangeOk
    // flat vocabulary: exact far past the old 3e9 total-token ceiling
    assert(milliLiftRangeOk(toks = 1_000_000_000_000L, maxTf = 1000L,
      maxCellToks = 2_000_000_000L, maxCtf = 32000L))
    // degenerate one-term corpus: numerator 1000·tf·toks overflows at
    // ~10^8 tokens even though toks is far below 3e9
    val t = 200_000_000L
    assert(!milliLiftRangeOk(toks = t, maxTf = t, maxCellToks = t, maxCtf = t))
    // denominator-only overflow: huge cell × huge term, modest max tf
    assert(!milliLiftRangeOk(toks = 5_000_000_000L, maxTf = 100L,
      maxCellToks = 4_000_000_000L, maxCtf = 4_000_000_000L))
    // boundary: both products exactly at Long.MaxValue are still exact
    val m = Long.MaxValue / 1000L
    assert(milliLiftRangeOk(toks = m, maxTf = 1L, maxCellToks = 1L, maxCtf = 1L))
  }

  test("t23 labels: hand fixture; below-corpus-rate terms suppressed; facade matches") {
    import spark.implicits._
    // two known clusters: cell 0 talks fruit, cell 1 talks dogs; 'the'
    // rides both. T = 11 tokens, cell 0 holds 7, cell 1 holds 4.
    // milli-lifts: cell 0 {apple,banana,cherry} = 1000*tf*11/(7*ctf)
    // = 1571 (tf/ctf cancel), the = 1000*2*11/(7*3) = 1047;
    // cell 1 dog = 1000*3*11/(4*3) = 2750, the = 1000*1*11/(4*3) = 916
    // -> suppressed (at/below corpus rate).
    val assign = Seq((0L, 0L), (1L, 0L), (2L, 1L)).toDF("vec_id", "cell")
    val docs = Seq((0L, "the apple apple banana"), (1L, "the apple cherry"),
      (2L, "the dog dog dog")).toDF("doc_id", "text")
    val out = ClusterOps.clusterLabelsOf(assign, docs, topK = 5, minTf = 1L)
      .orderBy("cell", "rk")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq(
      (0L, 1L, "apple", 3L, 1571L),
      (0L, 2L, "banana", 1L, 1571L),
      (0L, 3L, "cherry", 1L, 1571L),
      (0L, 4L, "the", 2L, 1047L),
      (1L, 1L, "dog", 3L, 2750L)), out.toSeq)
    // the support floor drops the singleton fruit rows
    val floored = ClusterOps.clusterLabelsOf(assign, docs, topK = 5,
        minTf = 2L).orderBy("cell", "rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(floored.toSeq == Seq((0L, 1L, "apple"), (0L, 2L, "the"),
      (1L, 1L, "dog")), floored.toSeq)
    // corpus: facade (own clustering) == gated query; output non-vacuous
    // and rk dense per cell
    val gated = ClusterOps.t23ClusterLabels(spark, d)
    val fac = graft.ops.Vectors.clusterLabels(spark,
        Tables.embeddings(spark, d), Tables.documents(spark, d),
        ClusterOps.KmK, ClusterOps.KmIters)
      .orderBy("cell", "rk")
    assert(fac.columns.sameElements(gated.columns))
    assert(fac.exceptAll(gated).isEmpty && gated.exceptAll(fac).isEmpty)
    val rows = gated.collect()
    assert(rows.nonEmpty, "no cell has an over-represented term — vacuous")
    assert(rows.forall(_.getLong(4) > 1000L))
    val byCell = rows.groupBy(_.getLong(0))
    assert(byCell.values.forall(g =>
      g.map(_.getLong(1)).sorted.sameElements(1L to g.length.toLong)))
  }

  test("dimension mismatch and missing seeds fail by name") {
    import spark.implicits._
    val ragged = Seq((0L, Array(1L, 2L)), (1L, Array(1L, 2L, 3L)))
      .toDF("vec_id", "q")
    val e1 = intercept[Exception] {
      ClusterOps.kmeansOf(spark, ragged, k = 2, iters = 1).collect()
    }
    assert(e1.getMessage.contains("components"), e1.getMessage)
    val sparse = Seq((5L, Array(1L, 2L))).toDF("vec_id", "q")
    val e2 = intercept[IllegalArgumentException] {
      ClusterOps.kmeansOf(spark, sparse, k = 2, iters = 1).collect()
    }
    assert(e2.getMessage.contains("seed"), e2.getMessage)
  }
}
