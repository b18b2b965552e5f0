package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

/** Estimator-quality gates for the distinct sketches: the DuckDB oracle
  * proves ENGINE AGREEMENT; these pin that the estimates are also
  * CORRECT — within their published error bounds of the true counts —
  * via fully independent plain-Scala recomputes. */
class SketchSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  private val d = "/root/testdata/sf0.01"

  private def h60(s0: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s0.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  test("q33 HLL: registers and estimate equal an independent recompute; error within 1.5 sigma") {
    val keys = spark.read.parquet(s"$d/lineitem.parquet")
      .select("l_partkey").distinct()
      .collect().map(_.getLong(0))
    // plain-Scala register build (the independent twin of the Spark agg)
    val m = 256
    val K = 30
    val regs = new Array[Long](m)
    keys.foreach { k =>
      val h = h60(k.toString)
      val bucket = (h >>> 52).toInt
      val rest = h & ((1L << 52) - 1)
      val rho =
        if (rest == 0) 53L
        else 52L - java.lang.Long.toBinaryString(rest).length + 1
      if (rho > regs(bucket)) regs(bucket) = rho
    }
    val ssum = regs.map(mr => 1L << (K - math.min(mr, K.toLong)).toInt).sum
    val est = (7213L * m * m * (1L << K)) / (ssum * (10000 + 10790 / m))
    val row = Relational3.q33HllSketch(spark, d).head()
    assert(row.getLong(1) == ssum, s"ssum ${row.getLong(1)} != recompute $ssum")
    assert(row.getLong(2) == est, s"est ${row.getLong(2)} != recompute $est")
    assert(row.getLong(3) == keys.length.toLong)
    // HLL standard error is 1.04/sqrt(m) ~ 6.5%; allow 1.5 sigma
    val err = math.abs(est.toDouble - keys.length) / keys.length
    info(f"q33 HLL est $est vs exact ${keys.length} (err ${err * 100}%.2f%%)")
    assert(err <= 1.5 * 1.04 / math.sqrt(m.toDouble),
      s"HLL error $err past 1.5 sigma — estimator or hash broken")
    // mergeability contract: register tables are elementwise-max monoids,
    // so the sketch of a UNION is the max of per-part sketches — rebuild
    // from two disjoint halves and require identical registers
    val (ha, hb) = keys.partition(_ % 2 == 0)
    def regsOf(ks: Array[Long]): Array[Long] = {
      val r = new Array[Long](m)
      ks.foreach { k =>
        val h = h60(k.toString)
        val b = (h >>> 52).toInt
        val rest = h & ((1L << 52) - 1)
        val rho = if (rest == 0) 53L
                  else 52L - java.lang.Long.toBinaryString(rest).length + 1
        if (rho > r(b)) r(b) = rho
      }
      r
    }
    val merged = regsOf(ha).zip(regsOf(hb)).map { case (x, y) => math.max(x, y) }
    assert(merged.sameElements(regs), "merged per-part registers != whole-corpus registers")
  }

  test("q34 CMS: cells equal an independent recompute; one-sided; counter grids merge") {
    val keys = spark.read.parquet(s"$d/lineitem.parquet")
      .select("l_suppkey").collect().map(_.getLong(0))
    val (dRows, w) = (4, 64)
    // hash rows = disjoint 16-bit hex slices of ONE md5 per key
    def colOf(k: Long, r: Int): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(k.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex.substring(r * 4, r * 4 + 4), 16) % w).toInt
    }
    // plain-Scala sketch build (the independent twin of the Spark agg)
    def cellsOf(ks: Array[Long]): Array[Array[Long]] = {
      val c = Array.fill(dRows)(new Array[Long](w))
      ks.foreach { k =>
        var r = 0
        while (r < dRows) { c(r)(colOf(k, r)) += 1; r += 1 }
      }
      c
    }
    val cells = cellsOf(keys)
    def estOf(k: Long): Long =
      (0 until dRows).map(r => cells(r)(colOf(k, r))).min
    val exact = keys.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val rows = Relational3.q34CmsSketch(spark, d).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      val (k, ex, est, over) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(ex == exact(k), s"exact_n for $k")
      assert(est == estOf(k), s"est_n for $k: $est != recompute ${estOf(k)}")
      // CMS is ONE-SIDED: collisions only add
      assert(est >= ex && over == est - ex, s"one-sidedness broken for $k")
    }
    // non-vacuity: at 100 keys over 64 columns some audited key collides
    assert(rows.exists(_.getLong(3) > 0),
      "no overcount anywhere — the sketch audit is vacuous")
    // CMS error bound: overcount <= 2N/w for all d rows simultaneously
    // holds w.h.p.; pin a generous deterministic cap for this fixture
    val n = keys.length.toLong
    rows.foreach(r => assert(r.getLong(3) <= 2 * n / w,
      s"overcount ${r.getLong(3)} past 2N/w = ${2 * n / w}"))
    // mergeability: counter grids are elementwise-sum monoids — the
    // sketch of a union is the sum of per-part sketches
    val (ka, kb) = keys.partition(_ % 2 == 0)
    val merged: Array[Array[Long]] =
      cellsOf(ka).zip(cellsOf(kb)).map { case (a, b) =>
        a.zip(b).map { case (x, y) => x + y } }
    assert(merged.flatten[Long].sameElements(cells.flatten[Long]),
      "merged per-part grids != whole-corpus grid")
  }

  test("Sketches facade: grid matches the gated hash family; heavy hitters surface") {
    import graft.ops.Sketches
    val df = spark.read.parquet(s"$d/lineitem.parquet").select("l_suppkey")
    val keys = df.collect().map(_.getLong(0))
    val (dRows, w) = (4, 64)
    def colOf(k: Long, r: Int): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(k.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex.substring(r * 4, r * 4 + 4), 16) % w).toInt
    }
    val want = scala.collection.mutable.Map.empty[(Int, Int), Long]
    keys.foreach { k =>
      (0 until dRows).foreach { r =>
        val key = (r, colOf(k, r)); want(key) = want.getOrElse(key, 0L) + 1
      }
    }
    val got = Sketches.countMinCells(df, "l_suppkey", dRows, w)
      .collect().map(r => (r.getInt(0), r.getLong(1).toInt) -> r.getLong(2)).toMap
    assert(got == want.toMap, "facade grid != independent recompute")
    // heavy hitters: the CMS contract holds for keys heavier than ~N/w,
    // so probe at w = 1024 (100 near-uniform keys in 64 columns have NO
    // heavy hitter relative to the collision mass — at 1024 columns most
    // cells are singletons and the true top keys must surface)
    val trueTop = keys.groupBy(identity).view.mapValues(_.length).toSeq
      .sortBy { case (k, n) => (-n, k) }.take(3).map(_._1).toSet
    val hh = Sketches.heavyHitters(spark, df, "l_suppkey", 10, dRows, 1024)
      .collect().map(_.getLong(0)).toSet
    assert(trueTop.subsetOf(hh), s"true top-3 $trueTop not all in top-10 $hh")
    // estimates are one-sided for every probed key
    val est = Sketches.countMinEstimate(
        Sketches.countMinCells(df, "l_suppkey", dRows, w).localCheckpoint(true),
        df.distinct(), "l_suppkey", dRows, w)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = keys.groupBy(identity).view.mapValues(_.length.toLong).toMap
    assert(exact.forall { case (k, n) => est(k) >= n }, "one-sidedness broken")
  }

  test("q32 percentile sketch: estimates within interpolation reach of the exact q26 values") {
    val est = Relational3.q32PercentileSketch(spark, d)
      .collect().map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))).toMap
    val exact = Relational3.q26Percentiles(spark, d)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toMap
    assert(est.keySet == exact.keySet)
    est.foreach { case (flag, (q50, q95, c50, c99)) =>
      val (e50, e95, ec50, ec99) = exact(flag)
      // an md5 1/8 row-sample of tens of thousands of rows: order
      // statistics stay within a few percent of the exact quantiles
      def rel(a: Double, b: Double) = math.abs(a - b) / math.max(math.abs(b), 1.0)
      assert(rel(q50, e50) < 0.10, s"$flag qty_p50 $q50 vs $e50")
      assert(rel(q95, e95) < 0.10, s"$flag qty_p95 $q95 vs $e95")
      assert(rel(c50, ec50) < 0.10, s"$flag cents_p50 $c50 vs $ec50")
      assert(rel(c99, ec99) < 0.10, s"$flag cents_p99 $c99 vs $ec99")
    }
  }
}
