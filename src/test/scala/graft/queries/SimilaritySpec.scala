package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

/** Recall probe for the LSH-based near-dup query (round-2 advisor item):
  * the DuckDB oracle replicates s02's hyperplanes, so the driver harness
  * only proves engine agreement on the shared candidate set — this spec
  * measures the stated `cosine >= 0.45` semantics against brute force.
  */
class SimilaritySpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  // sf0.01 — the driver's own correctness scale; sf0.001 has only 7 true
  // pairs, where one unlucky boundary miss (4%/pair expected) fails any
  // meaningful recall bar
  private val d = "/root/testdata/sf0.01"

  /** Driver-side exact all-pairs with the same quantization + rounding as
    * the query (round(x*1000) per element; sim rounded HALF_UP to 6dp). */
  private def bruteForcePairs(): Set[(Long, Long)] = {
    val vecs: Array[(Long, Array[Long])] = spark.read
      .parquet(s"$d/embeddings.parquet")
      .selectExpr("vec_id",
        "transform(embedding, x -> cast(round(cast(x as double) * 1000) as bigint)) as q")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      .sortBy(_._1)
    val norms = vecs.map { case (_, v) => v.map(x => x * x).sum }
    val out = Set.newBuilder[(Long, Long)]
    for (i <- vecs.indices; j <- (i + 1) until vecs.length) {
      val (ia, va) = vecs(i); val (ib, vb) = vecs(j)
      var dot = 0L; var k = 0
      while (k < va.length) { dot += va(k) * vb(k); k += 1 }
      val sim = BigDecimal(dot.toDouble / (math.sqrt(norms(i).toDouble) * math.sqrt(norms(j).toDouble)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if (sim >= 0.45) out += ((ia, ib))
    }
    out.result()
  }

  test("s06 semantic dedup equals the driver-side recompute exactly") {
    // recompute the full TWO-LEVEL rule with plain loops: ceil(sqrt(cells))
    // coarse centroids, nearest coarse group by exact integer L2 (ties ->
    // lower gid), cell = nearest of the first-`cells` seeds WITHIN the
    // vector's coarse group (ties -> lower cid), then within a cell a
    // vector is pruned iff a lower-id member has cosine >= 0.45
    val vecs: Array[(Long, Array[Long])] = spark.read
      .parquet(s"$d/embeddings.parquet")
      .selectExpr("vec_id",
        "transform(embedding, x -> cast(round(cast(x as double) * 1000) as bigint)) as q")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      .sortBy(_._1)
    def dist2(v: Array[Long], c: Array[Long]): Long = {
      var d2 = 0L; var k = 0
      while (k < v.length) { val df = v(k) - c(k); d2 += df * df; k += 1 }
      d2
    }
    val numCells = math.max(math.ceil(math.sqrt(vecs.length.toDouble)).toLong,
      vecs.length.toLong / 64L)
    val numCoarse = math.max(1L, math.ceil(math.sqrt(numCells.toDouble)).toLong)
    val coarse = vecs.filter(_._1 < numCoarse)
    def grpOf(v: Array[Long]): Long =
      coarse.map { case (gid, c) => (dist2(v, c), gid) }.min._2
    val grps = vecs.map { case (id, v) => id -> grpOf(v) }.toMap
    val seeds = vecs.filter(_._1 < numCells)
      .map { case (cid, c) => (cid, c, grps(cid)) }
    def cellOf(id: Long, v: Array[Long]): Long =
      seeds.filter(_._3 == grps(id))
        .map { case (cid, c, _) => (dist2(v, c), cid) }.min._2
    val cells = vecs.map { case (id, v) => id -> cellOf(id, v) }.toMap
    val norms = vecs.map { case (id, v) => id -> v.map(x => x * x).sum }.toMap
    val expected = vecs.map { case (id, v) =>
      val pruned = vecs.exists { case (oid, ov) =>
        oid < id && cells(oid) == cells(id) && {
          var dot = 0L; var k = 0
          while (k < v.length) { dot += v(k) * ov(k); k += 1 }
          BigDecimal(dot.toDouble /
            (math.sqrt(norms(id).toDouble) * math.sqrt(norms(oid).toDouble)))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble >= 0.45
        }
      }
      (id, cells(id), !pruned)
    }.toSet
    val got = SimilarityOps.s06SemanticDedup(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(got == expected)
    val prunedCount = expected.count(!_._3)
    info(s"s06 pruned $prunedCount of ${vecs.length}")
    assert(prunedCount > 0, "fixture produced no pruning — probe is vacuous")
  }

  test("no corpus vector quantizes to zero norm (cosDenom's oracle-agreement precondition)") {
    // the Spark kernels floor the cosine denominator (zero vectors score
    // 0.0); the DuckDB oracles divide plainly. Both agree exactly ONLY
    // while no embedding quantizes (round(x*1000)) to the all-zero
    // vector — pin it so a generator change fails here by name instead
    // of as a mystery oracle hash mismatch
    val zeros = spark.read.parquet(s"$d/embeddings.parquet")
      .selectExpr("vec_id",
        "aggregate(embedding, 0L, (acc, x) -> acc + " +
          "cast(round(cast(x as double) * 1000) as bigint) * " +
          "cast(round(cast(x as double) * 1000) as bigint)) as nrm")
      .filter(org.apache.spark.sql.functions.col("nrm") === 0L)
    assert(zeros.isEmpty,
      s"zero-norm vectors appeared: ${zeros.collect().take(3).mkString(",")}")
  }

  test("s07 SQ8 ranking equals the driver-side recompute; quantization error is small") {
    // recompute the whole query with plain loops: int8 codes
    // (floor(q*127/max|q|)), code-cosine top-5 per query, exact rescore
    val vecs: Array[(Long, Array[Long])] = spark.read
      .parquet(s"$d/embeddings.parquet")
      .selectExpr("vec_id",
        "transform(embedding, x -> cast(round(cast(x as double) * 1000) as bigint)) as q")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      .sortBy(_._1)
    def round6(v: Double): Double =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val codes = vecs.map { case (id, q) =>
      val m = math.max(q.map(math.abs).max, 1L)
      (id, q.map(x => math.floor(x.toDouble * 127.0 / m.toDouble).toLong))
    }
    def cos(a: Array[Long], b: Array[Long]): Double = {
      var dot = 0L; var na = 0L; var nb = 0L; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
    }
    val expected = (for {
      (qid, qc) <- codes.filter(_._1 < 10)
      ranked = codes.filter(_._1 != qid)
        .map { case (nid, nc) => (nid, round6(cos(qc, nc))) }
        .sortBy { case (nid, s) => (-s, nid) }.take(5)
      ((nid, simc), rk) <- ranked.zipWithIndex
    } yield {
      val exact = round6(cos(vecs.find(_._1 == qid).get._2, vecs.find(_._1 == nid).get._2))
      (qid, (rk + 1).toLong, nid, simc, exact)
    }).toSet
    val got = SimilarityOps.s07Sq8Topk(spark, d)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
      .toSet
    assert(got == expected)
    // quantization quality: the code cosine tracks the exact cosine tightly
    val maxErr = got.map { case (_, _, _, sq8, exact) => math.abs(sq8 - exact) }.max
    info(s"s07 max |sim_sq8 - sim_exact| over winners = $maxErr")
    assert(maxErr < 0.02, s"SQ8 error $maxErr above 0.02 — quantizer degraded")
  }

  test("s11 kNN graph: no false sims; rank-1 recall vs brute force measured and floored") {
    // brute-force rank-1 neighbor per vector (same quantization/rounding
    // as the kernel; ties by ascending neighbor id — the kernel's order)
    val vecs: Array[(Long, Array[Long])] = spark.read
      .parquet(s"$d/embeddings.parquet")
      .selectExpr("vec_id",
        "transform(embedding, x -> cast(round(cast(x as double) * 1000) as bigint)) as q")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      .sortBy(_._1)
    val norms = vecs.map { case (_, v) => v.map(x => x * x).sum }
    def simOf(i: Int, j: Int): Double = {
      var dot = 0L; var k = 0
      val va = vecs(i)._2; val vb = vecs(j)._2
      while (k < va.length) { dot += va(k) * vb(k); k += 1 }
      BigDecimal(dot.toDouble /
          (math.sqrt(norms(i).toDouble) * math.sqrt(norms(j).toDouble)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val bruteTop1: Map[Long, (Long, Double)] = vecs.indices.map { i =>
      val best = vecs.indices.filter(_ != i)
        .map(j => (-simOf(i, j), vecs(j)._1)).min
      vecs(i)._1 -> (best._2, -best._1)
    }.toMap
    val graph = SimilarityOps.s11KnnGraph(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // every reported similarity is the true exact similarity (the graph
    // may MISS neighbors — LSH — but can never report a wrong number)
    val idToIdx = vecs.map(_._1).zipWithIndex.toMap
    graph.foreach { case (v, _, nb, s) =>
      assert(s == simOf(idToIdx(v), idToIdx(nb)), s"($v,$nb) sim $s wrong")
    }
    val rank1 = graph.collect { case (v, 1L, nb, _) => v -> nb }.toMap
    val hit = rank1.count { case (v, nb) => bruteTop1(v)._1 == nb }
    val recall = hit.toDouble / vecs.length
    info(s"s11 overall rank-1 recall = $recall ($hit/${vecs.length})")
    // The graph's PURPOSE is the strong edges (near-dup/cluster pairs) —
    // vectors whose true top-1 is an unremarkable random neighbor
    // (cos ~0.3, below the collision knee) may legitimately miss.
    // Measured at candCap 64 under the adaptive construction (64 bands ×
    // 9 bits at n=500): overall 0.546, strong-pair 0.833 (this corpus's
    // strongest pairs sit at 0.45-0.51; the old fixed 32×8 measured
    // 0.53/0.73 — same per-band admit rate 64·2^-9 = 32·2^-8, twice the
    // OR chances). Floors with margin pin against collapse (the cap-12
    // regression measured 0.20/0.17 and would fail both).
    assert(recall >= 0.4, s"s11 overall rank-1 recall $recall collapsed")
    val strong = bruteTop1.filter(_._2._2 >= 0.45)
    assert(strong.nonEmpty, "no strong pairs in fixture — probe vacuous")
    val strongHit = strong.count { case (v, (nb, _)) => rank1.get(v).contains(nb) }
    val strongRecall = strongHit.toDouble / strong.size
    info(s"s11 strong-pair (sim>=0.45) rank-1 recall = $strongRecall " +
      s"($strongHit/${strong.size})")
    assert(strongRecall >= 0.6,
      s"s11 missed planted near-duplicates: $strongRecall")
  }

  /** Fully independent recompute of the hashed-bigram doc embedding:
    * plain-Scala md5 slices + integer tf sums — pins the Spark
    * md5/conv/substring expression bit-for-bit. */
  private def bruteDocVectors(): Array[(Long, Array[Long])] = {
    val docs = spark.read.parquet(s"$d/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def gramVec(g: String): Array[Long] = {
      val out = new Array[Long](64)
      for (c <- 0 until 8) {
        val md = java.security.MessageDigest.getInstance("MD5")
        val hex = md.digest(s"$g:$c".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        for (j <- 0 until 8)
          out(c * 8 + j) =
            (java.lang.Long.parseLong(hex.substring(j * 4, j * 4 + 4), 16) % 2001) - 1000
      }
      out
    }
    val cache = scala.collection.mutable.Map.empty[String, Array[Long]]
    // integer idf: weight(g) = bitLength(N div df(g)), N = total docs
    val n = docs.length.toLong
    val df = scala.collection.mutable.Map.empty[String, Long]
    val docGrams = docs.map { case (id, text) =>
      val ws = text.split(" ", -1)
      val gs =
        if (ws.length < 2) Map.empty[String, Long]
        else ws.sliding(2).map(p => s"${p(0)} ${p(1)}").toSeq
          .groupBy(identity).map { case (g, xs) => g -> xs.length.toLong }
      gs.keys.foreach(g => df(g) = df.getOrElse(g, 0L) + 1L)
      (id, gs)
    }
    docGrams.flatMap { case (id, gs) =>
      if (gs.isEmpty) None
      else {
        val v = new Array[Long](64)
        gs.foreach { case (g, tf) =>
          val w = tf * java.lang.Long.toBinaryString(n / df(g)).length
          val gv = cache.getOrElseUpdate(g, gramVec(g))
          var i = 0; while (i < 64) { v(i) += w * gv(i); i += 1 }
        }
        Some((id, v))
      }
    }.sortBy(_._1)
  }

  test("s02 (adaptive doc near-dup): precision exact, recall 1.0 vs brute force at 0.9") {
    val vecs = bruteDocVectors()
    val norms = vecs.map { case (_, v) => v.map(x => x * x).sum }
    val truth = (for {
      i <- vecs.indices; j <- (i + 1) until vecs.length
      dot = {
        var s = 0L; var k = 0
        while (k < 64) { s += vecs(i)._2(k) * vecs(j)._2(k); k += 1 }; s
      }
      sim = BigDecimal(dot.toDouble / math.max(
          math.sqrt(norms(i).toDouble) * math.sqrt(norms(j).toDouble), 1e-12))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if sim >= SimilarityOps.NearDupThreshold
    } yield (vecs(i)._1, vecs(j)._1)).toSet
    assert(truth.nonEmpty, "fixture has no qualifying doc pairs — probe is vacuous")
    val got = SimilarityOps.s02EmbedNearDup(spark, d)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact rescore => every reported pair must be a true pair
    assert(got.subsetOf(truth), s"false positives: ${got.diff(truth)}")
    val recall = got.intersect(truth).size.toDouble / truth.size
    info(s"s02 recall = $recall (${got.size}/${truth.size} pairs)")
    // true near-dup pairs sit at cosine ~0.97+ where a 9-bit band agrees
    // with p ~ 0.46 — the 64-band miss probability is ~1e-17: the
    // adaptive construction must find EVERY pair on this corpus
    assert(recall == 1.0, s"recall $recall < 1: missed ${truth.diff(got)}")
  }

  test("demoted fixed-width fixture: 16x4 @ 0.45 on embeddings keeps its measured recall") {
    // the r8-and-earlier gated s02 construction, kept as a spec fixture
    // (SCALE_r8 §1 proved its candidate floor is c·n² — production runs
    // the adaptive rule; this pins that the fixed-width kernel itself
    // still delivers its stated boundary recall)
    val truth = bruteForcePairs()
    assert(truth.nonEmpty, "fixture has no qualifying pairs — probe is vacuous")
    graft.functions.GraftFunctions.register(spark)
    val emb = SimilarityOps.withQuantized(
      spark.read.parquet(s"$d/embeddings.parquet")
        .select(org.apache.spark.sql.functions.col("vec_id"),
          org.apache.spark.sql.functions.col("embedding")), "embedding")
    val got = SimilarityOps.nearDupPairsOf(emb, 0.45, 16, 4)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(truth), s"false positives: ${got.diff(truth)}")
    val recall = got.intersect(truth).size.toDouble / truth.size
    info(s"16x4 fixture recall = $recall (${got.size}/${truth.size} pairs)")
    assert(recall >= 0.85, s"recall $recall below 0.85: missed ${truth.diff(got)}")
  }

  test("adaptiveBits: exact integer fences, clamped to [8, 30]") {
    import SimilarityOps.{adaptiveBits, BitsMin, BitsMax}
    assert(BitsMin == 8 && BitsMax == 30, "fence pins below assume [8, 30]")
    assert(adaptiveBits(1L) == 8 && adaptiveBits(2L) == 8)
    assert(adaptiveBits(256L) == 8, "2^8 exactly -> still 8 (ceil)")
    assert(adaptiveBits(257L) == 9)
    assert(adaptiveBits(512L) == 9 && adaptiveBits(513L) == 10)
    assert(adaptiveBits(500L) == 9, "the sf0.01 corpus lands on 9 bits")
    assert(adaptiveBits(5000L) == 13, "the sf0.1 documents corpus -> 13")
    assert(adaptiveBits(1L << 18) == 18)
    assert(adaptiveBits((1L << 18) + 1) == 19,
      "the old 18-bit cap is gone: one row past 2^18 takes the 19th bit")
    assert(adaptiveBits(400000L) == 19 && adaptiveBits(800000L) == 20,
      "the SCALE_r12 measurement corpora land on bits 19 and 20")
    assert(adaptiveBits(1L << 30) == 30, "2^30 exactly -> 30 (ceil)")
    assert(adaptiveBits((1L << 30) + 1) == 30, "clamped at the pool bound")
    assert(adaptiveBits(1L << 62) == 30, "10^9+ corpora stay within the " +
      "62-bit band-signature word")
  }

  test("s08 IVF-PQ equals the driver-side recompute; recall@5 vs s01 >= 0.9") {
    // full plain-loop recompute of the IVFPQ search: IVF cells, integer
    // Lloyd codebooks (shared trainPqCodebooks), code assignment, ADC via
    // lookup tables, shortlist, exact rerank — pins every stage of the
    // distributed plan bit-for-bit
    import SimilarityOps.{PqM, PqSubDim, PqSample, PqRerank, PqNProbe, trainPqCodebooks}
    val vecs: Array[(Long, Array[Long])] = spark.read
      .parquet(s"$d/embeddings.parquet")
      .selectExpr("vec_id",
        "transform(embedding, x -> cast(round(cast(x as double) * 1000) as bigint)) as q")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
      .sortBy(_._1)
    def round6(v: Double): Double =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def nrm(a: Array[Long]): Long = a.map(x => x * x).sum
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.indices.map(i => a(i) * b(i)).sum
    // IVF cells: first-ceil(sqrt(n)) seeding, L2 argmin, ties -> lowest cid
    val numCells = math.ceil(math.sqrt(vecs.length.toDouble)).toLong
    val cents = vecs.filter(_._1 < numCells)
    def cellRank(v: Array[Long]): Array[Long] = cents
      .map { case (cid, c) => (nrm(v.indices.map(i => v(i) - c(i)).toArray), cid) }
      .sorted.map(_._2)
    val assignCell = vecs.map { case (id, v) => id -> cellRank(v).head }.toMap
    // PQ codebooks + codes + recon norms
    val books = trainPqCodebooks(vecs.filter(_._1 < PqSample).map(_._2))
    def codeOf(v: Array[Long]): Array[Int] = Array.tabulate(PqM) { m =>
      books(m).indices.minBy { k =>
        (Array.tabulate(PqSubDim)(j => {
          val df = v(m * PqSubDim + j) - books(m)(k)(j); df * df
        }).sum, k)
      }
    }
    val codes = vecs.map { case (id, v) => id -> codeOf(v) }.toMap
    def rnrmOf(code: Array[Int]): Long =
      (0 until PqM).map(m => nrm(books(m)(code(m)))).sum
    val norms = vecs.map { case (id, v) => id -> nrm(v) }.toMap
    val byId = vecs.toMap
    val expected = (for {
      (qid, qv) <- vecs.filter(_._1 < 10)
      probes = cellRank(qv).take(PqNProbe).toSet
      lut = Array.tabulate(PqM)(m => books(m).map(c =>
        (0 until PqSubDim).map(j => qv(m * PqSubDim + j) * c(j)).sum))
      cand = vecs.filter { case (nid, _) =>
        nid != qid && probes.contains(assignCell(nid)) }
      short = cand.map { case (nid, _) =>
        val adc = (0 until PqM).map(m => lut(m)(codes(nid)(m))).sum
        val den = math.max(math.sqrt(norms(qid).toDouble) *
          math.sqrt(rnrmOf(codes(nid)).toDouble), 1e-12)
        (nid, round6(adc.toDouble / den))
      }.sortBy { case (nid, s) => (-s, nid) }.take(PqRerank * 5)
      reranked = short.map { case (nid, spq) =>
        val den = math.max(math.sqrt(norms(qid).toDouble) *
          math.sqrt(norms(nid).toDouble), 1e-12)
        (nid, spq, round6(dot(qv, byId(nid)).toDouble / den))
      }.sortBy { case (nid, _, se) => (-se, nid) }.take(5)
      ((nid, spq, se), rk) <- reranked.zipWithIndex
    } yield (qid, (rk + 1).toLong, nid, spq, se)).toSet
    val got = SimilarityOps.s08IvfPqTopk(spark, d)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
      .toSet
    assert(got == expected,
      s"s08 differs from recompute: extra=${got.diff(expected).take(3)} " +
        s"missing=${expected.diff(got).take(3)}")
    // recall@5 against the exact brute-force (s01 semantics), counted in
    // integers (hits out of 50) — no float-boundary flakiness. 45/50 is
    // the measured IVF probing CEILING on this corpus: the 5 missing
    // neighbors live in cells ranked 9-20 of ~23, unreachable at any
    // reasonable nprobe, and s08's (nprobe, PqK, PqRerank) is tuned to
    // attain the ceiling exactly.
    val hits = vecs.filter(_._1 < 10).map { case (qid, qv) =>
      val truth = vecs.filter(_._1 != qid).map { case (nid, nv) =>
        val den = math.max(math.sqrt(norms(qid).toDouble) *
          math.sqrt(norms(nid).toDouble), 1e-12)
        (nid, round6(dot(qv, nv).toDouble / den))
      }.sortBy { case (nid, s) => (-s, nid) }.take(5).map(_._1).toSet
      truth.intersect(got.filter(_._1 == qid).map(_._3)).size
    }.sum
    info(s"s08 recall@5 vs exact top-5 = $hits/50")
    assert(hits >= 45, s"s08 recall $hits/50 below the 45/50 (0.9) bar")
  }

  test("s15 incremental kNN == s11 full rebuild; ordering violations fail by name") {
    import org.apache.spark.sql.functions._
    val inc = SimilarityOps.s15IncrementalKnn(spark, d)
    val full = SimilarityOps.s11KnnGraph(spark, d)
    assert(inc.columns.sameElements(full.columns))
    assert(inc.exceptAll(full).isEmpty && full.exceptAll(inc).isEmpty)
    // the facade over an explicit standing/batch split agrees too, and
    // the split is non-vacuous (both sides populated)
    val emb = Tables.embeddings(spark, d)
    val t = 400L
    assert(emb.filter(col("vec_id") >= t).count() > 0 &&
      emb.filter(col("vec_id") < t).count() > 0,
      "vacuous split: both sides must be populated")
    val fac = graft.ops.Vectors.knnGraphAddBatch(spark,
      emb.filter(col("vec_id") < t), emb.filter(col("vec_id") >= t))
      .orderBy("vec_id", "rk")
    val fullFac = graft.ops.Vectors.knnGraph(spark, emb)
      .orderBy("vec_id", "rk")
    assert(fac.exceptAll(fullFac).isEmpty && fullFac.exceptAll(fac).isEmpty)
    // append-order contract: an overlapping batch id space is refused
    val e = intercept[IllegalArgumentException] {
      graft.ops.Vectors.knnGraphAddBatch(spark,
        emb.filter(col("vec_id") < t), emb.filter(col("vec_id") >= t - 10))
    }
    assert(e.getMessage.contains("append-ordered"), e.getMessage)
  }

  test("s16 touched-only upkeep == s11 full rebuild; both paths non-vacuous") {
    import org.apache.spark.sql.functions._
    val up = SimilarityOps.s16TouchedKnn(spark, d)
    val full = SimilarityOps.s11KnnGraph(spark, d)
    assert(up.columns.sameElements(full.columns))
    assert(up.exceptAll(full).isEmpty && full.exceptAll(up).isEmpty)
    // re-rank path non-vacuity on the corpus: on this dense synthetic
    // corpus EVERY old vector collides with the batch (the adjudicated
    // generator property — constant near-dup pair fraction), so the
    // corpus equality exercises the restrictTo re-rank at full width;
    // the verbatim-reuse path is proven on the fixture below
    graft.functions.GraftFunctions.register(spark)
    val emb = SimilarityOps.withQuantized(
      Tables.embeddings(spark, d), "embedding").localCheckpoint(true)
    val maxId = emb.agg(max("vec_id")).head().getLong(0)
    val t = (maxId + 1L) * (SimilarityOps.NewBatchDen - 1L) /
      SimilarityOps.NewBatchDen
    val probe = SimilarityOps.incrementalProbe(emb, t,
      SimilarityOps.ScaledBands, SimilarityOps.adaptiveBits(emb.count()))
    val touchedOld = probe.filter(col("vec_a") < t)
      .select("vec_a").distinct().count()
    val oldTotal = emb.filter(col("vec_id") < t).count()
    assert(touchedOld > 0, "no old vector touched — re-rank path vacuous")
    info(s"s16 corpus probe: $touchedOld of $oldTotal old vectors touched")
    // facade equivalence: knnGraphUpkeep over an explicit split equals a
    // from-scratch facade build
    val embRaw = Tables.embeddings(spark, d)
    val fac = graft.ops.Vectors.knnGraphUpkeep(spark,
      embRaw.filter(col("vec_id") < t), embRaw.filter(col("vec_id") >= t))
      .orderBy("vec_id", "rk")
    val fullFac = graft.ops.Vectors.knnGraph(spark, embRaw)
      .orderBy("vec_id", "rk")
    assert(fac.exceptAll(fullFac).isEmpty && fullFac.exceptAll(fac).isEmpty)
  }

  test("s16 verbatim-reuse path: untouched vectors keep standing edges") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // two antipodal clusters: every band bit of a +u vector is the
    // complement of the matching −u vector's bit (sign(p·v) flips with
    // v → −v when no plane dot is zero), so an 8-bit band key can NEVER
    // collide across clusters — a batch drawn from the −u cluster leaves
    // the +u standing vectors untouched BY CONSTRUCTION. Deterministic
    // fixture: perturbations keep every plane dot away from zero (probed
    // by the touched-set assert itself — if a dot crossed zero the
    // untouched count would shrink and this test would fail loudly).
    val dim = 8
    val mk = (sgn: Int, j: Int) =>
      Array.tabulate(dim)(i =>
        (sgn * (1000 + ((j * 37 + i * 13) % 100))).toFloat / 1000f)
    val rows = (0L until 6L).map(j => (j, mk(1, j.toInt).toSeq)) ++
      (6L until 8L).map(j => (j, mk(-1, j.toInt).toSeq))
    val embRaw = rows.toDF("vec_id", "embedding")
    graft.functions.GraftFunctions.register(spark)
    val emb = SimilarityOps.withQuantized(embRaw, "embedding")
      .localCheckpoint(true)
    val probe = SimilarityOps.incrementalProbe(emb, 6L,
      SimilarityOps.ScaledBands, SimilarityOps.adaptiveBits(emb.count()))
    val touchedOld = probe.filter(col("vec_a") < 6L)
      .select("vec_a").distinct().count()
    assert(touchedOld === 0L,
      s"antipodal clusters collided ($touchedOld old touched) — fixture broken")
    // upkeep ≡ full rebuild even when the whole standing side rides the
    // left_anti reuse path (new×new pairs still re-rank)
    val up = graft.ops.Vectors.knnGraphUpkeep(spark,
        embRaw.filter(col("vec_id") < 6L), embRaw.filter(col("vec_id") >= 6L),
        k = 3)
      .orderBy("vec_id", "rk")
    val full = graft.ops.Vectors.knnGraph(spark, embRaw, k = 3)
      .orderBy("vec_id", "rk")
    assert(up.exceptAll(full).isEmpty && full.exceptAll(up).isEmpty)
    // the standing cluster's edges are present (reused verbatim), and the
    // batch cluster found its own neighbors through the probe
    assert(up.filter(col("vec_id") < 6L).count() > 0)
    assert(up.filter(col("vec_id") >= 6L).count() > 0)
  }
}
