package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (Array[Float] vectors).
  *
  * Determinism contract with the DuckDB oracle: vectors are quantized
  * per-element to integers (round(x*1000)) so dot products and norms are
  * exact integer sums — associative, shuffle-order-proof — and the final
  * cosine is a single double division + sqrt (bit-identical in both engines).
  *
  * Scale design: s01 is the brute-force baseline (broadcast the query set,
  * score in one scan, per-query top-k via window); the LSH family (s02/
  * s05/s11/s13/s15/s16) runs the ADAPTIVE banded construction — 64 bands
  * whose bit width is clamp(ceil(log₂ n), BitsMin, BitsMax), so the
  * random-collision
  * candidate floor is ~bands·n (LINEAR) at any corpus size — candidate
  * scoring touches only band-colliding vectors, the standard ANN shape
  * when brute force stops fitting. At 100 TB the band join partitions by
  * signature and each corpus doubling adds one signature bit.
  */
object SimilarityOps {
  import Tables._

  private val Dim = 64
  private val Scale = 1000
  private[graft] val NumQueries = 10
  private val TopK = 5

  /** Quantized embedding column (array<bigint>). */
  private val qEmb =
    s"transform(embedding, x -> cast(round(cast(x as double) * $Scale) as bigint))"
  private[graft] val qEmbDuck =
    s"list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * $Scale) AS BIGINT))"

  /** Exact integer dot product / squared norm of quantized vectors via the
    * native codegen'd Catalyst expressions (graft.functions.DotI64 /
    * NormSqI64) — registered per session; interpreted
    * `aggregate(zip_with(...))` lambdas were ~30× slower in the hot path. */
  private def dotExpr(a: String, b: String): String = s"dot_i64($a, $b)"

  private def normExpr(a: String): String = s"normsq_i64($a)"

  /** Zero-safe cosine denominator from two squared-norm columns: any
    * NONZERO integer-quantized vector has nrm >= 1, so the greatest() is
    * bit-neutral for every real vector; an all-zero vector (no cosine
    * direction) scores 0.0 instead of tripping Spark 4's ANSI
    * DIVIDE_BY_ZERO (EdgeCaseSpec pins this). The oracles stay untouched:
    * the corpus has no zero vectors, where both engines agree exactly. */
  private def cosDenom(a: org.apache.spark.sql.Column,
                       b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    greatest(sqrt(a.cast("double")) * sqrt(b.cast("double")), lit(1e-12))

  /** Deterministic pseudo-random hyperplanes for the LSH paths: planes of
    * 64 quantized components in {-1000..1000}. splitmix64-style avalanche
    * hash — a linear generator here is NOT random enough: its planes are
    * slices of one arithmetic progression mod 2001, pairwise correlated
    * (some identical), which silently destroyed band independence and
    * measured recall (round-3 finding: 4 of 15 true pairs missed at
    * sf0.01 vs the 4% theoretical miss rate; mean inter-plane |cos| was
    * 0.37 where random planes give ~0.1). Shared with the codegen'd
    * [[graft.functions.SignBandsI64]] kernel, which embeds the same
    * family. */
  private def planeFor(p: Int): Vector[Long] =
    graft.functions.GraftPlanes.plane(p)

  /** s03's single-table bucket width: 2^8 = 256 buckets, sized so a
    * corpus of hundreds has non-trivial bucket co-residency (16 truly
    * random planes spread 500 docs over 65536 buckets — every bucket a
    * singleton, a vacuous query). */
  private val NumPlanes = 8
  private val planes: Vector[Vector[Long]] = (0 until NumPlanes).map(planeFor).toVector

  /** Brute-force cosine top-k: queries = vec_id < NumQueries (broadcast),
    * scored against the full corpus in one scan. */
  def s01CosineTopk(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val emb = embeddings(s, d).withColumn("q", expr(qEmb))
      .select("vec_id", "q")
    bruteForceTopKOf(emb, emb.filter(col("vec_id") < NumQueries), TopK)
      .orderBy("query_id", "rk")
  }

  /** Brute-force kernel over quantized (vec_id, q) frames: every query
    * (broadcast — the query set is small by construction) scored against
    * the full corpus in ONE scan, per-query top-k via window.
    *
    * `excludeSelf` applies the `vec_id =!= query_id` self-match filter and
    * is only correct when the query rows are drawn FROM the corpus (shared
    * id space). When the query frame is a separate table with its own id
    * space, pass false — otherwise a corpus vector whose id happens to
    * collide with a query id is silently dropped from that query's top-k. */
  private[graft] def bruteForceTopKOf(emb: DataFrame, queryVecs: DataFrame,
                                      k: Int,
                                      excludeSelf: Boolean = true): DataFrame = {
    val queries = queryVecs
      .withColumnRenamed("vec_id", "query_id").withColumnRenamed("q", "qv")
    val joinCond =
      if (excludeSelf) col("vec_id") =!= col("query_id") else lit(true)
    val scored = emb.join(broadcast(queries), joinCond)
      .withColumn("dot", expr(dotExpr("q", "qv")))
      .withColumn("sim", round(col("dot").cast("double") /
        cosDenom(expr(normExpr("q")), expr(normExpr("qv"))), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("sim").desc, col("vec_id"))
    scored
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("vec_id").as("neighbor_id"), col("sim"))
  }

  /** Quantization expression shared with the facade ([[graft.ops.Vectors]]):
    * float embeddings to exact-integer vectors (round(x*1000)). */
  private[graft] def quantize(vecCol: String): String =
    s"transform($vecCol, x -> cast(round(cast(x as double) * $Scale) as bigint))"

  /** The brute-force dense-arm derivation as prefixed CTE text ending in
    * `<p>ranked` = (query_id, neighbor_id, sim, rk) with rk unbounded —
    * SHARED by s01Sql and p07Sql (the dsirSqlCtes anti-drift lesson):
    * the fused pipeline scores with EXACTLY the s01 semantics. */
  private[graft] def denseArmSqlCtes(p: String): String =
    s"""${p}q AS (
       |  SELECT vec_id, $qEmbDuck AS qv FROM embeddings
       |), ${p}elems AS (
       |  SELECT vec_id, generate_subscripts(qv, 1) AS i, unnest(qv) AS x FROM ${p}q
       |), ${p}norms AS (
       |  SELECT vec_id, SUM(x * x) AS nrm FROM ${p}elems GROUP BY vec_id
       |), ${p}dots AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, SUM(a.x * b.x) AS dot
       |  FROM ${p}elems a JOIN ${p}elems b ON a.i = b.i AND a.vec_id < $NumQueries
       |    AND a.vec_id <> b.vec_id
       |  GROUP BY 1, 2
       |), ${p}scored AS (
       |  SELECT query_id, neighbor_id,
       |    ROUND(dot::DOUBLE / (sqrt(nq.nrm::DOUBLE) * sqrt(nn.nrm::DOUBLE)), 6) AS sim
       |  FROM ${p}dots JOIN ${p}norms nq ON query_id = nq.vec_id
       |  JOIN ${p}norms nn ON neighbor_id = nn.vec_id
       |), ${p}ranked AS (
       |  SELECT query_id, neighbor_id, sim,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
       |  FROM ${p}scored)""".stripMargin

  val s01Sql: String =
    s"""WITH ${denseArmSqlCtes("")}
       |SELECT query_id, rk, neighbor_id, sim FROM ranked
       |WHERE rk <= $TopK ORDER BY query_id, rk""".stripMargin

  /** DEMOTED fixture constants (the r8-and-earlier gated construction):
    * 32 bands × 8 bits. SCALE_r8 §1 proved any FIXED bit width carries a
    * c·n² random-collision candidate floor (bands · 2^-bits · n²/2); the
    * gated queries now run the adaptive [[ScaledBands]]×[[adaptiveBits]]
    * construction and these constants remain only for SimilaritySpec's
    * fixed-width fixtures (the comparison rows are in SCALE_r8 §2). */
  private[graft] val WideBands = 32
  private[graft] val WideRowsPerBand = 8

  /** The production LSH construction (gated since r9): a fixed OR-width
    * of 64 bands whose bit width scales with the corpus —
    * bits = clamp(ceil(log₂ n), [[BitsMin]], [[BitsMax]]). The random
    * collision floor is bands · n²/2^bits ≈ bands · n — LINEAR in corpus
    * size by construction (the classic LSH n^(1+ρ) regime) — while recall
    * at a true-pair cosine t falls only as (1-acos(t)/π)^bits per band:
    * measured in SCALE_r8 §2, 64×16 at 20k vectors cut candidates 71×
    * vs 32×8 with ZERO survivor loss at t=0.8. */
  private[graft] val ScaledBands = 64
  /** Sentinel for bands×bits args: resolve bits from the corpus size. */
  private[graft] val AdaptiveBits = -1
  /** Bit-width clamp. The floor of 8 keeps small-corpus constructions
    * non-vacuous; the cap of 30 (raised from 18 in r11 — the r10 verdict
    * flagged the old cap as a collision-floor ceiling: past 2^18 rows
    * candidates resumed growing as 64·2⁻¹⁸·n²/2) keeps bits = ⌈log₂ n⌉
    * for any corpus up to 10^9 vectors while staying within the 62-bit
    * band-signature word and the oracle's pre-materialized 64×[[BitsMax]]
    * hyperplane pool. MEASURED live past 2^18 rows on synthetic vectors
    * (SCALE_r12 §1): 400k vectors → bits 19, 800k → bits 20,
    * candidate mass 2.24×/2.20× per corpus doubling through both new
    * fences — linear, as constructed. */
  private[graft] val BitsMin = 8
  private[graft] val BitsMax = 30

  /** bits = clamp(ceil(log₂ n), [[BitsMin]], [[BitsMax]]), in exact
    * integer arithmetic (a
    * float log here could round a power of two either way — the DuckDB
    * twin is an integer CASE chain over the same power-of-two fences). */
  private[graft] def adaptiveBits(n: Long): Int = {
    val c = if (n <= 2L) 1
            else 64 - java.lang.Long.numberOfLeadingZeros(n - 1L)
    math.max(BitsMin, math.min(BitsMax, c))
  }

  /** Resolve an [[AdaptiveBits]] sentinel against the vector frame's
    * count (facade path); gated queries pass bits computed from the raw
    * table count so no derived lineage is re-executed. */
  private[graft] def resolveBits(emb: DataFrame, rowsPerBand: Int): Int =
    if (rowsPerBand == AdaptiveBits) adaptiveBits(emb.count()) else rowsPerBand

  /** The [[adaptiveBits]] clamp as a DuckDB CASE chain over `nExpr`
    * (exact integer fences — no float log in either engine). */
  private def bitsCaseSql(nExpr: String): String = {
    val fences = (BitsMin until BitsMax)
      .map(b => s"WHEN $nExpr <= ${1L << b} THEN $b").mkString(" ")
    s"CASE $fences ELSE $BitsMax END"
  }

  /** The shared 64×[[BitsMax]] hyperplane pool as compact list-form VALUES rows
    * (one row per plane: `(p, [w0..w63])`), unnested to the (p, i, w)
    * shape the oracle's plane_dots join consumes. ~4× smaller than the
    * row-per-component form the fixed-width oracles used. */
  private lazy val planesPoolValues: String =
    (0 until ScaledBands * BitsMax).map { p =>
      s"($p, [${planeFor(p).mkString(",")}])"
    }.mkString(",\n    ")

  /** Adaptive-banded LSH CTEs over a caller-provided `${p}elems`
    * (vec_id, i, x) frame: emits `${p}bcfg` (nbits from `countFromSql`),
    * the plane pool, `${p}bands` and the per-pair collision counts
    * `${p}cand` (vec_a < vec_b, m). The construction is EXACTLY the
    * codegen'd sign_bands_i64 kernel's: plane p = band·nbits + r. */
  private[graft] def adaptiveLshCtes(p: String, countFromSql: String): String =
    s"""${p}bcfg AS (
       |  SELECT ${bitsCaseSql("n")} AS nbits FROM (SELECT $countFromSql AS n)
       |), ${p}planes_l(p, ws) AS (
       |  VALUES $planesPoolValues
       |), ${p}planes AS (
       |  SELECT p, generate_subscripts(ws, 1) AS i, unnest(ws) AS w
       |  FROM ${p}planes_l
       |), ${p}plane_dots AS (
       |  SELECT e.vec_id, pl.p, SUM(e.x * pl.w) AS pd
       |  FROM ${p}elems e
       |  JOIN ${p}planes pl ON e.i = pl.i
       |  JOIN ${p}bcfg bc ON pl.p < $ScaledBands * bc.nbits
       |  GROUP BY 1, 2
       |), ${p}bands AS (
       |  SELECT vec_id, pd.p // bc.nbits AS band_no,
       |    CAST(SUM(CASE WHEN pd.pd > 0 THEN 1 << (pd.p % bc.nbits) ELSE 0 END) AS BIGINT) AS bits
       |  FROM ${p}plane_dots pd, ${p}bcfg bc
       |  GROUP BY 1, 2
       |), ${p}cand AS (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, COUNT(*) AS m
       |  FROM ${p}bands a JOIN ${p}bands b
       |    ON a.band_no = b.band_no AND a.bits = b.bits AND a.vec_id < b.vec_id
       |  GROUP BY 1, 2
       |)""".stripMargin

  /** s02's gated threshold: NEAR-duplicate semantics (the 0.45 regime of
    * earlier rounds is below 64-dim noise floors — its output is itself
    * Θ(n²), so no construction can emit it linearly; 0.9 is where true
    * duplicate mass lives and survivor counts track duplication rate). */
  private[graft] val NearDupThreshold = 0.9

  /** Deterministic word-pair feature expression shared by the Scala and
    * DuckDB sides of [[docBigramVectors]]: 64 integer components in
    * [-1000, 1000] from md5(gram ":" chunk) hex slices (the s09 wordVec
    * family widened to 8 chunks × 8 components). */
  private val HashedGramVecExpr =
    "transform(sequence(0, 63), j -> cast(conv(substring(md5(concat(g, ':', " +
      "cast(j div 8 as string))), (j % 8) * 4 + 1, 4), 16, 10) as bigint) " +
      "% 2001 - 1000)"

  /** Deterministic 64-dim hashed-bigram document embeddings: every word
    * bigram hashes to an integer vector (md5 arithmetic — no model, no
    * driver state) and a document's vector is the tf·idf-weighted
    * integer sum of its bigram vectors, with the EXACT-integer idf
    * weight `bitLength(N div df)` (the `length(bin(x))` kernel t18
    * proved cross-engine). The idf term is what keeps the construction
    * scale-safe on REAL (Zipf-vocabulary) corpora: unweighted tf sums
    * let the few hot bigrams correlate every document pair into the
    * mid-cosine band — measured 418,693 of 8M sampled ht10× pairs at
    * cosine ≥ 0.5, manufacturing ~30M LSH candidates at 50k docs —
    * while the idf weight collapses that structural mass 2300× (182
    * pairs ≥ 0.5) with the true near-duplicate pairs untouched (17 =
    * 17 at ≥ 0.9). Exact duplicates still embed identically (weights
    * are per-gram constants). Everything is exact integer arithmetic —
    * replicated verbatim by the DuckDB oracle.
    *
    * Scale shape: one corpus scan explodes bigrams; gram vectors AND
    * document frequencies are computed ONCE per distinct gram
    * (vocab-sized, distributed — md5/bin are codegen'd builtins, no
    * collect anywhere); the component sum is a hash agg on (doc,
    * component) with map-side partials. Docs with < 2 words have no
    * bigrams and no vector (both engines agree). */
  private[graft] def docBigramVectors(docs: DataFrame): DataFrame = {
    val n = docs.count()
    // repartition BEFORE the explode: a single-file corpus would run the
    // gram explode as ONE task (profiled 3.2 s of the 22 s pathological
    // first cut at sf0.1); the shuffle moves only raw texts
    val grams = docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .withColumn("ws", split(col("text"), " "))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(ws) - 1), i -> concat(ws[i - 1], ' ', ws[i]))"))
        .as("g"))
    // checkpoint the tf table: it feeds BOTH the df/vector side and the
    // component join — without the barrier the self-join re-runs the
    // whole gram explode per side (profiled: the 22 s -> ~5 s fix)
    val gtf = grams.groupBy("doc_id", "g").agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val gdf = gtf.groupBy("g").agg(count(lit(1)).as("df"))
    // the gram-vector table is MATERIALIZED (vocab-sized): left lazy,
    // Catalyst re-evaluates the 64-md5 transform per JOINED ROW instead
    // of once per gram (profiled: 13.4 s -> 1.9 s on the sf0.1
    // component agg)
    val gvec = gdf
      .withColumn("v", expr(HashedGramVecExpr))
      .withColumn("w", expr(s"cast(length(bin(${n}L div df)) as bigint)"))
      .localCheckpoint(true)
    sumGramVectors(gtf, gvec)
  }

  /** The tf·weight component sum shared by [[docBigramVectors]] and the
    * frozen-featurizer admission path: (doc_id, g, tf) × (g, v, w) →
    * exact-integer (vec_id, q, nrm). ONE aggregate over fixed-width
    * Array[Long] buffers ([[graft.functions.SumVecScaledI64]], map-side
    * partials) — the r9 posexplode form multiplied the (doc, gram) row
    * mass ×64 before the hash agg and measured SUPERLINEAR at ht40×
    * (200k docs); this keeps the shuffle at one ~520-byte buffer per
    * (partition, doc). */
  private def sumGramVectors(gtf: DataFrame, gvw: DataFrame): DataFrame =
    gtf.join(gvw, "g")
      .groupBy("doc_id")
      .agg(expr("sum_vec_scaled_i64(v, tf * w)").as("q"))
      .select(col("doc_id").as("vec_id"), col("q"))
      .withColumn("nrm", expr(normExpr("q")))

  /** Bigram tf table of a (doc_id, text) frame — the [[docBigramVectors]]
    * front end, shared with the admission path. NOT checkpointed here
    * (callers decide). */
  private def bigramTf(docs: DataFrame): DataFrame =
    docs
      .withColumn("ws", split(col("text"), " "))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(ws) - 1), i -> concat(ws[i - 1], ' ', ws[i]))"))
        .as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("tf"))

  /** Near-duplicate ADMISSION of an arriving batch against a STANDING
    * corpus (the st11 kernel; graft.ops.Text API): the standing corpus
    * defines a FROZEN featurizer — its gram document frequencies, doc
    * count and adaptive bit width (production semantics: ingest gates
    * don't recompute global idf per batch; a batch gram unseen in the
    * standing corpus takes the rarest weight, df = 1) — and a standing
    * LSH band index. Each batch doc embeds under that featurizer,
    * probes the index (band equi-join, batch side small), candidates
    * are exactly rescored, and the doc is ADMITTED iff no standing doc
    * reaches cosine ≥ `threshold`. Admission is per-doc against the
    * STANDING corpus only — batch-internal near-dups are admitted
    * together (the micro-batch boundary contract that makes the
    * streaming twin's replay split semantically free).
    *
    * Scale shape: standing stats/index are STATE ([[admissionStateOf]] —
    * built once per corpus version, persisted in production); per batch
    * the work is batch-gram-sized (embed) + batch collision mass
    * (probe + rescore) — [[admissionProbeOf]]. Returns one row per batch
    * doc: (doc_id, n_candidates, max_sim, admitted). */
  private[graft] def nearDupAdmissionOf(standing: DataFrame, batch: DataFrame,
                                        threshold: Double = NearDupThreshold): DataFrame =
    admissionProbeOf(admissionStateOf(standing), batch, threshold)

  /** FROZEN standing state for near-dup admission (the st11 kernel's
    * persisted tables, r10 split): the standing corpus's gram weight
    * table (g, hashed gram vector, exact-integer idf weight), its summed
    * document vectors, its band signatures, and the scalars the
    * featurizer froze (doc count, adaptive bit width). Each frame is
    * eagerly checkpointed — the in-session analog of the featurizer +
    * band-index tables a production ingest gate LOADS per batch instead
    * of rebuilding (at scale: bucketed tables keyed by gram / band). */
  private[graft] final case class AdmissionState(n: Long, bits: Int,
      gramWeights: DataFrame, vecs: DataFrame, bands: DataFrame)

  /** Build the standing admission state — the once-per-corpus-version
    * job; probe batches then run [[admissionProbeOf]] against it. */
  private[graft] def admissionStateOf(standing: DataFrame): AdmissionState = {
    val n = standing.count()
    val bits = adaptiveBits(n)
    val sgtf = bigramTf(standing
        .repartition(standing.sparkSession.sparkContext.defaultParallelism))
      .localCheckpoint(true)
    // vocab-sized and MATERIALIZED (the lazy-projection trap: left lazy,
    // the 64-md5 transform re-evaluates per joined row)
    val gw = sgtf.groupBy("g").agg(count(lit(1)).as("df"))
      .withColumn("v", expr(HashedGramVecExpr))
      .withColumn("w", expr(s"cast(length(bin(${n}L div df)) as bigint)"))
      .select("g", "v", "w")
      .localCheckpoint(true)
    val vecs = sumGramVectors(sgtf, gw).localCheckpoint(true)
    val bands = s02Bands(vecs, ScaledBands, bits).localCheckpoint(true)
    AdmissionState(n, bits, gw, vecs, bands)
  }

  /** The per-batch ADMISSION job against frozen standing state: embed
    * the batch under the standing featurizer (grams unseen in the
    * standing corpus take the rarest weight, df = 1 → bitLength(n), and
    * their vectors derive from the gram hash alone — the frozen table
    * needs no batch-time extension), band-probe the standing index
    * (batch side small), rescore candidates exactly, admit iff no
    * standing doc reaches `threshold`. Work is batch-gram-sized + batch
    * collision mass — nothing corpus-sized is recomputed. */
  private[graft] def admissionProbeOf(state: AdmissionState, batch: DataFrame,
                                      threshold: Double = NearDupThreshold): DataFrame = {
    val bgtf = bigramTf(batch).localCheckpoint(true)
    val unseenW =
      java.lang.Long.toBinaryString(math.max(state.n, 1L)).length.toLong
    val bgw = bgtf.select("g").distinct()
      .join(state.gramWeights, Seq("g"), "left")
      .withColumn("v", coalesce(col("v"), expr(HashedGramVecExpr)))
      .withColumn("w", coalesce(col("w"), lit(unseenW)))
      .localCheckpoint(true)
    val bVecs = sumGramVectors(bgtf, bgw).localCheckpoint(true)
    val bBands = s02Bands(bVecs, ScaledBands, state.bits)
    val cand = state.bands.as("a").join(bBands.as("b"),
        col("a.band_no") === col("b.band_no") &&
          col("a.bits") === col("b.bits"))
      .select(col("a.vec_id").as("sdoc"), col("b.vec_id").as("bdoc"))
      .distinct()
    val scored = cand
      .join(state.vecs.select(col("vec_id").as("sdoc"), col("q").as("qa"),
        col("nrm").as("na")), "sdoc")
      .join(bVecs.select(col("vec_id").as("bdoc"), col("q").as("qb"),
        col("nrm").as("nb")), "bdoc")
      .select(col("bdoc"),
        round(expr(dotExpr("qa", "qb")).cast("double") /
          cosDenom(col("na"), col("nb")), 6).as("sim"))
      .groupBy("bdoc")
      .agg(count(lit(1)).as("n_candidates"), max("sim").as("max_sim"))
    batch.select(col("doc_id"))
      .join(scored.withColumnRenamed("bdoc", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        col("max_sim"),
        (col("max_sim").isNull || col("max_sim") < threshold).as("admitted"))
  }

  /** s02: PRODUCTION near-duplicate detection — hashed-bigram document
    * embeddings ([[docBigramVectors]]) + the adaptive banded-LSH kernel
    * (64 bands × clamp(ceil(log₂ n), BitsMin, BitsMax) bits) + exact
    * integer rescore
    * at cosine ≥ [[NearDupThreshold]].
    *
    * This is the construction you run at 100×: the candidate floor is
    * bands·n (linear — each doubling of n adds one bit, halving the
    * per-pair collision probability), survivors track the corpus's true
    * duplication mass, and recall at sim ≈ 0.95+ stays ≳ 0.99 at every
    * clamp point (a band of b bits collides with prob (1-acos(s)/π)^b;
    * at s = 0.95, b = 18 that is 0.147 per band — 64 bands miss with
    * prob 4e-5). The r8-and-earlier fixed-width (16×4 @ 0.45)
    * construction — proven c·n² in SCALE_r8 §1 — is demoted to
    * SimilaritySpec fixtures.
    *
    * APPROXIMATE SEMANTICS: LSH recall at the stated construction —
    * the DuckDB oracle replicates the identical planes, bit rule and
    * threshold, so the harness validates engine agreement on the SAME
    * candidate set; precision is exact (candidates are rescored with the
    * exact integer dot before the threshold filter). */
  def s02EmbedNearDup(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    // UNSPREAD scan (r16): docBigramVectors round-robin-repartitions its
    // input before the gram explode itself — the spread would be
    // redundant (CollapseRepartition merges the adjacent repartitions,
    // so the reroute is plan-neutral; OPTIMIZATION_r16 §3) — and the count
    // for the adaptive bit width runs on the bare scan, where Spark
    // answers it from parquet metadata instead of materializing the
    // spread exchange.
    val docs = Tables.documentsUnspread(s, d).select("doc_id", "text")
    val bits = adaptiveBits(docs.count())
    nearDupPairsOf(docBigramVectors(docs).localCheckpoint(true),
      NearDupThreshold, ScaledBands, bits)
      .orderBy("vec_a", "vec_b")
  }

  /** s05: loose-similarity pair mining over the embeddings table at the
    * scale-safe width — the SAME adaptive construction as s02 at the
    * historic 0.45 threshold. 0.45 sits below the 64-dim noise floor
    * (SCALE_r8 §1: the exact output at 0.45 is itself Θ(n²)), so the
    * honest scale contract is BOUNDED WORK, not full recall: candidate
    * mass stays ~bands·n at any corpus size and recall at the threshold
    * decays as the bit width grows — callers who need exhaustive pairs
    * at a sub-noise threshold are asking for a quadratic output and pay
    * quadratic cost in any engine. Oracle-gated at the identical
    * construction in DuckDB. */
  def s05NearDupWide(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val raw = embeddings(s, d)
    // count on the bare scan (r16): row count is spread-invariant and the
    // unspread count() is answered from parquet metadata, skipping the
    // spread exchange the old raw.count() materialized
    val bits = adaptiveBits(Tables.t(s, d, "embeddings").count())
    val emb = raw.withColumn("q", expr(qEmb))
      .withColumn("nrm", expr(normExpr("q")))
      .select("vec_id", "q", "nrm")
    nearDupPairsOf(emb, 0.45, ScaledBands, bits)
      .orderBy("vec_a", "vec_b")
  }

  /** The adaptive near-dup oracle over the embeddings table. */
  private def adaptiveNeardupEmbSql(threshold: Double): String =
    s"""WITH q AS (
       |  SELECT vec_id, $qEmbDuck AS qv FROM embeddings
       |), elems AS (
       |  SELECT vec_id, generate_subscripts(qv, 1) AS i, unnest(qv) AS x FROM q
       |), norms AS (
       |  SELECT vec_id, SUM(x * x) AS nrm FROM elems GROUP BY vec_id
       |), ${adaptiveLshCtes("", "(SELECT COUNT(*) FROM embeddings)")},
       |${neardupTailCtes("", threshold)}
       |${neardupTailSelect("")}""".stripMargin

  /** The rescore/threshold tail shared by the adaptive near-dup oracles:
    * exact integer dots of the candidate pairs + 6-dp cosine filter. */
  private def neardupTailCtes(p: String, threshold: Double): String =
    s"""${p}dots AS (
       |  SELECT c.vec_a, c.vec_b, SUM(ea.x * eb.x) AS dot
       |  FROM ${p}cand c
       |  JOIN ${p}elems ea ON ea.vec_id = c.vec_a
       |  JOIN ${p}elems eb ON eb.vec_id = c.vec_b AND ea.i = eb.i
       |  GROUP BY 1, 2
       |), ${p}survivors AS (
       |  SELECT DISTINCT vec_a, vec_b,
       |    ROUND(dot::DOUBLE / GREATEST(sqrt(na.nrm::DOUBLE) * sqrt(nb.nrm::DOUBLE), 1e-12), 6) AS sim
       |  FROM ${p}dots JOIN ${p}norms na ON vec_a = na.vec_id
       |  JOIN ${p}norms nb ON vec_b = nb.vec_id
       |  WHERE ROUND(dot::DOUBLE / GREATEST(sqrt(na.nrm::DOUBLE) * sqrt(nb.nrm::DOUBLE), 1e-12), 6) >= $threshold
       |)""".stripMargin

  private def neardupTailSelect(p: String): String =
    s"SELECT vec_a, vec_b, sim FROM ${p}survivors ORDER BY vec_a, vec_b"

  val s05Sql: String = adaptiveNeardupEmbSql(0.45)

  /** The banded-signature table feeding the s02 candidate join; exposed so
    * the bench can report candidate volume alongside the timing. `bands` x
    * `rowsPerBand` parameterize the OR/AND construction: the gated s02
    * uses (16, 4); at larger corpus scales wider bands (more bits) shrink
    * the random-collision mass ~2^-(r-4) per band while more bands restore
    * recall (see [[graft.ops.Vectors.nearDuplicatePairs]] for the math). */
  private[graft] def s02Bands(emb: DataFrame, bands: Int,
                              rowsPerBand: Int): DataFrame =
    // One codegen'd kernel (SignBandsI64) computes every band's bit
    // pattern in a single pass over the planes held in one flat long[] —
    // not a tree of bands×rowsPerBand literal-plane dot_i64 calls, whose
    // wide-variant (32×8) form was 2048 array literals costing ~3 s of
    // driver-side analysis PER INVOCATION and re-reading plane elements
    // through Literal ArrayData on every row. Band number = array index.
    emb
      .select(col("vec_id"),
        posexplode(call_function("sign_bands_i64", col("q"),
          lit(bands), lit(rowsPerBand))))
      .select(col("vec_id"), col("pos").as("band_no"), col("col").as("bits"))

  /** Banded candidate pairs (band collisions, pre-rescore, pre-distinct).
    * [[AdaptiveBits]] resolves against the frame's count.
    *
    * The self-join is HINTED shuffle_merge: the band table is
    * Θ(n·bands) rows, but its Catalyst size estimate descends from the
    * caller's localCheckpoint lineage (range → project → explode), which
    * under-counts array payloads badly enough that the static planner
    * chose a BROADCAST build for an 800k-vector corpus — 51M band rows,
    * a guaranteed driver OOM (measured: the r12 synthetic 800k run died
    * in BroadcastExchangeExec before the fence fix; SCALE_r12 §1). A
    * band table is never a correct broadcast side past toy corpora, and
    * at toy size the forced shuffle moves kilobytes — so the scale-safe
    * strategy is unconditional. */
  private[graft] def s02Candidates(emb: DataFrame, bands: Int,
                                   rowsPerBand: Int): DataFrame = {
    val b = s02Bands(emb, bands, resolveBits(emb, rowsPerBand))
    b.as("a").hint("shuffle_merge").join(b.as("b"),
        col("a.band_no") === col("b.band_no") &&
          col("a.bits") === col("b.bits") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
  }

  /** Per-pair collision counts (vec_a < vec_b, m) from a PREBUILT band
    * table — the incremental paths' state-side kernel (their standing
    * band signatures are persisted, not recomputed). Same forced-shuffle
    * contract as [[s02Candidates]]: a persisted state band table is
    * corpus-sized by definition. */
  private[graft] def bandPairCounts(b: DataFrame): DataFrame =
    b.as("a").hint("shuffle_merge").join(b.as("b"),
        col("a.band_no") === col("b.band_no") &&
          col("a.bits") === col("b.bits") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .groupBy("vec_a", "vec_b").agg(count(lit(1)).as("m"))

  /** The banded near-dup kernel over a quantized (vec_id, q, nrm) frame:
    * LSH candidates + exact rescore, threshold applied to the exact
    * cosine. Default construction is the production adaptive one
    * (64 bands × clamp(ceil(log₂ n), BitsMin, BitsMax) bits —
    * [[AdaptiveBits]]
    * resolves against the frame's count). */
  private[graft] def nearDupPairsOf(emb: DataFrame, threshold: Double,
                                    bands: Int = ScaledBands,
                                    rowsPerBand: Int = AdaptiveBits): DataFrame = {
    val rb = resolveBits(emb, rowsPerBand)
    // The band join stays THIN (ids + band key only — no array payload in
    // join-output rows), candidate pairs flow straight into the rescore
    // with no intermediate distinct: the all-candidates dedupe was a full
    // shuffle of every collision, while the sim filter keeps ~nothing, so
    // deduping AFTER it is free. Rescore joins are plain equi-joins; the
    // vector-table side broadcasts while the construction's own bit width
    // proves the corpus small (bits ≤ 16 ⟺ n ≤ 65536 ⟺ quantized
    // vectors ≤ ~35 MB true size) and is FORCED to shuffle past it — the
    // static estimator under-sizes checkpoint-derived array payloads (see
    // s02Candidates), and a mis-broadcast vector table at 10⁶+ rows is a
    // driver OOM, the t18 broadcast/shuffle-by-threshold lesson applied
    // to the rescore. Dot/filter run in the join output's codegen stage.
    val embFence =
      if (rb > 16) (df: DataFrame) => df.hint("shuffle_merge")
      else (df: DataFrame) => df
    s02Candidates(emb, bands, rb)
      .join(embFence(emb.select(col("vec_id").as("vec_a"), col("q").as("qa"),
        col("nrm").as("na"))), "vec_a")
      .join(embFence(emb.select(col("vec_id").as("vec_b"), col("q").as("qb"),
        col("nrm").as("nb"))), "vec_b")
      .select(col("vec_a"), col("vec_b"),
        round(expr(dotExpr("qa", "qb")).cast("double") /
          cosDenom(col("na"), col("nb")), 6)
          .as("sim"))
      .filter(col("sim") >= threshold)
      .distinct() // survivors only: a pair found by k bands dedupes here
  }

  /** Quantize + norm any (vec_id, float-vector) frame for the kernels. */
  private[graft] def withQuantized(emb: DataFrame, vecCol: String): DataFrame =
    emb.withColumn("q", expr(quantize(vecCol)))
      .withColumn("nrm", expr(normExpr("q")))
      .select("vec_id", "q", "nrm")

  /** s02's full derivation as CTE text ending in `survivors`
    * (vec_a, vec_b, sim) — SHARED by s02Sql and PipelineOps.p12Sql (the
    * dsirSqlCtes anti-drift lesson): the family-prune oracle walks
    * EXACTLY the s02 pair list. Replicates the hashed-bigram embedding
    * + integer idf + adaptive banded LSH + exact rescore end-to-end in
    * DuckDB (md5 arithmetic, integer component sums, power-of-two bit
    * fences, the plane pool and the 6-dp cosine filter are all the
    * same integer/IEEE ops). */
  private[graft] def s02SqlCtes: String =
    s"""words AS (
       |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
       |), grams AS (
       |  SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS g
       |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM words)
       |), gtf AS (
       |  SELECT doc_id, g, COUNT(*) AS tf FROM grams GROUP BY 1, 2
       |), gdf AS (
       |  SELECT g, COUNT(*) AS df,
       |    length(bin(CAST((SELECT COUNT(*) FROM documents) // COUNT(*) AS BIGINT))) AS w
       |  FROM gtf GROUP BY g
       |), gvecs AS (
       |  SELECT g, w, list_transform(range(0, 64), j ->
       |    ('0x' || substr(md5(g || ':' || CAST(j // 8 AS VARCHAR)),
       |      ((j % 8) * 4 + 1)::INT, 4))::BIGINT % 2001 - 1000) AS v
       |  FROM gdf
       |), gelems AS (
       |  SELECT g, w, generate_subscripts(v, 1) AS i, unnest(v) AS x FROM gvecs
       |), elems AS (
       |  SELECT t.doc_id AS vec_id, e.i, SUM(t.tf * e.w * e.x) AS x
       |  FROM gtf t JOIN gelems e ON t.g = e.g
       |  GROUP BY 1, 2
       |), norms AS (
       |  SELECT vec_id, SUM(x * x) AS nrm FROM elems GROUP BY vec_id
       |), ${adaptiveLshCtes("", "(SELECT COUNT(*) FROM documents)")},
       |${neardupTailCtes("", NearDupThreshold)}""".stripMargin

  val s02Sql: String =
    s"""WITH $s02SqlCtes
       |${neardupTailSelect("")}""".stripMargin

  /** The st11 oracle: the full frozen-featurizer admission derivation in
    * DuckDB — standing split, standing-only dfs/bit width, union-vocab
    * gram vectors, batch embed, standing×batch band probe, exact
    * rescore, per-doc verdict. */
  private[graft] lazy val st11Sql: String = {
    val den = NewBatchDen
    s"""WITH tsplit AS (
       |  SELECT ((MAX(doc_id) + 1) * ${den - 1}) // $den AS t FROM documents
       |), sdocs AS (
       |  SELECT d.doc_id, d.text FROM documents d, tsplit WHERE d.doc_id < tsplit.t
       |), bdocs AS (
       |  SELECT d.doc_id, d.text FROM documents d, tsplit WHERE d.doc_id >= tsplit.t
       |), snv AS (SELECT COUNT(*) AS n FROM sdocs
       |), sbcfg AS (SELECT ${bitsCaseSql("n")} AS nbits FROM snv
       |), sgtf AS (
       |  SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS g, COUNT(*) AS tf
       |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i
       |        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM sdocs))
       |  GROUP BY 1, 2
       |), bgtf AS (
       |  SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS g, COUNT(*) AS tf
       |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i
       |        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM bdocs))
       |  GROUP BY 1, 2
       |), sgdf AS (SELECT g, COUNT(*) AS df FROM sgtf GROUP BY 1
       |), vocab AS (
       |  SELECT DISTINCT g FROM (SELECT g FROM sgtf UNION ALL SELECT g FROM bgtf)
       |), gvw AS (
       |  SELECT vv.g,
       |    list_transform(range(0, 64), j ->
       |      ('0x' || substr(md5(vv.g || ':' || CAST(j // 8 AS VARCHAR)),
       |        ((j % 8) * 4 + 1)::INT, 4))::BIGINT % 2001 - 1000) AS v,
       |    length(bin(CAST(snv.n // COALESCE(sd.df, 1) AS BIGINT))) AS w
       |  FROM vocab vv LEFT JOIN sgdf sd USING (g), snv
       |), gel AS (
       |  SELECT g, w, generate_subscripts(v, 1) AS i, unnest(v) AS x FROM gvw
       |), selems AS (
       |  SELECT t.doc_id AS vec_id, e.i, SUM(t.tf * e.w * e.x) AS x
       |  FROM sgtf t JOIN gel e USING (g) GROUP BY 1, 2
       |), belems AS (
       |  SELECT t.doc_id AS vec_id, e.i, SUM(t.tf * e.w * e.x) AS x
       |  FROM bgtf t JOIN gel e USING (g) GROUP BY 1, 2
       |), snorms AS (SELECT vec_id, SUM(x * x) AS nrm FROM selems GROUP BY 1
       |), bnorms AS (SELECT vec_id, SUM(x * x) AS nrm FROM belems GROUP BY 1
       |), aplanes_l(p, ws) AS (
       |  VALUES $planesPoolValues
       |), aplanes AS (
       |  SELECT p, generate_subscripts(ws, 1) AS i, unnest(ws) AS w
       |  FROM aplanes_l
       |), spd AS (
       |  SELECT e.vec_id, pl.p, SUM(e.x * pl.w) AS pd
       |  FROM selems e JOIN aplanes pl ON e.i = pl.i
       |  JOIN sbcfg bc ON pl.p < $ScaledBands * bc.nbits
       |  GROUP BY 1, 2
       |), bpd AS (
       |  SELECT e.vec_id, pl.p, SUM(e.x * pl.w) AS pd
       |  FROM belems e JOIN aplanes pl ON e.i = pl.i
       |  JOIN sbcfg bc ON pl.p < $ScaledBands * bc.nbits
       |  GROUP BY 1, 2
       |), sbands AS (
       |  SELECT vec_id, pd.p // bc.nbits AS band_no,
       |    CAST(SUM(CASE WHEN pd.pd > 0 THEN 1 << (pd.p % bc.nbits) ELSE 0 END) AS BIGINT) AS bits
       |  FROM spd pd, sbcfg bc GROUP BY 1, 2
       |), bbands AS (
       |  SELECT vec_id, pd.p // bc.nbits AS band_no,
       |    CAST(SUM(CASE WHEN pd.pd > 0 THEN 1 << (pd.p % bc.nbits) ELSE 0 END) AS BIGINT) AS bits
       |  FROM bpd pd, sbcfg bc GROUP BY 1, 2
       |), acand AS (
       |  SELECT DISTINCT a.vec_id AS sdoc, b.vec_id AS bdoc
       |  FROM sbands a JOIN bbands b
       |    ON a.band_no = b.band_no AND a.bits = b.bits
       |), adots AS (
       |  SELECT c.sdoc, c.bdoc, SUM(sa.x * bb.x) AS dot
       |  FROM acand c
       |  JOIN selems sa ON sa.vec_id = c.sdoc
       |  JOIN belems bb ON bb.vec_id = c.bdoc AND sa.i = bb.i
       |  GROUP BY 1, 2
       |), ascored AS (
       |  SELECT d.bdoc, COUNT(*) AS n_candidates,
       |    MAX(ROUND(d.dot::DOUBLE / GREATEST(sqrt(sn.nrm::DOUBLE) * sqrt(bn.nrm::DOUBLE), 1e-12), 6)) AS max_sim
       |  FROM adots d JOIN snorms sn ON d.sdoc = sn.vec_id
       |  JOIN bnorms bn ON d.bdoc = bn.vec_id
       |  GROUP BY 1)
       |SELECT b.doc_id, COALESCE(s.n_candidates, 0) AS n_candidates, s.max_sim,
       |  (s.max_sim IS NULL OR s.max_sim < $NearDupThreshold) AS admitted
       |FROM bdocs b LEFT JOIN ascored s ON b.doc_id = s.bdoc
       |ORDER BY b.doc_id""".stripMargin
  }

  /** LSH-bucketed ANN: sign(dot(v, plane_j)) bits form a 16-bit bucket;
    * neighbors are scored only within the query's bucket. */
  def s03AnnLsh(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val emb = embeddings(s, d).withColumn("q", expr(qEmb))
      .withColumn("nrm", expr(normExpr("q")))
      .select("vec_id", "q", "nrm")
    lshTopKOf(emb, col("a.vec_id") < NumQueries, TopK)
      .orderBy("query_id", "rk")
  }

  /** The s03 kernel: sign-LSH bucket equi-join over a quantized
    * (vec_id, q, nrm) frame, arbitrary query predicate (over the `a` side)
    * and k. */
  private[graft] def lshTopKOf(emb: DataFrame,
                               queryCond: org.apache.spark.sql.Column,
                               k: Int): DataFrame = {
    // one 8-bit band over planes 0..7 — the same construction s02's first
    // band uses, evaluated by the shared codegen'd kernel
    val bucketed = emb.withColumn("bucket",
      call_function("sign_bands_i64", col("q"), lit(1), lit(NumPlanes))
        .getItem(0))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("sim").desc, col("vec_id"))
    bucketed.as("a")
      .join(bucketed.as("b"),
        col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") =!= col("b.vec_id") &&
          queryCond)
      .select(col("a.vec_id").as("query_id"), col("a.bucket").as("bucket"),
        col("b.vec_id").as("vec_id"),
        round(expr(dotExpr("a.q", "b.q")).cast("double") /
          cosDenom(col("a.nrm"), col("b.nrm")), 6)
          .as("sim"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("bucket"), col("rk"),
        col("vec_id").as("neighbor_id"), col("sim"))
  }

  val s03Sql: String = {
    val planeRows = (0 until NumPlanes).flatMap { j =>
      (0 until Dim).map(k => s"($j, ${k + 1}, ${planes(j)(k)})")
    }.mkString(",\n    ")
    s"""WITH q AS (
       |  SELECT vec_id, $qEmbDuck AS qv FROM embeddings
       |), elems AS (
       |  SELECT vec_id, generate_subscripts(qv, 1) AS i, unnest(qv) AS x FROM q
       |), norms AS (
       |  SELECT vec_id, SUM(x * x) AS nrm FROM elems GROUP BY vec_id
       |), planes(p, i, w) AS (
       |  VALUES $planeRows
       |), plane_dots AS (
       |  SELECT e.vec_id, pl.p, SUM(e.x * pl.w) AS pd
       |  FROM elems e JOIN planes pl ON e.i = pl.i
       |  GROUP BY 1, 2
       |), buckets AS (
       |  SELECT vec_id,
       |    CAST(SUM(CASE WHEN pd > 0 THEN 1::BIGINT << p ELSE 0 END) AS BIGINT) AS bucket
       |  FROM plane_dots GROUP BY vec_id
       |), dots AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, SUM(a.x * b.x) AS dot
       |  FROM elems a JOIN elems b ON a.i = b.i AND a.vec_id <> b.vec_id
       |    AND a.vec_id < $NumQueries
       |  GROUP BY 1, 2
       |), scored AS (
       |  SELECT d.query_id, ba.bucket, d.neighbor_id,
       |    ROUND(d.dot::DOUBLE / (sqrt(na.nrm::DOUBLE) * sqrt(nb.nrm::DOUBLE)), 6) AS sim
       |  FROM dots d
       |  JOIN buckets ba ON d.query_id = ba.vec_id
       |  JOIN buckets bb ON d.neighbor_id = bb.vec_id AND ba.bucket = bb.bucket
       |  JOIN norms na ON d.query_id = na.vec_id
       |  JOIN norms nb ON d.neighbor_id = nb.vec_id
       |), ranked AS (
       |  SELECT query_id, bucket, neighbor_id, sim,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
       |  FROM scored)
       |SELECT query_id, bucket, rk, neighbor_id, sim FROM ranked
       |WHERE rk <= $TopK ORDER BY query_id, rk""".stripMargin
  }

  /** IVF-flat ANN: K = ceil(sqrt(n)) seed centroids (the first K corpus
    * vectors — a deterministic stand-in for a trained coarse quantizer),
    * every vector assigned to its nearest cell by exact integer L2, queries
    * probe the `NProbe` nearest cells and score only those cells' members.
    *
    * Scale shape: K grows as sqrt(n) — the FAISS IVF rule of thumb — so each
    * cell holds ~sqrt(n) vectors and per-query work is NProbe*sqrt(n), not
    * n/8. Assignment is one scan against K broadcast centroids (primitive
    * kernel, no shuffle); the candidate join is an equi-join on cell id, so
    * the join partitions by cell instead of exploding all pairs. */
  private val NProbe = 2

  def s04AnnIvf(s: SparkSession, d: String): DataFrame = {
    // kept eager: left lazy, s04 ran 1.07x at sf0.01 (A/B)
    val tagged = s04Tagged(s, d).cache()
    // the assignment cache serves the corpus/probe branches of ONE plan and
    // is released before returning (TopK·queries result rows are checkpoint-
    // materialized) — bench loops must not accumulate storage blocks
    try s04Build(tagged).localCheckpoint(true)
    finally tagged.unpersist(blocking = false)
  }

  /** Cell assignment scan (see [[s04AnnIvf]]): every vector tagged with its
    * nearest cell and its NProbe probe cells. */
  private[queries] def s04Tagged(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.functions.GraftFunctions.register(s)
    ivfTagOf(s, embeddings(s, d)
      .select(col("vec_id"), expr(qEmb).as("q"))
      .as[(Long, Array[Long])], NProbe)
  }

  /** IVF cell tagging over any quantized (vec_id, q) dataset: sqrt(n) seed
    * centroids broadcast, one scan assigns cells and probe lists.
    * `cells` <= 0 means the sqrt(n) IVF default; a caller targeting
    * constant cell SIZE (the SemDeDup k ∝ n regime) passes it explicitly. */
  private[graft] def ivfTagOf(s: SparkSession,
                              emb: org.apache.spark.sql.Dataset[(Long, Array[Long])],
                              nProbe: Int, cells: Long = 0L): DataFrame = {
    import s.implicits._
    val numCells =
      if (cells > 0) cells
      else math.max(1L, math.ceil(math.sqrt(emb.count().toDouble)).toLong)
    // deterministic coarse quantizer: cells seeded by the first K vectors
    // (sqrt(n) rows — broadcast-sized at any corpus scale)
    val cents: Array[(Long, Array[Long])] =
      emb.filter(_._1 < numCells).collect().sortBy(_._1)
    require(cents.nonEmpty,
      s"ivfTagOf: no vectors with vec_id < $numCells — the deterministic " +
        "coarse quantizer seeds cells from the LOWEST ids and requires ids " +
        "dense from 0 (re-key the frame, e.g. row_number() - 1, first)")
    val bc = s.sparkContext.broadcast(cents)
    // one scan assigns every vector to its nearest cell (primitive-array L2
    // kernel against the broadcast centroids — no shuffle, no lambdas in
    // the expression tree) and tags queries with their NProbe probe cells
    emb.mapPartitions { it =>
      val cs = bc.value
      it.map { case (id, v) =>
        var nrm = 0L; var i = 0
        while (i < v.length) { nrm += v(i) * v(i); i += 1 }
        val dists = cs.map { case (cid, c) =>
          var d2 = 0L; var k = 0
          while (k < v.length) { val df = v(k) - c(k); d2 += df * df; k += 1 }
          (d2, cid)
        }
        val sorted = dists.sortBy(identity)
        (id, v, nrm, sorted(0)._2, sorted.take(nProbe).map(_._2))
      }
    }.toDF("vec_id", "q", "nrm", "cell", "probes")
  }

  /** Two-level (hierarchical) cell tagging for the k ∝ n quantizer regime
    * — the r9→r10 scale fix for [[s06SemanticDedup]]. [[ivfTagOf]]'s flat
    * assignment collects ALL `cells` centroids on the driver and scans
    * each against every vector: fine at the √n IVF default, but the gated
    * SemDeDup rule grows `cells` ∝ n past the crossover, making the
    * collect corpus-proportional and the scan O(n²/target). Here only the
    * ⌈√cells⌉ COARSE centroids are collected+broadcast (√(n/target) —
    * broadcast-sized at any corpus scale: ~4k rows at 10⁹ vectors); the
    * full seed set stays distributed.
    *
    * Rule (deterministic, oracle-replicable): coarse centroids = the
    * first ⌈√cells⌉ vectors; every vector (and every cell seed — seeds =
    * the first `cells` vectors) is assigned to its nearest coarse
    * centroid by exact integer L2, ties → lower id. A vector's CELL is
    * then the nearest seed WITHIN its coarse group, ties → lower cid.
    * Every nonempty group contains its own coarse centroid as a seed:
    * if centroid g loses itself to a duplicate centroid i < g, the same
    * tie-break sends every would-be member of g to i, so g is empty —
    * no vector can be left seedless.
    *
    * Physical shape: one map-only scan tags coarse groups (no shuffle),
    * one equi-join on the group key forms vector×seed pairs partition-
    * locally (~√cells seeds per group ⟹ n·√cells distance kernels total,
    * vs the flat path's n·cells), a partial-aggregated min(struct) picks
    * the argmin, and one slim long↔long join re-attaches vectors. Driver
    * traffic is the ⌈√cells⌉ coarse collect only. */
  private[graft] def ivfTagTwoLevel(s: SparkSession,
                                    emb: org.apache.spark.sql.Dataset[(Long, Array[Long])],
                                    cells: Long): DataFrame = {
    import s.implicits._
    val numCells = math.max(1L, cells)
    val numCoarse = math.max(1L, math.ceil(math.sqrt(numCells.toDouble)).toLong)
    val coarse: Array[(Long, Array[Long])] =
      emb.filter(_._1 < numCoarse).collect().sortBy(_._1)
    require(coarse.nonEmpty,
      s"ivfTagTwoLevel: no vectors with vec_id < $numCoarse — the coarse " +
        "quantizer seeds from the LOWEST ids and requires ids dense from 0 " +
        "(re-key the frame, e.g. row_number() - 1, first)")
    val bc = s.sparkContext.broadcast(coarse)
    // pass 1 (map-only): squared norm + nearest coarse group per vector —
    // primitive-array L2 kernel against the broadcast coarse centroids
    val grouped = emb.mapPartitions { it =>
      val cs = bc.value
      it.map { case (id, v) =>
        var nrm = 0L; var i = 0
        while (i < v.length) { nrm += v(i) * v(i); i += 1 }
        var bestD = Long.MaxValue; var bestG = Long.MaxValue
        var j = 0
        while (j < cs.length) {
          val c = cs(j)._2
          var d2 = 0L; var k = 0
          while (k < v.length) { val df = v(k) - c(k); d2 += df * df; k += 1 }
          if (d2 < bestD) { bestD = d2; bestG = cs(j)._1 }
          j += 1
        }
        (id, v, nrm, bestG)
      }
    }.toDF("vec_id", "q", "nrm", "grp")
    // the distributed seed set: first `cells` vectors, with THEIR groups
    val seeds = grouped.filter(col("vec_id") < numCells)
      .select(col("vec_id").as("cid"), col("q").as("cq"),
        col("nrm").as("cnrm"), col("grp"))
    // pass 2: within-group argmin — an equi-join on grp (rows pair only
    // inside their coarse group), d2 via the codegen'd dot expression
    // (‖v−c‖² = nrm + cnrm − 2·v·c, exact in integers), then a PARTIAL
    // min(struct(d2, cid)) so only one row per vector leaves the stage
    val assign = grouped.select(col("vec_id"), col("q"), col("nrm"), col("grp")).as("v")
      .join(seeds.as("s"), col("v.grp") === col("s.grp"))
      .select(col("v.vec_id"),
        (col("v.nrm") + col("s.cnrm")
          - lit(2L) * expr(dotExpr("v.q", "s.cq"))).as("d2"),
        col("s.cid"))
      .groupBy("vec_id")
      .agg(min(struct(col("d2"), col("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("cell"))
    // slim long↔long join-back re-attaches each vector's payload
    grouped.select("vec_id", "q", "nrm")
      .join(assign, Seq("vec_id"))
      .select("vec_id", "q", "nrm", "cell")
  }

  /** The probe-and-score plan over a (possibly cached) tagged assignment —
    * separated so `PlanSpec` can gate the physical plan shape (broadcast
    * probe side, equi-join on cell) that the eager checkpoint in
    * [[s04AnnIvf]] would otherwise hide behind a `Scan ExistingRDD`. */
  private[queries] def s04Build(tagged: DataFrame): DataFrame =
    ivfBuildOf(tagged, col("vec_id") < NumQueries, TopK)

  /** The probe-and-score plan with an arbitrary query predicate and k. */
  private[graft] def ivfBuildOf(tagged: DataFrame, queryCond: org.apache.spark.sql.Column,
                                k: Int): DataFrame = {
    val corpus = tagged.drop("probes")
    val probes = tagged.filter(queryCond)
      .select(col("vec_id").as("query_id"), col("q").as("qv"),
        col("nrm").as("qnrm"), explode(col("probes")).as("cell"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("sim").desc, col("vec_id"))
    // scoring via the codegen'd native expression — stays inside whole-stage
    // codegen, no boxed Seq[Long] per row (a ScalaUDF here was the round-1
    // scale liability)
    corpus
      .join(broadcast(probes),
        corpus("cell") === probes("cell") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(expr(dotExpr("qv", "q")).cast("double") /
          cosDenom(col("qnrm"), col("nrm")), 6)
          .as("sim"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("vec_id").as("neighbor_id"), col("sim"))
      .orderBy("query_id", "rk")
  }

  /** s06: semantic deduplication over embedding clusters — the SemDeDup
    * shape (Abbas et al. 2023, arXiv:2303.09540): cluster the corpus with
    * the IVF coarse quantizer, then WITHIN each cluster prune every vector
    * that has a higher-priority near-twin (exact cosine >= 0.45; priority =
    * lower vec_id, the deterministic stand-in for the paper's keep-rule).
    * Output: one verdict row per vector (vec_id, cell, kept).
    *
    * APPROXIMATE SEMANTICS, differently from s02: recall is bounded by the
    * clustering, not by band collisions — a near-dup pair split across two
    * cells is never examined (the paper's acknowledged trade). The DuckDB
    * oracle replicates the same deterministic cells, so the harness
    * validates engine agreement on the same candidate structure;
    * SimilaritySpec measures the within-cell semantics exactly.
    *
    * Physical shape (r10): cells are assigned by the TWO-LEVEL quantizer
    * ([[ivfTagTwoLevel]] — ⌈√cells⌉ broadcast coarse centroids, seeds
    * distributed, n·√cells assignment work), then ONE equi-join on cell
    * forms within-cell pairs — each row shuffles once with its vector,
    * pairs materialize partition-locally, and the codegen'd dot +
    * threshold filter runs in the same stage, so nothing wider than the
    * verdict rows leaves the join. The GATED cell rule (r9) is cells =
    * max(ceil(√n), n div [[SemDedupCellTarget]]): beyond the crossover
    * cells grow ∝ n with ~[[SemDedupCellTarget]]-vector cells — the
    * paper's k ∝ n regime, making the within-cell pair mass LINEAR in n
    * by construction. The r9 verdict's scale-killer — a flat assignment
    * whose centroid collect grew ∝ n/64 with an O(n²/64) scan — is gone:
    * driver traffic is now the ⌈√cells⌉ coarse seeds at ANY corpus size
    * (~4k vectors at n = 10⁹), and assignment work is n·√cells.
    * ([[graft.ops.Vectors.semanticDedup]] still exposes `numCells` for
    * explicit targets.) */
  // Deliberately UNCACHED: the tagged assignment feeds three plan branches
  // (both self-join sides + the verdict join), so the corpus scans 3×. A
  // cache-and-release here was MEASURED SLOWER at sf0.1 (0.43 -> 0.94 s:
  // checkpoint materialization dominates), and at 10^10 vectors the corpus
  // doesn't fit a cache anyway — three column-pruned scans against
  // broadcast centroids is the scale-correct shape.
  def s06SemanticDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.functions.GraftFunctions.register(s)
    val emb = embeddings(s, d)
      .select(col("vec_id"), expr(qEmb).as("q"))
      .as[(Long, Array[Long])]
    val n = emb.count()
    val cells = math.max(
      math.max(1L, math.ceil(math.sqrt(n.toDouble)).toLong),
      n / SemDedupCellTarget)
    semanticDedupOf(ivfTagTwoLevel(s, emb, cells), 0.45).orderBy("vec_id")
  }

  /** s06's target cell SIZE past the √n crossover (n > target²):
    * per-cell pair work stays ~target²/2, so total pair mass is
    * n·target/2 — linear. 64 keeps the sf-scale oracle on the √n rule
    * (500 and 2,000 vectors are below 64² = 4,096) while a 10^9-vector
    * corpus gets ~1.6·10^7 cells of ~64. */
  val SemDedupCellTarget = 64L

  /** The s06 kernel over a tagged (vec_id, q, nrm, cell, ...) frame:
    * within-cell near-twin pruning at an exact-cosine threshold. */
  private[graft] def semanticDedupOf(tagged: DataFrame, threshold: Double): DataFrame = {
    val slim = tagged.select("vec_id", "q", "nrm", "cell")
    // the cell equi-join shuffles each row ONCE (with its vector); pairs
    // form partition-locally and the rescore+filter stays in the join's
    // codegen stage — only (vec_id) victim rows come out
    val victims = slim.as("a").join(slim.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .filter(round(expr(dotExpr("a.q", "b.q")).cast("double") /
        cosDenom(col("a.nrm"), col("b.nrm")), 6)
        >= threshold)
      .select(col("b.vec_id")).distinct()
      .withColumn("pruned", lit(true))
    slim.select("vec_id", "cell")
      .join(victims, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("pruned").isNull.as("kept"))
  }

  /** The DuckDB twin of the TWO-LEVEL rule ([[ivfTagTwoLevel]]): coarse
    * assignment to the first ⌈√ncells⌉ vectors (ties → lower gid), then
    * the cell is the nearest of the first-ncells seeds WITHIN the coarse
    * group (ties → lower cid) — so the driver oracle exercises the exact
    * hierarchical construction the gated query ships, not the flat
    * stand-in it replaced. */
  val s06Sql: String =
    s"""WITH q AS (
       |  SELECT vec_id, $qEmbDuck AS qv FROM embeddings
       |), elems AS (
       |  SELECT vec_id, generate_subscripts(qv, 1) AS i, unnest(qv) AS x FROM q
       |), norms AS (
       |  SELECT vec_id, SUM(x * x) AS nrm FROM elems GROUP BY vec_id
       |), params AS (
       |  SELECT ncells, CAST(CEIL(SQRT(ncells::DOUBLE)) AS BIGINT) AS ncoarse
       |  FROM (SELECT GREATEST(CAST(CEIL(SQRT(COUNT(*))) AS BIGINT),
       |                        COUNT(*) // $SemDedupCellTarget) AS ncells
       |        FROM embeddings)
       |), coarse AS (
       |  SELECT vec_id AS gid, i, x FROM elems
       |  WHERE vec_id < (SELECT ncoarse FROM params)
       |), gdists AS (
       |  SELECT e.vec_id, c.gid, SUM((e.x - c.x) * (e.x - c.x)) AS d2
       |  FROM elems e JOIN coarse c ON e.i = c.i GROUP BY 1, 2
       |), gassign AS (
       |  SELECT vec_id, gid AS grp FROM (
       |    SELECT vec_id, gid,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, gid) AS grk
       |    FROM gdists)
       |  WHERE grk = 1
       |), seeds AS (
       |  SELECT vec_id AS cid, grp FROM gassign
       |  WHERE vec_id < (SELECT ncells FROM params)
       |), cdists AS (
       |  SELECT ga.vec_id, s.cid, SUM((ev.x - es.x) * (ev.x - es.x)) AS d2
       |  FROM gassign ga
       |  JOIN seeds s ON s.grp = ga.grp
       |  JOIN elems ev ON ev.vec_id = ga.vec_id
       |  JOIN elems es ON es.vec_id = s.cid AND es.i = ev.i
       |  GROUP BY 1, 2
       |), assign AS (
       |  SELECT vec_id, cid AS cell FROM (
       |    SELECT vec_id, cid,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS crk
       |    FROM cdists)
       |  WHERE crk = 1
       |), cand AS (
       |  SELECT a.vec_id AS va, b.vec_id AS vb
       |  FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |), dots AS (
       |  SELECT c.va, c.vb, SUM(ea.x * eb.x) AS dot
       |  FROM cand c
       |  JOIN elems ea ON ea.vec_id = c.va
       |  JOIN elems eb ON eb.vec_id = c.vb AND ea.i = eb.i
       |  GROUP BY 1, 2
       |), victims AS (
       |  SELECT DISTINCT d.vb AS vec_id FROM dots d
       |  JOIN norms na ON d.va = na.vec_id
       |  JOIN norms nb ON d.vb = nb.vec_id
       |  WHERE ROUND(d.dot::DOUBLE / (sqrt(na.nrm::DOUBLE) * sqrt(nb.nrm::DOUBLE)), 6) >= 0.45)
       |SELECT a.vec_id, a.cell, (v.vec_id IS NULL) AS kept
       |FROM assign a LEFT JOIN victims v ON a.vec_id = v.vec_id
       |ORDER BY a.vec_id""".stripMargin

  val s04Sql: String =
    s"""WITH q AS (
       |  SELECT vec_id, $qEmbDuck AS qv FROM embeddings
       |), elems AS (
       |  SELECT vec_id, generate_subscripts(qv, 1) AS i, unnest(qv) AS x FROM q
       |), norms AS (
       |  SELECT vec_id, SUM(x * x) AS nrm FROM elems GROUP BY vec_id
       |), cents AS (
       |  SELECT vec_id AS cid, i, x FROM elems
       |  WHERE vec_id < (SELECT CAST(CEIL(SQRT(COUNT(*))) AS BIGINT) FROM embeddings)
       |), dists AS (
       |  SELECT e.vec_id, c.cid, SUM((e.x - c.x) * (e.x - c.x)) AS d2
       |  FROM elems e JOIN cents c ON e.i = c.i GROUP BY 1, 2
       |), ranked_cells AS (
       |  SELECT vec_id, cid,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS crk
       |  FROM dists
       |), assign AS (
       |  SELECT vec_id, cid FROM ranked_cells WHERE crk = 1
       |), probes AS (
       |  SELECT vec_id, cid FROM ranked_cells
       |  WHERE crk <= $NProbe AND vec_id < $NumQueries
       |), cand AS (
       |  SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id
       |  FROM probes p JOIN assign a ON p.cid = a.cid AND p.vec_id <> a.vec_id
       |), dots AS (
       |  SELECT c.query_id, c.neighbor_id, SUM(ea.x * eb.x) AS dot
       |  FROM cand c
       |  JOIN elems ea ON ea.vec_id = c.query_id
       |  JOIN elems eb ON eb.vec_id = c.neighbor_id AND ea.i = eb.i
       |  GROUP BY 1, 2
       |), scored AS (
       |  SELECT query_id, neighbor_id,
       |    ROUND(dot::DOUBLE / (sqrt(na.nrm::DOUBLE) * sqrt(nb.nrm::DOUBLE)), 6) AS sim
       |  FROM dots JOIN norms na ON query_id = na.vec_id
       |  JOIN norms nb ON neighbor_id = nb.vec_id
       |), ranked AS (
       |  SELECT query_id, neighbor_id, sim,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
       |  FROM scored)
       |SELECT query_id, rk, neighbor_id, sim FROM ranked
       |WHERE rk <= $TopK ORDER BY query_id, rk""".stripMargin

  /** s07: scalar-quantized (SQ8) ANN — the FAISS `SQ8` memory/bandwidth
    * trade: each vector is compressed to per-component int8 codes
    * (`floor(x * 127 / max|x|)` with a per-vector scale), candidates are
    * ranked by the cosine of the CODES (scales cancel), and the winners
    * are exactly rescored on the full-precision vectors — so the output
    * exposes both the approximate and the true similarity per hit, the
    * audit a pipeline needs before trusting a compressed index.
    *
    * Determinism: codes are exact integer floors of double ratios
    * (IEEE-identical in both engines); both similarity columns are one
    * rounded division over exact-integer dot/norms — the s01 contract.
    *
    * Scale design: identical plan shape to s01 (broadcast query codes,
    * ONE corpus scan, per-query top-k window) but the scan's dot products
    * run over int8-range codes — 4× less memory bandwidth than the f32
    * vectors once codes are stored packed (here they stay `array<bigint>`
    * for the exact-integer oracle contract; the physical int8 packing is
    * a storage-layer concern, the ranking math is what this query pins).
    * The exact rescore touches only numQueries × k rows — broadcast-sized
    * at any corpus scale. */
  def s07Sq8Topk(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val emb = embeddings(s, d).withColumn("q", expr(qEmb)).select("vec_id", "q")
    sq8TopKOf(emb, col("vec_id") < NumQueries, TopK)
      .orderBy("query_id", "rk")
  }

  /** s07's kernel over any quantized (vec_id, q) frame (graft.ops.Vectors
    * API): per-vector SQ8 codes, code-cosine ranking with broadcast query
    * codes, exact full-precision rescore of the winners only. */
  private[graft] def sq8TopKOf(embIn: DataFrame, isQuery: org.apache.spark.sql.Column,
                               k: Int): DataFrame = {
    val emb = embIn
      .withColumn("m", greatest(expr("array_max(transform(q, y -> abs(y)))"), lit(1L)))
      .withColumn("c", expr("transform(q, x -> cast(floor(cast(x as double) * 127.0D / cast(m as double)) as bigint))"))
      .select("vec_id", "q", "c")
    val queries = emb.filter(isQuery)
      .select(col("vec_id").as("query_id"), col("q").as("qv"), col("c").as("qc"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("sim_sq8").desc, col("vec_id"))
    emb.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .withColumn("sim_sq8", round(expr(dotExpr("c", "qc")).cast("double") /
        cosDenom(expr(normExpr("c")), expr(normExpr("qc"))), 6))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      // exact rescore of the winners only (numQueries × k rows)
      .withColumn("sim_exact", round(expr(dotExpr("q", "qv")).cast("double") /
        cosDenom(expr(normExpr("q")), expr(normExpr("qv"))), 6))
      .select(col("query_id"), col("rk"), col("vec_id").as("neighbor_id"),
        col("sim_sq8"), col("sim_exact"))
  }

  val s07Sql: String =
    s"""WITH q AS (
       |  SELECT vec_id, $qEmbDuck AS qv FROM embeddings
       |), coded AS (
       |  SELECT vec_id, qv,
       |    list_transform(qv, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 127.0 /
       |      CAST(GREATEST(list_max(list_transform(qv, y -> abs(y))), 1) AS DOUBLE))
       |      AS BIGINT)) AS c
       |  FROM q
       |), elems AS (
       |  SELECT vec_id, generate_subscripts(qv, 1) AS i, unnest(qv) AS x FROM coded
       |), celems AS (
       |  SELECT vec_id, generate_subscripts(c, 1) AS i, unnest(c) AS x FROM coded
       |), norms AS (
       |  SELECT vec_id, SUM(x * x) AS nrm FROM elems GROUP BY vec_id
       |), cnorms AS (
       |  SELECT vec_id, SUM(x * x) AS nrm FROM celems GROUP BY vec_id
       |), cdots AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, SUM(a.x * b.x) AS dot
       |  FROM celems a JOIN celems b ON a.i = b.i AND a.vec_id < $NumQueries
       |    AND a.vec_id <> b.vec_id
       |  GROUP BY 1, 2
       |), scored AS (
       |  SELECT query_id, neighbor_id,
       |    ROUND(dot::DOUBLE / (sqrt(nq.nrm::DOUBLE) * sqrt(nn.nrm::DOUBLE)), 6)
       |      AS sim_sq8
       |  FROM cdots JOIN cnorms nq ON query_id = nq.vec_id
       |  JOIN cnorms nn ON neighbor_id = nn.vec_id
       |), ranked AS (
       |  SELECT query_id, neighbor_id, sim_sq8,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY sim_sq8 DESC, neighbor_id) AS rk
       |  FROM scored
       |), top AS (
       |  SELECT query_id, rk, neighbor_id, sim_sq8 FROM ranked WHERE rk <= $TopK
       |), edots AS (
       |  SELECT t.query_id, t.neighbor_id, SUM(ea.x * eb.x) AS dot
       |  FROM top t
       |  JOIN elems ea ON ea.vec_id = t.query_id
       |  JOIN elems eb ON eb.vec_id = t.neighbor_id AND ea.i = eb.i
       |  GROUP BY 1, 2)
       |SELECT t.query_id, t.rk, t.neighbor_id, t.sim_sq8,
       |  ROUND(e.dot::DOUBLE / (sqrt(na.nrm::DOUBLE) * sqrt(nb.nrm::DOUBLE)), 6)
       |    AS sim_exact
       |FROM top t
       |JOIN edots e ON t.query_id = e.query_id AND t.neighbor_id = e.neighbor_id
       |JOIN norms na ON t.query_id = na.vec_id
       |JOIN norms nb ON t.neighbor_id = nb.vec_id
       |ORDER BY t.query_id, t.rk""".stripMargin

  /** s08: IVF-PQ ANN — the FAISS production index family (Jégou et al.
    * 2011, "Product Quantization for Nearest Neighbor Search"; the index
    * behind FAISS `IVFx,PQy`): the IVF coarse quantizer restricts each
    * query to its NProbe cells (s04's structure), candidates inside those
    * cells are ranked by ASYMMETRIC distance — the exact query subvectors
    * against each candidate's product-quantized reconstruction, computed
    * as [[PqM]] table lookups per candidate via the codegen'd
    * `pq_adc_i64` kernel — and the top [[PqRerank]]·k shortlist is exactly
    * rescored and re-ranked on the full-precision vectors (the standard
    * IVFPQ refine step). Output exposes both sims per hit, the
    * compressed-index audit contract s07 established.
    *
    * Codebooks: [[PqM]] subquantizers × [[PqK]] centroids over
    * [[PqSubDim]]-component subvectors, trained DRIVER-SIDE on the
    * deterministic sample (vec_id < [[PqSample]] — metadata-sized at any
    * corpus scale) with [[PqIters]] Lloyd iterations in pure integer
    * arithmetic: init = first-PqK subvectors, assignment = argmin integer
    * L2 (ties to the lowest centroid id), update = componentwise
    * truncated-integer mean (Scala `/` ≡ DuckDB `//` on negatives —
    * verified), empty clusters keep their previous centroid. The DuckDB
    * oracle replays the SAME training as unrolled per-iteration CTEs
    * (the t17 generated-SQL pattern), so both engines derive identical
    * codebooks, codes, LUTs, and ranking — the harness validates full
    * engine agreement on a genuinely trained PQ index.
    *
    * Scale shape: training touches PqSample rows (collect is metadata-
    * sized); code assignment is ONE corpus scan against the broadcast
    * codebooks (mapPartitions, primitive-array kernel — the ivfTagOf
    * precedent); per-query LUTs are built on the metadata-sized query
    * rows; candidates come from the broadcast probe equi-join on cell
    * (never all pairs); the ADC scan reads PqM codes per candidate
    * instead of Dim components — at a real deployment's 64× compression
    * that is the memory-bandwidth win that makes 10^10-vector scans
    * feasible; the exact rescore touches only PqRerank·k·queries rows. */
  private[graft] val PqM = 8
  private[graft] val PqSubDim = Dim / PqM
  private[graft] val PqK = 32
  private[graft] val PqSample = 256
  private[graft] val PqIters = 2
  private[graft] val PqRerank = 8
  /** s08's nprobe (FAISS's recall knob). MEASURED on this corpus: the
    * 2-probe candidate pool already contains 45/50 of the true top-5
    * (the stragglers live in cells ranked 9-20 of ~23 — no reasonable
    * nprobe reaches them), so 0.90 is the IVF ceiling here and
    * (nprobe=2, PqK=32, PqRerank·k=40) attains it exactly. Probing wider
    * at a FIXED shortlist measurably hurts (6 probes -> 0.76): extra
    * candidates crowd the coarse ADC shortlist. At scale nprobe and
    * PqRerank move together. */
  private[graft] val PqNProbe = 2

  def s08IvfPqTopk(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.functions.GraftFunctions.register(s)
    val tagged = ivfTagOf(s, embeddings(s, d)
      .select(col("vec_id"), expr(qEmb).as("q"))
      .as[(Long, Array[Long])], PqNProbe).cache()
    // cache serves the sample-collect, corpus and probe branches of ONE
    // plan; released before returning (s04's bench-loop hygiene)
    // kept eager: left lazy, s08 ran 1.15x at sf0.1 and 1.11x at sf0.01 (A/B)
    try ivfPqBuildOf(s, tagged, col("vec_id") < NumQueries, TopK)
      .localCheckpoint(true)
    finally tagged.unpersist(blocking = false)
  }

  /** Deterministic integer Lloyd training (see [[s08IvfPqTopk]]).
    * Returns codebooks(m)(k) = PqSubDim-component centroid. */
  private[graft] def trainPqCodebooks(sample: Array[Array[Long]]): Array[Array[Array[Long]]] =
    Array.tabulate(PqM) { m =>
      val subs = sample.map(_.slice(m * PqSubDim, (m + 1) * PqSubDim))
      var cents = Array.tabulate(math.min(PqK, subs.length))(k => subs(k).clone())
      (1 to PqIters).foreach { _ =>
        val sums = Array.fill(cents.length, PqSubDim)(0L)
        val counts = Array.fill(cents.length)(0L)
        subs.foreach { sv =>
          var best = 0; var bestD = Long.MaxValue
          var k = 0
          while (k < cents.length) {
            var d2 = 0L; var j = 0
            while (j < PqSubDim) { val df = sv(j) - cents(k)(j); d2 += df * df; j += 1 }
            if (d2 < bestD) { bestD = d2; best = k } // strict <: ties -> lowest k
            k += 1
          }
          counts(best) += 1
          var j = 0
          while (j < PqSubDim) { sums(best)(j) += sv(j); j += 1 }
        }
        cents = Array.tabulate(cents.length) { k =>
          if (counts(k) == 0L) cents(k)
          else Array.tabulate(PqSubDim)(j => sums(k)(j) / counts(k))
        }
      }
      cents
    }

  /** The IVF-PQ probe-and-score plan over a tagged assignment frame. */
  private[graft] def ivfPqBuildOf(s: SparkSession, tagged: DataFrame,
                                  queryCond: org.apache.spark.sql.Column,
                                  k: Int): DataFrame = {
    import s.implicits._
    graft.functions.GraftFunctions.register(s)
    // driver-side training on the deterministic metadata-sized sample
    val sample = tagged.filter(col("vec_id") < PqSample)
      .select("vec_id", "q").as[(Long, Array[Long])]
      .collect().sortBy(_._1).map(_._2)
    require(sample.nonEmpty,
      s"ivfPqTopK: no vectors with vec_id < $PqSample to train the PQ " +
        "codebooks — ids must be dense from 0 (re-key the frame first)")
    // the PQ subvector layout is fixed at PqM x PqSubDim = Dim components;
    // a shorter vector would index past its end in the assignment scan, a
    // longer one would silently ignore its tail — both fail by name here
    sample.find(_.length != PqM * PqSubDim).foreach { v =>
      throw new IllegalArgumentException(
        s"ivfPqTopK: vector of ${v.length} components; the PQ layout " +
          s"requires exactly ${PqM * PqSubDim} (PqM=$PqM x PqSubDim=$PqSubDim)")
    }
    val books = trainPqCodebooks(sample)
    val bc = s.sparkContext.broadcast(books)
    // ONE corpus scan assigns PQ codes + reconstruction norm
    val corpus = tagged.select("vec_id", "q", "nrm", "cell")
      .as[(Long, Array[Long], Long, Long)]
      .mapPartitions { it =>
        val bks = bc.value
        it.map { case (id, v, nrm, cell) =>
          if (v.length != PqM * PqSubDim)
            throw new IllegalArgumentException(
              s"ivfPqTopK: vector $id has ${v.length} components; the PQ " +
                s"layout requires exactly ${PqM * PqSubDim}")
          val codes = new Array[Long](bks.length)
          var rnrm = 0L
          var m = 0
          while (m < bks.length) {
            var best = 0; var bestD = Long.MaxValue
            var kk = 0
            while (kk < bks(m).length) {
              var d2 = 0L; var j = 0
              while (j < PqSubDim) {
                val df = v(m * PqSubDim + j) - bks(m)(kk)(j); d2 += df * df; j += 1
              }
              if (d2 < bestD) { bestD = d2; best = kk }
              kk += 1
            }
            codes(m) = best.toLong
            var j = 0
            while (j < PqSubDim) { val c = bks(m)(best)(j); rnrm += c * c; j += 1 }
            m += 1
          }
          (id, v, nrm, cell, codes, rnrm)
        }
      }.toDF("vec_id", "q", "nrm", "cell", "codes", "rnrm")
    // per-query LUTs on the metadata-sized query rows, then probe explode
    val probes = tagged.filter(queryCond)
      .select("vec_id", "q", "nrm", "probes")
      .as[(Long, Array[Long], Long, Array[Long])]
      .mapPartitions { it =>
        val bks = bc.value
        it.map { case (id, v, nrm, prb) =>
          val lut = Array.tabulate(bks.length)(m =>
            Array.tabulate(bks(m).length) { kk =>
              var acc = 0L; var j = 0
              while (j < PqSubDim) { acc += v(m * PqSubDim + j) * bks(m)(kk)(j); j += 1 }
              acc
            })
          (id, v, nrm, prb, lut)
        }
      }.toDF("query_id", "qv", "qnrm", "probes", "lut")
      .select(col("query_id"), col("qv"), col("qnrm"), col("lut"),
        explode(col("probes")).as("pcell"))
    val wPre = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("sim_pq").desc, col("vec_id"))
    val wFin = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("sim_exact").desc, col("vec_id"))
    corpus
      .join(broadcast(probes),
        corpus("cell") === probes("pcell") && col("vec_id") =!= col("query_id"))
      .withColumn("sim_pq", round(expr("pq_adc_i64(codes, lut)").cast("double") /
        cosDenom(col("qnrm"), col("rnrm")), 6))
      .withColumn("prk", row_number().over(wPre))
      .filter(col("prk") <= PqRerank * k)
      // exact rescore + re-rank of the shortlist only
      .withColumn("sim_exact", round(expr(dotExpr("q", "qv")).cast("double") /
        cosDenom(col("nrm"), col("qnrm")), 6))
      .withColumn("rk", row_number().over(wFin).cast("long"))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("vec_id").as("neighbor_id"),
        col("sim_pq"), col("sim_exact"))
      .orderBy("query_id", "rk")
  }

  val s08Sql: String = {
    // k-means iterations GENERATED from PqIters (the t17 unrolled-SQL
    // pattern) so the oracle trains the identical codebooks
    val iters = (1 to PqIters).map { i =>
      s"""d$i AS (
         |  SELECT s.vec_id, s.m, c.k, SUM((s.x - c.x) * (s.x - c.x)) AS d2
         |  FROM samp s JOIN cb${i - 1} c ON s.m = c.m AND s.j = c.j
         |  GROUP BY 1, 2, 3
         |), a$i AS (
         |  SELECT vec_id, m, k FROM (
         |    SELECT vec_id, m, k,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, k) AS rk
         |    FROM d$i) WHERE rk = 1
         |), u$i AS (
         |  SELECT a.k, s.m, s.j, CAST(SUM(s.x) // COUNT(*) AS BIGINT) AS x
         |  FROM a$i a JOIN samp s ON a.vec_id = s.vec_id AND a.m = s.m
         |  GROUP BY a.k, s.m, s.j
         |), cb$i AS (
         |  SELECT c.m, c.k, c.j, COALESCE(u.x, c.x) AS x
         |  FROM cb${i - 1} c
         |  LEFT JOIN u$i u ON c.m = u.m AND c.k = u.k AND c.j = u.j
         |)""".stripMargin
    }.mkString(", ")
    val cbN = s"cb$PqIters"
    s"""WITH q AS (
       |  SELECT vec_id, $qEmbDuck AS qv FROM embeddings
       |), elems AS (
       |  SELECT vec_id, generate_subscripts(qv, 1) AS i, unnest(qv) AS x FROM q
       |), norms AS (
       |  SELECT vec_id, SUM(x * x) AS nrm FROM elems GROUP BY vec_id
       |), cents AS (
       |  SELECT vec_id AS cid, i, x FROM elems
       |  WHERE vec_id < (SELECT CAST(CEIL(SQRT(COUNT(*))) AS BIGINT) FROM embeddings)
       |), dists AS (
       |  SELECT e.vec_id, c.cid, SUM((e.x - c.x) * (e.x - c.x)) AS d2
       |  FROM elems e JOIN cents c ON e.i = c.i GROUP BY 1, 2
       |), ranked_cells AS (
       |  SELECT vec_id, cid,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS crk
       |  FROM dists
       |), assign AS (
       |  SELECT vec_id, cid FROM ranked_cells WHERE crk = 1
       |), probes AS (
       |  SELECT vec_id, cid FROM ranked_cells
       |  WHERE crk <= $PqNProbe AND vec_id < $NumQueries
       |), sub AS (
       |  SELECT vec_id, CAST((i - 1) // $PqSubDim AS BIGINT) AS m,
       |    CAST((i - 1) % $PqSubDim AS BIGINT) AS j, x
       |  FROM elems
       |), samp AS (
       |  SELECT * FROM sub WHERE vec_id < $PqSample
       |), cb0 AS (
       |  SELECT m, vec_id AS k, j, x FROM samp WHERE vec_id < $PqK
       |), $iters, dcode AS (
       |  SELECT s.vec_id, s.m, c.k, SUM((s.x - c.x) * (s.x - c.x)) AS d2
       |  FROM sub s JOIN $cbN c ON s.m = c.m AND s.j = c.j GROUP BY 1, 2, 3
       |), code AS (
       |  SELECT vec_id, m, k FROM (
       |    SELECT vec_id, m, k,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, k) AS rk
       |    FROM dcode) WHERE rk = 1
       |), rn AS (
       |  SELECT cd.vec_id, SUM(c.x * c.x) AS rnrm
       |  FROM code cd JOIN $cbN c ON cd.m = c.m AND cd.k = c.k GROUP BY 1
       |), cand AS (
       |  SELECT p.vec_id AS query_id, a.vec_id AS neighbor_id
       |  FROM probes p JOIN assign a ON p.cid = a.cid AND p.vec_id <> a.vec_id
       |), adc AS (
       |  SELECT c.query_id, c.neighbor_id, SUM(sq.x * cb.x) AS adc
       |  FROM cand c
       |  JOIN code cd ON cd.vec_id = c.neighbor_id
       |  JOIN $cbN cb ON cb.m = cd.m AND cb.k = cd.k
       |  JOIN sub sq ON sq.vec_id = c.query_id AND sq.m = cb.m AND sq.j = cb.j
       |  GROUP BY 1, 2
       |), spq AS (
       |  SELECT a.query_id, a.neighbor_id,
       |    ROUND(a.adc::DOUBLE / GREATEST(
       |      sqrt(nq.nrm::DOUBLE) * sqrt(r.rnrm::DOUBLE), 1e-12), 6) AS sim_pq
       |  FROM adc a JOIN norms nq ON a.query_id = nq.vec_id
       |  JOIN rn r ON a.neighbor_id = r.vec_id
       |), short AS (
       |  SELECT query_id, neighbor_id, sim_pq FROM (
       |    SELECT query_id, neighbor_id, sim_pq,
       |      ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY sim_pq DESC, neighbor_id) AS prk
       |    FROM spq) WHERE prk <= ${PqRerank * TopK}
       |), edots AS (
       |  SELECT t.query_id, t.neighbor_id, SUM(ea.x * eb.x) AS dot
       |  FROM short t
       |  JOIN elems ea ON ea.vec_id = t.query_id
       |  JOIN elems eb ON eb.vec_id = t.neighbor_id AND ea.i = eb.i
       |  GROUP BY 1, 2
       |), ex AS (
       |  SELECT t.query_id, t.neighbor_id, t.sim_pq,
       |    ROUND(e.dot::DOUBLE / GREATEST(
       |      sqrt(na.nrm::DOUBLE) * sqrt(nb.nrm::DOUBLE), 1e-12), 6) AS sim_exact
       |  FROM short t
       |  JOIN edots e ON t.query_id = e.query_id AND t.neighbor_id = e.neighbor_id
       |  JOIN norms na ON t.query_id = na.vec_id
       |  JOIN norms nb ON t.neighbor_id = nb.vec_id
       |), fin AS (
       |  SELECT query_id, neighbor_id, sim_pq, sim_exact,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY sim_exact DESC, neighbor_id) AS rk
       |  FROM ex)
       |SELECT query_id, rk, neighbor_id, sim_pq, sim_exact FROM fin
       |WHERE rk <= $TopK ORDER BY query_id, rk""".stripMargin
  }

  /** s09: late-interaction (MaxSim) retrieval — the ColBERT scoring rule
    * (Khattab & Zaharia 2020, arXiv:2004.12832): a query scores against a
    * document as the SUM over query token occurrences of the MAX cosine
    * between that token's embedding and any token embedding of the
    * document — token-level interaction instead of one pooled vector,
    * the retrieval family behind modern neural rerankers.
    *
    * Token embeddings are deterministic 8-component integer vectors
    * derived from md5(word) (both engines have md5; the hex slices are
    * avalanche-independent — the round-3 linear-generator trap does not
    * apply), so every cosine is exact integer dot/norm arithmetic and
    * the per-pair score is floored to integer micro-units BEFORE the
    * per-token max and per-doc sum (the t15 contract: only integers are
    * aggregated; one floor per word pair, identical IEEE ops in both
    * engines).
    *
    * Scale shape: the decisive ColBERT trick re-expressed relationally —
    * cos(query token, doc token) depends only on the WORD PAIR, so the
    * dense token×token interaction collapses to the (query vocab ×
    * corpus vocab) similarity surface. ONLY the query vocabulary touches
    * the driver (genuinely small — bounded by the query set): corpus
    * word vectors are computed DISTRIBUTED by a codegen'd md5 expression
    * on the vocab-sized distinct-word frame (no corpus-vocab collect —
    * an open 10^8-token vocabulary never lands on the driver), and the
    * query side fans out as a literal-array explode in the same codegen
    * stage. The interaction then FACTORS: per-token maxima depend only
    * on the word, so one hash agg builds m(query word, doc) = max
    * cosine over the doc's inverted (doc, word) index (|doc words| ×
    * |query vocab| rows), and scoring joins the query TERM-FREQUENCY
    * table against m — Σ_w tf(w)·m(w,doc) ≡ the per-occurrence sum, at
    * query-vocab × docs rows instead of a row per (occurrence × doc
    * word) (the naive join measured 82M rows / 14 s at sf0.1; this
    * shape is ~6M / ~1 s). No doc×doc or token×token pairwise scoring
    * anywhere; at an unbounded real vocabulary the dense query fan-out
    * is replaced by per-token ANN (s01-s08), the same plan with a
    * candidate join instead of a literal explode. */
  def s09MaxsimTopk(s: SparkSession, d: String): DataFrame =
    maxsimTopKOf(s, documents(s, d).select("doc_id", "text"),
      col("doc_id") < NumQueries, TopK).orderBy("query_id", "rk")

  /** Deterministic 8-component token embedding from md5(word): component
    * j = (hex[4j..4j+3] as int) % 2001 - 1000 — matched verbatim by the
    * SQL oracle's substr(md5(w)) arithmetic. */
  private[graft] def wordVec(w: String): Array[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(w.getBytes("UTF-8")).map("%02x".format(_)).mkString
    Array.tabulate(8)(j =>
      (java.lang.Long.parseLong(hex.substring(j * 4, j * 4 + 4), 16) % 2001) - 1000)
  }

  /** The s09 kernel over any (doc_id, text) frame (graft.ops.Text API). */
  private[graft] def maxsimTopKOf(s: SparkSession, docs: DataFrame,
                                  queryCond: org.apache.spark.sql.Column,
                                  k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    import s.implicits._
    val tokens = docs
      .withColumn("words", split(col("text"), " "))
      .select(col("doc_id"), explode(col("words")).as("w"))
    val qtokens = tokens.filter(queryCond)
      .select(col("doc_id").as("qdoc"), col("w"))
    val docwords = tokens
      .select(col("doc_id").as("ddoc"), col("w").as("dw")).distinct()
    // ONLY the query vocabulary touches the driver (genuinely small —
    // bounded by the query set, not the corpus). The CORPUS vocabulary
    // stays distributed: wordVec is pure md5 arithmetic, computed by the
    // same codegen'd expression family the oracle replicates, once per
    // distinct word on the vocab-sized frame — at an open 10^8+-token
    // vocabulary there is no driver collect and no driver OOM (the r8
    // verdict's s09 finding).
    val qwords = qtokens.select("w").distinct().as[String].collect().sorted
    val qlits = qwords.toSeq.map { w =>
      val v = wordVec(w); (w, v.toSeq, v.map(x => x * x).sum)
    }
    val vocabVecs = docwords.select("dw").distinct()
      .withColumn("v", expr(
        "transform(sequence(0, 7), j -> cast(conv(substring(md5(dw), " +
          "j * 4 + 1, 4), 16, 10) as bigint) % 2001 - 1000)"))
      .withColumn("nrm", expr("normsq_i64(v)"))
    // factor the interaction: the per-token max depends only on the WORD,
    // so aggregate m(query word, doc) = max cosine over the doc's words
    // FIRST (|corpus (doc, word)| × |query vocab| rows), then join the
    // query TERM-FREQUENCY table (query-vocab-sized per query) — never a
    // row per (token occurrence × doc word): the naive occurrence join
    // measured 82M rows / 14 s at sf0.1 where this is ~6M / ~1 s.
    // The query side fans out as a LITERAL-ARRAY EXPLODE (a generator in
    // the same codegen stage — no cross join, no LocalTableScan), and
    // cosMilli runs inline over the codegen'd dot_i64/normsq_i64 kernels
    // with the exact oracle op order: dot / max(√na·√nb, 1e-12) · 1e6,
    // floored once.
    val qtf = qtokens.groupBy("qdoc", "w").agg(count(lit(1)).as("tf"))
    val m = docwords
      .join(vocabVecs, "dw")
      .select(col("ddoc"), col("v"), col("nrm"),
        explode(typedLit(qlits)).as("qe"))
      .select(col("qe._1").as("w"), col("ddoc"),
        expr("cast(floor(cast(dot_i64(qe._2, v) as double) / " +
          "greatest(sqrt(cast(qe._3 as double)) * sqrt(cast(nrm as double)), 1e-12) " +
          "* 1000000.0) as bigint)").as("c"))
      .groupBy("w", "ddoc").agg(max("c").as("mx"))
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy("qdoc").orderBy(col("maxsim_milli").desc, col("ddoc"))
    qtf
      .join(m, Seq("w"))
      .filter(col("ddoc") =!= col("qdoc"))
      .groupBy("qdoc", "ddoc")
      .agg(sum("tf").as("n_q_tokens"),
        sum(col("tf") * col("mx")).as("maxsim_milli"))
      .withColumn("rk", row_number().over(wTop).cast("long"))
      .filter(col("rk") <= k)
      .select(col("qdoc").as("query_id"), col("rk"),
        col("ddoc").as("doc_id"), col("n_q_tokens"), col("maxsim_milli"))
  }

  val s09Sql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, i AS pos, words[i] AS w
       |  FROM (SELECT doc_id, string_split(text, ' ') AS words,
       |          unnest(range(1, len(string_split(text, ' ')) + 1)) AS i
       |        FROM documents)
       |), qt AS (
       |  SELECT doc_id AS qdoc, pos, w FROM toks WHERE doc_id < $NumQueries
       |), dwords AS (
       |  SELECT DISTINCT doc_id AS ddoc, w FROM toks
       |), vocab AS (
       |  SELECT DISTINCT w FROM toks
       |), vecs AS (
       |  SELECT w, list_transform(range(0, 8), j ->
       |    ('0x' || substr(md5(w), (j * 4 + 1)::INT, 4))::BIGINT % 2001 - 1000) AS v
       |  FROM vocab
       |), velems AS (
       |  SELECT w, generate_subscripts(v, 1) AS i, unnest(v) AS x FROM vecs
       |), vnorms AS (
       |  SELECT w, SUM(x * x) AS nrm FROM velems GROUP BY w
       |), qv AS (SELECT DISTINCT w FROM qt
       |), cm AS (
       |  SELECT a.w AS wq, b.w AS wd,
       |    CAST(FLOOR(SUM(a.x * b.x)::DOUBLE / GREATEST(
       |      sqrt(na.nrm::DOUBLE) * sqrt(nb.nrm::DOUBLE), 1e-12) * 1000000)
       |      AS BIGINT) AS c
       |  FROM velems a
       |  JOIN velems b ON a.i = b.i
       |  JOIN qv ON a.w = qv.w
       |  JOIN vnorms na ON a.w = na.w
       |  JOIN vnorms nb ON b.w = nb.w
       |  GROUP BY a.w, b.w, na.nrm, nb.nrm
       |), perpos AS (
       |  SELECT qt.qdoc, qt.pos, dw.ddoc, MAX(cm.c) AS mx
       |  FROM qt
       |  JOIN cm ON qt.w = cm.wq
       |  JOIN dwords dw ON dw.w = cm.wd AND dw.ddoc <> qt.qdoc
       |  GROUP BY 1, 2, 3
       |), scores AS (
       |  SELECT qdoc AS query_id, ddoc AS doc_id,
       |    COUNT(*) AS n_q_tokens, CAST(SUM(mx) AS BIGINT) AS maxsim_milli
       |  FROM perpos GROUP BY 1, 2
       |), ranked AS (
       |  SELECT query_id, doc_id, n_q_tokens, maxsim_milli,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY maxsim_milli DESC, doc_id) AS rk
       |  FROM scores)
       |SELECT query_id, rk, doc_id, n_q_tokens, maxsim_milli FROM ranked
       |WHERE rk <= $TopK ORDER BY query_id, rk""".stripMargin

  // ---------------------------------------------------------------- s11

  /** Neighbors kept per vector in the approximate kNN graph. */
  val KnnK = 3
  /** Per-vector candidate fan-out cap, applied by band-collision
    * multiplicity BEFORE the exact rescore: more shared bands ≈ closer
    * (the standard LSH multi-probe ranking), so the cap keeps rescore
    * mass ≤ 2·cap·n — LINEAR in corpus size — a belt-and-braces bound on
    * top of the adaptive construction's own ~bands·n collision floor
    * (at a FIXED width the floor was c·n²: 296k → 29.6M pairs for 10×
    * the vectors under 32×8, SCALE_r8 §1 — the reason the gated
    * construction is adaptive since r9). Twins that collide in every
    * band always survive the cap. Sized so the cap does NOT bind at
    * bench scales (~62 candidates/vector at 500 vectors): among
    * moderate-sim pairs most collision counts are 1 and the multiplicity
    * ranking separates weakly, so a tight cap evicts true neighbors with
    * the noise (measured: cap 12 cut strong-pair rank-1 recall
    * 0.73 → 0.17 at sf0.01). When the cap binds at larger n, the recall
    * lever is WIDER bands (SCALE_r8 §2), not a looser cap. */
  val KnnCandCap = 64

  /** s11: approximate kNN-graph construction — for EVERY corpus vector,
    * its top-[[KnnK]] nearest neighbors among its [[KnnCandCap]]
    * most-collision-frequent banded-LSH candidates (the adaptive
    * production construction: [[ScaledBands]] × [[adaptiveBits]] — the
    * collision floor stays ~bands·n at any corpus size, measured 5.5×
    * faster than fixed 32×8 at 20k vectors with the identical edge set,
    * SCALE_r8 §2). The kNN graph is the input primitive of graph-based
    * curation (SemDeDup/D4-style cluster pruning, connected-component
    * near-dup families, diversity sampling) — unlike the s0x query-set
    * searches, this materializes neighborhoods for the WHOLE corpus in
    * one pass.
    *
    * Scale shape: band signatures via the codegen'd `sign_bands_i64`
    * kernel → thin band equi-join → per-pair collision counts (a 3-long
    * hash agg over the collision stream — the only candidate-mass-sized
    * step, and it carries no vector payload) → symmetrize → per-vector
    * top-[[KnnCandCap]] window by (collisions desc, id) → exact integer
    * rescore of the SURVIVING ≤ 2·cap·n edges → per-vector top-k window
    * by similarity. No cross product, no global sort; the payload-heavy
    * rescore is linear at any corpus size. */
  def s11KnnGraph(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    // bits from the bare-scan count (r16): row count is invariant under
    // the spread and the map-only quantize, so the resolveBits count no
    // longer executes the spread exchange + quantize plan
    val bits = adaptiveBits(Tables.t(s, d, "embeddings").count())
    knnGraphOf(withQuantized(embeddings(s, d), "embedding"), KnnK,
      ScaledBands, bits)
      .orderBy("vec_id", "rk")
  }

  /** s11's kernel over a quantized (vec_id, q, nrm) frame
    * (graft.ops.Vectors API). */
  private[graft] def knnGraphOf(emb: DataFrame, k: Int,
                                bands: Int = ScaledBands,
                                rowsPerBand: Int = AdaptiveBits,
                                candCap: Int = KnnCandCap): DataFrame = {
    // k/candCap validation lives in knnGraphFromCands (the shared tail)
    val cand = s02Candidates(emb, bands, resolveBits(emb, rowsPerBand))
      .groupBy("vec_a", "vec_b").agg(count(lit(1)).as("m"))
    knnGraphFromCands(emb, cand, k, candCap)
  }

  /** The cap/rescore/top-k tail of the kNN-graph build over a
    * precomputed per-pair collision-count frame (vec_a < vec_b, m) —
    * SHARED by [[knnGraphOf]] and the s15 incremental path, whose whole
    * point is producing the same `cand` table without recomputing the
    * standing pairs. */
  private[graft] def knnGraphFromCands(emb: DataFrame, cand: DataFrame,
                                       k: Int, candCap: Int): DataFrame =
    knnTailFromSym(emb, symmetrized(cand), k, candCap)

  /** Symmetrize a (vec_a < vec_b, m) pair frame into per-vector
    * (vec_id, neighbor_id, m) candidate entries. */
  private[graft] def symmetrized(cand: DataFrame): DataFrame =
    cand.select(col("vec_a").as("vec_id"),
        col("vec_b").as("neighbor_id"), col("m"))
      .union(cand.select(col("vec_b").as("vec_id"),
        col("vec_a").as("neighbor_id"), col("m")))

  /** Per-vector top-[[KnnCandCap]] candidate lists from a symmetrized
    * (vec_id, neighbor_id, m) stream — the PERSISTABLE index state of
    * the incremental paths: because candidate multisets only GROW under
    * append-only ingest and the cap window is per-vector, top-cap of
    * (an old capped list ∪ that vector's new entries) equals top-cap of
    * the full candidate multiset (the monoid property s16 relies on). */
  private[graft] def cappedLists(sym: DataFrame, candCap: Int): DataFrame = {
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("m").desc, col("neighbor_id"))
    sym.withColumn("crk", row_number().over(wc))
      .filter(col("crk") <= candCap)
      .select("vec_id", "neighbor_id", "m")
  }

  /** Exact-rescore + per-vector top-k over already-capped
    * (vec_id, neighbor_id) candidate entries. */
  private[graft] def rescoreTopK(emb: DataFrame, capped: DataFrame,
                                 k: Int): DataFrame = {
    val sims = capped.select("vec_id", "neighbor_id")
      .join(emb.select(col("vec_id"), col("q").as("qa"),
        col("nrm").as("na")), "vec_id")
      .join(emb.select(col("vec_id").as("neighbor_id"), col("q").as("qb"),
        col("nrm").as("nb")), "neighbor_id")
      .select(col("vec_id"), col("neighbor_id"),
        round(expr(dotExpr("qa", "qb")).cast("double") /
          cosDenom(col("na"), col("nb")), 6).as("sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("sim").desc, col("neighbor_id"))
    sims.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select("vec_id", "rk", "neighbor_id", "sim")
  }

  /** Cap + rescore + top-k over a symmetrized candidate stream. */
  private[graft] def knnTailFromSym(emb: DataFrame, sym: DataFrame,
                                    k: Int, candCap: Int): DataFrame = {
    // validation lives on the SHARED tail so the incremental path cannot
    // silently run with a cap below k (review-pass finding: the facade
    // bypassed knnGraphOf's checks)
    require(k >= 1, s"knnGraph: k must be >= 1, got $k")
    require(candCap >= k,
      s"knnGraph: candCap must be >= k, got candCap=$candCap k=$k")
    rescoreTopK(emb, cappedLists(sym, candCap), k)
  }

  /** The kNN-graph derivation as prefixed CTE text ending in `<p>ranked`
    * = (vec_id, neighbor_id, sim, rk) with rk unbounded — SHARED by
    * s11Sql and ClusterOps.s13Sql (the dsirSqlCtes anti-drift lesson):
    * the PageRank oracle walks EXACTLY the s11 edge list. Adaptive
    * construction since r9 (64 bands × count-derived bits — the same
    * [[adaptiveLshCtes]] the near-dup oracles use). */
  private[graft] def knnSqlCtes(p: String): String = {
    s"""${p}q AS (
       |  SELECT vec_id, $qEmbDuck AS qv FROM embeddings
       |), ${p}elems AS (
       |  SELECT vec_id, generate_subscripts(qv, 1) AS i, unnest(qv) AS x FROM ${p}q
       |), ${p}norms AS (
       |  SELECT vec_id, SUM(x * x) AS nrm FROM ${p}elems GROUP BY vec_id
       |), ${adaptiveLshCtes(p, "(SELECT COUNT(*) FROM embeddings)")}, ${p}sym0 AS (
       |  SELECT vec_a AS vec_id, vec_b AS neighbor_id, m FROM ${p}cand
       |  UNION ALL
       |  SELECT vec_b AS vec_id, vec_a AS neighbor_id, m FROM ${p}cand
       |), ${p}capped AS (
       |  SELECT vec_id, neighbor_id
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |          ORDER BY m DESC, neighbor_id) AS crk FROM ${p}sym0)
       |  WHERE crk <= $KnnCandCap
       |), ${p}dots AS (
       |  SELECT c.vec_id, c.neighbor_id, SUM(ea.x * eb.x) AS dot
       |  FROM ${p}capped c
       |  JOIN ${p}elems ea ON ea.vec_id = c.vec_id
       |  JOIN ${p}elems eb ON eb.vec_id = c.neighbor_id AND ea.i = eb.i
       |  GROUP BY 1, 2
       |), ${p}ranked AS (
       |  SELECT d.vec_id, d.neighbor_id,
       |    ROUND(dot::DOUBLE / (sqrt(na.nrm::DOUBLE) * sqrt(nb.nrm::DOUBLE)), 6) AS sim,
       |    ROW_NUMBER() OVER (PARTITION BY d.vec_id
       |      ORDER BY ROUND(dot::DOUBLE / (sqrt(na.nrm::DOUBLE)
       |        * sqrt(nb.nrm::DOUBLE)), 6) DESC, d.neighbor_id) AS rk
       |  FROM ${p}dots d JOIN ${p}norms na ON d.vec_id = na.vec_id
       |  JOIN ${p}norms nb ON d.neighbor_id = nb.vec_id)""".stripMargin
  }

  val s11Sql: String =
    s"""WITH ${knnSqlCtes("")}
       |SELECT vec_id, CAST(rk AS BIGINT) AS rk, neighbor_id, sim
       |FROM ranked WHERE rk <= $KnnK ORDER BY vec_id, rk""".stripMargin

  /** s15's batch split: the HIGHEST 1/this of the id range arrives as
    * the "new" batch against a standing index of the rest. */
  val NewBatchDen = 5L

  /** s15: INCREMENTAL kNN-graph maintenance — absorb a new vector batch
    * into a standing graph without recomputing the standing pairs. The
    * persisted state is the per-pair collision-count table of the old
    * corpus (checkpointed here to simulate a loaded index); the new work
    * is ONE banded probe of the new batch against the full band index —
    * new×old and new×new collisions only. Because per-vector band
    * signatures are independent, standing-state ∪ probe-pairs is
    * BIT-IDENTICAL to the full rebuild's candidate table, so the merged
    * graph must EQUAL s11 row-for-row — the hard maintenance contract
    * (oracle: literally s11Sql; spec: frame equality with s11). At 10^10
    * vectors this is the difference between a full O(corpus) rebuild per
    * ingest batch and O(batch × collision-mass) upkeep.
    *
    * Scale shape: probe = thin band equi-join (batch side small), merged
    * counts flow into the shared cap/rescore/top-k tail. The standing
    * table is read, never recomputed — its build cost here stands in for
    * a state load and is excluded from the incremental claim (the
    * measured incremental job is the probe + tail). */
  def s15IncrementalKnn(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    import s.implicits._
    val emb = withQuantized(embeddings(s, d), "embedding")
      .localCheckpoint(true)
    // split scalar + adaptive-bit count in ONE job over the checkpointed
    // frame (r16 — the old shape scheduled two sequential scalar jobs:
    // this head() and resolveBits' count())
    val idRow = emb.agg(max("vec_id"), count(lit(1))).head()
    val maxId = idRow.getLong(0)
    val t = (maxId + 1L) * (NewBatchDen - 1L) / NewBatchDen
    require(t >= 1L && t <= maxId,
      s"incrementalKnn: degenerate batch split t=$t for max id $maxId")
    incrementalKnnOf(emb, t, KnnK, ScaledBands,
      adaptiveBits(idRow.getLong(1)), KnnCandCap)
      .orderBy("vec_id", "rk")
  }

  /** s15's kernel over a quantized CHECKPOINTED (vec_id, q, nrm) frame:
    * ids ≥ `t` are the arriving batch, ids < `t` the standing corpus
    * (graft.ops.Vectors API — the id ordering is what makes the probe's
    * a < b constraint enumerate exactly the new-involving pairs). */
  private[graft] def incrementalKnnOf(emb: DataFrame, t: Long, k: Int,
                                      bands: Int, rowsPerBand: Int,
                                      candCap: Int): DataFrame = {
    // resolve adaptive bits ONCE against the FULL frame (the s11
    // equality contract requires the standing build, the probe and a
    // full rebuild to share one construction)
    val rb = resolveBits(emb, rowsPerBand)
    // standing state: the old corpus's band signatures AND per-pair
    // collision counts (both per-vector/immutable under append — the
    // probe reads them, so per-batch signature cost is O(batch))
    val embOld = emb.filter(col("vec_id") < t)
    val standingBands = s02Bands(embOld, bands, rb).localCheckpoint(true)
    val standing = bandPairCounts(standingBands).localCheckpoint(true)
    knnGraphFromCands(emb,
      standing.union(incrementalProbe(emb, t, bands, rb, Some(standingBands))),
      k, candCap)
  }

  /** The incremental probe SHARED by s15 and s16: new batch (ids ≥ `t`)
    * against the FULL band index. New ids are the HIGHEST ids, so every
    * pair with a new member has its larger id (the b side) in the batch —
    * a.vec_id < b.vec_id with b restricted to the batch enumerates
    * exactly the new-involving pairs, and standing ∪ probe PARTITIONS the
    * full candidate table (disjoint key sets, together complete).
    *
    * `standingBands`: the OLD corpus's persisted band signatures (index
    * state — per-vector, immutable under append). When provided, the
    * sign kernel runs over the BATCH ROWS ONLY and the index side is
    * read, never recomputed — the per-batch signature cost is O(batch),
    * not O(corpus); standingBands ∪ batchBands ≡ the full band table
    * exactly (the kernel is per-vector). Without it (ad-hoc callers)
    * the full table is computed once and the batch filtered from it. */
  private[graft] def incrementalProbe(emb: DataFrame, t: Long, bands: Int,
                                      rowsPerBand: Int,
                                      standingBands: Option[DataFrame] = None): DataFrame = {
    val (bandsAll, bandsNew) = standingBands match {
      case Some(sb) =>
        val bn = s02Bands(emb.filter(col("vec_id") >= t), bands, rowsPerBand)
        (sb.unionByName(bn), bn)
      case None =>
        val ba = s02Bands(emb, bands, rowsPerBand)
        (ba, ba.filter(col("vec_id") >= t))
    }
    bandsAll.as("a").join(bandsNew.as("b"),
        col("a.band_no") === col("b.band_no") &&
          col("a.bits") === col("b.bits") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .groupBy("vec_a", "vec_b").agg(count(lit(1)).as("m"))
  }

  /** s16: TOUCHED-ONLY kNN-graph upkeep — the maintenance increment past
    * s15 that SCALE_r8 named as the next step: s15 re-ranks the WHOLE
    * merged candidate table per ingest batch, a corpus-bound ~O(n·cap)
    * cap/rescore tail even for a 1% batch (measured ~9 s floor at u10×,
    * SCALE_r8 §9). s16 persists the standing graph EDGES and the CAPPED
    * per-vector candidate LISTS (r9: the lists, not the raw pair table
    * — the r8 shape still re-windowed the merged corpus-sized stream)
    * and re-ranks ONLY the vectors the probe touched, merging each
    * touched vector's standing capped list with its new probe entries.
    *
    * Why that is exact, not approximate: old×old collision counts are
    * immutable under append-only ingest, so an old vector with NO
    * new-batch collision has a bit-identical candidate multiset in the
    * full rebuild — its capped list, rescore and top-k CANNOT change,
    * and its standing edges are reused verbatim (left_anti on the
    * touched set). For touched vectors, top-cap(standing capped list ∪
    * new entries) ≡ top-cap(full multiset): an old candidate ranked
    * ≤ cap in the union is ranked ≤ cap among old candidates alone
    * (candidate sets only grow), so the truncated state loses nothing
    * the merged window could keep. Result ≡ s11 full rebuild
    * row-for-row — the same hard maintenance contract as s15 (oracle:
    * literally s11Sql; spec: frame equality plus non-vacuity of BOTH
    * paths).
    *
    * Scale shape: upkeep cost is O(batch collision mass + touched·cap)
    * in BOTH the window and the rescore — nothing corpus-sized is
    * re-sorted or re-scored; the standing lists and edges are read,
    * never recomputed (their build here stands in for a state load,
    * same convention as s15; at production scale both are bucketed by
    * vec_id so the touched semi-join prunes the read). */
  def s16TouchedKnn(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    import s.implicits._
    val emb = withQuantized(embeddings(s, d), "embedding")
      .localCheckpoint(true)
    // one scalar job for split + bits (r16, same merge as s15)
    val idRow = emb.agg(max("vec_id"), count(lit(1))).head()
    val maxId = idRow.getLong(0)
    val t = (maxId + 1L) * (NewBatchDen - 1L) / NewBatchDen
    require(t >= 1L && t <= maxId,
      s"touchedKnn: degenerate batch split t=$t for max id $maxId")
    touchedKnnOf(emb, t, KnnK, ScaledBands,
      adaptiveBits(idRow.getLong(1)), KnnCandCap)
      .orderBy("vec_id", "rk")
  }

  /** s16's kernel over a quantized CHECKPOINTED (vec_id, q, nrm) frame:
    * ids ≥ `t` are the arriving batch, ids < `t` the standing corpus
    * (graft.ops.Vectors API). */
  private[graft] def touchedKnnOf(emb: DataFrame, t: Long, k: Int,
                                  bands: Int, rowsPerBand: Int,
                                  candCap: Int): DataFrame = {
    // one construction for state build, probe and rebuild (see
    // incrementalKnnOf) — adaptive bits resolve against the FULL frame
    val rb = resolveBits(emb, rowsPerBand)
    val embOld = emb.filter(col("vec_id") < t)
    // persisted state (checkpoints stand in for a state load): the old
    // corpus's band SIGNATURES, its CAPPED per-vector candidate lists
    // and its finished edge list — r9 upgrade over the r8 shape, which
    // persisted only the raw pair table, re-windowed the MERGED
    // corpus-sized stream per batch (the ~9 s corpus-bound re-rank
    // floor SCALE_r8 §9 measured) AND re-ran the sign kernel over the
    // whole corpus per probe.
    val standingBands = s02Bands(embOld, bands, rb).localCheckpoint(true)
    // the upkeep job: probe once (batch signatures only — the index
    // side is read from state), derive the touched set, then re-rank
    // ONLY the touched vectors' lists — top-cap(old capped list ∪ new
    // entries) ≡ top-cap(full candidate multiset) because candidate
    // multisets only grow under append-only ingest ([[cappedLists]]),
    // so the merged window runs on O(touched·cap + batch collisions)
    // rows, never the corpus (at production scale the standing lists
    // are bucketed by vec_id and the semi-join prunes the read).
    // r15 (guide §2.6): the capped-list → edge-list state chain and the
    // probe both depend only on standingBands and not on each other —
    // build the two eager-checkpoint chains concurrently.
    val ((standingCapped, standingEdges), probeSym) =
      graft.core.Par.inParallel(
        {
          val sc = cappedLists(
            symmetrized(bandPairCounts(standingBands)), candCap)
            .localCheckpoint(true)
          (sc, rescoreTopK(embOld, sc, k).localCheckpoint(true))
        },
        symmetrized(incrementalProbe(emb, t, bands, rb, Some(standingBands)))
          .localCheckpoint(true))
    val touched = probeSym.select("vec_id").distinct()
    val reranked = knnTailFromSym(emb,
      standingCapped.join(broadcast(touched), Seq("vec_id"), "left_semi")
        .unionByName(probeSym),
      k, candCap)
    standingEdges.join(touched, Seq("vec_id"), "left_anti")
      .unionByName(reranked)
  }

  // ---------------------------------------------------------------- s10

  /** MMR candidate-pool width: the exact top-[[MmrPool]] shortlist the
    * greedy re-rank diversifies over (the production shape — MMR always
    * runs on a retrieval shortlist, never the corpus). */
  val MmrPool = 20
  /** Diversified results per query. */
  val MmrK = 5
  /** λ = 0.7 in tenths: the MMR objective is the EXACT integer
    * `mmr10 = 7·rel_micro − 3·maxsim_micro` (micro-cosines × 10), so the
    * greedy argmax never compares floats cross-engine. */
  val MmrLambda10 = 7

  /** s10: Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    * 1998) — the standard retrieval-diversity stage: from each query's
    * exact top-[[MmrPool]] cosine shortlist, greedily select [[MmrK]]
    * results maximizing λ·relevance − (1−λ)·max-similarity-to-already-
    * selected, so near-duplicate hits don't crowd the result page.
    * Deterministic: similarities are 6-dp-rounded then converted to
    * integer micro-units, the objective is exact integer arithmetic, and
    * every argmax tie breaks by ascending vec_id.
    *
    * Scale shape: the shortlist is ONE corpus scan + broadcast query
    * join + per-query top-[[MmrPool]] window (the s01 kernel shape),
    * eagerly checkpointed — everything after runs on the ≤ queries ×
    * [[MmrPool]]-row candidate frame: the pairwise candidate-similarity
    * self-join is (queries·pool)², metadata-sized, and each greedy step
    * is a keyed agg + anti-join + argmax window over that frame with a
    * per-step checkpoint (the d07 iterative-refinement pattern — plan
    * depth stays constant, [[MmrK]] tiny jobs total). The corpus is
    * never rescanned. */
  def s10MmrRerank(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val emb = embeddings(s, d).withColumn("q", expr(qEmb))
      .select("vec_id", "q")
    mmrRerankOf(emb, emb.filter(col("vec_id") < NumQueries),
      MmrPool, MmrK, MmrLambda10)
      .orderBy("query_id", "rank")
  }

  /** s10's kernel over quantized (vec_id, q) corpus/query frames
    * (graft.ops.Vectors API). `lambda10` is λ in tenths (7 = 0.7). */
  private[graft] def mmrRerankOf(emb: DataFrame, queryVecs: DataFrame,
                                 pool: Int, k: Int, lambda10: Int): DataFrame = {
    require(pool >= k && k >= 1, s"mmrRerank: need pool >= k >= 1, got pool=$pool k=$k")
    require(lambda10 >= 0 && lambda10 <= 10,
      s"mmrRerank: lambda10 must be in [0, 10], got $lambda10")
    val queries = queryVecs
      .select(col("vec_id").as("query_id"), col("q").as("qv"))
    // exact top-`pool` shortlist per query, vectors carried through so
    // the greedy pass never rejoins the corpus — the ONLY corpus-scale
    // stage of the operator
    val wSl = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("sim").desc, col("vec_id"))
    val cand = emb.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .withColumn("dot", expr(dotExpr("q", "qv")))
      .withColumn("sim", round(col("dot").cast("double") /
        cosDenom(expr(normExpr("q")), expr(normExpr("qv"))), 6))
      .withColumn("rk", row_number().over(wSl))
      .filter(col("rk") <= pool)
      .select(col("query_id"), col("vec_id"),
        expr("cast(round(sim * 1000000) as bigint)").as("rel_micro"), col("q"))
    // r16 (guide §1.2 — fix the distributed algorithm): everything below
    // the shortlist is bounded by CONSTANTS, ≤ queries × pool rows
    // whatever the corpus size (MMR always re-ranks a retrieval
    // shortlist; callers bring a bounded query set — the s01 contract),
    // so the greedy argmax runs on the DRIVER over the collected
    // shortlist — the PQ-training-sample / query-vocabulary convention
    // for metadata-sized driver work. The old dataframe loop issued
    // 2·(k−1) joins + k eager checkpoints per invocation (~10 scheduled
    // jobs of pure coordination for ≤ 200 rows). Arithmetic is the exact
    // mirror: integer dots, IEEE sqrt, HALF_UP rounding (Catalyst Round
    // over DoubleType = BigDecimal.valueOf(x).setScale(s, HALF_UP)),
    // ties by ascending vec_id — the oracle gate compares hashes at two
    // SFs, so any divergence fails loudly.
    val byQuery = cand.collect().map { row =>
      val q = row.getAs[scala.collection.Seq[Long]]("q").toArray
      (row.getAs[Long]("query_id"), row.getAs[Long]("vec_id"),
        row.getAs[Long]("rel_micro"), q)
    }.groupBy(_._1)
    def round6(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    def microOf(qa: Array[Long], qb: Array[Long]): Long = {
      var dot = 0L; var na = 0L; var nb = 0L; var i = 0
      while (i < qa.length) {
        dot += qa(i) * qb(i); na += qa(i) * qa(i); nb += qb(i) * qb(i); i += 1
      }
      val sim = round6(dot.toDouble /
        math.max(math.sqrt(na.toDouble) * math.sqrt(nb.toDouble), 1e-12))
      java.math.BigDecimal.valueOf(sim * 1000000.0)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
    }
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long, Long, Long)]
    byQuery.toSeq.sortBy(_._1).foreach { case (qid, members) =>
      // rank 1 = pure relevance (nothing selected yet => maxsim = 0)
      val remaining = scala.collection.mutable.ArrayBuffer(
        members.sortBy(m => (-m._3, m._2)): _*)
      val selected = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Array[Long])] // (vec_id, q)
      var rk = 1
      while (rk <= k && remaining.nonEmpty) {
        val (pick, maxsim, mmr10) =
          if (rk == 1) (remaining.head, 0L, lambda10.toLong * remaining.head._3)
          else {
            var best: (Long, Long, Long, Array[Long]) = null // vec_id,maxsim,mmr10,q
            remaining.foreach { m =>
              var ms = Long.MinValue
              selected.foreach { s => val p = microOf(m._4, s._2); if (p > ms) ms = p }
              val sc = lambda10.toLong * m._3 - (10L - lambda10) * ms
              if (best == null || sc > best._3 || (sc == best._3 && m._2 < best._1))
                best = (m._2, ms, sc, m._4)
            }
            (members.find(_._2 == best._1).get, best._2, best._3)
          }
        out += ((qid, rk.toLong, pick._2, pick._3, maxsim, mmr10))
        selected += ((pick._2, pick._4))
        remaining.remove(remaining.indexWhere(_._2 == pick._2))
        rk += 1
      }
    }
    val spark = emb.sparkSession
    spark.createDataFrame(out.toSeq).toDF("query_id", "rank", "vec_id",
      "rel_micro", "maxsim_micro", "mmr10")
  }

  val s10Sql: String = {
    // unrolled greedy: selN builds on the union of sel1..selN-1 — the
    // s08 pattern (replay the iterative algorithm as generated CTEs so
    // both engines derive identical selections)
    val steps = (2 to MmrK).map { rk =>
      val prev = (1 until rk).map(i => s"SELECT * FROM sel$i").mkString(" UNION ALL ")
      s"""sel$rk AS (
         |  SELECT query_id, $rk AS rank, vec_id, rel_micro, maxsim_micro, mmr10
         |  FROM (
         |    SELECT c.query_id, c.vec_id, c.rel_micro, m.maxsim_micro,
         |      $MmrLambda10 * c.rel_micro - ${10 - MmrLambda10} * m.maxsim_micro AS mmr10,
         |      ROW_NUMBER() OVER (PARTITION BY c.query_id
         |        ORDER BY $MmrLambda10 * c.rel_micro
         |          - ${10 - MmrLambda10} * m.maxsim_micro DESC, c.vec_id) AS rn
         |    FROM cand c
         |    JOIN (SELECT p.query_id, p.a AS vec_id,
         |            MAX(p.psim_micro) AS maxsim_micro
         |          FROM pair p JOIN ($prev) s
         |            ON p.query_id = s.query_id AND p.b = s.vec_id
         |          GROUP BY 1, 2) m
         |      ON m.query_id = c.query_id AND m.vec_id = c.vec_id
         |    WHERE NOT EXISTS (SELECT 1 FROM ($prev) s
         |      WHERE s.query_id = c.query_id AND s.vec_id = c.vec_id))
         |  WHERE rn = 1)""".stripMargin
    }.mkString(", ")
    val all = (1 to MmrK).map(i => s"SELECT * FROM sel$i").mkString(" UNION ALL ")
    s"""WITH q AS (
       |  SELECT vec_id, $qEmbDuck AS qv FROM embeddings
       |), elems AS (
       |  SELECT vec_id, generate_subscripts(qv, 1) AS i, unnest(qv) AS x FROM q
       |), nrm AS (
       |  SELECT vec_id, SUM(x * x) AS n2 FROM elems GROUP BY 1
       |), dots AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS vec_id, SUM(a.x * b.x) AS dot
       |  FROM elems a JOIN elems b ON a.i = b.i
       |    AND a.vec_id < $NumQueries AND a.vec_id <> b.vec_id
       |  GROUP BY 1, 2
       |), sims AS (
       |  SELECT query_id, d.vec_id,
       |    ROUND(dot::DOUBLE / (SQRT(na.n2::DOUBLE) * SQRT(nb.n2::DOUBLE)), 6) AS sim
       |  FROM dots d
       |  JOIN nrm na ON na.vec_id = d.query_id
       |  JOIN nrm nb ON nb.vec_id = d.vec_id
       |), cand AS (
       |  SELECT query_id, vec_id,
       |    CAST(ROUND(sim * 1000000) AS BIGINT) AS rel_micro
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |          ORDER BY sim DESC, vec_id) AS rk FROM sims)
       |  WHERE rk <= $MmrPool
       |), pdots AS (
       |  SELECT a.vec_id AS a, b.vec_id AS b, SUM(a.x * b.x) AS dot
       |  FROM elems a JOIN elems b ON a.i = b.i AND a.vec_id < b.vec_id
       |  WHERE a.vec_id IN (SELECT vec_id FROM cand)
       |    AND b.vec_id IN (SELECT vec_id FROM cand)
       |  GROUP BY 1, 2
       |), pair AS (
       |  SELECT c1.query_id, c1.vec_id AS a, c2.vec_id AS b,
       |    CAST(ROUND(ROUND(p.dot::DOUBLE / (SQRT(na.n2::DOUBLE)
       |      * SQRT(nb.n2::DOUBLE)), 6) * 1000000) AS BIGINT) AS psim_micro
       |  FROM cand c1
       |  JOIN cand c2 ON c1.query_id = c2.query_id AND c1.vec_id <> c2.vec_id
       |  JOIN pdots p ON p.a = LEAST(c1.vec_id, c2.vec_id)
       |    AND p.b = GREATEST(c1.vec_id, c2.vec_id)
       |  JOIN nrm na ON na.vec_id = c1.vec_id
       |  JOIN nrm nb ON nb.vec_id = c2.vec_id
       |), sel1 AS (
       |  SELECT query_id, 1 AS rank, vec_id, rel_micro,
       |    CAST(0 AS BIGINT) AS maxsim_micro,
       |    $MmrLambda10 * rel_micro AS mmr10
       |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |          ORDER BY rel_micro DESC, vec_id) AS rn FROM cand)
       |  WHERE rn = 1
       |), $steps
       |SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, rel_micro,
       |  maxsim_micro, mmr10
       |FROM ($all) ORDER BY query_id, rank""".stripMargin
  }

  // ---------------------------------------------------------------- s18

  /** BQ signature planes: 4 words × 32 sign bits (128 planes of the same
    * deterministic family every other sign construction replays). 32-bit
    * words rather than 64-bit so neither engine's `1 << 63` sign-bit
    * corner is in play. 128 bits because Hamming is an angle ESTIMATOR
    * with std ≈ π·√(1/4/bits): 64 bits (±11°) could not separate this
    * corpus's noise-floor cosines (measured recall@5 0.38 at r = 4k);
    * 128 bits + the r = 10k rescore pool measures 0.78 (0.92 at
    * r = 20k), spec-floored at 0.7 — r is the caller's recall lever. */
  private[graft] val BqWords = 4
  private[graft] val BqBitsPerWord = 32

  /** Pre-rank survivors per query (rescored exactly). */
  private[graft] val BqRescoreR = 10 * TopK

  /** s18: binary-quantization ANN top-k — the third member of the
    * quantized-index family (s07 SQ8 = 8 bits/dim, s08 IVF-PQ = codebook
    * bytes, s18 BQ = 1 bit/plane): every vector compresses to 128 sign
    * bits (24 bytes incl. id), query-to-corpus similarity is approximated
    * by HAMMING distance — `bit_count(xor)` over four longs, whole-stage
    * codegen, no arithmetic on the vector at all — and only the top-
    * [[BqRescoreR]] Hamming survivors per query are rescored with the
    * exact integer cosine. Random-hyperplane sign bits make Hamming an
    * unbiased angle estimator (Goemans–Williamson / Charikar 2002), which
    * is why production BQ indexes (FAISS binary, RaBitQ-style) run this
    * exact two-phase shape. At 100 TB the pre-rank scans 24 bytes per
    * vector instead of 512 — the memory-bandwidth win IS the index.
    *
    * Deterministic: Hamming is integer with ties to the lowest vec_id;
    * the rescore is the exact s01 scoring. Oracle replays the identical
    * plane family (shared `planeFor` VALUES literal), xor/bit_count in
    * DuckDB, same tie-breaks.
    *
    * Scale shape: one scan computes both signature words (the shared
    * codegen'd `sign_bands_i64` kernel); queries broadcast; per-query
    * top-R is a window over the thin (query, vec, hamming) frame; the
    * exact rescore joins vectors for R·Q rows only. No cross product —
    * the broadcast join IS the linear signature scan. */
  def s18BqTopk(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    import s.implicits._
    val emb = withQuantized(embeddings(s, d), "embedding")
      .localCheckpoint(true)
    bqTopKOf(emb, emb.filter(col("vec_id") < NumQueries), TopK, BqRescoreR)
      .orderBy("query_id", "rk")
  }

  /** s18's kernel over quantized (vec_id, q, nrm) corpus/query frames
    * (graft.ops.Vectors API). `r` = Hamming pre-rank width per query. */
  private[graft] def bqTopKOf(emb: DataFrame, queryVecs: DataFrame, k: Int,
                              r: Int): DataFrame = {
    require(r >= k && k >= 1, s"bqTopK: need r >= k >= 1, got r=$r k=$k")
    def sig(df: DataFrame, p: String): DataFrame = df
      .withColumn("sb",
        call_function("sign_bands_i64", col("q"), lit(BqWords), lit(BqBitsPerWord)))
      .select(col("vec_id").as(s"${p}id") +:
        (0 until BqWords).map(i =>
          element_at(col("sb"), i + 1).as(s"${p}b$i")): _*)
    val corpusSig = sig(emb, "c")
    val querySig = sig(queryVecs, "q")
    val hammingExpr = (0 until BqWords)
      .map(i => s"bit_count(cb$i ^ qb$i)").mkString(" + ")
    val wH = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("hamming").asc, col("neighbor_id").asc)
    val shortlist = corpusSig
      .join(broadcast(querySig), col("cid") =!= col("qid"))
      .select(col("qid").as("query_id"), col("cid").as("neighbor_id"),
        expr(hammingExpr).as("hamming"))
      .withColumn("hrk", row_number().over(wH))
      .filter(col("hrk") <= r)
      .select("query_id", "neighbor_id")
    val wS = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id").asc)
    shortlist
      .join(emb.select(col("vec_id").as("neighbor_id"), col("q").as("cq"),
        col("nrm").as("cn")), "neighbor_id")
      .join(broadcast(queryVecs.select(col("vec_id").as("query_id"),
        col("q").as("qq"), col("nrm").as("qn"))), "query_id")
      .withColumn("sim", round(expr(dotExpr("cq", "qq")).cast("double") /
        cosDenom(col("cn"), col("qn")), 6))
      .withColumn("rk", row_number().over(wS).cast("long"))
      .filter(col("rk") <= k)
      .select("query_id", "rk", "neighbor_id", "sim")
  }

  val s18Sql: String = {
    val nPlanes = BqWords * BqBitsPerWord
    val planeRows = (0 until nPlanes).flatMap { j =>
      (0 until Dim).map(k => s"($j, ${k + 1}, ${planeFor(j)(k)})")
    }.mkString(",\n    ")
    s"""WITH bq AS (
       |  SELECT vec_id, $qEmbDuck AS qv FROM embeddings
       |), belems AS (
       |  SELECT vec_id, generate_subscripts(qv, 1) AS i, unnest(qv) AS x FROM bq
       |), bnorms AS (
       |  SELECT vec_id, SUM(x * x) AS nrm FROM belems GROUP BY vec_id
       |), bplanes(p, i, w) AS (
       |  VALUES $planeRows
       |), bpd AS (
       |  SELECT e.vec_id, pl.p, SUM(e.x * pl.w) AS pd
       |  FROM belems e JOIN bplanes pl ON e.i = pl.i
       |  GROUP BY 1, 2
       |), bsig AS (
       |  SELECT vec_id, p // $BqBitsPerWord AS word_no,
       |    CAST(SUM(CASE WHEN pd > 0 THEN (1::BIGINT << (p % $BqBitsPerWord))
       |      ELSE 0 END) AS BIGINT) AS bits
       |  FROM bpd GROUP BY 1, 2
       |), bham AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    SUM(bit_count(xor(c.bits, q.bits))) AS hamming
       |  FROM bsig c JOIN bsig q ON c.word_no = q.word_no
       |    AND q.vec_id < $NumQueries AND c.vec_id <> q.vec_id
       |  GROUP BY 1, 2
       |), bshort AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY hamming, neighbor_id) AS hrk
       |    FROM bham) WHERE hrk <= $BqRescoreR
       |), bdots AS (
       |  SELECT s.query_id, s.neighbor_id, SUM(ea.x * eb.x) AS dot
       |  FROM bshort s
       |  JOIN belems ea ON ea.vec_id = s.query_id
       |  JOIN belems eb ON eb.vec_id = s.neighbor_id AND ea.i = eb.i
       |  GROUP BY 1, 2)
       |SELECT query_id, CAST(rk AS BIGINT) AS rk, neighbor_id, sim FROM (
       |  SELECT query_id, neighbor_id,
       |    ROUND(dot::DOUBLE / (sqrt(nq.nrm::DOUBLE) * sqrt(nn.nrm::DOUBLE)), 6) AS sim,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY ROUND(dot::DOUBLE / (sqrt(nq.nrm::DOUBLE) * sqrt(nn.nrm::DOUBLE)), 6) DESC,
       |        neighbor_id) AS rk
       |  FROM bdots JOIN bnorms nq ON query_id = nq.vec_id
       |  JOIN bnorms nn ON neighbor_id = nn.vec_id)
       |WHERE rk <= $TopK ORDER BY query_id, rk""".stripMargin
  }

  // ---------------------------------------------------------------- s19

  /** s19: FILTERED vector search — top-k restricted to a metadata
    * predicate (here: corpus label == the query's label), the production
    * vector-DB feature that separates toy ANN from usable retrieval.
    * The critical design choice at scale: the filter is pushed INTO the
    * search as an equi-join key (corpus ⋈ broadcast queries ON label),
    * never applied as a POST-filter on a shortlist — post-filtering a
    * top-r list under a selective predicate returns fewer than k hits
    * (or garbage recall), and the spec DEMONSTRATES that failure mode on
    * this corpus. With ~L balanced labels the scored mass is n·Q/L
    * instead of n·Q, and the per-query exact scoring stays one scan.
    *
    * Output: (query_id, rk, neighbor_id, label, sim) — exact cosine
    * within the label class, s01 tie-breaks.
    *
    * Scale shape: ONE corpus scan pruned to (vec_id, label, vector);
    * queries broadcast; the label equi-join IS the filter (hash join,
    * no cross product); per-query top-k windows over the class-filtered
    * scored rows. At 100 TB with label-partitioned parquet the join
    * becomes partition PRUNING — the same plan, one directory read. */
  def s19FilteredTopk(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val emb = embeddings(s, d)
      .select(col("vec_id"), col("label"), expr(qEmb).as("q"))
      .withColumn("nrm", expr(normExpr("q")))
    filteredTopKOf(emb, emb.filter(col("vec_id") < NumQueries), TopK)
      .orderBy("query_id", "rk")
  }

  /** s19's kernel over (vec_id, label, q, nrm) corpus/query frames
    * (graft.ops.Vectors API). */
  private[graft] def filteredTopKOf(emb: DataFrame, queryVecs: DataFrame,
                                    k: Int): DataFrame = {
    require(k >= 1, s"filteredTopK: k must be >= 1, got $k")
    val queries = queryVecs.select(col("vec_id").as("query_id"),
      col("label").as("qlabel"), col("q").as("qv"), col("nrm").as("qn"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("sim").desc, col("vec_id").asc)
    emb.join(broadcast(queries),
        col("label") === col("qlabel") && col("vec_id") =!= col("query_id"))
      .withColumn("sim", round(expr(dotExpr("q", "qv")).cast("double") /
        cosDenom(col("nrm"), col("qn")), 6))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("vec_id").as("neighbor_id"),
        col("label"), col("sim"))
  }

  val s19Sql: String =
    s"""WITH fq AS (
       |  SELECT vec_id, label, $qEmbDuck AS qv FROM embeddings
       |), felems AS (
       |  SELECT vec_id, generate_subscripts(qv, 1) AS i, unnest(qv) AS x FROM fq
       |), fnorms AS (
       |  SELECT vec_id, SUM(x * x) AS nrm FROM felems GROUP BY vec_id
       |), fdots AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |    SUM(ea.x * eb.x) AS dot
       |  FROM fq a JOIN fq b ON a.label = b.label
       |    AND a.vec_id < $NumQueries AND a.vec_id <> b.vec_id
       |  JOIN felems ea ON ea.vec_id = a.vec_id
       |  JOIN felems eb ON eb.vec_id = b.vec_id AND ea.i = eb.i
       |  GROUP BY 1, 2
       |), fscored AS (
       |  SELECT d.query_id, d.neighbor_id, b.label,
       |    ROUND(d.dot::DOUBLE / (sqrt(nq.nrm::DOUBLE) * sqrt(nn.nrm::DOUBLE)), 6) AS sim
       |  FROM fdots d JOIN fnorms nq ON d.query_id = nq.vec_id
       |  JOIN fnorms nn ON d.neighbor_id = nn.vec_id
       |  JOIN fq b ON d.neighbor_id = b.vec_id)
       |SELECT query_id, CAST(rk AS BIGINT) AS rk, neighbor_id, label, sim
       |FROM (SELECT query_id, neighbor_id, label, sim,
       |        ROW_NUMBER() OVER (PARTITION BY query_id
       |          ORDER BY sim DESC, neighbor_id) AS rk
       |      FROM fscored)
       |WHERE rk <= $TopK ORDER BY query_id, rk""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s19_filtered_topk" -> s19FilteredTopk _,
    "s18_bq_topk" -> s18BqTopk _,
    "s11_knn_graph" -> s11KnnGraph _,
    "s15_incremental_knn" -> s15IncrementalKnn _,
    "s16_touched_knn" -> s16TouchedKnn _,
    "s10_mmr_rerank" -> s10MmrRerank _,
    "s09_maxsim_topk" -> s09MaxsimTopk _,
    "s08_ivfpq_topk" -> s08IvfPqTopk _,
    "s07_sq8_topk" -> s07Sq8Topk _,
    "s01_cosine_topk" -> s01CosineTopk _,
    "s02_embed_neardup" -> s02EmbedNearDup _,
    "s03_ann_lsh" -> s03AnnLsh _,
    "s04_ann_ivf" -> s04AnnIvf _,
    "s05_neardup_wide" -> s05NearDupWide _,
    "s06_semantic_dedup" -> s06SemanticDedup _,
  )

  val oracles: Map[String, String] = Map(
    "s11_knn_graph" -> s11Sql,
    // s15/s16's contract IS equality with the full rebuild — same oracle
    "s15_incremental_knn" -> s11Sql,
    "s16_touched_knn" -> s11Sql,
    "s10_mmr_rerank" -> s10Sql,
    "s09_maxsim_topk" -> s09Sql,
    "s08_ivfpq_topk" -> s08Sql,
    "s07_sq8_topk" -> s07Sql,
    "s18_bq_topk" -> s18Sql,
    "s19_filtered_topk" -> s19Sql,
    "s01_cosine_topk" -> s01Sql,
    "s02_embed_neardup" -> s02Sql,
    "s03_ann_lsh" -> s03Sql,
    "s04_ann_ivf" -> s04Sql,
    "s05_neardup_wide" -> s05Sql,
    "s06_semantic_dedup" -> s06Sql,
  )
}
