package graft.queries

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The composed training-data pipeline — the individual operators
  * (dedup, quality rules, scrubbing, token accounting) chained the way a
  * production corpus build runs them, as ONE declarative plan Catalyst
  * optimizes end-to-end:
  *
  *   exact dedup (keep first doc per content hash)
  *     → Gopher-style repetition/quality gate
  *     → PII scrub pass
  *     → per-language corpus accounting
  *
  * Single query, three hash aggregations, no collect, no UDF: at 100 TB
  * this is scan → dedup shuffle → map-side quality metrics → final
  * per-language rollup (tiny). Every stage's drop count is surfaced so
  * the pipeline is auditable.
  */
object PipelineOps {
  import Tables._

  def p01CorpusPipeline(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
      .select(col("doc_id"), col("lang"), col("text"))
      .withColumn("content_hash", md5(col("text")))
    // stage 1: exact dedup — keep the lowest doc_id per content hash
    val keeper = docs.groupBy("content_hash")
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
    val deduped = docs.join(keeper, "content_hash")
      .withColumn("is_dup", col("doc_id") =!= col("keep_id"))
    // stage 2: quality gate (repetition rules over the survivors); the
    // trigram range is guarded — Spark's sequence(0, k) runs DESCENDING
    // for k<0, so sub-3-token docs must not build grams (they fail the
    // n_tokens floor regardless, in both engines)
    val scored = deduped
      .withColumn("words", split(col("text"), " "))
      .withColumn("n_tokens", size(col("words")).cast("long"))
      .withColumn("grams", expr(
        "CASE WHEN size(words) >= 3 THEN transform(sequence(0, size(words) - 3), " +
          "i -> concat_ws(' ', words[i], words[i+1], words[i+2])) " +
          "ELSE array() END"))
      .withColumn("dup_gram_frac",
        (size(col("grams")) - size(array_distinct(col("grams"))))
          .cast("double") / size(col("grams")))
      .withColumn("quality_ok",
        col("n_tokens") >= 10 && col("dup_gram_frac") <= 0.9)
    // stage 3: scrub pass (identity on clean corpora — the pass still runs)
    val scrubbed = scored.withColumn("clean_text",
      regexp_replace(col("text"), "[a-z0-9._]+@[a-z0-9.-]+\\.[a-z]{2,}", "<EMAIL>"))
    // stage 4: per-language accounting of every stage's effect
    scrubbed
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup_dropped"),
        sum(when(!col("is_dup") && !col("quality_ok"), 1L).otherwise(0L))
          .as("n_quality_dropped"),
        sum(when(!col("is_dup") && col("quality_ok"), 1L).otherwise(0L))
          .as("n_kept"),
        sum(when(!col("is_dup") && col("quality_ok"), col("n_tokens"))
          .otherwise(0L)).as("tokens_kept"),
        sum(when(!col("is_dup") && col("quality_ok"),
          length(col("clean_text")).cast("long")).otherwise(0L))
          .as("chars_kept"))
      .orderBy("lang")
  }

  val p01Sql: String =
    """WITH docs AS (
      |  SELECT doc_id, lang, text, md5(text) AS content_hash FROM documents
      |), keeper AS (
      |  SELECT content_hash, MIN(doc_id) AS keep_id FROM docs GROUP BY 1
      |), deduped AS (
      |  SELECT d.*, d.doc_id <> k.keep_id AS is_dup
      |  FROM docs d JOIN keeper k USING (content_hash)
      |), scored AS (
      |  SELECT *,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |    list_transform(generate_series(1, len(string_split(text, ' ')) - 2), i ->
      |      string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
      |      || ' ' || string_split(text, ' ')[i+2]) AS grams
      |  FROM deduped
      |), gated AS (
      |  SELECT *,
      |    (n_tokens >= 10 AND
      |     (len(grams) - len(list_distinct(grams)))::DOUBLE / len(grams) <= 0.9)
      |      AS quality_ok,
      |    regexp_replace(text, '[a-z0-9._]+@[a-z0-9.-]+\.[a-z]{2,}',
      |      '<EMAIL>', 'g') AS clean_text
      |  FROM scored)
      |SELECT lang,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_dropped,
      |  CAST(SUM(CASE WHEN NOT is_dup AND NOT quality_ok THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_quality_dropped,
      |  CAST(SUM(CASE WHEN NOT is_dup AND quality_ok THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_kept,
      |  CAST(SUM(CASE WHEN NOT is_dup AND quality_ok THEN n_tokens ELSE 0 END) AS BIGINT)
      |    AS tokens_kept,
      |  CAST(SUM(CASE WHEN NOT is_dup AND quality_ok THEN len(clean_text) ELSE 0 END) AS BIGINT)
      |    AS chars_kept
      |FROM gated GROUP BY lang ORDER BY lang""".stripMargin

  /** The INCREMENTAL twin of p01: one day's ingest batch (source = src19)
    * admitted against the standing corpus. Per new document, in one
    * declarative plan:
    *
    *   segment-overlap dedup vs the corpus (d09's semantics, left-joined so
    *     every batch doc gets a dup_frac)
    *     → benchmark-contamination gate (t11's 5-gram probe, eval set =
    *       corpus docs with doc_id % BenchMod = 0, broadcast)
    *     → token-count quality floor
    *     → admission verdict
    *
    * At 100 TB the corpus-side segment table is the big input; both probes
    * are equi-joins keyed on segment/gram hash, and d09's Bloom prefilter
    * composes in front of the dedup join unchanged (omitted here so the
    * whole verdict stays one Catalyst plan the oracle can mirror). */
  def p02IncrementalUpdate(s: SparkSession, d: String): DataFrame = {
    // every filter (new batch / corpus / eval set) sits BELOW its explode,
    // so each branch segments only the rows it keeps
    val docs = documents(s, d).select("doc_id", "source", "text")
    val isNew = col("source") === DedupOps2.NewBatchSource
    def hashedSegs(in: DataFrame) = DedupOps2.segmentsOf(in)
      .withColumn("h", expr(DedupOps.h60("seg")))
    val newSegs = hashedSegs(docs.filter(isNew))
      .select("doc_id", "h").distinct()
    val corpusSegs = hashedSegs(docs.filter(!isNew))
      .select("h").distinct().withColumn("dup", lit(1L))
    val dupFrac = newSegs.join(corpusSegs, Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_segs"),
        sum(coalesce(col("dup"), lit(0L))).cast("long").as("n_dup_segs"))
      .withColumn("dup_frac",
        round(col("n_dup_segs").cast("double") / col("n_segs"), 4))
    def gramsOf(in: DataFrame) = in
      .withColumn("words", split(col("text"), " "))
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, greatest(size(words) - ${TextOps.ContamN - 1}, 1)), " +
          s"i -> concat_ws(' ', slice(words, i, ${TextOps.ContamN})))")).as("g"))
      .distinct()
    val benchGrams = gramsOf(
      docs.filter(!isNew && col("doc_id") % TextOps.BenchMod === 0))
      .select("g").distinct().withColumn("hit", lit(1L))
    val contam = gramsOf(docs.filter(isNew))
      .join(broadcast(benchGrams), Seq("g"), "left")
      .groupBy("doc_id")
      .agg(sum(coalesce(col("hit"), lit(0L))).cast("long").as("n_contam_grams"))
    docs.filter(isNew)
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .select("doc_id", "n_tokens")
      .join(dupFrac, "doc_id")
      .join(contam, "doc_id")
      .withColumn("contaminated", col("n_contam_grams") > 0)
      .withColumn("admitted",
        col("dup_frac") <= 0.5 && !col("contaminated") && col("n_tokens") >= 10)
      .select("doc_id", "n_tokens", "dup_frac", "contaminated", "admitted")
      .orderBy("doc_id")
  }

  val p02Sql: String = {
    val nb = DedupOps2.NewBatchSource
    s"""WITH segs0 AS (${DedupOps2.segmentsSql}),
       |segs AS (
       |  SELECT s.doc_id, ${DedupOps.h60Duck("s.seg")} AS h,
       |    d.source = '$nb' AS is_new
       |  FROM segs0 s JOIN documents d ON s.doc_id = d.doc_id),
       |new_segs AS (SELECT DISTINCT doc_id, h FROM segs WHERE is_new),
       |corpus_segs AS (SELECT DISTINCT h FROM segs WHERE NOT is_new),
       |dupf AS (
       |  SELECT ns.doc_id, COUNT(*) AS n_segs,
       |    CAST(SUM(CASE WHEN cs.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_dup_segs
       |  FROM new_segs ns LEFT JOIN corpus_segs cs ON ns.h = cs.h
       |  GROUP BY 1),
       |grams AS (
       |  SELECT DISTINCT doc_id, source = '$nb' AS is_new, unnest(list_transform(
       |      range(1, greatest(len(words) - ${TextOps.ContamN - 1}, 1) + 1),
       |      i -> array_to_string(words[i : i + ${TextOps.ContamN - 1}], ' '))) AS g
       |  FROM (SELECT doc_id, source, string_split(text, ' ') AS words
       |        FROM documents)),
       |bench AS (
       |  SELECT DISTINCT g FROM grams
       |  WHERE NOT is_new AND doc_id % ${TextOps.BenchMod} = 0),
       |contam AS (
       |  SELECT gr.doc_id,
       |    CAST(SUM(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_contam_grams
       |  FROM grams gr LEFT JOIN bench b ON gr.g = b.g
       |  WHERE gr.is_new GROUP BY 1)
       |SELECT d.doc_id,
       |  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
       |  ROUND(n_dup_segs::DOUBLE / n_segs, 4) AS dup_frac,
       |  n_contam_grams > 0 AS contaminated,
       |  (ROUND(n_dup_segs::DOUBLE / n_segs, 4) <= 0.5
       |    AND NOT (n_contam_grams > 0)
       |    AND len(string_split(d.text, ' ')) >= 10) AS admitted
       |FROM documents d
       |JOIN dupf USING (doc_id) JOIN contam USING (doc_id)
       |WHERE d.source = '$nb' ORDER BY d.doc_id""".stripMargin
  }

  /** p03: the multimodal admission pipeline — the media twin of p01,
    * composing the gated m06 and s06 kernels into ONE declarative plan:
    *
    *   perceptual dedup (WHT pHash over the payload raster; docs whose
    *   payload can't fill a full raster skip the stage, not the corpus)
    *     → semantic dedup (IVF-cell near-twin pruning over the doc's
    *       embedding, where one exists — vec_id shares the doc_id space)
    *     → per-source admission accounting.
    *
    * Physical shape: one payload scan (the phash mapPartitions kernel) +
    * one hash-partitioned window, one centroid-broadcast embedding scan +
    * one cell equi-join, two thin left joins back onto documents, one
    * final rollup. No collect, no UDF, no all-pairs anywhere — the same
    * per-stage drop accounting p01 surfaces for text. */
  def p03MediaPipeline(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("phash")
    val phashVerdicts = MultiModalOps.phashOf(
        documents(s, d).select(col("doc_id"),
          col("text").cast("binary").as("payload")), 8, 32)
      .withColumn("phash_dup",
        col("doc_id") =!= min("doc_id").over(w))
      .select("doc_id", "phash_dup")
    // deliberately uncached, like s06SemanticDedup: a cache-and-release
    // here measured 3x slower at sf0.1 and wouldn't fit at corpus scale
    val semVerdicts = SimilarityOps.semanticDedupOf(
        SimilarityOps.s04Tagged(s, d), 0.45)
      .select(col("vec_id").as("doc_id"), (!col("kept")).as("sem_pruned"))
    documents(s, d).select("doc_id", "source")
      .join(phashVerdicts, Seq("doc_id"), "left")
      .join(semVerdicts, Seq("doc_id"), "left")
      .withColumn("p_dup", coalesce(col("phash_dup"), lit(false)))
      .withColumn("s_pruned", coalesce(col("sem_pruned"), lit(false)))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("p_dup"), 1L).otherwise(0L)).as("n_phash_dropped"),
        sum(when(!col("p_dup") && col("s_pruned"), 1L).otherwise(0L))
          .as("n_sem_dropped"),
        sum(when(!col("p_dup") && !col("s_pruned"), 1L).otherwise(0L))
          .as("n_admitted"))
      .orderBy("source")
  }

  /** Oracle: the m06 pixel/WHT chain + the s06 cell/prune chain, composed
    * (CTE names prefixed to keep the two sub-oracles disjoint). */
  val p03Sql: String = {
    val hadRows = (1 to 60).flatMap { k =>
      (0 until 64).map { i =>
        val sgn = if (java.lang.Long.bitCount((k & i).toLong) % 2 == 0) 1 else -1
        s"($k, $i, $sgn)"
      }
    }.mkString(",\n    ")
    s"""WITH ph_d AS (
       |  SELECT doc_id, text, length(text) // 32 AS h0 FROM documents
       |  WHERE length(text) >= 256
       |), ph_px AS (
       |  SELECT doc_id, h0, unnest(range(0, h0 * 32)) AS i, text FROM ph_d
       |), ph_vals AS (
       |  SELECT doc_id, h0, i // 32 AS yy, i % 32 AS xx,
       |    unicode(substr(text, (i + 1)::INT, 1)) AS v
       |  FROM ph_px
       |), ph_pixels AS (
       |  SELECT doc_id, ((yy * 8) // h0) * 8 + (xx // 4) AS i,
       |    SUM(v) // COUNT(*) AS px
       |  FROM ph_vals GROUP BY 1, 2
       |), ph_had(k, i, s) AS (
       |  VALUES $hadRows
       |), ph_coefs AS (
       |  SELECT p.doc_id, h.k, SUM(h.s * p.px) AS c
       |  FROM ph_pixels p JOIN ph_had h ON p.i = h.i GROUP BY 1, 2
       |), ph_hashes AS (
       |  SELECT doc_id,
       |    CAST(SUM(CASE WHEN c > 0 THEN (1::BIGINT << (k - 1)) ELSE 0 END) AS BIGINT) AS phash
       |  FROM ph_coefs GROUP BY doc_id
       |), ph_verdicts AS (
       |  SELECT doc_id,
       |    doc_id <> MIN(doc_id) OVER (PARTITION BY phash) AS phash_dup
       |  FROM ph_hashes
       |), se_q AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
       |  FROM embeddings
       |), se_elems AS (
       |  SELECT vec_id, generate_subscripts(qv, 1) AS i, unnest(qv) AS x FROM se_q
       |), se_norms AS (
       |  SELECT vec_id, SUM(x * x) AS nrm FROM se_elems GROUP BY vec_id
       |), se_cents AS (
       |  SELECT vec_id AS cid, i, x FROM se_elems
       |  WHERE vec_id < (SELECT CAST(CEIL(SQRT(COUNT(*))) AS BIGINT) FROM embeddings)
       |), se_dists AS (
       |  SELECT e.vec_id, c.cid, SUM((e.x - c.x) * (e.x - c.x)) AS d2
       |  FROM se_elems e JOIN se_cents c ON e.i = c.i GROUP BY 1, 2
       |), se_ranked AS (
       |  SELECT vec_id, cid,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS crk
       |  FROM se_dists
       |), se_assign AS (
       |  SELECT vec_id, cid AS cell FROM se_ranked WHERE crk = 1
       |), se_cand AS (
       |  SELECT a.vec_id AS va, b.vec_id AS vb
       |  FROM se_assign a JOIN se_assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |), se_dots AS (
       |  SELECT c.va, c.vb, SUM(ea.x * eb.x) AS dot
       |  FROM se_cand c
       |  JOIN se_elems ea ON ea.vec_id = c.va
       |  JOIN se_elems eb ON eb.vec_id = c.vb AND ea.i = eb.i
       |  GROUP BY 1, 2
       |), se_victims AS (
       |  SELECT DISTINCT d.vb AS vec_id FROM se_dots d
       |  JOIN se_norms na ON d.va = na.vec_id
       |  JOIN se_norms nb ON d.vb = nb.vec_id
       |  WHERE ROUND(d.dot::DOUBLE / (sqrt(na.nrm::DOUBLE) * sqrt(nb.nrm::DOUBLE)), 6) >= 0.45
       |), flags AS (
       |  SELECT doc.doc_id, doc.source,
       |    COALESCE(pv.phash_dup, FALSE) AS p_dup,
       |    (se.vec_id IS NOT NULL AND sv.vec_id IS NOT NULL) AS s_pruned
       |  FROM documents doc
       |  LEFT JOIN ph_verdicts pv ON doc.doc_id = pv.doc_id
       |  LEFT JOIN se_q se ON doc.doc_id = se.vec_id
       |  LEFT JOIN se_victims sv ON doc.doc_id = sv.vec_id)
       |SELECT source,
       |  COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN p_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_phash_dropped,
       |  CAST(SUM(CASE WHEN NOT p_dup AND s_pruned THEN 1 ELSE 0 END) AS BIGINT) AS n_sem_dropped,
       |  CAST(SUM(CASE WHEN NOT p_dup AND NOT s_pruned THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted
       |FROM flags GROUP BY source ORDER BY source""".stripMargin
  }

  /** p04: admission → indexing pipeline — the round-7 text ops composed
    * into ONE declarative plan: the Gopher admission gate (t14) decides
    * keep, kept docs are chunked for retrieval indexing (t16 arithmetic —
    * counting needs no explode: chunks = ceil(n/stride)), and the kept
    * token mass feeds temperature mix weights (t15, integer-milli sqrt so
    * the denominator is an exact integer sum). Per-source accounting of
    * every stage, the auditability contract of the p-block.
    *
    * Plan shape: ONE corpus scan → map-only flags (the t14 kernel with
    * `source` passed through — no re-join of flags onto the corpus) → one
    * hash agg to ~#sources rows → one-row broadcast totals join. At 100 TB
    * this is a single scan and a single metadata-sized shuffle. */
  def p04AdmissionIndex(s: SparkSession, d: String): DataFrame = {
    import graft.queries.{TextOps => T}
    val flagged = T.gopherFiltersOf(
      Tables.documents(s, d).select("doc_id", "text", "source"),
      passthrough = Seq("source"),
      stopwords = T.BenchStopwords) // see t14 scaladoc: corpus subset
    val per = flagged
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), col("n_words")).otherwise(0L)).as("kept_tokens"),
        sum(when(col("keep"),
          // Column./ on longs is DOUBLE division in Spark — use `div`
          expr(s"(n_words + ${T.ChunkStride - 1}) div ${T.ChunkStride}"))
          .otherwise(0L)).as("n_chunks"))
      .withColumn("st",
        floor(sqrt(col("kept_tokens").cast("double")) * 1000).cast("long"))
    // totals via a full-frame window over the per-source aggregate: its
    // input is ~#sources rows (metadata-sized), so the single-partition
    // window is safe at any corpus scale — and it avoids the second
    // corpus scan a `per.agg(...).join(per)` branch would plan (each
    // branch re-derives the full lineage; PlanSpec pins ONE FileScan)
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    per
      .withColumn("total_st", sum("st").over(w))
      // zero-safe: a corpus where NO doc passes the gate has total_st = 0
      // (found by the r8 heavytail scale run, whose vocabulary contains no
      // stopwords at all) — weight 0.0 instead of ANSI DIVIDE_BY_ZERO
      .select(col("source"), col("n_docs"), col("n_kept"),
        col("kept_tokens"), col("n_chunks"),
        when(col("total_st") > 0,
          round(col("st").cast("double") / col("total_st"), 6))
          .otherwise(lit(0.0)).as("mix_weight"))
      .orderBy("source")
  }

  val p04Sql: String = {
    import graft.queries.{TextOps => T}
    s"""WITH ${T.gopherMetricsSqlCtes("", carry = Seq("source"))}
       |, f AS (
       |  SELECT doc_id, source, n_words, ${T.gopherKeepSql} AS keep
       |  FROM m
       |), per AS (
       |  SELECT source, COUNT(*) AS n_docs,
       |    CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |    CAST(SUM(CASE WHEN keep THEN n_words ELSE 0 END) AS BIGINT)
       |      AS kept_tokens,
       |    CAST(SUM(CASE WHEN keep
       |      THEN (n_words + ${T.ChunkStride - 1}) // ${T.ChunkStride}
       |      ELSE 0 END) AS BIGINT) AS n_chunks
       |  FROM f GROUP BY source
       |), st AS (
       |  SELECT *, CAST(FLOOR(SQRT(CAST(kept_tokens AS DOUBLE)) * 1000)
       |    AS BIGINT) AS stv FROM per
       |), tot AS (SELECT CAST(SUM(stv) AS BIGINT) AS total_st FROM st)
       |SELECT source, n_docs, n_kept, kept_tokens, n_chunks,
       |  CASE WHEN total_st > 0
       |    THEN ROUND(CAST(stv AS DOUBLE) / total_st, 6) ELSE 0.0 END
       |    AS mix_weight
       |FROM st CROSS JOIN tot ORDER BY source""".stripMargin
  }

  /** p05: the FULL multimodal pretraining admission pipeline — every
    * modality's r7 gate composed into one declarative plan with
    * sequential per-stage drop accounting (the order a real ingest runs):
    *
    *   image pHash dedup (m06 kernel — WHT hash over the payload raster)
    *     → audio VAD voiced-mass gate (m07 kernel — REAL RIFF decode,
    *       keep docs with >= [[P05VadMinActive]] energetic frames)
    *     → text Gopher admission (t14 kernel, bench stopword set)
    *     → span-dedup mass cap (d10 kernel — drop docs whose duplicated
    *       token fraction exceeds [[P05SpanCap]])
    *     → per-source mix weights over the ADMITTED token mass (t15's
    *       integer-milli sqrt, totals via the metadata-sized window).
    *
    * A doc dropped at stage i is not recounted at stage i+1, so the five
    * drop columns partition each source's corpus with n_admitted.
    *
    * Physical shape: ONE pass per modality — the phash payload scan, the
    * VAD decode scan, the gopher text scan (source/n_words passthrough —
    * no re-join of flags), and the d10 gram explode — joined thin
    * (doc_id + verdict columns only) onto the flag frame, then one hash
    * agg to ~#sources rows and the full-frame window over that
    * metadata-sized aggregate (the p04 totals pattern; never a second
    * corpus scan for totals). */
  private[graft] val P05VadMinActive = 12L
  private[graft] val P05SpanCap = 0.5

  def p05MultimodalAdmission(s: SparkSession, d: String): DataFrame = {
    import graft.queries.{TextOps => T}
    graft.functions.GraftFunctions.register(s)
    val docs = documents(s, d)
    val wp = org.apache.spark.sql.expressions.Window.partitionBy("phash")
    val ph = MultiModalOps.phashOf(
        docs.select(col("doc_id"), col("text").cast("binary").as("payload")),
        8, 32)
      .withColumn("phash_dup", col("doc_id") =!= min("doc_id").over(wp))
      .select("doc_id", "phash_dup")
    val vad = MultiModalOps.vadGateOf(docs.select("doc_id"), P05VadMinActive)
    val flags = T.gopherFiltersOf(
        docs.select("doc_id", "text", "source"),
        passthrough = Seq("source"), stopwords = T.BenchStopwords)
      .select("doc_id", "source", "n_words", "keep")
    val spans = DedupOps2.spanDedupOf(
        docs.select("doc_id", "text"), DedupOps2.SpanK)
      .select("doc_id", "dup_frac")
    val staged = flags
      .join(ph, Seq("doc_id"), "left")
      .join(vad, Seq("doc_id"), "left")
      .join(spans, Seq("doc_id"), "left")
      .withColumn("p_dup", coalesce(col("phash_dup"), lit(false)))
      .withColumn("vad_fail", !coalesce(col("vad_ok"), lit(false)))
      .withColumn("gopher_fail", !col("keep"))
      .withColumn("span_fail",
        coalesce(col("dup_frac"), lit(0.0)) > P05SpanCap)
    val admitted = !col("p_dup") && !col("vad_fail") &&
      !col("gopher_fail") && !col("span_fail")
    val per = staged.groupBy("source").agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("p_dup"), 1L).otherwise(0L)).as("n_phash_dropped"),
      sum(when(!col("p_dup") && col("vad_fail"), 1L).otherwise(0L))
        .as("n_vad_dropped"),
      sum(when(!col("p_dup") && !col("vad_fail") && col("gopher_fail"), 1L)
        .otherwise(0L)).as("n_gopher_dropped"),
      sum(when(!col("p_dup") && !col("vad_fail") && !col("gopher_fail") &&
        col("span_fail"), 1L).otherwise(0L)).as("n_span_dropped"),
      sum(when(admitted, 1L).otherwise(0L)).as("n_admitted"),
      sum(when(admitted, col("n_words")).otherwise(0L)).as("admitted_tokens"))
      .withColumn("st",
        floor(sqrt(col("admitted_tokens").cast("double")) * 1000).cast("long"))
    val wt = org.apache.spark.sql.expressions.Window.partitionBy()
    per
      .withColumn("total_st", sum("st").over(wt))
      // zero-safe like p04: an all-dropped corpus has total_st = 0 (the
      // r8 heavytail corpus reaches this for real — no stopwords exist)
      .select(col("source"), col("n_docs"), col("n_phash_dropped"),
        col("n_vad_dropped"), col("n_gopher_dropped"), col("n_span_dropped"),
        col("n_admitted"), col("admitted_tokens"),
        when(col("total_st") > 0,
          round(col("st").cast("double") / col("total_st"), 6))
          .otherwise(lit(0.0)).as("mix_weight"))
      .orderBy("source")
  }

  val p05Sql: String = {
    import graft.queries.{TextOps => T}
    import graft.queries.{DedupOps2 => D}
    s"""WITH ${MultiModalOps.phashSqlCtes("ph_")}
       |, ph_verdicts AS (
       |  SELECT doc_id,
       |    doc_id <> MIN(doc_id) OVER (PARTITION BY phash) AS phash_dup
       |  FROM ph_hashes
       |), vad_fr AS (
       |  SELECT doc_id,
       |    unnest(range(0, (512 + doc_id % 128 + 31) // 32)) AS j
       |  FROM documents
       |), vad AS (
       |  SELECT doc_id,
       |    SUM(CASE WHEN j % 3 <> doc_id % 3 THEN 1 ELSE 0 END)
       |      >= $P05VadMinActive AS vad_ok
       |  FROM vad_fr GROUP BY doc_id
       |), ${T.gopherMetricsSqlCtes("g_", carry = Seq("source"))}
       |, g_f AS (
       |  SELECT doc_id, source, n_words, ${T.gopherKeepSql} AS keep
       |  FROM g_m
       |), ${D.spanSqlCtes("sp_")}
       |, sp_fracs AS (
       |  SELECT doc_id,
       |    ROUND(SUM(span_tokens)::DOUBLE / MAX(n_tokens), 4) AS dup_frac
       |  FROM sp_spans GROUP BY doc_id
       |), staged AS (
       |  SELECT f.doc_id, f.source, f.n_words,
       |    COALESCE(pv.phash_dup, FALSE) AS p_dup,
       |    NOT COALESCE(v.vad_ok, FALSE) AS vad_fail,
       |    NOT f.keep AS gopher_fail,
       |    COALESCE(sf.dup_frac, 0.0) > $P05SpanCap AS span_fail
       |  FROM g_f f
       |  LEFT JOIN ph_verdicts pv ON f.doc_id = pv.doc_id
       |  LEFT JOIN vad v ON f.doc_id = v.doc_id
       |  LEFT JOIN sp_fracs sf ON f.doc_id = sf.doc_id
       |), per AS (
       |  SELECT source,
       |    COUNT(*) AS n_docs,
       |    CAST(SUM(CASE WHEN p_dup THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_phash_dropped,
       |    CAST(SUM(CASE WHEN NOT p_dup AND vad_fail THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n_vad_dropped,
       |    CAST(SUM(CASE WHEN NOT p_dup AND NOT vad_fail AND gopher_fail
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_gopher_dropped,
       |    CAST(SUM(CASE WHEN NOT p_dup AND NOT vad_fail AND NOT gopher_fail
       |      AND span_fail THEN 1 ELSE 0 END) AS BIGINT) AS n_span_dropped,
       |    CAST(SUM(CASE WHEN NOT p_dup AND NOT vad_fail AND NOT gopher_fail
       |      AND NOT span_fail THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
       |    CAST(SUM(CASE WHEN NOT p_dup AND NOT vad_fail AND NOT gopher_fail
       |      AND NOT span_fail THEN n_words ELSE 0 END) AS BIGINT)
       |      AS admitted_tokens
       |  FROM staged GROUP BY source
       |), st AS (
       |  SELECT *, CAST(FLOOR(SQRT(CAST(admitted_tokens AS DOUBLE)) * 1000)
       |    AS BIGINT) AS stv FROM per
       |), tot AS (SELECT CAST(SUM(stv) AS BIGINT) AS total_st FROM st)
       |SELECT source, n_docs, n_phash_dropped, n_vad_dropped,
       |  n_gopher_dropped, n_span_dropped, n_admitted, admitted_tokens,
       |  CASE WHEN total_st > 0
       |    THEN ROUND(CAST(stv AS DOUBLE) / total_st, 6) ELSE 0.0 END
       |    AS mix_weight
       |FROM st CROSS JOIN tot ORDER BY source""".stripMargin
  }

  /** p06: curated-mix assembly — the data-SELECTION pipeline composed the
    * way a pretraining mix is actually built: DSIR importance selection
    * against the trusted target slice (t20, keep the top quarter), exact
    * dedup WITHIN the selected set (d01 semantics, min-id canonical —
    * selection first, dedup second, so a duplicated high-value doc is
    * admitted exactly once), and temperature mix weights over the
    * ADMITTED token mass (t15 semantics). Per-source accounting
    * PARTITIONS each source's corpus:
    * `n_docs = n_unscored + n_unselected + n_dup_dropped + n_admitted`.
    *
    * Plan shape: the two inherent DSIR corpus passes (joint-LM
    * aggregation → collected broadcast-sized table; scoring scan
    * carrying (source, sig, n_tokens) through the per-doc agg so the
    * corpus is NEVER rejoined at doc granularity) plus one column-pruned
    * per-source totals branch (the audited pushdown class) joined at
    * #sources rows. Dedup canonicalization is one window over the
    * checkpointed per-doc frame; mix totals are a full-frame window over
    * the #sources aggregate. Three FileScans, PlanSpec-pinned. */
  def p06CuratedMix(s: SparkSession, d: String): DataFrame = {
    val pool = documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"), col("text"))
    val isTarget = col("lang") === TextOps.PplLang &&
      col("source").isin(TextOps.PplCleanSources: _*)
    // the SHARED t20 kernels (LM estimation, scoring, percentile cut) —
    // only the carry columns and downstream accounting are p06's own
    val lm = SelectionOps.dsirLmOf(
      pool.select(col("doc_id"), col("text"), isTarget.as("is_target")))
    val enriched = pool
      .withColumn("sig", md5(col("text")))
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .select("doc_id", "text", "source", "sig", "n_tokens")
    val scored = SelectionOps.dsirScoresLazy(
        SelectionOps.hashedBigramsOf(enriched), lm,
        carry = Seq("source", "sig", "n_tokens"))
      // kept eager: left lazy, p06 ran 1.13x-1.23x at sf0.001, sf0.01 and sf0.1 (A/B)
      .localCheckpoint(true)
    val thr = SelectionOps.dsirCutOf(scored, SelectionOps.DsirKeepFrac)
    val wSig = org.apache.spark.sql.expressions.Window.partitionBy("sig")
    val verdicts = scored.crossJoin(broadcast(thr))
      .withColumn("selected", col("score_milli") >= col("cut"))
      .withColumn("cmin", min(when(col("selected"), col("doc_id"))).over(wSig))
      .withColumn("admitted", col("selected") && col("doc_id") === col("cmin"))
    val bySrc = verdicts.groupBy("source").agg(
      count(lit(1)).as("n_scored"),
      count_if(!col("selected")).as("n_unselected"),
      count_if(col("selected") && !col("admitted")).as("n_dup_dropped"),
      count_if(col("admitted")).as("n_admitted"),
      coalesce(sum(when(col("admitted"), col("n_tokens"))), lit(0L))
        .as("admitted_tokens"))
    val totals = documents(s, d).groupBy("source")
      .agg(count(lit(1)).as("n_docs"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    totals.join(bySrc, Seq("source"), "left")
      .withColumn("n_scored", coalesce(col("n_scored"), lit(0L)))
      .withColumn("n_unselected", coalesce(col("n_unselected"), lit(0L)))
      .withColumn("n_dup_dropped", coalesce(col("n_dup_dropped"), lit(0L)))
      .withColumn("n_admitted", coalesce(col("n_admitted"), lit(0L)))
      .withColumn("admitted_tokens", coalesce(col("admitted_tokens"), lit(0L)))
      .withColumn("n_unscored", col("n_docs") - col("n_scored"))
      .withColumn("st",
        floor(sqrt(col("admitted_tokens").cast("double")) * 1000).cast("long"))
      .withColumn("total_st", sum("st").over(wAll))
      .select(col("source"), col("n_docs"), col("n_unscored"),
        col("n_unselected"), col("n_dup_dropped"), col("n_admitted"),
        col("admitted_tokens"),
        when(col("total_st") > 0,
          round(col("st").cast("double") / col("total_st"), 6))
          .otherwise(0.0).as("mix_weight"))
      .orderBy("source")
  }

  /** Oracle: the shared DSIR CTEs (SelectionOps.dsirSqlCtes — the t20
    * semantics verbatim) + dedup-within-selected + t15 mix arithmetic. */
  val p06Sql: String =
    s"""WITH ${SelectionOps.dsirSqlCtes("")}, sel AS (
       |  SELECT doc_id, score_milli >= cut AS selected
       |  FROM scored CROSS JOIN thr
       |), enr AS (
       |  SELECT d.doc_id, d.source, md5(d.text) AS sig,
       |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
       |    sel.selected
       |  FROM documents d LEFT JOIN sel USING (doc_id)
       |), canon AS (
       |  SELECT *, MIN(CASE WHEN selected THEN doc_id END)
       |    OVER (PARTITION BY sig) AS cmin
       |  FROM enr
       |), by_src AS (
       |  SELECT source, COUNT(*) AS n_docs,
       |    COUNT(*) FILTER (selected IS NULL) AS n_unscored,
       |    COUNT(*) FILTER (selected = FALSE) AS n_unselected,
       |    COUNT(*) FILTER (selected AND doc_id <> cmin) AS n_dup_dropped,
       |    COUNT(*) FILTER (selected AND doc_id = cmin) AS n_admitted,
       |    CAST(COALESCE(SUM(n_tokens) FILTER (selected AND doc_id = cmin),
       |      0) AS BIGINT) AS admitted_tokens
       |  FROM canon GROUP BY 1
       |), st AS (
       |  SELECT *, CAST(FLOOR(SQRT(admitted_tokens::DOUBLE) * 1000)
       |    AS BIGINT) AS stv
       |  FROM by_src
       |), tot AS (SELECT SUM(stv) AS total_st FROM st)
       |SELECT source, n_docs, n_unscored, n_unselected, n_dup_dropped,
       |  n_admitted, admitted_tokens,
       |  CASE WHEN total_st > 0
       |    THEN ROUND(CAST(stv AS DOUBLE) / total_st, 6) ELSE 0.0 END
       |    AS mix_weight
       |FROM st CROSS JOIN tot ORDER BY source""".stripMargin

  /** p07: HYBRID retrieval — reciprocal-rank fusion of the lexical (t22
    * BM25) and dense (s01 brute-force cosine) arms, the standard
    * production hybrid-search stack (Cormack et al. 2009's RRF: robust
    * rank-level fusion needing no score calibration between arms).
    *
    * Each arm emits its top-[[RetrievalOps.HybridTopL]] list for the
    * shared query ids (< [[SimilarityOps.NumQueries]]; the documents and
    * embeddings tables share the id space by construction of the
    * testdata). Fusion: full-outer join of the two rank lists on
    * (query, item); an item absent from an arm carries rank 0 = "not
    * retrieved" (no NULLs — nullable ints round-trip as float64 through
    * the driver's pandas compare) and contributes nothing;
    * rrf_milli = Σ_present 1000000 div (60 + rank). Final top-k by fused
    * score, item ascending on ties.
    *
    * Scale shape: both arms are their gated operators' plans (checkpointed
    * posting build + broadcast query terms; broadcast query vectors in one
    * corpus scan). The fusion join touches two (queries × L) rank lists —
    * metadata-sized at any corpus scale. */
  def p07HybridRetrieval(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val L = RetrievalOps.HybridTopL
    // one shared query-id gate: Bm25NumQueries IS SimilarityOps.NumQueries
    // (derived, not coincidentally equal), and the oracle's two arms use
    // the same pair of constants below
    val lex = RetrievalOps.bm25TopKOf(
      documents(s, d).select("doc_id", "text"),
      col("doc_id") < RetrievalOps.Bm25NumQueries, L)
      .select(col("query_id"), col("doc_id").as("item_id"),
        col("rk").as("bm25_rk"))
    val emb = embeddings(s, d)
      .select(col("vec_id"), expr(SimilarityOps.quantize("embedding")).as("q"))
    val den = SimilarityOps.bruteForceTopKOf(emb,
      emb.filter(col("vec_id") < SimilarityOps.NumQueries.toLong), L)
      .select(col("query_id"), col("neighbor_id").as("item_id"),
        col("rk").as("dense_rk"))
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("rrf_milli").desc, col("item_id"))
    lex.join(den, Seq("query_id", "item_id"), "full_outer")
      .withColumn("bm25_rk", coalesce(col("bm25_rk"), lit(0L)))
      .withColumn("dense_rk", coalesce(col("dense_rk"), lit(0L)))
      .withColumn("rrf_milli",
        when(col("bm25_rk") > 0,
          expr(s"1000000 div (${RetrievalOps.RrfK} + bm25_rk)"))
          .otherwise(lit(0L)) +
          when(col("dense_rk") > 0,
            expr(s"1000000 div (${RetrievalOps.RrfK} + dense_rk)"))
            .otherwise(lit(0L)))
      .withColumn("rk", row_number().over(wTop).cast("long"))
      .filter(col("rk") <= RetrievalOps.Bm25TopK)
      .select("query_id", "rk", "item_id", "bm25_rk", "dense_rk", "rrf_milli")
      .orderBy("query_id", "rk")
  }

  val p07Sql: String =
    s"""WITH ${RetrievalOps.bm25SqlCtes("b", RetrievalOps.HybridTopL)},
       |${SimilarityOps.denseArmSqlCtes("v")},
       |vtop AS (
       |  SELECT query_id, neighbor_id, rk FROM vranked
       |  WHERE rk <= ${RetrievalOps.HybridTopL}
       |), fu AS (
       |  SELECT COALESCE(b.query_id, v.query_id) AS query_id,
       |    COALESCE(b.doc_id, v.neighbor_id) AS item_id,
       |    COALESCE(b.rk, 0) AS bm25_rk, COALESCE(v.rk, 0) AS dense_rk
       |  FROM bbm b FULL JOIN vtop v
       |    ON b.query_id = v.query_id AND b.doc_id = v.neighbor_id
       |), sc AS (
       |  SELECT query_id, item_id,
       |    CAST(bm25_rk AS BIGINT) AS bm25_rk,
       |    CAST(dense_rk AS BIGINT) AS dense_rk,
       |    CAST(CASE WHEN bm25_rk > 0
       |        THEN 1000000 // (${RetrievalOps.RrfK} + bm25_rk) ELSE 0 END
       |      + CASE WHEN dense_rk > 0
       |        THEN 1000000 // (${RetrievalOps.RrfK} + dense_rk) ELSE 0 END
       |      AS BIGINT) AS rrf_milli
       |  FROM fu
       |), fin AS (
       |  SELECT query_id, item_id, bm25_rk, dense_rk, rrf_milli,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY rrf_milli DESC, item_id) AS BIGINT) AS rk
       |  FROM sc)
       |SELECT query_id, rk, item_id, bm25_rk, dense_rk, rrf_milli
       |FROM fin WHERE rk <= ${RetrievalOps.Bm25TopK}
       |ORDER BY query_id, rk""".stripMargin

  /** p08: the TOKENIZER pipeline — train → encode → pack, the loop that
    * turns a text corpus into fixed-window training batches: t17 learns
    * the BPE merge table (vocab-sized iterations, corpus scanned once),
    * t19 applies it corpus-wide as literal replace chains (map-only
    * encode), and the t13 distributed prefix sum lays the REAL per-doc
    * BPE token counts into [[TextOps.PackWindow]]-token windows (t13
    * itself packs whitespace counts — p08 packs what a trainer actually
    * packs). Output per doc: encode stats + its window range in the
    * packed stream.
    *
    * Scale shape: one corpus scan for merge learning (t17's shape), one
    * checkpointed map-only encode scan, then packing = per-shard partials
    * + broadcast offsets over the METADATA-sized (doc, count) frame —
    * never a single-partition window. The oracle replays learn + encode
    * via the shared t19 CTE chain and packs with the same running sum. */
  def p08TokenizerPipeline(s: SparkSession, d: String): DataFrame = {
    // the UNSORTED encode kernel: t19's gated query ends in a global
    // orderBy, and checkpointing that would materialize a corpus-wide
    // range sort nothing here needs (packing re-partitions by shard,
    // the pipeline re-sorts its final output anyway)
    val enc = TextOps.bpeEncodeOf(documents(s, d), TextOps.BpeMergeCount)
      .localCheckpoint(true)
    val packed = TextOps.sequencePackCountsOf(
      enc.select(col("doc_id"), col("tokens_after").as("n_tokens")),
      TextOps.PackWindow)
    enc.join(packed.select("doc_id", "pack_start", "first_window",
      "last_window"), "doc_id")
      .select("doc_id", "n_words", "tokens_after", "compression_pm",
        "pack_start", "first_window", "last_window")
      .orderBy("doc_id")
  }

  val p08Sql: String =
    s"""WITH enc AS (
       |${TextOps.t19Sql.replace("ORDER BY d.doc_id", "")}),
       |pk AS (
       |  SELECT doc_id, tokens_after,
       |    COALESCE(SUM(tokens_after) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS pack_start
       |  FROM enc)
       |SELECT e.doc_id, e.n_words, e.tokens_after, e.compression_pm,
       |  CAST(p.pack_start AS BIGINT) AS pack_start,
       |  CAST(p.pack_start // ${TextOps.PackWindow} AS BIGINT) AS first_window,
       |  CAST((p.pack_start + GREATEST(p.tokens_after, 1) - 1)
       |    // ${TextOps.PackWindow} AS BIGINT) AS last_window
       |FROM enc e JOIN pk p USING (doc_id) ORDER BY e.doc_id""".stripMargin

  /** p09's gram width (t11's eval-contamination width — the same overlap
    * unit, here turned on one's OWN split instead of an external
    * benchmark). */
  val SplitAuditK = 5

  /** p09: SPLIT-CONTAMINATION audit — measure what d13's guarantee does
    * NOT cover. The leakage-safe split keeps LSH-DETECTED near-dups on
    * one side; banded minhash has a recall floor, so some residual
    * overlap always crosses the boundary. p09 quantifies it exactly: for
    * every 'val' document, the fraction of its distinct word
    * [[SplitAuditK]]-grams that also occur in ANY 'train' document
    * (leak_milli = 1000·shared div grams). The QA stage a split ships
    * with — asserting zero leakage is impossible, reporting it is the
    * honest contract.
    *
    * Scale shape: the d13 split (checkpointed — the CC machinery runs
    * once) + ONE corpus gram scan (grams md5-hashed to 60-bit ints, the
    * t21 trick, then checkpointed); the train-side distinct-gram set and
    * the val-side (doc, gram) pairs are two branches of that
    * materialized frame, joined on the gram hash — the inverted-index
    * equi-join, never doc×doc. Val docs with < k words have no grams
    * and are omitted (the t21 contract). */
  def p09SplitAudit(s: SparkSession, d: String): DataFrame = {
    // the split frame is consumed exactly once (the grams join below,
    // which is itself eagerly checkpointed), so checkpointing it first
    // was a pure extra materialization job (r16); d13's own CC labels
    // are checkpoint-materialized inside leakageSplitOf either way
    val split = DedupOps2.d13LeakageSplit(s, d)
      .select("doc_id", "split")
    // the (doc_id, f) gram table IS ppjoinGramsPlanOf at k=SplitAuditK
    // (r16, ADVICE): reuse the shared builder so the per-doc
    // array_distinct == global distinct equivalence argument (doc_id is
    // the table's primary key) lives in exactly one place
    val grams = DedupOps.ppjoinGramsPlanOf(documents(s, d), SplitAuditK)
      .join(split, "doc_id")
      .localCheckpoint(true)
    val trainGrams = grams.filter(col("split") === "train")
      .select("f").distinct()
    grams.filter(col("split") === "val")
      .join(trainGrams.withColumn("hit", lit(1)), Seq("f"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), count("hit").as("n_shared"))
      .withColumn("leak_milli", expr("(1000 * n_shared) div n_grams"))
      .select("doc_id", "n_grams", "n_shared", "leak_milli")
      .orderBy("doc_id")
  }

  val p09Sql: String =
    s"""WITH RECURSIVE ${DedupOps.ccSqlCtes},
       |sp AS (
       |  SELECT d.doc_id,
       |    ${DedupOps2.splitSqlCase("COALESCE(c.cluster_id, d.doc_id)")}
       |      AS split
       |  FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
       |), gr AS (
       |  SELECT DISTINCT doc_id,
       |    ${DedupOps.h60Duck(
      "array_to_string(words[i : i + " + (SplitAuditK - 1) + "], ' ')")} AS f
       |  FROM (SELECT doc_id, string_split(text, ' ') AS words,
       |          unnest(range(1, len(string_split(text, ' '))
       |            - ${SplitAuditK - 2})) AS i
       |        FROM documents
       |        WHERE len(string_split(text, ' ')) >= $SplitAuditK)
       |), tg AS (
       |  SELECT DISTINCT g.f FROM gr g JOIN sp ON g.doc_id = sp.doc_id
       |  WHERE sp.split = 'train'
       |), vp AS (
       |  SELECT g.doc_id, g.f FROM gr g JOIN sp ON g.doc_id = sp.doc_id
       |  WHERE sp.split = 'val')
       |SELECT vp.doc_id, COUNT(*) AS n_grams, COUNT(tg.f) AS n_shared,
       |  CAST((1000 * COUNT(tg.f)) // COUNT(*) AS BIGINT) AS leak_milli
       |FROM vp LEFT JOIN tg ON vp.f = tg.f
       |GROUP BY vp.doc_id ORDER BY vp.doc_id""".stripMargin

  // ---------------------------------------------------------------- p10

  /** Fixed windows per training shard: a shard is
    * [[graft.queries.TextOps.PackWindow]] × this tokens of packed
    * stream. */
  private[graft] val P10WindowsPerShard = 4L

  /** p10: training-shard build — the LAST mile of the data pipeline,
    * producing the artifact a trainer actually consumes: the shard
    * manifest of the admitted, deduplicated, packed token stream.
    * Stages (the order a real build runs):
    *
    *   exact dedup (d01 kernel — md5 content hash, min-id canonical)
    *     → Gopher admission (t14 kernel, bench stopword set)
    *     → sequence packing of the SURVIVING docs (t13's distributed
    *       prefix sum — per-shard partials + broadcast offsets, never a
    *       single-partition global window)
    *     → shard manifest: fixed [[P10WindowsPerShard]]-window shards
    *       keyed by each doc's FIRST window, with the boundary-spanning
    *       doc count (docs whose packed range crosses into the next
    *       shard — the packing QC stat trainers check).
    *
    * Output: one row per shard (shard_id, n_docs, n_tokens, first_doc,
    * last_doc, start_token, n_spanning) — metadata-sized at any corpus
    * scale.
    *
    * Physical shape: ONE corpus scan computes the content hash AND the
    * gopher metrics (the p04 passthrough hook — no re-join of flags onto
    * the corpus); the dedup verdict is a window over the THIN
    * (doc_id, h) frame; survivors checkpoint before packing so the
    * pack's shard-total pass and the final manifest agg never re-plan
    * the corpus scan (PlanSpec-pinned ONE FileScan). */
  def p10ShardBuild(s: SparkSession, d: String): DataFrame = {
    import graft.queries.{TextOps => T}
    val survivors = p10SurvivorsLazy(documents(s, d)).localCheckpoint(true)
    val wps = P10WindowsPerShard
    T.sequencePackCountsOf(survivors, T.PackWindow)
      .withColumn("shard_id", expr(s"first_window div $wps"))
      .withColumn("spans_out",
        expr(s"last_window div $wps") =!= col("shard_id"))
      .groupBy("shard_id").agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        min("doc_id").as("first_doc"),
        max("doc_id").as("last_doc"),
        min("pack_start").as("start_token"),
        sum(when(col("spans_out"), 1L).otherwise(0L)).as("n_spanning"))
      .orderBy("shard_id")
  }

  /** p10's admission subtree — ONE corpus scan computing content hash +
    * gopher metrics, the thin dedup window, and the survivor token
    * counts. Exposed lazily so PlanSpec can pin its physical shape (one
    * FileScan), which the eager checkpoint in [[p10ShardBuild]] would
    * otherwise hide (the bm25PostingsLazy pattern). */
  private[graft] def p10SurvivorsLazy(docs: DataFrame): DataFrame = {
    import graft.queries.{TextOps => T}
    val wd = org.apache.spark.sql.expressions.Window.partitionBy("h")
    T.gopherFiltersOf(
        docs.withColumn("h", md5(col("text"))),
        passthrough = Seq("h"), stopwords = T.BenchStopwords)
      .select("doc_id", "h", "n_words", "keep")
      .withColumn("exact_dup", col("doc_id") =!= min("doc_id").over(wd))
      .filter(!col("exact_dup") && col("keep"))
      .select(col("doc_id"), col("n_words").as("n_tokens"))
  }

  val p10Sql: String = {
    import graft.queries.{TextOps => T}
    s"""WITH ${T.gopherMetricsSqlCtes("g_")}
       |, hsh AS (
       |  SELECT doc_id, md5(text) AS h FROM documents
       |), dd AS (
       |  SELECT doc_id, doc_id <> MIN(doc_id) OVER (PARTITION BY h)
       |    AS exact_dup
       |  FROM hsh
       |), surv AS (
       |  SELECT m.doc_id, m.n_words AS n_tokens
       |  FROM g_m m JOIN dd USING (doc_id)
       |  WHERE NOT dd.exact_dup AND ${T.gopherKeepSql}
       |), packed AS (
       |  SELECT doc_id, n_tokens,
       |    COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS pack_start
       |  FROM surv
       |), win AS (
       |  SELECT doc_id, n_tokens, pack_start,
       |    pack_start // ${T.PackWindow} AS first_window,
       |    (pack_start + GREATEST(n_tokens, 1) - 1) // ${T.PackWindow}
       |      AS last_window
       |  FROM packed)
       |SELECT CAST(first_window // $P10WindowsPerShard AS BIGINT)
       |    AS shard_id,
       |  COUNT(*) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
       |  CAST(MIN(pack_start) AS BIGINT) AS start_token,
       |  CAST(SUM(CASE WHEN last_window // $P10WindowsPerShard
       |    <> first_window // $P10WindowsPerShard THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_spanning
       |FROM win GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---------------------------------------------------------------- p11

  /** p11: CROSS-FORMAT perceptual dedup — the format-independence
    * property a real media pipeline needs: the same image content
    * arrives as a PNG from one source and a GIF from another (each doc
    * pair 2g/2g+1 carries the SAME 8×8 gray raster in the two
    * containers), and deduplication must reunite them. Every payload is
    * genuinely decoded through its own codec path — PNG: CRC walk +
    * inflate + unfilter (m11); GIF: sub-blocks + hand-rolled LZW +
    * palette resolve (m12) — sniffed by magic bytes, normalized to the
    * common gray raster, and perceptually hashed with the codegen'd
    * `wht_phash` (m06's kernel). Families group by hash: one row per
    * family with member/format accounting. The oracle recomputes the
    * pHash from the RASTER FORMULA (shared WHT sign matrix) without
    * seeing any bytes — a hash match proves both decoders and the
    * normalization converged on identical pixels, since ONE wrong pixel
    * in either codec path flips WHT signs and splits a family.
    *
    * Scale shape: one corpus scan, per-row decode kernel (map-only),
    * one hash-partitioned metadata-thin agg — m06's dedup shape with
    * real containers in front. */
  def p11CrossFormatDedup(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("fmt", StringType, nullable = false),
      StructField("gray", BinaryType, nullable = false)))
    val decoded = documents(s, d).select(col("doc_id"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          // payload synthesized then GENUINELY decoded via its container
          val gray = MultiModalOps.decodeGrayOf(
            MultiModalOps.crossFormatBytes(id))
          Row(id, if (id % 2 == 0) "png" else "gif", gray)
        }
      }(org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema))
    decoded
      .select(col("doc_id"), col("fmt"),
        call_function("wht_phash", col("gray"), lit(8), lit(8)).as("phash"))
      .groupBy("phash")
      .agg(min("doc_id").as("canonical_id"),
        count(lit(1)).as("n_members"),
        sum(when(col("fmt") === "png", 1L).otherwise(0L)).as("n_png"),
        sum(when(col("fmt") === "gif", 1L).otherwise(0L)).as("n_gif"))
      .withColumn("cross_format", col("n_png") > 0 && col("n_gif") > 0)
      .select("phash", "canonical_id", "n_members", "n_png", "n_gif",
        "cross_format")
      .orderBy("canonical_id")
  }

  /** Oracle: pHash from the raster formula + the shared WHT sign matrix
    * — no bytes, no codecs. */
  val p11Sql: String =
    s"""WITH xf AS (
       |  SELECT doc_id, doc_id // 2 AS g, unnest(range(0, 64)) AS i
       |  FROM documents
       |), xpx AS (
       |  SELECT doc_id, i, ((g * 13 + i * 7) % 16) * 17 AS px FROM xf
       |), xhad(k, i, s) AS (
       |  VALUES ${MultiModalOps.whtHadValuesSql}
       |), xcoef AS (
       |  SELECT p.doc_id, h.k, SUM(h.s * p.px) AS c
       |  FROM xpx p JOIN xhad h ON p.i = h.i GROUP BY 1, 2
       |), xhash AS (
       |  SELECT doc_id,
       |    CAST(SUM(CASE WHEN c > 0 THEN (1::BIGINT << (k - 1)) ELSE 0 END)
       |      AS BIGINT) AS phash
       |  FROM xcoef GROUP BY 1)
       |SELECT phash, MIN(doc_id) AS canonical_id, COUNT(*) AS n_members,
       |  CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_png,
       |  CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_gif,
       |  (SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) > 0 AND
       |   SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) > 0)
       |    AS cross_format
       |FROM xhash GROUP BY 1 ORDER BY canonical_id""".stripMargin

  // ---------------------------------------------------------------- p12

  /** p12: near-duplicate FAMILY PRUNE over the production s02 pair
    * source — the document-level SemDeDup stage a curation run executes
    * after near-dup detection: s02's adaptive-LSH pairs (hashed-bigram
    * idf embeddings, cosine ≥ 0.9) become an undirected graph, connected
    * components group transitive duplicate FAMILIES, each family keeps
    * its min-id canonical, and the verdict row carries the family's
    * size and its strongest internal similarity (the curator's audit
    * columns: how big was the family, how certain was the merge).
    *
    * Scale shape: the pair list is survivor-mass-sized (LINEAR under the
    * adaptive construction — SCALE_r9 §1), the CC runs min-label
    * propagation with pointer doubling past [[DedupOps.SingleTaskEdgeMax]]
    * edges, and everything downstream is family-count-sized. Oracle
    * shares the FULL s02 derivation (s02SqlCtes) plus the recursive-reach
    * CC shape d07 proved, so neither stage can drift from the operators
    * it composes. */
  def p12NeardupFamilies(s: SparkSession, d: String): DataFrame =
    neardupFamiliesOf(s,
      SimilarityOps.s02EmbedNearDup(s, d)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"), col("sim")))
      .orderBy("family_id")

  /** p12's kernel over any (doc_a, doc_b, sim) near-dup pair frame
    * (graft.ops.Corpus API). */
  private[graft] def neardupFamiliesOf(s: SparkSession, pairsIn: DataFrame): DataFrame = {
    val pairs = pairsIn.localCheckpoint(true)
    val comp = DedupOps.connectedComponents(s,
      pairs.select("doc_a", "doc_b"), DedupOps.SingleTaskEdgeMax)
    val fam = comp.groupBy("label").agg(
      count(lit(1)).as("family_size"),
      min("doc_id").as("canonical_id"))
    // each pair is within ONE family by construction — its strongest
    // edge is a per-family agg over the pair list keyed by either side
    val strongest = pairs
      .join(comp.select(col("doc_id").as("doc_a"), col("label")), "doc_a")
      .groupBy("label").agg(max("sim").as("max_sim"))
    fam.join(strongest, "label")
      .select(col("label").as("family_id"), col("family_size"),
        col("canonical_id"), col("max_sim"))
  }

  val p12Sql: String =
    s"""WITH RECURSIVE ${SimilarityOps.s02SqlCtes},
       |fedges AS (
       |  SELECT vec_a AS src, vec_b AS dst FROM survivors
       |  UNION
       |  SELECT vec_b, vec_a FROM survivors),
       |fnodes AS (SELECT DISTINCT src AS doc_id FROM fedges),
       |freach(src, dst) AS (
       |  SELECT doc_id, doc_id FROM fnodes
       |  UNION
       |  SELECT r.src, e.dst FROM freach r JOIN fedges e ON r.dst = e.src),
       |fcomp AS (SELECT src AS doc_id, MIN(dst) AS family_id
       |          FROM freach GROUP BY src),
       |ffam AS (
       |  SELECT family_id, COUNT(*) AS family_size,
       |    CAST(MIN(doc_id) AS BIGINT) AS canonical_id
       |  FROM fcomp GROUP BY family_id),
       |fstrong AS (
       |  SELECT c.family_id, MAX(s.sim) AS max_sim
       |  FROM survivors s JOIN fcomp c ON s.vec_a = c.doc_id
       |  GROUP BY c.family_id)
       |SELECT f.family_id, f.family_size, f.canonical_id, g.max_sim
       |FROM ffam f JOIN fstrong g USING (family_id)
       |ORDER BY f.family_id""".stripMargin

  // ---------------------------------------------------------------- p13

  /** p13: MIXED-CONTAINER media admission — m13's sniffing dispatch and
    * p11's cross-format normalization folded into ONE admission pass
    * (the r10/r11 verdict's carried ask): a corpus where the same image
    * content arrives as PNG (8×8 truecolor), GIF87a (8×8 indexed), and
    * JPEG (64×64 DC-only gray — 8× the resolution), each genuinely
    * decoded through its own codec, resolution-normalized by exact
    * block-mean downsampling to the canonical 8×8 pHash raster
    * ([[MultiModalOps.mixedGrayOf]]), perceptually hashed with the
    * codegen'd `wht_phash`, and deduplicated ACROSS containers: the
    * min-id member of each pHash family is admitted, the rest drop as
    * cross-format duplicates. One row per container with the drop
    * accounting every ingest audit wants.
    *
    * The oracle recomputes every pHash from the raster FORMULA (shared
    * WHT sign matrix) — a hash match proves all THREE codec paths AND
    * the resize normalization converged on identical pixels: one wrong
    * pixel in any decoder (or an inexact block mean) flips WHT signs
    * and splits a family, changing the drop counts.
    *
    * Scale shape: ONE corpus scan (decode + normalize + hash in a
    * map-only kernel), one hash-partitioned window over pHash
    * (family-thin: doc_id, container, phash — no payloads cross the
    * shuffle), one hash agg to ≤3 rows. PlanSpec pins the single-scan
    * shape. */
  def p13MixedAdmission(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("container", StringType, nullable = false),
      StructField("gray", BinaryType, nullable = false)))
    val decoded = documents(s, d).select(col("doc_id"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val bytes = MultiModalOps.mixedFormatBytes(id)
          // ONE decode per payload: the normalization kernel sniffs the
          // container itself and runs that container's REAL parser (full
          // corruption contract) — probing separately would decode every
          // payload twice (measured: ~2× the stage cost; m13 keeps the
          // standalone probe covered)
          val (container, gray) = MultiModalOps.mixedProbeGrayOf(bytes)
          Row(id, container, gray)
        }
      }(org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema))
    val wp = org.apache.spark.sql.expressions.Window.partitionBy("phash")
    decoded
      .select(col("doc_id"), col("container"),
        call_function("wht_phash", col("gray"), lit(8), lit(8)).as("phash"))
      .withColumn("is_dup", col("doc_id") =!= min("doc_id").over(wp))
      .groupBy("container").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup_dropped"),
        sum(when(!col("is_dup"), 1L).otherwise(0L)).as("n_admitted"))
      .orderBy("container")
  }

  /** Oracle: pHash per doc from the content-group formula
    * (g = doc_id//3) + the shared WHT sign matrix — no bytes, no codecs,
    * no resize: the formula IS the normalized raster, so any divergence
    * in the engine's decode/resize path breaks the hash match. */
  val p13Sql: String =
    s"""WITH mf AS (
       |  SELECT doc_id, doc_id // 3 AS g, unnest(range(0, 64)) AS i
       |  FROM documents
       |), mpx AS (
       |  SELECT doc_id, i, ((g * 13 + i * 7) % 16) * 17 AS px FROM mf
       |), mhad(k, i, s) AS (
       |  VALUES ${MultiModalOps.whtHadValuesSql}
       |), mcoef AS (
       |  SELECT p.doc_id, h.k, SUM(h.s * p.px) AS c
       |  FROM mpx p JOIN mhad h ON p.i = h.i GROUP BY 1, 2
       |), mhash AS (
       |  SELECT doc_id,
       |    CAST(SUM(CASE WHEN c > 0 THEN (1::BIGINT << (k - 1)) ELSE 0 END)
       |      AS BIGINT) AS phash
       |  FROM mcoef GROUP BY 1
       |), fam AS (
       |  SELECT doc_id, phash,
       |    doc_id <> MIN(doc_id) OVER (PARTITION BY phash) AS is_dup
       |  FROM mhash)
       |SELECT CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
       |    ELSE 'jpeg' END AS container,
       |  COUNT(*) AS n_docs,
       |  CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_dup_dropped,
       |  CAST(SUM(CASE WHEN is_dup THEN 0 ELSE 1 END) AS BIGINT)
       |    AS n_admitted
       |FROM fam GROUP BY 1 ORDER BY container""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p13_mixed_admission" -> p13MixedAdmission _,
    "p12_neardup_families" -> p12NeardupFamilies _,
    "p11_crossformat_dedup" -> p11CrossFormatDedup _,
    "p10_shard_build" -> p10ShardBuild _,
    "p09_split_audit" -> p09SplitAudit _,
    "p08_tokenizer_pipeline" -> p08TokenizerPipeline _,
    "p07_hybrid_retrieval" -> p07HybridRetrieval _,
    "p06_curated_mix" -> p06CuratedMix _,
    "p05_multimodal_admission" -> p05MultimodalAdmission _,
    "p04_admission_index" -> p04AdmissionIndex _,
    "p01_corpus_pipeline" -> p01CorpusPipeline _,
    "p02_incremental_update" -> p02IncrementalUpdate _,
    "p03_media_pipeline" -> p03MediaPipeline _,
  )

  val oracles: Map[String, String] = Map(
    "p13_mixed_admission" -> p13Sql,
    "p12_neardup_families" -> p12Sql,
    "p11_crossformat_dedup" -> p11Sql,
    "p10_shard_build" -> p10Sql,
    "p09_split_audit" -> p09Sql,
    "p08_tokenizer_pipeline" -> p08Sql,
    "p07_hybrid_retrieval" -> p07Sql,
    "p06_curated_mix" -> p06Sql,
    "p05_multimodal_admission" -> p05Sql,
    "p04_admission_index" -> p04Sql,
    "p01_corpus_pipeline" -> p01Sql,
    "p02_incremental_update" -> p02Sql,
    "p03_media_pipeline" -> p03Sql,
  )
}
