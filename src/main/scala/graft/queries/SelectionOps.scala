package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import org.apache.spark.sql.functions._

/** Data-selection operators: choosing WHICH raw-corpus documents enter a
  * pretraining mix, as opposed to cleaning them (t0x) or deduplicating
  * them (d0x).
  *
  * t20 is DSIR — Data Selection via Importance Resampling (Xie et al.
  * 2023, arXiv:2302.03169), the standard "make the raw pool look like the
  * target domain" stage: featurize every document as hashed n-grams,
  * estimate a target and a raw feature distribution, score each document
  * by its importance weight log p_target(x) − log p_raw(x), and keep the
  * top slice. The reference corpus engine has no analog — this is
  * beyond-reference depth in the same admission-pipeline family as
  * t14/t18.
  */
object SelectionOps {
  import Tables._

  /** Hashed-feature bucket count (DSIR's hashed n-gram dimensionality —
    * the paper uses 10k buckets; 4k keeps the LM table trivially
    * broadcast-sized while leaving bucket collisions rare on the test
    * vocabulary). */
  val DsirBuckets = 4096L

  /** Fraction of the raw pool to keep: selected = score ≥ the (1−keep)
    * corpus percentile (the paper resamples k docs; a corpus-relative
    * threshold is the deterministic equivalent of its top-k). */
  val DsirKeepFrac = 0.25

  // the ONE portable-hash recipe shared with the d0x block (a copy here
  // could silently diverge from the dedup hashes)
  import DedupOps.{h60, h60Duck}

  /** t20: DSIR importance-weight selection over the full document pool.
    *
    * Target domain = the trusted clean slice (t18's contract: `lang =
    * 'en' AND source IN PplCleanSources`); raw = the whole pool. Features
    * are bigrams hashed into [[DsirBuckets]] buckets. Cross-engine
    * determinism (the t18 contract, no libm logs): the per-feature log
    * probabilities use the INTEGER bit length floor(log2(c+1)) =
    * `length(bin(c+1)) − 1`, and the add-one-smoothing normalizers
    * (log(N_target+B) − log(N_raw+B)) are DROPPED — they are the same
    * constant for every feature, so after the per-doc mean they shift
    * every document's score equally and the percentile selection is
    * unchanged (a rank-preserving simplification, documented here rather
    * than hidden). Negative-sum integer division is avoided by keeping
    * the target and raw bit sums separate (Spark `div` truncates toward
    * zero, DuckDB `//` floors — they disagree below zero):
    * score_milli = (1000·Σ bits_t) div n − (1000·Σ bits_r) div n.
    *
    * Scale shape: ONE corpus scan aggregates the ≤[[DsirBuckets]]-row
    * joint feature table (raw count + target count per bucket in the SAME
    * aggregation — the target is a subset of the pool, so no second
    * scan), which is COLLECTED (broadcast-sized by construction) and
    * re-emitted as a local relation; scoring is a second corpus scan →
    * explode → one broadcast join → hash agg per doc, eagerly
    * checkpointed so the percentile-threshold branch reads the
    * materialized scores. Exactly TWO FileScans, pinned in PlanSpec.
    * Documents with <2 words have no bigram features and are excluded
    * (t18's contract). */
  def t20DsirSelect(s: SparkSession, d: String): DataFrame =
    dsirSelectOf(documents(s, d),
      col("lang") === TextOps.PplLang &&
        col("source").isin(TextOps.PplCleanSources: _*))
      .orderBy("doc_id")

  /** ONE pool pass over a `(doc_id, text, is_target)` projection → the
    * joint (bucket, raw count, target count) LM table, collected
    * (≤ [[DsirBuckets]] rows) and re-emitted so the scoring join never
    * re-plans this scan. SHARED by t20 and p06 — the Spark-side DSIR
    * semantics are as single-sourced as the oracle's [[dsirSqlCtes]]. */
  private[graft] def dsirLmOf(pool3: DataFrame): DataFrame = {
    val s = pool3.sparkSession
    import s.implicits._
    val lmRows: Array[(Long, Long, Long)] = hashedBigramsOf(pool3)
      .groupBy("f")
      .agg(count(lit(1)).as("c_r"),
        count_if(col("is_target")).as("c_t"))
      .as[(Long, Long, Long)].collect()
    require(lmRows.exists(_._3 > 0),
      "dsirSelect: the target slice yields no bigram features — the " +
        "importance weights cannot be estimated (need target docs with " +
        ">= 2 tokens)")
    lmRows.toSeq.toDF("f", "c_r", "c_t")
  }

  /** The (1 − keepFrac) corpus-percentile score threshold, as a 1-row
    * frame for a broadcast cross join. SHARED by t20 and p06. */
  private[graft] def dsirCutOf(scored: DataFrame, keepFrac: Double): DataFrame = {
    require(keepFrac > 0.0 && keepFrac <= 1.0,
      s"dsirSelect: keepFrac must be in (0, 1], got $keepFrac")
    scored.agg(
      expr(s"percentile(score_milli, ${1.0 - keepFrac})").as("cut"))
  }

  /** t20's kernel over any (doc_id, text) pool and a target-membership
    * predicate evaluated against the pool's OTHER columns
    * (graft.ops.Text API). The pool is projected to exactly
    * (doc_id, text, is_target) BEFORE the kernel runs, so user column
    * names can never collide with the kernel's internals (`f`, `bg`,
    * `words`) and no user payload is carried per-bigram through the
    * explodes. */
  private[graft] def dsirSelectOf(pool: DataFrame, isTarget: Column,
                                  keepFrac: Double = DsirKeepFrac): DataFrame = {
    require(keepFrac > 0.0 && keepFrac <= 1.0,
      s"dsirSelect: keepFrac must be in (0, 1], got $keepFrac")
    val pool3 = pool.select(col("doc_id"), col("text"),
      isTarget.as("is_target"))
    val lm = dsirLmOf(pool3)
    // eager checkpoint: the threshold branch reads the materialized
    // per-doc scores instead of re-planning the corpus scan
    val scored = dsirScoresLazy(hashedBigramsOf(pool3.drop("is_target")), lm)
      .localCheckpoint(true)
    scored.crossJoin(broadcast(dsirCutOf(scored, keepFrac)))
      .withColumn("selected", col("score_milli") >= col("cut"))
      .select("doc_id", "n_feats", "score_milli", "selected")
  }

  /** Hashed-bigram feature explode of a (doc_id, text, …) frame: one row
    * per adjacent word pair, f = h60(w1 ⧺ ' ' ⧺ w2) mod [[DsirBuckets]].
    * Carries every non-text input column through (the LM aggregation
    * reads `is_target`; the scoring pass drops it). */
  private[graft] def hashedBigramsOf(df: DataFrame): DataFrame = df
    .withColumn("words", split(col("text"), " "))
    .filter(size(col("words")) >= 2)
    .select(col("*"), explode(expr(
      "transform(sequence(1, size(words) - 1), " +
        "i -> concat(words[i-1], ' ', words[i]))")).as("bg"))
    .select(col("*"), (expr(h60("bg")) % DsirBuckets).as("f"))
    .drop("text", "words", "bg")

  /** The lazy scoring subtree (one pool scan + one broadcast join + one
    * hash agg) — separated so PlanSpec can gate its physical shape, which
    * the eager checkpoint in [[dsirSelectOf]] would otherwise hide behind
    * a `Scan ExistingRDD`. `carry` names doc-level columns (functionally
    * determined by doc_id) to pass through the aggregation — p06 carries
    * (source, sig, n_tokens) so the pipeline never rejoins the corpus at
    * doc granularity; adding them as group keys leaves the cardinality
    * (= docs) and shuffle shape unchanged. */
  private[graft] def dsirScoresLazy(feats: DataFrame, lm: DataFrame,
                                    carry: Seq[String] = Nil): DataFrame =
    feats
      .join(broadcast(lm), Seq("f"), "left")
      .withColumn("bits_t",
        (length(expr("bin(coalesce(c_t, 0L) + 1)")) - 1).cast("long"))
      .withColumn("bits_r",
        (length(expr("bin(coalesce(c_r, 0L) + 1)")) - 1).cast("long"))
      .groupBy(("doc_id" +: carry).map(col): _*)
      .agg(count(lit(1)).as("n_feats"),
        sum("bits_t").as("sum_t"), sum("bits_r").as("sum_r"))
      .withColumn("score_milli",
        expr("(1000 * sum_t) div n_feats - (1000 * sum_r) div n_feats"))
      .select(("doc_id" +: carry :+ "n_feats" :+ "score_milli").map(col): _*)

  /** t21's gram width: 3-word grams are denser than d10's 5-token spans,
    * so the novelty signal saturates more slowly on small corpora. */
  val NoveltyK = 3

  /** t21: marginal-novelty scoring in ingestion order.
    *
    * For each document, the fraction of its DISTINCT word [[NoveltyK]]-
    * grams that the document INTRODUCES to the corpus — i.e. no document
    * with a smaller `doc_id` (= earlier ingestion) contains the gram. A
    * low `novel_milli` marks a document that is mostly re-statement of
    * earlier material: the standard streaming-curation/pruning signal
    * (the incremental complement of d10's symmetric span accounting —
    * d10 says "duplicated somewhere", t21 says "duplicated by the time
    * it arrived"). Deterministic: ingestion order is the stable doc_id
    * order, never arrival nondeterminism.
    *
    * Scale shape: ONE corpus scan → gram explode → distinct (doc, gram)
    * pairs with grams md5-hashed to 60-bit ints so no shuffle carries
    * gram text → first-introducer via a full-partition `min` window on
    * the gram hash (per-gram partitions are the distinct-doc list —
    * bounded by corpus duplication, never by corpus size) → per-doc hash
    * agg. Three hash-partitioned exchanges, all on keys; no join, no
    * global sort. Docs with < k words have no grams and are omitted. */
  def t21NoveltyFrac(s: SparkSession, d: String): DataFrame =
    noveltyOf(documents(s, d), NoveltyK).orderBy("doc_id")

  /** t21's kernel over any (doc_id, text) frame (graft.ops.Corpus API). */
  private[graft] def noveltyOf(docs: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"noveltyFractions: gram width must be >= 1, got $k")
    val pairs = docs
      .withColumn("words", split(col("text"), " "))
      .filter(size(col("words")) >= k)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(words) - ${k - 1}), " +
          s"i -> concat_ws(' ', slice(words, i, $k)))")).as("g"))
      .select(col("doc_id"), expr(h60("g")).as("f"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window.partitionBy("f")
    pairs.withColumn("first_doc", min("doc_id").over(w))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        count_if(col("first_doc") === col("doc_id")).as("n_novel"))
      .withColumn("novel_milli", expr("(1000 * n_novel) div n_grams"))
      .select("doc_id", "n_grams", "n_novel", "novel_milli")
  }

  val t21Sql: String =
    s"""WITH pairs AS (
       |  SELECT DISTINCT doc_id,
       |    ${h60Duck("array_to_string(words[i : i + " + (NoveltyK - 1) + "], ' ')")} AS f
       |  FROM (SELECT doc_id, string_split(text, ' ') AS words,
       |          unnest(range(1, len(string_split(text, ' ')) - ${NoveltyK - 2})) AS i
       |        FROM documents
       |        WHERE len(string_split(text, ' ')) >= $NoveltyK)
       |), firsts AS (
       |  SELECT doc_id, MIN(doc_id) OVER (PARTITION BY f) AS first_doc
       |  FROM pairs)
       |SELECT doc_id, COUNT(*) AS n_grams,
       |  COUNT(*) FILTER (first_doc = doc_id) AS n_novel,
       |  CAST((1000 * COUNT(*) FILTER (first_doc = doc_id)) // COUNT(*)
       |    AS BIGINT) AS novel_milli
       |FROM firsts GROUP BY 1 ORDER BY doc_id""".stripMargin

  /** The DSIR featurize→LM→score derivation as prefixed CTE text ending
    * in `<p>scored` (doc_id, n_feats, score_milli) and `<p>thr` (cut) —
    * SHARED by t20Sql and p06Sql so the importance-weight semantics can
    * never drift between the gated query and the composed pipeline (the
    * d10 spanSqlCtes lesson). */
  private[graft] def dsirSqlCtes(p: String): String =
    s"""${p}pool AS (
       |  SELECT doc_id,
       |    lang = '${TextOps.PplLang}' AND source IN
       |      (${TextOps.PplCleanSources.map(x => s"'$x'").mkString(", ")})
       |      AS is_target,
       |    string_split(text, ' ') AS words
       |  FROM documents
       |), ${p}feats AS (
       |  SELECT doc_id, is_target,
       |    ${h60Duck("words[i] || ' ' || words[i + 1]")} % $DsirBuckets AS f
       |  FROM (SELECT doc_id, is_target, words,
       |          unnest(range(1, len(words))) AS i
       |        FROM ${p}pool WHERE len(words) >= 2)
       |), ${p}lm AS (
       |  SELECT f, COUNT(*) AS c_r,
       |    COUNT(*) FILTER (is_target) AS c_t
       |  FROM ${p}feats GROUP BY 1
       |), ${p}sc AS (
       |  SELECT ${p}feats.doc_id,
       |    length(bin(CAST(COALESCE(${p}lm.c_t, 0) + 1 AS BIGINT))) - 1 AS bits_t,
       |    length(bin(CAST(COALESCE(${p}lm.c_r, 0) + 1 AS BIGINT))) - 1 AS bits_r
       |  FROM ${p}feats LEFT JOIN ${p}lm USING (f)
       |), ${p}scored AS (
       |  SELECT doc_id, COUNT(*) AS n_feats,
       |    CAST((1000 * SUM(bits_t)) // COUNT(*)
       |      - (1000 * SUM(bits_r)) // COUNT(*) AS BIGINT) AS score_milli
       |  FROM ${p}sc GROUP BY 1
       |), ${p}thr AS (
       |  SELECT quantile_cont(score_milli, ${1.0 - DsirKeepFrac}) AS cut
       |  FROM ${p}scored)""".stripMargin

  val t20Sql: String =
    s"""WITH ${dsirSqlCtes("")}
       |SELECT doc_id, n_feats, score_milli, score_milli >= cut AS selected
       |FROM scored CROSS JOIN thr ORDER BY doc_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t20_dsir_select" -> t20DsirSelect _,
    "t21_novelty_frac" -> t21NoveltyFrac _,
  )

  val oracles: Map[String, String] = Map(
    "t20_dsir_select" -> t20Sql,
    "t21_novelty_frac" -> t21Sql,
  )
}
