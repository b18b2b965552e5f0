package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Second wave of corpus-dedup operators: segment-level (paragraph) dedup and
  * bloom-prefiltered incremental dedup — the two shapes a production
  * training-data pipeline runs besides whole-document dedup (CCNet-style
  * paragraph dedup; daily-ingest dedup against the existing corpus).
  *
  * Scale design notes:
  *  - d08 is explode → hash-groupBy → equi-join back, all shuffle-on-key; the
  *    canonical-occurrence choice is a plain min-aggregate, so map-side
  *    partial aggregation applies and no segment text ever concentrates on
  *    one node beyond its true duplicate group.
  *  - d09 builds the Bloom filter on the SMALL side (the new ingest batch)
  *    and streams the 100-TB corpus scan through it — the filter is
  *    broadcast-sized regardless of corpus size. Bloom false positives are
  *    removed by an exact hash equi-join afterwards, so the result is
  *    exactly the semi-join the oracle computes; the filter is purely a
  *    scan-reduction device (no false negatives by construction).
  */
object DedupOps2 {
  import Tables._
  import DedupOps.{h60, h60Duck}

  /** Words per dedup segment (the "paragraph" unit — this corpus has no
    * newline structure, so segmentation is fixed-width over the word list,
    * which is the same operator algebra as CCNet line-level dedup). */
  val SegWords = 10

  /** Max segments per document for the packed canonical key
    * (doc_id * 1e6 + seg_idx). 1e6 segments × 10 words = 10M-word docs;
    * anything larger is malformed input and fails fast. */
  private val MaxSegs = 1000000L

  /** Segment any (doc_id, text)-shaped input — callers filter the corpus
    * BEFORE segmentation so the explode only runs over the rows they keep
    * (the new-batch side of d09/p02 is a few percent of the corpus; an
    * explode-then-filter would pay the full corpus explode per branch). */
  private[graft] def segmentsOf(docs: DataFrame,
                                passthrough: Seq[String] = Nil): DataFrame =
    docs
      .withColumn("words", split(col("text"), " "))
      .withColumn("nw", size(col("words")))
      .select((col("doc_id") +: passthrough.map(col)) :+ col("words") :+
        col("nw") :+
        explode(expr(s"sequence(0, (nw - 1) div $SegWords)")).as("seg_idx"): _*)
      .withColumn("seg",
        expr(s"concat_ws(' ', slice(words, seg_idx * $SegWords + 1, $SegWords))"))
      .withColumn("seg_words",
        expr(s"least(nw - seg_idx * $SegWords, $SegWords)").cast("long"))
      .select(("doc_id" +: "seg_idx" +: "seg" +: "seg_words" +:
        passthrough).map(col): _*)

  private[queries] def segments(s: SparkSession, d: String): DataFrame =
    segmentsOf(documents(s, d))

  private[queries] val segmentsSql: String =
    s"""SELECT doc_id, seg_idx,
       |  array_to_string(words[seg_idx*$SegWords+1 : seg_idx*$SegWords+$SegWords], ' ') AS seg,
       |  LEAST(nw - seg_idx*$SegWords, $SegWords) AS seg_words
       |FROM (
       |  SELECT doc_id, words, len(words) AS nw,
       |    unnest(range(0, (len(words)-1)//$SegWords + 1)) AS seg_idx
       |  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents))""".stripMargin

  /** Segment-level (paragraph) dedup, CCNet-style: hash each fixed-width
    * word segment, keep only the globally first occurrence of each distinct
    * segment (min (doc_id, seg_idx), packed into one bigint key so both
    * engines order identically), and report per-document how much text
    * survives. Mirrors the reference's "drop duplicated content, keep one
    * canonical copy" semantics at sub-document granularity. */
  def d08ParagraphDedup(s: SparkSession, d: String): DataFrame =
    paragraphDedupOf(documents(s, d)).orderBy("doc_id")

  /** The packed (doc, seg) canonical key with the overflow guard folded
    * INTO the expression so pruning can't drop it: a doc with >= MaxSegs
    * segments would collide into the next doc_id's key space and
    * silently mis-pick canonicals — fail fast instead. Shared by d08 and
    * d14 so their canonicalization cannot drift. */
  private def guardedSegKey(tag: String) = coalesce(
    assert_true(col("seg_idx") < MaxSegs,
      lit(s"$tag: document exceeds $MaxSegs segments — packed key would collide"))
      .cast("long"),
    col("doc_id") * MaxSegs + col("seg_idx"))

  /** The d08 kernel over any (doc_id, text) frame (graft.ops.Corpus API). */
  private[graft] def paragraphDedupOf(docs: DataFrame): DataFrame = {
    val segs = segmentsOf(docs)
      .withColumn("ck", guardedSegKey("d08"))
      .withColumn("h", md5(col("seg")))
    val canon = segs.groupBy("h").agg(min("ck").as("canon_ck"))
    segs.join(canon, "h")
      .withColumn("kept", (col("ck") === col("canon_ck")).cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_segs"),
        sum(lit(1L) - col("kept")).cast("long").as("n_dropped"),
        sum(col("seg_words") * col("kept")).cast("long").as("kept_words"))
  }

  val d08Sql: String =
    s"""WITH segs AS ($segmentsSql),
       |keyed AS (
       |  SELECT doc_id, seg_idx, seg, seg_words,
       |    doc_id * $MaxSegs + seg_idx AS ck, md5(seg) AS h
       |  FROM segs),
       |canon AS (SELECT h, MIN(ck) AS canon_ck FROM keyed GROUP BY h)
       |SELECT doc_id, COUNT(*) AS n_segs,
       |  CAST(SUM(CASE WHEN ck = canon_ck THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
       |  CAST(SUM(CASE WHEN ck = canon_ck THEN seg_words ELSE 0 END) AS BIGINT) AS kept_words
       |FROM keyed JOIN canon USING (h)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** The "new ingest batch" partition used by d09: one source feed. */
  val NewBatchSource = "src19"

  /** Unique suffix for d09's per-invocation temp view (the scalar-subquery
    * route into the native bloom pair needs a named relation). */
  private val BloomViewId = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Incremental-ingest dedup: which documents of today's batch repeat
    * content already in the standing corpus? Granularity is the d08 segment
    * (10-word window), so verbatim copies AND partial-overlap docs are both
    * caught. The batch's distinct segment hashes go into a Bloom filter
    * (small side!); the corpus segment stream is prefiltered by
    * `mightContain` so only hash-colliding segments leave the scan, then an
    * exact hash equi-join + aggregate produces, per new document, how much
    * of it already exists and where it was first seen. The Bloom pass cuts
    * the post-scan shuffle volume from |corpus segments| to
    * |collisions + false positives| — at 100 TB that is the difference
    * between shuffling the corpus and shuffling almost nothing — while the
    * confirm join keeps the result exact (no false negatives by
    * construction; false positives die in the join). */
  def d09BloomIncremental(s: SparkSession, d: String): DataFrame = {
    // the source filters run BELOW segmentation (and reach the parquet
    // scan), so each branch explodes only its own slice of the corpus —
    // the new-batch side is a few percent, cheap enough to recompute
    val docs = documents(s, d).select("doc_id", "source", "text")
    bloomIncrementalOf(s,
      docs.filter(col("source") =!= NewBatchSource),
      docs.filter(col("source") === NewBatchSource))
      .orderBy("doc_id")
  }

  /** The d09 kernel over any standing-corpus / new-batch pair of
    * (doc_id, text) frames (graft.ops.Corpus API). */
  private[graft] def bloomIncrementalOf(s: SparkSession,
                                        corpus: DataFrame,
                                        newBatch: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val newSegs = segmentsOf(newBatch)
      .withColumn("h", expr(h60("seg")))
      .select("doc_id", "h").distinct()
    // one eager pass sizes the filter; the build itself is DEFERRED into
    // the probe plan as a scalar subquery, so no cache is needed
    val n = math.max(newSegs.count(), 1L)
    // same sizing rule as sketch.BloomFilter.create(n, 0.01): the native
    // agg takes explicit bits, not an fpp
    val numBits = math.max(64L,
      math.ceil(-n.toDouble * math.log(0.01)
        / (math.log(2) * math.log(2))).toLong)
    // Spark's NATIVE bloom pair (r10, replacing the one scalar udf the
    // codebase had; registered under graft names by GraftFunctions since
    // Spark keeps BloomFilterAggregate/BloomFilterMightContain off the
    // public registry): the agg builds the sketch distributedly (partial
    // merge, one binary row out), and the probe over the scalar subquery
    // compiles to the codegen'd BloomFilterMightContain — the corpus scan
    // stays whole-stage codegen instead of breaking at a JVM lambda. The
    // subquery result (the filter binary, ~1.2 MB per 10^6 new segments)
    // ships to executors as a query-literal, the same payload the old
    // explicit broadcast carried.
    val view = s"graft_d09_new_segs_${BloomViewId.incrementAndGet()}"
    newSegs.createOrReplaceTempView(view)
    val probeCond =
      expr(s"graft_might_contain((SELECT graft_bloom_agg(h, ${n}L, " +
        s"${numBits}L) FROM $view), h)")
    val corpusHits = segmentsOf(corpus)
      .withColumn("h", expr(h60("seg")))
      .select(col("doc_id").as("corpus_id"), col("h"))
      .filter(probeCond).distinct()
    val perNew = newSegs.groupBy("doc_id").agg(count(lit(1)).as("n_segs"))
    val out = newSegs.join(corpusHits, "h") // exact confirm: kills bloom false positives
      .groupBy("doc_id")
      .agg(countDistinct("h").as("n_dup_segs"),
        min("corpus_id").as("first_seen_id"))
      .join(perNew, "doc_id")
      .withColumn("dup_frac",
        round(col("n_dup_segs").cast("double") / col("n_segs"), 4))
      .select("doc_id", "n_segs", "n_dup_segs", "dup_frac", "first_seen_id")
    // the scalar subquery is already RESOLVED into `out`'s analyzed plan
    // (Datasets analyze eagerly), so the view can be dropped here —
    // repeated invocations must not accumulate catalog entries
    s.catalog.dropTempView(view)
    out
  }

  val d09Sql: String =
    s"""WITH segs AS ($segmentsSql),
       |keyed AS (
       |  SELECT s.doc_id, ${h60Duck("s.seg")} AS h, d.source = '$NewBatchSource' AS is_new
       |  FROM segs s JOIN documents d ON s.doc_id = d.doc_id),
       |nb AS (SELECT DISTINCT doc_id, h FROM keyed WHERE is_new),
       |corpus AS (SELECT DISTINCT doc_id AS corpus_id, h FROM keyed WHERE NOT is_new),
       |per_new AS (SELECT doc_id, COUNT(*) AS n_segs FROM nb GROUP BY 1),
       |hits AS (
       |  SELECT nb.doc_id, COUNT(DISTINCT h) AS n_dup_segs,
       |    MIN(corpus_id) AS first_seen_id
       |  FROM nb JOIN corpus USING (h) GROUP BY 1)
       |SELECT doc_id, n_segs, n_dup_segs,
       |  ROUND(n_dup_segs::DOUBLE / n_segs, 4) AS dup_frac, first_seen_id
       |FROM hits JOIN per_new USING (doc_id) ORDER BY doc_id""".stripMargin

  /** d10: exact substring-span dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better", arXiv:2107.06499 — the
    * ExactSubstr family): find token spans duplicated ACROSS documents and
    * account for them as MAXIMAL spans, not isolated n-grams. A token
    * k-gram (k = [[SpanK]]) is "duplicated" when it appears in >= 2
    * distinct documents; per document, duplicated gram starts merge into
    * maximal token intervals — a new span opens only when a gram start
    * lies beyond the previous start's token coverage (gap > k-1), so
    * overlapping gram windows NEVER double-count tokens and a span of
    * starts [i0..i1] covers exactly i1 - i0 + k tokens (the paper's §2
    * merged-range accounting; dup_frac <= 1 by construction — the r7
    * formulation summed r + k - 1 per *consecutive* run and could count
    * overlap twice). Output: per contaminated doc, gram/span counts,
    * duplicated-token mass and fraction.
    *
    * Scale shape: ONE gram explode (linear in token mass) → hash agg on
    * gram with map-side partials (approx_count-free: exact distinct-doc
    * counts via two-level agg) → equi-join the duplicated-gram set back
    * to the per-doc gram stream → islands window on (doc) hash
    * partitions. No global sort, no cross product; the duplicated-gram
    * join is key-bucketed like d02's shingle join. Within-doc repetition
    * is d02/t10's job — requiring >= 2 DISTINCT docs keeps this the
    * cross-document operator. */
  val SpanK = 5

  def d10SpanDedup(s: SparkSession, d: String): DataFrame =
    spanDedupOf(documents(s, d), SpanK).orderBy("doc_id")

  /** d10's kernel over any (doc_id, text) frame (graft.ops.Corpus API). */
  private[graft] def spanDedupOf(docs: DataFrame, k: Int): DataFrame = {
    val grams = docs
      .withColumn("words", split(col("text"), " "))
      .withColumn("n_tokens", size(col("words")).cast("long"))
      .filter(col("n_tokens") >= k)
      .select(col("doc_id"), col("n_tokens"), posexplode(expr(
        s"transform(sequence(1, size(words) - ${k - 1}), " +
          s"i -> concat_ws(' ', slice(words, i, $k)))")).as(Seq("pos", "g")))
      .withColumn("i", col("pos").cast("long") + 1L)
      .drop("pos")
    // duplicated = present in >= 2 distinct docs; the distinct is per
    // (gram, doc) FIRST so the count is exact with map-side partials
    val dup = grams.select("g", "doc_id").distinct()
      .groupBy("g").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2).select("g")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("i")
    // starts are sorted, so the running max of covered token ends is
    // lag(i) + k - 1: a start more than k-1 past its predecessor opens a
    // new island; islands are disjoint token intervals by construction
    val runs = grams.join(dup, "g")
      .withColumn("new_island",
        when(col("i") - lag("i", 1).over(w) > (k - 1), 1).otherwise(0))
      .withColumn("island", sum("new_island").over(w))
      .groupBy("doc_id", "island")
      .agg(count(lit(1)).as("r"), min("i").as("i0"), max("i").as("i1"),
        max("n_tokens").as("n_tokens"))
      .withColumn("span_tokens", col("i1") - col("i0") + k)
    runs.groupBy("doc_id")
      .agg(max("n_tokens").as("n_tokens"),
        sum("r").as("n_dup_grams"),
        count(lit(1)).as("n_spans"),
        sum("span_tokens").as("dup_tokens"))
      .withColumn("dup_frac",
        round(col("dup_tokens").cast("double") / col("n_tokens"), 4))
      .select("doc_id", "n_tokens", "n_dup_grams", "n_spans",
        "dup_tokens", "dup_frac")
  }

  /** The duplicated-gram interval-merge derivation as prefixed CTE text
    * ending in `<p>spans` (doc_id, n_tokens, r, span_tokens) — SHARED by
    * d10Sql and p05Sql so the span-accounting semantics can never drift
    * between the gated query and the composed pipeline (the r7→r8
    * interval fix had to be applied to two hand-copies). */
  private[graft] def spanSqlCtes(p: String): String =
    s"""${p}t AS (
       |  SELECT doc_id, string_split(text, ' ') AS words,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents
       |), ${p}g AS (
       |  SELECT doc_id, n_tokens, i,
       |    array_to_string(words[i : i + ${SpanK - 1}], ' ') AS g
       |  FROM (SELECT doc_id, n_tokens, words,
       |          unnest(range(1, len(words) - ${SpanK - 2})) AS i
       |        FROM ${p}t WHERE n_tokens >= $SpanK)
       |), ${p}dup AS (
       |  SELECT g FROM (SELECT DISTINCT g, doc_id FROM ${p}g)
       |  GROUP BY g HAVING COUNT(*) >= 2
       |), ${p}runs AS (
       |  SELECT doc_id, n_tokens, i,
       |    CASE WHEN i - LAG(i) OVER (PARTITION BY doc_id ORDER BY i)
       |         > ${SpanK - 1} THEN 1 ELSE 0 END AS new_island
       |  FROM ${p}g JOIN ${p}dup USING (g)
       |), ${p}isl AS (
       |  SELECT doc_id, n_tokens, i,
       |    SUM(new_island) OVER (PARTITION BY doc_id ORDER BY i) AS island
       |  FROM ${p}runs
       |), ${p}spans AS (
       |  SELECT doc_id, MAX(n_tokens) AS n_tokens, COUNT(*) AS r,
       |    MAX(i) - MIN(i) + $SpanK AS span_tokens
       |  FROM ${p}isl GROUP BY doc_id, island)""".stripMargin

  val d10Sql: String =
    s"""WITH ${spanSqlCtes("")}
       |SELECT doc_id, MAX(n_tokens) AS n_tokens,
       |  CAST(SUM(r) AS BIGINT) AS n_dup_grams,
       |  COUNT(*) AS n_spans,
       |  CAST(SUM(span_tokens) AS BIGINT) AS dup_tokens,
       |  ROUND(SUM(span_tokens)::DOUBLE / MAX(n_tokens), 4) AS dup_frac
       |FROM spans GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** d11: longest cross-document duplicated token span via DISTRIBUTED
    * SUFFIX ORDERING — the machinery behind the ExactSubstr family (Lee
    * et al. 2022, arXiv:2107.06499 build a suffix array for exactly this
    * query): where d10 counts spans of duplicated FIXED-k grams, d11
    * finds, per document, the longest token span (up to [[SufCap]])
    * shared verbatim with ANY other document, plus the partner doc.
    *
    * Algorithm (the adjacent-LCP theorem): sort every token suffix of
    * the corpus (capped at SufCap tokens — the cap bounds both key width
    * and the reportable span, and makes the capped sort EXACT for spans
    * < SufCap); the longest span two docs share is realized by some
    * ADJACENT pair of suffixes from different docs in that order, because
    * every suffix between the two occurrences starts with the shared
    * span, and the run of same-doc suffixes around either occurrence
    * must end in a cross-doc adjacency inside the interval. So one sort
    * + one adjacent-pair pass gives every document's true maximum. The
    * sort KEY joins tokens with U+0001 — a separator BELOW every byte a
    * token can contain except NUL — so the string order equals token-
    * lexicographic order even for tokens with embedded tabs/newlines
    * (a space separator would let 'P\\tx' sort between 'P' and 'P y' and
    * split an adjacency); tokens containing U+0000/U+0001 are the one
    * documented precondition.
    *
    * Scale shape: the suffix explode is token-mass × SufCap (the honest
    * cost of suffix methods; production systems shrink the key with
    * hash-prefix doubling); the sort is ONE range-partitioned
    * distributed sort (`repartitionByRange` on the full sort key — no
    * single-partition window anywhere); adjacency is a per-partition
    * map; the P-1 cross-partition boundary pairs are fixed up from a
    * metadata-sized (2 rows/partition) head/tail collect — the t13
    * per-shard-partials pattern. The sorted frame is cached across the
    * boundary collect and the credit pass, then released behind an eager
    * checkpoint (the s04 cache-hygiene contract). */
  val SufCap = 30
  val MinSharedSpan = 5

  def d11SuffixLcp(s: SparkSession, d: String): DataFrame =
    suffixSpansOf(s, documents(s, d).select("doc_id", "text"),
      SufCap, MinSharedSpan).orderBy("doc_id")

  /** Token-level common-prefix length computed directly from the two
    * U+0001-joined sort KEYS (plain loop — runs inside the adjacency
    * mapPartitions): count separators inside the common char prefix, +1
    * when the prefix ends a complete token in BOTH keys. Shipping only
    * the key (not a 30-element token array per suffix row) cuts the
    * suffix shuffle's serialized width ~10×: measured 3.9 -> 2.5 s at
    * sf0.1 and 34.9 -> 21.1 s at 10× (local[8], min-of-2). */
  private def keyLcp(a: String, b: String): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    var seps = 0
    while (i < n && a.charAt(i) == b.charAt(i)) {
      if (a.charAt(i) == '\u0001') seps += 1
      i += 1
    }
    val aEnds = i == a.length || a.charAt(i) == '\u0001'
    val bEnds = i == b.length || b.charAt(i) == '\u0001'
    if (aEnds && bEnds && i > 0) seps + 1 else seps
  }

  /** The d11 kernel over any (doc_id, text) frame (graft.ops.Corpus
    * API). Output: (doc_id, span_tokens, partner_id) for every doc
    * sharing a span of >= minSpan tokens; partner = the lowest doc id
    * among the ADJACENT-suffix witnesses of the maximum (other docs may
    * share the same span without being the adjacent witness — the
    * oracle replays the identical adjacency rule). */
  private[graft] def suffixSpansOf(s: SparkSession, docs: DataFrame,
                                   cap: Int, minSpan: Int): DataFrame = {
    import s.implicits._
    val sfx = docs
      .withColumn("words", split(col("text"), " "))
      .select(col("doc_id"), posexplode(expr(
        // U+0001 separator: sorts below every token byte (see scaladoc).
        // ONLY the joined key ships through the sort — token-level LCPs
        // are recovered from the key by keyLcp, so no 30-element token
        // array widens the shuffle (measured 1.6x faster at every scale)
        // chr(1) (not a string LITERAL): the '\\u0001' escape form goes
        // through the SQL string parser, which
        // spark.sql.parser.escapedStringLiterals=true would turn into a
        // literal 6-char backslash sequence and silently break keyLcp
        s"transform(sequence(1, size(words)), " +
          s"i -> concat_ws(chr(1), slice(words, i, $cap)))"))
        .as(Seq("pos", "key")))
      .withColumn("i", col("pos").cast("long") + 1L)
      .select("doc_id", "i", "key")
    val par = math.max(1, s.sparkContext.defaultParallelism)
    val sorted = sfx
      .repartitionByRange(par, col("key"), col("doc_id"), col("i"))
      .sortWithinPartitions("key", "doc_id", "i")
      .as[(Long, Long, String)]
      .cache()
    try {
      // cross-partition boundary pairs: (pid, first, last) per non-empty
      // partition — 2 rows per partition, metadata-sized at any scale
      val bounds = sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
        if (!it.hasNext) Iterator.empty
        else {
          val first = it.next()
          var last = first
          while (it.hasNext) last = it.next()
          Iterator((pid, first, last))
        }
      }.collect().sortBy(_._1)
      val boundaryCredits = bounds.map(b => (b._2, b._3)).sliding(2).flatMap {
        case Array((_, lastP), (firstQ, _)) if lastP._1 != firstQ._1 =>
          val l = keyLcp(lastP._3, firstQ._3)
          if (l >= minSpan)
            Seq((lastP._1, firstQ._1, l.toLong), (firstQ._1, lastP._1, l.toLong))
          else Nil
        case _ => Nil
      }.toSeq
      // within-partition adjacency: every consecutive cross-doc pair
      // credits BOTH docs with the common-prefix length
      val minS = minSpan
      val inner = sorted.mapPartitions { it =>
        var prev: (Long, Long, String) = null
        it.flatMap { cur =>
          val out =
            if (prev != null && prev._1 != cur._1) {
              val l = keyLcp(prev._3, cur._3)
              if (l >= minS)
                Seq((prev._1, cur._1, l.toLong), (cur._1, prev._1, l.toLong))
              else Nil
            } else Nil
          prev = cur
          out
        }
      }.toDF("doc_id", "partner", "lcp")
      val credits = inner.unionByName(
        boundaryCredits.toDF("doc_id", "partner", "lcp"))
      // max span, then lowest partner among the argmax — one struct agg
      credits.groupBy("doc_id")
        .agg(max(struct(col("lcp").as("l"),
          (lit(0L) - col("partner")).as("np"))).as("m"))
        .select(col("doc_id"), col("m.l").as("span_tokens"),
          (lit(0L) - col("m.np")).as("partner_id"))
        .localCheckpoint(true)
    } finally sorted.unpersist(blocking = false)
  }

  val d11Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS words FROM documents
       |), sfx AS (
       |  SELECT doc_id, i,
       |    words[i : least(i + ${SufCap - 1}, len(words))] AS toks,
       |    array_to_string(words[i : least(i + ${SufCap - 1}, len(words))],
       |      chr(1)) AS key
       |  FROM (SELECT doc_id, words, unnest(range(1, len(words) + 1)) AS i
       |        FROM t)
       |), ord AS (
       |  SELECT doc_id, toks,
       |    LAG(doc_id) OVER w AS pdoc, LAG(toks) OVER w AS ptoks
       |  FROM sfx WINDOW w AS (ORDER BY key, doc_id, i)
       |), pairs AS (
       |  SELECT doc_id, pdoc,
       |    len(list_filter(range(1, least(len(toks), len(ptoks)) + 1),
       |      k -> toks[1 : CAST(k AS INT)] = ptoks[1 : CAST(k AS INT)])) AS lcp
       |  FROM ord WHERE pdoc IS NOT NULL AND pdoc <> doc_id
       |), credits AS (
       |  SELECT doc_id, pdoc AS partner, lcp FROM pairs
       |  UNION ALL SELECT pdoc AS doc_id, doc_id AS partner, lcp FROM pairs
       |), best AS (
       |  SELECT doc_id, MAX(lcp) AS span_tokens FROM credits
       |  WHERE lcp >= $MinSharedSpan GROUP BY doc_id)
       |SELECT b.doc_id AS doc_id, CAST(b.span_tokens AS BIGINT) AS span_tokens,
       |  CAST(MIN(c.partner) AS BIGINT) AS partner_id
       |FROM best b JOIN credits c
       |  ON c.doc_id = b.doc_id AND c.lcp = b.span_tokens
       |GROUP BY b.doc_id, b.span_tokens
       |ORDER BY b.doc_id""".stripMargin

  /** d12: soft (weighted) deduplication — instead of HARD-dropping exact
    * duplicates (d01's min-id survivor), every copy stays in the corpus
    * with sampling weight 1/n_copies, so the duplicated content's total
    * training exposure equals one copy's (the down-weight-don't-drop
    * alternative the SoftDeDup line of work argues preserves tail
    * knowledge better than deletion). Weights are integer milli-units
    * (`1000 div n_copies` — exact, engine-deterministic) and the
    * effective token mass `n_tokens · weight_milli` is what a mix stage
    * consumes.
    *
    * Scale shape: one corpus scan → one full-partition count window on
    * the content hash (the d01 shuffle key) → map-only arithmetic. No
    * join, no sort. */
  def d12SoftDedup(s: SparkSession, d: String): DataFrame =
    softDedupOf(documents(s, d)).orderBy("doc_id")

  /** d12's kernel over any (doc_id, text) frame (graft.ops.Corpus API). */
  private[graft] def softDedupOf(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("sig")
    docs
      .withColumn("sig", md5(col("text")))
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .withColumn("n_copies", count(lit(1)).over(w))
      .withColumn("weight_milli", expr("1000 div n_copies"))
      .withColumn("eff_tokens_milli", col("n_tokens") * col("weight_milli"))
      .select("doc_id", "n_copies", "n_tokens", "weight_milli",
        "eff_tokens_milli")
  }

  val d12Sql: String =
    """SELECT doc_id, n_copies, n_tokens,
      |  1000 // n_copies AS weight_milli,
      |  n_tokens * (1000 // n_copies) AS eff_tokens_milli
      |FROM (SELECT doc_id,
      |        COUNT(*) OVER (PARTITION BY md5(text)) AS n_copies,
      |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |      FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** d13's held-out fraction: clusters whose canonical hash lands in
    * residue 0 of [[LeakSplitMod]] go to 'val' (≈ 1/mod of clusters). */
  val LeakSplitMod = 10L

  /** d13: leakage-safe train/val split — the assignment is CLUSTER-atomic,
    * so two near-duplicate documents can never straddle the eval
    * boundary. Splitting uniformly at the document level leaks: a val doc
    * whose near-twin sits in train is partially memorized, and measured
    * eval loss understates true held-out loss (the decontamination
    * failure t11 guards against, created by one's own split instead of an
    * external benchmark). Every document joins its d04/d07 near-dup
    * component (docs in no candidate pair are singleton clusters); the
    * split decision hashes the CLUSTER id, never the doc id.
    *
    * Scale shape: the d04 banded-LSH candidate pairs feed the shared
    * [[DedupOps.connectedComponents]] (single-task union-find below the
    * edge bound, distributed min-label + pointer doubling above it —
    * labels checkpoint-materialized either way); the corpus then takes
    * ONE left equi-join against the label table and a map-only hash
    * decision. No new shuffle class beyond d07's. */
  def d13LeakageSplit(s: SparkSession, d: String): DataFrame =
    // UNSPREAD id scan (r16): the universe side goes straight into an
    // equi-join (its own exchange or a broadcast probe) and a map-only
    // hash decision — the spread's round-robin exchange bought nothing
    leakageSplitOf(s, Tables.documentsUnspread(s, d).select("doc_id"),
      DedupOps.d04Pairs(s, d).select("doc_a", "doc_b"), LeakSplitMod)
      .orderBy("doc_id")

  /** d13's kernel over any (doc_id) universe frame + undirected
    * candidate-pair frame (graft.ops.Corpus API). */
  private[graft] def leakageSplitOf(s: SparkSession, docIds: DataFrame,
                                    pairs: DataFrame, mod: Long): DataFrame = {
    require(mod >= 2, s"leakageSplit: mod must be >= 2, got $mod")
    val labels =
      DedupOps.connectedComponents(s, pairs, DedupOps.SingleTaskEdgeMax)
    docIds
      .join(labels.select(col("doc_id"), col("label")), Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("label"), col("doc_id")))
      .withColumn("split",
        when(expr(h60("cast(cluster_id as string)")) % mod === 0L,
          lit("val")).otherwise(lit("train")))
      .select("doc_id", "cluster_id", "split")
  }

  /** The d13 split rule as SQL expression text over a cluster-id
    * expression — SHARED by d13Sql and PipelineOps.p09Sql (the
    * dsirSqlCtes anti-drift lesson): if the split hash ever changes,
    * the audit's oracle moves with it. */
  private[graft] def splitSqlCase(clusterExpr: String): String =
    s"CASE WHEN ${h60Duck(s"CAST($clusterExpr AS VARCHAR)")}" +
      s" % $LeakSplitMod = 0 THEN 'val' ELSE 'train' END"

  val d13Sql: String =
    s"""WITH RECURSIVE ${DedupOps.ccSqlCtes}
       |SELECT d.doc_id,
       |  COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
       |  ${splitSqlCase("COALESCE(c.cluster_id, d.doc_id)")} AS split
       |FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
       |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- d14

  /** d14: cross-source duplicate provenance — the triage step between
    * detecting duplication (d08) and acting on it: a segment duplicated
    * WITHIN one source is boilerplate (template headers, nav chrome —
    * fix that source's extractor), while one duplicated ACROSS sources
    * is syndication (keep one canonical, credit the origin). Per
    * duplicated d08 segment (n_copies ≥ 2 occurrences): copy count,
    * distinct source count, the dominant source (ties to the
    * lexicographically lowest), its copy count, and the cross-source
    * flag. Granularity, hash and canonicalization are EXACTLY d08's
    * (same [[segmentsOf]] unit, same md5, same packed min-(doc, seg)
    * canonical key — the shared-kernel anti-drift convention), so "what
    * d08 would drop" and "where it came from" are the same clusters.
    *
    * Scale shape: ONE corpus segment explode (source carried through
    * the kernel — no re-join onto the corpus) → hash agg to the
    * (hash, source) table (duplicate-mass-sized, checkpointed) — the
    * per-cluster window and totals run on that thin frame, never the
    * corpus. */
  def d14DupProvenance(s: SparkSession, d: String): DataFrame =
    dupProvenanceOf(documents(s, d))
      .orderBy("canonical_doc", "canonical_seg")

  /** d14's kernel over any (doc_id, source, text) frame
    * (graft.ops.Corpus API). */
  private[graft] def dupProvenanceOf(docs: DataFrame): DataFrame = {
    val hs = segmentsOf(docs.select("doc_id", "source", "text"),
        passthrough = Seq("source"))
      .withColumn("h", md5(col("seg")))
      .withColumn("ck", guardedSegKey("d14"))
      .groupBy("h", "source")
      .agg(count(lit(1)).as("n"), min("ck").as("src_min_ck"))
      .localCheckpoint(true)
    // asc_nulls_last: a NULL source must not win ties over a real one
    // (Spark sorts nulls first on plain asc; DuckDB sorts them last)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("h").orderBy(col("n").desc, col("source").asc_nulls_last)
    val tot = hs.groupBy("h").agg(sum("n").as("n_copies"),
      count(lit(1)).as("n_sources"), min("src_min_ck").as("canon_ck"))
    hs.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .join(tot, "h")
      .filter(col("n_copies") >= 2)
      .select(expr(s"canon_ck div $MaxSegs").as("canonical_doc"),
        expr(s"canon_ck % $MaxSegs").as("canonical_seg"),
        col("n_copies"), col("n_sources"),
        col("source").as("top_source"), col("n").as("top_n"),
        (col("n_sources") > 1).as("cross_source"))
  }

  val d14Sql: String =
    s"""WITH vsegs AS ($segmentsSql),
       |vh AS (
       |  SELECT s.doc_id, s.seg_idx, d.source, md5(s.seg) AS h,
       |    s.doc_id * $MaxSegs + s.seg_idx AS ck
       |  FROM vsegs s JOIN documents d USING (doc_id)
       |), vhs AS (
       |  SELECT h, source, COUNT(*) AS n, MIN(ck) AS src_min_ck
       |  FROM vh GROUP BY 1, 2
       |), vtop AS (
       |  SELECT h, source, n,
       |    ROW_NUMBER() OVER (PARTITION BY h ORDER BY n DESC, source) AS rk
       |  FROM vhs
       |), vtot AS (
       |  SELECT h, CAST(SUM(n) AS BIGINT) AS n_copies,
       |    COUNT(*) AS n_sources, MIN(src_min_ck) AS canon_ck
       |  FROM vhs GROUP BY 1)
       |SELECT CAST(t.canon_ck // $MaxSegs AS BIGINT) AS canonical_doc,
       |  CAST(t.canon_ck % $MaxSegs AS BIGINT) AS canonical_seg,
       |  t.n_copies, CAST(t.n_sources AS BIGINT) AS n_sources,
       |  p.source AS top_source, CAST(p.n AS BIGINT) AS top_n,
       |  t.n_sources > 1 AS cross_source
       |FROM vtot t JOIN vtop p ON t.h = p.h AND p.rk = 1
       |WHERE t.n_copies >= 2
       |ORDER BY canonical_doc, canonical_seg""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d14_dup_provenance" -> d14DupProvenance _,
    "d13_leakage_split" -> d13LeakageSplit _,
    "d12_soft_dedup" -> d12SoftDedup _,
    "d11_suffix_lcp" -> d11SuffixLcp _,
    "d10_span_dedup" -> d10SpanDedup _,
    "d08_paragraph_dedup" -> d08ParagraphDedup _,
    "d09_bloom_incremental" -> d09BloomIncremental _,
  )

  val oracles: Map[String, String] = Map(
    "d14_dup_provenance" -> d14Sql,
    "d13_leakage_split" -> d13Sql,
    "d12_soft_dedup" -> d12Sql,
    "d11_suffix_lcp" -> d11Sql,
    "d10_span_dedup" -> d10Sql,
    "d08_paragraph_dedup" -> d08Sql,
    "d09_bloom_incremental" -> d09Sql,
  )
}
