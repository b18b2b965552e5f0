package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Event-stream operators in their batch form (deterministic + oracle-able).
  * The same plans run as Structured Streaming queries in
  * graft.streaming.StreamingPipelines (readStream + watermark + window /
  * flatMapGroupsWithState) — covered by StreamingSpec, since streaming
  * micro-batch timing is not DuckDB-comparable.
  */
object StreamOps {
  import Tables._

  /** Sessionization: a new session starts after a >30 min gap per user —
    * the batch twin of the mapGroupsWithState session query. */
  def st01Sessionize(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val ev = events(s, d)
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("prev_us", lag("ts_us", 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_us").isNull ||
          col("ts_us") - col("prev_us") > 30L * 60 * 1000000, 1L).otherwise(0L))
      .withColumn("session_no",
        sum("new_session").over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
    ev.groupBy("user_id", "session_no")
      .agg(count(lit(1)).as("n_events"),
        min("ts_us").as("start_us"), max("ts_us").as("end_us"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"),
        max("n_events").as("max_session_events"),
        sum(col("end_us") - col("start_us")).as("total_session_us"))
      .orderBy("user_id")
  }

  val st01Sql: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |    LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_us
      |  FROM events
      |), flagged AS (
      |  SELECT user_id, event_id, ts_us,
      |    CASE WHEN prev_us IS NULL OR ts_us - prev_us > 30 * 60 * 1000000
      |      THEN 1 ELSE 0 END AS new_session
      |  FROM ev
      |), sessions AS (
      |  SELECT user_id, event_id, ts_us,
      |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
      |  FROM flagged
      |), per_session AS (
      |  SELECT user_id, session_no, COUNT(*) AS n_events,
      |    MIN(ts_us) AS start_us, MAX(ts_us) AS end_us
      |  FROM sessions GROUP BY 1, 2)
      |SELECT user_id, COUNT(*) AS n_sessions,
      |  CAST(MAX(n_events) AS BIGINT) AS max_session_events,
      |  CAST(SUM(end_us - start_us) AS BIGINT) AS total_session_us
      |FROM per_session GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Sliding-window event rates: 1h windows sliding by 30min — the batch
    * twin of the streaming sliding-window aggregation. */
  def st02SlidingWindow(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("window.start")).as("wstart"),
        col("event_type"), col("n"))
      .orderBy("wstart", "event_type")

  val st02Sql: String =
    """WITH halfhours AS (
      |  SELECT epoch(date_trunc('hour', ts))
      |      + CASE WHEN extract(minute FROM ts) >= 30 THEN 1800 ELSE 0 END AS slot,
      |    event_type
      |  FROM events
      |), expanded AS (
      |  SELECT slot AS wstart, event_type FROM halfhours
      |  UNION ALL
      |  SELECT slot - 1800 AS wstart, event_type FROM halfhours)
      |SELECT CAST(wstart AS BIGINT) AS wstart, event_type, COUNT(*) AS n
      |FROM expanded GROUP BY 1, 2 ORDER BY wstart, event_type""".stripMargin

  /** Stream-static enrichment: the event stream joined to a static per-user
    * order profile (broadcast — the static side is a dimension), then
    * per-user activity aggregates. Batch twin of the Structured Streaming
    * stream-static join in StreamingPipelines.enrichedUserActivity. */
  def st03EnrichJoin(s: SparkSession, d: String): DataFrame = {
    val profile = orders(s, d)
      .groupBy(col("o_custkey").as("user_id"))
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("order_cents"))
    events(s, d)
      .join(broadcast(profile), Seq("user_id"), "left")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        coalesce(first(col("n_orders")), lit(0L)).as("n_orders"),
        coalesce(first(col("order_cents")), lit(0L)).as("order_cents"))
      .orderBy("user_id")
  }

  val st03Sql: String =
    """WITH profile AS (
      |  SELECT o_custkey AS user_id, COUNT(*) AS n_orders,
      |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS order_cents
      |  FROM orders GROUP BY 1)
      |SELECT e.user_id, COUNT(*) AS n_events,
      |  COALESCE(MIN(p.n_orders), 0)::BIGINT AS n_orders,
      |  COALESCE(MIN(p.order_cents), 0)::BIGINT AS order_cents
      |FROM events e LEFT JOIN profile p ON e.user_id = p.user_id
      |GROUP BY e.user_id ORDER BY e.user_id""".stripMargin

  /** Click→purchase attribution: every purchase matched to same-user
    * clicks in the preceding 10 minutes — the batch twin of the
    * STREAM-STREAM interval join (StreamingPipelines.attributedPurchases:
    * two watermarked streams, equi-join on user + event-time bound).
    * The equi+interval condition is the scale shape: co-partition by
    * user, state bounded by the watermark. */
  def st04StreamJoin(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).withColumn("ts_us", unix_micros(col("ts")))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts_us").as("click_us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts_us").as("purchase_us"))
    clicks.join(purchases, Seq("user_id"))
      .filter(col("purchase_us") >= col("click_us") &&
        col("purchase_us") <= col("click_us") + 10L * 60 * 1000000)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_attributed"),
        min(col("purchase_us") - col("click_us")).as("min_lag_us"))
      .orderBy("user_id")
  }

  val st04Sql: String =
    """WITH c AS (
      |  SELECT user_id, epoch_us(ts) AS click_us FROM events
      |  WHERE event_type = 'click'
      |), p AS (
      |  SELECT user_id, epoch_us(ts) AS purchase_us FROM events
      |  WHERE event_type = 'purchase')
      |SELECT c.user_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_attributed,
      |  CAST(MIN(purchase_us - click_us) AS BIGINT) AS min_lag_us
      |FROM c JOIN p ON c.user_id = p.user_id
      |  AND purchase_us >= click_us
      |  AND purchase_us <= click_us + 600000000
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Streaming dedup, batch twin: collapse repeated (user, event_type)
    * events inside each event-time hour to their first occurrence — the
    * batch equivalent of `dropDuplicatesWithinWatermark` keyed on
    * (user_id, event_type, hour) (state bounded by the watermark; see
    * StreamingPipelines.dedupedEvents for the streaming form). Per
    * event-type: raw volume vs surviving volume. */
  def st05StreamDedup(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .withColumn("hour", date_trunc("hour", col("ts")))
      .groupBy("user_id", "event_type", "hour")
      .agg(count(lit(1)).as("n_raw"))
      .groupBy("event_type")
      .agg(sum("n_raw").cast("long").as("n_raw"),
        count(lit(1)).as("n_dedup"))
      .orderBy("event_type")

  val st05Sql: String =
    """WITH keyed AS (
      |  SELECT user_id, event_type, date_trunc('hour', ts) AS hour,
      |    COUNT(*) AS n_raw
      |  FROM events GROUP BY 1, 2, 3)
      |SELECT event_type, CAST(SUM(n_raw) AS BIGINT) AS n_raw,
      |  COUNT(*) AS n_dedup
      |FROM keyed GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Unconverted clicks: clicks with NO same-user purchase in the 10
    * minutes after — the batch twin of the LEFT OUTER stream-stream
    * interval join (StreamingPipelines.unconvertedClicks: outer rows emit
    * only once the watermark passes the join bound, so state stays
    * bounded). Per user: total clicks vs unconverted clicks. */
  def st06UnconvertedClicks(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).withColumn("ts_us", unix_micros(col("ts")))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts_us").as("click_us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"),
        col("event_id").as("purchase_id"),
        col("ts_us").as("purchase_us"))
    clicks.join(purchases,
        col("user_id") === col("p_user_id") &&
          col("purchase_us") >= col("click_us") &&
          col("purchase_us") <= col("click_us") + 10L * 60 * 1000000,
        "left")
      .groupBy("user_id")
      .agg(countDistinct(col("click_id")).as("n_clicks"),
        countDistinct(when(col("purchase_id").isNull, col("click_id")))
          .as("n_unconverted"))
      .orderBy("user_id")
  }

  val st06Sql: String =
    """WITH c AS (
      |  SELECT user_id, event_id AS click_id, epoch_us(ts) AS click_us
      |  FROM events WHERE event_type = 'click'
      |), p AS (
      |  SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS purchase_us
      |  FROM events WHERE event_type = 'purchase')
      |SELECT c.user_id,
      |  COUNT(DISTINCT c.click_id) AS n_clicks,
      |  COUNT(DISTINCT CASE WHEN p.purchase_id IS NULL THEN c.click_id END)
      |    AS n_unconverted
      |FROM c LEFT JOIN p ON c.user_id = p.user_id
      |  AND purchase_us >= click_us AND purchase_us <= click_us + 600000000
      |GROUP BY c.user_id ORDER BY c.user_id""".stripMargin

  /** st07: per-key quota admission — the streaming rate-limit/budget cap:
    * each user's first `AdmitQuota` events (in event-time order, event_id
    * tiebreak) are admitted, the rest rejected; output is the per-user
    * admission ledger (totals + last admitted timestamp). The batch twin
    * of the `mapGroupsWithState` counter in
    * [[graft.streaming.StreamingPipelines.quotaAdmit]]. One window over
    * user-id hash partitions + one agg — no global sort before the final
    * ORDER BY; per-key state in the streaming twin is three longs. */
  val AdmitQuota = 60

  def st07QuotaAdmission(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    events(s, d)
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("admitted", row_number().over(w) <= AdmitQuota)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("admitted"), 1L).otherwise(0L)).as("n_admitted"),
        max(when(col("admitted"), col("ts_us"))).as("last_admitted_us"))
      .orderBy("user_id")
  }

  val st07Sql: String =
    s"""WITH ranked AS (
       |  SELECT user_id, epoch_us(ts) AS ts_us,
       |    ROW_NUMBER() OVER (PARTITION BY user_id
       |      ORDER BY epoch_us(ts), event_id) <= $AdmitQuota AS admitted
       |  FROM events)
       |SELECT user_id, COUNT(*) AS n_events,
       |  CAST(SUM(CASE WHEN admitted THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
       |  CAST(MAX(CASE WHEN admitted THEN ts_us END) AS BIGINT) AS last_admitted_us
       |FROM ranked GROUP BY user_id ORDER BY user_id""".stripMargin

  /** st09's per-user admission quota among gate-passing events. Smaller
    * than st07's so both gates (model cut AND quota) bind on the
    * benchmark corpus. */
  val ScoredQuota = 25

  /** st09: model-gated quota admission — "train batch, serve stream",
    * the online-curation shape: a per-event-type value cut (the
    * batch-trained model — each type's integer centi-mean) gates
    * arriving events, and gate-passing events then consume the user's
    * [[ScoredQuota]] in event-time order (event_id tiebreak). Output is
    * the per-user ledger: total events, gate-passing events, admitted
    * events, last admitted timestamp (null when nothing passed). The
    * batch twin of [[graft.streaming.StreamingPipelines.scoredAdmit]];
    * the cut table is metadata-sized (one row per event type) and joins
    * broadcast — in the streaming twin it is the static side of a
    * stream-static join (the st03 shape) feeding the st07-style
    * per-key counter.
    *
    * Scale shape: the inherent two passes (cut-training aggregation,
    * then the gate scan — the t20 shape) → broadcast cut join → ONE
    * chain over user-id hash partitions: a running passed-count window
    * computes admission and the per-user ledger aggregates in the same
    * consumer, so no output branch re-plans the scan. No global sort
    * before the final ORDER BY. */
  def st09ScoredAdmission(s: SparkSession, d: String): DataFrame = {
    // SINGLE consumer of the gated stream: a running passed-count window
    // computes admission in the same chain the ledger aggregates, so the
    // events table is scanned once for the gate pass (plus the inherent
    // cut-training aggregation — the t20-style two-pass shape), never
    // re-planned per output branch
    val gated = st09Gated(s, d)
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gated
      .withColumn("np",
        sum(when(col("passed"), 1L).otherwise(0L)).over(w))
      .withColumn("admitted", col("passed") && col("np") <= ScoredQuota)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        count_if(col("passed")).as("n_passed"),
        count_if(col("admitted")).as("n_admitted"),
        max(when(col("admitted"), col("ts_us"))).as("last_admitted_us"))
      .orderBy("user_id")
  }

  /** The gated event stream st09's batch and streaming twins share:
    * (event_id, user_id, ts_us, passed) with `passed` = value ≥ the
    * event type's batch-trained centi-mean cut. */
  private[graft] def st09Gated(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
      .withColumn("ts_us", unix_micros(col("ts")))
      .withColumn("v_centi", expr("cast(floor(value * 100) as bigint)"))
      .select("event_id", "user_id", "event_type", "ts_us", "v_centi")
    // FLOOR division on both engines: Spark `div` truncates toward zero
    // while DuckDB `//` floors — they disagree on negative sums, so the
    // cut is div with an explicit negative-remainder adjustment (exact
    // at any magnitude; values are nonnegative on the benchmark corpus
    // but the contract must not depend on that)
    val cuts = ev.groupBy("event_type")
      .agg(expr("sum(v_centi) div count(1) - " +
        "(case when sum(v_centi) % count(1) <> 0 and sum(v_centi) < 0 " +
        "then 1 else 0 end)").as("cut_centi"))
    ev.join(broadcast(cuts), "event_type")
      .withColumn("passed", col("v_centi") >= col("cut_centi"))
      .select("event_id", "user_id", "ts_us", "passed")
  }

  val st09Sql: String =
    s"""WITH ev AS (
       |  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us,
       |    CAST(FLOOR(value * 100) AS BIGINT) AS v_centi
       |  FROM events
       |), cuts AS (
       |  SELECT event_type,
       |    CAST(SUM(v_centi) // COUNT(*) AS BIGINT) AS cut_centi
       |  FROM ev GROUP BY 1
       |), gated AS (
       |  SELECT ev.*, v_centi >= cut_centi AS passed
       |  FROM ev JOIN cuts USING (event_type)
       |), adm AS (
       |  SELECT user_id, ts_us, passed,
       |    passed AND SUM(CASE WHEN passed THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY user_id ORDER BY ts_us, event_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |      <= $ScoredQuota AS admitted
       |  FROM gated)
       |SELECT user_id, COUNT(*) AS n_events,
       |  COUNT(*) FILTER (passed) AS n_passed,
       |  COUNT(*) FILTER (admitted) AS n_admitted,
       |  CAST(MAX(CASE WHEN admitted THEN ts_us END) AS BIGINT)
       |    AS last_admitted_us
       |FROM adm GROUP BY 1 ORDER BY user_id""".stripMargin

  /** st08: windowed heavy hitters — per tumbling 1-hour event-time
    * window, the [[HhK]] most active users (rank by count desc, user_id
    * tiebreak): hot-key / trending detection, the monitoring query every
    * stream pipeline runs. This batch twin is EXACT (full per-window
    * count + rank); the streaming twin
    * ([[graft.streaming.StreamingPipelines.heavyHitters]]) runs the
    * SpaceSaving sketch (Metwally et al. 2005) per window via
    * flatMapGroupsWithState with a bounded counter table — equal to this
    * exact form whenever the capacity covers the window's distinct keys,
    * and within the classic n/capacity overestimate bound otherwise
    * (both pinned by StreamingSpec). One shuffle to (window, user)
    * partial counts + one window rank — no global sort. */
  val HhK = 5

  def st08HeavyHitters(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("wstart").orderBy(col("n").desc, col("user_id"))
    events(s, d)
      .groupBy(window(col("ts"), "1 hour").as("win"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("win.start")).as("wstart"),
        col("user_id"), col("n"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= HhK)
      .select("wstart", "rk", "user_id", "n")
      .orderBy("wstart", "rk")
  }

  val st08Sql: String =
    s"""WITH counts AS (
       |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS wstart,
       |    user_id, COUNT(*) AS n
       |  FROM events GROUP BY 1, 2
       |), ranked AS (
       |  SELECT wstart, user_id, n,
       |    ROW_NUMBER() OVER (PARTITION BY wstart
       |      ORDER BY n DESC, user_id) AS rk
       |  FROM counts)
       |SELECT wstart, rk, user_id, n FROM ranked WHERE rk <= $HhK
       |ORDER BY wstart, rk""".stripMargin

  /** st10's drift flag: an hour whose event-type mix differs from the
    * stream's global mix by ≥ this L1 distance (in milli probability
    * units, max 2000) is "drifted" — the monitoring gate a training-data
    * ingest runs to catch upstream mix shifts. */
  val DriftThresholdMilli = 250L

  /** Sample-size floor for the drift flag: a window below this event
    * count is never flagged — floor-quantized milli ratios over a handful
    * of events make L1 large for purely statistical reasons (the sf0.001
    * corpus averages ~2 events/hour and EVERY window exceeded the L1
    * threshold before this guard; a monitor that always alarms is
    * vacuous). The l1_milli score itself is still emitted for every
    * window, so callers with their own correction can re-threshold. */
  val DriftMinWindowEvents = 20L

  /** st10: distribution-drift scoring per event-time hour.
    *
    * Baseline = the stream's global event-type distribution; each 1-hour
    * tumbling window scores L1(window mix, baseline) with every ratio
    * floored to integer milli units (1000·n div total — the t20 integer
    * contract), summed over the BASELINE type set (the window's types are
    * a subset by construction; a type absent from the window contributes
    * its full baseline mass). The streaming twin
    * (StreamingPipelines.driftScores) serves the same scoring keyed by
    * window with the baseline broadcast — train batch, serve stream, the
    * st09 shape.
    *
    * Scale shape: ONE corpus scan aggregates (window × type) counts —
    * metadata-sized output (hours × |type dictionary|), eagerly
    * checkpointed; baseline, totals, and the scoring grid all derive
    * from that aggregate, so no branch re-plans the event scan. The
    * grid cross-join is |windows| × |types| — bounded by time span and
    * dictionary, never by event count. */
  def st10DriftScore(s: SparkSession, d: String): DataFrame = {
    val counts = events(s, d)
      .select(unix_timestamp(date_trunc("hour", col("ts"))).as("wstart"),
        col("event_type"))
      .groupBy("wstart", "event_type")
      .agg(count(lit(1)).as("n_wt"))
      .localCheckpoint(true)
    val baseline = counts.groupBy("event_type").agg(sum("n_wt").as("n_t"))
    val p = baseline
      .crossJoin(broadcast(baseline.agg(sum("n_t").as("n_tot"))))
      .select(col("event_type"), expr("(1000 * n_t) div n_tot").as("p_milli"))
    val wtot = counts.groupBy("wstart").agg(sum("n_wt").as("n_w"))
    wtot.crossJoin(broadcast(p))
      .join(counts, Seq("wstart", "event_type"), "left")
      .withColumn("q_milli",
        expr("(1000 * coalesce(n_wt, 0L)) div n_w"))
      .groupBy("wstart", "n_w")
      .agg(sum(abs(col("q_milli") - col("p_milli"))).as("l1_milli"))
      .withColumn("drifted", col("l1_milli") >= DriftThresholdMilli &&
        col("n_w") >= DriftMinWindowEvents)
      .select(col("wstart"), col("n_w").as("n_events"),
        col("l1_milli"), col("drifted"))
      .orderBy("wstart")
  }

  val st10Sql: String =
    s"""WITH cnt AS (
       |  SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS wstart,
       |    event_type, COUNT(*) AS n_wt
       |  FROM events GROUP BY 1, 2
       |), base AS (
       |  SELECT event_type, SUM(n_wt) AS n_t FROM cnt GROUP BY 1
       |), p AS (
       |  SELECT event_type,
       |    CAST((1000 * n_t) // (SELECT SUM(n_t) FROM base) AS BIGINT) AS p_milli
       |  FROM base
       |), wtot AS (
       |  SELECT wstart, SUM(n_wt) AS n_w FROM cnt GROUP BY 1
       |), q AS (
       |  SELECT g.wstart, g.n_w, g.p_milli,
       |    CAST((1000 * COALESCE(c.n_wt, 0)) // g.n_w AS BIGINT) AS q_milli
       |  FROM (SELECT w.wstart, w.n_w, p.event_type, p.p_milli
       |        FROM wtot w CROSS JOIN p) g
       |  LEFT JOIN cnt c ON g.wstart = c.wstart AND g.event_type = c.event_type
       |)
       |SELECT wstart, CAST(MIN(n_w) AS BIGINT) AS n_events,
       |  CAST(SUM(ABS(q_milli - p_milli)) AS BIGINT) AS l1_milli,
       |  CAST(SUM(ABS(q_milli - p_milli)) AS BIGINT) >= $DriftThresholdMilli
       |    AND CAST(MIN(n_w) AS BIGINT) >= $DriftMinWindowEvents AS drifted
       |FROM q GROUP BY wstart ORDER BY wstart""".stripMargin

  /** st11: streaming NEAR-DUPLICATE admission — the semantic ingest
    * firewall: an arriving document batch (the HIGHEST 1/5 of doc ids —
    * the s15 split convention) is gated against the standing corpus
    * under the production s02 construction (hashed-bigram idf
    * embeddings, adaptive banded LSH, exact rescore): a doc is ADMITTED
    * iff no standing doc reaches cosine ≥ 0.9. The featurizer (standing
    * dfs, doc count, bit width) and the band index are FROZEN standing
    * state — the per-batch work is batch-gram-sized embed + batch
    * collision probe, the incremental-dedup shape d09 runs at the exact
    * level lifted to SEMANTIC near-dups. Batch twin of
    * [[graft.streaming.StreamingPipelines.nearDupAdmit]]; admission is
    * per-doc against standing state only, so the streaming replay's
    * micro-batch boundaries are semantically free (spec-pinned). */
  def st11NeardupAdmission(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.functions.GraftFunctions.register(s)
    // UNSPREAD scan for the split scalar and the standing state (r16):
    // the max(doc_id) agg is spread-invariant and metadata-cheap on the
    // bare scan, and admissionStateOf round-robin-repartitions its
    // input itself, making the spread redundant (plan-neutral — the
    // optimizer collapsed the adjacent repartitions anyway, see
    // OPTIMIZATION_r16 §3). The PROBE batch below keeps the spread — its
    // embed is the per-batch hot path and has no internal repartition.
    val rawDocs = Tables.documentsUnspread(s, d).select("doc_id", "text")
    val docs = documents(s, d).select("doc_id", "text")
    val maxId = rawDocs.agg(max("doc_id")).as[Long].head()
    val den = SimilarityOps.NewBatchDen
    val t = (maxId + 1L) * (den - 1L) / den
    require(t >= 1L && t <= maxId,
      s"st11: degenerate batch split t=$t for max id $maxId")
    // standing state is built ONCE per (session, dir, split) and probed
    // by every subsequent call — the gated entry's stand-in for loading
    // the persisted featurizer/index tables, so repeated invocations
    // (the bench's warmup + timed iterations) measure ADMISSION, the
    // per-batch production cost, not state construction (r9 verdict: the
    // in-query build made st11's bench row a state-build benchmark)
    // key by the CONTEXT's stable identity (applicationId + startTime is
    // unique per JVM lifetime — identityHashCode could collide and serve a
    // dead context's checkpointed RDDs); the state's localCheckpoint RDDs
    // belong to the SparkContext, so sessions sharing a context may share
    // state. Evicting other-context keys on entry keeps the map from
    // accumulating entries whose RDDs died with a stopped context.
    val ctxKey =
      s"${s.sparkContext.applicationId}@${s.sparkContext.startTime}"
    admissionStates.keySet.removeIf(k => !k.startsWith(ctxKey + "#"))
    val key = s"$ctxKey#$d#$t"
    val state = admissionStates.computeIfAbsent(key,
      _ => SimilarityOps.admissionStateOf(rawDocs.filter(col("doc_id") < t)))
    SimilarityOps.admissionProbeOf(state, docs.filter(col("doc_id") >= t))
      .orderBy("doc_id")
  }

  /** st11's standing-state registry: one entry per (context identity,
    * sf dir, batch split) — bounded (a handful of keys per live context;
    * other-context keys are evicted on entry since their checkpointed
    * frames died with that context). */
  private val admissionStates =
    new java.util.concurrent.ConcurrentHashMap[String, SimilarityOps.AdmissionState]()

  /** st12: streaming MEDIA admission — p13's mixed-container ingest as
    * an admission firewall (the st11 pattern lifted to the multimodal
    * tier): the standing corpus's pHash families are FROZEN state; an
    * arriving media batch (highest 1/5 of doc ids, the s15/st11 split
    * convention) is decoded through its containers' REAL codecs (PNG/
    * GIF/JPEG incl. progressive), normalized, perceptually hashed, and
    * ADMITTED iff its pHash matches no standing family. Admission
    * depends ONLY on (standing, doc) — never on other batch members —
    * so micro-batch boundaries cannot change any verdict (StreamingSpec
    * pins a two-batch replay against this entry, the
    * [[graft.streaming.StreamingPipelines.mediaAdmitBatch]] twin).
    *
    * Scale shape: standing registry = one corpus decode scan reduced to
    * DISTINCT pHashes (family-thin: one i64 per family — no payloads,
    * no gray rasters persist); the per-batch probe is a batch-side
    * decode + one equi-join on phash against the hash-partitioned
    * registry. No self-join, no all-pairs anywhere. */
  def st12MediaAdmission(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.functions.GraftFunctions.register(s)
    val ids = documents(s, d).select("doc_id")
    // split scalar from the bare scan (spread-invariant, metadata-cheap)
    val maxId = Tables.documentsUnspread(s, d)
      .agg(max("doc_id")).as[Long].head()
    val den = SimilarityOps.NewBatchDen
    val t = (maxId + 1L) * (den - 1L) / den
    require(t >= 1L && t <= maxId,
      s"st12: degenerate batch split t=$t for max id $maxId")
    val payloadSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("bytes",
        org.apache.spark.sql.types.BinaryType, nullable = false)))
    val hashed = MultiModalOps.mediaHashOf(ids
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          org.apache.spark.sql.Row(id, MultiModalOps.st12MediaBytes(id))
        }
      }(org.apache.spark.sql.catalyst.encoders.RowEncoder
        .encoderFor(payloadSchema)))
    // standing registry built ONCE per (context, dir, split) — the st11
    // gated-entry pattern: repeated invocations (bench warmup + timed
    // passes) measure ADMISSION, the per-batch production cost, not the
    // corpus-decode state build (the r9 st11 lesson)
    val ctxKey =
      s"${s.sparkContext.applicationId}@${s.sparkContext.startTime}"
    mediaRegistries.keySet.removeIf(k => !k.startsWith(ctxKey + "#"))
    val standing = mediaRegistries.computeIfAbsent(s"$ctxKey#$d#$t",
      _ => hashed.filter(col("doc_id") < t)
        .select("phash").distinct()
        .withColumn("standing_hit", lit(true))
        .localCheckpoint(true))
    hashed.filter(col("doc_id") >= t)
      .join(standing, Seq("phash"), "left")
      .select(col("doc_id"), col("container"), col("phash"),
        col("standing_hit").isNull.as("admitted"))
      .orderBy("doc_id")
  }

  /** st12's standing-registry cache: family-thin frames (one i64 per
    * standing pHash family), keyed and evicted like [[admissionStates]]. */
  private val mediaRegistries =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  /** Oracle: pHash from the content-group formula (the p13Sql CTEs —
    * no bytes, no codecs: the formula IS the normalized raster, so any
    * decode/normalize divergence in ANY of the three containers breaks
    * the hash match), split at the st11 convention, standing = distinct
    * pHashes below the split. */
  val st12Sql: String = {
    val den = SimilarityOps.NewBatchDen
    s"""WITH mf AS (
       |  SELECT doc_id, doc_id // 3 AS g, unnest(range(0, 64)) AS i
       |  FROM documents
       |), msd AS (
       |  SELECT doc_id, g, i,
       |    (CASE WHEN g % 4 = 3 THEN 16 + g // 4 ELSE g % 16 END) % 65536
       |      AS seed
       |  FROM mf
       |), mpx AS (
       |  SELECT doc_id, i,
       |    CASE WHEN i < 4 THEN ((seed >> (4 * i)) & 15) * 17
       |         ELSE ((seed * 13 + i * 7) % 16) * 17 END AS px
       |  FROM msd
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
       |), tt AS (
       |  SELECT ((MAX(doc_id) + 1) * ${den - 1}) // $den AS t FROM documents
       |), standing AS (
       |  SELECT DISTINCT m.phash FROM mhash m CROSS JOIN tt
       |  WHERE m.doc_id < tt.t
       |)
       |SELECT m.doc_id,
       |  CASE m.doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
       |    ELSE 'jpeg' END AS container,
       |  m.phash,
       |  s.phash IS NULL AS admitted
       |FROM mhash m CROSS JOIN tt
       |LEFT JOIN standing s ON m.phash = s.phash
       |WHERE m.doc_id >= tt.t
       |ORDER BY m.doc_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st12_media_admission" -> st12MediaAdmission _,
    "st11_neardup_admission" -> st11NeardupAdmission _,
    "st10_drift_score" -> st10DriftScore _,
    "st09_scored_admission" -> st09ScoredAdmission _,
    "st08_heavy_hitters" -> st08HeavyHitters _,
    "st07_quota_admission" -> st07QuotaAdmission _,
    "st06_unconverted_clicks" -> st06UnconvertedClicks _,
    "st01_sessionize" -> st01Sessionize _,
    "st02_sliding_window" -> st02SlidingWindow _,
    "st03_enrich_join" -> st03EnrichJoin _,
    "st04_stream_join" -> st04StreamJoin _,
    "st05_stream_dedup" -> st05StreamDedup _,
  )

  val oracles: Map[String, String] = Map(
    "st12_media_admission" -> st12Sql,
    "st11_neardup_admission" -> SimilarityOps.st11Sql,
    "st10_drift_score" -> st10Sql,
    "st09_scored_admission" -> st09Sql,
    "st08_heavy_hitters" -> st08Sql,
    "st07_quota_admission" -> st07Sql,
    "st01_sessionize" -> st01Sql,
    "st02_sliding_window" -> st02Sql,
    "st03_enrich_join" -> st03Sql,
    "st04_stream_join" -> st04Sql,
    "st05_stream_dedup" -> st05Sql,
    "st06_unconverted_clicks" -> st06Sql,
  )
}
