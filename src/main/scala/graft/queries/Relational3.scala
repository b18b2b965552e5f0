package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Third wave of relational coverage: the time-series join shapes Spark has
  * no built-in operator for (as-of join, banded range join), a deterministic
  * distinct sketch (KMV), and CUBE grouping sets.
  *
  * Scale design notes:
  *  - q22 as-of join is the union + keyed-window formulation: one shuffle on
  *    the join key, a per-key ordered scan, no per-row subquery and no
  *    point-in-time self-join explosion. This is the standard distributed
  *    as-of shape (what a native SortMergeAsofJoin would do physically).
  *  - q23 range join bins both sides to fixed-width time buckets and
  *    equi-joins on (type, bin±1) — the binned band-join pattern that keeps
  *    a range predicate out of a nested-loop join; the residual |dt| filter
  *    runs post-join on co-partitioned data.
  *  - q24 KMV sketch is a bounded-state distinct estimator (k smallest
  *    md5-derived hashes): one scan + a k-row TakeOrdered, mergeable across
  *    partitions, and — unlike HLL — bit-identical across engines.
  */
object Relational3 {
  import Tables._

  /** As-of join: each event matched to the user's most recent order at or
    * before the event time (union + last-ignoring-nulls over a keyed
    * window). Orders are pre-deduped to one per (custkey, date). */
  def q22AsofJoin(s: SparkSession, d: String): DataFrame = {
    val ord = orders(s, d)
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max("o_orderkey").as("o_orderkey"))
      .select(col("o_custkey").as("uid"), col("o_orderdate").as("t"),
        lit(0).as("kind"), col("o_orderkey"),
        lit(null).cast("long").as("event_id"))
    val ev = events(s, d)
      .select(col("user_id").as("uid"), col("ts").as("t"),
        lit(1).as("kind"), lit(null).cast("long").as("o_orderkey"),
        col("event_id"))
    val w = Window.partitionBy("uid").orderBy(col("t"), col("kind"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ord.unionByName(ev)
      .withColumn("matched", last(col("o_orderkey"), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(col("event_id"), col("uid").as("user_id"),
        col("matched").as("o_orderkey"))
      .orderBy("event_id")
  }

  val q22Sql: String =
    """WITH ord AS (
      |  SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey
      |  FROM orders GROUP BY 1, 2)
      |SELECT e.event_id, e.user_id, o.o_orderkey
      |FROM events e ASOF LEFT JOIN ord o
      |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
      |ORDER BY e.event_id""".stripMargin

  private val BandUs = 100000L // 100 ms in µs (DuckDB reads parquet ns as µs)

  /** Banded range join: pairs of same-type events within 100 ms, via
    * fixed-width time bins (equi-join on (type, bin), one side exploded to
    * bin-1..bin+1) + residual filter. Equality with the oracle's direct
    * |dt| predicate proves the binning loses nothing. */
  def q23RangeJoin(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d)
      .select(col("event_id"), col("event_type"),
        expr("ts_ns div 1000").as("ts_us"))
      .withColumn("bin", col("ts_us") / lit(BandUs) cast "long")
    val a = e.withColumn("jbin",
      explode(array(col("bin") - 1, col("bin"), col("bin") + 1)))
      .select(col("event_id").as("event_a"), col("event_type"),
        col("ts_us").as("ts_a"), col("jbin"))
    val b = e.select(col("event_id").as("event_b"),
      col("event_type").as("type_b"), col("ts_us").as("ts_b"), col("bin"))
    a.join(b, col("jbin") === col("bin") && col("event_type") === col("type_b") &&
        col("event_a") < col("event_b"))
      .filter(abs(col("ts_a") - col("ts_b")) <= BandUs)
      .select(col("event_a"), col("event_b"), col("event_type"),
        abs(col("ts_a") - col("ts_b")).as("dt_us"))
      .orderBy("event_a", "event_b")
  }

  val q23Sql: String =
    s"""SELECT a.event_id AS event_a, b.event_id AS event_b, a.event_type,
       |  abs(epoch_us(a.ts) - epoch_us(b.ts)) AS dt_us
       |FROM events a JOIN events b
       |  ON a.event_type = b.event_type AND a.event_id < b.event_id
       |  AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= $BandUs
       |ORDER BY event_a, event_b""".stripMargin

  private val K = 64
  private val H60Max = 1152921504606846976.0 // 2^60

  /** KMV (k-minimum-values) distinct sketch for l_partkey next to the exact
    * count: estimate = (k-1) * 2^60 / kth_min_hash. */
  def q24KmvSketch(s: SparkSession, d: String): DataFrame = {
    // one distinct shuffle feeds both the sketch and the exact count (the
    // exact side exists only to show the estimator's error): the plan stays
    // lazy and AQE reuses the distinct's exchange for the second consumer
    // (PlanSpec pins the ReusedExchange and the single lineitem scan)
    val keys = lineitem(s, d).select("l_partkey").distinct()
      .withColumn("h", expr(DedupOps.h60("cast(l_partkey as string)")))
    val sketch = keys.orderBy("h").limit(K)
      .agg(count(lit(1)).cast("long").as("k"), max(col("h")).as("kth_hash"))
      .withColumn("est_distinct",
        round(lit(K - 1) * lit(H60Max) / col("kth_hash")).cast("long"))
    val exact = keys.agg(count(lit(1)).as("exact_distinct"))
    sketch.crossJoin(exact)
      .select(col("k"), col("kth_hash"), col("est_distinct"), col("exact_distinct"))
  }

  val q24Sql: String =
    s"""WITH h AS (
       |  SELECT DISTINCT ${DedupOps.h60Duck("l_partkey::VARCHAR")} AS h
       |  FROM lineitem),
       |kmin AS (SELECT h FROM h ORDER BY h LIMIT $K),
       |sk AS (
       |  SELECT COUNT(*)::BIGINT AS k, MAX(h) AS kth_hash,
       |    CAST(ROUND((
       |      $K - 1) * $H60Max / MAX(h)) AS BIGINT) AS est_distinct
       |  FROM kmin),
       |ex AS (SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_distinct
       |  FROM lineitem)
       |SELECT k, kth_hash, est_distinct, exact_distinct FROM sk, ex""".stripMargin

  /** CUBE grouping sets with grouping_id disambiguation (q12 covers
    * ROLLUP). */
  def q25Cube(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity")).cast("long").as("sum_qty"),
        grouping_id().as("gid"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("gid"), col("n"), col("sum_qty"))
      .orderBy("returnflag", "linestatus")

  val q25Sql: String =
    """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
      |  COALESCE(l_linestatus, 'ALL') AS linestatus,
      |  GROUPING(l_returnflag, l_linestatus)::BIGINT AS gid,
      |  COUNT(*) AS n, CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
      |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
      |ORDER BY returnflag, linestatus""".stripMargin

  /** Exact percentiles (linear interpolation over sorted values) of line
    * quantity and price cents per return flag. Inputs are exact integers so
    * the interpolation arithmetic is identical in both engines; one final
    * rounding. */
  def q26Percentiles(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .withColumn("qty", col("l_quantity").cast("long"))
      .withColumn("cents", round(col("l_extendedprice") * 100).cast("long"))
      .groupBy("l_returnflag")
      // ONE percentile buffer per column (array form), not one per
      // requested quantile: the exact aggregate keeps a per-group value
      // map, so halving the buffer count halves the dominant update cost
      .agg(
        expr("percentile(qty, array(0.5D, 0.95D))").as("qp"),
        expr("percentile(cents, array(0.5D, 0.99D))").as("cp"))
      .select(col("l_returnflag"),
        round(element_at(col("qp"), 1), 4).as("qty_p50"),
        round(element_at(col("qp"), 2), 4).as("qty_p95"),
        round(element_at(col("cp"), 1), 4).as("cents_p50"),
        round(element_at(col("cp"), 2), 4).as("cents_p99"))
      .orderBy("l_returnflag")

  val q26Sql: String =
    """SELECT l_returnflag,
      |  ROUND(quantile_cont(CAST(l_quantity AS BIGINT), 0.5), 4) AS qty_p50,
      |  ROUND(quantile_cont(CAST(l_quantity AS BIGINT), 0.95), 4) AS qty_p95,
      |  ROUND(quantile_cont(CAST(ROUND(l_extendedprice * 100) AS BIGINT), 0.5), 4) AS cents_p50,
      |  ROUND(quantile_cont(CAST(ROUND(l_extendedprice * 100) AS BIGINT), 0.99), 4) AS cents_p99
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** RANGE-frame window: per-customer trailing-30-day order count and
    * average spend (value-based frame over integer day offsets, not a row
    * frame — q06 covers row frames). */
  def q27RangeFrame(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("day")
      .rangeBetween(-29, Window.currentRow)
    orders(s, d)
      .withColumn("day",
        datediff(col("o_orderdate"), lit("1990-01-01").cast("date")).cast("long"))
      .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
      .withColumn("n_30d", count(lit(1)).over(w))
      .withColumn("avg_30d_cents", round(avg(col("cents")).over(w), 4))
      .select(col("o_orderkey"), col("o_custkey"), col("day"),
        col("n_30d"), col("avg_30d_cents"))
      .orderBy("o_orderkey")
  }

  val q27Sql: String =
    """WITH o AS (
      |  SELECT o_orderkey, o_custkey,
      |    datediff('day', DATE '1990-01-01', o_orderdate)::BIGINT AS day,
      |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders)
      |SELECT o_orderkey, o_custkey, day,
      |  COUNT(*) OVER w AS n_30d,
      |  ROUND(AVG(cents) OVER w, 4) AS avg_30d_cents
      |FROM o
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY day
      |  RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)
      |ORDER BY o_orderkey""".stripMargin

  /** UNPIVOT (wide measures → long (measure, value) rows) via stack — the
    * inverse of q14's pivot. */
  def q28Unpivot(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(sum(col("l_quantity")).cast("long").as("sum_qty"),
        sum(round(col("l_extendedprice") * 100).cast("long")).as("sum_base_cents"),
        count(lit(1)).as("n_items"))
      .select(col("l_returnflag"), expr(
        "stack(3, 'n_items', n_items, 'sum_base_cents', sum_base_cents, " +
          "'sum_qty', sum_qty) as (measure, value)"))
      .orderBy("l_returnflag", "measure")

  val q28Sql: String =
    """WITH w AS (
      |  SELECT l_returnflag,
      |    CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
      |    CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
      |    COUNT(*) AS n_items
      |  FROM lineitem GROUP BY 1)
      |SELECT l_returnflag, measure, value FROM (
      |  SELECT l_returnflag, 'n_items' AS measure, n_items AS value FROM w
      |  UNION ALL
      |  SELECT l_returnflag, 'sum_base_cents', sum_base_cents FROM w
      |  UNION ALL
      |  SELECT l_returnflag, 'sum_qty', sum_qty FROM w)
      |ORDER BY l_returnflag, measure""".stripMargin

  /** Recursive CTE (Spark 4's WITH RECURSIVE): re-order chains — orders of
    * one customer linked when placed within 7 days of the previous one;
    * chains walked recursively from their roots (the functional next-order
    * edge makes the walk a DAG, so UNION ALL recursion terminates). The
    * same SQL text runs on both engines. */
  private def q29Text(table: String): String =
    s"""WITH RECURSIVE seq AS (
       |  SELECT o_custkey, o_orderkey, o_orderdate,
       |    lead(o_orderkey) OVER w AS next_key,
       |    lead(o_orderdate) OVER w AS next_date,
       |    lag(o_orderdate) OVER w AS prev_date
       |  FROM $table
       |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
       |), e AS (
       |  SELECT o_orderkey, next_key FROM seq
       |  WHERE next_key IS NOT NULL
       |    AND next_date <= o_orderdate + INTERVAL 7 DAY
       |), roots AS (
       |  SELECT o_custkey, o_orderkey FROM seq
       |  WHERE prev_date IS NULL OR o_orderdate > prev_date + INTERVAL 7 DAY
       |), walk AS (
       |  SELECT o_orderkey AS root, o_orderkey AS cur, 1 AS depth FROM roots
       |  UNION ALL
       |  SELECT w.root, e.next_key, w.depth + 1
       |  FROM walk w JOIN e ON w.cur = e.o_orderkey
       |)
       |SELECT CAST(depth AS BIGINT) AS chain_len,
       |  CAST(COUNT(*) AS BIGINT) AS n_chains
       |FROM (SELECT root, MAX(depth) AS depth FROM walk GROUP BY root)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** r16 rewrite (guide §1.2 — fix the distributed algorithm first): the
    * next-order edge is FUNCTIONAL (lead() gives each order at most one
    * successor) and only ever links orders that are CONSECUTIVE in the
    * per-customer (o_orderdate, o_orderkey) order, so a walk from a root
    * visits exactly the maximal consecutive run of ≤7-day-gap orders that
    * starts there — max depth per root == run length. That collapses the
    * recursion into a gaps-and-islands window: one window pass + two
    * aggregations, instead of Spark's UnionLoop re-shuffling the frontier
    * once per chain step (plus the edge/root caches, temp views and the
    * result checkpoint the recursive form needed). The ORACLE is the
    * UNCHANGED recursive walk ([[q29Sql]]) — the cross-engine hash match
    * at both SFs is the equivalence proof, and Relational3Spec pins the
    * islands form against the recursive form on boundary fixtures
    * (equal dates, exactly-7-day gaps). */
  def q29RecursiveChains(s: SparkSession, d: String): DataFrame =
    chainHistogramOf(orders(s, d))

  /** The islands kernel behind q29, over any frame with (o_custkey,
    * o_orderkey, o_orderdate) — split out so the spec can run it against
    * the recursive-walk form on hand-built fixtures. */
  private[graft] def chainHistogramOf(ords: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.{Window => W}
    val w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    val runs = ords
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
      .withColumn("prev_date", lag("o_orderdate", 1).over(w))
      // the root predicate of the recursive form, verbatim
      .withColumn("new_chain", when(col("prev_date").isNull ||
        col("o_orderdate") > col("prev_date") + expr("INTERVAL 7 DAY"), 1L)
        .otherwise(0L))
      .withColumn("chain", sum("new_chain").over(w))
    runs.groupBy("o_custkey", "chain")
      .agg(count(lit(1)).as("chain_len"))
      .groupBy("chain_len").agg(count(lit(1)).as("n_chains"))
      .orderBy("chain_len")
  }

  val q29Sql: String = q29Text("orders")

  /** Arbitrary GROUPING SETS (completing the q12 ROLLUP / q25 CUBE family):
    * three hand-picked groupings — (flag, status), (status, shipyear), ()
    * — that neither rollup nor cube expresses; grouping_id disambiguates
    * which set each output row came from (same MSB-first bit order as
    * DuckDB's GROUPING()). Spark expands the sets into one Expand + single
    * hash aggregation — one shuffle total, not one per set. */
  def q30GroupingSets(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .withColumn("shipyear", year(col("l_shipdate")))
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_linestatus"), col("shipyear")),
          Seq()),
        col("l_returnflag"), col("l_linestatus"), col("shipyear"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("l_extendedprice") * 100).cast("long")).as("price_cents"),
        grouping_id().as("gid"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        coalesce(col("shipyear"), lit(-1)).as("shipyear"),
        col("gid"), col("n"), col("price_cents"))
      .orderBy("gid", "returnflag", "linestatus", "shipyear")

  val q30Sql: String =
    """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
      |  COALESCE(l_linestatus, 'ALL') AS linestatus,
      |  COALESCE(CAST(year(l_shipdate) AS INTEGER), -1) AS shipyear,
      |  GROUPING(l_returnflag, l_linestatus, year(l_shipdate))::BIGINT AS gid,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      |    AS price_cents
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
      |  (l_linestatus, year(l_shipdate)), ())
      |ORDER BY gid, returnflag, linestatus, shipyear""".stripMargin

  // ---------------------------------------------------------------- q31

  /** Nanoseconds per resample bucket (daily). */
  private val Q31BucketNs = 86400000000000L

  /** value_milli pack base: the LOCF fill carries (day, value) in ONE
    * long so a plain running MAX implements last-observation-carried-
    * forward with NO `last(_, ignoreNulls)` — the IGNORE NULLS window
    * spelling differs across engines, a packed max is integer-identical
    * everywhere. */
  private val Q31Pack = 1L << 32

  /** q31: LOCF time-series resample — the gap-filling operator every
    * metrics/feature store runs: regularize each user's irregular event
    * stream onto a fixed DAILY grid, carrying the last observation
    * forward into empty buckets and reporting its staleness. Semantics:
    * per (user, day) the bucket value is the LAST event's value (by
    * ts_ns, then event_id) rounded to integer milli; grid = every day in
    * the corpus's global [min, max] day span × every user; days before a
    * user's first event emit nothing; `age_days` = how stale the carried
    * value is.
    *
    * Engine determinism: LOCF is a running MAX of `day·2^32 + value_milli`
    * over the day-ordered per-user grid — nulls never enter the max and
    * unpacking recovers both the value and its source day exactly; no
    * IGNORE NULLS window (whose spelling and semantics differ across
    * engines) anywhere. The pack range is guarded by a named error.
    *
    * Scale shape: ONE event scan (checkpointed for its three metadata
    * consumers) → per-(user, day) last-event window (keyed shuffle) →
    * the grid generated per user with `sequence` (never a row-space
    * cross join — users × days is output-sized by definition) → one
    * per-user ordered window for the fill. At 100 TB the windows
    * partition by user; nothing global. */
  def q31LocfResample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = events(s, d)
      .select(col("user_id"),
        expr(s"ts_ns div $Q31BucketNs").as("day"),
        expr("cast(round(value * 1000) as bigint)").as("vm"),
        col("ts_ns"), col("event_id"))
      .localCheckpoint(true)
    val vr = ev.agg(min("vm"), max("vm"), min("day")).head()
    require(!vr.isNullAt(0), "q31: empty events table")
    val (vmin, vmax) = (vr.getLong(0), vr.getLong(1))
    require(vmin >= 0 && vmax < Q31Pack,
      s"q31: value_milli range [$vmin, $vmax] overflows the $Q31Pack " +
        "LOCF pack — widen the pack base or rescale the value")
    // pre-epoch timestamps break BOTH the bucket (Spark div truncates
    // toward zero, DuckDB // floors — they diverge on negatives) and
    // the pack unpack (p % pack / p div pack return negative parts), so
    // a negative day fails BY NAME instead of silently disagreeing with
    // the oracle (r8 advice item)
    val dmin = vr.getLong(2)
    require(dmin >= 0,
      s"q31: pre-epoch events (min day $dmin < 0) — the daily bucket and " +
        "the LOCF pack require ts_ns >= 0; shift the epoch or filter")
    val wL = Window.partitionBy("user_id", "day")
      .orderBy(col("ts_ns").desc, col("event_id").desc)
    val lastPerDay = ev.withColumn("rk", row_number().over(wL))
      .filter(col("rk") === 1).select("user_id", "day", "vm")
    val bounds = ev.agg(min("day").as("d0"), max("day").as("d1"))
    val grid = ev.select("user_id").distinct()
      .crossJoin(broadcast(bounds))
      .select(col("user_id"), explode(expr("sequence(d0, d1)")).as("day"))
    val wF = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(lastPerDay, Seq("user_id", "day"), "left")
      .withColumn("p", max(when(col("vm").isNotNull,
        col("day") * Q31Pack + col("vm"))).over(wF))
      .filter(col("p").isNotNull)
      .select(col("user_id"), col("day"),
        expr(s"p % $Q31Pack").as("value_milli"),
        expr(s"day - p div $Q31Pack").as("age_days"))
      .orderBy("user_id", "day")
  }

  val q31Sql: String =
    s"""WITH re AS (
       |  SELECT user_id, epoch_ns(ts) // $Q31BucketNs AS day,
       |    CAST(round(value * 1000) AS BIGINT) AS vm,
       |    epoch_ns(ts) AS tsn, event_id
       |  FROM events
       |), rl AS (
       |  SELECT user_id, day, vm FROM (
       |    SELECT user_id, day, vm,
       |      ROW_NUMBER() OVER (PARTITION BY user_id, day
       |        ORDER BY tsn DESC, event_id DESC) AS rk
       |    FROM re) WHERE rk = 1
       |), rb AS (
       |  SELECT MIN(day) AS d0, MAX(day) AS d1 FROM re
       |), rgrid AS (
       |  SELECT u.user_id, g.day
       |  FROM (SELECT DISTINCT user_id FROM re) u
       |  CROSS JOIN (SELECT unnest(range(d0, d1 + 1)) AS day FROM rb) g
       |), rfill AS (
       |  SELECT g.user_id, g.day,
       |    MAX(CASE WHEN l.vm IS NOT NULL
       |      THEN g.day * $Q31Pack + l.vm END)
       |      OVER (PARTITION BY g.user_id ORDER BY g.day
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
       |  FROM rgrid g LEFT JOIN rl l
       |    ON g.user_id = l.user_id AND g.day = l.day)
       |SELECT user_id, day, CAST(p % $Q31Pack AS BIGINT) AS value_milli,
       |  CAST(day - p // $Q31Pack AS BIGINT) AS age_days
       |FROM rfill WHERE p IS NOT NULL
       |ORDER BY user_id, day""".stripMargin

  /** q32's deterministic row-sample denominator (keep 1/D of rows). */
  private val SketchSampleDen = 8L

  /** q32: percentile SKETCH — the oracle-gated scale path next to q26's
    * exact percentiles (the r8 verdict's ask: the documented scale story
    * should itself be gated, not prose). A deterministic md5 hash-sample
    * keeps 1/[[SketchSampleDen]] of lineitem rows (keyed on the unique
    * (l_orderkey, l_linenumber) — a uniform sample no value column can
    * bias) and the per-flag percentiles interpolate over the SAMPLE:
    * sort/buffer cost drops by D while the estimate's error is
    * O(1/√(n/D)) — the standard sampling estimator a 100 TB exact sort
    * can't match. Both engines draw the IDENTICAL sample (same md5, same
    * fences), so the oracle is exact; the estimator's error against the
    * exact q26 values is pinned by RelationalSpec, not hashed. */
  def q32PercentileSketch(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .filter(expr(
        "cast(conv(substring(md5(concat(cast(l_orderkey as string), ':', " +
          s"cast(l_linenumber as string))), 1, 15), 16, 10) as bigint) % $SketchSampleDen = 0"))
      .withColumn("qty", col("l_quantity").cast("long"))
      .withColumn("cents", round(col("l_extendedprice") * 100).cast("long"))
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("sample_n"),
        round(expr("percentile(qty, 0.5)"), 4).as("qty_p50_est"),
        round(expr("percentile(qty, 0.95)"), 4).as("qty_p95_est"),
        round(expr("percentile(cents, 0.5)"), 4).as("cents_p50_est"),
        round(expr("percentile(cents, 0.99)"), 4).as("cents_p99_est"))
      .orderBy("l_returnflag")

  val q32Sql: String =
    s"""SELECT l_returnflag, COUNT(*) AS sample_n,
       |  ROUND(quantile_cont(CAST(l_quantity AS BIGINT), 0.5), 4) AS qty_p50_est,
       |  ROUND(quantile_cont(CAST(l_quantity AS BIGINT), 0.95), 4) AS qty_p95_est,
       |  ROUND(quantile_cont(CAST(ROUND(l_extendedprice * 100) AS BIGINT), 0.5), 4) AS cents_p50_est,
       |  ROUND(quantile_cont(CAST(ROUND(l_extendedprice * 100) AS BIGINT), 0.99), 4) AS cents_p99_est
       |FROM lineitem
       |WHERE ('0x' || substr(md5(l_orderkey::VARCHAR || ':' || l_linenumber::VARCHAR), 1, 15))::BIGINT
       |  % $SketchSampleDen = 0
       |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** HLL register count (2^8) and the fixed-point exponent cap. */
  private val HllBuckets = 256
  private val HllK = 30

  /** q33: HyperLogLog distinct sketch (Flajolet et al. 2007) next to
    * q24's KMV — the mergeable register sketch every engine ships for
    * 100 TB COUNT DISTINCT: each key's 60-bit md5 splits into an 8-bit
    * register index and a 52-bit suffix whose leading-zero rank updates
    * the register MAX; the harmonic estimate is computed in EXACT
    * fixed-point integers (Σ 2^(K−M) with K = 30 — a register past K
    * CLAMPS to a contribution of 2^0 = 1 rather than its exact < 1
    * value, a negligible downward-bias on the estimate that matters only
    * past ~2^30 keys per register and is identical in both engines;
    * α_m = 7213/(10000 + 10790 div m)), so both
    * engines agree bit-for-bit with no float summation order anywhere.
    * The exact count rides along as the estimator audit (q24's shape);
    * the standard error bound is 1.04/√m ≈ 6.5%, spec-pinned.
    *
    * Scale shape: one distinct shuffle (shared with the exact audit) →
    * a 256-row register agg (map-side partial MAX) → one broadcast-sized
    * fold. The registers are MERGEABLE maxes — the sketch unions across
    * corpora/partitions for free, which is why HLL and not exact
    * count-distinct is what runs at 10^12 keys. */
  def q33HllSketch(s: SparkSession, d: String): DataFrame = {
    // kept eager: left lazy, q33 ran 2.0x at sf0.1 (A/B)
    val keys = lineitem(s, d).select("l_partkey").distinct()
      .withColumn("h", expr(DedupOps.h60("cast(l_partkey as string)")))
      .cache()
    try {
      val regs = keys
        .withColumn("bucket", expr("h div 4503599627370496L")) // h >> 52
        .withColumn("rest", expr("h % 4503599627370496L"))
        .withColumn("rho", expr(
          "case when rest = 0 then 53L else cast(52 - length(bin(rest)) + 1 as bigint) end"))
        .groupBy("bucket").agg(max("rho").as("mreg"))
      val allRegs = keys.sparkSession.range(HllBuckets.toLong)
        .withColumnRenamed("id", "bucket")
        .join(regs, Seq("bucket"), "left")
        .select(coalesce(col("mreg"), lit(0L)).as("mreg"))
      val sketch = allRegs
        .agg(sum(expr(s"shiftleft(1L, $HllK - cast(least(mreg, ${HllK}L) as int))"))
          .as("ssum"))
        .withColumn("m", lit(HllBuckets.toLong))
        .withColumn("est_distinct", expr(
          s"(7213L * ${HllBuckets.toLong * HllBuckets} * ${1L << HllK}) div " +
            s"(ssum * ${10000 + 10790 / HllBuckets})"))
      val exact = keys.agg(count(lit(1)).as("exact_distinct"))
      sketch.crossJoin(exact)
        .select(col("m"), col("ssum"), col("est_distinct"), col("exact_distinct"))
        .localCheckpoint(true)
    } finally keys.unpersist(blocking = false)
  }

  val q33Sql: String =
    s"""WITH h AS (
       |  SELECT DISTINCT ${DedupOps.h60Duck("l_partkey::VARCHAR")} AS h
       |  FROM lineitem
       |), r AS (
       |  SELECT h // 4503599627370496 AS bucket, h % 4503599627370496 AS rest FROM h
       |), reg AS (
       |  SELECT bucket,
       |    MAX(CASE WHEN rest = 0 THEN 53
       |        ELSE 52 - length(bin(CAST(rest AS BIGINT))) + 1 END) AS mreg
       |  FROM r GROUP BY bucket
       |), allreg AS (
       |  SELECT COALESCE(reg.mreg, 0) AS mreg
       |  FROM range(0, $HllBuckets) t(bucket)
       |  LEFT JOIN reg ON t.bucket = reg.bucket
       |), sk AS (
       |  SELECT CAST($HllBuckets AS BIGINT) AS m,
       |    CAST(SUM(1 << ($HllK - LEAST(mreg, $HllK))) AS BIGINT) AS ssum
       |  FROM allreg
       |), ex AS (
       |  SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_distinct
       |  FROM lineitem)
       |SELECT m, ssum,
       |  CAST((7213::BIGINT * ${HllBuckets.toLong * HllBuckets} * ${1L << HllK}) //
       |    (ssum * ${10000 + 10790 / HllBuckets}) AS BIGINT) AS est_distinct,
       |  exact_distinct
       |FROM sk, ex""".stripMargin

  /** CMS geometry: d hash rows × w columns, and the audited key count.
    * w = 64 under 100 distinct suppkeys guarantees real collisions, so
    * the one-sided overcount is non-vacuous at driver scale; production
    * picks w ≈ e/ε (the estimate error bound is ε·N with probability
    * 1 − (1/2)^d). */
  private val CmsW = 64
  private val CmsD = 4
  private val CmsTopK = 10

  /** All `d` row-columns from ONE md5 per key: hash rows are disjoint
    * 16-bit hex slices of the digest (the standard CMS practice — one
    * strong hash split beats d independent hashes at a quarter of the
    * per-row cost; slices of md5 are independent enough for the 2N/w
    * bound, which SketchSpec pins empirically). Shared with the
    * [[graft.ops.Sketches]] facade so library and gated semantics
    * cannot drift. */
  private[graft] def cmsColsExpr(k: String, d: Int = CmsD,
                                 w: Int = CmsW): String = {
    require(d >= 1 && d <= 8, s"CMS depth $d out of [1, 8] (md5 slices)")
    require(w >= 2 && w <= 65536, s"CMS width $w out of [2, 65536]")
    (0 until d).map(r =>
      s"cast(conv(substring(md5(cast($k as string)), ${r * 4 + 1}, 4), " +
        s"16, 10) as bigint) % $w").mkString("array(", ", ", ")")
  }

  /** q34: Count-Min frequency sketch (Cormode & Muthukrishnan 2005) —
    * the fourth leg of the sketch tier (q24 KMV distinct-sample, q32
    * sampled percentiles, q33 HLL distinct-count): the mergeable
    * heavy-hitter structure every 10^12-row frequency pipeline runs
    * instead of an exact key aggregate. Each of [[CmsD]] md5-derived
    * hash rows buckets every occurrence into [[CmsW]] integer counters;
    * a key's estimate is the MIN over its d cells — one-sided
    * (est ≥ exact always; collisions only ADD), with the exact top-k
    * riding along as the estimator audit (the q24/q33 shape). Output:
    * the top-[[CmsTopK]] exact keys with exact_n, est_n, overcount.
    *
    * Scale shape: ONE scan; the d-row fan-out is a literal-array
    * explode inside the scan's codegen stage, and the (r, c) aggregate
    * runs partial — the shuffle carries at most d·w cells per map
    * partition whatever the row count, which is exactly the mergeable-
    * sketch property (register grids union for free across corpora).
    * The audit side is a top-k over a keys-sized aggregate. */
  def q34CmsSketch(s: SparkSession, d: String): DataFrame = {
    val rows = lineitem(s, d).select(col("l_suppkey"))
    // r15 optimization (guide §2.3 "aggregate before you shuffle"): this
    // query ALREADY pays the exact per-key aggregate for its top-k audit
    // side, so the register grid is derived from those per-key counts —
    // the 4 md5 slices run once per DISTINCT key instead of once per ROW
    // (measured 3.15 s → the per-key md5 is ~nothing at sf0.1), and
    // sum(exact_n) per cell is bit-identical to count(*) over raw
    // occurrences. The standalone one-pass d·w-state sketch shape (no
    // exact agg anywhere) lives in graft.ops.Sketches.cmsGrid, unchanged.
    // the KEYS-sized exact aggregate feeds both the register grid and the
    // top-k audit side; left lazy, AQE reuses its exchange for the second
    // consumer, so the plan scans lineitem once (PlanSpec pins both)
    val keyed = rows.groupBy("l_suppkey").agg(count(lit(1)).as("exact_n"))
    val cells = keyed
      .select(col("exact_n"),
        posexplode(expr(cmsColsExpr("l_suppkey"))).as(Seq("r", "c")))
      .groupBy("r", "c").agg(sum("exact_n").as("n")) // sketch-sized: <= d*w rows
    val top = keyed
      .orderBy(col("exact_n").desc, col("l_suppkey")).limit(CmsTopK)
    val probes = top
      .select(col("l_suppkey"), col("exact_n"),
        posexplode(expr(cmsColsExpr("l_suppkey"))).as(Seq("r", "c")))
    probes.join(cells, Seq("r", "c"))
      .groupBy("l_suppkey", "exact_n").agg(min("n").as("est_n"))
      .select(col("l_suppkey"), col("exact_n"), col("est_n"),
        (col("est_n") - col("exact_n")).as("overcount"))
      .orderBy(col("exact_n").desc, col("l_suppkey"))
  }

  val q34Sql: String =
    s"""WITH src AS (SELECT l_suppkey FROM lineitem),
       |cells AS (
       |  SELECT t.r,
       |    ('0x' || substr(md5(l_suppkey::VARCHAR), (t.r * 4 + 1)::INT, 4))::BIGINT
       |      % $CmsW AS c,
       |    COUNT(*) AS n
       |  FROM src CROSS JOIN range(0, $CmsD) t(r) GROUP BY 1, 2
       |), topk AS (
       |  SELECT l_suppkey, COUNT(*) AS exact_n FROM src GROUP BY 1
       |  ORDER BY exact_n DESC, l_suppkey LIMIT $CmsTopK
       |), probes AS (
       |  SELECT topk.l_suppkey, topk.exact_n, t.r,
       |    ('0x' || substr(md5(topk.l_suppkey::VARCHAR), (t.r * 4 + 1)::INT, 4))::BIGINT
       |      % $CmsW AS c
       |  FROM topk CROSS JOIN range(0, $CmsD) t(r))
       |SELECT p.l_suppkey, CAST(p.exact_n AS BIGINT) AS exact_n,
       |  CAST(MIN(cells.n) AS BIGINT) AS est_n,
       |  CAST(MIN(cells.n) - p.exact_n AS BIGINT) AS overcount
       |FROM probes p JOIN cells ON p.r = cells.r AND p.c = cells.c
       |GROUP BY p.l_suppkey, p.exact_n
       |ORDER BY p.exact_n DESC, p.l_suppkey""".stripMargin

  // ---------------------------------------------------------------- q35

  /** q35: CF non-standard calendar decode (cftime.num2date semantics —
    * reference aggregation.py:193-196) over the long-view world: each
    * event_id reinterpreted as an "hours since 1999-12-28 06:00:00" step
    * count and decoded under all five supported calendar families via the
    * codegen'd [[graft.functions.CfNum2Date]] kernel. The epoch straddles
    * a year boundary and leap-year 2000's February, so 360_day / noleap /
    * all_leap / gregorian diverge within the first few thousand rows.
    *
    * Scale shape: ONE events scan (`stack` emits the five calendar rows
    * per input row inside the same codegen stage — no per-calendar
    * rescan, no join); the decode is exact integer arithmetic replicated
    * verbatim by the oracle (fixed calendars) and cross-checked against
    * DuckDB's own proleptic-Gregorian timestamp arithmetic (gregorian
    * rows) — two independent implementations of the same calendar. */
  def q35CftimeDecode(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val u = "hours since 1999-12-28 06:00:00"
    // the sixth family decodes at MILLISECOND units from a sub-second
    // epoch (r13): instants land off the whole-second grid, so the
    // minute/second/micro columns genuinely carry information — cftime's
    // float-ms capability on this engine's exact integer grid
    val uMs = "milliseconds since 1999-12-31 23:59:58.500"
    val pairs = (Seq("360_day", "noleap", "all_leap",
      "proleptic_gregorian", "standard")
      .map(c => s"'$c', cf_num2date(event_id, '$u', '$c')") :+
      s"'gregorian_ms', cf_num2date(event_id, '$uMs', 'standard')")
      .mkString(", ")
    events(s, d)
      .select(col("event_id"), expr(s"stack(6, $pairs) AS (calendar, p)"))
      .select(col("event_id"), col("calendar"),
        element_at(col("p"), 1).as("year"),
        element_at(col("p"), 2).as("month"),
        element_at(col("p"), 3).as("day"),
        element_at(col("p"), 4).as("hour"),
        element_at(col("p"), 5).as("minute"),
        element_at(col("p"), 6).as("second"),
        element_at(col("p"), 7).as("micro"))
      .orderBy("calendar", "event_id")
  }

  /** The oracle derives each fixed calendar with the SAME exact integer
    * divisions (epoch day numbers precomputed: 360_day 1999*360+330+27,
    * noleap 1999*365+334+27, all_leap 1999*366+335+27) and the two
    * Gregorian-family rows from DuckDB's native proleptic timestamp
    * arithmetic. */
  val q35Sql: String =
    """WITH n AS (
      |  SELECT event_id, 719997*24 + 6 + event_id AS h360,
      |         729996*24 + 6 + event_id AS h365,
      |         731996*24 + 6 + event_id AS h366,
      |         TIMESTAMP '1999-12-28 06:00:00' + to_hours(event_id) AS ts,
      |         TIMESTAMP '1999-12-31 23:59:58.500'
      |           + to_milliseconds(event_id) AS tms
      |  FROM events),
      |fixed AS (
      |  SELECT event_id, '360_day' AS calendar,
      |    (h360//24)//360 AS year, 1 + ((h360//24)%360)//30 AS month,
      |    1 + (h360//24)%30 AS day, h360%24 AS hour,
      |    0 AS minute, 0 AS second, 0 AS micro FROM n
      |  UNION ALL
      |  SELECT event_id, cal,
      |    (h//24)//ylen,
      |    CASE WHEN doy >= cum[12] THEN 12 WHEN doy >= cum[11] THEN 11
      |         WHEN doy >= cum[10] THEN 10 WHEN doy >= cum[9] THEN 9
      |         WHEN doy >= cum[8] THEN 8 WHEN doy >= cum[7] THEN 7
      |         WHEN doy >= cum[6] THEN 6 WHEN doy >= cum[5] THEN 5
      |         WHEN doy >= cum[4] THEN 4 WHEN doy >= cum[3] THEN 3
      |         WHEN doy >= cum[2] THEN 2 ELSE 1 END AS month,
      |    doy - cum[month] + 1, h%24, 0, 0, 0
      |  FROM (
      |    SELECT event_id, cal, h, ylen, (h//24)%ylen AS doy,
      |      CASE cal WHEN 'noleap'
      |        THEN [0,31,59,90,120,151,181,212,243,273,304,334]
      |        ELSE [0,31,60,91,121,152,182,213,244,274,305,335] END AS cum
      |    FROM (
      |      SELECT event_id, 'noleap' AS cal, h365 AS h, 365 AS ylen FROM n
      |      UNION ALL
      |      SELECT event_id, 'all_leap', h366, 366 FROM n))
      |  UNION ALL
      |  SELECT event_id, cal, year(ts), month(ts), day(ts), hour(ts),
      |    minute(ts), second(ts), microsecond(ts) % 1000000
      |  FROM n, (VALUES ('proleptic_gregorian'), ('standard')) c(cal)
      |  UNION ALL
      |  -- microsecond() is the Postgres seconds-included field: mod to
      |  -- the within-second microseconds the engine's companion carries
      |  SELECT event_id, 'gregorian_ms', year(tms), month(tms), day(tms),
      |    hour(tms), minute(tms), second(tms), microsecond(tms) % 1000000
      |  FROM n)
      |SELECT event_id, calendar, CAST(year AS BIGINT) AS year,
      |  CAST(month AS BIGINT) AS month, CAST(day AS BIGINT) AS day,
      |  CAST(hour AS BIGINT) AS hour, CAST(minute AS BIGINT) AS minute,
      |  CAST(second AS BIGINT) AS second, CAST(micro AS BIGINT) AS micro
      |FROM fixed ORDER BY calendar, event_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q35_cftime_decode" -> q35CftimeDecode _,
    "q34_cms_sketch" -> q34CmsSketch _,
    "q33_hll_sketch" -> q33HllSketch _,
    "q32_percentile_sketch" -> q32PercentileSketch _,
    "q31_locf_resample" -> q31LocfResample _,
    "q30_grouping_sets" -> q30GroupingSets _,
    "q29_recursive_chains" -> q29RecursiveChains _,
    "q28_unpivot" -> q28Unpivot _,
    "q22_asof_join" -> q22AsofJoin _,
    "q23_range_join" -> q23RangeJoin _,
    "q24_kmv_sketch" -> q24KmvSketch _,
    "q25_cube" -> q25Cube _,
    "q26_percentiles" -> q26Percentiles _,
    "q27_range_frame" -> q27RangeFrame _,
  )

  val oracles: Map[String, String] = Map(
    "q35_cftime_decode" -> q35Sql,
    "q34_cms_sketch" -> q34Sql,
    "q33_hll_sketch" -> q33Sql,
    "q32_percentile_sketch" -> q32Sql,
    "q31_locf_resample" -> q31Sql,
    "q30_grouping_sets" -> q30Sql,
    "q28_unpivot" -> q28Sql,
    "q29_recursive_chains" -> q29Sql,
    "q22_asof_join" -> q22Sql,
    "q23_range_join" -> q23Sql,
    "q24_kmv_sketch" -> q24Sql,
    "q25_cube" -> q25Sql,
    "q26_percentiles" -> q26Sql,
    "q27_range_frame" -> q27Sql,
  )
}
