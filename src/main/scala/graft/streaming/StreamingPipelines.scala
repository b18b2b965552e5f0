package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface. The reference is pure batch (SURVEY §2.10);
  * its incremental story is batch append + merkle resume. These pipelines
  * extend that with true streaming execution for the event table: the same
  * logical plans as StreamOps' batch twins, run as readStream → watermark →
  * window / stateful session tracking → sink.
  */
object StreamingPipelines {

  /** Tumbling-window counts with a 10-minute watermark — the streaming twin
    * of Relational.q11EventWindows. `events` must be a streaming DataFrame
    * with a TimestampType `ts` column. */
  def windowedEventCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 1000).cast("long")).as("value_milli"))
      .select(unix_timestamp(col("window.start")).as("wstart"),
        col("event_type"), col("n"), col("value_milli"))

  /** Stream-static join: the live event stream enriched against a static
    * (batch) per-user profile — the profile side is broadcast to every
    * micro-batch, no stream-stream state needed. Streaming twin of
    * StreamOps.st03EnrichJoin. */
  def enrichedUserActivity(events: DataFrame, profile: DataFrame): DataFrame =
    events.join(broadcast(profile), Seq("user_id"), "left")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        coalesce(first(col("n_orders")), lit(0L)).as("n_orders"),
        coalesce(first(col("order_cents")), lit(0L)).as("order_cents"))

  /** foreachBatch driver for incremental Zarr append (SURVEY §2.10): each
    * micro-batch carries newly-arrived file URLs; they are opened on
    * executors and appended to the target store along `appendDim`. The
    * first batch creates the store, later ones extend it.
    *
    * IDEMPOTENT REPLAY (`guard = true`, the default): Structured
    * Streaming REDELIVERS a micro-batch after a restart that failed
    * between the sink write and the checkpoint commit — exactly where
    * the reference's append (explicitly NOT idempotent,
    * transforms.py:680-684) would double the cube. The merkle tail of
    * the batch's pattern identifies it; an already-applied tag in the
    * store attrs makes the replay a NO-OP, so the sink is effectively
    * exactly-once (the standard foreachBatch-sink contract). Pass
    * `guard = false` for the reference's unguarded behavior (then the
    * upstream source must deliver each file exactly once).
    *
    * Usage: `urlStream.writeStream.foreachBatch(zarrAppendBatch(...) _)`.
    */
  def zarrAppendBatch(storePath: String, appendDim: String,
                      fileType: graft.patterns.FileType.Value,
                      targetChunks: Map[String, Int],
                      nitemsPerFile: Option[Int] = None,
                      guard: Boolean = true)(
      batch: Dataset[String], batchId: Long): Unit = {
    // Driver-side collect is BOUNDED by construction: the stream carries
    // file URLs (one short string per arriving file, ~100 bytes each at a
    // per-trigger cadence of at most thousands of files), mirroring the
    // reference's driver-side pattern enumeration. Do NOT copy this into a
    // data path — fragments/chunks never pass through the driver. The sort
    // makes intra-batch order stable so concat offsets are deterministic.
    val urls = batch.collect().toVector.sorted
    if (urls.nonEmpty) {
      val pattern = graft.patterns.FilePattern.fromFileSequence(
        urls, appendDim, nitemsPerFile = nitemsPerFile, fileType = fileType)
      val storeExists = java.nio.file.Files.exists(
        java.nio.file.Paths.get(storePath, "zarr.json"))
      val tag = pattern.sha256Hash.map("%02x".format(_)).mkString
      // replay probe BEFORE any work: an applied tag means this exact
      // batch already landed — skip, don't re-open or re-append
      if (guard && storeExists && graft.transforms.Pipelines.appliedAppends(
          graft.zarr.ZarrGroup(storePath)).contains(tag)) return
      val items = graft.transforms.Pipelines.createItems(batch.sparkSession, pattern)
      val frags = graft.transforms.Pipelines.openWithFragments(items, fileType)
      // the tag is ledgered on the CREATE path too: a redelivered batch 0
      // (crash between store creation and checkpoint commit) sees
      // storeExists=true, finds its tag in the replay probe above, and
      // no-ops instead of appending batch 0's data after itself
      graft.transforms.Pipelines.storeToZarr(
        frags, pattern.combineDimKeys, storePath, targetChunks,
        appendDim = if (storeExists) Some(appendDim) else None,
        appendGuardTag = if (guard) Some(tag) else None)
    }
  }

  /** foreachBatch driver for streaming NEAR-DUPLICATE admission (the
    * st11 streaming twin): each micro-batch of arriving (doc_id, text)
    * rows is gated against FROZEN standing state — the standing corpus's
    * idf featurizer and adaptive band index
    * (SimilarityOps.nearDupAdmissionOf) — and the per-doc verdict rows
    * (doc_id, n_candidates, max_sim, admitted) go to `emit`, the
    * caller's sink (memory table, parquet append, a Kafka producer).
    * Admission depends ONLY on (standing, doc) — never on other batch
    * members — so micro-batch boundaries cannot change any verdict:
    * replaying the same docs in any split yields the batch twin
    * row-for-row (StreamingSpec pins a two-batch replay against st11).
    *
    * The standing state (frozen featurizer + band index) is built ONCE,
    * when this driver is constructed — each micro-batch pays only the
    * batch-sized probe, not a corpus-sized state rebuild (r10; the r9
    * shape re-derived the featurizer every batch).
    *
    * Usage:
    * `docStream.writeStream.foreachBatch(nearDupAdmitBatch(standing, emit))`.
    */
  def nearDupAdmitBatch(standing: DataFrame,
                        emit: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit = {
    val state = graft.queries.SimilarityOps.admissionStateOf(standing)
    (batch: DataFrame, batchId: Long) =>
      if (!batch.isEmpty)
        emit(graft.queries.SimilarityOps.admissionProbeOf(state, batch),
          batchId)
  }

  /** foreachBatch driver for streaming MEDIA admission (the st12
    * streaming twin — p13's mixed-container ingest as a firewall): the
    * standing corpus's pHash registry is FROZEN state, built ONCE at
    * driver construction — one decode scan of the standing (doc_id,
    * bytes) payloads through their containers' REAL codecs (PNG/GIF/
    * JPEG incl. progressive), reduced to DISTINCT pHashes (one i64 per
    * family — no payloads, no rasters persist). Each arriving
    * micro-batch is decoded, normalized, hashed the same way and gated
    * with one equi-join on phash: ADMITTED iff no standing family
    * matches. Admission depends ONLY on (standing, doc) — never on
    * other batch members — so micro-batch boundaries cannot change any
    * verdict: a two-batch replay equals the st12 batch twin row-for-row
    * (StreamingSpec-pinned).
    *
    * Usage:
    * `mediaStream.writeStream.foreachBatch(mediaAdmitBatch(standing, emit))`
    * where both frames carry (doc_id, bytes). */
  def mediaAdmitBatch(standing: DataFrame,
                      emit: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit = {
    graft.functions.GraftFunctions.register(standing.sparkSession)
    val registry = graft.queries.MultiModalOps.mediaHashOf(standing)
      .select("phash").distinct()
      .withColumn("standing_hit", org.apache.spark.sql.functions.lit(true))
      .localCheckpoint(true)
    (batch: DataFrame, batchId: Long) =>
      if (!batch.isEmpty) {
        val probed = graft.queries.MultiModalOps.mediaHashOf(batch)
          .join(registry, Seq("phash"), "left")
          .select(col("doc_id"), col("container"), col("phash"),
            col("standing_hit").isNull.as("admitted"))
        emit(probed, batchId)
      }
  }

  /** STREAM-STREAM interval join: purchases attributed to same-user clicks
    * in the preceding 10 minutes. Both sides are watermarked so the join
    * state is bounded — clicks older than the bound + watermark are
    * evicted; the equi-key (user_id) co-partitions both streams. Streaming
    * twin of StreamOps.st04StreamJoin. Inner joins emit on match, so
    * results appear without waiting for watermark closure. */
  def attributedPurchases(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.select(col("user_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "10 minutes")
    val p = purchases.select(col("user_id").as("p_user_id"),
      col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "10 minutes")
    c.join(p,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 10 MINUTES"))
      .select(col("user_id"), col("purchase_id"),
        (unix_micros(col("purchase_ts")) - unix_micros(col("click_ts")))
          .as("lag_us"))
  }

  /** LEFT OUTER stream-stream interval join: every click emitted with its
    * matching purchase, or with nulls once the watermark proves no
    * purchase can still arrive inside the bound — the state-eviction
    * contract that keeps outer-join state finite. Streaming twin of
    * StreamOps.st06UnconvertedClicks (which aggregates the unmatched
    * rows). */
  def clickConversions(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.select(col("user_id"), col("event_id").as("click_id"),
      col("ts").as("click_ts"))
      .withWatermark("click_ts", "10 minutes")
    val p = purchases.select(col("user_id").as("p_user_id"),
      col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "10 minutes")
    c.join(p,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 10 MINUTES"),
      "leftOuter")
      .select(col("user_id"), col("click_id"), col("purchase_id"))
  }

  /** Streaming dedup via `dropDuplicatesWithinWatermark`: repeated
    * (user, event_type) events inside one event-time hour collapse to their
    * first arrival. The watermark delay must be >= the dedup window SPAN
    * (1 hour): a key's state lives until the watermark passes its first
    * occurrence + delay, and two same-hour events are < 1 hour apart in
    * event time, so a 1-hour delay guarantees the second still finds the
    * state no matter how micro-batches split the replay — a shorter delay
    * (e.g. 10 min) would re-emit same-hour duplicates arriving later than
    * the delay, silently diverging from the batch twin. State stays
    * bounded by (active keys x 1 hour), never the stream length.
    * Streaming twin of StreamOps.st05StreamDedup. */
  def dedupedEvents(events: DataFrame): DataFrame =
    events
      .withColumn("hour", date_trunc("hour", col("ts")))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type", "hour")

  final case class Ev(user_id: Long, ts_us: Long)
  final case class SessionState(sessions: Long, lastTsUs: Long, events: Long)
  final case class SessionSummary(user_id: Long, n_sessions: Long, n_events: Long)

  val GapUs: Long = 30L * 60 * 1000000

  /** Stateful per-user session counting via mapGroupsWithState — the
    * streaming twin of StreamOps.st01Sessionize. Emits the running summary
    * per user per micro-batch (Update mode). */
  def sessionize(events: Dataset[Ev]): Dataset[SessionSummary] = {
    def update(userId: Long, evs: Iterator[Ev],
               state: GroupState[SessionState]): SessionSummary = {
      val sorted = evs.toVector.sortBy(_.ts_us)
      var st = state.getOption.getOrElse(SessionState(0L, Long.MinValue, 0L))
      sorted.foreach { e =>
        val newSession = st.lastTsUs == Long.MinValue || e.ts_us - st.lastTsUs > GapUs
        st = SessionState(
          sessions = st.sessions + (if (newSession) 1 else 0),
          lastTsUs = math.max(st.lastTsUs, e.ts_us),
          events = st.events + 1)
      }
      state.update(st)
      SessionSummary(userId, st.sessions, st.events)
    }
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(update)(
        Encoders.product[SessionState], Encoders.product[SessionSummary])
  }

  final case class SEv(event_id: Long, user_id: Long, ts_us: Long,
                       passed: Boolean)
  final case class ScoredState(events: Long, passed: Long, admitted: Long,
                               lastAdmittedUs: Long)
  final case class ScoredSummary(user_id: Long, n_events: Long,
                                 n_passed: Long, n_admitted: Long,
                                 last_admitted_us: Option[Long])

  val ScoredQuota: Long = graft.queries.StreamOps.ScoredQuota.toLong

  /** Model-gated quota admission via mapGroupsWithState — the streaming
    * twin of StreamOps.st09ScoredAdmission ("train batch, serve
    * stream"): the per-type value cut is applied UPSTREAM as the static
    * side of a stream-static broadcast join (the st03 shape) producing
    * the `passed` flag; this stage counts every event, lets only
    * passing events consume the per-user [[ScoredQuota]], and carries
    * four longs of state per key — bounded by active users regardless
    * of stream length. Equality contract with the batch twin matches
    * [[quotaAdmit]]'s: micro-batches delivered in event-time order,
    * intra-batch order immaterial (each group sorts by (ts_us,
    * event_id) before the counter advances). */
  def scoredAdmit(events: Dataset[SEv]): Dataset[ScoredSummary] = {
    def update(userId: Long, evs: Iterator[SEv],
               state: GroupState[ScoredState]): ScoredSummary = {
      val sorted = evs.toVector.sortBy(e => (e.ts_us, e.event_id))
      var st = state.getOption.getOrElse(ScoredState(0L, 0L, 0L, Long.MinValue))
      sorted.foreach { e =>
        val admit = e.passed && st.admitted < ScoredQuota
        st = ScoredState(st.events + 1,
          st.passed + (if (e.passed) 1 else 0),
          st.admitted + (if (admit) 1 else 0),
          if (admit) e.ts_us else st.lastAdmittedUs)
      }
      state.update(st)
      ScoredSummary(userId, st.events, st.passed, st.admitted,
        if (st.admitted > 0) Some(st.lastAdmittedUs) else None)
    }
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(update)(
        Encoders.product[ScoredState], Encoders.product[ScoredSummary])
  }

  final case class QEv(event_id: Long, user_id: Long, ts_us: Long)
  final case class QuotaState(events: Long, admitted: Long, lastAdmittedUs: Long)
  final case class QuotaSummary(user_id: Long, n_events: Long,
                                n_admitted: Long, last_admitted_us: Long)

  val AdmitQuota: Long = graft.queries.StreamOps.AdmitQuota.toLong

  /** Per-key quota admission via mapGroupsWithState — the streaming
    * rate-limit/budget counter (streaming twin of
    * StreamOps.st07QuotaAdmission). Per-key state is three longs, so state
    * size is bounded by active keys regardless of stream length. Equals
    * the batch twin when the replay delivers micro-batches in event-time
    * order (the same contract the sessionize twin documents); within a
    * micro-batch each group is sorted by (ts_us, event_id) before the
    * counter advances, so intra-batch arrival order never matters. */
  def quotaAdmit(events: Dataset[QEv]): Dataset[QuotaSummary] = {
    def update(userId: Long, evs: Iterator[QEv],
               state: GroupState[QuotaState]): QuotaSummary = {
      val sorted = evs.toVector.sortBy(e => (e.ts_us, e.event_id))
      var st = state.getOption.getOrElse(QuotaState(0L, 0L, Long.MinValue))
      sorted.foreach { e =>
        val admit = st.admitted < AdmitQuota
        st = QuotaState(st.events + 1,
          st.admitted + (if (admit) 1 else 0),
          if (admit) e.ts_us else st.lastAdmittedUs)
      }
      state.update(st)
      QuotaSummary(userId, st.events, st.admitted, st.lastAdmittedUs)
    }
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(update)(
        Encoders.product[QuotaState], Encoders.product[QuotaSummary])
  }

  final case class HEv(wstart: Long, user_id: Long)
  final case class HHState(counters: Map[Long, Long])
  final case class HHRow(wstart: Long, rk: Long, user_id: Long, est_n: Long)

  /** Windowed heavy hitters via the SpaceSaving sketch (Metwally et al.
    * 2005) — the streaming twin of StreamOps.st08HeavyHitters: per event-
    * time window the state is a BOUNDED table of `capacity` counters;
    * a new key past capacity evicts the (count, key)-minimal counter and
    * inherits its count + 1 (the classic overestimate). After each
    * micro-batch the group emits its current top-`k` estimate.
    *
    * Guarantees (StreamingSpec pins both): with capacity >= the window's
    * distinct keys no eviction ever happens and the final emission equals
    * the EXACT batch twin; under capacity pressure every tracked
    * estimate overestimates its true count by at most windowTotal /
    * capacity, and every key with true count above that bound is
    * tracked. Per-window state is `capacity` longs regardless of stream
    * length — the property that makes per-key exact counting unnecessary
    * at 10^9-key streams. Eviction ties break on (count, key) ascending,
    * so replays are deterministic. */
  final case class DEv(wstart: Long, event_type: String)
  final case class DriftState(counts: Map[String, Long], n: Long)
  final case class DriftRow(wstart: Long, n_events: Long, l1_milli: Long,
                            drifted: Boolean)

  /** st10's streaming twin — train batch, serve stream (the scoredAdmit
    * shape): the global event-type mix is computed ONCE on historical
    * data (`baselineMilli`: type → floor(1000·n_t/n), the batch twin's
    * integer ratios) and broadcast into the stream job; each 1-hour
    * window accumulates per-type counts in flatMapGroupsWithState and
    * re-emits its L1(window mix, baseline) every micro-batch (Update
    * mode — the monitor's current view tightens as the window fills).
    * A type the baseline never saw contributes its full window mass
    * (the batch twin cannot hit that arm — its baseline spans the whole
    * stream — but a served stream can drift to NEW types, which is
    * exactly what the monitor must catch, not crash on). State per
    * window is the |type-dictionary| count map, bounded by the
    * dictionary, never the stream. */
  def driftScores(events: Dataset[DEv],
                  baselineMilli: Map[String, Long]): Dataset[DriftRow] = {
    require(baselineMilli.nonEmpty,
      "driftScores: empty baseline — train it on a historical slice first")
    def update(wstart: Long, evs: Iterator[DEv],
               state: GroupState[DriftState]): Iterator[DriftRow] = {
      var st = state.getOption.getOrElse(DriftState(Map.empty, 0L))
      evs.foreach { e =>
        st = DriftState(
          st.counts.updated(e.event_type,
            st.counts.getOrElse(e.event_type, 0L) + 1L), st.n + 1L)
      }
      state.update(st)
      val known = baselineMilli.iterator.map { case (t, p) =>
        math.abs(1000L * st.counts.getOrElse(t, 0L) / st.n - p)
      }.sum
      val novel = st.counts.iterator.collect {
        case (t, c) if !baselineMilli.contains(t) => 1000L * c / st.n
      }.sum
      val l1 = known + novel
      Iterator.single(DriftRow(wstart, st.n, l1,
        l1 >= graft.queries.StreamOps.DriftThresholdMilli &&
          st.n >= graft.queries.StreamOps.DriftMinWindowEvents))
    }
    events.groupByKey(_.wstart)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        update)(Encoders.product[DriftState], Encoders.product[DriftRow])
  }

  final case class CmsEv(wstart: Long, key: Long)
  final case class CmsGrid(cells: Array[Long])
  final case class CmsCellRow(wstart: Long, r: Int, c: Int, n: Long)

  /** The q34 Count-Min cell family on the JVM side: md5(key decimal
    * string) sliced into `d` 4-hex-digit words mod `w` — EXACTLY
    * [[graft.queries.Relational3.cmsColsExpr]]'s arithmetic (Spark
    * `conv(substring(md5(...)))` and DuckDB's probe SQL share it), so a
    * grid built here is cell-for-cell the batch sketch. */
  private[graft] def cmsCellsOf(key: Long, d: Int, w: Int): Array[Int] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(key.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    Array.tabulate(d)(r => Integer.parseInt(hex.substring(r * 4, r * 4 + 4), 16) % w)
  }

  /** Per-window Count-Min sketch (Cormode & Muthukrishnan 2005) — the
    * streaming twin of Relational3.q34CmsSketch, completing the st08
    * SpaceSaving pair: where SpaceSaving keeps the top keys themselves,
    * CMS answers point frequency queries for ANY key with one-sided
    * error (est ≥ exact; over-count ≤ windowTotal·e/w per row, min over
    * d rows). State per window is the FIXED d·w counter grid — bytes,
    * not keys: a 10⁹-key window costs the same 4×64 longs as a 10³-key
    * one, which is why a monitoring plane can afford one per window
    * forever. Each micro-batch re-emits the window's nonzero cells
    * (Update mode), so a downstream store always holds the current grid
    * and grids from disjoint streams MERGE by cell-wise addition (the
    * sketch's linearity — also how the batch twin's partial aggregation
    * works). StreamingSpec pins: a two-batch replay's final emission
    * equals the batch grid cell-for-cell, and probe estimates from the
    * emitted grid satisfy the CMS bound against exact counts. */
  def cmsGrids(events: Dataset[CmsEv], d: Int, w: Int): Dataset[CmsCellRow] = {
    require(d >= 1 && d <= 8, s"cmsGrids: depth $d out of [1, 8] (md5 slices)")
    require(w >= 2 && w <= 65536, s"cmsGrids: width $w out of [2, 65536]")
    def update(wstart: Long, evs: Iterator[CmsEv],
               state: GroupState[CmsGrid]): Iterator[CmsCellRow] = {
      val grid = state.getOption.map(_.cells).getOrElse(new Array[Long](d * w))
      evs.foreach { e =>
        val cs = cmsCellsOf(e.key, d, w)
        var r = 0
        while (r < d) { grid(r * w + cs(r)) += 1L; r += 1 }
      }
      state.update(CmsGrid(grid))
      (0 until d * w).iterator.filter(grid(_) > 0L).map(i =>
        CmsCellRow(wstart, i / w, i % w, grid(i)))
    }
    events.groupByKey(_.wstart)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        update)(Encoders.product[CmsGrid], Encoders.product[CmsCellRow])
  }

  def heavyHitters(events: Dataset[HEv], capacity: Int, k: Int): Dataset[HHRow] = {
    require(capacity >= k && k >= 1,
      s"heavyHitters: need capacity >= k >= 1, got ($capacity, $k)")
    def update(wstart: Long, evs: Iterator[HEv],
               state: GroupState[HHState]): Iterator[HHRow] = {
      var c = state.getOption.map(_.counters).getOrElse(Map.empty[Long, Long])
      evs.foreach { e =>
        c.get(e.user_id) match {
          case Some(n) => c = c.updated(e.user_id, n + 1)
          case None if c.size < capacity => c = c.updated(e.user_id, 1L)
          case None =>
            val (mk, mv) = c.minBy { case (kk, vv) => (vv, kk) }
            c = (c - mk).updated(e.user_id, mv + 1)
        }
      }
      state.update(HHState(c))
      c.toSeq.sortBy { case (u, n) => (-n, u) }.take(k).zipWithIndex
        .map { case ((u, n), i) => HHRow(wstart, (i + 1).toLong, u, n) }
        .iterator
    }
    events.groupByKey(_.wstart)(Encoders.scalaLong)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        update)(Encoders.product[HHState], Encoders.product[HHRow])
  }
}
