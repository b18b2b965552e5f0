package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming pipelines driven synchronously against the events
  * parquet via the memory sink (batch-of-parquet drives the stream). The
  * streaming results must equal the batch twins on the same data.
  */
class StreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  private val sfDir = "/root/testdata/sf0.001"

  /** Streaming source over the events parquet; the file is staged into a
    * directory (FileStreamSource requires one). The schema is whatever the
    * driver's generator produced this round (nanos-long, TIMESTAMP, or
    * TIMESTAMP_NTZ) — Tables.normalizeEventTs applies the same drift arm
    * the batch twins use, so the streaming path can't diverge. */
  private def eventStream() = {
    val stage = java.nio.file.Files.createTempDirectory("ev_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      stage.resolve("events.parquet"))
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    graft.queries.Tables.normalizeEventTs(
      spark.readStream.schema(schema).parquet(stage.toString))
  }

  test("streaming windowed agg equals the batch plan") {
    import spark.implicits._
    val q = StreamingPipelines.windowedEventCounts(eventStream())
      .writeStream.outputMode("complete")
      .format("memory").queryName("win_out").start()
    try {
      q.processAllAvailable()
      val streaming = spark.sql(
        "SELECT wstart, event_type, n, value_milli FROM win_out")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSet
      val batch = graft.queries.Relational.q11EventWindows(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(streaming == batch)
      assert(streaming.nonEmpty)
    } finally q.stop()
  }

  test("stateful sessionization emits per-user summaries") {
    import spark.implicits._
    val evs = eventStream()
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .as[StreamingPipelines.Ev]
    val q = StreamingPipelines.sessionize(evs)
      .writeStream.outputMode("update")
      .format("memory").queryName("sess_out").start()
    try {
      q.processAllAvailable()
      val streaming = spark.sql(
        "SELECT user_id, n_sessions, n_events FROM sess_out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toMap2
      val batch = graft.queries.StreamOps.st01Sessionize(spark, sfDir)
        .select("user_id", "n_sessions")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      // single micro-batch -> streaming session counts equal batch
      val streamingSessions = streaming.map { case (u, (s, _)) => u -> s }
      assert(streamingSessions == batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  private implicit class Tup3Ops(rows: Array[(Long, Long, Long)]) {
    def toMap2: Map[Long, (Long, Long)] =
      rows.map { case (a, b, c) => a -> (b, c) }.toMap
  }

  test("stream-static enrichment join equals the batch twin") {
    import org.apache.spark.sql.functions._
    val profile = graft.queries.Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey").as("user_id"))
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("order_cents"))
    val q = StreamingPipelines.enrichedUserActivity(eventStream(), profile)
      .writeStream.outputMode("complete")
      .format("memory").queryName("enrich_out").start()
    try {
      q.processAllAvailable()
      val streaming = spark.sql(
        "SELECT user_id, n_events, n_orders, order_cents FROM enrich_out")
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
      val batch = graft.queries.StreamOps.st03EnrichJoin(spark, sfDir)
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
      assert(streaming == batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("foreachBatch zarr append builds the cube incrementally") {
    import spark.implicits._
    import graft.core.{GoldenCube, Fragment}
    import graft.patterns.FileType
    import graft.zarr.ZarrGroup
    val cube = GoldenCube.makeDs(8)
    val dir = java.nio.file.Files.createTempDirectory("zarr_stream").toString
    val frags = GoldenCube.splitByTime(cube, 2) // 4 files of 2 days
    val files = frags.zipWithIndex.map { case (f, i) =>
      val path = s"$dir/frag_$i.zarr"
      val g = ZarrGroup(path)
      g.initGroup(f.attrs)
      f.allVars.foreach { case (name, v) =>
        g.createArray(name, v.shape, v.shape, v.dtype, v.attrs,
          dimensionNames = Some(v.dims))
        g.writeRegion(name, Vector.fill(v.data.ndim)(0), v.data)
      }
      path
    }
    val storePath = s"$dir/store.zarr"
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String]
    val q = mem.toDS().writeStream
      .foreachBatch(StreamingPipelines.zarrAppendBatch(
        storePath, "time", FileType.Zarr, Map("time" -> 2), Some(2)) _)
      .start()
    try {
      mem.addData(files.take(2): _*)
      q.processAllAvailable()
      assert(ZarrGroup(storePath).arrayMeta("foo").shape.head == 4)
      mem.addData(files.drop(2): _*)
      q.processAllAvailable()
      val result = ZarrGroup(storePath).readFragment()
      assert(result.sameAs(cube))
    } finally q.stop()
  }

  test("zarr append sink is idempotent under micro-batch REPLAY (guarded); unguarded doubles") {
    import spark.implicits._
    import graft.core.GoldenCube
    import graft.patterns.FileType
    import graft.zarr.ZarrGroup
    val cube = GoldenCube.makeDs(6)
    val dir = java.nio.file.Files.createTempDirectory("zarr_replay").toString
    val frags = GoldenCube.splitByTime(cube, 2)
    val files = frags.zipWithIndex.map { case (f, i) =>
      val path = s"$dir/frag_$i.zarr"
      val g = ZarrGroup(path)
      g.initGroup(f.attrs)
      f.allVars.foreach { case (name, v) =>
        g.createArray(name, v.shape, v.shape, v.dtype, v.attrs,
          dimensionNames = Some(v.dims))
        g.writeRegion(name, Vector.fill(v.data.ndim)(0), v.data)
      }
      path
    }
    val storePath = s"$dir/store.zarr"
    // simulate a post-restart foreachBatch REDELIVERY: the same batch
    // (same urls) invoked twice — the failure mode between sink write
    // and checkpoint commit that Structured Streaming replays through
    val append = StreamingPipelines.zarrAppendBatch(
      storePath, "time", FileType.Zarr, Map("time" -> 2), Some(2)) _
    append(Seq(files(0)).toDS(), 0L)   // creates the store
    // REPLAY of the CREATE batch (crash between store creation and
    // checkpoint commit): the redelivery sees an existing store, so
    // without a ledgered create-tag it would append batch 0 AFTER
    // itself — the r9 guard's uncovered window
    append(Seq(files(0)).toDS(), 0L)
    assert(ZarrGroup(storePath).arrayMeta("foo").shape.head == 2,
      "guarded sink double-appended a replayed CREATE batch")
    append(Seq(files(1)).toDS(), 1L)   // appends batch 1
    assert(ZarrGroup(storePath).arrayMeta("foo").shape.head == 4)
    append(Seq(files(1)).toDS(), 1L)   // REPLAY of batch 1 — must no-op
    assert(ZarrGroup(storePath).arrayMeta("foo").shape.head == 4,
      "guarded sink double-appended a replayed batch")
    // ledger bound: pre-seed a full window of fake applied tags, then
    // land one more batch — the ledger must stay at AppliedAppendsKeep,
    // keep the new tag, and evict the oldest (the attrs JSON is rewritten
    // every batch, so an unbounded list would grow forever on a
    // long-running stream)
    import graft.core.AttrValue
    import graft.transforms.Pipelines
    locally {
      val g = ZarrGroup(storePath)
      val fakes = (0 until Pipelines.AppliedAppendsKeep)
        .map(i => AttrValue.AStr(f"fake$i%02d")).toVector
      g.setGroupAttrs(g.groupAttrs +
        (Pipelines.AppliedAppendsAttr -> AttrValue.AList(fakes)))
    }
    append(Seq(files(2)).toDS(), 2L)   // appends batch 2
    assert(ZarrGroup(storePath).arrayMeta("foo").shape.head == 6)
    assert(ZarrGroup(storePath).readFragment().sameAs(cube))
    locally {
      val applied = ZarrGroup(storePath).groupAttrs(Pipelines.AppliedAppendsAttr)
        .asInstanceOf[AttrValue.AList].v
        .collect { case AttrValue.AStr(x) => x }
      assert(applied.size == Pipelines.AppliedAppendsKeep,
        s"ledger not bounded: ${applied.size} tags")
      assert(!applied.contains("fake00"), "oldest tag not evicted")
      val tag2 = graft.patterns.FilePattern.fromFileSequence(
          Vector(files(2)), "time", nitemsPerFile = Some(2),
          fileType = FileType.Zarr)
        .sha256Hash.map("%02x".format(_)).mkString
      assert(applied.last == tag2, "newest tag missing from the ledger")
    }
    // unguarded (the reference's documented non-idempotent behavior):
    // the same replay DOES double the append dimension
    val store2 = s"$dir/store2.zarr"
    val raw = StreamingPipelines.zarrAppendBatch(
      store2, "time", FileType.Zarr, Map("time" -> 2), Some(2),
      guard = false) _
    raw(Seq(files(0)).toDS(), 0L)
    raw(Seq(files(1)).toDS(), 1L)
    raw(Seq(files(1)).toDS(), 1L)
    assert(ZarrGroup(store2).arrayMeta("foo").shape.head == 6,
      "unguarded replay should append again (reference semantics)")
  }

  test("streaming dedup-within-watermark equals the batch dedup twin") {
    // deliver in TWO time-ordered micro-batches with the watermark
    // advancing between them — the replay shape that breaks any
    // watermark-delay < dedup-window-span configuration
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ev = graft.queries.Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .sortBy(_._4)
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, String, Long)]
    val stream = mem.toDF()
      .toDF("event_id", "user_id", "event_type", "ts_us")
      .withColumn("ts", timestamp_micros(col("ts_us")))
    val q = StreamingPipelines.dedupedEvents(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      val (first, second) = ev.splitAt(ev.length / 2)
      mem.addData(first.toSeq: _*)
      q.processAllAvailable()
      mem.addData(second.toSeq: _*)
      q.processAllAvailable()
      val streaming = spark.sql(
        "SELECT event_type, COUNT(*) AS n FROM dedup_out GROUP BY 1")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      val batch = graft.queries.StreamOps.st05StreamDedup(spark, sfDir)
        .select("event_type", "n_dedup")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
      assert(streaming == batch)
      assert(streaming.nonEmpty)
    } finally q.stop()
  }

  test("streaming quota admission equals the batch twin across a two-batch replay") {
    // deliver in TWO time-ordered micro-batches so the per-key counter
    // must carry its state across batches (the shape that breaks any
    // per-batch-recomputed quota)
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ev = graft.queries.Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._3)
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, Long)]
    val stream = mem.toDF().toDF("event_id", "user_id", "ts_us")
      .as[StreamingPipelines.QEv]
    val q = StreamingPipelines.quotaAdmit(stream)
      .writeStream.outputMode("update")
      .format("memory").queryName("quota_out").start()
    try {
      val (first, second) = ev.splitAt(ev.length / 2)
      mem.addData(first.toSeq: _*)
      q.processAllAvailable()
      mem.addData(second.toSeq: _*)
      q.processAllAvailable()
      // update mode emits one row per user per batch; every column is
      // monotone non-decreasing, so max() selects the final state
      val streaming = spark.sql(
        """SELECT user_id, max(n_events), max(n_admitted), max(last_admitted_us)
          |FROM quota_out GROUP BY user_id""".stripMargin)
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
      val batch = graft.queries.StreamOps.st07QuotaAdmission(spark, sfDir)
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
      assert(streaming == batch)
      // the quota must actually bind on this corpus or the probe is vacuous
      assert(batch.values.exists { case (n, adm, _) => adm < n })
    } finally q.stop()
  }

  test("streaming scored admission equals the batch twin across a two-batch replay") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the shared gated stream (cut gate pre-applied — the stream-static
    // broadcast-join stage), delivered in TWO time-ordered micro-batches
    // so the four-long counter must carry state across batches
    val ev = graft.queries.StreamOps.st09Gated(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3)))
      .sortBy(_._3)
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, Long, Boolean)]
    val stream = mem.toDF().toDF("event_id", "user_id", "ts_us", "passed")
      .as[StreamingPipelines.SEv]
    val q = StreamingPipelines.scoredAdmit(stream)
      .writeStream.outputMode("update")
      .format("memory").queryName("scored_out").start()
    try {
      val (first, second) = ev.splitAt(ev.length / 2)
      mem.addData(first.toSeq: _*)
      q.processAllAvailable()
      mem.addData(second.toSeq: _*)
      q.processAllAvailable()
      // update mode: one row per user per batch, all columns monotone
      val streaming = spark.sql(
        """SELECT user_id, max(n_events), max(n_passed), max(n_admitted),
          |  max(last_admitted_us)
          |FROM scored_out GROUP BY user_id""".stripMargin)
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2),
          r.getLong(3), Option(r.get(4)).map(_.asInstanceOf[Long]))))
        .toMap
      val batch = graft.queries.StreamOps.st09ScoredAdmission(spark, sfDir)
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2),
          r.getLong(3), Option(r.get(4)).map(_.asInstanceOf[Long]))))
        .toMap
      assert(streaming == batch)
      // BOTH gates must bind on this corpus or the probe is vacuous:
      // somewhere the cut rejects events, somewhere the quota truncates
      assert(batch.values.exists { case (n, p, _, _) => p < n },
        "value cut never rejected an event")
      assert(batch.values.exists { case (_, p, adm, _) => adm < p },
        "quota never truncated the passing stream")
    } finally q.stop()
  }

  test("streaming heavy hitters: exact under capacity; SpaceSaving bounds under pressure") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    // events keyed by (hour window, user), delivered in two time-ordered
    // micro-batches so the per-window counter table must carry state
    val ev = graft.queries.Tables.events(spark, sfDir)
      .select((unix_timestamp(date_trunc("hour", col("ts")))).as("wstart"),
        col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._3)
    val exact: Map[(Long, Long), Long] = ev.groupBy(e => (e._1, e._2))
      .map { case (k, g) => k -> g.length.toLong }
    val distinctPerWindow = exact.keys.groupBy(_._1).map { case (w, ks) => w -> ks.size }
    val batchTop = graft.queries.StreamOps.st08HeavyHitters(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))

    def run(capacity: Int): Map[Long, Seq[(Long, Long, Long)]] = {
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long)]
      val stream = mem.toDF().toDF("wstart", "user_id")
        .as[StreamingPipelines.HEv]
      val name = s"hh_out_$capacity"
      val q = StreamingPipelines.heavyHitters(stream, capacity,
        graft.queries.StreamOps.HhK)
        .writeStream.outputMode("update").format("memory").queryName(name).start()
      try {
        val (first, second) = ev.splitAt(ev.length / 2)
        mem.addData(first.map(e => (e._1, e._2)).toSeq: _*)
        q.processAllAvailable()
        val afterB1 = spark.table(name).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        mem.addData(second.map(e => (e._1, e._2)).toSeq: _*)
        q.processAllAvailable()
        val all = spark.table(name).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        // final emission per window: batch-2 rows supersede batch-1 rows
        val b2 = all.diff(afterB1)
        val b2Windows = b2.map(_._1).toSet
        (b2 ++ afterB1.filterNot(r => b2Windows.contains(r._1)))
          .groupBy(_._1)
          .map { case (w, rows) =>
            w -> rows.sortBy(_._2).map(r => (r._2, r._3, r._4)).toSeq
          }
      } finally q.stop()
    }

    // regime 1: capacity covers every window's distinct keys -> EXACT,
    // final emission equals the batch twin row for row
    val cap = distinctPerWindow.values.max + 4
    val gotExact = run(cap).flatMap { case (w, rows) =>
      rows.map { case (rk, u, n) => (w, rk, u, n) }
    }.toSet
    assert(gotExact == batchTop.toSet,
      s"extra=${gotExact.diff(batchTop.toSet).take(3)} " +
        s"missing=${batchTop.toSet.diff(gotExact).take(3)}")

    // regime 2: capacity pressure -> every emitted estimate overestimates
    // by at most windowTotal/capacity (the SpaceSaving bound); probe must
    // actually evict to be non-vacuous
    val smallCap = math.max(graft.queries.StreamOps.HhK,
      distinctPerWindow.values.max / 3)
    assert(distinctPerWindow.values.exists(_ > smallCap),
      "no window exceeds the small capacity — pressure probe vacuous")
    val windowTotals = ev.groupBy(_._1).map { case (w, g) => w -> g.length.toLong }
    run(smallCap).foreach { case (w, rows) =>
      val bound = windowTotals(w) / smallCap
      rows.foreach { case (_, u, est) =>
        val truth = exact.getOrElse((w, u), 0L)
        assert(est >= truth, s"window $w user $u: est $est < true $truth")
        assert(est - truth <= bound,
          s"window $w user $u: est $est exceeds true $truth by more than $bound")
      }
    }
  }

  test("streaming CMS: two-batch replay's final grid equals the q34 batch grid") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val d = 4; val w = 64
    val ev = graft.queries.Tables.events(spark, sfDir)
      .select(unix_timestamp(date_trunc("hour", col("ts"))).as("wstart"),
        col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._3)
    // the batch grid: the q34 cell construction (same cmsColsExpr family)
    // aggregated per window instead of globally
    val batchGrid: Map[(Long, Int, Int), Long] = graft.queries.Tables
      .events(spark, sfDir)
      .select(unix_timestamp(date_trunc("hour", col("ts"))).as("wstart"),
        posexplode(expr(
          graft.queries.Relational3.cmsColsExpr("user_id", d, w)))
          .as(Seq("r", "c")))
      .groupBy("wstart", "r", "c").agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2).toInt) -> r.getLong(3))
      .toMap

    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long)]
    val stream = mem.toDF().toDF("wstart", "key").as[StreamingPipelines.CmsEv]
    val q = StreamingPipelines.cmsGrids(stream, d, w)
      .writeStream.outputMode("update").format("memory")
      .queryName("cms_out").start()
    val finalGrid = try {
      val (first, second) = ev.splitAt(ev.length / 2)
      mem.addData(first.map(e => (e._1, e._2)).toSeq: _*)
      q.processAllAvailable()
      val afterB1 = spark.table("cms_out").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
      mem.addData(second.map(e => (e._1, e._2)).toSeq: _*)
      q.processAllAvailable()
      val all = spark.table("cms_out").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
      // batch-2 emissions supersede batch-1 rows for re-touched windows
      val b2 = all.diff(afterB1)
      val b2Windows = b2.map(_._1).toSet
      (b2 ++ afterB1.filterNot(r => b2Windows.contains(r._1)))
        .map(r => (r._1, r._2, r._3) -> r._4).toMap
    } finally q.stop()
    assert(finalGrid == batchGrid,
      s"extra=${finalGrid.toSet.diff(batchGrid.toSet).take(3)} " +
        s"missing=${batchGrid.toSet.diff(finalGrid.toSet).take(3)}")

    // probe leg: estimates from the emitted grid are one-sided and within
    // the CMS bound for every observed key
    val exact = ev.groupBy(e => (e._1, e._2)).map { case (k, g) => k -> g.length.toLong }
    val windowTotals = ev.groupBy(_._1).map { case (ws, g) => ws -> g.length.toLong }
    exact.foreach { case ((ws, key), truth) =>
      val cells = StreamingPipelines.cmsCellsOf(key, d, w)
      val est = (0 until d).map(r => finalGrid.getOrElse((ws, r, cells(r)), 0L)).min
      assert(est >= truth, s"window $ws key $key: est $est < true $truth")
      // standard CMS bound at delta = e^-d over the min: conservative
      // deterministic check — overcount can't exceed the window's total
      // mass landing in one row's cell
      assert(est - truth <= windowTotals(ws),
        s"window $ws key $key: absurd overcount")
    }
  }

  test("stream-stream interval join equals the batch attribution twin") {
    val clicks = eventStream().filter(col("event_type") === "click")
    val purchases = eventStream().filter(col("event_type") === "purchase")
    val q = StreamingPipelines.attributedPurchases(clicks, purchases)
      .writeStream.outputMode("append")
      .format("memory").queryName("attr_out").start()
    try {
      q.processAllAvailable()
      // aggregate the streamed matches like the batch twin does
      val streaming = spark.sql(
        """SELECT user_id, COUNT(*) AS n, MIN(lag_us) AS m
          |FROM attr_out GROUP BY user_id""".stripMargin)
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
      val batch = graft.queries.StreamOps.st04StreamJoin(spark, sfDir)
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
      assert(streaming == batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("left-outer interval join emits unmatched clicks after watermark closure") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ev = graft.queries.Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val maxUs = ev.map(_._4).max
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, String, Long)]
    def stream(tpe: String) = mem.toDF()
      .toDF("event_id", "user_id", "event_type", "ts_us")
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .filter(col("event_type") === tpe)
    val q = StreamingPipelines.clickConversions(stream("click"), stream("purchase"))
      .writeStream.outputMode("append")
      .format("memory").queryName("conv_out").start()
    try {
      mem.addData(ev.toSeq: _*)
      q.processAllAvailable()
      // sentinel click+purchase one hour past the corpus pushes BOTH
      // watermarks beyond every real click's join bound -> outer nulls flush
      mem.addData((-1L, -1L, "click", maxUs + 3600000000L),
        (-2L, -1L, "purchase", maxUs + 3600000000L))
      q.processAllAvailable()
      mem.addData((-3L, -1L, "click", maxUs + 7200000000L),
        (-4L, -1L, "purchase", maxUs + 7200000000L))
      q.processAllAvailable()
      val streaming = spark.sql(
        """SELECT user_id, COUNT(DISTINCT click_id) AS n_clicks,
          |  COUNT(DISTINCT CASE WHEN purchase_id IS NULL THEN click_id END)
          |    AS n_unconverted
          |FROM conv_out WHERE user_id >= 0 GROUP BY user_id""".stripMargin)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val batch = graft.queries.StreamOps.st06UnconvertedClicks(spark, sfDir)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streaming == batch)
      assert(batch.exists(_._3 > 0)) // some clicks really are unconverted
    } finally q.stop()
  }

  test("NTZ-sourced file stream: normalizeEventTs feeds windowed aggs correctly") {
    // a synthetic TIMESTAMP_NTZ parquet (the round-6 generator drift that
    // broke 12 batch queries) streamed through the SAME normalization arm
    // — pinned independently of whatever type the driver's testdata
    // carries this round, so the streaming path can't regress with the
    // next drift
    import spark.implicits._
    val stage = java.nio.file.Files.createTempDirectory("ntz_stream")
    val micros0 = 1709294400000000L // 2024-03-01T12:00:00Z
    val rows = Seq(
      (1L, micros0, 7L, "click", 1.0),
      (2L, micros0 + 10L * 60 * 1000000, 7L, "click", 2.0),
      (3L, micros0 + 90L * 60 * 1000000, 8L, "purchase", 3.0))
    rows.toDF("event_id", "us", "user_id", "event_type", "value")
      .select(col("event_id"),
        timestamp_micros(col("us")).cast(TimestampNTZType).as("ts"),
        col("user_id"), col("event_type"), col("value"))
      .coalesce(1).write.mode("overwrite").parquet(s"$stage/in")
    val schema = spark.read.parquet(s"$stage/in").schema
    assert(schema("ts").dataType == TimestampNTZType)
    val src = graft.queries.Tables.normalizeEventTs(
      spark.readStream.schema(schema).parquet(s"$stage/in"))
    val q = src
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("window.start")).as("wstart"),
        col("event_type"), col("n"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("ntz_out").start()
    try {
      q.processAllAvailable()
      val got = spark.sql("SELECT wstart, event_type, n FROM ntz_out")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      val h0 = micros0 / 1000000
      assert(got == Set(
        (h0, "click", 2L),
        (h0 + 3600, "purchase", 1L)))
    } finally q.stop()
  }

  test("streaming ingest of arriving netCDF-4 files appends to the cube") {
    import spark.implicits._
    import graft.patterns.FileType
    import graft.zarr.ZarrGroup
    import graft.core._
    // arriving-file ingest with a REAL binary format: each micro-batch
    // carries newly-landed .nc files, decoded by the pure-JVM HDF5 codec
    // on executors and appended along time
    val nt = 6; val NY = 4; val NX = 3
    val rng = new scala.util.Random(31)
    val cube = Fragment(
      dims = Map("time" -> nt, "lat" -> NY, "lon" -> NX),
      coords = Map(
        "time" -> Variable(Vector("time"),
          NDArray(DType.I8, Vector(nt), (0 until nt).map(_.toLong).toArray)),
        "lat" -> Variable(Vector("lat"),
          NDArray(DType.F8, Vector(NY), (0 until NY).map(_ * 1.0).toArray)),
        "lon" -> Variable(Vector("lon"),
          NDArray(DType.F8, Vector(NX), (0 until NX).map(_ * 2.0).toArray))),
      dataVars = Map("foo" -> Variable(Vector("time", "lat", "lon"),
        NDArray(DType.F8, Vector(nt, NY, NX),
          Array.fill(nt * NY * NX)(rng.nextDouble())))),
      attrs = Map("conventions" -> AttrValue("CF 1.6")))
    val dir = java.nio.file.Files.createTempDirectory("nc_stream").toString
    val files = (0 until nt by 2).map { t0 =>
      val p = s"$dir/arrival_$t0.nc"
      graft.hdf5.HDF5Writer.write(p, cube.isel(Map("time" -> Slc(t0, t0 + 2))),
        chunks = Map("foo" -> Vector(1, NY, NX)), deflateLevel = Some(4))
      p
    }.toVector
    val storePath = s"$dir/store.zarr"
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String]
    val q = mem.toDS().writeStream
      .foreachBatch(StreamingPipelines.zarrAppendBatch(
        storePath, "time", FileType.Netcdf4, Map("time" -> 2), Some(2)) _)
      .start()
    try {
      mem.addData(files.head)
      q.processAllAvailable()
      assert(ZarrGroup(storePath).arrayMeta("foo").shape.head == 2)
      mem.addData(files.tail: _*)
      q.processAllAvailable()
      assert(ZarrGroup(storePath).readFragment().sameAs(cube))
    } finally q.stop()
  }

  test("drift monitor: two-batch replay's final emission equals the st10 batch twin") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    // train the baseline EXACTLY like the batch twin: global milli mix
    val ev = graft.queries.Tables.events(spark, sfDir)
      .select(unix_timestamp(date_trunc("hour", col("ts"))).as("wstart"),
        col("event_type"), unix_micros(col("ts")).as("ts_us"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._3)
    val total = ev.length.toLong
    val baseline: Map[String, Long] = ev.groupBy(_._2)
      .map { case (t, g) => t -> 1000L * g.length / total }
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("wstart", "event_type")
      .as[StreamingPipelines.DEv]
    val q = StreamingPipelines.driftScores(stream, baseline)
      .writeStream.outputMode("update").format("memory")
      .queryName("drift_out").start()
    try {
      val (first, second) = ev.splitAt(ev.length / 2)
      mem.addData(first.map(e => (e._1, e._2)).toSeq: _*)
      q.processAllAvailable()
      val afterB1 = spark.table("drift_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      mem.addData(second.map(e => (e._1, e._2)).toSeq: _*)
      q.processAllAvailable()
      val all = spark.table("drift_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      // final emission per window: batch-2 rows supersede batch-1 rows
      val b2 = all.diff(afterB1)
      val b2Windows = b2.map(_._1).toSet
      val fin = (b2 ++ afterB1.filterNot(r => b2Windows.contains(r._1)))
        .map(r => r._1 -> (r._2, r._3, r._4)).toMap
      val batch = graft.queries.StreamOps.st10DriftScore(spark, sfDir)
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3)))
        .toMap
      assert(fin == batch,
        s"windows differing: ${(fin.toSet diff batch.toSet).take(3)} " +
          s"vs ${(batch.toSet diff fin.toSet).take(3)}")
      assert(batch.nonEmpty)
      // a novel type the baseline never saw scores its full mass, not a crash
      val memN = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String)]
      val qn = StreamingPipelines.driftScores(
        memN.toDF().toDF("wstart", "event_type").as[StreamingPipelines.DEv],
        baseline)
        .writeStream.outputMode("update").format("memory")
        .queryName("drift_novel").start()
      try {
        memN.addData((0L, "never_seen_type"), (0L, "never_seen_type"))
        qn.processAllAvailable()
        val rows = spark.table("drift_novel").collect()
        assert(rows.length == 1)
        // |q - p| over baseline types (q = 0 there) + full novel mass 1000
        val wantL1 = baseline.values.sum + 1000L
        assert(rows.head.getLong(2) == wantL1, rows.head)
      } finally qn.stop()
    } finally q.stop()
  }

  test("streaming near-dup admission: two-batch replay equals the st11 batch twin") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    graft.functions.GraftFunctions.register(spark)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val maxId = docs.agg(org.apache.spark.sql.functions.max("doc_id"))
      .head().getLong(0)
    val den = graft.queries.SimilarityOps.NewBatchDen
    val t = (maxId + 1L) * (den - 1L) / den
    val standing = docs.filter(col("doc_id") < t).localCheckpoint(true)
    val arriving = docs.filter(col("doc_id") >= t)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val sink = new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, Long, Option[Double], Boolean)]()
    val emit: (org.apache.spark.sql.DataFrame, Long) => Unit = (df, _) =>
      df.collect().foreach(r => sink.add((r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Double]), r.getBoolean(3))))
    val q = mem.toDF().toDF("doc_id", "text")
      .writeStream
      .foreachBatch(StreamingPipelines.nearDupAdmitBatch(standing, emit))
      .start()
    try {
      // two micro-batches: the split must not change any verdict
      // (admission is per-doc vs standing state only)
      val (first, second) = arriving.splitAt(arriving.length / 2)
      mem.addData(first.toSeq: _*)
      q.processAllAvailable()
      mem.addData(second.toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    import scala.jdk.CollectionConverters._
    val streaming = sink.asScala.toVector.sortBy(_._1)
    val batchTwin = graft.queries.StreamOps
      .st11NeardupAdmission(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Double]), r.getBoolean(3)))
      .toVector.sortBy(_._1)
    assert(streaming == batchTwin)
    // non-vacuity: the gate must reject something and admit something
    assert(batchTwin.exists(!_._4) && batchTwin.exists(_._4),
      "st11 fixture vacuous: nothing rejected or nothing admitted")
  }

  test("st11: probe on persisted standing state equals a fresh one-shot build") {
    // the r10 split: the gated entry loads standing state from the
    // registry (built on first call) and probes it — a repeat call and a
    // from-scratch state+probe must produce identical verdict rows
    graft.functions.GraftFunctions.register(spark)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Double]), r.getBoolean(3)))
        .toVector.sortBy(_._1)
    val first = rows(graft.queries.StreamOps.st11NeardupAdmission(spark, sfDir))
    // second call reuses the registry's checkpointed state
    val again = rows(graft.queries.StreamOps.st11NeardupAdmission(spark, sfDir))
    assert(first == again, "cached-state probe drifted from the first run")
    // independent monolithic rebuild (fresh state every time)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val maxId = docs.agg(org.apache.spark.sql.functions.max("doc_id"))
      .head().getLong(0)
    val den = graft.queries.SimilarityOps.NewBatchDen
    val t = (maxId + 1L) * (den - 1L) / den
    val fresh = rows(graft.queries.SimilarityOps.nearDupAdmissionOf(
      docs.filter(col("doc_id") < t), docs.filter(col("doc_id") >= t)))
    assert(first == fresh, "persisted-state probe drifted from a fresh build")
    assert(first.nonEmpty)
  }

  test("streaming media admission: two-batch replay equals the st12 batch twin") {
    // p13's mixed-container ingest as an admission firewall: standing
    // pHash families are frozen state; arriving PNG/GIF/JPEG payloads
    // (incl. progressive JPEG legs) decode through their REAL codecs
    // per micro-batch; the batch split must not change any verdict
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    graft.functions.GraftFunctions.register(spark)
    val ids = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    val den = graft.queries.SimilarityOps.NewBatchDen
    val t = (ids.max + 1L) * (den - 1L) / den
    def payloads(sel: Array[Long]) =
      sel.map(id => (id, graft.queries.MultiModalOps.st12MediaBytes(id)))
    val standing = payloads(ids.filter(_ < t)).toSeq
      .toDF("doc_id", "bytes").localCheckpoint(true)
    val arriving = payloads(ids.filter(_ >= t))
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Byte])]
    val sink = new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, String, Long, Boolean)]()
    val emit: (org.apache.spark.sql.DataFrame, Long) => Unit = (df, _) =>
      df.collect().foreach(r => sink.add((r.getLong(0), r.getString(1),
        r.getLong(2), r.getBoolean(3))))
    val q = mem.toDF().toDF("doc_id", "bytes")
      .writeStream
      .foreachBatch(StreamingPipelines.mediaAdmitBatch(standing, emit))
      .start()
    try {
      val (first, second) = arriving.splitAt(arriving.length / 2)
      mem.addData(first.toSeq: _*)
      q.processAllAvailable()
      mem.addData(second.toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    import scala.jdk.CollectionConverters._
    val streaming = sink.asScala.toVector.sortBy(_._1)
    val batchTwin = graft.queries.StreamOps
      .st12MediaAdmission(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getBoolean(3))).toVector.sortBy(_._1)
    assert(streaming == batchTwin)
    // non-vacuity: the firewall must reject AND admit, and all three
    // containers must appear among the arriving batch
    assert(batchTwin.exists(!_._4) && batchTwin.exists(_._4),
      "st12 fixture vacuous: nothing rejected or nothing admitted")
    assert(batchTwin.map(_._2).toSet == Set("png", "gif", "jpeg"),
      s"containers seen: ${batchTwin.map(_._2).toSet}")
  }
}
