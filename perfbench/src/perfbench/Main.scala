package perfbench

import com.sun.management.GarbageCollectionNotificationInfo
import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Benchmark entry point. One JVM runs one workload:
  *
  *   set-up   generate the seeded inputs three times (the median counts),
  *            start the session, run the fixed warm-up passes unchecked;
  *   measure  repeat passes until `--seconds` have passed (three at least),
  *            verifying every pass's output untimed;
  *   trace    with `--trace 1`, measure untraced passes, then run one pass
  *            with the tracer on plus the standalone diagnostic spans, and
  *            report the per-layer metrics and a trace report file.
  *
  * The last line of stdout is the result object. Options:
  *   --workload NAME --seed N --seconds S --trace 0|1
  *   --work DIR        scratch root (inputs, outputs, Spark local dirs)
  *   --report DIR      where `--trace 1` writes `<workload>-trace.json`
  *   --data DIR        tables for query_surface
  *   --small           tiny inputs, for the benchmark's own tests
  *   --corrupt         flip one byte of every pass's output before checking
  *   --generate DIR    only write the inputs to DIR and print their sha256
  */
object Main {
  val Workloads = Seq("cube_aligned", "recipe_netcdf", "recipe_kerchunk", "query_surface")

  /** The query_surface list. A pass over all 147 entries takes about 105 s
    * on 4 cores, more than a run can spend, so a run takes five: the pick of
    * `census.py select` from the measured table perfbench/census/sf0.001.json,
    * one query from each quarter of the non-e2e entries ranked by latency (the
    * one nearest that quarter's median builder jobs) and one e2e entry. */
  val Queries = Seq(
    "m05_wav_decode", "q06_window", "q34_cms_sketch", "p06_curated_mix",
    "e2e_cube_roundtrip")

  final case class Opts(workload: String = "", seed: Long = 1, seconds: Double = 10,
                        trace: Boolean = false, work: Path = Paths.get(".bench_build/work"),
                        report: Path = Paths.get(".bench_build/reports"),
                        data: Path = Paths.get("perfbench/data/sf0.001"),
                        small: Boolean = false, corrupt: Boolean = false,
                        generate: Option[Path] = None)

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case Nil => o
    case "--workload" :: v :: rest => parse(rest, o.copy(workload = v))
    case "--seed" :: v :: rest => parse(rest, o.copy(seed = v.toLong))
    case "--seconds" :: v :: rest => parse(rest, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: rest => parse(rest, o.copy(trace = v == "1"))
    case "--work" :: v :: rest => parse(rest, o.copy(work = Paths.get(v)))
    case "--report" :: v :: rest => parse(rest, o.copy(report = Paths.get(v)))
    case "--data" :: v :: rest => parse(rest, o.copy(data = Paths.get(v)))
    case "--small" :: rest => parse(rest, o.copy(small = true))
    case "--corrupt" :: rest => parse(rest, o.copy(corrupt = true))
    case "--generate" :: v :: rest => parse(rest, o.copy(generate = Some(Paths.get(v))))
    case other :: _ => throw new IllegalArgumentException(s"unknown argument $other")
  }

  def workload(o: Opts): Workload = o.workload match {
    case "cube_aligned" => new CubeAligned(o.seed, o.small)
    case "recipe_netcdf" => new RecipeNetcdf(o.seed, o.small)
    case "recipe_kerchunk" => new RecipeKerchunk(o.seed, o.small)
    case "query_surface" =>
      new QuerySurface(o.data.toAbsolutePath, if (o.small) Queries.take(4) else Queries)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other'; expected one of ${Workloads.mkString(", ")}")
  }

  /** One measured pass: wall time, outcome and bytes left on disk. */
  final case class Measured(wallS: Double, out: PassOut, storedBytes: Long)

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    require(Queries.forall(graft.SparkEntry.queries.contains),
      s"unknown queries in ${Queries.mkString(",")}")
    val w = workload(o)
    require(!o.corrupt || w.isInstanceOf[PipelineWorkload],
      "--corrupt applies to workloads that write a store or an artifact")
    o.generate match {
      case Some(dir) =>
        Inputs.deleteTree(dir)
        Files.createDirectories(dir)
        w.generate(dir)
        println(Inputs.fingerprint(dir))
      case None => run(o, w)
    }
  }

  private def run(o: Opts, w: Workload): Unit = {
    val root = o.work.toAbsolutePath.resolve(s"${w.name}-${o.seed}")
    Inputs.deleteTree(root)
    val input = root.resolve("input")
    val scratch = Paths.get(System.getProperty("java.io.tmpdir")).toAbsolutePath
    Files.createDirectories(scratch)
    try {
      // set-up: inputs three times, then the session and the warm-ups
      val genS = (1 to 3).map { _ =>
        Inputs.deleteTree(input)
        Files.createDirectories(input)
        val t0 = System.nanoTime()
        w.generate(input)
        (System.nanoTime() - t0) / 1e9
      }
      val t0 = System.nanoTime()
      val spark = session(root)
      val sessionS = (System.nanoTime() - t0) / 1e9
      val liveHeap = new LiveHeap
      try {
        val off = new Tracer(spark.sparkContext, enabled = false)
        val ctx = Ctx(spark, off, input, scratch)
        var passNo = 0
        def onePass(c: Ctx, check: Boolean = true): Measured = {
          passNo += 1
          val out = root.resolve(s"out-$passNo")
          Files.createDirectories(out)
          // each pass starts from a collected heap, so what an earlier pass
          // left behind does not count
          System.gc()
          val t = System.nanoTime()
          val po = c.tracer.span("pass") { w.pass(c, out) }
          val wall = (System.nanoTime() - t) / 1e9
          if (o.corrupt) Check.corruptOne(out)
          val problems = if (check && po.failures.isEmpty) w.check(c, out) else Nil
          val stored = Inputs.treeSize(out)._1
          if (!c.tracer.enabled) Inputs.deleteTree(out)
          val failures = po.failures ++
            (if (problems.isEmpty) Nil else Seq(problems.take(3).mkString("; ")))
          Measured(wall, po.copy(failures = failures), stored)
        }
        val tw = System.nanoTime()
        val warm = (1 to w.warmups).map(_ => onePass(ctx, check = false).wallS)
        val warmS = (System.nanoTime() - tw) / 1e9
        val setupS = median(genS) + sessionS + warmS
        System.err.println(f"perfbench: generate ${genS.mkString(" ")} s, session $sessionS%.2f s, " +
          f"warm-up passes ${warm.map(x => f"$x%.3f").mkString(" ")} ($warmS%.2f s)")

        // measure
        val passes = scala.collection.mutable.ArrayBuffer.empty[Measured]
        val tm = System.nanoTime()
        val budget = if (o.trace) o.seconds / 2 else o.seconds
        while (passes.size < 3 || (System.nanoTime() - tm) / 1e9 < budget)
          passes += onePass(ctx)
        val runS = median(passes.map(_.wallS).toSeq)
        val attempted = passes.map(_.out.attempted).sum
        val failures = passes.flatMap(_.out.failures)
        val src = w.sourceBytes(ctx).toDouble

        if (!o.trace) {
          val lat = passes.flatMap(_.out.latencies).toSeq
          val metrics = Seq(
            ("run_s", runS, "s"),
            ("mb_per_s", src / 1e6 / runS, "MB/s"),
            ("query_p50_s", quantile(lat, 0.5), "s"),
            ("query_p90_s", quantile(lat, 0.9), "s"),
            ("stored_bytes_ratio", median(passes.map(_.storedBytes.toDouble).toSeq) / src, "ratio"),
            ("heap_peak_mb", liveHeap.peakBytes() / 1e6, "MB"),
            ("setup_s", setupS, "s"))
          failures.take(5).foreach(f => System.err.println(s"FAILED: $f"))
          System.err.println(s"perfbench: passes ${passes.map(p => f"${p.wallS}%.3f").mkString(" ")}")
          emit(failures.isEmpty, attempted, failures.size, metrics)
        } else {
          val tracer = new Tracer(spark.sparkContext, enabled = true)
          val tctx = ctx.copy(tracer = tracer)
          val traced = onePass(tctx)
          val passSpan = tracer.spans.head
          val out = root.resolve(s"out-$passNo")
          val diag = w.diagnostics(tctx)
          tracer.close()
          val layers = traceLayers(tracer, passSpan, src, traced.storedBytes, tctx.cores) ++
            w.layers(tctx, passSpan, out) ++ diag
          val perLayer = PerLayer.all.map { case (n, unit) =>
            (n, if (n == "trace.overhead_s") traced.wallS - runS else layers.getOrElse(n, 0.0), unit)
          }
          writeReport(o, w, tracer, perLayer, runS, traced.wallS, setupS)
          Inputs.deleteTree(out)
          val allFailures = failures ++ traced.out.failures
          allFailures.take(5).foreach(f => System.err.println(s"FAILED: $f"))
          emit(allFailures.isEmpty, attempted + traced.out.attempted, allFailures.size, perLayer)
        }
      } finally { liveHeap.close(); spark.stop() }
    } finally Inputs.deleteTree(root)
  }

  /** Metrics every traced pass has: the engine and the process I/O. */
  private def traceLayers(tr: Tracer, pass: Span, src: Double, stored: Long,
                          cores: Int): Map[String, Double] = {
    val all = tr.subtree(pass)
    val st = tr.stagesOf(all)
    val taskS = st.map(_.runMs).sum / 1e3
    val shuffleRead = st.map(_.shuffleReadBytes).sum
    val rchar = pass.io1.rchar - pass.io0.rchar
    val wchar = pass.io1.wchar - pass.io0.wchar
    Map(
      "spark.jobs" -> tr.jobsOf(all).size.toDouble,
      "spark.stages" -> st.size.toDouble,
      "spark.tasks" -> st.map(_.tasks).sum.toDouble,
      "spark.task_s" -> taskS,
      "spark.task_cpu_s" -> st.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> st.map(_.gcMs).sum / 1e3,
      "spark.deser_s" -> st.map(_.deserMs).sum / 1e3,
      "spark.spill_mb" -> st.map(_.spillBytes).sum / 1e6,
      "spark.driver_only_s" -> tr.driverOnlyS(pass),
      "spark.core_busy" -> taskS / (pass.durS * cores),
      "io.read_mb" -> rchar / 1e6,
      "io.write_mb" -> wchar / 1e6,
      "io.read_amplification" -> (rchar - shuffleRead) / src,
      "io.write_amplification" -> (if (stored > 0) wchar.toDouble / stored else 0.0))
  }

  private def writeReport(o: Opts, w: Workload, tr: Tracer,
                          perLayer: Seq[(String, Double, String)],
                          untracedRunS: Double, tracedRunS: Double, setupS: Double): Unit = {
    Files.createDirectories(o.report)
    val doc = Map(
      "workload" -> w.name, "seed" -> o.seed,
      "untraced_run_s" -> untracedRunS, "traced_run_s" -> tracedRunS,
      "trace_overhead_s" -> (tracedRunS - untracedRunS), "setup_s" -> setupS,
      "per_layer" -> perLayer.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap,
      "spans" -> tr.spanReport,
      "jobs" -> tr.allJobs.map { j =>
        Map("job" -> j.jobId, "span" -> j.spanId, "name" -> j.name, "wall_s" -> j.wallS)
      },
      "stages" -> tr.allStages.map { s =>
        Map("stage" -> s.stageId, "job" -> s.jobId, "span" -> s.spanId, "name" -> s.name,
          "tasks" -> s.tasks, "wall_s" -> s.wallS, "task_s" -> s.runMs / 1e3,
          "shuffle_write_mb" -> s.shuffleWriteBytes / 1e6,
          "shuffle_write_records" -> s.shuffleWriteRecords,
          "shuffle_read_mb" -> s.shuffleReadBytes / 1e6)
      }) ++ w.report
    Files.writeString(o.report.resolve(s"${w.name}-trace.json"), json.writeValueAsString(doc) + "\n")
  }

  private def emit(correct: Boolean, attempted: Int, failed: Int,
                   metrics: Seq[(String, Double, String)]): Unit = {
    val m = metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap
    println(json.writeValueAsString(Map("correct" -> correct, "attempted" -> attempted,
      "failed" -> failed, "metrics" -> m)))
  }

  private[perfbench] def session(root: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "131072")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.kryo.classesToRegister", graft.core.KryoClasses.names)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", root.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** The largest heap in use right after a garbage collection, from the
  * collectors' notifications. After a collection the heap holds the live
  * data plus what that collection kept (a young collection leaves the old
  * generation as it is), so unlike the pools' peak usage the figure does not
  * follow how large the collector sizes the young generation. */
final class LiveHeap {
  private val collectors = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private var peak = 0L
  private var seen = 0L

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        LiveHeap.this.synchronized { peak = math.max(peak, used); seen += 1 }
      }
  }
  collectors.foreach(_.asInstanceOf[NotificationEmitter].addNotificationListener(listener, null, null))

  private def collections = collectors.map(_.getCollectionCount).sum
  private val count0 = collections

  /** The peak since this object was made. Notifications arrive on their own
    * thread, so first wait (at most a second) until every collection since
    * then has been reported. */
  def peakBytes(): Long = {
    val want = collections - count0
    val deadline = System.nanoTime() + 1000000000L
    while (synchronized(seen) < want && System.nanoTime() < deadline) Thread.sleep(1)
    synchronized(peak)
  }

  def close(): Unit = collectors.foreach(c =>
    scala.util.Try(c.asInstanceOf[NotificationEmitter].removeNotificationListener(listener)))
}

/** Every per-layer metric with its unit, in report order. */
object PerLayer {
  val all: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_s" -> "s", "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.deser_s" -> "s", "spark.spill_mb" -> "MB", "spark.driver_only_s" -> "s",
    "spark.core_busy" -> "ratio",
    "io.read_mb" -> "MB", "io.write_mb" -> "MB", "io.read_amplification" -> "ratio",
    "io.write_amplification" -> "ratio",
    "patterns.items" -> "count", "patterns.plan_s" -> "s",
    "openers.files" -> "count", "openers.decode_s" -> "s", "openers.decode_mb_per_s" -> "MB/s",
    "transforms.schema_s" -> "s", "transforms.schema_jobs" -> "count",
    "rechunking.fragments_in" -> "count", "rechunking.pieces_out" -> "count",
    "rechunking.target_chunks" -> "count", "rechunking.regroup_ratio" -> "ratio",
    "rechunking.shuffle_write_mb" -> "MB", "rechunking.shuffle_write_s" -> "s",
    "rechunking.fetch_wait_s" -> "s", "rechunking.serialized_ratio" -> "ratio",
    "zarr.objects_written" -> "count", "zarr.bytes_stored" -> "bytes",
    "zarr.write_stage_s" -> "s",
    "kerchunk.refs" -> "count", "kerchunk.scan_s" -> "s", "kerchunk.merge_s" -> "s",
    "kerchunk.merge_jobs" -> "count", "kerchunk.artifact_bytes" -> "bytes",
    "queries.build_s" -> "s", "queries.exec_s" -> "s", "queries.build_share" -> "ratio",
    "queries.build_jobs" -> "count", "queries.exec_jobs" -> "count",
    "trace.overhead_s" -> "s")
}
