package perfbench

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Process I/O counters from /proc/self/io: bytes passed through read()
  * and write() calls, page cache included. Zero where the file is absent. */
object ProcIO {
  final case class Counters(rchar: Long, wchar: Long)

  def read(): Counters = {
    val f = new java.io.File("/proc/self/io")
    if (!f.canRead) return Counters(0, 0)
    val kv = scala.io.Source.fromFile(f).getLines().flatMap { l =>
      l.split(":\\s*") match {
        case Array(k, v) => Some(k -> v.trim.toLong)
        case _ => None
      }
    }.toMap
    Counters(kv.getOrElse("rchar", 0L), kv.getOrElse("wchar", 0L))
  }
}

/** Task metrics of one stage, summed over its finished tasks. */
final class StageRec(val stageId: Int, val jobId: Int, val spanId: Int, val name: String) {
  var submitMs = 0L
  var completeMs = 0L
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var deserMs = 0L
  var spillBytes = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var shuffleWriteNs = 0L
  var shuffleReadBytes = 0L
  var fetchWaitMs = 0L

  def wallS: Double = math.max(0L, completeMs - submitMs) / 1e3
}

final class JobRec(val jobId: Int, val spanId: Int, val startMs: Long, val name: String) {
  var endMs = 0L
  def wallS: Double = math.max(0L, endMs - startMs) / 1e3
}

/** One public call the benchmark made, with the jobs it launched. */
final class Span(val id: Int, val name: String, val parent: Int,
                 val startMs: Double, val io0: ProcIO.Counters) {
  var endMs = 0.0
  var io1: ProcIO.Counters = io0
  def durS: Double = (endMs - startMs) / 1e3
}

/** Traces the program from outside. Every public call the benchmark makes
  * runs inside a span; before the call the span id is set as a Spark local
  * property of the calling thread, so the listener can charge each job,
  * stage and task to the span that launched it. A disabled tracer runs the
  * body and records nothing.
  *
  * Every read of the jobs and stages first waits until the listener bus has
  * delivered all events posted so far. Spark posts a job's events before the
  * action that ran it returns, so a read after a call sees all its jobs. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer.SpanKey

  val spans = mutable.ArrayBuffer.empty[Span]
  // written by the listener thread, read by the driver thread: both hold lock
  private val lock = new Object
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  private var current = -1
  // epoch milliseconds from a monotonic clock, comparable to event times
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toInt).getOrElse(-1)
      val name = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
      jobs(e.jobId) = new JobRec(e.jobId, span, e.time, name)
      e.stageInfos.foreach { si =>
        if (!stages.contains(si.stageId))
          stages(si.stageId) = new StageRec(si.stageId, e.jobId, span, si.name)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      stages.get(e.stageInfo.stageId).foreach { s =>
        s.submitMs = e.stageInfo.submissionTime.getOrElse(0L)
        s.completeMs = e.stageInfo.completionTime.getOrElse(0L)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val m = e.taskMetrics
      if (m == null) return
      stages.get(e.stageId).foreach { s =>
        s.tasks += 1
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.deserMs += m.executorDeserializeTime
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        s.shuffleWriteNs += m.shuffleWriteMetrics.writeTime
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  def span[A](name: String)(body: => A): A = {
    if (!enabled) return body
    val s = new Span(spans.size, name, current, nowMs, ProcIO.read())
    spans += s
    val saved = current
    current = s.id
    sc.setLocalProperty(SpanKey, s.id.toString)
    try body
    finally {
      s.endMs = nowMs
      s.io1 = ProcIO.read()
      current = saved
      sc.setLocalProperty(SpanKey, if (saved < 0) null else saved.toString)
    }
  }

  /** Deliver every pending listener event, then stop listening. */
  def close(): Unit = if (enabled) {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
  }

  private def settled[A](read: => A): A = {
    if (enabled) PerfbenchBus.drain(sc)
    lock.synchronized(read)
  }

  def allJobs: Seq[JobRec] = settled(jobs.values.toSeq)

  /** Stages that ran at least one task. */
  def allStages: Seq[StageRec] = settled(stages.values.filter(_.tasks > 0).toSeq)

  /** The span and all spans nested in it. */
  def subtree(root: Span): Seq[Span] = {
    val kids = spans.filter(_.parent == root.id).toSeq
    root +: kids.flatMap(subtree)
  }

  def jobsOf(ss: Seq[Span]): Seq[JobRec] = {
    val ids = ss.map(_.id).toSet
    allJobs.filter(j => ids.contains(j.spanId))
  }

  def stagesOf(ss: Seq[Span]): Seq[StageRec] = {
    val ids = ss.map(_.id).toSet
    allStages.filter(s => ids.contains(s.spanId))
  }

  /** Span time during which none of its own jobs was running. */
  def driverOnlyS(root: Span): Double = {
    val ivs = jobsOf(subtree(root)).map(j =>
      (math.max(j.startMs.toDouble, root.startMs), math.min(j.endMs.toDouble, root.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0.0
    var (lo, hi) = (Double.NaN, Double.NaN)
    ivs.foreach { case (a, b) =>
      if (lo.isNaN || a > hi) {
        if (!lo.isNaN) busy += hi - lo
        lo = a; hi = b
      } else hi = math.max(hi, b)
    }
    if (!lo.isNaN) busy += hi - lo
    math.max(0.0, root.durS - busy / 1e3)
  }

  def selfS(s: Span): Double =
    s.durS - spans.filter(_.parent == s.id).map(_.durS).sum

  def spanReport: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    val own = Seq(s)
    val st = stagesOf(own)
    Map(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs,
      "dur_s" -> s.durS, "self_s" -> selfS(s),
      "jobs" -> jobsOf(own).size, "stages" -> st.size,
      "tasks" -> st.map(_.tasks).sum,
      "task_s" -> st.map(_.runMs).sum / 1e3,
      "shuffle_write_mb" -> st.map(_.shuffleWriteBytes).sum / 1e6,
      "io_read_mb" -> (s.io1.rchar - s.io0.rchar) / 1e6,
      "io_write_mb" -> (s.io1.wchar - s.io0.wchar) / 1e6)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}
