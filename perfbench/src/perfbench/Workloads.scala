package perfbench

import graft.core.{CombineOp, Dimension, Index}
import graft.kerchunk.{CombineReferences, RefSet}
import graft.patterns.{ConcatDim, FilePattern, FileType, MergeDim}
import graft.transforms.{Openers, Pipelines}
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** What every workload call sees: the session, the tracer (a no-op when
  * tracing is off), the directory holding the generated inputs, and a
  * scratch directory for files the program creates on its own. */
final case class Ctx(spark: SparkSession, tracer: Tracer, input: Path, scratch: Path) {
  def cores: Int = spark.sparkContext.defaultParallelism
}

/** One pass: the latency of each operation in seconds, how many operations
  * it attempted and the failures among them. */
final case class PassOut(latencies: Seq[Double], attempted: Int, failures: Seq[String])

trait Workload {
  def name: String
  /** Array bytes of the inputs: the data a recipe author moves. */
  def sourceBytes(ctx: Ctx): Long
  def generate(dir: Path): Unit
  def warmups: Int
  /** Run the pipeline once, writing its outputs under `out`. */
  def pass(ctx: Ctx, out: Path): PassOut
  /** Check a pass's outputs, untimed; returns the problems found. */
  def check(ctx: Ctx, out: Path): Seq[String] = Nil
  /** Layer metrics read from a traced pass (`root` spans the whole pass). */
  def layers(ctx: Ctx, root: Span, out: Path): Map[String, Double]
  /** Standalone diagnostic spans, run traced after the traced pass. */
  def diagnostics(ctx: Ctx): Map[String, Double] = Map.empty
  /** Extra rows for the trace report. */
  def report: Map[String, Any] = Map.empty
}

/** A workload whose pass is one pipeline run checked as one store. */
trait PipelineWorkload extends Workload {
  def run(ctx: Ctx, out: Path): Unit

  def pass(ctx: Ctx, out: Path): PassOut = {
    val t0 = System.nanoTime()
    val failed = try { run(ctx, out); None }
      catch { case e: Exception => Some(s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}") }
    PassOut(Seq((System.nanoTime() - t0) / 1e9), 1, failed.toSeq)
  }

  /** Metrics of the rechunk shuffle inside the span named `sink`: its map
    * stage is the stage writing the most shuffle bytes, and its reduce stage
    * (combine + region writes) the other stage reading the most. */
  protected def rechunkLayers(ctx: Ctx, root: Span, sink: String, fragments: Int,
                              targetChunks: Int, out: Path): Map[String, Double] = {
    val tr = ctx.tracer
    val sinkSpans = tr.subtree(root).filter(_.name == sink).flatMap(tr.subtree)
    val stages = tr.stagesOf(sinkSpans)
    val map = if (stages.isEmpty) None else Some(stages.maxBy(_.shuffleWriteBytes))
      .filter(_.shuffleWriteBytes > 0)
    val reduce = map.flatMap(m => stages.filter(_.stageId != m.stageId)
      .maxByOption(_.shuffleReadBytes)).filter(_.shuffleReadBytes > 0)
    val pieces = map.map(_.shuffleWriteRecords).getOrElse(0L)
    val (stored, objects) = Inputs.treeSize(out)
    Map(
      "rechunking.fragments_in" -> fragments.toDouble,
      "rechunking.pieces_out" -> pieces.toDouble,
      "rechunking.target_chunks" -> targetChunks.toDouble,
      "rechunking.regroup_ratio" -> pieces.toDouble / targetChunks,
      "rechunking.shuffle_write_mb" -> map.map(_.shuffleWriteBytes / 1e6).getOrElse(0.0),
      "rechunking.shuffle_write_s" -> map.map(_.shuffleWriteNs / 1e9).getOrElse(0.0),
      "rechunking.fetch_wait_s" -> reduce.map(_.fetchWaitMs).sum / 1e3,
      "rechunking.serialized_ratio" ->
        map.map(_.shuffleWriteBytes.toDouble / sourceBytes(ctx)).getOrElse(0.0),
      "zarr.objects_written" -> objects.toDouble,
      "zarr.bytes_stored" -> stored.toDouble,
      "zarr.write_stage_s" -> reduce.map(_.wallS).sum)
  }

  /** Schema pass on its own: open (or scan) and reduce, nothing else. */
  protected def schemaDiagnostic(ctx: Ctx, frags: => Dataset[(Index, graft.core.Fragment)],
                                 dims: Vector[Dimension]): Map[String, Double] = {
    val tr = ctx.tracer
    tr.span("Pipelines.determineSchema") { Pipelines.determineSchema(frags, dims) }
    val span = tr.spans.filter(_.name == "Pipelines.determineSchema").last
    Map("transforms.schema_s" -> span.durS,
      "transforms.schema_jobs" -> tr.jobsOf(Seq(span)).size.toDouble)
  }

  /** Decode every input file on the calling thread. */
  protected def openerDiagnostic(ctx: Ctx, fileType: FileType.Value,
                                 urls: Seq[String], bytes: Long): Map[String, Double] = {
    ctx.tracer.span("Openers.open") {
      urls.foreach(u => require(Openers.open(fileType, u).dataVars.nonEmpty, s"$u: no data"))
    }
    val span = ctx.tracer.spans.filter(_.name == "Openers.open").last
    Map("openers.files" -> urls.size.toDouble, "openers.decode_s" -> span.durS,
      "openers.decode_mb_per_s" -> bytes / 1e6 / span.durS)
  }
}

/** The gpcp-rechunk shape: a Zarr store in small chunks scanned in slabs
  * that equal the target chunks, so the shuffle regroups nothing. */
final class CubeAligned(seed: Long, small: Boolean) extends PipelineWorkload {
  val name = "cube_aligned"
  val cube: Inputs.Cube =
    if (small) Inputs.Cube(seed, 32, 32, 64, 4) else Inputs.Cube(seed, 128, 256, 512, 4)
  val slab = 16
  val warmups = 5
  private val timeDim = Vector(Dimension("time", CombineOp.Concat))

  def sourceBytes(ctx: Ctx): Long = cube.arrayBytes
  def generate(dir: Path): Unit = Inputs.writeCube(dir.resolve("src.zarr"), cube)
  private def src(ctx: Ctx) = ctx.input.resolve("src.zarr").toString

  def run(ctx: Ctx, out: Path): Unit = {
    val tr = ctx.tracer
    val scanned = tr.span("Pipelines.scanZarrStore") {
      Pipelines.scanZarrStore(ctx.spark, src(ctx), "time", slab)
    }
    tr.span("Pipelines.storeToZarr") {
      Pipelines.storeToZarr(scanned, timeDim, out.resolve("dst.zarr").toString,
        Map("time" -> slab))
    }
  }

  override def check(ctx: Ctx, out: Path): Seq[String] = {
    import cube._
    val dst = out.resolve("dst.zarr")
    Check.zarrArray(dst, "v", Check.Expect(Seq(nt, ny, nx), "float64", t => {
      val row = new Array[Double](ny * nx)
      var i = 0
      for (y <- 0 until ny; x <- 0 until nx) { row(i) = value(t, y, x); i += 1 }
      row
    })) ++ Check.zarrArray(dst, "time", Check.Expect(Seq(nt), "int64", t => Array(t.toDouble)))
  }

  def layers(ctx: Ctx, root: Span, out: Path): Map[String, Double] =
    rechunkLayers(ctx, root, "Pipelines.storeToZarr", cube.nt / slab, cube.nt / slab, out)

  override def diagnostics(ctx: Ctx): Map[String, Double] =
    openerDiagnostic(ctx, FileType.Zarr, Seq(src(ctx)), cube.arrayBytes) ++
      schemaDiagnostic(ctx, Pipelines.scanZarrStore(ctx.spark, src(ctx), "time", slab), timeDim)
}

/** The canonical recipe: MergeDim(variable) x ConcatDim(time) over NetCDF3
  * files of 3 steps, rechunked to 8-step zstd chunks. 3 does not divide 8,
  * so most target chunks gather pieces of several files. */
final class RecipeNetcdf(seed: Long, small: Boolean) extends PipelineWorkload {
  val name = "recipe_netcdf"
  val filesPerVar: Int = if (small) 16 else 160
  val (nt, ny, nx) = if (small) (3, 32, 32) else (3, 128, 128)
  val target = 8
  val warmups = 5
  val vars: Seq[(String, Inputs.Field)] =
    Seq("foo", "bar").zipWithIndex.map { case (v, i) => v -> Inputs.Field(seed, i, ny, nx) }
  private def steps = filesPerVar * nt

  def sourceBytes(ctx: Ctx): Long =
    vars.size.toLong * steps * ny * nx * 4 + vars.size.toLong * filesPerVar * (nt * 4 + (ny + nx) * 8)

  private def file(dir: Path, v: String, i: Int) = dir.resolve(f"${v}_$i%04d.nc")

  def generate(dir: Path): Unit =
    for ((v, f) <- vars; i <- 0 until filesPerVar)
      Inputs.writeNetcdf3(file(dir, v, i), i * nt, nt, ny, nx, Seq(v -> f))

  private def pattern(ctx: Ctx) = FilePattern(
    kw => file(ctx.input, kw("variable"), kw("time").toInt).toString,
    Vector(MergeDim("variable", vars.map(_._1).toVector),
      ConcatDim("time", (0 until filesPerVar).map(_.toString).toVector, Some(nt))),
    fileType = FileType.Netcdf3)

  private def open(ctx: Ctx) = {
    val tr = ctx.tracer
    val items = tr.span("Pipelines.createItems") { Pipelines.createItems(ctx.spark, pattern(ctx)) }
    tr.span("Pipelines.openWithFragments") { Pipelines.openWithFragments(items, FileType.Netcdf3) }
  }

  def run(ctx: Ctx, out: Path): Unit = {
    val frags = open(ctx)
    val zstd = Pipelines.VarEncoding(zstdLevel = Some(3))
    ctx.tracer.span("Pipelines.storeToZarr") {
      Pipelines.storeToZarr(frags, pattern(ctx).combineDimKeys,
        out.resolve("dst.zarr").toString, Map("time" -> target),
        encoding = vars.map(_._1 -> zstd).toMap)
    }
  }

  override def check(ctx: Ctx, out: Path): Seq[String] = {
    val dst = out.resolve("dst.zarr")
    vars.flatMap { case (v, f) =>
      Check.zarrArray(dst, v, Check.Expect(Seq(steps, ny, nx), "float32",
        t => f.step(t).map(_.toDouble)))
    } ++ Check.zarrArray(dst, "time", Check.Expect(Seq(steps), "int32", t => Array(t.toDouble))) ++
      Check.zarrArray(dst, "y", Check.Expect(Seq(ny), "float64", i => Array(Inputs.coord(ny, 0.5)(i)))) ++
      Check.zarrArray(dst, "x", Check.Expect(Seq(nx), "float64", i => Array(Inputs.coord(nx, 0.25)(i))))
  }

  def layers(ctx: Ctx, root: Span, out: Path): Map[String, Double] = {
    val tr = ctx.tracer
    val plan = tr.subtree(root).filter(_.name == "Pipelines.createItems")
    rechunkLayers(ctx, root, "Pipelines.storeToZarr", vars.size * filesPerVar,
      vars.size * ((steps + target - 1) / target), out) ++ Map(
      "patterns.items" -> (vars.size * filesPerVar).toDouble,
      "patterns.plan_s" -> plan.map(_.durS).sum)
  }

  override def diagnostics(ctx: Ctx): Map[String, Double] = {
    val urls = for ((v, _) <- vars; i <- 0 until filesPerVar) yield file(ctx.input, v, i).toString
    openerDiagnostic(ctx, FileType.Netcdf3, urls, sourceBytes(ctx)) ++
      schemaDiagnostic(ctx, Pipelines.openWithFragments(
        Pipelines.createItems(ctx.spark, pattern(ctx)), FileType.Netcdf3),
        pattern(ctx).combineDimKeys)
  }
}

/** Many small concat-only NetCDF3 files indexed by header scans into one
  * combined parquet reference artifact: almost no array bytes move. */
final class RecipeKerchunk(seed: Long, small: Boolean) extends PipelineWorkload {
  val name = "recipe_kerchunk"
  val files: Int = if (small) 40 else 1000
  val (nt, ny, nx) = (2, 16, 16)
  val warmups = 5
  val vars: Seq[(String, Inputs.Field)] =
    Seq("foo", "bar").zipWithIndex.map { case (v, i) => v -> Inputs.Field(seed, i, ny, nx) }
  private var refs = 0

  def sourceBytes(ctx: Ctx): Long =
    files.toLong * (vars.size * nt * ny * nx * 4 + nt * 4 + (ny + nx) * 8)
  private def file(dir: Path, i: Int) = dir.resolve(f"k_$i%05d.nc")

  def generate(dir: Path): Unit =
    (0 until files).foreach(i => Inputs.writeNetcdf3(file(dir, i), i * nt, nt, ny, nx, vars))

  private def pattern(ctx: Ctx) = FilePattern(
    kw => file(ctx.input, kw("time").toInt).toString,
    Vector(ConcatDim("time", (0 until files).map(_.toString).toVector, Some(nt))),
    fileType = FileType.Netcdf3)

  private def artifact(out: Path) = out.resolve("refs.parquet")

  private def scanned(ctx: Ctx): Dataset[(Index, RefSet)] = {
    val tr = ctx.tracer
    val items = tr.span("Pipelines.createItems") { Pipelines.createItems(ctx.spark, pattern(ctx)) }
    tr.span("Pipelines.openWithKerchunk") {
      Pipelines.openWithKerchunk(items, FileType.Netcdf3)
        .flatMap { case (idx, rs) => rs.map(idx -> _) }(Encoders.kryo[(Index, RefSet)])
    }
  }

  def run(ctx: Ctx, out: Path): Unit = {
    val rs = scanned(ctx)
    val combined = ctx.tracer.span("CombineReferences.writeCombinedReference") {
      CombineReferences.writeCombinedReference(rs, Vector("time"), Vector("y", "x"),
        artifact(out).toString)
    }
    refs = combined.refs.size
  }

  override def check(ctx: Ctx, out: Path): Seq[String] = {
    val path = artifact(out)
    val meta = path.resolve(".zmetadata")
    if (!Files.exists(meta)) return Seq("no .zmetadata in the artifact")
    val problems = Seq.newBuilder[String]
    try {
      val docs = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(meta.toFile).get("metadata")
      val rows = ctx.spark.read.parquet(path.toString)
        .select("key", "url", "offset", "length", "inline_b64").collect()
        .map(r => r.getString(0) -> r).toMap
      def bytesOf(key: String): Option[Array[Byte]] = rows.get(key).map { r =>
        if (!r.isNullAt(4)) java.util.Base64.getDecoder.decode(r.getString(4))
        else {
          val ch = java.nio.channels.FileChannel.open(java.nio.file.Paths.get(r.getString(1)))
          try {
            val buf = java.nio.ByteBuffer.allocate(r.getLong(3).toInt)
            ch.position(r.getLong(2))
            while (buf.hasRemaining && ch.read(buf) >= 0) {}
            buf.array()
          } finally ch.close()
        }
      }
      val want = Seq(files * nt, ny, nx).mkString(",")
      vars.foreach { case (v, f) =>
        val n = rows.keys.count(_.startsWith(s"$v/c/"))
        if (n != files) problems += s"$v: $n chunk refs, want $files"
        docs.get(s"$v/zarr.json") match {
          case null => problems += s"$v: no metadata"
          case d =>
            val got = d.get("shape").elements().asScala.map(_.asInt()).mkString(",")
            if (got != want) problems += s"$v: shape $got, want $want"
        }
      }
      // a fixed sample of files: every chunk and coordinate they reference
      val sample = (0 until files by math.max(1, files / 50)) :+ (files - 1)
      sample.foreach { i =>
        vars.foreach { case (v, f) =>
          bytesOf(s"$v/c/$i/0/0") match {
            case None => problems += s"$v/c/$i/0/0: missing"
            case Some(b) =>
              val bb = java.nio.ByteBuffer.wrap(b)
              val ok = b.length == nt * ny * nx * 4 && (0 until nt).forall { t =>
                val row = f.step(i * nt + t)
                row.indices.forall(k => java.lang.Float.floatToRawIntBits(
                  bb.getFloat((t * ny * nx + k) * 4)) == java.lang.Float.floatToRawIntBits(row(k)))
              }
              if (!ok) problems += s"$v/c/$i/0/0: bytes differ from the source"
          }
        }
        bytesOf(s"time/c/$i") match {
          case Some(b) if b.length == nt * 4 &&
            (0 until nt).forall(t => java.nio.ByteBuffer.wrap(b).getInt(t * 4) == i * nt + t) =>
          case _ => problems += s"time/c/$i: differs from the source"
        }
      }
    } catch { case e: Exception => problems += s"artifact unreadable: ${e.getMessage}" }
    problems.result()
  }

  def layers(ctx: Ctx, root: Span, out: Path): Map[String, Double] = {
    val tr = ctx.tracer
    val sub = tr.subtree(root)
    val merge = sub.filter(_.name == "CombineReferences.writeCombinedReference")
    Map(
      "patterns.items" -> files.toDouble,
      "patterns.plan_s" -> sub.filter(_.name == "Pipelines.createItems").map(_.durS).sum,
      "kerchunk.refs" -> refs.toDouble,
      "kerchunk.merge_s" -> merge.map(_.durS).sum,
      "kerchunk.merge_jobs" -> tr.jobsOf(merge.flatMap(tr.subtree)).size.toDouble,
      "kerchunk.artifact_bytes" -> Inputs.treeSize(artifact(out))._1.toDouble)
  }

  override def diagnostics(ctx: Ctx): Map[String, Double] = {
    val urls = (0 until files).map(i => file(ctx.input, i).toString)
    val tr = ctx.tracer
    tr.span("kerchunk.scan") { scanned(ctx).foreach(_ => ()) }
    val scan = tr.spans.filter(_.name == "kerchunk.scan").last
    openerDiagnostic(ctx, FileType.Netcdf3, urls, sourceBytes(ctx)) ++
      Map("kerchunk.scan_s" -> scan.durS)
  }
}

/** A fixed list of `SparkEntry.queries` entries over a small committed
  * copy of the test tables. The builder call and the execution of the
  * plan it returns are timed and traced apart. */
final class QuerySurface(data: Path, val names: Seq[String]) extends Workload {
  val name = "query_surface"
  val warmups = 2
  private val perQuery = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]

  def sourceBytes(ctx: Ctx): Long = Inputs.treeSize(data)._1
  def generate(dir: Path): Unit = ()

  def pass(ctx: Ctx, out: Path): PassOut = {
    val tr = ctx.tracer
    val before = listScratch(ctx)
    val results = names.map { q =>
      val t0 = System.nanoTime()
      val failure = try {
        tr.span(s"query:$q") {
          val df = tr.span("build") { graft.SparkEntry.queries(q)(ctx.spark, data.toString) }
          tr.span("exec") { df.queryExecution.toRdd.count() }
        }
        None
      } catch { case e: Throwable => Some(s"$q: ${e.getClass.getSimpleName}: ${e.getMessage}") }
      ((System.nanoTime() - t0) / 1e9, failure)
    }
    // files the queries wrote on their own (e2e stores) count as output
    val created = listScratch(ctx).diff(before)
    created.foreach(p => Files.move(p, out.resolve(p.getFileName)))
    PassOut(results.map(_._1), names.size, results.flatMap(_._2))
  }

  private def listScratch(ctx: Ctx): Seq[Path] = {
    val s = Files.list(ctx.scratch)
    try s.toArray.map(_.asInstanceOf[Path]).toSeq finally s.close()
  }

  def layers(ctx: Ctx, root: Span, out: Path): Map[String, Double] = {
    val tr = ctx.tracer
    val qs = tr.spans.filter(s => s.parent == root.id && s.name.startsWith("query:")).toSeq
    perQuery.clear()
    var (buildS, execS, buildJobs, execJobs) = (0.0, 0.0, 0, 0)
    qs.foreach { q =>
      val kids = tr.spans.filter(_.parent == q.id).toSeq
      val b = kids.filter(_.name == "build")
      val e = kids.filter(_.name == "exec")
      val bj = tr.jobsOf(b.flatMap(tr.subtree)).size
      val ej = tr.jobsOf(e.flatMap(tr.subtree)).size
      val st = tr.stagesOf(tr.subtree(q))
      buildS += b.map(_.durS).sum; execS += e.map(_.durS).sum
      buildJobs += bj; execJobs += ej
      perQuery += Map("query" -> q.name.stripPrefix("query:"),
        "build_s" -> b.map(_.durS).sum, "exec_s" -> e.map(_.durS).sum,
        "build_jobs" -> bj, "exec_jobs" -> ej,
        "shuffle_write_mb" -> st.map(_.shuffleWriteBytes).sum / 1e6,
        "shuffle_read_mb" -> st.map(_.shuffleReadBytes).sum / 1e6)
    }
    Map("queries.build_s" -> buildS, "queries.exec_s" -> execS,
      "queries.build_share" -> (if (buildS + execS > 0) buildS / (buildS + execS) else 0.0),
      "queries.build_jobs" -> buildJobs.toDouble, "queries.exec_jobs" -> execJobs.toDouble)
  }

  /** One row per query of the last traced pass, filled in by `layers`. */
  def perQueryTable: Seq[Map[String, Any]] = perQuery.toSeq

  override def report: Map[String, Any] = Map("per_query" -> perQueryTable)
}
