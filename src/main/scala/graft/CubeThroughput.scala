package graft

import org.apache.spark.sql.SparkSession
import graft.core._
import graft.transforms.Pipelines
import graft.zarr.ZarrGroup

/** Cube-pipeline throughput harness: writes an N-GB Zarr store with
  * parallel region writes, then runs the distributed
  * scan → rechunk → store path (the gpcp_rechunk shape) over it, printing
  * MB/s for both legs plus an exact data-equality verdict. This measures
  * the ENGINE's core data path at array scale — the driver's e2e entries
  * verify correctness on metadata-sized cubes; this is the number that
  * answers "what does a 1000-executor cluster sustain per core".
  *
  * Usage: `sbt "runMain graft.CubeThroughput [timeSteps] [slabSteps]
  * [storeRoot]"` — default 256 steps of 512×1024 float64 = ~1 GB,
  * rechunked in `slabSteps`-step slabs (default 32 = 134 MB slabs; slab
  * bytes must fit the kryo buffer ceiling and, ×concurrent tasks, the
  * executor heap). `storeRoot` routes BOTH stores through an alternate
  * transport: a posix path (default tmpdir), a `file:///...` URI (the
  * Hadoop-FS local leg), or `mos://bucket/...` (the in-JVM object store
  * — PUT-on-close, range GETs; needs the TEST classpath:
  * `sbt "Test/runMain graft.CubeThroughput 256 32 mos://tp/cube"`).
  * The 100 TB story is object PUTs/GETs, so the object-transport legs
  * are the rows that matter (SCALE_r10 §cube).
  * Env: SPARK_GRAFT_CPUS (default 4), SPARK_DRIVER_MEM for bigger runs. */
object CubeThroughput {
  def main(args: Array[String]): Unit = {
    val nt = if (args.nonEmpty) args(0).toInt else 256
    val slab = if (args.length > 1) args(1).toInt else 32
    val root = if (args.length > 2) Some(args(2)) else None
    val builder = GraftSession.builder()
      // a shuffled fragment must fit the serializer buffer: 32 steps of
      // 512x1024 f64 = 134 MB > the 64m default. At cluster scale, size
      // itemsPerFragment so slabBytes < kryoserializer.buffer.max (or
      // raise the ceiling, as here) — the overflow error is immediate and
      // names the fragment, but it IS a deploy-time knob to know about.
      .config("spark.kryoserializer.buffer.max", "512m")
    // the mos:// scheme resolves by NAME at runtime (the class ships in
    // the test tree — the sandbox stand-in for a real s3a endpoint, whose
    // fs.s3a.impl would be set the same way); HadoopIO folds spark.hadoop.*
    // into every executor-side FileSystem it opens
    val spark = (if (root.exists(_.startsWith("mos://")))
        builder.config("spark.hadoop.fs.mos.impl", "graft.storage.MockObjectFS")
      else builder).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark, nt, slab, root)
    finally spark.stop()
  }

  /** The measurement body, reusable against a caller-owned session (the
    * tiny-config regression test drives it without stopping the shared
    * test context). Throws on any verification failure. */
  def run(spark: SparkSession, nt: Int, slab: Int,
          root: Option[String] = None): Unit = {
    // the source store is written in 4-step chunks and the verify leg
    // reads the first 4 steps — fail fast before the expensive write
    require(nt >= 4 && nt % 4 == 0, s"timeSteps must be a multiple of 4, got $nt")
    require(slab >= 1 && slab <= nt, s"slabSteps must be in [1, $nt], got $slab")
    val tmp = java.nio.file.Files.createTempDirectory("graft_cube_tp").toString
    val dir = root.getOrElse(tmp)
    val cpus = math.max(2, spark.sparkContext.defaultParallelism)
    try {
      val (ny, nx) = (512, 1024)
      val bytes = nt.toLong * ny * nx * 8
      val src = s"$dir/src.zarr"
      val g = ZarrGroup(src)
      g.initGroup(Map.empty)
      g.createArray("time", Vector(nt), Vector(nt), DType.I8, Map.empty,
        dimensionNames = Some(Vector("time")))
      g.writeRegion("time", Vector(0), NDArray(DType.I8, Vector(nt),
        (0 until nt).map(_.toLong).toArray))
      g.createArray("v", Vector(nt, ny, nx), Vector(4, ny, nx), DType.F8,
        Map.empty, dimensionNames = Some(Vector("time", "y", "x")))
      // parallel chunk-aligned region writes from tasks (one writer per
      // slab, no locks — the object-store write shape)
      val t0 = System.nanoTime()
      spark.sparkContext.parallelize(0 until nt by 4, cpus).foreach { t =>
        val gg = ZarrGroup(src)
        val rng = new scala.util.Random(t)
        gg.writeRegion("v", Vector(t, 0, 0), NDArray(DType.F8,
          Vector(4, ny, nx), Array.fill(4 * ny * nx)(rng.nextDouble())))
      }
      val tWrite = (System.nanoTime() - t0) / 1e9
      println(f"""{"stage":"write","gb":${bytes / 1e9}%.2f,"sec":$tWrite%.1f,"mb_per_sec":${bytes / 1e6 / tWrite}%.0f}""")
      // distributed metadata-planned scan, rechunk time 4 -> 32, store
      val t1 = System.nanoTime()
      val scanned = Pipelines.scanZarrStore(spark, src, "time", slab)
      val dst = s"$dir/dst.zarr"
      Pipelines.storeToZarr(scanned,
        Vector(Dimension("time", CombineOp.Concat)), dst, Map("time" -> slab))
      val tRechunk = (System.nanoTime() - t1) / 1e9
      println(f"""{"stage":"rechunk","gb":${bytes / 1e9}%.2f,"sec":$tRechunk%.1f,"mb_per_sec":${bytes / 1e6 / tRechunk}%.0f}""")
      // exact equality on the first source slab
      val back = ZarrGroup(dst).readFragmentRegion(Map("time" -> Slc(0, 4)))
      val rng0 = new scala.util.Random(0)
      val want = Array.fill(4 * ny * nx)(rng0.nextDouble())
      val got = back.dataVars("v").data.data.asInstanceOf[Array[Double]]
      val ok = got.sameElements(want)
      println(s"""{"stage":"verify","ok":$ok}""")
      require(ok, "rechunked store does not equal the source")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
      // best-effort: the Hadoop transport rejects an empty relative path
      // (and the in-JVM mos:// store dies with the process anyway)
      root.foreach { r =>
        try graft.zarr.StoreIO.forRoot(r).deleteRecursive("")
        catch { case _: IllegalArgumentException =>
          Seq("src.zarr", "dst.zarr").foreach(
            graft.zarr.StoreIO.forRoot(r).deleteRecursive)
        }
      }
    }
  }
}
