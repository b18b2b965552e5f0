package graft.transforms

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.core._
import graft.patterns.{FilePattern, FileType}
import graft.zarr.ZarrGroup
import java.nio.file.Files

/** Medium-scale shuffle validation: a ~50 MB cube (60×90×180 float64 ×2
  * vars) split into 30 files, rechunked across ALL THREE dims — every
  * fragment splits into multiple target chunk groups, so the groupByKey
  * carries real multi-record groups and remainder chunks appear on each
  * axis. Verifies the rechunk shuffle + writer survive beyond toy size and
  * that per-variable bytes round-trip exactly.
  */
class ScaleSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  private val NT = 60; private val NY = 90; private val NX = 180

  private def bigCube(): Fragment = {
    val rng = new scala.util.Random(11)
    val n = NT * NY * NX
    Fragment(
      dims = Map("time" -> NT, "lat" -> NY, "lon" -> NX),
      coords = Map(
        "time" -> Variable(Vector("time"),
          NDArray(DType.I8, Vector(NT), (0 until NT).map(_.toLong).toArray)),
        "lat" -> Variable(Vector("lat"),
          NDArray(DType.F8, Vector(NY), (0 until NY).map(_.toDouble).toArray)),
        "lon" -> Variable(Vector("lon"),
          NDArray(DType.F8, Vector(NX), (0 until NX).map(_.toDouble).toArray))),
      dataVars = Map(
        "foo" -> Variable(Vector("time", "lat", "lon"),
          NDArray(DType.F8, Vector(NT, NY, NX), Array.fill(n)(rng.nextDouble()))),
        "bar" -> Variable(Vector("time", "lat", "lon"),
          NDArray(DType.I8, Vector(NT, NY, NX), Array.fill(n)(rng.nextInt(1000).toLong)))),
      attrs = Map("conventions" -> AttrValue("CF 1.6")))
  }

  test("50MB cube, 30 files, 3-dim rechunk with remainders, exact round-trip") {
    val cube = bigCube()
    val dir = Files.createTempDirectory("graft_scale").toString
    val files = (0 until NT by 2).map { t0 =>
      val f = cube.isel(Map("time" -> Slc(t0, t0 + 2)))
      val p = s"$dir/f_$t0.zarr"
      val g = ZarrGroup(p)
      g.initGroup(f.attrs)
      f.allVars.foreach { case (n, v) =>
        g.createArray(n, v.shape, v.shape, v.dtype, v.attrs,
          dimensionNames = Some(v.dims))
        g.writeRegion(n, Vector.fill(v.data.ndim)(0), v.data)
      }
      p
    }.toVector

    val pattern = FilePattern.fromFileSequence(files, "time",
      nitemsPerFile = Some(2), fileType = FileType.Zarr)
    val items = Pipelines.createItems(spark, pattern)
    val frags = Pipelines.openWithFragments(items, FileType.Zarr)
    val storePath = s"$dir/store.zarr"
    val t0 = System.nanoTime()
    // 7/45/77 deliberately do not divide 60/90/180 -> remainder chunks on
    // every axis, and every 2-day fragment splits into >= 2x2x3 pieces
    Pipelines.storeToZarr(frags, pattern.combineDimKeys, storePath,
      Map("time" -> 7, "lat" -> 45, "lon" -> 77))
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"storeToZarr(50MB, 3-dim rechunk) took $secs%.1f s")

    val store = ZarrGroup(storePath)
    val meta = store.arrayMeta("foo")
    assert(meta.chunks == Vector(7, 45, 77))
    val result = store.readFragment()
    assert(result.sameAs(cube))
    assert(secs < 120, s"rechunk too slow: $secs s")
  }

  test("50MB cube into a sharded+gzip store: 16x fewer objects, exact round-trip") {
    val cube = bigCube()
    val dir = Files.createTempDirectory("graft_scale_sh").toString
    val files = (0 until NT by 4).map { t0 =>
      val f = cube.isel(Map("time" -> Slc(t0, t0 + 4)))
      val p = s"$dir/f_$t0.zarr"
      val g = ZarrGroup(p)
      g.initGroup(f.attrs)
      f.allVars.foreach { case (n, v) =>
        g.createArray(n, v.shape, v.shape, v.dtype, v.attrs,
          dimensionNames = Some(v.dims))
        g.writeRegion(n, Vector.fill(v.data.ndim)(0), v.data)
      }
      p
    }.toVector
    val pattern = FilePattern.fromFileSequence(files, "time",
      nitemsPerFile = Some(4), fileType = FileType.Zarr)
    val frags = Pipelines.openWithFragments(
      Pipelines.createItems(spark, pattern), FileType.Zarr)
    val storePath = s"$dir/store_sharded.zarr"
    // inner chunks 2x45x45, shards of 8x90x90 = 16 inner chunks per object
    Pipelines.storeToZarr(frags, pattern.combineDimKeys, storePath,
      Map("time" -> 2, "lat" -> 45, "lon" -> 45),
      targetShards = Map("time" -> 8, "lat" -> 90, "lon" -> 90),
      gzipLevel = Some(1))
    val store = ZarrGroup(storePath)
    val nObjects = java.nio.file.Files.walk(
      java.nio.file.Paths.get(storePath, "foo", "c"))
      .filter(java.nio.file.Files.isRegularFile(_)).count()
    // 60/8=8 x 90/90=1 x 180/90=2 shard objects vs 30x2x4=240 chunk files
    assert(nObjects == 16, s"expected 16 shard objects, got $nObjects")
    assert(store.readFragment().sameAs(cube))
    // index-guided partial read across shard boundaries
    val slab = store.readRegion("foo", Vector(5, 40, 80), Vector(10, 20, 30))
    assert(slab.sameElements(
      cube.dataVars("foo").data.slice(
        Vector(Slc(5, 15), Slc(40, 60), Slc(80, 110)))))
  }

  test("CubeThroughput harness: tiny run writes, rechunks, and verifies") {
    // the GB-scale throughput harness must stay runnable; a 33 MB config
    // exercises the same code path (parallel region writes -> distributed
    // scan -> one-shuffle rechunk -> exact verify) in seconds. Its verify
    // stage prints {"stage":"verify","ok":true} and throws on any failure.
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) {
      graft.CubeThroughput.run(spark, nt = 8, slab = 2)
    }
    val s = out.toString("UTF-8")
    assert(s.contains(""""stage":"rechunk""""), s)
    assert(s.contains(""""stage":"verify","ok":true"""), s)
  }
}
