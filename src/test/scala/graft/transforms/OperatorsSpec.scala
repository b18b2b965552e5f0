package graft.transforms

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Encoders, SparkSession}
import graft.core._
import graft.core.GoldenCube
import graft.patterns.FileType

/** Remaining SURVEY §2 operator rows: concurrency-limited map, typed
  * Aggregator schema combine, reduce-fn factory, preprocessors, opener
  * registry validation, runtime config injection, consolidated metadata. */
class OperatorsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  test("mapWithConcurrencyLimit caps partition count") {
    import spark.implicits._
    val ds = spark.range(100).as[Long]
    val out = ConcurrencyLimit.mapWithConcurrencyLimit[Long, Long](ds, _ * 2,
      maxConcurrency = Some(3))
    assert(out.rdd.getNumPartitions == 3)
    assert(out.collect().sorted.toVector == (0L until 100L).map(_ * 2).toVector)
    val unlimited = ConcurrencyLimit.mapWithConcurrencyLimit[Long, Long](ds, _ + 1)
    assert(unlimited.collect().sorted.toVector == (1L to 100L).toVector)
  }

  test("CombineCubeSchemas works as a Spark typed Aggregator") {
    val timeDim = Dimension("time", CombineOp.Concat)
    val frags = (0 until 5).map { i =>
      (Index.of(timeDim -> Pos(i)), CubeSchema.fromFragment(GoldenCube.makeDs(2)))
    }
    val ds = spark.createDataset(frags)(Encoders.kryo[(Index, CubeSchema)])
    val agg = new CombineCubeSchemas(timeDim)
    val result = ds.groupByKey(_ => "all")(Encoders.STRING)
      .agg(agg.toColumn)
      .collect().head._2
    assert(result.dims("time") == 10)
    assert(result.chunks("time") == (0 until 5).map(_ -> 2).toMap)
  }

  test("ReduceFn factory builds min/max/count") {
    import graft.combiners.MinMaxCount
    val agg = ReduceFn.build[Long, (Long, Long, Long)](
      (acc, v) => MinMaxCount.add(acc, v), MinMaxCount.merge, MinMaxCount.zero)
    val ds = spark.createDataset(Seq(5L, 1L, 9L, 3L))(Encoders.scalaLong)
    val (mn, mx, cnt) = ds.groupByKey(_ => 0)(Encoders.scalaInt)
      .agg(agg.toColumn)
      .collect().head._2
    assert((mn, mx, cnt) == ((1L, 9L, 4L)))
  }

  test("preprocessors: mask, rename, drop, setCoord, attrs") {
    val f = GoldenCube.makeDs(2)
    val masked = Preprocess.maskWhere(f, "foo", _ < 0.5)
    val arr = masked.dataVars("foo").data.data.asInstanceOf[Array[Double]]
    assert(arr.exists(_.isNaN) && arr.exists(v => !v.isNaN && v < 0.5))
    intercept[IllegalArgumentException](Preprocess.maskWhere(f, "bar", _ < 5))

    val renamed = Preprocess.renameVar(f, "foo", "FOO")
    assert(renamed.dataVars.contains("FOO") && !renamed.dataVars.contains("foo"))

    val dropped = Preprocess.dropVars(f, Set("bar"))
    assert(dropped.dataVars.keySet == Set("foo"))

    val promoted = Preprocess.setCoord(f, "bar")
    assert(promoted.coords.contains("bar") && !promoted.dataVars.contains("bar"))

    val attred = Preprocess.withAttrs(f, Map("source" -> AttrValue("test")))
    assert(attred.attrs("source") == AttrValue.AStr("test"))
  }

  test("opener registry: engine dispatch + conflict validation") {
    assert(Openers.resolveEngine(FileType.Zarr) == "zarr")
    assert(Openers.resolveEngine(FileType.Netcdf3) == "scipy")
    assert(Openers.resolveEngine(FileType.Grib) == "cfgrib")
    intercept[IllegalArgumentException](Openers.resolveEngine(FileType.Unknown))
    intercept[IllegalArgumentException](
      Openers.resolveEngine(FileType.Zarr, Some("h5netcdf")))
    assert(Openers.resolveEngine(FileType.Zarr, Some("zarr")) == "zarr")
    assert(Openers.resolveEngine(FileType.Netcdf4) == "h5netcdf")
    assert(Openers.resolveEngine(FileType.Opendap) == "netcdf4")
    // every engine now decodes natively — a missing path surfaces as an IO
    // error from the real decoder, not a registry gap
    intercept[java.nio.file.NoSuchFileException](
      Openers.open(FileType.Netcdf4, "/nonexistent.nc"))
    // opendap dispatches to the DAP2 HTTP client (unreachable host -> IO)
    intercept[java.io.IOException](
      Openers.open(FileType.Opendap, "http://127.0.0.1:9/ds"))
  }

  test("runtime config injection: sentinel resolves or fails loudly") {
    import RuntimeConfig._
    val cfg = Config()
    intercept[IllegalStateException](cfg.targetRoot.resolve)
    val injected = cfg.inject(targetRoot = Some("/data/out"))
    assert(injected.targetRoot.resolve == "/data/out")
    intercept[IllegalStateException](injected.inputCacheRoot.resolve)
  }

  test("consolidateMetadata inlines array metadata into the root document") {
    val dir = java.nio.file.Files.createTempDirectory("consmeta").toString
    val g = graft.zarr.ZarrGroup(dir)
    g.initGroup(Map("title" -> AttrValue("t")))
    g.createArray("v", Vector(4), Vector(2), DType.F8, Attrs.empty,
      dimensionNames = Some(Vector("x")))
    g.consolidateMetadata()
    val root = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "zarr.json")), "UTF-8")
    assert(root.contains("consolidated_metadata"))
    assert(root.contains("chunk_grid"))
  }
}
