package graft.sql

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core._
import graft.core.GoldenCube

class LongViewSpec extends AnyFunSuite {

  /** Inverse pivot: long DF (one variable) back into a dense Variable.
    * TEST-ONLY helper (driver-side collect of a full variable) — lives
    * here, not in the library, so the main tree carries no collect that
    * a caller could mistake for a scale-safe path. */
  private def longDFToVariable(df: org.apache.spark.sql.DataFrame,
                               varName: String, dims: Vector[String],
                               shape: Vector[Int]): Variable = {
    val strides = shape.scanRight(1)(_ * _).tail
    val data = new Array[Double](shape.product)
    df.filter(df("var_name") === varName)
      .select((dims.map(df(_)) :+ df("value")): _*)
      .collect()
      .foreach { r =>
        var flat = 0
        dims.indices.foreach(k => flat += r.getLong(k).toInt * strides(k))
        data(flat) = r.getDouble(dims.length)
      }
    Variable(dims, NDArray.ofDoubles(shape, data))
  }

  lazy val spark: SparkSession = graft.TestSession.spark

  test("long view explodes and pivots back losslessly") {
    val cube = GoldenCube.makeDs(4)
    val long = LongView.fragmentToLongDF(spark, cube).cache()
    try {
    val nt = 4L; val ny = GoldenCube.NY.toLong; val nx = GoldenCube.NX.toLong
    assert(long.count() == 2 * nt * ny * nx)

    // SQL aggregation over the cube
    val means = long.groupBy("var_name").agg(avg("value").as("mean"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(means("bar") > 0 && means("foo") > 0 && means("foo") < 1)

    // inverse pivot reproduces the dense variable exactly
    val back = longDFToVariable(long, "foo",
      Vector("lat", "lon", "time"), Vector(GoldenCube.NY, GoldenCube.NX, 4))
    // note: long view uses sorted dim order (lat, lon, time)
    val expected = {
      val v = cube.dataVars("foo") // dims (time, lat, lon)
      val out = new Array[Double](v.data.size)
      val (t, la, lo) = (4, GoldenCube.NY, GoldenCube.NX)
      for (i <- 0 until t; j <- 0 until la; k <- 0 until lo)
        out(j * lo * t + k * t + i) = v.data.getDouble(i * la * lo + j * lo + k)
      out
    }
    assert(back.data.data.asInstanceOf[Array[Double]].sameElements(expected))
    } finally long.unpersist(blocking = false)
  }

  test("distributed long view explodes a 1M-cell cube on executors") {
    val nt = 800 // 2 vars x 800 x 18 x 36 = 1,036,800 cells
    val cube = GoldenCube.makeDs(nt)
    val tdim = Dimension("time", CombineOp.Concat)
    val frags = GoldenCube.splitByTime(cube, 100).zipWithIndex.map {
      case (f, i) => (Index.of(tdim -> Pos.indexed(i * 100, nt)), f)
    }
    val ds = spark.createDataset(frags)(
      org.apache.spark.sql.Encoders.kryo[(Index, Fragment)])
    val long = LongView.fragmentsToLongDF(ds, Vector("lat", "lon", "time"))
    assert(long.count() == 2L * nt * GoldenCube.NY * GoldenCube.NX)
    // concat offsets produce GLOBAL time positions spanning the full axis
    assert(long.agg(max("time")).head().getLong(0) == nt - 1)
    // distributed sum equals the driver-side ground truth
    val got = long.agg(sum("value")).head().getDouble(0)
    val want = cube.dataVars.values.map(v =>
      (0 until v.data.size).map(v.data.getDouble).sum).sum
    assert(math.abs(got - want) <= 1e-9 * math.abs(want))

    // single-fragment convenience API slices into parallel slabs and agrees
    val single = LongView.fragmentToLongDF(spark, cube)
    assert(single.count() == long.count())
    val got2 = single.agg(sum("value")).head().getDouble(0)
    assert(math.abs(got2 - want) <= 1e-9 * math.abs(want))
  }

  test("coords view exposes dim coordinates for joins") {
    val cube = GoldenCube.makeDs(3)
    val coords = LongView.coordsToDF(spark, cube)
    val lat0 = coords.filter(col("dim") === "lat" && col("pos") === 0)
      .select("coord_value").head().getDouble(0)
    assert(lat0 == -85.0)
    assert(coords.filter(col("dim") === "time").count() == 3)
  }

  test("example recipe runs end-to-end with runtime config injection") {
    import graft.transforms.RuntimeConfig
    import graft.examples.DailyCubeRecipe
    val cube = GoldenCube.makeDs(6)
    val dir = java.nio.file.Files.createTempDirectory("recipe").toString
    val slabs = GoldenCube.splitByTime(cube, 1)
    val files = slabs.zipWithIndex.map { case (f, i) =>
      val p = s"$dir/day_$i.zarr"
      val g = graft.zarr.ZarrGroup(p)
      g.initGroup(f.attrs)
      f.allVars.foreach { case (n, v) =>
        g.createArray(n, v.shape, v.shape, v.dtype, v.attrs,
          dimensionNames = Some(v.dims))
        g.writeRegion(n, Vector.fill(v.data.ndim)(0), v.data)
      }
      p
    }
    val pattern = DailyCubeRecipe.pattern(
      day => files(day.toInt), (0 until 6).map(_.toString).toVector)
    val cfg = RuntimeConfig.Config().inject(targetRoot = Some(dir))
    DailyCubeRecipe.run(spark, pattern, cfg, "daily.zarr", Map("time" -> 2),
      maskVar = Some(("foo", _ < 0.99)))
    val result = graft.zarr.ZarrGroup(s"$dir/daily.zarr").readFragment()
    assert(result.dims == cube.dims)
    // masked values are NaN where >= 0.99, untouched elsewhere
    val got = result.dataVars("foo").data.data.asInstanceOf[Array[Double]]
    val src = cube.dataVars("foo").data.data.asInstanceOf[Array[Double]]
    assert(got.indices.forall(i =>
      if (src(i) < 0.99) got(i) == src(i) else got(i).isNaN))
    // extra attrs land with the pangeo-forge: prefix (aggregation.py:243-246)
    assert(result.attrs.contains("pangeo-forge:produced_by"))
  }
}
