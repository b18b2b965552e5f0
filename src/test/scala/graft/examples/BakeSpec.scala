package graft.examples

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.core._
import graft.core.GoldenCube
import graft.kerchunk.RefSet
import graft.zarr.ZarrGroup
import java.nio.file.{Files, Paths}

/** Integration gates for the CLI bake runner (`graft.Bake`) — the
  * test_integration.py:105-140 analog: each registered feedstock recipe is
  * executed through the FULL CLI path (argv parsing → JSON config load →
  * RuntimeConfig injection → recipe body) against generated fixtures, and
  * the produced artifact is reopened and value-checked. */
class BakeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  private def tmp(): String = Files.createTempDirectory("graft_bake").toString

  private def writeZarrFragment(f: Fragment, path: String): Unit =
    RecipeFixtures.writeZarrFragment(f, path)

  private def writeConfig(dir: String, sections: (String, Seq[(String, String)])*): String =
    RecipeFixtures.writeConfig(s"$dir/config.json", sections: _*)

  // ---------------------------------------------------------------- daily-cube

  test("bake daily-cube: full CLI path round-trips the golden cube") {
    val dir = tmp()
    val nt = 6
    val cube = GoldenCube.makeDs(nt)
    GoldenCube.splitByTime(cube, 1).zipWithIndex.foreach { case (f, i) =>
      writeZarrFragment(f, s"$dir/in/day_$i.zarr")
    }
    val conf = writeConfig(dir,
      "TargetStorage" -> Seq("root_path" -> s"$dir/target"),
      "InputCacheStorage" -> Seq("root_path" -> s"$dir/cache"),
      "DailyCube" -> Seq(
        "input_root" -> s"$dir/in",
        "days" -> (0 until nt).mkString(","),
        "target_chunks" -> "time=2"))
    val out = graft.Bake.run(spark, Array(
      "--recipe-id=daily-cube", s"-f=$conf", "--job-name=daily-cube-test"))
    assert(out == s"$dir/target/daily-cube.zarr")
    val result = ZarrGroup(out).readFragment()
    assert(result.sameAs(cube.copy(attrs =
      cube.attrs ++ Map("produced_by" -> AttrValue("graft")))) ||
      result.dims == cube.dims && result.allVars.keySet == cube.allVars.keySet &&
        result.allVars("foo").data.data.asInstanceOf[Array[Double]].sameElements(
          cube.allVars("foo").data.data.asInstanceOf[Array[Double]]))
    assert(ZarrGroup(out).arrayMeta("foo").chunks(
      ZarrGroup(out).arrayMeta("foo").dimensionNames.indexOf("time")) == 2)
  }

  test("bake daily-cube with zarr_format=2 emits the classic layout") {
    val dir = tmp()
    val nt = 4
    val cube = GoldenCube.makeDs(nt)
    GoldenCube.splitByTime(cube, 1).zipWithIndex.foreach { case (f, i) =>
      writeZarrFragment(f, s"$dir/in/day_$i.zarr")
    }
    val conf = writeConfig(dir,
      "TargetStorage" -> Seq("root_path" -> s"$dir/target"),
      "InputCacheStorage" -> Seq("root_path" -> s"$dir/cache"),
      "DailyCube" -> Seq(
        "input_root" -> s"$dir/in",
        "days" -> (0 until nt).mkString(","),
        "target_chunks" -> "time=2",
        "zarr_format" -> "2"))
    val out = graft.Bake.run(spark, Array(
      "--recipe-id=daily-cube", s"-f=$conf", "--job-name=daily-cube-v2"))
    assert(Files.exists(java.nio.file.Paths.get(out, ".zgroup")))
    assert(Files.exists(java.nio.file.Paths.get(out, "foo", ".zarray")))
    assert(!Files.exists(java.nio.file.Paths.get(out, "zarr.json")))
    val result = graft.kerchunk.RefSet.scanZarrV2Group(out)
      .asZarrGroup(out).readFragment()
    assert(result.dims == cube.dims &&
      result.allVars("foo").data.data.asInstanceOf[Array[Double]].sameElements(
        cube.allVars("foo").data.data.asInstanceOf[Array[Double]]))
  }

  test("bake daily-cube --prune keeps only the first two pattern items") {
    val dir = tmp()
    val nt = 5
    val cube = GoldenCube.makeDs(nt)
    GoldenCube.splitByTime(cube, 1).zipWithIndex.foreach { case (f, i) =>
      writeZarrFragment(f, s"$dir/in/day_$i.zarr")
    }
    val conf = writeConfig(dir,
      "TargetStorage" -> Seq("root_path" -> s"$dir/target"),
      "DailyCube" -> Seq(
        "input_root" -> s"$dir/in",
        "days" -> (0 until nt).mkString(","),
        "store_name" -> "pruned.zarr",
        "target_chunks" -> "time=1"))
    val out = graft.Bake.run(spark, Array(
      "--Bake.recipe_id=daily-cube", s"--config=$conf", "--prune"))
    val result = ZarrGroup(out).readFragment()
    assert(result.dims("time") == 2, s"prune kept ${result.dims("time")} items")
  }

  test("bake daily-cube-dynamic-chunks: chunking decided by the dynamic fn") {
    val dir = tmp()
    val nt = 6
    val cube = GoldenCube.makeDs(nt)
    GoldenCube.splitByTime(cube, 1).zipWithIndex.foreach { case (f, i) =>
      writeZarrFragment(f, s"$dir/in/day_$i.zarr")
    }
    val conf = writeConfig(dir,
      "TargetStorage" -> Seq("root_path" -> s"$dir/target"),
      "DailyCube" -> Seq(
        "input_root" -> s"$dir/in",
        "days" -> (0 until nt).mkString(","),
        "dynamic_time_chunk" -> "3"))
    val out = graft.Bake.run(spark, Array(
      "--recipe-id=daily-cube-dynamic-chunks", s"-f=$conf"))
    val meta = ZarrGroup(out).arrayMeta("foo")
    assert(meta.chunks(meta.dimensionNames.indexOf("time")) == 3)
    assert(ZarrGroup(out).readFragment().dims("time") == nt)
  }

  test("bake gpcp-rechunk: existing store rescanned into new chunking") {
    val dir = tmp()
    val nt = 8
    val cube = GoldenCube.makeDs(nt)
    // build the "existing" source store, chunked time=2
    GoldenCube.splitByTime(cube, 1).zipWithIndex.foreach { case (f, i) =>
      writeZarrFragment(f, s"$dir/in/day_$i.zarr")
    }
    val srcConf = writeConfig(dir,
      "TargetStorage" -> Seq("root_path" -> s"$dir/src"),
      "DailyCube" -> Seq(
        "input_root" -> s"$dir/in",
        "days" -> (0 until nt).mkString(","),
        "store_name" -> "gpcp.zarr",
        "target_chunks" -> "time=2"))
    val src = graft.Bake.run(spark, Array("--recipe-id=daily-cube", s"-f=$srcConf"))
    // rechunk it 2 -> 4 through the CLI path
    val conf = writeConfig(dir,
      "TargetStorage" -> Seq("root_path" -> s"$dir/target"),
      "GpcpRechunk" -> Seq(
        "input_store" -> src,
        "items_per_fragment" -> "4",
        "target_chunks" -> "time=4"))
    val out = graft.Bake.run(spark, Array(
      "--recipe-id=gpcp-rechunk", s"-f=$conf"))
    val meta = ZarrGroup(out).arrayMeta("foo")
    assert(meta.chunks(meta.dimensionNames.indexOf("time")) == 4)
    // the rechunked store holds exactly the original data
    val expect = cube.copy(attrs =
      cube.attrs ++ Map("produced_by" -> AttrValue("graft")))
    val got = ZarrGroup(out).readFragment()
    assert(got.dims == expect.dims)
    assert(got.allVars("foo").data.data.asInstanceOf[Array[Double]].sameElements(
      expect.allVars("foo").data.data.asInstanceOf[Array[Double]]))
  }

  test("bake rejects unknown recipe ids and missing required flags") {
    val dir = tmp()
    val conf = writeConfig(dir, "TargetStorage" -> Seq("root_path" -> dir))
    intercept[IllegalArgumentException] {
      graft.Bake.run(spark, Array("--recipe-id=nope", s"-f=$conf"))
    }
    intercept[IllegalArgumentException] {
      graft.Bake.parseArgs(Array("-f=x.json"))
    }
    intercept[IllegalArgumentException] {
      graft.Bake.parseArgs(Array("--recipe-id=daily-cube", "--bogus"))
    }
  }

  // -------------------------------------------------------------- terraclimate

  /** One (variable, year) input file: 12 monthly steps on a `day` dim (the
    * raw files' name for the time axis), 3×4 grid, values straddling the
    * variable's mask threshold, plus a station_influence companion for
    * `soil`. */
  private def terraFile(variable: String, year: Int): Fragment = {
    val (nt, ny, nx) = (12, 3, 4)
    val dayVals = NDArray(DType.I8, Vector(nt),
      (0 until nt).map(m => ((year - 2000) * 12 + m).toLong).toArray)
    val lat = NDArray(DType.F8, Vector(ny), Array(10.0, 20.0, 30.0))
    val lon = NDArray(DType.F8, Vector(nx), Array(1.0, 2.0, 3.0, 4.0))
    val data = NDArray(DType.F8, Vector(nt, ny, nx),
      Array.tabulate(nt * ny * nx) { i =>
        // every 5th cell exceeds the 32767 threshold -> must come back NaN
        if (i % 5 == 0) 40000.0 else 100.0 * (i % 7) + (year - 2000)
      })
    val station = NDArray(DType.F8, Vector(nt, ny, nx),
      Array.tabulate(nt * ny * nx)(i => (i % 2).toDouble))
    val dataVars = Map(variable -> Variable(Vector("day", "lat", "lon"), data)) ++
      (if (variable == "soil")
        Map("station_influence" -> Variable(Vector("day", "lat", "lon"), station))
      else Map.empty)
    Fragment(
      dims = Map("day" -> nt, "lat" -> ny, "lon" -> nx),
      coords = Map(
        "day" -> Variable(Vector("day"), dayVals),
        "lat" -> Variable(Vector("lat"), lat),
        "lon" -> Variable(Vector("lon"), lon)),
      dataVars = dataVars,
      attrs = Map("title" -> AttrValue("broken unicode � soup")))
  }

  test("bake terraclimate: munge (attrs/mask/station/renames) + variable×year matrix") {
    val dir = tmp()
    val years = Vector(2000, 2001)
    val variables = Vector("soil", "srad")
    for (v <- variables; y <- years)
      writeZarrFragment(terraFile(v, y), s"$dir/in/TerraClimate_${v}_$y.zarr")
    val conf = writeConfig(dir,
      "TargetStorage" -> Seq("root_path" -> s"$dir/target"),
      "Terraclimate" -> Seq(
        "input_root" -> s"$dir/in",
        "years" -> years.mkString(","),
        "variables" -> variables.mkString(","),
        "target_chunks" -> "time=12"))
    val out = graft.Bake.run(spark, Array(
      "--recipe-id=terraclimate", s"-f=$conf", "--job-name=terraclimate-test"))
    val result = ZarrGroup(out).readFragment()

    // the day dim was renamed to time and concatenated across years
    assert(result.dims("time") == 24, result.dims.toString)
    assert(!result.dims.contains("day"))
    assert(result.coords("time").data.getLong(0) == 0L &&
      result.coords("time").data.getLong(12) == 12L)
    // both merge-dim variables landed, plus soil's re-named station mask
    assert(result.dataVars.keySet == Set("soil", "srad", "soil_station_influence"))
    // attrs were REPLACED with the fixed set, not merged
    assert(result.attrs("title") == TerraclimateRecipe.fixedAttrs("title"))
    assert(!result.attrs.values.exists(_.toString.contains("�")))
    // threshold masking: every 5th input cell (40000 >= 32767) is NaN,
    // every other cell survives untouched
    val soil = result.dataVars("soil").data.data.asInstanceOf[Array[Double]]
    val perYear = 12 * 3 * 4
    (0 until 2 * perYear).foreach { i =>
      val (year, j) = (years(i / perYear), i % perYear)
      if (j % 5 == 0) assert(soil(i).isNaN, s"cell $i not masked")
      else assert(soil(i) == 100.0 * (j % 7) + (year - 2000), s"cell $i")
    }
    // station_influence was dropped and re-added under the payload's name
    val st = result.dataVars("soil_station_influence").data.data.asInstanceOf[Array[Double]]
    assert((0 until perYear).forall(j => st(j) == (j % 2).toDouble))
    // target chunking landed: one year per time chunk
    val meta = ZarrGroup(out).arrayMeta("soil")
    assert(meta.chunks(meta.dimensionNames.indexOf("time")) == 12)
  }

  test("terraclimate munge applies the PDSI -> pdsi rename after masking") {
    val f0 = terraFile("soil", 2000)
    val pdsiVals = NDArray(DType.F8, Vector(12, 3, 4),
      Array.tabulate(12 * 3 * 4)(i => if (i % 3 == 0) 50.0 else 5.0))
    val f = f0.copy(dataVars = Map(
      "PDSI" -> Variable(Vector("day", "lat", "lon"), pdsiVals)))
    val m = TerraclimateRecipe.munge(f)
    assert(m.dataVars.keySet == Set("pdsi"))
    val v = m.dataVars("pdsi").data.data.asInstanceOf[Array[Double]]
    // PDSI mask threshold is 10: 50.0 cells masked, 5.0 cells kept
    assert(v.zipWithIndex.forall { case (x, i) =>
      if (i % 3 == 0) x.isNaN else x == 5.0 })
    assert(m.dims.contains("time") && !m.dims.contains("day"))
  }

  // -------------------------------------------------------------- narr-opendap

  /** One NARR-ish monthly "file": 2 time steps of `air` plus the CF
    * grid-mapping dummy `Lambert_Conformal` the preprocessor promotes. */
  private def narrFile(fileNo: Int): Fragment = {
    val (nt, ny, nx) = (2, 3, 4)
    Fragment(
      dims = Map("time" -> nt, "y" -> ny, "x" -> nx, "crs" -> 1),
      coords = Map(
        "time" -> Variable(Vector("time"),
          NDArray(DType.I4, Vector(nt), Array(fileNo * nt, fileNo * nt + 1)),
          Map("units" -> AttrValue("hours since 1979-01-01"))),
        "y" -> Variable(Vector("y"),
          NDArray(DType.F8, Vector(ny), Array(0.0, 32.463, 64.926))),
        "x" -> Variable(Vector("x"),
          NDArray(DType.F8, Vector(nx), (0 until nx).map(_ * 32.463).toArray))),
      dataVars = Map(
        "air" -> Variable(Vector("time", "y", "x"),
          NDArray(DType.F8, Vector(nt, ny, nx),
            Array.tabulate(nt * ny * nx) { i =>
              val (t, r) = (i / (ny * nx), i % (ny * nx))
              (fileNo * nt + t) * 100.0 + (r / nx) * 10.0 + r % nx
            }),
          Map("long_name" -> AttrValue("Air Temperature"))),
        "Lambert_Conformal" -> Variable(Vector("crs"),
          NDArray(DType.I4, Vector(1), Array(-2147483647)),
          Map("grid_mapping_name" -> AttrValue("lambert_conformal_conic")))),
      attrs = Map("source" -> AttrValue("NARR")))
  }

  test("bake narr-opendap: direct OPeNDAP open, projection var promoted to coord") {
    import graft.dap.Dap2
    val dir = tmp()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    def serve(path: String, bytes: Array[Byte]): Unit =
      server.createContext(path, (ex: com.sun.net.httpserver.HttpExchange) => {
        ex.sendResponseHeaders(200, bytes.length.toLong)
        ex.getResponseBody.write(bytes)
        ex.close()
      })
    (0 until 2).foreach { i =>
      val (dds, das, dods) = Dap2.encode(narrFile(i), s"air.19790$i.nc")
      serve(s"/ds$i.dds", dds.getBytes("UTF-8"))
      serve(s"/ds$i.das", das.getBytes("UTF-8"))
      serve(s"/ds$i.dods", dods)
    }
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val conf = writeConfig(dir,
        "TargetStorage" -> Seq("root_path" -> s"$dir/target"),
        "NarrOpendap" -> Seq(
          "url_template" -> s"$base/ds{time}",
          "times" -> "0,1"))
      val out = graft.Bake.run(spark, Array(
        "--recipe-id=narr-opendap", s"-f=$conf"))
      val f = ZarrGroup(out).readFragment()
      // two remote datasets concatenated: no files were downloaded/cached
      assert(f.dims("time") == 4)
      assert(f.allVars.contains("air"))
      val air = f.allVars("air").data.data.asInstanceOf[Array[Double]]
      (0 until 4 * 3 * 4).foreach { i =>
        val (t, r) = (i / 12, i % 12)
        assert(air(i) == t * 100.0 + (r / 4) * 10.0 + r % 4, s"cell $i")
      }
      // the grid-mapping var came through the SetProjectionAsCoord analog
      assert(f.allVars.contains("Lambert_Conformal"))
      assert(f.allVars("Lambert_Conformal").data.getLong(0) == -2147483647L)
      // reference pins target_chunks {time: 1}
      val meta = ZarrGroup(out).arrayMeta("air")
      assert(meta.chunks(meta.dimensionNames.indexOf("time")) == 1)
    } finally server.stop(0)
  }

  // ------------------------------------------------- hrrr-kerchunk-concat-step

  test("bake hrrr-kerchunk-concat-step: grib scan -> combined v2 reference -> reopen") {
    import graft.grib.Grib2
    val dir = tmp()
    val (nx, ny) = (9, 5)
    val base = 1658527200L // 2022-07-22T22:00Z, the hrrr.t22z cycle
    val steps = Vector(0, 1, 2, 3)
    steps.foreach { s =>
      // constant fields decode exactly; value encodes the step for checking.
      // a decoy message with a different parameter number rides in the same
      // file to prove the shortName filter (grib_filters analog) works
      val keep = s"$dir/in/keep_$s.grib2"
      val decoy = s"$dir/in/decoy_$s.grib2"
      Grib2.writeSimple(keep, Array.fill(nx * ny)(20.0 + s), nx, ny,
        la1 = 30.0, lo1 = 250.0, dLat = 0.5, dLon = 0.5,
        discipline = 0, category = 0, number = 0, // -> TMP
        refTimeEpochSec = base + s * 3600L)
      Grib2.writeSimple(decoy, Array.fill(nx * ny)(99.0), nx, ny,
        la1 = 30.0, lo1 = 250.0, dLat = 0.5, dLon = 0.5,
        discipline = 0, category = 1, number = 0, // -> not TMP
        refTimeEpochSec = base + s * 3600L)
      val merged = Files.readAllBytes(Paths.get(keep)) ++
        Files.readAllBytes(Paths.get(decoy))
      Files.write(Paths.get(f"$dir/in/hrrr.t22z.wrfsfcf$s%02d.grib2"), merged)
    }
    val conf = writeConfig(dir,
      "TargetStorage" -> Seq("root_path" -> s"$dir/target"),
      "HrrrKerchunk" -> Seq(
        "input_root" -> s"$dir/in",
        "steps" -> steps.mkString(",")))
    val out = graft.Bake.run(spark, Array(
      "--recipe-id=hrrr-kerchunk-concat-step", s"-f=$conf"))
    assert(out == s"$dir/target/hrrr-concat-step/reference.json")

    // reopen through the kerchunk-ecosystem artifact, as the reference's
    // test_ds does with xarray+zarr (hrrr_kerchunk_concat_step.py:30-41)
    val back = RefSet.fromKerchunkV2Json(Files.readString(Paths.get(out)))
    val virt = s"$dir/virt.zarr"
    back.materialize(virt)
    val f = ZarrGroup(virt).readFragment()
    // four steps concatenated on the valid-time axis, in step order
    assert(f.dims("time") == 4)
    val times = (0 until 4).map(i => f.coords("time").data.getLong(i))
    assert(times == steps.map(s => base + s * 3600L))
    // the TMP field survived the filter; the decoy (category 1) did not
    assert(f.dataVars.contains("TMP"))
    val data = f.dataVars("TMP").data.data.asInstanceOf[Array[Double]]
    steps.foreach { s =>
      (0 until nx * ny).foreach { i =>
        assert(data(s * nx * ny + i) == 20.0 + s, s"step $s cell $i")
      }
    }
    // identical grid coordinates stored once, with the right first point
    // (2-D (y,x) vars — like the reference's test_ds, which must
    // set_coords them explicitly after opening; allVars is our analog)
    assert(f.allVars("latitude").data.getDouble(0) == 30.0)
    assert(f.allVars("longitude").data.getDouble(0) == 250.0)

    // artifact=parquet emits the fsspec LazyReferenceMapper record layout
    // at <store>/reference.parquet instead (writers.py's extension choice)
    val confPq = writeConfig(dir,
      "TargetStorage" -> Seq("root_path" -> s"$dir/target_pq"),
      "HrrrKerchunk" -> Seq(
        "input_root" -> s"$dir/in",
        "steps" -> steps.mkString(","),
        "artifact" -> "parquet"))
    val outPq = graft.Bake.run(spark, Array(
      "--recipe-id=hrrr-kerchunk-concat-step", s"-f=$confPq"))
    assert(outPq == s"$dir/target_pq/hrrr-concat-step/reference.parquet")
    assert(Files.exists(Paths.get(outPq, "TMP", "refs.0.parq")))
    val virtPq = s"$dir/virt_pq.zarr"
    graft.kerchunk.CombineReferences.readReferenceParquetV2(spark, outPq)
      .materialize(virtPq)
    val fPq = ZarrGroup(virtPq).readFragment()
    assert(fPq.dims("time") == 4)
    assert(fPq.dataVars("TMP").data.data.asInstanceOf[Array[Double]]
      .sameElements(data))
  }

  // ------------------------------- hrrr-kerchunk-concat-valid-time

  test("bake hrrr-kerchunk-concat-valid-time: multi-message merge + drop_unknown") {
    import graft.grib.Grib2
    val dir = tmp()
    val (nx, ny) = (7, 4)
    val base = 1658448000L // 2022-07-22T00:00Z
    val cycles = Vector(0, 1)
    cycles.foreach { c =>
      // each cycle file carries FOUR messages: TMP@2m and UGRD@10m (kept
      // by the heightAboveGround [2,10] filter), an unmapped parameter at
      // 2 m (kept by the filter, then dropped by the drop_unknown
      // preprocess — the cfgrib "unknown" analog), and DPT at the ground
      // surface (excluded by typeOfLevel)
      val parts = Seq(
        ((0, 0, 0), 103, 2, 20.0 + c),   // TMP@2m
        ((0, 2, 2), 103, 10, 5.0 + c),   // UGRD@10m
        ((0, 200, 200), 103, 2, 77.0),   // unknown param -> d0c200p200
        ((0, 0, 6), 1, 0, 99.0)          // DPT at surface: filtered out
      ).zipWithIndex.map { case (((d, cat, num), sfc, lvl, v), i) =>
        val p = s"$dir/in/part_${c}_$i.grib2"
        Grib2.writeSimple(p, Array.fill(nx * ny)(v), nx, ny,
          la1 = 30.0, lo1 = 250.0, dLat = 0.5, dLon = 0.5,
          discipline = d, category = cat, number = num,
          refTimeEpochSec = base + c * 3600L, forecastTimeHours = 1,
          surfaceType = sfc, surfaceValue = lvl)
        Files.readAllBytes(Paths.get(p))
      }
      Files.write(Paths.get(f"$dir/in/hrrr.t$c%02dz.wrfsfcf01.grib2"),
        parts.reduce(_ ++ _))
    }
    val conf = writeConfig(dir,
      "TargetStorage" -> Seq("root_path" -> s"$dir/target"),
      "HrrrValidTime" -> Seq(
        "input_root" -> s"$dir/in",
        "cycles" -> cycles.mkString(",")))
    val out = graft.Bake.run(spark, Array(
      "--recipe-id=hrrr-kerchunk-concat-valid-time", s"-f=$conf"))
    assert(out == s"$dir/target/hrrr-concat-valid-time/reference.json")

    val back = RefSet.fromKerchunkV2Json(Files.readString(Paths.get(out)))
    val virt = s"$dir/virt_vt.zarr"
    back.materialize(virt)
    val f = ZarrGroup(virt).readFragment()
    // two cycles concatenated on VALID time: ref time + 1 h per cycle
    assert(f.dims("time") == 2)
    val times = (0 until 2).map(i => f.coords("time").data.getLong(i))
    assert(times == cycles.map(c => base + c * 3600L + 3600L))
    // both height-above-ground fields merged into one dataset per file
    // (2-D lat/lon grid vars ride along un-set_coords'ed, as in the
    // reference's test_ds; see the concat-step test's note)
    assert(f.dataVars.keySet == Set("TMP", "UGRD", "latitude", "longitude"))
    // the unknown parameter was dropped, the surface-level decoy filtered
    assert(!f.dataVars.contains("d0c200p200"))
    assert(!f.dataVars.contains("DPT"))
    cycles.foreach { c =>
      val tmpData = f.dataVars("TMP").data.data.asInstanceOf[Array[Double]]
      val uData = f.dataVars("UGRD").data.data.asInstanceOf[Array[Double]]
      (0 until nx * ny).foreach { i =>
        assert(tmpData(c * nx * ny + i) == 20.0 + c)
        assert(uData(c * nx * ny + i) == 5.0 + c)
      }
    }
    // per-level metadata survives as attrs (the identical_dims
    // heightAboveGround analog): TMP at 2 m, UGRD at 10 m
    def num(a: graft.core.AttrValue): Double = a match {
      case graft.core.AttrValue.ANum(v) => v
      case graft.core.AttrValue.AInt(v) => v.toDouble
      case other => fail(s"not numeric: $other")
    }
    assert(num(f.dataVars("TMP").attrs("GRIB_surfaceValue")) == 2.0)
    assert(num(f.dataVars("UGRD").attrs("GRIB_surfaceValue")) == 10.0)
    assert(f.allVars("latitude").data.getDouble(0) == 30.0)
    assert(f.allVars("longitude").data.getDouble(0) == 250.0)
  }

  // ------------------------------------------------------------- noaa-oisst

  test("bake noaa-oisst over an object-store transport: mos:// cache + target") {
    // the sandbox mirror of the reference's MinIO integration leg
    // (tests/test_integration.py): the SAME remote-HTTP -> cache ->
    // store -> consolidate bake, with cache AND target on the in-JVM
    // S3-shaped mos:// FileSystem — every write is an object PUT, the
    // open path spools the cached object executor-local (copy_to_local),
    // and the readback goes through the HadoopIO range-read transport.
    import graft.hdf5.HDF5Writer
    import graft.storage.MockObjectFS
    val dir = tmp()
    val nt = 3
    val cube = GoldenCube.makeDs(nt)
    val days = GoldenCube.splitByTime(cube, 1)
    val dates = (0 until nt).map(i =>
      java.time.LocalDate.parse("2021-01-01").plusDays(i.toLong))
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    days.zip(dates).foreach { case (f, date) =>
      val nc = s"$dir/oisst_${date}.nc"
      HDF5Writer.write(nc, f)
      val bytes = Files.readAllBytes(Paths.get(nc))
      val ym = f"${date.getYear}%04d${date.getMonthValue}%02d"
      val ymd = ym + f"${date.getDayOfMonth}%02d"
      server.createContext(s"/avhrr/$ym/oisst-avhrr-v02r01.$ymd.nc",
        (ex: com.sun.net.httpserver.HttpExchange) => {
          ex.sendResponseHeaders(200, bytes.length.toLong)
          ex.getResponseBody.write(bytes)
          ex.close()
        })
    }
    server.start()
    val bucket = "bakebucket"
    MockObjectFS.clearBucket(bucket)
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val conf = writeConfig(dir,
        "TargetStorage" -> Seq("root_path" -> s"mos://$bucket/target"),
        "InputCacheStorage" -> Seq("root_path" -> s"mos://$bucket/cache"),
        "NoaaOisst" -> Seq(
          "url_format" -> (s"$base/avhrr/{time:%Y%m}/" +
            "oisst-avhrr-v02r01.{time:%Y%m%d}.nc"),
          "dates" -> dates.mkString(","),
          "target_chunks" -> "time=2"))
      val out = graft.Bake.run(spark, Array(
        "--recipe-id=noaa-oisst", s"-f=$conf"))
      assert(out == s"mos://$bucket/target/noaa-oisst.zarr")
      // readback THROUGH the object transport (range reads, listing)
      val result = ZarrGroup(out).readFragment()
      assert(result.dims("time") == nt)
      val want = cube.allVars("foo").data.data.asInstanceOf[Array[Double]]
      val got = result.allVars("foo").data.data.asInstanceOf[Array[Double]]
      assert(got.sameElements(want))
      // every remote file landed in the bucket's cache prefix as one object
      val cacheKeys = MockObjectFS.keysIn(bucket)
        .filter(_.startsWith(s"$bucket:cache/"))
      assert(cacheKeys.size == nt, s"cache objects: $cacheKeys")
      // consolidation rewrote the root doc through the transport
      val rootDoc = new String(graft.zarr.StoreIO
        .forRoot(out).read("zarr.json"), "UTF-8")
      assert(rootDoc.contains("consolidated_metadata"))
      // nothing escaped to posix: the local dir holds inputs + config only
      assert(!Files.exists(Paths.get(s"$dir/target")))
    } finally server.stop(0)
  }

  test("noaa-oisst url_format: strftime fields render like the reference template") {
    val tpl = "https://www.ncei.noaa.gov/data/sea-surface-temperature-" +
      "optimum-interpolation/v2.1/access/avhrr/{time:%Y%m}/" +
      "oisst-avhrr-v02r01.{time:%Y%m%d}.nc"
    val got = NoaaOisstFeedstock.formatUrl(tpl,
      java.time.LocalDate.parse("1981-09-01"))
    assert(got == "https://www.ncei.noaa.gov/data/sea-surface-temperature-" +
      "optimum-interpolation/v2.1/access/avhrr/198109/" +
      "oisst-avhrr-v02r01.19810901.nc")
    val e = intercept[IllegalArgumentException](
      NoaaOisstFeedstock.formatUrl("{time:%Q}",
        java.time.LocalDate.parse("1981-09-01")))
    assert(e.getMessage.contains("%Q"))
  }

  test("bake noaa-oisst: remote daily netCDF-4 over HTTP -> cached -> consolidated zarr") {
    import graft.hdf5.HDF5Writer
    val dir = tmp()
    val nt = 4
    val cube = GoldenCube.makeDs(nt)
    val days = GoldenCube.splitByTime(cube, 1)
    val dates = (0 until nt).map(i =>
      java.time.LocalDate.parse("2021-01-01").plusDays(i.toLong))
    // one netCDF-4 file per day, served at the reference's URL layout
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    days.zip(dates).foreach { case (f, date) =>
      val nc = s"$dir/oisst_${date}.nc"
      HDF5Writer.write(nc, f)
      val bytes = Files.readAllBytes(Paths.get(nc))
      val ym = f"${date.getYear}%04d${date.getMonthValue}%02d"
      val ymd = ym + f"${date.getDayOfMonth}%02d"
      server.createContext(s"/avhrr/$ym/oisst-avhrr-v02r01.$ymd.nc",
        (ex: com.sun.net.httpserver.HttpExchange) => {
          ex.sendResponseHeaders(200, bytes.length.toLong)
          ex.getResponseBody.write(bytes)
          ex.close()
        })
    }
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val conf = writeConfig(dir,
        "TargetStorage" -> Seq("root_path" -> s"$dir/target"),
        "InputCacheStorage" -> Seq("root_path" -> s"$dir/cache"),
        "NoaaOisst" -> Seq(
          "url_format" -> (s"$base/avhrr/{time:%Y%m}/" +
            "oisst-avhrr-v02r01.{time:%Y%m%d}.nc"),
          "dates" -> dates.mkString(","),
          "target_chunks" -> "time=2"))
      val out = graft.Bake.run(spark, Array(
        "--recipe-id=noaa-oisst", s"-f=$conf"))
      assert(out == s"$dir/target/noaa-oisst.zarr")
      val result = ZarrGroup(out).readFragment()
      assert(result.dims("time") == nt)
      assert(result.allVars.keySet.intersect(Set("foo", "bar")) ==
        Set("foo", "bar"))
      val want = cube.allVars("foo").data.data.asInstanceOf[Array[Double]]
      val got = result.allVars("foo").data.data.asInstanceOf[Array[Double]]
      assert(got.sameElements(want))
      // OpenURLWithFSSpec cached every remote file under the input cache
      val cached = new java.io.File(s"$dir/cache").listFiles()
      assert(cached != null && cached.length == nt,
        s"expected $nt cached files")
      // ConsolidateMetadata ran: the root doc carries consolidated metadata
      val rootDoc = Files.readString(Paths.get(s"$out/zarr.json"))
      assert(rootDoc.contains("consolidated_metadata"))
      // reference pins target_chunks via config here: time=2
      val meta = ZarrGroup(out).arrayMeta("foo")
      assert(meta.chunks(meta.dimensionNames.indexOf("time")) == 2)

      // --prune keeps the first two dates only
      Files.createDirectories(Paths.get(s"$dir/pruned"))
      val prunedConf = writeConfig(s"$dir/pruned",
        "TargetStorage" -> Seq("root_path" -> s"$dir/target"),
        "InputCacheStorage" -> Seq("root_path" -> s"$dir/cache"),
        "NoaaOisst" -> Seq(
          "url_format" -> (s"$base/avhrr/{time:%Y%m}/" +
            "oisst-avhrr-v02r01.{time:%Y%m%d}.nc"),
          "dates" -> dates.mkString(","),
          "store_name" -> "pruned.zarr"))
      val pruned = graft.Bake.run(spark, Array(
        "--recipe-id=noaa-oisst", s"-f=$prunedConf", "--prune"))
      assert(ZarrGroup(pruned).readFragment().dims("time") == 2)
    } finally server.stop(0)
  }
}
