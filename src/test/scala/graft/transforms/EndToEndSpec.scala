package graft.transforms

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Encoders, SparkSession}
import graft.core._
import graft.core.GoldenCube
import graft.patterns.{FilePattern, FileType}
import graft.zarr.ZarrGroup
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** The flagship golden round-trip (tests/test_end_to_end.py:37-134 in Spark
  * clothes): split the golden cube into per-file Zarr fragments on disk,
  * run pattern → open → StoreToZarr through real Spark shuffles, reopen the
  * store with our reader, and require exact equality with the original cube.
  */
class EndToEndSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  private def tmp(): String = Files.createTempDirectory("graft_e2e").toString

  /** Write each fragment as a little Zarr group (the test-backbone file
    * format) and return the file paths. */
  private def writeFragmentFiles(frags: Vector[Fragment], dir: String): Vector[String] =
    frags.zipWithIndex.map { case (f, i) =>
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

  private def runStoreToZarr(nt: Int, daysPerFile: Int,
                             targetChunks: Map[String, Int]): Unit = {
    val cube = GoldenCube.makeDs(nt)
    val dir = tmp()
    val files = writeFragmentFiles(GoldenCube.splitByTime(cube, daysPerFile), dir)
    val pattern = FilePattern.fromFileSequence(files, "time",
      nitemsPerFile = Some(daysPerFile), fileType = FileType.Zarr)

    val items = Pipelines.createItems(spark, pattern)
    val frags = Pipelines.openWithFragments(items, FileType.Zarr)
    val storePath = s"$dir/store.zarr"
    Pipelines.storeToZarr(frags, pattern.combineDimKeys, storePath, targetChunks)

    val result = ZarrGroup(storePath).readFragment()
    assert(result.sameAs(cube), s"round-trip mismatch nt=$nt dpf=$daysPerFile tc=$targetChunks")
    // verify the target chunking landed on disk
    targetChunks.foreach { case (d, c) =>
      val meta = ZarrGroup(storePath).arrayMeta("foo")
      val di = meta.dimensionNames.indexOf(d)
      if (di >= 0) assert(meta.chunks(di) == c)
    }
  }

  test("1 day/file, target chunks time=1,2,3") {
    Seq(1, 2, 3).foreach(tc => runStoreToZarr(10, 1, Map("time" -> tc)))
  }

  test("2 days/file, target chunks time=3 (misaligned with files)") {
    runStoreToZarr(10, 2, Map("time" -> 3))
  }

  test("multidim target chunks") {
    runStoreToZarr(10, 2, Map("time" -> 4, "lat" -> 9))
  }

  test("merge dim pipeline: per-variable files union widthwise") {
    val cube = GoldenCube.makeDs(6)
    val dir = tmp()
    val timeDim = Dimension("time", CombineOp.Concat)
    val varDim = Dimension("variable", CombineOp.Merge)
    val byTime = GoldenCube.splitByTime(cube, 2)
    // file matrix: variable × time-slab
    val varNames = Vector("foo", "bar")
    var files = Map.empty[(Int, Int), String]
    varNames.zipWithIndex.foreach { case (vn, vi) =>
      byTime.zipWithIndex.foreach { case (slab, ti) =>
        val one = slab.copy(dataVars = Map(vn -> slab.dataVars(vn)))
        val p = writeFragmentFiles(Vector(one), s"$dir/v${vi}_t$ti").head
        files += (vi, ti) -> p
      }
    }
    val pattern = FilePattern(
      kw => files((varNames.indexOf(kw("variable")), kw("time").toInt)),
      Vector(
        graft.patterns.MergeDim("variable", varNames),
        graft.patterns.ConcatDim("time", (0 until 3).map(_.toString).toVector, Some(2))),
      fileType = FileType.Zarr)

    val items = Pipelines.createItems(spark, pattern)
    val frags = Pipelines.openWithFragments(items, FileType.Zarr)
    val storePath = s"$dir/store.zarr"
    Pipelines.storeToZarr(frags, pattern.combineDimKeys, storePath, Map("time" -> 2))
    val result = ZarrGroup(storePath).readFragment()
    assert(result.sameAs(cube))
  }

  test("packed int16 + CF attrs: netcdf source bakes to an unpacked float zarr") {
    // the real NOAA OISST shape: sst ships as int16 with scale_factor/
    // _FillValue; the reference's open stage (xarray mask_and_scale
    // default) hands the pipeline floats with NaN holes, and that is what
    // must land in the target store
    val nt = 4; val nx = 3
    val dir = tmp()
    val files = (0 until nt).map { t =>
      val packed = Array.tabulate[Short](nx) { x =>
        if (t == 1 && x == 1) -999 else (t * 100 + x * 7 - 50).toShort
      }
      val f = Fragment(
        dims = Map("time" -> 1, "x" -> nx),
        coords = Map(
          "time" -> Variable(Vector("time"),
            NDArray(DType.I4, Vector(1), Array(t)),
            Map("units" -> AttrValue("days since 2021-01-01"))),
          "x" -> Variable(Vector("x"),
            NDArray(DType.F8, Vector(nx), (0 until nx).map(_ * 0.25).toArray))),
        dataVars = Map("sst" -> Variable(Vector("time", "x"),
          NDArray(DType.I2, Vector(1, nx), packed),
          Map("scale_factor" -> AttrValue(0.01),
            "add_offset" -> AttrValue(0.0),
            "_FillValue" -> AttrValue(-999L),
            "units" -> AttrValue("degC")))),
        attrs = Map.empty)
      val p = s"$dir/day_$t.nc"
      graft.netcdf.NetCDF3.write(p, f)
      p
    }.toVector
    val pattern = FilePattern.fromFileSequence(files, "time",
      nitemsPerFile = Some(1), fileType = FileType.Netcdf3)
    val items = Pipelines.createItems(spark, pattern)
    val frags = Pipelines.openWithFragments(items, FileType.Netcdf3)
    val storePath = s"$dir/store.zarr"
    Pipelines.storeToZarr(frags, pattern.combineDimKeys, storePath,
      Map("time" -> 2))
    val result = ZarrGroup(storePath).readFragment()
    val sst = result.dataVars("sst")
    assert(sst.dtype == DType.F8) // unpacked, not the raw i2
    val vals = sst.data.data.asInstanceOf[Array[Double]]
    (0 until nt).foreach { t =>
      (0 until nx).foreach { x =>
        val v = vals(t * nx + x)
        if (t == 1 && x == 1) assert(v.isNaN, s"fill hole at ($t,$x)")
        else assert(v == (t * 100 + x * 7 - 50) * 0.01, s"($t,$x)")
      }
    }
    // packing attrs were consumed by the decode, user attrs survived
    assert(!sst.attrs.contains("scale_factor"))
    assert(sst.attrs("units") == AttrValue("degC"))
  }

  test("object-store transport: full pipeline against a scheme'd URI (Hadoop FS)") {
    // "file://" routes every store byte through the Hadoop FileSystem
    // transport — the exact API surface an s3a:// deployment hits (one
    // create-overwrite per storage object, positioned range reads), with
    // posix nowhere in the path.
    val cube = GoldenCube.makeDs(6)
    val dir = tmp()
    val files = writeFragmentFiles(GoldenCube.splitByTime(cube, 2), dir)
    val pattern = FilePattern.fromFileSequence(files, "time",
      nitemsPerFile = Some(2), fileType = FileType.Zarr)
    val items = Pipelines.createItems(spark, pattern)
    val frags = Pipelines.openWithFragments(items, FileType.Zarr)
    val storeUri = s"file://$dir/object_store.zarr"
    Pipelines.storeToZarr(frags, pattern.combineDimKeys, storeUri,
      Map("time" -> 3))
    // read back through the URI (Hadoop path) and through the posix path
    assert(ZarrGroup(storeUri).readFragment().sameAs(cube))
    assert(ZarrGroup(s"$dir/object_store.zarr").readFragment().sameAs(cube))
    val g = ZarrGroup(storeUri)
    g.consolidateMetadata()
    assert(g.groupAttrs == cube.attrs)
    // sharded store through the URI: the write is object-PUT-shaped and
    // readRegion goes through the shard index via batched range reads
    // (readRanges) on the Hadoop transport
    val shardUri = s"file://$dir/object_store_sharded.zarr"
    Pipelines.storeToZarr(frags, pattern.combineDimKeys, shardUri,
      Map("time" -> 1), targetShards = Map("time" -> 3))
    val sg = ZarrGroup(shardUri)
    assert(sg.arrayMeta("foo").shardShape.map(_.head).contains(3))
    assert(sg.readFragment().sameAs(cube))
    val slab = sg.readRegion("foo", Vector(2, 0, 0), Vector(2, 18, 36))
    assert(slab.sameElements(cube.dataVars("foo")
      .isel(Map("time" -> Slc(2, 4))).data))
  }

  test("append: 10 + 10 days equals the 20-day cube") {
    val cube20 = GoldenCube.makeDs(20)
    val first = cube20.isel(Map("time" -> Slc(0, 10)))
    val second = cube20.isel(Map("time" -> Slc(10, 20)))
    val dir = tmp()
    val storePath = s"$dir/store.zarr"

    def run(frag: Fragment, append: Boolean): Unit = {
      val files = writeFragmentFiles(GoldenCube.splitByTime(frag, 2), s"$dir/in_$append")
      val pattern = FilePattern.fromFileSequence(files, "time",
        nitemsPerFile = Some(2), fileType = FileType.Zarr)
      val items = Pipelines.createItems(spark, pattern)
      val frags = Pipelines.openWithFragments(items, FileType.Zarr)
      Pipelines.storeToZarr(frags, pattern.combineDimKeys, storePath,
        Map("time" -> 2), appendDim = if (append) Some("time") else None)
    }
    run(first, append = false)
    run(second, append = true)
    val result = ZarrGroup(storePath).readFragment()
    assert(result.sameAs(cube20))
  }

  test("append idempotence guard: re-appending an applied batch fails by name") {
    // beyond-reference hardening (the reference documents append as NOT
    // idempotent, transforms.py:680-684): with appendGuardTag set, the
    // merkle-tail tag lands in the store attrs on success and an exact
    // re-run of the same batch refuses by name instead of doubling the
    // cube. Default-off: the unguarded path stays reference-compatible
    // (the test above re-appends freely).
    val cube20 = GoldenCube.makeDs(20)
    val first = cube20.isel(Map("time" -> Slc(0, 10)))
    val second = cube20.isel(Map("time" -> Slc(10, 20)))
    val dir = tmp()
    val storePath = s"$dir/store.zarr"

    def run(frag: Fragment, append: Boolean, label: String): Unit = {
      val files = writeFragmentFiles(GoldenCube.splitByTime(frag, 2),
        s"$dir/in_$label")
      val pattern = FilePattern.fromFileSequence(files, "time",
        nitemsPerFile = Some(2), fileType = FileType.Zarr)
      val items = Pipelines.createItems(spark, pattern)
      val frags = Pipelines.openWithFragments(items, FileType.Zarr)
      val tag = pattern.sha256Hash.map("%02x".format(_)).mkString
      Pipelines.storeToZarr(frags, pattern.combineDimKeys, storePath,
        Map("time" -> 2), appendDim = if (append) Some("time") else None,
        appendGuardTag = if (append) Some(tag) else None)
    }
    run(first, append = false, "base")
    run(second, append = true, "batch1")
    // an exact RE-RUN reads the SAME batch files -> the same pattern ->
    // the same merkle-tail tag ("batch1" again, not a fresh dir: a new
    // batch of new files is a legitimately different append)
    // the ledger recorded the batch
    val attrs = ZarrGroup(storePath).groupAttrs
    assert(attrs.contains(Pipelines.AppliedAppendsAttr))
    // the DOUBLE append of the identical batch fails by name
    val e = intercept[IllegalStateException] {
      run(second, append = true, "batch1")
    }
    assert(e.getMessage.contains("already applied"), e.getMessage)
    // and the store still holds exactly the 20-day cube
    assert(ZarrGroup(storePath).readFragment().sameAs(cube20))
    // a guard tag on a CREATE job is ledgered too (r10: without it, a
    // replayed store-creating streaming micro-batch found no tag and
    // appended batch 0's data after itself)
    val files3 = writeFragmentFiles(GoldenCube.splitByTime(first, 2),
      s"$dir/in_create_tag")
    val pat3 = FilePattern.fromFileSequence(files3, "time",
      nitemsPerFile = Some(2), fileType = FileType.Zarr)
    val frags3 = Pipelines.openWithFragments(
      Pipelines.createItems(spark, pat3), FileType.Zarr)
    Pipelines.storeToZarr(frags3, pat3.combineDimKeys, s"$dir/other.zarr",
      Map("time" -> 2), appendGuardTag = Some("x"))
    val createLedger = ZarrGroup(s"$dir/other.zarr")
      .groupAttrs(Pipelines.AppliedAppendsAttr)
      .asInstanceOf[AttrValue.AList].v
    assert(createLedger == Vector(AttrValue.AStr("x")),
      s"create-path tag not ledgered: $createLedger")
  }

  test("zarrFormat=2: pipeline writes a zarr-python classic store; append detects it") {
    val cube20 = GoldenCube.makeDs(20)
    val first = cube20.isel(Map("time" -> Slc(0, 10)))
    val second = cube20.isel(Map("time" -> Slc(10, 20)))
    val dir = tmp()
    val storePath = s"$dir/store.zarr"

    def run(frag: Fragment, append: Boolean): Unit = {
      val files = writeFragmentFiles(GoldenCube.splitByTime(frag, 2), s"$dir/in_$append")
      val pattern = FilePattern.fromFileSequence(files, "time",
        nitemsPerFile = Some(2), fileType = FileType.Zarr)
      val items = Pipelines.createItems(spark, pattern)
      val frags = Pipelines.openWithFragments(items, FileType.Zarr)
      // the append leg passes the DEFAULT zarrFormat (3): the existing
      // store's on-disk layout must win over the hint
      Pipelines.storeToZarr(frags, pattern.combineDimKeys, storePath,
        Map("time" -> 2), appendDim = if (append) Some("time") else None,
        zarrFormat = if (append) 3 else 2)
    }
    run(first, append = false)
    // classic layout on disk: .zgroup/.zarray docs, "."-separated ordinals
    assert(Files.exists(java.nio.file.Paths.get(storePath, ".zgroup")))
    assert(Files.exists(java.nio.file.Paths.get(storePath, "foo", ".zarray")))
    assert(Files.exists(java.nio.file.Paths.get(storePath, "foo", "0.0.0")))
    assert(!Files.exists(java.nio.file.Paths.get(storePath, "zarr.json")))
    run(second, append = true)
    assert(ZarrGroup(storePath).readFragment().sameAs(cube20))
    // the kerchunk v2 scanner (zarr-python's view of the layout) agrees
    val scanned = graft.kerchunk.RefSet.scanZarrV2Group(storePath)
      .asZarrGroup(storePath).readFragment()
    assert(scanned.sameAs(cube20))
  }

  test("per-variable encoding: StoreToZarr encoding= kwarg (test_zarr_encoding mirror)") {
    // tests/test_writers.py:191-217: foo gets BloscCodec(zstd, clevel=3,
    // shuffle); other variables stay on the store default
    val cube = GoldenCube.makeDs(6)
    val dir = tmp()
    val files = writeFragmentFiles(GoldenCube.splitByTime(cube, 2), dir)
    val pattern = FilePattern.fromFileSequence(files, "time",
      nitemsPerFile = Some(2), fileType = FileType.Zarr)
    val frags = Pipelines.openWithFragments(
      Pipelines.createItems(spark, pattern), FileType.Zarr)
    val storePath = s"$dir/store_enc.zarr"
    Pipelines.storeToZarr(frags, pattern.combineDimKeys, storePath,
      Map("time" -> 3), gzipLevel = Some(2),
      encoding = Map(
        "foo" -> Pipelines.VarEncoding(blosc =
          Some(graft.zarr.Blosc.Params(cname = "zstd", clevel = 3, shuffle = true))),
        "bar" -> Pipelines.VarEncoding(zstdLevel = Some(5))))
    val g = ZarrGroup(storePath)
    // the encoded metadata carries each variable's own compressor...
    val fooJson = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$storePath/foo/zarr.json")), "UTF-8")
    assert(fooJson.contains("\"blosc\"") && fooJson.contains("\"zstd\""))
    val barJson = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$storePath/bar/zarr.json")), "UTF-8")
    assert(barJson.contains("\"zstd\"") && !barJson.contains("\"blosc\""))
    // ...unencoded variables inherit the store-wide default...
    val timeJson = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$storePath/time/zarr.json")), "UTF-8")
    assert(timeJson.contains("\"gzip\""))
    // ...and the mixed-codec store round-trips exactly
    assert(g.readFragment().sameAs(cube))
  }

  test("gzip-compressed store round-trips exactly") {
    val cube = GoldenCube.makeDs(6)
    val dir = tmp()
    val files = writeFragmentFiles(GoldenCube.splitByTime(cube, 2), dir)
    val pattern = FilePattern.fromFileSequence(files, "time",
      nitemsPerFile = Some(2), fileType = FileType.Zarr)
    val items = Pipelines.createItems(spark, pattern)
    val frags = Pipelines.openWithFragments(items, FileType.Zarr)
    val storePath = s"$dir/store_gz.zarr"
    Pipelines.storeToZarr(frags, pattern.combineDimKeys, storePath,
      Map("time" -> 2), gzipLevel = Some(4))
    val store = ZarrGroup(storePath)
    assert(store.arrayMeta("foo").gzipLevel.contains(4))
    assert(store.readFragment().sameAs(cube))
  }

  test("sharded store: shard-aligned parallel writes round-trip exactly") {
    val cube = GoldenCube.makeDs(8)
    val dir = tmp()
    val files = writeFragmentFiles(GoldenCube.splitByTime(cube, 2), dir)
    val pattern = FilePattern.fromFileSequence(files, "time",
      nitemsPerFile = Some(2), fileType = FileType.Zarr)
    val items = Pipelines.createItems(spark, pattern)
    val frags = Pipelines.openWithFragments(items, FileType.Zarr)
    val storePath = s"$dir/store_sharded.zarr"
    // inner chunks of 2 along time, shards of 4 (2 chunks/shard object)
    Pipelines.storeToZarr(frags, pattern.combineDimKeys, storePath,
      Map("time" -> 2), targetShards = Map("time" -> 4))
    val store = ZarrGroup(storePath)
    val meta = store.arrayMeta("foo")
    assert(meta.chunks.head == 2 && meta.shardShape.map(_.head).contains(4))
    assert(store.readFragment().sameAs(cube))
  }

  test("scanZarrStore rechunks an existing store (gpcp_rechunk recipe)") {
    val cube = GoldenCube.makeDs(10)
    val dir = tmp()
    val files = writeFragmentFiles(GoldenCube.splitByTime(cube, 1), dir)
    val pattern = FilePattern.fromFileSequence(files, "time",
      nitemsPerFile = Some(1), fileType = FileType.Zarr)
    val srcPath = s"$dir/src.zarr"
    Pipelines.storeToZarr(
      Pipelines.openWithFragments(Pipelines.createItems(spark, pattern), FileType.Zarr),
      pattern.combineDimKeys, srcPath, Map("time" -> 2))
    // distributed scan in slabs of 5, rechunk 2 -> 5 into a new store
    val scanned = Pipelines.scanZarrStore(spark, srcPath, "time", 5)
    val dstPath = s"$dir/dst.zarr"
    Pipelines.storeToZarr(scanned,
      Vector(graft.core.Dimension("time", graft.core.CombineOp.Concat)),
      dstPath, Map("time" -> 5))
    val dst = ZarrGroup(dstPath)
    assert(dst.arrayMeta("foo").chunks.head == 5)
    assert(dst.readFragment().sameAs(cube))
  }

  test("dynamic chunking fn") {
    val cube = GoldenCube.makeDs(8)
    val dir = tmp()
    val files = writeFragmentFiles(GoldenCube.splitByTime(cube, 2), dir)
    val pattern = FilePattern.fromFileSequence(files, "time",
      nitemsPerFile = Some(2), fileType = FileType.Zarr)
    val items = Pipelines.createItems(spark, pattern)
    val frags = Pipelines.openWithFragments(items, FileType.Zarr)
    val storePath = s"$dir/store.zarr"
    Pipelines.storeToZarr(frags, pattern.combineDimKeys, storePath,
      dynamicChunkingFn = Some(template => Map("time" -> template.dims("time") / 2)))
    val meta = ZarrGroup(storePath).arrayMeta("foo")
    assert(meta.chunks(meta.dimensionNames.indexOf("time")) == 4)
    assert(ZarrGroup(storePath).readFragment().sameAs(cube))
  }

  test("kryo-ceiling guard: oversized slab fails with the named error, not a kryo stack") {
    // SCALE_r6 deploy finding #1: a shuffled fragment larger than
    // spark.kryoserializer.buffer.max (64m default in this session) used
    // to die as an opaque KryoException deep in the shuffle writer. 17
    // steps of 512x1024 f64 = ~71 MB of array mass crosses the ceiling.
    val (nt, ny, nx) = (17, 512, 1024)
    // build the slab ON AN EXECUTOR: a driver-side createDataset would
    // kryo-encode it immediately and die in the encoder (the same opaque
    // overflow, one stage earlier); in the real pipeline fragments are
    // produced by executor-side opens and the typed map→flatMap chain is
    // object-fused, so the guard in rechunk is the first serialization
    // point they would hit
    val frags = spark.range(1).map { _ =>
      val big = Fragment(
        dims = Map("time" -> nt, "y" -> ny, "x" -> nx),
        coords = Map("time" -> Variable(Vector("time"),
          NDArray(DType.I8, Vector(nt), (0 until nt).map(_.toLong).toArray))),
        dataVars = Map("foo" -> Variable(Vector("time", "y", "x"),
          NDArray(DType.F8, Vector(nt, ny, nx),
            new Array[Double](nt * ny * nx)))))
      (Index.of(Dimension("time", CombineOp.Concat) -> Pos.indexed(0, nt)), big)
    }(Encoders.kryo[(Index, Fragment)])
    val e = intercept[Exception] {
      Pipelines.rechunk(frags, Some(Map("time" -> nt)), None).count()
    }
    // the named guard must be in the failure chain with both remedies
    def chain(t: Throwable): List[Throwable] =
      if (t == null) Nil else t :: chain(t.getCause)
    val named = chain(e).find(
      _.isInstanceOf[FragmentExceedsSerializerBufferException])
    assert(named.isDefined, s"expected the named guard, got: $e")
    assert(named.get.getMessage.contains("spark.kryoserializer.buffer.max"))
    assert(named.get.getMessage.contains("itemsPerFragment"))
  }

  /** Every object under a store root, by relative path. */
  private def objects(root: String): Map[String, Seq[Byte]] = {
    val base = java.nio.file.Paths.get(root)
    val walk = Files.walk(base)
    try walk.iterator.asScala.filter(Files.isRegularFile(_))
      .map(p => base.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally walk.close()
  }

  /** A source store holding `frag` in `timeChunk`-step chunks. */
  private def writeStore(frag: Fragment, path: String, timeChunk: Int): String = {
    val g = ZarrGroup(path)
    g.initGroup(frag.attrs)
    frag.allVars.foreach { case (name, v) =>
      val chunks = v.dims.zip(v.shape).map { case (d, n) =>
        if (d == "time") math.min(timeChunk, n) else n }
      g.createArray(name, v.shape, chunks, v.dtype, v.attrs, dimensionNames = Some(v.dims))
      g.writeRegion(name, Vector.fill(v.data.ndim)(0), v.data)
    }
    path
  }

  test("scanZarrStore's schema pass reads store metadata and no chunk") {
    val cube = GoldenCube.makeDs(8)
    val src = writeStore(cube, s"${tmp()}/src.zarr", 4)
    // every chunk object becomes unreadable (a directory in its place);
    // only the zarr.json documents stay readable
    val walk = Files.walk(java.nio.file.Paths.get(src))
    try walk.iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString != "zarr.json")
      .toVector.foreach { p => Files.delete(p); Files.createDirectory(p) }
    finally walk.close()
    val scanned = Pipelines.scanZarrStore(spark, src, "time", 4)
    val schema = Pipelines.determineSchema(scanned,
      Vector(Dimension("time", CombineOp.Concat)))
    assert(schema.dims == cube.dims)
    assert(schema.chunks("time") == Map(0 -> 4, 1 -> 4))
    // shapes come from metadata; the chunks are read only when data is
    assert(scanned.map(_._2.dataVars("foo").data.size)(Encoders.scalaInt)
      .collect().sum == cube.dataVars("foo").data.size)
    val e = intercept[Exception](
      scanned.map(_._2.dataVars("foo").data.getDouble(0))(Encoders.scalaDouble).collect())
    assert(e.getMessage.contains("Is a directory"), e.getMessage)

    // the Zarr opener defers the same way, for a v3 store and for a v2
    // store read through its v2 scan (there every chunk object is zeroed,
    // so only the .z* documents decode)
    val v2 = ZarrGroup(s"${tmp()}/src_v2.zarr", 2)
    v2.initGroup(cube.attrs)
    cube.allVars.foreach { case (name, v) =>
      v2.createArray(name, v.shape, v.shape, v.dtype, v.attrs,
        dimensionNames = Some(v.dims), gzipLevel = Some(1))
      v2.writeRegion(name, Vector.fill(v.data.ndim)(0), v.data)
    }
    val v2Walk = Files.walk(java.nio.file.Paths.get(v2.root))
    try v2Walk.iterator.asScala
      .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith(".z"))
      .toVector.foreach(p => Files.write(p, new Array[Byte](Files.size(p).toInt)))
    finally v2Walk.close()
    Seq(src -> "Is a directory", v2.root -> "Not in GZIP format").foreach { case (store, why) =>
      val pattern = FilePattern.fromFileSequence(Vector(store), "time",
        nitemsPerFile = Some(8), fileType = FileType.Zarr)
      val opened = Pipelines.openWithFragments(Pipelines.createItems(spark, pattern),
        FileType.Zarr)
      assert(Pipelines.determineSchema(opened, pattern.combineDimKeys).dims == cube.dims)
      val e = intercept[Exception](
        opened.map(_._2.dataVars("foo").data.getDouble(0))(Encoders.scalaDouble).collect())
      assert(e.getMessage.contains(why), e.getMessage)
    }
  }

  test("aligned slabs write without a shuffle, byte-identical to the shuffle path") {
    // slab 16 onto 16-step chunks owns every chunk (map-only write); slab
    // 12 shares chunks (rechunk shuffle). The stores must match object by
    // object: plain, sharded, and an aligned append with a guard tag.
    val cube = GoldenCube.makeDs(48)
    val dir = tmp()
    val src = writeStore(cube, s"$dir/src.zarr", 4)
    val head = writeStore(cube.isel(Map("time" -> Slc(0, 32))), s"$dir/head.zarr", 4)
    val tail = writeStore(cube.isel(Map("time" -> Slc(32, 48))), s"$dir/tail.zarr", 4)
    val time = Vector(Dimension("time", CombineOp.Concat))
    val sc = spark.sparkContext
    val labels = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(labels.add)
    })

    def store(slab: Int, out: String, chunk: Int, shards: Map[String, Int] = Map.empty) = {
      Pipelines.storeToZarr(Pipelines.scanZarrStore(spark, src, "time", slab), time,
        out, Map("time" -> chunk), targetShards = shards)
      out
    }
    def append(slab: Int, out: String): String = {
      Pipelines.storeToZarr(Pipelines.scanZarrStore(spark, head, "time", slab), time,
        out, Map("time" -> 16))
      Pipelines.storeToZarr(Pipelines.scanZarrStore(spark, tail, "time", slab), time,
        out, Map("time" -> 16), appendDim = Some("time"), appendGuardTag = Some("batch-1"))
      out
    }

    sc.setJobDescription("caller")
    try {
      val plain = (store(16, s"$dir/p16.zarr", 16), store(12, s"$dir/p12.zarr", 16))
      // 8-step chunks in 16-step shards: the shard is the write grain
      val sharded = (store(16, s"$dir/s16.zarr", 8, Map("time" -> 16)),
        store(12, s"$dir/s12.zarr", 8, Map("time" -> 16)))
      val appended = (append(16, s"$dir/a16.zarr"), append(12, s"$dir/a12.zarr"))
      assert(sc.getLocalProperty("spark.job.description") == "caller")
      Seq(plain, sharded, appended).foreach { case (mapOnly, shuffled) =>
        val (a, b) = (objects(mapOnly), objects(shuffled))
        assert(a.keySet == b.keySet, s"$mapOnly vs $shuffled")
        a.keys.foreach(k => assert(a(k) == b(k), s"$k differs: $mapOnly vs $shuffled"))
      }
      assert(ZarrGroup(plain._1).readFragment().sameAs(cube))
      assert(ZarrGroup(sharded._1).readFragment().sameAs(cube))
      assert(ZarrGroup(appended._1).readFragment().sameAs(cube))
      assert(ZarrGroup(appended._1).groupAttrs.contains(Pipelines.AppliedAppendsAttr))
    } finally sc.setJobDescription(null)

    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    eventually(timeout(10.seconds)) {
      val seen = labels.asScala.toSet
      Seq("storeToZarr: schema", "storeToZarr: write (no shuffle)",
        "storeToZarr: rechunk shuffle + write").foreach(l => assert(seen(l), seen))
    }
  }

  /** MergeDim(variable: foo, bar) x ConcatDim(time) over `files` NetCDF3
    * files of 3 steps per variable, in the fixed or the record layout. */
  private def mergeConcatNetcdf3(dir: String, files: Int,
                                 recordDim: Option[String]): FilePattern = {
    val nt = 3; val ny = 4; val nx = 5
    for ((v, sign) <- Seq("foo" -> 1f, "bar" -> -1f); i <- 0 until files) {
      val t0 = i * nt
      val f = Fragment(
        dims = Map("time" -> nt, "y" -> ny, "x" -> nx),
        coords = Map(
          "time" -> Variable(Vector("time"), NDArray(DType.I4, Vector(nt), Array.tabulate(nt)(t0 + _))),
          "y" -> Variable(Vector("y"), NDArray(DType.F8, Vector(ny), Array.tabulate(ny)(_ * 0.5))),
          "x" -> Variable(Vector("x"), NDArray(DType.F4, Vector(nx), Array.tabulate(nx)(_ * 0.25f)))),
        dataVars = Map(v -> Variable(Vector("time", "y", "x"),
          NDArray(DType.F4, Vector(nt, ny, nx),
            Array.tabulate(nt * ny * nx)(k => sign * (t0 * ny * nx + k))))))
      graft.netcdf.NetCDF3.write(s"$dir/${v}_$i.nc", f, recordDim = recordDim)
    }
    FilePattern(kw => s"$dir/${kw("variable")}_${kw("time")}.nc",
      Vector(graft.patterns.MergeDim("variable", Vector("foo", "bar")),
        graft.patterns.ConcatDim("time", (0 until files).map(_.toString).toVector, Some(nt))),
      fileType = FileType.Netcdf3)
  }

  /** The number of jobs `body` ran labelled `label`, and the stages of
    * those jobs that ran. The listener bus delivers events in order, so
    * once a marker job's start is seen, every stage `body` completed has
    * been seen too. */
  private def labelledRun(label: String)(body: => Unit)
      : (Int, Seq[org.apache.spark.scheduler.StageInfo]) = {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val marker = s"stages-${java.util.UUID.randomUUID()}"
    val ids = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[StageInfo]()
    @volatile var markerSeen = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties).map(_.getProperty("spark.job.description")).orNull
        if (desc == label) { jobs.incrementAndGet(); e.stageIds.foreach(ids.add) }
        if (desc == marker) markerSeen = true
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        done.add(e.stageInfo)
    }
    sc.addSparkListener(listener)
    try {
      body
      Pipelines.labelled(spark, marker)(sc.parallelize(Seq(1), 1).count())
      import org.scalatest.concurrent.Eventually._
      import org.scalatest.time.SpanSugar._
      eventually(timeout(10.seconds))(assert(markerSeen))
    } finally sc.removeSparkListener(listener)
    (jobs.get, done.asScala.filter(st => ids.contains(st.stageId)).toSeq)
  }

  test("netcdf3 merge x concat: the rechunk shuffle moves byte-range references") {
    Seq(None, Some("time")).foreach { recordDim => // fixed and record layout
      val dir = tmp()
      val files = 8
      val pattern = mergeConcatNetcdf3(dir, files, recordDim)
      val frags = Pipelines.openWithFragments(Pipelines.createItems(spark, pattern),
        FileType.Netcdf3)
      // the same recipe with every array loaded: its records carry the bytes
      val loaded = frags.map { case (idx, f) =>
        f.allVars.valuesIterator.foreach(_.data.data); (idx, f)
      }(Encoders.kryo[(Index, Fragment)])
      val (jobs, stages) = labelledRun("storeToZarr: rechunk shuffle + write") {
        Pipelines.storeToZarr(frags, pattern.combineDimKeys, s"$dir/refs.zarr", Map("time" -> 8))
      }
      Pipelines.storeToZarr(loaded, pattern.combineDimKeys, s"$dir/bytes.zarr", Map("time" -> 8))
      val (a, b) = (objects(s"$dir/refs.zarr"), objects(s"$dir/bytes.zarr"))
      assert(a.keySet == b.keySet, recordDim)
      a.keys.foreach(k => assert(a(k) == b(k), s"$k differs ($recordDim)"))
      val foo = ZarrGroup(s"$dir/refs.zarr").readFragment().dataVars("foo")
      assert(foo.shape == Vector(24, 4, 5) && foo.data.getDouble(24 * 20 - 1) == 24 * 20 - 1)

      val map = stages.filter(_.taskMetrics.shuffleWriteMetrics.bytesWritten > 0)
      val reduce = stages.filter(_.taskMetrics.shuffleReadMetrics.recordsRead > 0)
      assert(map.size == 1 && reduce.size == 1, stages.map(_.name))
      val written = map.head.taskMetrics.shuffleWriteMetrics.bytesWritten
      assert(written < 1024L * 2 * files, s"$written shuffle bytes for ${2 * files} fragments")
      assert(reduce.head.numTasks == spark.sparkContext.defaultParallelism)
      // one job of two stages, and a reduce side that holds references:
      // no sort page per task
      assert(jobs == 1, stages.map(_.name))
      val peak = reduce.head.taskMetrics.peakExecutionMemory
      assert(peak < (1L << 20), s"$peak bytes of reduce-side execution memory")
    }
  }

  test("determineSchema folds three combine dims in one job with no shuffle") {
    val variable = Dimension("variable", CombineOp.Merge)
    val time = Dimension("time", CombineOp.Concat)
    val ens = Dimension("ens", CombineOp.Concat)
    def frag(v: String, nt: Int, ne: Int): Fragment = Fragment(
      dims = Map("time" -> nt, "ens" -> ne, "x" -> 4),
      coords = Map(
        "time" -> Variable(Vector("time"), NDArray.zeros(DType.I8, Vector(nt))),
        "ens" -> Variable(Vector("ens"), NDArray.zeros(DType.I4, Vector(ne)))),
      dataVars = Map(v -> Variable(Vector("time", "ens", "x"),
        NDArray.zeros(DType.F8, Vector(nt, ne, 4)), Map("units" -> AttrValue("K")))),
      attrs = Map("title" -> AttrValue("cube")))
    val items = for {
      (v, m) <- Vector("foo", "bar").zipWithIndex
      (nt, t) <- Vector(2, 3, 1).zipWithIndex
      (ne, e) <- Vector(1, 2).zipWithIndex
    } yield (Index.of(variable -> Pos(m), time -> Pos(t), ens -> Pos(e)), frag(v, nt, ne))
    val scattered = spark.createDataset(spark.sparkContext.parallelize(
      new scala.util.Random(3).shuffle(items), 4))(Encoders.kryo[(Index, Fragment)])
    // what determineSchema must equal: on the driver, combine along the
    // innermost dim per outer index until one dim is left, then globally
    def nested(schemas: Seq[(Index, CubeSchema)], dims: Vector[Dimension]): CubeSchema = {
      import graft.combiners.SchemaCombine._
      def fold(group: Seq[(Index, CubeSchema)], d: Dimension): CubeSchema =
        extract(group.foldLeft(zero(d))((acc, kv) => addInput(acc, kv, d)))
      if (dims.size == 1) fold(schemas, dims.head)
      else nested(schemas.groupBy { case (idx, _) => Index(idx.entries - dims.last) }
        .toSeq.map { case (outer, group) => outer -> fold(group, dims.last) }, dims.init)
    }
    val schemas = items.map { case (idx, f) => idx -> CubeSchema.fromFragment(f) }
    Seq(Vector(variable, time, ens), Vector(ens, time, variable)).foreach { dims =>
      var schema: CubeSchema = null
      val (jobs, stages) = labelledRun("schema under test") {
        schema = Pipelines.labelled(spark, "schema under test") {
          Pipelines.determineSchema(scattered, dims)
        }
      }
      assert(schema == nested(schemas, dims), dims)
      assert(schema.dims == Map("time" -> 6, "ens" -> 3, "x" -> 4))
      assert(schema.chunks == Map("time" -> Map(0 -> 2, 1 -> 3, 2 -> 1),
        "ens" -> Map(0 -> 1, 1 -> 2)))
      assert(schema.dataVars.keySet == Set("foo", "bar"))
      assert(jobs == 1, dims)
      assert(stages.size == 1 &&
        stages.forall(_.taskMetrics.shuffleWriteMetrics.bytesWritten == 0), stages.map(_.name))
    }
  }

  test("prepareZarrTarget creates a 2.5e9-element array from the schema alone") {
    val n = 50000
    val schema = CubeSchema(Attrs.empty, Map.empty,
      Map("big" -> VarSpec(Vector("y", "x"), Vector(n, n), DType.F8)),
      Map("y" -> n, "x" -> n), Map.empty)
    val path = s"${tmp()}/big.zarr"
    Pipelines.prepareZarrTarget(schema, path, Map("y" -> 1000, "x" -> 1000))
    val meta = ZarrGroup(path).arrayMeta("big")
    assert(meta.shape == Vector(n, n) && meta.chunks == Vector(1000, 1000))
    assert(objects(path).keySet == Set("zarr.json", "big/zarr.json"))
  }

  test("a NetCDF3 slab above the serializer ceiling stores through its byte-range reference") {
    // 17 steps of 512x1024 f64 = ~71 MB, above the session's 64m
    // kryoserializer.buffer.max; opened, it is a file-backed array whose
    // record is its reference, so the guard lets it through
    val (nt, ny, nx) = (17, 512, 1024)
    val dir = tmp()
    val src = Fragment(
      dims = Map("time" -> nt, "y" -> ny, "x" -> nx),
      coords = Map("time" -> Variable(Vector("time"),
        NDArray(DType.I4, Vector(nt), Array.tabulate(nt)(identity)))),
      dataVars = Map("foo" -> Variable(Vector("time", "y", "x"),
        NDArray(DType.F8, Vector(nt, ny, nx), Array.tabulate(nt * ny * nx)(_.toDouble)))))
    try {
      val file = s"$dir/big.nc"
      graft.netcdf.NetCDF3.write(file, src)
      val pattern = FilePattern.fromFileSequence(Vector(file), "time",
        nitemsPerFile = Some(nt), fileType = FileType.Netcdf3)
      val store = s"$dir/store.zarr"
      Pipelines.storeToZarr(
        Pipelines.openWithFragments(Pipelines.createItems(spark, pattern), FileType.Netcdf3),
        pattern.combineDimKeys, store, Map("time" -> nt))
      assert(ZarrGroup(store).readFragment().sameAs(src))
    } finally {
      val walk = Files.walk(java.nio.file.Paths.get(dir))
      try walk.iterator.asScala.toVector.reverse.foreach(Files.delete) finally walk.close()
    }
  }

  /** `frag` as 2-day Zarr files under `dir`, opened: the items and combine
    * dims a `storeToZarr` call takes. */
  private def opened(frag: Fragment, dir: String)
      : (org.apache.spark.sql.Dataset[(Index, Fragment)], Vector[Dimension]) = {
    val files = writeFragmentFiles(GoldenCube.splitByTime(frag, 2), dir)
    val pattern = FilePattern.fromFileSequence(files, "time",
      nitemsPerFile = Some(2), fileType = FileType.Zarr)
    (Pipelines.openWithFragments(Pipelines.createItems(spark, pattern), FileType.Zarr),
      pattern.combineDimKeys)
  }

  test("append resizes zstd v3, blosc v3 and zstd v2 stores in place") {
    // the append passes none of the store's options: each array document
    // must come out unchanged but for its shape, so old chunks still decode
    val cube20 = GoldenCube.makeDs(20)
    val names = cube20.allVars.keys.toVector
    val dir = tmp()
    val (first, dims) = opened(cube20.isel(Map("time" -> Slc(0, 10))), s"$dir/first")
    val (second, _) = opened(cube20.isel(Map("time" -> Slc(10, 20))), s"$dir/second")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    Seq(("zstd3", Pipelines.VarEncoding(zstdLevel = Some(3)), 3),
        ("blosc3", Pipelines.VarEncoding(blosc = Some(graft.zarr.Blosc.Params(cname = "zstd"))), 3),
        ("zstd2", Pipelines.VarEncoding(zstdLevel = Some(3)), 2)).foreach {
      case (label, enc, format) =>
        val store = s"$dir/$label.zarr"
        val docName = if (format == 2) ".zarray" else "zarr.json"
        def docs() = names.map(n => n -> mapper.readTree(
          java.nio.file.Paths.get(store, n, docName).toFile)
          .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]).toMap
        Pipelines.storeToZarr(first, dims, store, Map("time" -> 2),
          encoding = names.map(_ -> enc).toMap, zarrFormat = format)
        val before = docs()
        Pipelines.storeToZarr(second, dims, store, Map("time" -> 2),
          appendDim = Some("time"))
        val after = docs()
        names.foreach { n =>
          val longer = cube20.allVars(n).shape
          assert(after(n).get("shape").elements().asScala.map(_.asInt).toVector == longer,
            s"$label $n")
          after(n).remove("shape"); before(n).remove("shape")
          assert(after(n) == before(n), s"$label $n: ${after(n)} != ${before(n)}")
        }
        assert(ZarrGroup(store).readFragment().sameAs(cube20), label)
    }
  }

  test("append extends a non-dimension coord that carries the append dim") {
    // in-memory items keep `timestep` a coord (a Zarr file would reopen it
    // as a data var, since its name is not one of its dims)
    val cube20 = GoldenCube.makeDs(20, nonDimCoords = true)
    val time = Dimension("time", CombineOp.Concat)
    def items(frag: Fragment) = spark.createDataset(
      GoldenCube.splitByTime(frag, 2).zipWithIndex.map { case (f, i) =>
        (Index.of(time -> Pos(i)), f) })(Encoders.kryo[(Index, Fragment)])
    val first = items(cube20.isel(Map("time" -> Slc(0, 10))))
    val second = items(cube20.isel(Map("time" -> Slc(10, 20))))
    assert(first.first()._2.coords.contains("timestep"))
    val dims = Vector(time)
    val store = s"${tmp()}/store.zarr"
    Pipelines.storeToZarr(first, dims, store, Map("time" -> 2))
    Pipelines.storeToZarr(second, dims, store, Map("time" -> 2), appendDim = Some("time"))
    // the reader files `timestep` and `baz` under data vars (their names
    // are not dims), so compare variable by variable
    val result = ZarrGroup(store).readFragment()
    assert(result.allVars.keySet == cube20.allVars.keySet)
    cube20.allVars.foreach { case (n, v) =>
      assert(result.allVars(n).data.sameElements(v.data), n)
    }
  }

  test("append splits on the store's shards, not the caller's chunks") {
    // 5-step chunks in 10-step shards; the append passes only the chunks
    val cube20 = GoldenCube.makeDs(20)
    val dir = tmp()
    val store = s"$dir/store.zarr"
    val (first, dims) = opened(cube20.isel(Map("time" -> Slc(0, 10))), s"$dir/first")
    val (second, _) = opened(cube20.isel(Map("time" -> Slc(10, 20))), s"$dir/second")
    Pipelines.storeToZarr(first, dims, store, Map("time" -> 5),
      targetShards = Map("time" -> 10))
    Pipelines.storeToZarr(second, dims, store, Map("time" -> 5), appendDim = Some("time"))
    assert(ZarrGroup(store).arrayMeta("foo").shardShape.map(_.head).contains(10))
    assert(ZarrGroup(store).readFragment().sameAs(cube20))
  }

  test("append to a store whose arrays chunk the dim differently fails by name before any job") {
    val cube20 = GoldenCube.makeDs(20)
    val first = cube20.isel(Map("time" -> Slc(0, 10)))
    val dir = tmp()
    val store = s"$dir/store.zarr"
    val g = ZarrGroup(store)
    g.initGroup(first.attrs)
    first.allVars.foreach { case (name, v) =>
      val chunks = v.dims.zip(v.shape).map { case (d, n) =>
        if (d == "time") (if (name == "bar") 10 else 5) else n }
      g.createArray(name, v.shape, chunks, v.dtype, v.attrs, dimensionNames = Some(v.dims))
      g.writeRegion(name, Vector.fill(v.data.ndim)(0), v.data)
    }
    val (second, dims) = opened(cube20.isel(Map("time" -> Slc(10, 20))), s"$dir/second")
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(groups.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("disagreeing-append", "append")
      val e = try intercept[IllegalArgumentException] {
        Pipelines.storeToZarr(second, dims, store, Map("time" -> 5), appendDim = Some("time"))
      } finally sc.clearJobGroup()
      Seq("'time'", "foo=(5,10)", "bar=(10,10)").foreach(s =>
        assert(e.getMessage.contains(s), e.getMessage))
      // job start events arrive in order: once a later marker job is seen,
      // any job the append started would have been seen too
      sc.setJobGroup("marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      import org.scalatest.concurrent.Eventually._
      import org.scalatest.time.SpanSugar._
      eventually(timeout(10.seconds))(assert(groups.contains("marker")))
      assert(!groups.contains("disagreeing-append"), groups)
    } finally sc.removeSparkListener(listener)
    assert(ZarrGroup(store).arrayMeta("foo").shape.head == 10)
  }

  test("a NetCDF3 scalar keeps its value through storeToZarr and the reference scan") {
    val dir = tmp()
    val crs = NDArray(DType.I4, Vector(), Array(4326))
    val src = Fragment(
      dims = Map("time" -> 4),
      coords = Map("time" -> Variable(Vector("time"),
        NDArray(DType.I4, Vector(4), Array(0, 1, 2, 3)))),
      dataVars = Map(
        "foo" -> Variable(Vector("time"), NDArray(DType.F8, Vector(4), Array(1.0, 2, 3, 4))),
        "crs" -> Variable(Vector(), crs)))
    val file = s"$dir/crs.nc"
    graft.netcdf.NetCDF3.write(file, src)
    val scanned = graft.kerchunk.RefSet.scanNetCDF3(file).asZarrGroup().readFragment()
    assert(scanned.dataVars("crs").data.sameElements(crs))
    val pattern = FilePattern.fromFileSequence(Vector(file), "time",
      nitemsPerFile = Some(4), fileType = FileType.Netcdf3)
    val store = s"$dir/store.zarr"
    Pipelines.storeToZarr(
      Pipelines.openWithFragments(Pipelines.createItems(spark, pattern), FileType.Netcdf3),
      pattern.combineDimKeys, store)
    assert(ZarrGroup(store).readFragment().dataVars("crs").data.sameElements(crs))
  }
}
