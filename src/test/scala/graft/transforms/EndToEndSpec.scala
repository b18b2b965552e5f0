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

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-e2e")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

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
}
