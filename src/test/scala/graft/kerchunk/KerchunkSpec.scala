package graft.kerchunk

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Encoders, SparkSession}
import graft.core._
import graft.core.GoldenCube
import graft.zarr.ZarrGroup
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Entry point B (SURVEY §3.2): scan fragment files into references,
  * order-preserving combine, write reference.json, materialize the virtual
  * store, and require exact equality with the golden cube.
  */
class KerchunkSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  private def tmp(): String = Files.createTempDirectory("graft_kc").toString

  private val timeDim = Dimension("time", CombineOp.Concat)

  test("scan inlines metadata and small chunks, points at large ones") {
    val cube = GoldenCube.makeDs(4)
    val dir = tmp()
    val g = ZarrGroup(s"$dir/f.zarr")
    g.initGroup(cube.attrs)
    cube.allVars.foreach { case (n, v) =>
      g.createArray(n, v.shape, v.shape, v.dtype, v.attrs,
        dimensionNames = Some(v.dims))
      g.writeRegion(n, Vector.fill(v.data.ndim)(0), v.data)
    }
    val rs = RefSet.scanZarrGroup(s"$dir/f.zarr")
    assert(rs.keys.contains("zarr.json"))
    assert(rs.keys.contains("foo/zarr.json"))
    assert(rs("zarr.json").inline.isDefined)
    // foo chunk: 4*18*36*8 bytes >> 300 -> pointer
    assert(rs("foo/c/0/0/0").inline.isEmpty)
    assert(rs("foo/c/0/0/0").url.isDefined)
    // time chunk: 4*8 = 32 bytes <= 300 -> inlined
    assert(rs("time/c/0").inline.isDefined)
  }

  test("end-to-end: scan -> combine -> reference.json -> materialize == cube") {
    val cube = GoldenCube.makeDs(10)
    val dir = tmp()
    val slabs = GoldenCube.splitByTime(cube, 2)
    val files = slabs.zipWithIndex.map { case (f, i) =>
      val p = s"$dir/frag_$i.zarr"
      val g = ZarrGroup(p)
      g.initGroup(f.attrs)
      f.allVars.foreach { case (n, v) =>
        g.createArray(n, v.shape, v.shape, v.dtype, v.attrs,
          dimensionNames = Some(v.dims))
        g.writeRegion(n, Vector.fill(v.data.ndim)(0), v.data)
      }
      p
    }
    val indexed: Vector[(Index, RefSet)] = files.zipWithIndex.map { case (p, i) =>
      (Index.of(timeDim -> Pos(i)), RefSet.scanZarrGroup(p))
    }
    val ds = spark.createDataset(indexed)(Encoders.kryo[(Index, RefSet)])
      .repartition(4)
    val combined = CombineReferences.combine(ds, Vector("time"), Vector("lat", "lon"))

    // write + read back the artifact
    val jsonPath = s"$dir/reference.json"
    CombineReferences.writeReferenceJson(combined, jsonPath)
    val loaded = RefSet.fromJson(Files.readString(java.nio.file.Paths.get(jsonPath)))

    // materialize the virtual store and compare with the golden cube
    val mat = s"$dir/materialized.zarr"
    loaded.materialize(mat)
    val result = ZarrGroup(mat).readFragment()
    assert(result.sameAs(cube))

    // parquet artifact in the LazyReferenceMapper record shape
    // (writers.py:137,157-160): chunk refs partitioned per component with
    // <= refs_per_component rows per record-file; metadata docs
    // consolidated into .zmetadata with the record size
    val pq = s"$dir/refs.parquet"
    CombineReferences.writeReferenceParquet(spark, combined, pq,
      refsPerComponent = 2)
    val metaCount = combined.refs.keys.count(k =>
      k == "zarr.json" || k.endsWith("/zarr.json"))
    val table = spark.read.parquet(pq)
    assert(table.count() == combined.refs.size - metaCount)
    // every component of the store has its own partition directory...
    val componentDirs = new java.io.File(pq).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    val wantComponents = combined.refs.keys
      .filterNot(k => k == "zarr.json" || k.endsWith("/zarr.json"))
      .map(_.split('/').head).toSet
    assert(componentDirs == wantComponents.map(c => s"component=$c"))
    // ...and no record-file inside it exceeds refs_per_component rows
    componentDirs.foreach { cd =>
      new java.io.File(s"$pq/$cd").listFiles()
        .filter(_.getName.endsWith(".parquet")).foreach { f =>
          assert(spark.read.parquet(f.getPath).count() <= 2,
            s"${f.getPath} exceeds refs_per_component")
        }
    }
    // the consolidated metadata carries the record size and every doc
    val zm = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(java.nio.file.Paths.get(s"$pq/.zmetadata")))
    assert(zm.get("record_size").asInt() == 2)
    assert(zm.get("metadata").size() == metaCount)
    assert(zm.get("metadata").has("foo/zarr.json"))
    // the partitioned table still round-trips ref-for-ref
    import org.apache.spark.sql.functions.{col, concat_ws}
    val backKeys = table
      .select(concat_ws("/", col("component"), col("key")).as("k"))
      .collect().map(_.getString(0)).toSet
    // key column retains the FULL key; component is the partition echo
    val directKeys = table.select("key").collect().map(_.getString(0)).toSet
    assert(directKeys == combined.refs.keySet.filterNot(k =>
      k == "zarr.json" || k.endsWith("/zarr.json")))
    assert(backKeys.forall(_.contains("/")))

    // reader round trip: the reassembled RefSet materializes to the SAME
    // store (metadata re-serialization may differ in whitespace; the store
    // contents may not)
    val reread = CombineReferences.readReferenceParquet(spark, pq)
    assert(reread.keys == combined.refs.keySet)
    val rematPath = s"$dir/rematerialized.zarr"
    reread.materialize(rematPath)
    assert(ZarrGroup(rematPath).readFragment().sameAs(cube))
    // component pruning reads ONLY the requested variable's records
    val fooOnly = CombineReferences.readReferenceParquet(spark, pq,
      components = Some(Set("foo")))
    assert(fooOnly.keys.filterNot(_ == "zarr.json")
      .forall(_.startsWith("foo/")))
    assert(fooOnly.keys.exists(_.startsWith("foo/c/")))
    assert(!fooOnly.keys.exists(_.startsWith("time/")))
  }

  test("fsspec LazyReferenceMapper parquet layout: positional records, round trip") {
    val cube = GoldenCube.makeDs(10)
    val dir = tmp()
    val slabs = GoldenCube.splitByTime(cube, 2)
    val files = slabs.zipWithIndex.map { case (f, i) =>
      val p = s"$dir/frag_$i.zarr"
      val g = ZarrGroup(p)
      g.initGroup(f.attrs)
      f.allVars.foreach { case (n, v) =>
        g.createArray(n, v.shape, v.shape, v.dtype, v.attrs,
          dimensionNames = Some(v.dims))
        g.writeRegion(n, Vector.fill(v.data.ndim)(0), v.data)
      }
      p
    }
    val indexed: Vector[(Index, RefSet)] = files.zipWithIndex.map { case (p, i) =>
      (Index.of(timeDim -> Pos(i)), RefSet.scanZarrGroup(p))
    }
    val ds = spark.createDataset(indexed)(Encoders.kryo[(Index, RefSet)])
      .repartition(4)
    val pq = s"$dir/v2refs.parquet"
    // end-to-end through the bake-facing entry point: v2Keys + .parquet
    val combined = CombineReferences.writeCombinedReference(ds, Vector("time"),
      Vector("lat", "lon"), pq, v2Keys = true)
    // rewrite at record size 2 to force multiple positional record files
    CombineReferences.writeReferenceParquetV2(spark, combined, pq, recordSize = 2)

    // .zmetadata: zarr-v2 documents + record_size (fsspec's exact shape)
    val zm = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(java.nio.file.Paths.get(s"$pq/.zmetadata")))
    assert(zm.get("record_size").asInt() == 2)
    assert(zm.get("metadata").has(".zgroup"))
    assert(zm.get("metadata").has("foo/.zarray"))
    assert(zm.get("metadata").get("foo/.zarray").get("chunks").get(0).asInt() == 2)

    // foo: 10 time steps in chunks of 2 -> 5 chunk ordinals -> record files
    // refs.{0,1,2}.parq with 2/2/1 positional rows and fsspec's column set
    val fooFiles = new java.io.File(s"$pq/foo").listFiles()
      .map(_.getName).sorted.toVector
    assert(fooFiles == Vector("refs.0.parq", "refs.1.parq", "refs.2.parq"))
    val rec0 = spark.read.parquet(s"$pq/foo/refs.0.parq")
    assert(rec0.columns.toVector == Vector("path", "offset", "size", "raw"))
    assert(rec0.count() == 2)
    assert(spark.read.parquet(s"$pq/foo/refs.2.parq").count() == 1)
    // positional row 0 of record 0 IS chunk 0.0.0: compare to the RefSet
    val want = combined.refs("foo/c/0/0/0")
    val row0 = rec0.collect().minBy(r => r.getLong(1))
    assert(Option(row0.getString(0)) == want.url)
    assert(row0.getLong(1) == want.offset && row0.getLong(2) == want.length)

    // reader round trip materializes the identical cube
    val reread = CombineReferences.readReferenceParquetV2(spark, pq)
    assert(reread.keys.filter(_.contains("/c")) ==
      combined.refs.keySet.filter(_.contains("/c")))
    val mat = s"$dir/v2remat.zarr"
    reread.materialize(mat)
    assert(ZarrGroup(mat).readFragment().sameAs(cube))
    // component pruning keeps root docs + the named array only
    val fooOnly = CombineReferences.readReferenceParquetV2(spark, pq,
      components = Some(Set("foo")))
    assert(fooOnly.keys.exists(_.startsWith("foo/c/")))
    assert(!fooOnly.keys.exists(_.startsWith("time/")))

    // missing chunks are null rows at their ordinal (positional density):
    // drop foo's middle chunk and re-write
    val holed = RefSet(combined.refs - "foo/c/2/0/0")
    val pq2 = s"$dir/v2holed.parquet"
    CombineReferences.writeReferenceParquetV2(spark, holed, pq2, recordSize = 2)
    // record 1 still has two rows (ordinals 2,3); row for ordinal 2 is null
    val rec1 = spark.read.parquet(s"$pq2/foo/refs.1.parq").collect()
    assert(rec1.length == 2)
    assert(rec1.count(r => r.isNullAt(0) && r.isNullAt(3)) == 1)
    val rereadHoled = CombineReferences.readReferenceParquetV2(spark, pq2)
    assert(!rereadHoled.keys.contains("foo/c/2/0/0"))
    assert(rereadHoled.keys.contains("foo/c/3/0/0"))
  }

  test("netcdf3 fixtures: scan -> combine -> reference.json -> materialize == cube") {
    // the real Entry-point B input: classic NetCDF files, record layout
    // (conftest.py:60-146 fixture shape), scanned header-only on executors
    val nt = 8
    val cube = {
      val base = GoldenCube.makeDs(nt)
      // classic format has no int64: narrow time/bar to the scanner lattice
      def narrow(v: Variable): Variable =
        if (v.dtype == DType.I8) v.copy(data = v.data.astype(DType.I4)) else v
      base.copy(coords = base.coords.map { case (n, v) => n -> narrow(v) },
        dataVars = base.dataVars.map { case (n, v) => n -> narrow(v) })
    }
    val dir = tmp()
    val files = GoldenCube.splitByTime(cube, 2).zipWithIndex.map { case (f, i) =>
      val p = s"$dir/slab_$i.nc"
      graft.netcdf.NetCDF3.write(p, f, recordDim = Some("time"))
      p
    }
    val indexed: Vector[(Index, RefSet)] = files.zipWithIndex.map { case (p, i) =>
      (Index.of(timeDim -> Pos(i)), RefSet.scanNetCDF3(p))
    }
    val ds = spark.createDataset(indexed)(Encoders.kryo[(Index, RefSet)])
      .repartition(4)
    val combined = CombineReferences.combine(ds, Vector("time"), Vector("lat", "lon"))
    val jsonPath = s"$dir/reference.json"
    CombineReferences.writeReferenceJson(combined, jsonPath)
    val loaded = RefSet.fromJson(Files.readString(java.nio.file.Paths.get(jsonPath)))
    val mat = s"$dir/materialized.zarr"
    loaded.materialize(mat)
    val result = ZarrGroup(mat).readFragment()
    assert(result.sameAs(cube))
    // record layout: one chunk key per record along time
    assert((0 until nt).forall(r => combined.refs.contains(s"foo/c/$r/0/0")))
  }

  /** One single-step zarr slab per time step of a `steps`-step golden
    * cube, scanned into references. */
  private def slabRefs(steps: Int): Vector[RefSet] = {
    val dir = tmp()
    GoldenCube.splitByTime(GoldenCube.makeDs(steps), 1).zipWithIndex
      .map { case (f, i) =>
        val p = s"$dir/slab_$i.zarr"
        val g = ZarrGroup(p)
        g.initGroup(f.attrs)
        f.allVars.foreach { case (n, v) =>
          g.createArray(n, v.shape, v.shape, v.dtype, v.attrs,
            dimensionNames = Some(v.dims))
          g.writeRegion(n, Vector.fill(v.data.ndim)(0), v.data)
        }
        RefSet.scanZarrGroup(p)
      }
  }

  private def positioned(sets: Vector[RefSet]) =
    sets.zipWithIndex.map { case (rs, i) => (Index.of(timeDim -> Pos(i)), rs) }

  test("combine over scrambled partitions equals the flat ordered concat") {
    // 23 single-step slabs, input order scrambled to prove positions, not
    // partitioning, carry the global order
    val sets = slabRefs(23)
    val ds = spark.createDataset(positioned(sets).reverse)(Encoders.kryo[(Index, RefSet)])
      .repartition(4)
    val combined = CombineReferences.combine(ds, Vector("time"), Vector("lat", "lon"))
    val flat = RefSet.concatRefSets(sets, "time", Vector("lat", "lon"))
    // Ref.inline is Array[Byte] (reference equality) — compare canonically
    assert(RefSet.toJson(combined) == RefSet.toJson(flat))
  }

  test("combine fails on repeated positions instead of concatenating twice") {
    // several sets under one Index (one per GRIB message of a file),
    // flattened: two sets at position 1 would add a step to the store
    val sets = slabRefs(3)
    val indexed = positioned(sets) :+ (Index.of(timeDim -> Pos(1)) -> sets(2))
    val ds = spark.createDataset(indexed)(Encoders.kryo[(Index, RefSet)]).repartition(2)
    val err = intercept[IllegalArgumentException] {
      CombineReferences.combine(ds, Vector("time"), Vector("lat", "lon"))
    }
    assert(err.getMessage.contains("2 reference sets share time position 1"), err.getMessage)
    assert(err.getMessage.contains("RefSet.mergeRefSets"), err.getMessage)
  }

  /** Run `body` in a fresh job group whose description is "caller" and
    * return (description, stage count) of every job it started, in order. */
  private def jobsOf(body: => Unit): Seq[(String, Int)] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"kerchunk-jobs-${java.util.UUID.randomUUID()}"
    val marker = s"$group-end"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, Int)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = e.properties
        jobs.add((p.getProperty("spark.jobGroup.id"),
          p.getProperty("spark.job.description"), e.stageInfos.size))
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "caller")
      try {
        body
        assert(sc.getLocalProperty("spark.job.description") == "caller")
      } finally sc.clearJobGroup()
      // the listener bus delivers events in order: once the marker job's
      // start is seen, every job `body` started has been seen too
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      import org.scalatest.concurrent.Eventually._
      import org.scalatest.time.SpanSugar._
      eventually(timeout(10.seconds)) {
        assert(jobs.asScala.exists(_._1 == marker))
      }
    } finally sc.removeSparkListener(listener)
    jobs.asScala.toSeq.collect { case (`group`, desc, stages) => (desc, stages) }
  }

  /** Four partitions without a shuffle of their own. */
  private def fourPartitions(sets: Vector[RefSet]) =
    spark.createDataset(spark.sparkContext.parallelize(positioned(sets), 4))(
      Encoders.kryo[(Index, RefSet)])

  test("writeCombinedReference to parquet runs 2 labelled jobs and no shuffle stage") {
    val sets = slabRefs(8)
    val pq = s"${tmp()}/refs.parquet"
    // jobsOf also checks the caller's description is restored afterwards
    val jobs = jobsOf {
      CombineReferences.writeCombinedReference(fourPartitions(sets), Vector("time"),
        Vector("lat", "lon"), pq)
    }
    // one stage per job: neither job has a shuffle map stage
    assert(jobs == Seq("writeCombinedReference: scan + combine" -> 1,
      "writeCombinedReference: write" -> 1), jobs)
    assert(CombineReferences.readReferenceParquet(spark, pq).keys ==
      RefSet.concatRefSets(sets, "time", Vector("lat", "lon")).keys)
  }

  test("concat re-keys chunk indexes along the concat axis") {
    val cube = GoldenCube.makeDs(4)
    val dir = tmp()
    val slabs = GoldenCube.splitByTime(cube, 2)
    val sets = slabs.zipWithIndex.map { case (f, i) =>
      val p = s"$dir/f$i.zarr"
      val g = ZarrGroup(p)
      g.initGroup(f.attrs)
      f.allVars.foreach { case (n, v) =>
        g.createArray(n, v.shape, v.shape, v.dtype, v.attrs,
          dimensionNames = Some(v.dims))
        g.writeRegion(n, Vector.fill(v.data.ndim)(0), v.data)
      }
      RefSet.scanZarrGroup(p)
    }
    val merged = RefSet.concatRefSets(sets, "time", Vector("lat", "lon"))
    assert(merged.keys.contains("foo/c/0/0/0"))
    assert(merged.keys.contains("foo/c/1/0/0")) // second slab re-keyed to axis idx 1
    assert(merged.keys.contains("time/c/0") && merged.keys.contains("time/c/1"))
    // lat is an identical dim: only the first input's chunk survives
    assert(merged.keys.count(_.startsWith("lat/c")) == 1)
  }

  test("openWithKerchunk pipeline stage dispatches per format like OPENER_MAP") {
    import graft.transforms.Pipelines
    import graft.patterns.{FilePattern, FileType}
    val cube = {
      val base = GoldenCube.makeDs(4)
      // classic format has no int64: narrow time/bar to the scanner lattice
      def narrow(v: Variable): Variable =
        if (v.dtype == DType.I8) v.copy(data = v.data.astype(DType.I4)) else v
      base.copy(coords = base.coords.map { case (n, v) => n -> narrow(v) },
        dataVars = base.dataVars.map { case (n, v) => n -> narrow(v) })
    }
    val dir = tmp()
    val paths = GoldenCube.splitByTime(cube, 2).zipWithIndex.map { case (f, i) =>
      val p = s"$dir/nc_$i.nc"
      graft.netcdf.NetCDF3.write(p, f)
      p
    }
    val pattern = FilePattern.fromFileSequence(paths, "time",
      nitemsPerFile = Some(2), fileType = FileType.Netcdf3)
    val scanned = Pipelines.openWithKerchunk(
      Pipelines.createItems(spark, pattern), FileType.Netcdf3).collect()
    assert(scanned.length == 2)
    // one RefSet per netcdf file, equal to the direct scanner's output
    assert(scanned.forall(_._2.length == 1))
    val gotKeySets = scanned.map(_._2.head.keys).toSet
    val directKeySets = paths.map(p => RefSet.scanNetCDF3(p).keys).toSet
    assert(gotKeySets == directKeySets)
    // no scanner for an opendap URL: kerchunk needs a random-access container
    val dap = FilePattern.fromFileSequence(Vector("http://x/ds"), "time",
      nitemsPerFile = Some(1), fileType = FileType.Opendap)
    val err = intercept[org.apache.spark.SparkException] {
      Pipelines.openWithKerchunk(
        Pipelines.createItems(spark, dap), FileType.Opendap).collect()
    }
    assert(err.getMessage.contains("no reference scanner")
      || Option(err.getCause).exists(_.getMessage.contains("no reference scanner")))
  }

  test("test_reference_grib mirror: CMC fixture -> refs -> v2 artifact -> open") {
    // the reference's GRIB pipeline (tests/test_end_to_end.py:219-262):
    // pattern | OpenWithKerchunk | WriteCombinedReference -> reference.json
    // -> open as zarr, assert GRIB_centre == "cwao" and the field values
    val fixture = "/root/reference/tests/data/" +
      "CMC_reg_DEPR_ISBL_10_ps10km_2022072000_P000.grib2"
    assume(Files.exists(java.nio.file.Paths.get(fixture)))
    val dir = tmp()
    val indexed: Vector[(Index, RefSet)] =
      RefSet.scanGrib2(fixture).zipWithIndex.map { case (rs, i) =>
        (Index.of(timeDim -> Pos(i)), rs)
      }
    val ds = spark.createDataset(indexed)(Encoders.kryo[(Index, RefSet)])
    val jsonPath = s"$dir/reference.json"
    CombineReferences.writeCombinedReference(ds, Vector("time"),
      identicalDims = Vector("latitude", "longitude"), jsonPath, v2Keys = true)
    val json = Files.readString(java.nio.file.Paths.get(jsonPath))
    // kerchunk-ecosystem surface: grib filter + v2 array docs
    assert(json.contains("""\"id\":\"grib\""""))
    assert(json.contains("DEPR/.zarray"))
    val back = RefSet.fromKerchunkV2Json(json)
    val virt = s"$dir/virt.zarr"
    back.materialize(virt)
    val f = ZarrGroup(virt).readFragment()
    assert(f.attrs("GRIB_centre") == AttrValue.AStr("cwao")) // the ref's assert
    val data = f.allVars("DEPR").data.data.asInstanceOf[Array[Double]]
    assert(data.count(!_.isNaN) == 750157)
    assert(data.filterNot(_.isNaN).forall(_ == 30.0))
    assert(f.coords("time").data.getLong(0) == 1658275200L)
    assert(f.coords("isobaricInhPa").data.getDouble(0) == 10.0)
  }

  test("kerchunk v2 artifact: zarr-v2 keys round-trip to an equal store") {
    // the fsspec/kerchunk-ecosystem artifact shape (writers.py:132-195):
    // .zgroup/.zattrs/.zarray docs, _ARRAY_DIMENSIONS, dot chunk keys,
    // numcodecs compressor/filters ids — from a shuffled+deflated HDF5 scan
    import graft.core._
    import graft.hdf5.HDF5Writer
    val dir = java.nio.file.Files.createTempDirectory("kerchunk_v2").toString
    val rng = new scala.util.Random(47)
    val f = Fragment(
      dims = Map("t" -> 6, "y" -> 4),
      coords = Map(
        "t" -> Variable(Vector("t"),
          NDArray(DType.I8, Vector(6), (0 until 6).map(_.toLong).toArray)),
        "y" -> Variable(Vector("y"),
          NDArray(DType.F8, Vector(4), (0 until 4).map(_ * 1.5).toArray))),
      dataVars = Map("v" -> Variable(Vector("t", "y"),
        NDArray(DType.F8, Vector(6, 4), Array.fill(24)(rng.nextDouble())),
        Map("long_name" -> AttrValue("vee")))),
      attrs = Map("title" -> AttrValue("v2 interop")))
    val nc = s"$dir/in.nc"
    HDF5Writer.write(nc, f, chunks = Map("v" -> Vector(2, 4)),
      deflateLevel = Some(4), shuffle = true)
    val rs = RefSet.scanHdf5(nc)
    val json = RefSet.toKerchunkV2Json(rs)
    // v2 surface present
    assert(json.contains("\".zgroup\"") && json.contains("v/.zarray"))
    assert(json.contains("_ARRAY_DIMENSIONS"))
    assert(json.contains("\"v/0.0\"") || json.contains("v/1.0"))
    // inner docs are compact JSON escaped inside the artifact strings
    assert(json.contains("""\"id\":\"zlib\""""))
    assert(json.contains("""\"id\":\"shuffle\""""))
    // round trip through the v2 artifact and materialize
    val back = RefSet.fromKerchunkV2Json(json)
    val virt = s"$dir/virt.zarr"
    back.materialize(virt)
    val got = graft.zarr.ZarrGroup(virt).readFragment()
    assert(got.sameAs(f))
    assert(got.attrs == f.attrs)
    assert(got.dataVars("v").attrs == f.dataVars("v").attrs)
  }

  test("parquet artifact routes v2 metadata docs and keeps root docs on pruned reads") {
    // a v2-keyed RefSet (the shape the zarr-v2 scan path produces):
    // root .zgroup/.zattrs, per-variable .zarray/.zattrs, dot chunk keys
    val dir = java.nio.file.Files.createTempDirectory("pq_v2").toString
    def doc(s: String): Ref = Ref.inline(s.getBytes("UTF-8"))
    val rs = RefSet(Map(
      ".zgroup" -> doc("""{"zarr_format":2}"""),
      ".zattrs" -> doc("""{"title":"t"}"""),
      "x/.zarray" -> doc("""{"shape":[2],"chunks":[2]}"""),
      "x/.zattrs" -> doc("""{"_ARRAY_DIMENSIONS":["x"]}"""),
      "x/0" -> Ref(Some("file:///data/a.bin"), 0L, 8L, None),
      "y/.zarray" -> doc("""{"shape":[2],"chunks":[2]}"""),
      "y/0" -> Ref(Some("file:///data/b.bin"), 8L, 8L, None)))
    val pq = s"$dir/refs.parquet"
    CombineReferences.writeReferenceParquet(spark, rs, pq)
    // every metadata doc (root AND per-variable v2 dot-docs) lives in
    // .zmetadata, never in the chunk records
    val zm = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(java.nio.file.Paths.get(s"$pq/.zmetadata")))
    val metaKeys = {
      val it = zm.get("metadata").fieldNames()
      val b = Set.newBuilder[String]; while (it.hasNext) b += it.next(); b.result()
    }
    assert(metaKeys ==
      Set(".zgroup", ".zattrs", "x/.zarray", "x/.zattrs", "y/.zarray"))
    val recordKeys = spark.read.parquet(pq)
      .select("key").collect().map(_.getString(0)).toSet
    assert(recordKeys == Set("x/0", "y/0"))
    // a component-pruned read keeps the root group docs — the pruned
    // RefSet must still be openable — and x's own docs, but drops y's
    val xOnly = CombineReferences.readReferenceParquet(spark, pq,
      components = Some(Set("x")))
    assert(xOnly.keys ==
      Set(".zgroup", ".zattrs", "x/.zarray", "x/.zattrs", "x/0"))
  }
}
