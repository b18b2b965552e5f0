package graft.zarr

import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.kerchunk.RefSet
import java.nio.file.{Files, Paths}

/** Native zarr v2 WRITE mode (ZarrGroup(root, format = 2)): the store the
  * reference's users get out of zarr-python 2.x / xarray `to_zarr`. Layout
  * bytes are asserted against the v2 spec, and every round trip is read
  * back through TWO independent paths — the native auto-detected group and
  * the kerchunk v2 scanner (RefSet.scanZarrV2Group), which shares no
  * metadata-parsing code with the writer's ArrayMeta path. */
class ZarrV2WriteSpec extends AnyFunSuite {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def tmp(): String =
    Files.createTempDirectory("zarr_v2_write").toString

  private def doc(root: String, key: String) =
    mapper.readTree(Files.readAllBytes(Paths.get(root, key.split('/'): _*)))

  private def makeCube(nt: Int): Fragment = {
    val rng = new scala.util.Random(11)
    val nx = 5
    Fragment(
      dims = Map("time" -> nt, "x" -> nx),
      coords = Map(
        "time" -> Variable(Vector("time"),
          NDArray(DType.I8, Vector(nt), Array.tabulate(nt)(_.toLong * 60)),
          Map("units" -> AttrValue("seconds since 2020-01-01"))),
        "x" -> Variable(Vector("x"),
          NDArray(DType.F8, Vector(nx), Array.tabulate(nx)(_ * 0.25)))),
      dataVars = Map("v" -> Variable(Vector("time", "x"),
        NDArray(DType.F8, Vector(nt, nx),
          Array.fill(nt * nx)(rng.nextDouble())),
        Map("long_name" -> AttrValue("vee")))),
      attrs = Map("title" -> AttrValue("v2 write")))
  }

  private def writeCube(root: String, cube: Fragment,
                        blosc: Option[Blosc.Params] = None,
                        gzip: Option[Int] = None,
                        zstd: Option[Int] = None): ZarrGroup = {
    val g = ZarrGroup(root, 2)
    g.initGroup(cube.attrs)
    cube.allVars.foreach { case (name, v) =>
      val chunks = if (v.dims.head == "time" && v.shape.head >= 2)
        2 +: v.shape.tail else v.shape
      g.createArray(name, v.shape, chunks, v.dtype, v.attrs,
        dimensionNames = Some(v.dims),
        gzipLevel = if (name == "v") gzip else None,
        zstdLevel = if (name == "v") zstd else None,
        blosc = if (name == "v") blosc else None)
      g.writeRegion(name, Vector.fill(v.data.ndim)(0), v.data)
    }
    g
  }

  test("on-disk layout matches the zarr v2 spec byte conventions") {
    val root = tmp()
    writeCube(root, makeCube(6), blosc = Some(Blosc.Params("lz4", 5, shuffle = true)))
    assert(doc(root, ".zgroup").get("zarr_format").asInt() == 2)
    assert(doc(root, ".zattrs").get("title").asText() == "v2 write")
    val za = doc(root, "v/.zarray")
    assert(za.get("zarr_format").asInt() == 2)
    assert(za.get("dtype").asText() == "<f8")
    assert(za.get("order").asText() == "C")
    assert(za.get("dimension_separator").asText() == ".")
    assert(za.get("filters").isNull)
    assert(za.get("compressor").get("id").asText() == "blosc")
    assert(za.get("compressor").get("shuffle").asInt() == 1)
    val zat = doc(root, "v/.zattrs")
    assert(zat.get("_ARRAY_DIMENSIONS").get(0).asText() == "time")
    assert(zat.get("long_name").asText() == "vee")
    // "."-separated chunk ordinals, no v3 "c" prefix anywhere
    assert(Files.exists(Paths.get(root, "v", "0.0")))
    assert(Files.exists(Paths.get(root, "v", "2.0")))
    assert(!Files.exists(Paths.get(root, "v", "c")))
    assert(Files.exists(Paths.get(root, "time", "0")))
  }

  test("round trip through both independent v2 readers, per codec") {
    val cube = makeCube(6)
    for ((label, b, gz, zs) <- Seq(
        ("raw", None, None, None),
        ("blosc", Some(Blosc.Params("lz4", 5, shuffle = true)), None, None),
        ("blosc-bitshuffle",
          Some(Blosc.Params("lz4", 5, shuffle = false, bitShuffle = true)),
          None, None),
        ("gzip", None, Some(5), None),
        ("zstd", None, None, Some(3)))) {
      val root = tmp()
      writeCube(root, cube, blosc = b, gzip = gz, zstd = zs)
      val native = ZarrGroup(root).readFragment() // fresh instance: detect
      assert(native.sameAs(cube), s"native read, codec=$label")
      val scanned = RefSet.scanZarrV2Group(root).asZarrGroup(root).readFragment()
      assert(scanned.sameAs(cube), s"scanner read, codec=$label")
    }
  }

  test("NaN fill value is spelled 'NaN' and read back as a double") {
    val root = tmp()
    val g = ZarrGroup(root, 2)
    g.initGroup(Attrs.empty)
    g.createArray("v", Vector(4), Vector(2), DType.F8, Attrs.empty,
      fillValue = AttrValue.ANum(Double.NaN),
      dimensionNames = Some(Vector("v")))
    assert(doc(root, "v/.zarray").get("fill_value").asText() == "NaN")
    val fill = ZarrGroup(root).arrayMeta("v").fillValue
    assert(fill match {
      case AttrValue.ANum(d) => d.isNaN
      case _ => false
    })
  }

  test("consolidated .zmetadata is written and IS the metadata source") {
    val root = tmp()
    val cube = makeCube(4)
    val g = writeCube(root, cube)
    g.consolidateMetadata()
    val zm = doc(root, ".zmetadata")
    assert(zm.get("zarr_consolidated_format").asInt() == 1)
    val keys = {
      val it = zm.get("metadata").fieldNames()
      val b = Vector.newBuilder[String]
      while (it.hasNext) b += it.next()
      b.result().toSet
    }
    assert(keys.contains(".zgroup") && keys.contains(".zattrs"))
    assert(keys.contains("v/.zarray") && keys.contains("v/.zattrs"))
    // poison the per-array doc: a consolidated reader must not touch it
    Files.write(Paths.get(root, "v", ".zarray"), "POISONED".getBytes)
    assert(ZarrGroup(root).readFragment().sameAs(cube))
    // metadata writes strip the stale .zmetadata so nobody serves it
    val g2 = ZarrGroup(root)
    g2.createArray("w", Vector(4), Vector(4), DType.I4, Attrs.empty,
      dimensionNames = Some(Vector("time")))
    assert(!Files.exists(Paths.get(root, ".zmetadata")))
  }

  test("shuffle filter doc round-trips through the native meta parser") {
    val root = tmp()
    val g = ZarrGroup(root, 2)
    g.initGroup(Attrs.empty)
    // createArray doesn't emit filters; hand-write the doc the way h5py-
    // converted stores carry it, then exercise write+read through ArrayMeta
    Files.createDirectories(Paths.get(root, "v"))
    val (zarray, zattrs) = ZarrStore.renderV2(ZarrStore.ArrayMeta(Vector(4),
      Vector(2), DType.I8, Attrs.empty, Some(Vector("v")),
      Some(ZarrStore.Compressor.Zlib(6)), shuffleElem = Some(8)))
    Files.write(Paths.get(root, "v", ".zarray"), ZarrStore.pretty(zarray))
    Files.write(Paths.get(root, "v", ".zattrs"), ZarrStore.pretty(zattrs))
    val data = NDArray(DType.I8, Vector(4), Array(1L, -2L, 3L, -4L))
    g.writeRegion("v", Vector(0), data)
    assert(ZarrGroup(root).readArray("v").sameElements(data))
    val m = ZarrGroup(root).arrayMeta("v")
    assert(m.shuffleElem.contains(8) && m.zlibLevel.contains(6))
    // and the independent scanner agrees on the bytes
    val viaScan = RefSet.scanZarrV2Group(root).asZarrGroup(root).readArray("v")
    assert(viaScan.sameElements(data))
  }

  test("v2 rejects sharding and '/'-separated chunk keys") {
    val root = tmp()
    val g = ZarrGroup(root, 2)
    g.initGroup(Attrs.empty)
    val e = intercept[IllegalArgumentException] {
      g.createArray("v", Vector(8), Vector(2), DType.F8, Attrs.empty,
        shardShape = Some(Vector(4)))
    }
    assert(e.getMessage.contains("sharding"))
    Files.createDirectories(Paths.get(root, "w"))
    Files.write(Paths.get(root, "w", ".zarray"),
      ("""{"zarr_format": 2, "shape": [2], "chunks": [2], "dtype": "<f8",""" +
        """ "order": "C", "fill_value": 0, "compressor": null,""" +
        """ "filters": null, "dimension_separator": "/"}""").getBytes)
    val e2 = intercept[IllegalArgumentException] {
      ZarrGroup(root).arrayMeta("w")
    }
    assert(e2.getMessage.contains("chunk keys"))
  }

  test("v2 write over a file:// URI routes through the Hadoop transport") {
    // "file://" puts HadoopIO (the object-store deployment transport) in
    // the path for every byte: v2 doc writes, chunk puts, and the
    // v2-aware arrayDirs listing (.zarray detection)
    val cube = makeCube(4)
    val dir = tmp()
    val uri = s"file://$dir/store_v2.zarr"
    writeCube(uri, cube)
    val g = ZarrGroup(uri) // fresh instance: auto-detect over Hadoop FS
    assert(g.arrayNames == Vector("time", "v", "x"))
    assert(g.readFragment().sameAs(cube))
    g.consolidateMetadata()
    assert(Files.exists(Paths.get(dir, "store_v2.zarr", ".zmetadata")))
    assert(ZarrGroup(uri).readFragment().sameAs(cube))
  }

  test("consolidateDimensionCoordinates rewrites v2 coords as one chunk") {
    val root = tmp()
    val cube = makeCube(6) // time chunked (2): ordinals time/0..2
    writeCube(root, cube)
    assert(Files.exists(Paths.get(root, "time", "1")))
    val g = ZarrGroup(root)
    g.consolidateDimensionCoordinates()
    assert(g.arrayMeta("time").chunks == Vector(6))
    assert(Files.exists(Paths.get(root, "time", "0")))
    assert(!Files.exists(Paths.get(root, "time", "1")))
    assert(!Files.exists(Paths.get(root, "time", "2")))
    assert(ZarrGroup(root).readFragment().sameAs(cube))
  }
}
