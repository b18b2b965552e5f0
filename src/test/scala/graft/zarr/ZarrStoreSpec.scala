package graft.zarr

import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.core.GoldenCube
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Writer tests at the chunk-key level — port of tests/test_writers.py:31-160
  * (which chunk files exist after each write, alignment errors, round-trip). */
class ZarrStoreSpec extends AnyFunSuite {

  private def tmp(): String =
    Files.createTempDirectory("zarr_spec").toString

  test("array metadata + full round-trip") {
    val g = ZarrGroup(tmp())
    g.initGroup(Map("conventions" -> AttrValue("CF 1.6")))
    val data = NDArray(DType.F8, Vector(4, 6), Array.tabulate(24)(_.toDouble))
    g.createArray("foo", Vector(4, 6), Vector(2, 3), DType.F8,
      Map("long_name" -> AttrValue("Fantastic Foo")),
      dimensionNames = Some(Vector("t", "x")))
    g.writeRegion("foo", Vector(0, 0), data)
    val back = g.readArray("foo")
    assert(back.sameElements(data))
    val meta = g.arrayMeta("foo")
    assert(meta.shape == Vector(4, 6) && meta.chunks == Vector(2, 3))
    assert(meta.dimensionNames == Vector("t", "x"))
    assert(meta.attrs("long_name") == AttrValue.AStr("Fantastic Foo"))
    assert(g.groupAttrs("conventions") == AttrValue.AStr("CF 1.6"))
  }

  test("chunk-key layout matches the v3 default encoding (c/<i>/<j>)") {
    val root = tmp()
    val g = ZarrGroup(root)
    g.initGroup(Attrs.empty)
    // time dim 10, chunks of 2 -> keys time/c/0..4 (test_writers.py:42-56)
    g.createArray("time", Vector(10), Vector(2), DType.I8,
      Attrs.empty, dimensionNames = Some(Vector("time")))
    g.writeRegion("time", Vector(0),
      NDArray(DType.I8, Vector(10), Array.tabulate(10)(_.toLong)))
    (0 to 4).foreach { i =>
      assert(Files.exists(java.nio.file.Paths.get(root, "time", "c", i.toString)),
        s"missing chunk time/c/$i")
    }
  }

  test("partial region writes only touch their chunks") {
    val root = tmp()
    val g = ZarrGroup(root)
    g.initGroup(Attrs.empty)
    g.createArray("v", Vector(10), Vector(2), DType.F8, Attrs.empty,
      dimensionNames = Some(Vector("t")))
    g.writeRegion("v", Vector(4),
      NDArray(DType.F8, Vector(2), Array(1.0, 2.0)))
    assert(!g.chunkExists("v", Vector(0)))
    assert(!g.chunkExists("v", Vector(1)))
    assert(g.chunkExists("v", Vector(2)))
    assert(!g.chunkExists("v", Vector(3)))
  }

  test("unaligned region write raises (writers.py:50-53)") {
    val g = ZarrGroup(tmp())
    g.initGroup(Attrs.empty)
    g.createArray("v", Vector(10), Vector(4), DType.F8, Attrs.empty)
    val e = intercept[IllegalArgumentException] {
      g.writeRegion("v", Vector(2), NDArray(DType.F8, Vector(4), new Array[Double](4)))
    }
    assert(e.getMessage.contains("does not align with Zarr chunks"))
  }

  test("remainder chunk at array edge") {
    val g = ZarrGroup(tmp())
    g.initGroup(Attrs.empty)
    g.createArray("v", Vector(10), Vector(4), DType.I4, Attrs.empty)
    val data = NDArray(DType.I4, Vector(10), Array.tabulate(10)(identity))
    g.writeRegion("v", Vector(0), data)
    assert(g.readArray("v").sameElements(data))
  }

  test("fragment round-trip incl coords/dims classification") {
    val cube = GoldenCube.makeDs(6)
    val g = ZarrGroup(tmp())
    g.initGroup(cube.attrs)
    cube.allVars.foreach { case (name, v) =>
      g.createArray(name, v.shape, v.shape, v.dtype, v.attrs,
        dimensionNames = Some(v.dims))
      g.writeRegion(name, Vector.fill(v.data.ndim)(0), v.data)
    }
    val back = g.readFragment()
    assert(back.coords.keySet == Set("time", "lat", "lon"))
    assert(back.dataVars.keySet == Set("foo", "bar"))
    assert(back.sameAs(cube))
  }

  test("gzip codec round-trips and shrinks compressible chunks") {
    val g = ZarrGroup(tmp())
    g.initGroup(Attrs.empty)
    // highly compressible data (constant runs)
    val data = NDArray(DType.F8, Vector(1000),
      Array.tabulate(1000)(i => (i / 100).toDouble))
    g.createArray("v", Vector(1000), Vector(500), DType.F8, Attrs.empty,
      dimensionNames = Some(Vector("x")), gzipLevel = Some(5))
    g.writeRegion("v", Vector(0), data)
    assert(g.arrayMeta("v").gzipLevel.contains(5))
    assert(g.readArray("v").sameElements(data))
    // compressed chunk is much smaller than the raw 4000 bytes
    val chunkSize = java.nio.file.Files.size(
      java.nio.file.Paths.get(g.root, "v", "c", "0"))
    assert(chunkSize < 500, s"chunk not compressed: $chunkSize bytes")
  }

  test("zstd codec round-trips, plain and sharded (blosc-zstd fixture analog)") {
    val dir = java.nio.file.Files.createTempDirectory("zarr_zstd").toString
    val g = ZarrGroup(dir)
    g.initGroup(Map.empty)
    val rng = new scala.util.Random(53)
    // compressible data: repeating ramp
    val data = Array.tabulate(4 * 30)(i => (i % 30).toDouble)
    g.createArray("a", Vector(4, 30), Vector(2, 30), DType.F8, Map.empty,
      zstdLevel = Some(3))
    g.writeRegion("a", Vector(0, 0), NDArray.ofDoubles(Vector(4, 30), data))
    assert(g.readArray("a").data.asInstanceOf[Array[Double]].sameElements(data))
    // compressed on disk
    val chunkBytes = java.nio.file.Files.size(
      java.nio.file.Paths.get(dir, "a", "c", "0", "0"))
    assert(chunkBytes < 2 * 30 * 8, s"chunk not compressed: $chunkBytes")
    // sharded + zstd inner codec via the meta doc path
    val noise = Array.fill(4 * 30)(rng.nextDouble())
    graft.zarr.StoreIO.forRoot(dir).write("b/zarr.json",
      ZarrStore.renderV3(ZarrStore.ArrayMeta(Vector(4, 30), Vector(2, 30),
        DType.F8, Map.empty, compressor = Some(ZarrStore.Compressor.Zstd(3)),
        shardShape = Some(Vector(4, 30)))))
    g.writeRegion("b", Vector(0, 0), NDArray.ofDoubles(Vector(4, 30), noise))
    assert(g.readArray("b").data.asInstanceOf[Array[Double]].sameElements(noise))
    assert(g.readRegion("b", Vector(1, 5), Vector(2, 10))
      .sameElements(NDArray.ofDoubles(Vector(4, 30), noise)
        .slice(Vector(Slc(1, 3), Slc(5, 15)))))
  }

  test("sharded array round-trips; one object per shard, inner chunks indexed") {
    val root = tmp()
    val g = ZarrGroup(root)
    g.initGroup(Attrs.empty)
    // 12x6 array, inner chunks 2x3, shards 4x6 => 3 shard objects, 4 inner
    // chunks per shard
    val data = NDArray(DType.F8, Vector(12, 6), Array.tabulate(72)(_.toDouble * 1.5))
    g.createArray("v", Vector(12, 6), Vector(2, 3), DType.F8, Attrs.empty,
      dimensionNames = Some(Vector("t", "x")), shardShape = Some(Vector(4, 6)))
    val meta = g.arrayMeta("v")
    assert(meta.chunks == Vector(2, 3) && meta.shardShape.contains(Vector(4, 6)))
    g.writeRegion("v", Vector(0, 0), data)
    // storage objects are addressed by SHARD index: c/0/0, c/1/0, c/2/0
    (0 to 2).foreach { i =>
      assert(Files.exists(java.nio.file.Paths.get(root, "v", "c", i.toString, "0")),
        s"missing shard v/c/$i/0")
    }
    assert(!Files.exists(java.nio.file.Paths.get(root, "v", "c", "3")))
    // shard payload = 4 inner chunks (2*3*8B) + index (4*16B + 4B crc)
    val shardSize = Files.size(java.nio.file.Paths.get(root, "v", "c", "0", "0"))
    assert(shardSize == 4 * 48 + 4 * 16 + 4, s"unexpected shard size $shardSize")
    assert(g.readArray("v").sameElements(data))
  }

  test("sharded + gzip round-trips; unaligned write (chunk but not shard) fails") {
    val g = ZarrGroup(tmp())
    g.initGroup(Attrs.empty)
    val data = NDArray(DType.I8, Vector(8), Array.tabulate(8)(_.toLong))
    g.createArray("v", Vector(8), Vector(2), DType.I8, Attrs.empty,
      dimensionNames = Some(Vector("t")), shardShape = Some(Vector(4)),
      gzipLevel = Some(4))
    g.writeRegion("v", Vector(0), data)
    assert(g.readArray("v").sameElements(data))
    // [2,4) aligns with inner chunks but not the 4-wide shard -> must throw
    val e = intercept[IllegalArgumentException] {
      g.writeRegion("v", Vector(2), NDArray(DType.I8, Vector(2), Array(9L, 9L)))
    }
    assert(e.getMessage.contains("align"))
  }

  test("shard of a ragged edge pads with fill and reads back exact") {
    val g = ZarrGroup(tmp())
    g.initGroup(Attrs.empty)
    // shape 10, chunks 2, shards 4 -> last shard covers [8,10): ragged
    val data = NDArray(DType.F4, Vector(10), Array.tabulate(10)(_.toFloat * 2f))
    g.createArray("v", Vector(10), Vector(2), DType.F4, Attrs.empty,
      dimensionNames = Some(Vector("t")), shardShape = Some(Vector(4)))
    g.writeRegion("v", Vector(0), data)
    assert(g.readArray("v").sameElements(data))
  }

  test("readRegion returns unaligned slabs, plain and sharded") {
    val g = ZarrGroup(tmp())
    g.initGroup(Attrs.empty)
    val data = NDArray(DType.F8, Vector(10, 6), Array.tabulate(60)(_.toDouble))
    g.createArray("plain", Vector(10, 6), Vector(4, 3), DType.F8, Attrs.empty,
      dimensionNames = Some(Vector("t", "x")))
    g.writeRegion("plain", Vector(0, 0), data)
    g.createArray("sharded", Vector(10, 6), Vector(2, 3), DType.F8, Attrs.empty,
      dimensionNames = Some(Vector("t", "x")), shardShape = Some(Vector(4, 6)))
    g.writeRegion("sharded", Vector(0, 0), data)
    Seq("plain", "sharded").foreach { name =>
      // region [3,8) x [1,5) crosses chunk AND shard boundaries
      val region = g.readRegion(name, Vector(3, 1), Vector(5, 4))
      val expected = data.slice(Vector(Slc(3, 8), Slc(1, 5)))
      assert(region.sameElements(expected), s"region mismatch for $name")
    }
  }

  test("sharded readRegion seeks via the index and skips unwanted chunk bytes") {
    val root = tmp()
    val g = ZarrGroup(root)
    g.initGroup(Attrs.empty)
    val data = NDArray(DType.I8, Vector(8), Array.tabulate(8)(_.toLong * 3))
    g.createArray("v", Vector(8), Vector(4), DType.I8, Attrs.empty,
      dimensionNames = Some(Vector("t")), shardShape = Some(Vector(8)),
      gzipLevel = Some(4))
    g.writeRegion("v", Vector(0), data)
    // corrupt inner chunk 0's byte range (index tail untouched): a reader
    // that only seeks to inner chunk 1 must not notice
    val shardPath = java.nio.file.Paths.get(root, "v", "c", "0")
    val raw = Files.readAllBytes(shardPath)
    val idx = java.nio.ByteBuffer.wrap(raw, raw.length - 36, 16)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val c0len = { idx.getLong; idx.getLong.toInt } // (offset, nbytes) of chunk 0
    java.util.Arrays.fill(raw, 0, c0len, 0x5a.toByte)
    Files.write(shardPath, raw)
    val region = g.readRegion("v", Vector(4), Vector(4))
    assert(region.sameElements(data.slice(Vector(Slc(4, 8)))))
    // a full read must hit the corruption (proves chunk 0 bytes are garbage)
    intercept[Exception] { g.readArray("v") }
  }

  test("consolidateDimensionCoordinates rewrites dim coords as one chunk") {
    val g = ZarrGroup(tmp())
    g.initGroup(Attrs.empty)
    g.createArray("time", Vector(10), Vector(2), DType.I8, Attrs.empty,
      dimensionNames = Some(Vector("time")))
    val data = NDArray(DType.I8, Vector(10), Array.tabulate(10)(_.toLong))
    g.writeRegion("time", Vector(0), data)
    g.consolidateDimensionCoordinates()
    assert(g.arrayMeta("time").chunks == Vector(10))
    assert(g.readArray("time").sameElements(data))
    assert(g.chunkExists("time", Vector(0)))
    assert(!g.chunkExists("time", Vector(4)))
  }

  test("consolidateDimensionCoordinates keeps codec, fill and byte order (zstd v3, blosc v2)") {
    Seq(3 -> ZarrStore.Compressor.Zstd(3),
        2 -> ZarrStore.Compressor.Blosc(Blosc.Params("lz4", 5, shuffle = true))
    ).foreach { case (format, codec) =>
      val root = tmp()
      val g = ZarrGroup(root, format)
      g.initGroup(Attrs.empty)
      g.createArray("time", ZarrStore.ArrayMeta(Vector(10), Vector(2), DType.I8,
        Map("units" -> AttrValue("days since 2000-01-01")), Some(Vector("time")),
        Some(codec), fillValue = AttrValue.AInt(-1), bigEndian = true))
      val data = NDArray(DType.I8, Vector(10), Array.tabulate(10)(_.toLong * 3))
      g.writeRegion("time", Vector(0), data)
      val before = g.arrayMeta("time")
      g.consolidateDimensionCoordinates()
      val reopened = ZarrGroup(root)
      assert(reopened.arrayMeta("time") == before.copy(chunks = Vector(10)), s"v$format")
      assert(reopened.readArray("time").sameElements(data), s"v$format")
    }
  }

  /** Write a 10-step float array, then let `edit` rewrite its zarr.json. */
  private def editedV3(edit: com.fasterxml.jackson.databind.node.ObjectNode => Unit,
                       shardShape: Option[Vector[Int]] = None): ZarrGroup = {
    val root = tmp()
    val g = ZarrGroup(root)
    g.initGroup(Attrs.empty)
    g.createArray("v", Vector(10), Vector(2), DType.F8, Attrs.empty,
      dimensionNames = Some(Vector("t")), shardShape = shardShape)
    g.writeRegion("v", Vector(0),
      NDArray(DType.F8, Vector(10), Array.tabulate(10)(_ + 1.0)))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val path = java.nio.file.Paths.get(root, "v", "zarr.json")
    val doc = mapper.readTree(path.toFile)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    edit(doc)
    Files.write(path, mapper.writeValueAsBytes(doc))
    ZarrGroup(root)
  }

  test("a '.'-separated chunk key encoding fails by name instead of reading fill") {
    // zarr-python's `separator: "."` layout: keys c.0, c.1, ... — read with
    // "/" keys every chunk looks missing and the array reads as zeros
    val g = editedV3(_.get("chunk_key_encoding").get("configuration")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      .put("separator", "."))
    val root = java.nio.file.Paths.get(g.root, "v")
    (0 until 5).foreach(i =>
      Files.move(root.resolve(s"c/$i"), root.resolve(s"c.$i")))
    val e = intercept[IllegalArgumentException](g.readArray("v"))
    assert(e.getMessage.contains("chunk_key_encoding"), e.getMessage)
    val e2 = intercept[IllegalArgumentException](editedV3(
      _.get("chunk_key_encoding").asInstanceOf[
        com.fasterxml.jackson.databind.node.ObjectNode].put("name", "v2"))
      .arrayMeta("v"))
    assert(e2.getMessage.contains("chunk_key_encoding"), e2.getMessage)
  }

  test("a codec outside the closed set fails by name instead of being skipped") {
    val g = editedV3(_.get("codecs")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
      .insertObject(0).put("name", "transpose")
      .putObject("configuration").putArray("order").add(0))
    val e = intercept[IllegalArgumentException](g.readArray("v"))
    assert(e.getMessage.contains("'transpose' is not supported"), e.getMessage)
  }

  test("a shard index other than bytes-little + crc32c at the end fails by name") {
    def shardCfg(doc: com.fasterxml.jackson.databind.node.ObjectNode) =
      doc.get("codecs").get(0).get("configuration")
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val edits: Seq[com.fasterxml.jackson.databind.node.ObjectNode => Unit] = Seq(
      d => shardCfg(d).put("index_location", "start"),
      d => shardCfg(d).get("index_codecs").get(0).get("configuration")
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        .put("endian", "big"),
      d => shardCfg(d).get("index_codecs")
        .asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode].remove(1))
    edits.foreach { edit =>
      val g = editedV3(edit, shardShape = Some(Vector(4)))
      val e = intercept[IllegalArgumentException](g.readArray("v"))
      assert(e.getMessage.contains("shard index"), e.getMessage)
    }
  }

  test("a zero-dimensional array reads back its one chunk, v3 and v2") {
    Seq(3, 2).foreach { format =>
      val root = tmp()
      val g = ZarrGroup(root, format)
      g.initGroup(Attrs.empty)
      g.createArray("crs", Vector(), Vector(), DType.I4, Attrs.empty,
        dimensionNames = Some(Vector()))
      val crs = NDArray(DType.I4, Vector(), Array(4326))
      g.writeRegion("crs", Vector(), crs)
      assert(g.readArray("crs").sameElements(crs), s"v$format readArray")
      assert(g.readRegion("crs", Vector(), Vector()).sameElements(crs), s"v$format readRegion")
      assert(ZarrGroup(root).readFragment().dataVars("crs").data.sameElements(crs),
        s"v$format readFragment")
    }
  }

  test("resize rewrites only the shape and keeps the codec chain") {
    val root = tmp()
    val g = ZarrGroup(root)
    g.initGroup(Attrs.empty)
    g.createArray("foo", Vector(4, 6), Vector(2, 3), DType.F8, Attrs.empty,
      dimensionNames = Some(Vector("t", "x")), zstdLevel = Some(3))
    val data = NDArray(DType.F8, Vector(4, 6), Array.tabulate(24)(_.toDouble))
    g.writeRegion("foo", Vector(0, 0), data)
    g.consolidateMetadata()
    val before = g.arrayMeta("foo")
    g.resize("foo", Vector(8, 6))
    assert(g.arrayMeta("foo") == before.copy(shape = Vector(8, 6)))
    assert(g.readRegion("foo", Vector(0, 0), Vector(4, 6)).sameElements(data))
    // the consolidated copy would now be stale, so it is gone
    val rootDoc = new String(Files.readAllBytes(java.nio.file.Paths.get(root, "zarr.json")))
    assert(!rootDoc.contains("consolidated_metadata"))
    intercept[IllegalArgumentException](g.resize("foo", Vector(8)))
  }

  test("a block that is exactly one object is encoded in place, not copied") {
    // every encoder reads its input: the block keeps its values, and the
    // object holds the same bytes as one written from a sliced copy
    def store(meta: ZarrStore.ArrayMeta, block: NDArray): Map[String, Seq[Byte]] = {
      val root = tmp()
      val g = ZarrGroup(root)
      g.initGroup(Attrs.empty)
      g.createArray("v", meta)
      g.writeRegion("v", Vector.fill(meta.shape.length)(0), block)
      val dir = java.nio.file.Paths.get(root)
      val files = Files.walk(dir.resolve("v"))
      try files.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => dir.relativize(f).toString -> Files.readAllBytes(f).toSeq).toMap
      finally files.close()
    }
    val doubles = Array.tabulate(8 * 6)(i => math.sin(i) * 100)
    val longs = Array.tabulate(8 * 6)(i => i.toLong * i)
    Seq(
      ZarrStore.ArrayMeta(Vector(8, 6), Vector(8, 6), DType.F8, Attrs.empty) -> doubles,
      ZarrStore.ArrayMeta(Vector(8, 6), Vector(8, 6), DType.F8, Attrs.empty,
        compressor = Some(ZarrStore.Compressor.Zstd(3)), shuffleElem = Some(8)) -> doubles,
      ZarrStore.ArrayMeta(Vector(8, 6), Vector(8, 6), DType.F8, Attrs.empty,
        numFilter = Some(ZarrStore.QuantizeParams(2, "<f8", "<f8"))) -> doubles,
      ZarrStore.ArrayMeta(Vector(8, 6), Vector(8, 6), DType.I8, Attrs.empty,
        numFilter = Some(ZarrStore.DeltaParams("<i8", "<i8"))) -> longs,
      ZarrStore.ArrayMeta(Vector(8, 6), Vector(2, 3), DType.F8, Attrs.empty,
        shardShape = Some(Vector(8, 6))) -> doubles
    ).foreach { case (meta, values) =>
      val block = NDArray(meta.dtype, meta.shape, values)
      val whole = meta.shape.map(Slc(0, _))
      val (copy, before) = (block.slice(whole), block.slice(whole))
      assert(store(meta, block) == store(meta, copy), meta)
      assert(block.sameElements(before), meta)
    }
    // the write allocates the encoded object, not a second copy of the block
    val big = NDArray.ofDoubles(Vector(256, 1024), Array.tabulate(256 * 1024)(_.toDouble))
    val g = ZarrGroup(tmp())
    g.initGroup(Attrs.empty)
    Seq("warm", "v").foreach(g.createArray(_, big.shape, big.shape, DType.F8, Attrs.empty))
    g.writeRegion("warm", Vector(0, 0), big)
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val allocated0 = threads.getCurrentThreadAllocatedBytes
    g.writeRegion("v", Vector(0, 0), big)
    val allocated = threads.getCurrentThreadAllocatedBytes - allocated0
    val blockBytes = big.size * 8L
    assert(allocated < blockBytes * 3 / 2, s"$allocated bytes allocated for a $blockBytes-byte block")
  }

  test("PosixIO publishes an object only when its write completes") {
    val root = tmp()
    val io = new PosixIO(root)
    io.write("a/k", Array[Byte](1, 2, 3))
    val out = io.openWrite("a/k")
    out.write(Array[Byte](9, 9, 9, 9))
    out.flush()
    // readers keep seeing the old object while the write is open
    assert(io.read("a/k").toSeq == Seq[Byte](1, 2, 3))
    out.close()
    assert(io.read("a/k").toSeq == Seq[Byte](9, 9, 9, 9))
    io.write("a/k", Array[Byte](5))
    assert(io.read("a/k").toSeq == Seq[Byte](5))
    val listing = Files.list(java.nio.file.Paths.get(root, "a"))
    try assert(listing.iterator().asScala.map(_.getFileName.toString).toVector == Vector("k"))
    finally listing.close()
  }
}
