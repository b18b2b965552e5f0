package graft.netcdf

import graft.core._
import graft.kerchunk.RefSet
import graft.zarr.ZarrGroup
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** Pure-JVM NetCDF3 classic codec: writer/reader round-trips over both
  * layouts and both offset variants, full-type decode from a hand-crafted
  * file, and the header-only kerchunk scan (reference:
  * tests/test_end_to_end.py:37-60 round-trip shape; openers.py:156-181
  * scanner routing). */
class NetCDF3Spec extends AnyFunSuite {

  private def tmp(suffix: String): String =
    Files.createTempDirectory("nc3spec").resolve(s"f$suffix.nc").toString

  /** NetCDF-classic-representable golden cube (no int64). */
  private def cube(nt: Int): Fragment = {
    val NY = 5; val NX = 7
    val rng = new scala.util.Random(11)
    Fragment(
      dims = Map("time" -> nt, "lat" -> NY, "lon" -> NX),
      coords = Map(
        "time" -> Variable(Vector("time"),
          NDArray(DType.I4, Vector(nt), (0 until nt).toArray),
          Map("units" -> AttrValue("days since 2010-01-01"))),
        "lat" -> Variable(Vector("lat"),
          NDArray(DType.F8, Vector(NY), (0 until NY).map(_ * 1.5).toArray)),
        "lon" -> Variable(Vector("lon"),
          NDArray(DType.F4, Vector(NX), (0 until NX).map(_ * 2.0f).toArray))),
      dataVars = Map(
        "foo" -> Variable(Vector("time", "lat", "lon"),
          NDArray(DType.F8, Vector(nt, NY, NX), Array.fill(nt * NY * NX)(rng.nextDouble())),
          Map("long_name" -> AttrValue("Fantastic Foo"),
            "scale" -> AttrValue(2.5),
            "counts" -> AttrValue.AList(Vector(AttrValue.AInt(1), AttrValue.AInt(2))))),
        "bar" -> Variable(Vector("time", "lat", "lon"),
          NDArray(DType.I4, Vector(nt, NY, NX), Array.fill(nt * NY * NX)(rng.nextInt(100))))),
      attrs = Map("conventions" -> AttrValue("CF 1.6"),
        "version" -> AttrValue(42L)))
  }

  test("fixed-layout round-trip (CDF-1) preserves dims, values, attrs") {
    val f = cube(4)
    val p = tmp("fixed")
    NetCDF3.write(p, f)
    val back = NetCDF3.read(p)
    assert(back.sameAs(f))
    assert(back.attrs("conventions") == AttrValue.AStr("CF 1.6"))
    assert(back.attrs("version") == AttrValue.AInt(42))
    assert(back.dataVars("foo").attrs("scale") == AttrValue.ANum(2.5))
    assert(back.dataVars("foo").attrs("counts") ==
      AttrValue.AList(Vector(AttrValue.AInt(1), AttrValue.AInt(2))))
    assert(back.coords("time").attrs("units") ==
      AttrValue.AStr("days since 2010-01-01"))
  }

  test("record-layout round-trip: unlimited time interleaves per record") {
    val f = cube(6)
    val p = tmp("rec")
    NetCDF3.write(p, f, recordDim = Some("time"))
    val hdr = NetCDF3.readHeader(p)
    assert(hdr.numrecs == 6)
    assert(hdr.dims.find(_.name == "time").get.length == 0) // record dim marker
    assert(hdr.recordVars.map(_.name).sorted == Vector("bar", "foo", "time"))
    assert(NetCDF3.read(p).sameAs(f))
  }

  test("CDF-2 (64-bit offset) round-trip in both layouts") {
    val f = cube(3)
    val p1 = tmp("v2fixed"); val p2 = tmp("v2rec")
    NetCDF3.write(p1, f, version = 2)
    NetCDF3.write(p2, f, recordDim = Some("time"), version = 2)
    assert(NetCDF3.readHeader(p1).version == 2)
    assert(NetCDF3.read(p1).sameAs(f))
    assert(NetCDF3.read(p2).sameAs(f))
  }

  test("single record variable packs without inter-record padding") {
    // one record var of odd slab size (3 int16-free: use 1 float -> 4B ok);
    // craft 3 lat so slab = 3*4 = 12 (already 4-aligned) — instead use a
    // byte-level check: recsize equals the unpadded slab for the only recvar
    val f = Fragment(
      dims = Map("t" -> 4, "x" -> 3),
      coords = Map("t" -> Variable(Vector("t"),
        NDArray(DType.I4, Vector(4), Array(0, 1, 2, 3)))),
      dataVars = Map("v" -> Variable(Vector("t", "x"),
        NDArray(DType.F4, Vector(4, 3), (0 until 12).map(_.toFloat).toArray))))
    val p = tmp("onerec")
    // only v carries t? no — t coord also has dim t, so TWO record vars if t
    // is unlimited. Make t fixed-by-coordinate: record dim must lead, and t
    // is a record var too; that's the plural case. Force the singular case
    // by dropping the coord.
    val single = f.copy(coords = Map.empty, dims = f.dims)
    NetCDF3.write(p, single, recordDim = Some("t"))
    val hdr = NetCDF3.readHeader(p)
    assert(hdr.recordVars.length == 1)
    assert(hdr.recsize == 12) // unpadded 3*4 bytes
    assert(NetCDF3.read(p).dataVars("v").data.sameElements(
      single.dataVars("v").data))
  }

  test("hand-crafted file: byte/short/char variables keep external widths") {
    // build a classic file by hand: dims x=3; vars b:byte, s:short, c:char
    val bos = new java.io.ByteArrayOutputStream()
    def be(i: Int): Unit = {
      val b = ByteBuffer.allocate(4).order(ByteOrder.BIG_ENDIAN)
      b.putInt(i); bos.write(b.array())
    }
    def name(s: String): Unit = {
      be(s.length); bos.write(s.getBytes("UTF-8"))
      (s.length until ((s.length + 3) / 4) * 4).foreach(_ => bos.write(0))
    }
    bos.write(Array[Byte]('C', 'D', 'F', 1))
    be(0) // numrecs
    be(0x0A); be(1); name("x"); be(3) // dim x=3
    be(0); be(0) // no gatts
    be(0x0B); be(3) // three vars
    // header size: magic4+numrecs4+dimlist(8+8+4)+gatts8+varlist8 + 3 vars
    // each var: name(8 for 1-char) + ndims4 + dimid4 + atts8 + type4 + vsize4 + begin4 = 36
    val hdrSize = 4 + 4 + 20 + 8 + 8 + 3 * 36
    var begin = hdrSize
    // var b: NC_BYTE, vsize pad4(3)=4
    name("b"); be(1); be(0); be(0); be(0); be(NetCDF3.NcByte); be(4); be(begin)
    val beginB = begin; begin += 4
    name("s"); be(1); be(0); be(0); be(0); be(NetCDF3.NcShort); be(8); be(begin)
    val beginS = begin; begin += 8
    name("c"); be(1); be(0); be(0); be(0); be(NetCDF3.NcChar); be(4); be(begin)
    val beginC = begin
    // data: b = [-1, 2, 3] pad; s = [-300, 500, 7] pad; c = "hi!" pad
    bos.write(Array[Byte](-1, 2, 3, 0))
    val sb = ByteBuffer.allocate(8).order(ByteOrder.BIG_ENDIAN)
    sb.putShort((-300).toShort); sb.putShort(500.toShort); sb.putShort(7.toShort)
    bos.write(sb.array())
    bos.write("hi!".getBytes("UTF-8")); bos.write(0)
    val p = tmp("crafted")
    Files.write(java.nio.file.Paths.get(p), bos.toByteArray)
    assert(beginB == hdrSize && beginS == hdrSize + 4 && beginC == hdrSize + 12)

    val back = NetCDF3.read(p)
    assert(back.dataVars("b").dtype == DType.I1)
    assert(back.dataVars("b").data.data.asInstanceOf[Array[Byte]].toSeq ==
      Seq[Byte](-1, 2, 3))
    assert(back.dataVars("s").dtype == DType.I2)
    assert(back.dataVars("s").data.data.asInstanceOf[Array[Short]].toSeq ==
      Seq[Short](-300, 500, 7))
    assert(back.dataVars("c").dtype == DType.U1) // char codes read unsigned
    assert(back.dataVars("c").data.data.asInstanceOf[Array[Byte]].toSeq ==
      "hi!".getBytes("UTF-8").toSeq)
  }

  test("CDF-4 (nonexistent variant) is rejected by name") {
    val p = tmp("cdf4")
    Files.write(java.nio.file.Paths.get(p),
      Array[Byte]('C', 'D', 'F', 4) ++ new Array[Byte](16))
    val e = intercept[IllegalArgumentException](NetCDF3.readHeader(p))
    assert(e.getMessage.contains("CDF-1/CDF-2/CDF-5"))
  }

  test("int64 variables are rejected in CDF-1/2 with a clear message") {
    val f = Fragment(Map("x" -> 2), Map.empty,
      Map("v" -> Variable(Vector("x"), NDArray(DType.I8, Vector(2), Array(1L, 2L)))))
    val e = intercept[IllegalArgumentException](NetCDF3.write(tmp("i64"), f))
    assert(e.getMessage.contains("64-bit"))
  }

  // ------------------------------------------------------------ CDF-5 (r14)

  /** A cube exercising every CDF-5-only external type alongside the
    * classic ones: int64 time (the classic pain point CDF-5 exists to
    * fix), uint8/uint16/uint32/uint64 data vars. */
  private def cube5(nt: Int): Fragment = {
    val NY = 4
    Fragment(
      dims = Map("time" -> nt, "y" -> NY),
      coords = Map(
        "time" -> Variable(Vector("time"),
          NDArray(DType.I8, Vector(nt),
            (0 until nt).map(i => 4000000000L + i * 86400L).toArray),
          Map("units" -> AttrValue("seconds since 1970-01-01"))),
        "y" -> Variable(Vector("y"),
          NDArray(DType.F8, Vector(NY), (0 until NY).map(_ * 0.5).toArray))),
      dataVars = Map(
        "u1v" -> Variable(Vector("time", "y"),
          NDArray(DType.U1, Vector(nt, NY),
            Array.tabulate(nt * NY)(i => (i * 37 % 256).toByte))),
        "u2v" -> Variable(Vector("time", "y"),
          NDArray(DType.U2, Vector(nt, NY),
            Array.tabulate(nt * NY)(i => (i * 7919 % 65536).toShort))),
        "u4v" -> Variable(Vector("time", "y"),
          NDArray(DType.U4, Vector(nt, NY),
            Array.tabulate(nt * NY)(i => (i.toLong * 123456789L % (1L << 32)).toInt))),
        "u8v" -> Variable(Vector("time", "y"),
          NDArray(DType.U8, Vector(nt, NY),
            Array.tabulate(nt * NY)(i => Long.MaxValue - i * 1000L))),
        "i8v" -> Variable(Vector("time", "y"),
          NDArray(DType.I8, Vector(nt, NY),
            Array.tabulate(nt * NY)(i => -5000000000L + i * 1234567L)))),
      attrs = Map("title" -> AttrValue("cdf5 cube")))
  }

  test("CDF-5 round-trips: 64-bit sizes, widened dimids, all five new types, both layouts") {
    val f = cube5(6)
    for ((rd, tag) <- Seq((None, "fixed"), (Some("time"), "rec"))) {
      val p = tmp(s"cdf5_$tag")
      NetCDF3.write(p, f, recordDim = rd, version = 5)
      // the magic byte really is 5
      val head = Files.readAllBytes(java.nio.file.Paths.get(p)).take(4)
      assert(head.sameElements(Array[Byte]('C', 'D', 'F', 5)))
      val hdr = NetCDF3.readHeader(p)
      assert(hdr.version == 5)
      assert(hdr.vars.find(_.name == "i8v").get.ncType == NetCDF3.NcInt64)
      assert(hdr.vars.find(_.name == "u8v").get.ncType == NetCDF3.NcUInt64)
      assert(hdr.vars.find(_.name == "u1v").get.ncType == NetCDF3.NcUByte)
      val back = NetCDF3.read(p)
      assert(back.sameAs(f), s"$tag layout")
      // unsigned dtypes survive width-for-width WITH signedness
      assert(back.dataVars("u8v").dtype == DType.U8)
      assert(back.dataVars("u4v").dtype == DType.U4)
      assert(back.coords("time").dtype == DType.I8)
    }
  }

  test("CDF-5 kerchunk scan round-trips through the zarr materialization") {
    val f = cube5(4)
    val p = tmp("cdf5scan")
    NetCDF3.write(p, f, recordDim = Some("time"), version = 5)
    val rs = RefSet.scanNetCDF3(p)
    val dir = Files.createTempDirectory("nc5virt").toString
    rs.materialize(dir)
    val back = ZarrGroup(dir).readFragment()
    assert(back.sameAs(f))
  }

  test("CDF-5-only types inside a CDF-1 header fail by name") {
    // hand-patch a CDF-1 file's nc_type field to NC_INT64
    val f = cube(2)
    val p = tmp("cdf1bad")
    NetCDF3.write(p, f)
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(p))
    // find the 4-byte big-endian nc_type of 'bar' (NC_INT = 4): locate
    // the name then the type field follows rank+dimids+atts — simpler:
    // flip the first NC_DOUBLE (6) type tag to 10 (int64)
    var i = 0; var done = false
    while (!done && i + 4 <= bytes.length) {
      if (bytes(i) == 0 && bytes(i + 1) == 0 && bytes(i + 2) == 0 &&
          bytes(i + 3) == 6 && i > 40) {
        bytes(i + 3) = 10; done = true
      } else i += 1
    }
    assert(done, "no NC_DOUBLE tag found to corrupt")
    Files.write(java.nio.file.Paths.get(p), bytes)
    val e = intercept[Exception](NetCDF3.read(p))
    // either the legality gate or a downstream bound names the corruption
    assert(e.getMessage != null)
  }

  test("kerchunk scan: header-only refs materialize to an equal zarr read") {
    val f = cube(4)
    val pFixed = tmp("scanF"); val pRec = tmp("scanR")
    NetCDF3.write(pFixed, f)
    NetCDF3.write(pRec, f, recordDim = Some("time"))
    for (p <- Seq(pFixed, pRec)) {
      val rs = RefSet.scanNetCDF3(p)
      // record layout: one chunk ref per record for the 3-D vars
      val dir = Files.createTempDirectory("nc3virt").toString
      rs.materialize(dir)
      val back = ZarrGroup(dir).readFragment()
      assert(back.sameAs(f), s"scan of $p did not round-trip")
      val meta = ZarrGroup(dir).arrayMeta("foo")
      assert(meta.bigEndian, "scanned refs must declare big-endian bytes")
      if (p == pRec) assert(meta.chunks == Vector(1, 5, 7))
      else assert(meta.chunks == Vector(4, 5, 7))
    }
  }

  test("scan pointers reference in-place byte ranges, not copies") {
    val f = cube(4)
    val p = tmp("ranges")
    NetCDF3.write(p, f, recordDim = Some("time"))
    val rs = RefSet.scanNetCDF3(p, inlineThreshold = 0)
    val fooRefs = rs.refs.filter(_._1.startsWith("foo/c/"))
    assert(fooRefs.size == 4)
    assert(fooRefs.values.forall(r => r.inline.isEmpty && r.url.contains(p)))
    // resolve one record's range directly and compare to the source slab
    val r1 = rs("foo/c/1/0/0").resolve()
    val want = f.dataVars("foo").isel(Map("time" -> Slc(1, 2))).data
    val bb = ByteBuffer.wrap(r1).order(ByteOrder.BIG_ENDIAN)
    val got = new Array[Double](want.size)
    bb.asDoubleBuffer().get(got)
    assert(got.toSeq == want.data.asInstanceOf[Array[Double]].toSeq)
  }

  test("open reads only the header: the schema survives the file, the data does not") {
    Seq(None, Some("time")).foreach { recordDim => // fixed and record layout
      val f = cube(4)
      val p = tmp("lazy")
      NetCDF3.write(p, f, recordDim = recordDim)
      val opened = graft.transforms.Openers.open(graft.patterns.FileType.Netcdf3, p)
      Files.delete(java.nio.file.Paths.get(p))
      val schema = CubeSchema.fromFragment(opened)
      assert(schema.dataVars("foo").shape == Vector(4, 5, 7))
      assert(schema.dataVars("bar").dtype == DType.I4)
      val e = intercept[java.nio.file.NoSuchFileException](opened.dataVars("foo").data.data)
      assert(e.getMessage.contains(java.nio.file.Paths.get(p).getFileName.toString), e.getMessage)
    }
  }

  test("a begin past the end of the file fails at open, by name") {
    val f = cube(2)
    val p = tmp("begin")
    NetCDF3.write(p, f)
    val hdr = NetCDF3.readHeader(p)
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(p))
    // move foo's data to the last bytes of the file: its rows now run past the end
    val foo = hdr.vars.find(_.name == "foo").get
    // its var entry ends (nc_type NC_DOUBLE, vsize, begin)
    val bb = ByteBuffer.wrap(bytes)
    val entry = (0 until foo.begin.toInt - 12).filter(i => bb.getInt(i) == NetCDF3.NcDouble &&
      bb.getInt(i + 4) == 2 * 5 * 7 * 8 && bb.getInt(i + 8) == foo.begin.toInt)
    assert(entry.size == 1)
    bb.putInt(entry.head + 8, bytes.length - 8)
    Files.write(java.nio.file.Paths.get(p), bytes)
    val e = intercept[IllegalArgumentException](NetCDF3.read(p))
    assert(e.getMessage.contains("variable foo spans bytes"), e.getMessage)
  }
}
