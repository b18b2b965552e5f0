package graft.core

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import graft.netcdf.NetCDF3
import graft.hdf5.{HDF5, HDF5Writer}

/** Corruption sweep over the binary readers: flip bytes across the header
  * region of valid fixtures and require every failure to be a DIAGNOSABLE
  * error — never a crash-class one. The properties this pins:
  *
  *   - no NegativeArraySizeException (a negative length field reached an
  *     allocation unguarded);
  *   - no OutOfMemoryError (a corrupt length field amplified a few bytes
  *     into a multi-GB allocation — the million-file-pass killer);
  *   - no NullPointerException / StackOverflowError.
  *
  * Bounded failures (named requires, EOF/IO errors, buffer underflows,
  * index errors on already-bounded buffers) are acceptable: a corrupt
  * object must fail fast and diagnosably, not destabilize the executor.
  */
class CorruptionSweepSpec extends AnyFunSuite {

  private def tmpDir = Files.createTempDirectory("graft_corrupt").toString

  private val Forbidden: Set[Class[_]] = Set(
    classOf[NegativeArraySizeException],
    classOf[OutOfMemoryError],
    classOf[StackOverflowError],
    classOf[NullPointerException])

  /** Run `read` over every single-byte corruption of positions
    * [0, sweepLen) × values, plus a strided sample of the remaining file
    * (deeper structures: chunk B-trees, heaps, data planes); fail on any
    * forbidden throwable class. */
  private def sweep(orig: Array[Byte], sweepLen: Int,
                    read: Array[Byte] => Unit): (Int, Int) = {
    val values = Array(0x00.toByte, 0xFF.toByte, 0x7F.toByte)
    val dense = math.min(sweepLen, orig.length)
    val positions = (0 until dense) ++ (dense until orig.length by 13)
    var ok = 0; var failed = 0
    val it = positions.iterator
    while (it.hasNext) {
      val pos = it.next()
      var vi = 0
      while (vi < values.length) {
        if (orig(pos) != values(vi)) {
          val mutated = orig.clone()
          mutated(pos) = values(vi)
          try { read(mutated); ok += 1 }
          catch {
            case t: Throwable =>
              if (Forbidden.contains(t.getClass)) t.printStackTrace()
              assert(!Forbidden.contains(t.getClass),
                s"byte $pos := 0x${"%02X".format(values(vi))} escaped as " +
                  s"${t.getClass.getSimpleName}: ${t.getMessage}")
              failed += 1
          }
        }
        vi += 1
      }
    }
    (ok, failed)
  }

  /** NetCDF3.read returns file-backed arrays, so load every one: the sweep
    * covers the data plane too, while the mutated file is in place. */
  private def readAll(path: String): Unit =
    NetCDF3.read(path).allVars.valuesIterator.foreach(_.data.data)

  private def smallCube(): Fragment = {
    val nt = 3; val ny = 4; val nx = 5
    Fragment(
      dims = Map("time" -> nt, "lat" -> ny, "lon" -> nx),
      coords = Map(
        "time" -> Variable(Vector("time"),
          NDArray(DType.I4, Vector(nt), (0 until nt).toArray), Map.empty),
        "lat" -> Variable(Vector("lat"),
          NDArray(DType.F8, Vector(ny), (0 until ny).map(_ * 1.5).toArray)),
        "lon" -> Variable(Vector("lon"),
          NDArray(DType.F4, Vector(nx), (0 until nx).map(_ * 2.0f).toArray))),
      dataVars = Map(
        "foo" -> Variable(Vector("time", "lat", "lon"),
          NDArray(DType.F8, Vector(nt, ny, nx),
            Array.tabulate(nt * ny * nx)(_ * 0.25)),
          Map("long_name" -> AttrValue("Fantastic Foo")))),
      attrs = Map("conventions" -> AttrValue("CF 1.6")))
  }

  test("netcdf3: single-byte header corruption never crashes, only fails by name") {
    val dir = tmpDir
    val p = s"$dir/clean.nc"
    NetCDF3.write(p, smallCube())
    val orig = Files.readAllBytes(Paths.get(p))
    val target = s"$dir/mut.nc"
    // the whole header of this small file is within the first 400 bytes;
    // sweeping into the data region also proves data-plane tolerance
    val (ok, failed) = sweep(orig, 400, { bytes =>
      Files.write(Paths.get(target), bytes)
      readAll(target)
    })
    info(s"netcdf3 sweep: $ok corruptions read, $failed failed diagnosably")
    assert(failed > 0, "no corruption failed — the sweep is vacuous")
  }

  test("netcdf CDF-5: single-byte header corruption never crashes, only fails by name") {
    // the 64-bit-size header variant (r14): widened numrecs/counts/name
    // lengths/dimids/vsize/begin fields plus the five new external types
    val dir = tmpDir
    val p = s"$dir/clean5.nc"
    val base = smallCube()
    val f = base.copy(dataVars = base.dataVars +
      ("big" -> graft.core.Variable(base.dataVars.head._2.dims,
        NDArray(DType.I8, base.dataVars.head._2.shape,
          Array.tabulate(base.dataVars.head._2.data.size)(i =>
            5000000000L + i)),
        Map.empty)))
    NetCDF3.write(p, f, version = 5)
    val orig = Files.readAllBytes(Paths.get(p))
    val target = s"$dir/mut5.nc"
    val (ok, failed) = sweep(orig, 500, { bytes =>
      Files.write(Paths.get(target), bytes)
      readAll(target)
    })
    info(s"netcdf cdf5 sweep: $ok corruptions read, $failed failed diagnosably")
    assert(failed > 0, "no corruption failed — the sweep is vacuous")
  }

  test("hdf5: single-byte header corruption never crashes, only fails by name") {
    val dir = tmpDir
    val p = s"$dir/clean.h5"
    val f = smallCube()
    HDF5Writer.write(p, f, chunks = Map("foo" -> Vector(2, 2, 3)),
      deflateLevel = Some(2))
    val orig = Files.readAllBytes(Paths.get(p))
    val target = s"$dir/mut.h5"
    val (ok, failed) = sweep(orig, 600, { bytes =>
      Files.write(Paths.get(target), bytes)
      HDF5.read(target)
    })
    info(s"hdf5 sweep: $ok corruptions read, $failed failed diagnosably")
    assert(failed > 0, "no corruption failed — the sweep is vacuous")
  }

  test("hdf5 scale-offset + nbit: packed-chunk corruption never crashes, only fails by name") {
    // the r13 surface: 21-byte scale-offset chunk headers (minbits /
    // minval fields feed allocations and bit loops), nbit precision/
    // offset cd_values, the MSB-first bitstream bounds
    val dir = tmpDir
    val f0 = smallCube()
    val f = f0.copy(dataVars = Map("foo" -> graft.core.Variable(
      Vector("time", "lat", "lon"),
      graft.core.NDArray(graft.core.DType.I4, Vector(3, 4, 5),
        Array.tabulate(60)(i => i * 7 - 100)))))
    for ((name, so, nb) <- Seq(("soff", true, None), ("nbit", false, Some(11)))) {
      val p = s"$dir/$name.h5"
      HDF5Writer.write(p, f, chunks = Map("foo" -> Vector(2, 2, 3)),
        scaleOffset = so, nbitPrecision = nb)
      val orig = Files.readAllBytes(Paths.get(p))
      val target = s"$dir/${name}_mut.h5"
      val (ok, failed) = sweep(orig, orig.length, { bytes =>
        Files.write(Paths.get(target), bytes)
        HDF5.read(target)
      })
      info(s"$name sweep: $ok corruptions read, $failed failed diagnosably")
      assert(failed > 0, s"$name: no corruption failed — the sweep is vacuous")
    }
  }

  test("hdf5 DENSE links: fractal-heap/btree corruption never crashes, only fails by name") {
    // the round-9 structures: FRHP header, FHDB direct blocks, FHIB
    // indirect root, BTHD/BTIN/BTLF name index — all new parser surface.
    // Force libhdf5's real multi-block + depth-1 geometry so the sweep
    // reaches every walk, then flip bytes across the WHOLE file densely
    // enough to hit the dense-group structures (they sit near the front,
    // after the superblock/root header).
    val dir = tmpDir
    val p = s"$dir/dense.h5"
    val f = smallCube()
    HDF5Writer.write(p, f, denseRootLinks = true,
      denseStartBlockSize = 128L, denseBtNodeSize = 40)
    val orig = Files.readAllBytes(Paths.get(p))
    val target = s"$dir/mut.h5"
    val (ok, failed) = sweep(orig, 1400, { bytes =>
      Files.write(Paths.get(target), bytes)
      HDF5.read(target)
    })
    info(s"hdf5 dense sweep: $ok corruptions read, $failed failed diagnosably")
    assert(failed > 0, "no corruption failed — the sweep is vacuous")
  }

  test("hdf5 DENSE attributes: heap/type-8-index corruption never crashes, only fails by name") {
    // the round-10 structures: the per-object attribute fractal heap and
    // the type-8 v2 btree name index. Give foo >8 attrs so the dense
    // path is real, then flip bytes across the whole file
    val dir = tmpDir
    val p = s"$dir/dense_attr.h5"
    val base = smallCube()
    val manyAttrs = (1 to 10).map(i => f"attr$i%02d" -> AttrValue(i.toLong)).toMap
    val f = base.copy(dataVars = base.dataVars.updatedWith("foo")(
      _.map(v => v.copy(attrs = v.attrs ++ manyAttrs))))
    HDF5Writer.write(p, f, denseAttrObjects = Set("foo"))
    val orig = Files.readAllBytes(Paths.get(p))
    val target = s"$dir/mut.h5"
    val (ok, failed) = sweep(orig, 1400, { bytes =>
      Files.write(Paths.get(target), bytes)
      HDF5.read(target)
    })
    info(s"hdf5 dense-attr sweep: $ok corruptions read, $failed failed diagnosably")
    assert(failed > 0, "no corruption failed — the sweep is vacuous")
  }

  test("hdf5 v4 layout (fixed-array chunk index): corruption only fails by name") {
    // the libhdf5-1.10+ chunk index surface (r14): v4 layout message
    // with variable-width dims, FAHD/FADB structures (PAGED via tiny
    // page bits), lookup3 checksums, filtered (client-1) entries —
    // plus (r15) bar through an EXTENSIBLE-ARRAY index with secondary
    // blocks and paged data blocks in the same sweep
    val dir = tmpDir
    val p = s"$dir/v4.h5"
    HDF5Writer.write(p, smallCube(),
      chunks = Map("foo" -> Vector(2, 5, 4), "bar" -> Vector(1, 5, 4)),
      deflateLevel = Some(4),
      chunkIndexV4 = Map("foo" -> 3, "bar" -> 4), faPageBits = 1,
      eaParams = HDF5Writer.EaParams(maxBits = 16, idxBlkElmts = 1,
        minPtrs = 2, minElmts = 2, pageBits = 1))
    val orig = Files.readAllBytes(Paths.get(p))
    val target = s"$dir/mut4.h5"
    val (ok, failed) = sweep(orig, orig.length, { bytes =>
      Files.write(Paths.get(target), bytes)
      HDF5.read(target)
    })
    info(s"hdf5 v4-layout sweep: $ok corruptions read, $failed failed diagnosably")
    assert(failed > 0, "no corruption failed — the sweep is vacuous")
  }

  test("hdf5 float D-scale scale-offset: corruption never crashes, only fails by name") {
    val dir = tmpDir
    val p = s"$dir/dscale.h5"
    val n = 40
    val f = Fragment(
      dims = Map("n" -> n),
      coords = Map("n" -> Variable(Vector("n"),
        NDArray(DType.I4, Vector(n), (0 until n).toArray))),
      dataVars = Map("temp" -> Variable(Vector("n"),
        NDArray(DType.F8, Vector(n),
          Array.tabulate(n)(i => (i * 37 % 500) / 100.0)))),
      attrs = Map.empty)
    HDF5Writer.write(p, f, chunks = Map("temp" -> Vector(16)),
      scaleOffsetFloatD = Some(2))
    val orig = Files.readAllBytes(Paths.get(p))
    val target = s"$dir/mut.h5"
    val (ok, failed) = sweep(orig, orig.length, { bytes =>
      Files.write(Paths.get(target), bytes)
      HDF5.read(target)
    })
    info(s"hdf5 D-scale sweep: $ok corruptions read, $failed failed diagnosably")
    assert(failed > 0, "no corruption failed — the sweep is vacuous")
  }

  test("hdf5 enum/compound/array datatypes: corruption never crashes, only fails by name") {
    // the r14 datatype surface in one file: an enum-over-i1 variable
    // (chunked+deflate), a 3-member mixed-width compound dataset and an
    // array-datatype variable — swept through the full read() path
    // (datatype message parse incl. nested base types, member striding,
    // trailing-dim expansion)
    val dir = tmpDir
    val p = s"$dir/exotic.h5"
    val n = 8
    val f = Fragment(
      dims = Map("n" -> n, "k" -> 3),
      coords = Map("n" -> Variable(Vector("n"),
        NDArray(DType.I4, Vector(n), (0 until n).toArray))),
      dataVars = Map(
        "flag" -> Variable(Vector("n"),
          NDArray(DType.I1, Vector(n), Array.tabulate(n)(i => (i % 4).toByte))),
        "s" -> Variable(Vector("n"),
          NDArray(DType.I8, Vector(n), Array.tabulate(n)(_ * 100L))),
        "w" -> Variable(Vector("n"),
          NDArray(DType.F8, Vector(n), Array.tabulate(n)(_ * 0.5))),
        "vec" -> Variable(Vector("n", "k"),
          NDArray(DType.F4, Vector(n, 3), Array.tabulate(n * 3)(_ * 1.5f)))),
      attrs = Map.empty)
    HDF5Writer.write(p, f,
      chunks = Map("flag" -> Vector(4)), deflateLevel = Some(4),
      enumVars = Map("flag" -> Vector("a" -> 0L, "b" -> 1L, "c" -> 2L, "d" -> 3L)),
      compoundVars = Map("tbl" -> Vector("s", "w")),
      arrayVarDims = Map("vec" -> 1))
    val orig = Files.readAllBytes(Paths.get(p))
    val target = s"$dir/mut.h5"
    val (ok, failed) = sweep(orig, orig.length, { bytes =>
      Files.write(Paths.get(target), bytes)
      HDF5.read(target)
    })
    info(s"hdf5 exotic-datatype sweep: $ok corruptions read, $failed failed diagnosably")
    assert(failed > 0, "no corruption failed — the sweep is vacuous")
  }

  test("jpeg: marker/huffman/entropy corruption never crashes, only fails by name") {
    // baseline JPEG with restart markers: marker walk, DQT/DHT/SOF/SOS
    // parsing, canonical Huffman decode, byte unstuffing, RST handling,
    // IDCT — all r10 parser surface
    val orig = graft.queries.Jpeg.encodeGrayDcOnly(32, 24,
      b => (b * 37 + 11) % 256, restartInterval = 2)
    val (ok, failed) = sweep(orig, orig.length, { bytes =>
      graft.queries.Jpeg.decode(bytes)
    })
    info(s"jpeg sweep: $ok corruptions read, $failed failed diagnosably")
    assert(failed > 0, "no corruption failed — the sweep is vacuous")
  }

  test("mp3 frame index: corruption never crashes, only fails by name") {
    // ID3v2 prefix + VBR frame walk + ID3v1 trailer + Xing header (r15):
    // mutations of the header's frame/byte totals must fail by name via
    // the walk cross-check, never mislead
    val orig = graft.queries.Mp3.encode(20, mpeg1 = true, srIdx = 0,
      k => 1 + (k % 3), id3v2Size = 17, id3v1 = true, vbrTag = "xing")
    val (ok, failed) = sweep(orig, orig.length, { bytes =>
      graft.queries.Mp3.index(bytes)
    })
    info(s"mp3 sweep: $ok corruptions read, $failed failed diagnosably")
    assert(failed > 0, "no corruption failed — the sweep is vacuous")
  }

  test("4:2:2 color jpeg: interleaved-MCU corruption never crashes, only fails by name") {
    // three components, luma 2x1, two luma blocks per MCU, JFIF APP0,
    // restart markers — the r14 chroma-sampling surface
    val orig = graft.queries.Jpeg.encodeColor422DcOnly(32, 16,
      b => (b * 37 + 11) % 256, cb = 140, cr = 112, restartInterval = 2)
    val (ok, failed) = sweep(orig, orig.length, { bytes =>
      graft.queries.Jpeg.decode(bytes)
    })
    info(s"4:2:2 jpeg sweep: $ok corruptions read, $failed failed diagnosably")
    assert(failed > 0, "no corruption failed — the sweep is vacuous")
  }

  test("progressive jpeg: multi-scan/SOF2 corruption never crashes, only fails by name") {
    // three scans (DC first Al=1, DC refinement, AC band) + restart
    // markers inside every scan: the Annex-G surface — successive-
    // approximation fields, EOB runs, per-scan SOS headers, the
    // coefficient-store allocation bound
    val orig = graft.queries.Jpeg.encodeGrayDcOnlyProgressive(32, 24,
      b => (b * 37 + 11) % 256, restartInterval = 2)
    val (ok, failed) = sweep(orig, orig.length, { bytes =>
      graft.queries.Jpeg.decode(bytes)
    })
    info(s"progressive jpeg sweep: $ok corruptions read, $failed failed diagnosably")
    assert(failed > 0, "no corruption failed — the sweep is vacuous")
  }

  test("grib2: single-byte corruption never crashes, only fails by name") {
    val dir = tmpDir
    val p = s"$dir/clean.grib2"
    val nx = 9; val ny = 7
    graft.grib.Grib2.writeComplex(p,
      Array.tabulate(nx * ny)(i => (i % 13).toDouble), nx, ny,
      la1 = 40.0, lo1 = 250.0, dLat = 0.5, dLon = 0.5,
      discipline = 0, category = 0, number = 0,
      refTimeEpochSec = 1600000000L)
    val orig = Files.readAllBytes(Paths.get(p))
    val target = s"$dir/mut.grib2"
    val (ok, failed) = sweep(orig, orig.length, { bytes =>
      Files.write(Paths.get(target), bytes)
      val msgs = graft.grib.Grib2.scan(target)
      msgs.foreach(m => graft.grib.Grib2.decodeValues(target, m))
    })
    info(s"grib2 sweep: $ok corruptions read, $failed failed diagnosably")
    assert(failed > 0, "no corruption failed — the sweep is vacuous")
  }

  test("grib2 ensemble (4.1) + mercator (3.10) multi-grid: corruption only fails by name") {
    // the r14 surface in one file: a 4.1 ensemble message on a lat-lon
    // grid concatenated with a 3.10 Mercator message — swept through the
    // FULL read() path (multi-grid grouping, primary selection, member
    // naming, Mercator inverse projection)
    val dir = tmpDir
    val pa = s"$dir/ens.grib2"; val pb = s"$dir/merc.grib2"
    graft.grib.Grib2.writeSimple(pa,
      Array.tabulate(40)(i => (i % 7).toDouble), 8, 5,
      la1 = 30.0, lo1 = 10.0, dLat = 0.5, dLon = 0.5,
      discipline = 0, category = 0, number = 0,
      refTimeEpochSec = 1600000000L, ensemble = Some((3, 9, 30)))
    graft.grib.Grib2.writeMercator(pb,
      Array.tabulate(24)(i => 15.0 + (i % 5)), 6, 4,
      la1 = 5.0, lo1 = 100.0, laD = 10.0, la2 = 6.0, lo2 = 101.5,
      dx = 20000.0, dy = 20000.0, discipline = 10, category = 3,
      number = 0, refTimeEpochSec = 1600000000L)
    // a SOUTH-polar-stereographic derived-ensemble-adjacent message
    // (r14b) rides along, covering the signed-coordinate and south-
    // aspect paths in the same sweep
    val pc = s"$dir/sps.grib2"
    graft.grib.Grib2.writePolarStereo(pc,
      Array.tabulate(24)(i => (i % 5).toDouble), 6, 4,
      la1 = -65.0, lo1 = 300.0, laD = -60.0, loV = 10.0,
      dx = 25000.0, dy = 25000.0, discipline = 0, category = 3,
      number = 0, refTimeEpochSec = 1600000000L, southPole = true)
    // r15 riders: a rotated lat-lon (3.1) message, a percentile (4.6)
    // message and a spectral (3.50 + 5.50) message join the sweep —
    // every new parse/projection path fails by name under mutation
    val pd = s"$dir/rot.grib2"
    graft.grib.Grib2.writeRotated(pd,
      Array.tabulate(20)(i => (i % 6).toDouble), 5, 4,
      la1 = -2.0, lo1 = -3.0, dLat = 1.0, dLon = 1.0,
      spLat = -40.0, spLon = 10.0, discipline = 0, category = 0,
      number = 0, refTimeEpochSec = 1600000000L)
    val pe = s"$dir/pct.grib2"
    graft.grib.Grib2.writePercentile(pe,
      Array.tabulate(20)(i => 270.0 + i), 5, 4,
      la1 = 30.0, lo1 = 260.0, dLat = 0.5, dLon = 0.5,
      discipline = 0, category = 0, number = 0,
      refTimeEpochSec = 1600000000L, percentile = 75)
    val pf = s"$dir/sh.grib2"
    graft.grib.Grib2.writeSpectral(pf,
      Array.tabulate(30)(i => math.cos(i * 0.7) * 3.0), 4,
      discipline = 0, category = 2, number = 12,
      refTimeEpochSec = 1600000000L)
    // and a statistical-interval (4.8) message so the tail parse —
    // timestamp validity, time-range count — is in the sweep too
    val pg = s"$dir/acc.grib2"
    graft.grib.Grib2.writeInterval(pg,
      Array.tabulate(20)(i => (i % 4).toDouble), 5, 4,
      la1 = 40.0, lo1 = 0.0, dLat = 0.5, dLon = 0.5,
      discipline = 0, category = 1, number = 8,
      refTimeEpochSec = 1600000000L, statProcess = 1, rangeHours = 6)
    // and a space-view (3.90) full-disk message with off-disk bitmap
    // NaNs — the perspective parse + disc test under mutation
    val ph = s"$dir/disk.grib2"
    graft.grib.Grib2.writeSpaceView(ph,
      Array.tabulate(49) { k =>
        val (i, j) = (k % 7, k / 7)
        if ((i - 3) * (i - 3) + (j - 3) * (j - 3) <= 9) (k % 5).toDouble
        else Double.NaN
      }, 7, 7, lop = 140.7, nr = 6.6187, dx = 6, dy = 6,
      xp = 3.0, yp = 3.0, discipline = 3, category = 0, number = 0,
      refTimeEpochSec = 1600000000L)
    val orig = Files.readAllBytes(Paths.get(pa)) ++
      Files.readAllBytes(Paths.get(pb)) ++
      Files.readAllBytes(Paths.get(pc)) ++
      Files.readAllBytes(Paths.get(pd)) ++
      Files.readAllBytes(Paths.get(pe)) ++
      Files.readAllBytes(Paths.get(pf)) ++
      Files.readAllBytes(Paths.get(pg)) ++
      Files.readAllBytes(Paths.get(ph))
    val target = s"$dir/mut.grib2"
    val (ok, failed) = sweep(orig, orig.length, { bytes =>
      Files.write(Paths.get(target), bytes)
      graft.grib.Grib2.readGroups(target)
    })
    info(s"grib2 ens+mercator+south+rot+pct+sh sweep: $ok corruptions read, $failed failed diagnosably")
    assert(failed > 0, "no corruption failed — the sweep is vacuous")
  }

  test("grib2 jpeg2000 (5.40): corruption never crashes, only fails by name") {
    // exercises the full J2K decode surface through the GRIB section walk:
    // marker parse, packet headers, tag trees, MQ/EBCOT passes, 5/3 DWT
    val dir = tmpDir
    val p = s"$dir/clean40.grib2"
    val nx = 17; val ny = 11
    graft.grib.Grib2.writeJpeg2000(p,
      Array.tabulate(nx * ny)(i =>
        if (i % 9 == 4) Double.NaN else ((i * 29) % 211).toDouble), nx, ny,
      la1 = 40.0, lo1 = 250.0, dLat = 0.5, dLon = 0.5,
      discipline = 0, category = 0, number = 0,
      refTimeEpochSec = 1600000000L, cblkExp = 3)
    val orig = Files.readAllBytes(Paths.get(p))
    val target = s"$dir/mut40.grib2"
    val (ok, failed) = sweep(orig, orig.length, { bytes =>
      Files.write(Paths.get(target), bytes)
      val msgs = graft.grib.Grib2.scan(target)
      msgs.foreach(m => graft.grib.Grib2.decodeValues(target, m))
    })
    info(s"grib2 j2k sweep: $ok corruptions read, $failed failed diagnosably")
    assert(failed > 0, "no corruption failed — the sweep is vacuous")
  }

  test("grib2: a corrupt grid size fails against the message before any allocation") {
    // byte 72 of the ensemble sweep's first message lies in Nj: at 0xFF the
    // grid passes the 2^27-point ceiling, so latLonArrays and decode would
    // size their arrays from it unless the message's own counts bound it
    val dir = tmpDir
    val pa = s"$dir/ens.grib2"
    graft.grib.Grib2.writeSimple(pa,
      Array.tabulate(40)(i => (i % 7).toDouble), 8, 5,
      la1 = 30.0, lo1 = 10.0, dLat = 0.5, dLon = 0.5,
      discipline = 0, category = 0, number = 0,
      refTimeEpochSec = 1600000000L, ensemble = Some((3, 9, 30)))
    val bytes = Files.readAllBytes(Paths.get(pa))
    bytes(72) = 0xFF.toByte
    Files.write(Paths.get(pa), bytes)
    val e = intercept[IllegalArgumentException](graft.grib.Grib2.readGroups(pa))
    assert(e.getMessage.contains("but section 3 declares 40"), e.getMessage)
  }

  /** Zarr stores are directories (JSON metadata + chunk objects), so the
    * sweep runs per store file: every byte of every metadata document and
    * a strided sample of every chunk payload, for BOTH formats (v3
    * zarr.json layout; v2 .zarray/.zattrs/.zmetadata layout). A corrupt
    * metadata doc must fail by name (Jackson parse error, named require,
    * unknown-dtype error) — never an NPE from a missing JSON field
    * reaching `.asInt`-style access unguarded. */
  private def zarrSweep(format: Int): Unit = {
    val dir = tmpDir
    val clean = s"$dir/clean.zarr"; val target = s"$dir/mut.zarr"
    val g = graft.zarr.ZarrGroup(clean, format)
    g.initGroup(Map("title" -> AttrValue("sweep fixture")))
    g.createArray("foo", Vector(4, 6), Vector(2, 3), DType.F8,
      Map("units" -> AttrValue("K")), gzipLevel = Some(2),
      dimensionNames = Some(Vector("y", "x")))
    g.writeRegion("foo", Vector(0, 0),
      NDArray(DType.F8, Vector(4, 6), Array.tabulate(24)(_ * 0.5)))
    g.consolidateMetadata()
    val cleanDir = Paths.get(clean)
    // copy the store ONCE; each iteration rewrites only the swept file
    val fileList = new scala.collection.mutable.ArrayBuffer[java.nio.file.Path]
    Files.walk(cleanDir).forEach { src =>
      val dst = Paths.get(target).resolve(cleanDir.relativize(src))
      if (Files.isDirectory(src)) Files.createDirectories(dst)
      else {
        Files.createDirectories(dst.getParent)
        Files.copy(src, dst)
        fileList += cleanDir.relativize(src)
      }
    }
    var totalOk = 0; var totalFailed = 0
    fileList.foreach { rel =>
      val orig = Files.readAllBytes(cleanDir.resolve(rel))
      val mutPath = Paths.get(target).resolve(rel)
      // metadata docs are small: sweep densely; chunk payloads strided
      val name = rel.getFileName.toString
      val dense = if (name.endsWith(".json") || name.startsWith(".z"))
        orig.length else 0
      val (ok, failed) = sweep(orig, dense, { bytes =>
        Files.write(mutPath, bytes)
        val back = graft.zarr.ZarrGroup(target)
        back.readArray("foo")
        back.groupAttrs
      })
      Files.write(mutPath, orig) // restore before sweeping the next file
      totalOk += ok; totalFailed += failed
    }
    info(s"zarr v$format sweep: $totalOk corruptions read, $totalFailed failed diagnosably")
    assert(totalFailed > 0, "no corruption failed — the sweep is vacuous")
  }

  test("zarr v3: metadata and chunk corruption never crashes, only fails by name") {
    zarrSweep(3)
  }

  test("zarr v2: metadata and chunk corruption never crashes, only fails by name") {
    zarrSweep(2)
  }

  test("ppm: header corruption never crashes (parser allocates nothing from parsed dims)") {
    val orig = graft.queries.MultiModalOps.ppmBytes(7L)
    val (ok, failed) = sweep(orig, orig.length, { bytes =>
      graft.queries.MultiModalOps.decodePpm(bytes)
    })
    info(s"ppm sweep: $ok parsed, $failed failed diagnosably")
    assert(failed > 0, "no corruption failed — the sweep is vacuous")
  }

  test("wav: RIFF chunk-size corruption never loops or mass-allocates") {
    // the payload-column parser behind m05/m07/Media.decodeWav — chunk
    // sizes are payload-supplied, so a negative size must not spin the
    // chunk walk and a huge size must not allocate before the bound check
    val orig = graft.queries.MultiModalOps.vadBytes(7L)
    val (ok, failed) = sweep(orig, orig.length, { bytes =>
      graft.queries.MultiModalOps.wavSamples(bytes)
    })
    info(s"wav sweep: $ok parsed, $failed failed diagnosably")
    assert(failed > 0, "no corruption failed — the sweep is vacuous")
    // targeted probes for the two amplification vectors the bound kills:
    // negative chunk size (stuck walk) and size far past the file end
    for (sz <- Seq(-8, -9, Int.MaxValue, 0x7F000000)) {
      val mutated = orig.clone()
      java.nio.ByteBuffer.wrap(mutated)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(40, sz)
      val e = intercept[IllegalArgumentException](
        graft.queries.MultiModalOps.wavSamples(mutated))
      assert(e.getMessage.contains("corrupt RIFF chunk"), e.getMessage)
    }
  }

  test("avi: container corruption never loops, recurses, or mass-allocates") {
    // the m10/Media.aviIndex parser: sizes, offsets and counts are all
    // payload-supplied (RIFF size, nested LIST sizes, idx1 entry count,
    // idx1 offsets) — each must be bounded before use, and the nested
    // hdrl/strl/movi walks must advance monotonically under corruption
    val orig = graft.queries.MultiModalOps.aviBytes(7L)
    val (ok, failed) = sweep(orig, orig.length, { bytes =>
      graft.queries.MultiModalOps.aviIndexOf(bytes)
    })
    info(s"avi sweep: $ok parsed, $failed failed diagnosably")
    assert(failed > 0, "no corruption failed — the sweep is vacuous")
    // targeted probes: negative / huge sizes at the RIFF header, the
    // hdrl LIST, and the idx1 offset field — the loop/alloc vectors
    for ((at, sz) <- Seq((4, -16), (4, Int.MaxValue), (16, -9),
        (16, 0x7F000000), (orig.length - 8, Int.MinValue))) {
      val mut = orig.clone()
      java.nio.ByteBuffer.wrap(mut)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(at, sz)
      val e = intercept[IllegalArgumentException](
        graft.queries.MultiModalOps.aviIndexOf(mut))
      assert(e.getMessage.contains("corrupt") ||
        e.getMessage.contains("mismatch") || e.getMessage.contains("idx1"),
        s"at=$at sz=$sz: ${e.getMessage}")
    }
  }

  test("png: chunk/inflate corruption never loops, recurses, or mass-allocates") {
    // the m11/Media.pngDecode parser: chunk lengths, IHDR dimensions and
    // the compressed IDAT stream are all payload-supplied — lengths must
    // be bounded before use, dimensions before allocation, and inflate
    // must terminate (truncation and preset-dictionary demands both fail
    // by name); chunk CRCs catch every in-chunk flip
    val orig = graft.queries.MultiModalOps.pngBytes(7L)
    val (ok, failed) = sweep(orig, orig.length, { bytes =>
      graft.queries.MultiModalOps.pngDecodeOf(bytes)
    })
    info(s"png sweep: $ok parsed, $failed failed diagnosably")
    assert(failed > 0, "no corruption failed — the sweep is vacuous")
    // targeted probes: negative / huge chunk length (the walk vector)
    // and huge IHDR dimensions (the allocation vector — must fail BEFORE
    // the h*(1+3w) scanline buffer is sized)
    for ((at, v) <- Seq((8, -13), (8, Int.MaxValue))) {
      val mut = orig.clone()
      java.nio.ByteBuffer.wrap(mut).putInt(at, v) // IHDR length, big-endian
      val e = intercept[IllegalArgumentException](
        graft.queries.MultiModalOps.pngDecodeOf(mut))
      assert(e.getMessage.contains("corrupt PNG") ||
        e.getMessage.contains("IHDR"), s"at=$at v=$v: ${e.getMessage}")
    }
    for ((at, v) <- Seq((16, 0x40000000), (20, 0x40000000))) {
      val mut = orig.clone()
      java.nio.ByteBuffer.wrap(mut).putInt(at, v) // IHDR width/height
      val e = intercept[IllegalArgumentException](
        graft.queries.MultiModalOps.pngDecodeOf(mut))
      // the CRC check rejects the flipped header before dimensions are
      // even read — either named failure is fine, allocation is not
      assert(e.getMessage.contains("corrupt PNG") ||
        e.getMessage.contains("unsupported PNG dimensions"),
        s"at=$at v=$v: ${e.getMessage}")
    }
  }

  test("gif: header/sub-block/LZW corruption never loops, recurses, or mass-allocates") {
    // the m12/Media.gifDecode parser: palette size, sub-block lengths and
    // the LZW code stream are all payload-supplied — a corrupt code must
    // stay inside the dictionary, output is capped at w*h, and the
    // sub-block walk advances >= 1 byte per iteration
    val orig = graft.queries.MultiModalOps.gifBytes(9L)
    val (ok, failed) = sweep(orig, orig.length, { bytes =>
      graft.queries.MultiModalOps.gifDecodeOf(bytes)
    })
    info(s"gif sweep: $ok parsed, $failed failed diagnosably")
    assert(failed > 0, "no corruption failed — the sweep is vacuous")
    // targeted probes: huge dimensions (allocation vector) and an
    // unterminated sub-block chain (loop vector)
    val hugeDim = orig.clone()
    hugeDim(6) = 0xFF.toByte; hugeDim(7) = 0xFF.toByte // screen w = 65535
    // screen descriptor dims are informational; the IMAGE descriptor's
    // dims drive allocation — corrupt those
    val imgOff = 13 + 48 // header + GCT
    val hugeImg = orig.clone()
    hugeImg(imgOff + 5) = 0xFF.toByte; hugeImg(imgOff + 6) = 0xFF.toByte
    hugeImg(imgOff + 7) = 0xFF.toByte; hugeImg(imgOff + 8) = 0xFF.toByte
    val e = intercept[IllegalArgumentException](
      graft.queries.MultiModalOps.gifDecodeOf(hugeImg))
    assert(e.getMessage.contains("unsupported GIF dimensions") ||
      e.getMessage.contains("corrupt GIF"), e.getMessage)
  }

  test("dap2: dods/dds/das corruption never crashes, only fails by name") {
    // the last binary reader without a sweep: the DODS response embeds the
    // DDS text, a separator, then XDR arrays with COUNT PREFIXES — corrupt
    // counts are the classic negative-alloc / huge-alloc vector
    val f = smallCube()
    val (dds, das, dods) = graft.dap.Dap2.encode(f, "sweep.nc")
    val (okB, failedB) = sweep(dods, 600, { bytes =>
      graft.dap.Dap2.parseDods(bytes)
    })
    info(s"dap2 dods sweep: $okB parsed, $failedB failed diagnosably")
    assert(failedB > 0, "no corruption failed — the sweep is vacuous")
    // text documents: every byte, parse must fail by name not crash
    for ((doc, parse) <- Seq[(String, Array[Byte] => Unit)](
      (dds, b => graft.dap.Dap2.parseDds(new String(b, "UTF-8"))),
      (das, b => graft.dap.Dap2.parseDas(new String(b, "UTF-8"))))) {
      val orig = doc.getBytes("UTF-8")
      val (ok, failed) = sweep(orig, orig.length, parse)
      info(s"dap2 text sweep: $ok parsed, $failed failed diagnosably")
      assert(ok + failed > 0)
    }
  }

  test("dap4: chunked framing/DMR/data corruption never crashes, only fails by name") {
    // the r12 surface: chunk headers (flags + 24-bit lengths are the
    // truncation/amplification vector), DMR XML, packed data + CRC32s
    val f = smallCube()
    val (dmr, dap) = graft.dap.Dap4.encode(f, "sweep.nc", chunkSize = 96)
    val (okB, failedB) = sweep(dap, dap.length, { bytes =>
      val (t, d, o) = graft.dap.Dap4.deframe(bytes)
      graft.dap.Dap4.decodeData(graft.dap.Dap4.parseDmr(t), d, o,
        checksums = true)
    })
    info(s"dap4 dap sweep: $okB decoded, $failedB failed diagnosably")
    assert(failedB > 0, "no corruption failed — the sweep is vacuous")
    val dmrBytes = dmr.getBytes("UTF-8")
    val (okT, failedT) = sweep(dmrBytes, dmrBytes.length,
      b => graft.dap.Dap4.parseDmr(new String(b, "UTF-8")))
    info(s"dap4 dmr sweep: $okT parsed, $failedT failed diagnosably")
    assert(okT + failedT > 0)
  }

  test("grib2 ccsds (5.42): corruption never crashes, only fails by name") {
    // the r12 packing: template params (flags/block/rsi) + the CCSDS
    // Rice bitstream through the shared szip codec
    val dir = tmpDir
    val p = s"$dir/clean42.grib2"
    val nx = 17; val ny = 11
    graft.grib.Grib2.writeCcsds(p,
      Array.tabulate(nx * ny)(i =>
        if (i % 9 == 4) Double.NaN else ((i * 29) % 211).toDouble), nx, ny,
      la1 = 40.0, lo1 = 250.0, dLat = 0.5, dLon = 0.5,
      discipline = 0, category = 0, number = 0,
      refTimeEpochSec = 1600000000L)
    val orig = Files.readAllBytes(Paths.get(p))
    val target = s"$dir/mut42.grib2"
    val (ok, failed) = sweep(orig, orig.length, { bytes =>
      Files.write(Paths.get(target), bytes)
      val msgs = graft.grib.Grib2.scan(target)
      msgs.foreach(m => graft.grib.Grib2.decodeValues(target, m))
    })
    info(s"grib2 ccsds sweep: $ok corruptions read, $failed failed diagnosably")
    assert(failed > 0, "no corruption failed — the sweep is vacuous")
  }

  test("hdf5 NESTED heap + huge/tiny ids: corruption never crashes, only fails by name") {
    // the r12 structures: recursive FHIB walk (child-row math from
    // corrupt sizes is the recursion/amplification vector), huge-object
    // btree resolution, tiny inline ids
    val dir = tmpDir
    val p = s"$dir/nested.h5"
    val f0 = smallCube()
    val big = "x" * 5000 // forces one HUGE dense-attr object
    val f = f0.copy(dataVars = f0.dataVars.updatedWith("foo")(_.map(v =>
      v.copy(attrs = v.attrs ++ (1 to 9).map(i =>
        s"a$i" -> AttrValue(s"v$i")).toMap + ("history" -> AttrValue(big))))))
    HDF5Writer.write(p, f, denseRootLinks = true,
      denseStartBlockSize = 64L, denseMaxDirectBlockSize = 128L,
      denseAttrObjects = Set("foo"))
    val orig = Files.readAllBytes(Paths.get(p))
    val target = s"$dir/mut_nested.h5"
    val (ok, failed) = sweep(orig, 1600, { bytes =>
      Files.write(Paths.get(target), bytes)
      HDF5.read(target)
    })
    info(s"hdf5 nested sweep: $ok corruptions read, $failed failed diagnosably")
    assert(failed > 0, "no corruption failed — the sweep is vacuous")
  }

  test("hdf5 FILTERED heap: corruption never crashes, only fails by name") {
    // the r12 surface: FRHP filter extras, 20-byte (addr, size, mask)
    // indirect entries, deflate-coded direct blocks — corrupt stored
    // sizes and compressed streams are the amplification vectors
    val dir = tmpDir
    val p = s"$dir/filtered.h5"
    HDF5Writer.write(p, smallCube(), denseRootLinks = true,
      denseStartBlockSize = 128L, denseFilteredHeap = true)
    val orig = Files.readAllBytes(Paths.get(p))
    val target = s"$dir/mut_filtered.h5"
    val (ok, failed) = sweep(orig, 1600, { bytes =>
      Files.write(Paths.get(target), bytes)
      HDF5.read(target)
    })
    info(s"hdf5 filtered sweep: $ok corruptions read, $failed failed diagnosably")
    assert(failed > 0, "no corruption failed — the sweep is vacuous")
  }

  test("blosc: header corruption cannot amplify a 16-byte header into a huge allocation") {
    val data = Array.tabulate[Byte](4096)(i => (i * 7 % 251).toByte)
    val comp = graft.zarr.Blosc.compress(data, 8,
      graft.zarr.Blosc.Params(cname = "zstd", clevel = 3, shuffle = true))
    val (ok, failed) = sweep(comp, comp.length, { bytes =>
      val out = graft.zarr.Blosc.decompress(bytes, maxOut = data.length)
      // when decode *succeeds*, the claimed-size cap held
      assert(out.length <= data.length)
    })
    info(s"blosc sweep: $ok corruptions decoded, $failed failed diagnosably")
    assert(failed > 0, "no corruption failed — the sweep is vacuous")
  }
}
