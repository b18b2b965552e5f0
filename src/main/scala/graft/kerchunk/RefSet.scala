package graft.kerchunk

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.zarr.ZarrStore
import graft.zarr.ZarrStore.{ArrayMeta, Compressor}
import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** Virtual-datacube references — the kerchunk model (openers.py:137-204,
  * transforms.py:427-554): a dataset is described by a map of Zarr store
  * keys to either inline bytes or (url, offset, length) pointers into the
  * original files. Scanning extracts metadata only; bytes stay in place.
  */
final case class Ref(url: Option[String], offset: Long, length: Long,
                     inline: Option[Array[Byte]]) {
  def resolve(): Array[Byte] = inline match {
    case Some(b) => b
    case None =>
      val ch = Files.newByteChannel(Paths.get(url.get), StandardOpenOption.READ)
      try {
        ch.position(offset)
        val buf = java.nio.ByteBuffer.allocate(length.toInt)
        var read = 0
        while (read < length && ch.read(buf) >= 0) { read = buf.position() }
        buf.array()
      } finally ch.close()
  }
}

object Ref {
  def inline(b: Array[Byte]): Ref = Ref(None, 0, b.length.toLong, Some(b))
  def pointer(url: String, offset: Long, length: Long): Ref =
    Ref(Some(url), offset, length, None)
}

/** A set of references = one virtual Zarr store. */
final case class RefSet(refs: Map[String, Ref]) {
  def keys: Set[String] = refs.keySet
  def apply(key: String): Ref = refs(key)

  /** Write every resolved key into a directory — materializes the virtual
    * store into a real one readable by graft.zarr.ZarrGroup. */
  def materialize(dir: String): Unit =
    refs.foreach { case (key, ref) =>
      val path = Paths.get(dir, key.split('/'): _*)
      Files.createDirectories(path.getParent)
      Files.write(path, ref.resolve())
    }

  /** Open the virtual store DIRECTLY (no materialize copy): a read-only
    * ZarrGroup whose chunk reads range-read the original files in place —
    * the fsspec "reference://" mapper equivalent. */
  def asZarrGroup(label: String = "refs://virtual"): graft.zarr.ZarrGroup = {
    val entries = refs.map { case (key, ref) =>
      val entry = ref.inline match {
        case Some(b) => graft.zarr.MapIO.Entry(b.length.toLong,
          (pos, len) => {
            // copyOfRange zero-pads past the end — reject instead, matching
            // the pointer branch's short-read failure on the same corruption
            require(pos >= 0 && pos + len <= b.length,
              s"range [$pos, ${pos + len}) outside inline ref of ${b.length} bytes")
            java.util.Arrays.copyOfRange(b, pos.toInt, pos.toInt + len)
          },
          () => b)
        case None => graft.zarr.MapIO.Entry(ref.length,
          (pos, len) => {
            val ch = Files.newByteChannel(Paths.get(ref.url.get),
              StandardOpenOption.READ)
            try {
              ch.position(ref.offset + pos)
              val buf = java.nio.ByteBuffer.allocate(len)
              while (buf.hasRemaining && ch.read(buf) >= 0) {}
              require(!buf.hasRemaining,
                s"short read of ${ref.url.get} at ${ref.offset + pos}")
              buf.array()
            } finally ch.close()
          },
          () => ref.resolve())
      }
      key -> entry
    }
    graft.zarr.ZarrGroup.virtual(label, new graft.zarr.MapIO(entries))
  }
}

object RefSet {
  private val mapper = new ObjectMapper()

  /** An inline array document: `meta` rendered as v3 `zarr.json`. */
  private def metaRef(meta: ArrayMeta): Ref = Ref.inline(ZarrStore.renderV3(meta))

  /** OpenWithKerchunk analog: scan one Zarr-v3 fragment group into
    * references. Metadata documents are inlined; chunk blobs at or below
    * `inlineThreshold` bytes are inlined (transforms.py:195 default 300),
    * larger ones become (url, offset, length) pointers. */
  /** Files.walk holds directory handles until closed — every scan drains
    * the stream inside this bracket. */
  private def walkFiles[A](root: java.nio.file.Path)(
      f: Iterator[java.nio.file.Path] => A): A = {
    val stream = Files.walk(root)
    try f(stream.iterator().asScala.filter(Files.isRegularFile(_)))
    finally stream.close()
  }

  def scanZarrGroup(root: String, inlineThreshold: Int = 300): RefSet = {
    val rootPath = Paths.get(root)
    val out = walkFiles(rootPath)(_.map { p =>
      val key = rootPath.relativize(p).iterator().asScala.mkString("/")
      val size = Files.size(p)
      val ref =
        if (key.endsWith("zarr.json") || size <= inlineThreshold)
          Ref.inline(Files.readAllBytes(p))
        else Ref.pointer(p.toString, 0L, size)
      key -> ref
    }.toMap)
    RefSet(out)
  }

  /** NetCDF3ToZarr analog (openers.py:156-181 routes to kerchunk's
    * netCDF3 scanner): read ONLY the classic-format header and emit one
    * virtual-Zarr reference per storage slab — the whole array for a fixed
    * variable, one per record for record variables (their bytes interleave
    * with stride recsize, so each record is its own contiguous range). Chunk
    * metadata declares the bytes codec big-endian; the Zarr reader then
    * decodes the in-place NetCDF bytes directly, no copy, no transcode.
    *
    * Byte/short/char data variables reference their raw bytes under the
    * matching narrow zarr dtype (int8/uint8/int16), same as int/float. */
  def scanNetCDF3(path: String, inlineThreshold: Int = 300): RefSet = {
    import graft.netcdf.NetCDF3
    val hdr = NetCDF3.readHeader(path)
    var out = Map.empty[String, Ref]
    out += "zarr.json" -> Ref.inline(ZarrStore.groupMetaDoc(hdr.gatts))
    val recsize = hdr.recsize
    // one channel for every inline slab of the scan (not one per record)
    NetCDF3.withRangeReader(path) { rangeRead =>
    hdr.vars.foreach { v =>
      val shape = v.shape(hdr.dims, hdr.numrecs)
      val isRec = v.isRecord(hdr.dims)
      val chunks = if (isRec) 1 +: shape.drop(1) else shape
      val dtype = NetCDF3.widenedDType(v.ncType)
      out += s"${v.name}/zarr.json" -> metaRef(ArrayMeta(shape, chunks, dtype,
        v.attrs, Some(v.dimids.map(hdr.dims(_).name)), bigEndian = true))
      val slab = v.slabBytes(hdr.dims)
      // inline refs read ONLY their byte range (positioned read) — scanning
      // a multi-GB file stays header-plus-small-slabs, never a full load
      def refFor(offset: Long): Ref =
        if (slab <= inlineThreshold)
          Ref.inline(rangeRead(offset, slab))
        else Ref.pointer(path, offset, slab)
      if (isRec) {
        val zeros = shape.drop(1).map(_ => "0")
        (0 until hdr.numrecs).foreach { r =>
          val key = (s"${v.name}/c/$r" +: zeros).mkString("/")
          out += key -> refFor(v.begin + r * recsize)
        }
      } else {
        val key = if (shape.isEmpty) s"${v.name}/c"
          else s"${v.name}/c/" + shape.map(_ => "0").mkString("/")
        out += key -> refFor(v.begin)
      }
    }
    RefSet(out)
    }
  }

  /** SingleHdf5ToZarr analog (openers.py:137-155 routes file_type="netcdf4"
    * to kerchunk's HDF5 scanner): walk the netCDF-4 object graph header-only
    * and emit one virtual-Zarr reference per HDF5 storage chunk — chunk
    * byte ranges come from the v1 B-tree index, contiguous datasets become
    * a single whole-array ref, and deflated chunks carry the zlib codec so
    * the reader inflates in place. Data bytes stay in the original file.
    *
    * Datasets whose stored element width differs from the engine dtype's
    * (only uint32, widened to int64) are rejected, as are
    * fletcher32 filters and per-chunk skipped-filter masks; deflate,
    * shuffle, zstd (hdf5plugin 32015), and blosc (hdf5plugin 32001) map to
    * the store's zlib/shuffle/zstd/blosc codecs. The full decoder
    * (HDF5.read) handles everything the scanner rejects. */
  def scanHdf5(path: String, inlineThreshold: Int = 300): RefSet = {
    import graft.hdf5.HDF5
    val r = new HDF5.Reader(path)
    try {
      val (rootAttrs, metas) = HDF5.datasets(r)
      var out = Map.empty[String, Ref]
      out += "zarr.json" -> Ref.inline(ZarrStore.groupMetaDoc(rootAttrs))
      metas.filterNot(_.phantom).foreach { m =>
        val o = m.obj
        val t = o.dtype.get
        val dt = HDF5.engineDTypeOf(t)
        require(t.size == dt.byteSize,
          s"scanHdf5: ${m.name} stores ${t.size}-byte elements widened to " +
            s"${dt.name} — no raw-byte zarr dtype; decode via HDF5.read")
        val bigEndian = t match {
          case HDF5.FixedPoint(_, be, _) => be
          case HDF5.FloatType(_, be) => be
          case _ => false
        }
        o.filters.foreach { f =>
          require(f.id == 1 || f.id == 2 || f.id == 32015 || f.id == 32001,
            s"scanHdf5: ${m.name} uses HDF5 filter ${f.id} — only deflate/" +
              "shuffle/zstd/blosc refs are representable; decode via HDF5.read")
        }
        val zlib = o.filters.find(_.id == 1).map(_.values.headOption.getOrElse(6))
        val shuffle = o.filters.find(_.id == 2)
          .map(_.values.headOption.getOrElse(dt.byteSize))
        // hdf5plugin zstd/blosc filters map to the store's registered v3
        // codecs (decode is frame-driven; cd_values only seed the config)
        val zstd = o.filters.find(_.id == 32015)
          .map(_.values.headOption.getOrElse(3))
        val bloscP = o.filters.find(_.id == 32001).map { f =>
          // cd_values: filter ver, blosc ver, typesize, chunk bytes,
          // clevel, shuffle, compressor code — c-blosc's COMPNAME enum
          // (blosclz=0, lz4=1, lz4hc=2, snappy=3, zlib=4, zstd=5)
          val cname = f.values.lift(6).getOrElse(1) match {
            case 1 => "lz4"; case 2 => "lz4hc"; case 3 => "snappy"
            case 4 => "zlib"; case 5 => "zstd"
            case other => throw new UnsupportedOperationException(
              s"scanHdf5: ${m.name} blosc compressor code $other " +
                "(blosclz or unknown) has no JVM codec; decode via HDF5.read")
          }
          // cd_values[5]: c-blosc shuffle code 0=none 1=byte 2=bit
          graft.zarr.Blosc.Params(cname, f.values.lift(4).getOrElse(5),
            shuffle = f.values.lift(5).contains(1),
            bitShuffle = f.values.lift(5).contains(2))
        }
        def inlineOrPointer(addr: Long, size: Long): Ref =
          if (size <= inlineThreshold)
            Ref.inline(r.readRange(addr, size))
          else Ref.pointer(path, addr, size)
        // enum datatypes surface their name<->value map exactly as the
        // eager reader does, so both entry points agree on metadata
        val varAttrs = m.cleanAttrs ++ HDF5.enumNamesAttr(t)
        val whole = ArrayMeta(o.dims, if (o.dims.isEmpty) Vector(1) else o.dims,
          dt, varAttrs, Some(m.dimNames), bigEndian = bigEndian)
        o.layout.get match {
          case HDF5.Compact(data) =>
            out += s"${m.name}/zarr.json" -> metaRef(whole)
            val key = if (o.dims.isEmpty) s"${m.name}/c"
              else s"${m.name}/c/" + o.dims.map(_ => "0").mkString("/")
            out += key -> Ref.inline(data)
          case HDF5.Contiguous(addr, size) =>
            out += s"${m.name}/zarr.json" -> metaRef(whole)
            val key = if (o.dims.isEmpty) s"${m.name}/c"
              else s"${m.name}/c/" + o.dims.map(_ => "0").mkString("/")
            if (addr != HDF5.Undefined)
              out += key -> inlineOrPointer(addr, size)
          case ck @ HDF5.Chunked(_, chunkDims, _, _, _, _, _, _) =>
            out += s"${m.name}/zarr.json" -> metaRef(whole.copy(chunks = chunkDims,
              compressor = Compressor.of(zlib = zlib, zstd = zstd, blosc = bloscP),
              shuffleElem = shuffle))
            r.chunkRefs(ck, o.dims).foreach { cr =>
              // the array-level codec list applies to EVERY chunk; a chunk
              // whose optional filter was skipped at write time (nonzero
              // mask) cannot be represented — reject, don't corrupt
              require(cr.filterMask == 0,
                s"scanHdf5: ${m.name} chunk at ${cr.offsets} has filter " +
                  s"mask ${cr.filterMask} (skipped filters); decode via HDF5.read")
              val idx = cr.offsets.indices
                .map(d => cr.offsets(d) / chunkDims(d)).mkString("/")
              out += s"${m.name}/c/$idx" -> inlineOrPointer(cr.addr, cr.size)
            }
        }
      }
      RefSet(out)
    } finally r.close()
  }

  /** scan_grib analog (openers.py:183-204 routes file_type="grib" to
    * kerchunk's GRIB2 scanner; tests/test_end_to_end.py:219-262): one RefSet
    * PER MESSAGE — the kerchunk contract, so CombineReferences/concat can
    * merge messages along time. Data, latitude and longitude arrays all
    * reference the message's in-place byte range with the grib2 whole-
    * message codec (bytes stay in the file; decode happens at read). The
    * valid-time and isobaric-level coordinates are inlined (8 bytes each).
    */
  def scanGrib2(path: String): Vector[RefSet] = {
    val msgs = graft.grib.Grib2.scan(path)
    // the grib2 zarr codec hands the WHOLE enclosing message to the
    // decoder, so a message containing several fields (repeated section
    // runs) has no per-field ref representation — decode those via
    // Grib2.read instead of refs
    msgs.groupBy(_.offset).foreach { case (off, ms) =>
      require(ms.length == 1,
        s"scanGrib2: message at $off has ${ms.length} fields; " +
          "multi-field messages are not representable as chunk refs")
    }
    // ragged (reduced Gaussian) and spectral grids have no rectangular
    // (y, x) zarr representation — fail at scan time by name, not at
    // materialized-read time (Grib2.read decodes them directly)
    msgs.foreach { m =>
      require(m.grid.rowCounts.isEmpty,
        "scanGrib2: reduced (quasi-regular) Gaussian grids are ragged — " +
          "no rectangular chunk-ref representation; use Grib2.read")
      require(m.grid.template != 50,
        "scanGrib2: spherical-harmonic (3.50) fields have no (y, x) " +
          "chunk-ref representation; use Grib2.read")
    }
    scanGrib2Messages(path, msgs)
  }

  /** Refs for a PRE-SCANNED (possibly filtered) message inventory — lets a
    * caller that already holds `Grib2.scan` output (e.g. the
    * `openWithKerchunk` stage applying a message filter) avoid a second
    * header walk of the file. Callers are responsible for passing only
    * single-field messages (see [[scanGrib2]]'s representability check). */
  def scanGrib2Messages(path: String,
                        msgs: Vector[graft.grib.Grib2.Message]): Vector[RefSet] = {
    import graft.grib.Grib2
    import graft.core.{AttrValue, DType}
    msgs.map { m =>
      val g = m.grid
      var out = Map.empty[String, Ref]
      out += "zarr.json" -> Ref.inline(ZarrStore.groupMetaDoc(Grib2.groupAttrs(m)))
      val msgRef = Ref.pointer(path, m.offset, m.length)
      val nan = AttrValue.ANum(Double.NaN)
      val short = m.shortName
      // data variable: (time, y, x) so reference concat along time works
      out += s"$short/zarr.json" -> metaRef(ArrayMeta(
        Vector(1, g.ny, g.nx), Vector(1, g.ny, g.nx), DType.F8,
        Grib2.varAttrs(m), Some(Vector("time", "y", "x")), fillValue = nan,
        gribVar = Some("data")))
      out += s"$short/c/0/0/0" -> msgRef
      // geographic coordinates: same message ref, extraction by codec var
      Seq("latitude" -> "degrees_north", "longitude" -> "degrees_east")
        .foreach { case (nm, units) =>
          out += s"$nm/zarr.json" -> metaRef(ArrayMeta(
            Vector(g.ny, g.nx), Vector(g.ny, g.nx), DType.F8,
            Map("units" -> AttrValue(units)), Some(Vector("y", "x")),
            fillValue = nan, gribVar = Some(nm)))
          out += s"$nm/c/0/0" -> msgRef
        }
      // valid-time coordinate: 1-element int64, CF epoch-seconds encoding
      out += "time/zarr.json" -> metaRef(ArrayMeta(
        Vector(1), Vector(1), DType.I8,
        Map("units" -> AttrValue("seconds since 1970-01-01T00:00:00"),
          "calendar" -> AttrValue("proleptic_gregorian")),
        Some(Vector("time"))))
      val tb = java.nio.ByteBuffer.allocate(8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      tb.putLong(Grib2.validTimeEpochSec(m))
      out += "time/c/0" -> Ref.inline(tb.array())
      // isobaric level coordinate (cfgrib's isobaricInhPa), when present
      if (m.product.surfaceType == 100 && !m.product.surfaceValue.isNaN) {
        out += "isobaricInhPa/zarr.json" -> metaRef(ArrayMeta(
          Vector(1), Vector(1), DType.F8,
          Map("units" -> AttrValue("hPa")), Some(Vector("isobaricInhPa"))))
        val lb = java.nio.ByteBuffer.allocate(8)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        lb.putDouble(m.product.surfaceValue / 100.0)
        out += "isobaricInhPa/c/0" -> Ref.inline(lb.array())
      }
      RefSet(out)
    }
  }

  /** kerchunk.tiff analog: map a GeoTIFF's strips/tiles to zarr chunk
    * refs — TIFF segments ARE zarr chunks of a (y, x) array. Tiles are
    * uniform and edge-padded exactly like zarr edge chunks; strips map
    * to (rowsPerStrip, w) chunks when the height divides evenly.
    * Uncompressed segments become raw byte-range refs; zlib-Deflate
    * segments carry the store's zlib codec and inflate in place at
    * read. Everything else is rejected BY NAME at scan time —
    * LZW/PackBits (no zarr codec), predictor 2 (no zarr transform),
    * short last strips (zarr edge chunks store FULL chunks; a short
    * TIFF strip does not), interleaved RGB (no band-major chunk-ref
    * representation) — and Tiff.read decodes all of them directly.
    * Pixel-center x/y coordinate arrays are generated INLINE from the
    * GeoTIFF transform, so the virtual store reproduces Tiff.read's
    * fragment exactly (both entry points agree, the scanHdf5 contract).
    * Header-only: reads the header, IFD and tag arrays — never a
    * segment byte. */
  def scanTiff(path: String, inlineThreshold: Int = 300): RefSet = {
    import graft.core.{AttrValue, DType}
    import graft.tiff.Tiff
    val ch = Files.newByteChannel(Paths.get(path), StandardOpenOption.READ)
    val layout =
      try {
        val size = ch.size()
        Tiff.scanLayout((off, len) => {
          ch.position(off)
          val buf = java.nio.ByteBuffer.allocate(len)
          while (buf.hasRemaining && ch.read(buf) >= 0) {}
          require(!buf.hasRemaining, s"short read of $path at $off")
          buf.array()
        }, size)
      } finally ch.close()
    require(layout.samples == 1,
      s"scanTiff: interleaved RGB has no band-major chunk-ref " +
        "representation; decode via Tiff.read")
    require(layout.predictor == 1,
      "scanTiff: predictor 2 differencing has no zarr transform; " +
        "decode via Tiff.read")
    val zlib = layout.compression match {
      case 1 => None
      case 8 | 32946 => Some(6)
      case other => throw new UnsupportedOperationException(
        s"scanTiff: TIFF compression $other has no zarr codec " +
          "(only uncompressed and Deflate refs are representable); " +
          "decode via Tiff.read")
    }
    val (w, h) = (layout.width, layout.height)
    require(layout.tiled || h % layout.segH == 0,
      s"scanTiff: $h rows in ${layout.segH}-row strips leaves a SHORT " +
        "last strip — zarr edge chunks store full chunks; decode via Tiff.read")
    val bytesPer = layout.bits / 8
    if (layout.compression == 1) layout.segOffsets.indices.foreach { s =>
      require(layout.segCounts(s) ==
        layout.segW.toLong * layout.segH * bytesPer,
        s"scanTiff: uncompressed segment $s has ${layout.segCounts(s)} " +
          s"bytes, expected ${layout.segW.toLong * layout.segH * bytesPer}")
    }
    val dtype = if (layout.bits == 8) DType.U1 else DType.U2
    val geo = !layout.scaleX.isNaN && !layout.tieX.isNaN
    var out = Map.empty[String, Ref]
    val gattrs: graft.core.Attrs.Attrs =
      if (layout.epsg > 0) Map("crs" -> AttrValue(s"EPSG:${layout.epsg}"))
      else Map.empty
    out += "zarr.json" -> Ref.inline(ZarrStore.groupMetaDoc(gattrs))
    out += "band_data/zarr.json" -> metaRef(ArrayMeta(
      Vector(h, w), Vector(layout.segH, layout.segW), dtype,
      Map.empty, Some(Vector("y", "x")), zlib.map(Compressor.Zlib),
      bigEndian = !layout.littleEndian))
    val across = (w + layout.segW - 1) / layout.segW
    layout.segOffsets.indices.foreach { s =>
      val key =
        if (layout.tiled) s"band_data/c/${s / across}/${s % across}"
        else s"band_data/c/$s/0"
      val ptr = Ref.pointer(path, layout.segOffsets(s), layout.segCounts(s))
      out += key -> (if (layout.segCounts(s) <= inlineThreshold)
        Ref.inline(ptr.resolve()) else ptr)
    }
    // pixel-center coordinates, generated inline (kerchunk's
    // generate_coords): identical arithmetic to Tiff.readFragment
    def coordRef(name: String, n: Int, at: Int => Double): Unit = {
      out += s"$name/zarr.json" -> metaRef(ArrayMeta(
        Vector(n), Vector(n), DType.F8, Map.empty, Some(Vector(name))))
      val bb = java.nio.ByteBuffer.allocate(8 * n)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      (0 until n).foreach(i => bb.putDouble(at(i)))
      out += s"$name/c/0" -> Ref.inline(bb.array())
    }
    coordRef("x", w, i => if (geo) layout.tieX + (i + 0.5) * layout.scaleX
                          else i + 0.5)
    coordRef("y", h, j => if (geo) layout.tieY - (j + 0.5) * layout.scaleY
                          else j + 0.5)
    RefSet(out)
  }

  private def parseMeta(rs: RefSet, key: String): ObjectNode =
    mapper.readTree(rs(key).resolve()).asInstanceOf[ObjectNode]

  private def varNames(rs: RefSet): Vector[String] =
    rs.keys.collect { case k if k.endsWith("/zarr.json") =>
      k.stripSuffix("/zarr.json") }.toVector.sorted

  /** Our MultiZarrToZarr subset (the portion the reference exercises):
    * concatenate orderd RefSets along ONE dim; `identicalDims` variables
    * must match and are taken from the first input. Chunk keys along the
    * concat axis are re-indexed by the cumulative chunk count of the
    * preceding inputs. Only the first input's metadata documents stay
    * parsed; every other input's document is parsed, checked against them
    * and dropped, keeping just its length along the concat axis, so memory
    * follows the refs, not inputs × documents.
    */
  def concatRefSets(ordered: Vector[RefSet], concatDim: String,
                    identicalDims: Vector[String]): RefSet = {
    require(ordered.nonEmpty)
    if (ordered.length == 1) return ordered.head
    val first = ordered.head
    var merged = Map.empty[String, Ref]

    // group-level metadata from the first input
    first.refs.get("zarr.json").foreach(r => merged += "zarr.json" -> r)

    varNames(first).foreach { v =>
      val metaKey = s"$v/zarr.json"
      val meta0 = parseMeta(first, metaKey)
      val m0 = ZarrStore.parseV3(meta0, metaKey)
      val axis = m0.dimNames.fold(-1)(_.indexOf(concatDim))

      if (axis < 0) {
        // identical-dims variable: validate byte-identical metadata, keep first
        val doc0 = meta0.toString
        ordered.iterator.drop(1).foreach { rs =>
          require(parseMeta(rs, metaKey).toString == doc0,
            s"identical_dims variable $v differs across inputs")
        }
        first.refs.foreach { case (k, r) =>
          if (k == metaKey || k.startsWith(s"$v/c")) merged += k -> r }
      } else {
        // concat variable: shapes sum along axis; other dims + grid equal
        val axisLens = m0.shape(axis) +: ordered.iterator.drop(1).map { rs =>
          val m = ZarrStore.parseV3(parseMeta(rs, metaKey), metaKey)
          require(m.grain == m0.grain, s"chunk shapes for $v differ across inputs")
          m.shape.indices.foreach { i =>
            require(i == axis || m.shape(i) == m0.shape(i),
              s"non-concat dim sizes for $v differ across inputs") }
          m.shape(axis)
        }.toVector
        merged += metaKey -> metaRef(
          m0.copy(shape = m0.shape.updated(axis, axisLens.sum)))

        // chunk keys: offset the concat-axis index by cumulative chunk count
        var axisOffset = 0
        ordered.zipWithIndex.foreach { case (rs, i) =>
          rs.refs.foreach { case (k, r) =>
            if (k.startsWith(s"$v/c/") || k == s"$v/c") {
              val parts = k.split('/') // v, c, i0, i1, ...
              val idx = parts.drop(2).map(_.toInt)
              val newIdx = idx.updated(axis, idx(axis) + axisOffset)
              merged += (s"$v/c/" + newIdx.mkString("/")) -> r
            }
          }
          axisOffset += math.ceil(axisLens(i).toDouble / m0.grain(axis)).toInt
        }
      }
    }
    RefSet(merged)
  }

  /** MERGE set semantics for SAME-position reference sets — the kerchunk
    * combine of several single-message GRIB reference sets scanned from
    * ONE file (each `scan_grib` output holds one data variable; cfgrib
    * surfaces them as sibling variables of one dataset). Variables union;
    * a variable appearing in several inputs must carry byte-identical
    * metadata (varAttrs include level/parameter, so a true duplicate is a
    * re-read of the same field and keep-first is exact; a 2 m vs 10 m
    * clash of the same short name fails here with the key), and shared
    * coordinate chunk refs (latitude/longitude point into each source
    * message's bytes — same decoded values) keep the first occurrence. */
  def mergeRefSets(sets: Vector[RefSet]): RefSet = {
    require(sets.nonEmpty)
    if (sets.length == 1) return sets.head
    var merged = Map.empty[String, Ref]
    sets.foreach { rs =>
      rs.refs.foreach { case (k, r) =>
        merged.get(k) match {
          case None => merged += k -> r
          case Some(prev) if k.endsWith("zarr.json") =>
            require(java.util.Arrays.equals(prev.resolve(), r.resolve()),
              s"mergeRefSets: conflicting metadata for '$k' — same variable " +
                "name with different attributes (e.g. two levels of one " +
                "parameter); filter or rename before merging")
          case Some(_) => // chunk ref for a shared coordinate: keep first
        }
      }
    }
    RefSet(merged)
  }

  /** Drop whole variables (their metadata doc and every chunk ref) whose
    * name matches `pred` — the `mzz_kwargs=dict(preprocess=drop_unknown)`
    * analog (hrrr_kerchunk_concat_valid_time.py:23-27: pop every key
    * starting with "unknown"; cfgrib names unmapped parameters "unknown",
    * this scanner names them with the systematic d<D>c<C>p<N> fallback). */
  def dropVars(rs: RefSet, pred: String => Boolean): RefSet =
    RefSet(rs.refs.filter { case (k, _) =>
      val slash = k.indexOf('/')
      slash < 0 || !pred(k.substring(0, slash))
    })

  /** Kerchunk-style JSON artifact: {"version": 1, "refs": {key: value}}
    * where value is an inline string or [url, offset, length]
    * (writers.py:132-195). */
  def toJson(rs: RefSet): String = {
    val root = mapper.createObjectNode()
    root.put("version", 1)
    val refsNode = mapper.createObjectNode()
    rs.refs.toSeq.sortBy(_._1).foreach { case (k, r) =>
      r.inline match {
        case Some(b) =>
          val s = new String(b, "ISO-8859-1")
          if (s.forall(c => c >= ' ' && c < 127) || k.endsWith("zarr.json"))
            refsNode.put(k, new String(b, "UTF-8"))
          else refsNode.put(k,
            "base64:" + java.util.Base64.getEncoder.encodeToString(b))
        case None =>
          val arr = mapper.createArrayNode()
          arr.add(r.url.get); arr.add(r.offset); arr.add(r.length)
          refsNode.set[ObjectNode](k, arr)
      }
    }
    root.set[ObjectNode]("refs", refsNode)
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root)
  }

  /** Export as a kerchunk/fsspec-ecosystem artifact with ZARR V2 keys —
    * what the reference's WriteCombinedReference produces and
    * `fsspec.get_mapper("reference://")` + zarr v2 consume
    * (writers.py:132-195): `.zgroup`/`.zattrs`/`.zarray` documents,
    * `_ARRAY_DIMENSIONS` for xarray dims, numcodecs compressor/filter ids
    * (incl. kerchunk's whole-message `{"id":"grib"}` filter), and
    * dot-separated chunk keys. */
  def toKerchunkV2Json(rs: RefSet): String = {
    val root = mapper.createObjectNode()
    root.put("version", 1)
    val refsNode = mapper.createObjectNode()
    def putInline(key: String, bytes: Array[Byte]): Unit = {
      val s = new String(bytes, "ISO-8859-1")
      if (s.forall(c => c >= ' ' && c < 127) || key.endsWith("attrs") ||
          key.endsWith("group") || key.endsWith("array"))
        refsNode.put(key, new String(bytes, "UTF-8"))
      else refsNode.put(key,
        "base64:" + java.util.Base64.getEncoder.encodeToString(bytes))
    }
    toV2Entries(rs).foreach { case (v2key, ref) =>
      ref.inline match {
        case Some(b) => putInline(v2key, b)
        case None =>
          val arr = mapper.createArrayNode()
          arr.add(ref.url.get); arr.add(ref.offset); arr.add(ref.length)
          refsNode.set[ObjectNode](v2key, arr)
      }
    }
    root.set[ObjectNode]("refs", refsNode)
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root)
  }

  /** The v3→v2 key-dialect conversion shared by the v2 json artifact and
    * the fsspec parquet record layout: v3 `zarr.json` docs become v2
    * `.zgroup`/`.zattrs`/`.zarray` documents (inline Refs), chunk keys
    * become dot-separated (`<var>/c/i/j` → `<var>/i.j`). */
  private[kerchunk] def toV2Entries(rs: RefSet): Seq[(String, Ref)] = {
    val out = Seq.newBuilder[(String, Ref)]
    def putInline(key: String, bytes: Array[Byte]): Unit =
      out += key -> Ref.inline(bytes)
    rs.refs.toSeq.sortBy(_._1).foreach { case (key, ref) =>
      if (key == "zarr.json") {
        val meta = mapper.readTree(ref.resolve())
        val zg = mapper.createObjectNode(); zg.put("zarr_format", 2)
        putInline(".zgroup", mapper.writeValueAsBytes(zg))
        putInline(".zattrs", mapper.writeValueAsBytes(meta.get("attributes")))
      } else if (key.endsWith("/zarr.json")) {
        val v = key.stripSuffix("/zarr.json")
        val (zarray, zattrs) =
          ZarrStore.renderV2(ZarrStore.parseV3(mapper.readTree(ref.resolve()), key))
        putInline(s"$v/.zarray", mapper.writeValueAsBytes(zarray))
        putInline(s"$v/.zattrs", mapper.writeValueAsBytes(zattrs))
      } else {
        // chunk key: <var>/c/i/j -> <var>/i.j  (scalar <var>/c -> <var>/0)
        val parts = key.split('/')
        val ci = parts.indexOf("c")
        require(ci == parts.length - 1 || parts.drop(ci + 1).forall(
          _.forall(_.isDigit)), s"unexpected key $key")
        val v2key =
          if (ci == parts.length - 1) (parts.take(ci) :+ "0").mkString("/")
          else (parts.take(ci) :+ parts.drop(ci + 1).mkString(".")).mkString("/")
        out += v2key -> ref
      }
    }
    out.result()
  }

  /** Import a kerchunk v2 artifact back into our (v3-keyed) RefSet. */
  def fromKerchunkV2Json(json: String): RefSet = {
    val root = mapper.readTree(json)
    val raw = root.get("refs").properties().asScala.map { e =>
      val v = e.getValue
      val bytes: Either[Array[Byte], (String, Long, Long)] =
        if (v.isArray) Right((v.get(0).asText(), v.get(1).asLong(), v.get(2).asLong()))
        else {
          val s = v.asText()
          if (s.startsWith("base64:"))
            Left(java.util.Base64.getDecoder.decode(s.stripPrefix("base64:")))
          else Left(s.getBytes("UTF-8"))
        }
      e.getKey -> bytes
    }.toMap
    fromV2Raw(raw)
  }

  /** Open a REAL zarr v2 directory store (zarr-python layout: `.zgroup` /
    * `.zattrs` / `<var>/.zarray` docs, dot-separated chunk files, optional
    * consolidated `.zmetadata`) as a virtual v3 RefSet. When `.zmetadata`
    * exists all metadata comes from that ONE document (one GET at object-
    * store scale — the v2 consolidated-metadata convention) and only chunk
    * keys are enumerated; chunk payloads stay in place as pointers. With
    * the blosc codec this covers zarr-python's default v2 encoding
    * (blosc-lz4 + byte-shuffle). */
  def scanZarrV2Group(root: String, inlineThreshold: Int = 300): RefSet = {
    val rootPath = Paths.get(root)
    val files = walkFiles(rootPath)(
      _.map(p => rootPath.relativize(p).iterator().asScala.mkString("/") -> p)
        .toMap)
    val consolidated: Option[ObjectNode] =
      files.get(".zmetadata").map { p =>
        val m = mapper.readTree(Files.readAllBytes(p))
        require(m.get("zarr_consolidated_format").asInt() == 1,
          "unknown .zmetadata format")
        m.get("metadata").asInstanceOf[ObjectNode]
      }
    val raw: Map[String, Either[Array[Byte], (String, Long, Long)]] =
      consolidated match {
        case Some(meta) =>
          val docs = meta.properties().asScala.map { e =>
            e.getKey -> Left(mapper.writeValueAsBytes(e.getValue))
          }.toMap
          val chunks = files.collect {
            case (key, p) if !key.endsWith(".zmetadata") &&
                !key.split('/').last.startsWith(".z") =>
              val size = Files.size(p)
              key -> (if (size <= inlineThreshold) Left(Files.readAllBytes(p))
                      else Right((p.toString, 0L, size)))
          }
          docs ++ chunks
        case None =>
          files.collect {
            case (key, p) if !key.endsWith(".zmetadata") =>
              val size = Files.size(p)
              val isDoc = key.split('/').last.startsWith(".z")
              key -> (if (isDoc || size <= inlineThreshold)
                        Left(Files.readAllBytes(p))
                      else Right((p.toString, 0L, size)))
          }
      }
    fromV2Raw(raw)
  }

  /** Shared v2→v3 conversion core: `raw` maps ZARR V2 store keys to inline
    * bytes or byte-range pointers (the kerchunk artifact and the on-disk v2
    * store are the same key space). */
  private[kerchunk] def fromV2Raw(
      raw: Map[String, Either[Array[Byte], (String, Long, Long)]]): RefSet = {
    def doc(key: String): com.fasterxml.jackson.databind.JsonNode = raw(key) match {
      case Left(b) => mapper.readTree(b)
      case Right(_) => throw new IllegalArgumentException(s"$key is a pointer")
    }
    var out = Map.empty[String, Ref]
    val rootAttrs =
      if (raw.contains(".zattrs")) ZarrStore.objectAttrs(doc(".zattrs"))
      else graft.core.Attrs.empty
    out += "zarr.json" -> Ref.inline(ZarrStore.groupMetaDoc(rootAttrs))
    val varNames = raw.keys.collect {
      case k if k.endsWith("/.zarray") => k.stripSuffix("/.zarray") }.toVector
    varNames.foreach { v =>
      // either chunk-key separator maps below, so the separator is not judged
      val (meta, _) = ZarrStore.parseV2(doc(s"$v/.zarray"),
        raw.get(s"$v/.zattrs").map(_ => doc(s"$v/.zattrs")), s"$v/.zarray")
      out += s"$v/zarr.json" -> metaRef(meta)
      // chunk keys <var>/i.j -> <var>/c/i/j; scalar arrays' "0" -> "c"
      raw.foreach { case (k, payload) =>
        if (k.startsWith(s"$v/") && !k.contains(".z")) {
          val ref = payload match {
            case Left(b) => Ref.inline(b)
            case Right((url, off, len)) => Ref.pointer(url, off, len)
          }
          val key =
            if (meta.shape.isEmpty) s"$v/c"
            else s"$v/c/" + k.stripPrefix(s"$v/").split('.').mkString("/")
          out += key -> ref
        }
      }
    }
    RefSet(out)
  }

  def fromJson(json: String): RefSet = {
    val root = mapper.readTree(json)
    val refs = root.get("refs").properties().asScala.map { e =>
      val k = e.getKey
      val v = e.getValue
      val ref =
        if (v.isArray)
          Ref.pointer(v.get(0).asText(), v.get(1).asLong(), v.get(2).asLong())
        else {
          val s = v.asText()
          if (s.startsWith("base64:"))
            Ref.inline(java.util.Base64.getDecoder.decode(s.stripPrefix("base64:")))
          else Ref.inline(s.getBytes("UTF-8"))
        }
      k -> ref
    }.toMap
    RefSet(refs)
  }
}
