package graft.hdf5

import graft.core._
import graft.core.Attrs.Attrs
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.channels.FileChannel
import java.nio.file.{Files, Paths, StandardOpenOption}

/** Pure-JVM reader for the HDF5 subset that netCDF-4 files occupy — the
  * reference's primary input format (openers.py:40-47 routes
  * file_type="netcdf4" to the h5netcdf engine; every example feedstock
  * reads NetCDF). Implemented from the public HDF5 File Format
  * Specification (version III) — no HDF5 library exists for the JVM in
  * this offline build.
  *
  * Supported structures (what libnetcdf/h5py actually write):
  *   - superblock v0/v1 and v2/v3, 8-byte offsets/lengths
  *   - object headers v1 and v2 ("OHDR"), continuation blocks
  *   - groups via symbol tables (B-tree v1 "TREE" + local heap "HEAP")
  *     and via compact link messages (v2 groups)
  *   - dataspace v1/v2, datatypes: fixed-point, IEEE float, string,
  *     variable-length, object reference
  *   - data layout v3: compact, contiguous, chunked (B-tree v1 chunk
  *     index); filter pipeline v1/v2
  *   - attributes v1/v2/v3 including variable-length data through the
  *     global heap ("GCOL") — the netCDF-4 DIMENSION_LIST convention
  *
  * Filter matrix: SUPPORTED = deflate (id 1), shuffle (id 2), fletcher32
  * (id 3) — everything libnetcdf writes and every reference fixture uses —
  * plus szip (id 4 — the CCSDS-121 extended-Rice coder older NASA EOS
  * archives carry, via the in-repo clean-room [[Szip]] codec) and the
  * hdf5plugin/h5py ecosystem codecs: lzf (id 32000, h5py's
  * built-in alternative codec, [[Lzf]]), zstd (id 32015 — raw zstd frames
  * via the zstd-jni binding Spark already ships), and blosc (id 32001 —
  * self-contained blosc1 frames via [[graft.zarr.Blosc]], cnames
  * lz4/lz4hc/zlib/zstd/snappy), and lz4 (id 32004 — the n-block layout
  * with big-endian sizes, via lz4-java).
  * The libhdf5 bit-packing filters nbit (5) and scale-offset (6,
  * integer path — the NASA/NOAA archive variant) decode through
  * [[Nbit]]/[[ScaleOffset]], completing the h5py-readable filter set.
  * NOT SUPPORTED (clear [[UnsupportedFilterException]] naming the filter,
  * never a garbled decode): scale-offset float D/E-scale, nbit
  * compound/array types, and registered third-party filters such as
  * bzip2 (307). h5py via its plugin ecosystem reads more; files carrying
  * those filters need a one-time repack (`h5repack -f GZIP=4`) before
  * this reader.
  *
  * Dense (fractal-heap) GROUP LINKS and dense ATTRIBUTES are both read
  * natively (v2 B-tree name index — record type 5 for links, 8 for
  * attributes — + fractal-heap object resolution: the storage libhdf5
  * switches to past the compact thresholds, 8 attrs / the symbol-table
  * link limit). B-trees walk at ANY depth (r12 — depth ≥ 2 appears past
  * ~10⁵ same-group links); HUGE heap objects (> the 4 KiB managed
  * ceiling, e.g. a long history attribute) resolve through the
  * huge-object v2 B-tree or direct ids, and TINY (id-inline) objects
  * decode in place; the doubling table walks NESTED indirect blocks
  * recursively (the geometry big link heaps reach); and FILTERED heaps
  * (groups created with H5Pset_deflate & co.) decompress their direct
  * blocks through the dataset filter pipeline. The dense-storage
  * surface is complete.
  */
/** A chunk's filter pipeline names a filter this reader does not implement.
  * Raised BEFORE any bytes are interpreted — an unknown filter must surface
  * as a clear error, never as a garbled decode. See the filter matrix in
  * the [[HDF5]] scaladoc. */
final class UnsupportedFilterException(val filterId: Int)
  extends UnsupportedOperationException(
    s"HDF5 filter $filterId (${UnsupportedFilterException.name(filterId)}) " +
      "is not supported; supported filters are deflate(1), shuffle(2), " +
      "fletcher32(3), szip(4), nbit(5), scale-offset(6), lzf(32000), " +
      "blosc(32001), lz4(32004), zstd(32015). Repack the file " +
      "(e.g. `h5repack -f GZIP=4`) to read it.")

object UnsupportedFilterException {
  /** Public registered-filter names, for actionable error text. */
  private[hdf5] def name(id: Int): String = id match {
    case 4     => "szip"
    case 5     => "nbit"
    case 6     => "scale-offset"
    case 307   => "bzip2"
    case 32000 => "lzf"
    case 32001 => "blosc"
    case 32004 => "lz4"
    case 32015 => "zstd"
    case _     => "unregistered"
  }
}

object HDF5 {

  val Signature: Array[Byte] =
    Array(0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1A, '\n')
  val Undefined: Long = -1L // all-ones address

  // ----------------------------------------------------------- data model

  sealed trait TypeInfo { def size: Int }
  final case class FixedPoint(size: Int, bigEndian: Boolean, signed: Boolean)
      extends TypeInfo
  final case class FloatType(size: Int, bigEndian: Boolean) extends TypeInfo
  final case class StringType(size: Int) extends TypeInfo
  final case class VlenType(isString: Boolean, base: TypeInfo) extends TypeInfo {
    def size: Int = 16 // length(4) + gheap address(8) + index(4)
  }
  final case class RefType(size: Int) extends TypeInfo
  /** Datatype class 8: named values over an integer base (r14). Flag
    * variables in NASA granules (ICESat-2 quality flags) carry these. */
  final case class EnumType(base: TypeInfo, names: Vector[String],
                            values: Vector[Long]) extends TypeInfo {
    def size: Int = base.size
  }
  /** Datatype class 6: C-struct records — (name, byte offset, member
    * type) with explicit total size (r14). */
  final case class CompoundType(size: Int,
      members: Vector[(String, Int, TypeInfo)]) extends TypeInfo
  /** Datatype class 10: fixed-shape array elements — decode adds the
    * dims as TRAILING dataset dimensions (r14). */
  final case class ArrayType(base: TypeInfo, dims: Vector[Int])
      extends TypeInfo {
    def size: Int = base.size * dims.product
  }

  final case class Filter(id: Int, values: Vector[Int])

  sealed trait Layout
  final case class Compact(data: Array[Byte]) extends Layout
  final case class Contiguous(addr: Long, size: Long) extends Layout
  /** Chunked storage. `indexType` 0 = the v1 B-tree (layout message v3);
    * layout v4 (libhdf5 1.10+ "latest") adds 1 = Single Chunk,
    * 2 = Implicit, 3 = Fixed Array, 4 = Extensible Array (the
    * single-unlimited-dim, time-appendable layout — `ea` carries its
    * creation parameters) and 5 = v2 B-tree (`btreeAddr` holds the
    * chunk / base / FAHD / EAHD / BTHD address respectively). */
  final case class Chunked(btreeAddr: Long, chunkDims: Vector[Int],
                           elemSize: Int,
                           indexType: Int = 0,
                           pageBits: Int = 0,
                           singleSize: Long = -1L,
                           singleMask: Int = 0,
                           ea: Option[HDF5Writer.EaParams] = None)
    extends Layout

  /** One dataset (or group) assembled from its object header. */
  final case class ObjectInfo(addr: Long,
                              dtype: Option[TypeInfo],
                              dims: Vector[Int],
                              layout: Option[Layout],
                              filters: Vector[Filter],
                              attrs: Map[String, AttrValue],
                              dimListAddrs: Vector[Long], // DIMENSION_LIST refs
                              children: Vector[(String, Long)], // group links
                              fillBytes: Option[Array[Byte]] = None)

  /** One chunk of a chunked dataset: grid offsets (elements), file range. */
  final case class ChunkRef(offsets: Vector[Long], addr: Long, size: Long,
                            filterMask: Int)

  // -------------------------------------------------------------- reader

  final class Reader(path: String) extends AutoCloseable {
    private val ch = FileChannel.open(Paths.get(path), StandardOpenOption.READ)

    def close(): Unit = ch.close()

    private def readAt(pos: Long, len: Int): ByteBuffer = {
      // the central corruption guard: every structure walk allocates here,
      // so a corrupt offset/length field (negative, or pointing past EOF)
      // becomes a named error instead of a NegativeArraySizeException or a
      // multi-GB allocation amplified from a few corrupt header bytes
      if (len < 0 || pos < 0 || pos + len > ch.size())
        throw new IllegalArgumentException(
          s"$path: corrupt HDF5 structure — range [$pos, $pos+$len) " +
            s"outside file of ${ch.size()} bytes")
      val buf = ByteBuffer.allocate(len).order(ByteOrder.LITTLE_ENDIAN)
      var off = 0L
      while (buf.hasRemaining) {
        val n = ch.read(buf, pos + off)
        if (n < 0) throw new java.io.EOFException(s"$path: EOF at ${pos + off}")
        off += n
      }
      buf.flip(); buf
    }

    def readRange(pos: Long, len: Long): Array[Byte] = {
      require(len <= Int.MaxValue, s"range $len too large")
      val b = readAt(pos, len.toInt)
      b.array()
    }

    // ---- superblock ----
    val (superVersion: Int, rootAddr: Long) = {
      require(ch.size() >= 64, s"$path is not an HDF5 file (too small)")
      val head = readAt(0L, 64)
      val sig = new Array[Byte](8); head.get(sig)
      require(java.util.Arrays.equals(sig, Signature),
        s"$path is not an HDF5 file")
      val version = head.get(8) & 0xFF
      version match {
        case 0 | 1 =>
          val sizeOff = head.get(13) & 0xFF; val sizeLen = head.get(14) & 0xFF
          require(sizeOff == 8 && sizeLen == 8,
            s"only 8-byte offsets/lengths supported (got $sizeOff/$sizeLen)")
          // root group symbol table entry follows the fixed fields:
          // v0: 24 bytes fixed + 4×8 addresses = offset 24+... entry at 24+8*? —
          // fields: ..., consistency flags(4) at 20, then base addr at 24,
          // free space at 32, EOF at 40, driver info at 48, root STE at 56
          val steOff = if (version == 0) 24 + 32 else 24 + 4 + 32
          val ste = readAt(steOff.toLong, 40)
          ste.getLong(0) // link name offset (ignored)
          (version, ste.getLong(8)) // object header address
        case 2 | 3 =>
          require((head.get(9) & 0xFF) == 8 && (head.get(10) & 0xFF) == 8,
            "only 8-byte offsets/lengths supported")
          // fixed fields are 12 bytes (sig+version+sizes+flags), then
          // base(8) @12, extension(8) @20, EOF(8) @28, root header @36
          (version, head.getLong(36))
        case v => throw new UnsupportedOperationException(s"superblock v$v")
      }
    }

    // ---- object headers ----

    /** Collect every (messageType, bodyBuffer) of one object header,
      * following continuations. */
    private def headerMessages(addr: Long): Vector[(Int, ByteBuffer)] = {
      val first4 = readAt(addr, 4)
      val sig = new Array[Byte](4); first4.get(sig)
      if (java.util.Arrays.equals(sig, "OHDR".getBytes("ASCII")))
        headerMessagesV2(addr)
      else headerMessagesV1(addr)
    }

    private def headerMessagesV1(addr: Long): Vector[(Int, ByteBuffer)] = {
      val fixed = readAt(addr, 16)
      require((fixed.get(0) & 0xFF) == 1, s"object header v${fixed.get(0)} at $addr")
      val numMessages = fixed.getShort(2) & 0xFFFF
      val headerSize = fixed.getInt(8)
      val out = Vector.newBuilder[(Int, ByteBuffer)]
      // message block starts 8-byte aligned after the 12-byte prefix (+4 pad)
      var blocks = List((addr + 16, headerSize.toLong))
      var seen = 0
      while (blocks.nonEmpty && seen < numMessages) {
        val (bAddr, bLen) = blocks.head; blocks = blocks.tail
        val buf = readAt(bAddr, bLen.toInt)
        var p = 0
        while (p + 8 <= bLen && seen < numMessages) {
          val mtype = buf.getShort(p) & 0xFFFF
          val msize = buf.getShort(p + 2) & 0xFFFF
          val body = buf.duplicate().order(ByteOrder.LITTLE_ENDIAN)
          body.position(p + 8).limit(p + 8 + msize)
          val sliced = body.slice().order(ByteOrder.LITTLE_ENDIAN)
          if (mtype == 0x0010) { // continuation
            blocks = blocks :+ ((sliced.getLong(0), sliced.getLong(8)))
          } else out += ((mtype, sliced))
          seen += 1
          p += 8 + msize
        }
      }
      out.result()
    }

    private def headerMessagesV2(addr: Long): Vector[(Int, ByteBuffer)] = {
      val head = readAt(addr, 16)
      require((head.get(4) & 0xFF) == 2, "OHDR version")
      val flags = head.get(5) & 0xFF
      var p = addr + 6
      if ((flags & 0x20) != 0) p += 16 // access/mod/change/birth times (4×4)
      if ((flags & 0x10) != 0) p += 4 // max compact / min dense
      val chunkSizeBytes = 1 << (flags & 0x3)
      val sizeBuf = readAt(p, 8)
      val chunk0Size = chunkSizeBytes match {
        case 1 => sizeBuf.get(0) & 0xFFL
        case 2 => sizeBuf.getShort(0) & 0xFFFFL
        case 4 => sizeBuf.getInt(0) & 0xFFFFFFFFL
        case 8 => sizeBuf.getLong(0)
      }
      p += chunkSizeBytes
      val out = Vector.newBuilder[(Int, ByteBuffer)]
      val trackOrder = (flags & 0x4) != 0
      var blocks = List((p, chunk0Size, false))
      while (blocks.nonEmpty) {
        val (bAddr, bLen, isCont) = blocks.head; blocks = blocks.tail
        val start = if (isCont) bAddr + 4 else bAddr // "OCHK" prefix
        // chunk-0 size covers messages+gap (checksum excluded); an OCHK
        // continuation's recorded length includes its sig and checksum
        val dataLen = (if (isCont) bLen - 8 else bLen).toInt
        val buf = readAt(start, dataLen)
        var q = 0
        val msgHeader = if (trackOrder) 6 else 4
        while (q + msgHeader <= dataLen) {
          val mtype = buf.get(q) & 0xFF
          val msize = buf.getShort(q + 1) & 0xFFFF
          if (mtype == 0 && msize == 0) q = dataLen // gap
          else {
            val body = buf.duplicate().order(ByteOrder.LITTLE_ENDIAN)
            body.position(q + msgHeader).limit(q + msgHeader + msize)
            val sliced = body.slice().order(ByteOrder.LITTLE_ENDIAN)
            if (mtype == 0x10)
              blocks = blocks :+ ((sliced.getLong(0), sliced.getLong(8), true))
            else out += ((mtype, sliced))
            q += msgHeader + msize
          }
        }
      }
      out.result()
    }

    // ---- message parsers ----

    private def parseDataspace(b: ByteBuffer): Vector[Int] = {
      val version = b.get(0) & 0xFF
      val rank = b.get(1) & 0xFF
      version match {
        case 1 => (0 until rank).map(i => b.getLong(8 + i * 8).toInt).toVector
        case 2 => (0 until rank).map(i => b.getLong(4 + i * 8).toInt).toVector
        case v => throw new UnsupportedOperationException(s"dataspace v$v")
      }
    }

    private def parseDatatype(b: ByteBuffer, off: Int = 0): TypeInfo =
      parseDatatypeSized(b, off)._1

    /** Parse a datatype message, returning the type AND its encoded
      * length (nested types — enum base, compound members, array
      * elements — need the length to find what follows). */
    private def parseDatatypeSized(b: ByteBuffer, off: Int,
                                   depth: Int = 0): (TypeInfo, Int) = {
      // nested types (compound members, vlen/array/enum bases) recurse;
      // a crafted file must hit a named error, never a StackOverflow
      require(depth <= 64, "corrupt datatype: nesting deeper than 64 levels")
      val classAndVersion = b.get(off) & 0xFF
      val cls = classAndVersion & 0x0F
      val version = (classAndVersion >> 4) & 0x0F
      val bits0 = b.get(off + 1) & 0xFF
      val bits8 = b.get(off + 2) & 0xFF
      val size = b.getInt(off + 4)
      def pad8(n: Int): Int = (n + 7) & ~7
      def cString(p: Int): String = {
        val sb = new StringBuilder
        var q = p
        while ((b.get(q) & 0xFF) != 0) { sb.append(b.get(q).toChar); q += 1 }
        sb.toString
      }
      cls match {
        case 0 => (FixedPoint(size, (bits0 & 1) == 1, (bits0 & 0x8) != 0), 12)
        case 1 => (FloatType(size, (bits0 & 1) == 1), 20)
        case 3 => (StringType(size), 8)
        case 7 => (RefType(size), 8)
        case 9 =>
          val isString = (bits0 & 0x0F) == 1
          val (base, bl) = parseDatatypeSized(b, off + 8, depth + 1)
          (VlenType(isString, base), 8 + bl)
        case 6 => // compound: N members of (name, byte offset, type)
          val n = bits0 | (bits8 << 8)
          require(n >= 1 && n <= 1024, s"corrupt compound datatype: $n members")
          require(size >= 1 && size <= (1 << 26),
            s"corrupt compound datatype size $size")
          // v3 stores member offsets in the fewest bytes that hold the
          // compound's total size
          val offBytes =
            if (size < 256) 1 else if (size < 65536) 2
            else if (size < (1 << 24)) 3 else 4
          var p = off + 8
          val members = Vector.newBuilder[(String, Int, TypeInfo)]
          (0 until n).foreach { _ =>
            val name = cString(p)
            p += (if (version >= 3) name.length + 1 else pad8(name.length + 1))
            val mOff = version match {
              case 3 =>
                var v = 0
                (0 until offBytes).foreach(i => v |= (b.get(p + i) & 0xFF) << (8 * i))
                p += offBytes
                v
              case _ => val v = b.getInt(p); p += 4; v
            }
            if (version == 1) {
              val dimensionality = b.get(p) & 0xFF
              require(dimensionality == 0,
                "compound member with old-style (v1) array dims not supported")
              p += 28 // dimensionality(1)+reserved(3)+perm(4)+reserved(4)+4 dims
            }
            // nested compounds recurse to ANY depth (r15c) under the
            // shared 64-level cap — ICESat-2-family granules carry
            // struct-of-struct-of-struct records
            val (mt, ml) = parseDatatypeSized(b, p, depth + 1)
            require(mt.size >= 1 && mOff >= 0 && mOff.toLong + mt.size <= size,
              s"corrupt compound datatype: member at $mOff+${mt.size} exceeds size $size")
            p += ml
            members += ((name, mOff, mt))
          }
          (CompoundType(size, members.result()), p - off)
        case 8 => // enum: integer base + N (name, value) pairs
          val n = bits0 | (bits8 << 8)
          require(n >= 1 && n <= 65535, s"corrupt enum datatype: $n members")
          val (base, bl) = parseDatatypeSized(b, off + 8, depth + 1)
          require(base.isInstanceOf[FixedPoint],
            s"enum base must be fixed-point, got $base")
          // the value decode below matches on base.size — a corrupt size
          // (e.g. 3) must be a named error, not a crash-class MatchError
          require(base.size == 1 || base.size == 2 || base.size == 4 ||
              base.size == 8,
            s"corrupt enum datatype: base size ${base.size}")
          var p = off + 8 + bl
          val names = Vector.newBuilder[String]
          (0 until n).foreach { _ =>
            val name = cString(p)
            p += (if (version >= 3) name.length + 1 else pad8(name.length + 1))
            names += name
          }
          val fp = base.asInstanceOf[FixedPoint]
          val bo = if (fp.bigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN
          val vals = Vector.newBuilder[Long]
          (0 until n).foreach { i =>
            val q = p + i * base.size
            val d = b.duplicate().order(bo)
            vals += (base.size match {
              case 1 => if (fp.signed) d.get(q).toLong else (d.get(q) & 0xFF).toLong
              case 2 => if (fp.signed) d.getShort(q).toLong else (d.getShort(q) & 0xFFFF).toLong
              case 4 => if (fp.signed) d.getInt(q).toLong else d.getInt(q) & 0xFFFFFFFFL
              case 8 => d.getLong(q)
            })
          }
          p += n * base.size
          (EnumType(base, names.result(), vals.result()), p - off)
        case 10 => // array: fixed dims + base type
          val rank = b.get(off + 8) & 0xFF
          require(rank >= 1 && rank <= 32, s"corrupt array datatype rank $rank")
          var p = off + (if (version >= 3) 9 else 12) // v2 has 3 reserved bytes
          val dims = (0 until rank).map { i => b.getInt(p + i * 4) }.toVector
          p += rank * 4
          if (version < 3) p += rank * 4 // v2 permutation indices (unused)
          dims.foreach(d => require(d >= 1 && d <= (1 << 24),
            s"corrupt array datatype dim $d"))
          require(dims.foldLeft(1L)(_ * _) <= (1 << 24),
            s"array datatype too large: ${dims.mkString("x")}")
          val (base, bl) = parseDatatypeSized(b, p, depth + 1)
          base match {
            case _: ArrayType | _: CompoundType | _: VlenType =>
              throw new UnsupportedOperationException(
                s"array datatype over $base not supported")
            case _ =>
          }
          (ArrayType(base, dims), p + bl - off)
        case c => throw new UnsupportedOperationException(s"datatype class $c")
      }
    }

    private def parseLayout(b: ByteBuffer): Layout = {
      val version = b.get(0) & 0xFF
      require(version == 3 || version == 4,
        s"layout message v$version (v3/v4 supported)")
      (b.get(1) & 0xFF) match {
        case 0 if version == 3 =>
          val size = b.getShort(2) & 0xFFFF
          val data = new Array[Byte](size)
          b.position(4); b.get(data); b.position(0)
          Compact(data)
        case 0 => // v4 compact: same body as v3
          val size = b.getShort(2) & 0xFFFF
          val data = new Array[Byte](size)
          b.position(4); b.get(data); b.position(0)
          Compact(data)
        case 1 => Contiguous(b.getLong(2), b.getLong(10))
        case 2 if version == 3 =>
          val dimensionality = b.get(2) & 0xFF // rank + 1
          val btree = b.getLong(3)
          val dims = (0 until dimensionality - 1)
            .map(i => b.getInt(11 + i * 4)).toVector
          val elemSize = b.getInt(11 + (dimensionality - 1) * 4)
          Chunked(btree, dims, elemSize)
        case 2 => // v4 chunked (libhdf5 1.10+): variable-width dims +
          // a chunk INDEX instead of the v1 B-tree
          val flags = b.get(2) & 0xFF
          val ndims = b.get(3) & 0xFF // rank + 1 (elem size is last, as v3)
          val encLen = b.get(4) & 0xFF
          require(ndims >= 2 && ndims <= 33,
            s"corrupt v4 layout: dimensionality $ndims")
          require(encLen >= 1 && encLen <= 8,
            s"corrupt v4 layout: $encLen-byte dim encoding")
          def dimAt(k: Int): Long = {
            var v = 0L
            var i = 0
            while (i < encLen) { // little-endian variable-width
              v |= (b.get(5 + k * encLen + i) & 0xFFL) << (8 * i)
              i += 1
            }
            v
          }
          val allDims = (0 until ndims).map(dimAt)
          allDims.foreach(d => require(d >= 1 && d <= Int.MaxValue,
            s"corrupt v4 layout: chunk dim $d"))
          val dims = allDims.dropRight(1).map(_.toInt).toVector
          val elemSize = allDims.last.toInt
          var p = 5 + ndims * encLen
          val idxType = b.get(p) & 0xFF; p += 1
          var singleSize = -1L; var singleMask = 0; var pageBits = 0
          var ea: Option[HDF5Writer.EaParams] = None
          idxType match {
            case 1 => // single chunk: filtered variants carry size+mask
              if ((flags & 0x02) != 0) {
                singleSize = b.getLong(p); p += 8
                singleMask = b.getInt(p); p += 4
              }
            case 2 => // implicit: no parameters
            case 3 => // fixed array: data-block page size (log2)
              pageBits = b.get(p) & 0xFF; p += 1
              require(pageBits >= 1 && pageBits <= 32,
                s"corrupt v4 layout: fixed-array page bits $pageBits")
            case 4 => // extensible array (one unlimited dim): the five
              // creation-parameter bytes — max bits, index elements,
              // min pointers, min elements, page bits
              require(b.limit() - p >= 5 + 8,
                "corrupt v4 layout: truncated extensible-array parameters")
              val maxBits = b.get(p) & 0xFF
              val idxElmts = b.get(p + 1) & 0xFF
              val minPtrs = b.get(p + 2) & 0xFF
              val minElmts = b.get(p + 3) & 0xFF
              val eaPage = b.get(p + 4) & 0xFF
              p += 5
              require(maxBits >= 1 && maxBits <= 64,
                s"corrupt v4 layout: extensible-array max bits $maxBits")
              require(eaPage >= 1 && eaPage <= 32,
                s"corrupt v4 layout: extensible-array page bits $eaPage")
              require(minPtrs >= 2 && (minPtrs & (minPtrs - 1)) == 0,
                s"corrupt v4 layout: extensible-array min pointers $minPtrs")
              require(minElmts >= 1 && (minElmts & (minElmts - 1)) == 0,
                s"corrupt v4 layout: extensible-array min elements $minElmts")
              ea = Some(HDF5Writer.EaParams(maxBits, idxElmts, minPtrs,
                minElmts, eaPage))
            case 5 => // v2 B-tree: node size + split/merge percents
              p += 6
            case t => throw new UnsupportedOperationException(
              s"HDF5 v4 layout: unknown chunk index type $t")
          }
          val addr = b.getLong(p)
          Chunked(addr, dims, elemSize, indexType = idxType,
            pageBits = pageBits, singleSize = singleSize,
            singleMask = singleMask, ea = ea)
        case c => throw new UnsupportedOperationException(s"layout class $c")
      }
    }

    private def parseFilters(b: ByteBuffer): Vector[Filter] = {
      val version = b.get(0) & 0xFF
      val n = b.get(1) & 0xFF
      val out = Vector.newBuilder[Filter]
      var p = if (version == 1) 8 else 2
      (0 until n).foreach { _ =>
        val id = b.getShort(p) & 0xFFFF
        val nameLen =
          if (version == 1 || id >= 256) { val v = b.getShort(p + 2) & 0xFFFF; p += 4; v }
          else { p += 2; 0 }
        p += 2 // flags
        val nValues = b.getShort(p) & 0xFFFF; p += 2
        val paddedName =
          if (version == 1) (nameLen + 7) / 8 * 8 else nameLen
        p += paddedName
        val values = (0 until nValues).map(i => b.getInt(p + i * 4)).toVector
        p += nValues * 4
        if (version == 1 && nValues % 2 == 1) p += 4
        out += Filter(id, values)
      }
      out.result()
    }

    /** Attribute message -> (name, datatype, dataspace dims, raw data). */
    private def parseAttribute(b: ByteBuffer): (String, TypeInfo, Vector[Int], ByteBuffer) = {
      val version = b.get(0) & 0xFF
      val (nameSize, dtSize, dsSize, headerLen, pad) = version match {
        case 1 => (b.getShort(2) & 0xFFFF, b.getShort(4) & 0xFFFF, b.getShort(6) & 0xFFFF, 8, true)
        case 2 => (b.getShort(2) & 0xFFFF, b.getShort(4) & 0xFFFF, b.getShort(6) & 0xFFFF, 8, false)
        case 3 => (b.getShort(2) & 0xFFFF, b.getShort(4) & 0xFFFF, b.getShort(6) & 0xFFFF, 9, false)
        case v => throw new UnsupportedOperationException(s"attribute v$v")
      }
      def padded(x: Int): Int = if (pad) (x + 7) / 8 * 8 else x
      var p = headerLen
      val nameBytes = new Array[Byte](nameSize)
      b.position(p); b.get(nameBytes); b.position(0)
      val name = new String(nameBytes, "UTF-8").takeWhile(_ != 0)
      p += padded(nameSize)
      val dt = {
        val d = b.duplicate().order(ByteOrder.LITTLE_ENDIAN)
        d.position(p); d.slice().order(ByteOrder.LITTLE_ENDIAN)
      }
      val dtype = parseDatatype(dt)
      p += padded(dtSize)
      val ds = {
        val d = b.duplicate().order(ByteOrder.LITTLE_ENDIAN)
        d.position(p); d.slice().order(ByteOrder.LITTLE_ENDIAN)
      }
      val dims = parseDataspace(ds)
      p += padded(dsSize)
      val data = b.duplicate().order(ByteOrder.LITTLE_ENDIAN)
      data.position(p)
      (name, dtype, dims, data.slice().order(ByteOrder.LITTLE_ENDIAN))
    }

    // ---- groups ----

    private def readSymbolTable(btreeAddr: Long, heapAddr: Long): Vector[(String, Long)] = {
      // local heap: data segment address at offset 8+8+8 of "HEAP"
      val heap = readAt(heapAddr, 32)
      val hsig = new Array[Byte](4); heap.get(hsig)
      require(java.util.Arrays.equals(hsig, "HEAP".getBytes("ASCII")), "local heap")
      val heapData = heap.getLong(24)
      val fileSize = ch.size()
      def heapString(off: Long): String = {
        val bytes = Vector.newBuilder[Byte]
        var p = heapData + off
        var done = false
        while (!done) {
          // clamp: a name ending near EOF must not read past the file
          val want = math.min(64L, fileSize - p).toInt
          require(want > 0, s"heap string at $p runs past EOF")
          val chunk = readAt(p, want)
          var i = 0
          while (i < want && !done) {
            val c = chunk.get(i)
            if (c == 0) done = true else bytes += c
            i += 1
          }
          p += want
        }
        new String(bytes.result().toArray, "UTF-8")
      }
      def walkBtree(addr: Long): Vector[(String, Long)] = {
        val head = readAt(addr, 24)
        val sig = new Array[Byte](4); head.get(sig)
        require(java.util.Arrays.equals(sig, "TREE".getBytes("ASCII")), "group btree")
        val level = head.get(5) & 0xFF
        val used = head.getShort(6) & 0xFFFF
        // keys/children: key[L] child[O] ... key[L]; children start at 24+8
        val body = readAt(addr + 24, (used * 2 + 1) * 8)
        (0 until used).toVector.flatMap { i =>
          val child = body.getLong(8 + i * 16)
          if (level > 0) walkBtree(child)
          else {
            // symbol table node
            val snod = readAt(child, 8)
            val ssig = new Array[Byte](4); snod.get(ssig)
            require(java.util.Arrays.equals(ssig, "SNOD".getBytes("ASCII")), "SNOD")
            val nsym = snod.getShort(6) & 0xFFFF
            val entries = readAt(child + 8, nsym * 40)
            (0 until nsym).toVector.map { k =>
              val nameOff = entries.getLong(k * 40)
              val objAddr = entries.getLong(k * 40 + 8)
              heapString(nameOff) -> objAddr
            }
          }
        }
      }
      walkBtree(btreeAddr)
    }

    private def parseLink(b: ByteBuffer): Option[(String, Long)] = {
      require((b.get(0) & 0xFF) == 1, "link message v1")
      val flags = b.get(1) & 0xFF
      var p = 2
      val linkType = if ((flags & 0x8) != 0) { val t = b.get(p) & 0xFF; p += 1; t } else 0
      if ((flags & 0x4) != 0) p += 8 // creation order
      if ((flags & 0x10) != 0) p += 1 // charset
      val lenBytes = 1 << (flags & 0x3)
      val nameLen = lenBytes match {
        case 1 => b.get(p) & 0xFFL
        case 2 => b.getShort(p) & 0xFFFFL
        case 4 => b.getInt(p) & 0xFFFFFFFFL
        case 8 => b.getLong(p)
      }
      p += lenBytes
      require(nameLen >= 0 && nameLen <= b.limit() - p,
        s"corrupt link message: name length $nameLen with ${b.limit() - p} bytes left")
      val nameBytes = new Array[Byte](nameLen.toInt)
      b.position(p); b.get(nameBytes); b.position(0)
      p += nameLen.toInt
      if (linkType == 0) Some(new String(nameBytes, "UTF-8") -> b.getLong(p))
      else None // soft/external links ignored
    }

    // ---- dense (fractal-heap) groups ----

    /** Minimal bytes to encode `v` (HDF5's H5VM_limit_enc_size). */
    private def encBytes(v: Long): Int = {
      var n = 1; var x = v >>> 8
      while (x != 0) { n += 1; x >>>= 8 }
      n
    }

    private def readUnsigned(b: ByteBuffer, off: Int, len: Int): Long = {
      var v = 0L; var i = 0
      while (i < len) { v |= (b.get(off + i) & 0xFFL) << (8 * i); i += 1 }
      v
    }

    /** Enumerate a dense group's links: v2 B-tree (link NAME index,
      * record = 4-byte lookup3 hash + fractal-heap ID) enumerates the
      * heap IDs, each resolving through the fractal heap's doubling
      * table to one serialized Link message — the storage netCDF-4
      * switches to past the compact/symbol-table threshold (h5py reads
      * it natively; spec III.F/III.G/III.A.2). */
    private def readDenseLinks(fheapAddr: Long, nameBtAddr: Long): Vector[(String, Long)] =
      denseHeapObjects(fheapAddr, nameBtAddr, btreeType = 5)
        .flatMap(parseLink).sortBy(_._1)

    /** Enumerate an object's DENSE attributes (spec III.G/IV.A.2.v —
      * the storage libhdf5 switches to past 8 compact attributes, which
      * CF-compliant NetCDF-4 variables hit routinely): the attribute
      * NAME index is a v2 B-tree of type-8 records (8-byte heap-id
      * field + message flags + creation order + name hash) over a
      * fractal heap whose objects are serialized Attribute messages —
      * the same heap machinery as dense links, different record type. */
    private def readDenseAttributes(fheapAddr: Long, nameBtAddr: Long)
        : Vector[(String, TypeInfo, Vector[Int], ByteBuffer)] =
      denseHeapObjects(fheapAddr, nameBtAddr, btreeType = 8)
        .map(parseAttribute).sortBy(_._1)

    /** Resolve every object a dense-storage name index references:
      * fractal-heap doubling-table walk + v2 B-tree record enumeration.
      * `btreeType` 5 = link name index (record: hash4 + heap id at
      * offset 4), 8 = attribute name index (record: spec-fixed 8-byte
      * heap-id field at offset 0 + flags1 + corder4 + hash4). Supported
      * surface: managed + huge (btree-indirect or direct id) + tiny
      * (id-inline) heap objects, filtered AND unfiltered heaps,
      * doubling tables at ANY nesting depth, B-trees at ANY depth. */
    private def denseHeapObjects(fheapAddr: Long, nameBtAddr: Long,
                                 btreeType: Int): Vector[ByteBuffer] = {
      require(nameBtAddr != Undefined,
        "dense storage: info message carries no name-index btree")
      // -- fractal heap header (FRHP) --
      val h = readAt(fheapAddr, 146)
      val hsig = new Array[Byte](4); h.get(hsig)
      require(java.util.Arrays.equals(hsig, "FRHP".getBytes("ASCII")),
        "fractal heap signature")
      require((h.get(4) & 0xFF) == 0, "fractal heap version")
      val heapIdLen = h.getShort(5) & 0xFFFF
      val ioFilterLen = h.getShort(7) & 0xFFFF
      val maxManagedObj = h.getInt(10) & 0xFFFFFFFFL
      val hugeBtAddr = h.getLong(22)
      val tableWidth = h.getShort(110) & 0xFFFF
      val startBlockSize = h.getLong(112)
      val maxDirectSize = h.getLong(120)
      val maxHeapBits = h.getShort(128) & 0xFFFF
      val rootAddr = h.getLong(132)
      val curRows = h.getShort(140) & 0xFFFF
      val offSize = (maxHeapBits + 7) / 8
      val lenSize = encBytes(math.min(maxDirectSize, maxManagedObj))
      // FILTERED heaps (ioFilterLen > 0): direct blocks are stored
      // through an I/O pipeline (the dataset filter machinery reused —
      // libhdf5 groups created with H5Pset_deflate land here). The
      // header grows a [filtered root size (8) + filter mask (4)] pair
      // when the root is itself a direct block, then the encoded filter
      // pipeline; indirect-block entries for direct children grow the
      // same (size, mask) pair per entry.
      val rootIsDirect = rootAddr != Undefined && curRows == 0
      val (heapFilters, rootFilteredSize, rootFilterMask) =
        if (ioFilterLen == 0) (Vector.empty[Filter], -1L, 0)
        else {
          val extraLen = (if (rootIsDirect) 12 else 0) + ioFilterLen
          val extra = readAt(fheapAddr + 142, extraLen)
          val infoOff = if (rootIsDirect) 12 else 0
          val info = {
            val d = extra.duplicate().order(ByteOrder.LITTLE_ENDIAN)
            d.position(infoOff)
            d.slice().order(ByteOrder.LITTLE_ENDIAN)
          }
          val flt =
            try parseFilters(info)
            catch {
              case e: RuntimeException => throw new IllegalArgumentException(
                "corrupt fractal-heap filter info: " +
                  s"${e.getClass.getSimpleName}")
            }
          (flt,
            if (rootIsDirect) extra.getLong(0) else -1L,
            if (rootIsDirect) extra.getInt(8) else 0)
        }
      // -- doubling table: (blockOffset, blockSize, fileAddr) per direct
      // block, walked RECURSIVELY: every indirect block's rows restart at
      // the table's row 0 (sizes S, S, 2S, 4S, ...); rows past
      // maxDirectRows hold child INDIRECT blocks, each covering
      // rowSize(r) bytes of linear heap space — a child covering Z bytes
      // has log2(Z) − log2(S·W) + 1 rows (the spec identity
      // W·S·2^(n−1) = Z; real libhdf5 link heaps nest past a few
      // thousand links) --
      def rowSize(r: Int): Long =
        if (r < 2) startBlockSize else startBlockSize << (r - 1)
      def log2(v: Long): Int = 63 - java.lang.Long.numberOfLeadingZeros(v)
      val maxDirectRows = log2(maxDirectSize) - log2(startBlockSize) + 2
      require(startBlockSize > 0 && maxDirectSize >= startBlockSize &&
        java.lang.Long.bitCount(startBlockSize) == 1 &&
        tableWidth > 0 && Integer.bitCount(tableWidth) == 1,
        s"fractal heap geometry (start $startBlockSize, max $maxDirectSize, " +
          s"width $tableWidth)")
      // per direct block: (heap offset, logical size, file address,
      // stored size, filter mask) — stored size −1 on unfiltered heaps
      // (the block is its logical size on disk)
      val filtered = heapFilters.nonEmpty
      def walkIblock(addr: Long, baseOff: Long, nrows: Int,
                     depth: Int): Vector[(Long, Long, Long, Long, Int)] = {
        require(depth <= 16, "fractal heap indirect nesting too deep")
        val ihead = readAt(addr, 13 + offSize)
        val isig = new Array[Byte](4); ihead.get(isig)
        require(java.util.Arrays.equals(isig, "FHIB".getBytes("ASCII")),
          "fractal heap indirect block signature")
        val recorded = readUnsigned(ihead, 13, offSize)
        require(recorded == baseOff,
          s"indirect block offset $recorded != table offset $baseOff")
        // entry widths differ per row class on FILTERED heaps: direct
        // children carry (addr, stored size, filter mask)
        val directEntry = if (filtered) 20 else 8
        val nDirectRows = math.min(nrows, maxDirectRows.toInt)
        val tableBytes = nDirectRows * tableWidth * directEntry +
          math.max(0, nrows - nDirectRows) * tableWidth * 8
        val entries = readAt(addr + 13 + offSize, tableBytes)
        var off = baseOff
        var ep = 0
        (0 until nrows * tableWidth).toVector.flatMap { i =>
          val r = i / tableWidth
          val sz = rowSize(r)
          val blockOff = off
          off += sz
          if (r < maxDirectRows) {
            val child = entries.getLong(ep)
            val (stored, mask) =
              if (filtered) (entries.getLong(ep + 8), entries.getInt(ep + 16))
              else (-1L, 0)
            ep += directEntry
            if (child == Undefined) Vector.empty
            else Vector((blockOff, sz, child, stored, mask))
          } else {
            val child = entries.getLong(ep)
            ep += 8
            if (child == Undefined) Vector.empty
            else {
              val childRows = log2(sz) - log2(startBlockSize) -
                log2(tableWidth.toLong) + 1
              require(childRows >= 1 && java.lang.Long.bitCount(sz) == 1,
                s"indirect child at row $r covers $sz bytes — not a table size")
              walkIblock(child, blockOff, childRows, depth + 1)
            }
          }
        }
      }
      val directBlocks: Vector[(Long, Long, Long, Long, Int)] =
        if (rootAddr == Undefined) Vector.empty
        else if (curRows == 0)
          Vector((0L, startBlockSize, rootAddr,
            if (filtered) rootFilteredSize else -1L, rootFilterMask))
        else walkIblock(rootAddr, 0L, curRows, 0)
      // filtered blocks decompress ONCE (memoized) through the dataset
      // filter machinery; unfiltered blocks read straight from the file
      val blockCache = scala.collection.mutable.Map.empty[Int, Array[Byte]]
      def blockBytes(i: Int): Array[Byte] =
        blockCache.getOrElseUpdate(i, {
          val (_, logical, addr, stored, mask) = directBlocks(i)
          require(stored > 0 && stored <= Int.MaxValue,
            s"filtered direct block stored size $stored out of range")
          val raw = new Array[Byte](stored.toInt)
          readAt(addr, stored.toInt).get(raw)
          val out = defilter(raw, heapFilters, mask, 1, logical.toInt)
          require(out.length == logical,
            s"filtered direct block inflated to ${out.length} bytes, " +
              s"logical size is $logical")
          out
        })
      // validate each direct block's signature + recorded offset once
      directBlocks.indices.foreach { i =>
        val (blockOff, _, addr, _, _) = directBlocks(i)
        val d =
          if (filtered) ByteBuffer.wrap(blockBytes(i), 0, 13 + offSize)
            .order(ByteOrder.LITTLE_ENDIAN)
          else readAt(addr, 13 + offSize)
        val dsig = new Array[Byte](4); d.get(dsig)
        require(java.util.Arrays.equals(dsig, "FHDB".getBytes("ASCII")),
          "fractal heap direct block signature")
        val recorded = readUnsigned(d, 13, offSize)
        require(recorded == blockOff,
          s"direct block offset $recorded != table offset $blockOff")
      }
      // heap offsets address the heap's linear space INCLUDING each
      // block's header bytes: file = blockAddr + (heapOff - blockOff).
      // Binary search over the offset-ordered block table: a linear scan
      // here is O(objects × blocks) — measured 9× superlinear growth on
      // a 20k-link group (SCALE_r12 §4) before this fix
      val blockOffs: Array[Long] = directBlocks.map(_._1).toArray
      def readObject(heapOff: Long, len: Int): ByteBuffer = {
        val i0 = java.util.Arrays.binarySearch(blockOffs, heapOff)
        val i = if (i0 >= 0) i0 else -i0 - 2
        val ok = i >= 0 && i < directBlocks.length && {
          val (bo, sz, _, _, _) = directBlocks(i)
          heapOff >= bo && heapOff + len <= bo + sz
        }
        if (!ok) throw new IllegalArgumentException(
          s"fractal heap offset $heapOff+$len outside every direct block")
        val (bo, _, addr, _, _) = directBlocks(i)
        if (filtered)
          ByteBuffer.wrap(blockBytes(i), (heapOff - bo).toInt, len)
            .slice().order(ByteOrder.LITTLE_ENDIAN)
        else readAt(addr + (heapOff - bo), len)
      }
      // -- v2 B-tree (name index, record type 5: hash4 + heap id) --
      val (recSize, records) = walkV2Btree(nameBtAddr, btreeType)
      // record geometry: type 5 = [hash4][heap id]; type 8 = [heap-id
      // field (recSize - 9, spec-fixed 8 in libhdf5 files)][flags1]
      // [corder4][hash4]
      val idOff = if (btreeType == 5) 4 else 0
      val idField = if (btreeType == 5) recSize - 4 else recSize - 9
      // huge (> maxManagedObj) objects live OUTSIDE the heap blocks in
      // standalone allocations keyed by a separate v2 B-tree (record
      // type 1: address + length + huge id, libhdf5 H5HF_HUGE_BT2_INDIR)
      // — loaded lazily, only dense storage that actually went huge
      // (e.g. a > 4 KiB attribute value) pays the walk
      lazy val hugeObjects: Map[Long, (Long, Long)] = {
        require(hugeBtAddr != Undefined,
          "huge fractal-heap id with no huge-object btree in the header")
        val (hrec, hrs) = walkV2Btree(hugeBtAddr, 1)
        require(hrec >= 24, s"huge-object btree record size $hrec < 24")
        hrs.map(r => (r.getLong(16), (r.getLong(0), r.getLong(8)))).toMap
      }
      // -- resolve each heap ID to its serialized message --
      records.map { r =>
        val idFlags = r.get(idOff) & 0xFF
        require((idFlags & 0xC0) == 0,
          s"fractal heap id version ${(idFlags & 0xC0) >> 6} != 0")
        (idFlags & 0x30) >> 4 match {
          case 0 => // managed: (offset, length) into the direct blocks
            require(heapIdLen >= 1 + offSize + lenSize,
              s"fractal heap id length $heapIdLen < 1+$offSize+$lenSize")
            require(idField >= 1 + offSize + lenSize,
              s"name-index heap-id field $idField < 1+$offSize+$lenSize " +
                s"(record size $recSize)")
            val heapOff = readUnsigned(r, idOff + 1, offSize)
            val objLen = readUnsigned(r, idOff + 1 + offSize, lenSize).toInt
            readObject(heapOff, objLen)
          case 1 => // huge: standalone block, indirect (btree) or direct id
            if (hugeBtAddr != Undefined) {
              val hid = readUnsigned(r, idOff + 1, math.min(8, idField - 1))
              val (addr, len) = hugeObjects.getOrElse(hid,
                throw new IllegalArgumentException(
                  s"huge fractal-heap id $hid not in the huge-object btree"))
              require(len > 0 && len <= Int.MaxValue,
                s"huge object length $len out of range")
              readAt(addr, len.toInt)
            } else { // directly-accessed: [flags][addr 8][len 8] inline
              require(idField >= 17,
                s"direct huge heap id needs 17 bytes, field is $idField")
              val addr = readUnsigned(r, idOff + 1, 8)
              val len = readUnsigned(r, idOff + 9, 8)
              require(len > 0 && len <= Int.MaxValue,
                s"huge object length $len out of range")
              readAt(addr, len.toInt)
            }
          case 2 => // tiny: payload inline in the id itself
            val (len, payloadOff) =
              if (heapIdLen <= 18) ((idFlags & 0x0F) + 1, idOff + 1)
              else // extended tiny: 12-bit length, one extra header byte
                ((((idFlags & 0x0F) << 8) | (r.get(idOff + 1) & 0xFF)) + 1,
                  idOff + 2)
            require(payloadOff - idOff + len <= idField,
              s"tiny heap object length $len overflows the ${idField}-byte id")
            val s = r.duplicate().order(ByteOrder.LITTLE_ENDIAN)
            s.position(payloadOff)
            val out = s.slice().order(ByteOrder.LITTLE_ENDIAN)
            out.limit(len)
            out
          case t => throw new UnsupportedOperationException(
            s"fractal heap id type $t not supported")
        }
      }
    }

    /** Generic v2 B-tree record enumeration (spec III.A.2) at ANY depth:
      * internal (BTIN) nodes carry N records + N+1 child pointers whose
      * field widths derive from the spec's capacity formulas — child
      * record count in the minimum bytes for a depth-(d-1) node's max
      * records, plus (for children that are themselves internal, d ≥ 2)
      * a child TOTAL count in the minimum bytes for a depth-(d-1)
      * subtree's max total. Returns (recordSize, records in tree order).
      * Depth ≥ 2 appears past ~10⁵ same-group links — big-ensemble
      * NetCDF-4 files hit it. */
    private def walkV2Btree(btAddr: Long, btreeType: Int): (Int, Vector[ByteBuffer]) = {
      val bt = readAt(btAddr, 38)
      val bsig = new Array[Byte](4); bt.get(bsig)
      require(java.util.Arrays.equals(bsig, "BTHD".getBytes("ASCII")),
        "v2 btree header signature")
      require((bt.get(5) & 0xFF) == btreeType,
        s"v2 btree type ${bt.get(5) & 0xFF} != expected $btreeType")
      val nodeSize = bt.getInt(6)
      val recSize = bt.getShort(10) & 0xFFFF
      val depth = bt.getShort(12) & 0xFFFF
      val btRootAddr = bt.getLong(16)
      val rootNRec = bt.getShort(24) & 0xFFFF
      require(nodeSize > 10 && recSize >= 1, s"v2 btree geometry " +
        s"(node $nodeSize, record $recSize)")
      // spec capacity ladder: leaves hold (nodeSize-10)/recSize records;
      // an internal node at depth k holds N records + N+1 pointers of
      // ptrSize(k) bytes, N = (nodeSize-10-ptrSize) / (recSize+ptrSize)
      val maxNrec = new Array[Long](depth + 1)
      val maxTot = new Array[Long](depth + 1)
      maxNrec(0) = ((nodeSize - 10) / recSize).toLong
      maxTot(0) = maxNrec(0)
      require(maxNrec(0) >= 1, s"v2 btree node size $nodeSize too small " +
        s"for record size $recSize")
      var k = 1
      while (k <= depth) {
        val ptr = 8 + encBytes(maxNrec(k - 1)) +
          (if (k >= 2) encBytes(maxTot(k - 1)) else 0)
        maxNrec(k) = (nodeSize - 10 - ptr) / (recSize + ptr)
        require(maxNrec(k) >= 1,
          s"v2 btree internal capacity 0 at depth $k (node $nodeSize)")
        maxTot(k) = maxNrec(k) + (maxNrec(k) + 1) * maxTot(k - 1)
        k += 1
      }
      def sliceRecs(buf: ByteBuffer, nrec: Int): Vector[ByteBuffer] =
        (0 until nrec).toVector.map { i =>
          val r = buf.duplicate().order(ByteOrder.LITTLE_ENDIAN)
          r.position(6 + i * recSize)
          val s = r.slice().order(ByteOrder.LITTLE_ENDIAN)
          s.limit(recSize)
          s
        }
      def walk(addr: Long, nrec: Int, d: Int): Vector[ByteBuffer] =
        if (d == 0) {
          val lf = readAt(addr, 6 + nrec * recSize)
          val lsig = new Array[Byte](4); lf.get(lsig)
          require(java.util.Arrays.equals(lsig, "BTLF".getBytes("ASCII")),
            "v2 btree leaf signature")
          sliceRecs(lf, nrec)
        } else {
          val nrecW = encBytes(maxNrec(d - 1))
          val totW = if (d >= 2) encBytes(maxTot(d - 1)) else 0
          val ptrSize = 8 + nrecW + totW
          val sz = 6 + nrec * recSize + (nrec + 1) * ptrSize
          val nb = readAt(addr, sz)
          val nsig = new Array[Byte](4); nb.get(nsig)
          require(java.util.Arrays.equals(nsig, "BTIN".getBytes("ASCII")),
            "v2 btree internal signature")
          val ownRecs = sliceRecs(nb, nrec)
          val base = 6 + nrec * recSize
          val childRecs = (0 to nrec).toVector.flatMap { i =>
            val caddr = nb.getLong(base + i * ptrSize)
            val cnt = readUnsigned(nb, base + i * ptrSize + 8, nrecW).toInt
            walk(caddr, cnt, d - 1)
          }
          ownRecs ++ childRecs
        }
      val records =
        if (rootNRec == 0) Vector.empty[ByteBuffer]
        else walk(btRootAddr, rootNRec, depth)
      (recSize, records)
    }

    // ---- global heap (vlen attribute payloads) ----

    // one GCOL parse per collection, memoized: a 20k-variable file holds
    // 20k DIMENSION_LIST references into ONE collection, and re-reading +
    // re-scanning the whole collection per lookup was O(refs × heap
    // bytes) — measured as the dominant term of a 20k-link read
    // (3.8 s → 0.9 s after this cache; SCALE_r12 §4)
    private val gcolCache =
      scala.collection.mutable.Map.empty[Long, Map[Int, Array[Byte]]]

    private def globalHeapObject(collectionAddr: Long, index: Int): Array[Byte] = {
      val objects = gcolCache.getOrElseUpdate(collectionAddr, {
        val head = readAt(collectionAddr, 16)
        val sig = new Array[Byte](4); head.get(sig)
        require(java.util.Arrays.equals(sig, "GCOL".getBytes("ASCII")), "global heap")
        val size = head.getLong(8)
        val buf = readAt(collectionAddr, size.toInt)
        val out = Map.newBuilder[Int, Array[Byte]]
        var p = 16
        var done = false
        while (!done && p + 16 <= size) {
          val idx = buf.getShort(p) & 0xFFFF
          // free-space object (index 0) ends the scan: its recorded size
          // spans the header itself and the rest of the collection
          if (idx == 0) done = true
          else {
            val objSize = buf.getLong(p + 8)
            require(objSize >= 0 && objSize <= buf.limit() - p - 16,
              s"corrupt global heap: object size $objSize with " +
                s"${buf.limit() - p - 16} bytes left")
            val bytes = new Array[Byte](objSize.toInt)
            buf.position(p + 16); buf.get(bytes)
            out += idx -> bytes
            p += 16 + ((objSize + 7) / 8 * 8).toInt
          }
        }
        out.result()
      })
      // A truly-missing index is a dangling reference (the free-space
      // scan above ended without it) — fail by name rather than decode a
      // silently-empty payload.  Null vlen references (addr 0 / index 0)
      // never reach here: callers short-circuit them before the lookup.
      objects.getOrElse(index, throw new IllegalArgumentException(
        s"global heap collection at 0x${collectionAddr.toHexString} has " +
          s"no object with index $index (dangling heap reference)"))
    }

    // ---- attribute decoding ----

    private def decodeAttrValue(dtype: TypeInfo, dims: Vector[Int],
                                data: ByteBuffer): (AttrValue, Vector[Long]) = {
      // overflow-proof element count, bounded by the message body: every
      // attribute element occupies >= 1 body byte in all decoded layouts
      // (vlen records are 16) — a corrupt dataspace fails by name here
      // instead of reaching an allocation or a 10^8-element loop
      val nL = if (dims.isEmpty) 1L
        else dims.foldLeft(1L) { (a, d) =>
          if (d < 0 || a > Int.MaxValue) Long.MaxValue else a * d
        }
      require(nL >= 0 && nL <= data.limit().toLong.max(1L),
        s"corrupt attribute dataspace: ${dims.mkString("x")} elements " +
          s"in a ${data.limit()}-byte body")
      val n = nL.toInt
      dtype match {
        case StringType(sz) =>
          require(sz >= 0 && sz.toLong * n <= data.limit(),
            s"corrupt attribute: ${sz}x$n string bytes in ${data.limit()}-byte body")
          val bytes = new Array[Byte](sz * n)
          data.position(0); data.get(bytes); data.position(0)
          (AttrValue.AStr(new String(bytes, "UTF-8").takeWhile(_ != 0)), Vector.empty)
        case VlenType(true, _) =>
          // vlen string: one (len, gheap addr, index) record per element
          val strs = (0 until n).toVector.map(i =>
            AttrValue.AStr(globalHeapString(data, i)))
          (if (strs.length == 1) strs.head else AttrValue.AList(strs), Vector.empty)
        case VlenType(false, base) =>
          // vlen sequence — the DIMENSION_LIST case: elements are object refs
          val addrs = Vector.newBuilder[Long]
          (0 until n).foreach { i =>
            val nelems = data.getInt(i * 16)
            val gaddr = data.getLong(i * 16 + 4)
            val gidx = data.getInt(i * 16 + 12)
            // null vlen reference (h5py writes addr 0 / index 0 for an
            // empty sequence) — not a heap lookup
            val payload =
              if (gaddr == 0 || gidx == 0) Array.emptyByteArray
              else globalHeapObject(gaddr, gidx)
            val pb = ByteBuffer.wrap(payload).order(ByteOrder.LITTLE_ENDIAN)
            base match {
              case RefType(8) =>
                (0 until nelems).foreach(k => addrs += pb.getLong(k * 8))
              case _ => // non-reference vlen: ignored (netCDF4 doesn't use)
            }
          }
          (AttrValue.ANull, addrs.result())
        case FixedPoint(sz, be, signed) =>
          val vals = (0 until n).map { i =>
            val v = sz match {
              case 1 => if (signed) data.get(i).toLong else (data.get(i) & 0xFF).toLong
              case 2 => readShortAt(data, i * 2, be).toLong
              case 4 => readIntAt(data, i * 4, be).toLong
              case 8 => readLongAt(data, i * 8, be)
            }
            AttrValue.AInt(v)
          }.toVector
          (if (vals.length == 1) vals.head else AttrValue.AList(vals), Vector.empty)
        case FloatType(sz, be) =>
          val vals = (0 until n).map { i =>
            val v = sz match {
              case 4 => java.lang.Float.intBitsToFloat(readIntAt(data, i * 4, be)).toDouble
              case 8 => java.lang.Double.longBitsToDouble(readLongAt(data, i * 8, be))
            }
            AttrValue.ANum(v)
          }.toVector
          (if (vals.length == 1) vals.head else AttrValue.AList(vals), Vector.empty)
        case RefType(_) => (AttrValue.ANull, Vector((0 until n).map(i => data.getLong(i * 8)): _*))
        case other => (AttrValue.AStr(other.toString), Vector.empty)
      }
    }

    private def globalHeapString(data: ByteBuffer, elem: Int): String = {
      val gaddr = data.getLong(elem * 16 + 4)
      val gidx = data.getInt(elem * 16 + 12)
      if (gaddr == 0 || gidx == 0) "" // null vlen string reference
      else new String(globalHeapObject(gaddr, gidx), "UTF-8")
    }

    private def readShortAt(b: ByteBuffer, off: Int, be: Boolean): Short =
      if (be) java.lang.Short.reverseBytes(b.getShort(off)) else b.getShort(off)
    private def readIntAt(b: ByteBuffer, off: Int, be: Boolean): Int =
      if (be) Integer.reverseBytes(b.getInt(off)) else b.getInt(off)
    private def readLongAt(b: ByteBuffer, off: Int, be: Boolean): Long =
      if (be) java.lang.Long.reverseBytes(b.getLong(off)) else b.getLong(off)

    // ---- object assembly ----

    def readObject(addr: Long): ObjectInfo = {
      val msgs = headerMessages(addr)
      var dtype: Option[TypeInfo] = None
      var dims: Vector[Int] = Vector.empty
      var layout: Option[Layout] = None
      var filters: Vector[Filter] = Vector.empty
      var attrs = Map.empty[String, AttrValue]
      var dimList: Vector[Long] = Vector.empty
      var children: Vector[(String, Long)] = Vector.empty
      var fill: Option[Array[Byte]] = None
      msgs.foreach { case (mtype, b) =>
        mtype match {
          case 0x0001 => dims = parseDataspace(b)
          case 0x0003 => dtype = Some(parseDatatype(b))
          case 0x0005 =>
            // fill value: unwritten chunks read as this, not as zero.
            // v1 layout has NO defined flag (version, alloc time, write
            // time, size, data); v2 adds the defined byte; v3 uses flags
            val version = b.get(0) & 0xFF
            val (defined, sizeOff) = version match {
              case 1 => (true, 3)
              case 2 => ((b.get(3) & 0xFF) == 1, 4)
              case 3 => ((b.get(1) & 0x20) != 0, 2)
              case _ => (false, 0)
            }
            if (defined && b.limit() >= sizeOff + 4) {
              val sz = b.getInt(sizeOff)
              require(sz >= 0 && b.limit() >= sizeOff + 4 + sz,
                s"fill-value message truncated: size $sz, ${b.limit()} bytes")
              if (sz > 0) {
                val data = new Array[Byte](sz)
                b.position(sizeOff + 4); b.get(data); b.position(0)
                fill = Some(data)
              }
            }
          case 0x0008 => layout = Some(parseLayout(b))
          case 0x000B => filters = parseFilters(b)
          case 0x000C =>
            val (name, at, adims, adata) = parseAttribute(b)
            val (value, refs) = decodeAttrValue(at, adims, adata)
            if (name == "DIMENSION_LIST") dimList = refs
            else if (value != AttrValue.ANull) attrs += name -> value
          case 0x0011 => // symbol table: group children
            children = children ++ readSymbolTable(b.getLong(0), b.getLong(8))
          case 0x0006 => parseLink(b).foreach(children :+= _)
          case 0x0002 => // link info: dense (fractal-heap) storage
            val base = if ((b.get(1) & 0x1) != 0) 10 else 2
            val fheap = b.getLong(base)
            if (fheap != Undefined)
              children = children ++ readDenseLinks(fheap, b.getLong(base + 8))
          case 0x0015 =>
            // attribute info: DENSE attribute storage (r10 — read like
            // h5py does; libhdf5 switches past 8 compact attributes and
            // CF-compliant NetCDF-4 variables routinely carry more:
            // units, long_name, standard_name, _FillValue, scale/offset,
            // valid_range, cell_methods…). Each heap object is a
            // serialized Attribute message, decoded exactly like the
            // compact 0x000C path — DIMENSION_LIST included.
            val base = if ((b.get(1) & 0x1) != 0) 4 else 2
            val fheap = b.getLong(base)
            if (fheap != Undefined)
              readDenseAttributes(fheap, b.getLong(base + 8)).foreach {
                case (name, at, adims, adata) =>
                  val (value, refs) = decodeAttrValue(at, adims, adata)
                  if (name == "DIMENSION_LIST") dimList = refs
                  else if (value != AttrValue.ANull) attrs += name -> value
              }
          case _ => // group info, modification time... ignored
        }
      }
      ObjectInfo(addr, dtype, dims, layout, filters, attrs, dimList, children,
        fill)
    }

    // ---- chunk index (B-tree v1, node type 1) ----

    /** Enumerate a chunked dataset's chunk references. `shape` (the
      * dataspace dims) is required for the POSITIONAL v4 indexes
      * (single/implicit/fixed-array — they store no per-chunk offsets);
      * the v1 B-tree path ignores it (offsets live in the keys). */
    def chunkRefs(layout: Chunked, shape: Vector[Int] = Vector.empty): Vector[ChunkRef] =
      layout.indexType match {
        case 0 => btreeChunkRefs(layout)
        case 1 => // single chunk
          require(shape.nonEmpty, "single-chunk index needs the dataspace")
          shape.zip(layout.chunkDims).foreach { case (s, c) =>
            require(s <= c, s"single-chunk index but dataspace $shape " +
              s"exceeds the chunk ${layout.chunkDims}") }
          if (layout.btreeAddr == Undefined) Vector.empty
          else {
            val size =
              if (layout.singleSize >= 0) layout.singleSize
              else layout.chunkDims.map(_.toLong).product * layout.elemSize
            Vector(ChunkRef(Vector.fill(layout.chunkDims.length)(0L),
              layout.btreeAddr, size, layout.singleMask))
          }
        case 2 => // implicit: chunks packed at base in row-major grid order
          require(shape.nonEmpty, "implicit index needs the dataspace")
          if (layout.btreeAddr == Undefined) Vector.empty
          else {
            val chunkBytes =
              layout.chunkDims.map(_.toLong).product * layout.elemSize
            gridOffsets(shape, layout.chunkDims).zipWithIndex.map {
              case (off, k) =>
                ChunkRef(off, layout.btreeAddr + k * chunkBytes,
                  chunkBytes, 0)
            }
          }
        case 3 => fixedArrayChunkRefs(layout, shape)
        case 4 => extensibleArrayChunkRefs(layout, shape)
        case 5 => v2BtreeChunkRefs(layout)
        case t => throw new UnsupportedOperationException(
          s"chunk index type $t")
      }

    /** v2 B-tree chunk index (layout v4 type 5 — the multiple-unlimited-
      * dims case): record type 10 (non-filtered: addr + SCALED chunk
      * coordinates) or 11 (filtered: addr + stored size + mask + scaled
      * coordinates), walked by the same generic v2 enumerator the dense
      * link/attr indexes use. */
    private def v2BtreeChunkRefs(layout: Chunked): Vector[ChunkRef] = {
      if (layout.btreeAddr == Undefined) return Vector.empty
      val head = readAt(layout.btreeAddr, 6)
      val hsig = new Array[Byte](4); head.get(hsig)
      require(java.util.Arrays.equals(hsig, "BTHD".getBytes("ASCII")),
        "v2 chunk-btree header signature")
      val bt = head.get(5) & 0xFF
      require(bt == 10 || bt == 11,
        s"v2 chunk-btree record type $bt (10/11 are)")
      val (recSize, recs) = walkV2Btree(layout.btreeAddr, bt)
      val rank = layout.chunkDims.length
      val chunkBytes = layout.chunkDims.map(_.toLong).product * layout.elemSize
      val szBytes = recSize - 8 - 4 - 8 * rank // type 11 only
      if (bt == 10)
        require(recSize == 8 + 8 * rank,
          s"v2 chunk-btree record size $recSize for rank $rank")
      else require(szBytes >= 1 && szBytes <= 8,
        s"v2 chunk-btree record size $recSize for rank $rank")
      recs.map { r =>
        val addr = r.getLong(0)
        val (size, mask, offBase) =
          if (bt == 10) (chunkBytes, 0, 8)
          else {
            var sz = 0L
            var k = 0
            while (k < szBytes) { sz |= (r.get(8 + k) & 0xFFL) << (8 * k); k += 1 }
            (sz, r.getInt(8 + szBytes), 8 + szBytes + 4)
          }
        // records carry SCALED (chunk-grid) coordinates
        val offsets = (0 until rank).toVector.map { d =>
          val scaled = r.getLong(offBase + d * 8)
          require(scaled >= 0 && scaled <= (1 << 24),
            s"corrupt v2 chunk-btree scaled offset $scaled")
          scaled * layout.chunkDims(d)
        }
        ChunkRef(offsets, addr, size, mask)
      }
    }

    /** Row-major chunk-grid element offsets for positional indexes. */
    private def gridOffsets(shape: Vector[Int],
                            chunkDims: Vector[Int]): Vector[Vector[Long]] = {
      val counts = shape.zip(chunkDims).map { case (s, c) =>
        require(c >= 1, s"corrupt chunk dims $chunkDims")
        (s + c - 1) / c
      }
      val total = counts.map(_.toLong).product
      require(total <= (1 << 24), s"chunk grid of $total cells too large")
      (0L until total).toVector.map { k =>
        var rem = k
        val coord = new Array[Long](counts.length)
        var d = counts.length - 1
        while (d >= 0) {
          coord(d) = (rem % counts(d)) * chunkDims(d)
          rem /= counts(d)
          d -= 1
        }
        coord.toVector
      }
    }

    /** Fixed Array chunk index (FAHD + FADB, optionally paged) — the
      * default index libhdf5 1.10+ writes for fixed-shape chunked
      * datasets. Metadata checksums are verified (lookup3, like the
      * dense-storage structures). */
    private def fixedArrayChunkRefs(layout: Chunked,
                                    shape: Vector[Int]): Vector[ChunkRef] = {
      require(shape.nonEmpty, "fixed-array index needs the dataspace")
      if (layout.btreeAddr == Undefined) return Vector.empty
      val offsets = gridOffsets(shape, layout.chunkDims)
      val nelems = offsets.length.toLong
      val hdr = readRange(layout.btreeAddr, 28)
      require(hdr.take(4).sameElements("FAHD".getBytes("ASCII")),
        "corrupt fixed-array header signature")
      require((hdr(4) & 0xFF) == 0, s"fixed-array header version ${hdr(4)}")
      val clientId = hdr(5) & 0xFF
      require(clientId == 0 || clientId == 1,
        s"fixed-array client id $clientId")
      val entrySize = hdr(6) & 0xFF
      val pageBits = hdr(7) & 0xFF
      val hb = ByteBuffer.wrap(hdr).order(ByteOrder.LITTLE_ENDIAN)
      val maxNelems = hb.getLong(8)
      val dbAddr = hb.getLong(16)
      require(HDF5Writer.lookup3(hdr.take(24)) == hb.getInt(24),
        "corrupt fixed-array header checksum")
      require(maxNelems == nelems,
        s"fixed-array claims $maxNelems chunks; the chunk grid has $nelems")
      val filtered = clientId == 1
      // filtered entries: addr(8) + size(szBytes) + mask(4) with szBytes in
      // 1..8 — a corrupt entrySize > 20 would wrap the size-decode shift
      // mod 64 and let entry reads overrun the page buffer
      require(if (filtered) entrySize > 12 && entrySize <= 20
              else entrySize == 8,
        s"fixed-array entry size $entrySize for client $clientId")
      val szBytes = entrySize - 12
      if (dbAddr == Undefined) return Vector.empty
      val pageElems = 1L << pageBits
      val chunkBytes = layout.chunkDims.map(_.toLong).product * layout.elemSize
      def decodeElems(bytes: Array[Byte], base: Int, count: Int,
                      firstIdx: Int,
                      out: scala.collection.mutable.ArrayBuffer[ChunkRef]): Unit = {
        val eb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
        var i = 0
        while (i < count) {
          val p = base + i * entrySize
          val addr = eb.getLong(p)
          if (addr != Undefined) {
            if (!filtered)
              out += ChunkRef(offsets(firstIdx + i), addr, chunkBytes, 0)
            else {
              var sz = 0L
              var k = 0
              while (k < szBytes) {
                sz |= (bytes(p + 8 + k) & 0xFFL) << (8 * k)
                k += 1
              }
              val mask = eb.getInt(p + 8 + szBytes)
              out += ChunkRef(offsets(firstIdx + i), addr, sz, mask)
            }
          }
          i += 1
        }
      }
      val out = scala.collection.mutable.ArrayBuffer.empty[ChunkRef]
      if (nelems <= pageElems) {
        // unpaged: sig(4)+ver(1)+client(1)+hdrAddr(8) + elements + checksum
        val len = 14 + nelems.toInt * entrySize + 4
        val db = readRange(dbAddr, len)
        require(db.take(4).sameElements("FADB".getBytes("ASCII")),
          "corrupt fixed-array data-block signature")
        require(ByteBuffer.wrap(db).order(ByteOrder.LITTLE_ENDIAN)
          .getLong(6) == layout.btreeAddr,
          "fixed-array data block does not point back at its header")
        val cb = ByteBuffer.wrap(db).order(ByteOrder.LITTLE_ENDIAN)
        require(HDF5Writer.lookup3(db.take(len - 4)) == cb.getInt(len - 4),
          "corrupt fixed-array data-block checksum")
        decodeElems(db, 14, nelems.toInt, 0, out)
      } else {
        // paged: block carries a page bitmap + checksum; pages follow,
        // each with its own checksum
        val npages = ((nelems + pageElems - 1) / pageElems).toInt
        val bmBytes = (npages + 7) / 8
        val headLen = 14 + bmBytes + 4
        val head = readRange(dbAddr, headLen)
        require(head.take(4).sameElements("FADB".getBytes("ASCII")),
          "corrupt fixed-array data-block signature")
        val cb = ByteBuffer.wrap(head).order(ByteOrder.LITTLE_ENDIAN)
        require(cb.getLong(6) == layout.btreeAddr,
          "fixed-array data block does not point back at its header")
        require(HDF5Writer.lookup3(head.take(headLen - 4)) ==
          cb.getInt(headLen - 4),
          "corrupt fixed-array data-block checksum")
        var pos = dbAddr + headLen
        var pg = 0
        var idx = 0
        while (pg < npages) {
          val count = math.min(pageElems, nelems - idx).toInt
          val initialized =
            (head(14 + pg / 8) & (1 << (pg % 8))) != 0
          val pageLen = count * entrySize + 4
          if (initialized) {
            val page = readRange(pos, pageLen)
            val pb = ByteBuffer.wrap(page).order(ByteOrder.LITTLE_ENDIAN)
            require(HDF5Writer.lookup3(page.take(pageLen - 4)) ==
              pb.getInt(pageLen - 4),
              s"corrupt fixed-array page $pg checksum")
            decodeElems(page, 0, count, idx, out)
          }
          pos += pageLen
          idx += count
          pg += 1
        }
      }
      out.toVector
    }

    /** Extensible Array chunk index (EAHD + EAIB + EASB + EADB, data
      * blocks optionally paged) — the index libhdf5 1.10+ writes for a
      * chunked dataset with exactly ONE unlimited dimension (the
      * time-appendable netCDF-4 layout). Written from the public HDF5
      * File Format Specification ("Disk Format: Level 1H"); geometry in
      * [[HDF5Writer.eaSblkInfos]]. All metadata checksums (lookup3) are
      * verified, and the spec's redundant fields — header-stored
      * creation parameters vs the layout message's, back-pointers, and
      * per-block Block Offset fields vs the derived element index —
      * serve as the structural cross-checks (no independent HDF5
      * library exists in this container; see SURVEY §8.1's standing
      * offline-validation caveat). */
    private def extensibleArrayChunkRefs(layout: Chunked,
                                         shape: Vector[Int]): Vector[ChunkRef] = {
      require(shape.nonEmpty, "extensible-array index needs the dataspace")
      if (layout.btreeAddr == Undefined) return Vector.empty
      val params = layout.ea.getOrElse(throw new IllegalArgumentException(
        "extensible-array index without creation parameters"))
      val offsets = gridOffsets(shape, layout.chunkDims)
      val nelems = offsets.length
      // EAHD: sig(4) ver(1) client(1) + six creation-parameter bytes +
      // six 8-byte statistics + index block address + checksum = 72
      val hdr = readRange(layout.btreeAddr, 72)
      require(hdr.take(4).sameElements("EAHD".getBytes("ASCII")),
        "corrupt extensible-array header signature")
      require((hdr(4) & 0xFF) == 0,
        s"extensible-array header version ${hdr(4)}")
      val clientId = hdr(5) & 0xFF
      require(clientId == 0 || clientId == 1,
        s"extensible-array client id $clientId")
      val entrySize = hdr(6) & 0xFF
      val hdrParams = HDF5Writer.EaParams(hdr(7) & 0xFF, hdr(8) & 0xFF,
        hdr(10) & 0xFF, hdr(9) & 0xFF, hdr(11) & 0xFF)
      require(hdrParams == params,
        s"extensible-array header parameters $hdrParams contradict the " +
          s"layout message's $params")
      val hb = ByteBuffer.wrap(hdr).order(ByteOrder.LITTLE_ENDIAN)
      val maxIdxSet = hb.getLong(44)
      val iblockAddr = hb.getLong(60)
      require(HDF5Writer.lookup3(hdr.take(68)) == hb.getInt(68),
        "corrupt extensible-array header checksum")
      require(maxIdxSet >= 0 && maxIdxSet <= nelems,
        s"extensible array claims $maxIdxSet chunks; the chunk grid has $nelems")
      val filtered = clientId == 1
      require(if (filtered) entrySize > 12 && entrySize <= 20
              else entrySize == 8,
        s"extensible-array entry size $entrySize for client $clientId")
      val szBytes = entrySize - 12
      if (iblockAddr == Undefined) return Vector.empty
      val chunkBytes = layout.chunkDims.map(_.toLong).product * layout.elemSize
      val out = scala.collection.mutable.ArrayBuffer.empty[ChunkRef]
      def decodeElems(bytes: Array[Byte], base: Int, count: Int,
                      firstIdx: Long): Unit = {
        val eb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
        var i = 0
        while (i < count) {
          val idx = firstIdx + i
          if (idx < nelems) {
            val p = base + i * entrySize
            val addr = eb.getLong(p)
            if (addr != Undefined) {
              if (!filtered)
                out += ChunkRef(offsets(idx.toInt), addr, chunkBytes, 0)
              else {
                var sz = 0L
                var k = 0
                while (k < szBytes) {
                  sz |= (bytes(p + 8 + k) & 0xFFL) << (8 * k)
                  k += 1
                }
                out += ChunkRef(offsets(idx.toInt), addr, sz,
                  eb.getInt(p + 8 + szBytes))
              }
            }
          }
          i += 1
        }
      }
      val sblks = HDF5Writer.eaSblkInfos(params)
      val iblkNsblks = HDF5Writer.eaIblockNsblks(params)
      require(iblkNsblks <= sblks.length,
        s"extensible array: ${sblks.length} super blocks < $iblkNsblks " +
          "index-block-resident ones (min pointers too large for max bits)")
      val ndblkAddrs = 2 * (params.minPtrs - 1)
      val nsblkAddrs = sblks.length - iblkNsblks
      val obBytes = (params.maxBits + 7) / 8
      val pageElems = 1L << params.pageBits
      // ---- index block -------------------------------------------------
      val ibLen = 14 + params.idxBlkElmts * entrySize +
        (ndblkAddrs + nsblkAddrs) * 8 + 4
      val ib = readRange(iblockAddr, ibLen)
      require(ib.take(4).sameElements("EAIB".getBytes("ASCII")),
        "corrupt extensible-array index-block signature")
      require((ib(4) & 0xFF) == 0 && (ib(5) & 0xFF) == clientId,
        "corrupt extensible-array index block version/client")
      val ibb = ByteBuffer.wrap(ib).order(ByteOrder.LITTLE_ENDIAN)
      require(ibb.getLong(6) == layout.btreeAddr,
        "extensible-array index block does not point back at its header")
      require(HDF5Writer.lookup3(ib.take(ibLen - 4)) == ibb.getInt(ibLen - 4),
        "corrupt extensible-array index-block checksum")
      decodeElems(ib, 14, params.idxBlkElmts, 0L)
      // ---- one data block ----------------------------------------------
      def readDblk(addr: Long, dblkElmts: Int, firstIdx: Long,
                   pageInit: Int => Boolean): Unit = {
        if (addr == Undefined) return
        val paged = dblkElmts > pageElems
        if (!paged) {
          val len = 14 + obBytes + dblkElmts * entrySize + 4
          val db = readRange(addr, len)
          require(db.take(4).sameElements("EADB".getBytes("ASCII")),
            "corrupt extensible-array data-block signature")
          require((db(4) & 0xFF) == 0 && (db(5) & 0xFF) == clientId,
            "corrupt extensible-array data block version/client")
          val dbb = ByteBuffer.wrap(db).order(ByteOrder.LITTLE_ENDIAN)
          require(dbb.getLong(6) == layout.btreeAddr,
            "extensible-array data block does not point back at its header")
          var bo = 0L
          (0 until obBytes).foreach(k => bo |= (db(14 + k) & 0xFFL) << (8 * k))
          require(bo == firstIdx,
            s"extensible-array data block offset $bo != expected $firstIdx")
          require(HDF5Writer.lookup3(db.take(len - 4)) == dbb.getInt(len - 4),
            "corrupt extensible-array data-block checksum")
          decodeElems(db, 14 + obBytes, dblkElmts, firstIdx)
        } else {
          // paged: prefix (own checksum), then fixed-size pages each
          // closed by its own checksum; page init bits live with the
          // caller (the super block's bitmap)
          val headLen = 14 + obBytes + 4
          val head = readRange(addr, headLen)
          require(head.take(4).sameElements("EADB".getBytes("ASCII")),
            "corrupt extensible-array data-block signature")
          require((head(4) & 0xFF) == 0 && (head(5) & 0xFF) == clientId,
            "corrupt extensible-array data block version/client")
          val dbb = ByteBuffer.wrap(head).order(ByteOrder.LITTLE_ENDIAN)
          require(dbb.getLong(6) == layout.btreeAddr,
            "extensible-array data block does not point back at its header")
          var bo = 0L
          (0 until obBytes).foreach(k => bo |= (head(14 + k) & 0xFFL) << (8 * k))
          require(bo == firstIdx,
            s"extensible-array data block offset $bo != expected $firstIdx")
          require(HDF5Writer.lookup3(head.take(headLen - 4)) ==
            dbb.getInt(headLen - 4),
            "corrupt extensible-array data-block prefix checksum")
          val npages = dblkElmts / pageElems.toInt
          val pageLen = pageElems.toInt * entrySize + 4
          var pos = addr + headLen
          var pg = 0
          while (pg < npages) {
            if (pageInit(pg) && firstIdx + pg * pageElems < nelems) {
              val page = readRange(pos, pageLen)
              val pb = ByteBuffer.wrap(page).order(ByteOrder.LITTLE_ENDIAN)
              require(HDF5Writer.lookup3(page.take(pageLen - 4)) ==
                pb.getInt(pageLen - 4),
                s"corrupt extensible-array data-block page $pg checksum")
              decodeElems(page, 0, pageElems.toInt,
                firstIdx + pg * pageElems)
            }
            pos += pageLen
            pg += 1
          }
        }
      }
      // ---- super blocks resident in the index block ---------------------
      var dblkPtr = 14 + params.idxBlkElmts * entrySize
      sblks.take(iblkNsblks).foreach { s =>
        var j = 0
        while (j < s.ndblks) {
          val firstIdx = params.idxBlkElmts + s.startIdx + j.toLong * s.dblkElmts
          if (firstIdx < nelems)
            readDblk(ibb.getLong(dblkPtr), s.dblkElmts, firstIdx, _ => true)
          dblkPtr += 8
          j += 1
        }
      }
      // ---- secondary blocks ---------------------------------------------
      var sblkPtr = 14 + params.idxBlkElmts * entrySize + ndblkAddrs * 8
      sblks.drop(iblkNsblks).foreach { s =>
        val sbAddr = ibb.getLong(sblkPtr); sblkPtr += 8
        val sbFirst = params.idxBlkElmts + s.startIdx
        if (sbAddr != Undefined && sbFirst < nelems) {
          val paged = s.dblkElmts > pageElems
          val npagesPer = if (paged) s.dblkElmts / pageElems.toInt else 0
          val bmBytes = if (paged) (s.ndblks * npagesPer + 7) / 8 else 0
          val sbLen = 14 + obBytes + bmBytes + s.ndblks * 8 + 4
          val sb = readRange(sbAddr, sbLen)
          require(sb.take(4).sameElements("EASB".getBytes("ASCII")),
            "corrupt extensible-array secondary-block signature")
          require((sb(4) & 0xFF) == 0 && (sb(5) & 0xFF) == clientId,
            "corrupt extensible-array secondary block version/client")
          val sbb = ByteBuffer.wrap(sb).order(ByteOrder.LITTLE_ENDIAN)
          require(sbb.getLong(6) == layout.btreeAddr,
            "extensible-array secondary block does not point back at its header")
          var bo = 0L
          (0 until obBytes).foreach(k => bo |= (sb(14 + k) & 0xFFL) << (8 * k))
          require(bo == sbFirst,
            s"extensible-array secondary block offset $bo != expected $sbFirst")
          require(HDF5Writer.lookup3(sb.take(sbLen - 4)) ==
            sbb.getInt(sbLen - 4),
            "corrupt extensible-array secondary-block checksum")
          var j = 0
          while (j < s.ndblks) {
            val firstIdx = sbFirst + j.toLong * s.dblkElmts
            if (firstIdx < nelems) {
              val dAddr = sbb.getLong(14 + obBytes + bmBytes + j * 8)
              val jj = j
              readDblk(dAddr, s.dblkElmts, firstIdx, pg => !paged ||
                (sb(14 + obBytes + (jj * npagesPer + pg) / 8) &
                  (1 << ((jj * npagesPer + pg) % 8))) != 0)
            }
            j += 1
          }
        }
      }
      out.toVector
    }

    private def btreeChunkRefs(layout: Chunked): Vector[ChunkRef] = {
      val rank = layout.chunkDims.length
      def walk(addr: Long): Vector[ChunkRef] =
        if (addr == Undefined) Vector.empty
        else {
          val head = readAt(addr, 24)
          val sig = new Array[Byte](4); head.get(sig)
          require(java.util.Arrays.equals(sig, "TREE".getBytes("ASCII")), "chunk btree")
          require((head.get(4) & 0xFF) == 1, "chunk btree node type")
          val level = head.get(5) & 0xFF
          val used = head.getShort(6) & 0xFFFF
          val keySize = 8 + (rank + 1) * 8
          val body = readAt(addr + 24, used * (keySize + 8) + keySize)
          (0 until used).toVector.flatMap { i =>
            val kOff = i * (keySize + 8)
            val chunkSize = body.getInt(kOff) & 0xFFFFFFFFL
            val filterMask = body.getInt(kOff + 4)
            val offsets = (0 until rank).map(d =>
              body.getLong(kOff + 8 + d * 8)).toVector
            val child = body.getLong(kOff + keySize)
            if (level > 0) walk(child)
            else Vector(ChunkRef(offsets, child, chunkSize, filterMask))
          }
        }
      walk(layout.btreeAddr)
    }

    // ---- data reading ----

    private def defilter(raw: Array[Byte], filters: Vector[Filter],
                         filterMask: Int, elemSize: Int,
                         chunkBytes: Int,
                         dtype: TypeInfo = null): Array[Byte] = {
      var data = raw
      // pipeline runs in reverse on read; mask bit i set = filter skipped
      filters.zipWithIndex.reverse.foreach { case (f, i) =>
        if ((filterMask & (1 << i)) == 0) f.id match {
          case 5 => // nbit: restore precision fields, then H5T-convert
            data = Nbit.decompress(data, f.values)
            dtype match {
              case FixedPoint(_, _, signed) =>
                data = Nbit.convertFixedPoint(data, f.values, signed)
              case _ => // floats keep their restored bit layout
            }
          case 6 => // scale-offset (integer path)
            data = ScaleOffset.decompress(data, f.values)
          case 1 => // deflate
            val inf = new java.util.zip.Inflater()
            inf.setInput(data)
            val bos = new java.io.ByteArrayOutputStream(data.length * 4)
            val buf = new Array[Byte](65536)
            while (!inf.finished()) {
              val n = inf.inflate(buf)
              if (n == 0 && inf.needsInput()) throw new IllegalStateException("truncated deflate")
              bos.write(buf, 0, n)
            }
            inf.end()
            data = bos.toByteArray
          case 2 => // shuffle: de-interleave bytes
            val n = data.length / elemSize
            val out = new Array[Byte](data.length)
            var i = 0
            while (i < n) {
              var b = 0
              while (b < elemSize) {
                out(i * elemSize + b) = data(b * n + i)
                b += 1
              }
              i += 1
            }
            // trailing remainder bytes copied through
            System.arraycopy(data, n * elemSize, out, n * elemSize,
              data.length - n * elemSize)
            data = out
          case 3 => // fletcher32: strip trailing checksum
            data = java.util.Arrays.copyOf(data, data.length - 4)
          case 4 => // szip (szlib/libaec CCSDS-121 extended Rice).
            // H5Z__filter_szip frames the CCSDS bitstream with a 4-byte
            // little-endian uncompressed-size word; validate it against
            // the chunk byte count before touching the stream.
            require(f.values.length >= 4,
              s"szip filter carries ${f.values.length} client values (need 4)")
            require(data.length > 4,
              s"szip chunk of ${data.length} bytes lacks the 4-byte size header")
            val stored = (data(0) & 0xFFL) | ((data(1) & 0xFFL) << 8) |
              ((data(2) & 0xFFL) << 16) | ((data(3) & 0xFFL) << 24)
            require(stored == chunkBytes,
              s"corrupt szip chunk: size header claims $stored bytes " +
                s"(chunk decodes to $chunkBytes)")
            data = Szip.decompress(
              java.util.Arrays.copyOfRange(data, 4, data.length),
              f.values(0), f.values(1), f.values(2), f.values(3), chunkBytes)
          case 32000 => // lzf (h5py): undecorated stream, size from chunk shape
            data = Lzf.decompress(data, chunkBytes)
          case 32015 => // zstd (hdf5plugin): chunk is one raw zstd frame
            data = com.github.luben.zstd.Zstd.decompress(data, chunkBytes)
          case 32001 => // blosc (hdf5plugin): one self-contained blosc1 frame
            data = graft.zarr.Blosc.decompress(data, chunkBytes)
          case 32004 =>
            // lz4 (registered HDF5 filter): big-endian 8-byte original
            // size + 4-byte block size, then per block a 4-byte BE
            // compressed size and an lz4 BLOCK payload (csize == block
            // length marks a stored-raw block)
            val bb = java.nio.ByteBuffer.wrap(data)
              .order(java.nio.ByteOrder.BIG_ENDIAN)
            val origSize = bb.getLong()
            // HDF5 chunks are always full-size, so the claimed original
            // size is bounded by the dataset's chunk byte count
            require(origSize >= 0 && origSize <= chunkBytes,
              s"lz4 chunk header claims $origSize bytes " +
                s"(chunk is $chunkBytes; corrupt)")
            val blockSize0 = bb.getInt()
            val blockSize =
              if (blockSize0 <= 0) origSize.toInt else blockSize0
            val out = new Array[Byte](origSize.toInt)
            val dec = net.jpountz.lz4.LZ4Factory.fastestInstance()
              .safeDecompressor()
            var op = 0
            while (op < origSize) {
              val n = math.min(blockSize, origSize.toInt - op)
              val csize = bb.getInt()
              require(csize >= 0 && csize <= bb.remaining(),
                s"lz4 block size $csize with ${bb.remaining()} bytes left (corrupt)")
              if (csize == n) bb.get(out, op, n) // stored raw
              else {
                val src = new Array[Byte](csize); bb.get(src)
                val wrote = dec.decompress(src, 0, csize, out, op)
                require(wrote == n, s"lz4 block decoded $wrote of $n bytes")
              }
              op += n
            }
            data = out
          case id => throw new UnsupportedFilterException(id)
        }
      }
      data
    }

    private def engineDType(t: TypeInfo): DType = HDF5.engineDTypeOf(t)

    private def decodeElems(bytes: Array[Byte], t0: TypeInfo, n: Int): AnyRef = {
      val buf = ByteBuffer.wrap(bytes)
      val t = t0 match { case EnumType(base, _, _) => base; case other => other }
      t match {
        case FixedPoint(sz, be, signed) =>
          buf.order(if (be) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
          sz match {
            case 1 => // width-preserving; signedness lives in the dtype
              val a = new Array[Byte](n); buf.get(a); a
            case 2 =>
              val a = new Array[Short](n); buf.asShortBuffer().get(a); a
            case 4 => // signedness lives in the dtype (uint32 masks on read)
              val a = new Array[Int](n); buf.asIntBuffer().get(a); a
            case 8 =>
              val a = new Array[Long](n); buf.asLongBuffer().get(a); a
          }
        case FloatType(sz, be) =>
          buf.order(if (be) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
          sz match {
            case 4 =>
              val a = new Array[Float](n); var i = 0
              while (i < n) { a(i) = buf.getFloat(i * 4); i += 1 }; a
            case 8 =>
              val a = new Array[Double](n); var i = 0
              while (i < n) { a(i) = buf.getDouble(i * 8); i += 1 }; a
          }
        case other => throw new UnsupportedOperationException(s"dataset type $other")
      }
    }

    /** Allocate the output pre-filled with the dataset's declared fill
      * value (unwritten chunks/never-allocated data must read as fill —
      * netCDF-4's default is ~9.97e36, not zero). */
    private def allocWithFill(obj: ObjectInfo, t: TypeInfo,
                              dt: DType, shape: Vector[Int]): NDArray = {
      val out = NDArray.zeros(dt, shape)
      obj.fillBytes.filter(_.length == t.size).foreach { fb =>
        val one = decodeElems(fb, t, 1)
        (out.data, one) match {
          case (a: Array[Int], o: Array[Int]) => java.util.Arrays.fill(a, o(0))
          case (a: Array[Long], o: Array[Long]) => java.util.Arrays.fill(a, o(0))
          case (a: Array[Float], o: Array[Float]) => java.util.Arrays.fill(a, o(0))
          case (a: Array[Double], o: Array[Double]) => java.util.Arrays.fill(a, o(0))
          case (a: Array[Short], o: Array[Short]) => java.util.Arrays.fill(a, o(0))
          case (a: Array[Byte], o: Array[Byte]) => java.util.Arrays.fill(a, o(0))
          case _ =>
        }
      }
      out
    }

    /** Read one whole dataset into an engine NDArray. */
    def readDataset(obj: ObjectInfo): NDArray = {
      val t = obj.dtype.getOrElse(
        throw new IllegalArgumentException("object has no datatype (a group?)"))
      t match {
        case _: CompoundType => throw new UnsupportedOperationException(
          "compound dataset: read() expands it into per-member variables " +
            "(readCompound)")
        case _ =>
      }
      // an array datatype's dims become TRAILING dataset dimensions (the
      // h5py convention); every element-count below counts BASE elements
      val (elemT, extraDims) = t match {
        case ArrayType(base, adims) => (base, adims)
        case other => (other, Vector.empty[Int])
      }
      val extraN = extraDims.product
      val dt = engineDType(elemT)
      // overflow-proof element count with an in-memory-decode ceiling: a
      // corrupt (or legitimately huge) dataspace fails by name instead of
      // a negative-size or multi-GB allocation — the scan path
      // (RefSet.scanHDF5) is the route for data that big
      val nL = obj.dims.foldLeft(1L) { (a, d) =>
        require(d >= 0, s"corrupt dataspace dimension $d")
        if (a > Int.MaxValue) Long.MaxValue else a * d
      }
      require(nL <= Int.MaxValue && nL * t.size <= (1L << 30),
        s"dataset claims ${obj.dims.mkString("x")} elements of ${t.size} B — " +
          "too large for in-memory decode (or corrupt); use the kerchunk " +
          "scan path instead")
      val n = nL.toInt * extraN // base elements
      val shape = obj.dims ++ extraDims
      obj.layout.get match {
        case Compact(data) =>
          NDArray(dt, shape, decodeElems(data, elemT, n))
        case Contiguous(addr, size) =>
          if (addr == Undefined) allocWithFill(obj, elemT, dt, shape) // never written
          else NDArray(dt, shape, decodeElems(readRange(addr, size), elemT, n))
        case ck @ Chunked(_, chunkDims, elemSize, _, _, _, _, _) =>
          // same ceiling for the chunk geometry: corrupt chunk dims must
          // not reach an allocation as a negative/overflowed product
          val cnL = chunkDims.foldLeft(1L) { (a, d) =>
            require(d >= 0, s"corrupt chunk dimension $d")
            if (a > Int.MaxValue) Long.MaxValue else a * d
          }
          require(cnL <= Int.MaxValue && cnL * elemSize <= (1L << 30),
            s"chunk claims ${chunkDims.mkString("x")} elements of $elemSize B" +
              " — too large for in-memory decode (or corrupt)")
          val out = allocWithFill(obj, elemT, dt, shape)
          val fullChunkDims = chunkDims ++ extraDims
          chunkRefs(ck, obj.dims).foreach { ref =>
            val raw = readRange(ref.addr, ref.size)
            val cn = cnL.toInt
            val bytes = defilter(raw, obj.filters, ref.filterMask, elemSize,
              cn * elemSize, elemT)
            val chunk = NDArray(dt, fullChunkDims,
              decodeElems(bytes, elemT, cn * extraN))
            // clip chunks that overhang the dataspace edge (array-datatype
            // trailing dims never overhang: their start is always 0)
            val starts = ref.offsets.map(_.toInt) ++
              Vector.fill(extraDims.length)(0)
            val valid = fullChunkDims.indices.map { d =>
              Slc(0, math.min(fullChunkDims(d), shape(d) - starts(d))) }.toVector
            if (valid.forall(_.length > 0))
              out.assign(starts.toVector, chunk.slice(valid))
          }
          out
      }
    }

    /** Decode a COMPOUND dataset (class 6) into per-member arrays (r14):
      * one byte-plane read, then per-member strided extraction. Members
      * must be fixed-point, float, or enum-over-integer; anything else
      * (vlen, string, nested array) fails by name. */
    def readCompound(obj: ObjectInfo): Vector[(String, NDArray)] = {
      val t = obj.dtype.get.asInstanceOf[CompoundType]
      // flatten nested compounds (ANY depth, r15c) to dotted member
      // names with absolute byte offsets (pos.vel.x at the sum of every
      // enclosing offset); depth is already capped at parse time
      def flatten(prefix: String, base: Int,
                  ms: Vector[(String, Int, TypeInfo)]): Vector[(String, Int, TypeInfo)] =
        ms.flatMap {
          case (mn, mOff, ct: CompoundType) =>
            flatten(s"$prefix$mn.", base + mOff, ct.members)
          case (mn, mOff, mt) => Vector((s"$prefix$mn", base + mOff, mt))
        }
      val flat: Vector[(String, Int, TypeInfo)] = flatten("", 0, t.members)
      flat.foreach { case (mn, _, mt) => mt match {
        case _: FixedPoint | _: FloatType | _: EnumType =>
        case other => throw new UnsupportedOperationException(
          s"compound member $mn of type $other not supported")
      }}
      val nL = obj.dims.foldLeft(1L) { (a, d) =>
        require(d >= 0, s"corrupt dataspace dimension $d")
        if (a > Int.MaxValue) Long.MaxValue else a * d
      }
      require(nL <= Int.MaxValue && nL * t.size <= (1L << 30),
        s"compound dataset claims ${obj.dims.mkString("x")} records of " +
          s"${t.size} B — too large for in-memory decode (or corrupt)")
      val n = nL.toInt
      // byte plane: records as a U1 NDArray with a trailing byte dim, so
      // the chunked path reuses the standard clip-and-assign machinery
      val plane: Array[Byte] = obj.layout.get match {
        case Compact(data) =>
          require(data.length >= n * t.size, "compact compound data short")
          data
        case Contiguous(addr, _) if addr == Undefined =>
          // never written (late allocation): every record reads as the
          // declared fill value — zeros when no fill message is present
          val pl = new Array[Byte](n * t.size)
          obj.fillBytes.filter(_.length == t.size).foreach { fb =>
            var i = 0
            while (i < n) {
              System.arraycopy(fb, 0, pl, i * t.size, t.size); i += 1
            }
          }
          pl
        case Contiguous(addr, size) =>
          val p = readRange(addr, math.min(size, n.toLong * t.size))
          // a short/corrupt contiguous size must be a named error, not an
          // ArrayIndexOutOfBounds from the per-member arraycopy below
          require(p.length.toLong >= n.toLong * t.size,
            s"corrupt compound dataset: contiguous plane ${p.length} B " +
              s"< $n records of ${t.size} B")
          p
        case ck @ Chunked(_, chunkDims, elemSize, _, _, _, _, _) =>
          require(elemSize == t.size,
            s"compound chunk element size $elemSize != datatype size ${t.size}")
          val cnL = chunkDims.foldLeft(1L) { (a, d) =>
            require(d >= 0, s"corrupt chunk dimension $d")
            if (a > Int.MaxValue) Long.MaxValue else a * d
          }
          require(cnL <= Int.MaxValue && cnL * elemSize <= (1L << 30),
            s"chunk claims ${chunkDims.mkString("x")} records of $elemSize B" +
              " — too large for in-memory decode (or corrupt)")
          val out = NDArray.zeros(DType.U1, obj.dims :+ t.size)
          chunkRefs(ck, obj.dims).foreach { ref =>
            val raw = readRange(ref.addr, ref.size)
            val cn = cnL.toInt
            val bytes = defilter(raw, obj.filters, ref.filterMask, elemSize,
              cn * elemSize, null)
            val chunk = NDArray(DType.U1, chunkDims :+ t.size, bytes)
            val starts = ref.offsets.map(_.toInt) :+ 0
            val full = chunkDims :+ t.size
            val shape = obj.dims :+ t.size
            val valid = full.indices.map { d =>
              Slc(0, math.min(full(d), shape(d) - starts(d))) }.toVector
            if (valid.forall(_.length > 0))
              out.assign(starts.toVector, chunk.slice(valid))
          }
          out.data.asInstanceOf[Array[Byte]]
        }
      flat.map { case (mn, mOff, mt) =>
        val ms = mt.size
        val mb = new Array[Byte](n * ms)
        var i = 0
        while (i < n) {
          System.arraycopy(plane, i * t.size + mOff, mb, i * ms, ms)
          i += 1
        }
        mn -> NDArray(engineDType(mt), obj.dims, decodeElems(mb, mt, n))
      }
    }
  }

  // --------------------------------------------------------- netCDF4 read

  def engineDTypeOf(t: TypeInfo): DType = t match {
    case FixedPoint(1, _, signed) => if (signed) DType.I1 else DType.U1
    case FixedPoint(2, _, signed) => if (signed) DType.I2 else DType.U2
    case FixedPoint(4, _, signed) => if (signed) DType.I4 else DType.U4
    case FixedPoint(8, _, signed) => if (signed) DType.I8 else DType.U8
    case FloatType(4, _) => DType.F4
    case FloatType(8, _) => DType.F8
    case EnumType(base, _, _) => engineDTypeOf(base) // decodes as its base
    case other => throw new UnsupportedOperationException(s"dataset type $other")
  }

  /** The name<->value map of an enum datatype as a reader-synthesized
    * attr — shared by read() and the kerchunk scanner so both entry
    * points surface identical variable metadata. */
  def enumNamesAttr(t: TypeInfo): Attrs = t match {
    case EnumType(_, names, values) =>
      Map("enum_names" -> AttrValue(names.zip(values)
        .map { case (s, v) => s"$s=$v" }.mkString(";")))
    case _ => Map.empty
  }

  private val HiddenAttrs = Set("CLASS", "NAME", "DIMENSION_LIST",
    "REFERENCE_LIST", "_Netcdf4Dimid", "_Netcdf4Coordinates", "_NCProperties")

  /** One netCDF-4 variable resolved from the HDF5 object graph. `phantom`
    * marks "dimension without variable" scales (libnetcdf NAME marker) —
    * they define a dim length but carry no data. */
  final case class DatasetMeta(name: String, obj: ObjectInfo,
                               dimNames: Vector[String], phantom: Boolean) {
    def cleanAttrs: Attrs = obj.attrs.filterNot { case (k, _) => HiddenAttrs(k) }
  }

  /** Resolve the netCDF-4 dimension-scale convention over a file's root
    * group: dimension-scale datasets carry CLASS="DIMENSION_SCALE"; data
    * variables name their dims through the DIMENSION_LIST attribute of
    * object references. Shared by the Fragment reader and the kerchunk
    * scanner. */
  def datasets(r: Reader): (Attrs, Vector[DatasetMeta]) = {
    val root = r.readObject(r.rootAddr)
    val objects: Vector[(String, ObjectInfo)] =
      root.children.map { case (name, addr) => name -> r.readObject(addr) }
    val byAddr: Map[Long, String] = objects.map { case (n, o) => o.addr -> n }.toMap
    val isScale: Map[String, Boolean] = objects.map { case (n, o) =>
      n -> o.attrs.get("CLASS").contains(AttrValue.AStr("DIMENSION_SCALE"))
    }.toMap
    def isPhantomScale(o: ObjectInfo): Boolean =
      o.attrs.get("NAME").exists {
        case AttrValue.AStr(s) => s.startsWith("This is a netCDF dimension")
        case _ => false
      }
    def varDims(name: String, o: ObjectInfo): Vector[String] =
      if (isScale(name)) Vector(name)
      else if (o.dimListAddrs.nonEmpty) o.dimListAddrs.map(a =>
        byAddr.getOrElse(a, throw new IllegalArgumentException(
          s"DIMENSION_LIST of $name references unknown object $a")))
      else o.dims.indices.map(i => s"phony_dim_$i").toVector
    val metas = objects.collect { case (n, o) if o.dtype.isDefined =>
      DatasetMeta(n, o, varDims(n, o), isScale(n) && isPhantomScale(o))
    }
    (root.attrs.filterNot { case (k, _) => HiddenAttrs(k) }, metas)
  }

  /** Read a netCDF-4 (HDF5) file into the engine's Fragment. */
  def read(path: String): Fragment = {
    val r = new Reader(path)
    try {
      val (rootAttrs, metas) = datasets(r)
      val dims = scala.collection.mutable.LinkedHashMap.empty[String, Int]
      metas.foreach { m =>
        if (m.dimNames == Vector(m.name) && m.obj.dims.nonEmpty)
          dims(m.name) = m.obj.dims.head
      }
      val vars: Map[String, Variable] = metas.flatMap {
        case m if m.phantom => Nil
        case m => m.obj.dtype.get match {
          case _: CompoundType =>
            // h5py's structured array, flattened: one variable per
            // member, named <dataset>.<member>, sharing the dataspace
            r.readCompound(m.obj).map { case (mn, arr) =>
              s"${m.name}.$mn" -> Variable(m.dimNames, arr, m.cleanAttrs)
            }
          case et: EnumType =>
            // base-integer data + the name<->value map as an attr
            Seq(m.name -> Variable(m.dimNames, r.readDataset(m.obj),
              m.cleanAttrs ++ enumNamesAttr(et)))
          case ArrayType(_, adims) =>
            // array-element dims surface as trailing per-variable dims
            val extra = adims.indices.map(k => s"${m.name}_array_dim$k")
            Seq(m.name -> Variable(m.dimNames ++ extra,
              r.readDataset(m.obj), m.cleanAttrs))
          case _ =>
            Seq(m.name -> Variable(m.dimNames, r.readDataset(m.obj),
              m.cleanAttrs))
        }
      }.toMap
      vars.values.foreach(v => v.dims.zip(v.shape).foreach { case (d, s) =>
        if (!dims.contains(d)) dims(d) = s })
      val (coords, dataVars) = vars.partition { case (name, v) =>
        v.dims == Vector(name) }
      Fragment(dims.toMap, coords, dataVars, rootAttrs)
    } finally r.close()
  }
}
