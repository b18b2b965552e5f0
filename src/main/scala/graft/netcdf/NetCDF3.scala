package graft.netcdf

import graft.core._
import graft.core.Attrs.Attrs
import java.io.{BufferedInputStream, DataInputStream, EOFException}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, Paths, StandardOpenOption}

/** Pure-JVM codec for the NetCDF classic binary format (CDF-1, CDF-2 /
  * 64-bit-offset, and — r14 — CDF-5 / 64-bit-data variants) — the
  * reference's primary input format, read there through the "scipy"
  * engine (openers.py:40-47, open_with_xarray at openers.py:207-254).
  * Implemented from the public NetCDF classic format specification and
  * its CDF-5 amendment (netcdf-c file_format_specifications; pnetcdf):
  * CDF-5 widens every NON_NEG size/count field — numrecs, list counts,
  * name lengths, dim lengths, attr nelems, variable rank AND dimids,
  * vsize, begin — to 64 bits (the v1h_get_* version-5 paths in
  * netcdf-c's v1hpg.c) and adds the unsigned/64-bit external types
  * NC_UBYTE/NC_USHORT/NC_UINT/NC_INT64/NC_UINT64.
  *
  * File layout (all header ints big-endian u32; CDF-2 widens `begin` to u64):
  *
  *   magic 'C''D''F' <version>    version 1 = classic, 2 = 64-bit offset
  *   numrecs                      record count (0xFFFFFFFF = streaming)
  *   dim_list                     [tag 0x0A] name + length (0 = record dim)
  *   gatt_list                    [tag 0x0C] name + nc_type + nelems + values
  *   var_list                     [tag 0x0B] name + dimids + vatts + nc_type
  *                                + vsize + begin
  *   data                         fixed vars contiguous at begin; record
  *                                vars interleaved per record, stride recsize
  *
  * Values are big-endian, padded to 4-byte boundaries. The stored `vsize` is
  * redundant (and capped at 2^32-1) so both reader and scanner recompute
  * sizes from shape and type. The single-record-variable special case (no
  * inter-record padding) is honored on both read and write.
  *
  * Dtype mapping on read preserves external widths (the xarray/netCDF-c
  * behavior): NC_BYTE -> int8, NC_CHAR -> uint8 codes for data variables
  * (string for attributes), NC_SHORT -> int16, NC_INT -> int32, NC_FLOAT ->
  * float32, NC_DOUBLE -> float64. On write the unsigned engine dtypes land
  * bitwise in the matching signed external type (classic NetCDF has no
  * unsigned types; netCDF-c does the same and round-trips via the
  * `_Unsigned` attribute convention, which callers may set).
  */
object NetCDF3 {

  // nc_type tags from the classic spec (+ the CDF-5 additions)
  val NcByte = 1; val NcChar = 2; val NcShort = 3
  val NcInt = 4; val NcFloat = 5; val NcDouble = 6
  val NcUByte = 7; val NcUShort = 8; val NcUInt = 9
  val NcInt64 = 10; val NcUInt64 = 11

  private def extSize(ncType: Int): Int = ncType match {
    case NcByte | NcChar | NcUByte => 1
    case NcShort | NcUShort => 2
    case NcInt | NcFloat | NcUInt => 4
    case NcDouble | NcInt64 | NcUInt64 => 8
    case t => throw new IllegalArgumentException(s"Unknown nc_type $t")
  }

  /** The CDF-5-only external types (illegal in CDF-1/2 headers). */
  private def requireTypeLegal(ncType: Int, version: Int): Unit =
    require(version == 5 || ncType <= NcDouble,
      s"corrupt netcdf header: nc_type $ncType is CDF-5-only " +
        s"in a CDF-$version file")

  private def pad4(n: Long): Long = (n + 3L) & ~3L

  final case class NcDim(name: String, length: Int) {
    def isRecord: Boolean = length == 0
  }

  final case class NcVar(name: String, dimids: Vector[Int], attrs: Attrs,
                         ncType: Int, begin: Long) {
    def isRecord(dims: Vector[NcDim]): Boolean =
      dimids.headOption.exists(dims(_).isRecord)
    /** Shape with the record dim resolved to `numrecs`. */
    def shape(dims: Vector[NcDim], numrecs: Int): Vector[Int] =
      dimids.map(i => if (dims(i).isRecord) numrecs else dims(i).length)
    /** Bytes of one record slab (record var) or the whole array (fixed
      * var), unpadded. */
    def slabBytes(dims: Vector[NcDim]): Long =
      dimids.filterNot(dims(_).isRecord).map(dims(_).length.toLong)
        .product * extSize(ncType)
  }

  final case class NcHeader(version: Int, numrecs: Int, dims: Vector[NcDim],
                            gatts: Attrs, vars: Vector[NcVar]) {
    def recordVars: Vector[NcVar] = vars.filter(_.isRecord(dims))
    /** Stride between records: padded slabs, except the single-record-var
      * special case where records pack without padding. */
    def recsize: Long = recordVars match {
      case Vector(only) => only.slabBytes(dims)
      case vs => vs.map(v => pad4(v.slabBytes(dims))).sum
    }
  }

  // ---------------------------------------------------------------- parse

  private final class HeaderReader(in: DataInputStream, fileSize: Long,
                                   version: Int) {
    def u32(): Long = in.readInt().toLong & 0xFFFFFFFFL
    def i32(): Int = in.readInt()
    /** A NON_NEG size/count field: 4 bytes in CDF-1/2, 8 in CDF-5. */
    def sizeField(): Long = if (version == 5) in.readLong() else u32()
    /** A bounded NON_NEG count, version-width-aware. */
    def checkedSize(what: String): Int = {
      val n = sizeField()
      // a CDF-5 count is 64-bit: in a >2 GiB file a corrupt count in
      // (Int.MaxValue, fileSize] would survive the fileSize bound and
      // wrap negative at n.toInt — bound by Int.MaxValue explicitly
      if (n < 0 || n > fileSize || n > Int.MaxValue)
        throw new IllegalArgumentException(
          s"corrupt netcdf header: $what = $n in a $fileSize-byte file")
      n.toInt
    }

    /** Corruption guard: any in-header length/count field is bounded by
      * the file size — a corrupt field must become a named error, not a
      * NegativeArraySizeException or a multi-GB allocation amplified from
      * four corrupt bytes. */
    def checkedCount(n: Int, what: String): Int = {
      if (n < 0 || n > fileSize)
        throw new IllegalArgumentException(
          s"corrupt netcdf3 header: $what = $n in a $fileSize-byte file")
      n
    }

    def name(): String = {
      val len = checkedSize("name length")
      val b = new Array[Byte](len)
      in.readFully(b)
      skip(pad4(len.toLong) - len)
      new String(b, "UTF-8")
    }

    def skip(n: Long): Unit = {
      var left = n
      while (left > 0) {
        val s = in.skip(left)
        if (s <= 0) throw new EOFException("netcdf3 header truncated")
        left -= s
      }
    }

    /** One attribute value list -> AttrValue (char -> string; single
      * numeric -> scalar; multi -> list). */
    def attrValue(ncType: Int, nelems: Int): AttrValue = {
      requireTypeLegal(ncType, version)
      val vals: Vector[AttrValue] = ncType match {
        case NcChar =>
          val b = new Array[Byte](nelems)
          in.readFully(b)
          skip(pad4(nelems.toLong) - nelems)
          return AttrValue.AStr(new String(b, "UTF-8"))
        case NcByte =>
          val b = new Array[Byte](nelems)
          in.readFully(b)
          skip(pad4(nelems.toLong) - nelems)
          b.toVector.map(x => AttrValue.AInt(x.toLong))
        case NcUByte =>
          val b = new Array[Byte](nelems)
          in.readFully(b)
          skip(pad4(nelems.toLong) - nelems)
          b.toVector.map(x => AttrValue.AInt((x & 0xFF).toLong))
        case NcShort =>
          val out = Vector.fill(nelems)(AttrValue.AInt(in.readShort().toLong))
          skip(pad4(2L * nelems) - 2L * nelems)
          out
        case NcUShort =>
          val out = Vector.fill(nelems)(
            AttrValue.AInt((in.readShort() & 0xFFFF).toLong))
          skip(pad4(2L * nelems) - 2L * nelems)
          out
        case NcInt => Vector.fill(nelems)(AttrValue.AInt(in.readInt().toLong))
        case NcUInt => Vector.fill(nelems)(
          AttrValue.AInt(in.readInt().toLong & 0xFFFFFFFFL))
        case NcInt64 | NcUInt64 =>
          Vector.fill(nelems)(AttrValue.AInt(in.readLong()))
        case NcFloat => Vector.fill(nelems)(AttrValue.ANum(in.readFloat().toDouble))
        case NcDouble => Vector.fill(nelems)(AttrValue.ANum(in.readDouble()))
        case t => throw new IllegalArgumentException(s"Unknown attr nc_type $t")
      }
      if (vals.length == 1) vals.head else AttrValue.AList(vals)
    }

    def attrList(): Attrs = {
      val tag = i32(); val n = checkedSize("attribute count")
      require(tag == 0x0C || (tag == 0 && n == 0), s"bad att_list tag $tag")
      (0 until n).map { _ =>
        val nm = name()
        val t = i32(); val ne = checkedSize("attribute value count")
        nm -> attrValue(t, ne)
      }.toMap
    }
  }

  /** Header read size: headers are often a few hundred bytes, and the
    * default 8 KiB buffer read 8% more than the arrays of 200 KB files. */
  private val HeaderReadBytes = 512

  /** Parse the header only (metadata-sized read — the kerchunk scan path
    * never touches data bytes). */
  def readHeader(path: String): NcHeader = {
    val in = new DataInputStream(new BufferedInputStream(
      Files.newInputStream(Paths.get(path)), HeaderReadBytes))
    try {
      val magic = new Array[Byte](4)
      in.readFully(magic)
      require(magic(0) == 'C' && magic(1) == 'D' && magic(2) == 'F',
        s"$path is not a NetCDF classic file")
      val version = magic(3).toInt
      require(version == 1 || version == 2 || version == 5,
        s"Unsupported NetCDF variant $version (CDF-1/CDF-2/CDF-5 are)")
      val r = new HeaderReader(in, Files.size(Paths.get(path)), version)
      val numrecsRaw = if (version == 5) in.readLong() else r.u32()
      val streaming =
        if (version == 5) numrecsRaw == -1L else numrecsRaw == 0xFFFFFFFFL
      // dim_list
      val dtag = r.i32(); val ndims = r.checkedSize("dimension count")
      require(dtag == 0x0A || (dtag == 0 && ndims == 0), s"bad dim_list tag $dtag")
      val dims = (0 until ndims).map { _ =>
        val nm = r.name()
        val len = r.sizeField()
        // a dim is bounded only below: an unused dim may legally exceed the
        // file size (per-variable byte claims are bounded at read time)
        require(len >= 0 && len <= Int.MaxValue,
          s"corrupt netcdf header: dimension '$nm' length $len")
        NcDim(nm, len.toInt)
      }.toVector
      val gatts = r.attrList()
      // var_list
      val vtag = r.i32(); val nvars = r.checkedSize("variable count")
      require(vtag == 0x0B || (vtag == 0 && nvars == 0), s"bad var_list tag $vtag")
      val vars = (0 until nvars).map { _ =>
        val nm = r.name()
        val nd = r.checkedSize("variable rank")
        val dimids = (0 until nd).map { _ =>
          // dimids widen to 64 bits in CDF-5 (netcdf-c v1h_get_nc_dimid)
          val idL = if (version == 5) in.readLong() else r.i32().toLong
          require(idL >= 0 && idL < dims.length,
            s"corrupt netcdf header: variable '$nm' references dim $idL " +
              s"of ${dims.length}")
          idL.toInt
        }.toVector
        val vatts = r.attrList()
        val ncType = r.i32()
        requireTypeLegal(ncType, version)
        r.sizeField() // vsize — redundant, recomputed from shape (spec note)
        val begin = if (version == 1) r.u32() else in.readLong()
        NcVar(nm, dimids, vatts, ncType, begin)
      }.toVector
      val hdr0 = NcHeader(version, 0, dims, gatts, vars)
      // STREAMING numrecs: recover from the file size
      val numrecs =
        if (!streaming) {
          require(numrecsRaw >= 0 && numrecsRaw <= Int.MaxValue,
            s"corrupt netcdf header: numrecs $numrecsRaw")
          numrecsRaw.toInt
        } else hdr0.recordVars match {
          case Vector() => 0
          case rvs =>
            val recStart = rvs.map(_.begin).min
            require(hdr0.recsize > 0,
              s"corrupt netcdf3 header: zero-size records with STREAMING numrecs")
            ((Files.size(Paths.get(path)) - recStart) / hdr0.recsize).toInt
        }
      hdr0.copy(numrecs = numrecs)
    } finally in.close()
  }

  // ---------------------------------------------------------------- read

  def widenedDType(ncType: Int): DType = ncType match {
    case NcByte => DType.I1
    case NcChar => DType.U1 // byte codes; attrs decode to strings instead
    case NcShort => DType.I2
    case NcInt => DType.I4
    case NcFloat => DType.F4
    case NcDouble => DType.F8
    // the CDF-5 external types keep their signedness width-for-width
    case NcUByte => DType.U1
    case NcUShort => DType.U2
    case NcUInt => DType.U4
    case NcInt64 => DType.I8
    case NcUInt64 => DType.U8
  }

  private def readFully(ch: FileChannel, pos: Long, len: Int): Array[Byte] = {
    val buf = ByteBuffer.allocate(len)
    var off = 0L
    while (buf.hasRemaining) {
      val n = ch.read(buf, pos + off)
      if (n < 0) throw new EOFException(s"unexpected EOF at ${pos + off}")
      off += n
    }
    buf.array()
  }

  /** Positioned ranged read — lets callers (the kerchunk scanner's inline
    * refs) pull a single slab without loading the file. */
  def readRange(path: String, offset: Long, length: Long): Array[Byte] = {
    require(length <= Int.MaxValue, s"range of $length bytes too large for one buffer")
    val ch = FileChannel.open(Paths.get(path), StandardOpenOption.READ)
    try readFully(ch, offset, length.toInt) finally ch.close()
  }

  /** Open one channel and hand the caller a ranged reader over it — a scan
    * that inlines many small slabs does one open, not one per slab. */
  def withRangeReader[T](path: String)(body: ((Long, Long) => Array[Byte]) => T): T = {
    val ch = FileChannel.open(Paths.get(path), StandardOpenOption.READ)
    try body { (offset, length) =>
      require(length <= Int.MaxValue, s"range of $length bytes too large")
      readFully(ch, offset, length.toInt)
    } finally ch.close()
  }

  /** Read a classic file into the engine's Fragment. Variables whose only
    * dim is their own name become coordinates (the xarray convention the
    * reference relies on); everything else is a data variable.
    *
    * Only the header is read here. Every array with a dim is file-backed
    * ([[NDArray.fileRows]]): fixed variables as contiguous rows, record
    * variables as rows `recsize` apart. Its bytes are read when its data is
    * first used, wherever that is, so the file must stay in place until
    * then. Scalars are read now. Every header check, including that each
    * variable's bytes lie inside the file, runs here. */
  def read(path: String): Fragment = {
    val hdr = readHeader(path)
    val file = Paths.get(path).toAbsolutePath
    val fileSize = Files.size(file)
    val dimSizes: Map[String, Int] = hdr.dims.map(d =>
      d.name -> (if (d.isRecord) hdr.numrecs else d.length)).toMap
    val vars: Map[String, Variable] = hdr.vars.map { v =>
      val shape = v.shape(hdr.dims, hdr.numrecs)
      val ext = extSize(v.ncType)
      val dtype = widenedDType(v.ncType)
      val data =
        if (shape.isEmpty)
          NDArray(dtype, shape, NDArray.decode(dtype, readRange(path, v.begin, ext), bigEndian = true))
        else {
          val rows = shape.head
          val rowBytesBig = shape.tail.map(BigInt(_)).product * ext
          val totalBytes = rowBytesBig * rows
          require(totalBytes <= Int.MaxValue,
            s"variable ${v.name} is $totalBytes bytes — too large for in-memory " +
              "decode; use the kerchunk scan path (RefSet.scanNetCDF3) instead")
          val rowBytes = rowBytesBig.toLong
          val rowStride = if (v.isRecord(hdr.dims)) hdr.recsize else rowBytes
          // classic format stores data uncompressed, so every row lies
          // inside the file: a corrupt dim length or begin fails by name
          // here, at open, not when a later task loads the rows
          val end = if (rows == 0) BigInt(v.begin)
            else BigInt(v.begin) + BigInt(rows - 1) * rowStride + rowBytes
          require(v.begin >= 0 && rowStride >= rowBytes && end <= fileSize,
            s"corrupt netcdf3 header: variable ${v.name} spans bytes " +
              s"[${v.begin}, $end) of a $fileSize-byte file")
          NDArray.fileRows(dtype, shape,
            FileRows(file.toString, v.begin, rowBytes, rowStride, bigEndian = true))
        }
      v.name -> Variable(v.dimids.map(hdr.dims(_).name), data, v.attrs)
    }.toMap
    val (coords, dataVars) = vars.partition { case (name, v) =>
      v.dims == Vector(name)
    }
    Fragment(dimSizes, coords, dataVars, hdr.gatts)
  }

  // ---------------------------------------------------------------- write

  private def ncTypeFor(d: DType, version: Int = 1): Int = d match {
    case DType.I1 => NcByte
    case DType.U1 => if (version == 5) NcUByte else NcByte
    case DType.I2 => NcShort
    case DType.U2 => if (version == 5) NcUShort else NcShort
    case DType.I4 => NcInt
    case DType.U4 => if (version == 5) NcUInt else NcInt
    case DType.F4 => NcFloat
    case DType.F8 => NcDouble
    case DType.I8 | DType.M8ns if version == 5 => NcInt64
    case DType.U8 if version == 5 => NcUInt64
    case DType.I8 | DType.U8 | DType.M8ns => throw new IllegalArgumentException(
      "NetCDF classic has no 64-bit integer type; cast int64 variables to " +
        "int32 or float64 before writing (CF time encodings fit int32), " +
        "or write CDF-5 (version = 5)")
  }

  private def attrBytes(v: AttrValue): (Int, Int, Array[Byte]) = v match {
    case AttrValue.AStr(s) =>
      val b = s.getBytes("UTF-8")
      (NcChar, b.length, java.util.Arrays.copyOf(b, pad4(b.length.toLong).toInt))
    case AttrValue.AInt(l) =>
      require(l >= Int.MinValue && l <= Int.MaxValue,
        s"attr value $l does not fit NC_INT")
      val bb = ByteBuffer.allocate(4).order(ByteOrder.BIG_ENDIAN)
      bb.putInt(l.toInt); (NcInt, 1, bb.array())
    case AttrValue.ANum(d) =>
      val bb = ByteBuffer.allocate(8).order(ByteOrder.BIG_ENDIAN)
      bb.putDouble(d); (NcDouble, 1, bb.array())
    case AttrValue.AList(xs) if xs.forall(_.isInstanceOf[AttrValue.AInt]) =>
      val bb = ByteBuffer.allocate(4 * xs.length).order(ByteOrder.BIG_ENDIAN)
      xs.foreach { case AttrValue.AInt(l) => bb.putInt(l.toInt); case _ => }
      (NcInt, xs.length, bb.array())
    case AttrValue.AList(xs) if xs.forall(x =>
        x.isInstanceOf[AttrValue.ANum] || x.isInstanceOf[AttrValue.AInt]) =>
      val bb = ByteBuffer.allocate(8 * xs.length).order(ByteOrder.BIG_ENDIAN)
      xs.foreach {
        case AttrValue.ANum(d) => bb.putDouble(d)
        case AttrValue.AInt(l) => bb.putDouble(l.toDouble)
        case _ => }
      (NcDouble, xs.length, bb.array())
    case other => throw new IllegalArgumentException(
      s"Attr value $other has no NetCDF classic representation")
  }

  /** A NON_NEG field: 4 bytes in CDF-1/2, 8 in CDF-5. */
  private def sizeBytes(n: Long, version: Int): Array[Byte] = {
    val bb = ByteBuffer.allocate(if (version == 5) 8 else 4)
      .order(ByteOrder.BIG_ENDIAN)
    if (version == 5) bb.putLong(n) else bb.putInt(n.toInt)
    bb.array()
  }

  private def nameBytes(s: String, version: Int = 1): Array[Byte] = {
    val b = s.getBytes("UTF-8")
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(sizeBytes(b.length.toLong, version))
    bos.write(b)
    bos.write(new Array[Byte]((pad4(b.length.toLong) - b.length).toInt))
    bos.toByteArray
  }

  private def attrListBytes(attrs: Attrs, version: Int = 1): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val hd = ByteBuffer.allocate(4).order(ByteOrder.BIG_ENDIAN)
    hd.putInt(if (attrs.isEmpty) 0 else 0x0C)
    bos.write(hd.array())
    bos.write(sizeBytes(attrs.size.toLong, version))
    attrs.toSeq.sortBy(_._1).foreach { case (k, v) =>
      bos.write(nameBytes(k, version))
      val (t, ne, payload) = attrBytes(v)
      val ab = ByteBuffer.allocate(4).order(ByteOrder.BIG_ENDIAN)
      ab.putInt(t)
      bos.write(ab.array())
      bos.write(sizeBytes(ne.toLong, version))
      bos.write(payload)
    }
    bos.toByteArray
  }

  private def encodeValues(arr: NDArray, ncType: Int): Array[Byte] = {
    val n = arr.size
    val bb = ByteBuffer.allocate(n * extSize(ncType)).order(ByteOrder.BIG_ENDIAN)
    ncType match {
      case NcInt =>
        arr.data match {
          case a: Array[Int] => bb.asIntBuffer().put(a)
          case _ => var i = 0; while (i < n) { bb.putInt(arr.getLong(i).toInt); i += 1 }
        }
      case NcFloat =>
        arr.data match {
          case a: Array[Float] => bb.asFloatBuffer().put(a)
          case _ => var i = 0; while (i < n) { bb.putFloat(arr.getDouble(i).toFloat); i += 1 }
        }
      case NcDouble =>
        arr.data match {
          case a: Array[Double] => bb.asDoubleBuffer().put(a)
          case _ => var i = 0; while (i < n) { bb.putDouble(arr.getDouble(i)); i += 1 }
        }
      case NcByte =>
        arr.data match {
          case a: Array[Byte] => bb.put(a)
          case _ => var i = 0; while (i < n) { bb.put(arr.getLong(i).toByte); i += 1 }
        }
      case NcShort | NcUShort =>
        arr.data match {
          case a: Array[Short] => bb.asShortBuffer().put(a)
          case _ => var i = 0; while (i < n) { bb.putShort(arr.getLong(i).toShort); i += 1 }
        }
      case NcInt64 | NcUInt64 =>
        arr.data match {
          case a: Array[Long] => bb.asLongBuffer().put(a)
          case _ => var i = 0; while (i < n) { bb.putLong(arr.getLong(i)); i += 1 }
        }
      case NcUByte =>
        arr.data match {
          case a: Array[Byte] => bb.put(a)
          case _ => var i = 0; while (i < n) { bb.put(arr.getLong(i).toByte); i += 1 }
        }
      case NcUInt =>
        arr.data match {
          case a: Array[Int] => bb.asIntBuffer().put(a)
          case _ => var i = 0; while (i < n) { bb.putInt(arr.getLong(i).toInt); i += 1 }
        }
      case _ => throw new IllegalStateException(s"unhandled writer nc_type")
    }
    bb.array()
  }

  /** Write a Fragment as a classic NetCDF file. `recordDim` picks the
    * unlimited dimension (exercising the interleaved record layout);
    * `version` 1 writes CDF-1, 2 writes CDF-2 (64-bit offsets). */
  def write(path: String, f: Fragment, recordDim: Option[String] = None,
            version: Int = 1): Unit = {
    require(version == 1 || version == 2 || version == 5,
      s"version must be 1, 2 or 5")
    recordDim.foreach(rd => require(f.dims.contains(rd),
      s"record dim $rd not in ${f.dims.keySet}"))
    // deterministic order: coords first, then data vars, names sorted;
    // record vars must come last in the var list (classic convention)
    val ordered0 = (f.coords.toSeq.sortBy(_._1) ++ f.dataVars.toSeq.sortBy(_._1))
    val (fixedVars, recVars) = ordered0.partition { case (_, v) =>
      !recordDim.exists(v.dims.headOption.contains(_)) }
    recVars.foreach { case (n, v) => require(v.dims.head == recordDim.get,
      s"record dim must lead var $n's dims ${v.dims}") }
    // classic format forbids the record dim anywhere but position 0; a var
    // with it mid-shape would silently round-trip as zero-sized — fail fast
    fixedVars.foreach { case (n, v) =>
      require(!recordDim.exists(v.dims.contains(_)),
        s"var $n has record dim ${recordDim.get} in non-leading position " +
          s"${v.dims} — NetCDF classic requires the record dim to lead") }
    val ordered = fixedVars ++ recVars
    val dimNames: Vector[String] = {
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      ordered.foreach { case (_, v) => v.dims.foreach(seen += _) }
      f.dims.keys.foreach(seen += _)
      seen.toVector
    }
    val dimId = dimNames.zipWithIndex.toMap
    val numrecs = recordDim.map(f.dims).getOrElse(0)

    // ---- header bytes (begins backfilled after sizing) ----
    val bos = new java.io.ByteArrayOutputStream()
    def be(i: Int): Unit = {
      val bb = ByteBuffer.allocate(4).order(ByteOrder.BIG_ENDIAN)
      bb.putInt(i); bos.write(bb.array())
    }
    def szw(n: Long): Unit = bos.write(sizeBytes(n, version))
    bos.write(Array[Byte]('C', 'D', 'F', version.toByte))
    szw(numrecs.toLong)
    be(0x0A); szw(dimNames.length.toLong)
    dimNames.foreach { d =>
      bos.write(nameBytes(d, version))
      szw(if (recordDim.contains(d)) 0L else f.dims(d).toLong)
    }
    bos.write(attrListBytes(f.attrs, version))
    be(0x0B); szw(ordered.length.toLong)
    val beginSlots = scala.collection.mutable.ArrayBuffer.empty[Int]
    ordered.foreach { case (name, v) =>
      bos.write(nameBytes(name, version))
      szw(v.dims.length.toLong)
      v.dims.foreach(d => szw(dimId(d).toLong)) // dimids widen in CDF-5
      bos.write(attrListBytes(v.attrs, version))
      val t = ncTypeFor(v.dtype, version)
      be(t)
      val isRec = recordDim.exists(v.dims.headOption.contains(_))
      val slab = (if (isRec) v.shape.drop(1) else v.shape)
        .map(_.toLong).product * extSize(t)
      szw(pad4(slab)) // vsize (padded per spec; capped sizes unused here)
      beginSlots += bos.size()
      if (version == 1) be(0) else { be(0); be(0) } // begin placeholder
    }
    val header = bos.toByteArray

    // ---- assign begins: fixed vars first, then the record area ----
    val begins = new Array[Long](ordered.length)
    var cursor = header.length.toLong
    ordered.zipWithIndex.foreach { case ((_, v), i) =>
      val isRec = recordDim.exists(v.dims.headOption.contains(_))
      if (!isRec) {
        begins(i) = cursor
        cursor += pad4(v.data.size.toLong * extSize(ncTypeFor(v.dtype, version)))
      }
    }
    val recStart = cursor
    val onlyOneRec = recVars.length == 1
    var recOff = 0L
    ordered.zipWithIndex.foreach { case ((_, v), i) =>
      val isRec = recordDim.exists(v.dims.headOption.contains(_))
      if (isRec) {
        begins(i) = recStart + recOff
        val slab = v.shape.drop(1).map(_.toLong).product *
          extSize(ncTypeFor(v.dtype, version))
        recOff += (if (onlyOneRec) slab else pad4(slab))
      }
    }
    val recsize = recOff
    val hb = ByteBuffer.wrap(header).order(ByteOrder.BIG_ENDIAN)
    beginSlots.zipWithIndex.foreach { case (slot, i) =>
      if (version == 1) {
        require(begins(i) <= 0xFFFFFFFFL, "begin overflows CDF-1; use version=2")
        hb.putInt(slot, begins(i).toInt)
      } else hb.putLong(slot, begins(i))
    }

    // ---- data ----
    val p: Path = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    val ch = FileChannel.open(p, StandardOpenOption.CREATE,
      StandardOpenOption.WRITE, StandardOpenOption.TRUNCATE_EXISTING)
    try {
      ch.write(ByteBuffer.wrap(header), 0L)
      def writeAt(pos: Long, bytes: Array[Byte]): Unit = {
        val bb = ByteBuffer.wrap(bytes)
        var off = 0L
        while (bb.hasRemaining) off += ch.write(bb, pos + off)
      }
      ordered.zipWithIndex.foreach { case ((_, v), i) =>
        val t = ncTypeFor(v.dtype, version)
        val isRec = recordDim.exists(v.dims.headOption.contains(_))
        if (!isRec) {
          val enc = encodeValues(v.data, t)
          writeAt(begins(i), java.util.Arrays.copyOf(enc, pad4(enc.length.toLong).toInt))
        } else {
          val slabElems = v.shape.drop(1).product
          val slabBytes = slabElems.toLong * extSize(t)
          var r = 0
          while (r < numrecs) {
            val slice = v.data.slice(
              Slc(r, r + 1) +: v.shape.drop(1).map(s => Slc(0, s)).toVector)
            val enc = encodeValues(slice, t)
            val padded = if (onlyOneRec) enc
              else java.util.Arrays.copyOf(enc, pad4(slabBytes).toInt)
            writeAt(begins(i) + r * recsize, padded)
            r += 1
          }
        }
      }
      // pad the file tail so size = recStart + numrecs*recsize (readers that
      // recover STREAMING numrecs from the file size need the exact length)
      if (recVars.nonEmpty && numrecs > 0) {
        val want = recStart + numrecs.toLong * recsize
        if (ch.size() < want) ch.write(ByteBuffer.allocate(1), want - 1)
      }
    } finally ch.close()
  }
}
