package graft.zarr

import graft.core._
import graft.core.Attrs.Attrs
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Minimal self-contained Zarr v3 store (spec: zarr-specs v3 core) over a
  * local/posix filesystem path. Layout per the v3 default chunk-key encoding:
  *
  *   <root>/zarr.json                     group metadata + attributes
  *   <root>/<var>/zarr.json               array metadata
  *   <root>/<var>/c/<i>/<j>/...           chunk blobs ("c" prefix, "/" sep)
  *
  * Bytes codec, little endian, no compression (the reference's default path;
  * tests/test_writers.py:42-56 fixes the same chunk-key layout). Region
  * writes must align with chunk boundaries — the engine's rechunk guarantees
  * it, and we keep the reference's alignment assertion verbatim
  * (writers.py:43-53) so unaligned writes fail loudly instead of corrupting.
  *
  * At cluster scale each chunk write is one independent object PUT; no locks
  * are needed because the rechunk GroupKeys partition chunk space disjointly.
  */
object ZarrStore {
  private val mapper = new ObjectMapper()

  /** Required-field access on a metadata JSON node: a corrupt or truncated
    * document must fail by name, never let Jackson's null-on-missing reach
    * `.asInt()`/`.elements()` as an NPE (CorruptionSweepSpec pins this). */
  private[zarr] def jreq(n: com.fasterxml.jackson.databind.JsonNode,
                         field: String, doc: String): com.fasterxml.jackson.databind.JsonNode = {
    val v = if (n == null) null else n.get(field)
    if (v == null || v.isNull) throw new IllegalArgumentException(
      s"$doc: missing required metadata field '$field' (corrupt store?)")
    v
  }

  // ---------- attrs <-> JSON ----------
  def attrToNode(v: AttrValue): com.fasterxml.jackson.databind.JsonNode = v match {
    case AttrValue.AStr(s) => mapper.getNodeFactory.textNode(s)
    case AttrValue.ANum(d) => mapper.getNodeFactory.numberNode(d)
    case AttrValue.AInt(l) => mapper.getNodeFactory.numberNode(l)
    case AttrValue.ABool(b) => mapper.getNodeFactory.booleanNode(b)
    case AttrValue.ANull => mapper.getNodeFactory.nullNode()
    case AttrValue.AList(xs) =>
      val arr = mapper.createArrayNode()
      xs.foreach(x => arr.add(attrToNode(x)))
      arr
  }

  def nodeToAttr(n: com.fasterxml.jackson.databind.JsonNode): AttrValue =
    if (n.isTextual) AttrValue.AStr(n.asText())
    else if (n.isIntegralNumber) AttrValue.AInt(n.asLong())
    else if (n.isNumber) AttrValue.ANum(n.asDouble())
    else if (n.isBoolean) AttrValue.ABool(n.asBoolean())
    else if (n.isNull) AttrValue.ANull
    else if (n.isArray) AttrValue.AList(
      n.elements().asScala.map(nodeToAttr).toVector)
    else AttrValue.AStr(n.toString)

  def attrsObject(attrs: Attrs): ObjectNode = {
    val o = mapper.createObjectNode()
    attrs.toSeq.sortBy(_._1).foreach { case (k, v) => o.set[ObjectNode](k, attrToNode(v)) }
    o
  }

  def objectAttrs(o: com.fasterxml.jackson.databind.JsonNode): Attrs =
    if (o == null || !o.isObject) Attrs.empty
    else o.properties().asScala.map(e => e.getKey -> nodeToAttr(e.getValue)).toMap

  def dtypeName(d: DType): String = d match {
    case DType.I1 => "int8"
    case DType.I2 => "int16"
    case DType.U1 => "uint8"
    case DType.U2 => "uint16"
    case DType.U4 => "uint32"
    case DType.U8 => "uint64"
    case DType.I4 => "int32"
    case DType.I8 => "int64"
    case DType.F4 => "float32"
    case DType.F8 => "float64"
    case DType.M8ns => "int64" // CF-encoded time: int64 + units/calendar attrs
  }

  def dtypeFromName(n: String): DType = n match {
    case "int8" => DType.I1
    case "int16" => DType.I2
    case "uint8" => DType.U1
    case "uint16" => DType.U2
    case "uint32" => DType.U4
    case "uint64" => DType.U8
    case "int32" => DType.I4
    case "int64" => DType.I8
    case "float32" => DType.F4
    case "float64" => DType.F8
    case other => throw new IllegalArgumentException(s"Unsupported zarr dtype $other")
  }

  /** One array's zarr.json document (v3 core + sharding spec). Shared by
    * the on-disk store (createArray) and the kerchunk scanners, which inline
    * the same document into a RefSet without a disk group. `bigEndian`
    * selects the bytes codec's endian — scanned NetCDF3 byte ranges are
    * big-endian in place, so their metadata must say so for the reader.
    * `gribVar` declares the grib2 whole-message codec instead of the bytes
    * codec: the chunk object is a complete GRIB2 message and the named
    * variable ("data" | "latitude" | "longitude") is extracted on read —
    * the kerchunk scan_grib contract (bytes stay in the original file). */
  def arrayMetaDoc(shape: Vector[Int], chunks: Vector[Int],
                   dtype: DType, attrs: Attrs,
                   fillValue: AttrValue = AttrValue.AInt(0),
                   dimensionNames: Option[Vector[String]] = None,
                   gzipLevel: Option[Int] = None,
                   shardShape: Option[Vector[Int]] = None,
                   bigEndian: Boolean = false,
                   gribVar: Option[String] = None,
                   zlibLevel: Option[Int] = None,
                   shuffleElem: Option[Int] = None,
                   zstdLevel: Option[Int] = None,
                   blosc: Option[Blosc.Params] = None,
                   numFilter: Option[NumFilter] = None): Array[Byte] = {
    val o = mapper.createObjectNode()
    o.put("zarr_format", 3)
    o.put("node_type", "array")
    val sh = mapper.createArrayNode(); shape.foreach(sh.add); o.set[ObjectNode]("shape", sh)
    o.put("data_type", dtypeName(dtype))
    val grid = mapper.createObjectNode()
    grid.put("name", "regular")
    val gcfg = mapper.createObjectNode()
    // with sharding the top-level chunk grid addresses SHARDS; inner chunks
    // live in the sharding codec's configuration (zarr v3 sharding spec)
    val ch = mapper.createArrayNode(); shardShape.getOrElse(chunks).foreach(ch.add)
    gcfg.set[ObjectNode]("chunk_shape", ch)
    grid.set[ObjectNode]("configuration", gcfg)
    o.set[ObjectNode]("chunk_grid", grid)
    val cke = mapper.createObjectNode()
    cke.put("name", "default")
    val ckcfg = mapper.createObjectNode(); ckcfg.put("separator", "/")
    cke.set[ObjectNode]("configuration", ckcfg)
    o.set[ObjectNode]("chunk_key_encoding", cke)
    o.set[ObjectNode]("fill_value", attrToNode(fillValue))
    def innerCodecs: ArrayNode = {
      val codecs = mapper.createArrayNode()
      gribVar match {
        case Some(v) =>
          val grib = mapper.createObjectNode()
          grib.put("name", "grib2")
          val gc = mapper.createObjectNode(); gc.put("var", v)
          grib.set[ObjectNode]("configuration", gc)
          codecs.add(grib)
          return codecs
        case None =>
      }
      numFilter.foreach { f =>
        // numcodecs array->array filters lead the chain
        val dn = mapper.createObjectNode()
        dn.put("name", f.id)
        val dc = mapper.createObjectNode()
        filterFields(f, dc)
        dn.set[ObjectNode]("configuration", dc)
        codecs.add(dn)
      }
      val bytesCodec = mapper.createObjectNode()
      bytesCodec.put("name", "bytes")
      val bcfg = mapper.createObjectNode()
      bcfg.put("endian", if (bigEndian) "big" else "little")
      bytesCodec.set[ObjectNode]("configuration", bcfg)
      codecs.add(bytesCodec)
      shuffleElem.foreach { es =>
        // byte-transpose by element size — HDF5's shuffle filter; applies
        // after the bytes codec on encode, so decode unshuffles AFTER
        // decompression (numcodecs "shuffle" analog)
        val sh2 = mapper.createObjectNode()
        sh2.put("name", "shuffle")
        val scfg2 = mapper.createObjectNode(); scfg2.put("elementsize", es)
        sh2.set[ObjectNode]("configuration", scfg2)
        codecs.add(sh2)
      }
      gzipLevel.foreach { lvl =>
        val gz = mapper.createObjectNode()
        gz.put("name", "gzip")
        val gcfg2 = mapper.createObjectNode(); gcfg2.put("level", lvl)
        gz.set[ObjectNode]("configuration", gcfg2)
        codecs.add(gz)
      }
      zlibLevel.foreach { lvl =>
        // raw RFC-1950 zlib — what HDF5's deflate filter stores; scanned
        // netCDF-4 chunk refs decode in place (numcodecs "zlib" analog)
        val z = mapper.createObjectNode()
        z.put("name", "zlib")
        val zcfg = mapper.createObjectNode(); zcfg.put("level", lvl)
        z.set[ObjectNode]("configuration", zcfg)
        codecs.add(z)
      }
      zstdLevel.foreach { lvl =>
        // zarr v3 registered zstd codec (the reference's blosc-zstd
        // encoding fixture analog; zstd-jni ships with Spark)
        val z = mapper.createObjectNode()
        z.put("name", "zstd")
        val zcfg = mapper.createObjectNode()
        zcfg.put("level", lvl); zcfg.put("checksum", false)
        z.set[ObjectNode]("configuration", zcfg)
        codecs.add(z)
      }
      blosc.foreach { p =>
        // zarr v3 registered blosc codec — the zarr v2 DEFAULT compressor's
        // v3 form; the container does its own per-block shuffle
        val b = mapper.createObjectNode()
        b.put("name", "blosc")
        val bcfg = mapper.createObjectNode()
        bcfg.put("cname", p.cname); bcfg.put("clevel", p.clevel)
        bcfg.put("shuffle",
          if (p.bitShuffle) "bitshuffle"
          else if (p.shuffle) "shuffle" else "noshuffle")
        bcfg.put("typesize", dtype.byteSize)
        bcfg.put("blocksize", p.blocksize)
        b.set[ObjectNode]("configuration", bcfg)
        codecs.add(b)
      }
      codecs
    }
    val codecs = shardShape match {
      case None => innerCodecs
      case Some(_) =>
        val top = mapper.createArrayNode()
        val shard = mapper.createObjectNode()
        shard.put("name", "sharding_indexed")
        val scfg = mapper.createObjectNode()
        val ics = mapper.createArrayNode(); chunks.foreach(ics.add)
        scfg.set[ObjectNode]("chunk_shape", ics)
        scfg.set[ObjectNode]("codecs", innerCodecs)
        val idxCodecs = mapper.createArrayNode()
        val ib = mapper.createObjectNode(); ib.put("name", "bytes")
        val ibc = mapper.createObjectNode(); ibc.put("endian", "little")
        ib.set[ObjectNode]("configuration", ibc)
        idxCodecs.add(ib)
        val crc = mapper.createObjectNode(); crc.put("name", "crc32c")
        idxCodecs.add(crc)
        scfg.set[ObjectNode]("index_codecs", idxCodecs)
        scfg.put("index_location", "end")
        shard.set[ObjectNode]("configuration", scfg)
        top.add(shard)
        top
    }
    o.set[ObjectNode]("codecs", codecs)
    dimensionNames.foreach { dn =>
      val a = mapper.createArrayNode(); dn.foreach(a.add); o.set[ObjectNode]("dimension_names", a)
    }
    o.set[ObjectNode]("attributes", attrsObject(attrs))
    mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(o)
  }

  /** One group's zarr.json document — the scanner twin of initGroup. */
  def groupMetaDoc(attrs: Attrs): Array[Byte] = {
    val o = mapper.createObjectNode()
    o.put("zarr_format", 3)
    o.put("node_type", "group")
    o.set[ObjectNode]("attributes", attrsObject(attrs))
    mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(o)
  }

  // ---------- zarr v2 documents (the zarr-python classic layout) ----------

  /** v2 dtype string: explicit byte order + kind + itemsize ("<f8");
    * single-byte kinds are order-less ("|i1"/"|u1", the numpy spelling). */
  def dtypeNameV2(d: DType, bigEndian: Boolean): String = {
    val code = d match {
      case DType.I1 => return "|i1"
      case DType.U1 => return "|u1"
      case DType.I2 => "i2"
      case DType.U2 => "u2"
      case DType.U4 => "u4"
      case DType.U8 => "u8"
      case DType.I4 => "i4"
      case DType.I8 | DType.M8ns => "i8"
      case DType.F4 => "f4"
      case DType.F8 => "f8"
    }
    (if (bigEndian) ">" else "<") + code
  }

  /** v2 dtype string -> (our dtype, bigEndian). */
  def dtypeFromNameV2(s: String): (DType, Boolean) = {
    require(s.length >= 3 && "<>|".contains(s.head), s"v2 dtype '$s'")
    val d = s.drop(1) match {
      case "i1" => DType.I1
      case "i2" => DType.I2
      case "u1" => DType.U1
      case "u2" => DType.U2
      case "u4" => DType.U4
      case "u8" => DType.U8
      case "i4" => DType.I4
      case "i8" => DType.I8
      case "f4" => DType.F4
      case "f8" => DType.F8
      case other => throw new IllegalArgumentException(
        s"Unsupported zarr v2 dtype $other")
    }
    (d, s.head == '>')
  }

  /** A numcodecs array->array filter: transforms the logical `dtype` array
    * into stored `astype` values before byte-level codecs (shuffle,
    * compressor) run. The three filters real zarr v2 archives carry:
    * `Delta`, `FixedScaleOffset`, `Quantize`. `dtype`/`astype` are
    * numcodecs typestrings ("<i8", "|u1", …); `astype` defaults to
    * `dtype`. The `id` is the numcodecs registry id (the v2 `filters`
    * entry's `"id"` and this store's v3 codec `"name"`). */
  sealed trait NumFilter {
    def dtype: String
    def astype: String
    def id: String
    final def logicalDType: DType = dtypeFromNameV2(dtype)._1
  }

  /** numcodecs `Delta` (common on time/coordinate arrays). Encode stores
    * `arr[0]` then consecutive differences, computed in `dtype` and cast
    * to `astype`; decode is the running cumulative sum, accumulated in
    * `dtype` (the numcodecs `np.cumsum(..., out=dec)` contract — int32
    * wraps, float32 rounds per step). */
  final case class DeltaParams(dtype: String, astype: String)
      extends NumFilter { def id = "delta" }

  /** numcodecs `FixedScaleOffset` (lossy float packing — the CF
    * scale_factor/add_offset convention as a codec). Encode:
    * `around((x - offset) * scale)` cast (wrapping) to `astype`, normally
    * a narrow integer; decode: `enc / scale + offset` cast to `dtype`. */
  final case class ScaleOffsetParams(offset: Double, scale: Double,
                                     dtype: String, astype: String)
      extends NumFilter { def id = "fixedscaleoffset" }

  /** numcodecs `Quantize` (lossy float rounding to `digits` decimal
    * digits). Encode keeps the float type but rounds the mantissa at the
    * binary precision covering 10^-digits (`around(scale*x)/scale` with
    * scale = 2^ceil(log2(10^digits))); decode is an astype->dtype cast. */
  final case class QuantizeParams(digits: Int, dtype: String, astype: String)
      extends NumFilter { def id = "quantize" }

  /** Dispatch: decode `bytes` (n `astype` values) back to a `dtype` array. */
  def filterDecode(bytes: Array[Byte], f: NumFilter, n: Int,
                   shape: Vector[Int]): NDArray = f match {
    case p: DeltaParams => deltaDecode(bytes, p, n, shape)
    case p: ScaleOffsetParams => scaleOffsetDecode(bytes, p, n, shape)
    case p: QuantizeParams => quantizeDecode(bytes, p, n, shape)
  }

  /** Dispatch: serialize `arr` as the filter's stored `astype` bytes. */
  def filterEncode(arr: NDArray, f: NumFilter): Array[Byte] = f match {
    case p: DeltaParams => deltaEncode(arr, p)
    case p: ScaleOffsetParams => scaleOffsetEncode(arr, p)
    case p: QuantizeParams => quantizeEncode(arr, p)
  }

  /** Parse a numcodecs filter JSON node (v2 `filters` entry keyed by `id`,
    * or a v3 codec `configuration` keyed by the codec `name`). */
  def filterFromJson(id: String,
                     n: com.fasterxml.jackson.databind.JsonNode): NumFilter = {
    def dt = jreq(n, "dtype", s"filter '$id'").asText()
    def at = Option(n.get("astype")).filter(!_.isNull).map(_.asText())
      .getOrElse(dt)
    id match {
      case "delta" => DeltaParams(dt, at)
      case "fixedscaleoffset" => ScaleOffsetParams(
        jreq(n, "offset", "filter 'fixedscaleoffset'").asDouble(),
        jreq(n, "scale", "filter 'fixedscaleoffset'").asDouble(), dt, at)
      case "quantize" => QuantizeParams(
        jreq(n, "digits", "filter 'quantize'").asInt(), dt, at)
      case other => throw new IllegalArgumentException(
        s"numcodecs filter '$other' is not supported " +
          "(supported: delta, fixedscaleoffset, quantize)")
    }
  }

  /** Fill `o` with the filter's numcodecs fields (everything but id/name). */
  def filterFields(f: NumFilter, o: ObjectNode): Unit = {
    f match {
      case p: ScaleOffsetParams =>
        // numcodecs emits integral scale/offset as JSON ints
        if (p.offset == math.rint(p.offset) && !p.offset.isInfinite)
          o.put("offset", p.offset.toLong)
        else o.put("offset", p.offset)
        if (p.scale == math.rint(p.scale) && !p.scale.isInfinite)
          o.put("scale", p.scale.toLong)
        else o.put("scale", p.scale)
      case p: QuantizeParams => o.put("digits", p.digits)
      case _: DeltaParams =>
    }
    o.put("dtype", f.dtype); o.put("astype", f.astype)
  }

  /** Inverse Delta: `bytes` hold `n` `astype` values (post-decompression,
    * post-unshuffle); returns the cumulative sum as a `dtype` array. */
  def deltaDecode(bytes: Array[Byte], p: DeltaParams, n: Int,
                  shape: Vector[Int]): NDArray = {
    val (dt, _) = dtypeFromNameV2(p.dtype)
    val (at, atBig) = dtypeFromNameV2(p.astype)
    require(bytes.length == n * at.byteSize,
      s"delta chunk: ${bytes.length} bytes for $n ${p.astype} values")
    val buf = ByteBuffer.wrap(bytes).order(
      if (atBig) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
    def longAt(i: Int): Long = at match {
      case DType.I1 => buf.get(i).toLong
      case DType.U1 => (buf.get(i) & 0xFF).toLong
      case DType.I2 => buf.getShort(i * 2).toLong
      case DType.U2 => (buf.getShort(i * 2) & 0xFFFF).toLong
      case DType.I4 => buf.getInt(i * 4).toLong
      case DType.U4 => buf.getInt(i * 4) & 0xFFFFFFFFL
      case DType.I8 | DType.U8 | DType.M8ns => buf.getLong(i * 8)
      case DType.F4 => buf.getFloat(i * 4).toLong
      case DType.F8 => buf.getDouble(i * 8).toLong
    }
    def doubleAt(i: Int): Double = at match {
      case DType.F4 => buf.getFloat(i * 4).toDouble
      case DType.F8 => buf.getDouble(i * 8)
      case _ => longAt(i).toDouble
    }
    val data: AnyRef = dt match {
      case DType.I1 | DType.U1 => // per-step wrap in the narrow type
        val a = new Array[Byte](n); var acc: Byte = 0; var i = 0
        while (i < n) { acc = (acc + longAt(i)).toByte; a(i) = acc; i += 1 }; a
      case DType.I2 | DType.U2 =>
        val a = new Array[Short](n); var acc: Short = 0; var i = 0
        while (i < n) { acc = (acc + longAt(i)).toShort; a(i) = acc; i += 1 }; a
      case DType.I4 | DType.U4 =>
        val a = new Array[Int](n); var acc = 0; var i = 0
        while (i < n) { acc += longAt(i).toInt; a(i) = acc; i += 1 }; a
      case DType.I8 | DType.U8 | DType.M8ns =>
        val a = new Array[Long](n); var acc = 0L; var i = 0
        while (i < n) { acc += longAt(i); a(i) = acc; i += 1 }; a
      case DType.F4 => // accumulate in float32: per-step rounding matches
        val a = new Array[Float](n); var acc = 0f; var i = 0
        while (i < n) { acc += doubleAt(i).toFloat; a(i) = acc; i += 1 }; a
      case DType.F8 =>
        val a = new Array[Double](n); var acc = 0d; var i = 0
        while (i < n) { acc += doubleAt(i); a(i) = acc; i += 1 }; a
    }
    NDArray(dt, shape, data)
  }

  /** Forward Delta: serialize `arr` as first-value + consecutive
    * differences in `astype` bytes (the pre-shuffle/pre-compression form). */
  def deltaEncode(arr: NDArray, p: DeltaParams): Array[Byte] = {
    val (dt, _) = dtypeFromNameV2(p.dtype)
    val (at, atBig) = dtypeFromNameV2(p.astype)
    require(dt == arr.dtype, s"delta dtype ${p.dtype} != array ${arr.dtype}")
    val n = arr.size
    val out = ByteBuffer.allocate(n * at.byteSize).order(
      if (atBig) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
    def put(i: Int, vL: Long, vD: Double): Unit = at match {
      case DType.I1 | DType.U1 => out.put(i, vL.toByte)
      case DType.I2 | DType.U2 => out.putShort(i * 2, vL.toShort)
      case DType.I4 | DType.U4 => out.putInt(i * 4, vL.toInt)
      case DType.I8 | DType.U8 | DType.M8ns => out.putLong(i * 8, vL)
      case DType.F4 => out.putFloat(i * 4, vD.toFloat)
      case DType.F8 => out.putDouble(i * 8, vD)
    }
    arr.data match {
      case a: Array[Byte] =>
        var i = 0
        while (i < n) {
          val d = (if (i == 0) a(0) else a(i) - a(i - 1)).toByte
          put(i, d.toLong, d.toDouble); i += 1
        }
      case a: Array[Short] =>
        var i = 0
        while (i < n) {
          val d = (if (i == 0) a(0) else a(i) - a(i - 1)).toShort
          put(i, d.toLong, d.toDouble); i += 1
        }
      case a: Array[Int] =>
        var i = 0
        while (i < n) {
          val d = if (i == 0) a(0) else a(i) - a(i - 1)
          put(i, d.toLong, d.toDouble); i += 1
        }
      case a: Array[Long] =>
        var i = 0
        while (i < n) {
          val d = if (i == 0) a(0) else a(i) - a(i - 1)
          put(i, d, d.toDouble); i += 1
        }
      case a: Array[Float] =>
        var i = 0
        while (i < n) {
          val d = if (i == 0) a(0) else a(i) - a(i - 1)
          put(i, d.toLong, d.toDouble); i += 1
        }
      case a: Array[Double] =>
        var i = 0
        while (i < n) {
          val d = if (i == 0) a(0) else a(i) - a(i - 1)
          put(i, d.toLong, d); i += 1
        }
    }
    out.array()
  }

  /** Read element `i` of an `astype`-kinded buffer as a Double (unsigned
    * kinds masked). Shared by the lossy filters' decode paths. */
  private def astypeDoubleAt(buf: ByteBuffer, at: DType, i: Int): Double =
    at match {
      case DType.I1 => buf.get(i).toDouble
      case DType.U1 => (buf.get(i) & 0xFF).toDouble
      case DType.I2 => buf.getShort(i * 2).toDouble
      case DType.U2 => (buf.getShort(i * 2) & 0xFFFF).toDouble
      case DType.I4 => buf.getInt(i * 4).toDouble
      case DType.U4 => (buf.getInt(i * 4) & 0xFFFFFFFFL).toDouble
      case DType.I8 | DType.M8ns => buf.getLong(i * 8).toDouble
      case DType.U8 =>
        val v = buf.getLong(i * 8)
        if (v < 0) v.toDouble + 1.8446744073709552E19 else v.toDouble
      case DType.F4 => buf.getFloat(i * 4).toDouble
      case DType.F8 => buf.getDouble(i * 8)
    }

  /** Store an integral-valued Double as element `i` of an `astype` buffer
    * (narrow integer targets wrap, the numpy astype cast). */
  private def astypePut(buf: ByteBuffer, at: DType, i: Int, v: Double): Unit =
    at match {
      case DType.I1 | DType.U1 => buf.put(i, v.toLong.toByte)
      case DType.I2 | DType.U2 => buf.putShort(i * 2, v.toLong.toShort)
      case DType.I4 | DType.U4 => buf.putInt(i * 4, v.toLong.toInt)
      case DType.I8 | DType.U8 | DType.M8ns => buf.putLong(i * 8, v.toLong)
      case DType.F4 => buf.putFloat(i * 4, v.toFloat)
      case DType.F8 => buf.putDouble(i * 8, v)
    }

  /** Materialize doubles as a `dtype` NDArray with numpy astype casts
    * (float->int truncates, narrowing wraps). */
  private def castToDType(vals: Array[Double], dt: DType,
                          shape: Vector[Int]): NDArray = {
    val n = vals.length
    val data: AnyRef = dt match {
      case DType.F8 => vals
      case DType.F4 =>
        val a = new Array[Float](n); var i = 0
        while (i < n) { a(i) = vals(i).toFloat; i += 1 }; a
      case DType.I8 | DType.U8 | DType.M8ns =>
        val a = new Array[Long](n); var i = 0
        while (i < n) { a(i) = vals(i).toLong; i += 1 }; a
      case DType.I4 | DType.U4 =>
        val a = new Array[Int](n); var i = 0
        while (i < n) { a(i) = vals(i).toLong.toInt; i += 1 }; a
      case DType.I2 | DType.U2 =>
        val a = new Array[Short](n); var i = 0
        while (i < n) { a(i) = vals(i).toLong.toShort; i += 1 }; a
      case DType.I1 | DType.U1 =>
        val a = new Array[Byte](n); var i = 0
        while (i < n) { a(i) = vals(i).toLong.toByte; i += 1 }; a
    }
    NDArray(dt, shape, data)
  }

  /** Inverse FixedScaleOffset: `enc / scale + offset` cast to `dtype`. */
  def scaleOffsetDecode(bytes: Array[Byte], p: ScaleOffsetParams, n: Int,
                        shape: Vector[Int]): NDArray = {
    val (dt, _) = dtypeFromNameV2(p.dtype)
    val (at, atBig) = dtypeFromNameV2(p.astype)
    require(bytes.length == n * at.byteSize,
      s"fixedscaleoffset chunk: ${bytes.length} bytes for $n ${p.astype}")
    val buf = ByteBuffer.wrap(bytes).order(
      if (atBig) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
    val vals = new Array[Double](n)
    var i = 0
    while (i < n) {
      vals(i) = astypeDoubleAt(buf, at, i) / p.scale + p.offset; i += 1
    }
    castToDType(vals, dt, shape)
  }

  /** Forward FixedScaleOffset: `around((x - offset) * scale)` (numpy
    * around = half-to-even) cast to `astype`. */
  def scaleOffsetEncode(arr: NDArray, p: ScaleOffsetParams): Array[Byte] = {
    val (dt, _) = dtypeFromNameV2(p.dtype)
    val (at, atBig) = dtypeFromNameV2(p.astype)
    require(dt == arr.dtype,
      s"fixedscaleoffset dtype ${p.dtype} != array ${arr.dtype}")
    val n = arr.size
    val out = ByteBuffer.allocate(n * at.byteSize).order(
      if (atBig) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
    var i = 0
    while (i < n) {
      astypePut(out, at, i, math.rint((arr.getDouble(i) - p.offset) * p.scale))
      i += 1
    }
    out.array()
  }

  /** The numcodecs Quantize binary scale for `digits` decimal digits:
    * 2^ceil(log2(10^digits)), via the reference's exact float formula. */
  private def quantizeScale(digits: Int): Double = {
    val precision = math.pow(10.0, -digits)
    val exp0 = math.log10(precision)
    val exp = if (exp0 < 0) math.floor(exp0) else math.ceil(exp0)
    val bits = math.ceil(math.log(math.pow(10.0, -exp)) / math.log(2.0))
    math.pow(2.0, bits)
  }

  /** Inverse Quantize: a pure astype->dtype cast (the rounding happened at
    * encode time). */
  def quantizeDecode(bytes: Array[Byte], p: QuantizeParams, n: Int,
                     shape: Vector[Int]): NDArray = {
    val (dt, _) = dtypeFromNameV2(p.dtype)
    val (at, atBig) = dtypeFromNameV2(p.astype)
    require(at == DType.F4 || at == DType.F8,
      s"quantize astype must be float, got ${p.astype}")
    require(bytes.length == n * at.byteSize,
      s"quantize chunk: ${bytes.length} bytes for $n ${p.astype}")
    val buf = ByteBuffer.wrap(bytes).order(
      if (atBig) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
    val vals = new Array[Double](n)
    var i = 0
    while (i < n) { vals(i) = astypeDoubleAt(buf, at, i); i += 1 }
    castToDType(vals, dt, shape)
  }

  /** Forward Quantize: round the mantissa at the binary precision covering
    * 10^-digits, computed in the array's own float width (the numpy
    * value-based-casting behavior for `scale * arr`). */
  def quantizeEncode(arr: NDArray, p: QuantizeParams): Array[Byte] = {
    val (dt, _) = dtypeFromNameV2(p.dtype)
    val (at, atBig) = dtypeFromNameV2(p.astype)
    require(dt == arr.dtype, s"quantize dtype ${p.dtype} != array ${arr.dtype}")
    require(dt == DType.F4 || dt == DType.F8,
      s"quantize applies to float arrays, got ${p.dtype}")
    val n = arr.size
    val scale = quantizeScale(p.digits)
    val out = ByteBuffer.allocate(n * at.byteSize).order(
      if (atBig) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
    var i = 0
    arr.data match {
      case a: Array[Float] =>
        val fs = scale.toFloat
        while (i < n) {
          val q = (math.rint((fs * a(i)).toDouble).toFloat / fs).toDouble
          astypePut(out, at, i, q); i += 1
        }
      case a: Array[Double] =>
        while (i < n) {
          astypePut(out, at, i, math.rint(scale * a(i)) / scale); i += 1
        }
      case _ => throw new IllegalStateException("unreachable: float-gated")
    }
    out.array()
  }

  /** v2 JSON spells non-finite floats as strings ("NaN", "Infinity"). */
  private def fillNodeV2(v: AttrValue): com.fasterxml.jackson.databind.JsonNode =
    v match {
      case AttrValue.ANum(d) if d.isNaN =>
        mapper.getNodeFactory.textNode("NaN")
      case AttrValue.ANum(d) if d.isPosInfinity =>
        mapper.getNodeFactory.textNode("Infinity")
      case AttrValue.ANum(d) if d.isNegInfinity =>
        mapper.getNodeFactory.textNode("-Infinity")
      case other => attrToNode(other)
    }

  private[zarr] def fillFromNodeV2(
      n: com.fasterxml.jackson.databind.JsonNode): AttrValue =
    if (n == null) AttrValue.AInt(0)
    else if (n.isTextual) n.asText() match {
      case "NaN" => AttrValue.ANum(Double.NaN)
      case "Infinity" => AttrValue.ANum(Double.PositiveInfinity)
      case "-Infinity" => AttrValue.ANum(Double.NegativeInfinity)
      case other => AttrValue.AStr(other)
    }
    else nodeToAttr(n)

  /** One array's `.zarray` document (zarr v2 spec): C order, "."-separated
    * chunk keys, numcodecs-id compressor dict (at most one of gzip / zlib /
    * zstd / blosc), optional shuffle filter. The writer twin of the v2
    * scanner's closed compressor set (RefSet.fromV2Raw). */
  def arrayMetaDocV2(shape: Vector[Int], chunks: Vector[Int],
                     dtype: DType,
                     fillValue: AttrValue = AttrValue.AInt(0),
                     gzipLevel: Option[Int] = None,
                     zlibLevel: Option[Int] = None,
                     zstdLevel: Option[Int] = None,
                     blosc: Option[Blosc.Params] = None,
                     shuffleElem: Option[Int] = None,
                     bigEndian: Boolean = false,
                     numFilter: Option[NumFilter] = None): Array[Byte] = {
    require(Seq(gzipLevel, zlibLevel, zstdLevel, blosc).count(_.isDefined) <= 1,
      "zarr v2 takes at most one compressor")
    val o = mapper.createObjectNode()
    o.put("zarr_format", 2)
    val sh = mapper.createArrayNode(); shape.foreach(sh.add)
    o.set[ObjectNode]("shape", sh)
    val ch = mapper.createArrayNode(); chunks.foreach(ch.add)
    o.set[ObjectNode]("chunks", ch)
    o.put("dtype", dtypeNameV2(dtype, bigEndian))
    o.put("order", "C")
    o.set[ObjectNode]("fill_value", fillNodeV2(fillValue))
    val comp: Option[ObjectNode] = (gzipLevel, zlibLevel, zstdLevel, blosc) match {
      case (Some(lvl), _, _, _) =>
        val c = mapper.createObjectNode()
        c.put("id", "gzip"); c.put("level", lvl); Some(c)
      case (_, Some(lvl), _, _) =>
        val c = mapper.createObjectNode()
        c.put("id", "zlib"); c.put("level", lvl); Some(c)
      case (_, _, Some(lvl), _) =>
        val c = mapper.createObjectNode()
        c.put("id", "zstd"); c.put("level", lvl); Some(c)
      case (_, _, _, Some(p)) =>
        val c = mapper.createObjectNode()
        c.put("id", "blosc"); c.put("cname", p.cname)
        c.put("clevel", p.clevel)
        c.put("shuffle", if (p.bitShuffle) 2 else if (p.shuffle) 1 else 0)
        c.put("blocksize", p.blocksize); Some(c)
      case _ => None
    }
    comp match {
      case Some(c) => o.set[ObjectNode]("compressor", c)
      case None => o.putNull("compressor")
    }
    val fs = mapper.createArrayNode()
    numFilter.foreach { nf => // encode order: array filter, then shuffle
      val f = mapper.createObjectNode()
      f.put("id", nf.id); filterFields(nf, f)
      fs.add(f)
    }
    shuffleElem.foreach { es =>
      val f = mapper.createObjectNode()
      f.put("id", "shuffle"); f.put("elementsize", es)
      fs.add(f)
    }
    if (fs.isEmpty) o.putNull("filters")
    else o.set[ObjectNode]("filters", fs)
    o.put("dimension_separator", ".")
    mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(o)
  }

  /** One array's `.zattrs` document: user attrs plus the xarray
    * `_ARRAY_DIMENSIONS` convention (what makes the store xr.open_zarr-able). */
  def zattrsDocV2(attrs: Attrs,
                  dims: Option[Vector[String]] = None): Array[Byte] = {
    val o = attrsObject(attrs)
    dims.foreach { dn =>
      val a = mapper.createArrayNode(); dn.foreach(a.add)
      o.set[ObjectNode]("_ARRAY_DIMENSIONS", a)
    }
    mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(o)
  }
}

/** One open Zarr group rooted at a directory or a scheme'd URI — v3
  * (zarr.json layout) or v2 (the zarr-python classic `.zgroup`/`.zarray`
  * layout), auto-detected on open and chosen explicitly on create. Bare
  * paths use posix I/O; URIs (file://, hdfs://, s3a://, ...) route through
  * the Hadoop FileSystem transport — the object-store deployment path (see
  * StoreIO). The instance itself only carries the root string, so shipping
  * it to executors is free; each side opens its own transport. The chunk
  * codec path (C-order bytes in the declared endianness, then compressor)
  * is identical in both formats; only metadata documents, dtype spelling,
  * and chunk-key naming differ. */
final class ZarrGroup(val root: String,
    @transient private val ioOverride: Option[StoreIO],
    private val formatHint: Option[Int] = None) extends Serializable {
  import ZarrStore._
  @transient private lazy val mapper = new ObjectMapper()
  // ioOverride deserializes to null inside Spark closures — virtual-store
  // groups are executor-local by construction, everything else re-derives
  // its transport from the root path
  @transient private lazy val io: StoreIO =
    Option(ioOverride).flatten.getOrElse(StoreIO.forRoot(root))

  /** Store format: 3 (zarr.json layout) or 2 (the zarr-python classic
    * `.zgroup`/`.zarray` layout, "."-separated chunk keys). Creating a new
    * store needs an explicit hint (ZarrGroup(root, format)); opening an
    * existing one auto-detects from the metadata documents on disk — so
    * executor tasks that construct their own group from the bare path
    * land on the format the driver initialized. `Option(formatHint)`
    * guards the null a Java-deserialized default-param field can carry. */
  private lazy val format: Int =
    Option(formatHint).flatten.getOrElse(
      if (io.exists("zarr.json")) 3
      else if (io.exists(".zgroup") || io.exists(".zmetadata")) 2
      else 3)

  // ---------- group ----------
  def initGroup(attrs: Attrs, overwrite: Boolean = true): Unit =
    if (format == 2) {
      val g = mapper.createObjectNode()
      g.put("zarr_format", 2)
      io.write(".zgroup", mapper.writerWithDefaultPrettyPrinter()
        .writeValueAsBytes(g))
      io.write(".zattrs", mapper.writerWithDefaultPrettyPrinter()
        .writeValueAsBytes(ZarrStore.attrsObject(attrs)))
    } else {
      val o = mapper.createObjectNode()
      o.put("zarr_format", 3)
      o.put("node_type", "group")
      o.set[ObjectNode]("attributes", ZarrStore.attrsObject(attrs))
      io.write("zarr.json", mapper.writerWithDefaultPrettyPrinter()
        .writeValueAsBytes(o))
    }

  def groupAttrs: Attrs =
    if (format == 2)
      v2DocOpt(".zattrs").map(ZarrStore.objectAttrs).getOrElse(Attrs.empty)
    else {
      val n = mapper.readTree(io.read("zarr.json"))
      // attributes is optional in v3 group docs
      Option(n.get("attributes")).filter(!_.isNull)
        .map(ZarrStore.objectAttrs).getOrElse(Attrs.empty)
    }

  /** Consolidated metadata from the root document, when present: array
    * name -> its zarr.json node. One metadata GET serves every array —
    * the object-store reason consolidateMetadata exists. Cached per
    * ZarrGroup instance; invalidated by metadata writes through THIS
    * instance (cross-writer staleness follows the zarr consolidation
    * contract: re-consolidate after mutating a consolidated store). */
  @transient private var consolidatedCache:
      Option[Option[Map[String, com.fasterxml.jackson.databind.JsonNode]]] = None
  /** v3: array name -> its zarr.json node. v2: `.zmetadata` DOCUMENT key
    * (".zgroup", "<var>/.zarray", ...) -> node. */
  private def consolidated: Option[Map[String, com.fasterxml.jackson.databind.JsonNode]] = {
    // @transient var deserializes to NULL (not None) — executors receive
    // this instance inside Spark closures, so guard both states
    if (consolidatedCache == null || consolidatedCache.isEmpty) {
      consolidatedCache = Some(
        if (format == 2) {
          if (!io.exists(".zmetadata")) None
          else {
            val m = mapper.readTree(io.read(".zmetadata"))
            require(ZarrStore.jreq(m, "zarr_consolidated_format",
              ".zmetadata").asInt() == 1, "unknown .zmetadata format")
            Some(ZarrStore.jreq(m, "metadata", ".zmetadata").properties()
              .asScala.map(e => e.getKey -> e.getValue).toMap)
          }
        } else {
          val root = mapper.readTree(io.read("zarr.json"))
          Option(root.get("consolidated_metadata"))
            .flatMap(c => Option(c.get("metadata")))
            .map(_.properties().asScala.map(e => e.getKey -> e.getValue).toMap)
        })
    }
    consolidatedCache.get
  }
  private def invalidateConsolidated(): Unit = consolidatedCache = None

  /** One v2 metadata document, served from `.zmetadata` when consolidated
    * (the one-GET path) and from its own file otherwise. */
  private def v2DocOpt(key: String): Option[com.fasterxml.jackson.databind.JsonNode] =
    consolidated match {
      case Some(docs) => docs.get(key)
      case None =>
        if (io.exists(key)) Some(mapper.readTree(io.read(key))) else None
    }

  /** Metadata writes invalidate consolidation EVERYWHERE, not just in this
    * instance: strip the on-disk consolidated_metadata so no reader (other
    * executors, later sessions) serves a stale array doc. Re-consolidate
    * after mutating, per the zarr consolidation contract. */
  private def stripConsolidatedOnDisk(): Unit = {
    if (format == 2) {
      if (io.exists(".zmetadata")) io.deleteRecursive(".zmetadata")
    } else if (io.exists("zarr.json")) {
      val root = mapper.readTree(io.read("zarr.json")).asInstanceOf[ObjectNode]
      if (root.has("consolidated_metadata")) {
        root.remove("consolidated_metadata")
        io.write("zarr.json", mapper.writerWithDefaultPrettyPrinter()
          .writeValueAsBytes(root))
      }
    }
    invalidateConsolidated()
  }

  def arrayNames: Vector[String] =
    if (format == 2)
      consolidated.map(_.keys.collect {
        case k if k.endsWith("/.zarray") => k.stripSuffix("/.zarray")
      }.toVector.sorted).getOrElse(io.arrayDirs())
    else
      consolidated.map(_.keys.toVector.sorted).getOrElse(io.arrayDirs())

  /** Replace the GROUP attributes on an existing store, preserving every
    * other root field (v3 keeps zarr_format/node_type; v2 touches only
    * `.zattrs`). A metadata mutation, so on-disk consolidation is
    * stripped per the zarr consolidation contract — re-consolidate
    * after. Used by the append idempotence guard to record applied
    * batch tags. */
  def setGroupAttrs(attrs: Attrs): Unit = {
    if (format == 2) {
      io.write(".zattrs", mapper.writerWithDefaultPrettyPrinter()
        .writeValueAsBytes(ZarrStore.attrsObject(attrs)))
    } else {
      val root = mapper.readTree(io.read("zarr.json")).asInstanceOf[ObjectNode]
      root.set[ObjectNode]("attributes", ZarrStore.attrsObject(attrs))
      io.write("zarr.json", mapper.writerWithDefaultPrettyPrinter()
        .writeValueAsBytes(root))
    }
    stripConsolidatedOnDisk()
  }

  // ---------- array metadata ----------
  /** Create one array's metadata (no chunk data). `dimensionNames` carries
    * the xarray dims (zarr v3 `dimension_names`); attrs/encoding are merged
    * into `attributes`. */
  def createArray(name: String, shape: Vector[Int], chunks: Vector[Int],
                  dtype: DType, attrs: Attrs,
                  fillValue: AttrValue = AttrValue.AInt(0),
                  dimensionNames: Option[Vector[String]] = None,
                  gzipLevel: Option[Int] = None,
                  shardShape: Option[Vector[Int]] = None,
                  zstdLevel: Option[Int] = None,
                  blosc: Option[Blosc.Params] = None,
                  numFilter: Option[ZarrStore.NumFilter] = None): Unit = {
    shardShape.foreach { ss =>
      require(ss.length == chunks.length &&
        ss.zip(chunks).forall { case (s, c) => s % c == 0 },
        s"shard shape $ss must be a per-dim multiple of chunk shape $chunks")
    }
    if (format == 2) {
      require(shardShape.isEmpty,
        "zarr v2 has no sharding_indexed — write a v3 store for sharded output")
      io.write(s"$name/.zarray", ZarrStore.arrayMetaDocV2(
        shape, chunks, dtype, fillValue, gzipLevel,
        zstdLevel = zstdLevel, blosc = blosc, numFilter = numFilter))
      io.write(s"$name/.zattrs", ZarrStore.zattrsDocV2(attrs, dimensionNames))
    } else
      io.write(s"$name/zarr.json", ZarrStore.arrayMetaDoc(
        shape, chunks, dtype, attrs, fillValue, dimensionNames, gzipLevel,
        shardShape, zstdLevel = zstdLevel, blosc = blosc,
        numFilter = numFilter))
    stripConsolidatedOnDisk()
  }

  /** `chunks` is the read-granularity (inner) chunk shape; when sharded,
    * `shardShape` is the object/write granularity and a per-dim multiple of
    * `chunks`. */
  final case class ArrayMeta(shape: Vector[Int], chunks: Vector[Int],
                             dtype: DType, attrs: Attrs,
                             dimensionNames: Vector[String],
                             gzipLevel: Option[Int] = None,
                             shardShape: Option[Vector[Int]] = None,
                             fillValue: AttrValue = AttrValue.AInt(0),
                             bigEndian: Boolean = false,
                             gribVar: Option[String] = None,
                             zlibLevel: Option[Int] = None,
                             shuffleElem: Option[Int] = None,
                             zstdLevel: Option[Int] = None,
                             blosc: Option[Blosc.Params] = None,
                             numFilter: Option[ZarrStore.NumFilter] = None) {
    /** storage-object granularity: shard if sharded, else chunk */
    def grain: Vector[Int] = shardShape.getOrElse(chunks)
  }

  /** v2 `.zarray`/`.zattrs` -> ArrayMeta. The compressor/filter dispatch is
    * a CLOSED set (the fromV2Raw scanner's contract): anything unrecognized
    * fails here rather than decoding compressed bytes as raw garbage. Only
    * "."-separated chunk keys are supported natively — scan "/"-separated
    * stores through RefSet.scanZarrV2Group. */
  private def arrayMetaV2(name: String): ArrayMeta = {
    val za = v2DocOpt(s"$name/.zarray").getOrElse(
      throw new java.io.FileNotFoundException(s"$root/$name/.zarray"))
    val doc = s"$name/.zarray"
    require(jreq(za, "zarr_format", doc).asInt() == 2, s"$doc zarr_format")
    val shape = jreq(za, "shape", doc).elements().asScala.map(_.asInt()).toVector
    val chunks = jreq(za, "chunks", doc).elements().asScala.map(_.asInt()).toVector
    Option(za.get("order")).map(_.asText()).foreach(o => require(o == "C",
      s"zarr v2 order '$o' not supported (C-order only)"))
    Option(za.get("dimension_separator")).map(_.asText()).foreach(s =>
      require(s == ".", s"native v2 store requires '.'-separated chunk keys" +
        s" (got '$s'); open '/'-separated stores via RefSet.scanZarrV2Group"))
    val (dtype, big) = dtypeFromNameV2(jreq(za, "dtype", doc).asText())
    val compNode = Option(za.get("compressor")).filter(!_.isNull)
    val compId = compNode.map(c => jreq(c, "id", s"$doc compressor").asText())
    compId.foreach(id => require(Set("zlib", "gzip", "zstd", "blosc")(id),
      s"zarr v2 compressor '$id' is not supported " +
        "(supported: zlib, gzip, zstd, blosc[lz4/lz4hc/zlib/zstd/snappy])"))
    val gzip = compNode.filter(_ => compId.contains("gzip"))
      .map(c => jreq(c, "level", s"$doc gzip").asInt())
    val zlib = compNode.filter(_ => compId.contains("zlib"))
      .map(c => jreq(c, "level", s"$doc zlib").asInt())
    val zstd = compNode.filter(_ => compId.contains("zstd"))
      .map(c => Option(c.get("level")).map(_.asInt()).getOrElse(3))
    val blosc = compNode.filter(_ => compId.contains("blosc")).map { c =>
      val sh = Option(c.get("shuffle")).map(_.asInt()).getOrElse(1)
      Blosc.Params(
        cname = Option(c.get("cname")).map(_.asText()).getOrElse("lz4"),
        clevel = Option(c.get("clevel")).map(_.asInt()).getOrElse(5),
        shuffle = sh == 1,
        blocksize = Option(c.get("blocksize")).map(_.asInt()).getOrElse(0),
        bitShuffle = sh == 2)
    }
    val filterNodes = Option(za.get("filters")).filter(!_.isNull)
      .map(_.elements().asScala.toVector).getOrElse(Vector.empty)
    val filterIds = filterNodes.map(f => jreq(f, "id", s"$doc filter").asText())
    val arrayFilterIds = Set("delta", "fixedscaleoffset", "quantize")
    filterIds.foreach(id =>
      require(id == "shuffle" || arrayFilterIds(id),
        s"zarr v2 filter '$id' is not supported " +
          "(supported: shuffle, delta, fixedscaleoffset, quantize)"))
    require(filterIds.count(arrayFilterIds) <= 1,
      s"at most one array->array filter per array, got $filterIds")
    // decode un-applies shuffle then the array filter, i.e. encode order
    // [array filter, shuffle]
    require(filterIds.indexWhere(arrayFilterIds) <=
        math.max(filterIds.indexOf("shuffle"), 0),
      s"unsupported v2 filter order $filterIds (array filter before shuffle)")
    val shuffle = filterNodes.find(f =>
        jreq(f, "id", s"$doc filter").asText() == "shuffle")
      .map(f => jreq(f, "elementsize", s"$doc shuffle").asInt())
    val numFilter = filterNodes
      .find(f => arrayFilterIds(jreq(f, "id", s"$doc filter").asText()))
      .map(f => ZarrStore.filterFromJson(jreq(f, "id", s"$doc filter").asText(), f))
    val attrsNode = v2DocOpt(s"$name/.zattrs")
    val dims = attrsNode.flatMap(a => Option(a.get("_ARRAY_DIMENSIONS")).map(
        _.elements().asScala.map(_.asText()).toVector))
      .getOrElse(shape.indices.map(i => s"dim_$i").toVector)
    val attrs = attrsNode.map { a =>
      val c = a.deepCopy[ObjectNode](); c.remove("_ARRAY_DIMENSIONS")
      ZarrStore.objectAttrs(c)
    }.getOrElse(Attrs.empty)
    ArrayMeta(shape, chunks, dtype, attrs, dims, gzip, None,
      fillFromNodeV2(za.get("fill_value")), big, None, zlib, shuffle,
      zstd, blosc, numFilter)
  }

  def arrayMeta(name: String): ArrayMeta = {
    if (format == 2) return arrayMetaV2(name)
    val n = consolidated.flatMap(_.get(name))
      .getOrElse(mapper.readTree(io.read(s"$name/zarr.json")))
    val doc = s"$name/zarr.json"
    val shape = jreq(n, "shape", doc).elements().asScala.map(_.asInt()).toVector
    val gridChunks = jreq(jreq(jreq(n, "chunk_grid", doc), "configuration", doc),
        "chunk_shape", doc).elements().asScala.map(_.asInt()).toVector
    val dtype = dtypeFromName(jreq(n, "data_type", doc).asText())
    val dims = Option(n.get("dimension_names"))
      .map(_.elements().asScala.map(_.asText()).toVector)
      .getOrElse(shape.indices.map(i => s"dim_$i").toVector)
    def cName(c: com.fasterxml.jackson.databind.JsonNode): String =
      jreq(c, "name", s"$doc codec").asText()
    def cCfg(c: com.fasterxml.jackson.databind.JsonNode) =
      jreq(c, "configuration", s"$doc codec")
    def gzipOf(codecs: com.fasterxml.jackson.databind.JsonNode): Option[Int] =
      Option(codecs).flatMap(
        _.elements().asScala.find(c => cName(c) == "gzip")
          .map(c => jreq(cCfg(c), "level", doc).asInt()))
    def bigOf(codecs: com.fasterxml.jackson.databind.JsonNode): Boolean =
      Option(codecs).flatMap(
        _.elements().asScala.find(c => cName(c) == "bytes")
          .flatMap(c => Option(c.get("configuration"))
            .flatMap(cf => Option(cf.get("endian")).map(_.asText()))))
        .contains("big")
    def gribOf(codecs: com.fasterxml.jackson.databind.JsonNode): Option[String] =
      Option(codecs).flatMap(
        _.elements().asScala.find(c => cName(c) == "grib2")
          .map(c => jreq(cCfg(c), "var", doc).asText()))
    def zlibOf(codecs: com.fasterxml.jackson.databind.JsonNode): Option[Int] =
      Option(codecs).flatMap(
        _.elements().asScala.find(c => cName(c) == "zlib")
          .map(c => jreq(cCfg(c), "level", doc).asInt()))
    def shuffleOf(codecs: com.fasterxml.jackson.databind.JsonNode): Option[Int] =
      Option(codecs).flatMap(
        _.elements().asScala.find(c => cName(c) == "shuffle")
          .map(c => jreq(cCfg(c), "elementsize", doc).asInt()))
    def zstdOf(codecs: com.fasterxml.jackson.databind.JsonNode): Option[Int] =
      Option(codecs).flatMap(
        _.elements().asScala.find(c => cName(c) == "zstd")
          .map(c => jreq(cCfg(c), "level", doc).asInt()))
    def bloscOf(codecs: com.fasterxml.jackson.databind.JsonNode): Option[Blosc.Params] =
      Option(codecs).flatMap(
        _.elements().asScala.find(c => cName(c) == "blosc")
          .map { c =>
            val cf = cCfg(c)
            val sh = Option(cf.get("shuffle")).map(_.asText()).getOrElse("shuffle")
            Blosc.Params(
              cname = Option(cf.get("cname")).map(_.asText()).getOrElse("lz4"),
              clevel = Option(cf.get("clevel")).map(_.asInt()).getOrElse(5),
              shuffle = sh == "shuffle",
              blocksize = Option(cf.get("blocksize")).map(_.asInt()).getOrElse(0),
              bitShuffle = sh == "bitshuffle")
          })
    def deltaOf(codecs: com.fasterxml.jackson.databind.JsonNode)
        : Option[ZarrStore.NumFilter] =
      Option(codecs).flatMap(
        _.elements().asScala.find(c => Set("delta", "fixedscaleoffset",
            "quantize")(cName(c)))
          .map(c => ZarrStore.filterFromJson(
            cName(c), c.get("configuration"))))
    val sharding = Option(n.get("codecs")).flatMap(
      _.elements().asScala.find(c => cName(c) == "sharding_indexed"))
    val fill = Option(n.get("fill_value")).map(nodeToAttr)
      .getOrElse(AttrValue.AInt(0))
    // attributes is optional in v3 array docs
    val arrAttrs = Option(n.get("attributes")).filter(!_.isNull)
      .map(ZarrStore.objectAttrs).getOrElse(Attrs.empty)
    sharding match {
      case Some(sc) =>
        val cfg = cCfg(sc)
        val inner = jreq(cfg, "chunk_shape", doc).elements().asScala
          .map(_.asInt()).toVector
        ArrayMeta(shape, inner, dtype, arrAttrs,
          dims, gzipOf(cfg.get("codecs")), Some(gridChunks), fill,
          bigOf(cfg.get("codecs")), gribOf(cfg.get("codecs")),
          zlibOf(cfg.get("codecs")), shuffleOf(cfg.get("codecs")),
          zstdOf(cfg.get("codecs")), bloscOf(cfg.get("codecs")),
          deltaOf(cfg.get("codecs")))
      case None =>
        ArrayMeta(shape, gridChunks, dtype, arrAttrs, dims,
          gzipOf(n.get("codecs")), None, fill, bigOf(n.get("codecs")),
          gribOf(n.get("codecs")), zlibOf(n.get("codecs")),
          shuffleOf(n.get("codecs")), zstdOf(n.get("codecs")),
          bloscOf(n.get("codecs")), deltaOf(n.get("codecs")))
    }
  }

  // ---------- chunk IO ----------
  private def chunkKey(name: String, chunkIdx: Vector[Int]): String =
    if (format == 2) {
      // v2 classic keys: "."-separated ordinals in the array dir ("v/1.0");
      // scalar arrays store their one chunk at "v/0"
      if (chunkIdx.isEmpty) s"$name/0" else s"$name/${chunkIdx.mkString(".")}"
    } else {
      val key = if (chunkIdx.isEmpty) Vector("c") else "c" +: chunkIdx.map(_.toString)
      (name +: key).mkString("/")
    }

  /** One chunk payload -> encoded bytes (bytes codec LE, optional gzip). */
  /** Encode one chunk through the FULL declared codec chain (the mirror of
    * decodeChunk): bytes codec with declared endian, then shuffle, then
    * gzip or zlib. Writes into a grib2-codec array are impossible (the
    * chunk object would have to be a GRIB message) and rejected. */
  private def encodeChunk(arr: NDArray, meta: ArrayMeta): Array[Byte] = {
    require(meta.gribVar.isEmpty,
      "cannot write into a grib2-codec array (refs point at GRIB messages)")
    var bytes = meta.numFilter match {
      case Some(p) => ZarrStore.filterEncode(arr, p)
      case None =>
        val buf = ByteBuffer.allocate(arr.size * arr.dtype.byteSize)
          .order(if (meta.bigEndian) ByteOrder.BIG_ENDIAN
                 else ByteOrder.LITTLE_ENDIAN)
        arr.data match {
          case a: Array[Int] => buf.asIntBuffer().put(a)
          case a: Array[Long] => buf.asLongBuffer().put(a)
          case a: Array[Float] => buf.asFloatBuffer().put(a)
          case a: Array[Double] => buf.asDoubleBuffer().put(a)
          case a: Array[Short] => buf.asShortBuffer().put(a)
          case a: Array[Byte] => buf.put(a)
        }
        buf.array()
    }
    meta.shuffleElem.foreach { es =>
      val n = bytes.length / es
      val out = new Array[Byte](bytes.length)
      var i = 0
      while (i < n) {
        var b = 0
        while (b < es) { out(b * n + i) = bytes(i * es + b); b += 1 }
        i += 1
      }
      System.arraycopy(bytes, n * es, out, n * es, bytes.length - n * es)
      bytes = out
    }
    meta.blosc match {
      case Some(p) => return Blosc.compress(bytes, meta.dtype.byteSize, p)
      case None =>
    }
    (meta.gzipLevel, meta.zlibLevel, meta.zstdLevel) match {
      case (Some(lvl), _, _) =>
        val bos = new java.io.ByteArrayOutputStream()
        val gz = new java.util.zip.GZIPOutputStream(bos) { `def`.setLevel(lvl) }
        gz.write(bytes); gz.close()
        bos.toByteArray
      case (None, Some(lvl), _) =>
        val d = new java.util.zip.Deflater(lvl)
        d.setInput(bytes); d.finish()
        val bos = new java.io.ByteArrayOutputStream(bytes.length / 2 + 64)
        val tmp = new Array[Byte](65536)
        while (!d.finished()) bos.write(tmp, 0, d.deflate(tmp))
        d.end()
        bos.toByteArray
      case (None, None, Some(lvl)) =>
        com.github.luben.zstd.Zstd.compress(bytes, lvl)
      case _ => bytes
    }
  }

  private def decodeChunk(raw: Array[Byte], dtype: DType, shape: Vector[Int],
                          gzipLevel: Option[Int],
                          bigEndian: Boolean = false,
                          gribVar: Option[String] = None,
                          zlibLevel: Option[Int] = None,
                          shuffleElem: Option[Int] = None,
                          zstdLevel: Option[Int] = None,
                          blosc: Option[Blosc.Params] = None,
                          numFilter: Option[ZarrStore.NumFilter] = None): NDArray = {
    gribVar.foreach { v =>
      // grib2 whole-message codec: the chunk object is a complete GRIB2
      // message; extract the requested variable (kerchunk scan_grib model)
      val msg = graft.grib.Grib2.parseMessage(raw)
      val values: Array[Double] = v match {
        case "data" => graft.grib.Grib2.decodeValuesInMemory(raw, msg)
        case "latitude" => graft.grib.Grib2.latLonArrays(msg.grid)._1
        case "longitude" => graft.grib.Grib2.latLonArrays(msg.grid)._2
        case other => throw new IllegalArgumentException(
          s"unknown grib2 codec var $other")
      }
      require(dtype == DType.F8, s"grib2 codec arrays are float64, got $dtype")
      require(values.length == NDArray.sizeOf(shape),
        s"grib2 message grid ${values.length} != chunk ${NDArray.sizeOf(shape)}")
      return NDArray(DType.F8, shape, values)
    }
    // cap: element count × widest intermediate dtype (8 B) + header slack —
    // numcodecs filter stages may widen elements, never multiply them
    val maxChunkBytes =
      (NDArray.sizeOf(shape).toLong * 8 + 16).min(Int.MaxValue.toLong).toInt
    val bytes = if (blosc.isDefined) Blosc.decompress(raw, maxChunkBytes)
    else (gzipLevel, zlibLevel, zstdLevel) match {
      case (Some(_), _, _) =>
        val in = new java.util.zip.GZIPInputStream(
          new java.io.ByteArrayInputStream(raw))
        try in.readAllBytes() finally in.close()
      case (None, Some(_), _) =>
        val inf = new java.util.zip.Inflater()
        inf.setInput(raw)
        val bos = new java.io.ByteArrayOutputStream(raw.length * 4)
        val buf = new Array[Byte](65536)
        while (!inf.finished()) {
          val n = inf.inflate(buf)
          if (n == 0 && inf.needsInput())
            throw new IllegalStateException("truncated zlib chunk")
          bos.write(buf, 0, n)
        }
        inf.end()
        bos.toByteArray
      case (None, None, Some(_)) =>
        com.github.luben.zstd.Zstd.decompress(raw,
          NDArray.sizeOf(shape) * dtype.byteSize)
      case _ => raw
    }
    val bytes2 = shuffleElem match {
      case Some(es) => // inverse byte-transpose (HDF5 shuffle filter)
        val n = bytes.length / es
        val out = new Array[Byte](bytes.length)
        var i = 0
        while (i < n) {
          var b = 0
          while (b < es) { out(i * es + b) = bytes(b * n + i); b += 1 }
          i += 1
        }
        System.arraycopy(bytes, n * es, out, n * es, bytes.length - n * es)
        out
      case None => bytes
    }
    val n = NDArray.sizeOf(shape)
    numFilter.foreach { p =>
      require(p.logicalDType == dtype,
        s"${p.id} filter dtype ${p.dtype} != array dtype $dtype")
      return ZarrStore.filterDecode(bytes2, p, n, shape)
    }
    val buf = ByteBuffer.wrap(bytes2).order(
      if (bigEndian) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
    val data: AnyRef = dtype match {
      case DType.I4 | DType.U4 => val a = new Array[Int](n); buf.asIntBuffer().get(a); a
      case DType.I8 | DType.U8 | DType.M8ns => val a = new Array[Long](n); buf.asLongBuffer().get(a); a
      case DType.F4 => val a = new Array[Float](n); buf.asFloatBuffer().get(a); a
      case DType.F8 => val a = new Array[Double](n); buf.asDoubleBuffer().get(a); a
      case DType.I2 | DType.U2 => val a = new Array[Short](n); buf.asShortBuffer().get(a); a
      case DType.I1 | DType.U1 => val a = new Array[Byte](n); buf.get(a); a
    }
    NDArray(dtype, shape, data)
  }

  /** inner-chunk positions of one shard in C-order (the index order fixed by
    * the sharding spec) */
  private def innerPositions(chunksPerShard: Vector[Int]): Vector[Vector[Int]] =
    chunksPerShard.foldLeft(Vector(Vector.empty[Int])) { (acc, n) =>
      acc.flatMap(prefix => (0 until n).map(prefix :+ _))
    }

  /** Encode one shard object: concatenated encoded inner chunks followed by
    * the binary index (offset,nbytes as uint64 LE per inner chunk, C-order)
    * and its CRC32C — `index_location: end` per the sharding spec. At object-
    * store scale a reader range-GETs the fixed-size index tail, then only the
    * inner chunks it needs. */
  private def encodeShard(block: NDArray, meta: ArrayMeta): Array[Byte] = {
    val ndim = block.ndim
    val chunksPerShard = (0 until ndim).map(d => meta.grain(d) / meta.chunks(d)).toVector
    val positions = innerPositions(chunksPerShard)
    val bos = new java.io.ByteArrayOutputStream()
    val index = ByteBuffer.allocate(positions.length * 16 + 4)
      .order(ByteOrder.LITTLE_ENDIAN)
    positions.foreach { pos =>
      val slices = (0 until ndim).map { d =>
        val lo = pos(d) * meta.chunks(d)
        Slc(lo, lo + meta.chunks(d))
      }.toVector
      val enc = encodeChunk(block.slice(slices), meta)
      index.putLong(bos.size().toLong)
      index.putLong(enc.length.toLong)
      bos.write(enc)
    }
    val idxBytes = new Array[Byte](positions.length * 16)
    index.flip(); index.get(idxBytes)
    val crc = new java.util.zip.CRC32C()
    crc.update(idxBytes)
    bos.write(idxBytes)
    val crcBuf = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
    crcBuf.putInt(crc.getValue.toInt)
    bos.write(crcBuf.array())
    bos.toByteArray
  }

  private def decodeShard(raw: Array[Byte], meta: ArrayMeta): NDArray = {
    val ndim = meta.shape.length
    val chunksPerShard = (0 until ndim).map(d => meta.grain(d) / meta.chunks(d)).toVector
    val positions = innerPositions(chunksPerShard)
    val idxLen = positions.length * 16
    val idxStart = raw.length - idxLen - 4
    val crc = new java.util.zip.CRC32C()
    crc.update(raw, idxStart, idxLen)
    val storedCrc = ByteBuffer.wrap(raw, idxStart + idxLen, 4)
      .order(ByteOrder.LITTLE_ENDIAN).getInt
    require(crc.getValue.toInt == storedCrc, s"shard index CRC32C mismatch")
    val index = ByteBuffer.wrap(raw, idxStart, idxLen).order(ByteOrder.LITTLE_ENDIAN)
    val out = NDArray.zeros(meta.dtype, meta.grain)
    positions.foreach { pos =>
      val offset = index.getLong; val nbytes = index.getLong
      if (offset != -1L && nbytes != -1L) {
        val enc = java.util.Arrays.copyOfRange(raw, offset.toInt,
          offset.toInt + nbytes.toInt)
        val chunk = decodeChunk(enc, meta.dtype, meta.chunks, meta.gzipLevel,
          meta.bigEndian, meta.gribVar, meta.zlibLevel, meta.shuffleElem, meta.zstdLevel,
          meta.blosc, meta.numFilter)
        out.assign(pos.indices.map(d => pos(d) * meta.chunks(d)).toVector, chunk)
      }
    }
    out
  }

  /** Write one storage object (a chunk, or a whole shard when sharded).
    * `arr` has `meta.grain` shape. */
  private def writeChunk(name: String, chunkIdx: Vector[Int], arr: NDArray,
                         meta: ArrayMeta): Unit = {
    val encoded =
      if (meta.shardShape.isDefined) encodeShard(arr, meta)
      else encodeChunk(arr, meta)
    io.write(chunkKey(name, chunkIdx), encoded)
  }

  /** Read one storage object; returns a `meta.grain`-shaped array. */
  private def readChunk(name: String, chunkIdx: Vector[Int],
                        meta: ArrayMeta): Option[NDArray] = {
    val key = chunkKey(name, chunkIdx)
    if (!io.exists(key)) return None
    val raw = io.read(key)
    Some(
      if (meta.shardShape.isDefined) decodeShard(raw, meta)
      else decodeChunk(raw, meta.dtype, meta.chunks, meta.gzipLevel,
        meta.bigEndian, meta.gribVar, meta.zlibLevel, meta.shuffleElem, meta.zstdLevel,
          meta.blosc, meta.numFilter))
  }

  def chunkExists(name: String, chunkIdx: Vector[Int]): Boolean =
    io.exists(chunkKey(name, chunkIdx))

  /** Region write. The region MUST align with storage-object boundaries —
    * chunks, or whole shards when sharded (writers.py:43-53) — each covered
    * object is written whole, so parallel writers never touch the same
    * object and no locking is needed. */
  def writeRegion(name: String, starts: Vector[Int], block: NDArray): Unit = {
    val meta = arrayMeta(name)
    val grain = meta.grain
    val ndim = meta.shape.length
    require(block.ndim == ndim, s"block rank ${block.ndim} != array rank $ndim")
    // alignment assertion (kept verbatim in spirit from writers.py:50-53)
    (0 until ndim).foreach { d =>
      val start = starts(d); val stop = start + block.shape(d)
      val cs = grain(d)
      if (!(start % cs == 0 && (stop % cs == 0 || stop == meta.shape(d))))
        throw new IllegalArgumentException(
          s"Region [$start,$stop) does not align with Zarr chunks $grain.")
    }
    // iterate covered storage objects
    val chunkRanges: Vector[Range] = (0 until ndim).map { d =>
      val cs = grain(d)
      (starts(d) / cs) until ((starts(d) + block.shape(d) + cs - 1) / cs)
    }.toVector
    def rec(d: Int, idx: Vector[Int]): Unit =
      if (d == ndim) {
        val slices = idx.indices.map { k =>
          val cs = grain(k)
          val lo = idx(k) * cs
          val hi = math.min(lo + cs, meta.shape(k))
          Slc(lo - starts(k), hi - starts(k))
        }.toVector
        val piece = block.slice(slices)
        // v3 stores full-size objects; remainder objects at the array edge
        // are padded with fill beyond the edge for spec fidelity.
        val toWrite =
          if (piece.shape == grain) piece
          else {
            val padded = NDArray.zeros(piece.dtype, grain)
            padded.assign(Vector.fill(ndim)(0), piece)
            padded
          }
        writeChunk(name, idx, toWrite, meta)
      } else chunkRanges(d).foreach(i => rec(d + 1, idx :+ i))
    rec(0, Vector.empty)
  }

  /** Read the full array (missing chunks -> fill zeros). */
  def readArray(name: String): NDArray = {
    val meta = arrayMeta(name)
    val grain = meta.grain
    val out = NDArray.zeros(meta.dtype, meta.shape)
    val ndim = meta.shape.length
    if (ndim == 0) return out
    val nchunksPerDim = meta.shape.indices.map(d =>
      (meta.shape(d) + grain(d) - 1) / grain(d)).toVector
    def rec(d: Int, idx: Vector[Int]): Unit =
      if (d == ndim) {
        readChunk(name, idx, meta).foreach { chunk =>
          val starts = idx.indices.map(k => idx(k) * grain(k)).toVector
          val valid = idx.indices.map(k =>
            Slc(0, math.min(grain(k), meta.shape(k) - starts(k)))).toVector
          out.assign(starts, chunk.slice(valid))
        }
      } else (0 until nchunksPerDim(d)).foreach(i => rec(d + 1, idx :+ i))
    rec(0, Vector.empty)
    out
  }

  /** Read only the wanted inner chunks of one shard object, seeking via the
    * binary index at the object tail — two object-store range GETs (index
    * tail, then just the needed chunk ranges). Bytes of unwanted inner
    * chunks are never read. */
  private def readShardChunks(key: String, meta: ArrayMeta,
                              wanted: Vector[Vector[Int]]): Map[Vector[Int], NDArray] = {
    val ndim = meta.shape.length
    val chunksPerShard = (0 until ndim).map(d => meta.grain(d) / meta.chunks(d)).toVector
    val positions = innerPositions(chunksPerShard)
    val posToOrdinal: Map[Vector[Int], Int] = positions.zipWithIndex.toMap
    val idxLen = positions.length * 16
    // one suffix range-GET for the index, one batched GET for the chunks
    val tail = ByteBuffer.wrap(io.readTail(key, idxLen + 4))
      .order(ByteOrder.LITTLE_ENDIAN)
    val idxBytes = new Array[Byte](idxLen)
    tail.get(idxBytes)
    val crc = new java.util.zip.CRC32C(); crc.update(idxBytes)
    require(crc.getValue.toInt == tail.getInt, "shard index CRC32C mismatch")
    val index = ByteBuffer.wrap(idxBytes).order(ByteOrder.LITTLE_ENDIAN)
    val present = wanted.flatMap { pos =>
      val ord = posToOrdinal(pos)
      val offset = index.getLong(ord * 16)
      val nbytes = index.getLong(ord * 16 + 8)
      if (offset == -1L || nbytes == -1L) None
      else Some((pos, offset, nbytes.toInt))
    }
    // all wanted chunk ranges through one open handle (one GET batch)
    val payloads = io.readRanges(key,
      present.map { case (_, off, len) => (off, len) })
    present.zip(payloads).map { case ((pos, _, _), raw) =>
      pos -> decodeChunk(raw, meta.dtype, meta.chunks, meta.gzipLevel,
        meta.bigEndian, meta.gribVar, meta.zlibLevel, meta.shuffleElem, meta.zstdLevel,
          meta.blosc, meta.numFilter)
    }.toMap
  }

  /** Read an arbitrary rectangular region (no alignment requirement): only
    * the storage objects intersecting the region are fetched, and within a
    * shard only the intersecting inner chunks are read (index-guided seeks)
    * — at object-store scale each task range-GETs its own slab's bytes and
    * nothing else. */
  def readRegion(name: String, starts: Vector[Int], shape: Vector[Int]): NDArray = {
    val meta = arrayMeta(name)
    val grain = meta.grain
    val ndim = meta.shape.length
    require(starts.length == ndim && shape.length == ndim,
      s"region rank != array rank $ndim")
    val out = NDArray.zeros(meta.dtype, shape)
    if (ndim == 0) return out
    // copy the part of `block` (anchored at blockLo, global coords) that
    // intersects the region into `out`
    def blit(block: NDArray, blockLo: Vector[Int], blockShape: Vector[Int]): Unit = {
      val lo = (0 until ndim).map(k => math.max(blockLo(k), starts(k))).toVector
      val hi = (0 until ndim).map(k => math.min(
        math.min(blockLo(k) + blockShape(k), meta.shape(k)),
        starts(k) + shape(k))).toVector
      if ((0 until ndim).forall(k => lo(k) < hi(k))) {
        val src = (0 until ndim).map(k =>
          Slc(lo(k) - blockLo(k), hi(k) - blockLo(k))).toVector
        out.assign(lo.indices.map(k => lo(k) - starts(k)).toVector,
          block.slice(src))
      }
    }
    val chunkRanges: Vector[Range] = (0 until ndim).map { d =>
      (starts(d) / grain(d)) until
        ((starts(d) + shape(d) + grain(d) - 1) / grain(d))
    }.toVector
    def rec(d: Int, idx: Vector[Int]): Unit =
      if (d == ndim) {
        val shardLo = idx.indices.map(k => idx(k) * grain(k)).toVector
        if (meta.shardShape.isDefined) {
          val key = chunkKey(name, idx)
          if (io.exists(key)) {
            // inner chunks of this shard intersecting the region
            val innerRanges = (0 until ndim).map { k =>
              val cs = meta.chunks(k)
              val lo = math.max(starts(k) - shardLo(k), 0) / cs
              val hi = (math.min(starts(k) + shape(k) - shardLo(k),
                grain(k)) + cs - 1) / cs
              lo until hi
            }.toVector
            val wanted = innerRanges.foldLeft(Vector(Vector.empty[Int])) {
              (acc, r) => acc.flatMap(prefix => r.map(prefix :+ _))
            }
            readShardChunks(key, meta, wanted).foreach { case (pos, chunk) =>
              val chunkLo = (0 until ndim).map(k =>
                shardLo(k) + pos(k) * meta.chunks(k)).toVector
              blit(chunk, chunkLo, meta.chunks)
            }
          }
        } else {
          readChunk(name, idx, meta).foreach(chunk => blit(chunk, shardLo, grain))
        }
      } else chunkRanges(d).foreach(i => rec(d + 1, idx :+ i))
    rec(0, Vector.empty)
    out
  }

  /** Read the whole group back as a Fragment (our Zarr reader — needed to
    * verify the writer and to support rechunk-an-existing-store recipes). */
  def readFragment(): Fragment = readFragmentRegion(Map.empty)

  /** Read a sub-region of the group as a Fragment: `sel` maps dim name ->
    * element slice; unselected dims are read whole. With `deferred` only
    * the metadata is read now and each variable's region is read on its
    * first data access ([[NDArray.deferred]]); the distributed scan
    * (Pipelines.scanZarrStore) reads its slabs this way. */
  def readFragmentRegion(sel: Map[String, Slc],
                         deferred: Boolean = false): Fragment = {
    val names = arrayNames
    val metas = names.map(n => n -> arrayMeta(n)).toMap
    val fullDims: Map[String, Int] = metas.values.flatMap(m =>
      m.dimensionNames.zip(m.shape)).toMap
    val dims = fullDims.map { case (d, n) =>
      d -> sel.get(d).map(_.length).getOrElse(n) }
    // a variable is a coord iff its name matches one of its dims (1-D dim
    // coords) — the convention the golden cube exercises
    val (coordNames, varNames) = names.partition(n =>
      metas(n).dimensionNames.contains(n))
    def readVar(n: String): Variable = {
      val m = metas(n)
      val starts = m.dimensionNames.map(d => sel.get(d).map(_.start).getOrElse(0))
      val shape = m.dimensionNames.zip(m.shape).map { case (d, full) =>
        sel.get(d).map(_.length).getOrElse(full) }
      val data =
        if (deferred) NDArray.deferred(m.dtype, shape)(readRegion(n, starts, shape).data)
        else readRegion(n, starts, shape)
      Variable(m.dimensionNames, data, m.attrs)
    }
    Fragment(
      dims = dims,
      coords = coordNames.map(n => n -> readVar(n)).toMap,
      dataVars = varNames.map(n => n -> readVar(n)).toMap,
      attrs = groupAttrs)
  }

  /** ConsolidateMetadata (writers.py:72-92): collect every array's metadata
    * document into the root zarr.json under `consolidated_metadata`
    * (zarr-python v3 layout) so readers issue one metadata GET instead of
    * one per array. */
  def consolidateMetadata(): Unit = {
    if (format == 2) {
      // v2 convention: every metadata document copied into one root
      // `.zmetadata` (zarr_consolidated_format 1) — enumerate from disk,
      // not from a possibly-stale prior consolidation
      val metaNode = mapper.createObjectNode()
      def copyDoc(key: String): Unit =
        if (io.exists(key))
          metaNode.set[ObjectNode](key, mapper.readTree(io.read(key)))
      copyDoc(".zgroup"); copyDoc(".zattrs")
      io.arrayDirs().foreach { n =>
        copyDoc(s"$n/.zarray"); copyDoc(s"$n/.zattrs")
      }
      val o = mapper.createObjectNode()
      o.put("zarr_consolidated_format", 1)
      o.set[ObjectNode]("metadata", metaNode)
      io.write(".zmetadata", mapper.writerWithDefaultPrettyPrinter()
        .writeValueAsBytes(o))
      invalidateConsolidated()
      return
    }
    val rootNode = mapper.readTree(io.read("zarr.json"))
      .asInstanceOf[ObjectNode]
    val metaNode = mapper.createObjectNode()
    arrayNames.foreach { n =>
      metaNode.set[ObjectNode](n, mapper.readTree(io.read(s"$n/zarr.json")))
    }
    val cons = mapper.createObjectNode()
    cons.put("kind", "inline")
    cons.put("must_understand", false)
    cons.set[ObjectNode]("metadata", metaNode)
    rootNode.set[ObjectNode]("consolidated_metadata", cons)
    io.write("zarr.json", mapper.writerWithDefaultPrettyPrinter()
      .writeValueAsBytes(rootNode))
    invalidateConsolidated()
  }

  /** ConsolidateDimensionCoordinates (rechunking.py:245-283): rewrite each
    * 1-D dimension-coordinate array as a single chunk. */
  def consolidateDimensionCoordinates(): Unit = {
    val wasConsolidated = consolidated.isDefined
    arrayNames.foreach { n =>
      val m = arrayMeta(n)
      if (m.dimensionNames == Vector(n) && m.chunks != m.shape) {
        val data = readArray(n)
        if (format == 2) {
          // v2 chunks are loose "<i>" files in the array dir (1-D coords
          // here) — drop each old ordinal before the single-chunk rewrite
          val nChunks = (m.shape.head + m.chunks.head - 1) / m.chunks.head
          (0 until nChunks).foreach(i => io.deleteRecursive(s"$n/$i"))
        } else io.deleteRecursive(s"$n/c") // drop old chunks
        createArray(n, m.shape, m.shape, m.dtype, m.attrs,
          dimensionNames = Some(m.dimensionNames))
        writeRegion(n, Vector.fill(m.shape.length)(0), data)
      }
    }
    // a store that WAS consolidated (createArray stripped it) must not
    // stay unconsolidated behind the caller's back
    if (wasConsolidated) consolidateMetadata()
  }
}

object ZarrGroup {
  /** Path-backed store (posix or Hadoop-FS scheme'd URI). Opening an
    * existing store auto-detects zarr v3 vs v2 from its metadata layout. */
  def apply(root: String): ZarrGroup = new ZarrGroup(root, None)
  /** Path-backed store with an explicit format (needed when CREATING a
    * store — an empty directory carries nothing to detect): 3 for the
    * zarr.json layout, 2 for the zarr-python classic `.zgroup`/`.zarray`
    * layout that zarr-python 2.x / xarray `open_zarr` consume. */
  def apply(root: String, format: Int): ZarrGroup = {
    require(format == 2 || format == 3, s"zarr format $format (2 or 3)")
    new ZarrGroup(root, None, Some(format))
  }
  /** Virtual store over an explicit transport (refs-backed MapIO): reads
    * resolve in place against the original files, writes are rejected. */
  def virtual(root: String, io: StoreIO): ZarrGroup =
    new ZarrGroup(root, Some(io))
}
