package graft.zarr

import graft.core._
import graft.kerchunk.{CombineReferences, Ref, RefSet}
import graft.zarr.ZarrStore._
import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** Pins the bytes of every metadata document the store and the kerchunk
  * artifacts write. `src/test/resources/zarr-golden/` holds, per matrix
  * entry, the documents the per-format writers produced before they were
  * folded into `renderV3`/`renderV2`: `<name>.zarr.json` (v3),
  * `<name>.zarray`/`.zattrs` (native v2 store), `<name>.kerchunk.zarray`/
  * `.zattrs` (the compact v2 kerchunk export) and `<name>.imported.zarr.json`
  * (that export imported back). Parsing a rendered document must give the
  * same ArrayMeta back. */
class MetadataGoldenSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()

  private val attrs: Attrs.Attrs = Map(
    "long_name" -> AttrValue.AStr("air temperature"),
    "scale" -> AttrValue.ANum(1.5), "count" -> AttrValue.AInt(3))
  private val tx = Some(Vector("t", "x"))
  private val x = Some(Vector("x"))

  private val matrix: Seq[(String, ArrayMeta)] = Seq(
    "plain" -> ArrayMeta(Vector(10, 6), Vector(4, 3), DType.F8, attrs, tx),
    "gzip" -> ArrayMeta(Vector(10, 6), Vector(4, 3), DType.F8, attrs, tx,
      Some(Compressor.Gzip(5))),
    "zlib_shuffle" -> ArrayMeta(Vector(10, 6), Vector(4, 3), DType.I4, attrs, tx,
      Some(Compressor.Zlib(6)), shuffleElem = Some(4)),
    "zstd" -> ArrayMeta(Vector(10, 6), Vector(4, 3), DType.F4, attrs, tx,
      Some(Compressor.Zstd(3))),
    "blosc_byteshuffle" -> ArrayMeta(Vector(10, 6), Vector(4, 3), DType.F8, attrs,
      tx, Some(Compressor.Blosc(Blosc.Params("lz4", 5, shuffle = true)))),
    "blosc_bitshuffle" -> ArrayMeta(Vector(10, 6), Vector(4, 3), DType.I2, attrs,
      tx, Some(Compressor.Blosc(Blosc.Params("zstd", 3, shuffle = false,
        blocksize = 256, bitShuffle = true)))),
    "big_endian" -> ArrayMeta(Vector(10, 6), Vector(4, 3), DType.F8, attrs, tx,
      bigEndian = true),
    "delta" -> ArrayMeta(Vector(12), Vector(4), DType.I8, Map.empty,
      Some(Vector("time")), Some(Compressor.Zlib(1)),
      numFilter = Some(DeltaParams("<i8", "<i4"))),
    "fixedscaleoffset" -> ArrayMeta(Vector(12), Vector(4), DType.F8, Map.empty, x,
      shuffleElem = Some(2),
      numFilter = Some(ScaleOffsetParams(20.0, 100.0, "<f8", "<i2"))),
    "fixedscaleoffset_frac" -> ArrayMeta(Vector(12), Vector(4), DType.F8,
      Map.empty, x, numFilter = Some(ScaleOffsetParams(0.25, 0.5, "<f8", "<i4"))),
    "quantize" -> ArrayMeta(Vector(12), Vector(4), DType.F4, Map.empty, x,
      Some(Compressor.Gzip(1)), numFilter = Some(QuantizeParams(3, "<f4", "<f4"))),
    "sharded" -> ArrayMeta(Vector(10, 6), Vector(2, 3), DType.F8, attrs, tx,
      Some(Compressor.Zstd(3)), Some(Vector(4, 6))),
    "sharded_big_endian" -> ArrayMeta(Vector(8), Vector(2), DType.I8, Map.empty,
      Some(Vector("t")), shardShape = Some(Vector(4)), bigEndian = true),
    "grib2" -> ArrayMeta(Vector(1, 5, 8), Vector(1, 5, 8), DType.F8, attrs,
      Some(Vector("time", "y", "x")), fillValue = AttrValue.ANum(Double.NaN),
      gribVar = Some("data")),
    "nan_fill" -> ArrayMeta(Vector(7), Vector(3), DType.F4, Map.empty, x,
      fillValue = AttrValue.ANum(Double.NaN)),
    "integer_fill" -> ArrayMeta(Vector(7), Vector(3), DType.I4, Map.empty, x,
      fillValue = AttrValue.AInt(-999)),
    "float_fill" -> ArrayMeta(Vector(7), Vector(3), DType.F8, Map.empty, x,
      fillValue = AttrValue.ANum(273.15)),
    "no_dims" -> ArrayMeta(Vector(5), Vector(5), DType.U1, Map.empty),
    "scalar" -> ArrayMeta(Vector(), Vector(), DType.I4,
      Map("grid_mapping_name" -> AttrValue.AStr("latitude_longitude")),
      Some(Vector())))

  private def golden(file: String): String = {
    val in = getClass.getResourceAsStream(s"/zarr-golden/$file")
    assert(in != null, s"missing golden document $file")
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }
  private def text(b: Array[Byte]): String = new String(b, "UTF-8")
  /** ArrayMeta equality with NaN fill values equal to each other */
  private def same(a: ArrayMeta, b: ArrayMeta): Boolean = {
    def norm(m: ArrayMeta) = m.fillValue match {
      case AttrValue.ANum(d) if d.isNaN => m.copy(fillValue = AttrValue.AStr("NaN"))
      case _ => m
    }
    norm(a) == norm(b)
  }
  private def v2able(m: ArrayMeta) = m.shardShape.isEmpty

  test("renderV3 writes the golden zarr.json bytes; parseV3 gives the meta back") {
    matrix.foreach { case (name, m) =>
      val doc = renderV3(m)
      assert(text(doc) == golden(s"$name.zarr.json"), name)
      val back = parseV3(mapper.readTree(doc), name)
      assert(same(back, m), s"$name: $back")
    }
  }

  test("renderV2 writes the golden .zarray/.zattrs bytes; parseV2 gives the meta back") {
    matrix.filter(e => v2able(e._2)).foreach { case (name, m) =>
      val (zarray, zattrs) = renderV2(m)
      if (m.gribVar.isEmpty) { // the native store never held grib2 arrays
        assert(text(pretty(zarray)) == golden(s"$name.zarray"), name)
        assert(text(pretty(zattrs)) == golden(s"$name.zattrs"), name)
      }
      val (back, sep) = parseV2(zarray, Some(zattrs), name)
      assert(sep == ".")
      assert(same(back, m), s"$name: $back")
    }
    matrix.filterNot(e => v2able(e._2)).foreach { case (name, m) =>
      val e = intercept[IllegalArgumentException](renderV2(m))
      assert(e.getMessage.contains("sharding"), name)
    }
  }

  test("kerchunk v2 export: golden bytes plus dimension_separator, and imports back") {
    val v2 = matrix.filter(e => v2able(e._2))
    val rs = RefSet(v2.map { case (name, m) =>
      s"$name/zarr.json" -> Ref.inline(renderV3(m)) }.toMap)
    val json = RefSet.toKerchunkV2Json(rs)
    val refs = mapper.readTree(json).get("refs")
    val back = RefSet.fromKerchunkV2Json(json)
    v2.foreach { case (name, _) =>
      // the one difference from the pre-merge export: the export now shares
      // the native writer, which names its chunk-key separator
      assert(refs.get(s"$name/.zarray").asText() ==
        golden(s"$name.kerchunk.zarray").stripSuffix("}") +
          ",\"dimension_separator\":\".\"}", name)
      assert(refs.get(s"$name/.zattrs").asText() == golden(s"$name.kerchunk.zattrs"), name)
      assert(text(back(s"$name/zarr.json").resolve()) ==
        golden(s"$name.imported.zarr.json"), name)
    }
    assert(back.keys == rs.keys + "zarr.json")
  }

  test("kerchunk v2 parquet export reads back to the same metadata") {
    val spark = graft.TestSession.spark
    val v2 = matrix.filter(e => v2able(e._2) && e._2.shape.nonEmpty)
    val rs = RefSet(v2.flatMap { case (name, m) =>
      val chunk = s"$name/c/" + m.shape.map(_ => "0").mkString("/")
      Seq(s"$name/zarr.json" -> Ref.inline(renderV3(m)),
        chunk -> Ref.pointer("/data/src.bin", 16L, 8L))
    }.toMap + ("zarr.json" -> Ref.inline(groupMetaDoc(Map.empty))))
    val pq = Files.createTempDirectory("golden_pq").resolve("refs.parquet").toString
    CombineReferences.writeReferenceParquetV2(spark, rs, pq)
    val back = CombineReferences.readReferenceParquetV2(spark, pq)
    assert(back.keys == rs.keys)
    v2.foreach { case (name, _) =>
      assert(text(back(s"$name/zarr.json").resolve()) ==
        golden(s"$name.imported.zarr.json"), name)
    }
  }
}
