package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The Media facade must decode arbitrary binary columns with exactly the
  * gated m01/m05 parsers, and must turn corrupt payloads into ok=false
  * rows instead of task failures. */
class MediaApiSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.TestSession.spark

  private val d = "/root/testdata/sf0.001"

  test("decodePpm over a payload column == m01 on the same ids") {
    import spark.implicits._
    val ids = graft.queries.Tables.documents(spark, d)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val payloads = ids.map(id =>
      (id, graft.queries.MultiModalOps.ppmBytes(id))).toDF("id", "bytes")
    val api = Media.decodePpm(payloads, "id", "bytes")
    assert(api.filter(!col("ok")).isEmpty)
    val apiCmp = api.drop("ok").orderBy("doc_id")
    val gated = graft.queries.MultiModalOps.m01ImageDecode(spark, d)
    assert(apiCmp.columns.sameElements(gated.columns))
    assert(apiCmp.exceptAll(gated).isEmpty && gated.exceptAll(apiCmp).isEmpty)
  }

  test("decodeWav over a payload column == m05 on the same ids") {
    import spark.implicits._
    val ids = graft.queries.Tables.documents(spark, d)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val payloads = ids.map(id =>
      // ids = 2 mod 4 carry m05's rotated G.711 fixtures (r14)
      (id, if (id % 4 == 2) graft.queries.MultiModalOps.wavBytesG711(id)
           else graft.queries.MultiModalOps.wavBytes(id))).toDF("id", "bytes")
    val api = Media.decodeWav(payloads, "id", "bytes")
    assert(api.filter(!col("ok")).isEmpty)
    val apiCmp = api.drop("ok").orderBy("doc_id")
    val gated = graft.queries.MultiModalOps.m05WavDecode(spark, d)
    assert(apiCmp.columns.sameElements(gated.columns))
    assert(apiCmp.exceptAll(gated).isEmpty && gated.exceptAll(apiCmp).isEmpty)
  }

  test("aviIndex over a payload column == m10 on the same ids") {
    import spark.implicits._
    val ids = graft.queries.Tables.documents(spark, d)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val payloads = ids.map(id =>
      (id, graft.queries.MultiModalOps.aviBytes(id))).toDF("id", "bytes")
    val api = Media.aviIndex(payloads, "id", "bytes")
    assert(api.filter(!col("ok")).isEmpty)
    val apiCmp = api.drop("ok").orderBy("doc_id")
    val gated = graft.queries.MultiModalOps.m10AviIndex(spark, d)
    assert(apiCmp.columns.sameElements(gated.columns))
    assert(apiCmp.exceptAll(gated).isEmpty && gated.exceptAll(apiCmp).isEmpty)
    // an index-inconsistent container (idx1 frame count lies) is reported
    // corrupt, never half-parsed: flip one idx1 entry's recorded size
    val orig = graft.queries.MultiModalOps.aviBytes(3L)
    val mut = orig.clone()
    java.nio.ByteBuffer.wrap(mut).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(mut.length - 4, 7) // last idx1 entry's dwChunkLength
    val bad = Seq((3L, mut)).toDF("id", "bytes")
    val got = Media.aviIndex(bad, "id", "bytes").collect()
    assert(got.length == 1 && !got(0).getBoolean(1))
  }

  test("pngDecode over a payload column == m11 on the same ids") {
    import spark.implicits._
    val ids = graft.queries.Tables.documents(spark, d)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val payloads = ids.map(id =>
      (id, graft.queries.MultiModalOps.pngBytes(id))).toDF("id", "bytes")
    val api = Media.pngDecode(payloads, "id", "bytes")
    assert(api.filter(!col("ok")).isEmpty)
    val apiCmp = api.drop("ok").orderBy("doc_id")
    val gated = graft.queries.MultiModalOps.m11PngDecode(spark, d)
    assert(apiCmp.columns.sameElements(gated.columns))
    assert(apiCmp.exceptAll(gated).isEmpty && gated.exceptAll(apiCmp).isEmpty)
    // a bit-flipped IDAT byte breaks the chunk CRC: reported corrupt,
    // never a silently-wrong pixel sum
    val orig = graft.queries.MultiModalOps.pngBytes(7L)
    val mut = orig.clone()
    mut(mut.length - 20) = (mut(mut.length - 20) ^ 0x40).toByte
    val bad = Seq((7L, mut)).toDF("id", "bytes")
    val got = Media.pngDecode(bad, "id", "bytes").collect()
    assert(got.length == 1 && !got(0).getBoolean(1))
  }

  test("m11 decode reconstructs the exact pixel pattern through all five filters") {
    // id 7: h = 3 + 7%4 = 6 rows -> filter types 0,1,2,3,4,0 all exercised
    val v = graft.queries.MultiModalOps.pngDecodeOf(
      graft.queries.MultiModalOps.pngBytes(7L))
    assert(v.width == 4 + 7 % 5 && v.height == 6)
    val rowBytes = v.width * 3
    for (y <- 0 until v.height; b <- 0 until rowBytes) {
      val want = ((7L * 11 + y * 29 + b * 17) % 256).toInt
      assert((v.pixels(y * rowBytes + b) & 0xff) == want,
        s"pixel ($y,$b): got ${v.pixels(y * rowBytes + b) & 0xff} want $want")
    }
    // odd id -> no tEXt chunk: IHDR + 2xIDAT + IEND
    assert(v.nChunks == 4L)
    assert(graft.queries.MultiModalOps.pngDecodeOf(
      graft.queries.MultiModalOps.pngBytes(8L)).nChunks == 5L)
  }

  test("gifDecode over a payload column == m12 on the same ids") {
    import spark.implicits._
    val ids = graft.queries.Tables.documents(spark, d)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val payloads = ids.map(id =>
      (id, graft.queries.MultiModalOps.gifBytes(id))).toDF("id", "bytes")
    val api = Media.gifDecode(payloads, "id", "bytes")
    assert(api.filter(!col("ok")).isEmpty)
    val apiCmp = api.drop("ok").orderBy("doc_id")
    val gated = graft.queries.MultiModalOps.m12GifDecode(spark, d)
    assert(apiCmp.columns.sameElements(gated.columns))
    assert(apiCmp.exceptAll(gated).isEmpty && gated.exceptAll(apiCmp).isEmpty)
    // a truncated code stream is reported corrupt, never a short image
    val orig = graft.queries.MultiModalOps.gifBytes(5L)
    val mut = java.util.Arrays.copyOf(orig, orig.length - 6)
    val bad = Seq((5L, mut)).toDF("id", "bytes")
    val got = Media.gifDecode(bad, "id", "bytes").collect()
    assert(got.length == 1 && !got(0).getBoolean(1))
  }

  test("jpegDecode over a payload column matches the m14 fixture stats; corrupt flags ok=false") {
    import spark.implicits._
    val ids = graft.queries.Tables.documents(spark, d)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val payloads = ids.map(id =>
      (id, graft.queries.MultiModalOps.jpegBytes(id))).toDF("id", "bytes")
    val api = Media.jpegDecode(payloads, "id", "bytes")
    assert(api.filter(!col("ok")).isEmpty)
    val apiCmp = api.select("doc_id", "width", "height", "px_sum",
      "px_mean_milli", "n_restarts").orderBy("doc_id")
    val gated = graft.queries.MultiModalOps.m14JpegDecode(spark, d)
      .select("doc_id", "width", "height", "px_sum",
        "px_mean_milli", "n_restarts")
    assert(apiCmp.exceptAll(gated).isEmpty && gated.exceptAll(apiCmp).isEmpty)
    // a truncated entropy stream is reported corrupt, never a short image
    val orig = graft.queries.MultiModalOps.jpegBytes(4L)
    val mut = java.util.Arrays.copyOf(orig, orig.length - 4)
    val bad = Seq((4L, mut)).toDF("id", "bytes")
    val got = Media.jpegDecode(bad, "id", "bytes").collect()
    assert(got.length == 1 && !got(0).getBoolean(1))
  }

  test("m12 decode reconstructs the exact index pattern; LZW survives 12-bit growth + reset") {
    // id 9: w = 6 + 9%7 = 8, h = 4 + 9%5 = 8; last row constant 9%16
    // (the KwKwK trigger: a run of identical symbols)
    val v = graft.queries.MultiModalOps.gifDecodeOf(
      graft.queries.MultiModalOps.gifBytes(9L))
    assert(v.width == 8 && v.height == 8 && v.palette.length == 48)
    for (y <- 0 until v.height; x <- 0 until v.width) {
      val want = if (y == v.height - 1) (9L % 16).toInt
      else ((9L * 5 + y * 11 + x * 7) % 16).toInt
      assert((v.indices(y * v.width + x) & 0xff) == want, s"($y,$x)")
    }
    // palette bytes are the synthesis formula
    for (j <- 0 until 16)
      assert((v.palette(3 * j) & 0xff) == ((j * 23 + 9) % 256))
    // torture round-trip: a 200k-symbol deterministic stream over the
    // full 16-symbol alphabet grows the dictionary through EVERY width
    // bump to 12 bits and across the 4096-entry clear/reset — encoder
    // and decoder are independent implementations, so equality here is
    // the codec's correctness proof at depths the corpus never reaches
    // regression (review-found): a stream whose EOI lands byte-aligned —
    // the encoder must emit it at the DECODER's width, which bumps one
    // entry ahead of the encoder's own add schedule at the final code;
    // the old formulation decoded this as 'stream ends mid-code'
    val edge = Array(9, 2, 14, 5, 13, 15, 4, 2, 0, 15, 4, 7, 1, 9, 13)
    val edgeDec = graft.queries.MultiModalOps.lzwDecode(
      graft.queries.MultiModalOps.lzwEncode(edge, 4), 4, edge.length)
    assert(edgeDec.map(_ & 0xff).toSeq == edge.toSeq)
    // exhaustive short-stream sweep: every 4-symbol-alphabet stream of
    // length <= 6 round-trips (covers every width/EOI alignment at the
    // smallest code size)
    for (len <- 1 to 6; s <- 0 until math.pow(4, len).toInt) {
      val pxs = Array.tabulate(len)(j => (s >> (2 * j)) & 3)
      val dec = graft.queries.MultiModalOps.lzwDecode(
        graft.queries.MultiModalOps.lzwEncode(pxs, 2), 2, len)
      assert(dec.map(_ & 0xff).toSeq == pxs.toSeq, s"len=$len s=$s")
    }
    val n = 200000
    val px = Array.tabulate(n) { i =>
      ((i * 2654435761L >>> 7) % 16).toInt
    }
    val enc = graft.queries.MultiModalOps.lzwEncode(px, 4)
    assert(enc.length < n, "LZW failed to compress a 16-symbol stream")
    val dec = graft.queries.MultiModalOps.lzwDecode(enc, 4, n)
    assert(dec.length == n)
    var i = 0
    while (i < n) {
      assert((dec(i) & 0xff) == px(i), s"symbol $i: ${dec(i)} vs ${px(i)}")
      i += 1
    }
  }

  test("p11 cross-format dedup: every family spans both containers; decode converges pixel-exact") {
    // the core property: the PNG of group g and the GIF of group g decode
    // to IDENTICAL gray rasters through two entirely different codec paths
    for (g <- Seq(0L, 7L, 123L)) {
      val png = graft.queries.MultiModalOps.decodeGrayOf(
        graft.queries.MultiModalOps.crossFormatBytes(2 * g))
      val gif = graft.queries.MultiModalOps.decodeGrayOf(
        graft.queries.MultiModalOps.crossFormatBytes(2 * g + 1))
      assert(java.util.Arrays.equals(png, gif), s"group $g rasters diverge")
      assert(java.util.Arrays.equals(png,
        graft.queries.MultiModalOps.crossRasterOf(g)),
        s"group $g decode does not match the synthesis raster")
    }
    // family accounting on the corpus: members partition the corpus,
    // every family carries both formats
    val rows = graft.queries.PipelineOps
      .p11CrossFormatDedup(spark, d).collect()
    assert(rows.nonEmpty)
    val total = graft.queries.Tables.documents(spark, d).count()
    assert(rows.map(_.getLong(2)).sum == total)
    rows.foreach { r =>
      assert(r.getLong(3) + r.getLong(4) == r.getLong(2), r.toString)
      assert(r.getBoolean(5), s"family without both formats: $r")
    }
    // a non-image payload fails by name, never a silent wrong raster
    val e = intercept[IllegalArgumentException](
      graft.queries.MultiModalOps.decodeGrayOf("not an image".getBytes))
    assert(e.getMessage.contains("unknown image container"))
  }

  test("p13 mixed admission: three codec paths + resize converge; drops partition the corpus") {
    import graft.queries.MultiModalOps
    // core property: PNG (8x8), GIF (8x8) and JPEG (64x64, DC-only blocks)
    // of group g all normalize to the IDENTICAL canonical 8x8 raster —
    // three codecs, one of them through an 8x block-mean downsample
    for (g <- Seq(0L, 7L, 123L)) {
      val ref = MultiModalOps.crossRasterOf(g)
      for (leg <- 0 to 2) {
        val gray = MultiModalOps.mixedGrayOf(
          MultiModalOps.mixedFormatBytes(3 * g + leg))
        assert(java.util.Arrays.equals(gray, ref),
          s"group $g leg $leg diverges from the synthesis raster")
      }
    }
    // admission accounting: per-container docs partition the corpus; the
    // min-id member of each family is PNG (ids 3g < 3g+1 < 3g+2), so all
    // admissions land there and the other containers drop fully —
    // UNLESS two groups collide in pHash, in which case spark and oracle
    // agree by construction (both group on the hash)
    val rows = graft.queries.PipelineOps.p13MixedAdmission(spark, d).collect()
    val total = graft.queries.Tables.documents(spark, d).count()
    assert(rows.map(_.getLong(1)).sum == total)
    rows.foreach { r =>
      assert(r.getLong(2) + r.getLong(3) == r.getLong(1), r.toString)
    }
    val byContainer = rows.map(r => r.getString(0) -> r).toMap
    assert(byContainer.keySet == Set("png", "gif", "jpeg"))
    assert(byContainer("png").getLong(3) > 0, "no admissions at all")
    // non-8-divisible dims fail by name (no approximate resampling)
    val odd = MultiModalOps.pngEncode(4, 4,
      Array.tabulate(48)(i => (i * 5).toByte))
    val e = intercept[IllegalArgumentException](MultiModalOps.mixedGrayOf(odd))
    assert(e.getMessage.contains("not 8-divisible"))
  }

  test("probe over a payload column == m13 on the same ids; sniffing dispatches correctly") {
    import spark.implicits._
    val ids = graft.queries.Tables.documents(spark, d)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val payloads = ids.map(id =>
      (id, graft.queries.MultiModalOps.m13Bytes(id))).toDF("id", "bytes")
    val api = Media.probe(payloads, "id", "bytes")
    assert(api.filter(!col("ok")).isEmpty)
    val apiCmp = api.drop("ok").orderBy("doc_id")
    val gated = graft.queries.MultiModalOps.m13MediaProbe(spark, d)
    assert(apiCmp.columns.sameElements(gated.columns))
    assert(apiCmp.exceptAll(gated).isEmpty && gated.exceptAll(apiCmp).isEmpty)
    // the RIFF fork: WAVE and AVI share the outer container — the probe
    // must dispatch on the form type, not just 'RIFF'
    val wav = graft.queries.MultiModalOps.probeOf(
      graft.queries.MultiModalOps.wavBytes(6L))
    val avi = graft.queries.MultiModalOps.probeOf(
      graft.queries.MultiModalOps.aviBytes(7L))
    assert(wav.container == "wav" && avi.container == "avi")
    // unknown container and corrupt known container both flag, not throw
    val bad = Seq((1L, "???????????????".getBytes),
      (2L, graft.queries.MultiModalOps.pngBytes(2L).dropRight(9)))
      .toDF("id", "bytes")
    val got = Media.probe(bad, "id", "bytes").orderBy("doc_id").collect()
    assert(got.forall(!_.getBoolean(1)))
  }

  test("audioFingerprints over a payload column == m09 on the same ids") {
    import spark.implicits._
    val ids = graft.queries.Tables.documents(spark, d)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val payloads = ids.map(id =>
      (id, graft.queries.MultiModalOps.wavBytes(id))).toDF("id", "bytes")
    val api = Media.audioFingerprints(payloads, "id", "bytes")
    assert(api.filter(!col("ok")).isEmpty)
    val apiFp = api.select(col("doc_id"), col("fp")).orderBy("doc_id")
    val gated = graft.queries.MultiModalOps.m09AudioFingerprint(spark, d)
      .select("doc_id", "fp")
    assert(apiFp.exceptAll(gated).isEmpty && gated.exceptAll(apiFp).isEmpty)
    // corrupt / too-short / non-WAV payloads degrade, never kill the scan
    val bad = Seq(
      (1L, Array[Byte](1, 2, 3)),
      (2L, "RIFFxxxxWAVE".getBytes("ASCII")),
      (3L, graft.queries.MultiModalOps.wavBytes(0L).take(100)))
      .toDF("id", "bytes")
    val got = Media.audioFingerprints(bad, "id", "bytes").collect()
    assert(got.length == 3 && got.forall(!_.getBoolean(1)), got.mkString(","))
  }

  test("energySegments over a payload column == m07 on the same ids") {
    import spark.implicits._
    val ids = graft.queries.Tables.documents(spark, d)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    val payloads = ids.map(id =>
      (id, graft.queries.MultiModalOps.vadBytes(id))).toDF("id", "bytes")
    val api = Media.energySegments(payloads, "id", "bytes")
    assert(api.filter(!col("ok")).isEmpty)
    val apiCmp = api.drop("ok").orderBy("doc_id")
    val gated = graft.queries.MultiModalOps.m07EnergySegments(spark, d)
    assert(apiCmp.columns.sameElements(gated.columns))
    assert(apiCmp.exceptAll(gated).isEmpty && gated.exceptAll(apiCmp).isEmpty)
    // the probe is non-vacuous only if real silence gaps exist
    assert(gated.filter(col("n_segments") > 1).count() > 0)
  }

  test("sceneCuts over a payload column == m08 on the documents corpus") {
    val payloads = graft.queries.Tables.documents(spark, d)
      .select(col("doc_id").as("id"), col("text").cast("binary").as("bytes"))
    val api = Media.sceneCuts(payloads, "id", "bytes").orderBy("doc_id")
    val gated = graft.queries.MultiModalOps.m08SceneCuts(spark, d)
    assert(api.columns.sameElements(gated.columns))
    assert(api.exceptAll(gated).isEmpty && gated.exceptAll(api).isEmpty)
    // the detector must actually discriminate: some docs multi-scene,
    // some single-scene, and scene accounting is consistent
    assert(gated.filter(col("n_scenes") > 1).count() > 0)
    assert(gated.filter(col("n_scenes") === 1).count() > 0)
    assert(gated.filter(col("n_scenes") =!= col("n_cuts") + 1).isEmpty)
    assert(gated.filter(col("longest_scene") > col("n_frames")).isEmpty)
  }

  test("corrupt payloads yield ok=false rows, not task failures") {
    import spark.implicits._
    val mixed = Seq(
      (1L, graft.queries.MultiModalOps.ppmBytes(1L)),
      (2L, "not an image".getBytes("UTF-8")),
      (3L, Array.empty[Byte])).toDF("id", "bytes")
    val out = Media.decodePpm(mixed, "id", "bytes").orderBy("doc_id").collect()
    assert(out.length == 3)
    assert(out(0).getBoolean(1) && !out(1).getBoolean(1) && !out(2).getBoolean(1))
    assert(out(1).isNullAt(2))
    val outW = Media.decodeWav(mixed, "id", "bytes").orderBy("doc_id").collect()
    assert(!outW(1).getBoolean(1) && !outW(2).getBoolean(1))
    val outE = Media.energySegments(mixed, "id", "bytes").orderBy("doc_id").collect()
    assert(!outE(1).getBoolean(1) && !outE(2).getBoolean(1))
  }

  test("null ids degrade to ok=false rows, not NPE task failures") {
    import spark.implicits._
    val mixed = Seq(
      (java.lang.Long.valueOf(1L), graft.queries.MultiModalOps.ppmBytes(1L)),
      (null.asInstanceOf[java.lang.Long], graft.queries.MultiModalOps.ppmBytes(2L)),
      (java.lang.Long.valueOf(3L), null.asInstanceOf[Array[Byte]]))
      .toDF("id", "bytes")
    val out = Media.decodePpm(mixed, "id", "bytes")
      .orderBy(col("doc_id").asc_nulls_last).collect()
    assert(out.length == 3)
    assert(out(0).getBoolean(1))                       // good row decodes
    assert(!out(1).getBoolean(1) && out(1).isNullAt(2)) // null payload -> ok=false
    assert(out(2).isNullAt(0) && !out(2).getBoolean(1)) // null id -> ok=false row
    val outW = Media.decodeWav(mixed, "id", "bytes")
      .orderBy(col("doc_id").asc_nulls_last).collect()
    assert(outW.length == 3 && outW(2).isNullAt(0) && !outW(2).getBoolean(1))
  }

  test("sampleFrames over a payload column == m02 on the documents corpus") {
    val docs = graft.queries.Tables.documents(spark, d)
      .select(col("doc_id").as("id"), col("text").cast("binary").as("bytes"))
    val api = Media.sampleFrames(docs, "id", "bytes")
      .orderBy("doc_id", "frame_id")
    val gated = graft.queries.MultiModalOps.m02FrameSample(spark, d)
    assert(api.columns.sameElements(gated.columns))
    assert(api.exceptAll(gated).isEmpty && gated.exceptAll(api).isEmpty)
  }

  test("resize over a payload column == m03 on the documents corpus") {
    val docs = graft.queries.Tables.documents(spark, d)
      .select(col("doc_id").as("id"), col("text").cast("binary").as("bytes"))
    val api = Media.resize(docs, "id", "bytes").orderBy("doc_id", "y", "x")
    val gated = graft.queries.MultiModalOps.m03Resize(spark, d)
    assert(api.columns.sameElements(gated.columns))
    assert(api.exceptAll(gated).isEmpty && gated.exceptAll(api).isEmpty)
  }

  test("perceptualHash over a payload column == m06 hashes on the corpus") {
    val docs = graft.queries.Tables.documents(spark, d)
      .select(col("doc_id").as("id"), col("text").cast("binary").as("bytes"))
    val api = Media.perceptualHash(docs, "id", "bytes").orderBy("doc_id")
    val gated = graft.queries.MultiModalOps.m06PhashDedup(spark, d)
      .select("doc_id", "phash")
    assert(api.columns.sameElements(gated.columns))
    assert(api.exceptAll(gated).isEmpty && gated.exceptAll(api).isEmpty)
  }

  test("perceptualHash kernel equals a driver-side resample+WHT recompute") {
    import spark.implicits._
    // deterministic pseudo-random payloads, various raster heights
    val payloads: Seq[(Long, Array[Byte])] = (0L until 40L).map { id =>
      val len = 256 + (id * 97 % 512).toInt
      (id, Array.tabulate(len)(i => ((id * 31 + i * 17 + i * i % 251) % 256).toByte))
    }
    def refHash(bytes: Array[Byte]): Long = {
      val h0 = bytes.length / 32
      val sums = Array.ofDim[Long](64); val counts = Array.ofDim[Long](64)
      for (yy <- 0 until h0; xx <- 0 until 32) {
        val k = (yy * 8 / h0) * 8 + xx / 4
        sums(k) += bytes(yy * 32 + xx) & 0xFF; counts(k) += 1
      }
      val px = Array.tabulate(64)(k => sums(k) / counts(k))
      (1 to 60).foldLeft(0L) { (acc, k) =>
        val c = (0 until 64).map(i =>
          if (java.lang.Long.bitCount((k & i).toLong) % 2 == 0) px(i) else -px(i)).sum
        if (c > 0) acc | (1L << (k - 1)) else acc
      }
    }
    val got = Media.perceptualHash(payloads.toDF("id", "bytes"), "id", "bytes")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    payloads.foreach { case (id, bytes) =>
      assert(got(id) == refHash(bytes), s"doc $id")
    }
    // identical payloads collide regardless of id
    val twin = Seq((100L, payloads.head._2), (200L, payloads.head._2))
      .toDF("id", "bytes")
    val twinHashes = Media.perceptualHash(twin, "id", "bytes")
      .select("phash").collect().map(_.getLong(0))
    assert(twinHashes.distinct.length == 1)
  }

  test("embedStub over a payload column == m04 features on the corpus") {
    val docs = graft.queries.Tables.documents(spark, d)
      .select(col("doc_id").as("id"), col("text").cast("binary").as("bytes"))
    val flat = (0 until 8).map(k => col("feature").getItem(k).as(s"f$k"))
    val api = Media.embedStub(docs, "id", "bytes")
      .select((col("doc_id") +: flat): _*).orderBy("doc_id")
    val gated = graft.queries.MultiModalOps.m04EmbedStub(spark, d)
    assert(api.columns.sameElements(gated.columns))
    assert(api.exceptAll(gated).isEmpty && gated.exceptAll(api).isEmpty)
  }

  test("sampleFrames/resize/embedStub drop null-id rows instead of failing") {
    import spark.implicits._
    val big = Array.fill(32 * 8)(7.toByte)
    val mixed = Seq(
      (java.lang.Long.valueOf(1L), big),
      (null.asInstanceOf[java.lang.Long], big)).toDF("id", "bytes")
    assert(Media.sampleFrames(mixed, "id", "bytes")
      .select("doc_id").distinct().count() == 1)
    assert(Media.resize(mixed, "id", "bytes")
      .select("doc_id").distinct().count() == 1)
    assert(Media.embedStub(mixed, "id", "bytes").count() == 1)
  }

  test("aviIndex accepts padded DIB strides and all three idx1 offset conventions") {
    // r9 (r8 advice item): real-world muxers pad 24-bit DIB rows to a
    // 4-byte stride and disagree on the idx1 offset base. Build a
    // bespoke AVI per (stride dialect x convention) and require the
    // parser to produce the identical logical index for all six.
    def build(w: Int, h: Int, nf: Int, rate: Int, padded: Boolean,
              conv: Int): Array[Byte] = {
      val rowBytes = w * 3
      val stride = if (padded) ((rowBytes + 3) / 4) * 4 else rowBytes
      val fsz = stride * h
      val pad = fsz & 1
      val strlSz = 4 + 8 + 56 + 8 + 40
      val hdrlSz = 4 + 8 + 56 + 8 + strlSz
      val moviSz = 4 + nf * (8 + fsz + pad)
      val idxSz = 16 * nf
      val riffSz = 4 + 8 + hdrlSz + 8 + moviSz + 8 + idxSz
      val bb = java.nio.ByteBuffer.allocate(8 + riffSz)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def fcc(x: String): Unit = bb.put(x.getBytes("ASCII"))
      fcc("RIFF"); bb.putInt(riffSz); fcc("AVI ")
      fcc("LIST"); bb.putInt(hdrlSz); fcc("hdrl")
      fcc("avih"); bb.putInt(56)
      bb.putInt(1000000 / rate); bb.putInt(0); bb.putInt(0)
      bb.putInt(0x10); bb.putInt(nf); bb.putInt(0); bb.putInt(1)
      bb.putInt(fsz); bb.putInt(w); bb.putInt(h)
      bb.putInt(0); bb.putInt(0); bb.putInt(0); bb.putInt(0)
      fcc("LIST"); bb.putInt(strlSz); fcc("strl")
      fcc("strh"); bb.putInt(56)
      fcc("vids"); fcc("DIB ")
      bb.putInt(0); bb.putShort(0); bb.putShort(0); bb.putInt(0)
      bb.putInt(1); bb.putInt(rate); bb.putInt(0); bb.putInt(nf)
      bb.putInt(fsz); bb.putInt(-1); bb.putInt(0)
      bb.putShort(0); bb.putShort(0)
      bb.putShort(w.toShort); bb.putShort(h.toShort)
      fcc("strf"); bb.putInt(40)
      bb.putInt(40); bb.putInt(w); bb.putInt(h)
      bb.putShort(1); bb.putShort(24); bb.putInt(0)
      bb.putInt(fsz); bb.putInt(0); bb.putInt(0); bb.putInt(0); bb.putInt(0)
      fcc("LIST"); bb.putInt(moviSz); fcc("movi")
      val dataStart = bb.position()
      val offs = new Array[Int](nf)
      var i = 0
      while (i < nf) {
        offs(i) = bb.position() - dataStart
        fcc("00dc"); bb.putInt(fsz)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < stride) {
            bb.put(if (x < rowBytes) ((i * 31 + y * 7 + x * 13) % 256).toByte
                   else 0.toByte)
            x += 1
          }
          y += 1
        }
        if (pad == 1) bb.put(0.toByte)
        i += 1
      }
      fcc("idx1"); bb.putInt(idxSz)
      i = 0
      while (i < nf) {
        fcc("00dc")
        bb.putInt(if (i % 4 == 0) 0x10 else 0)
        bb.putInt(conv match {
          case 0 => offs(i)              // movi data-start-relative
          case 1 => offs(i) + 4          // 'movi'-fourcc-relative
          case _ => dataStart + offs(i)  // absolute file offset
        })
        bb.putInt(fsz)
        i += 1
      }
      bb.array()
    }
    val (w, h, nf, rate) = (9, 2, 3, 10) // w*3 = 27: stride 28 != tight
    val expectedMean = {
      var acc = 0L
      for (y <- 0 until h; x <- 0 until w * 3) acc += (y * 7 + x * 13) % 256
      acc / (w * 3 * h)
    }
    for (conv <- 0 to 2; padded <- Seq(false, true)) {
      val v = graft.queries.MultiModalOps.aviIndexOf(
        build(w, h, nf, rate, padded, conv))
      withClue(s"conv=$conv padded=$padded: ") {
        assert(v.width == w && v.height == h && v.nFrames == nf)
        assert(v.nKeyframes == 1L && v.fpsMilli == rate * 1000L)
        val stride = if (padded) ((w * 3 + 3) / 4) * 4 else w * 3
        assert(v.frameBytes == stride.toLong * h)
        assert(v.firstFrameMean == expectedMean,
          "pad bytes leaked into the pixel mean")
      }
    }
  }
}
