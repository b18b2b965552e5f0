package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Output verifiers. They read the program's outputs with their own code
  * (Zarr v3 metadata, the bytes, zstd and gzip codecs, raw file ranges)
  * and compare every value with the generators' closed forms. Each check
  * returns the list of problems it found; empty means it passed. */
object Check {
  private val mapper = new ObjectMapper()

  /** What one array must hold: its shape, Zarr data type and, for every
    * index along the first axis, the row-major values of that slice. */
  final case class Expect(shape: Seq[Int], dtype: String, slice: Int => Array[Double])

  private def ints(n: JsonNode): Seq[Int] = n.elements().asScala.map(_.asInt()).toSeq

  /** Compare a Zarr v3 array, chunk by chunk, with `want`. */
  def zarrArray(root: Path, name: String, want: Expect): Seq[String] = {
    val metaPath = root.resolve(s"$name/zarr.json")
    if (!Files.exists(metaPath)) return Seq(s"$name: no zarr.json")
    val meta = mapper.readTree(metaPath.toFile)
    val shape = ints(meta.get("shape"))
    val dtype = meta.get("data_type").asText()
    if (shape != want.shape) return Seq(s"$name: shape $shape, want ${want.shape}")
    if (dtype != want.dtype) return Seq(s"$name: dtype $dtype, want ${want.dtype}")
    val chunks = ints(meta.get("chunk_grid").get("configuration").get("chunk_shape"))
    val codecs = meta.get("codecs").elements().asScala.toSeq
    val names = codecs.map(_.get("name").asText())
    if (names.contains("sharding_indexed")) return Seq(s"$name: sharding not supported")
    val big = codecs.exists(c => c.get("name").asText() == "bytes" &&
      Option(c.get("configuration")).flatMap(x => Option(x.get("endian")))
        .exists(_.asText() == "big"))
    val item = dtype match {
      case "float64" | "int64" => 8
      case "float32" | "int32" => 4
      case other => return Seq(s"$name: unsupported dtype $other")
    }
    if (chunks.tail != shape.tail) return Seq(s"$name: chunked along inner axes")
    val kind = Seq("float64", "float32", "int64", "int32").indexOf(dtype)
    val inner = shape.tail.product
    val rows = chunks.head
    val problems = Seq.newBuilder[String]
    for (ci <- 0 until (shape.head + rows - 1) / rows) {
      val key = ("c" +: ci.toString +: shape.tail.map(_ => "0")).mkString("/")
      val path = root.resolve(s"$name/$key")
      if (!Files.exists(path)) problems += s"$name/$key: missing chunk"
      else decode(Files.readAllBytes(path), names, rows * inner * item) match {
        case Left(err) => problems += s"$name/$key: $err"
        case Right(bytes) =>
          val buf = ByteBuffer.wrap(bytes)
            .order(if (big) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
          var r = 0
          var bad = false
          while (r < rows && ci * rows + r < shape.head && !bad) {
            val want1 = want.slice(ci * rows + r)
            val base = r * inner
            var i = 0
            while (i < inner && !bad) {
              val e = base + i
              bad = kind match {
                case 0 => java.lang.Double.doubleToRawLongBits(buf.getDouble(e * 8)) !=
                  java.lang.Double.doubleToRawLongBits(want1(i))
                case 1 => java.lang.Float.floatToRawIntBits(buf.getFloat(e * 4)) !=
                  java.lang.Float.floatToRawIntBits(want1(i).toFloat)
                case 2 => buf.getLong(e * 8) != want1(i).toLong
                case _ => buf.getInt(e * 4) != want1(i).toInt
              }
              if (bad) problems += s"$name/$key: value differs at row ${ci * rows + r}, element $i"
              i += 1
            }
            r += 1
          }
      }
    }
    problems.result()
  }

  private def decode(b: Array[Byte], codecs: Seq[String], size: Int): Either[String, Array[Byte]] =
    try {
      val out = codecs.filter(_ != "bytes").foldRight(b) { (c, acc) =>
        c match {
          case "zstd" => com.github.luben.zstd.Zstd.decompress(acc, size)
          case "gzip" =>
            new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(acc)).readAllBytes()
          case other => throw new IllegalArgumentException(s"unsupported codec $other")
        }
      }
      if (out.length != size) Left(s"decoded ${out.length} bytes, want $size") else Right(out)
    } catch { case e: Exception => Left(s"decode failed: ${e.getMessage}") }

  /** Flip one byte in the middle of the largest chunk object under `root`. */
  def corruptOne(root: Path): Path = {
    val files = Files.walk(root).filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
      .filterNot(p => p.getFileName.toString.endsWith(".json") ||
        p.getFileName.toString.startsWith(".") || p.getFileName.toString.startsWith("_"))
    val target = files.maxBy(Files.size)
    val bytes = Files.readAllBytes(target)
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0x5a).toByte
    Files.write(target, bytes)
    target
  }
}
