package graft.core

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkConf
import org.apache.spark.serializer.KryoSerializer
import org.scalatest.funsuite.AnyFunSuite

/** NDArray.deferred: the data loads on the first `data` access, once;
  * metadata readers never load it; both serializers load it first.
  * NDArray.fileRows: the same, except that its Kryo record is the file
  * reference and a leading-dim slice stays a file reference. */
class DeferredArraySpec extends AnyFunSuite {

  private def counted(values: Array[Double]): (AtomicInteger, NDArray) = {
    val loads = new AtomicInteger()
    val arr = NDArray.deferred(DType.F8, Vector(2, values.length / 2)) {
      loads.incrementAndGet(); values.clone()
    }
    (loads, arr)
  }

  private def kryo = new KryoSerializer(new SparkConf()
    .set("spark.kryo.classesToRegister", KryoClasses.names)).newInstance()

  private def kryoRoundTrip[T: scala.reflect.ClassTag](x: T): T = {
    val ser = kryo
    ser.deserialize[T](ser.serialize(x))
  }

  private def javaRoundTrip[T](x: T): T = {
    val bytes = new ByteArrayOutputStream()
    val out = new ObjectOutputStream(bytes)
    out.writeObject(x); out.close()
    new ObjectInputStream(new ByteArrayInputStream(bytes.toByteArray))
      .readObject().asInstanceOf[T]
  }

  private val values = Array(1.0, 2.0, Double.NaN, -0.0, 5.0, 6.0)

  private def kryoRecord(x: AnyRef): Int = kryo.serialize(x).remaining()

  /** A file of `rows` rows of 3 big-endian doubles, the row `r` holding
    * r*10 + c, behind a 16-byte header and `gap` junk bytes after each row;
    * returns the file-backed array over it and its eager twin. */
  private def rowFile(rows: Int, gap: Int): (java.nio.file.Path, NDArray, NDArray) = {
    val rowBytes = 3 * 8
    val buf = java.nio.ByteBuffer.allocate(16 + rows * (rowBytes + gap))
    buf.put(Array.fill[Byte](16)(0x7F))
    val eager = new Array[Double](rows * 3)
    for (r <- 0 until rows) {
      for (c <- 0 until 3) { eager(r * 3 + c) = r * 10.0 + c; buf.putDouble(eager(r * 3 + c)) }
      buf.put(Array.fill[Byte](gap)(0x55))
    }
    val path = java.nio.file.Files.createTempFile("rows", ".bin")
    java.nio.file.Files.write(path, buf.array())
    val arr = NDArray.fileRows(DType.F8, Vector(rows, 3),
      FileRows(path.toString, 16, rowBytes, rowBytes + gap, bigEndian = true))
    (path, arr, NDArray(DType.F8, Vector(rows, 3), eager))
  }

  test("an unloaded file-backed array's Kryo record is its reference") {
    Seq(0, 8).foreach { gap => // contiguous and strided rows
      val (_, arr, eager) = rowFile(64, gap)
      val record = kryoRecord(arr)
      assert(record < 128, s"$record-byte record for ${64 * 3 * 8} data bytes")
      assert(kryoRoundTrip(arr).sameElements(eager))
      assert(arr.sameElements(eager))
      // once loaded, the record carries the data
      assert(kryoRecord(arr) > 64 * 3 * 8)
    }
  }

  test("a leading-dim slice of a file-backed array stays unloaded") {
    val (path, arr, eager) = rowFile(64, 8)
    val rows = Vector(Slc(5, 9), Slc(0, 3))
    val piece = arr.slice(rows)
    assert(piece.shape == Vector(4, 3))
    assert(kryoRecord(piece) < 128 && kryoRecord(arr) < 128)
    assert(piece.sameElements(eager.slice(rows)))
    // neither the slice nor its source read anything: both fail once the
    // file is gone
    val slab = arr.slice(Vector(Slc(0, 2), Slc(0, 3)))
    java.nio.file.Files.delete(path)
    intercept[java.nio.file.NoSuchFileException](slab.data)
    intercept[java.nio.file.NoSuchFileException](arr.data)
  }

  test("combining file-backed pieces reads them without loading them") {
    val (_, arr, eager) = rowFile(64, 8)
    val t = Dimension("t", CombineOp.Concat)
    val bounds = Vector(0, 5, 12, 30, 64)
    val pieces = bounds.zip(bounds.tail).map { case (a, b) =>
      val piece = arr.slice(Vector(Slc(a, b), Slc(0, 3)))
      (Index.of(t -> Pos.indexed(a, 64)),
        Fragment(Map("t" -> (b - a), "c" -> 3), Map.empty,
          Map("v" -> Variable(Vector("t", "c"), piece))))
    }
    val references = pieces.map(_._2.recordBytes)
    assert(references.forall(_ < 128), references)
    val (idx, combined) = graft.rechunking.Rechunking.combineFragments(pieces.reverse)
    assert(idx == pieces.head._1)
    assert(combined.dataVars("v").data.sameElements(eager))
    // every piece is still its reference: consuming it kept no bytes
    assert(pieces.map(_._2.recordBytes) == references)
    assert(pieces.forall(p => kryoRecord(p._2.dataVars("v").data) < 128))
  }

  test("a non-leading slice loads the file-backed array") {
    val (path, arr, eager) = rowFile(4, 8)
    val cols = Vector(Slc(0, 4), Slc(1, 2))
    val piece = arr.slice(cols)
    java.nio.file.Files.delete(path)
    assert(piece.sameElements(eager.slice(cols)))
    assert(arr.sameElements(eager))
  }

  test("a Java round trip loads the file-backed array") {
    val (path, arr, eager) = rowFile(4, 0)
    val back = javaRoundTrip(arr)
    java.nio.file.Files.delete(path)
    assert(back.sameElements(eager))
  }

  test("fromFragment never loads a deferred array") {
    val broken = NDArray.deferred(DType.F8, Vector(3, 4)) {
      throw new IllegalStateException("data read")
    }
    val frag = Fragment(Map("time" -> 3, "x" -> 4), Map.empty,
      Map("v" -> Variable(Vector("time", "x"), broken)))
    val schema = CubeSchema.fromFragment(frag)
    assert(schema.dataVars("v").shape == Vector(3, 4))
    assert(schema.dataVars("v").dtype == DType.F8)
    assert(frag.recordBytes == 3 * 4 * 8)
    intercept[IllegalStateException](broken.data)
  }

  test("the loader runs once") {
    val (loads, arr) = counted(values)
    assert(loads.get == 0)
    assert(arr.size == 6 && arr.shape == Vector(2, 3))
    assert(loads.get == 0)
    (1 to 3).foreach(_ => arr.getDouble(4))
    arr.slice(Vector(Slc(0, 1), Slc(0, 3)))
    kryoRoundTrip(arr)
    javaRoundTrip(arr)
    assert(loads.get == 1)
  }

  test("a Kryo round trip returns the loaded data") {
    val (loads, arr) = counted(values)
    val back = kryoRoundTrip(arr)
    assert(loads.get == 1)
    assert(back.sameElements(NDArray(DType.F8, Vector(2, 3), values)))
    // nested inside a fragment, as the rechunk shuffle carries it
    val (_, inner) = counted(values)
    val frag = Fragment(Map("t" -> 2, "x" -> 3), Map.empty,
      Map("v" -> Variable(Vector("t", "x"), inner)))
    assert(kryoRoundTrip(frag).sameAs(frag))
  }

  test("a Java round trip returns the loaded data") {
    val (loads, arr) = counted(values)
    val back = javaRoundTrip(arr)
    assert(loads.get == 1)
    assert(back.sameElements(NDArray(DType.F8, Vector(2, 3), values)))
    assert(back.dtype == DType.F8)
  }

  test("a loader of the wrong length fails with the shape message") {
    val arr = NDArray.deferred(DType.F8, Vector(2, 3))(new Array[Double](5))
    val e = intercept[IllegalArgumentException](arr.data)
    assert(e.getMessage.contains("shape Vector(2, 3) does not match data length 5"))
    // the eager constructor reports the same mismatch
    val eager = intercept[IllegalArgumentException](
      NDArray(DType.F8, Vector(2, 3), new Array[Double](5)))
    assert(eager.getMessage == e.getMessage)
  }

  test("a shape above 2^31-1 elements fails by name instead of wrapping") {
    val e = intercept[IllegalArgumentException](NDArray.zeros(DType.F8, Vector(50000, 50000)))
    assert(e.getMessage.contains("Vector(50000, 50000)") && e.getMessage.contains("2^31-1"),
      e.getMessage)
    // metadata of such a shape is fine until something allocates it
    val big = NDArray.deferred(DType.F8, Vector(50000, 50000))(new Array[Double](0))
    assert(big.recordBytes == 50000L * 50000 * 8)
    assert(NDArray.sizeOf(Vector(3, 0, Int.MaxValue, Int.MaxValue)) == 0)
  }
}
