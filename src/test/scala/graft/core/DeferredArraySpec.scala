package graft.core

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkConf
import org.apache.spark.serializer.KryoSerializer
import org.scalatest.funsuite.AnyFunSuite

/** NDArray.deferred: the data loads on the first `data` access, once;
  * metadata readers never load it; both serializers load it first. */
class DeferredArraySpec extends AnyFunSuite {

  private def counted(values: Array[Double]): (AtomicInteger, NDArray) = {
    val loads = new AtomicInteger()
    val arr = NDArray.deferred(DType.F8, Vector(2, values.length / 2)) {
      loads.incrementAndGet(); values.clone()
    }
    (loads, arr)
  }

  private def kryoRoundTrip[T: scala.reflect.ClassTag](x: T): T = {
    val ser = new KryoSerializer(new SparkConf()
      .set("spark.kryo.classesToRegister", KryoClasses.names)).newInstance()
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

  test("fromFragment never loads a deferred array") {
    val broken = NDArray.deferred(DType.F8, Vector(3, 4)) {
      throw new IllegalStateException("data read")
    }
    val frag = Fragment(Map("time" -> 3, "x" -> 4), Map.empty,
      Map("v" -> Variable(Vector("time", "x"), broken)))
    val schema = CubeSchema.fromFragment(frag)
    assert(schema.dataVars("v").shape == Vector(3, 4))
    assert(schema.dataVars("v").dtype == DType.F8)
    assert(frag.approxBytes == 3 * 4 * 8)
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
}
