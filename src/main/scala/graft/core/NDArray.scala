package graft.core

import com.esotericsoftware.kryo.{Kryo, KryoSerializable}
import com.esotericsoftware.kryo.io.{Input, Output}

/** Element dtypes supported by the cube engine, mirroring the dtype surface
  * the reference exercises (float64/int64/int32 data, datetime64[ns] time,
  * float32 for promotion tests — aggregation.py:135-136, FIXTURES.md §1).
  * Time is carried as encoded int64 + units/calendar attrs (CF convention),
  * so M8ns shares the Long storage class.
  */
sealed abstract class DType(val name: String, val byteSize: Int)
object DType {
  case object I1 extends DType("int8", 1)
  case object I2 extends DType("int16", 2)
  case object U1 extends DType("uint8", 1)
  case object U2 extends DType("uint16", 2)
  case object U4 extends DType("uint32", 4)
  case object U8 extends DType("uint64", 8)
  case object I4 extends DType("int32", 4)
  case object I8 extends DType("int64", 8)
  case object F4 extends DType("float32", 4)
  case object F8 extends DType("float64", 8)
  case object M8ns extends DType("datetime64[ns]", 8)

  val all: Seq[DType] = Seq(I1, I2, U1, U2, U4, U8, I4, I8, F4, F8, M8ns)
  def fromName(n: String): DType = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(s"Unknown dtype $n"))

  def isInteger(d: DType): Boolean = d match {
    case I1 | I2 | U1 | U2 | U4 | U8 | I4 | I8 => true
    case _ => false
  }

  private def isUnsigned(d: DType): Boolean = d match {
    case U1 | U2 | U4 | U8 => true
    case _ => false
  }
  private def unsignedRank(d: DType): Int = d match {
    case U1 => 1; case U2 => 2; case U4 => 3; case U8 => 4
    case _ => throw new IllegalStateException(s"not unsigned: $d")
  }
  private def ofUnsignedRank(r: Int): DType = r match {
    case 1 => U1; case 2 => U2; case 3 => U4; case _ => U8
  }

  /** Signed-integer rank (i1=1 .. i8=4); unsigned map onto the smallest
    * signed rank that contains them plus one when mixed (numpy's
    * smallest-type-that-holds-both rule). */
  private def signedRank(d: DType): Int = d match {
    case I1 => 1; case I2 => 2; case I4 => 3; case I8 => 4
    case _ => throw new IllegalStateException(s"not signed: $d")
  }
  private def ofSignedRank(r: Int): DType = r match {
    case 1 => I1; case 2 => I2; case 3 => I4; case _ => I8
  }

  /** np.promote_types for the supported lattice (aggregation.py:135-136).
    * Note numpy promotes int64+float32 -> float64 (not float32), while the
    * narrow ints (i1/i2/u1/u2) + float32 stay float32; mixed signedness
    * promotes to the smallest signed type holding both value ranges
    * (u1+i1 -> i2, u2+i2 -> i4, u4+any-signed -> i8) and uint64 mixed
    * with any signed integer has no containing integer, so numpy yields
    * float64. */
  def promote(a: DType, b: DType): DType = (a, b) match {
    case (x, y) if x == y => x
    case (M8ns, _) | (_, M8ns) =>
      throw new IllegalArgumentException(s"Cannot promote ${a.name} with ${b.name}")
    case (F8, _) | (_, F8) => F8
    case (F4, o) if isInteger(o) =>
      if (o == I1 || o == I2 || o == U1 || o == U2) F4 else F8
    case (o, F4) if isInteger(o) => promote(F4, o)
    case (x, y) if isUnsigned(x) && isUnsigned(y) =>
      ofUnsignedRank(math.max(unsignedRank(x), unsignedRank(y)))
    case (U8, _) | (_, U8) => F8 // no integer contains uint64 + signed
    case (u, s) if isUnsigned(u) =>
      ofSignedRank(math.max(signedRank(s), unsignedRank(u) + 1))
    case (s, u) if isUnsigned(u) => promote(u, s)
    case (x, y) => ofSignedRank(math.max(signedRank(x), signedRank(y)))
  }
}

/** Dense row-major n-dimensional array over a primitive JVM array.
  * The heavy ops the pipeline needs — rectangular slice (ds.isel) and
  * block assignment (xr.combine_nested's concat) — are implemented as
  * System.arraycopy runs over the innermost dimension.
  *
  * A [[NDArray.deferred]] array knows its dtype and shape up front and
  * loads its data on the first `data` access, at most once; metadata-only
  * readers (the schema pass) never trigger the load. Serializing a deferred
  * array (Kryo or Java) loads it first, so the loader never leaves the JVM
  * that built it.
  */
final class NDArray private (private var _dtype: DType,
                             private var _shape: Vector[Int],
                             @volatile private var _data: AnyRef,
                             @transient private var load: () => AnyRef)
    extends Serializable with KryoSerializable {

  def this(dtype: DType, shape: Vector[Int], data: AnyRef) =
    this(dtype, shape, NDArray.checked(shape, data), null)

  def dtype: DType = _dtype
  def shape: Vector[Int] = _shape

  /** The primitive backing array, loaded here if the array is deferred. */
  def data: AnyRef = {
    val d = _data
    if (d != null) d
    else synchronized {
      if (_data == null) {
        _data = NDArray.checked(_shape, load())
        load = null
      }
      _data
    }
  }

  def write(kryo: Kryo, out: Output): Unit = {
    out.writeString(_dtype.name)
    out.writeInt(_shape.length, true)
    _shape.foreach(out.writeInt(_, true))
    kryo.writeClassAndObject(out, data)
  }

  def read(kryo: Kryo, in: Input): Unit = {
    _dtype = DType.fromName(in.readString())
    _shape = Vector.fill(in.readInt(true))(in.readInt(true))
    _data = NDArray.checked(_shape, kryo.readClassAndObject(in))
  }

  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    data
    out.defaultWriteObject()
  }

  def size: Int = NDArray.sizeOf(shape)
  def ndim: Int = shape.length

  /** Row-major strides in elements. */
  def strides: Vector[Int] =
    shape.scanRight(1)(_ * _).tail

  /** Rectangular slice (copy). `slices` must cover every dim. */
  def slice(slices: Vector[Slc]): NDArray = {
    require(slices.length == ndim, s"need $ndim slices, got ${slices.length}")
    slices.zip(shape).foreach { case (s, dim) =>
      require(s.start >= 0 && s.stop <= dim && s.stop >= s.start, s"slice $s out of range $dim") }
    val outShape = slices.map(_.length)
    val out = NDArray.alloc(dtype, NDArray.sizeOf(outShape))
    NDArray.copyRegion(
      src = data, srcShape = shape, srcStart = slices.map(_.start),
      dst = out, dstShape = outShape, dstStart = Vector.fill(ndim)(0),
      region = outShape)
    new NDArray(dtype, outShape, out)
  }

  /** Write `block` into this array at offset `starts` (region write). */
  def assign(starts: Vector[Int], block: NDArray): Unit = {
    require(block.ndim == ndim)
    NDArray.copyRegion(
      src = block.data, srcShape = block.shape, srcStart = Vector.fill(ndim)(0),
      dst = data, dstShape = shape, dstStart = starts,
      region = block.shape)
  }

  def getDouble(flat: Int): Double = data match {
    case a: Array[Double] => a(flat)
    case a: Array[Float] => a(flat).toDouble
    case a: Array[Long] =>
      val v = a(flat)
      if (dtype == DType.U8 && v < 0) v.toDouble + 1.8446744073709552E19
      else v.toDouble
    case a: Array[Int] =>
      if (dtype == DType.U4) (a(flat) & 0xFFFFFFFFL).toDouble
      else a(flat).toDouble
    case a: Array[Short] =>
      (if (dtype == DType.U2) a(flat) & 0xFFFF else a(flat).toInt).toDouble
    case a: Array[Byte] =>
      (if (dtype == DType.U1) a(flat) & 0xFF else a(flat).toInt).toDouble
  }

  /** uint64 values above Long.MaxValue come back as the wrapped (negative)
    * bit pattern — the numpy-view-as-int64 behavior. */
  def getLong(flat: Int): Long = data match {
    case a: Array[Long] => a(flat)
    case a: Array[Int] =>
      if (dtype == DType.U4) a(flat) & 0xFFFFFFFFL else a(flat).toLong
    case a: Array[Double] => a(flat).toLong
    case a: Array[Float] => a(flat).toLong
    case a: Array[Short] =>
      (if (dtype == DType.U2) a(flat) & 0xFFFF else a(flat).toInt).toLong
    case a: Array[Byte] =>
      (if (dtype == DType.U1) a(flat) & 0xFF else a(flat).toInt).toLong
  }

  /** Cast (copy) to another dtype along the promotion lattice. */
  def astype(to: DType): NDArray =
    if (to == dtype) this
    else {
      val out = NDArray.alloc(to, size)
      var i = 0
      (to, out) match {
        case (DType.F8, o: Array[Double]) => while (i < size) { o(i) = getDouble(i); i += 1 }
        case (DType.F4, o: Array[Float]) => while (i < size) { o(i) = getDouble(i).toFloat; i += 1 }
        case (DType.I8, o: Array[Long]) => while (i < size) { o(i) = getLong(i); i += 1 }
        case (DType.M8ns, o: Array[Long]) => while (i < size) { o(i) = getLong(i); i += 1 }
        case (DType.I4 | DType.U4, o: Array[Int]) =>
          while (i < size) { o(i) = getLong(i).toInt; i += 1 }
        case (DType.U8, o: Array[Long]) =>
          while (i < size) { o(i) = getLong(i); i += 1 }
        // narrow casts wrap (numpy astype semantics)
        case (DType.I2 | DType.U2, o: Array[Short]) =>
          while (i < size) { o(i) = getLong(i).toShort; i += 1 }
        case (DType.I1 | DType.U1, o: Array[Byte]) =>
          while (i < size) { o(i) = getLong(i).toByte; i += 1 }
        case _ => throw new IllegalStateException(s"bad cast $dtype -> $to")
      }
      new NDArray(to, shape, out)
    }

  /** Exact element equality (bitwise for floats; NaN == NaN). */
  def sameElements(other: NDArray): Boolean =
    dtype == other.dtype && shape == other.shape && {
      (data, other.data) match {
        case (a: Array[Double], b: Array[Double]) =>
          a.indices.forall(i => java.lang.Double.doubleToLongBits(a(i)) ==
            java.lang.Double.doubleToLongBits(b(i)))
        case (a: Array[Float], b: Array[Float]) =>
          a.indices.forall(i => java.lang.Float.floatToIntBits(a(i)) ==
            java.lang.Float.floatToIntBits(b(i)))
        case (a: Array[Long], b: Array[Long]) => java.util.Arrays.equals(a, b)
        case (a: Array[Int], b: Array[Int]) => java.util.Arrays.equals(a, b)
        case (a: Array[Short], b: Array[Short]) => java.util.Arrays.equals(a, b)
        case (a: Array[Byte], b: Array[Byte]) => java.util.Arrays.equals(a, b)
        case _ => false
      }
    }

  override def toString: String = s"NDArray(${dtype.name}, shape=$shape)"
}

object NDArray {
  def sizeOf(shape: Vector[Int]): Int = shape.product

  /** `data`, after checking that its length matches `shape`. */
  private def checked(shape: Vector[Int], data: AnyRef): AnyRef = {
    val n = java.lang.reflect.Array.getLength(data)
    require(sizeOf(shape) == n, s"shape $shape does not match data length $n")
    data
  }

  /** An array whose data `load` produces on the first `data` access. */
  def deferred(dtype: DType, shape: Vector[Int])(load: => AnyRef): NDArray =
    new NDArray(dtype, shape, null, () => load)

  def alloc(dtype: DType, n: Int): AnyRef = dtype match {
    case DType.I4 | DType.U4 => new Array[Int](n)
    case DType.I8 | DType.U8 | DType.M8ns => new Array[Long](n)
    case DType.F4 => new Array[Float](n)
    case DType.F8 => new Array[Double](n)
    case DType.I2 | DType.U2 => new Array[Short](n)
    case DType.I1 | DType.U1 => new Array[Byte](n)
  }

  def zeros(dtype: DType, shape: Vector[Int]): NDArray =
    new NDArray(dtype, shape, alloc(dtype, sizeOf(shape)))

  def apply(dtype: DType, shape: Vector[Int], data: AnyRef): NDArray =
    new NDArray(dtype, shape, data)

  def ofDoubles(shape: Vector[Int], data: Array[Double]): NDArray =
    new NDArray(DType.F8, shape, data)
  def ofLongs(shape: Vector[Int], data: Array[Long]): NDArray =
    new NDArray(DType.I8, shape, data)
  def ofInts(shape: Vector[Int], data: Array[Int]): NDArray =
    new NDArray(DType.I4, shape, data)
  def ofFloats(shape: Vector[Int], data: Array[Float]): NDArray =
    new NDArray(DType.F4, shape, data)

  /** Copy an n-D rectangular region between two row-major arrays via
    * arraycopy runs over the innermost dimension. */
  def copyRegion(src: AnyRef, srcShape: Vector[Int], srcStart: Vector[Int],
                 dst: AnyRef, dstShape: Vector[Int], dstStart: Vector[Int],
                 region: Vector[Int]): Unit = {
    val ndim = srcShape.length
    require(dstShape.length == ndim && region.length == ndim)
    if (region.contains(0)) return
    val srcStrides = srcShape.scanRight(1)(_ * _).tail
    val dstStrides = dstShape.scanRight(1)(_ * _).tail
    if (ndim == 0) { System.arraycopy(src, 0, dst, 0, 1); return }
    val runLen = region(ndim - 1)
    // iterate over all outer-dim combinations
    val outer = region.dropRight(1)
    val counter = Array.fill(math.max(outer.length, 0))(0)
    var done = false
    while (!done) {
      var srcOff = srcStart(ndim - 1)
      var dstOff = dstStart(ndim - 1)
      var d = 0
      while (d < outer.length) {
        srcOff += (srcStart(d) + counter(d)) * srcStrides(d)
        dstOff += (dstStart(d) + counter(d)) * dstStrides(d)
        d += 1
      }
      System.arraycopy(src, srcOff, dst, dstOff, runLen)
      // increment counter
      var k = outer.length - 1
      var carry = true
      while (carry && k >= 0) {
        counter(k) += 1
        if (counter(k) == outer(k)) { counter(k) = 0; k -= 1 } else carry = false
      }
      if (carry) done = true
    }
  }
}
