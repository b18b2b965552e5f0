package graft.transforms

import graft.core._
import graft.core.Attrs.Attrs
import graft.combiners.SchemaCombine
import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** MapWithConcurrencyLimit (transforms.py:93-136): without a limit this is a
  * plain map; with `maxConcurrency = k` the collection is repartitioned to k
  * partitions and mapped serially within each — partition count is Spark's
  * native concurrency cap, replacing the reference's randint-tag + GroupByKey
  * trick. Used to throttle calls against rate-limited external services. */
object ConcurrencyLimit {
  def mapWithConcurrencyLimit[A, B: Encoder](ds: Dataset[A], fn: A => B,
                                             maxConcurrency: Option[Int] = None): Dataset[B] =
    maxConcurrency match {
      case None => ds.map(fn)(implicitly[Encoder[B]])
      case Some(k) =>
        ds.repartition(k).mapPartitions(_.map(fn))(implicitly[Encoder[B]])
    }
}

/** The schema reducer as a first-class Spark typed Aggregator — the direct
  * analog of the reference's beam.CombineFn (combiners.py:15-66, SURVEY
  * §2.11): zero/reduce/merge/finish map 1:1 onto create_accumulator/
  * add_input/merge_accumulators/extract_output, and Spark lifts it into
  * partial (map-side) + final aggregation automatically. */
final class CombineCubeSchemas(dimension: Dimension)
    extends Aggregator[(Index, CubeSchema), SchemaCombine.Acc, CubeSchema] {
  override def zero: SchemaCombine.Acc = SchemaCombine.zero(dimension)
  override def reduce(acc: SchemaCombine.Acc, item: (Index, CubeSchema)): SchemaCombine.Acc =
    SchemaCombine.addInput(acc, item, dimension)
  override def merge(a: SchemaCombine.Acc, b: SchemaCombine.Acc): SchemaCombine.Acc =
    SchemaCombine.merge(a, b)
  override def finish(acc: SchemaCombine.Acc): CubeSchema = SchemaCombine.extract(acc)
  override def bufferEncoder: Encoder[SchemaCombine.Acc] = Encoders.kryo[SchemaCombine.Acc]
  override def outputEncoder: Encoder[CubeSchema] = Encoders.kryo[CubeSchema]
}

/** build_reduce_fn (combiners.py:73-96): factory constructing a typed
  * Aggregator from (accumulate, merge, initializer) without ceremony. */
object ReduceFn {
  def build[A, B: scala.reflect.ClassTag](
      accumulateOp: (B, A) => B, mergeOp: (B, B) => B,
      initializer: B): Aggregator[A, B, B] =
    new Aggregator[A, B, B] {
      override def zero: B = initializer
      override def reduce(b: B, a: A): B = accumulateOp(b, a)
      override def merge(x: B, y: B): B = mergeOp(x, y)
      override def finish(b: B): B = b
      override def bufferEncoder: Encoder[B] = Encoders.kryo[B]
      override def outputEncoder: Encoder[B] = Encoders.kryo[B]
    }
}

/** User preprocessors (SURVEY §2.2): the arbitrary (Index, Fragment) ->
  * (Index, Fragment) cleaning stages the reference feedstocks apply —
  * threshold masking, rename, drop, promote to coord, attr rewrite
  * (examples/feedstock/terraclimate.py:59-215, narr_opendap.py:39-51). */
object Preprocess {

  /** Mask: keep values where pred holds, else NaN (da.where analog).
    * Only defined for float variables — masking integers requires a
    * sentinel, which the reference also refuses to invent. */
  def maskWhere(f: Fragment, varName: String, pred: Double => Boolean): Fragment = {
    val v = f.dataVars(varName)
    require(v.dtype == DType.F8 || v.dtype == DType.F4,
      s"maskWhere needs a float variable, got ${v.dtype.name}")
    val out = v.data.astype(DType.F8)
    val arr = out.data.asInstanceOf[Array[Double]]
    var i = 0
    while (i < arr.length) { if (!pred(arr(i))) arr(i) = Double.NaN; i += 1 }
    f.copy(dataVars = f.dataVars.updated(varName, v.copy(data = out)))
  }

  /** CF mask-and-scale decoding — what `xr.open_dataset` does by DEFAULT
    * (`mask_and_scale=True`), so the reference's OpenWithXarray stage hands
    * user code UNPACKED floats whenever a variable carries the CF packing
    * attrs. Per variable, in xarray's coder order:
    *
    *  1. `_Unsigned` == "true" on a signed integer reinterprets the bits
    *     unsigned (the OPeNDAP/netCDF-3 convention; int32 widens to int64
    *     — no uint32 in the lattice);
    *  2. raw values equal to `_FillValue` / `missing_value` become NaN;
    *  3. `decoded = raw * scale_factor + add_offset`.
    *
    * A variable with any mask/scale attr comes out float64 (xarray picks
    * float32 only when the ATTR was stored as a 4-byte float — a width our
    * attr model doesn't record, so we take the value-preserving branch);
    * the consumed attrs are dropped (xarray moves them to `.encoding`).
    * Variables without packing attrs pass through untouched — in
    * particular CF-encoded TIME stays encoded (ints + units attrs), the
    * engine-wide convention (`decode_times` is a separate xarray step this
    * engine deliberately defers to the calendar attrs).
    *
    * Nothing is read here: dtype and shape follow from the attrs and the
    * source array, and values are reinterpreted or mapped when the data
    * loads, so a metadata pass (the schema pass) reads no data bytes. A
    * reinterpreted file-backed array stays file-backed; an unpacked one is
    * closure-deferred, so its serialized record carries the data. */
  def cfDecode(f: Fragment): Fragment = {
    val consumed = Set("scale_factor", "add_offset", "_FillValue",
      "missing_value", "_Unsigned")
    def num(v: Option[AttrValue]): Option[Double] = v.collect {
      case AttrValue.ANum(d) => d
      case AttrValue.AInt(l) => l.toDouble
    }
    def decodeVar(v: Variable): Variable = {
      val unsignedAttr = v.attrs.get("_Unsigned").collect {
        case AttrValue.AStr(s) => s == "true"
      }
      val reinterpreted = unsignedAttr match {
        case Some(true) => Map[DType, DType](DType.I1 -> DType.U1, DType.I2 -> DType.U2,
          DType.I4 -> DType.U4, DType.I8 -> DType.U8).get(v.dtype)
        case Some(false) => // the inverse quirk
          Map[DType, DType](DType.U1 -> DType.I1, DType.U2 -> DType.I2, DType.U4 -> DType.I4)
            .get(v.dtype)
        case None => None
      }
      val data0 = reinterpreted.fold(v.data)(v.data.reinterpret)
      val scale = num(v.attrs.get("scale_factor"))
      val offset = num(v.attrs.get("add_offset"))
      val fills = Seq(v.attrs.get("_FillValue"), v.attrs.get("missing_value"))
        .flatMap(num)
      val attrs = v.attrs.filterNot(kv => consumed(kv._1))
      if (scale.isEmpty && offset.isEmpty && fills.isEmpty)
        return v.copy(data = data0, attrs = attrs)
      val s = scale.getOrElse(1.0); val o = offset.getOrElse(0.0)
      // deferred: the packed values are read and mapped when the data loads
      val out = NDArray.deferred(DType.F8, data0.shape) {
        val arr = new Array[Double](data0.size)
        var i = 0
        while (i < arr.length) {
          val x = data0.getDouble(i)
          arr(i) = if (fills.contains(x)) Double.NaN else x * s + o
          i += 1
        }
        arr
      }
      v.copy(data = out, attrs = attrs)
    }
    f.copy(coords = f.coords.map { case (n, v) => n -> decodeVar(v) },
      dataVars = f.dataVars.map { case (n, v) => n -> decodeVar(v) })
  }

  /** Inverse of [[cfDecode]] for one variable: pack floats back into a
    * narrow type with the CF attrs re-attached (what xarray does at write
    * time from `.encoding`): `packed = around((x - add_offset) /
    * scale_factor)`, NaN -> `fillValue`, wrapping cast to `astype`. */
  def cfEncode(f: Fragment, varName: String, scaleFactor: Double,
               addOffset: Double, fillValue: Long, astype: DType): Fragment = {
    val v = f.dataVars(varName)
    require(v.dtype == DType.F8 || v.dtype == DType.F4,
      s"cfEncode packs float variables, got ${v.dtype.name}")
    val n = v.data.size
    val out = NDArray.zeros(astype, v.data.shape)
    var i = 0
    while (i < n) {
      val x = v.data.getDouble(i)
      val packed =
        if (x.isNaN) fillValue
        else math.rint((x - addOffset) / scaleFactor).toLong
      astype match {
        case DType.I1 | DType.U1 =>
          out.data.asInstanceOf[Array[Byte]](i) = packed.toByte
        case DType.I2 | DType.U2 =>
          out.data.asInstanceOf[Array[Short]](i) = packed.toShort
        case DType.I4 | DType.U4 =>
          out.data.asInstanceOf[Array[Int]](i) = packed.toInt
        case DType.I8 | DType.U8 =>
          out.data.asInstanceOf[Array[Long]](i) = packed
        case other => throw new IllegalArgumentException(
          s"cfEncode packs into integer types, got ${other.name}")
      }
      i += 1
    }
    val attrs = v.attrs ++ Map[String, AttrValue](
      "scale_factor" -> AttrValue.ANum(scaleFactor),
      "add_offset" -> AttrValue.ANum(addOffset),
      "_FillValue" -> AttrValue.AInt(fillValue))
    f.copy(dataVars = f.dataVars.updated(varName,
      v.copy(data = out, attrs = attrs)))
  }

  /** OPT-IN CF time decode (xarray's `decode_times=True` for the
    * non-standard-calendar world the reference touches through cftime —
    * aggregation.py:193-196 materializes a `cftime.num2date` value for
    * any coordinate whose encoding carries `units` + `calendar`). Where
    * xarray produces cftime OBJECT arrays, this engine's integer-exact
    * model emits companion int64 columns instead: for each variable whose
    * `units` parses as "<unit> since <date>", seven derived variables
    * `<name>_year/_month/_day/_hour/_minute/_second/_microsecond` (the
    * µs companion makes millisecond/microsecond units — cftime's
    * float-capable grid — exactly representable; same dims/shape,
    * placed beside the source — coords stay coords) computed under the
    * variable's `calendar` attr via [[graft.core.CfCalendar]]. The
    * encoded source variable is kept untouched (it remains the storage
    * form; [[encodeTimes]] drops the companions and verifies they still
    * reproduce it). Deliberately NOT part of the default open path —
    * `decode_times` is a separate xarray step, and the engine-wide
    * convention keeps time encoded unless the user opts in. */
  def decodeTimes(f: Fragment): Fragment = {
    import graft.core.CfCalendar
    def companions(name: String, v: Variable): Seq[(String, Variable)] = {
      val units = v.attrs.get("units").collect {
        case AttrValue.AStr(s) if CfCalendar.isTimeUnits(s) => s
      }
      units match {
        case None => Seq.empty
        case Some(u) =>
          val cal = v.attrs.get("calendar").collect {
            case AttrValue.AStr(s) => s
          }.getOrElse("standard")
          val parsed = CfCalendar.parseUnits(u)
          // FLOAT encodings decode on the exact-microsecond grid: a
          // fractional step count x is accepted iff x·stepMicros is an
          // exact integer (the 0.25-day / 0.5-day grids real 6-hourly
          // reanalysis archives carry; cftime decodes these too).
          // Fractions OFF the µs grid (0.1 days = 8.64e9 + 2^-? µs in
          // binary) stay a named error — exact round trip or nothing.
          val microUnits = parsed.copy(stepMicros = 1L)
          val n = v.data.size
          val parts = Array.ofDim[Long](7, n)
          var i = 0
          while (i < n) {
            val dt = if (v.dtype == DType.F8 || v.dtype == DType.F4) {
              val x = v.data.getDouble(i)
              val m = x * parsed.stepMicros
              // bound at 2^53, not Long range: above 2^53 every Double
              // is integral, so `m == rint(m)` passes vacuously while
              // m.toLong may deviate from the exact product — only
              // exactly-representable microsecond counts may decode
              // (exact round trip or nothing)
              require(!m.isNaN && m == math.rint(m) &&
                math.abs(m) <= (1L << 53).toDouble,
                s"decodeTimes: $name[$i] = $x steps is not an exact " +
                  "microsecond instant — fractional CF time beyond the " +
                  "µs grid is not exactly decodable")
              CfCalendar.num2date(m.toLong, microUnits, cal)
            } else CfCalendar.num2date(v.data.getLong(i), parsed, cal)
            parts(0)(i) = dt.year; parts(1)(i) = dt.month.toLong
            parts(2)(i) = dt.day.toLong; parts(3)(i) = dt.hour.toLong
            parts(4)(i) = dt.minute.toLong; parts(5)(i) = dt.second.toLong
            parts(6)(i) = dt.micro.toLong
            i += 1
          }
          val fields = Seq("year", "month", "day", "hour", "minute",
            "second", "microsecond")
          fields.zipWithIndex.map { case (fld, k) =>
            s"${name}_$fld" -> Variable(v.dims,
              NDArray(DType.I8, v.data.shape, parts(k)),
              Map("cf_decoded_from" -> AttrValue.AStr(name),
                "calendar" -> AttrValue.AStr(CfCalendar.canonical(cal))))
          }
      }
    }
    f.copy(
      coords = f.coords ++ f.coords.toSeq.flatMap { case (n, v) => companions(n, v) },
      dataVars = f.dataVars ++ f.dataVars.toSeq.flatMap { case (n, v) => companions(n, v) })
  }

  /** Inverse of [[decodeTimes]] for one variable: re-encode the companion
    * columns through `date2num` under the variable's own units/calendar,
    * require bit-equality with the stored encoding (exact round trip or
    * a named failure), and drop the companions. */
  def encodeTimes(f: Fragment, name: String): Fragment = {
    import graft.core.CfCalendar
    def sideOf(m: Map[String, Variable]): Boolean = m.contains(name)
    val v = (f.coords ++ f.dataVars)(name)
    val units = CfCalendar.parseUnits(v.attrs.get("units").collect {
      case AttrValue.AStr(s) => s
    }.getOrElse(throw new IllegalArgumentException(
      s"encodeTimes: variable $name has no units attr")))
    val cal = v.attrs.get("calendar").collect {
      case AttrValue.AStr(s) => s
    }.getOrElse("standard")
    val fields = Seq("year", "month", "day", "hour", "minute", "second",
      "microsecond")
    val comp = fields.map(fld => (f.coords ++ f.dataVars).getOrElse(
      s"${name}_$fld", throw new IllegalArgumentException(
        s"encodeTimes: missing companion ${name}_$fld — run decodeTimes first")))
    var i = 0
    val n = v.data.size
    while (i < n) {
      val dt = CfCalendar.DateTime(comp(0).data.getLong(i),
        comp(1).data.getLong(i).toInt, comp(2).data.getLong(i).toInt,
        comp(3).data.getLong(i).toInt, comp(4).data.getLong(i).toInt,
        comp(5).data.getLong(i).toInt, comp(6).data.getLong(i).toInt)
      if (v.dtype == DType.F8 || v.dtype == DType.F4) {
        // float storage: re-derive exact µs, divide back to step counts
        // (exact: micros = x·step held exactly at decode, so micros/step
        // rounds to the original x bit-for-bit)
        val micros =
          CfCalendar.date2num(dt, units.copy(stepMicros = 1L), cal)
        val num = micros.toDouble / units.stepMicros
        require(num == v.data.getDouble(i),
          s"encodeTimes: $name[$i] companions re-encode to $num but " +
            s"stored encoding is ${v.data.getDouble(i)} — companions " +
            "were edited inconsistently with the encoding")
      } else {
        val num = CfCalendar.date2num(dt, units, cal)
        require(num == v.data.getLong(i),
          s"encodeTimes: $name[$i] companions re-encode to $num but " +
            s"stored encoding is ${v.data.getLong(i)} — companions were " +
            "edited inconsistently with the encoding")
      }
      i += 1
    }
    val dropped = fields.map(fld => s"${name}_$fld").toSet
    f.copy(coords = f.coords.filterNot(kv => dropped(kv._1)),
      dataVars = f.dataVars.filterNot(kv => dropped(kv._1)))
  }

  def renameVar(f: Fragment, from: String, to: String): Fragment =
    f.copy(dataVars = (f.dataVars - from).updated(to, f.dataVars(from)))

  def dropVars(f: Fragment, names: Set[String]): Fragment =
    f.copy(dataVars = f.dataVars.filterNot { case (n, _) => names.contains(n) })

  /** Promote a data variable to a coordinate (set_coords analog). */
  def setCoord(f: Fragment, name: String): Fragment =
    f.copy(coords = f.coords.updated(name, f.dataVars(name)),
      dataVars = f.dataVars - name)

  def withAttrs(f: Fragment, attrs: Attrs): Fragment =
    f.copy(attrs = f.attrs ++ attrs)

  /** Rename a dimension everywhere it appears — dim sizes, the same-named
    * coordinate variable, and every variable's dims vector (xarray's
    * ds.rename({"day": "time"}) on a dim coord, the terraclimate
    * preprocessor's day→time fix, examples/feedstock/terraclimate.py:207). */
  def renameDim(f: Fragment, from: String, to: String): Fragment = {
    def rn(d: String): String = if (d == from) to else d
    def rv(v: Variable): Variable = v.copy(dims = v.dims.map(rn))
    Fragment(
      dims = f.dims.map { case (d, n) => rn(d) -> n },
      coords = f.coords.map { case (n, v) => rn(n) -> rv(v) },
      dataVars = f.dataVars.map { case (n, v) => n -> rv(v) },
      attrs = f.attrs)
  }
}

/** Deploy-time config injection (injections.py:1-16 + the
  * RequiredAtRuntimeDefault sentinel, transforms.py:80-90): recipe objects
  * are built with unresolved targets; the session builder resolves them
  * from runtime configuration before execution, failing loudly when a
  * required value was never injected. */
object RuntimeConfig {
  sealed trait Setting[+A] {
    def resolve: A = this match {
      case Provided(a) => a
      case RequiredAtRuntime => throw new IllegalStateException(
        "Value required at runtime was never injected " +
          "(set it in the runtime config before executing the recipe).")
    }
    def isProvided: Boolean = this.isInstanceOf[Provided[_]]
  }
  final case class Provided[A](value: A) extends Setting[A]
  case object RequiredAtRuntime extends Setting[Nothing]

  final case class Config(targetRoot: Setting[String] = RequiredAtRuntime,
                          inputCacheRoot: Setting[String] = RequiredAtRuntime) {
    def inject(targetRoot: Option[String] = None,
               inputCacheRoot: Option[String] = None): Config =
      Config(
        targetRoot = targetRoot.map(Provided(_)).getOrElse(this.targetRoot),
        inputCacheRoot = inputCacheRoot.map(Provided(_)).getOrElse(this.inputCacheRoot))
  }
}
