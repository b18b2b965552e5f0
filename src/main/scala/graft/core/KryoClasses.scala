package graft.core

/** Kryo registration list for the cube pipeline's shuffle payloads.
  *
  * The engine moves fragments through `Encoders.kryo` binary columns and
  * the rechunk's Kryo RDD shuffle (`Pipelines.rechunk`); with
  * the classes registered, Kryo writes small class ids instead of fully
  * qualified class names per record. An array's record is what
  * [[NDArray]] writes: a file-backed array that has not loaded writes its
  * byte-range reference (NetCDF3 sources cross the rechunk shuffle as a
  * few dozen bytes per piece), every other array its data, so the
  * shuffle's payload is fragment bytes only for sources read eagerly or
  * transformed on open. `FileRows` is written field by field inside the
  * array's record and needs no registration. Wire into any session that
  * runs cube pipelines:
  *
  *   .config("spark.kryo.classesToRegister", KryoClasses.names)
  */
object KryoClasses {
  val classes: Seq[Class[_]] = Seq(
    classOf[Index], classOf[Dimension], classOf[Pos],
    classOf[Fragment], classOf[Variable], classOf[NDArray],
    classOf[CubeSchema], classOf[VarSpec], classOf[Slc],
    CombineOp.getClass,
    classOf[graft.kerchunk.RefSet], classOf[graft.kerchunk.Ref],
    classOf[Array[Int]], classOf[Array[Long]],
    classOf[Array[Float]], classOf[Array[Double]],
    classOf[Array[Byte]], classOf[Array[Short]],
    classOf[Vector[_]], classOf[Map[_, _]])

  def names: String = classes.map(_.getName).mkString(",")
}
