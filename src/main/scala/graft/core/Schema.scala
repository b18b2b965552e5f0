package graft.core

import Attrs.Attrs

/** Metadata-only description of one variable (aggregation.py's per-var dict). */
final case class VarSpec(dims: Vector[String], shape: Vector[Int], dtype: DType,
                         attrs: Attrs = Attrs.empty, encoding: Attrs = Attrs.empty)

/** The run-time inferred, mergeable cube schema (XarraySchema,
  * aggregation.py:12-17). `chunks` carries the per-file chunk layout of the
  * concat axes: dim -> (position -> chunk_len). */
final case class CubeSchema(attrs: Attrs,
                            coords: Map[String, VarSpec],
                            dataVars: Map[String, VarSpec],
                            dims: Map[String, Int],
                            chunks: Map[String, Map[Int, Int]]) {
  def allVars: Map[String, VarSpec] = coords ++ dataVars
}

object CubeSchema {

  /** Metadata-only schema of a fragment (dataset_to_schema,
    * aggregation.py:20-37). It reads dims, shapes, dtypes and attrs and
    * never an array's data, so a fragment of deferred or file-backed
    * arrays is not loaded: the schema pass over `scanZarrStore` slabs and
    * NetCDF3 files (CF-packed or not) reads metadata and headers only. An
    * opener that decodes eagerly (HDF5, GRIB) has read its data before
    * this runs. */
  def fromFragment(f: Fragment): CubeSchema = {
    def spec(v: Variable): VarSpec =
      VarSpec(v.dims, v.shape, v.dtype, v.attrs,
        v.encoding.removed("source")) // drop redundant encoding (aggregation.py:26-29)
    CubeSchema(
      attrs = f.attrs,
      coords = f.coords.map { case (n, v) => n -> spec(v) },
      dataVars = f.dataVars.map { case (n, v) => n -> spec(v) },
      dims = f.dims,
      chunks = Map.empty)
  }

  /** The commutative/associative combine kernel (aggregation.py:40-180). */
  def combine(s1: CubeSchema, s2: CubeSchema, concatDim: Option[String]): CubeSchema =
    CubeSchema(
      attrs = Attrs.combine(s1.attrs, s2.attrs),
      coords = combineVars(s1.coords, s2.coords, concatDim, allowBoth = true),
      dataVars = combineVars(s1.dataVars, s2.dataVars, concatDim, allowBoth = false),
      dims = combineDims(s1.dims, s2.dims, concatDim),
      chunks = combineChunks(s1.chunks, s2.chunks, concatDim))

  /** aggregation.py:68-85 */
  def combineDims(d1: Map[String, Int], d2: Map[String, Int],
                  concatDim: Option[String]): Map[String, Int] =
    if (d1.isEmpty) d2
    else (d1.keySet ++ d2.keySet).iterator.map { dim =>
      val l1 = d1.getOrElse(dim, 0)
      val l2 = d2.getOrElse(dim, 0)
      val len =
        if (concatDim.contains(dim)) l1 + l2
        else if (l1 != l2) throw new IllegalArgumentException(
          s"Dimensions for $dim have different sizes: $l1, $l2")
        else l1
      dim -> len
    }.toMap

  /** aggregation.py:94-112 */
  def combineChunks(c1: Map[String, Map[Int, Int]], c2: Map[String, Map[Int, Int]],
                    concatDim: Option[String]): Map[String, Map[Int, Int]] = {
    if (c1.isEmpty) return c2
    if (c1.keySet != c2.keySet)
      throw new IllegalArgumentException("Expect the same dims in both chunk sets")
    c1.keys.map { dim =>
      val v =
        if (concatDim.contains(dim)) {
          if (c1(dim).keySet.intersect(c2(dim).keySet).nonEmpty)
            throw new IllegalArgumentException("Found overlapping keys in concat_dim")
          c1(dim) ++ c2(dim)
        } else {
          if (c1(dim) != c2(dim))
            throw new IllegalArgumentException("Non concat_dim chunks must be the same")
          c1(dim)
        }
      dim -> v
    }.toMap
  }

  /** aggregation.py:139-180: union for merge; shape-summed for concat;
    * dims must match; dtype promoted; attrs/encoding intersected. */
  def combineVars(v1: Map[String, VarSpec], v2: Map[String, VarSpec],
                  concatDim: Option[String], allowBoth: Boolean): Map[String, VarSpec] =
    if (v1.isEmpty) v2
    else (v1.keySet ++ v2.keySet).iterator.map { vname =>
      val spec = (v1.get(vname), v2.get(vname)) match {
        case (Some(a), None) => a
        case (None, Some(b)) => b
        case (Some(a), Some(b)) =>
          if (concatDim.isEmpty && !allowBoth)
            throw new IllegalArgumentException(
              s"Can't merge datasets with the same variable $vname")
          if (a.dims != b.dims)
            throw new IllegalArgumentException(
              s"Can't merge variables with different dims ${a.dims}, ${b.dims}")
          val shape = a.dims.indices.map { i =>
            val (l1, l2) = (a.shape(i), b.shape(i))
            if (concatDim.contains(a.dims(i))) l1 + l2
            else if (l1 != l2) throw new IllegalArgumentException(
              s"Can't merge variables with different shapes ${a.shape}, ${b.shape}")
            else l1
          }.toVector
          VarSpec(a.dims, shape, DType.promote(a.dtype, b.dtype),
            Attrs.combine(a.attrs, b.attrs), Attrs.combine(a.encoding, b.encoding))
        case (None, None) => throw new IllegalStateException("unreachable")
      }
      vname -> spec
    }.toMap

  /** aggregation.py:207-224 */
  def determineTargetChunks(schema: CubeSchema,
                            specified: Map[String, Int] = Map.empty,
                            includeAllDims: Boolean = true): Map[String, Int] = {
    var target: Map[String, Int] = schema.chunks.map { case (dim, posMap) =>
      dim -> posMap(0) // chunk length at position 0 (aggregation.py:213)
    }
    schema.dims.foreach { case (dim, dimsize) =>
      if (!target.contains(dim)) target += dim -> dimsize }
    target ++= specified
    if (!includeAllDims)
      target = target.filter { case (dim, cs) => cs != schema.dims(dim) }
    target
  }

  /** Template fragment for `dynamicChunkingFn`: the schema as zeros with
    * the target chunking in encoding (schema_to_template_ds,
    * aggregation.py:227-251). Arrays are [[NDArray.deferred]], like the
    * reference's lazy dask zeros: nothing is allocated unless read.
    */
  def toTemplate(schema: CubeSchema): Fragment = {
    val targetChunks = determineTargetChunks(schema)
    def toVar(spec: VarSpec): Variable = {
      val chunks = spec.dims.map(targetChunks(_))
      val zeros = NDArray.deferred(spec.dtype, spec.shape)(
        NDArray.alloc(spec.dtype, NDArray.sizeOf(spec.shape)))
      Variable(spec.dims, zeros, spec.attrs,
        spec.encoding.updated("chunks",
          AttrValue.AList(chunks.map(c => AttrValue.AInt(c.toLong)))))
    }
    Fragment(
      dims = schema.dims,
      coords = schema.coords.map { case (n, s) => n -> toVar(s) },
      dataVars = schema.dataVars.map { case (n, s) => n -> toVar(s) },
      attrs = schema.attrs)
  }
}
