package graft.core

import Attrs.Attrs

/** A named array with dimension labels + attrs + encoding — the engine's
  * xr.Variable. */
final case class Variable(dims: Vector[String], data: NDArray,
                          attrs: Attrs = Attrs.empty,
                          encoding: Attrs = Attrs.empty) {
  require(dims.length == data.ndim,
    s"dims $dims do not match array rank ${data.ndim}")
  def sizes: Map[String, Int] = dims.zip(data.shape).toMap
  def shape: Vector[Int] = data.shape
  def dtype: DType = data.dtype

  def isel(indexer: Map[String, Slc]): Variable = {
    val slices = dims.zip(data.shape).map { case (d, n) =>
      indexer.getOrElse(d, Slc(0, n)) }
    // a selection of the whole variable is the variable: no copy
    if (slices == data.shape.map(Slc(0, _))) this
    else copy(data = data.slice(slices))
  }
}

/** The engine's xr.Dataset: dims + coords + data_vars + global attrs.
  * Payload unit flowing through every pipeline stage (SURVEY §1.3).
  */
final case class Fragment(dims: Map[String, Int],
                          coords: Map[String, Variable],
                          dataVars: Map[String, Variable],
                          attrs: Attrs = Attrs.empty) {
  def allVars: Map[String, Variable] = coords ++ dataVars
  def sizes: Map[String, Int] = dims

  /** Array bytes in this fragment's Kryo record (Σ [[NDArray.recordBytes]]),
    * used by the rechunk shuffle's serializer-ceiling guard. */
  def recordBytes: Long = allVars.valuesIterator.map(_.data.recordBytes).sum

  /** ds.isel with slice indexers: slice every variable touching the dims. */
  def isel(indexer: Map[String, Slc]): Fragment = Fragment(
    dims = dims.map { case (d, n) =>
      d -> indexer.get(d).map(_.length).getOrElse(n) },
    coords = coords.map { case (n, v) => n -> v.isel(indexer) },
    dataVars = dataVars.map { case (n, v) => n -> v.isel(indexer) },
    attrs = attrs)

  /** Exact equality on dims, attrs and every variable's data+attrs —
    * the golden round-trip assertion (xr.testing.assert_equal analog). */
  def sameAs(other: Fragment): Boolean =
    dims == other.dims &&
      coords.keySet == other.coords.keySet &&
      dataVars.keySet == other.dataVars.keySet &&
      allVars.forall { case (n, v) =>
        val o = other.allVars(n)
        v.dims == o.dims && v.data.sameElements(o.data)
      }
}

object Fragment {
  /** Concatenate fragments positioned on a k-dim grid of concat dims.
    *
    * Replaces xr.combine_nested (rechunking.py:230-240): `positions(i)` gives
    * fragment i's element offset per concat dim (already validated as a
    * regular hypercube by the caller); variables carrying a concat dim are
    * block-copied into a dense output at their offsets; variables carrying
    * none are taken from the first fragment (they are identical slices
    * across the group by construction of split_fragment).
    */
  def concatGrid(fragments: Vector[Fragment],
                 positions: Vector[Map[String, Int]],
                 concatSizes: Map[String, Int]): Fragment = {
    require(fragments.nonEmpty)
    val first = fragments.head
    val mins: Map[String, Int] = concatSizes.keys.map { d =>
      d -> positions.map(_(d)).min }.toMap

    def combinedVar(name: String, v0: Variable, pick: Fragment => Variable): Variable = {
      val concatDimsHere = v0.dims.filter(concatSizes.contains)
      if (concatDimsHere.isEmpty) v0
      else {
        val outShape = v0.dims.zip(v0.shape).map { case (d, n) =>
          concatSizes.getOrElse(d, n) }.toVector
        val out = NDArray.zeros(v0.dtype, outShape)
        fragments.zip(positions).foreach { case (f, pos) =>
          val v = pick(f)
          val starts = v.dims.map(d =>
            if (concatSizes.contains(d)) pos(d) - mins(d) else 0)
          out.assign(starts, v.data)
        }
        v0.copy(data = out)
      }
    }

    val outDims = first.dims.map { case (d, n) => d -> concatSizes.getOrElse(d, n) }
    Fragment(
      dims = outDims,
      coords = first.coords.map { case (n, v) =>
        n -> combinedVar(n, v, _.coords(n)) },
      dataVars = first.dataVars.map { case (n, v) =>
        n -> combinedVar(n, v, _.dataVars(n)) },
      attrs = first.attrs)
  }
}
