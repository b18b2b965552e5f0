package graft.rechunking

import graft.core._

/** The rechunk shuffle kernel (rechunking.py:23-242):
  * `splitFragment` slices each indexed fragment against the target chunk
  * grid and keys the pieces by target-chunk group; after the shuffle
  * (`Pipelines.rechunk`: a Kryo RDD shuffle hashed by group key, each
  * reduce partition sorted by key), `combineFragments` reassembles each
  * group into one contiguous fragment. It reads each piece through
  * `NDArray.assign`, so a file-backed piece stays a reference.
  *
  * GroupKey is a sorted tuple of ("dim", chunkIndex) pairs plus the merge-dim
  * positions, so groups are homogeneous in all merge dimensions.
  */
object Rechunking {

  type GroupKey = Vector[(String, Int)]

  def groupKeyString(k: GroupKey): String =
    k.map { case (d, i) => s"$d=$i" }.mkString("|")

  /** Whether every target chunk of the write `grain` gets pieces from
    * exactly one fragment, decided from metadata alone: the per-position
    * lengths of each concat combine dim (`schema.chunks`), the grain and the
    * append offset. When it holds, the shuffle after `splitFragment`
    * would regroup nothing, so each piece can be written by the task that
    * split it.
    *
    * Along a concat dim, two neighbouring fragments share a chunk unless
    * the boundary between them lies on a chunk boundary. The grid is the
    * one `splitFragment` builds: a concat dim whose target chunk spans the
    * whole dim is left out of it, so all of that dim's fragments land in
    * one chunk. Merge dims never share (they are part of the group key) and
    * other dims are whole in every fragment. A zero-length or missing
    * position is reported as shared, which keeps the shuffle path. */
  def everyChunkOwned(schema: CubeSchema, grain: Map[String, Int],
                      combineDims: Seq[Dimension], appendOffset: Int = 0): Boolean = {
    val grid = CubeSchema.determineTargetChunks(schema, grain, includeAllDims = false)
    combineDims.filter(_.operation == CombineOp.Concat).forall { d =>
      schema.chunks.get(d.name).exists { byPos =>
        val lens = (0 until byPos.size).map(byPos.getOrElse(_, 0))
        lens.nonEmpty && lens.forall(_ > 0) && (grid.get(d.name) match {
          case None => lens.size == 1
          case Some(c) =>
            val boundaries = lens.init.scanLeft(appendOffset)(_ + _).tail
            boundaries.forall(_ % c == 0)
        })
      }
    }
  }

  /** rechunking.py:23-129 */
  def splitFragment(index: Index, ds: Fragment,
                    targetChunksSpec: Option[Map[String, Int]] = None,
                    schema: Option[CubeSchema] = None)
      : Iterator[(GroupKey, (Index, Fragment))] = {

    if (targetChunksSpec.isEmpty && schema.isEmpty)
      throw new IllegalArgumentException(
        "Must specify either target_chunks or schema (or both).")
    val targetChunks: Map[String, Int] = schema match {
      case Some(s) => CubeSchema.determineTargetChunks(
        s, targetChunksSpec.getOrElse(Map.empty), includeAllDims = false)
      case None => targetChunksSpec.get
    }

    var targetChunksAndDims = Map.empty[String, (Int, Int)]
    var fragmentSlices = Map.empty[String, Slc]
    var rechunkedConcatDims = List.empty[Dimension]

    targetChunks.foreach { case (dimName, chunk) =>
      val concatDim = Dimension(dimName, CombineOp.Concat)
      val (dimsize, dimSlice) =
        if (index.contains(concatDim)) {
          val pos = index(concatDim)
          val start = pos.value
          val stop = start + ds.sizes(dimName)
          rechunkedConcatDims ::= concatDim
          (pos.dimsize, Slc(start, stop))
        } else {
          // entire span of the dimension is present in this fragment
          val n = ds.sizes(dimName)
          (n, Slc(0, n))
        }
      targetChunksAndDims += dimName -> (chunk, dimsize)
      fragmentSlices += dimName -> dimSlice
    }

    if (targetChunksAndDims.values.exists(_._2 == 0))
      throw new IllegalArgumentException(
        "A dimsize of 0 means that this fragment has not been properly indexed.")

    val commonIndex = Index(index.entries.filterNot { case (d, _) =>
      rechunkedConcatDims.contains(d) })

    val chunkGrid = ChunkGrid.fromUniformGrid(targetChunksAndDims)
    val targetChunkSlices = chunkGrid.arraySliceToChunkSlice(fragmentSlices)

    val mergeDimPositions: Vector[(String, Int)] = commonIndex.entries.collect {
      case (d, p) if d.operation == CombineOp.Merge => (d.name, p.value)
    }.toVector.sorted

    // cartesian product over intersecting target chunk indexes per dim
    val dimsOrdered = targetChunkSlices.keys.toVector
    def product(ds0: List[String]): Iterator[List[(String, Int)]] = ds0 match {
      case Nil => Iterator(Nil)
      case d :: rest =>
        val cs = targetChunkSlices(d)
        (cs.start until cs.stop).iterator.flatMap(n =>
          product(rest).map((d -> n) :: _))
    }

    product(dimsOrdered.toList).map { targetChunkGroup =>
      val chunkArraySlices = chunkGrid.chunkIndexToArraySlice(targetChunkGroup.toMap)
      var subIndexer = Map.empty[String, Slc]
      var subIndex = commonIndex
      chunkArraySlices.foreach { case (dim, chunkSlice) =>
        val fragSlice = fragmentSlices(dim)
        val start = math.max(chunkSlice.start, fragSlice.start)
        val stop = math.min(chunkSlice.stop, fragSlice.stop)
        subIndexer += dim -> Slc(start - fragSlice.start, stop - fragSlice.start)
        subIndex = subIndex.updated(Dimension(dim, CombineOp.Concat),
          Pos.indexed(start, targetChunksAndDims(dim)._2))
      }
      val subFragment = ds.isel(subIndexer)
      val key: GroupKey = (targetChunkGroup.toVector.sorted ++ mergeDimPositions)
      (key, (subIndex, subFragment))
    }
  }

  /** rechunking.py:156-242: sort the group, validate it forms a regular
    * hypercube over the concat dims, and block-concat back into one
    * fragment keyed by the minimum index.
    */
  def combineFragments(fragments0: Seq[(Index, Fragment)]): (Index, Fragment) = {
    require(fragments0.nonEmpty, "empty fragment group")
    // sort by index key (rechunking.py:132-134)
    val fragments = fragments0.toVector.sortBy { case (index, _) =>
      index.sorted.map(_._2.value)
    }(Ordering.Implicits.seqOrdering[Vector, Int])

    val allIndexes = fragments.map(_._1)
    val allDsets = fragments.map(_._2)
    val firstIndex = allIndexes.head
    val dimensions = firstIndex.sorted.map(_._1)
    if (!allIndexes.forall(_.sorted.map(_._1) == dimensions))
      throw new IllegalArgumentException(
        s"Cannot combine fragments for elements with different combine dims: $allIndexes")
    val concatDims = dimensions.filter(_.operation == CombineOp.Concat)

    if (!concatDims.forall(d => allIndexes.forall(_.apply(d).indexed)))
      throw new IllegalArgumentException(
        "All concat dimension positions must be indexed in order to combine fragments.")

    // (dim name, starts per fragment, sizes per fragment)
    var dimsStartsSizes: Vector[(String, Vector[Int], Vector[Int])] =
      concatDims.map { d =>
        (d.name,
          allIndexes.map(_.apply(d).value),
          allDsets.map(_.sizes(d.name)))
      }

    // sort by speed of varying (rechunking.py:203-207): the successive diffs
    // of the starts, lexicographically
    dimsStartsSizes = dimsStartsSizes.sortBy { case (_, starts, _) =>
      starts.sliding(2).map { case Seq(a, b) => b - a; case _ => 0 }.toVector
    }(Ordering.Implicits.seqOrdering[Vector, Int])

    val shape: Vector[Int] = dimsStartsSizes.map(_._2.distinct.length)
    val totalSize = shape.product
    if (fragments.length != totalSize)
      throw new IllegalArgumentException(
        s"Cannot combine fragments. Expected a hypercube of shape $shape " +
          s"but got ${fragments.length} fragments.")

    // regular-hypercube validation, the _invert_meshgrid analog
    // (rechunking.py:137-152): along each axis k of the fragment grid, the
    // starts/sizes must depend ONLY on coordinate k.
    val strides = shape.scanRight(1)(_ * _).tail
    def axisProfile(vals: Vector[Int], axis: Int): Vector[Int] =
      (0 until shape(axis)).map(i => vals(i * strides(axis))).toVector
    def checkRegular(vals: Vector[Int], axis: Int): Vector[Int] = {
      val profile = axisProfile(vals, axis)
      // verify vals is exactly the meshgrid broadcast of profile along axis
      var flat = 0
      val counter = Array.fill(shape.length)(0)
      while (flat < totalSize) {
        if (vals(flat) != profile(counter(axis)))
          throw new IllegalArgumentException(
            "Cannot combine fragments because they do not form a regular hypercube.")
        flat += 1
        var k = shape.length - 1
        var carry = true
        while (carry && k >= 0) {
          counter(k) += 1
          if (counter(k) == shape(k)) { counter(k) = 0; k -= 1 } else carry = false
        }
      }
      profile
    }

    val startsPerAxis = dimsStartsSizes.zipWithIndex.map { case ((_, starts, _), k) =>
      checkRegular(starts, k) }
    val sizesPerAxis = dimsStartsSizes.zipWithIndex.map { case ((_, _, sizes), k) =>
      checkRegular(sizes, k) }

    // contiguity: sizes must equal the diffs of starts (rechunking.py:219-221)
    startsPerAxis.zip(sizesPerAxis).foreach { case (starts, sizes) =>
      starts.sliding(2).zipWithIndex.foreach {
        case (Seq(a, b), i) =>
          if (sizes(i) != b - a)
            throw new IllegalArgumentException(
              s"Dataset $sizes and index starts $starts are not consistent.")
        case _ =>
      }
    }

    val concatSizes: Map[String, Int] = dimsStartsSizes.map { case (name, _, sizes) =>
      // total span of the combined axis along this dim
      name -> sizesPerAxis(dimsStartsSizes.indexWhere(_._1 == name)).sum
    }.toMap

    val positions: Vector[Map[String, Int]] = allIndexes.map { idx =>
      dimsStartsSizes.map { case (name, _, _) =>
        name -> idx(Dimension(name, CombineOp.Concat)).value }.toMap
    }

    val combined = Fragment.concatGrid(allDsets, positions, concatSizes)
    (firstIndex, combined)
  }
}
