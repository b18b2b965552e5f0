package graft.rechunking

import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import graft.core.GoldenCube

/** Shuffle-core round-trips — port of tests/test_rechunking.py:26-272 /
  * FIXTURES.md §5: split/combine across chunk sizes × offsets × multidim ×
  * shuffled input order, plus error paths. */
class RechunkingSpec extends AnyFunSuite {

  private val timeDim = Dimension("time", CombineOp.Concat)

  /** Split the golden cube by time into indexed fragments, then run the
    * whole split→group→combine pipeline in-memory and compare. */
  private def roundTrip(nt: Int, daysPerFile: Int,
                        targetChunks: Map[String, Int],
                        shuffle: Boolean = false): Unit = {
    val full = GoldenCube.makeDs(nt)
    val pieces = GoldenCube.splitByTime(full, daysPerFile)
    var fragments: Vector[(Index, Fragment)] = pieces.zipWithIndex.map {
      case (f, i) =>
        (Index.of(timeDim -> Pos.indexed(i * daysPerFile, nt)), f)
    }
    if (shuffle) fragments = new scala.util.Random(7).shuffle(fragments)

    val grouped = fragments
      .flatMap { case (i, f) => Rechunking.splitFragment(i, f, Some(targetChunks)) }
      .groupBy(_._1)
    val combined = grouped.values.map(g => Rechunking.combineFragments(g.map(_._2)))

    // verify each combined fragment matches the corresponding region slice
    // of the full cube, and that regions tile the cube exactly
    combined.foreach { case (idx, frag) =>
      val t0 = idx(timeDim).value
      val span = frag.dims("time")
      // locate lat/lon offsets via concat dims if rechunked
      val latDim = Dimension("lat", CombineOp.Concat)
      val lonDim = Dimension("lon", CombineOp.Concat)
      val lat0 = idx.get(latDim).map(_.value).getOrElse(0)
      val lon0 = idx.get(lonDim).map(_.value).getOrElse(0)
      val expected = GoldenCube.makeDs(nt).isel(Map(
        "time" -> Slc(t0, t0 + span),
        "lat" -> Slc(lat0, lat0 + frag.dims("lat")),
        "lon" -> Slc(lon0, lon0 + frag.dims("lon"))))
      assert(frag.sameAs(expected), s"mismatch at $idx")
    }
    // tiling check: one combined fragment per target chunk group
    val expectedChunkCount = {
      val tGrid = ChunkGrid.fromUniformGrid(
        targetChunks.map { case (d, c) => d -> (c, full.dims(d)) })
      tGrid.nchunks.values.product
    }
    assert(combined.size == expectedChunkCount,
      s"expected $expectedChunkCount combined chunks, got ${combined.size}")
  }

  test("1 day/file -> chunks of 1,2,3,5,10,11") {
    Seq(1, 2, 3, 5, 10, 11).foreach { tc =>
      roundTrip(10, 1, Map("time" -> math.min(tc, 10)))
    }
  }

  test("2 days/file -> chunks of 1,2,3,5") {
    Seq(1, 2, 3, 5).foreach(tc => roundTrip(10, 2, Map("time" -> tc)))
  }

  test("multidim rechunk incl lat/lon") {
    roundTrip(10, 2, Map("time" -> 3, "lat" -> 5))
    roundTrip(10, 1, Map("time" -> 5, "lat" -> 5, "lon" -> 5))
    roundTrip(10, 5, Map("time" -> 2, "lat" -> 8))
    roundTrip(10, 5, Map("time" -> 2, "lat" -> 17))
    roundTrip(10, 5, Map("time" -> 2, "lat" -> 18))
  }

  test("shuffled input order") {
    roundTrip(10, 1, Map("time" -> 3), shuffle = true)
    roundTrip(10, 2, Map("time" -> 5, "lat" -> 9), shuffle = true)
  }

  test("split with offset fragments") {
    // fragment starting at offset 5 of a 20-long axis
    val full = GoldenCube.makeDs(10)
    val frag = full.isel(Map("time" -> Slc(0, 5)))
    val idx = Index.of(timeDim -> Pos.indexed(5, 20))
    val parts = Rechunking.splitFragment(idx, frag, Some(Map("time" -> 2))).toVector
    // offset 5..10 with chunk 2 -> chunks 2(5..6),3(6..8),4(8..10) -> 3 pieces
    assert(parts.length == 3)
    val starts = parts.map(_._2._1.apply(timeDim).value).sorted
    assert(starts == Vector(5, 6, 8))
    val sizes = parts.sortBy(_._2._1.apply(timeDim).value).map(_._2._2.dims("time"))
    assert(sizes == Vector(1, 2, 2))
  }

  test("merge dim positions enter the group key") {
    val full = GoldenCube.makeDs(4)
    val byVar = GoldenCube.splitByVariable(full)
    val varDim = Dimension("variable", CombineOp.Merge)
    val fragments = byVar.toVector.zipWithIndex.map { case ((_, f), i) =>
      (Index.of(timeDim -> Pos.indexed(0, 4), varDim -> Pos(i)), f)
    }
    val keys = fragments.flatMap { case (i, f) =>
      Rechunking.splitFragment(i, f, Some(Map("time" -> 2))).map(_._1) }
    // two time chunks × two merge positions = 4 distinct keys
    assert(keys.distinct.size == 4)
    assert(keys.forall(_.exists(_._1 == "variable")))
  }

  test("error: unindexed concat positions") {
    val full = GoldenCube.makeDs(4)
    val frags = Seq((Index.of(timeDim -> Pos(0)), full))
    intercept[IllegalArgumentException](Rechunking.combineFragments(frags))
  }

  test("error: non-contiguous fragments") {
    val full = GoldenCube.makeDs(10)
    val a = full.isel(Map("time" -> Slc(0, 2)))
    val b = full.isel(Map("time" -> Slc(5, 7)))
    val frags = Seq(
      (Index.of(timeDim -> Pos.indexed(0, 10)), a),
      (Index.of(timeDim -> Pos.indexed(5, 10)), b))
    intercept[IllegalArgumentException](Rechunking.combineFragments(frags))
  }

  test("error: irregular hypercube") {
    val full = GoldenCube.makeDs(10)
    val latDim = Dimension("lat", CombineOp.Concat)
    def sub(t0: Int, tn: Int, l0: Int, ln: Int) =
      full.isel(Map("time" -> Slc(t0, t0 + tn), "lat" -> Slc(l0, l0 + ln)))
    // three fragments cannot tile a 2x2 grid
    val frags = Seq(
      (Index.of(timeDim -> Pos.indexed(0, 10), latDim -> Pos.indexed(0, 18)), sub(0, 5, 0, 9)),
      (Index.of(timeDim -> Pos.indexed(0, 10), latDim -> Pos.indexed(9, 18)), sub(0, 5, 9, 9)),
      (Index.of(timeDim -> Pos.indexed(5, 10), latDim -> Pos.indexed(0, 18)), sub(5, 5, 0, 9)))
    intercept[IllegalArgumentException](Rechunking.combineFragments(frags))
  }

  test("error: split without target chunks or schema") {
    val full = GoldenCube.makeDs(4)
    intercept[IllegalArgumentException](
      Rechunking.splitFragment(Index.of(timeDim -> Pos.indexed(0, 4)), full).toVector)
  }

  // ---- everyChunkOwned: the metadata rule that lets storeToZarr skip the
  // rechunk shuffle, checked against what splitFragment actually groups ----

  /** Fragments laid out by per-position lengths along each concat dim,
    * `merge` positions along a merge dim, and whole `other` dims. */
  private final case class Layout(concat: Map[String, Seq[Int]],
                                  other: Map[String, Int] = Map("lat" -> 4),
                                  merge: Int = 0) {
    val schema: CubeSchema = CubeSchema(Attrs.empty, Map.empty, Map.empty,
      dims = concat.map { case (d, ls) => d -> ls.sum } ++ other,
      chunks = concat.map { case (d, ls) => d -> ls.indices.map(i => i -> ls(i)).toMap })
    def dims: Vector[Dimension] =
      concat.keys.toVector.sorted.map(Dimension(_, CombineOp.Concat)) ++
        (if (merge > 0) Vector(Dimension("variable", CombineOp.Merge)) else Vector.empty)

    /** Ground truth: split every fragment and see whether any group key
      * collects pieces of two fragments. */
    def shared(grain: Map[String, Int], appendOffset: Int): Boolean = {
      val names = concat.keys.toVector.sorted
      val cells = names.foldLeft(Vector(Map.empty[String, Int])) { (acc, d) =>
        acc.flatMap(c => concat(d).indices.map(i => c + (d -> i))) }
      val withMerge = cells.flatMap(c =>
        if (merge > 0) (0 until merge).map(m => (c, Some(m))) else Vector((c, None)))
      val keyOwners = withMerge.zipWithIndex.flatMap { case ((cell, m), id) =>
        val entries = names.map { d =>
          val ls = concat(d)
          Dimension(d, CombineOp.Concat) ->
            Pos.indexed(appendOffset + ls.take(cell(d)).sum, appendOffset + ls.sum)
        } ++ m.map(Dimension("variable", CombineOp.Merge) -> Pos(_))
        val sizes = names.map(d => d -> concat(d)(cell(d))).toMap ++ other
        val dimOrder = names ++ other.keys.toVector.sorted
        val frag = Fragment(sizes, Map.empty, Map("v" -> Variable(dimOrder,
          NDArray.zeros(DType.F8, dimOrder.map(sizes)))))
        Rechunking.splitFragment(Index(entries.toMap), frag, Some(grain), Some(schema))
          .map(kv => (kv._1, id))
      }
      keyOwners.groupBy(_._1).values.exists(_.map(_._2).distinct.size > 1)
    }

    def owned(grain: Map[String, Int], appendOffset: Int = 0): Boolean = {
      val rule = Rechunking.everyChunkOwned(schema, grain, dims, appendOffset)
      assert(rule == !shared(grain, appendOffset),
        s"rule says owned=$rule but splitFragment disagrees for $this grain $grain")
      rule
    }
  }

  test("ownership: slab 16 onto chunk 16 is owned") {
    assert(Layout(Map("time" -> Seq(16, 16, 16, 16))).owned(Map("time" -> 16)))
  }

  test("ownership: slab 12 onto chunk 8 and slab 3 onto chunk 8 are shared") {
    assert(!Layout(Map("time" -> Seq(12, 12, 12, 12))).owned(Map("time" -> 8)))
    assert(!Layout(Map("time" -> Seq.fill(8)(3))).owned(Map("time" -> 8)))
  }

  test("ownership: a remainder last chunk stays owned") {
    assert(Layout(Map("time" -> Seq(16, 16, 5))).owned(Map("time" -> 16)))
    // slabs that are multiples of the chunk are owned too
    assert(Layout(Map("time" -> Seq(16, 16, 7))).owned(Map("time" -> 8)))
  }

  test("ownership: a misaligned append offset shares chunks") {
    val l = Layout(Map("time" -> Seq(16, 16)))
    assert(l.owned(Map("time" -> 16), appendOffset = 32))
    assert(!l.owned(Map("time" -> 16), appendOffset = 5))
  }

  test("ownership: two concat dims must both be aligned") {
    assert(Layout(Map("time" -> Seq(4, 4), "lat" -> Seq(6, 6)), other = Map("lon" -> 3))
      .owned(Map("time" -> 4, "lat" -> 6)))
    assert(!Layout(Map("time" -> Seq(4, 4), "lat" -> Seq(6, 6)), other = Map("lon" -> 3))
      .owned(Map("time" -> 4, "lat" -> 4)))
  }

  test("ownership: a merge dim never shares a chunk") {
    val l = Layout(Map("time" -> Seq(4, 4, 4)), merge = 2)
    assert(l.owned(Map("time" -> 4)))
    assert(!l.owned(Map("time" -> 8)))
  }

  test("ownership: splitting a dim no fragment concatenates keeps chunks owned") {
    assert(Layout(Map("time" -> Seq(4, 4)), other = Map("lat" -> 10))
      .owned(Map("time" -> 4, "lat" -> 3)))
  }

  test("ownership: a shard grain coarser than the chunk shares chunks") {
    val l = Layout(Map("time" -> Seq(16, 16, 16, 16)))
    // the write grain is chunks ++ shards: a 32-step shard holds two slabs
    assert(!l.owned(Map("time" -> 16) ++ Map("time" -> 32)))
    assert(l.owned(Map("time" -> 8) ++ Map("time" -> 16)))
  }

  test("ownership: a concat dim whose target chunk is the whole dim is shared") {
    // determineTargetChunks(includeAllDims = false) drops such a dim from the
    // split grid, so every fragment along it lands in the same chunk
    assert(!Layout(Map("time" -> Seq(4, 4, 4))).owned(Map("time" -> 12)))
    assert(!Layout(Map("time" -> Seq(4, 4), "lat" -> Seq(3, 3)), other = Map.empty)
      .owned(Map("time" -> 4, "lat" -> 6)))
    // one fragment along the dim owns its single chunk
    assert(Layout(Map("time" -> Seq(12))).owned(Map("time" -> 12)))
    // an append whose boundary lands on a chunk multiple is still shared
    assert(!Layout(Map("time" -> Seq(22, 10))).owned(Map("time" -> 32), appendOffset = 10))
  }
}
